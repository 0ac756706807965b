package graft
package oracle

import graft.queries.CrawlQueries.{BulkPhrases, CrawlAgent, CrawlDomainAgentRules, CrawlDomainRules, CrawlUrlRules, UrlBloomBits, UrlBloomK}
import graft.operators._

/** Oracles of the web-crawl family: URL canonicalisation and rules, domain
  * statistics, the link graph and frontier, fetch queues, sketches and phrase
  * search, with the SQL mirrors of the planted crawl data they share. */
private[oracle] object CrawlOracles {

  /** The engine's [[graft.operators.TextOps.PublicSuffixRulesFull]] —
    * the full packaged publicsuffix.org snapshot the crawl gates run
    * under — as a DuckDB VALUES body, kind-encoded exactly like
    * [[graft.operators.TextOps.registrableDomainMap]] (0 exact,
    * 1 wildcard, 2 exception with the '!' stripped) — a deterministic
    * constant, not engine output, so it ships in the static oracle. */
  private[oracle] def pslValues: String =
    graft.operators.TextOps.PublicSuffixRulesFull.map { r =>
      val (key, kind) =
        if (r.startsWith("!")) (r.drop(1), 2)
        else if (r.startsWith("*.")) (r, 1)
        else (r, 0)
      s"('$key', $kind)"
    }.mkString(", ")

  /** The group-count positional-intersection oracle shared VERBATIM by
    * `q_phrase_multi_search` (postings-join engine path) and
    * `q_phrase_bulk_scan` (stateless per-row scan path): one SQL, two
    * engine implementations — the driver's hash gates are a three-way
    * agreement proof. */
  private[oracle] def phraseMultiOracleSql: String = {
    val vals = BulkPhrases.map { case (i, p) => s"($i, '$p')" }.mkString(", ")
    s"""WITH ph(phrase_id, ptext) AS (VALUES $vals),
       |pw AS (SELECT phrase_id, list_filter(string_split(ptext, ' '), x -> x <> '') AS toks FROM ph),
       |pt AS (SELECT phrase_id, CAST(len(toks) AS BIGINT) AS k,
       |              CAST(i - 1 AS BIGINT) AS off, toks[i] AS term
       |       FROM pw, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
       |dt AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS term
       |       FROM dw, unnest(range(1, len(toks) + 1)) AS u(i)),
       |cand AS (SELECT pt.phrase_id, pt.k, dt.doc_id, dt.pos - pt.off AS start, pt.off
       |         FROM pt JOIN dt USING (term)),
       |m AS (SELECT phrase_id, doc_id, start
       |      FROM cand GROUP BY phrase_id, k, doc_id, start
       |      HAVING count(DISTINCT off) = k)
       |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
       |       CAST(count(*) AS BIGINT) AS n_matches,
       |       CAST(min(start) AS BIGINT) AS first_pos
       |FROM m GROUP BY phrase_id, doc_id ORDER BY phrase_id, doc_id""".stripMargin
  }

  private[oracle] def urlRuleValues: String =
    CrawlUrlRules.map { case (p, a) => s"('$p', ${if (a) 1 else 0})" }
      .mkString(", ")

  private[oracle] def domainRuleValues: String =
    CrawlDomainRules.map { case (d, p, a) =>
      s"('$d', '$p', ${if (a) 1 else 0})" }.mkString(", ")

  private[oracle] def domainAgentRuleValues: String =
    CrawlDomainAgentRules.map { case (d, ag, p, a) =>
      s"('$d', '$ag', '$p', ${if (a) 1 else 0})" }.mkString(", ")

  /** The RFC 9309 agent-group election as a prefixable CTE pair: reads
    * the (domain, agent, rule, allow) VALUES, keeps groups matching
    * [[graft.queries.CrawlQueries.CrawlAgent]] (case-insensitive prefix or `*`), elects the most
    * specific per domain (token length, `*` = 0; ties merge), and ends
    * in `${p}rules(domain, rule, allow)` — the shape the agentless
    * election CTEs consume. ONE definition shared by the
    * `q_url_rules_agent_groups` oracle and [[frontierStackCtes]]. */
  private[oracle] def agentRuleCtes(p: String): String =
    s"""${p}adr(domain, agent, rule, allow) AS (VALUES $domainAgentRuleValues),
       |${p}am AS (
       |  SELECT domain, rule, allow,
       |         CASE WHEN agent = '*' THEN 0 ELSE len(agent) END AS alen
       |  FROM ${p}adr
       |  WHERE agent = '*'
       |     OR starts_with('${CrawlAgent.toLowerCase(java.util.Locale.ROOT)}',
       |                    lower(agent))),
       |${p}rules AS (
       |  SELECT m.domain, m.rule, m.allow
       |  FROM ${p}am m
       |  JOIN (SELECT domain, max(alen) AS best FROM ${p}am GROUP BY domain) b
       |    ON b.domain = m.domain AND m.alen = b.best)""".stripMargin

  /** SQL mirror of [[graft.queries.CrawlQueries.crawlPlantHost]] for an arbitrary key expression. */
  private[oracle] def crawlHostSql(k: String): String =
    s"""CASE WHEN ($k) % 19 = 3 THEN '[2001:db8::1]:8080'
       |         WHEN ($k) % 19 = 7 THEN '192.0.2.1'
       |         WHEN ($k) % 4 = 0 THEN 'WWW.h' || CAST(($k) % 5 AS VARCHAR) || '.com'
       |         WHEN ($k) % 4 = 1 THEN 'news.h' || CAST(($k) % 5 AS VARCHAR) || '.com'
       |         WHEN ($k) % 4 = 2 THEN 'h' || CAST(($k) % 5 AS VARCHAR) || '.blogspot.com'
       |         ELSE 'a.h' || CAST(($k) % 5 AS VARCHAR) || '.co.uk'
       |    END""".stripMargin

  /** SQL mirror of [[graft.queries.CrawlQueries.linkKindWord]]. */
  private[oracle] def linkKindSql(k: String): String =
    s"CASE WHEN ($k) % 3 = 0 THEN 'guide' WHEN ($k) % 3 = 1 THEN 'review' ELSE 'news' END"

  /** SQL mirror of [[graft.queries.CrawlQueries.linkPlantPage]] — char-for-char the same page. */
  private[oracle] def linkPageSql: String =
    s"""'<html><body><p>' || text || '</p><a href="https://' ||
       |      ${crawlHostSql("doc_id * 3 + 1")} ||
       |      '/p/' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) ||
       |      '?a=1&utm_l=9">visit h' || CAST((doc_id * 3 + 1) % 5 AS VARCHAR) || ' ' ||
       |      ${linkKindSql("doc_id * 3 + 1")} ||
       |      '</a> <a href="/q/' || CAST(doc_id % 10 AS VARCHAR) || '">more ' ||
       |      ${linkKindSql("doc_id")} || '</a>' ||
       |      CASE WHEN doc_id % 3 = 0 THEN
       |        ' <a href="//' || ${crawlHostSql("doc_id * 5 + 2")} ||
       |        '/p/' || CAST((doc_id * 5 + 2) % 20 AS VARCHAR) ||
       |        '">visit h' || CAST((doc_id * 5 + 2) % 5 AS VARCHAR) || ' ' ||
       |        ${linkKindSql("doc_id * 5 + 2")} || '</a>'
       |      ELSE '' END || '</body></html>'""".stripMargin

  /** The link-graph family's shared CTE stack, replaying
    * [[graft.queries.CrawlQueries.linkGraphStages]]'s `links` output: planted page → anchor tags →
    * (href, anchor) per element (non-greedy to the first `</a>`, inner
    * markup stripped to spaces — the engine's nested-anchor rule) →
    * [[graft.operators.TextOps.resolveLink]]'s resolution arms (any
    * `scheme:` absolute, protocol-relative, fragment-only, query-only,
    * root-relative, relative merge) → the canonicalization chain. The
    * canon chain is keyed by `doc_id · 1024 + link_no` because
    * [[urlCanonCtes]] carries one id column — the planted pages carry 2-3
    * anchors, but the wide multiplier keeps the key collision-free even
    * for pages with many extracted anchors. Ends in
    * `lout(doc_id, link_no, href, url, dst_host, anchor)`. */
  private[oracle] def linkCtes: String =
    s"""$crawlRawCte,
       |${urlCanonCtes("rd", "raw")},
       |pg AS (
       |  SELECT r.doc_id, $linkPageSql AS page, c.canonical_url AS base
       |  FROM raw r JOIN rdcanon c USING (doc_id)),
       |tg AS (SELECT doc_id, base,
       |         regexp_extract_all(page, '(?s)<a\\b[^>]*?\\shref="[^"]*"[^>]*>.*?</a>') AS ls
       |       FROM pg),
       |lk AS (
       |  SELECT doc_id, base, CAST(i - 1 AS BIGINT) AS link_no,
       |         regexp_extract(ls[i], '<a\\b[^>]*?\\shref="([^"]*)"', 1) AS href,
       |         trim(regexp_replace(regexp_replace(
       |           regexp_extract(ls[i], '(?s)>(.*)</a>$$', 1),
       |           '<[^>]*>', ' ', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g')) AS anchor
       |  FROM tg, unnest(range(1, len(ls) + 1)) AS u(i)),
       |rs AS (
       |  SELECT doc_id, link_no, href, anchor,
       |    CASE WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:') THEN href
       |         WHEN starts_with(href, '//')
       |           THEN regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1) || ':' || href
       |         WHEN starts_with(href, '#') THEN base || href
       |         WHEN starts_with(href, '?')
       |           THEN regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) ||
       |                regexp_replace(regexp_replace(base,
       |                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''), '\\?.*', '') || href
       |         WHEN starts_with(href, '/')
       |           THEN regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) || href
       |         ELSE regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) ||
       |              regexp_replace(regexp_replace(regexp_replace(base,
       |                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''), '\\?.*', ''),
       |                '/[^/]*$$', '') || '/' || href
       |    END AS url0
       |  FROM lk),
       |ku AS (SELECT doc_id * 1024 + link_no AS doc_id, url0 AS url FROM rs),
       |${urlCanonCtes("lx", "ku")},
       |lout AS (
       |  SELECT r.doc_id, r.link_no, r.href, x.canonical_url AS url,
       |         regexp_extract(x.canonical_url,
       |           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) AS dst_host,
       |         r.anchor
       |  FROM rs r JOIN lxcanon x ON x.doc_id = r.doc_id * 1024 + r.link_no)""".stripMargin

  /** [[linkCtes]] extended with the PSL replay over BOTH endpoints' hosts
    * and the grouped registrable-domain edge list (self-domain and NULL
    * endpoints excluded, matching [[graft.queries.CrawlQueries.linkGraphStages]]'s `edges`). Ends in
    * `ledges(src_domain, dst_domain, w)`. `docFilter` (a predicate on
    * `doc_id`) restricts which documents CONTRIBUTE hosts and edges — the
    * standing/epoch splits of the maintenance gates. */
  private[oracle] def linkEdgeCtes(docFilter: String = "TRUE"): String =
    s"""$linkCtes,
       |ah AS (
       |  SELECT dst_host AS host FROM lout WHERE $docFilter
       |  UNION ALL
       |  SELECT regexp_extract(canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) AS host
       |  FROM rdcanon WHERE $docFilter),
       |${pslLookupCtes("a", "ah")},
       |ed AS (
       |  SELECT s.registrable_domain AS src_domain, t.registrable_domain AS dst_domain
       |  FROM lout l
       |  JOIN rdcanon c ON c.doc_id = l.doc_id
       |  JOIN areg s ON s.host = regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
       |  JOIN areg t ON t.host = l.dst_host
       |  WHERE s.registrable_domain IS NOT NULL AND t.registrable_domain IS NOT NULL
       |    AND s.registrable_domain <> t.registrable_domain AND l.doc_id IN
       |      (SELECT doc_id FROM rdcanon WHERE $docFilter)),
       |ledges AS (
       |  SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS w
       |  FROM ed GROUP BY 1, 2)""".stripMargin

  /** [[linkEdgeCtes]] + 4 unrolled directed-weighted q6 PageRank rounds —
    * ends in `r4(node, r)` alongside `nodes`/`nn`/`ow`/`iw`/`adj`. Shared
    * by the `q_link_pagerank` and `e2e_crawl_frontier` oracles. */
  private[oracle] def linkPageRankCtes(docFilter: String = "TRUE"): String = {
    val rounds = (1 to 4).map { i =>
      s"""|r$i AS (
          |  SELECT nodes.node, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
          |  FROM nodes LEFT JOIN (
          |    SELECT adj.dst_domain AS node,
          |           CAST(sum((85 * r${i - 1}.r * adj.w) // (100 * adj.outw)) AS BIGINT) AS c
          |    FROM adj JOIN r${i - 1} ON adj.src_domain = r${i - 1}.node GROUP BY 1) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""${linkEdgeCtes(docFilter)},
       |nodes AS (SELECT DISTINCT node FROM (
       |  SELECT src_domain AS node FROM ledges
       |  UNION ALL SELECT dst_domain FROM ledges)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |ow AS (SELECT src_domain AS node, CAST(sum(w) AS BIGINT) AS outw FROM ledges GROUP BY 1),
       |iw AS (SELECT dst_domain AS node, CAST(sum(w) AS BIGINT) AS inw FROM ledges GROUP BY 1),
       |adj AS (SELECT e.src_domain, e.dst_domain, e.w, o.outw
       |        FROM ledges e JOIN ow o ON o.node = e.src_domain),
       |r0 AS (SELECT node, 1000000 // nn.n AS r FROM nodes, nn),
       $rounds""".stripMargin
  }

  /** The `raw` CTE replaying [[graft.queries.CrawlQueries.crawlPlantUrl]] — ONE SQL definition shared
    * by [[crawlPslCtes]], [[linkCtes]], and the URL-rule oracle. */
  private[oracle] def crawlRawCte: String =
    s"""raw AS (
       |  SELECT doc_id, text,
       |    'https://' ||
       |    ${crawlHostSql("doc_id")} || '/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1' AS url
       |  FROM documents)""".stripMargin

  /** SQL mirror of [[graft.queries.CrawlQueries.recrawlFetchLog]]'s fingerprint regimes for a
    * canon-CTE alias `c` carrying (doc_id, canonical_url) — ONE
    * definition under `q_recrawl_schedule` and `e2e_fetch_queue`. */
  private[oracle] def recrawlFpSql(c: String): String =
    s"""md5(CASE WHEN ($c.doc_id % 20) % 3 = 0
       |            THEN $c.canonical_url || '#' || CAST($c.doc_id AS VARCHAR)
       |          WHEN ($c.doc_id % 20) % 3 = 1 THEN $c.canonical_url
       |          ELSE $c.canonical_url || '#' || CAST($c.doc_id // 760 AS VARCHAR)
       |     END)""".stripMargin

  /** The frontier DECISION stack (through `ust`) shared by the
    * `e2e_url_frontier` and `e2e_fetch_queue` oracles — the SQL mirror
    * of [[graft.queries.CrawlQueries.urlFrontierDecisionStages]]: link plant → PageRank over the
    * standing graph → epoch per-url novelty election → endorsement /
    * per-domain robots / budget decisions. */
  private[oracle] def frontierStackCtes: String =
    s"""${linkPageRankCtes("doc_id % 5 <> 0")},
       |ep AS (SELECT * FROM lout WHERE doc_id % 5 = 0),
       |eu AS (
       |  SELECT url, CAST(min(doc_id * 1024 + link_no) AS BIGINT) AS dk,
       |         CAST(count(*) AS BIGINT) AS n_discoveries
       |  FROM ep GROUP BY url),
       |pu AS (
       |  SELECT eu.url, CAST(eu.dk // 1024 AS BIGINT) AS src_doc,
       |         CAST(eu.dk % 1024 AS BIGINT) AS src_link,
       |         a.registrable_domain,
       |         CAST(coalesce(r4.r, 0) AS BIGINT) AS target_rank_q6,
       |         r4.r IS NOT NULL AS known_domain, eu.n_discoveries
       |  FROM eu
       |  LEFT JOIN areg a ON a.host =
       |    regexp_extract(eu.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
       |  LEFT JOIN r4 ON r4.node = a.registrable_domain),
       |upath AS (
       |  SELECT url, CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
       |  FROM (SELECT url, regexp_replace(regexp_extract(url,
       |          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$$', 1), '\\?.*$$', '') AS p0
       |        FROM eu)),
       |${agentRuleCtes("u")},
       |um AS (
       |  SELECT upath.url, ru.allow,
       |         row_number() OVER (PARTITION BY upath.url
       |           ORDER BY len(ru.rule) DESC, ru.allow DESC, ru.rule DESC) AS rn
       |  FROM upath JOIN pu USING (url)
       |  JOIN urules ru ON pu.registrable_domain = ru.domain
       |    AND starts_with(upath.path, ru.rule)),
       |ub AS (
       |  SELECT a.registrable_domain, CAST(count(*) AS BIGINT) AS n_pages
       |  FROM rdcanon c JOIN areg a
       |    ON a.host = regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
       |  WHERE c.doc_id % 5 <> 0 AND a.registrable_domain IS NOT NULL GROUP BY 1),
       |ust AS (
       |  SELECT pu.*, coalesce(um.allow = 1, TRUE) AS allowed,
       |         coalesce(ub.n_pages >= 30, FALSE) AS over_budget
       |  FROM pu
       |  LEFT JOIN (SELECT url, allow FROM um WHERE rn = 1) um USING (url)
       |  LEFT JOIN ub ON ub.registrable_domain = pu.registrable_domain)""".stripMargin

  private[oracle] def crawlPslCtes: String =
    s"""$crawlRawCte,
       |${urlCanonCtes("rd", "raw")},
       |pages AS (
       |  SELECT c.doc_id,
       |         regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) AS host,
       |         len(list_filter(string_split(r.text, ' '), x -> x <> '')) AS n_toks
       |  FROM rdcanon c JOIN raw r USING (doc_id)),
       |${pslLookupCtes("", "pages")}""".stripMargin

  /** The publicsuffix.org longest-matching-rule replay over [[pslValues]]
    * as a prefixable CTE stack: reads DISTINCT `host` from `$hostsCte`,
    * ends in `${p}reg(host, registrable_domain)`. Shared by
    * [[crawlPslCtes]] (prefix "") and the link-graph oracles, so a rule
    * or algorithm change hits every consumer or none. NOTE: the stack
    * includes `${p}psl` — at most one prefix may appear per statement
    * unless the names differ. */
  private[oracle] def pslLookupCtes(p: String, hostsCte: String): String =
    s"""${p}psl(rule, kind) AS (VALUES $pslValues),
       |${p}hl AS (
       |  SELECT host, string_split(regexp_replace(host, ':[0-9]+$$', ''), '.') AS ls
       |  FROM (SELECT DISTINCT host FROM $hostsCte)),
       |${p}cand AS (
       |  SELECT host, len(ls) AS nl, CAST(i AS INTEGER) AS i,
       |         array_to_string(ls[len(ls) - i + 1:], '.') AS exact_c,
       |         CASE WHEN i >= 2 THEN '*.' || array_to_string(ls[len(ls) - i + 2:], '.') END AS wild_c
       |  FROM ${p}hl, unnest(range(1, least(len(ls), ${graft.operators.TextOps.pslCandidateDepth(graft.operators.TextOps.PublicSuffixRulesFull)}) + 1)) AS u(i)),
       |${p}mt AS (
       |  SELECT c.host, c.i, r.kind,
       |         CASE WHEN r.kind = 2 THEN 1 ELSE 0 END AS exc,
       |         CASE WHEN r.kind = 2 THEN c.i - 1 ELSE c.i END AS ps
       |  FROM ${p}cand c JOIN ${p}psl r
       |    ON (r.kind <> 1 AND r.rule = c.exact_c) OR (r.kind = 1 AND r.rule = c.wild_c)),
       |${p}bq AS (
       |  SELECT host, ps,
       |         row_number() OVER (PARTITION BY host ORDER BY exc DESC, i DESC, kind ASC) AS rn
       |  FROM ${p}mt),
       |${p}reg AS (
       |  SELECT h.host,
       |    CASE WHEN h.host LIKE '[%' THEN NULL
       |         WHEN regexp_matches(array_to_string(h.ls, '.'), '^[0-9.]+$$') THEN NULL
       |         WHEN len(h.ls) > coalesce(b.ps, 1)
       |           THEN array_to_string(h.ls[len(h.ls) - coalesce(b.ps, 1):], '.')
       |         ELSE NULL END AS registrable_domain
       |  FROM ${p}hl h LEFT JOIN (SELECT host, ps FROM ${p}bq WHERE rn = 1) b USING (host))""".stripMargin

  /** DuckDB replay of [[graft.operators.TextOps.canonicalizeUrl]], verbatim
    * rule for rule (implicit http:// for scheme-less input → fragment drop →
    * scheme/host lowercase → www/default-port strip → trailing-slash strip →
    * tracking-param drop + param sort). `srcCte` must expose (doc_id, url);
    * the chain ends in `${p}canon(doc_id, canonical_url)`. All patterns are
    * RE2-safe by construction on the Spark side, so both engines run the
    * same regexes. */
  private[oracle] def urlCanonCtes(p: String, srcCte: String): String =
    s"""${p}u0 AS (SELECT doc_id,
       |  CASE WHEN regexp_matches(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
       |       THEN url ELSE 'http://' || url END AS u FROM $srcCte),
       |${p}u1 AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS nf FROM ${p}u0),
       |${p}u2 AS (SELECT doc_id,
       |  regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) AS rawhost,
       |  regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '') AS rest FROM ${p}u1),
       |${p}u3 AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(
       |    regexp_replace(lower(rawhost), '^(https?://)www\\.', '\\1'),
       |    '^(http://.*):80$$', '\\1'), '^(https://.*):443$$', '\\1') AS host,
       |  regexp_replace(regexp_replace(rest, '\\?.*', ''), '/+$$', '') AS path,
       |  regexp_extract(rest, '\\?(.*)', 1) AS qs FROM ${p}u2),
       |${p}canon AS (SELECT doc_id,
       |    host || path || CASE WHEN ps IS NOT NULL AND ps <> '' THEN '?' || ps ELSE '' END AS canonical_url
       |  FROM (SELECT doc_id, host, path,
       |          array_to_string(list_sort(list_filter(string_split(qs, '&'), x -> x <> ''
       |            AND substr(x,1,4) <> 'utm_' AND substr(x,1,6) <> 'gclid='
       |            AND substr(x,1,7) <> 'fbclid=' AND substr(x,1,4) <> 'ref=')), '&') AS ps
       |        FROM ${p}u3))""".stripMargin

  def sql: Map[String, String] = Map(
    // identical planted chrome and the identical RE2-safe replace chain
    // in the identical order: script/style elements, tags, entities
    // (&amp; last, single-pass), whitespace collapse; DuckDB needs the
    // explicit 'g' flag to match Spark's replace-all default, and the
    // '(?s)' inline flag is RE2-native
    "x17_html_extract" ->
      """SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      CASE WHEN doc_id % 7 = 0
        |           THEN '<html><head><title>T</title><style type="text/css">p { color: red; }</style></head><body><p class="main">'
        |                || text ||
        |                '</p><script>var x = 1 < 2 && 2 > 1;</script><br/>&lt;tag&gt; &amp;amp; &quot;q&#39; x&nbsp;end</body></html>'
        |           ELSE text END,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |  '[ \t\n\r\f]+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the same planted spelling variants, the canonicalization chain
    // replayed rule for rule (urlCanonCtes == TextOps.canonicalizeUrl)
    "q_url_canonical" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 6 AS INTEGER)
         |      WHEN 0 THEN 'https://EXAMPLE.com/docs/' || CAST(doc_id % 40 AS VARCHAR) || '?b=2&a=1'
         |      WHEN 1 THEN 'https://www.example.com:443/docs/' || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2#frag'
         |      WHEN 2 THEN 'HTTPS://example.com/docs/' || CAST(doc_id % 40 AS VARCHAR) || '/?a=1&utm_source=feed&b=2'
         |      WHEN 3 THEN 'https://example.com/docs/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_campaign=x&fbclid=zz&a=1&b=2'
         |      WHEN 4 THEN 'https://example.com/docs/' || CAST(doc_id % 40 AS VARCHAR) || '?b=2&ref=home&a=1'
         |      ELSE 'example.com/docs/' || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2'
         |    END AS url
         |  FROM documents),
         |${urlCanonCtes("", "raw")}
         |SELECT c.canonical_url, CAST(count(*) AS BIGINT) AS n_pages,
         |       CAST(count(DISTINCT r.url) AS BIGINT) AS n_spellings,
         |       CAST(min(r.doc_id) AS BIGINT) AS first_doc
         |FROM canon c JOIN raw r USING (doc_id)
         |GROUP BY c.canonical_url ORDER BY c.canonical_url""".stripMargin,

    // same planted multi-host spellings, same canonicalization chain,
    // host = the same authority regex, token counts over raw text
    "q_domain_stats" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    CASE CAST(doc_id % 4 AS INTEGER)
         |      WHEN 0 THEN 'https://WWW.h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1'
         |      WHEN 1 THEN 'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.com:443/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1&utm_x=1'
         |      WHEN 2 THEN 'h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1'
         |      ELSE 'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '/?a=1'
         |    END AS url
         |  FROM documents),
         |${urlCanonCtes("ds", "raw")},
         |hosts AS (
         |  SELECT c.doc_id, c.canonical_url,
         |         regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) AS host,
         |         len(list_filter(string_split(r.text, ' '), x -> x <> '')) AS n_toks
         |  FROM dscanon c JOIN raw r USING (doc_id))
         |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
         |       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_resources,
         |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |FROM hosts GROUP BY host ORDER BY host""".stripMargin,

    // the same canonical chain, then the p=10 register replay PER HOST
    // (bucket = top 10 of the 48 hash bits, ρ = 39 − bitlength(rest),
    // empty buckets ρ = 0 contribute 2^39 to the q39 harmonic sum) with
    // the exact distinct alongside
    "q_domain_stats_hll" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    CASE CAST(doc_id % 4 AS INTEGER)
         |      WHEN 0 THEN 'https://WWW.h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1'
         |      WHEN 1 THEN 'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.com:443/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1&utm_x=1'
         |      WHEN 2 THEN 'h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?a=1'
         |      ELSE 'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '/?a=1'
         |    END AS url
         |  FROM documents),
         |${urlCanonCtes("dh", "raw")},
         |hosts AS (
         |  SELECT c.doc_id, c.canonical_url,
         |         regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1) AS host
         |  FROM dhcanon c),
         |hh AS (SELECT host,
         |         ('0x' || substr(md5('hll:' || canonical_url), 1, 12))::BIGINT AS h FROM hosts),
         |hbr AS (SELECT host, h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM hh),
         |hrr AS (SELECT host, bucket,
         |          CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM hbr),
         |hmx AS (SELECT host, bucket, max(rho) AS rho FROM hrr GROUP BY 1, 2),
         |hhosts AS (SELECT DISTINCT host FROM hosts),
         |hallb AS (SELECT hhosts.host, CAST(i AS BIGINT) AS bucket
         |          FROM hhosts, unnest(range(0, 1024)) AS u(i)),
         |hfr AS (SELECT a.host, a.bucket, coalesce(m.rho, 0) AS rho
         |        FROM hallb a LEFT JOIN hmx m ON m.host = a.host AND m.bucket = a.bucket),
         |hex AS (SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
         |               CAST(count(DISTINCT canonical_url) AS BIGINT) AS exact_resources
         |        FROM hosts GROUP BY 1)
         |SELECT hex.host, hex.n_pages, hex.exact_resources,
         |       CAST(count(*) AS BIGINT) AS m,
         |       CAST(sum(CASE WHEN hfr.rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
         |       CAST(sum(CAST(1 AS BIGINT) << (39 - hfr.rho)) AS BIGINT) AS inv_q39
         |FROM hfr JOIN hex ON hex.host = hfr.host
         |GROUP BY hex.host, hex.n_pages, hex.exact_resources
         |ORDER BY hex.host""".stripMargin,

    // replays the publicsuffix.org longest-matching-rule algorithm over
    // the SAME rule table: candidates = trailing-label suffixes (≤5) +
    // their *.-wildcard forms; winner = exception-first then longest
    // (kind tiebreak mirrored from the engine); public suffix = matched
    // labels (minus the leftmost for an exception), default bare TLD;
    // registrable = suffix + one label, NULL when the host IS a suffix
    // …plus the p=10 register replay PER DOMAIN over the host values
    // (the q_domain_stats_hll contract; IS NOT DISTINCT FROM joins so
    // the NULL-domain group — IP literals — reconstructs too)
    "q_registrable_domain_stats" ->
      s"""WITH $crawlPslCtes,
         |base AS (
         |  SELECT r.registrable_domain,
         |         CAST(count(DISTINCT p.host) AS BIGINT) AS n_hosts,
         |         CAST(count(*) AS BIGINT) AS n_pages,
         |         CAST(sum(p.n_toks) AS BIGINT) AS n_tokens
         |  FROM pages p JOIN reg r USING (host)
         |  GROUP BY 1),
         |hh AS (SELECT r.registrable_domain AS dom,
         |         ('0x' || substr(md5('hll:' || p.host), 1, 12))::BIGINT AS h
         |       FROM pages p JOIN reg r USING (host)),
         |hbr AS (SELECT dom, h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM hh),
         |hrr AS (SELECT dom, bucket,
         |          CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM hbr),
         |hmx AS (SELECT dom, bucket, max(rho) AS rho FROM hrr GROUP BY 1, 2),
         |hdoms AS (SELECT DISTINCT dom FROM hh),
         |hallb AS (SELECT hdoms.dom, CAST(i AS BIGINT) AS bucket
         |          FROM hdoms, unnest(range(0, 1024)) AS u(i)),
         |hfr AS (SELECT a.dom, a.bucket, coalesce(m.rho, 0) AS rho
         |        FROM hallb a LEFT JOIN hmx m
         |          ON m.dom IS NOT DISTINCT FROM a.dom AND m.bucket = a.bucket),
         |hagg AS (SELECT dom, CAST(count(*) AS BIGINT) AS m,
         |                CAST(sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
         |                CAST(sum(CAST(1 AS BIGINT) << (39 - rho)) AS BIGINT) AS inv_q39
         |         FROM hfr GROUP BY 1)
         |SELECT b.registrable_domain, b.n_hosts, b.n_pages, b.n_tokens,
         |       h.m, h.n_buckets_hit, h.inv_q39
         |FROM base b JOIN hagg h ON h.dom IS NOT DISTINCT FROM b.registrable_domain
         |ORDER BY 1 NULLS FIRST""".stripMargin,

    // robots precedence replay: same canonical chain, same prefix rules
    // as VALUES, winner by (len DESC, allow DESC, rule DESC) — the
    // mirrored total order of the engine's max(struct) election
    "q_url_rules_filter" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("ur", "raw")},
         |p AS (
         |  SELECT doc_id, canonical_url,
         |    CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
         |  FROM (SELECT doc_id, canonical_url,
         |          regexp_replace(regexp_extract(canonical_url,
         |            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$$', 1), '\\?.*$$', '') AS p0
         |        FROM urcanon)),
         |r(rule, allow) AS (VALUES $urlRuleValues),
         |m AS (
         |  SELECT p.doc_id, r.rule, r.allow,
         |         row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY len(r.rule) DESC, r.allow DESC, r.rule DESC) AS rn
         |  FROM p JOIN r ON starts_with(p.path, r.rule))
         |SELECT p.doc_id, p.canonical_url, p.path,
         |       m.rule AS matched_rule,
         |       coalesce(m.allow = 1, TRUE) AS allowed
         |FROM p LEFT JOIN (SELECT doc_id, rule, allow FROM m WHERE rn = 1) m USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    // the per-domain joined form: the same crawl + PSL stack resolves
    // each URL's registrable domain, then the election replays over
    // ONLY that domain's rows of the (domain, rule, allow) dimension —
    // longest DESC, allow DESC, rule DESC, no match / no domain ⇒
    // allowed
    "q_url_rules_per_domain" ->
      s"""WITH $crawlPslCtes,
         |p AS (
         |  SELECT c.doc_id, c.canonical_url, r.registrable_domain,
         |    CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
         |  FROM (SELECT doc_id, canonical_url,
         |          regexp_replace(regexp_extract(canonical_url,
         |            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$$', 1), '\\?.*$$', '') AS p0
         |        FROM rdcanon) c
         |  JOIN pages pg USING (doc_id)
         |  JOIN reg r ON r.host = pg.host),
         |dr(domain, rule, allow) AS (VALUES $domainRuleValues),
         |m AS (
         |  SELECT p.doc_id, dr.rule, dr.allow,
         |         row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY len(dr.rule) DESC, dr.allow DESC, dr.rule DESC) AS rn
         |  FROM p JOIN dr ON p.registrable_domain = dr.domain
         |    AND starts_with(p.path, dr.rule))
         |SELECT p.doc_id, p.canonical_url, p.registrable_domain, p.path,
         |       m.rule AS matched_rule,
         |       coalesce(m.allow = 1, TRUE) AS allowed
         |FROM p LEFT JOIN (SELECT doc_id, rule, allow FROM m WHERE rn = 1) m USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    // the agent-group election replay (one shared CTE definition with
    // the frontier oracles): groups matching 'graftbot/1.0' (prefix or
    // *) → most specific per domain → the SAME per-domain longest-match
    // election over only the elected group's rules
    "q_url_rules_agent_groups" ->
      s"""WITH $crawlPslCtes,
         |p AS (
         |  SELECT c.doc_id, c.canonical_url, r.registrable_domain,
         |    CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
         |  FROM (SELECT doc_id, canonical_url,
         |          regexp_replace(regexp_extract(canonical_url,
         |            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$$', 1), '\\?.*$$', '') AS p0
         |        FROM rdcanon) c
         |  JOIN pages pg USING (doc_id)
         |  JOIN reg r ON r.host = pg.host),
         |${agentRuleCtes("g")},
         |m AS (
         |  SELECT p.doc_id, dr.rule, dr.allow,
         |         row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY len(dr.rule) DESC, dr.allow DESC, dr.rule DESC) AS rn
         |  FROM p JOIN grules dr ON p.registrable_domain = dr.domain
         |    AND starts_with(p.path, dr.rule))
         |SELECT p.doc_id, p.canonical_url, p.registrable_domain, p.path,
         |       m.rule AS matched_rule,
         |       coalesce(m.allow = 1, TRUE) AS allowed
         |FROM p LEFT JOIN (SELECT doc_id, rule, allow FROM m WHERE rn = 1) m USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    // the freshness replay: the same planted fetch log (md5 fingerprint
    // regimes by path class), per-URL lag-based change counts, exact
    // integer rate (// = Spark's div) and priority, rank over
    // (never_fetched DESC, priority DESC, url)
    "q_recrawl_schedule" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("rc", "raw")},
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rccanon c WHERE c.doc_id % 5 <> 0),
         |ch AS (
         |  SELECT url, epoch, fp,
         |         lag(fp) OVER (PARTITION BY url ORDER BY epoch) AS prev
         |  FROM lg),
         |st AS (
         |  SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         |         CAST(max(epoch) AS BIGINT) AS last_fetch,
         |         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> fp
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
         |  FROM ch GROUP BY url),
         |un AS (SELECT DISTINCT canonical_url AS url FROM rccanon),
         |nw AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS now FROM documents),
         |p0 AS (
         |  SELECT u.url, st.url IS NULL AS never_fetched,
         |         st.n_fetches, st.last_fetch, st.n_changes,
         |         CASE WHEN st.url IS NULL THEN NULL
         |              ELSE nw.now - st.last_fetch END AS age,
         |         CAST(CASE WHEN st.url IS NULL THEN NULL
         |              WHEN st.n_fetches <= 1 THEN 500000
         |              ELSE st.n_changes * 1000000 // (st.n_fetches - 1)
         |         END AS BIGINT) AS change_rate_q6
         |  FROM un u LEFT JOIN st ON st.url = u.url CROSS JOIN nw),
         |pr AS (
         |  SELECT *, CAST(age * change_rate_q6 AS BIGINT) AS priority_q6
         |  FROM p0)
         |SELECT url, never_fetched, n_fetches, last_fetch, n_changes,
         |       CAST(age AS BIGINT) AS age, change_rate_q6, priority_q6,
         |       CAST(row_number() OVER (ORDER BY never_fetched DESC,
         |         priority_q6 DESC NULLS LAST, url) AS BIGINT) AS fetch_rank
         |FROM pr ORDER BY url""".stripMargin,

    // the same crawl + PSL stack: standing (% 5 <> 0) per-domain counts,
    // then the % 5 = 0 epoch's probe decisions at budget 30
    "q_domain_budget" ->
      s"""WITH $crawlPslCtes,
         |cnt AS (
         |  SELECT r.registrable_domain, count(*) AS n_pages
         |  FROM pages p JOIN reg r USING (host)
         |  WHERE p.doc_id % 5 <> 0 GROUP BY 1)
         |SELECT p.doc_id, c.canonical_url, p.host, r.registrable_domain,
         |       CAST(coalesce(cnt.n_pages, 0) AS BIGINT) AS domain_pages,
         |       coalesce(cnt.n_pages, 0) >= 30 AS over_budget
         |FROM pages p
         |JOIN rdcanon c USING (doc_id)
         |JOIN reg r USING (host)
         |LEFT JOIN cnt USING (registrable_domain)
         |WHERE p.doc_id % 5 = 0 ORDER BY p.doc_id""".stripMargin,

    // the link CTE stack replays plant → tag extraction → the four
    // resolution arms → canonicalization, verbatim rule for rule
    "x20_link_extract" ->
      s"""WITH $linkCtes
         |SELECT doc_id, link_no, href, url, dst_host, anchor
         |FROM lout ORDER BY doc_id, link_no""".stripMargin,

    // extracted links + the PSL replay on BOTH endpoints' hosts; NULL
    // (IP-literal) and self-domain edges excluded as in the engine
    "q_host_link_graph" ->
      s"""WITH ${linkEdgeCtes()}
         |SELECT src_domain, dst_domain, w AS n_links
         |FROM ledges ORDER BY src_domain, dst_domain""".stripMargin,

    // the maintenance identity's oracle IS the from-scratch rebuild over
    // the full corpus — a hash match proves append == rebuild
    // cross-engine (edge derivation is per-doc local, counts additive)
    "q_link_graph_append" ->
      s"""WITH ${linkEdgeCtes()}
         |SELECT src_domain, dst_domain, w AS n_links
         |FROM ledges ORDER BY src_domain, dst_domain""".stripMargin,

    // 4 unrolled directed-weighted q6 PageRank rounds over the domain
    // edge list — same floor-div long arithmetic as the Spark loop
    // ((85·r·w) // (100·outw), base 150000 // N), every sum CAST back
    // to BIGINT (DuckDB widens BIGINT sums to HUGEINT)
    "q_link_pagerank" ->
      s"""WITH ${linkPageRankCtes()}
         |SELECT nodes.node, coalesce(ow.outw, 0) AS out_weight,
         |       coalesce(iw.inw, 0) AS in_weight, CAST(r4.r AS BIGINT) AS pr_q6
         |FROM nodes LEFT JOIN ow USING (node) LEFT JOIN iw USING (node)
         |JOIN r4 USING (node) ORDER BY node""".stripMargin,

    // one self-join of the edge list on the reversed pair, rolled to
    // per-domain out/reciprocal counts
    "q_link_reciprocity" ->
      s"""WITH ${linkEdgeCtes()}
         |SELECT e.src_domain AS domain,
         |       CAST(count(*) AS BIGINT) AS n_out_edges,
         |       CAST(sum(CASE WHEN r.src_domain IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal
         |FROM ledges e LEFT JOIN ledges r
         |  ON r.src_domain = e.dst_domain AND r.dst_domain = e.src_domain
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // p=8 per-source registers: bucket = top 8 of the 48 hash bits,
    // ρ = 41 − bitlength(rest) (rest = 0 → 41)
    "q_hll_per_source" ->
      s"""WITH w AS (
         |  SELECT source, word FROM (
         |    SELECT source, unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE word <> ''),
         |h AS (SELECT source,
         |        ('0x' || substr(md5('hll:' || word), 1, 12))::BIGINT AS h FROM w),
         |br AS (SELECT source, h // ${1L << 40} AS bucket, h % ${1L << 40} AS rest FROM h),
         |rr AS (SELECT source, bucket,
         |              CASE WHEN rest = 0 THEN 41 ELSE 41 - len(bin(rest)) END AS rho FROM br)
         |SELECT source, bucket, CAST(max(rho) AS BIGINT) AS max_rho
         |FROM rr GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    // the standing (% 5 <> 0) corpus's PSL dim + 4-round PageRank stack,
    // then the % 5 = 0 epoch's extracted links probed against both —
    // unseen hosts LEFT-JOIN to NULL domains, unendorsed domains to
    // rank 0, the engine's cold-start arm
    "q_link_frontier_probe" ->
      s"""WITH ${linkPageRankCtes("doc_id % 5 <> 0")},
         |ep AS (SELECT * FROM lout WHERE doc_id % 5 = 0)
         |SELECT ep.doc_id, ep.link_no, ep.url, ep.dst_host,
         |       a.registrable_domain,
         |       CAST(coalesce(r4.r, 0) AS BIGINT) AS target_rank_q6,
         |       r4.r IS NOT NULL AS known_domain
         |FROM ep LEFT JOIN areg a ON a.host = ep.dst_host
         |LEFT JOIN r4 ON r4.node = a.registrable_domain
         |ORDER BY ep.doc_id, ep.link_no""".stripMargin,

    // the composed frontier read: standing per-domain page counts (the
    // budget arm) + PageRank endorsement (the priority arm); fetch_rank
    // replays the engine's two-phase prefix rank as row_number over the
    // under-budget subset
    "e2e_crawl_frontier" ->
      s"""WITH ${linkPageRankCtes()},
         |pcount AS (
         |  SELECT r.registrable_domain, CAST(count(*) AS BIGINT) AS n_pages
         |  FROM rdcanon c JOIN areg r
         |    ON r.host = regexp_extract(c.canonical_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)
         |  WHERE r.registrable_domain IS NOT NULL GROUP BY 1),
         |st AS (
         |  SELECT p.registrable_domain AS domain, p.n_pages,
         |         CAST(coalesce(r4.r, 0) AS BIGINT) AS pr_q6,
         |         p.n_pages >= 30 AS over_budget
         |  FROM pcount p LEFT JOIN r4 ON r4.node = p.registrable_domain),
         |rk AS (
         |  SELECT domain,
         |         CAST(row_number() OVER (ORDER BY pr_q6 DESC, domain) AS BIGINT) AS fetch_rank
         |  FROM st WHERE NOT over_budget)
         |SELECT st.domain, st.n_pages, st.pr_q6, st.over_budget, rk.fetch_rank
         |FROM st LEFT JOIN rk USING (domain) ORDER BY st.domain""".stripMargin,

    // the per-URL queue: standing (% 5 <> 0) PSL + PageRank stack; the
    // epoch's discovered urls dedup to first discoverer (min packed
    // (doc, link) — link_no < 1024 on planted pages); endorsement via
    // the url's host against areg/r4; admissibility replays the robots
    // election; budget replays the standing per-domain counts at 30;
    // fetch_rank = row_number over the eligible set, the engine's
    // two-phase prefix rank
    "e2e_url_frontier" ->
      s"""WITH $frontierStackCtes,
         |urk AS (
         |  SELECT url, CAST(row_number() OVER (
         |    ORDER BY target_rank_q6 DESC, url) AS BIGINT) AS fetch_rank
         |  FROM ust WHERE allowed AND NOT over_budget)
         |SELECT ust.url, ust.src_doc, ust.src_link, ust.registrable_domain,
         |       ust.target_rank_q6, ust.known_domain, ust.n_discoveries,
         |       ust.allowed, ust.over_budget, urk.fetch_rank
         |FROM ust LEFT JOIN urk USING (url) ORDER BY ust.url""".stripMargin,

    // the append==rebuild identity: the oracle derives the stats from
    // the FULL log (arg_min/arg_max = the engine's struct extremes over
    // distinct epochs) and never sees the engine's standing/epoch split
    "q_recrawl_stats_append" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("rc", "raw")},
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rccanon c WHERE c.doc_id % 5 <> 0),
         |ch AS (
         |  SELECT url, epoch, fp,
         |         lag(fp) OVER (PARTITION BY url ORDER BY epoch) AS prev
         |  FROM lg)
         |SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         |       CAST(min(epoch) AS BIGINT) AS first_fetch,
         |       CAST(max(epoch) AS BIGINT) AS last_fetch,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> fp
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         |       arg_min(fp, epoch) AS first_fp,
         |       arg_max(fp, epoch) AS last_fp
         |FROM ch GROUP BY url ORDER BY url""".stripMargin,

    // delete == rebuild: the oracle filters the PURGED urls out of the
    // raw log and rebuilds from scratch — it never sees the engine's
    // anti-join, so the hash match is the proof
    "q_recrawl_stats_delete" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("rc", "raw")},
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rccanon c WHERE c.doc_id % 5 <> 0),
         |keep AS (
         |  SELECT * FROM lg
         |  WHERE url NOT IN (SELECT url FROM lg WHERE epoch % 7 = 2)),
         |ch AS (
         |  SELECT url, epoch, fp,
         |         lag(fp) OVER (PARTITION BY url ORDER BY epoch) AS prev
         |  FROM keep)
         |SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         |       CAST(min(epoch) AS BIGINT) AS first_fetch,
         |       CAST(max(epoch) AS BIGINT) AS last_fetch,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> fp
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         |       arg_min(fp, epoch) AS first_fp,
         |       arg_max(fp, epoch) AS last_fp
         |FROM ch GROUP BY url ORDER BY url""".stripMargin,

    // the sitemap replay: rebuild the planted urlset XML, extract the
    // <url> blocks with ordinality (loc-less entries drop AFTER
    // numbering, like the engine's posexplode-then-filter), run the
    // shared canon chain on loc, parse lastmod back to its epoch-day,
    // and probe the shared fetch-stats replay
    "q_sitemap_ingest" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("rc", "raw")},
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rccanon c WHERE c.doc_id % 5 <> 0),
         |st AS (SELECT url, CAST(max(epoch) AS BIGINT) AS last_fetch
         |       FROM lg GROUP BY url),
         |smraw AS (
         |  SELECT doc_id,
         |    '<?xml version="1.0"?><urlset><url><loc>https://' ||
         |    ${crawlHostSql("doc_id")} || '/p/' || CAST(doc_id % 20 AS VARCHAR) ||
         |    '?a=1</loc></url><url><loc>https://' ||
         |    ${crawlHostSql("doc_id * 3 + 1")} || '/p/' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) ||
         |    '?a=1</loc><lastmod>' ||
         |    strftime(DATE '1970-01-01' + CAST(doc_id + (doc_id % 3 - 1) * 200 AS INTEGER), '%Y-%m-%d') ||
         |    '</lastmod></url><url><lastmod>1999-12-31</lastmod></url></urlset>' AS xml
         |  FROM documents WHERE doc_id % 5 = 0),
         |smblk AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS url_no, b[i] AS blk
         |  FROM (SELECT doc_id, regexp_extract_all(xml, '(?s)<url>.*?</url>') AS b
         |        FROM smraw), unnest(range(1, len(b) + 1)) AS u(i)),
         |smee AS (
         |  SELECT doc_id, url_no,
         |         regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
         |         regexp_extract(blk, '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1) AS lm
         |  FROM smblk
         |  WHERE regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) <> ''),
         |ku AS (SELECT doc_id * 1024 + url_no AS doc_id, loc AS url FROM smee),
         |${urlCanonCtes("sm", "ku")}
         |SELECT e.doc_id, e.url_no, x.canonical_url AS url,
         |       CAST(CASE WHEN e.lm = '' THEN NULL
         |            ELSE CAST(substr(e.lm, 1, 10) AS DATE) - DATE '1970-01-01'
         |       END AS BIGINT) AS lastmod_day,
         |       st.url IS NOT NULL AS known_url,
         |       CASE WHEN st.url IS NOT NULL AND e.lm <> ''
         |            THEN (CAST(substr(e.lm, 1, 10) AS DATE) - DATE '1970-01-01') > st.last_fetch
         |       END AS modified_since_fetch
         |FROM smee e
         |JOIN smcanon x ON x.doc_id = e.doc_id * 1024 + e.url_no
         |LEFT JOIN st ON st.url = x.canonical_url
         |ORDER BY e.doc_id, e.url_no""".stripMargin,

    // the packed-bloom replay: same md5 bit positions, same 62-bit
    // bit_or words, same all-k probe — built from the WHOLE standing
    // set (the engine built it as a merge of halves, so the hash
    // match proves merge == rebuild), exact membership alongside
    "q_url_seen_bloom" ->
      s"""WITH $crawlRawCte,
         |${urlCanonCtes("sb", "raw")},
         |su AS (SELECT DISTINCT canonical_url AS url FROM sbcanon
         |       WHERE doc_id % 5 <> 0),
         |cu AS (SELECT DISTINCT canonical_url AS url FROM sbcanon),
         |pos AS (
         |  SELECT url,
         |         ('0x' || substr(md5('bloom' || j || ':' || url), 1, 12))::BIGINT
         |           % $UrlBloomBits AS bit
         |  FROM su, unnest(range(0, $UrlBloomK)) AS u(j)),
         |words AS (
         |  SELECT bit // 62 AS word_idx,
         |         bit_or(1::BIGINT << CAST(bit % 62 AS INTEGER)) AS bits
         |  FROM pos GROUP BY 1),
         |cpos AS (
         |  SELECT url,
         |         ('0x' || substr(md5('bloom' || j || ':' || url), 1, 12))::BIGINT
         |           % $UrlBloomBits AS bit
         |  FROM cu, unnest(range(0, $UrlBloomK)) AS u(j)),
         |probe AS (
         |  SELECT c.url,
         |         CAST(sum(CASE WHEN w.bits IS NOT NULL AND
         |           (w.bits & (1::BIGINT << CAST(c.bit % 62 AS INTEGER))) != 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM cpos c LEFT JOIN words w ON w.word_idx = c.bit // 62
         |  GROUP BY c.url)
         |SELECT p.url, p.hits = $UrlBloomK AS maybe_seen,
         |       su.url IS NOT NULL AS actually_seen
         |FROM probe p LEFT JOIN su ON su.url = p.url
         |ORDER BY p.url""".stripMargin,

    // delete == rebuild for the edge list: the oracle's docFilter
    // keeps only the complement corpus and rebuilds from scratch —
    // it never sees the engine's negative-multiplicity subtraction
    "q_link_graph_delete" ->
      s"""WITH ${linkEdgeCtes("doc_id % 7 <> 2")}
         |SELECT src_domain, dst_domain, w AS n_links
         |FROM ledges ORDER BY src_domain, dst_domain""".stripMargin,

    // the unified queue: the SAME frontier stack's eligible rows,
    // anti-joined against the recrawl stats (a url the corpus has
    // fetched is not new), unioned with every known url at its
    // freshness priority; never-fetched first, then priority/endorsement
    "e2e_fetch_queue" ->
      s"""WITH $frontierStackCtes,
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rdcanon c WHERE c.doc_id % 5 <> 0),
         |lch AS (
         |  SELECT url, epoch, fp,
         |         lag(fp) OVER (PARTITION BY url ORDER BY epoch) AS prev
         |  FROM lg),
         |lst AS (
         |  SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         |         CAST(max(epoch) AS BIGINT) AS last_fetch,
         |         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> fp
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
         |  FROM lch GROUP BY url),
         |lnw AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS now FROM documents),
         |known AS (
         |  SELECT lst.url, FALSE AS is_new,
         |         CAST((lnw.now - lst.last_fetch) *
         |           CAST(CASE WHEN lst.n_fetches <= 1 THEN 500000
         |                ELSE lst.n_changes * 1000000 // (lst.n_fetches - 1)
         |           END AS BIGINT) AS BIGINT) AS score_q6
         |  FROM lst CROSS JOIN lnw),
         |newarm AS (
         |  SELECT ust.url, TRUE AS is_new, ust.target_rank_q6 AS score_q6
         |  FROM ust LEFT JOIN lst ON lst.url = ust.url
         |  WHERE ust.allowed AND NOT ust.over_budget AND lst.url IS NULL),
         |uq AS (SELECT * FROM known UNION ALL SELECT * FROM newarm)
         |SELECT url, is_new, score_q6,
         |       CAST(row_number() OVER (ORDER BY is_new DESC, score_q6 DESC,
         |         url) AS BIGINT) AS fetch_rank
         |FROM uq ORDER BY url""".stripMargin,

    // the same two queue arms, each carrying its politeness key
    // (registrable domain via the shared PSL replay, raw host when the
    // PSL maps it to NULL), then rank within key by the queue's own
    // order and globally by (within_domain_rank, priority)
    "e2e_fetch_queue_polite" ->
      s"""WITH $frontierStackCtes,
         |lg AS (
         |  SELECT c.doc_id AS epoch, c.canonical_url AS url,
         |         ${recrawlFpSql("c")} AS fp
         |  FROM rdcanon c WHERE c.doc_id % 5 <> 0),
         |lch AS (
         |  SELECT url, epoch, fp,
         |         lag(fp) OVER (PARTITION BY url ORDER BY epoch) AS prev
         |  FROM lg),
         |lst AS (
         |  SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         |         CAST(max(epoch) AS BIGINT) AS last_fetch,
         |         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> fp
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
         |  FROM lch GROUP BY url),
         |lnw AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS now FROM documents),
         |known AS (
         |  SELECT lst.url, FALSE AS is_new,
         |         CAST((lnw.now - lst.last_fetch) *
         |           CAST(CASE WHEN lst.n_fetches <= 1 THEN 500000
         |                ELSE lst.n_changes * 1000000 // (lst.n_fetches - 1)
         |           END AS BIGINT) AS BIGINT) AS score_q6,
         |         coalesce(a.registrable_domain,
         |           regexp_extract(lst.url,
         |             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)) AS politeness_key
         |  FROM lst CROSS JOIN lnw
         |  LEFT JOIN areg a ON a.host =
         |    regexp_extract(lst.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)),
         |newarm AS (
         |  SELECT ust.url, TRUE AS is_new, ust.target_rank_q6 AS score_q6,
         |         coalesce(ust.registrable_domain,
         |           regexp_extract(ust.url,
         |             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)', 1)) AS politeness_key
         |  FROM ust LEFT JOIN lst ON lst.url = ust.url
         |  WHERE ust.allowed AND NOT ust.over_budget AND lst.url IS NULL),
         |uq AS (SELECT * FROM known UNION ALL SELECT * FROM newarm),
         |wdr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY politeness_key
         |    ORDER BY is_new DESC, score_q6 DESC, url) AS BIGINT)
         |    AS within_domain_rank
         |  FROM uq)
         |SELECT url, politeness_key, is_new, score_q6, within_domain_rank,
         |       CAST(row_number() OVER (ORDER BY within_domain_rank,
         |         is_new DESC, score_q6 DESC, url) AS BIGINT) AS fetch_rank
         |FROM wdr ORDER BY url""".stripMargin,

    // anchor tokens per dst eTLD+1, ranked (count DESC, term) — the
    // engine's window replayed as row_number
    "q_anchor_topterms" ->
      s"""WITH $linkCtes,
         |dh AS (SELECT dst_host AS host FROM lout),
         |${pslLookupCtes("a", "dh")},
         |at AS (
         |  SELECT r.registrable_domain,
         |         unnest(list_filter(string_split(l.anchor, ' '), x -> x <> '')) AS term
         |  FROM lout l JOIN areg r ON r.host = l.dst_host
         |  WHERE r.registrable_domain IS NOT NULL),
         |ct AS (SELECT registrable_domain, term, CAST(count(*) AS BIGINT) AS n
         |       FROM at GROUP BY 1, 2),
         |rk AS (SELECT *, CAST(row_number() OVER (
         |         PARTITION BY registrable_domain ORDER BY n DESC, term) AS BIGINT) AS rank
         |       FROM ct)
         |SELECT registrable_domain, term, n, rank FROM rk WHERE rank <= 3
         |ORDER BY registrable_domain, rank""".stripMargin,

    // the same crawl + PSL stack, then the cap: longest-first rank per
    // registrable domain, kept rows only
    "q_domain_cap" ->
      s"""WITH $crawlPslCtes,
         |rk AS (
         |  SELECT r.registrable_domain, p.doc_id, CAST(p.n_toks AS BIGINT) AS n_toks,
         |         CAST(row_number() OVER (PARTITION BY r.registrable_domain
         |                                 ORDER BY p.n_toks DESC, p.doc_id) AS BIGINT) AS rank_in_domain
         |  FROM pages p JOIN reg r USING (host))
         |SELECT registrable_domain, rank_in_domain, doc_id, n_toks
         |FROM rk WHERE rank_in_domain <= 8
         |-- NULLS FIRST pins DuckDB to Spark's ascending default: the
         |-- IP-literal plants put real rows in the NULL domain group
         |-- (ADVICE r15)
         |ORDER BY registrable_domain NULLS FIRST, rank_in_domain""".stripMargin,

    // the composed crawl-curation chain: the same crawl + PSL + cap
    // stack, then the q_memorization_risk window/df machinery replayed
    // over the POST-CAP document set only
    "e2e_crawl_curation" ->
      s"""WITH $crawlPslCtes,
         |rk AS (
         |  SELECT r.registrable_domain, p.doc_id, CAST(p.n_toks AS BIGINT) AS n_toks,
         |         CAST(row_number() OVER (PARTITION BY r.registrable_domain
         |                                 ORDER BY p.n_toks DESC, p.doc_id) AS BIGINT) AS rank_in_domain
         |  FROM pages p JOIN reg r USING (host)),
         |kept AS (SELECT * FROM rk WHERE rank_in_domain <= 8),
         |t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM kept)),
         |w AS (
         |  SELECT doc_id, u.pos, u.h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
         |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
         |    FROM t WHERE len(ws) >= 8)),
         |f AS (SELECT h, count(DISTINCT doc_id) AS df FROM w GROUP BY h),
         |a AS (
         |  SELECT w.doc_id, count(*) AS nw, max(f.df) AS mdf,
         |         count(CASE WHEN f.df >= 3 THEN 1 END) AS nh
         |  FROM w JOIN f USING (h) GROUP BY w.doc_id)
         |SELECT k.registrable_domain, k.rank_in_domain, k.doc_id, k.n_toks,
         |       CAST(coalesce(a.mdf, 0) AS BIGINT) AS max_df,
         |       CAST(coalesce(a.nh, 0) AS BIGINT) AS n_hot,
         |       CASE WHEN a.doc_id IS NULL THEN FALSE
         |            ELSE floor(a.nh::DOUBLE / a.nw::DOUBLE * 10000.0 + 0.5) / 10000.0 >= 0.5
         |       END AS memorization_flag
         |FROM kept k LEFT JOIN a USING (doc_id)
         |ORDER BY k.registrable_domain NULLS FIRST, k.rank_in_domain""".stripMargin,

    // same md5-derived 48-bit hashes (+1 to dodge a zero divisor), same
    // BIGINT floor division — the sketch is bit-identical by design
    "q_kmv_distinct" ->
      s"""WITH w AS (
         |  SELECT word FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE word <> ''),
         |h AS (
         |  SELECT DISTINCT ('0x' || substr(md5('kmv:' || word), 1, 12))::BIGINT + 1 AS h FROM w),
         |mink AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |agg AS (SELECT count(*) AS n, max(h) AS kth_hash FROM mink)
         |SELECT 256 AS k, n, kth_hash,
         |       CAST(CASE WHEN n < 256 THEN n
         |                 ELSE (255 * ${1L << 48}) // kth_hash END AS BIGINT) AS est_distinct,
         |       (SELECT count(DISTINCT word) FROM w) AS exact_distinct
         |FROM agg""".stripMargin,

    // same md5('hll:'||word) 48-bit hash: top 10 bits route, ρ = 39 −
    // bitlength(rest) (rest = 0 → 39) — registers are pure integers
    "q_hll_registers" ->
      s"""WITH w AS (
         |  SELECT word FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE word <> ''),
         |h AS (SELECT ('0x' || substr(md5('hll:' || word), 1, 12))::BIGINT AS h FROM w),
         |br AS (SELECT h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM h),
         |rr AS (SELECT bucket,
         |              CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM br)
         |SELECT bucket, CAST(max(rho) AS BIGINT) AS max_rho
         |FROM rr GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the UNION's registers directly — the oracle never sees the
    // engine's per-partition split, so a hash match proves the stored
    // sketches' max-merge equals sketching the union (merge == rebuild
    // for the sketch family)
    "q_hll_merge_union" ->
      s"""WITH w AS (
         |  SELECT word FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE word <> ''),
         |h AS (SELECT ('0x' || substr(md5('hll:' || word), 1, 12))::BIGINT AS h FROM w),
         |br AS (SELECT h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM h),
         |rr AS (SELECT bucket,
         |              CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM br)
         |SELECT bucket, CAST(max(rho) AS BIGINT) AS max_rho
         |FROM rr GROUP BY bucket ORDER BY bucket""".stripMargin,

    // full 1024-bucket frame (empty → ρ 0) for the exact q39 harmonic
    // denominator; every sum CAST back to BIGINT
    "q_hll_distinct" ->
      s"""WITH w AS (
         |  SELECT word FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE word <> ''),
         |h AS (SELECT ('0x' || substr(md5('hll:' || word), 1, 12))::BIGINT AS h FROM w),
         |br AS (SELECT h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM h),
         |rr AS (SELECT bucket,
         |              CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM br),
         |mx AS (SELECT bucket, max(rho) AS rho FROM rr GROUP BY bucket),
         |allb AS (SELECT CAST(i AS BIGINT) AS bucket FROM unnest(range(0, 1024)) AS u(i)),
         |fr AS (SELECT a.bucket, coalesce(m.rho, 0) AS rho
         |       FROM allb a LEFT JOIN mx m USING (bucket))
         |SELECT CAST(count(*) AS BIGINT) AS m,
         |       CAST(sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
         |       CAST(sum(CAST(1 AS BIGINT) << (39 - rho)) AS BIGINT) AS inv_q39,
         |       (SELECT count(DISTINCT word) FROM w) AS exact_distinct
         |FROM fr""".stripMargin,

    // consecutive-window scan over the SAME empty-filtered token list
    // (start is 0-based, matching posexplode)
    "q_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start
        |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        |  WHERE toks[i] = 'slow' AND toks[i+1] = 'hash' AND toks[i+2] = 'batch')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       CAST(min(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the maintenance identity's oracle IS the from-scratch rebuild over
    // the corpus minus the removal set (standing ∪ epoch = all docs) —
    // a hash match proves append == rebuild and delete == rebuild for
    // the positional index cross-engine
    "q_phrase_index_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 7 <> 2),
        |m AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start
        |  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        |  WHERE toks[i] = 'slow' AND toks[i+1] = 'hash' AND toks[i+2] = 'batch')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       CAST(min(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the group-count positional intersection replayed: phrase terms
    // with offsets join document tokens by term; a start matches iff
    // count(DISTINCT off) == k
    "q_phrase_multi_search" -> phraseMultiOracleSql,

    // the SAME oracle text on purpose: the bulk-scan gate's engine path
    // is a completely different implementation (stateless per-row array
    // scan vs postings join), and sharing the oracle makes the driver's
    // hash gate a three-way agreement proof (scan == join == SQL)
    "q_phrase_bulk_scan" -> phraseMultiOracleSql,

    // the same planted URL spellings + chrome/spam and the same four
    // stages chained: canonical-URL dedup FIRST (urlCanonCtes ==
    // TextOps.canonicalizeUrl), then the x17 replace chain, the x16
    // token filter, md5 min-id content dedup
    "e2e_web_ingest" ->
      s"""WITH rawu AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 10 = 1
        |      THEN 'https://www.example.com:443/page/' || CAST(doc_id - 1 AS VARCHAR) || '?x=1&utm_source=z#top'
        |      ELSE 'https://example.com/page/' || CAST(doc_id AS VARCHAR) || '?x=1' END AS url
        |  FROM documents),
        |${urlCanonCtes("wu", "rawu")},
        |crawled AS (
        |  SELECT doc_id, text FROM (
        |    SELECT r.doc_id, r.text,
        |           row_number() OVER (PARTITION BY c.canonical_url ORDER BY r.doc_id) AS urn
        |    FROM rawu r JOIN wucanon c USING (doc_id))
        |  WHERE urn = 1),
        |spam AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' zzspamword' ELSE text END AS t
        |  FROM crawled),
        |page AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN '<html><body><p>' || t || '</p><script>drop();</script>&nbsp;</body></html>'
        |    ELSE t END AS page FROM spam),
        |clean AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(page,
        |        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS clean
        |  FROM page),
        |flagged AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(string_split(lower(clean), ' ')) AS tok FROM clean) u
        |  WHERE tok = 'zzspamword'),
        |kept AS (
        |  SELECT c.doc_id, c.clean FROM clean c
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM flagged)),
        |dedup AS (
        |  SELECT doc_id, md5(clean) AS clean_md5,
        |    len(list_filter(string_split(clean, ' '), x -> x <> '')) AS n_tokens,
        |    row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
        |  FROM kept)
        |SELECT doc_id, clean_md5, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM dedup WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // the link stack replays plant → extraction → resolution; anchors
    // attribute to min-doc_id canonical targets (self-endorsement
    // dropped); combined postings = body tf + 2·anchor tf, then the
    // identical q6 BM25 chain as q_bm25_delete_search
    "q_bm25_anchor_search" ->
      s"""WITH $linkCtes,
        |ud AS (SELECT canonical_url AS url, CAST(min(doc_id) AS BIGINT) AS target_doc
        |       FROM rdcanon GROUP BY 1),
        |an AS (SELECT ud.target_doc AS doc_id, l.anchor
        |       FROM lout l JOIN ud ON ud.url = l.url WHERE l.doc_id <> ud.target_doc),
        |bt AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM documents),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM bt),
        |btf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM bh GROUP BY 1, 2),
        |at2 AS (SELECT doc_id, unnest(list_filter(string_split(anchor,' '), t -> t <> '')) AS term FROM an),
        |ah2 AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM at2),
        |atf AS (SELECT doc_id, th, CAST(2 * count(*) AS BIGINT) AS tf FROM ah2 GROUP BY 1, 2),
        |ctf AS (SELECT doc_id, th, CAST(sum(tf) AS BIGINT) AS tf
        |        FROM (SELECT * FROM btf UNION ALL SELECT * FROM atf) GROUP BY 1, 2),
        |cdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ctf GROUP BY 1),
        |cdfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM ctf GROUP BY 1),
        |cstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM cdl),
        |qv(query_id, qtext) AS (VALUES (9000001, 'guide'), (9000002, 'review news'), (9000003, 'visit h3')),
        |qq AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
        |         ('0x' || substr(md5(term),1,15))::BIGINT AS th
        |       FROM (SELECT query_id, unnest(list_filter(string_split(qtext,' '), t -> t <> '')) AS term FROM qv)),
        |qm AS (SELECT qq.query_id, ctf.doc_id, ctf.tf, cdl.dl, cdfreq.df, cstats.n_docs, cstats.total_dl
        |       FROM qq JOIN ctf USING (th) JOIN cdl ON ctf.doc_id = cdl.doc_id
        |       JOIN cdfreq ON qq.th = cdfreq.th, cstats
        |       WHERE ctf.doc_id <> qq.query_id),
        |qterms AS (SELECT query_id, doc_id,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
        |    ((tf::DOUBLE * (1.2 + 1.0)) / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE/(total_dl::DOUBLE/n_docs::DOUBLE))))) * 1000000.0 + 0.5) AS BIGINT) AS t_q6 FROM qm),
        |qscored AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM qterms GROUP BY 1, 2),
        |qranked AS (SELECT query_id, doc_id, s_q6, row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rank FROM qscored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       floor(s_q6::DOUBLE / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS score
        |FROM qranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x14_word_centrality's and q_doremi_mix's oracles are the dynamic
    // [[ModelOracles.ppmiOracleSql]] and [[ModelOracles.egOracleSql]]: the
    // engine's q6 PPMI edges and per-round EG weights splice in as VALUES,
    // so no cross-engine `ln` or `exp` sits inside the hash gate

    // the card's HLL arm: the q_domain_stats_hll register replay keyed
    // by source over the content fingerprint, exact distinct alongside
    "q_dataset_card_hll" ->
      s"""WITH t AS (
         |  SELECT source, md5(text) AS fp,
         |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks
         |  FROM documents),
         |hh AS (SELECT source,
         |         ('0x' || substr(md5('hll:' || fp), 1, 12))::BIGINT AS h FROM t),
         |hbr AS (SELECT source, h // ${1L << 38} AS bucket, h % ${1L << 38} AS rest FROM hh),
         |hrr AS (SELECT source, bucket,
         |          CASE WHEN rest = 0 THEN 39 ELSE 39 - len(bin(rest)) END AS rho FROM hbr),
         |hmx AS (SELECT source, bucket, max(rho) AS rho FROM hrr GROUP BY 1, 2),
         |hsrc AS (SELECT DISTINCT source FROM t),
         |hallb AS (SELECT hsrc.source, CAST(i AS BIGINT) AS bucket
         |          FROM hsrc, unnest(range(0, 1024)) AS u(i)),
         |hfr AS (SELECT a.source, a.bucket, coalesce(m.rho, 0) AS rho
         |        FROM hallb a LEFT JOIN hmx m ON m.source = a.source AND m.bucket = a.bucket),
         |hex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |               CAST(count(DISTINCT fp) AS BIGINT) AS exact_unique_texts
         |        FROM t GROUP BY 1)
         |SELECT hex.source, hex.n_docs, hex.total_tokens, hex.exact_unique_texts,
         |       CAST(count(*) AS BIGINT) AS m,
         |       CAST(sum(CASE WHEN hfr.rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
         |       CAST(sum(CAST(1 AS BIGINT) << (39 - hfr.rho)) AS BIGINT) AS inv_q39
         |FROM hfr JOIN hex ON hex.source = hfr.source
         |GROUP BY hex.source, hex.n_docs, hex.total_tokens, hex.exact_unique_texts
         |ORDER BY hex.source""".stripMargin
  )
}

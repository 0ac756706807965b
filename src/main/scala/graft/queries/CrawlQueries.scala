package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.GraftExpressions.hllRegisters
import graft.operators._

/** Web-crawl gates: URL canonicalization, registrable domains, robots
  * rules, the link graph, recrawl scheduling, the frontier and fetch
  * queues, HLL/KMV sketches and phrase search, with the planted crawl data
  * and stage builders they share. Oracles: [[graft.oracle.CrawlOracles]]. */
object CrawlQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- web-INGEST pipeline composed as ONE query: HTML→text
    //      extraction → vocabulary-blocklist filter → exact content
    //      dedup (min-id survivor) → token accounting — the crawl ops
    //      chained the way a crawl ingest runs them. The planted chrome
    //      extracts back to the ORIGINAL text, so a (wrapped, plain)
    //      duplicate pair collapses to one survivor post-extraction ----
    "e2e_web_ingest" -> ((s, d) => {
      // URL dedup FIRST — the real crawl order: every doc_id % 10 == 1 page
      // is a re-crawl of its % 10 == 0 neighbor under a different URL
      // spelling (www + default port + tracking param + fragment), so
      // canonical-URL dedup drops it before any content work is paid
      val res = when(col("doc_id") % 10 === 1, col("doc_id") - lit(1L))
        .otherwise(col("doc_id")).cast("string")
      val rawUrl = when(col("doc_id") % 10 === 1,
          concat(lit("https://www.example.com:443/page/"), res, lit("?x=1&utm_source=z#top")))
        .otherwise(concat(lit("https://example.com/page/"), res, lit("?x=1")))
      val uw = org.apache.spark.sql.expressions.Window
        .partitionBy("canonical_url").orderBy("doc_id")
      val crawled = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TextOps.canonicalizeUrl(rawUrl).as("canonical_url"))
        .withColumn("urn", row_number().over(uw)).where(col("urn") === 1)
      val spam = when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" zzspamword"))).otherwise(col("text"))
      val page = when(col("doc_id") % 7 === 0, concat(
        lit("<html><body><p>"), spam,
        lit("</p><script>drop();</script>&nbsp;</body></html>"))).otherwise(spam)
      val clean = crawled
        .select(col("doc_id"), TextOps.extractHtmlText(page).as("clean"))
      val kept = TextOps.blocklistFilter(clean, "doc_id", "clean", Seq("zzspamword"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("clean_md5").orderBy("doc_id")
      kept.select(col("doc_id"), col("clean"), md5(col("clean")).as("clean_md5"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), col("clean_md5"),
          size(TextOps.tokens(col("clean"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- crawl-CURATION pipeline composed as ONE query (a
    //      crawl-curation user runs cap + memorization audit in the
    //      same pass, where the web pipelines stop at strip→quality→
    //      dedup): URL canonicalize → host → PSL registrable domain
    //      (broadcast dimension) → per-domain longest-first cap (rank
    //      rides WindowGroupLimit) → per-document memorization-risk
    //      audit over the POST-CAP corpus (the corpus a training run
    //      would actually see). Kept ids broadcast back to the text
    //      table, so document text never crosses an exchange
    //      (PlanShapeSpec-pinned); the audit itself moves (doc_id, h)
    //      pair rows only. ----
    "e2e_crawl_curation" -> ((s, d) => {
      val (kept, keptDocs) = crawlCurationStages(s, d)
      val audit = Dedup.memorizationRisk(keptDocs, "doc_id", "text",
        n = 8, hotDf = 3)
      kept.join(audit, Seq("doc_id"), "left") // <8-token docs have no windows
        .select(col("registrable_domain"), col("rank_in_domain"),
          col("doc_id"), col("n_toks"),
          coalesce(col("max_df"), lit(0L)).as("max_df"),
          coalesce(col("n_hot"), lit(0L)).as("n_hot"),
          (coalesce(col("hot_frac"), lit(0.0)) >= 0.5).as("memorization_flag"))
        .orderBy("registrable_domain", "rank_in_domain")
    }),

    // ---- anchor-text retrieval enrichment: the
    //      extracted link graph's anchors union into the BM25 index as
    //      weighted postings on their TARGET documents (the classic
    //      anchor-text ranking signal — what the web calls a page),
    //      targets resolved by the canonical url→doc dimension a crawl's
    //      dedup maintains anyway (representative = min doc_id;
    //      self-endorsement dropped). Queries over the anchor vocabulary
    //      surface documents whose own body never says "guide"/"visit".
    //      Oracle: full replay of plant → extraction → resolution → the
    //      combined body+2·anchor postings → q6 scores → top-5 ----
    "q_bm25_anchor_search" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val links = linkGraphStages(s, d)._1
      val urlDoc = docs.select(
          TextOps.canonicalizeUrl(crawlPlantUrl).as("url"), col("doc_id"))
        .groupBy("url").agg(min(col("doc_id")).as("target_doc"))
      val anchors = links.join(broadcast(urlDoc), Seq("url"))
        .where(col("doc_id") =!= col("target_doc"))
        .select(col("target_doc"), col("anchor"))
      val (tfdl, dfreq, n, tdl) = TextOps.bm25IndexWithAnchors(
        docs, "doc_id", "text", anchors, "target_doc", "anchor", weight = 2)
      val queries = Seq((9000001L, "guide"), (9000002L, "review news"),
        (9000003L, "visit h3")).toDF("qid", "qtext")
      val qTerms = TextOps.bm25TermRows(queries, "qid", "query_id", "qtext")
        .distinct()
      TextOps.bm25TopK(TextOps.bm25MatchScores(qTerms, tfdl, dfreq, n, tdl), 5)
        .orderBy("query_id", "rank")
    }),

    // ---- HTML→text extraction (the WET step): planted page chrome
    //      (head/style/script/entities) stripped at scan speed; the
    //      script body deliberately contains '<' and '&&' to pin the
    //      element-before-tag-strip order, and '&amp;amp;' pins the
    //      single-pass entity decode ----
    "x17_html_extract" -> ((s, d) => {
      val page = when(col("doc_id") % 7 === 0, concat(
        lit("<html><head><title>T</title><style type=\"text/css\">p { color: red; }</style></head><body><p class=\"main\">"),
        col("text"),
        lit("</p><script>var x = 1 < 2 && 2 > 1;</script><br/>&lt;tag&gt; &amp;amp; &quot;q&#39; x&nbsp;end</body></html>")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.extractHtmlText(page).as("clean"))
        .orderBy("doc_id")
    }),

    // ---- URL canonicalization + URL-keyed page accounting: every doc gets
    //      a planted spelling variant of its resource's URL (host case, www,
    //      default port, fragment, trailing slash, tracking params, param
    //      order, scheme-less) — canonicalization collapses each resource's
    //      spellings to ONE group key, the identity rule BEFORE any
    //      URL-level dedup or frequency count on a crawl ----
    "q_url_canonical" -> ((s, d) => {
      val r = (col("doc_id") % 40).cast("string")
      val raw =
        when(col("doc_id") % 6 === 0, concat(lit("https://EXAMPLE.com/docs/"), r, lit("?b=2&a=1")))
        .when(col("doc_id") % 6 === 1, concat(lit("https://www.example.com:443/docs/"), r, lit("?a=1&b=2#frag")))
        .when(col("doc_id") % 6 === 2, concat(lit("HTTPS://example.com/docs/"), r, lit("/?a=1&utm_source=feed&b=2")))
        .when(col("doc_id") % 6 === 3, concat(lit("https://example.com/docs/"), r, lit("?utm_campaign=x&fbclid=zz&a=1&b=2")))
        .when(col("doc_id") % 6 === 4, concat(lit("https://example.com/docs/"), r, lit("?b=2&ref=home&a=1")))
        .otherwise(concat(lit("example.com/docs/"), r, lit("?a=1&b=2")))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("url"))
        .select(col("doc_id"), col("url"),
          TextOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("url")).as("n_spellings"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canonical_url")
    }),

    // ---- per-HOST crawl accounting: canonicalized pages rolled up by
    //      authority (pages, distinct canonical resources, token mass) —
    //      the per-site table crawl curation reads to keep/cap/block a
    //      domain; host collapses spelling variants ACROSS schemes ----
    "q_domain_stats" -> ((s, d) =>
      domainStatsPages(s, d)
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("canonical_url")).as("n_resources"),
          sum(col("n_toks")).as("n_tokens"))
        .orderBy("host")),

    // ---- the same per-host crawl rollup with the distinct-resource
    //      count as a GROUPED HLL SKETCH next to the exact one: at 100 TB the exact countDistinct is the expensive
    //      arm (a value-cardinality shuffle per host); the register
    //      sketch ships ONE m-byte row per (partition, host) and merges
    //      by bytewise max. Kept integer-exact cross-engine: the
    //      harmonic-mean denominator Σ 2^(39−ρ) over all m buckets as a
    //      q39 long (the q_hll_distinct surface, here per host), with
    //      the exact distinct riding along as the in-gate error receipt
    //      — est-vs-exact in one row ----
    "q_domain_stats_hll" -> ((s, d) =>
      domainStatsPages(s, d)
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("canonical_url")).as("exact_resources"),
          hllRegisters(col("canonical_url"), 10).as("__regs"))
        .transform(hllRollup(_, "host", "n_pages", "exact_resources"))),

    // ---- registrable-domain (eTLD+1) crawl rollup: q_domain_stats' host column capped at the public-suffix
    //      list's registrable domain — www/news subdomains fold into
    //      their site, while each *.blogspot.com blog stays its own
    //      operator decision and co.uk exercises a multi-label suffix.
    //      The PSL mapping is a DISTINCT-host-cardinality dimension
    //      broadcast back to the page stats. ----
    //      The distinct-host count also ships
    //      as a GROUPED HLL SKETCH next to the exact one — the
    //      q_domain_stats_hll est+exact pattern on the LARGER (eTLD+1)
    //      groups, where the exact countDistinct is the expensive arm at
    //      100 TB: p=10 registers per domain, q39 harmonic denominator
    //      as exact longs, exact distinct riding along as the in-gate
    //      error receipt.
    "q_registrable_domain_stats" -> ((s, d) => {
      val pages = plantedPages(s, d, crawlPlantUrl)
      val dim = TextOps.registrableDomainMap(pages.select("host"), "host",
        rules = TextOps.PublicSuffixRulesFull)
      pages.join(broadcast(dim), Seq("host"))
        .groupBy("registrable_domain")
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_pages"),
          sum(col("n_toks")).as("n_tokens"),
          hllRegisters(col("host"), 10).as("__regs"))
        .transform(hllRollup(_, "registrable_domain", "n_hosts", "n_pages", "n_tokens"))
    }),

    // ---- per-registrable-domain crawl CAP (the curation rule the eTLD+1
    //      rollup exists to drive): keep at most K pages per registrable
    //      domain, longest-first (token count, doc_id tiebreak) — the
    //      "don't let one site dominate the corpus" gate. The rank+filter
    //      rides WindowGroupLimit (per-partition top-K heaps, plan
    //      spec-pinned), never a full per-domain sort; the PSL dimension
    //      broadcasts. ----
    "q_domain_cap" -> ((s, d) => {
      cappedPages(Tables.documents(s, d))
        .select("registrable_domain", "rank_in_domain", "doc_id", "n_toks")
        .orderBy("registrable_domain", "rank_in_domain")
    }),

    // ---- robots.txt-style URL path-rule filter (prefix rules, documented
    //      robots precedence: longest match wins, allow beats disallow on
    //      the identical pattern, no match → allowed). Planted rules hit
    //      the /p/1-vs-/p/12 longest-match pair and the /p/3 family over
    //      the shared crawl corpus; a pure zero-shuffle literal-array
    //      projection (plan spec-pinned). ----
    "q_url_rules_filter" -> ((s, d) => {
      val pages = Tables.documents(s, d).select(col("doc_id"),
        TextOps.canonicalizeUrl(crawlPlantUrl).as("url"))
      TextOps.urlRuleFilter(pages, "doc_id", "url", CrawlUrlRules)
        .orderBy("doc_id")
    }),

    // ---- PER-DOMAIN robots rules as a JOINED dimension: each site's own robots.txt probed per URL — the same
    //      longest-match/allow-beats-disallow election as the global
    //      form, but scoped to the URL's registrable domain, with
    //      CONFLICTING rules planted across domains (/p/1 allowed on
    //      h1.com, a disallow on h3.com) and no-rule-set / NULL-domain
    //      URLs implicitly allowed. The rule dim packs to domain
    //      cardinality and broadcasts (plan spec-pinned); the URL side
    //      never shuffles ----
    "q_url_rules_per_domain" -> ((s, d) => {
      import s.implicits._
      TextOps.urlRuleFilterPerDomain(urlsWithDomain(s, d), "doc_id", "url",
          "registrable_domain",
          CrawlDomainRules.toDF("domain", "rule", "allow"))
        .orderBy("doc_id")
    }),

    // ---- robots USER-AGENT GROUPS (RFC 9309 §2.2.1):
    //      the per-domain dimension gains its agent scope. The crawl
    //      (CrawlAgent = graftbot/1.0) first elects each site's most
    //      specific matching agent group — exact token > prefix token >
    //      `*`, groups REPLACE (never merge with) `*` — then runs the
    //      SAME longest-match election over only that group's rules.
    //      Planted cross-agent conflicts: h1.com allows /p/1 for `*` but
    //      its graftbot group disallows it (same domain, same path,
    //      flipped by WHO asks); h2.com's graftbot/1.0 group outranks
    //      its graftbot group; h0.com's otherbot-only group never
    //      matches → implicit allow. Agent election is domain-cardinality
    //      dimension prep; the per-URL probe plan is byte-identical to
    //      the agentless gate's (broadcast join + codegen election) ----
    "q_url_rules_agent_groups" -> ((s, d) => {
      import s.implicits._
      TextOps.urlRuleFilterForAgent(urlsWithDomain(s, d), "doc_id", "url",
          "registrable_domain",
          CrawlDomainAgentRules.toDF("domain", "agent", "rule", "allow"),
          CrawlAgent)
        .orderBy("doc_id")
    }),

    // ---- RECRAWL / freshness scheduling (Cho & Garcia-Molina
    //      2000): per-URL re-fetch priority = age since
    //      last fetch × observed change rate, exact longs. The planted
    //      fetch log (standing % 5 != 0 docs; epoch = doc_id) gives each
    //      URL a fingerprint history with three regimes by path class —
    //      changes-every-fetch, never-changes, slow epoch-boundary
    //      changes — plus single-fetch URLs (unknown rate → the 0.5
    //      prior) and NEVER-FETCHED URLs (the h0.* universe, % 5 == 0
    //      only), which outrank everything. fetch_rank rides the O(P)
    //      two-phase prefix pass, never a single-task window ----
    "q_recrawl_schedule" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (logd, now) = recrawlFetchLog(s, d)
      val discovered = docs
        .select(TextOps.canonicalizeUrl(crawlPlantUrl).as("url")).distinct()
      val pr = TextOps.recrawlPriority(discovered,
        TextOps.recrawlStats(logd, "url", "doc_id", "fp"), "url", now)
      fetchRanked(pr,
        Seq(col("never_fetched").desc, col("priority_q6").desc_nulls_last, col("url")),
        "url", "never_fetched", "n_fetches", "last_fetch", "n_changes", "age",
        "change_rate_q6", "priority_q6")
    }),

    // ---- per-domain crawl BUDGET, steady-state probe form (the batch
    //      oracle of StreamingPipelines.domainBudgetStream): the % 5 == 0
    //      docs arrive as an ingest epoch and probe the standing corpus's
    //      maintained PSL dimension + per-domain admitted counts; with
    //      budget 30 the two-host .com domains (~40 standing pages each
    //      at sf0.01) are over while blogspot/co.uk (~20) stay under ----
    "q_domain_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), crawlPlantUrl.as("url"))
      val hosts = docs
        .select(TextOps.urlHost(TextOps.canonicalizeUrl(col("url"))).as("host"))
      val dim = TextOps.registrableDomainMap(hosts, "host",
        rules = TextOps.PublicSuffixRulesFull)
      val counts = docs.where(col("doc_id") % 5 =!= 0)
        .select(TextOps.urlHost(TextOps.canonicalizeUrl(col("url"))).as("host"))
        .join(broadcast(dim), Seq("host"))
        .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
      graft.streaming.StreamingPipelines.domainBudgetStream(
          docs.where(col("doc_id") % 5 === 0), dim, counts,
          "doc_id", "url", budget = 30L)
        .orderBy("doc_id")
    }),

    // ---- anchor/outlink extraction (the crawl's link-side WET step):
    //      planted absolute / root-relative / protocol-relative hrefs
    //      extracted at scan speed, resolved against the doc's own
    //      canonical base, and canonicalized — zero-shuffle codegen
    //      end-to-end ----
    "x20_link_extract" -> ((s, d) => linkGraphStages(s, d)._1
      .select("doc_id", "link_no", "href", "url", "dst_host", "anchor")
      .orderBy("doc_id", "link_no")),

    // ---- registrable-domain link graph: extracted outlinks rolled to
    //      (src eTLD+1 → dst eTLD+1, multiplicity), self-domain and
    //      IP-literal endpoints excluded — the edge list a frontier
    //      scheduler and a link-quality prior both consume; the only wide
    //      exchange is the domain-pair count ----
    "q_host_link_graph" -> ((s, d) => linkGraphStages(s, d)._2
      .orderBy("src_domain", "dst_domain")),

    // ---- link-endorsement rank over the domain graph: directed WEIGHTED
    //      q6 PageRank (floor-div longs, bit-identical cross-engine) — the
    //      PageRank-as-crawl-priority signal (Cho et al. 1998); per
    //      iteration one O(edges) join + aggregate on (domain, long) rows ----
    "q_link_pagerank" -> ((s, d) => GraphOps.weightedPageRankDirected(
        linkGraphStages(s, d)._2, "src_domain", "dst_domain", "n_links",
        iterations = 4)
      .orderBy("node")),

    // ---- per-domain anchor-text rollup: what the web CALLS each domain
    //      (the classic anchor-text relevance signal) — top-3 anchor terms
    //      per dst eTLD+1 via one count + ranked window at (domain, term)
    //      cardinality ----
    "q_anchor_topterms" -> ((s, d) => {
      // checkpoint the extracted links: the anchor-term rollup and
      // the PSL dim both read them — one extraction pass, not two
      val links = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val dim = linkHostDim(links).toDF("dst_host", "registrable_domain")
      val terms = links.join(broadcast(dim), Seq("dst_host"))
        .where(col("registrable_domain").isNotNull)
        .select(col("registrable_domain"),
          explode(TextOps.tokens(col("anchor"))).as("term"))
        .groupBy("registrable_domain", "term").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("registrable_domain").orderBy(col("n").desc, col("term"))
      terms.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .orderBy("registrable_domain", "rank")
    }),

    // ---- KMV approximate-distinct sketch over the corpus vocabulary:
    //      the deterministic answer to "how many distinct values at
    //      100 TB" (distinct URLs/users/tokens) without an exact
    //      value-cardinality shuffle; the exact count rides along as the
    //      in-gate error receipt ----
    "q_kmv_distinct" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      CoreOps.kmvDistinct(words, "word", 256)
        .crossJoin(words.agg(countDistinct(col("word")).as("exact_distinct")))
    }),

    // ---- HLL register sketch (native TypedImperativeAggregate): the
    //      MERGEABLE distinct-count sketch — map-side partials ship ONE
    //      m-byte register row per partition instead of the value stream
    //      (kmvDistinct, by contrast, needs a global ordered-limit);
    //      registers are hash-exact integers the oracle reproduces from
    //      the shared md5 contract ----
    "q_hll_registers" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      occupiedBuckets(words.agg(hllRegisters(col("word"), 10).as("regs"))
        .select(posexplode(col("regs")).as(Seq("bucket", "rho"))))
    }),

    // ---- the sketch's estimate surface, kept integer-exact: the
    //      harmonic-mean denominator Σ 2^(39−ρ_j) over ALL m buckets as a
    //      q39 long (HLL's one IEEE step, α·m²·2^39/inv, is a single
    //      division away — asserted statistically in the spec), with the
    //      exact distinct riding along as the in-gate error receipt ----
    "q_hll_distinct" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      val regs = words
        .agg(hllRegisters(col("word"), 10).as("regs"))
        .select(posexplode(col("regs")).as(Seq("bucket", "rho")))
      regs.agg(
          count(lit(1)).as("m"),
          sum(when(col("rho") > 0, 1L).otherwise(0L)).as("n_buckets_hit"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 39 - rho)")).as("inv_q39"))
        .crossJoin(words.agg(countDistinct(col("word")).as("exact_distinct")))
    }),

    // ---- maintained link-graph index, append == rebuild: the standing
    //      corpus's domain edge list plus an ingest epoch's increment,
    //      merged by SUMMING multiplicities — the d23/d24 maintenance
    //      identity, here proven CROSS-ENGINE: the oracle rebuilds the
    //      graph from scratch over the full corpus, so a hash match IS the
    //      append==rebuild proof. Increment cost is the epoch's edges,
    //      never the standing graph ----
    "q_link_graph_append" -> ((s, d) => {
      // ONE extraction pass + ONE PSL dim (guide §2.4)
      // over the full corpus, split AFTER extraction by the doc_id
      // predicate the links row already carries — the old form re-ran the
      // whole extract/canonicalize/PSL chain once per split. Row-identical:
      // the host→domain map is a pure per-host function, so a shared dim
      // built over the superset of hosts elects the same domain per host.
      val links = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val dim = linkHostDim(links).localCheckpoint()
      val standing = linkEdgesFrom(links.where(col("doc_id") % 5 =!= 0), dim)
      val epoch = linkEdgesFrom(links.where(col("doc_id") % 5 === 0), dim)
      standing.unionByName(epoch)
        .groupBy("src_domain", "dst_domain").agg(sum(col("n_links")).as("n_links"))
        .orderBy("src_domain", "dst_domain")
    }),

    // ---- per-domain link reciprocity — the link-farm signal (public
    //      web-spam literature: farms inflate rank with mutual links, so
    //      a high reciprocated share of out-edges is the flag a curation
    //      pass reads next to PageRank): per src domain, out-edge count
    //      and how many are reciprocated. One self-join of the edge list
    //      on the reversed pair, at domain-pair cardinality ----
    "q_link_reciprocity" -> ((s, d) => {
      // localCheckpoint: the edge list feeds BOTH sides of the
      // reversed-pair self-join — without it the whole extraction + PSL +
      // edge-aggregation lineage runs twice (guide §2.4). Domain-pair
      // cardinality, so the materialization is tiny at any scale.
      val edges = linkGraphStages(s, d)._2.localCheckpoint()
      val rev = edges.select(col("dst_domain").as("src_domain"),
        col("src_domain").as("dst_domain"), lit(1L).as("__rec"))
      edges.join(rev, Seq("src_domain", "dst_domain"), "left")
        .groupBy(col("src_domain").as("domain"))
        .agg(count(lit(1)).as("n_out_edges"),
          sum(coalesce(col("__rec"), lit(0L))).as("n_reciprocal"))
        .orderBy("domain")
    }),

    // ---- grouped HLL: one register sketch PER SOURCE via the same
    //      native aggregate under groupBy — the partial-merge path that
    //      makes per-tenant/per-source distinct accounting one pass at
    //      100 TB (each partition ships one m-byte row per source) ----
    "q_hll_per_source" -> ((s, d) => {
      CoreOps.tokenize(Tables.documents(s, d), "text")
        .groupBy("source")
        .agg(hllRegisters(col("word"), 8).as("regs"))
        .select(col("source"), posexplode(col("regs")).as(Seq("bucket", "rho")))
        .where(col("rho") > 0)
        .select(col("source"), col("bucket").cast("long").as("bucket"),
          col("rho").cast("long").as("max_rho"))
        .orderBy("source", "bucket")
    }),

    // ---- HLL STORED-SKETCH MERGE identity, proven cross-engine (the
    //      q_link_graph_append pattern): per-partition register sketches
    //      materialize as a stored sketch table (the daily-sketch shape),
    //      then merge by per-bucket max — the oracle sketches the UNION
    //      directly and never sees the split, so the driver's hash match
    //      IS the mergeability proof. This is the 100 TB accounting
    //      pattern: monthly distinct = a max-merge of stored daily
    //      sketch rows, no re-scan of the data ----
    "q_hll_merge_union" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text")
      val stored = words.groupBy((col("doc_id") % 2).as("part"))
        .agg(hllRegisters(col("word"), 10).as("regs"))
        .select(col("part"), posexplode(col("regs")).as(Seq("bucket", "rho")))
      occupiedBuckets(stored.groupBy("bucket").agg(max(col("rho")).as("rho")))
    }),

    // ---- streaming link-frontier probe, batch oracle form (the
    //      linkFrontierStream contract): the % 5 == 0 docs arrive as an
    //      ingest epoch; their extracted outlinks probe the STANDING
    //      corpus's maintained PSL dimension and domain-endorsement
    //      (PageRank) table — which discovered URLs to enqueue first;
    //      unseen/IP targets probe to rank 0 (the cold-start arm) ----
    "q_link_frontier_probe" -> ((s, d) => {
      val (dim, rank, epoch) = standingFrontier(Tables.documents(s, d), materialize = true)
      graft.streaming.StreamingPipelines.linkFrontierStream(epoch, dim, rank,
          "doc_id", "page", "base0")
        .orderBy("doc_id", "link_no")
    }),

    // ---- composed crawl-frontier scheduling: the budget arm (standing
    //      per-domain page counts vs the crawl cap) joined with the
    //      priority arm (directed-weighted PageRank endorsement over the
    //      extracted link graph) — over-budget domains are parked, the
    //      rest get a fetch order by endorsement. The global rank rides
    //      the O(P) two-phase prefix pass, never a single-task window;
    //      everything else is broadcast dims + domain-cardinality rows ----
    "e2e_crawl_frontier" -> ((s, d) => {
      val st = crawlFrontierStage(s, d)
      val under = st.where(!col("over_budget"))
        .select(col("domain"), col("pr_q6"), lit(1L).as("__one"))
      val ranked = CoreOps.globalPrefixSum(under,
          Seq(col("pr_q6").desc, col("domain")), "__one", "__before")
        .select(col("domain"), (col("__before") + lit(1L)).as("fetch_rank"))
      st.join(ranked, Seq("domain"), "left").orderBy("domain")
    }),

    // ---- per-URL frontier fetch order: the composed
    //      read a crawler actually dequeues. Three arms over the % 5 == 0
    //      ingest epoch's DISCOVERED urls: (1) endorsement — each url's
    //      target domain probed against the standing corpus's PageRank
    //      table (the q_link_frontier_probe arm); (2) admissibility — the
    //      robots rule election spliced in as a zero-shuffle struct
    //      column; (3) budget — the standing per-domain page counts vs
    //      the crawl cap (over-budget domains parked). Novelty: one row
    //      per url (first discoverer kept, discovery multiplicity rides
    //      along); fetch_rank over admissible+under-budget urls by
    //      (endorsement DESC, url) via the O(P) two-phase prefix pass —
    //      never a single-task window (plan spec-pinned); PSL, rank, and
    //      budget dims all broadcast ----
    "e2e_url_frontier" -> ((s, d) => {
      // localCheckpoint: the decision table feeds BOTH the eligible
      // rank arm and the final left join — without it the whole standing
      // pipeline (extraction, PSL, PageRank, probe, novelty) runs twice
      // (guide §2.4). URL cardinality, narrow columns.
      val st = urlFrontierDecisionStages(s, d)._1.localCheckpoint()
      val eligible = st.where(col("allowed") && !col("over_budget"))
        .select(col("url"), col("target_rank_q6"), lit(1L).as("__one"))
      val ranked = CoreOps.globalPrefixSum(eligible,
          Seq(col("target_rank_q6").desc, col("url")), "__one", "__before")
        .select(col("url"), (col("__before") + lit(1L)).as("fetch_rank"))
      st.join(ranked, Seq("url"), "left")
        .select(col("url"), col("src_doc"), col("src_link"),
          col("registrable_domain"), col("target_rank_q6"),
          col("known_domain"), col("n_discoveries"), col("allowed"),
          col("over_budget"), col("fetch_rank"))
        .orderBy("url")
    }),

    // ---- MAINTAINED recrawl stats: append == rebuild (the seventh
    //      maintained-index family): the standing per-URL fetch stats
    //      absorb a later epoch's log in O(epoch) — per-side sums and
    //      extremes plus ONE boundary term (standing last_fp vs epoch
    //      first_fp), which is why the stats carry the boundary
    //      fingerprints. The oracle rebuilds the stats from the WHOLE
    //      log and never sees the split, so the hash match proves
    //      append == rebuild cross-engine (the q_link_graph_append /
    //      q_phrase_index_search pattern) ----
    "q_recrawl_stats_append" -> ((s, d) => {
      val (logd, now) = recrawlFetchLog(s, d)
      val split = now / 2
      TextOps.recrawlStatsAppend(
          TextOps.recrawlStatsFull(
            logd.where(col("doc_id") < split), "url", "doc_id", "fp"),
          logd.where(col("doc_id") >= split), "url", "doc_id", "fp")
        .orderBy("url")
    }),

    // ---- recrawl stats DELETE == REBUILD:
    //      a purged url's whole fetch history leaves the maintained
    //      index via a broadcast anti-join — EXACT by construction
    //      because the stats table is one row per url. The removal set
    //      (urls fetched by % 7 == 2 docs — which includes urls OTHER
    //      docs also fetched, so survivors keep their full history) is
    //      planted; the oracle rebuilds from the log minus those urls
    //      and never sees the delete path, so the hash match proves
    //      delete == rebuild cross-engine ----
    "q_recrawl_stats_delete" -> ((s, d) => {
      val (logd, _) = recrawlFetchLog(s, d)
      val standing = TextOps.recrawlStatsFull(logd, "url", "doc_id", "fp")
      val rm = logd.where(col("doc_id") % 7 === 2).select("url")
      TextOps.recrawlStatsDelete(standing, rm, "url").orderBy("url")
    }),

    // ---- link graph DELETE == REBUILD:
    //      removing documents subtracts their edge contributions — the
    //      append's sum-merge mirrored with negative multiplicities
    //      (edges reaching zero drop; exceeding the standing
    //      multiplicity raises). The oracle rebuilds the graph over the
    //      complement corpus and never sees the subtraction ----
    "q_link_graph_delete" -> ((s, d) => {
      // same one-extraction/one-dim treatment as q_link_graph_append
      val links = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val dim = linkHostDim(links).localCheckpoint()
      val standing = linkEdgesFrom(links, dim)
      val removed = linkEdgesFrom(links.where(col("doc_id") % 7 === 2), dim)
      GraphOps.linkGraphDelete(standing, removed)
        .orderBy("src_domain", "dst_domain")
    }),

    // ---- the UNIFIED fetch queue (the operationally-complete
    //      crawl read composing BOTH schedulers): one ranked queue over
    //      (a) the epoch's eligible DISCOVERIES that the standing fetch
    //      history has never seen — never-fetched, so they outrank
    //      everything, ordered by standing-domain endorsement — and
    //      (b) every KNOWN url scored for re-fetch by the freshness
    //      policy (age × observed change rate). A discovered url the
    //      corpus has already fetched is NOT new (broadcast anti-join
    //      against the stats index): it re-enters through the recrawl
    //      arm at its own priority. The recrawl arm's robots/budget
    //      re-check happens at dequeue time by contract (rules can
    //      change between fetches; recrawls add no pages to the budget).
    //      Rank rides the O(P) two-phase prefix pass ----
    "e2e_fetch_queue" -> ((s, d) => {
      val st = urlFrontierDecisionStages(s, d)._1
      val (logd, now) = recrawlFetchLog(s, d)
      // checkpoint: the stats index feeds BOTH queue arms (priority
      // join + novelty anti-join); one row per url
      val stats = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
        .localCheckpoint()
      val known = TextOps.recrawlPriority(
          logd.select("url").distinct(), stats, "url", now)
        .select(col("url"), lit(false).as("is_new"),
          col("priority_q6").as("score_q6"))
      val newArm = st.where(col("allowed") && !col("over_budget"))
        .join(broadcast(stats.select("url")), Seq("url"), "left_anti")
        .select(col("url"), lit(true).as("is_new"),
          col("target_rank_q6").as("score_q6"))
      fetchRanked(known.unionByName(newArm),
        Seq(col("is_new").desc, col("score_q6").desc, col("url")),
        "url", "is_new", "score_q6")
    }),

    // ---- POLITENESS-aware fetch queue:
    //      a dequeuing crawler must not hammer one host back-to-back, so
    //      the pure-priority order (e2e_fetch_queue, kept as the
    //      documented contrast) gains a per-site interleave: rank WITHIN
    //      each politeness key (registrable domain; the raw host for
    //      IP-literal urls the PSL maps to NULL) by the queue's own
    //      priority order, then order globally by (within_domain_rank,
    //      priority) — every site's first url dequeues before any site's
    //      second, round-robining hosts while preserving priority inside
    //      each round. The per-key window partitions by domain (bounded
    //      by per-domain queue depth, never a single task); the global
    //      rank rides the O(P) prefix pass ----
    "e2e_fetch_queue_polite" -> ((s, d) => {
      fetchRanked(politeFetchQueueStage(s, d),
        Seq(col("within_domain_rank"), col("is_new").desc, col("score_q6").desc, col("url")),
        "url", "politeness_key", "is_new", "score_q6", "within_domain_rank")
    }),

    // ---- SITEMAP ingestion (sitemaps.org protocol, the crawl's
    //      SECOND discovery arm): each % 5 == 0 doc publishes a urlset;
    //      <url> entries extract at scan speed (loc required — the
    //      loc-less entry drops per protocol; <lastmod> optional), locs
    //      run the SHARED canonicalization chain, and each entry probes
    //      the standing fetch-stats index: known_url + the freshness
    //      read a sitemap exists for — modified_since_fetch = the
    //      published lastmod epoch-day vs OUR last fetch of that url
    //      (both polarities planted; NULL when the url is unknown or
    //      lastmod absent). Extraction is zero-shuffle codegen; the
    //      stats index broadcasts ----
    "q_sitemap_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (logd, _) = recrawlFetchLog(s, d)
      val stats = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
      val sm = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), sitemapPlantXml.as("xml"))
      TextOps.extractSitemapUrls(sm, "xml")
        .withColumn("url", TextOps.canonicalizeUrl(col("loc")))
        .join(broadcast(stats.select(col("url"), col("last_fetch"))),
          Seq("url"), "left")
        .select(col("doc_id"), col("url_no"), col("url"), col("lastmod_day"),
          col("last_fetch").isNotNull.as("known_url"),
          when(col("last_fetch").isNotNull && col("lastmod_day").isNotNull,
            col("lastmod_day") > col("last_fetch")).as("modified_since_fetch"))
        .orderBy("doc_id", "url_no")
    }),

    // ---- seen-URL BLOOM filter: the frontier novelty test's
    //      scale path — at 100 TB the seen-set outgrows the broadcast
    //      anti-join, and the classical crawler answer is a packed
    //      Bloom seen-test: "definitely new" is CERTAIN (no false
    //      negatives, spec-asserted), maybe-seen falls back to the
    //      exact index at FP cardinality. The filter is built as the
    //      bit_or MERGE of two half blooms (split by crc32 parity), and
    //      the oracle builds from the WHOLE standing set — the hash
    //      match proves merge == rebuild cross-engine. All md5-derived
    //      exact integers; 62-bit words so no shift overflows a signed
    //      long on either engine; the exact membership rides along as
    //      the in-gate receipt (the est+exact pattern) ----
    "q_url_seen_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val urlC = TextOps.canonicalizeUrl(crawlPlantUrl)
      val standing = docs.where(col("doc_id") % 5 =!= 0)
        .select(urlC.as("url")).distinct()
      val half = (p: Int) => standing
        .where(pmod(crc32(col("url").cast("binary")), lit(2L)) === p)
      val bloom = TextOps.urlBloomMerge(
        TextOps.urlBloomBuild(half(0), "url", UrlBloomBits, UrlBloomK),
        TextOps.urlBloomBuild(half(1), "url", UrlBloomBits, UrlBloomK))
      val candidates = docs.select(urlC.as("url")).distinct()
      TextOps.urlBloomProbe(candidates, "url", bloom, UrlBloomBits, UrlBloomK)
        .join(standing.withColumn("__seen", lit(true)), Seq("url"), "left")
        .select(col("url"), col("maybe_seen"),
          coalesce(col("__seen"), lit(false)).as("actually_seen"))
        .orderBy("url")
    }),

    // ---- exact phrase search via positional postings, rarest-term-first
    //      intersection (the indexed retrieval path BM25 lacks — quote
    //      attribution and exact-sequence decontamination need consecutive
    //      positions, not bags); candidates bounded by the rarest term's
    //      df, postings filtered to the phrase AT SCAN ----
    "q_phrase_search" -> ((s, d) => {
      TextOps.phraseSearch(Tables.documents(s, d), "doc_id", "text",
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    // ---- MAINTAINED positional-postings index (the sixth
    //      maintained-index family): the standing corpus indexed
    //      once, an ingest epoch APPENDED (postings are per-doc local —
    //      the merge is a pure union), a removal set DELETED (broadcast
    //      anti-join), then the phrase probed against the maintained
    //      index — the probe plan never touches document text
    //      (spec-pinned). The oracle rebuilds postings from scratch over
    //      the corpus minus the removals, so a hash match proves
    //      append == rebuild AND delete == rebuild cross-engine (the
    //      q_link_graph_append pattern) ----
    "q_phrase_index_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val standing = TextOps.positionalPostingsIndex(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
      val merged = TextOps.positionalIndexAppend(standing,
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      val maintained = TextOps.positionalIndexDelete(merged,
        docs.where(col("doc_id") % 7 === 2).select("doc_id"), "doc_id")
      TextOps.phraseIndexSearch(maintained, Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    // ---- BATCHED multi-phrase probe of the positional index (bulk
    //      decontamination: thousands of phrases, one plan): phrase terms
    //      join postings by term, a start matches iff all k offsets are
    //      present (count-distinct-offsets == k — the group-count form of
    //      positional intersection); no per-phrase driver election, no
    //      per-phrase job. Four planted phrase shapes: the 3-term quote,
    //      its 2-term prefix, a single term, and a missing-term phrase
    //      that must yield nothing ----
    "q_phrase_multi_search" -> ((s, d) => {
      import s.implicits._
      val idx = TextOps.positionalPostingsIndex(
        Tables.documents(s, d), "doc_id", "text")
      TextOps.phraseSearchAll(idx, BulkPhrases.toDF("phrase_id", "ptext"),
          "phrase_id", "ptext")
        .orderBy("phrase_id", "doc_id")
    }),

    // ---- the SAME bulk probe as a STATELESS per-row scan (the
    //      streaming-ingest shape: crossJoin a broadcast phrase table,
    //      per-row forall over candidate starts — zero state, zero
    //      aggregation, runs unchanged under append mode). Shares the
    //      multi-search gate's oracle VERBATIM, so the two hash gates
    //      together prove scan == postings-join == SQL three ways ----
    "q_phrase_bulk_scan" -> ((s, d) => {
      import s.implicits._
      TextOps.phraseScanMatchesAll(Tables.documents(s, d), "doc_id", "text",
          BulkPhrases.toDF("phrase_id", "ptext"), "phrase_id", "ptext")
        .orderBy("phrase_id", "doc_id")
    }),

    // ---- the release summary with the unique-text count as a GROUPED
    //      HLL SKETCH next to the exact one (the q_domain_stats_hll
    //      receipt pattern on the dataset card): at
    //      100 TB the exact count-distinct over content fingerprints is
    //      the card's expensive arm — the register sketch ships one
    //      m-byte row per (partition, source) and merges by bytewise
    //      max; est-vs-exact side by side is the in-gate error receipt,
    //      and the stored-sketch merge identity (q_hll_merge_union)
    //      means monthly cards fold from daily sketch rows without a
    //      re-scan ----
    "q_dataset_card_hll" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), md5(col("text")).as("fp"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("fp")).as("exact_unique_texts"),
          hllRegisters(col("fp"), 10).as("__regs"))
        .transform(hllRollup(_, "source", "n_docs", "total_tokens", "exact_unique_texts"))
    })
  )

  /** `df`'s `keep` columns followed by the summary of its HLL register
    * array `__regs` (m, the buckets hit, and the harmonic-mean denominator
    * Σ 2^(39−ρ) as an exact q39 long), ordered by the first key. */
  private def hllRollup(df: DataFrame, keep: String*): DataFrame =
    df.select(keep.map(col) ++ Seq(
      size(col("__regs")).cast("long").as("m"),
      size(filter(col("__regs"), r => r > 0)).cast("long").as("n_buckets_hit"),
      expr("aggregate(__regs, CAST(0 AS BIGINT), " +
        "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 39 - r))").as("inv_q39")): _*)
      .orderBy(keep.head)

  /** The occupied buckets of an HLL register table (bucket, rho) as
    * (bucket, max_rho) longs, by bucket. */
  private def occupiedBuckets(regs: DataFrame): DataFrame =
    regs.where(col("rho") > 0)
      .select(col("bucket").cast("long").as("bucket"), col("rho").cast("long").as("max_rho"))
      .orderBy("bucket")

  /** The planted phrase table of the two bulk-phrase gates (engine side
    * mirrors it as a literal DataFrame): the 3-term quote, its 2-term
    * prefix, a single term, and a missing-term phrase. */
  private[graft] val BulkPhrases: Seq[(Long, String)] = Seq(
    (1L, "slow hash batch"), (2L, "slow hash"),
    (3L, "batch"), (4L, "batch zz_missing"))

  /** The multi-spelling [[plantedPages]] of the `q_domain_stats` pair,
    * over the four planted raw-URL arms (www prefix, default port,
    * scheme-less, trailing slash), ONE definition for the exact and HLL
    * gates so their est-vs-exact comparison reads the identical page set. */
  private def domainStatsPages(s: SparkSession, d: String): DataFrame = {
    val hostN = (col("doc_id") % 5).cast("string")
    val res = (col("doc_id") % 20).cast("string")
    val raw =
      when(col("doc_id") % 4 === 0,
        concat(lit("https://WWW.h"), hostN, lit(".com/p/"), res, lit("?a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://h"), hostN, lit(".com:443/p/"), res, lit("?a=1&utm_x=1")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("h"), hostN, lit(".com/p/"), res, lit("?a=1")))
      .otherwise(
        concat(lit("https://h"), hostN, lit(".com/p/"), res, lit("/?a=1")))
    plantedPages(s, d, raw)
  }

  /** Every document as a page at its planted `raw` URL: (canonical_url,
    * host, n_toks). */
  private def plantedPages(s: SparkSession, d: String, raw: Column): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.canonicalizeUrl(raw).as("canonical_url"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      .select(col("canonical_url"),
        TextOps.urlHost(col("canonical_url")).as("host"), col("n_toks"))

  /** The planted multi-suffix crawl URL shared by the three eTLD+1 gates
    * (`q_registrable_domain_stats`, `q_domain_cap`, `q_domain_budget`) —
    * ONE definition, mirrored by [[graft.oracle.CrawlOracles.crawlPslCtes]]'s `raw` CTE on the
    * oracle side, so a plant change hits every consumer or none. */
  private def crawlPlantUrl: Column =
    concat(lit("https://"), crawlPlantHost(col("doc_id")), lit("/p/"),
      (col("doc_id") % 20).cast("string"), lit("?a=1"))

  /** The planted crawl HOST as a function of an arbitrary long key — the
    * one host universe shared by the doc's own URL ([[crawlPlantUrl]],
    * key = doc_id) and the link plant's anchor targets ([[linkPlantPage]],
    * keys derived from doc_id), so the link graph's nodes are exactly the
    * crawl gates' domains. Mirrored in SQL by [[graft.oracle.CrawlOracles.crawlHostSql]]. */
  private def crawlPlantHost(k: Column): Column = {
    val hostN = (k % 5).cast("string")
    // sparse IP-literal plants: a bracketed IPv6
    // authority with a non-default port and a bare dotted IPv4 — both
    // map to a NULL registrable domain under the PSL (IP literals have
    // none), exercising the NULL group/order path in all consumers
    when(k % 19 === 3, lit("[2001:db8::1]:8080"))
      .when(k % 19 === 7, lit("192.0.2.1"))
      .when(k % 4 === 0, concat(lit("WWW.h"), hostN, lit(".com")))
      .when(k % 4 === 1, concat(lit("news.h"), hostN, lit(".com")))
      .when(k % 4 === 2, concat(lit("h"), hostN, lit(".blogspot.com")))
      .otherwise(concat(lit("a.h"), hostN, lit(".co.uk")))
  }

  /** Anchor-vocabulary keyword for link key `k` — keeps the planted
    * anchor text a 3-term vocabulary so the per-domain anchor rollup has
    * a meaningful term distribution. SQL mirror: [[graft.oracle.CrawlOracles.linkKindSql]]. */
  private def linkKindWord(k: Column): Column =
    when(k % 3 === 0, lit("guide"))
      .when(k % 3 === 1, lit("review"))
      .otherwise(lit("news"))

  /** The planted HTML page with outgoing anchors — the link-graph
    * family's input, built over the SAME host universe as
    * [[crawlPlantUrl]] so extracted edges land on the crawl gates'
    * domains. Three anchor forms, one per href resolution arm of
    * [[graft.operators.TextOps.resolveLink]]:
    *
    *   - a1 (every doc): ABSOLUTE href to host key 3·doc_id+1, carrying a
    *     tracking param so resolution composes with canonicalization;
    *   - a2 (every doc): ROOT-RELATIVE `/q/…` — resolves against the
    *     doc's own authority (a self-domain edge, visible in
    *     `x20_link_extract`, excluded from the domain graph);
    *   - a3 (doc_id % 3 == 0): PROTOCOL-RELATIVE `//host/…` to host key
    *     5·doc_id+2 — resolves with the base's scheme.
    *
    * SQL mirror: [[graft.oracle.CrawlOracles.linkPageSql]] (char-for-char the same page string). */
  private def linkPlantPage: Column = {
    val d = col("doc_id")
    val k1 = d * 3 + 1
    val k3 = d * 5 + 2
    val a1 = concat(lit("<a href=\"https://"), crawlPlantHost(k1), lit("/p/"),
      (k1 % 20).cast("string"), lit("?a=1&utm_l=9\">visit h"),
      (k1 % 5).cast("string"), lit(" "), linkKindWord(k1), lit("</a>"))
    val a2 = concat(lit("<a href=\"/q/"), (d % 10).cast("string"),
      lit("\">more "), linkKindWord(d), lit("</a>"))
    val a3 = when(d % 3 === 0, concat(lit(" <a href=\"//"), crawlPlantHost(k3),
      lit("/p/"), (k3 % 20).cast("string"), lit("\">visit h"),
      (k3 % 5).cast("string"), lit(" "), linkKindWord(k3), lit("</a>")))
      .otherwise(lit(""))
    concat(lit("<html><body><p>"), col("text"), lit("</p>"), a1, lit(" "), a2,
      a3, lit("</body></html>"))
  }

  /** The sitemap plant of `q_sitemap_ingest` (SQL mirror inline in its
    * oracle): each % 5 == 0 doc "publishes" a sitemaps.org urlset with
    * (a) its OWN canonical url WITHOUT `<lastmod>` — the crawl-plant
    *     CRT classes put every %5==0 doc's (host, path) outside the
    *     standing fetch log (path % 5 == 0 never standing-fetched), so
    *     this is the DISCOVERY arm: known_url false, lastmod NULL;
    * (b) the link plant's k1 target in its CANONICAL '?a=1' spelling —
    *     k1 % 5 == 1, a STANDING-fetched class — carrying a `<lastmod>`
    *     planted at epoch-day `doc_id + (doc_id % 3 − 1)·200`: far
    *     enough either side of the url's standing last fetch that
    *     modified_since_fetch exercises BOTH polarities;
    * (c) a loc-less entry the protocol drops.
    * Epoch-days keep the freshness algebra in exact longs: `<lastmod>`
    * is the ISO date of epoch-day e, and parsing it back yields exactly
    * e on both engines. */
  private def sitemapPlantXml: Column = {
    val d = col("doc_id")
    val k1 = d * 3 + 1
    val lmDay = (d + (d % 3 - 1) * 200).cast("int")
    val own = concat(lit("<url><loc>https://"), crawlPlantHost(d), lit("/p/"),
      (d % 20).cast("string"), lit("?a=1</loc></url>"))
    val other = concat(lit("<url><loc>https://"), crawlPlantHost(k1),
      lit("/p/"), (k1 % 20).cast("string"), lit("?a=1</loc><lastmod>"),
      date_format(date_add(to_date(lit("1970-01-01")), lmDay), "yyyy-MM-dd"),
      lit("</lastmod></url>"))
    concat(lit("<?xml version=\"1.0\"?><urlset>"), own, other,
      lit("<url><lastmod>1999-12-31</lastmod></url></urlset>"))
  }

  /** The link-graph family's two shared stages: `links` — every planted
    * anchor extracted, resolved against the doc's own canonical base, and
    * canonicalized (doc_id, link_no, href, url, dst_host, anchor, base);
    * `edges` — the registrable-domain (eTLD+1) link graph
    * (src_domain, dst_domain, n_links), self-domain and NULL-domain (IP
    * literal) endpoints excluded. Scale shape: extraction + resolution are
    * zero-shuffle codegen projections; the PSL dimension is built at
    * DISTINCT-host cardinality and BROADCAST back twice (src and dst
    * sides); the only wide exchange is the final (domain, domain) count —
    * domain-pair cardinality, never page cardinality. Returns (links,
    * edges, dim): `dim` is the (host, registrable_domain) PSL dimension
    * over BOTH endpoints' hosts. */
  private[graft] def linkGraphStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val links = extractedLinksFrom(Tables.documents(s, d))
    val dim = linkHostDim(links)
    (links, linkEdgesFrom(links, dim), dim)
  }

  /** Extraction stage of [[linkGraphStages]]: every planted anchor
    * extracted, resolved, canonicalized — a zero-shuffle codegen
    * projection over the documents scan. Split out so queries that need the SAME extracted links under several
    * doc-split predicates can run the extraction once and filter the
    * (doc_id-carrying) result, instead of re-running the whole regex/
    * canonicalization chain per split. */
  private[graft] def extractedLinksFrom(docs: DataFrame): DataFrame = {
    val pages = docs.select(col("doc_id"),
      TextOps.canonicalizeUrl(crawlPlantUrl).as("base"),
      linkPlantPage.as("page"))
    TextOps.extractLinks(pages, "page")
      .withColumn("url",
        TextOps.canonicalizeUrl(TextOps.resolveLink(col("base"), col("href"))))
      .withColumn("dst_host", TextOps.urlHost(col("url")))
      .select("doc_id", "link_no", "href", "url", "dst_host", "anchor", "base")
  }

  /** PSL dimension over BOTH endpoints' hosts of an extracted link table —
    * the (host, registrable_domain) map every consumer joins. */
  private[graft] def linkHostDim(links: DataFrame): DataFrame = {
    val hosts = links.select(col("dst_host").as("host"))
      .union(links.select(TextOps.urlHost(col("base")).as("host")))
    TextOps.registrableDomainMap(hosts, "host",
      rules = TextOps.PublicSuffixRulesFull)
  }

  /** Edge-aggregation stage of [[linkGraphStages]] over an already-
    * extracted link table and an already-built PSL dimension: the eTLD+1
    * (src → dst, multiplicity) rollup, self-domain and NULL-domain
    * endpoints excluded. The host→domain map is a pure per-host function,
    * so building edges for a doc-split from a SHARED dim built over the
    * full corpus's hosts is row-identical to rebuilding the dim per split. */
  private[graft] def linkEdgesFrom(links: DataFrame, dim: DataFrame): DataFrame =
    links
      .select(TextOps.urlHost(col("base")).as("src_host"), col("dst_host"))
      .join(broadcast(dim.toDF("src_host", "src_domain")), Seq("src_host"))
      .join(broadcast(dim.toDF("dst_host", "dst_domain")), Seq("dst_host"))
      .where(col("src_domain").isNotNull && col("dst_domain").isNotNull &&
        col("src_domain") =!= col("dst_domain"))
      .groupBy("src_domain", "dst_domain").agg(count(lit(1)).as("n_links"))

  /** The cap and post-cap stages of the `e2e_crawl_curation` gate, split
    * out so PlanShapeSpec can pin the pre-audit join shape (the
    * [[graft.operators.Dedup.memorizationRisk]] audit localCheckpoints
    * its pair table, which truncates the lineage the returned plan
    * shows): `kept` is the per-domain longest-first cap output
    * (registrable_domain, rank_in_domain, doc_id, n_toks, host); `keptDocs`
    * is the documents table semi-joined to the kept ids with the id set
    * explicitly BROADCAST — the text relation must never move through an
    * exchange to meet the post-cap filter. */
  private[graft] def crawlCurationStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    // localCheckpoint: `kept` feeds the broadcast id set AND the gate's
    // final join — without it the pages+PSL+cap-window chain runs once per
    // consumer. (domain, rank, id, n_toks, host) rows.
    val kept = cappedPages(docs).localCheckpoint()
    val keptDocs = docs.join(broadcast(kept.select("doc_id")),
      Seq("doc_id"), "left_semi")
    (kept, keptDocs)
  }

  /** Every planted page's canonical url with its registrable domain (the
    * PSL dimension broadcast): (host, doc_id, url, registrable_domain). */
  private def urlsWithDomain(s: SparkSession, d: String): DataFrame = {
    val urls = Tables.documents(s, d).select(col("doc_id"),
        TextOps.canonicalizeUrl(crawlPlantUrl).as("url"))
      .withColumn("host", TextOps.urlHost(col("url")))
    val dim = TextOps.registrableDomainMap(
      urls.select("host"), "host", rules = TextOps.PublicSuffixRulesFull)
    urls.join(broadcast(dim), Seq("host"))
  }

  /** The `keep` columns of each queued url with its `fetch_rank`, the
    * 1-based position in `order`, by url. The rank rides the O(P)
    * two-phase prefix pass, never a single-task window. */
  private def fetchRanked(queue: DataFrame, order: Seq[Column], keep: String*): DataFrame =
    CoreOps.globalPrefixSum(queue.withColumn("__one", lit(1L)), order, "__one", "__before")
      .select(keep.map(col) :+ (col("__before") + lit(1L)).as("fetch_rank"): _*)
      .orderBy("url")

  /** The crawl cap over `docs`' planted pages (doc_id, host, n_toks): the
    * first 8 per registrable domain (PSL dimension broadcast), ranked
    * longest-first (token count, doc_id tiebreak). */
  private def cappedPages(docs: DataFrame): DataFrame = {
    val pages = docs.select(col("doc_id"),
      TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
    val dim = TextOps.registrableDomainMap(pages.select("host"), "host",
      rules = TextOps.PublicSuffixRulesFull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("registrable_domain")
      .orderBy(col("n_toks").desc, col("doc_id"))
    pages.join(broadcast(dim), Seq("host"))
      .withColumn("rank_in_domain", row_number().over(w).cast("long"))
      .where(col("rank_in_domain") <= 8)
  }

  /** The composed (budget, endorsement) per-domain decision table of
    * `e2e_crawl_frontier` (one extraction pass — links feed the edge
    * rollup AND the PSL dim; dim checkpointed for its two consumers; the
    * composed table checkpointed for ITS two consumers, the eligible rank
    * arm + the final join — guide §2.4). `materialize = false` is the
    * PlanShapeSpec full-lineage view (see [[urlFrontierDecisionStages]]);
    * queries always run materialized. */
  private[graft] def crawlFrontierStage(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    def ck(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    val links = ck(extractedLinksFrom(Tables.documents(s, d)))
    val dim = ck(linkHostDim(links))
    val edges = linkEdgesFrom(links, dim)
    val pages = Tables.documents(s, d).select(
      TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"))
    val counts = pages.join(broadcast(dim), Seq("host"))
      .where(col("registrable_domain").isNotNull)
      .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
    val pr = domainRank(edges)
    ck(counts.join(pr, Seq("registrable_domain"), "left")
      .select(col("registrable_domain").as("domain"), col("n_pages"),
        coalesce(col("pr_q6"), lit(0L)).as("pr_q6"),
        (col("n_pages") >= 30).as("over_budget")))
  }

  /** The per-URL frontier DECISION table shared by `e2e_url_frontier`
    * and `e2e_fetch_queue` (one definition, so the queue's discovery arm
    * IS the frontier gate's rows): standing link graph → PageRank
    * endorsement + PSL + per-domain robots + budget dims → the
    * [[graft.streaming.StreamingPipelines.urlFrontierStream]] per-link
    * pass over the % 5 == 0 ingest epoch → per-epoch novelty election
    * (first discoverer per url). Returned with the standing PSL dimension
    * it built, so `politeFetchQueueStage` joins the SAME dimension instead
    * of re-running the standing link extraction to derive its own copy
    * (the mapping is a pure per-host function, so
    * sharing is row-identical). The extracted standing links and the dim
    * are localCheckpointed: the links feed the edge rollup AND the dim,
    * and the dim is broadcast by three consumers (budget counts, frontier
    * probe, politeness key) — each broadcast would otherwise recompute
    * the whole extraction + PSL election lineage (guide §2.4).
    *
    * `materialize = false` skips the checkpoints so PlanShapeSpec can pin
    * the FULL standing-pipeline plan (extraction → PSL → probe → novelty)
    * — the checkpoints truncate the visible lineage, which made the
    * gate-level "no text/page in any exchange" guards vacuous for
    * everything upstream of them. Queries always run with
    * materialize = true; the flag changes physical evaluation only, never
    * rows. */
  private[graft] def urlFrontierDecisionStages(s: SparkSession, d: String,
      materialize: Boolean = true): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val (dim, rank, epoch) = standingFrontier(docs, materialize)
    val counts = docs.where(col("doc_id") % 5 =!= 0)
      .select(TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"))
      .join(broadcast(dim), Seq("host"))
      .where(col("registrable_domain").isNotNull)
      .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
    // the admissibility dimension is AGENT-SCOPED: the RFC 9309 group election for CrawlAgent runs once at
    // domain cardinality and packs to the same (domain, rules) shape
    // the streaming frontier has always consumed — per-URL work
    // unchanged, who-is-asking decided in dimension prep
    val rulesPacked = TextOps.urlRulesPackedForAgent({
      import s.implicits._
      CrawlDomainAgentRules.toDF("domain", "agent", "rule", "allow")
    }, CrawlAgent)
    // ALL three per-link decision arms (endorsement probe, per-domain
    // robots election, budget gate) are the streaming frontier's ONE
    // definition — the gates compose only the per-EPOCH novelty
    // election and the global rank on top, so batch == stream for the
    // decision columns by construction (spec-pinned)
    val probe = graft.streaming.StreamingPipelines.urlFrontierStream(
      epoch, dim, rank, rulesPacked, counts, "doc_id", "page", "base0",
      budget = 30L)
    // novelty arm: one queue row per discovered url — the FIRST
    // discoverer (min (doc_id, link_no)) keeps it; domain/rank/rule/
    // budget columns are functions of the url, so max() just picks the
    // shared value
    val st = probe.groupBy("url").agg(
        min(struct(col("doc_id"), col("link_no"))).as("__d"),
        max(col("registrable_domain")).as("registrable_domain"),
        max(col("target_rank_q6")).as("target_rank_q6"),
        max(col("known_domain")).as("known_domain"),
        count(lit(1)).as("n_discoveries"),
        max(col("allowed")).as("allowed"),
        max(col("over_budget")).as("over_budget"))
      .select(col("url"), col("__d.doc_id").as("src_doc"),
        col("__d.link_no").as("src_link"), col("registrable_domain"),
        col("target_rank_q6"), col("known_domain"), col("n_discoveries"),
        col("allowed"), col("over_budget"))
    (st, dim)
  }

  /** (PSL dim, domain PageRank) of the standing (% 5 ≠ 0) corpus and the
    * pages (doc_id, base0, page) of the % 5 == 0 ingest epoch probing them.
    * `materialize` localCheckpoints the standing links (edge rollup AND
    * dim read them) and the dim (every consumer broadcasts it). */
  private def standingFrontier(docs: DataFrame, materialize: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    def ck(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    val standingLinks = ck(extractedLinksFrom(docs.where(col("doc_id") % 5 =!= 0)))
    val dim = ck(linkHostDim(standingLinks))
    val rank = domainRank(linkEdgesFrom(standingLinks, dim))
    val epoch = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), crawlPlantUrl.as("base0"), linkPlantPage.as("page"))
    (dim, rank, epoch)
  }

  /** Directed weighted q6 PageRank (4 iterations) over a domain link
    * graph (src_domain, dst_domain, n_links), as (registrable_domain, pr_q6). */
  private def domainRank(edges: DataFrame): DataFrame =
    GraphOps.weightedPageRankDirected(edges,
        "src_domain", "dst_domain", "n_links", iterations = 4)
      .select(col("node").as("registrable_domain"), col("pr_q6"))

  /** The politeness-keyed queue stage of `e2e_fetch_queue_polite`, split
    * out (the [[crawlCurationStages]] treatment) so PlanShapeSpec can pin
    * the within-domain rank window BEFORE [[graft.operators.CoreOps.globalPrefixSum]]
    * materializes the frame and truncates the visible lineage: the two
    * queue arms of `e2e_fetch_queue`, each carrying its politeness key
    * (registrable domain; the raw host when the PSL maps it to NULL —
    * IP literals), ranked WITHIN key by the queue's own priority order.
    * The window partitions by the key (bounded by per-domain queue
    * depth, never a single task — spec-pinned). */
  private[graft] def politeFetchQueueStage(s: SparkSession,
      d: String, materialize: Boolean = true): DataFrame = {
    // take the SAME PSL dim the frontier decisions
    // built (it is a pure per-host map — sharing is row-identical) instead
    // of re-running the standing link extraction to derive a second copy;
    // checkpoint the stats index, which is consumed by BOTH queue arms
    // (priority join + novelty anti-join) and is one row per url.
    // `materialize = false` is the PlanShapeSpec full-lineage view (see
    // urlFrontierDecisionStages).
    val (st, dim) = urlFrontierDecisionStages(s, d, materialize)
    val (logd, now) = recrawlFetchLog(s, d)
    val stats0 = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
    val stats = if (materialize) stats0.localCheckpoint() else stats0
    val known = TextOps.recrawlPriority(
        logd.select("url").distinct(), stats, "url", now)
      .withColumn("host", TextOps.urlHost(col("url")))
      .join(broadcast(dim), Seq("host"), "left")
      .select(col("url"), lit(false).as("is_new"),
        col("priority_q6").as("score_q6"),
        coalesce(col("registrable_domain"), col("host"))
          .as("politeness_key"))
    val newArm = st.where(col("allowed") && !col("over_budget"))
      .join(broadcast(stats.select("url")), Seq("url"), "left_anti")
      .select(col("url"), lit(true).as("is_new"),
        col("target_rank_q6").as("score_q6"),
        coalesce(col("registrable_domain"), TextOps.urlHost(col("url")))
          .as("politeness_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("politeness_key")
      .orderBy(col("is_new").desc, col("score_q6").desc, col("url"))
    known.unionByName(newArm)
      .withColumn("within_domain_rank", row_number().over(w).cast("long"))
  }

  /** The planted fetch history shared by `q_recrawl_schedule` and
    * `e2e_fetch_queue` (one definition; SQL mirror [[graft.oracle.CrawlOracles.recrawlFpSql]]):
    * standing (% 5 != 0) docs fetch their canonical URL at
    * epoch = doc_id, with three fingerprint regimes by path class —
    * changes-every-fetch, never-changes, slow boundary changes. Returns
    * (log(doc_id, url, fp), now), `now` the one bounded aggregate scalar
    * (a real scheduler passes wall time). */
  private def recrawlFetchLog(s: SparkSession, d: String): (DataFrame, Long) = {
    val docs = Tables.documents(s, d)
    val urlC = TextOps.canonicalizeUrl(crawlPlantUrl)
    val pc = (col("doc_id") % 20) % 3
    val logd = docs.where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), urlC.as("url"))
      .withColumn("fp", md5(
        when(pc === 0, concat(col("url"), lit("#"), col("doc_id").cast("string")))
          .when(pc === 1, col("url"))
          .otherwise(concat(col("url"), lit("#"),
            expr("doc_id div 760").cast("string")))))
    val now = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (logd, now)
  }

  /** Rule table of the `q_url_rules_filter` gate (shared with its spec):
    * exercises longest-match (`/p/1` vs `/p/12`), the identical pattern
    * with both polarities (`/dup`, where allow wins), and the implicit
    * allow for unmatched paths. */
  val CrawlUrlRules: Seq[(String, Boolean)] = Seq(
    "/p/1" -> false, "/p/12" -> true, "/p/3" -> false,
    "/dup" -> true, "/dup" -> false)

  /** PER-DOMAIN rule dimension of the `q_url_rules_per_domain` gate and
    * the frontier's admissibility arm — each site's own
    * robots.txt as (domain, rule, allow) rows. Planted to exercise every
    * election arm AGAINST the crawl plant's fixed (domain, path) pairs
    * (doc_id mod 20 determines both):
    *   - CONFLICT across domains: `/p/1` is allowed on h1.com (its /p/1
    *     and /p/16 pages) but matches as a DISALLOW on h3.com's /p/13 —
    *     the same path string, opposite polarity, decided per domain;
    *   - longest match within h2.com: /p/12 allowed over the /p/1
    *     disallow; its /p/17 page only matches /p/1 → disallowed;
    *   - identical pattern both polarities on h2.co.uk's /p/7: allow wins;
    *   - root disallow on the private-suffix domain h4.blogspot.com;
    *   - a rule for a domain the corpus never produces (inert);
    *   - domains with NO rule set (h0.com, h4.com, …) and NULL-domain IP
    *     literals: implicitly allowed. */
  val CrawlDomainRules: Seq[(String, String, Boolean)] = Seq(
    ("h1.com", "/p/1", true), ("h3.com", "/p/1", false),
    ("h2.com", "/p/1", false), ("h2.com", "/p/12", true),
    ("h2.co.uk", "/p/7", true), ("h2.co.uk", "/p/7", false),
    ("h4.blogspot.com", "/", false),
    ("absent.example", "/", false))

  /** The crawl's own user-agent string — the constant the RFC 9309
    * agent-group election runs against (`q_url_rules_agent_groups` and
    * the frontier's admissibility arm). */
  val CrawlAgent: String = "graftbot/1.0"

  /** Seen-URL bloom sizing of `q_url_seen_bloom` (shared with specs):
    * 1024 bits / 3 hashes over the ~65-url standing set at sf0.01 —
    * ~0.2 bits-set density, so false positives are possible but rare,
    * and the gate's exact arm records whichever occurred. */
  val UrlBloomBits = 1024
  val UrlBloomK = 3

  /** AGENT-SCOPED per-domain rule dimension (RFC 9309 §2.2.1): [[CrawlDomainRules]] as the `*` groups, plus named-agent
    * groups planted to exercise every election arm against
    * [[CrawlAgent]] = "graftbot/1.0":
    *   - `*` vs NAMED conflict on ONE domain: h1.com's `*` group allows
    *     /p/1 but its `graftbot` group disallows it — for graftbot the
    *     named group REPLACES `*` entirely (groups do not merge), so
    *     /p/1 flips to disallowed while a generic crawler keeps the
    *     allow;
    *   - SPECIFICITY between two matching named groups: h2.com carries
    *     both `graftbot` (all /p disallowed) and `graftbot/1.0`
    *     (/p/12 allowed) — the longer token wins, so /p/12 is allowed
    *     and /p/17 (matched only by the LOSING group's rule) falls to
    *     the implicit allow;
    *   - NON-MATCHING named group only: h0.com's `otherbot` group never
    *     matches graftbot and h0.com has no `*` group → every h0.com
    *     path is implicitly allowed (the RFC default);
    *   - `*`-group fallback: h2.co.uk / h3.com / h4.blogspot.com have
    *     only `*` groups, which elect for every agent — the agentless
    *     gate's polarity/longest-match/root-disallow arms carry over
    *     verbatim. */
  val CrawlDomainAgentRules: Seq[(String, String, String, Boolean)] =
    CrawlDomainRules.map { case (d, p, a) => (d, "*", p, a) } ++ Seq(
      ("h1.com", "graftbot", "/p/1", false),
      ("h2.com", "graftbot", "/p", false),
      ("h2.com", "graftbot/1.0", "/p/12", true),
      ("h0.com", "otherbot", "/", false))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
// bit-reproducible transcendentals (StrictMath in BOTH eval paths) for
// every quantized ln/exp — the built-ins are StrictMath only under codegen
// and Math on the interpreted path, which is JIT-tier/process dependent
import graft.expressions.GraftExpressions.{expStrict, lnStrict}

/** Text-analysis operators for training-data curation: token statistics,
  * quality scoring, language identification, and content fingerprinting.
  * All codegen-friendly built-ins; every step is reproducible in plain SQL
  * (and therefore DuckDB-oracle-checkable).
  */
object TextOps {

  /** Whitespace tokens (empties dropped). */
  def tokens(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** Half-up rounding to 4 decimals IN DOUBLE SPACE: floor(x·10⁴ + 0.5)/10⁴.
    * `round(x, 4)` is engine-divergent on half-boundaries — Spark rounds the
    * exact binary value via BigDecimal while DuckDB rounds x·10⁴ computed in
    * floats — and these ratio scores (small integer denominators) hit exact
    * .00005 boundaries often enough to flip a digit. This formulation is the
    * same IEEE ops on both sides, so results are bit-identical. Non-negative
    * inputs only. */
  private[graft] def round4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** PII scrubbing for training corpora: masks email-shaped tokens and long
    * digit runs (ids, phone numbers). Pure `regexp_replace` — codegen'd,
    * scan-speed, no UDF — with patterns chosen to behave identically under
    * Java regex and RE2-style engines (character classes and bounded
    * quantifiers only, no backtracking constructs), so the DuckDB oracle
    * replays them verbatim. Order matters: emails first, then digit runs
    * (an email's digits are already masked with it). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Luhn-validated payment-card redaction — the PII rule [[redactPii]]'s
    * blanket `\d{6,}` → `<NUM>` is too blunt for: a 13–19 digit
    * `\b`-bounded run redacts to `<CARD>` ONLY when it passes the Luhn
    * checksum ([[graft.expressions.LuhnValid]], ISO/IEC 7812), so ids,
    * timestamps, and hashes survive while real card numbers do not —
    * the false-positive/false-negative tradeoff every payment-format
    * detector makes. Output: (doc_id, n_digit_runs, n_cards, redacted);
    * `n_cards` counts valid OCCURRENCES (duplicates included).
    *
    * Scale shape: candidates ride `regexp_extract_all` (RE2-safe — no
    * lookarounds, so the DuckDB oracle replays the pattern verbatim),
    * the Luhn check is the native codegen expression per candidate, and
    * redaction is a candidate-cardinality fold of exact-substring
    * replaces (distinct `\b`-bounded runs cannot overlap, so the fold
    * order is immaterial). Pure zero-shuffle projection; text never
    * leaves its scan. */
  def redactCards(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit("\\b[0-9]{13,19}\\b"), lit(0))
    val valid = filter(cands,
      c => graft.expressions.GraftExpressions.luhnValid(c))
    docs.select(col(idCol).cast("long").as("doc_id"),
      size(cands).cast("long").as("n_digit_runs"),
      size(valid).cast("long").as("n_cards"),
      aggregate(valid, col(textCol),
        (acc, c) => replace(acc, c, lit("<CARD>"))).as("redacted"))
  }

  /** HTML→text extraction (the WET step of a web-crawl pipeline: strip
    * markup, keep prose). Order matters and is part of the contract:
    * (1) `<script>`/`<style>` ELEMENTS go first, content and all — their
    * bodies are code, not prose, and removing tags first would strand it;
    * (2) remaining tags collapse to a space (so `a<br/>b` keeps its word
    * break); (3) the five HTML entities that survive in text decode AFTER
    * tag-stripping, so a decoded `&lt;tag&gt;` cannot be re-stripped —
    * `&amp;` goes LAST so `&amp;lt;` decodes to the literal `&lt;` exactly
    * once (single-pass `replace`, no rescan); (4) whitespace runs collapse.
    * Pure `regexp_replace`/`replace` — codegen'd, scan-speed, no UDF.
    * Patterns are RE2-safe (lazy quantifiers + inline `(?s)` only; the
    * whitespace class is spelled explicitly because Java's `\s` includes
    * `\x0B` and RE2's does not), so the DuckDB oracle replays them
    * verbatim. */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(entities, "[ \\t\\n\\r\\f]+", " "))
  }

  /** URL canonicalization — the identity rule BEFORE any URL-level dedup or
    * frequency count (a crawl sees the same page as `HTTP://WWW.Site.com/a/
    * ?utm_source=x&b=2&a=1#frag` and `http://site.com/a?a=1&b=2`; counting
    * or deduplicating raw strings splits every page's mass across its
    * spellings). Rules, in order, each a codegen'd `regexp_replace`/
    * higher-order-function step the DuckDB oracle replays verbatim:
    *
    *   1. drop the fragment (`#...` — client-side only, never reaches the
    *      server);
    *   2. lowercase the scheme and host (case-insensitive per RFC 3986
    *      §6.2.2.1 — the PATH stays case-sensitive and is left alone);
    *   3. strip a `www.` host prefix and the scheme's default port
    *      (`:80` http, `:443` https);
    *   4. strip trailing slashes from the path;
    *   5. drop tracking parameters (`utm_*`, `gclid`, `fbclid`, `ref` —
    *      the client-analytics family that never changes the resource) and
    *      SORT the survivors (query order is not semantic for the
    *      overwhelming majority of endpoints, and canonical ordering is
    *      what makes equality a string compare).
    *
    * Scheme-less inputs (`example.com/a` — common in link columns scraped
    * from text) get an implicit `http://` BEFORE the rules run, so they
    * canonicalize with their spelled-out spellings instead of silently
    * degrading to an empty host. `http` vs `https` spellings
    * of the same path stay distinct by design — the scheme can change the
    * resource.
    *
    * Patterns are RE2-safe (character classes and lazy-free quantifiers
    * only); parameter filtering uses `substr` prefix compares, not LIKE
    * (whose `_` wildcard would match any character). Scale shape: a pure
    * scan-speed projection — the 100 TB use is `groupBy(canonical)` where
    * the canonical string, not the raw spelling, is the shuffle key. */
  def canonicalizeUrl(rawUrl: Column): Column = {
    val url = when(rawUrl.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), rawUrl)
      .otherwise(concat(lit("http://"), rawUrl))
    val noFrag = regexp_replace(url, "#.*", "")
    // scheme://host[:port] — everything before the first '/' or '?' past
    // the scheme separator
    val rawHost = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    val host1 = regexp_replace(lower(rawHost), "^(https?://)www\\.", "$1")
    val host = regexp_replace(regexp_replace(host1,
      "^(http://.*):80$", "$1"), "^(https://.*):443$", "$1")
    val path = regexp_replace(regexp_replace(rest, "\\?.*", ""), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)", 1)
    val params = array_join(array_sort(filter(split(query, "&"), p =>
      p =!= "" &&
      substring(p, 1, 4) =!= "utm_" &&
      substring(p, 1, 6) =!= "gclid=" &&
      substring(p, 1, 7) =!= "fbclid=" &&
      substring(p, 1, 4) =!= "ref=")), "&")
    concat(host, path, when(params =!= "", concat(lit("?"), params)).otherwise(lit("")))
  }

  /** The authority (host[:non-default-port]) of a [[canonicalizeUrl]]
    * output — the per-domain rollup key of a crawl (pages/tokens/dup-rate
    * per site is how crawl curation decides what to keep, cap, or block).
    * Host-level by design: true registrable-domain (eTLD+1) grouping is a
    * lookup TABLE decision — [[registrableDomainMap]] is that join. */
  def urlHost(canonical: Column): Column =
    regexp_extract(canonical, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)", 1)

  /** RFC 3986 §5-style reference resolution for the href forms a crawler
    * actually meets in anchor tags, against an absolute base URL (raw or
    * [[canonicalizeUrl]] output — both carry an explicit scheme). Arms,
    * most-specific first:
    *
    *   - absolute (`scheme:…`, any scheme — http(s), and non-hierarchical
    *     mailto:/tel:/javascript: links pass through UNCHANGED so a
    *     downstream [[urlHost]] yields an empty authority and the link
    *     graph drops them, instead of fabricating a fake self-edge);
    *   - protocol-relative (`//h/p`)  → base's scheme + href;
    *   - fragment-only (`#s`)         → the base itself (same-document
    *     reference, §4.4; canonicalization strips the fragment);
    *   - query-only (`?q`)            → base's scheme://authority + path
    *     with the new query;
    *   - root-relative (`/p`)         → base's scheme://authority + href;
    *   - relative (`p`, `r/p`)        → base's scheme://authority +
    *     base's path with its last segment dropped + `/` + href (the
    *     merge rule of §5.3; an authority-only base contributes `/`).
    *
    * A leading `scheme:` on an otherwise-relative reference is treated as
    * absolute, which is the RFC rule (a relative first segment containing
    * `:` must be written `./seg:…`). Dot-segment normalization (`../`) is
    * deliberately out of scope — planted link corpora and the
    * overwhelming share of real anchors are dot-free, and a resolver that
    * silently half-handles `..` is worse than one that documents the
    * boundary. Second documented boundary: because
    * [[canonicalizeUrl]] STRIPS trailing slashes, a canonicalized base
    * that originally ended in `/` (`https://h.com/docs/`) resolves
    * plain-relative hrefs against the PARENT (`p` → `/p`, not `/docs/p`)
    * and query-only hrefs against the slash-less path — resolve against
    * the RAW base first when directory-relative semantics matter, then
    * canonicalize the result. A pure codegen projection. */
  def resolveLink(base: Column, href: Column): Column = {
    val scheme = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    val auth = concat(scheme, lit("://"), urlHost(base))
    val basePath = regexp_replace(
      regexp_replace(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", ""), "\\?.*", "")
    val parent = regexp_replace(basePath, "/[^/]*$", "")
    when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("#"), concat(base, href))
      .when(href.startsWith("?"), concat(auth, basePath, href))
      .when(href.startsWith("/"), concat(auth, href))
      .otherwise(concat(auth, parent, lit("/"), href))
  }

  /** Anchor extraction — the outlink step of a crawl's WET pass, sibling
    * of [[extractHtmlText]]: every `<a href="…">…</a>` element yields one
    * (link_no, href, anchor) row, 0-indexed in document order. Anchor
    * content may carry nested markup (`<a href="/x"><img …></a>`,
    * `<b>bold</b>` — ubiquitous on real pages): the element match is
    * non-greedy to the first `</a>` (RE2-supported on both engines) and
    * the anchor text is the content with inner tags stripped to spaces,
    * whitespace squeezed, and trimmed — the [[extractHtmlText]] rule. The
    * shape is `regexp_extract_all` for the whole elements then per-element
    * group extracts — a pure ZERO-SHUFFLE codegen projection (one pass
    * over the page bytes; the explode multiplies rows by the per-page
    * anchor count, never by corpus size). `href` may sit at ANY attribute
    * position (`<a class="nav" href="/x">` — the lazy `<a\b[^>]*?\shref="…"`
    * element match); the mandatory whitespace BEFORE `href`
    * anchors it as an attribute NAME, so an attribute merely ENDING in
    * href (`<a data-href="/decoy" href="/real">`) never captures — the
    * lazy scan steps past `data-href="/decoy"` to the real attribute.
    * Unquoted/single-quoted href attributes remain out of
    * scope by the same documented-boundary rule as [[extractHtmlText]]'s
    * entity subset.
    *
    * Output: input columns of `pages` + (link_no, href, anchor). */
  def extractLinks(pages: DataFrame, htmlCol: String): DataFrame = {
    val tags = regexp_extract_all(col(htmlCol),
      lit("(?s)<a\\b[^>]*?\\shref=\"[^\"]*\"[^>]*>.*?</a>"), lit(0))
    val inner = regexp_extract(col("__tag"), "(?s)>(.*)</a>$", 1)
    pages
      .select(col("*"), posexplode(tags).as(Seq("link_no", "__tag")))
      .withColumn("link_no", col("link_no").cast("long"))
      .withColumn("href",
        regexp_extract(col("__tag"), "<a\\b[^>]*?\\shref=\"([^\"]*)\"", 1))
      .withColumn("anchor", trim(regexp_replace(
        regexp_replace(inner, "<[^>]*>", " "), "[ \\t\\n\\r\\f]+", " ")))
      .drop("__tag")
  }

  /** Extract the `<url>` entries of a sitemaps.org `<urlset>` document
    * (the crawl's SECOND discovery arm: real crawlers consume
    * sitemaps alongside extracted anchors, and a sitemap's `<lastmod>`
    * is a freshness signal the recrawl scheduler reads directly —
    * sitemaps.org protocol, public spec): one row per `<url>` block
    * with `url_no` (document order), `loc` (required; entries without a
    * `<loc>` are dropped per protocol), and `lastmod_day` — the
    * `<lastmod>` date's epoch-day as an exact long (the first 10 chars
    * of the W3C datetime form are the date), NULL when absent. Pure
    * zero-shuffle codegen regexp projections, the [[extractLinks]]
    * shape; `loc` feeds the shared resolution/canonicalization chain. */
  def extractSitemapUrls(sitemaps: DataFrame, xmlCol: String): DataFrame = {
    val blocks = regexp_extract_all(col(xmlCol),
      lit("(?s)<url>.*?</url>"), lit(0))
    sitemaps
      .select(col("*"), posexplode(blocks).as(Seq("url_no", "__blk")))
      .withColumn("url_no", col("url_no").cast("long"))
      .withColumn("loc",
        regexp_extract(col("__blk"), "(?s)<loc>\\s*(.*?)\\s*</loc>", 1))
      .where(col("loc") =!= "")
      .withColumn("__lm",
        regexp_extract(col("__blk"), "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1))
      .withColumn("lastmod_day",
        when(col("__lm") === "", lit(null).cast("long"))
          .otherwise(datediff(to_date(substring(col("__lm"), 1, 10)),
            to_date(lit("1970-01-01"))).cast("long")))
      .drop("__blk", "__lm")
  }

  /** Exact phrase search over whitespace tokens via POSITIONAL POSTINGS —
    * the indexed-retrieval companion of the BM25 family (BM25 ranks by
    * bag-of-terms; decontamination and quote-attribution checks need the
    * exact consecutive sequence). Classic rarest-first intersection
    * (public IR-textbook algorithm, Manning et al. IIR §2.4): postings are
    * (doc, position) pairs for the phrase's terms only; the RAREST term
    * anchors, and every other term joins at its fixed offset from the
    * anchor, so candidate volume is bounded by the rarest term's document
    * frequency rather than any frequent term's.
    *
    * Overlapping occurrences all count (a search for "a a" in "a a a"
    * matches at 0 and 1); a repeated term in the phrase joins its own
    * posting list once per offset. Per-term document frequencies are read
    * on the driver — phrase-cardinality scalars, the engine's bounded-
    * collect contract. NOTE: this operator is EAGER — the
    * postings `localCheckpoint` and the df collect run Spark jobs at
    * DataFrame-CONSTRUCTION time, not first action, the price of
    * rarest-first anchor election.
    *
    * Scale shape: the postings projection filters to the phrase's terms
    * AT SCAN (predicate on the exploded term — frequent-corpus tokens
    * never leave the scan); each offset join is an equi-join on
    * (doc, aligned start), co-partitioned after the first exchange. The
    * no-index alternative (per-doc array scan) trades those joins for an
    * O(len·k) codegen filter — right when the corpus is scanned exactly
    * once; this operator is the maintained-postings path.
    *
    * Output: (idCol, n_matches, first_pos) for docs with ≥ 1 match. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    // materialize the phrase-filtered postings ONCE: the df collect, the
    // anchor branch, and every offset-join branch all read them, and
    // Catalyst does not share a common subplan across self-join branches —
    // without this a k-term phrase re-scans the corpus k+1 times (the
    // weightedPageRankDirected lesson)
    val post = docs.select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__term")))
      .where(col("__term").isin(phrase: _*))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__term"))
      .localCheckpoint()
    phraseProbe(post, phrase).withColumnRenamed("__id", idCol)
  }

  /** The rarest-first offset-join intersection over PRE-FILTERED,
    * MATERIALIZED (__id, __pos, __term) postings — ONE probe core shared
    * by [[phraseSearch]] (postings built from the corpus at query time)
    * and [[phraseIndexSearch]] (postings read from a maintained index),
    * so index-probe == corpus-scan holds by construction, not by copy.
    * Caller contract: `post` is already filtered to the phrase's terms
    * and materialized (every branch below re-reads it). */
  private def phraseProbe(post: DataFrame, phrase: Seq[String]): DataFrame = {
    // TRUE document frequency (countDistinct) — occurrence
    // totals were a weaker rarest-first heuristic (never incorrect: the
    // intersection result is order-independent; only candidate volume
    // varies)
    val dfByTerm = post.groupBy("__term")
      .agg(countDistinct(col("__id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest term first; offset index breaks ties so a repeated term
    // anchors at its first occurrence
    val order = phrase.zipWithIndex
      .sortBy { case (t, i) => (dfByTerm.getOrElse(t, 0L), i) }
    val (anchorTerm, anchorOff) = order.head
    var cur = post.where(col("__term") === anchorTerm)
      .select(col("__id"), (col("__pos") - lit(anchorOff.toLong)).as("__start"))
    for ((t, off) <- order.tail) {
      val p = post.where(col("__term") === t)
        .select(col("__id").as("__id2"),
          (col("__pos") - lit(off.toLong)).as("__start2"))
      cur = cur.join(p,
          col("__id") === col("__id2") && col("__start") === col("__start2"))
        .select(col("__id"), col("__start"))
    }
    cur.groupBy("__id")
      .agg(count(lit(1)).as("n_matches"), min(col("__start")).as("first_pos"))
  }

  /** The MATERIALIZABLE positional-postings index of the phrase family —
    * (term, doc_id, pos) rows over whitespace tokens, the persisted form
    * [[phraseSearch]]'s scaladoc promises (the sixth
    * maintained-index family, the d23/d24/BM25 lifecycle contract). A
    * decontamination or quote-attribution user running MANY phrase
    * queries builds this once and probes it per query
    * ([[phraseIndexSearch]]) instead of re-tokenizing the corpus each
    * time.
    *
    * Scale shape: building is one corpus pass (the posexplode
    * projection) whose only wide operation is the WRITE of (term, doc,
    * pos) rows — token cardinality, the same volume every inverted-index
    * build moves; a deployment stores it partitioned/bucketed BY TERM so
    * a phrase probe prunes to its terms' buckets at scan. */
  def positionalPostingsIndex(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Merge an ADMITTED ingest epoch into a maintained positional index
    * WITHOUT rebuilding: postings are per-document local, so the append
    * is a pure union — equals [[positionalPostingsIndex]] over the
    * unioned corpus exactly (spec-pinned; the `q_phrase_index_search`
    * oracle proves it cross-engine by rebuilding from scratch).
    * Precondition: epoch ids are disjoint from the indexed corpus (they
    * are, for admitted NEW documents — re-ingesting an id duplicates its
    * postings). Increment cost is the EPOCH's tokens, never the standing
    * index. */
  def positionalIndexAppend(post: DataFrame, epochDocs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    post.unionByName(positionalPostingsIndex(epochDocs, idCol, textCol))

  /** Delete a removal set from a maintained positional index WITHOUT
    * rebuild — the right-to-be-forgotten step (the [[bm25IndexDelete]]
    * contract): removed docs' postings anti-join out against the
    * BROADCAST removal set (removal requests are microscopic next to the
    * corpus — the index itself shuffles nothing). Removal ids absent
    * from the index are no-ops by construction. */
  def positionalIndexDelete(post: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    post.join(
      broadcast(removeIds.select(col(idCol).cast("long").as("doc_id")).distinct()),
      Seq("doc_id"), "left_anti")

  /** Portable term→bucket hash of the STORED positional index: CRC32 of
    * the UTF-8 term bytes mod `nBuckets`. CRC32 because BOTH sides need
    * it — the write path as a Column and the probe path as a DRIVER
    * scalar (the probe plants `term_bucket IN (…)` literals so pruning
    * happens at file LISTING, before any task launches) — and
    * `java.util.zip.CRC32` is bit-identical to Spark's `crc32`. */
  def termBucket(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue % nBuckets
  }

  /** Persist a positional-postings index PARTITIONED BY TERM BUCKET
    * — the stored form [[positionalPostingsIndex]]'s
    * scaladoc promises. Raw `partitionBy("term")` would mint one
    * directory per vocabulary entry (millions of dirs — a filesystem
    * anti-pattern); hashing terms into `nBuckets` directories keeps the
    * layout bounded while a phrase probe still prunes to its terms'
    * buckets AT LISTING TIME (PartitionFilters, spec-pinned with a
    * read-bytes receipt), then parquet min/max pushdown on `term`
    * narrows row groups within the surviving buckets. Default 64
    * buckets suits the test corpora; a 100 TB deployment sizes buckets
    * so each is a few GB (thousands of buckets). */
  def positionalIndexWrite(post: DataFrame, path: String,
      nBuckets: Int = 64): Unit = {
    post.withColumn("term_bucket", termBucketCol(col("term"), nBuckets))
      .write.partitionBy("term_bucket").mode("overwrite").parquet(path)
    writeNBucketsMarker(post.sparkSession, path, nBuckets)
  }

  /** Persist the index's bucket count next to the data (`_graft_nbuckets`
    * — underscore-prefixed, so parquet readers ignore it like _SUCCESS):
    * the write-time and probe-time `nBuckets` are otherwise
    * independent parameters, and a probe computed with the WRONG count
    * filters on the wrong buckets and silently returns FALSE NEGATIVES —
    * a missed match in a decontamination read, with no error.
    * [[phraseStoredSearchAt]] reads this marker, making the stored value
    * authoritative. */
  private[graft] def writeNBucketsMarker(spark: SparkSession, path: String,
      nBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_nbuckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nBuckets.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The bucket count a stored index was WRITTEN with, from its
    * `_graft_nbuckets` marker — None for a pre-marker tree. */
  def storedIndexNBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_nbuckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](32)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      } finally in.close()
    }
  }

  /** Column form of [[termBucket]] (Spark `crc32` == `java.util.zip.CRC32`
    * bit for bit — the portability that lets the probe plant literals). */
  def termBucketCol(term: Column, nBuckets: Int): Column =
    pmod(crc32(term.cast("binary")), lit(nBuckets.toLong))

  /** Maintain the STORED index under STREAMING: one
    * admitted epoch's postings written exactly-once under
    * `path/batch_id=<id>/term_bucket=<b>/` — the
    * [[graft.streaming.ExactlyOnceSink]] recipe (overwrite-by-batchId
    * makes a redelivered micro-batch REPLACE its partial output), nested
    * over the SAME term-bucket layout, so the on-disk tree reads back as
    * ordinary partitioned parquet with BOTH partition columns and
    * [[phraseStoredSearch]] prunes it unchanged. Appending an epoch
    * writes only the EPOCH's postings (postings are per-doc local —
    * the [[positionalIndexAppend]] identity holds on disk: the tree
    * after N epochs equals a from-scratch build over their union,
    * spec-pinned). Wire as
    * `stream.writeStream.foreachBatch(positionalIndexEpochWrite(…))`. */
  def positionalIndexEpochWrite(epoch: DataFrame, idCol: String,
      textCol: String, batchId: Long, path: String,
      nBuckets: Int = 64): Unit = {
    positionalPostingsIndex(epoch, idCol, textCol)
      .withColumn("term_bucket", termBucketCol(col("term"), nBuckets))
      .write.partitionBy("term_bucket").mode("overwrite")
      .parquet(s"$path/batch_id=$batchId")
    // the marker lives at the TREE root (idempotent under epoch replay —
    // every epoch of one stream writes the same constant)
    writeNBucketsMarker(epoch.sparkSession, path, nBuckets)
  }

  /** Probe a STORED index ([[positionalIndexWrite]] layout) for a
    * phrase: plants the phrase's bucket literals so the scan lists only
    * those partitions, then runs the exact [[phraseIndexSearch]] probe
    * core — index == scan == stored agree by construction. `stored` is
    * `spark.read.parquet(path)`; `nBuckets` MUST match the write — a
    * mismatch filters on the wrong buckets and silently returns false
    * negatives, which is why [[phraseStoredSearchAt]] (the path-based
    * form that reads the index's own `_graft_nbuckets` marker) is the
    * API a caller should reach for. */
  def phraseStoredSearch(stored: DataFrame, phrase: Seq[String],
      nBuckets: Int = 64): DataFrame = {
    val buckets = phrase.distinct.map(termBucket(_, nBuckets)).distinct
    phraseIndexSearch(
      stored.where(col("term_bucket").isin(buckets: _*)), phrase)
  }

  /** [[phraseStoredSearch]] with the bucket count read from the index's
    * OWN `_graft_nbuckets` marker: the stored value is
    * authoritative, so the caller cannot mis-bucket the probe; a
    * pre-marker tree falls back to `nBucketsDefault` (the historical
    * write default). */
  def phraseStoredSearchAt(spark: SparkSession, path: String,
      phrase: Seq[String], nBucketsDefault: Int = 64): DataFrame =
    phraseStoredSearch(spark.read.parquet(path), phrase,
      storedIndexNBuckets(spark, path).getOrElse(nBucketsDefault))

  /** [[phraseSearch]] against a MAINTAINED (term, doc_id, pos) index
    * instead of the corpus: filters the index to the phrase's terms,
    * materializes that phrase-cardinality slice once, and runs the same
    * rarest-first probe core — the query never touches document text, so
    * repeated phrase queries cost index-probe work (bounded by the
    * rarest term's postings), not a corpus scan (plan spec-pinned: no
    * tokenize/explode in the probe plan). Same output contract as
    * [[phraseSearch]]: (doc_id, n_matches, first_pos), matches only.
    * EAGER like its sibling (the probe's df collect). */
  def phraseIndexSearch(post: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val p = post
      .where(col("term").isin(phrase: _*))
      .select(col("doc_id").as("__id"), col("pos").as("__pos"),
        col("term").as("__term"))
      .localCheckpoint()
    phraseProbe(p, phrase).withColumnRenamed("__id", "doc_id")
  }

  /** BATCHED multi-phrase search over a positional index — the bulk form
    * of [[phraseIndexSearch]] for benchmark decontamination, where the
    * query set is THOUSANDS of phrases and a per-phrase driver election
    * (and per-phrase Spark job) is the wrong shape. One plan for the
    * whole phrase table: phrase terms explode with their offsets, join
    * the postings BY TERM, and a candidate start position is a match iff
    * all k offsets of its phrase are present — the group-count form of
    * positional intersection (count DISTINCT offsets == k). Agrees with
    * [[phraseSearch]] phrase-for-phrase (spec-pinned on the overlap/
    * repeat/boundary corpora).
    *
    * Trade vs the single-phrase path: no rarest-first bound — candidate
    * volume is the SUM of the phrase terms' postings (bulk decontam
    * phrases are quote-like, so this is posting rows for rare quote
    * vocabulary, not stopword floods; an interactive single phrase
    * should still take [[phraseIndexSearch]]). Scale shape: ONE term
    * equi-join (phrase side broadcast at phrase-term cardinality), one
    * exchange keyed (phrase, doc, start) carrying longs, aggregates at
    * candidate cardinality; no driver-side work at all.
    *
    * Output: (phrase_id, doc_id, n_matches, first_pos), matches only. */
  def phraseSearchAll(post: DataFrame, phrases: DataFrame,
      phraseIdCol: String, phraseTextCol: String): DataFrame = {
    val toks = tokens(col(phraseTextCol))
    val pt = phrases.select(col(phraseIdCol).as("phrase_id"),
        size(toks).cast("long").as("__k"),
        posexplode(toks).as(Seq("__off", "term")))
      .select(col("phrase_id"), col("__k"),
        col("__off").cast("long").as("__off"), col("term"))
    val cand = pt.join(post, Seq("term"))
      .select(col("phrase_id"), col("__k"), col("doc_id"),
        (col("pos") - col("__off")).as("__start"), col("__off"))
    cand.groupBy("phrase_id", "__k", "doc_id", "__start")
      .agg(countDistinct(col("__off")).as("__n"))
      .where(col("__n") === col("__k"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("__start")).as("first_pos"))
  }

  /** BULK index-free scan: every phrase of a (small, broadcast) phrase
    * table against every document, as ONE stateless projection — the
    * streaming-INGEST shape of bulk decontamination
    * ([[graft.streaming.StreamingPipelines.phraseDecontamStreamAll]]):
    * zero state, zero aggregation, so it runs unchanged under append
    * mode. Per-row cost O(len · Σk) — right for ingest batches probed by
    * a benchmark's phrase set; the AT-REST bulk form over a standing
    * corpus is [[phraseSearchAll]] (postings join, no per-row phrase
    * loop). Agrees with both (spec-pinned — three independent
    * implementations meet at the same rows). Empty phrases are dropped.
    *
    * Output: (phrase_id, doc_id, n_matches, first_pos), matches only. */
  def phraseScanMatchesAll(docs: DataFrame, idCol: String, textCol: String,
      phrases: DataFrame, phraseIdCol: String, phraseTextCol: String): DataFrame = {
    val pt = broadcast(phrases.select(col(phraseIdCol).as("phrase_id"),
        tokens(col(phraseTextCol)).as("__pt"))
      .where(size(col("__pt")) > 0))
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .crossJoin(pt)
      .withColumn("__starts",
        when(size(col("__toks")) >= size(col("__pt")),
          filter(sequence(lit(0L),
              (size(col("__toks")) - size(col("__pt"))).cast("long")),
            i => forall(sequence(lit(1), size(col("__pt"))),
              j => element_at(col("__toks"), (i + j.cast("long")).cast("int"))
                === element_at(col("__pt"), j))))
        .otherwise(typedlit(Seq.empty[Long])))
      .where(size(col("__starts")) > 0)
      .select(col("phrase_id"), col("doc_id"),
        size(col("__starts")).cast("long").as("n_matches"),
        element_at(col("__starts"), 1).as("first_pos"))
  }

  /** Index-FREE phrase scan: per-document O(len·k) consecutive-sequence
    * match over the token array — the streaming-ingest form of the
    * phrase family (a stateless projection, so it runs unchanged under
    * Structured Streaming: [[graft.streaming.StreamingPipelines
    * .phraseDecontamStream]]), and the right batch shape when the corpus
    * is scanned exactly ONCE anyway. Bit-equal to [[phraseSearch]]
    * (spec-pinned: two independent implementations agree on overlaps,
    * repeats, and boundaries). Same output contract: (idCol, n_matches,
    * first_pos), matches only. */
  def phraseScanMatches(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val k = phrase.length
    val toks = tokens(col(textCol))
    // candidate starts 0..len-k; sequence(a, b) is DESCENDING when a > b,
    // so the short-document arm must short-circuit to an empty array
    val starts = when(size(toks) >= k,
      filter(sequence(lit(0L), size(toks).cast("long") - lit(k.toLong)),
        i => phrase.zipWithIndex.map { case (t, j) =>
          element_at(toks, (i + lit(j.toLong) + lit(1L)).cast("int")) === t
        }.reduce(_ && _)))
      .otherwise(typedlit(Seq.empty[Long]))
    docs.select(col(idCol), starts.as("__starts"))
      .where(size(col("__starts")) > 0)
      .select(col(idCol),
        size(col("__starts")).cast("long").as("n_matches"),
        element_at(col("__starts"), 1).as("first_pos"))
  }

  /** Compact subset of the public-suffix list (publicsuffix.org — public
    * data) carrying all three rule kinds: exact rules, `*.` wildcard rules
    * (the star matches exactly one label), and `!` exception rules that
    * override a wildcard. The SEMANTICS are the operator
    * ([[registrableDomainMap]]); a deployment swaps in the full list as
    * data without touching code. */
  val PublicSuffixRules: Seq[String] = Seq(
    // generic + common country TLDs
    "com", "net", "org", "edu", "gov", "mil", "int", "io", "co", "ai",
    "app", "dev", "info", "biz", "uk", "jp", "au", "br", "de", "fr",
    "it", "nl", "ru", "cn", "us", "ca", "ch", "es", "se", "no", "pl", "in",
    // multi-label country suffixes
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br", "com.cn", "net.cn", "org.cn",
    "co.in", "net.in", "org.in",
    // wildcard + exception rules (the PSL's *.ck family)
    "*.ck", "!www.ck", "*.er", "*.fk",
    // private-section suffixes a crawl MUST split on (one blog ≠ the host)
    "blogspot.com", "github.io", "s3.amazonaws.com", "herokuapp.com",
    "netlify.app", "pages.dev", "vercel.app", "wordpress.com")

  /** The FULL publicsuffix.org snapshot (9.5k rules), packaged as
    * resource data from the Debian `publicsuffix` package's copy of the
    * public list — ICANN and private sections both, the
    * standard lookup behavior. [[PublicSuffixRules]] stays as the compact
    * spec table; the operator is identical, only the rule data grows.
    * Unicode IDN rules ride along verbatim; ASCII crawl hosts simply
    * never match them (punycode normalization is the caller's contract,
    * as in every PSL library). */
  lazy val PublicSuffixRulesFull: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "packaged graft/public_suffix_list.dat missing from classpath")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toVector
    } finally in.close()
  }

  /** Deepest candidate index any rule in `rules` joins at: an exact or
    * `!`-stripped exception rule of L labels matches the i = L candidate;
    * a wildcard rule counts its `*` as a label and matches the
    * i = token-count candidate. Derived from the rule table rather than
    * hard-coded: the full publicsuffix.org list has deeper
    * rules than the compact subset, and a swapped-in rule deeper than a
    * frozen cap would silently map its hosts to a SHORTER registrable
    * domain with no error. */
  def pslCandidateDepth(rules: Seq[String] = PublicSuffixRules): Int =
    rules.map(_.stripPrefix("!").split("\\.").length).max

  /** host → registrable domain (eTLD+1) mapping — the public-suffix-list
    * longest-matching-rule algorithm as a lookup-table JOIN: a crawl-curation pass caps domains at eTLD+1
    * (every `*.blogspot.com` blog is its own operator decision; every
    * `news./www./cdn.` subdomain of one site is NOT).
    *
    * Algorithm (publicsuffix.org spec): each host emits its trailing
    * label suffixes (up to [[pslCandidateDepth]] — derived from the rule
    * table in force, never a frozen constant) plus their `*.`-wildcard
    * forms as candidate keys; candidates
    * equi-join the broadcast rule table; per host the winning rule is
    * exception-first then longest; the public suffix is the matched
    * labels (minus the leftmost for an exception rule), defaulting to the
    * bare TLD when nothing matches (the PSL's implicit `*` rule); the
    * registrable domain is the suffix plus one label. A host that IS a
    * public suffix, or an IP literal — dotted IPv4 or bracketed IPv6
    * (`[::1]`) — has no registrable domain (NULL).
    * Ports are stripped before matching.
    *
    * Scale shape: input should be DISTINCT hosts (site cardinality, not
    * pages); the candidate explode is ≤ 2·[[pslCandidateDepth]] rows per
    * host; the rule table
    * broadcasts; the winner is one map-side-combinable struct-max. The
    * output is a broadcast-ready (host, registrable_domain) dimension.
    * Output: (hostCol, registrable_domain). */
  def registrableDomainMap(hosts: DataFrame, hostCol: String,
      rules: Seq[String] = PublicSuffixRules): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    // kind: 0 exact, 1 wildcard (matched against the *.-candidate form),
    // 2 exception (matched against the exact form, '!' stripped)
    val ruleRows = rules.map { r =>
      if (r.startsWith("!")) (r.drop(1), 2)
      else if (r.startsWith("*.")) (r, 1)
      else (r, 0)
    }.toDF("rule", "kind")
    val hl = hosts.select(col(hostCol).cast("string").as("host")).distinct()
      .withColumn("ls", split(regexp_replace(col("host"), ":\\d+$", ""), "\\."))
      .withColumn("nl", size(col("ls")))
    val cand = hl
      .select(col("host"), col("ls"), col("nl"),
        explode(sequence(lit(1),
          least(col("nl"), lit(pslCandidateDepth(rules))))).as("i"))
      .select(col("host"), col("nl"), col("i"),
        concat_ws(".", slice(col("ls"), lit(0) - col("i"), col("i"))).as("exact_c"),
        when(col("i") >= 2, concat(lit("*."), concat_ws(".",
          slice(col("ls"), lit(1) - col("i"), col("i") - 1)))).as("wild_c"))
    val matched = cand
      .join(broadcast(ruleRows.where(col("kind") =!= 1)), col("exact_c") === col("rule"))
      .unionByName(cand.where(col("wild_c").isNotNull)
        .join(broadcast(ruleRows.where(col("kind") === 1)), col("wild_c") === col("rule")))
      .select(col("host"),
        when(col("kind") === 2, lit(1)).otherwise(lit(0)).as("exc"),
        col("i"), (lit(0) - col("kind")).as("nk"),
        when(col("kind") === 2, col("i") - 1).otherwise(col("i")).as("ps"))
    // exception-first, then longest match (kind is a deterministic
    // tiebreak mirrored in the oracle; ps is determined by (exc, i, kind))
    val best = matched.groupBy("host")
      .agg(max(struct(col("exc"), col("i"), col("nk"), col("ps"))).as("b"))
      .select(col("host"), col("b.ps").as("ps"))
    hl.join(broadcast(best), Seq("host"), "left")
      .select(col("host").as(hostCol),
        // IP literals have no registrable domain: dotted IPv4, or a
        // bracketed IPv6 authority ([::1], [2001:db8::1]:8080) — the
        // bracket test must come first, since an IPv4-mapped literal
        // ([::ffff:192.0.2.1]) contains dots and would otherwise fall
        // through to the label machinery
        when(col("host").startsWith("["), lit(null).cast("string"))
        .when(regexp_replace(col("host"), ":\\d+$", "").rlike("^[0-9.]+$"),
          lit(null).cast("string"))
        .when(col("nl") > coalesce(col("ps"), lit(1)),
          concat_ws(".", slice(col("ls"),
            lit(0) - (coalesce(col("ps"), lit(1)) + lit(1)),
            coalesce(col("ps"), lit(1)) + lit(1))))
        .otherwise(lit(null).cast("string")).as("registrable_domain"))
  }

  /** robots.txt-style URL path-rule filter — the crawl-side companion of
    * the eTLD+1 family: PREFIX rules (the overwhelmingly-common robots
    * form) with allow/disallow polarity, decided by the documented
    * robots precedence — the LONGEST matching rule wins, allow beats
    * disallow when the same pattern appears with both polarities, and a
    * path no rule matches is implicitly allowed. The path is the
    * canonical URL's portion after the authority with the query
    * stripped; an authority-only URL is the root `/`.
    *
    * Output: (doc_id, canonical_url, path, matched_rule | NULL, allowed).
    *
    * Scale shape: the rule table rides the plan as ONE literal
    * struct-array and the decision is `array_max(filter(…))` per row — a
    * pure ZERO-SHUFFLE codegen projection (the [[blocklistFlagCol]]
    * literal-form precedent; real robots/curation rule sets are dozens
    * of rows). A deployment with thousands of rules should explode each
    * path at its '/' boundaries into prefix candidates and equi-join a
    * broadcast rule dimension instead (the [[registrableDomainMap]]
    * candidate pattern). Text never enters; equal-length DIFFERENT
    * prefixes cannot both match one path, so the struct's rule-string
    * tiebreak only fires on duplicate rows — kept anyway (and mirrored
    * DESC in the oracle) so the winner is total-ordered. */
  def urlRuleFilter(pages: DataFrame, idCol: String, urlCol: String,
      rules: Seq[(String, Boolean)]): DataFrame =
    pages.select(col(idCol).cast("long").as("doc_id"),
        col(urlCol).as("canonical_url"))
      .withColumn("__d", urlRuleDecisionCol(col("canonical_url"), rules))
      .select(col("doc_id"), col("canonical_url"),
        col("__d.path").as("path"),
        col("__d.matched_rule").as("matched_rule"),
        col("__d.allowed").as("allowed"))

  /** The per-URL robots decision of [[urlRuleFilter]] as ONE reusable
    * struct column `(path, matched_rule, allowed)` — the form a composed
    * pipeline (the per-URL frontier) splices into its own projection
    * without a join, so admissibility stays zero-shuffle wherever it is
    * consumed. Same literal-struct-array election, same precedence. */
  def urlRuleDecisionCol(canonicalUrl: Column,
      rules: Seq[(String, Boolean)]): Column = {
    require(rules.nonEmpty, "empty rule table: every page is trivially allowed")
    val ruleArr = array(rules.map { case (p, a) =>
      struct(lit(p.length.toLong).as("rlen"),
        lit(if (a) 1L else 0L).as("rallow"), lit(p).as("rule"))
    }: _*)
    urlRuleDecisionFromPacked(canonicalUrl, ruleArr)
  }

  /** The robots election over a PACKED rule-array column — ONE definition
    * shared by the literal global form ([[urlRuleDecisionCol]]) and the
    * per-domain joined form ([[urlRuleFilterPerDomain]]), so the two can
    * never diverge on precedence. `rulesArr` is an array of
    * (rlen, rallow, rule) structs; a NULL array (no rule set for this
    * URL's domain) elects the implicit allow, exactly like a path no
    * rule matches. Pure codegen projection. */
  def urlRuleDecisionFromPacked(canonicalUrl: Column, rulesArr: Column): Column = {
    val p0 = regexp_replace(regexp_extract(canonicalUrl,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$", 1), "\\?.*$", "")
    val path = when(p0 === "", lit("/")).otherwise(p0)
    val w = array_max(filter(rulesArr,
      r => path.startsWith(r.getField("rule"))))
    struct(path.as("path"), w.getField("rule").as("matched_rule"),
      coalesce(w.getField("rallow") === 1L, lit(true)).as("allowed"))
  }

  /** A per-domain rule dimension `(domain, rule, allow)` — one row per
    * robots.txt line per site — packed to ONE row per domain carrying its
    * whole rule set as the (rlen, rallow, rule) struct array
    * [[urlRuleDecisionFromPacked]] elects over. Robots files are dozens
    * of lines, so the packed row is small and the whole dimension is
    * domain-cardinality: the broadcast side of the probe join. The
    * aggregation is map-side-combinable at domain cardinality, never
    * corpus work. */
  def urlRulesPacked(ruleDim: DataFrame): DataFrame =
    ruleDim.groupBy(col("domain"))
      .agg(collect_list(struct(
        length(col("rule")).cast("long").as("rlen"),
        when(col("allow").cast("boolean"), lit(1L)).otherwise(lit(0L)).as("rallow"),
        col("rule").cast("string").as("rule"))).as("rules"))

  /** PER-DOMAIN robots.txt rules as a JOINED dimension —
    * the form [[urlRuleFilter]]'s scaladoc promises for real crawls: each
    * site publishes its OWN robots.txt, so admissibility is a probe of a
    * `(domain, rule, allow)` dimension, not one global literal list. The
    * election per URL is identical to the global form (longest matching
    * prefix wins, allow beats disallow on the identical pattern, no
    * match ⇒ allowed) but runs only over the rules of the URL's OWN
    * registrable domain; a domain with no rule set — and a URL with a
    * NULL domain (IP literals) — is implicitly allowed.
    *
    * `urls` must carry `domainCol` (the registrable domain, NULL for IP
    * literals — [[registrableDomainMap]]'s output); `ruleDim` has one
    * (domain, rule, allow) row per robots line.
    *
    * Output: (doc_id, canonical_url, registrable_domain, path,
    * matched_rule | NULL, allowed).
    *
    * Scale shape: the rule dimension aggregates to domain cardinality
    * ([[urlRulesPacked]]) and BROADCASTS; the URL side takes one
    * broadcast hash join keyed by domain and a zero-shuffle codegen
    * election — the corpus is never shuffled, exactly the
    * [[registrableDomainMap]] candidate pattern. A rule index too big
    * for one broadcast (hundreds of millions of domains) drops the
    * broadcast hint and the SAME plan degrades to a shuffled hash join
    * keyed by domain — still rule-cardinality + URL-cardinality, never a
    * blowup. */
  def urlRuleFilterPerDomain(urls: DataFrame, idCol: String, urlCol: String,
      domainCol: String, ruleDim: DataFrame): DataFrame =
    urlRuleProbePacked(urls, idCol, urlCol, domainCol, urlRulesPacked(ruleDim))

  /** The shared probe half of the per-domain rule filters: a broadcast
    * hash join of the PACKED rule dimension (one row per domain) against
    * the URL side, then the zero-shuffle codegen election — the plan
    * shape both [[urlRuleFilterPerDomain]] and [[urlRuleFilterForAgent]]
    * pin. */
  private def urlRuleProbePacked(urls: DataFrame, idCol: String,
      urlCol: String, domainCol: String, packed: DataFrame): DataFrame =
    urls.select(col(idCol).cast("long").as("doc_id"),
        col(urlCol).as("canonical_url"),
        col(domainCol).cast("string").as("registrable_domain"))
      .join(broadcast(packed),
        col("registrable_domain") === col("domain"), "left")
      .withColumn("__d",
        urlRuleDecisionFromPacked(col("canonical_url"), col("rules")))
      .select(col("doc_id"), col("canonical_url"), col("registrable_domain"),
        col("__d.path").as("path"),
        col("__d.matched_rule").as("matched_rule"),
        col("__d.allowed").as("allowed"))

  /** RFC 9309 §2.2.1 USER-AGENT GROUP election over a per-domain rule
    * dimension: a real robots.txt scopes its rule
    * groups by `User-agent`, and a crawler must first elect the MOST
    * SPECIFIC matching agent group per site, then obey ONLY that group's
    * rules — groups do not merge (a named group matching means the `*`
    * group is ignored entirely). `ruleDim` carries one
    * (domain, agent, rule, allow) row per robots line; matching follows
    * the RFC's product-token rule: a group matches when its agent token
    * is a case-insensitive PREFIX of the crawler's user-agent string,
    * or is `*`; specificity = token length with `*` at 0 (an exact
    * full-string token is the longest possible prefix, so exact beats
    * prefix beats `*` without a separate tier). Two distinct tokens that
    * tie on length and both match merge their rules — the RFC leaves
    * ties unspecified and merging is the conservative (more rules seen)
    * choice, documented here so the oracle replays it.
    *
    * The crawler's agent is a CONSTANT for the whole crawl, so the
    * election runs ONCE at dimension-build time — two aggregations at
    * domain cardinality — and the output is byte-compatible with
    * [[urlRulesPacked]]: per-URL work is identical to the agentless
    * form (one broadcast join + the shared codegen election). A domain
    * whose groups none match (no `*` group either) packs NO row, which
    * the probe's left join turns into the implicit allow, exactly the
    * RFC's default. */
  def urlRulesPackedForAgent(ruleDim: DataFrame,
      crawlerAgent: String): DataFrame = {
    val ua = crawlerAgent.toLowerCase(java.util.Locale.ROOT)
    val isWild = col("agent") === "*"
    val m = ruleDim
      .where(isWild || lit(ua).startsWith(lower(col("agent"))))
      .withColumn("__alen",
        when(isWild, lit(0L)).otherwise(length(col("agent")).cast("long")))
    val best = m.groupBy(col("domain")).agg(max(col("__alen")).as("__best"))
    m.join(best, Seq("domain"))
      .where(col("__alen") === col("__best"))
      .groupBy(col("domain"))
      .agg(collect_list(struct(
        length(col("rule")).cast("long").as("rlen"),
        when(col("allow").cast("boolean"), lit(1L)).otherwise(lit(0L)).as("rallow"),
        col("rule").cast("string").as("rule"))).as("rules"))
  }

  /** [[urlRuleFilterPerDomain]] with the RFC 9309 agent-group election
    * in front ([[urlRulesPackedForAgent]]): admissibility for a crawl
    * identifying as `crawlerAgent` against sites that special-case `*`
    * vs named agents. Same output contract and the same probe plan —
    * the agent election is domain-cardinality dimension prep, never
    * per-URL work. */
  def urlRuleFilterForAgent(urls: DataFrame, idCol: String, urlCol: String,
      domainCol: String, ruleDim: DataFrame,
      crawlerAgent: String): DataFrame =
    urlRuleProbePacked(urls, idCol, urlCol, domainCol,
      urlRulesPackedForAgent(ruleDim, crawlerAgent))

  /** Per-URL fetch-history statistics — the change-detector input of the
    * RECRAWL scheduler: from a fetch log of
    * (url, epoch, fingerprint) observations, one row per URL with
    * `n_fetches`, `last_fetch`, and `n_changes` (the count of CONSECUTIVE
    * fetches whose content fingerprint differs — the observed
    * change-rate numerator of the classic freshness policy, Cho &
    * Garcia-Molina 2000). Exact longs throughout.
    *
    * Scale shape: ONE exchange keyed by url carrying (epoch, 16-byte
    * fingerprint) — the lag window's per-url sort and the follow-up
    * aggregate share that partitioning (no second shuffle; the s4
    * sessionize pattern), and per-URL history is fetch-log cardinality,
    * never corpus text. This is the maintained-index builder: a crawl
    * keeps the (url → stats) table standing and probes it per epoch
    * ([[recrawlPriority]]). */
  def recrawlStats(fetchLog: DataFrame, urlCol: String, epochCol: String,
      fpCol: String): DataFrame = {
    val w = Window.partitionBy("url").orderBy(col("epoch"))
    fetchLog.select(col(urlCol).cast("string").as("url"),
        col(epochCol).cast("long").as("epoch"), col(fpCol).as("fp"))
      .withColumn("__prev", lag(col("fp"), 1).over(w))
      .groupBy("url").agg(
        count(lit(1)).as("n_fetches"),
        max(col("epoch")).as("last_fetch"),
        sum(when(col("__prev").isNotNull && col("__prev") =!= col("fp"), 1L)
          .otherwise(0L)).as("n_changes"))
  }

  /** [[recrawlStats]] extended with the BOUNDARY fingerprints that make
    * the stats table MERGEABLE — the maintained-index form: change
    * counting needs consecutive-fetch comparison, so a bare
    * (count, max, changes) row cannot absorb a later epoch (the change
    * across the epoch boundary would be lost). Carrying each URL's
    * `first_fp`/`last_fp` (by epoch order) closes the algebra:
    * [[recrawlStatsAppend]] folds an epoch in O(epoch), never replaying
    * the standing log. Output: (url, n_fetches, first_fetch, last_fetch,
    * n_changes, first_fp, last_fp). Same one-exchange shape as
    * [[recrawlStats]]. */
  def recrawlStatsFull(fetchLog: DataFrame, urlCol: String, epochCol: String,
      fpCol: String): DataFrame = {
    val w = Window.partitionBy("url").orderBy(col("epoch"))
    fetchLog.select(col(urlCol).cast("string").as("url"),
        col(epochCol).cast("long").as("epoch"), col(fpCol).as("fp"))
      .withColumn("__prev", lag(col("fp"), 1).over(w))
      .groupBy("url").agg(
        count(lit(1)).as("n_fetches"),
        min(col("epoch")).as("first_fetch"),
        max(col("epoch")).as("last_fetch"),
        sum(when(col("__prev").isNotNull && col("__prev") =!= col("fp"), 1L)
          .otherwise(0L)).as("n_changes"),
        // epochs are distinct per url (a fetch log's key), so the struct
        // extremes ARE the chronologically first/last fingerprints
        min(struct(col("epoch"), col("fp"))).getField("fp").as("first_fp"),
        max(struct(col("epoch"), col("fp"))).getField("fp").as("last_fp"))
  }

  /** Merge an epoch's fetch log into MAINTAINED recrawl stats WITHOUT
    * replaying the standing log — the seventh maintained-index family's
    * append identity (the positionalIndexAppend / bm25IndexMerge
    * contract): equals [[recrawlStatsFull]] over the concatenated log
    * exactly (spec-pinned; the `q_recrawl_stats_append` oracle proves it
    * cross-engine by rebuilding from scratch). Precondition: every epoch
    * fetch of a url is LATER than the standing `last_fetch` for that url
    * — true for time-ordered ingest epochs. The precondition is GUARDED
    * at runtime: a url whose epoch `first_fetch` is not
    * strictly later than the standing `last_fetch` — an interleaved or
    * REPLAYED epoch — raises through a codegen'd `assert_true` folded
    * into the merge, so out-of-order ingest fails loudly instead of
    * silently corrupting `n_changes`/`first_fetch`/`last_fp`. (A
    * replayed epoch is exactly what the guard catches; the DURABLE form
    * — [[recrawlStatsEpochWrite]] — makes replay a no-op instead, the
    * overwrite-by-batchId treatment.) The only cross-table term is
    * the BOUNDARY change (standing `last_fp` vs epoch `first_fp`);
    * everything else is per-side sums/extremes. Increment cost is the
    * EPOCH's log (one url-keyed exchange at epoch cardinality) plus a
    * url-keyed outer join against the standing stats — never the
    * standing fetch history. */
  def recrawlStatsAppend(standing: DataFrame, epochLog: DataFrame,
      urlCol: String, epochCol: String, fpCol: String): DataFrame = {
    val e = recrawlStatsFull(epochLog, urlCol, epochCol, fpCol)
    val s = standing.select(col("url"), col("n_fetches").as("__sn"),
      col("first_fetch").as("__sff"), col("last_fetch").as("__slf"),
      col("n_changes").as("__sch"), col("first_fp").as("__sfp"),
      col("last_fp").as("__slp"))
    val en = e.select(col("url"), col("n_fetches").as("__en"),
      col("first_fetch").as("__eff"), col("last_fetch").as("__elf"),
      col("n_changes").as("__ech"), col("first_fp").as("__efp"),
      col("last_fp").as("__elp"))
    // the out-of-order guard: zero when the precondition holds (the
    // assert passes and returns NULL → coalesce 0), raises otherwise —
    // one codegen'd comparison per merged row, no extra pass
    val orderOk = col("__slf").isNull || col("__eff").isNull ||
      col("__eff") > col("__slf")
    val guard = coalesce(
      assert_true(orderOk, concat(
        lit("recrawlStatsAppend: out-of-order or replayed epoch for url "),
        col("url"),
        lit(" (epoch first_fetch <= standing last_fetch)"))).cast("long"),
      lit(0L))
    s.join(en, Seq("url"), "full_outer")
      .select(col("url"),
        (coalesce(col("__sn"), lit(0L)) + coalesce(col("__en"), lit(0L)) +
          guard).as("n_fetches"),
        coalesce(col("__sff"), col("__eff")).as("first_fetch"),
        coalesce(col("__elf"), col("__slf")).as("last_fetch"),
        (coalesce(col("__sch"), lit(0L)) + coalesce(col("__ech"), lit(0L)) +
          when(col("__slp").isNotNull && col("__efp").isNotNull &&
            col("__slp") =!= col("__efp"), 1L).otherwise(0L))
          .as("n_changes"),
        coalesce(col("__sfp"), col("__efp")).as("first_fp"),
        coalesce(col("__elp"), col("__slp")).as("last_fp"))
  }

  /** DELETE a url set from the maintained recrawl-stats table — the
    * right-to-be-forgotten step the other maintained-index families
    * already satisfy (the d23/d24 / [[positionalIndexDelete]] contract):
    * a purged url's whole fetch history leaves
    * the index. Because the stats table is EXACTLY one row per url —
    * per-url granularity IS the table's granularity — the anti-join is
    * not an approximation: delete == rebuild over the filtered log holds
    * identically (cross-engine-proven by `q_recrawl_stats_delete`,
    * whose oracle rebuilds from the log minus the purged urls and never
    * sees the engine's delete path). Removal sets are microscopic next
    * to the corpus, so they BROADCAST; urls absent from the index are
    * no-ops by construction. */
  def recrawlStatsDelete(standing: DataFrame, removeUrls: DataFrame,
      urlCol: String): DataFrame =
    standing.join(
      broadcast(removeUrls.select(col(urlCol).cast("string").as("url")).distinct()),
      Seq("url"), "left_anti")

  /** DURABLE recrawl-stats maintenance — the
    * [[positionalIndexEpochWrite]] treatment for the fetch-stats index:
    * one admitted epoch's PER-EPOCH stats row set
    * ([[recrawlStatsFull]] over just that epoch — already the mergeable
    * boundary-fingerprint form) written exactly-once under
    * `path/batch_id=<id>/`, so a REDELIVERED micro-batch REPLACES its
    * own partial output instead of double-counting (the
    * [[graft.streaming.ExactlyOnceSink]] recipe; contrast the in-memory
    * [[recrawlStatsAppend]], whose replay guard can only fail loudly).
    * The tree reads back as ordinary partitioned parquet and
    * [[recrawlStatsFromEpochs]] folds it to the standing table. Wire as
    * `stream.writeStream.foreachBatch(recrawlStatsEpochWrite(…))`.
    * Append cost = the EPOCH's log (one url-keyed exchange at epoch
    * cardinality), never the standing history. */
  def recrawlStatsEpochWrite(epochLog: DataFrame, urlCol: String,
      epochCol: String, fpCol: String, batchId: Long, path: String): Unit =
    recrawlStatsFull(epochLog, urlCol, epochCol, fpCol)
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Fold a [[recrawlStatsEpochWrite]] tree back to the standing
    * per-url stats table — equals [[recrawlStatsFull]] over the
    * concatenated raw log exactly (spec-pinned: tree-after-N-epochs ==
    * from-scratch rebuild), because each per-epoch row carries its
    * boundary fingerprints: per-side sums/extremes fold per url, and
    * each consecutive epoch pair contributes its boundary change
    * (previous epoch's `last_fp` vs this epoch's `first_fp`) — the
    * same algebra [[recrawlStatsAppend]] applies pairwise, here over
    * the whole window. Epochs must be time-disjoint per url (the
    * append precondition, guarded the same way).
    *
    * Scale shape: ONE url-keyed exchange at (url × epoch) cardinality —
    * the per-url epoch window and the fold share it — which is the
    * point of storing per-epoch STATS rather than the raw log: the fold
    * reads one row per (url, epoch), never the fetch history. */
  def recrawlStatsFromEpochs(tree: DataFrame): DataFrame = {
    val w = Window.partitionBy("url").orderBy(col("first_fetch"))
    val orderOk = col("__plf").isNull || col("first_fetch") > col("__plf")
    val guard = coalesce(
      assert_true(orderOk, concat(
        lit("recrawlStatsFromEpochs: overlapping epochs for url "),
        col("url"))).cast("long"),
      lit(0L))
    tree
      .withColumn("__pfp", lag(col("last_fp"), 1).over(w))
      .withColumn("__plf", lag(col("last_fetch"), 1).over(w))
      .groupBy("url").agg(
        (sum(col("n_fetches")) + sum(guard)).as("n_fetches"),
        min(col("first_fetch")).as("first_fetch"),
        max(col("last_fetch")).as("last_fetch"),
        (sum(col("n_changes")) +
          sum(when(col("__pfp").isNotNull && col("__pfp") =!= col("first_fp"),
            1L).otherwise(0L))).as("n_changes"),
        min(struct(col("first_fetch"), col("first_fp")))
          .getField("first_fp").as("first_fp"),
        max(struct(col("last_fetch"), col("last_fp")))
          .getField("last_fp").as("last_fp"))
  }

  // -------------------------------------------------------------------------
  // Seen-URL BLOOM filter — the frontier novelty test's scale path.
  // The unified fetch queue decides "have we ever fetched this url?" by a
  // broadcast anti-join against the stats index; at 100 TB the seen-set
  // outgrows any broadcast, and the classical crawler answer (Heritrix/
  // Nutch lineage) is a Bloom seen-test: "definitely new" is CERTAIN (a
  // bloom has no false negatives), and only the maybe-seen minority falls
  // back to the exact index probe — at bloom-FP cardinality, not corpus
  // cardinality. Bits are md5-derived and the filter packs to 62-bit
  // words by bit_or, so the whole artifact is exact integers both
  // engines reproduce (the HLL md5 contract's sibling). 62-bit words —
  // not 64 — keep every mask shift ≤ 61, so `1 << shift` never overflows
  // a signed long on EITHER engine (DuckDB raises on << overflow).
  // -------------------------------------------------------------------------

  /** The k deterministic bit positions of a url: position_j =
    * md5("bloom<j>:" || url)'s first 48 bits mod `mBits` — pure codegen
    * built-ins, replayable in SQL verbatim. */
  def urlBloomPositions(url: Column, mBits: Int, k: Int): Column =
    array((0 until k).map { j =>
      pmod(conv(substring(md5(concat(lit(s"bloom$j:"), url)), 1, 12),
        16, 10).cast("long"), lit(mBits.toLong))
    }: _*)

  /** Build a packed seen-URL bloom: one (word_idx, bits) row per
    * occupied 62-bit word — at most ⌈mBits/62⌉ rows however large the
    * url set, the compression that makes the seen-test shippable. ONE
    * map-side-combinable aggregate over the urls; the merge identity is
    * [[urlBloomMerge]]'s bit_or (union of url sets == merge of blooms —
    * the maintained-index append algebra, trivially). */
  def urlBloomBuild(urls: DataFrame, urlCol: String, mBits: Int,
      k: Int): DataFrame =
    urls.select(explode(urlBloomPositions(col(urlCol), mBits, k)).as("bit"))
      .select(expr("bit div 62").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 62 AS INT))").as("__m"))
      .groupBy("word_idx").agg(expr("bit_or(__m)").as("bits"))

  /** Merge packed blooms — per-word bit_or. Equals a from-scratch build
    * over the unioned url sets exactly (bit_or is the set union on
    * words; proven cross-engine by `q_url_seen_bloom`, whose oracle
    * builds from the whole set and never sees the engine's halves). */
  def urlBloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))

  /** Probe candidates against a packed bloom: a url is `maybe_seen` iff
    * ALL k of its bits are set — so `NOT maybe_seen` is a CERTAIN
    * "never fetched" (no false negatives; the bloom guarantee the spec
    * asserts), while `maybe_seen` carries the documented false-positive
    * rate and falls back to the exact index probe.
    *
    * Scale shape: k rows per candidate join the packed words on
    * word_idx. The bloom BROADCASTS when sized for executor memory (the
    * point of packing — 10 bits/url = ~1.2 GB per 10⁹ urls); a filter
    * too big for one broadcast shards by url-hash range and each probe
    * partition joins its shard — never corpus work either way. */
  def urlBloomProbe(candidates: DataFrame, urlCol: String,
      bloom: DataFrame, mBits: Int, k: Int): DataFrame =
    candidates.select(col(urlCol).as("url"))
      .withColumn("__pos", explode(urlBloomPositions(col("url"), mBits, k)))
      .select(col("url"), expr("__pos div 62").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 62 AS INT))").as("__m"))
      .join(broadcast(bloom), Seq("word_idx"), "left")
      .groupBy("url")
      .agg((sum(when(col("bits").isNotNull &&
          (col("bits").bitwiseAND(col("__m")) =!= 0L), 1L).otherwise(0L)) ===
        lit(k.toLong)).as("maybe_seen"))

  /** RECRAWL priority (freshness scheduling): each
    * discovered URL scored for re-fetch as `age × observed change rate`,
    * in exact integer arithmetic —
    *   - `age = now − last_fetch`,
    *   - `change_rate_q6 = n_changes · 10⁶ ÷ (n_fetches − 1)` (integer
    *     division over the observation intervals; a single-fetch URL has
    *     no interval, so it takes `defaultRateQ6`, the scheduler's
    *     unknown-change-rate prior),
    *   - `priority_q6 = age · change_rate_q6`.
    * A URL the log has never seen (`never_fetched`) outranks every
    * scored URL — the crawler must observe it at least once before any
    * freshness estimate exists — and carries a NULL priority.
    *
    * `discovered` is the URL universe, ALREADY DEDUPED by the caller
    * (an epoch's novelty arm — a repeated url here scores repeatedly);
    * `stats` is [[recrawlStats]]'s output — in a crawl, the MAINTAINED
    * standing table. Keeping dedup out makes this function pure
    * projections plus one stream-static-shaped equi-join with NO
    * stateful operator, so it runs unchanged on a streaming epoch frame
    * (spec-pinned), the [[urlRuleFilterPerDomain]] contract. The global
    * fetch_rank stays in the batch composition (the gate) via the
    * two-phase prefix pass, like the frontier's.
    *
    * Scale shape: both sides are URL-cardinality; the join is a
    * broadcast when the stats table fits, a co-partitioned hash join
    * otherwise — never corpus work. */
  def recrawlPriority(discovered: DataFrame, stats: DataFrame,
      urlCol: String, now: Long, defaultRateQ6: Long = 500000L): DataFrame =
    discovered.select(col(urlCol).cast("string").as("url"))
      .join(stats, Seq("url"), "left")
      .withColumn("never_fetched", col("n_fetches").isNull)
      .withColumn("age",
        when(!col("never_fetched"), lit(now) - col("last_fetch")))
      .withColumn("change_rate_q6",
        when(col("never_fetched"), lit(null).cast("long"))
          .when(col("n_fetches") <= 1L, lit(defaultRateQ6))
          // `div` (not `/`): Spark's `/` is ALWAYS double division —
          // integral `div` is the exact long arithmetic the oracle's
          // `//` replays bit-for-bit
          .otherwise(expr("(n_changes * 1000000) div (n_fetches - 1)")))
      .withColumn("priority_q6",
        when(col("never_fetched"), lit(null).cast("long"))
          .otherwise(col("age") * col("change_rate_q6")))

  /** Pure-projection blocklist flag — the ingest-path form of
    * [[blocklistHits]]: the terms ride the plan as ONE array literal and
    * the test is a codegen'd `arrays_overlap`, no shuffle and no stateful
    * aggregate, so a STREAMING pipeline can flag spam without state. True
    * iff [[blocklistHits]] would emit the document. The join form below
    * stays the 100 TB default for LARGE lists (a literal array probe is
    * O(terms) per row); this form is for model-cardinality lists that fit
    * a broadcast literal. */
  def blocklistFlagCol(text: Column, blocklist: Seq[String]): Column =
    arrays_overlap(tokens(lower(text)),
      org.apache.spark.sql.functions.typedlit(blocklist.distinct))

  /** Vocabulary-blocklist audit (the C4 "bad words" gate): per-document
    * DISTINCT banned-term hits, as (doc_id, n_blocked, first_blocked) for
    * flagged documents only.
    *
    * Scale shape: the corpus side reduces to distinct (doc, token) pairs —
    * a pure projection, no shuffle — and the blocklist joins as a BROADCAST
    * hash relation (term lists are model-cardinality: even a million-term
    * list is a few MB), so the corpus is never shuffled by token; only the
    * matched rows (blocklist-hit cardinality) reach the per-doc aggregate.
    * This is why the join form beats a `rlike` alternation: the regex is
    * O(terms) per CHARACTER at scan time and cannot be pushed into a hash
    * lookup, while the join stays O(1) per token however long the list. */
  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = blocklist.distinct.toDF("term")
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(tokens(lower(col(textCol))))).as("tok"))
      .join(broadcast(terms), col("tok") === col("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocked"), min(col("tok")).as("first_blocked"))
  }

  /** The filtering form: documents with NO blocklist hit — a left-anti
    * join against [[blocklistHits]]'s doc_ids. The right side is
    * flagged-doc cardinality (ids only, 8 bytes each); AQE broadcasts it
    * when small and falls back to a hash anti-join on doc_id when a dirty
    * corpus makes it large — no hint, so neither case is pessimized. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame =
    docs.join(
      blocklistHits(docs, idCol, textCol, blocklist).select(col("doc_id").as("__bad")),
      col(idCol).cast("long") === col("__bad"), "left_anti")

  /** Per-document Unicode-SCRIPT mix — the writing-system signal a
    * CCNet-style multilingual pipeline reads alongside the n-gram
    * language ID ([[languageId]] can only rank languages whose n-gram
    * profiles it carries; the script histogram is model-free and catches
    * mixed-script spam, mojibake, and wrong-script routing at scan
    * speed). Counts per explicit BMP codepoint range (identical count
    * semantics in every engine — no locale/property-name dependence):
    * Latin letters, Cyrillic, CJK unified ideographs, digits; plus the
    * dominant script among the three letter classes (deterministic
    * Latin > Cyrillic > CJK tie order) and its round4 share of all
    * letter-class chars (NULL when the doc has none). Pure codegen'd
    * regexp projections — no shuffle, no UDF. */
  def scriptMix(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pattern: String) =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), pattern, ""))).cast("long")
    val lat = cnt("[A-Za-z]"); val cyr = cnt("[\\u0400-\\u04FF]")
    val cjk = cnt("[\\u4E00-\\u9FFF]"); val dig = cnt("[0-9]")
    docs.select(col(idCol).cast("long").as("doc_id"),
        lat.as("n_latin"), cyr.as("n_cyrillic"), cjk.as("n_cjk"), dig.as("n_digit"))
      .withColumn("n_letters", col("n_latin") + col("n_cyrillic") + col("n_cjk"))
      .withColumn("dominant_script",
        // NULL text first: NULL counts make every comparison NULL (falsy)
        // and would fall through to otherwise("cjk")
        when(col("n_letters").isNull || col("n_letters") === 0,
          lit(null).cast("string"))
        .when(col("n_latin") >= col("n_cyrillic") && col("n_latin") >= col("n_cjk"), "latin")
        .when(col("n_cyrillic") >= col("n_cjk"), "cyrillic")
        .otherwise("cjk"))
      .withColumn("dominant_share",
        when(col("n_letters") === 0, lit(null).cast("double"))
          .otherwise(round4(greatest(col("n_latin"), col("n_cyrillic"), col("n_cjk"))
            .cast("double") / col("n_letters").cast("double"))))
  }

  /** Per-document token statistics: token count, char count, distinct tokens,
    * mean token length. */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      size(array_distinct(tokens(col(textCol)))).cast("long").as("n_distinct_tokens"),
      round4(length(replace(col(textCol), lit(" "), lit(""))).cast("double") /
        size(tokens(col(textCol))).cast("double")).as("mean_token_len"))

  /** GPT-2-style pre-tokenizer pattern, restricted to constructs Java regex
    * and RE2 (the DuckDB oracle) evaluate identically: contraction
    * suffixes, then space-prefixed letter runs, digit runs, and punctuation
    * runs — leftmost-first alternation, NO lookahead (RE2 has none). The
    * token COUNT approximates a BPE tokenizer's pre-split sequence length,
    * the standard proxy for training-token accounting before the merges. */
  val BpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  /** Per-document token accounting: whitespace tokens vs BPE-ish pre-tokens
    * (and distinct pre-tokens — a cheap repetitiveness signal). Pure codegen
    * (`regexp_extract_all`), integer outputs only. */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pretoks = regexp_extract_all(lower(col(textCol)), lit(BpePretokenPattern), lit(0))
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      size(pretoks).cast("long").as("n_bpe_tokens"),
      size(array_distinct(pretoks)).cast("long").as("n_bpe_distinct"))
  }

  /** Gopher-style repetition statistics — the duplicate-content quality
    * filter for training corpora: a document whose word n-grams (default
    * n=3) repeat heavily is boilerplate/spam. Per document:
    * `n_words`, `n_grams`, `n_distinct_grams`,
    * `dup_gram_frac` = (n_grams − distinct)/n_grams, and
    * `top_word_frac` = count(most frequent word)/n_words.
    *
    * Scale shape: words and n-grams are exploded map-side and aggregated
    * with partial (map-side-combinable) counts — the document TEXT never
    * shuffles, only `(doc_id, md5(gram))` pairs. Grams shuffle as md5
    * digests, not strings: counts over digests equal counts over grams for
    * BOTH engines (the oracle groups by the same md5), so the comparison
    * stays exact even in the astronomically-unlikely collision case while
    * the wire carries fixed 32-char keys instead of unbounded text. The
    * fractions are single IEEE divisions of exact integers — bit-identical
    * across engines. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("ws"))
    val wordStats = base
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"), max("c").as("top_word_count"))
    // native one-call-per-doc window md5s (same tokens, same windows — the
    // WindowHashArray identity, spec-pinned against the declarative form)
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(graft.expressions.GraftExpressions.windowHashes(col(textCol), n)).as("g"))
    val gramStats = grams
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_grams"), count(lit(1)).as("n_distinct_grams"))
    base.select("doc_id")
      .join(wordStats, Seq("doc_id"), "left")
      .join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise((col("n_grams") - col("n_distinct_grams")).cast("double") /
            col("n_grams").cast("double")).as("dup_gram_frac"),
        when(coalesce(col("n_words"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("top_word_count").cast("double") /
            col("n_words").cast("double")).as("top_word_frac"))
  }

  /** Sliding-window document chunking — the retrieval/context-window prep
    * step: each document's token stream is cut into `chunkTokens`-token
    * windows starting every `stride` tokens (overlap = chunkTokens −
    * stride). One output row per chunk with its token count and content
    * digest; a real pipeline emits the chunk text itself — the digest keeps
    * the gate's wire format small while pinning the exact content. Pure
    * per-row `transform`/`slice`/`explode` — no shuffle at all until a
    * downstream consumer aggregates. Zero-token documents yield no chunks. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(stride >= 1 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride")
    docs.select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0L), expr(s"(size(ws) - 1) DIV $stride")),
        j => {
          val chunk = slice(col("ws"), (j * stride + 1).cast("int"), lit(chunkTokens))
          struct(j.as("chunk_idx"),
            size(chunk).cast("long").as("n_chunk_tokens"),
            md5(concat_ws(" ", chunk)).as("chunk_md5"))
        })).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.n_chunk_tokens"), col("c.chunk_md5"))
  }

  /** TF-IDF top terms per document — the classic relevance/keyword-
    * extraction primitive: tf = term count within the doc, df = number of
    * docs containing the term, idf = ln((1+N)/(1+df)) + 1 (sklearn-style
    * smooth idf), score = tf·idf.
    *
    * Scale shape: one explode + (doc, term) count (map-side combinable),
    * one term-level df aggregate (term cardinality — vocabulary-sized, tiny
    * next to the corpus), joined back BROADCAST, and the per-doc top-k
    * rank rides WindowGroupLimit's partial pruning like every top-k here.
    * Scored in double with [[round4]]'s engine-stable half-up rounding so
    * the DuckDB oracle reproduces the exact values (ln outputs never sit on
    * rounding boundaries the way small-denominator ratios do). */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val n = docs.count()
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), Seq("term"))
      .withColumn("score", round4(col("tf") *
        (lnStrict((lit(1L) + lit(n)) / (lit(1L) + col("df"))) + lit(1.0))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Quality heuristics in [0,1]: length score (saturating at `goodLen`
    * tokens), type-token ratio, stopword ratio against a profile list, and a
    * blended quality score. Mirrors the common pre-training quality filters
    * (length/stopword/repetition heuristics). */
  /** Raw (lengthScore, ttr, stopRatio) component expressions — the single
    * definition both [[qualityScore]] and [[qualityCol]] blend from. */
  private[graft] def qualityComponents(textCol: Column, stopwords: Seq[String],
      goodLen: Int): (Column, Column, Column) = {
    val toks = tokens(textCol)
    val stopArr = array(stopwords.map(lit): _*)
    val nTok = size(toks).cast("double")
    val lengthScore = least(lit(1.0), nTok / lit(goodLen.toDouble))
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks, t => array_contains(stopArr, t))).cast("double") / nTok
    (lengthScore, ttr, stopRatio)
  }

  private def qualityBlend(ls: Column, ttr: Column, sr: Column): Column =
    round4(lit(0.4) * ls + lit(0.3) * ttr + lit(0.3) * sr)

  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = DefaultStopwords, goodLen: Int = 50): DataFrame = {
    val (ls, ttr, sr) = qualityComponents(col(textCol), stopwords, goodLen)
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      round4(ls).as("length_score"),
      round4(ttr).as("type_token_ratio"),
      round4(sr).as("stopword_ratio"),
      qualityBlend(ls, ttr, sr).as("quality"))
  }

  /** The [[qualityScore]] blend as a single Column — the form a multi-stage
    * filter pipeline wants, so quality can ride an existing projection
    * instead of forcing a join back on doc_id. Values are identical to
    * `qualityScore(...).quality` by construction (same component
    * expressions, same blend). */
  def qualityCol(textCol: Column,
      stopwords: Seq[String] = DefaultStopwords, goodLen: Int = 50): Column = {
    val (ls, ttr, sr) = qualityComponents(textCol, stopwords, goodLen)
    qualityBlend(ls, ttr, sr)
  }

  /** Per-language rounded score expressions in sorted language order — the
    * single definition both [[languageId]] and [[predictedLangCol]] use. */
  private def langScores(textCol: Column,
      profiles: Map[String, Seq[String]]): Seq[(String, Column)] = {
    val toks = tokens(textCol)
    val nTok = size(toks).cast("double")
    profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      (lang, round(size(filter(toks, t => array_contains(arr, t))).cast("double") / nTok, 6))
    }
  }

  /** Argmax with deterministic tie-break: fold over languages in sorted
    * order; ties → lexicographically first; 'und' when nothing matches. */
  private def argmaxLang(scores: Seq[(String, Column)]): Column =
    scores.foldLeft((lit("und"), lit(0.0))) {
      case ((bl, bs), (lang, sc)) =>
        (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }._1

  /** [[languageId]]'s argmax prediction as a single Column (same scores,
    * same lexicographic tie-break, 'und' when nothing matches) — composable
    * into an existing projection without a doc_id join. */
  def predictedLangCol(textCol: Column,
      profiles: Map[String, Seq[String]] = DefaultLangProfiles): Column =
    argmaxLang(langScores(textCol, profiles))

  /** Stopword-profile language identification: score = fraction of tokens in
    * each language's profile; prediction = argmax (ties → lexicographically
    * first language, 'und' when nothing matches). The classic trigram/stopword
    * n-gram heuristic, expressed relationally. */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
      profiles: Map[String, Seq[String]] = DefaultLangProfiles): DataFrame = {
    val scores = langScores(col(textCol), profiles)
    docs.select(
      (col(idCol).cast("long").as("doc_id") +:
        scores.map { case (l, c) => c.as(s"score_$l") }) :+
        argmaxLang(scores).as("predicted_lang"): _*)
  }

  /** Content fingerprint: 16-hex-char prefix of md5 over the normalized text
    * (lower, trimmed, whitespace-collapsed). The cheap exact-dedup key; a
    * rolling/winnowing variant lives in [[TextOps.winnowingFingerprints]]. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      substring(md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")), 1, 16)
        .as("fingerprint"))

  /** Winnowing-style fingerprints: minimum shingle hash per sliding window of
    * `w` consecutive k-shingles — the standard local fingerprinting scheme
    * (Schleimer et al.), giving position-robust dedup keys.
    *
    * The computation is purely row-local, so it runs as ONE native codegen
    * call per document ([[graft.expressions.WinnowingFingerprintSet]]) and
    * an explode — where the window-function form pays a doc-partitioned
    * shuffle + sort plus a distinct shuffle for identical output. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.expressions.GraftExpressions.winnowingFingerprintSet(
          col(textCol), k, w)).as("fingerprint"))

  /** Exact heavy hitters with a count-min-sketch candidate pass: words whose
    * exact count is ≥ `threshold`, found WITHOUT shuffling the full
    * vocabulary. Pass 1 folds every token into a fixed-size CMS (map-side
    * partial sketches, one merged sketch — O(depth×width) bytes regardless
    * of corpus size — is all the driver ever holds). Pass 2 re-scans and
    * keeps only tokens whose sketch estimate reaches the threshold — a
    * JIT'd bucket lookup ([[graft.expressions.CmsEstimate]]) BEFORE the
    * exact-count shuffle — then exact-counts and verifies the survivors.
    *
    * CMS never undercounts, so the candidate set is a superset of the true
    * heavy hitters and the exact verification makes the result EXACT — the
    * same approximate-candidates + exact-verify contract as the MinHash→
    * Jaccard dedup path. At 100 TB the exact-count shuffle carries only
    * suspected-heavy words (ε bounds the false-candidate mass at ε·N extra
    * count per key), not the full vocabulary. */
  def heavyHitters(docs: DataFrame, textCol: String, threshold: Long,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val words = CoreOps.tokenize(docs, textCol).select("word")
    val sketchBytes = words
      .agg(count_min_sketch(col("word"), lit(eps), lit(confidence), lit(seed)))
      .head().getAs[Array[Byte]](0)
    words
      .where(graft.expressions.GraftExpressions.cmsEstimate(col("word"), sketchBytes) >= threshold)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
  }

  /** CCNet-style statistical language-model scoring: an add-k-smoothed
    * BIGRAM model trained over the corpus's own transitions, scoring each
    * document by its average per-transition negative log-likelihood and the
    * corresponding perplexity — the classic LM-quality filter (CCNet buckets
    * corpora by KenLM perplexity; DSIR weighs by n-gram LM ratios).
    *
    * Model: P(w|v) = (c(v,w) + k) / (c(v) + k·V), with c(v) the count of v
    * as a transition CONTEXT, V the corpus's distinct-token vocabulary, and
    * k the additive-smoothing mass. Documents with fewer than two tokens
    * have no transitions and drop out (no score is defined for them).
    *
    * Determinism: each transition's NLL is fixed-pointed to q6 longs
    * (floor(−ln(p)·10⁶ + 0.5) — p < 1 always under add-k, so NLL ≥ 0) and
    * SUMMED AS LONGS, so the per-document total is exact and independent of
    * partitioning, retries, and aggregation order; `avg_nll` and `ppl` are
    * then single IEEE divides / exp of exactly-agreed inputs, `round4`ed.
    * A SQL oracle replays every step bit-identically.
    *
    * Scale shape: transitions are a guarded pure projection + explode (no
    * shuffle); the model tables aggregate at BIGRAM-VOCABULARY cardinality,
    * not corpus cardinality, with map-side partial counts; scoring joins
    * carry (doc_id, v, w) token pairs — never document text. At 100 TB the
    * production variant prunes the bigram table (min-count cutoff) and
    * broadcasts it; the join shape here is the same. */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    // sequence(2, n) is DESCENDING for n < 2 — guard to an empty array so
    // sub-2-token docs contribute no transitions (and Spark never builds
    // a [2,1] sequence).
    val trans = base.select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
          .otherwise(expr("array()"))).as("t"))
      .select(col("doc_id"), col("t.v").as("v"), col("t.w").as("w"))
    val vocab = base.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("vocab"))
    val bigram = trans.groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
    val context = trans.groupBy("v").agg(count(lit(1)).as("c_v"))
    val p = (col("c_vw").cast("double") + lit(addK)) /
      (col("c_v").cast("double") + lit(addK) * col("vocab"))
    trans
      .join(bigram, Seq("v", "w"))
      .join(context, Seq("v"))
      .crossJoin(broadcast(vocab))
      // graft_ln_strict, not the built-in log: the q6 floor downstream must
      // be bit-stable across executions (StrictMath in BOTH eval paths —
      // the built-in is StrictMath only under codegen)
      .withColumn("nll_q6",
        floor(-graft.expressions.GraftExpressions.lnStrict(p)
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum(col("nll_q6")).as("sum_nll_q6"))
      .select(col("doc_id"), col("n_trans"), col("sum_nll_q6"),
        round4(col("sum_nll_q6").cast("double") / lit(1000000.0) /
          col("n_trans").cast("double")).as("avg_nll"),
        round4(expStrict(col("sum_nll_q6").cast("double") / lit(1000000.0) /
          col("n_trans").cast("double"))).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity — the standard n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999) that add-k
    * ([[bigramPerplexity]]) only approximates. KN discounts every observed
    * bigram by a fixed absolute mass D and redistributes it through a
    * CONTINUATION unigram ("how many distinct contexts does w follow?")
    * instead of raw frequency — the distinction that makes "Francisco"
    * (frequent but only after "San") score low as a continuation. This is
    * the LM behind KenLM, i.e. the actual CCNet filter model.
    *
    * Model (interpolated, bigram order):
    *   P(w|v)   = (c(v,w) − D)/c(v) + (D·N1+(v·)/c(v)) · Pcont(w)
    *   Pcont(w) = N1+(·w) / B
    * with c(v) the transition-context count, N1+(v·) the distinct
    * followers of v, N1+(·w) the distinct predecessors of w, and B the
    * total number of distinct bigram types (= Σ_w N1+(·w)). D = 0.75
    * (binary-exact, the textbook default). Scoring the training corpus
    * itself means every scored transition has c(v,w) ≥ 1 > D, so the
    * max(·,0) branch of the discount never fires and P ∈ (0, 1] always;
    * per-context Σ_w P(w|v) = 1 exactly (pinned in OperatorsSpec).
    *
    * Determinism: every probability is a fixed arithmetic expression over
    * exact integer counts, written in the SAME IEEE operation order as the
    * SQL oracle; each transition's NLL is q6-fixed and summed as longs
    * (the [[bigramPerplexity]] contract).
    *
    * Scale shape: identical to [[bigramPerplexity]] — model tables at
    * bigram-vocabulary cardinality (map-side combinable), scoring joins
    * carry (doc_id, v, w) pairs, text never shuffles. */
  def knPerplexity(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    // P ∈ (0, 1] depends on c_vw ≥ 1 > D — enforce it rather than let a
    // bad discount surface as -log(negative) = NaN deep in the plan
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val trans = base.select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
          .otherwise(expr("array()"))).as("t"))
      .select(col("doc_id"), col("t.v").as("v"), col("t.w").as("w"))
    val bigram = trans.groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
    // context stats: transition count AND distinct-follower count per v —
    // one aggregate at context-vocabulary cardinality
    val ctx = trans.groupBy("v").agg(count(lit(1)).as("c_v"),
      countDistinct(col("w")).as("n1_v"))
    // continuation stats: distinct predecessors per w
    val cont = trans.groupBy("w").agg(countDistinct(col("v")).as("n1_w"))
    // total distinct bigram types B = Σ_w N1+(·w)
    val btypes = bigram.agg(count(lit(1)).cast("double").as("btypes"))
    // same textual op order as the oracle:
    //   (c_vw - D)/c_v + (D*n1_v/c_v)*(n1_w/B)
    val p = (col("c_vw").cast("double") - lit(discount)) / col("c_v").cast("double") +
      (lit(discount) * col("n1_v").cast("double") / col("c_v").cast("double")) *
        (col("n1_w").cast("double") / col("btypes"))
    trans
      .join(bigram, Seq("v", "w"))
      .join(ctx, Seq("v"))
      .join(cont, Seq("w"))
      .crossJoin(broadcast(btypes))
      // graft_ln_strict, not the built-in log: the q6 floor downstream must
      // be bit-stable across executions (StrictMath in BOTH eval paths —
      // the built-in is StrictMath only under codegen)
      .withColumn("nll_q6",
        floor(-graft.expressions.GraftExpressions.lnStrict(p)
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum(col("nll_q6")).as("sum_nll_q6"))
      .select(col("doc_id"), col("n_trans"), col("sum_nll_q6"),
        round4(col("sum_nll_q6").cast("double") / lit(1000000.0) /
          col("n_trans").cast("double")).as("avg_nll"),
        round4(expStrict(col("sum_nll_q6").cast("double") / lit(1000000.0) /
          col("n_trans").cast("double"))).as("ppl"))
  }

  /** Class-based TF-IDF topic terms (the BERTopic c-TF-IDF rule,
    * Grootendorst 2022): treat each document CLASS (e.g. a semantic
    * cluster from k-means assignment) as one pseudo-document and rank its
    * terms by tf_{c,w} · ln(1 + A / f_w), where tf_{c,w} is the term's
    * count inside the class, f_w its corpus-wide count, and A the average
    * tokens per class (total / `nClasses`) — the labeling step that turns
    * anonymous cluster ids into human-readable topics after semantic
    * curation.
    *
    * Determinism: the idf factor is q6-fixed per WORD (exact inputs: two
    * longs and the literal class count), the score is the exact long
    * product tf · idf_q6, and the per-class rank orders on (score_q6
    * desc, word) — bit-identical in any engine.
    *
    * Scale shape: token rows (doc_id, word) join the ids-only `labels`
    * map (never text); tf aggregates at class×vocabulary cardinality and
    * f_w at vocabulary cardinality, both map-side combinable; the final
    * rank rides WindowGroupLimit at class cardinality. */
  def classTfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame, nClasses: Int, topM: Int = 3): DataFrame = {
    require(nClasses >= 1 && topM >= 1)
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
      .join(labels, "doc_id")
      .select(col("cluster"), col("word"))
    val tf = tok.groupBy("cluster", "word").agg(count(lit(1)).as("tf"))
    val fw = tok.groupBy("word").agg(count(lit(1)).as("fw"))
    val tot = tok.agg(count(lit(1)).as("n"))
    val idf = fw.crossJoin(broadcast(tot))
      .select(col("word"),
        floor(lnStrict(lit(1.0) + (col("n").cast("double") / lit(nClasses.toDouble))
            / col("fw").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("idf_q6"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score_q6").desc, col("word"))
    tf.join(idf, "word")
      .withColumn("score_q6", col("tf") * col("idf_q6"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topM)
      .select(col("cluster"), col("rank"), col("word"), col("tf"), col("score_q6"))
  }

  /** DoReMi-style domain-mixture reweighting (Xie et al. 2023, reduced to
    * its group-DRO core): per-source model loss → T rounds of
    * exponentiated-gradient updates that up-weight sources with loss
    * ABOVE the current mixture average — the in-engine-trained answer to
    * "what should next epoch's source mix be", completing the
    * train-in-engine family (x12 LR filter, x13 BPE merges).
    *
    * Loss signal: the corpus-trained bigram LM's per-TOKEN NLL by source
    * ([[bigramPerplexity]]'s exact q6 transition sums rolled up per
    * source; `loss_q6 = Σ sum_nll_q6 div Σ n_trans`, pure integer).
    * EG round (all longs, order-free):
    *   mean_q6   = (Σ_s w_q6(s)·loss_q6(s)) div 1e6
    *   excess_q6 = max(0, loss_q6 − mean_q6)
    *   u_q6      = floor(w_q6 · exp((eta · excess_q6) / 1e6) + 0.5)
    *   w'_q6     = (u_q6 · 1e6) div Σ u_q6
    * Every input to the one transcendental (`exp`) is an exact long, and
    * every sum is a long sum — the same determinism contract as the q6
    * `ln` in [[bigramPerplexity]]/[[dsirSelect]]. The learned weights
    * then drive a largest-remainder EXACT integer token allocation of
    * `tokenBudget` (Σ target_tokens == tokenBudget by construction).
    *
    * Scale shape: the 100 TB work is the loss rollup — bigram-vocabulary-
    * cardinality model tables, per-source long sums, map-side combinable.
    * The EG loop runs on the collected (source, loss) table, bounded by
    * SOURCE cardinality (tens), the same driver-side-scalars contract as
    * the DP calibration and histogram-median thresholds.
    *
    * Output: (source, loss_q6, w_q6, target_tokens) — deliberately
    * double-free, so its hash gate never depends on how an engine formats
    * or parses an IEEE value: w_q6/1e6 is the mixture weight. */
  def doremiMixWeights(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, iterations: Int = 8, tokenBudget: Long = 1000000L,
      etaPct: Int = 50): DataFrame =
    doremiMixTraced(docs, idCol, textCol, sourceCol, iterations, tokenBudget, etaPct)._1

  /** [[doremiMixWeights]] returning, next to the mixture, what its DuckDB
    * oracle splices as VALUES tables: the per-source (source, loss_q6) rows
    * the EG loop consumed and its (round, source, excess_q6, post-floor
    * weight u) trace ([[egRounds]]). */
  def doremiMixTraced(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, iterations: Int = 8, tokenBudget: Long = 1000000L,
      etaPct: Int = 50): (DataFrame, Seq[(String, Long)], Seq[(Int, String, Long, Long)]) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = docs.sparkSession
    import spark.implicits._
    val perDoc = bigramPerplexity(docs, idCol, textCol)
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("__src")), "doc_id")
    val perSource = perDoc.groupBy("__src")
      .agg(sum(col("sum_nll_q6")).as("s"), sum(col("n_trans")).as("n"))
      .select(col("__src"), expr("s div n").as("loss_q6"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val (w, trace) = egRounds(perSource, iterations, etaPct)
    (egAllocation(perSource, w, tokenBudget)
      .toDF("source", "loss_q6", "w_q6", "target_tokens"), perSource, trace)
  }

  /** The EG + allocation core of [[doremiMixWeights]] as a pure function
    * over (source, loss_q6) rows — shared by the batch trainer and the
    * streaming mixture monitor (whose accumulators produce the same rows),
    * so stream == batch holds by construction once the losses agree.
    * Input must be sorted by source (the deterministic-iteration order). */
  private[graft] def egMixtureRows(perSource: Seq[(String, Long)],
      iterations: Int, tokenBudget: Long,
      etaPct: Int): Seq[(String, Long, Long, Long)] =
    egAllocation(perSource, egRounds(perSource, iterations, etaPct)._1, tokenBudget)

  /** The EG rounds of [[egMixtureRows]]: the final q6 weights and the
    * per-round (round, source, excess_q6, post-floor weight u) trace. The
    * exp runs through `StrictMath.exp` (fdlibm bit-exact by JLS spec), so a
    * gate-time-frozen trace always matches a later re-execution of the
    * same gate. The trace carries the POST-FLOOR integer
    * `u = floor(w·exp(η·excess/1e6) + 0.5)`, never the IEEE factor: a
    * DOUBLE literal inside a VALUES splice is the one surface a
    * differently-versioned DuckDB can parse 1 ulp differently, whereas
    * BIGINTs are exact in every engine. The oracle still recomputes its own
    * `exp` per round and FAILS CLOSED unless each spliced u sits within ±1
    * of its own `floor(w·exp(·)+0.5)`, and joins each round on its OWN
    * recomputed excess, so a stale or mis-keyed splice drops rows. */
  private def egRounds(perSource: Seq[(String, Long)], iterations: Int,
      etaPct: Int): (Array[Long], Seq[(Int, String, Long, Long)]) = {
    val nSrc = perSource.length
    require(nSrc >= 1, "corpus must contain at least one source with >= 2-token docs")
    val losses = perSource.map(_._2)
    var w = Array.fill(nSrc)(1000000L / nSrc)
    val trace = Seq.newBuilder[(Int, String, Long, Long)]
    for (round <- 1 to iterations) {
      val meanQ6 = w.zip(losses).map { case (wq, lq) => wq * lq }.sum / 1000000L
      val u = w.zip(losses).zipWithIndex.map { case ((wq, lq), i) =>
        val excessQ6 = math.max(0L, lq - meanQ6)
        // StrictMath.exp: fdlibm bit-exact on every JVM/JIT tier/process,
        // so the gate-time-frozen trace always matches a re-execution
        // (Math.exp is 1-ulp and tier-dependent)
        val factor = StrictMath.exp((etaPct.toDouble / 100.0 * excessQ6.toDouble) / 1000000.0)
        val uq = math.floor(wq.toDouble * factor + 0.5).toLong
        // freeze the post-floor LONG, not the factor double — the splice
        // must never carry an IEEE literal
        trace += ((round, perSource(i)._1, excessQ6, uq))
        uq
      }
      val uSum = u.sum
      w = u.map(uq => uq * 1000000L / uSum)
    }
    (w, trace.result())
  }

  private def egAllocation(perSource: Seq[(String, Long)], w: Array[Long],
      tokenBudget: Long): Seq[(String, Long, Long, Long)] = {
    val nSrc = perSource.length
    val losses = perSource.map(_._2)
    // exact integer allocation of tokenBudget: floor shares, then the
    // whole deficit dealt (deficit div nSrc) to everyone and the
    // remainder to the largest fractional shares (source-name tiebreak) —
    // Σ target_tokens == tokenBudget identically
    val base = w.map(wq => tokenBudget * wq / 1000000L)
    val rem = w.map(wq => tokenBudget * wq % 1000000L)
    val deficit = tokenBudget - base.sum
    val each = deficit / nSrc
    val bumpCount = (deficit % nSrc).toInt
    val bump = perSource.indices
      .sortBy(i => (-rem(i), perSource(i)._1)).take(bumpCount).toSet
    perSource.indices.map { i =>
      (perSource(i)._1, losses(i), w(i),
        base(i) + each + (if (bump.contains(i)) 1L else 0L))
    }
  }

  /** The FROZEN bigram model tables a long-lived scorer holds: transition
    * counts, context counts, and the vocabulary size — [[bigramPerplexity]]'s
    * model factored out for maintained storage (score many epochs under one
    * model snapshot; retrain on corpus releases, not per batch). */
  def bigramModel(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, Double) = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val trans = base.select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
          .otherwise(expr("array()"))).as("t"))
      .select(col("t.v").as("v"), col("t.w").as("w"))
    val vocab = base.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0).toDouble
    (trans.groupBy("v", "w").agg(count(lit(1)).as("c_vw")),
      trans.groupBy("v").agg(count(lit(1)).as("c_v")), vocab)
  }

  /** Per-document exact q6 NLL sums under a FROZEN bigram model — the
    * scoring half of [[bigramPerplexity]] generalized to documents the
    * model has never seen: unseen transitions/contexts LEFT-join to zero
    * counts, where add-k smoothing still defines P > 0 (that is what the
    * smoothing is for). Works identically on batch and streaming frames
    * (the joins are stream-static on the model side); on the training
    * corpus itself every join matches, so values equal
    * [[bigramPerplexity]]'s by construction.
    *
    * Scale shape: transitions are a row-wise projection; the model tables
    * join at bigram-vocabulary cardinality (broadcastable after a
    * min-count prune at 100 TB); output is one row per document. */
  def bigramNllUnder(docs: DataFrame, idCol: String, textCol: String,
      bigram: DataFrame, ctx: DataFrame, vocabSize: Double,
      addK: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val trans = base.select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
          .otherwise(expr("array()"))).as("t"))
      .select(col("doc_id"), col("t.v").as("v"), col("t.w").as("w"))
    val p = (coalesce(col("c_vw"), lit(0L)).cast("double") + lit(addK)) /
      (coalesce(col("c_v"), lit(0L)).cast("double") + lit(addK) * lit(vocabSize))
    trans
      .join(bigram, Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      // graft_ln_strict, not the built-in log: the q6 floor downstream must
      // be bit-stable across executions (StrictMath in BOTH eval paths —
      // the built-in is StrictMath only under codegen)
      .withColumn("nll_q6",
        floor(-graft.expressions.GraftExpressions.lnStrict(p)
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum(col("nll_q6")).as("sum_nll_q6"))
  }

  /** A trained quality-LR model: (numBuckets, iters, lr, scale,
    * labelThreshold, weights) — what [[scoreQualityLr]] scores with and the
    * x12 oracle splices. */
  type QualityLr = (Int, Int, Double, Double, Double, Array[Double])

  /** Hashed bag-of-tokens features + weak label for [[trainQualityLr]]:
    * x_j = scale · count(bucket j) / n_tokens over `numBuckets` md5 buckets,
    * label = 1 iff the document's stopword share clears `labelThreshold`
    * (the heuristic being distilled). Zero-token documents drop (no
    * features, no defined label). */
  private def lrFeatures(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int, scale: Double, labelThreshold: Double,
      stopwords: Seq[String]): DataFrame = {
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"),
        when(size(filter(col("toks"), t => t.isin(stopwords: _*))).cast("double") /
            size(col("toks")).cast("double") >= labelThreshold, 1).otherwise(0).as("y"))
    val counts = base.select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long") % numBuckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
    base.select("doc_id", "n", "y")
      .join(counts, Seq("doc_id"))
      .select(col("doc_id"), col("y"),
        transform(sequence(lit(0), lit(numBuckets - 1)),
          j => coalesce(element_at(col("m"), j.cast("long")), lit(0L)).cast("double") /
            col("n").cast("double") * lit(scale)).as("x"))
  }

  /** The linear score as ONE canonical zero-init ascending left fold over
    * [w₀·1, w₁·x₁, …] — bias folded in as the leading term — so every
    * engine reproduces the identical double: Spark's `aggregate` here,
    * `list_reduce` in the oracle, a plain ascending loop in the replica
    * spec. The weights ride a single ARRAY literal (not per-weight scalar
    * literals): codegen passes arrays by reference, so the generated source
    * is byte-identical across GD iterations and janino's cache makes each
    * iteration's plan compile free — scalar literals would inline into the
    * source and force a full recompile of the (large) gradient stage every
    * iteration. */
  private def lrLinearScore(w: Array[Double]): Column =
    aggregate(zip_with(typedlit(w.toSeq), concat(array(lit(1.0)), col("x")),
      (a, b) => a * b), lit(0.0), (acc, v) => acc + v)

  /** Model-based quality filtering with the model TRAINED IN THE ENGINE —
    * the fasttext-style classifier step of GPT-3/CCNet-style pipelines
    * (train a cheap linear model on weak labels, score the whole corpus),
    * distilling a stopword-share heuristic into hashed bag-of-tokens
    * features. Full-batch logistic-regression gradient descent, driver-
    * orchestrated: each iteration is ONE distributed aggregate.
    *
    * Bit-determinism: every per-document gradient contribution
    * err·xⱼ is fixed-pointed to q6 longs and SUMMED AS LONGS, so the
    * per-iteration gradient — and therefore the final weight vector — is
    * exact and independent of partitioning, retries, and aggregation
    * order; a single-node replica spec pins the distributed training to
    * the identical weights.
    *
    * Scale shape: features build once (two map-side-combinable aggregates,
    * bucket-cardinality shuffle payloads) and persist; each GD iteration
    * shuffles numBuckets+1 longs per partition (the posexplode aggregates
    * at feature cardinality) and collects numBuckets+1 rows to the driver —
    * the corpus never moves again. At 100 TB the same loop holds: iteration
    * cost is one pass over cached features, driver state is O(D). */
  def trainQualityLr(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 128, iters: Int = 60, lr: Double = 2.0,
      scale: Double = 10.0, labelThreshold: Double = 0.06,
      stopwords: Seq[String] = DefaultStopwords): QualityLr =
    (numBuckets, iters, lr, scale, labelThreshold,
      trainOnFeatures(lrFeatures(docs, idCol, textCol, numBuckets, scale,
        labelThreshold, stopwords), numBuckets, iters, lr))

  private def trainOnFeatures(feats: DataFrame, numBuckets: Int, iters: Int,
      lr: Double, unpersistFeatures: Boolean = true): Array[Double] = {
    // The GD loop is the one place the engine goes imperative — the MLlib
    // pattern for iterative optimizers: features deserialize ONCE into a
    // cached RDD of plain JVM rows, and each iteration is a single tiny
    // mapPartitions job (one O(D) long array per partition, exact long-add
    // reduce — order-free). A declarative per-iteration plan pays Catalyst
    // analysis + codegen on a D-wide aggregate every iteration (~0.3 s of
    // driver time each, 60× — measured 3× slower than the whole RDD loop).
    val spark = feats.sparkSession
    import spark.implicits._
    val persisted = feats.persist()
    val nDocs = persisted.count()
    require(nDocs > 0, "cannot train on an empty corpus")
    // right-size training parallelism: a GD iteration on a small cached
    // feature set must not pay 32 task launches for microseconds of math —
    // floor at ~20k docs/partition; a large corpus keeps its parallelism
    val parts = math.max(1, math.min(persisted.rdd.getNumPartitions,
      math.ceil(nDocs / 20000.0).toInt))
    val data = persisted.select(col("y").cast("double"), col("x"))
      .as[(Double, Seq[Double])].rdd.coalesce(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    data.count()
    // when the caller scores from the same feature plan afterwards, the DF
    // cache stays registered (Spark's LRU reclaims it under pressure)
    if (unpersistFeatures) persisted.unpersist()
    val w = Array.fill(numBuckets + 1)(0.0)
    for (_ <- 0 until iters) {
      val wNow = w.clone()
      val g = data.mapPartitions { it =>
        val acc = Array.fill(numBuckets + 1)(0L)
        it.foreach { case (y, x) =>
          // the canonical fold: 0.0 + w₀·1, then ascending wⱼ₊₁·xⱼ
          var z = 0.0 + wNow(0) * 1.0
          var j = 0
          while (j < numBuckets) { z += wNow(j + 1) * x(j); j += 1 }
          val err = 1.0 / (1.0 + StrictMath.exp(-z)) - y
          acc(0) += math.floor(err * 1.0 * 1000000.0 + 0.5).toLong
          j = 0
          while (j < numBuckets) {
            acc(j + 1) += math.floor(err * x(j) * 1000000.0 + 0.5).toLong
            j += 1
          }
        }
        Iterator.single(acc)
      }.reduce { (a, b) =>
        val out = new Array[Long](numBuckets + 1)
        var j = 0
        while (j <= numBuckets) { out(j) = a(j) + b(j); j += 1 }
        out
      }
      var j = 0
      while (j <= numBuckets) {
        w(j) -= lr * (g(j).toDouble / 1e6) / nDocs
        j += 1
      }
    }
    data.unpersist()
    w
  }

  /** Trains like [[trainQualityLr]] and scores every document: the weak label, the exact q6-fixed linear
    * score (z_q6 — bit-identical in any engine), the sigmoid probability
    * (round4 — the one soft spot, exp being libm), and the prediction
    * (sign of the EXACT z, so it can never flip on a rounding boundary).
    * Scoring is a pure projection over the feature build — no training
    * state touches the scoring path. */
  def qualityLrScore(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 128, iters: Int = 60, lr: Double = 2.0,
      scale: Double = 10.0, labelThreshold: Double = 0.06,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    // ONE feature build serves both training and scoring (the training
    // path persists it; scoring reuses the same cached plan)
    val feats = lrFeatures(docs, idCol, textCol, numBuckets, scale,
      labelThreshold, stopwords)
    scoreProjection(feats,
      trainOnFeatures(feats, numBuckets, iters, lr, unpersistFeatures = false))
  }

  /** Score a corpus under an ALREADY-TRAINED model ([[trainQualityLr]]) —
    * the pure-projection scoring path, zero training stages: the PR-curve
    * sweep's contract is "pin the choice given the filter", so it must not
    * pay full training cost when the filter is already trained. Output is identical to
    * [[qualityLrScore]] given the same model, by construction (the same
    * projection over the same feature build). */
  def scoreQualityLr(docs: DataFrame, idCol: String, textCol: String,
      model: QualityLr,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val (numBuckets, _, _, scale, labelThreshold, w) = model
    scoreProjection(
      lrFeatures(docs, idCol, textCol, numBuckets, scale, labelThreshold, stopwords), w)
  }

  private def scoreProjection(feats: DataFrame, w: Array[Double]): DataFrame = {
    val z = lrLinearScore(w)
    feats.select(col("doc_id"), col("y").as("label"),
        floor(z * lit(1000000.0) + lit(0.5)).cast("long").as("z_q6"),
        round4(lit(1.0) / (lit(1.0) + expStrict(-z))).as("score"),
        (z >= lit(0.0)).as("pred"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * rank raw-corpus documents by how much more likely their hashed-bigram
    * features are under a TARGET domain's n-gram distribution than under
    * the raw corpus's own, then Gumbel-top-k sample by that importance
    * weight. The per-bucket log-ratio λ_f = ln(p_target(f)/p_raw(f)) uses
    * add-k smoothing on both sides; a document's weight is the sum of
    * λ over its bigram occurrences.
    *
    * Determinism: λ is q6-fixed per bucket and document weights are SUMS OF
    * LONGS (exact, order-independent); the Gumbel perturbation derives its
    * uniform from md5(doc_id) — (h₅₂ + 0.5)/2⁵², the same hash-to-unit
    * trick the LSH planes use — and is itself q6-fixed, so selection ranks
    * a total order on longs that any engine reproduces.
    *
    * Scale shape: bigram buckets aggregate at feature cardinality
    * (map-side combine) and the λ table (numBuckets rows) BROADCASTS back;
    * per-doc weights are one map-side-combinable aggregate over (doc_id,
    * long) rows — text never shuffles. The final top-k is orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort); only
    * the k selected rows see the single-partition rank window. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, numBuckets: Int = 256, k: Int = 100,
      addK: Double = 0.5, tag: String = "dsir"): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      targetPred.as("__target"), tokens(col(textCol)).as("toks"))
    // localCheckpoint (guide §2.4): the hashed-bigram occurrence table
    // feeds BOTH the λ-table aggregate and the per-doc weight aggregate —
    // un-materialized, each consumer re-runs the upstream filter chain +
    // tokenize + per-bigram md5 over the text. The stored rows are three
    // scalars ((doc_id, bool, bucket) — never text), the narrow-proxy
    // materialization the §8 worked example prescribes.
    val trans = base.select(col("doc_id"), col("__target"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> concat(toks[i-2], ' ', toks[i-1]))"))
          .otherwise(expr("array()"))).as("bg"))
      .select(col("doc_id"), col("__target"),
        (conv(substring(md5(col("bg")), 1, 2), 16, 10).cast("long") % numBuckets).as("f"))
      .localCheckpoint()
    // one pass for BOTH distributions (not a groupBy + a filtered
    // groupBy + a left join): ct = conditional count in the same aggregate,
    // identical to the joined form (absent target buckets read 0 either way)
    val table = trans.groupBy("f").agg(count(lit(1)).as("cr"),
      count(when(col("__target"), lit(1))).as("ct"))
    val totals = table.agg(sum(col("cr")).as("totr"), sum(col("ct")).as("tott"))
    val denom = addK * numBuckets
    val lam = table.crossJoin(broadcast(totals))
      .select(col("f"), floor(lnStrict(
          ((col("ct").cast("double") + lit(addK)) / (col("tott").cast("double") + lit(denom))) /
          ((col("cr").cast("double") + lit(addK)) / (col("totr").cast("double") + lit(denom))))
        * lit(1000000.0) + lit(0.5)).cast("long").as("lam_q6"))
    val gumbelQ6 = floor(-lnStrict(-lnStrict(
        (conv(substring(md5(concat(lit(s"$tag:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
          .cast("double") + lit(0.5)) / lit(4503599627370496.0)))
      * lit(1000000.0) + lit(0.5)).cast("long")
    val top = trans.join(broadcast(lam), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"), sum(col("lam_q6")).as("w_q6"))
      .withColumn("g_q6", col("w_q6") + gumbelQ6)
      .orderBy(col("g_q6").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("g_q6").desc, col("doc_id"))))
      .select("rank", "doc_id", "n_trans", "w_q6", "g_q6")
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Tiny illustrative stopword profiles (en/es/de/fr). Real deployments load
    * larger profiles; the operator shape is identical. */
  val DefaultLangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "en", "que"))

  // -------------------------------------------------------------------------
  // x13: in-engine BPE merge training (count → LEARN → apply — the stage
  // x6's fixed pre-tokenizer and q_vocab_coverage's assumed vocabulary
  // bracket but neither provides)
  // -------------------------------------------------------------------------

  /** Word-frequency table under the [[BpePretokenPattern]] pre-tokenizer:
    * the corpus collapses to (word, freq) at vocabulary cardinality in ONE
    * map-side-combinable aggregate. ALL downstream BPE training iterates
    * over this table — at 100 TB the corpus is read exactly once and the
    * working set is the distinct-word vocabulary, never the text. */
  def bpeWordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(regexp_extract_all(lower(col(textCol)),
        lit(BpePretokenPattern), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Leftmost-first non-overlapping merge of adjacent (l, r) occurrences in
    * a symbol sequence — standard BPE application semantics (an occurrence
    * consumed by a merge cannot seed the next one: "aaa" under (a,a) →
    * ["aa", "a"]). */
  private[graft] def mergePairInWord(ss: Array[String], l: String, r: String): Array[String] = {
    if (ss.length < 2) ss
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](ss.length)
      var i = 0
      while (i < ss.length) {
        if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) { out += (l + r); i += 2 }
        else { out += ss(i); i += 1 }
      }
      out.toArray
    }
  }

  /** Deterministic argmax over (pair, count): higher count wins; ties break
    * to the lexicographically smallest (left, right). Commutative and
    * associative, so `fold` over any partitioning reproduces it. */
  private[graft] def betterPair(a: ((String, String), Long),
      b: ((String, String), Long)): ((String, String), Long) =
    if (a._2 != b._2) { if (a._2 > b._2) a else b }
    else if (Ordering.Tuple2(Ordering.String, Ordering.String).compare(a._1, b._1) <= 0) a
    else b

  /** In-engine BPE merge training (Sennrich et al. 2016) over a word-
    * frequency table: `numMerges` rounds of (pair-count aggregate → argmax
    * → merge), each round two small jobs over the VOCABULARY-cardinality
    * working set. Training is bit-deterministic: pair counts are exact
    * longs, the argmax is a total order ([[betterPair]]), and merging is
    * a pure per-word function — the same loop-in-engine pattern as
    * [[qualityLrScore]]'s gradient descent (x12), with the merge list as
    * the exported model. Stops early when no pair reaches `minPairFreq`.
    *
    * Returns the learned merges in rank order plus the final per-word
    * tokenization (word, n_tokens, freq, tokens) — the
    * vocabulary-cardinality model table an apply path joins against (or
    * replays via [[bpeSegment]], which reproduces exactly this state;
    * pinned in BpeTrainSpec). The token arrays make the TRAINED token
    * vocabulary itself replayable downstream (token frequency = Σ word
    * freq × multiplicity — the tokenizer-design input).
    *
    * Scale shape: per round, the flatMap emits (pair, freq) rows that
    * partial-aggregate map-side, so the shuffle carries the PAIR-vocabulary
    * cardinality; the argmax `fold` moves one row per partition to the
    * driver; driver state is O(numMerges). Every round is materialized
    * with `localCheckpoint` and the superseded round freed (the
    * [[graft.operators.Dedup]] components pattern): each snapshot is
    * self-contained, so no recompute path ever replays the merge chain —
    * and the lineage/plan never grows with the round count. */
  def bpeTrain(wordFreq: DataFrame, numMerges: Int, minPairFreq: Long = 2L)
      : (Seq[(String, String)], DataFrame) = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    // few partitions for a vocabulary-sized working set: per-round job
    // overhead stays low; a 100 TB corpus's larger vocabulary raises this
    // with its input partitioning
    val parts = math.min(8, math.max(1, wordFreq.rdd.getNumPartitions))
    var syms = wordFreq.select(col("word"), col("freq").cast("long"))
      .as[(String, Long)].rdd
      .map { case (w, f) => (w.map(_.toString).toArray, f) }
      .coalesce(parts).cache()
    syms.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val best = syms.flatMap { case (ss, f) =>
        if (ss.length < 2) Iterator.empty
        else (0 until ss.length - 1).iterator.map(i => ((ss(i), ss(i + 1)), f))
      }.reduceByKey(_ + _)
        .fold((("", ""), Long.MinValue))(betterPair)
      if (best._2 < minPairFreq) done = true
      else {
        val (l, r) = best._1
        merges += ((l, r))
        val next = syms.map { case (ss, f) => (mergePairInWord(ss, l, r), f) }
          .localCheckpoint()
        next.count()
        syms.unpersist(blocking = false)
        syms = next
      }
    }
    val wordTokens = syms
      .map { case (ss, f) => (ss.mkString(""), ss.length.toLong, f, ss.toSeq) }
      .toDF("word", "n_tokens", "freq", "tokens")
    (merges.toSeq, wordTokens)
  }

  /** Driver-side fast BPE trainer — same argmax and merge rules as
    * [[bpeTrain]] (equality spec-pinned), for word-frequency tables that
    * fit in driver memory. Even a 100 TB corpus usually collapses to a
    * vocabulary of 10⁷–10⁸ words (a few GB), and at real merge budgets
    * (30–50k) the distributed loop's 2 Spark jobs per merge become pure
    * scheduler overhead — the standard resolution (what single-node
    * tokenizer trainers do) is: distribute the ONE corpus-sized step (the
    * word-frequency aggregate), then train over the collapsed table
    * locally. [[bpeTrainAuto]] dispatches on vocabulary size.
    *
    * Exact, not approximate: incremental pair counting (only words
    * containing the merged pair are touched per round, via an occurrence
    * index) plus a lazy-invalidation heap for the argmax — every count
    * change pushes a fresh heap entry and stale entries are discarded on
    * pop, so the popped maximum is always current. Ordering is the same
    * total order as [[betterPair]]: count desc, then (left, right) asc. */
  def bpeTrainLocal(wordFreq: Seq[(String, Long)], numMerges: Int,
      minPairFreq: Long = 2L): (Seq[(String, String)], Seq[(String, Long, Long, Seq[String])]) = {
    import scala.collection.mutable
    val words: Array[Array[String]] = wordFreq.map(_._1.map(_.toString).toArray).toArray
    val freqs: Array[Long] = wordFreq.map(_._2).toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    // superset occurrence index: a word stays listed until reprocessed
    val occ = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // max-heap by count, ties to the LEXICOGRAPHICALLY SMALLEST pair —
    // the same total order as betterPair
    val pairOrd = Ordering.Tuple2(Ordering.String, Ordering.String)
    implicit val ord: Ordering[(Long, (String, String))] =
      new Ordering[(Long, (String, String))] {
        def compare(a: (Long, (String, String)), b: (Long, (String, String))): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else -pairOrd.compare(a._2, b._2)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, (String, String))]
    def bump(p: (String, String), delta: Long, wordIdx: Int): Unit = {
      val c = counts.getOrElse(p, 0L) + delta
      if (c == 0L) counts.remove(p) else counts(p) = c
      if (delta > 0L) {
        occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wordIdx
        heap.enqueue((c, p))
      } else if (c > 0L) heap.enqueue((c, p))
    }
    def scanWord(i: Int, sign: Long): Unit = {
      val ss = words(i)
      val f = freqs(i) * sign
      var j = 0
      while (j < ss.length - 1) { bump((ss(j), ss(j + 1)), f, i); j += 1 }
    }
    var i = 0
    while (i < words.length) { scanWord(i, 1L); i += 1 }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      // pop stale entries until the top reflects a current count
      var best: Option[(Long, (String, String))] = None
      while (best.isEmpty && heap.nonEmpty) {
        val top = heap.dequeue()
        if (counts.get(top._2).contains(top._1)) best = Some(top)
      }
      best match {
        case Some((c, p)) if c >= minPairFreq =>
          merges += p
          val affected = occ.remove(p).getOrElse(mutable.ArrayBuffer.empty).distinct
          for (w <- affected) {
            val ss = words(w)
            var has = false
            var j = 0
            while (!has && j < ss.length - 1) {
              has = ss(j) == p._1 && ss(j + 1) == p._2; j += 1
            }
            if (has) {
              scanWord(w, -1L)
              words(w) = mergePairInWord(ss, p._1, p._2)
              scanWord(w, 1L)
            }
          }
          // every occurrence was consumed: the merged pair reads zero now
          counts.remove(p)
        case _ => done = true
      }
    }
    val model = words.indices.map(w =>
      (words(w).mkString(""), words(w).length.toLong, freqs(w), words(w).toSeq))
    (merges.toSeq, model)
  }

  /** Size-dispatched BPE training: the corpus-sized step (the word-
    * frequency aggregate) is always distributed; the merge loop runs
    * driver-side ([[bpeTrainLocal]]) when the vocabulary fits under
    * `localVocabLimit` — at real merge budgets the distributed loop's two
    * jobs per merge are pure scheduler overhead — and falls back to the
    * distributed loop ([[bpeTrain]]) for vocabularies too big to collect.
    * Both paths produce IDENTICAL merges and models (spec-pinned), so the
    * dispatch is invisible to callers and oracles. */
  def bpeTrainAuto(wordFreq: DataFrame, numMerges: Int, minPairFreq: Long = 2L,
      localVocabLimit: Long = 2000000L): (Seq[(String, String)], DataFrame) = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    // persist: the size probe and the chosen train path both consume the
    // corpus-sized aggregate — without this each pays the scan again
    val wf = wordFreq.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (wf.count() <= localVocabLimit) {
        val local = wf.select(col("word"), col("freq").cast("long"))
          .as[(String, Long)].collect().sortBy(_._1).toSeq
        val (merges, model) = bpeTrainLocal(local, numMerges, minPairFreq)
        (merges, model.toDF("word", "n_tokens", "freq", "tokens"))
      } else bpeTrain(wf, numMerges, minPairFreq) // round 0 materializes eagerly
    } finally { wf.unpersist(blocking = false); () }
  }

  /** Segment one pre-token under an exported merge list: start from
    * characters, apply each merge in RANK ORDER ([[mergePairInWord]]
    * semantics). For words seen in training this reproduces the trainer's
    * final state exactly (BpeTrainSpec pins it on the full corpus); for
    * NOVEL words it is the standard BPE inference rule. */
  def bpeSegment(word: String, merges: Seq[(String, String)]): Array[String] = {
    var ss: Array[String] = word.map(_.toString).toArray
    for ((l, r) <- merges if ss.length >= 2) ss = mergePairInWord(ss, l, r)
    ss
  }

  /** Vocabulary-size selection curve: for each merge budget k in `grid`
    * (ascending), every word's token cost under the FIRST k learned merges
    * — the marginal-fertility table a tokenizer-design run reads to pick
    * its vocabulary size (where the fertility curve flattens, stop paying
    * for merges). Output (word, freq, k, n_tokens) at vocab×|grid|
    * cardinality.
    *
    * One progressive walk up the rank order per word — segmenting at
    * budget k and continuing to k' > k is exactly [[bpeSegment]] under
    * `merges.take(k')` because merge application is a prefix-stable fold
    * (BpeTrainSpec pins the equality at the top budget). Runs over the
    * WORD TABLE, never the corpus. */
  def bpeSizeCurve(wordFreq: DataFrame, merges: Seq[(String, String)],
      grid: Seq[Int]): DataFrame = {
    require(grid.nonEmpty && grid == grid.sorted, s"grid must be ascending: $grid")
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val ranked = merges.toArray
    val ks = grid.toArray
    wordFreq.select(col("word"), col("freq").cast("long"))
      .as[(String, Long)]
      .flatMap { case (w, f) =>
        var ss: Array[String] = w.map(_.toString).toArray
        val out = Array.newBuilder[(String, Long, Int, Long)]
        var rank = 0
        var gi = 0
        while (gi < ks.length) {
          while (rank < ks(gi) && rank < ranked.length) {
            if (ss.length >= 2) ss = mergePairInWord(ss, ranked(rank)._1, ranked(rank)._2)
            rank += 1
          }
          out += ((w, f, ks(gi), ss.length.toLong))
          gi += 1
        }
        out.result().toSeq
      }.toDF("word", "freq", "k", "n_tokens")
  }

  /** Per-document vocabulary-coverage stats against an exported
    * (word, n_tokens) model: pretoken count, out-of-vocabulary pretoken
    * count (LEFT join misses), in-vocab BPE token cost, and the round4 OOV
    * fraction — the generalization read a tokenizer trained on one corpus
    * snapshot gets on unseen data. Model broadcasts (vocabulary
    * cardinality); the aggregate combines map-side; text never shuffles. */
  def bpeOovStats(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val words = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(regexp_extract_all(lower(col(textCol)),
        lit(BpePretokenPattern), lit(0))).as("word"))
    words.join(broadcast(model.select("word", "n_tokens")), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pretokens"),
        count(when(col("n_tokens").isNull, lit(1))).as("n_oov"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_invocab_tokens"))
      .withColumn("oov_frac", round4(
        col("n_oov").cast("double") / col("n_pretokens").cast("double")))
  }

  // -------------------------------------------------------------------------
  // x21: UNIGRAM-LM (SentencePiece-style) tokenizer training — the
  // probabilistic alternative to x13's merges-based BPE (Kudo 2018,
  // "Subword Regularization"): pieces are a unigram distribution and a
  // word segments to its maximum-likelihood piece sequence (Viterbi),
  // trained by hard EM over the word-frequency table. Completes the
  // tokenizer-design family: BPE train / size curve / OOV / fertility /
  // coverage are merge-based; this is the LM-based trainer the same
  // corpora choose between.
  // -------------------------------------------------------------------------

  /** The "unused but required" log-probability stand-in: a single-char
    * piece whose count is zero stays in the vocabulary (full character
    * coverage keeps every word segmentable) at effectively -∞ — chosen
    * only when forced, without perturbing the M-step's MLE on the
    * supported pieces (a Laplace floor would). */
  private val UnigramLogFloor = -1e9

  /** Viterbi segmentation of one word under piece log-probabilities:
    * maximize Σ log p(piece); ties break to the LONGEST final piece at
    * each position (deterministic — candidates at one end position have
    * distinct lengths). Single-char coverage guarantees a path. Returns
    * (pieces, score). */
  private[graft] def unigramViterbi(word: String,
      logp: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int): (Array[String], Double) = {
    val n = word.length
    val score = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    score(0) = 0.0
    var i = 1
    while (i <= n) {
      val maxL = math.min(i, maxPieceLen)
      var L = 1
      while (L <= maxL) {
        val lp = logp.get(word.substring(i - L, i))
        if (lp != null) {
          val cand = score(i - L) + lp.doubleValue()
          if (cand > score(i) || (cand == score(i) && L > back(i))) {
            score(i) = cand; back(i) = L
          }
        }
        L += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = n
    while (j > 0) { out += word.substring(j - back(j), j); j -= back(j) }
    (out.reverseIterator.toArray, score(n))
  }

  /** Driver-side unigram-LM tokenizer training (Kudo 2018, the
    * deterministic hard-EM variant) over a word-frequency table — the
    * [[bpeTrainLocal]] contract: the CORPUS-sized step (the word-freq
    * aggregate) is distributed by the caller; training then runs
    * single-node over the collapsed vocabulary, exactly where real
    * tokenizer trainers run (SentencePiece is single-node), with driver
    * state at word-table cardinality.
    *
    * Algorithm:
    *   1. SEED: every substring of every word up to `maxPieceLen`,
    *      occurrence-counted × word freq; all single chars kept, the
    *      multi-char tail capped at 4×`vocabSize` by (count DESC, piece
    *      ASC) — the deterministic total order used everywhere here.
    *   2. One E-step under the seed distribution, then PRUNE to
    *      `vocabSize` (all single chars + the top multi-char pieces by
    *      segmentation count) — after this the vocabulary is FIXED.
    *   3. `emIters` hard-EM rounds: M (piece prob = count/total, log via
    *      StrictMath; zero-count single chars pinned at the -1e9 floor)
    *      then E (Viterbi re-segmentation, freq-weighted counts). Each
    *      round's corpus log-likelihood Σ freq·score is recorded; over
    *      the fixed vocabulary hard EM is monotone non-decreasing in
    *      this objective (E maximizes segmentations given params, M
    *      maximizes params given segmentations) — spec-asserted.
    *
    * Fully deterministic: counts are exact longs, probs/logs are fixed
    * IEEE ops in sorted word order, every selection uses the total
    * order, Viterbi ties break to the longest piece. Returns (pieces
    * (piece, count, logp), word segmentations (word, n_tokens, freq,
    * tokens) — the x13 model shape, so the SAME apply/oracle path
    * consumes either tokenizer — and the likelihood trace). */
  def unigramTrainLocal(wordFreq: Seq[(String, Long)], vocabSize: Int,
      maxPieceLen: Int = 8, emIters: Int = 3)
      : (Seq[(String, Long, Double)], Seq[(String, Long, Long, Seq[String])], Seq[Double]) = {
    import scala.collection.mutable
    require(vocabSize > 0 && maxPieceLen > 0 && emIters >= 1)
    val words = wordFreq.sortBy(_._1)
    // ---- 1. seed counts: substring occurrences × freq ----
    val seed = mutable.HashMap.empty[String, Long]
    for ((w, f) <- words; i <- 0 until w.length;
         L <- 1 to math.min(maxPieceLen, w.length - i)) {
      val s = w.substring(i, i + L)
      seed(s) = seed.getOrElse(s, 0L) + f
    }
    val chars: Set[String] = words.iterator.flatMap(_._1.map(_.toString)).toSet
    def topBy(m: Iterable[(String, Long)], k: Int): Seq[(String, Long)] =
      m.toSeq.sortBy { case (p, c) => (-c, p) }.take(k)
    val seedVocab: Map[String, Long] =
      chars.map(c => c -> seed.getOrElse(c, 0L)).toMap ++
        topBy(seed.filter { case (p, _) => p.length > 1 }, vocabSize * 4)
    // ---- shared E/M machinery ----
    def mStep(counts: Map[String, Long]): java.util.HashMap[String, java.lang.Double] = {
      val total = counts.valuesIterator.sum.toDouble
      val lp = new java.util.HashMap[String, java.lang.Double](counts.size * 2)
      for ((p, c) <- counts)
        lp.put(p, if (c > 0L) StrictMath.log(c.toDouble / total)
          else UnigramLogFloor)
      lp
    }
    def eStep(lp: java.util.HashMap[String, java.lang.Double])
        : (Map[String, Long], Seq[(String, Array[String])], Double) = {
      val counts = mutable.HashMap.empty[String, Long]
      val segs = mutable.ArrayBuffer.empty[(String, Array[String])]
      var ll = 0.0
      for ((w, f) <- words) {
        val (pieces, score) = unigramViterbi(w, lp, maxPieceLen)
        segs += ((w, pieces))
        ll += f * score
        for (p <- pieces) counts(p) = counts.getOrElse(p, 0L) + f
      }
      (counts.toMap, segs.toSeq, ll)
    }
    // ---- 2. seed E-step + prune to the final vocabulary ----
    val (c1, _, ll1) = eStep(mStep(seedVocab))
    val kept: Set[String] = chars ++
      topBy(c1.filter { case (p, c) => p.length > 1 && c > 0L },
        math.max(0, vocabSize - chars.size)).map(_._1)
    var counts: Map[String, Long] =
      kept.map(p => p -> c1.getOrElse(p, 0L)).toMap
    // ---- 3. fixed-vocab hard EM ----
    val trace = mutable.ArrayBuffer[Double](ll1)
    var lastLp = mStep(counts)
    var lastSegs: Seq[(String, Array[String])] = Seq.empty
    for (_ <- 1 to emIters) {
      lastLp = mStep(counts)
      val (c, segs, ll) = eStep(lastLp)
      trace += ll
      // vocab is fixed: pieces the new segmentation dropped keep count 0
      counts = kept.map(p => p -> c.getOrElse(p, 0L)).toMap
      lastSegs = segs
    }
    val freqOf = words.toMap
    val pieces = counts.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => (p, c, lastLp.get(p).doubleValue()) }
    val model = lastSegs.map { case (w, ss) =>
      (w, ss.length.toLong, freqOf(w), ss.toSeq) }
    (pieces, model, trace.toSeq)
  }

  /** DataFrame wrapper for [[unigramTrainLocal]]: collects the word-freq
    * table in sorted order (the documented driver-scalars contract at
    * word-table cardinality — the [[bpeTrainAuto]] local arm's shape) and
    * returns (pieces, word-model) frames, the model in the exact x13
    * export schema. */
  def unigramTrain(wordFreq: DataFrame, vocabSize: Int,
      maxPieceLen: Int = 8, emIters: Int = 3)
      : (DataFrame, DataFrame, Seq[Double]) = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val local = wordFreq.select(col("word"), col("freq").cast("long"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val (pieces, model, trace) =
      unigramTrainLocal(local, vocabSize, maxPieceLen, emIters)
    (pieces.toDF("piece", "count", "logp"),
      model.toDF("word", "n_tokens", "freq", "tokens"), trace)
  }

  /** Tokenize documents under an exported merge list: per-doc BPE token
    * count from pre-tokens segmented by [[bpeSegment]]. A pure map over the
    * corpus (the ranked merge list rides the closure — model cardinality,
    * the broadcast-scalars pattern); the output is (doc_id, n_pretokens,
    * n_bpe_tokens) scalars. */
  def bpeApplyCount(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pat = java.util.regex.Pattern.compile(BpePretokenPattern)
    val ranked = merges.toArray
    docs.select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .map { case (id, text) =>
        val m = pat.matcher(text)
        var nPre = 0L
        var nTok = 0L
        while (m.find()) {
          nPre += 1
          nTok += bpeSegment(m.group(0), ranked).length
        }
        (id, nPre, nTok)
      }
      .toDF("doc_id", "n_pretokens", "n_bpe_tokens")
  }

  /** Fill-in-the-middle (FIM) transformation for infilling-capable training
    * data (Bavarian et al. 2022; the StarCoder data prep step): each
    * document's token sequence is split at two DETERMINISTIC cut points
    * into (prefix, middle, suffix) and re-serialized in PSM order
    * (prefix ‖ suffix ‖ middle). Cut points are md5-derived from the
    * document id (the A-ES portable-hash trick), so the transform is
    * reproducible across engines and runs: a = h("#fim1") mod (n+1),
    * b = h("#fim2") mod (n+1), u = min(a,b), v = max(a,b).
    *
    * Output: (doc_id, n_prefix, n_middle, n_suffix, psm_md5) where psm_md5
    * fingerprints the reordered serialization 'prefix|suffix|middle'.
    *
    * Scale shape: a PURE PROJECTION — no shuffle, no join, no state; FIM
    * at 100 TB is scan-speed by construction. */
  /** BM25 top-k retrieval over the corpus for a query set — the lexical
    * search primitive a curation platform runs for decontamination-by-
    * retrieval, hard-negative mining, and audit queries. Scoring is the
    * Lucene BM25 form: per matched term, `ln(1 + (N − df + 0.5)/(df +
    * 0.5)) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`, summed per
    * (query, doc), self-matches (query doc retrieving itself) excluded,
    * top-k per query by score with doc-id tiebreak.
    *
    * Determinism: per-term scores are q6-quantized longs, summed as longs
    * (float-order immune); the RANKING itself orders on the exact q6 sum,
    * never the rounded display score. Terms are 60-bit md5 hashes on both
    * sides — reproducible in any engine.
    *
    * Scale shape: the corpus is touched once to build (doc, term-hash)
    * tf rows — the only corpus-sized shuffles are the tf/doclen
    * aggregates, carrying (id, 60-bit hash) longs, never text. Query
    * terms broadcast (queries ≪ corpus); the df table is pre-filtered to
    * matched terms via that broadcast BEFORE its own broadcast back, so
    * vocabulary-cardinality state never reaches the score join; corpus
    * stats (N, total length) ride a one-row broadcast. Everything after
    * the match join runs at matched-posting cardinality, and top-k rides
    * WindowGroupLimit. */
  def bm25Search(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, qIdCol: String, qTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (tfdl, dfreq, nDocs, totalDl) = bm25Index(corpus, idCol, textCol)
    val qTerms = bm25TermRows(queries, qIdCol, "query_id", qTextCol).distinct()
    bm25TopK(
      bm25MatchScores(qTerms, tfdl, dfreq, nDocs, totalDl, k1, b), k)
  }

  /** (id, 60-bit term hash) rows of whitespace tokens — the shared term
    * derivation of the BM25 family (md5 prefix: engine-portable). */
  private[graft] def bm25TermRows(df: DataFrame, idCol: String,
      idName: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as(idName),
        explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t") =!= "")
      .select(col(idName),
        conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long").as("th"))

  /** The MATERIALIZABLE corpus side of BM25: the (doc, term, tf, dl)
    * posting table, the per-term document frequencies, and the corpus
    * stats (N, total length). A maintained-storage ingest loop persists
    * these once and scores every epoch against them (the maintained-index
    * contract the dedup/semantic indexes already follow). */
  def bm25Index(corpus: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, Long, Long) =
    bm25FromTf(bm25TermRows(corpus, idCol, "doc_id", textCol)
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf")))

  /** (tfdl, dfreq, N, total_dl) from a finished (doc_id, th, tf) table —
    * the shared tail of [[bm25Index]] and [[bm25IndexWithAnchors]], so
    * the enriched index differs from the plain one ONLY in how tf is
    * assembled. */
  private def bm25FromTf(tf0: DataFrame): (DataFrame, DataFrame, Long, Long) = {
    // checkpoint the finished (doc_id, th, tf) posting table (guide
    // §2.4): THREE consumers (doc-length aggregate, the tfdl join, the df
    // aggregate) would otherwise each re-run the corpus tokenize + per-term
    // md5 + tf shuffle; the stored rows are three longs — this IS the
    // "materializable index" the scaladoc promises. dl likewise feeds the
    // join AND the stats aggregate.
    val tf = tf0.localCheckpoint()
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl")).localCheckpoint()
    val tfdl = tf.join(dl, Seq("doc_id"))
    val dfreq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val statsRow = dl.agg(count(lit(1)), sum(col("dl"))).head()
    (tfdl, dfreq, statsRow.getLong(0), statsRow.getLong(1))
  }

  /** [[bm25Index]] enriched with INLINK ANCHOR TEXT: each anchor's tokens index as if they were part of the TARGET
    * document's own text, `weight`-fold — the classic anchor-text
    * relevance signal of the public web-search literature (what the web
    * CALLS a page often describes it better than the page itself, and is
    * the only text available for a discovered-but-uncrawled target).
    * Semantically EXACTLY [[bm25Index]] over a virtual corpus where each
    * target's text is appended `weight` copies of its inlink anchor text
    * (spec-pinned equivalence): combined tf = body_tf + weight·anchor_tf,
    * dl extends accordingly, df counts a doc once whether a term comes
    * from body, anchors, or both. A target id absent from `corpus`
    * becomes an ANCHOR-ONLY entry — deliberate: that is how early web
    * search indexed pages it had not yet crawled. Output composes
    * unchanged with [[bm25IndexMerge]]/[[bm25IndexDelete]]/
    * [[bm25MatchScores]] (same four-table shape).
    *
    * `anchors` carries (targetIdCol, anchorTextCol) rows — one per
    * extracted inlink, e.g. [[extractLinks]] output joined to a
    * url→doc dimension. Scale shape: the anchor side aggregates at
    * LINK cardinality before unioning into the body tf (both already
    * keyed (doc_id, th)); everything downstream is [[bm25Index]]'s own
    * aggregates — no new wide operation. */
  def bm25IndexWithAnchors(corpus: DataFrame, idCol: String, textCol: String,
      anchors: DataFrame, targetIdCol: String, anchorTextCol: String,
      weight: Int = 2): (DataFrame, DataFrame, Long, Long) = {
    require(weight >= 1, s"anchor weight must be >= 1, got $weight")
    val bodyTf = bm25TermRows(corpus, idCol, "doc_id", textCol)
      .groupBy("doc_id", "th").agg(count(lit(1)).as("tf"))
    val anchorTf = bm25TermRows(anchors, targetIdCol, "doc_id", anchorTextCol)
      .groupBy("doc_id", "th")
      .agg((count(lit(1)) * lit(weight.toLong)).as("tf"))
    bm25FromTf(bodyTf.unionByName(anchorTf)
      .groupBy("doc_id", "th").agg(sum(col("tf")).as("tf")))
  }

  /** Merge an ADMITTED ingest epoch into a materialized BM25 index without
    * rebuilding: the epoch's postings union in, document frequencies add
    * (an aggregate merge at term-vocabulary cardinality), and the corpus
    * stats update by closed form. Equals [[bm25Index]] over the unioned
    * corpus exactly (spec-pinned) — the index-maintenance step that pairs
    * with [[graft.streaming.StreamingPipelines.retrievalScoreStream]] the
    * way the signature/cell indexes pair with their dedup streams.
    * Precondition: epoch ids are disjoint from the indexed corpus (they
    * are, for admitted NEW documents — re-ingesting an id double-counts). */
  def bm25IndexMerge(tfdl: DataFrame, dfreq: DataFrame, nDocs: Long,
      totalDl: Long, epochDocs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, Long, Long) = {
    val (eTfdl, eDfreq, eN, eDl) = bm25Index(epochDocs, idCol, textCol)
    val mergedDf = dfreq.unionByName(eDfreq)
      .groupBy("th").agg(sum(col("df")).as("df"))
    (tfdl.unionByName(eTfdl), mergedDf, nDocs + eN, totalDl + eDl)
  }

  /** Delete a removal set from a materialized BM25 index WITHOUT rebuild —
    * the right-to-be-forgotten maintenance step that pairs with
    * [[bm25IndexMerge]] (appends): postings of removed docs anti-join out,
    * per-term document frequencies decrement by each removed doc's
    * distinct-term presence (terms reaching df = 0 drop from the table),
    * and the corpus stats update by closed form from the removed docs'
    * own posting rows. Equals [[bm25Index]] over the corpus minus the
    * removal set exactly (spec-pinned). Removal ids not present in the
    * index (including zero-token docs, which the index never held) are
    * no-ops by construction.
    *
    * Scale shape: deletion requests are MICROSCOPIC next to the corpus —
    * the removal set broadcasts to both the anti-join and the df-decrement
    * aggregate; the index shuffles nothing (the anti-join and the
    * decrement's posting-side scan are map-side against the broadcast),
    * and the df merge aggregates at REMOVED-term cardinality, not
    * vocabulary cardinality. Stats are one bounded aggregate over the
    * removed docs' postings. */
  def bm25IndexDelete(tfdl: DataFrame, dfreq: DataFrame, nDocs: Long,
      totalDl: Long, removeIds: DataFrame, idCol: String): (DataFrame, DataFrame, Long, Long) = {
    val rem = broadcast(removeIds.select(col(idCol).cast("long").as("doc_id")).distinct())
    val removedPostings = tfdl.join(rem, Seq("doc_id"))
    val dfDec = removedPostings.groupBy("th").agg(count(lit(1)).as("__ddf"))
    val newDfreq = dfreq.join(broadcast(dfDec), Seq("th"), "left")
      .select(col("th"), (col("df") - coalesce(col("__ddf"), lit(0L))).as("df"))
      .where(col("df") > 0)
    val newTfdl = tfdl.join(rem, Seq("doc_id"), "left_anti")
    val statsRow = removedPostings.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (newTfdl, newDfreq, nDocs - statsRow.getLong(0), totalDl - statsRow.getLong(1))
  }

  /** Exact q6 match scores per (query, doc) from query terms and an index —
    * the composition batch [[bm25Search]] and the streaming retrieval
    * monitor share (so stream==batch holds by construction). Self-matches
    * (query_id == doc_id) drop. Output: (query_id, doc_id, __s_q6). */
  def bm25MatchScores(qTerms: DataFrame, tfdl: DataFrame, dfreq: DataFrame,
      nDocs: Long, totalDl: Long, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val matchedDf = dfreq.join(broadcast(qTerms.select("th").distinct()), Seq("th"))
    val matched = tfdl
      .join(broadcast(qTerms), Seq("th"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(matchedDf), Seq("th"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_dl", lit(totalDl))
    matched
      .withColumn("__t_q6", bm25TermScoreQ6(k1, b))
      .groupBy("query_id", "doc_id").agg(sum(col("__t_q6")).as("__s_q6"))
  }

  /** The q6-quantized per-term BM25 score over columns (tf, df, dl, n_docs,
    * total_dl) — ONE definition shared by batch scoring and the streaming
    * retrieval monitor, so stream==batch holds by construction. */
  private[graft] def bm25TermScoreQ6(k1: Double, b: Double): Column = {
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = lnStrict(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * ((col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))))
    floor(termScore * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** Top-k per query over exact q6 match scores, display score round4 —
    * ranking NEVER sees the rounded value. */
  def bm25TopK(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy("query_id").orderBy(col("__s_q6").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (floor(col("__s_q6").cast("double") / lit(1000000.0) * lit(10000.0) + lit(0.5))
          / lit(10000.0)).as("score"))
  }

  /** Graded-relevance nDCG@k of the BM25 retriever — the ranking-quality
    * measurement that completes the retrieval-evaluation family
    * (recall@k grades set membership, RBO grades list agreement; nDCG
    * grades POSITION × GRADED relevance, the standard search metric).
    *
    * Relevance grade: rel(q, d) = min(`maxGrade`, (#distinct words shared
    * between the query document and the result) div `gradeDiv`) — a
    * deterministic graded label derivable in any engine (the term-overlap
    * labeling used when no human judgments exist; the divisor widens the
    * band so grades actually spread). Gain 2^rel − 1, discount
    * 1/log2(i+1).
    *
    * Determinism: the k discount values are computed ONCE in Scala,
    * q6-fixed, and spliced as literals into BOTH the Spark plan and the
    * SQL oracle (no cross-engine log2); gains and discounts multiply and
    * sum as exact longs; nDCG (and its ideal-ranking denominator, the
    * same gain multiset re-sorted descending) is one final guarded IEEE
    * divide, round4'd. nDCG = 0 when the ideal DCG is 0 (nothing
    * relevant retrieved).
    *
    * Scale shape: the retrieval itself is [[bm25Search]]'s bounded
    * machinery; grading joins touch ≤ |queries|·k result rows against
    * (id, word) distinct-token rows; the per-query aggregate is
    * result-set cardinality. Output: (query_id, n_results, dcg_q6,
    * idcg_q6, ndcg). */
  def ndcgAt(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, qIdCol: String, qTextCol: String, k: Int,
      maxGrade: Int = 3, gradeDiv: Int = 8): DataFrame = {
    require(k >= 1 && maxGrade >= 1 && gradeDiv >= 1)
    val retrieved = bm25Search(corpus, queries, idCol, textCol, qIdCol, qTextCol, k)
      .select(col("query_id"), col("rank"), col("doc_id"))
      .localCheckpoint() // consumed by the grading join AND the final agg
    val dWords = corpus.select(col(idCol).cast("long").as("doc_id"),
      explode(array_distinct(tokens(col(textCol)))).as("word"))
    val qWords = queries.select(col(qIdCol).cast("long").as("query_id"),
      explode(array_distinct(tokens(col(qTextCol)))).as("word"))
    val shared = retrieved.join(dWords, "doc_id")
      .join(qWords, Seq("query_id", "word"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_shared"))
    val discQ6 = (1 to k).map(i =>
      math.floor(1e6 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0)) + 0.5).toLong)
    val discArr = array(discQ6.map(lit): _*)
    val graded = retrieved.join(shared, Seq("query_id", "doc_id"), "left")
      .withColumn("gain", expr(
        s"shiftleft(1L, cast(least(${maxGrade}L, coalesce(n_shared, 0L) div $gradeDiv) as int)) - 1L"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("gain").desc, col("rank"))
    graded.withColumn("ipos", row_number().over(wIdeal))
      .withColumn("d_rank", element_at(discArr, col("rank").cast("int")))
      .withColumn("d_ipos", element_at(discArr, col("ipos")))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_results"),
        sum(col("gain") * col("d_rank")).as("dcg_q6"),
        sum(col("gain") * col("d_ipos")).as("idcg_q6"))
      .select(col("query_id"), col("n_results"), col("dcg_q6"), col("idcg_q6"),
        when(col("idcg_q6") === 0L, lit(0.0))
          .otherwise(round4(col("dcg_q6").cast("double") / col("idcg_q6").cast("double")))
          .as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval rank
    * lists — the standard hybrid-retrieval combiner a curation platform
    * uses to merge lexical (BM25) and dense (embedding-cosine) signals
    * without score calibration: fused(d) = Σ_signals 1/(c + rank_s(d)),
    * summed over the signals that retrieved d, ranked descending with
    * doc-id tiebreak, top-k per query.
    *
    * Determinism: each reciprocal term is q6-quantized
    * (`floor(1e6/(c+rank) + 0.5)` as a long) and the fused score summed
    * as longs — float-order immune and engine-portable; the ranking
    * orders on the exact q6 sum, display score is round4. Input ranks
    * must already be deterministic (both producers tiebreak on doc id).
    *
    * Inputs are (query_id, rank, doc_id) rows — top-k' lists from
    * [[bm25Search]] and [[graft.operators.Similarity.bruteForceTopK]]
    * (or any index-backed variant; RRF only reads ranks).
    *
    * Scale shape: rank lists are |queries|·k' rows — MICROSCOPIC next to
    * the corpus-sized work that produced them; the fusion is one
    * full-outer join on (query_id, doc_id) ids+scalars and a
    * WindowGroupLimit top-k. At 100 TB the cost lives entirely in the
    * upstream retrieval (bounded separately); fusion stays at result-set
    * cardinality no matter the corpus size. */
  def rrfFusion(lexRanks: DataFrame, denseRanks: DataFrame, k: Int,
      c: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(c >= 0, s"c must be >= 0, got $c")
    def term(rankCol: Column): Column =
      floor(lit(1000000.0) / (lit(c.toDouble) + rankCol.cast("double")) + lit(0.5))
        .cast("long")
    val a = lexRanks.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("lex_rank"))
    val b = denseRanks.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("dense_rank"))
    val fused = a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("__f_q6",
        coalesce(term(col("lex_rank")), lit(0L)) +
          coalesce(term(col("dense_rank")), lit(0L)))
    val w = Window.partitionBy("query_id").orderBy(col("__f_q6").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (floor(col("__f_q6").cast("double") / lit(100.0) + lit(0.5)) / lit(10000.0))
          .as("rrf_score"),
        col("lex_rank"), col("dense_rank"))
  }

  /** Rank-biased overlap (Webber et al. 2010) between two top-k rank lists
    * per query — the agreement measure a retrieval stack reports when
    * deciding whether its lexical and dense signals are redundant or
    * complementary (low RBO ⇒ fusion adds real information; the eval
    * companion of [[rrfFusion]]). RBO_p = Σ_d (1−p)·p^(d−1)·|A_d ∩ B_d|/d,
    * truncated at depth k.
    *
    * Determinism — NO transcendentals at all: the geometric weight is the
    * integer recurrence w_1 = 1e6, w_d = (w_{d−1}·pPct) div 100 (exact
    * floor at every step), and each depth term is
    * ((w_d·(100−pPct)) div 100 · X_d) div d on longs, summed as longs.
    * X_d = |{docs in both top-d prefixes}| counts shared docs whose
    * max(rank_A, rank_B) ≤ d. Every engine reproduces the result
    * bit-identically; display is round4.
    *
    * Scale shape: rank lists are |queries|·k rows — result-set, not
    * corpus, cardinality; the depth table (k rows) broadcasts into the
    * prefix-overlap join and the rollup is one aggregate. All corpus-sized
    * cost lives in the upstream retrievers. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int,
      pPct: Int = 90): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(pPct >= 1 && pPct <= 99, s"pPct must be in [1,99], got $pPct")
    val spark = a.sparkSession
    import spark.implicits._
    val weights = Iterator.iterate(1000000L)(w => w * pPct / 100L)
      .take(k).zipWithIndex.map { case (w, i) => (i + 1L, w) }.toSeq
      .toDF("d", "w_q6")
    val sa = a.select(col("query_id"), col("doc_id"), col("rank").cast("long").as("ra"))
      .where(col("ra") <= k)
    val sb = b.select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rb"))
      .where(col("rb") <= k)
    val shared = sa.join(sb, Seq("query_id", "doc_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
    val xd = shared.join(broadcast(weights), col("m") <= col("d"))
      .groupBy("query_id", "d").agg(count(lit(1)).as("x"))
    sa.select("query_id").distinct()
      .crossJoin(broadcast(weights))
      .join(xd, Seq("query_id", "d"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .withColumn("t_q6", expr(s"((w_q6 * ${100 - pPct}) div 100 * x) div d"))
      .groupBy("query_id").agg(sum(col("t_q6")).as("rbo_q6"))
      .select(col("query_id"), col("rbo_q6"),
        (floor(col("rbo_q6").cast("double") / lit(100.0) + lit(0.5)) / lit(10000.0))
          .as("rbo"))
  }

  def fimTransform(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def h32(salt: String) = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8), 16, 10).cast("long")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val a = h32("#fim1") % (n + lit(1))
    val b = h32("#fim2") % (n + lit(1))
    val u = least(a, b)
    val v = greatest(a, b)
    val p = concat_ws(" ", slice(toks, lit(1), u))
    val m = concat_ws(" ", slice(toks, u + lit(1), v - u))
    val s = concat_ws(" ", slice(toks, v + lit(1), n - v))
    docs.select(col(idCol).cast("long").as("doc_id"),
      u.cast("long").as("n_prefix"),
      (v - u).cast("long").as("n_middle"),
      (n - v).cast("long").as("n_suffix"),
      md5(concat_ws("|", p, s, m)).as("psm_md5"))
  }

  /** Per-source Jensen–Shannon divergence of the unigram distribution vs
    * the whole-corpus distribution — the source-mix drift diagnostic a
    * curation run uses to spot a source whose vocabulary has wandered from
    * the corpus it feeds (and the batch counterpart of the streaming
    * vocabulary-drift monitor).
    *
    * JS(P_s‖P) = ½·KL(P_s‖M) + ½·KL(P‖M) with M = (P_s+P)/2. The second
    * KL nominally ranges over the FULL vocabulary, but every word absent
    * from source s has p_s = 0 and m = p/2, contributing p·ln 2 — so
    * Σ_{w∉s} p_w·ln(p_w/m_w) = ln 2 · (1 − Σ_{w∈s} p_w), and the whole
    * divergence needs only the (source, word) pairs that actually occur.
    * The absent mass (N − Σ c_w present) is an EXACT long subtraction.
    *
    * Determinism: each per-word term is quantized to q6 micro-units
    * (floor(x·10⁶+0.5) as long — the x11 trick) so the per-source sums are
    * exact integer sums, immune to float summation order; the final value
    * is a single IEEE expression over exactly-agreed longs, `round4`ed.
    *
    * Scale shape: ONE corpus scan builds the (source, word) count table
    * (map-side partials, source×vocab cardinality), which is materialized
    * with `localCheckpoint` (the connectedComponents trick) because four
    * independent consumers derive from it — without materialization each
    * would re-scan the corpus (measured: 6 parquet scans at explain level,
    * only partially deduped by runtime exchange reuse). Everything after
    * the checkpoint is count-table work: one word-keyed join (vocab
    * cardinality), source totals and the corpus total broadcast as
    * scalars. Document text never shuffles.
    *
    * `materialize = false` skips the checkpoint — the A/B arm the bench
    * measures to price the re-scan (every derived aggregate then re-reads
    * the corpus); production always materializes. */
  def sourceDivergence(docs: DataFrame, srcCol: String, textCol: String,
      materialize: Boolean = true): DataFrame = {
    val sw0 = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c_sw"))
    val sw = if (materialize) sw0.localCheckpoint() else sw0
    val ns = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
    val gw = sw.groupBy("word").agg(sum("c_sw").as("c_w"))
    val tot = gw.agg(sum("c_w").as("n"))
    val pSw = col("c_sw").cast("double") / col("n_s").cast("double")
    val pW = col("c_w").cast("double") / col("n").cast("double")
    val m = (pSw + pW) / lit(2.0)
    sw.join(broadcast(ns), Seq("source"))
      .join(gw, Seq("word"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"), col("n"), col("c_w"),
        floor(pSw * lnStrict(pSw / m) * lit(1000000.0) + lit(0.5)).cast("long").as("t1_q6"),
        floor(pW * lnStrict(pW / m) * lit(1000000.0) + lit(0.5)).cast("long").as("t2_q6"))
      .groupBy("source")
      .agg(first(col("n_s")).as("n_tokens"), first(col("n")).as("n"),
        count(lit(1)).as("n_distinct_words"),
        sum("t1_q6").as("sum_t1_q6"), sum("t2_q6").as("sum_t2_q6"),
        sum("c_w").as("sum_cw_present"))
      .select(col("source"), col("n_tokens"), col("n_distinct_words"),
        round4(lit(0.5) * col("sum_t1_q6").cast("double") / lit(1000000.0)
          + lit(0.5) * col("sum_t2_q6").cast("double") / lit(1000000.0)
          + lit(0.5) * lnStrict(lit(2.0))
            * ((col("n") - col("sum_cw_present")).cast("double") / col("n").cast("double")))
          .as("js_divergence"))
  }
}

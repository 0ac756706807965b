package graft
package oracle

import graft.queries.DedupQueries.{ContainmentThreshold, JaccardMaxDf, JaccardThreshold, NumBands, NumMinHashes, ShingleK}
import graft.operators._

/** Oracles of the deduplication and decontamination family: exact,
  * MinHash/LSH, containment and span dedup, contamination, and the composed
  * cleaning pipeline. */
private[oracle] object DedupOracles {

  /** Shared DuckDB fragment: distinct word-k-shingles per document, matching
    * [[Dedup.shingles]] (k=3). */
  private[oracle] val DuckShingles =
    """SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
      |       i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
      |FROM documents""".stripMargin

  // ---- shared lexical-dedup DuckDB fragments (used by the llm oracles and
  //      the hybrid d17 oracle, which also needs the trained centroids) ----
  private[oracle] lazy val paramValues = Dedup.minHashParams(NumMinHashes)
    .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")

  /** One d25 arm's CTE chain (prefix `p`, text source CTE `src` with
    * (doc_id, text)): shingles → hash set → minhash signatures → band
    * buckets → per-planted-pair band hit + exact Jaccard ≥ threshold,
    * ending in `${p}ok(doc_id)` = planted originals whose variant was
    * caught by this arm. The formulas are [[sigCte]]/[[lshCandsCte]]/
    * [[jaccardCte]] verbatim, parameterized by source. */
  private[oracle] def neardupArmCtes(p: String, src: String): String =
    s"""|${p}sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |       i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
        |  FROM $src),
        |${p}hh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM ${p}sh),
        |${p}sigs AS (SELECT doc_id, j, min((a * h + b) % ${Dedup.MinHashPrime}) AS minhash
        |            FROM ${p}hh CROSS JOIN params GROUP BY doc_id, j),
        |${p}banded AS (
        |  SELECT doc_id, j // ${NumMinHashes / NumBands} AS band,
        |         md5(array_to_string(list(minhash::VARCHAR ORDER BY j), ',')) AS bucket
        |  FROM ${p}sigs GROUP BY doc_id, band),
        |${p}bandhit AS (SELECT DISTINCT pp.doc_id FROM planted pp
        |  JOIN ${p}banded x ON x.doc_id = pp.doc_id
        |  JOIN ${p}banded y ON y.doc_id = pp.variant_id AND y.band = x.band AND y.bucket = x.bucket),
        |${p}sz AS (SELECT doc_id, count(*) AS sz FROM ${p}hh GROUP BY doc_id),
        |${p}int AS (SELECT pp.doc_id, count(*) AS inter FROM planted pp
        |  JOIN ${p}hh x ON x.doc_id = pp.doc_id
        |  JOIN ${p}hh y ON y.doc_id = pp.variant_id AND y.h = x.h GROUP BY 1),
        |${p}ok AS (SELECT pp.doc_id FROM planted pp
        |  JOIN ${p}bandhit b ON b.doc_id = pp.doc_id
        |  JOIN ${p}int i ON i.doc_id = pp.doc_id
        |  JOIN ${p}sz sa ON sa.doc_id = pp.doc_id
        |  JOIN ${p}sz sb ON sb.doc_id = pp.variant_id
        |  WHERE round(i.inter::DOUBLE / (sa.sz + sb.sz - i.inter)::DOUBLE, 6) >= $JaccardThreshold)""".stripMargin

  private[oracle] lazy val sigCte =
      s"""sh AS ($DuckShingles),
         |h AS (SELECT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM sh),
         |params(j, a, b) AS (VALUES $paramValues),
         |sigs AS (SELECT doc_id, j, min((a * h + b) % ${Dedup.MinHashPrime}) AS minhash
         |         FROM h CROSS JOIN params GROUP BY doc_id, j)""".stripMargin

  private[oracle] lazy val jaccardCte =
      s"""jsh AS ($DuckShingles),
         |jh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM jsh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM jh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM jh x JOIN jh y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |         round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold)""".stripMargin

  private[oracle] lazy val bandedCte =
      s"""banded AS (
         |  SELECT doc_id, j // ${NumMinHashes / NumBands} AS band,
         |         md5(array_to_string(list(minhash::VARCHAR ORDER BY j), ',')) AS bucket
         |  FROM sigs GROUP BY doc_id, band)""".stripMargin

  private[oracle] lazy val lshCandsCte =
      s"""$bandedCte,
         |cands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)""".stripMargin

  // LSH candidates → exact-Jaccard verify → undirected edges → min-label
  // connected components, ending in comp(doc_id, component)
  private[oracle] lazy val componentsCte =
      s"""$lshCandsCte,
         |$jaccardCte,
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b FROM cands c
         |  JOIN verified v ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b),
         |edges AS (SELECT doc_a AS v, doc_b AS u FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(v, l) AS (
         |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
         |  UNION
         |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
         |comp AS (SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS component
         |         FROM reach GROUP BY v)""".stripMargin

  // The composed cleaning pipeline's oracle: two strip passes (eval-set
  // window decontamination, then corpus-wide duplicate spans on the
  // RESULT), then the full sig→band→candidate→verify→components→survivor
  // →split chain over the twice-cleaned text. Same window/islands/strip
  // fragments as the d14/d14b/d15 oracles, chained; same LSH/Jaccard/
  // recursive-closure fragments as e2e_neardup_build, re-rooted on the
  // cleaned relation instead of `documents`.
  private def winUnnest(srcT: String): String =
    s"""SELECT doc_id, u.pos, u.h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
       |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
       |    FROM $srcT WHERE len(ws) >= 8)""".stripMargin
  private def tokUnnest(srcT: String): String =
    s"""SELECT doc_id, u.i, u.tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |        i -> struct_pack(i := i - 1, tok := ws[i]))) AS u
       |    FROM $srcT)""".stripMargin
  private val cleanBuildSql =
    s"""WITH RECURSIVE
       |corp0 AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 0),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0),
       |t1 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corp0),
       |te AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM ev),
       |w1 AS (${winUnnest("t1")}),
       |we AS (SELECT DISTINCT h FROM (${winUnnest("te")})),
       |dup1 AS (SELECT w1.doc_id, w1.pos FROM w1 JOIN we USING (h)),
       |g1 AS (SELECT doc_id, pos,
       |              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |       FROM dup1),
       |sp1 AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g1 GROUP BY doc_id, grp),
       |tk1 AS (${tokUnnest("t1")}),
       |kept1 AS (
       |  SELECT tk1.doc_id, tk1.i, tk1.tok FROM tk1
       |  WHERE NOT EXISTS (SELECT 1 FROM sp1
       |                    WHERE sp1.doc_id = tk1.doc_id AND tk1.i >= sp1.s AND tk1.i < sp1.e)),
       |c1 AS (
       |  SELECT c.doc_id, c.source,
       |         COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
       |                   FROM kept1 k WHERE k.doc_id = c.doc_id), '') AS text
       |  FROM corp0 c),
       |t2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM c1),
       |w2 AS (${winUnnest("t2")}),
       |occ2 AS (SELECT h, count(*) AS occ FROM w2 GROUP BY h),
       |dup2 AS (SELECT w2.doc_id, w2.pos FROM w2 JOIN occ2 USING (h) WHERE occ2.occ >= 2),
       |g2 AS (SELECT doc_id, pos,
       |              pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |       FROM dup2),
       |sp2 AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g2 GROUP BY doc_id, grp),
       |tk2 AS (${tokUnnest("t2")}),
       |kept2 AS (
       |  SELECT tk2.doc_id, tk2.i, tk2.tok FROM tk2
       |  WHERE NOT EXISTS (SELECT 1 FROM sp2
       |                    WHERE sp2.doc_id = tk2.doc_id AND tk2.i >= sp2.s AND tk2.i < sp2.e)),
       |c2 AS (
       |  SELECT c1.doc_id, c1.source,
       |         COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
       |                   FROM kept2 k WHERE k.doc_id = c1.doc_id), '') AS text
       |  FROM c1),
       |csh AS (SELECT DISTINCT doc_id,
       |               unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
       |                 i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
       |        FROM c2),
       |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
       |params(j, a, b) AS (VALUES $paramValues),
       |sigs AS (SELECT doc_id, j, min((a * h + b) % ${Dedup.MinHashPrime}) AS minhash
       |         FROM ch CROSS JOIN params GROUP BY doc_id, j),
       |banded AS (
       |  SELECT doc_id, j // ${NumMinHashes / NumBands} AS band,
       |         md5(array_to_string(list(minhash::VARCHAR ORDER BY j), ',')) AS bucket
       |  FROM sigs GROUP BY doc_id, band),
       |cands AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
       |inter AS (SELECT ca.doc_a, ca.doc_b, count(*) AS inter
       |          FROM cands ca
       |          JOIN ch x ON x.doc_id = ca.doc_a
       |          JOIN ch y ON y.doc_id = ca.doc_b AND y.h = x.h
       |          GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
       |edges AS (SELECT doc_a AS v, doc_b AS u FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(v, l) AS (
       |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
       |  UNION
       |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
       |comp AS (SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS component
       |         FROM reach GROUP BY v),
       |members AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component),
       |surv AS (
       |  SELECT c2.doc_id, c2.source, c2.text,
       |         CAST(COALESCE(m.n_members, 1) AS BIGINT) AS n_members
       |  FROM c2
       |  LEFT JOIN comp c ON c2.doc_id = c.doc_id
       |  LEFT JOIN members m ON c2.doc_id = m.component
       |  WHERE c.component IS NULL OR c2.doc_id = c.component)
       |SELECT doc_id, source, n_members,
       |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       |       md5(text) AS clean_md5
       |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
       |      FROM surv)
       |ORDER BY doc_id""".stripMargin

  def sql: Map[String, String] = Map(
    // identical midpoint grid, identical LEFT-TO-RIGHT multiplication
    // folds (list_reduce starts at the first element; Spark's fold
    // starts at 1.0 — 1.0*s == s bit-exact, so the products agree),
    // identical per-term q6 quantization before exact long sums
    "q_lsh_param_tuning" ->
      s"""WITH pairs AS (
         |  SELECT CAST(b AS INTEGER) AS b, CAST($NumMinHashes / b AS INTEGER) AS r
         |  FROM range(1, ${NumMinHashes + 1}) tb(b) WHERE $NumMinHashes % b = 0),
         |grid AS (SELECT (i + 0.5) / 1000.0 AS s FROM range(0, 1000) ti(i)),
         |terms AS (
         |  SELECT b, r, s,
         |    1.0 - list_reduce(list_transform(range(b), x -> 1.0 -
         |            list_reduce(list_transform(range(r), y -> s), (a, c) -> a * c)),
         |          (a, c) -> a * c) AS p
         |  FROM pairs, grid),
         |q AS (
         |  SELECT b, r,
         |    CASE WHEN s < 0.8 THEN CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS fp_term,
         |    CASE WHEN s >= 0.8 THEN CAST(floor((1.0 - p) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS fn_term
         |  FROM terms),
         |curve AS (
         |  SELECT b, r, CAST(sum(fp_term) AS BIGINT) AS fp_q6,
         |         CAST(sum(fn_term) AS BIGINT) AS fn_q6,
         |         CAST(sum(fp_term) + sum(fn_term) AS BIGINT) AS err_q6
         |  FROM q GROUP BY b, r)
         |SELECT b, r, fp_q6, fn_q6, err_q6,
         |       row_number() OVER (ORDER BY err_q6, b) = 1 AS is_best
         |FROM curve ORDER BY b""".stripMargin,

    "d1_exact_dedup_groups" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,

    // both engines implement UAX #15 NFC, so fingerprints agree
    // byte-for-byte (and equal d1's on this ASCII corpus)
    "d1b_nfc_dedup_groups" ->
      """SELECT md5(nfc_normalize(text)) AS fingerprint, min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,

    // the aggressive tier: on ASCII text graft_canon reduces to
    // lowercase + non-alphanumeric-run collapse, which DuckDB replays
    // exactly (strip_accents is a no-op here); compat-decomposition and
    // accent-strip semantics are spec-pinned on constructed fixtures
    "d1c_canonical_dedup_groups" ->
      """SELECT md5(trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')))
        |         AS fingerprint,
        |       min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,

    "d2_minhash_signatures" ->
      s"""WITH $sigCte
         |SELECT doc_id, j, minhash FROM sigs ORDER BY doc_id, j""".stripMargin,

    // signature-agreement estimator over the same banded candidates
    "d13_minhash_estimate" ->
      s"""WITH $sigCte,
         |$lshCandsCte
         |SELECT c.doc_a, c.doc_b,
         |       CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE)
         |         / $NumMinHashes AS est_jaccard
         |FROM cands c
         |JOIN sigs sa ON sa.doc_id = c.doc_a
         |JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,

    // incremental dedup: per-doc signatures are independent of the rest of
    // the corpus, so sigs over ALL docs equal the per-side computation;
    // candidates restricted to incoming(doc_id%10>=8) × corpus(<8)
    "d12_incremental_dedup" ->
      s"""WITH $sigCte,
         |$bandedCte,
         |cands AS (
         |  SELECT i.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM banded i JOIN banded c ON i.band = c.band AND i.bucket = c.bucket
         |  WHERE i.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
         |  GROUP BY 1, 2),
         |jsh AS ($DuckShingles),
         |jh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM jsh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM jh GROUP BY doc_id),
         |inter AS (SELECT ca.doc_a, ca.doc_b, count(*) AS inter
         |          FROM cands ca
         |          JOIN jh x ON x.doc_id = ca.doc_a
         |          JOIN jh y ON y.doc_id = ca.doc_b AND y.h = x.h
         |          GROUP BY 1, 2),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |         round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
         |matches AS (
         |  SELECT doc_a AS doc_id, CAST(min(doc_b) AS BIGINT) AS dup_of,
         |         max(jaccard) AS best_jaccard
         |  FROM verified GROUP BY doc_a)
         |SELECT d.doc_id, m.dup_of, m.best_jaccard, m.dup_of IS NULL AS keep
         |FROM documents d LEFT JOIN matches m ON d.doc_id = m.doc_id
         |WHERE d.doc_id % 10 >= 8 ORDER BY d.doc_id""".stripMargin,

    "d2_minhash_lsh_pairs" ->
      s"""WITH $sigCte,
         |$lshCandsCte,
         |$jaccardCte
         |SELECT c.doc_a, c.doc_b, v.jaccard
         |FROM cands c JOIN verified v ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,

    // canonical-shingle near-dup: planted case/punct variants must be
    // caught under canonicalized shingles and missed under raw ones;
    // both arms replayed end-to-end (variants, canon, signatures,
    // banding, Jaccard) for the planted pairs
    "d25_canonical_neardup" ->
      s"""WITH eligible AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 17 = 2 AND len(string_split(text, ' ')) >= $ShingleK),
         |corpus AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, upper(replace(text, ' ', ' -- ')) FROM eligible),
         |planted AS (SELECT doc_id, doc_id + 100000 AS variant_id FROM eligible),
         |ctext AS (SELECT doc_id, trim(regexp_replace(lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g')) AS text FROM corpus),
         |params(j, a, b) AS (VALUES $paramValues),
         |${neardupArmCtes("c", "ctext")},
         |${neardupArmCtes("r", "corpus")}
         |SELECT pp.doc_id, pp.variant_id,
         |       pp.doc_id IN (SELECT doc_id FROM cok) AS caught_canonical,
         |       pp.doc_id IN (SELECT doc_id FROM rok) AS caught_raw
         |FROM planted pp ORDER BY pp.doc_id""".stripMargin,

    "d10_dedup_components" ->
      s"""WITH RECURSIVE $sigCte,
         |$componentsCte
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,

    "d10b_dedup_survivors" ->
      s"""WITH RECURSIVE $sigCte,
         |$componentsCte
         |SELECT d.doc_id, d.source
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |WHERE c.component IS NULL OR d.doc_id = c.component
         |ORDER BY d.doc_id""".stripMargin,

    // same component closure as d10, then per-component argmax on
    // n_chars (ties to lowest id) instead of the min-id representative
    "d10c_quality_survivors" ->
      s"""WITH RECURSIVE $sigCte,
         |$componentsCte,
         |ranked AS (
         |  SELECT c.doc_id, c.component,
         |         row_number() OVER (PARTITION BY c.component
         |           ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |reps AS (SELECT doc_id FROM ranked WHERE rn = 1)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d
         |LEFT JOIN comp c ON d.doc_id = c.doc_id
         |LEFT JOIN reps r ON d.doc_id = r.doc_id
         |WHERE c.component IS NULL OR r.doc_id IS NOT NULL
         |ORDER BY d.doc_id""".stripMargin,

    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE $sigCte,
         |$componentsCte,
         |rep AS (SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS rep
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
         |      FROM rep)
         |ORDER BY doc_id""".stripMargin,

    "e2e_neardup_build" ->
      s"""WITH RECURSIVE $sigCte,
         |$componentsCte,
         |members AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component),
         |surv AS (
         |  SELECT d.doc_id, d.source, CAST(COALESCE(m.n_members, 1) AS BIGINT) AS n_members
         |  FROM documents d
         |  LEFT JOIN comp c ON d.doc_id = c.doc_id
         |  LEFT JOIN members m ON d.doc_id = m.component
         |  WHERE c.component IS NULL OR d.doc_id = c.component)
         |SELECT doc_id, source, n_members,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
         |      FROM surv)
         |ORDER BY doc_id""".stripMargin,

    "e2e_clean_corpus_build" -> cleanBuildSql,

    // windows/occurrence/islands mirror Dedup.duplicateSpans (n=8, md5
    // window hashes, pos - row_number islands)
    "d14_duplicate_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |occ AS (SELECT h, count(*) AS occ FROM w GROUP BY h),
        |dup AS (SELECT w.doc_id, w.pos FROM w JOIN occ USING (h) WHERE occ.occ >= 2),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    // same windows/occurrence/islands as d14, then tokens NOT covered by
    // any span re-join in position order (whitespace-normalized, exactly
    // the Spark side's higher-order filter + concat_ws)
    "d14b_strip_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |occ AS (SELECT h, count(*) AS occ FROM w GROUP BY h),
        |dup AS (SELECT w.doc_id, w.pos FROM w JOIN occ USING (h) WHERE occ.occ >= 2),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g GROUP BY doc_id, grp),
        |tk AS (
        |  SELECT doc_id, u.i, u.tok FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(ws) + 1),
        |        i -> struct_pack(i := i - 1, tok := ws[i]))) AS u
        |    FROM t)),
        |kept AS (
        |  SELECT tk.doc_id, tk.i, tk.tok FROM tk
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |                    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e))
        |SELECT d.doc_id,
        |       COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
        |                 FROM kept k WHERE k.doc_id = d.doc_id), '') AS clean_text
        |FROM documents d ORDER BY doc_id""".stripMargin,

    // corpus windows (doc_id % 11 <> 0) matched against the eval split's
    // distinct windows, then the same islands merge as d14
    "d15_decontaminate_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |c AS (SELECT doc_id, pos, h FROM w WHERE doc_id % 11 <> 0),
        |b AS (SELECT DISTINCT h FROM w WHERE doc_id % 11 = 0),
        |dup AS (SELECT c.doc_id, c.pos FROM c JOIN b USING (h)),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    // d15's chain with the eval windows carrying a suite tag (doc_id%3)
    // and the islands merge keyed by (doc, suite)
    "q_multi_suite_decontam" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |c AS (SELECT doc_id, pos, h FROM w WHERE doc_id % 11 <> 0),
        |b AS (SELECT DISTINCT h, 'suite' || (doc_id % 3) AS suite
        |      FROM w WHERE doc_id % 11 = 0),
        |dup AS (SELECT c.doc_id, c.pos, b.suite FROM c JOIN b USING (h)),
        |g AS (SELECT doc_id, suite, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id, suite ORDER BY pos) AS grp
        |      FROM dup)
        |SELECT doc_id, suite, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM g GROUP BY doc_id, suite, grp
        |ORDER BY doc_id, suite, span_start""".stripMargin,

    // d14b's strip chain with the hotness test swapped from occurrence
    // count to DISTINCT-document frequency (>= 3): only corpus-repeated
    // chrome is cut, never a single document's own refrain
    "q_boilerplate_strip" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |f AS (SELECT h, count(DISTINCT doc_id) AS df FROM w GROUP BY h),
        |dup AS (SELECT w.doc_id, w.pos FROM w JOIN f USING (h) WHERE f.df >= 3),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g GROUP BY doc_id, grp),
        |tk AS (
        |  SELECT doc_id, u.i, u.tok FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(ws) + 1),
        |        i -> struct_pack(i := i - 1, tok := ws[i]))) AS u
        |    FROM t)),
        |kept AS (
        |  SELECT tk.doc_id, tk.i, tk.tok FROM tk
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |                    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e))
        |SELECT d.doc_id,
        |       COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
        |                 FROM kept k WHERE k.doc_id = d.doc_id), '') AS clean_text
        |FROM documents d ORDER BY doc_id""".stripMargin,

    // first-occurrence block dedup: same 16-token blocks (md5 over the
    // space-joined slice), winner per hash = row_number 1 under
    // (doc_id, block_index) — identical to Spark's min(struct) — later
    // copies dropped, text reassembled from surviving block indexes
    "d20_block_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks,
        |             CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nb FROM t),
        |b AS (SELECT doc_id, i AS bi,
        |             md5(array_to_string(toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')) AS h
        |      FROM n, unnest(range(0, nb)) AS u(i)),
        |w AS (SELECT h, doc_id AS wd, bi AS wb FROM (
        |        SELECT h, doc_id, bi,
        |               row_number() OVER (PARTITION BY h ORDER BY doc_id, bi) AS rn
        |        FROM b) WHERE rn = 1),
        |drp AS (SELECT b.doc_id, b.bi FROM b JOIN w USING (h)
        |        WHERE NOT (b.doc_id = w.wd AND b.bi = w.wb)),
        |da AS (SELECT doc_id, list(bi ORDER BY bi) AS drops FROM drp GROUP BY doc_id)
        |SELECT n.doc_id, n.nb AS n_blocks,
        |       CAST(COALESCE(len(da.drops), 0) AS BIGINT) AS n_dropped,
        |       COALESCE(array_to_string(flatten(list_transform(
        |         list_filter(range(0, n.nb), i -> NOT list_contains(COALESCE(da.drops, []), i)),
        |         i -> toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)])), ' '), '') AS clean_text
        |FROM n LEFT JOIN da USING (doc_id) ORDER BY doc_id""".stripMargin,

    // d20's block frame split at the maintained-index boundary: the
    // corpus fifths' DISTINCT block hashes form the index; incoming
    // blocks that hit it are dropped, text reassembled as in d20
    "d21_incremental_block_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks,
        |             CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nb FROM t),
        |cb AS (SELECT DISTINCT
        |             md5(array_to_string(toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')) AS h
        |      FROM n, unnest(range(0, nb)) AS u(i) WHERE doc_id % 5 <> 0),
        |ib AS (SELECT doc_id, i AS bi,
        |             md5(array_to_string(toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')) AS h
        |      FROM n, unnest(range(0, nb)) AS u(i) WHERE doc_id % 5 = 0),
        |drp AS (SELECT ib.doc_id, ib.bi FROM ib JOIN cb USING (h)),
        |da AS (SELECT doc_id, list(bi ORDER BY bi) AS drops FROM drp GROUP BY doc_id)
        |SELECT n.doc_id, n.nb AS n_blocks,
        |       CAST(COALESCE(len(da.drops), 0) AS BIGINT) AS n_dropped,
        |       COALESCE(array_to_string(flatten(list_transform(
        |         list_filter(range(0, n.nb), i -> NOT list_contains(COALESCE(da.drops, []), i)),
        |         i -> toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)])), ' '), '') AS clean_text
        |FROM n LEFT JOIN da USING (doc_id) WHERE n.doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,

    // the boilerplate df table re-aimed at a per-document audit: every
    // window joins its df, then one per-doc aggregate
    "q_memorization_risk" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |f AS (SELECT h, count(DISTINCT doc_id) AS df FROM w GROUP BY h)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(max(f.df) AS BIGINT) AS max_df,
        |       CAST(count(CASE WHEN f.df >= 3 THEN 1 END) AS BIGINT) AS n_hot,
        |       floor(count(CASE WHEN f.df >= 3 THEN 1 END)::DOUBLE / count(*)::DOUBLE
        |             * 10000.0 + 0.5) / 10000.0 AS hot_frac
        |FROM w JOIN f USING (h) GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,

    // the boilerplate chain with the df keyed by (source, h) and the
    // hot-window join carrying the source — domain-scoped chrome only
    "q_source_boilerplate_strip" ->
      """WITH t AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, u.pos, u.h FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |f AS (SELECT source, h, count(DISTINCT doc_id) AS df FROM w GROUP BY 1, 2),
        |dup AS (SELECT w.doc_id, w.pos FROM w JOIN f USING (source, h) WHERE f.df >= 2),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g GROUP BY doc_id, grp),
        |tk AS (
        |  SELECT doc_id, u.i, u.tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
        |        i -> struct_pack(i := i - 1, tok := ws[i]))) AS u
        |    FROM t)),
        |kept AS (
        |  SELECT tk.doc_id, tk.i, tk.tok FROM tk
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |                    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e))
        |SELECT d.doc_id,
        |       COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
        |                 FROM kept k WHERE k.doc_id = d.doc_id), '') AS clean_text
        |FROM documents d ORDER BY doc_id""".stripMargin,

    // the LSH candidate set (shared CTEs) scored against d4's exact
    // df-capped truth pairs; precision/recall are identical IEEE divides
    "q_lsh_candidate_quality" ->
      s"""WITH $sigCte,
         |$lshCandsCte,
         |csh AS ($DuckShingles),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |tcands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
         |tinter AS (SELECT tc.doc_a, tc.doc_b, count(*) AS inter
         |           FROM tcands tc JOIN ch x ON x.doc_id = tc.doc_a
         |           JOIN ch y ON y.doc_id = tc.doc_b AND y.h = x.h GROUP BY 1, 2),
         |truth AS (
         |  SELECT doc_a, doc_b FROM tinter
         |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
         |nc AS (SELECT count(*) AS n_cands FROM cands),
         |nt AS (SELECT count(*) AS n_true FROM truth),
         |nh AS (SELECT count(*) AS n_hit FROM cands JOIN truth USING (doc_a, doc_b))
         |SELECT CAST(n_cands AS BIGINT) AS n_cands, CAST(n_true AS BIGINT) AS n_true,
         |       CAST(n_hit AS BIGINT) AS n_hit,
         |       n_hit::DOUBLE / n_cands::DOUBLE AS precision,
         |       n_hit::DOUBLE / n_true::DOUBLE AS recall
         |FROM nc, nt, nh""".stripMargin,

    // d3b's Hamming candidate stack scored against the same exact
    // df-capped Jaccard truth as the LSH quality gate
    "q_hamming_candidate_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS token FROM documents),
         |hh AS (SELECT doc_id, ('0x' || substr(md5(token),1,15))::BIGINT AS h FROM toks),
         |votes AS (
         |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM hh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits GROUP BY doc_id, b),
         |sh AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS s
         |       FROM votes GROUP BY doc_id),
         |blk AS (SELECT doc_id, s, b, (s >> CAST(15*b AS INTEGER)) & 32767 AS v
         |        FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bl),
         |keep AS (SELECT b, v FROM blk GROUP BY b, v HAVING count(*) <= 50),
         |cb AS (SELECT blk.doc_id, blk.s, blk.b, blk.v FROM blk JOIN keep USING (b, v)),
         |hc AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.s AS sa, y.s AS sb
         |       FROM cb x JOIN cb y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
         |cands AS (SELECT doc_a, doc_b FROM hc WHERE bit_count(xor(sa, sb)) <= 3),
         |csh AS ($DuckShingles),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |tcands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
         |tinter AS (SELECT tc.doc_a, tc.doc_b, count(*) AS inter
         |           FROM tcands tc JOIN ch x ON x.doc_id = tc.doc_a
         |           JOIN ch y ON y.doc_id = tc.doc_b AND y.h = x.h GROUP BY 1, 2),
         |truth AS (
         |  SELECT doc_a, doc_b FROM tinter
         |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
         |nc AS (SELECT count(*) AS n_cands FROM cands),
         |nt AS (SELECT count(*) AS n_true FROM truth),
         |nh AS (SELECT count(*) AS n_hit FROM cands JOIN truth USING (doc_a, doc_b))
         |SELECT CAST(n_cands AS BIGINT) AS n_cands, CAST(n_true AS BIGINT) AS n_true,
         |       CAST(n_hit AS BIGINT) AS n_hit,
         |       n_hit::DOUBLE / n_cands::DOUBLE AS precision,
         |       n_hit::DOUBLE / n_true::DOUBLE AS recall
         |FROM nc, nt, nh""".stripMargin,

    // d15's windows/islands, aggregated to per-doc covered-position
    // counts; spans are disjoint so coverage is the plain length sum;
    // floor(x·10⁴+0.5)/10⁴ == TextOps.round4
    "d15b_contamination_fraction" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8)),
        |c AS (SELECT doc_id, pos, h FROM w WHERE doc_id % 11 <> 0),
        |b AS (SELECT DISTINCT h FROM w WHERE doc_id % 11 = 0),
        |dup AS (SELECT c.doc_id, c.pos FROM c JOIN b USING (h)),
        |g AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dup),
        |sp AS (SELECT doc_id, max(pos) - min(pos) + 8 AS span_len FROM g GROUP BY doc_id, grp),
        |cov AS (SELECT doc_id, sum(span_len) AS covered FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS contaminated_tokens,
        |       CASE WHEN len(t.ws) = 0 THEN 0.0
        |            ELSE floor(COALESCE(cov.covered, 0)::DOUBLE / len(t.ws)::DOUBLE
        |                       * 10000.0 + 0.5) / 10000.0 END AS contamination_frac
        |FROM t LEFT JOIN cov USING (doc_id)
        |WHERE t.doc_id % 11 <> 0 ORDER BY t.doc_id""".stripMargin,

    "d3_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS token FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(token),1,8))::BIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bits GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 60-bit prints (15 md5 hex chars/token), 4×15-bit block buckets with
    // the ≤50 frequency cap, exact bit_count(xor) ≤ 3 on candidates
    "d3b_hamming_neardup_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS token FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(token),1,15))::BIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS s
        |       FROM votes GROUP BY doc_id),
        |blk AS (SELECT doc_id, s, b, (s >> CAST(15*b AS INTEGER)) & 32767 AS v
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bl),
        |keep AS (SELECT b, v FROM blk GROUP BY b, v HAVING count(*) <= 50),
        |cb AS (SELECT blk.doc_id, blk.s, blk.b, blk.v FROM blk JOIN keep USING (b, v)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.s AS sa, y.s AS sb
        |         FROM cb x JOIN cb y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors the df-capped candidate generation: shingles with df >
    // JaccardMaxDf produce no candidates; intersections still use ALL
    // shingles, so emitted jaccard values are exact
    "d4_jaccard_pairs" ->
      s"""WITH csh AS ($DuckShingles),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |ccands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |csizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
         |cinter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM ccands c JOIN ch a ON a.doc_id = c.doc_a JOIN ch b ON b.doc_id = c.doc_b AND a.h = b.h
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
         |FROM cinter JOIN csizes sa ON doc_a = sa.doc_id JOIN csizes sb ON doc_b = sb.doc_id
         |WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same planted excerpts (// is DuckDB's integer division, matching
    // Spark's truncating int cast on positive counts), same df-capped
    // rare-shingle candidates, same exact hash-set intersection — each
    // containment one IEEE division of integer set sizes
    "d28_containment_pairs" ->
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         array_to_string(list_slice(string_split(text, ' '), 1,
         |           greatest(6, len(string_split(text, ' ')) // 2)), ' ')
         |  FROM documents WHERE doc_id % 9 = 0),
         |csh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
         |         i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
         |  FROM src),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |ccands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |csizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
         |cinter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM ccands c JOIN ch a ON a.doc_id = c.doc_a JOIN ch b ON b.doc_id = c.doc_b AND a.h = b.h
         |  GROUP BY 1, 2),
         |conts AS (
         |  SELECT doc_a, doc_b,
         |         round(inter::DOUBLE / sa.sz::DOUBLE, 6) AS cont_a,
         |         round(inter::DOUBLE / sb.sz::DOUBLE, 6) AS cont_b
         |  FROM cinter JOIN csizes sa ON doc_a = sa.doc_id JOIN csizes sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM conts
         |WHERE greatest(cont_a, cont_b) >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,

    // d28's planted corpus, the d10 LSH→verify→closure chain re-rooted on
    // it, with the CONTAINMENT pairs unioned into the edge set before the
    // recursive closure — survivors = component minima + singletons
    "d29_containment_dedup" ->
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         array_to_string(list_slice(string_split(text, ' '), 1,
         |           greatest(6, len(string_split(text, ' ')) // 2)), ' ')
         |  FROM documents WHERE doc_id % 9 = 0),
         |ssh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
         |         i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
         |  FROM src),
         |sha AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM ssh),
         |params(j, a, b) AS (VALUES $paramValues),
         |ssigs AS (SELECT doc_id, j, min((a * h + b) % ${Dedup.MinHashPrime}) AS minhash
         |          FROM sha CROSS JOIN params GROUP BY doc_id, j),
         |sbanded AS (
         |  SELECT doc_id, j // ${NumMinHashes / NumBands} AS band,
         |         md5(array_to_string(list(minhash::VARCHAR ORDER BY j), ',')) AS bucket
         |  FROM ssigs GROUP BY doc_id, band),
         |scands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM sbanded x JOIN sbanded y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |ssz AS (SELECT doc_id, count(*) AS sz FROM sha GROUP BY doc_id),
         |jint AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM scands c JOIN sha a ON a.doc_id = c.doc_a JOIN sha b ON b.doc_id = c.doc_b AND a.h = b.h
         |  GROUP BY 1, 2),
         |jpairs AS (
         |  SELECT doc_a, doc_b FROM jint
         |  JOIN ssz sa ON doc_a = sa.doc_id JOIN ssz sb ON doc_b = sb.doc_id
         |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
         |sdf AS (SELECT h, count(*) AS df FROM sha GROUP BY h),
         |srare AS (SELECT sha.doc_id, sha.h FROM sha JOIN sdf USING (h) WHERE sdf.df <= $JaccardMaxDf),
         |ccands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM srare x JOIN srare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |cint AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM ccands c JOIN sha a ON a.doc_id = c.doc_a JOIN sha b ON b.doc_id = c.doc_b AND a.h = b.h
         |  GROUP BY 1, 2),
         |cpairs AS (
         |  SELECT doc_a, doc_b FROM cint
         |  JOIN ssz sa ON doc_a = sa.doc_id JOIN ssz sb ON doc_b = sb.doc_id
         |  WHERE greatest(round(inter::DOUBLE / sa.sz::DOUBLE, 6),
         |                 round(inter::DOUBLE / sb.sz::DOUBLE, 6)) >= $ContainmentThreshold),
         |upairs AS (SELECT doc_a, doc_b FROM jpairs UNION SELECT doc_a, doc_b FROM cpairs),
         |edges AS (SELECT doc_a AS v, doc_b AS u FROM upairs
         |          UNION SELECT doc_b, doc_a FROM upairs),
         |reach(v, l) AS (
         |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
         |  UNION
         |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
         |comp AS (SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS component
         |         FROM reach GROUP BY v),
         |members AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component)
         |SELECT s.doc_id, CAST(COALESCE(m.n_members, 1) AS BIGINT) AS n_members
         |FROM src s
         |LEFT JOIN comp c ON s.doc_id = c.doc_id
         |LEFT JOIN members m ON s.doc_id = m.component
         |WHERE c.component IS NULL OR s.doc_id = c.component
         |ORDER BY s.doc_id""".stripMargin,

    // d28's containment chain re-rooted on the quotation-HOST plant,
    // then the pair orientation (greater containment = excerpt; tie →
    // the LOWER id is the excerpt and survives intact, min-id-survivor
    // convention) and the d14b window/islands/strip machinery applied
    // to the host side only
    "d29b_containment_strip" ->
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         text || ${"abcdefghijkl".map(c => s"' zzq$c' || CAST(doc_id AS VARCHAR)").mkString(" || ")}
         |  FROM documents WHERE doc_id % 9 = 0),
         |csh AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
         |         i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
         |  FROM src),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |ccands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |csizes AS (SELECT doc_id, count(*) AS sz FROM ch GROUP BY doc_id),
         |cinter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM ccands c JOIN ch a ON a.doc_id = c.doc_a JOIN ch b ON b.doc_id = c.doc_b AND a.h = b.h
         |  GROUP BY 1, 2),
         |cp AS (
         |  SELECT doc_a, doc_b,
         |         round(inter::DOUBLE / sa.sz::DOUBLE, 6) AS cont_a,
         |         round(inter::DOUBLE / sb.sz::DOUBLE, 6) AS cont_b
         |  FROM cinter JOIN csizes sa ON doc_a = sa.doc_id JOIN csizes sb ON doc_b = sb.doc_id
         |  WHERE greatest(round(inter::DOUBLE / sa.sz::DOUBLE, 6),
         |                 round(inter::DOUBLE / sb.sz::DOUBLE, 6)) >= $ContainmentThreshold),
         |ori AS (
         |  SELECT CASE WHEN cont_a > cont_b THEN doc_b WHEN cont_b > cont_a THEN doc_a
         |              ELSE greatest(doc_a, doc_b) END AS host_id,
         |         CASE WHEN cont_a > cont_b THEN doc_a WHEN cont_b > cont_a THEN doc_b
         |              ELSE least(doc_a, doc_b) END AS excerpt_id
         |  FROM cp),
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM src),
         |w AS (
         |  SELECT doc_id, u.pos, u.h FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
         |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
         |    FROM t WHERE len(ws) >= 8)),
         |exw AS (SELECT DISTINCT o.host_id, w.h FROM ori o JOIN w ON w.doc_id = o.excerpt_id),
         |hot AS (SELECT DISTINCT w.doc_id, w.pos FROM w JOIN exw ON w.doc_id = exw.host_id AND w.h = exw.h),
         |g AS (SELECT doc_id, pos,
         |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM hot),
         |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM g GROUP BY doc_id, grp),
         |tk AS (
         |  SELECT doc_id, u.i, u.tok FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(ws) + 1),
         |        i -> struct_pack(i := i - 1, tok := ws[i]))) AS u
         |    FROM t)),
         |kept AS (
         |  SELECT tk.doc_id, tk.i, tk.tok FROM tk
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |                    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e))
         |SELECT s.doc_id,
         |       s.doc_id IN (SELECT host_id FROM ori) AS is_host,
         |       COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
         |                 FROM kept k WHERE k.doc_id = s.doc_id), '') AS clean_text
         |FROM src s ORDER BY s.doc_id""".stripMargin,

    "x4_fingerprint" ->
      """SELECT doc_id, substr(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 16) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x5_winnowing_fingerprints" ->
      """WITH sh AS (
        |  SELECT doc_id, u.pos, u.h FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |        i -> struct_pack(pos := i - 1,
        |          h := ('0x' || substr(md5(array_to_string((string_split(text,' '))[i:i+2], ' ')),1,8))::BIGINT))) AS u
        |    FROM documents)),
        |win AS (
        |  SELECT doc_id, pos, min(h) OVER (
        |    PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin
        |  FROM sh)
        |SELECT DISTINCT doc_id, winmin AS fingerprint FROM win WHERE pos >= 3
        |ORDER BY doc_id, fingerprint""".stripMargin,

    // same DISTINCT (doc, shingle) sets split by the benchmark predicate,
    // exact string equi-join, count >= minOverlap
    "d11_contamination" ->
      s"""WITH sh AS ($DuckShingles),
         |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
         |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
         |FROM c JOIN b USING (shingle)
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_id, bench_id""".stripMargin,

    // same d14 window hashing kept with its source, distinct per
    // (source, hash), hash self-join with source_a < source_b
    "q_source_overlap_matrix" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |w AS (
        |  SELECT DISTINCT source, u.h FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM t WHERE len(ws) >= 8))
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_windows
        |FROM w a JOIN w b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // same snapshot predicates and update rule, FULL OUTER JOIN on md5
    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 13 <> 0),
        |n AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0
        |                  THEN 'updated-' || CAST(doc_id AS VARCHAR)
        |                  ELSE text END) AS nh
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.oh IS NULL THEN 'added'
        |            WHEN n.nh IS NULL THEN 'removed'
        |            WHEN o.oh = n.nh THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the shared md5-bucket hash split, d14's window hashing on both
    // sides, distinct train hashes semi-joined against test windows
    "q_split_leakage_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, ws,
        |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, ws,
        |               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |        FROM t)),
        |w AS (
        |  SELECT doc_id, split, u.h FROM (
        |    SELECT doc_id, split,
        |      unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |        i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |    FROM s WHERE len(ws) >= 8)),
        |tr AS (SELECT DISTINCT h FROM w WHERE split = 'train'),
        |lk AS (SELECT w.doc_id, count(*) AS n_leaked
        |       FROM w JOIN tr USING (h) WHERE w.split = 'test' GROUP BY w.doc_id)
        |SELECT s.doc_id, CAST(greatest(len(s.ws) - 7, 0) AS BIGINT) AS n_windows,
        |       CAST(COALESCE(lk.n_leaked, 0) AS BIGINT) AS n_leaked,
        |       CASE WHEN greatest(len(s.ws) - 7, 0) = 0 THEN 0.0
        |            ELSE floor(COALESCE(lk.n_leaked, 0)::DOUBLE /
        |                       (len(s.ws) - 7)::DOUBLE * 10000.0 + 0.5) / 10000.0
        |       END AS leak_frac
        |FROM s LEFT JOIN lk ON s.doc_id = lk.doc_id
        |WHERE s.split = 'test'
        |ORDER BY s.doc_id""".stripMargin
  )
}

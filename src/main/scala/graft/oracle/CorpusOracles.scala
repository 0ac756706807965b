package graft
package oracle

import graft.queries.CoreQueries.SessionGapUs
import graft.queries.CorpusQueries.HeavyHitterThreshold
import graft.queries.RetrievalQueries.TopK
import graft.operators._

/** Oracles of the corpus-statistics family: token and n-gram statistics,
  * quality and language scoring, mixing, curriculum, sharding and manifests. */
private[oracle] object CorpusOracles {

  private val langProfiles = TextOps.DefaultLangProfiles.toSeq.sortBy(_._1)
  private val langScoreCols = langProfiles.map { case (lang, words) =>
    val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"round(len(list_filter(toks, x -> list_contains($arr, x)))::DOUBLE / len(toks), 6) AS score_$lang"
  }.mkString(",\n  ")
  private val greatestAll = langProfiles.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
  private val langCase = langProfiles.map { case (l, _) => s"WHEN score_$l = $greatestAll THEN '$l'" }
    .mkString("\n       ")

  def sql: Map[String, String] = Map(
    // packing: global token prefix sum in doc_id order, cut into 128-token
    // chunks; // == Spark's DIV on non-negative longs (the Spark side's
    // two-phase prefix sum replaces this single-task window at scale)
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, n_tokens, tok_start,
        |       tok_start // 128 AS chunk_start,
        |       CASE WHEN n_tokens = 0 THEN tok_start // 128
        |            ELSE (tok_start + n_tokens - 1) // 128 END AS chunk_end,
        |       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
        |            ELSE (tok_start + n_tokens - 1) // 128 - tok_start // 128 + 1 END AS n_chunks
        |FROM p ORDER BY doc_id""".stripMargin,

    // duplicate-content stats: counts over md5(word-3-gram) digests — the
    // same digests the Spark side shuffles, so equal even under collision
    "x9_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS w FROM toks),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |                  CAST(max(c) AS BIGINT) AS top_word_count
        |           FROM wc GROUP BY doc_id),
        |g AS (SELECT doc_id,
        |             unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |               i -> md5(array_to_string(ws[i:i+2], ' ')))) AS g
        |      FROM toks WHERE len(ws) >= 3),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        |gstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |                  CAST(count(*) AS BIGINT) AS n_distinct_grams
        |           FROM gc GROUP BY doc_id)
        |SELECT d.doc_id,
        |       COALESCE(w.n_words, 0) AS n_words,
        |       COALESCE(g.n_grams, 0) AS n_grams,
        |       COALESCE(g.n_distinct_grams, 0) AS n_distinct_grams,
        |       CASE WHEN COALESCE(g.n_grams, 0) = 0 THEN 0.0
        |            ELSE (g.n_grams - g.n_distinct_grams)::DOUBLE / g.n_grams::DOUBLE
        |       END AS dup_gram_frac,
        |       CASE WHEN COALESCE(w.n_words, 0) = 0 THEN 0.0
        |            ELSE w.top_word_count::DOUBLE / w.n_words::DOUBLE
        |       END AS top_word_frac
        |FROM documents d
        |LEFT JOIN wstats w ON d.doc_id = w.doc_id
        |LEFT JOIN gstats g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // identical add-k bigram model: transitions (v,w) from 1-based token
    // list positions; NLL fixed-pointed to q6 longs per transition (exact
    // order-independent sum), avg/ppl round4'd from the same exact inputs
    "x11_bigram_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |trans AS (
        |  SELECT doc_id, toks[i - 1] AS v, toks[i] AS w
        |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
        |vocab AS (
        |  SELECT count(DISTINCT tok)::DOUBLE AS v_size
        |  FROM (SELECT unnest(toks) AS tok FROM t)),
        |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
        |ctx AS (SELECT v, count(*) AS c_v FROM trans GROUP BY v),
        |scored AS (
        |  SELECT trans.doc_id,
        |         CAST(floor(-ln((c_vw::DOUBLE + 0.5) / (c_v::DOUBLE + 0.5 * vocab.v_size))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
        |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v), vocab)
        |SELECT doc_id, count(*) AS n_trans,
        |       CAST(sum(nll_q6) AS BIGINT) AS sum_nll_q6,
        |       floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS avg_nll,
        |       floor(exp(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // interpolated Kneser–Ney bigram model: same transition frame as x11;
    // discount D=0.75 (binary-exact); probability written in the SAME
    // textual op order as the Spark side — (c_vw−D)/c_v + (D·n1_v/c_v)·
    // (n1_w/B) — over exact integer counts, so every double agrees
    // bitwise; NLL q6-fixed per transition and summed as longs
    "x15_kn_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |trans AS (
        |  SELECT doc_id, toks[i - 1] AS v, toks[i] AS w
        |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
        |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
        |ctx AS (SELECT v, count(*) AS c_v, count(DISTINCT w) AS n1_v FROM trans GROUP BY v),
        |cont AS (SELECT w, count(DISTINCT v) AS n1_w FROM trans GROUP BY w),
        |bt AS (SELECT count(*)::DOUBLE AS btypes FROM bigram),
        |scored AS (
        |  SELECT trans.doc_id,
        |         CAST(floor(-ln((c_vw::DOUBLE - 0.75) / c_v::DOUBLE
        |                        + (0.75 * n1_v::DOUBLE / c_v::DOUBLE)
        |                          * (n1_w::DOUBLE / btypes))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
        |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v) JOIN cont USING (w), bt)
        |SELECT doc_id, count(*) AS n_trans,
        |       CAST(sum(nll_q6) AS BIGINT) AS sum_nll_q6,
        |       floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS avg_nll,
        |       floor(exp(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q_ppl_buckets' oracle is the dynamic [[ModelOracles.pplOracleSql]]:
    // the engine's per-doc micro averages splice in as BIGINT VALUES with
    // a fail-closed +/-1 check against the oracle's own KN recompute (a
    // live cross-engine ln would feed EXACT integer tercile thresholds,
    // and the grid amplifies a 1-ulp disagreement)

    // same planted terms, same tokenization as p1, distinct per (doc,
    // token) before the IN-list join
    "x16_blocklist_hits" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 22 = 0 THEN text || ' zzbadalpha' || ' zzbadbeta zzbadalpha'
        |         WHEN doc_id % 11 = 0 THEN text || ' zzbadalpha'
        |         ELSE text END AS dirty
        |  FROM documents),
        |toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(dirty), ' ')) AS tok FROM dirty),
        |hits AS (
        |  SELECT doc_id, tok FROM toks
        |  WHERE tok IN ('zzbadalpha', 'zzbadbeta', 'zzbadgamma'))
        |SELECT doc_id, count(*) AS n_blocked, min(tok) AS first_blocked
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // per-source JS divergence: identical q6 per-term quantization and
    // the same exact-long absent-mass closed form as the Spark side —
    // every double is derived from agreed integer counts in the same
    // IEEE op order, so the round4 result is bit-identical
    "q_source_divergence" ->
      """WITH w AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw FROM w GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
        |gw AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM gw),
        |terms AS (
        |  SELECT sw.source, c_w, n_s, n,
        |         c_sw::DOUBLE / n_s::DOUBLE AS p_sw,
        |         c_w::DOUBLE / n::DOUBLE AS p_w
        |  FROM sw JOIN ns USING (source) JOIN gw USING (word), tot),
        |q AS (
        |  SELECT source, c_w, n_s, n,
        |    CAST(floor(p_sw * ln(p_sw / ((p_sw + p_w) / 2.0)) * 1000000.0 + 0.5) AS BIGINT) AS t1_q6,
        |    CAST(floor(p_w * ln(p_w / ((p_sw + p_w) / 2.0)) * 1000000.0 + 0.5) AS BIGINT) AS t2_q6
        |  FROM terms),
        |a AS (SELECT source, max(n_s) AS n_tokens, max(n) AS n,
        |             CAST(count(*) AS BIGINT) AS n_distinct_words,
        |             CAST(sum(t1_q6) AS BIGINT) AS s1, CAST(sum(t2_q6) AS BIGINT) AS s2,
        |             CAST(sum(c_w) AS BIGINT) AS scw
        |      FROM q GROUP BY source)
        |SELECT source, n_tokens, n_distinct_words,
        |       floor((0.5 * s1::DOUBLE / 1000000.0 + 0.5 * s2::DOUBLE / 1000000.0
        |              + 0.5 * ln(2.0) * ((n - scw)::DOUBLE / n::DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS js_divergence
        |FROM a ORDER BY source""".stripMargin,

    // sliding 64-token chunks every 48 tokens; ws[a:b] is DuckDB's 1-based
    // inclusive clamped slice == Spark's slice(ws, a, 64)
    "x10_chunk_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |         unnest(range(0, (len(ws) - 1) // 48 + 1)) AS chunk_idx
        |  FROM toks WHERE len(ws) > 0)
        |SELECT doc_id, chunk_idx,
        |       CAST(len(ws[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(ws[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // FIM replay: same md5-hex cut-point arithmetic ('0x'||substr parse =
    // Spark's conv(substring)), same PSM serialization
    "q_fim_transform" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |         ('0x' || substr(md5(doc_id::VARCHAR || '#fim1'), 1, 8))::BIGINT % (len(ws) + 1) AS a,
        |         ('0x' || substr(md5(doc_id::VARCHAR || '#fim2'), 1, 8))::BIGINT % (len(ws) + 1) AS b
        |  FROM t),
        |s AS (SELECT doc_id, ws, n, least(a, b) AS u, greatest(a, b) AS v FROM c)
        |SELECT doc_id, CAST(u AS BIGINT) AS n_prefix,
        |       CAST(v - u AS BIGINT) AS n_middle,
        |       CAST(n - v AS BIGINT) AS n_suffix,
        |       -- array_to_string([]) is NULL in DuckDB but '' under
        |       -- Spark's concat_ws — coalesce every part
        |       md5(COALESCE(array_to_string(ws[1:u], ' '), '') || '|' ||
        |           COALESCE(array_to_string(ws[v+1:n], ' '), '') || '|' ||
        |           COALESCE(array_to_string(ws[u+1:v], ' '), '')) AS psm_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    // the composed web-curation replay: the q_boilerplate_strip chain,
    // then the q_quality_cut formula + quantile threshold over the
    // CLEANED text, then min-id dedup per distinct cleaned content
    "e2e_web_pipeline" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
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
         |                    WHERE sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e)),
         |clean AS (
         |  SELECT d.doc_id,
         |         COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
         |                   FROM kept k WHERE k.doc_id = d.doc_id), '') AS clean_text
         |  FROM documents d),
         |ct AS (SELECT doc_id, clean_text,
         |              list_filter(string_split(clean_text, ' '), x -> x <> '') AS toks
         |       FROM clean),
         |ne AS (SELECT * FROM ct WHERE len(toks) > 0),
         |q AS (
         |  SELECT doc_id, clean_text, CAST(len(toks) AS BIGINT) AS n_clean_tokens,
         |         floor((0.4*least(1.0, len(toks)::DOUBLE / 50.0)
         |              + 0.3*(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
         |              + 0.3*(len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE))
         |               * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM ne),
         |thr AS (SELECT quantile_cont(quality, 0.8) AS thr FROM q),
         |keep AS (SELECT q.* FROM q, thr WHERE quality >= thr)
         |SELECT doc_id, n_clean_tokens, quality, md5(clean_text) AS clean_md5
         |FROM keep
         |QUALIFY row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin
    },

    // x11's scoring feeding the exact integer NTILE formula (first
    // n mod k groups take one extra row) over (row index, total) — the
    // identical arithmetic the Spark side computes from its
    // range-partitioned global index
    "q_curriculum_phases" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |trans AS (
        |  SELECT doc_id, toks[i - 1] AS v, toks[i] AS w
        |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
        |vocab AS (
        |  SELECT count(DISTINCT tok)::DOUBLE AS v_size
        |  FROM (SELECT unnest(toks) AS tok FROM t)),
        |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
        |ctx AS (SELECT v, count(*) AS c_v FROM trans GROUP BY v),
        |scored0 AS (
        |  SELECT trans.doc_id,
        |         CAST(floor(-ln((c_vw::DOUBLE + 0.5) / (c_v::DOUBLE + 0.5 * vocab.v_size))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
        |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v), vocab),
        |scored AS (
        |  SELECT doc_id,
        |         floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS avg_nll
        |  FROM scored0 GROUP BY doc_id),
        |r AS (SELECT doc_id, avg_nll,
        |             row_number() OVER (ORDER BY avg_nll, doc_id) - 1 AS idx
        |      FROM scored),
        |n AS (SELECT count(*) AS n FROM scored)
        |SELECT doc_id, avg_nll,
        |       CAST(CASE WHEN idx < (n % 4) * (n // 4 + 1)
        |                 THEN idx // (n // 4 + 1)
        |                 ELSE (n % 4) + (idx - (n % 4) * (n // 4 + 1)) // (n // 4)
        |            END + 1 AS INT) AS phase
        |FROM r, n ORDER BY doc_id""".stripMargin,

    // both signals' quartiles re-derived (x2's quality blend, x11's
    // avg_nll, the exact integer NTILE of q_curriculum_phases), then
    // Cohen's kappa from exact long confusion arithmetic
    "q_signal_kappa" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val phase4 = (idx: String, n: String) =>
        s"""CAST(CASE WHEN $idx < ($n % 4) * ($n // 4 + 1)
           |          THEN $idx // ($n // 4 + 1)
           |          ELSE ($n % 4) + ($idx - ($n % 4) * ($n // 4 + 1)) // ($n // 4)
           |     END + 1 AS INT)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |raw AS (
         |  SELECT doc_id,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t),
         |qa0 AS (SELECT doc_id,
         |               floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS q
         |        FROM raw),
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY q, doc_id) - 1 AS idx FROM qa0),
         |na AS (SELECT count(*) AS n FROM qa0),
         |pa AS (SELECT doc_id, ${phase4("idx", "n")} AS la FROM ra, na),
         |trans AS (
         |  SELECT doc_id, toks[i - 1] AS v, toks[i] AS w
         |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
         |vocab AS (
         |  SELECT count(DISTINCT tok)::DOUBLE AS v_size
         |  FROM (SELECT unnest(toks) AS tok FROM t)),
         |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
         |ctx AS (SELECT v, count(*) AS c_v FROM trans GROUP BY v),
         |scored0 AS (
         |  SELECT trans.doc_id,
         |         CAST(floor(-ln((c_vw::DOUBLE + 0.5) / (c_v::DOUBLE + 0.5 * vocab.v_size))
         |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
         |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v), vocab),
         |qb0 AS (
         |  SELECT doc_id,
         |         floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS avg_nll
         |  FROM scored0 GROUP BY doc_id),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY avg_nll, doc_id) - 1 AS idx FROM qb0),
         |nb AS (SELECT count(*) AS n FROM qb0),
         |pb AS (SELECT doc_id, ${phase4("idx", "n")} AS lb FROM rb, nb),
         |jn AS (SELECT pa.la, pb.lb FROM pa JOIN pb USING (doc_id)),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |                CAST(count(CASE WHEN la = lb THEN 1 END) AS BIGINT) AS n_agree
         |         FROM jn),
         |ma AS (SELECT la, CAST(count(*) AS BIGINT) AS ra FROM jn GROUP BY 1),
         |mb AS (SELECT lb, CAST(count(*) AS BIGINT) AS rb FROM jn GROUP BY 1),
         |cx AS (SELECT CAST(COALESCE(sum(ma.ra * mb.rb), 0) AS BIGINT) AS sum_cross
         |       FROM ma JOIN mb ON ma.la = mb.lb)
         |SELECT n, n_agree, sum_cross,
         |       CASE WHEN n = 0 THEN NULL
         |            ELSE floor(n_agree::DOUBLE / n::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS po,
         |       CASE WHEN n = 0 THEN NULL
         |            ELSE floor(sum_cross::DOUBLE / (n * n)::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS pe,
         |       CASE WHEN n = 0 THEN NULL
         |            WHEN n * n - sum_cross = 0 THEN 1.0
         |            ELSE floor((n * n_agree - sum_cross)::DOUBLE
         |                       / (n * n - sum_cross)::DOUBLE * 1000000.0 + 0.5) / 1000000.0 END AS kappa
         |FROM base, cx""".stripMargin
    },

    // DSIR replayed end-to-end: bigram buckets from the same md5 hex
    // parse, add-k log-ratio λ q6-fixed per bucket, per-doc long sums,
    // the same (h₅₂+0.5)/2⁵² md5-uniform → Gumbel perturbation, top-100
    // on the exact long key
    "q_dsir_select" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |tr AS (
        |  SELECT doc_id, lang, toks[i - 1] || ' ' || toks[i] AS bg
        |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
        |f AS (SELECT doc_id, lang, ('0x' || substr(md5(bg), 1, 2))::BIGINT % 256 AS f FROM tr),
        |raw AS (SELECT f, count(*) AS cr FROM f GROUP BY f),
        |tgt AS (SELECT f, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY f),
        |tab AS (SELECT raw.f, raw.cr, COALESCE(tgt.ct, 0) AS ct FROM raw LEFT JOIN tgt USING (f)),
        |tot AS (SELECT sum(cr) AS totr, sum(ct) AS tott FROM tab),
        |lam AS (
        |  SELECT f, CAST(floor(ln(
        |           ((ct::DOUBLE + 0.5) / (tott::DOUBLE + 128.0)) /
        |           ((cr::DOUBLE + 0.5) / (totr::DOUBLE + 128.0))) * 1000000.0 + 0.5) AS BIGINT) AS lam_q6
        |  FROM tab, tot),
        |wts AS (
        |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_trans,
        |         CAST(sum(lam.lam_q6) AS BIGINT) AS w_q6
        |  FROM f JOIN lam USING (f) GROUP BY f.doc_id),
        |g AS (
        |  SELECT doc_id, n_trans, w_q6,
        |         w_q6 + CAST(floor(-ln(-ln(
        |           (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT::DOUBLE + 0.5)
        |           / 4503599627370496.0)) * 1000000.0 + 0.5) AS BIGINT) AS g_q6
        |  FROM wts)
        |SELECT CAST(row_number() OVER (ORDER BY g_q6 DESC, doc_id) AS INT) AS rank,
        |       doc_id, n_trans, w_q6, g_q6
        |FROM g ORDER BY g_q6 DESC, doc_id LIMIT 100""".stripMargin,

    "q_best_of_n" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, value,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY value DESC, event_id) AS rn,
        |         lead(value) OVER (PARTITION BY user_id, event_type ORDER BY value DESC, event_id) AS runner,
        |         count(*) OVER (PARTITION BY user_id, event_type) AS n
        |  FROM events)
        |SELECT user_id, event_type, event_id AS chosen_id, value AS chosen_value,
        |       CAST(n AS BIGINT) AS n_candidates, value - runner AS margin
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // add-one smoothed PSI over 10 enumerated bins per source; per-bin
    // terms q6-quantized before the sum (float-order immune), final round4
    "q_quality_drift_psi" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |raw AS (
         |  SELECT doc_id, source,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t),
         |qd AS (
         |  SELECT doc_id, source,
         |         floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM raw),
         |binned AS (
         |  SELECT source, doc_id % 2 = 0 AS is_a,
         |         least(CAST(floor(quality * 10.0) AS BIGINT), 9) AS bin
         |  FROM qd),
         |c AS (SELECT source, bin,
         |             CAST(count(*) FILTER (is_a) AS BIGINT) AS ca,
         |             CAST(count(*) FILTER (NOT is_a) AS BIGINT) AS cb
         |      FROM binned GROUP BY source, bin),
         |bins AS (SELECT source, unnest(range(0, 10)) AS bin FROM (SELECT DISTINCT source FROM binned)),
         |counts AS (
         |  SELECT bins.source, bins.bin, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
         |  FROM bins LEFT JOIN c ON bins.source = c.source AND bins.bin = c.bin),
         |tot AS (SELECT source, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
         |        FROM counts GROUP BY source),
         |terms AS (
         |  SELECT counts.source, n_a, n_b,
         |         (ca + 1)::DOUBLE / (n_a + 10)::DOUBLE AS pa,
         |         (cb + 1)::DOUBLE / (n_b + 10)::DOUBLE AS pb
         |  FROM counts JOIN tot ON counts.source = tot.source),
         |q6 AS (
         |  SELECT source, n_a, n_b,
         |         CAST(floor((pa - pb) * ln(pa / pb) * 1000000.0 + 0.5) AS BIGINT) AS t_q6
         |  FROM terms)
         |SELECT source, max(n_a) AS n_a, max(n_b) AS n_b,
         |       floor(sum(t_q6)::DOUBLE / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS psi
         |FROM q6 GROUP BY source ORDER BY source""".stripMargin
    },

    "q_table_profile" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(l_quantity) AS BIGINT) AS nn1, CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd1,
        |         min(l_quantity)::DOUBLE AS mn1, max(l_quantity)::DOUBLE AS mx1,
        |         CAST(count(l_extendedprice) AS BIGINT) AS nn2, CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS nd2,
        |         min(l_extendedprice)::DOUBLE AS mn2, max(l_extendedprice)::DOUBLE AS mx2,
        |         CAST(count(l_discount) AS BIGINT) AS nn3, CAST(count(DISTINCT l_discount) AS BIGINT) AS nd3,
        |         min(l_discount)::DOUBLE AS mn3, max(l_discount)::DOUBLE AS mx3,
        |         CAST(count(l_tax) AS BIGINT) AS nn4, CAST(count(DISTINCT l_tax) AS BIGINT) AS nd4,
        |         min(l_tax)::DOUBLE AS mn4, max(l_tax)::DOUBLE AS mx4
        |  FROM lineitem)
        |SELECT 'l_discount' AS "column", n_rows, nn3 AS n_non_null, nd3 AS n_distinct, mn3 AS min_value, mx3 AS max_value FROM s
        |UNION ALL SELECT 'l_extendedprice', n_rows, nn2, nd2, mn2, mx2 FROM s
        |UNION ALL SELECT 'l_quantity', n_rows, nn1, nd1, mn1, mx1 FROM s
        |UNION ALL SELECT 'l_tax', n_rows, nn4, nd4, mn4, mx4 FROM s
        |ORDER BY "column"""".stripMargin,

    // row_number-1 per band == the global-index offset rank (the index
    // orders (bucket, n, id) and bands are contiguous in it)
    "q_length_bucket_batches" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT doc_id, n, (n - 1) // 16 AS bucket FROM t WHERE n > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n, doc_id) - 1 AS rk FROM b),
        |a AS (SELECT bucket, rk // 16 AS batch_in_bucket, n FROM r)
        |SELECT bucket, batch_in_bucket, count(*) AS n_docs,
        |       max(n) AS max_tokens, CAST(sum(n) AS BIGINT) AS sum_tokens,
        |       count(*) * max(n) - CAST(sum(n) AS BIGINT) AS padding_waste
        |FROM a GROUP BY bucket, batch_in_bucket
        |ORDER BY bucket, batch_in_bucket""".stripMargin,

    // cume_dist == the histogram cum/n rank by definition (preceding-or-
    // peer fraction); the ensemble sum is written in the same operand
    // order as the Spark expression
    "q_quality_rank_ensemble" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |raw AS (
         |  SELECT doc_id, source,
         |         floor(least(1.0, len(toks)::DOUBLE / 50.0) * 10000.0 + 0.5) / 10000.0 AS length_score,
         |         floor(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS type_token_ratio,
         |         floor(len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS stopword_ratio
         |  FROM t),
         |pr AS (
         |  SELECT *,
         |         cume_dist() OVER (PARTITION BY source ORDER BY length_score) AS pr_length_score,
         |         cume_dist() OVER (PARTITION BY source ORDER BY type_token_ratio) AS pr_type_token_ratio,
         |         cume_dist() OVER (PARTITION BY source ORDER BY stopword_ratio) AS pr_stopword_ratio
         |  FROM raw)
         |SELECT doc_id, source, length_score, type_token_ratio, stopword_ratio,
         |       pr_length_score, pr_type_token_ratio, pr_stopword_ratio,
         |       floor((pr_length_score + pr_type_token_ratio + pr_stopword_ratio) / 3.0 * 10000.0 + 0.5) / 10000.0 AS ensemble
         |FROM pr ORDER BY doc_id""".stripMargin
    },

    // s4's gap-session CTE, transcripts via ordered string_agg, ≥3 turns
    "q_session_conversations" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us FROM events),
         |x AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
         |y AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > $SessionGapUs THEN 1 ELSE 0 END AS nw FROM x),
         |z AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y)
         |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_turns,
         |       string_agg(event_type, ' ' ORDER BY ts_us, event_id) AS transcript
         |FROM z GROUP BY user_id, session_id HAVING count(*) >= 3
         |ORDER BY user_id, session_id""".stripMargin,

    // floor(x·10⁴ + 0.5)/10⁴ == TextOps.round4: same IEEE ops both engines,
    // immune to the round() half-boundary divergence (Spark rounds the
    // exact binary value, DuckDB rounds x·10⁴ computed in floats)
    "x6_bpe_token_count" -> {
      val p = TextOps.BpePretokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         |       len(list_filter(string_split(text,' '), t -> t <> '')) AS n_ws_tokens,
         |       len(regexp_extract_all(lower(text), '$p')) AS n_bpe_tokens,
         |       len(list_distinct(regexp_extract_all(lower(text), '$p'))) AS n_bpe_distinct
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "x1_token_stats" ->
      """SELECT doc_id,
        |       len(list_filter(string_split(text,' '), t -> t <> '')) AS n_tokens,
        |       length(text) AS n_chars,
        |       len(list_distinct(list_filter(string_split(text,' '), t -> t <> ''))) AS n_distinct_tokens,
        |       floor(length(replace(text, ' ', ''))::DOUBLE /
        |             len(list_filter(string_split(text,' '), t -> t <> ''))::DOUBLE * 10000.0 + 0.5) / 10000.0 AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x2_quality_score" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |raw AS (
         |  SELECT doc_id,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t)
         |SELECT doc_id,
         |       floor(ls * 10000.0 + 0.5) / 10000.0 AS length_score,
         |       floor(ttr * 10000.0 + 0.5) / 10000.0 AS type_token_ratio,
         |       floor(sr * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
         |       floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |FROM raw ORDER BY doc_id""".stripMargin
    },

    // same quality formula as x2, ranked desc with doc_id tiebreak, then
    // the strictly-preceding token prefix sum and the fits-entirely rule
    "q_budget_select" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |raw AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |         floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM raw),
         |p AS (
         |  SELECT doc_id, quality, n_tokens,
         |         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM q)
         |SELECT doc_id, quality, n_tokens, cum_before FROM p
         |WHERE cum_before + n_tokens <= 20000
         |ORDER BY quality DESC, doc_id""".stripMargin
    },

    "q_language_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |lang AS (
         |  SELECT doc_id,
         |         CASE WHEN $greatestAll <= 0.0 THEN 'und'
         |       $langCase
         |       ELSE 'und' END AS lang
         |  FROM (SELECT doc_id, $langScoreCols FROM t)),
         |r AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM lang)
         |SELECT doc_id, lang FROM r WHERE rn <= 40 ORDER BY doc_id""".stripMargin,

    "q_quality_cut" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |q AS (
         |  SELECT doc_id,
         |         floor((0.4*ls + 0.3*ttr + 0.3*sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM (SELECT doc_id,
         |               least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |               len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |               len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |        FROM t)),
         |thr AS (SELECT quantile_cont(quality, 0.8) AS thr FROM q)
         |SELECT doc_id, quality FROM q, thr WHERE quality >= thr
         |ORDER BY doc_id""".stripMargin
    },

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
        |p AS (SELECT token, cnt,
        |             CAST(COALESCE(sum(cnt) OVER (ORDER BY cnt DESC, token
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |      FROM c),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT token, cnt, cum_before FROM p, t
        |WHERE cum_before < (95 * total + 99) // 100
        |ORDER BY cnt DESC, token""".stripMargin,

    // per-source release summary; q4 mirrors the Spark side's
    // floor(round4(blend)·10⁴ + 0.5) fixed-point exactly
    "q_dataset_card" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, md5(text) AS fp,
         |         list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |lang AS (
         |  SELECT doc_id,
         |         CASE WHEN $greatestAll <= 0.0 THEN 'und'
         |       $langCase
         |       ELSE 'und' END AS predicted_lang
         |  FROM (SELECT doc_id, $langScoreCols FROM t)),
         |qual AS (
         |  SELECT doc_id,
         |         CAST(floor((floor((0.4*ls + 0.3*ttr + 0.3*sr) * 10000.0 + 0.5) / 10000.0)
         |           * 10000.0 + 0.5) AS BIGINT) AS q4
         |  FROM (SELECT doc_id,
         |               least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |               len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |               len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |        FROM t)),
         |per AS (
         |  SELECT t.source, t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, t.fp,
         |         lang.predicted_lang, qual.q4
         |  FROM t JOIN lang USING (doc_id) JOIN qual USING (doc_id))
         |SELECT source,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       count(DISTINCT fp) AS n_unique_texts,
         |       count(*) FILTER (WHERE predicted_lang = 'en') AS n_en,
         |       CAST(sum(q4) AS BIGINT) AS sum_quality_q4,
         |       CAST(sum(q4) AS DOUBLE) / (count(*) * 10000)::DOUBLE AS mean_quality
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    },

    "e2e_corpus_build" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, md5(text) AS fp,
         |         list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |lang AS (
         |  SELECT doc_id,
         |         CASE WHEN $greatestAll <= 0.0 THEN 'und'
         |       $langCase
         |       ELSE 'und' END AS predicted_lang
         |  FROM (SELECT doc_id, $langScoreCols FROM t)),
         |qual AS (
         |  SELECT doc_id,
         |         floor((0.4*ls + 0.3*ttr + 0.3*sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM (SELECT doc_id,
         |               least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |               len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |               len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |        FROM t)),
         |keep AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         min(doc_id) OVER (PARTITION BY fp) AS keep_id
         |  FROM t),
         |sel AS (
         |  SELECT k.doc_id, lang.predicted_lang, qual.quality, k.n_tokens
         |  FROM keep k JOIN lang USING (doc_id) JOIN qual USING (doc_id)
         |  WHERE k.doc_id = k.keep_id AND lang.predicted_lang = 'en' AND qual.quality >= 0.5)
         |SELECT doc_id, predicted_lang, quality, n_tokens,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
         |      FROM sel)
         |ORDER BY doc_id""".stripMargin
    },

    // same BMP codepoint ranges, same count-by-removal (DuckDB
    // regexp_replace needs the 'g' flag; Spark's is global by default),
    // same deterministic dominant-tie order, same round4 share
    "x18_script_mix" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 26 = 0 THEN repeat('привет мир ', 30)
        |         WHEN doc_id % 13 = 0 THEN text || ' привет мир'
        |         ELSE text END ||
        |    CASE WHEN doc_id % 17 = 0 THEN ' 你好世界' ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(t) - len(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(len(t) - len(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(t) - len(regexp_replace(t, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(len(t) - len(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
        |  FROM planted)
        |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit,
        |  n_latin + n_cyrillic + n_cjk AS n_letters,
        |  CASE WHEN n_latin + n_cyrillic + n_cjk IS NULL THEN NULL
        |       WHEN n_latin + n_cyrillic + n_cjk = 0 THEN NULL
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrillic >= n_cjk THEN 'cyrillic' ELSE 'cjk' END AS dominant_script,
        |  CASE WHEN n_latin + n_cyrillic + n_cjk = 0 THEN NULL
        |       ELSE floor(greatest(n_latin, n_cyrillic, n_cjk)::DOUBLE
        |              / (n_latin + n_cyrillic + n_cjk)::DOUBLE * 10000.0 + 0.5) / 10000.0
        |  END AS dominant_share
        |FROM c ORDER BY doc_id""".stripMargin,

    "x3_language_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |s AS (
         |  SELECT doc_id,
         |  $langScoreCols
         |  FROM t)
         |SELECT doc_id, ${langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")},
         |  CASE WHEN $greatestAll <= 0.0 THEN 'und'
         |       $langCase
         |       ELSE 'und' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin,

    // the CMS pass is a pure candidate filter (never undercounts ⇒
    // superset) and the operator verifies with exact counts, so the
    // oracle is the plain exact heavy-hitter query
    "t3_heavy_hitters" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |WHERE word <> '' GROUP BY word HAVING count(*) >= $HeavyHitterThreshold
         |ORDER BY word""".stripMargin,

    // same tokenization as x1 (whitespace, empties dropped, NO lowering),
    // smooth idf ln((1+N)/(1+df))+1, round4's engine-stable floor rounding
    "x8_tfidf_topterms" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |  WHERE term <> '' GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |         floor(tf.tf * (ln((1 + n.n) / (1 + dfreq.df)) + 1) * 10000 + 0.5) / 10000 AS score
         |  FROM tf JOIN dfreq USING (term), n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= $TopK
         |ORDER BY doc_id, rank""".stripMargin,

    // identical planted PII and identical RE2-safe patterns; DuckDB needs
    // the explicit 'g' flag to match Spark's replace-all default
    "x7_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    CASE WHEN doc_id % 10 = 0
        |         THEN text || ' contact u' || CAST(doc_id % 100 AS VARCHAR) || '@mail.example.com or call 12345678'
        |         ELSE text END,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the identical alternate-double Luhn digit sum in SQL over the
    // same RE2-safe candidate pattern; redaction folds exact-substring
    // replaces exactly like the engine (distinct boundary-bounded runs
    // cannot overlap, so the fold order is immaterial on both sides)
    "x19_card_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 9 = 0 THEN ' card 4242424242424242 ok'
        |                 WHEN doc_id % 9 = 4 THEN ' ref 1234567890123456 x'
        |                 WHEN doc_id % 9 = 7 THEN ' pay 4111111111111111 and 378282246310005 thx'
        |                 ELSE '' END AS text
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(text, '\b[0-9]{13,19}\b') AS runs
        |  FROM t),
        |v AS (
        |  SELECT doc_id, text, runs,
        |    list_filter(runs, x ->
        |      list_sum(list_transform(range(1, len(x) + 1), i ->
        |        CASE WHEN i % 2 = 1 THEN CAST(substr(reverse(x), i, 1) AS INT)
        |             ELSE CASE WHEN 2 * CAST(substr(reverse(x), i, 1) AS INT) > 9
        |                       THEN 2 * CAST(substr(reverse(x), i, 1) AS INT) - 9
        |                       ELSE 2 * CAST(substr(reverse(x), i, 1) AS INT) END
        |        END)) % 10 = 0) AS valid
        |  FROM cand)
        |SELECT doc_id, CAST(len(runs) AS BIGINT) AS n_digit_runs,
        |       CAST(len(valid) AS BIGINT) AS n_cards,
        |       md5(list_reduce(list_prepend(text, valid),
        |                       (a, b) -> replace(a, b, '<CARD>'))) AS redacted_md5
        |FROM v ORDER BY doc_id""".stripMargin,

    // the same (n_tokens, doc_id) total order, dealt round-robin
    "q_balanced_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST((row_number() OVER (ORDER BY n_tokens, doc_id) - 1) % 8 AS INT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin,

    // the same deterministic shard assignment, rolled up into the writer
    // manifest: per-row checksum = first 13 md5 hex digits of the id as
    // a long, reduced mod 1e6+3 before the sum (overflow-safe to ~10^12
    // docs/shard) — exact long addition is order-free in both engines
    "q_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, n_tokens,
        |         CAST((row_number() OVER (ORDER BY n_tokens, doc_id) - 1) % 8 AS INT) AS shard
        |  FROM t)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 1000003) AS BIGINT) AS checksum
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    // the per-source median from the same histogram CTEs, quartile tiers
    // via the exact integer NTILE formula over (median desc, source),
    // then docs × range(1, 5 − tier) expansion
    "q_epoch_repetition_plan" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |raw AS (
         |  SELECT doc_id, source,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |             floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |      FROM raw),
         |h AS (SELECT source, quality, count(*) AS c FROM q GROUP BY source, quality),
         |cw AS (SELECT source, quality,
         |              sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum,
         |              sum(c) OVER (PARTITION BY source) AS tot FROM h),
         |thr AS (SELECT source, min(quality) AS q_med FROM cw
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source),
         |r AS (SELECT source,
         |             row_number() OVER (ORDER BY q_med DESC, source) - 1 AS idx
         |      FROM thr),
         |n AS (SELECT count(*) AS ns FROM thr),
         |tiers AS (
         |  SELECT source,
         |         CAST(CASE WHEN idx < (ns % 4) * (ns // 4 + 1)
         |                   THEN idx // (ns // 4 + 1)
         |                   ELSE (ns % 4) + (idx - (ns % 4) * (ns // 4 + 1)) // (ns // 4)
         |              END + 1 AS INT) AS tier
         |  FROM r, n)
         |SELECT d.doc_id, d.source, tiers.tier, CAST(e.e AS INT) AS epoch
         |FROM documents d JOIN tiers USING (source), range(1, 5) e(e)
         |WHERE e.e <= 5 - tiers.tier
         |ORDER BY d.doc_id, epoch""".stripMargin
    },

    // x2's quality formula, then the histogram-exact lower median per
    // source (same (tot+1) div 2 rank, same min-quality-at-or-past-rank
    // selection) and the >= threshold filter
    // the median-filter histogram CTEs twice: once for the per-source
    // median, once over |quality − median| for the MAD; z is a single
    // IEEE expression over the agreed doubles, round4 with floor (exact
    // for negatives too); MAD = 0 → NULL both sides
    "q_robust_quality_z" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |             floor((0.4 * least(1.0, len(toks)::DOUBLE / 50.0)
         |                  + 0.3 * (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
         |                  + 0.3 * (len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE))
         |                   * 10000.0 + 0.5) / 10000.0 AS quality
         |      FROM t),
         |h1 AS (SELECT source, quality, count(*) AS c FROM q GROUP BY source, quality),
         |cw1 AS (SELECT source, quality,
         |               sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum,
         |               sum(c) OVER (PARTITION BY source) AS tot FROM h1),
         |med AS (SELECT source, min(quality) AS median FROM cw1
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source),
         |d AS (SELECT q.doc_id, q.source, q.quality, med.median,
         |             abs(q.quality - med.median) AS ad
         |      FROM q JOIN med USING (source)),
         |h2 AS (SELECT source, ad, count(*) AS c FROM d GROUP BY source, ad),
         |cw2 AS (SELECT source, ad,
         |               sum(c) OVER (PARTITION BY source ORDER BY ad) AS cum,
         |               sum(c) OVER (PARTITION BY source) AS tot FROM h2),
         |mad AS (SELECT source, min(ad) AS mad FROM cw2
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source)
         |SELECT d.doc_id, d.source, d.quality, d.median, mad.mad,
         |       CASE WHEN mad.mad > 0
         |            THEN floor((d.quality - d.median) / mad.mad * 10000.0 + 0.5) / 10000.0
         |       END AS robust_z
         |FROM d JOIN mad USING (source)
         |ORDER BY doc_id""".stripMargin
    },

    "q_quality_median_filter" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |raw AS (
         |  SELECT doc_id, source,
         |         least(1.0, len(toks)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
         |         len(list_filter(toks, x -> list_contains($stopArr, x)))::DOUBLE / len(toks)::DOUBLE AS sr
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |             floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |      FROM raw),
         |h AS (SELECT source, quality, count(*) AS c FROM q GROUP BY source, quality),
         |cw AS (SELECT source, quality,
         |              sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum,
         |              sum(c) OVER (PARTITION BY source) AS tot FROM h),
         |thr AS (SELECT source, min(quality) AS q_thr FROM cw
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source)
         |SELECT q.doc_id, q.source, q.quality
         |FROM q JOIN thr USING (source)
         |WHERE q.quality >= thr.q_thr
         |ORDER BY doc_id""".stripMargin
    },

    // the full manifest replayed stage-for-stage: x2 quality → histogram
    // median gate → √-mass integer temperature allocation (150 slots,
    // md5-rank fill) → x11's bigram NLL RETRAINED on the selected subset
    // → the exact integer NTILE formula → the (phase, avg_nll, doc_id)
    // token prefix sum and 128-token chunk arithmetic
    "e2e_training_manifest" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |raw AS (
         |  SELECT doc_id, source,
         |         least(1.0, len(ws)::DOUBLE / 50.0) AS ls,
         |         len(list_distinct(ws))::DOUBLE / len(ws)::DOUBLE AS ttr,
         |         len(list_filter(ws, x -> list_contains($stopArr, x)))::DOUBLE / len(ws)::DOUBLE AS sr
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |             floor((0.4 * ls + 0.3 * ttr + 0.3 * sr) * 10000.0 + 0.5) / 10000.0 AS quality
         |      FROM raw),
         |h AS (SELECT source, quality, count(*) AS c FROM q GROUP BY source, quality),
         |cw AS (SELECT source, quality,
         |              sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum,
         |              sum(c) OVER (PARTITION BY source) AS tot FROM h),
         |thr AS (SELECT source, min(quality) AS q_thr FROM cw
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source),
         |kept AS (SELECT q.doc_id, q.source FROM q JOIN thr USING (source)
         |         WHERE q.quality >= thr.q_thr),
         |counts AS (SELECT source, count(*) AS c FROM kept GROUP BY source),
         |m AS (SELECT source,
         |             CAST(floor(sqrt(c::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS a FROM counts),
         |mtot AS (SELECT CAST(sum(a) AS BIGINT) AS b FROM m),
         |alloc AS (SELECT source, CAST((150 * a) // b AS BIGINT) AS n_alloc FROM m, mtot),
         |rk AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
         |  FROM kept),
         |sel AS (SELECT rk.doc_id FROM rk JOIN alloc USING (source) WHERE rk.r <= alloc.n_alloc),
         |st AS (SELECT t.doc_id, t.source, t.ws FROM t JOIN sel USING (doc_id)),
         |trans AS (
         |  SELECT doc_id, ws[i - 1] AS v, ws[i] AS w
         |  FROM st, unnest(range(2, len(ws) + 1)) AS u(i)),
         |vocab AS (
         |  SELECT count(DISTINCT tok)::DOUBLE AS v_size
         |  FROM (SELECT unnest(ws) AS tok FROM st)),
         |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
         |ctx AS (SELECT v, count(*) AS c_v FROM trans GROUP BY v),
         |scored0 AS (
         |  SELECT trans.doc_id,
         |         CAST(floor(-ln((c_vw::DOUBLE + 0.5) / (c_v::DOUBLE + 0.5 * vocab.v_size))
         |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
         |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v), vocab),
         |scored AS (
         |  SELECT doc_id,
         |         floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS avg_nll
         |  FROM scored0 GROUP BY doc_id),
         |r AS (SELECT doc_id, avg_nll,
         |             row_number() OVER (ORDER BY avg_nll, doc_id) - 1 AS idx
         |      FROM scored),
         |n AS (SELECT count(*) AS n FROM scored),
         |ph AS (
         |  SELECT doc_id, avg_nll,
         |         CAST(CASE WHEN idx < (n % 4) * (n // 4 + 1)
         |                   THEN idx // (n // 4 + 1)
         |                   ELSE (n % 4) + (idx - (n % 4) * (n // 4 + 1)) // (n // 4)
         |              END + 1 AS INT) AS phase
         |  FROM r, n),
         |wt AS (
         |  SELECT ph.doc_id, t.source, ph.phase, ph.avg_nll,
         |         CAST(len(t.ws) AS BIGINT) AS n_tokens
         |  FROM ph JOIN t USING (doc_id)),
         |p AS (
         |  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY phase, avg_nll, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM wt)
         |SELECT doc_id, source, phase, avg_nll, n_tokens, tok_start,
         |       CAST(tok_start // 128 AS BIGINT) AS chunk_start,
         |       CAST(CASE WHEN n_tokens = 0 THEN tok_start // 128
         |                 ELSE (tok_start + n_tokens - 1) // 128 END AS BIGINT) AS chunk_end
         |FROM p ORDER BY doc_id""".stripMargin
    }
  )
}

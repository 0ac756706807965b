package graft
package oracle

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.operators._

/** Oracles of the trained-model and generator gates, each a function of
  * what its gate trained or computed: the model file the gate exported (LR,
  * BPE, unigram, k-center, Bradley–Terry), the seeded generator output
  * (s3), or engine rows the gate splices as VALUES tables (x14, DoReMi,
  * perplexity buckets). A builder returns the SQL of every gate its input
  * serves, keyed by gate. */
private[graft] object ModelOracles {

  private val IeeeCast = java.util.regex.Pattern.compile(
    "(?i)(::\\s*|\\bAS\\s+)(DOUBLE|FLOAT|REAL)\\b")

  /** The double-free contract of a gate whose oracle splices engine rows as
    * VALUES tables: its hash gate must never depend on how a differently-
    * versioned DuckDB formats or parses an IEEE value. An IEEE output
    * column fails the gate; an IEEE cast inside a splice logs a LINT line
    * and yields no oracle, so the gate degrades to a rows-only check. The
    * lint matches CAST syntax only (`::DOUBLE`, `AS DOUBLE`) — corpus
    * WORDS such as "double" legitimately appear inside the x14 edge
    * splice. */
  private def splicedOracle(gate: String, out: DataFrame, splices: String*)(
      sql: => String): Map[String, String] = {
    out.schema.fields.foreach { f =>
      require(f.dataType != DoubleType && f.dataType != FloatType,
        s"splice-backed gate $gate emits IEEE column ${f.name}")
    }
    if (splices.exists(IeeeCast.matcher(_).find())) {
      System.err.println(
        s"[verify] LINT: $gate froze an IEEE-bearing VALUES splice — dropping its oracle")
      Map.empty
    } else Map(gate -> sql)
  }

  /** x14 oracle over the ENGINE's q6 PPMI edge rows `edges` (a VALUES
    * body the gate rendered from the checkpointed table its power
    * iteration consumed). The edges splice in as a VALUES table, so the
    * gate's one transcendental (`ln`) is never evaluated twice by two
    * different libm implementations inside a `floor(x·1e6+0.5)` — the
    * same exported-model contract as [[IndexOracles.ivfOracleSql]]'s
    * centroids and q_ndcg_eval's discount table. The oracle still
    * recomputes its OWN `ln` edge table (`ppmi_d`) from the exactly-agreed
    * integer counts and FAILS CLOSED — final select returns zero rows — unless the spliced
    * edges match it within ±1 micro-unit (the 1-ulp-at-a-floor-boundary
    * envelope) with identical support (every duck edge of weight ≥ 2 must
    * be spliced; a true weight of 1 may legitimately floor to 0 on the
    * engine side and vice versa). The 8 power-iteration rounds run the
    * identical pure-long floor-div arithmetic on the spliced table. */
  private[graft] def ppmiOracleSql(out: DataFrame, edges: String): Map[String, String] =
    splicedOracle("x14_word_centrality", out, edges) {
      val rounds = (1 to 8).map { i =>
        s"""|y$i AS MATERIALIZED (
            |  SELECT nodes.v, coalesce(s.y, 0) AS y FROM nodes
            |  LEFT JOIN (
            |    SELECT ppmi.v, CAST(sum((ppmi.m * x${i - 1}.x) // 1000000) AS BIGINT) AS y
            |    FROM ppmi JOIN x${i - 1} ON ppmi.w = x${i - 1}.v GROUP BY ppmi.v) s ON nodes.v = s.v),
            |x$i AS MATERIALIZED (SELECT v, (y * 1000000) // (SELECT sum(y) FROM y$i) AS x FROM y$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |trans AS (
         |  SELECT toks[i - 1] AS v, toks[i] AS w
         |  FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
         |sym AS (SELECT v, w FROM trans UNION ALL SELECT w, v FROM trans),
         |cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY v, w),
         |cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cvw GROUP BY v),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cvw),
         |ppmi_d AS (
         |  SELECT cvw.v, cvw.w,
         |    greatest(0, CAST(floor(ln((cvw.c::DOUBLE * nn.n::DOUBLE) / (a.cv::DOUBLE * b.cv::DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS md
         |  FROM cvw JOIN cv a ON cvw.v = a.v JOIN cv b ON cvw.w = b.v, nn),
         |ppmi_e(v, w, m) AS (VALUES $edges),
         |chk AS MATERIALIZED (SELECT
         |  (SELECT count(*) FROM ppmi_e e LEFT JOIN ppmi_d d ON e.v = d.v AND e.w = d.w
         |     WHERE d.v IS NULL OR abs(e.m - d.md) > 1)
         |  + (SELECT count(*) FROM ppmi_d d LEFT JOIN ppmi_e e ON e.v = d.v AND e.w = d.w
         |     WHERE d.md >= 2 AND e.v IS NULL) AS bad),
         |ppmi AS MATERIALIZED (SELECT v, w, CAST(m AS BIGINT) AS m FROM ppmi_e),
         |nodes AS MATERIALIZED (SELECT v FROM cv),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM nodes),
         |x0 AS MATERIALIZED (SELECT v, 1000000 // vv.nv AS x FROM nodes, vv),
           $rounds
         |SELECT CAST(row_number() OVER (ORDER BY x DESC, v) AS BIGINT) AS rank, v AS word, CAST(x AS BIGINT) AS centrality_q6
         |FROM x8, chk WHERE chk.bad = 0 ORDER BY x DESC, v LIMIT 20""".stripMargin
    }

  /** q_doremi_mix oracle over the EG splice tables the gate rendered from
    * its own EG loop (`lossValues`, `values`). Two ENGINE tables splice in
    * as VALUES, BOTH pure BIGINT (no IEEE literal anywhere in the splice,
    * so a differently-versioned DuckDB in the verification environment has
    * no DOUBLE-parse surface left to disagree on): the per-round POST-FLOOR
    * integer weights `u = floor(w·exp(η·excess/1e6)+0.5)` keyed by
    * (round, source, excess_q6), and the per-source q6 losses (so the
    * loss rollup's `ln` is never evaluated by two libms). With the u
    * splice the oracle's whole EG chain is integer end-to-end — the only
    * live DOUBLEs are inside fail-closed tolerance arms. Both splices
    * FAIL CLOSED against independent recomputation: the losses must match
    * DuckDB's own `ln`-derived `persrc` within ±1 q6 with identical
    * support (`chk`), and each spliced u must sit within ±1 of DuckDB's
    * own `floor(w·exp(0.5·excess/1e6)+0.5)` (per-round `bad` flags,
    * summed in the final WHERE — an engine bug in the exp's sign or eta
    * scaling cannot reproduce on both sides). Each EG round still joins
    * the trace ON ITS OWN recomputed excess over engine-loss integers, so
    * a stale or mis-keyed splice drops rows (fail-visible). */
  private[graft] def egOracleSql(out: DataFrame, lossValues: String,
      values: String): Map[String, String] =
    splicedOracle("q_doremi_mix", out, lossValues, values) {
      val rounds = (1 to 8).map { i =>
        s"""|u$i AS MATERIALIZED (
            |  SELECT e.src, e.loss_q6, f.u,
            |    CASE WHEN abs(f.u - CAST(floor(e.w::DOUBLE * exp(0.5 * f.excess_q6 / 1000000.0) + 0.5) AS BIGINT)) > 1
            |         THEN 1 ELSE 0 END AS bad
            |  FROM eg${i - 1} e JOIN egtrace f ON f.round = $i AND f.src = e.src
            |    AND f.excess_q6 = greatest(e.loss_q6 - (SELECT sum(w * loss_q6) // 1000000 FROM eg${i - 1}), 0)),
            |eg$i AS MATERIALIZED (SELECT src, loss_q6, (u * 1000000) // (SELECT sum(u) FROM u$i) AS w FROM u$i)""".stripMargin
      }.mkString(",\n")
      val uBad = (1 to 8).map(i => s"SELECT bad FROM u$i").mkString(" UNION ALL ")
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
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
         |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v), vocab),
         |perdoc AS (SELECT doc_id, count(*) AS n_trans, CAST(sum(nll_q6) AS BIGINT) AS s_q6 FROM scored GROUP BY doc_id),
         |persrc AS MATERIALIZED (
         |  SELECT t.source AS src, CAST(sum(perdoc.s_q6) AS BIGINT) // CAST(sum(perdoc.n_trans) AS BIGINT) AS loss_q6
         |  FROM perdoc JOIN t ON perdoc.doc_id = t.doc_id GROUP BY t.source),
         |engloss(src, loss_q6) AS (VALUES $lossValues),
         |egtrace(round, src, excess_q6, u) AS (VALUES $values),
         |chk AS MATERIALIZED (SELECT
         |  (SELECT count(*) FROM engloss e LEFT JOIN persrc d ON e.src = d.src
         |     WHERE d.src IS NULL OR abs(e.loss_q6 - d.loss_q6) > 1)
         |  + (SELECT count(*) FROM persrc d LEFT JOIN engloss e ON e.src = d.src
         |     WHERE e.src IS NULL) AS bad),
         |eg0 AS MATERIALIZED (SELECT src, loss_q6, 1000000 // (SELECT count(*) FROM engloss) AS w FROM engloss),
         $rounds,
         |a AS (SELECT src, loss_q6, w, (1000000 * w) // 1000000 AS base, (1000000 * w) % 1000000 AS rem FROM eg8),
         |dd AS (SELECT 1000000 - sum(base) AS deficit, count(*) AS ns FROM a),
         |r AS (SELECT src, loss_q6, w, base, row_number() OVER (ORDER BY rem DESC, src) AS rk FROM a)
         |SELECT src AS source, loss_q6, CAST(w AS BIGINT) AS w_q6,
         |  CAST(base + (SELECT deficit // ns FROM dd) + CASE WHEN rk <= (SELECT deficit % ns FROM dd) THEN 1 ELSE 0 END AS BIGINT) AS target_tokens
         |FROM r, chk WHERE chk.bad = 0
         |  AND (SELECT coalesce(sum(bad), 0) FROM ($uBad)) = 0
         |ORDER BY source""".stripMargin
    }

  /** q_ppl_buckets oracle over the engine's per-doc (doc_id,
    * avg_nll_micro) rows the gate rendered from the same checkpointed rows
    * its returned plan consumes. The tercile machinery amplifies a single
    * 1-ulp cross-engine `ln` disagreement into a whole language's bucket
    * labels (the x14/doremi flake class), so the spliced
    * BIGINT averages drive the replay; the oracle still recomputes its
    * OWN KN chain and FAILS CLOSED — zero rows — unless every spliced
    * average sits within ±1 micro of its recomputation with identical
    * support. Thresholds replay the engine's milli-nat grid
    * (`k // 1000`) over the spliced integers. */
  private[graft] def pplOracleSql(out: DataFrame, values: String): Map[String, String] =
    splicedOracle("q_ppl_buckets", out, values) {
      s"""WITH t AS (
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
         |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v) JOIN cont USING (w), bt),
         |per_doc AS (
         |  SELECT doc_id, CAST(sum(nll_q6) AS BIGINT) // count(*) AS k
         |  FROM scored GROUP BY doc_id),
         |engk(doc_id, k) AS (VALUES $values),
         |chk AS MATERIALIZED (SELECT
         |  (SELECT count(*) FROM engk e LEFT JOIN per_doc d ON e.doc_id = d.doc_id
         |     WHERE d.doc_id IS NULL OR abs(e.k - d.k) > 1)
         |  + (SELECT count(*) FROM per_doc d LEFT JOIN engk e ON e.doc_id = d.doc_id
         |     WHERE e.doc_id IS NULL) AS bad),
         |langd AS (
         |  SELECT e.doc_id, d.lang, e.k, e.k // 1000 AS kg
         |  FROM engk e JOIN documents d USING (doc_id)),
         |hist AS (SELECT lang, kg, count(*) AS c FROM langd GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, kg,
         |         sum(c) OVER (PARTITION BY lang ORDER BY kg) AS cum,
         |         sum(c) OVER (PARTITION BY lang) AS tot
         |  FROM hist),
         |th AS (
         |  SELECT lang, min(CASE WHEN cum * 3 >= tot THEN kg END) AS t1,
         |         min(CASE WHEN cum * 3 >= 2 * tot THEN kg END) AS t2
         |  FROM cum GROUP BY lang)
         |SELECT l.doc_id, l.lang, l.k AS avg_nll_micro,
         |       CASE WHEN l.kg <= t.t1 THEN 'head'
         |            WHEN l.kg <= t.t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM langd l JOIN th t USING (lang), chk WHERE chk.bad = 0
         |ORDER BY l.doc_id""".stripMargin
    }

  /** Oracles of the gates scoring with the quality-LR `model`
    * ([[graft.operators.TextOps.trainQualityLr]]). The weights splice as
    * literals — `Double.toString` round-trips, so DuckDB
    * parses back identical doubles — and the SQL replays feature build and
    * scoring operation-for-operation: the same md5 bucket parse, the same
    * (c/n)·scale feature, the same zero-init ascending fold for z (Spark's
    * `aggregate` == `list_reduce` after the exact 0+x₀=x₀ first step), the
    * same q6 fixing. Training itself is pinned by the single-node replica
    * in OperatorsSpec, not re-run in SQL. */
  private[graft] def lrOracleSql(model: TextOps.QualityLr): Map[String, String] = {
    val (buckets, _, _, scale, thr, w) = model
    val wLit = "[" + w.mkString(", ") + "]::DOUBLE[]"
    val stopList = graft.operators.TextOps.DefaultStopwords
      .map(s => s"'$s'").mkString(", ")
    // shared scoring prefix: features + the canonical fold → per-doc z
    val scoringCtes =
      s"""w(wv) AS (SELECT $wLit),
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
         |base AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
         |tok AS (SELECT doc_id, unnest(ws) AS tok FROM base),
         |bc AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 2))::BIGINT % $buckets AS b,
         |              count(*) AS c
         |       FROM tok GROUP BY 1, 2),
         |xs AS (SELECT bc.doc_id, base.n,
         |              list(struct_pack(b := bc.b, c := bc.c) ORDER BY bc.b) AS ps
         |       FROM bc JOIN base USING (doc_id) GROUP BY bc.doc_id, base.n),
         |-- [bias product] ++ ascending-bucket SPARSE fold == the Spark
         |-- side's dense ascending fold over [w₀·1, w₁·x₁, …]: the
         |-- skipped terms are w·0 products, which never change an IEEE
         |-- accumulator's value (only, at most, the sign of a zero)
         |sc AS (SELECT xs.doc_id,
         |              list_reduce(
         |                [wv[1] * 1.0] || list_transform(xs.ps,
         |                  p -> wv[p.b + 2] * (p.c::DOUBLE / xs.n::DOUBLE * $scale)),
         |                (a, b) -> a + b) AS z
         |       FROM xs, w)""".stripMargin
    Map(
    // the composed target-domain selection: quality filter (z ≥ 0) →
    // DSIR retrained over the kept subset → md5 hash split
    "e2e_quality_dsir_select" ->
      s"""WITH $scoringCtes,
         |kept AS (SELECT doc_id FROM sc WHERE z >= 0),
         |td AS (SELECT d.doc_id, d.lang,
         |              list_filter(string_split(d.text, ' '), x -> x <> '') AS toks
         |       FROM documents d JOIN kept USING (doc_id)),
         |tr AS (SELECT doc_id, lang, toks[i - 1] || ' ' || toks[i] AS bg
         |       FROM td, unnest(range(2, len(toks) + 1)) AS u(i)),
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
         |  FROM wts),
         |sel AS (SELECT doc_id, w_q6, g_q6 FROM g ORDER BY g_q6 DESC, doc_id LIMIT 100)
         |SELECT CAST(row_number() OVER (ORDER BY g_q6 DESC, doc_id) AS INT) AS rank,
         |       doc_id, w_q6, g_q6,
         |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
         |      FROM sel)
         |ORDER BY rank""".stripMargin,

    "x12_lr_quality" ->
      s"""WITH $scoringCtes,
         |lab AS (SELECT doc_id,
         |               CASE WHEN len(list_filter(ws, t -> t IN ($stopList)))::DOUBLE
         |                         / n::DOUBLE >= $thr THEN 1 ELSE 0 END AS label
         |        FROM base)
         |SELECT sc.doc_id, CAST(lab.label AS INT) AS label,
         |       CAST(floor(sc.z * 1000000.0 + 0.5) AS BIGINT) AS z_q6,
         |       floor(1.0 / (1.0 + exp(-sc.z)) * 10000.0 + 0.5) / 10000.0 AS score,
         |       sc.z >= 0 AS pred
         |FROM sc JOIN lab USING (doc_id) ORDER BY sc.doc_id""".stripMargin,

    // operating-point sweep over the same scores/labels: exact integer
    // confusion counts per q6 threshold; P/R/F1 are single IEEE
    // divisions from those integers, round4'd identically
    "q_lr_pr_curve" ->
      s"""WITH $scoringCtes,
         |lab AS (SELECT doc_id,
         |               CASE WHEN len(list_filter(ws, t -> t IN ($stopList)))::DOUBLE
         |                         / n::DOUBLE >= $thr THEN 1 ELSE 0 END AS label
         |        FROM base),
         |scored AS (SELECT lab.label, CAST(floor(sc.z * 1000000.0 + 0.5) AS BIGINT) AS z_q6
         |           FROM sc JOIN lab USING (doc_id)),
         |thr AS (SELECT CAST(unnest([-2000000, -1000000, -500000, 0, 500000, 1000000, 2000000]) AS BIGINT) AS thr_q6),
         |cells AS (
         |  SELECT thr_q6,
         |    CAST(sum(CASE WHEN z_q6 >= thr_q6 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN z_q6 >= thr_q6 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN z_q6 < thr_q6 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN z_q6 < thr_q6 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored, thr GROUP BY thr_q6)
         |SELECT thr_q6, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE floor(tp::DOUBLE / (tp + fp)::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS prec4,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE floor(tp::DOUBLE / (tp + fn)::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS rec4,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE floor(2.0 * tp::DOUBLE / (2 * tp + fp + fn)::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS f14
         |FROM cells ORDER BY thr_q6""".stripMargin)
  }

  /** k-center coreset oracle over the selection the gate exported to
    * `path`: for every rank r ≥ 1, DuckDB recomputes ALL
    * vectors' min squared L2 to the export's ranks < r (raw embeddings,
    * same ascending-dimension fold as [[graft.operators.Similarity.dist2]])
    * and takes the (max dist², min id) winner — an independent inductive
    * re-derivation of each greedy step; rank 0 is pinned to the minimum
    * id. A hash match proves the whole selection. */
  private[graft] def kCenterOracleSql(path: String): Map[String, String] =
    Map("q_coreset_select" ->
        s"""WITH sel AS (SELECT rank, vec_id FROM read_parquet('$path')),
           |e AS (SELECT vec_id, embedding FROM embeddings),
           |d AS (
           |  SELECT s.rank AS srank, x.vec_id,
           |    list_reduce(list_transform(range(1, 65),
           |      i -> (CAST(x.embedding[i] AS DOUBLE) - CAST(se.embedding[i] AS DOUBLE))
           |           * (CAST(x.embedding[i] AS DOUBLE) - CAST(se.embedding[i] AS DOUBLE))),
           |      (a, b) -> a + b) AS d2
           |  FROM sel s JOIN e se ON s.vec_id = se.vec_id CROSS JOIN e x),
           |md AS (
           |  SELECT r.rank, d.vec_id, min(d.d2) AS mind2
           |  FROM (SELECT rank FROM sel WHERE rank >= 1) r
           |  JOIN d ON d.srank < r.rank
           |  GROUP BY r.rank, d.vec_id),
           |win AS (
           |  SELECT rank, vec_id, mind2,
           |         row_number() OVER (PARTITION BY rank ORDER BY mind2 DESC, vec_id) AS rn
           |  FROM md)
           |SELECT CAST(0 AS INT) AS rank, (SELECT min(vec_id) FROM e) AS vec_id,
           |       0.0 AS dist2
           |UNION ALL
           |SELECT CAST(rank AS INT) AS rank, vec_id,
           |       floor(mind2 * 10000.0 + 0.5) / 10000.0 AS dist2
           |FROM win WHERE rn = 1
           |ORDER BY rank""".stripMargin)

  /** Bradley–Terry oracles over the ratings the gate exported to `path`:
    * DuckDB re-derives every comparison (same window
    * lag, same value/tie rules over the same doubles), re-aggregates wins
    * and losses per item, and joins the exported trained rating — so the
    * hash gate proves the full derivation path while the MM training
    * itself is pinned by PreferenceSpec's closed-form tests. */
  private[graft] def btOracleSql(path: String): Map[String, String] =
    Map("q_bt_ratings" ->
        s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us,
           |                  event_type, value FROM events),
           |p AS (SELECT user_id, event_type AS item, value,
           |        lag(event_type) OVER w AS prev_item,
           |        lag(value) OVER w AS prev_value
           |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
           |c AS (SELECT CASE WHEN value > prev_value THEN item
           |                  WHEN value < prev_value THEN prev_item
           |                  ELSE least(item, prev_item) END AS winner,
           |             CASE WHEN value > prev_value THEN prev_item
           |                  WHEN value < prev_value THEN item
           |                  ELSE greatest(item, prev_item) END AS loser
           |      FROM p WHERE prev_item IS NOT NULL AND prev_item <> item),
           |m AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
           |w AS (SELECT winner AS item, CAST(sum(n) AS BIGINT) AS wins FROM m GROUP BY 1),
           |l AS (SELECT loser AS item, CAST(sum(n) AS BIGINT) AS losses FROM m GROUP BY 1),
           |r AS (SELECT item, rating FROM read_parquet('$path'))
           |SELECT r.item,
           |       COALESCE(w.wins, 0) AS wins,
           |       COALESCE(l.losses, 0) AS losses,
           |       COALESCE(w.wins, 0) + COALESCE(l.losses, 0) AS n_comparisons,
           |       floor(r.rating * 10000.0 + 0.5) / 10000.0 AS rating
           |FROM r LEFT JOIN w USING (item) LEFT JOIN l USING (item)
           |ORDER BY item""".stripMargin,
      // the pair table: same comparison CTE chain, ratings joined twice
      // from the same export, identical IEEE op order on the annotations
      "q_preference_pairs" ->
        s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us,
           |                  event_type, value FROM events),
           |p AS (SELECT user_id, event_type AS item, value,
           |        lag(event_type) OVER w AS prev_item,
           |        lag(value) OVER w AS prev_value
           |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
           |c AS (SELECT CASE WHEN value > prev_value THEN item
           |                  WHEN value < prev_value THEN prev_item
           |                  ELSE least(item, prev_item) END AS winner,
           |             CASE WHEN value > prev_value THEN prev_item
           |                  WHEN value < prev_value THEN item
           |                  ELSE greatest(item, prev_item) END AS loser
           |      FROM p WHERE prev_item IS NOT NULL AND prev_item <> item),
           |m AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
           |r AS (SELECT item, rating FROM read_parquet('$path'))
           |SELECT m.winner, m.loser, m.n AS n_comparisons,
           |       floor(rw.rating / (rw.rating + rl.rating) * 10000.0 + 0.5) / 10000.0 AS p_win_expected,
           |       floor((rw.rating - rl.rating) * 10000.0 + 0.5) / 10000.0 AS rating_margin
           |FROM m JOIN r rw ON m.winner = rw.item JOIN r rl ON m.loser = rl.item
           |ORDER BY winner, loser""".stripMargin)

  /** The BPE pre-tokenizer pattern as a SQL string literal body. */
  private val p = TextOps.BpePretokenPattern.replace("'", "''")

  /** Tokenization oracles over the x13 BPE model exported to `path`:
    * DuckDB re-derives every document's pre-tokens with the SAME
    * RE2-compatible pattern the Spark side used (the x6 parity trick) and
    * replays the token count by joining the exported (word, n_tokens)
    * parquet — so a hash match proves the trained model covers the corpus
    * vocabulary and the apply path agrees with it. DuckDB's sum(BIGINT)
    * widens to HUGEINT, hence the explicit casts. */
  private[graft] def bpeOracleSql(path: String): Map[String, String] = Map(
      "x13_bpe_train" ->
        s"""WITH w AS (
           |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$p')) AS word
           |  FROM documents),
           |m AS (SELECT word, n_tokens FROM read_parquet('$path'))
           |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
           |       CAST(sum(m.n_tokens) AS BIGINT) AS n_bpe_tokens
           |FROM w JOIN m USING (word)
           |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,

      // per-source fertility from the same exported model: identical
      // pre-tokenizer + model join, aggregates at source cardinality;
      // the ratios use the round4 fixed-point formula (floor(x·10⁴+0.5))
      // both engines compute with the same IEEE ops
      "q_tokenizer_fertility" ->
        s"""WITH w AS (
           |  SELECT source, unnest(regexp_extract_all(lower(text), '$p')) AS word
           |  FROM documents),
           |m AS (SELECT word, n_tokens FROM read_parquet('$path')),
           |a AS (SELECT w.source,
           |             CAST(sum(m.n_tokens) AS BIGINT) AS n_bpe_tokens,
           |             CAST(sum(length(w.word)) AS BIGINT) AS n_pretoken_chars,
           |             CAST(count(*) AS BIGINT) AS n_pretokens
           |      FROM w JOIN m USING (word) GROUP BY w.source)
           |SELECT source, n_bpe_tokens, n_pretoken_chars, n_pretokens,
           |       floor(n_bpe_tokens::DOUBLE / n_pretokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS fertility,
           |       floor(n_pretoken_chars::DOUBLE / n_bpe_tokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS chars_per_token
           |FROM a ORDER BY source""".stripMargin,

      // the trained-token vocabulary replayed from the same exported
      // model: token frequency = Σ word freq × multiplicity (unnest the
      // per-word token arrays), then the q_vocab_coverage prefix rule
      // (exclusive running sum, all-integer 95% ceiling) over learned
      // tokens instead of whitespace words
      "e2e_tokenizer_vocab" ->
        s"""WITH tok AS (
           |  SELECT unnest(tokens) AS token, freq
           |  FROM read_parquet('$path')),
           |c AS (SELECT token, CAST(sum(freq) AS BIGINT) AS cnt FROM tok GROUP BY token),
           |p AS (SELECT token, cnt,
           |             CAST(COALESCE(sum(cnt) OVER (ORDER BY cnt DESC, token
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           |      FROM c),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
           |SELECT token, cnt, cum_before FROM p, t
           |WHERE cum_before < (95 * total + 99) // 100
           |ORDER BY cnt DESC, token""".stripMargin)

  /** Held-out OOV replay over the split-trained BPE model exported to
    * `path`: same pre-tokenizer, LEFT join so unseen words count as misses;
    * the OOV fraction uses the shared round4 fixed-point formula. */
  private[graft] def oovOracleSql(path: String): Map[String, String] = Map(
    "q_tokenizer_oov" ->
        s"""WITH w AS (
           |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$p')) AS word
           |  FROM documents WHERE doc_id % 5 = 0),
           |m AS (SELECT word, n_tokens FROM read_parquet('$path')),
           |a AS (SELECT w.doc_id,
           |             CAST(count(*) AS BIGINT) AS n_pretokens,
           |             CAST(count(CASE WHEN m.n_tokens IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           |             CAST(COALESCE(sum(m.n_tokens), 0) AS BIGINT) AS n_invocab_tokens
           |      FROM w LEFT JOIN m USING (word) GROUP BY w.doc_id)
           |SELECT doc_id, n_pretokens, n_oov, n_invocab_tokens,
           |       floor(n_oov::DOUBLE / n_pretokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS oov_frac
           |FROM a ORDER BY doc_id""".stripMargin)

  /** The unigram gate's replay over the x21 model exported to `path`: the
    * SAME pre-tokenizer and model join as x13's (shared schema by
    * design). */
  private[graft] def unigramOracleSql(path: String): Map[String, String] = Map(
    "x21_unigram_train" ->
        s"""WITH w AS (
           |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$p')) AS word
           |  FROM documents),
           |m AS (SELECT word, n_tokens FROM read_parquet('$path'))
           |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
           |       CAST(sum(m.n_tokens) AS BIGINT) AS n_unigram_tokens
           |FROM w JOIN m USING (word)
           |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin)

  /** The side-by-side replay over BOTH exports (BPE at `bpePath`, unigram
    * at `uniPath`): one pre-token unnest, both model joins, per-source sums
    * and the shared round4 ratios. */
  private[graft] def tokenizerCompareOracleSql(bpePath: String,
      uniPath: String): Map[String, String] = Map(
    "q_tokenizer_compare" ->
        s"""WITH w AS (
           |  SELECT source, unnest(regexp_extract_all(lower(text), '$p')) AS word
           |  FROM documents),
           |mb AS (SELECT word, n_tokens AS bpe FROM read_parquet('$bpePath')),
           |mu AS (SELECT word, n_tokens AS uni FROM read_parquet('$uniPath')),
           |a AS (SELECT w.source, CAST(count(*) AS BIGINT) AS n_pretokens,
           |             CAST(sum(mb.bpe) AS BIGINT) AS n_bpe_tokens,
           |             CAST(sum(mu.uni) AS BIGINT) AS n_unigram_tokens
           |      FROM w JOIN mb USING (word) JOIN mu USING (word)
           |      GROUP BY w.source)
           |SELECT source, n_pretokens, n_bpe_tokens, n_unigram_tokens,
           |       floor(n_bpe_tokens::DOUBLE / n_pretokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS bpe_fertility,
           |       floor(n_unigram_tokens::DOUBLE / n_pretokens::DOUBLE * 10000.0 + 0.5) / 10000.0 AS unigram_fertility
           |FROM a ORDER BY source""".stripMargin)

  /** Size-selection curve over the (word, k, n_tokens) grid exported to
    * `path`: corpus words re-derived with the same pre-tokenizer,
    * aggregated at vocab cardinality, joined against the grid — a hash
    * match proves corpus coverage and the per-budget aggregation; the
    * segmentation itself is pinned by BpeTrainSpec's prefix-stability
    * test. */
  private[graft] def sizeCurveOracleSql(path: String): Map[String, String] = Map(
    "q_tokenizer_size_curve" ->
        s"""WITH w AS (
           |  SELECT unnest(regexp_extract_all(lower(text), '$p')) AS word FROM documents),
           |c AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1),
           |m AS (SELECT word, k, n_tokens FROM read_parquet('$path'))
           |SELECT m.k, CAST(count(*) AS BIGINT) AS n_words,
           |       CAST(sum(c.c) AS BIGINT) AS n_pretokens,
           |       CAST(sum(c.c * m.n_tokens) AS BIGINT) AS total_tokens,
           |       floor(sum(c.c * m.n_tokens)::DOUBLE / sum(c.c)::DOUBLE * 10000.0 + 0.5) / 10000.0 AS fertility
           |FROM c JOIN m USING (word) GROUP BY m.k ORDER BY k""".stripMargin)

  /** Frequency-ranking oracle over the s3 gate's generator output
    * materialized at `path`: DuckDB reads the exact parquet the Spark
    * aggregation read, so the hash compare checks the
    * groupBy/ordering/limit semantics — the generator's distribution is
    * separately golden-pinned in SyntheticSourceSpec. */
  private[graft] def s3OracleSql(path: String): Map[String, String] = Map(
    "s3_zipf_freq" ->
      s"""SELECT "key", cnt FROM (
         |  SELECT "key", count(*) AS cnt
         |  FROM read_parquet('$path')
         |  GROUP BY "key" ORDER BY cnt DESC, "key" LIMIT 50)
         |ORDER BY cnt DESC, "key"""".stripMargin)
}

package graft
package oracle

import graft.queries.CoreQueries.{BoundC, ClampL, MuGate, RangeWindowUs, SessionGapUs}
import graft.operators._

/** Oracles of the paper pipeline and the relational core. */
private[oracle] object CoreOracles {

  def sql: Map[String, String] = Map(

    // lower() mirrors CoreOps.tokenize — the generated docs are all-lowercase,
    // but the oracle must agree on mixed-case inputs too
    "p1_tokenize_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,

    "p3_clamp_histogram" ->
      s"""SELECT event_type, round(sum(greatest(-$ClampL, least($ClampL, value))), 2) AS clamped_sum
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "p4_routing_hash" ->
      """SELECT DISTINCT event_type, sha256('word:' || event_type) AS routing_key
        |FROM events ORDER BY event_type""".stripMargin,

    "p5_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS cnt
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "b1_bounding_histogram" ->
      s"""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS value_sum
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events)
         |WHERE rn <= $BoundC GROUP BY event_type ORDER BY event_type""".stripMargin,

    "b1_bounding_sweep_c10" ->
      """SELECT event_type, count(*) AS cnt,
        |       round(sum(greatest(0.0, least(50.0, value))), 2) AS clamped_sum
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events)
        |WHERE rn <= 10 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "b1_user_admitted_counts" ->
      s"""SELECT user_id, least(count(*), $BoundC) AS admitted
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a2_preagg" ->
      """SELECT event_type AS key, CAST(EXTRACT(day FROM ts) AS BIGINT) AS epoch,
        |       round(sum(value), 2) AS delta_v, count(DISTINCT user_id) AS unique_users
        |FROM events GROUP BY key, epoch ORDER BY key, epoch""".stripMargin,

    "a6_unique_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS unique_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dp_sigma0_mu0_histogram" ->
      s"""WITH bounded AS (
         |  SELECT event_type, greatest(-$ClampL, least($ClampL, value)) AS v
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events)
         |  WHERE rn <= $BoundC)
         |-- floor(x+0.5) == java Math.round: DuckDB round() is half-AWAY-FROM-ZERO,
         |-- which differs from the mechanism's math.round on negative .5 sums
         |SELECT event_type AS key, CAST(floor(sum(v) + 0.5) AS BIGINT) AS "count"
         |FROM bounded GROUP BY key ORDER BY "count" DESC, key""".stripMargin,

    "dp_sigma0_mu_gate" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS key, count(*) AS "count"
         |FROM events GROUP BY key HAVING count(DISTINCT user_id) >= $MuGate
         |ORDER BY "count" DESC, key""".stripMargin,

    "dp_carryforward_timeline" ->
      """WITH pre AS (
        |  SELECT event_type AS key, CAST(EXTRACT(day FROM ts) AS BIGINT) AS epoch, sum(value) AS delta_v
        |  FROM events GROUP BY key, epoch)
        |SELECT epoch, key, round(sum(delta_v) OVER (PARTITION BY key ORDER BY epoch), 2) AS cum_sum
        |FROM pre ORDER BY epoch, key""".stripMargin,

    "dp_timeline_releases" ->
      """WITH pre AS (
        |  SELECT event_type AS key, CAST(EXTRACT(day FROM ts) AS BIGINT) AS epoch, count(*) AS delta_v
        |  FROM events GROUP BY key, epoch)
        |SELECT CAST(epoch AS INT) AS epoch, key,
        |       CAST(sum(delta_v) OVER (PARTITION BY key ORDER BY epoch) AS BIGINT) AS "count"
        |FROM pre ORDER BY epoch, key""".stripMargin,

    "m3_partial_merge" ->
      """WITH partials AS (
        |  SELECT event_type AS key, user_id % 4 AS shard, count(*) AS pc
        |  FROM events GROUP BY key, shard)
        |SELECT key, CAST(sum(pc) AS BIGINT) AS "count" FROM partials GROUP BY key ORDER BY key""".stripMargin,

    "t2_topk_words" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,

    "utility_metrics" ->
      s"""WITH bounded AS (
         |  SELECT event_type AS key, CAST(floor(sum(greatest(-$ClampL, least($ClampL, value))) + 0.5) AS BIGINT) AS c
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events)
         |  WHERE rn <= $BoundC GROUP BY event_type),
         |truth AS (
         |  SELECT event_type AS key, CAST(floor(sum(value) + 0.5) AS BIGINT) AS c
         |  FROM events GROUP BY event_type),
         |j AS (
         |  SELECT coalesce(CAST(bounded.c AS DOUBLE), 0.0) AS d, coalesce(CAST(truth.c AS DOUBLE), 0.0) AS g
         |  FROM bounded FULL OUTER JOIN truth ON bounded.key = truth.key)
         |SELECT CAST(sum(CASE WHEN d <> 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS l0,
         |       round(max(abs(d - g)), 2) AS linf,
         |       round(sum(abs(d - g)), 2) AS l1,
         |       round(sqrt(sum((d - g) * (d - g))), 4) AS l2
         |FROM j""".stripMargin,

    "q_tpch1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_mktsegment_revenue" ->
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_semi_anti_counts" ->
      """SELECT CAST(sum(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
        |       CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS without_orders
        |FROM customer c LEFT OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "q_window_running_qty" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |         PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_partkey) AS DOUBLE) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,

    "q_rollup_order_priority" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, o_orderpriority,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(yr, o_orderpriority)
        |ORDER BY yr ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_salted_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS unique_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_capped_sample" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS r
        |  FROM events) WHERE r <= 5 ORDER BY user_id, event_id""".stripMargin,

    "q_hash_split" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS cnt
        |FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |      FROM documents)
        |GROUP BY 1 ORDER BY split""".stripMargin,

    "q_value_percentiles" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.25) AS p25,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j3_overlap_intervals" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS ts_us FROM events),
        |c AS (SELECT event_id AS c_event_id, user_id, ts_us AS c_start,
        |             ts_us + 21600000000 AS c_end FROM e WHERE event_type = 'click'),
        |r AS (SELECT event_id AS e_event_id, user_id, ts_us AS e_start,
        |             ts_us + 10800000000 AS e_end FROM e WHERE event_type = 'error')
        |SELECT c.user_id AS user_id, c_event_id, e_event_id
        |FROM c JOIN r ON c.user_id = r.user_id
        |              AND c_start < e_end AND e_start < c_end
        |ORDER BY c.user_id, c_event_id, e_event_id""".stripMargin,

    "q_rolling_user_stats" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us, value FROM events)
        |SELECT event_id, user_id, ts_us,
        |       lag(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_value,
        |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last3,
        |       min(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min_last3,
        |       max(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS max_last3
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_pivot_event_features" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |       count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |       count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |       sum(value) FILTER (WHERE event_type = 'purchase') AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_global_index" ->
      """SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // A-ES keys replayed: the same md5 hash-to-unit draw, ln(u)/w ranking
    // (monotone in u^(1/w)), q6-fixed for a total order on longs
    "q_weighted_sample" ->
      """WITH keys AS (
        |  SELECT doc_id, n_chars AS weight,
        |         CAST(floor(ln((('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT::DOUBLE + 0.5)
        |                        / 4503599627370496.0)
        |                    / n_chars::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS key_q6
        |  FROM documents WHERE n_chars > 0)
        |SELECT CAST(row_number() OVER (ORDER BY key_q6 DESC, doc_id) AS INT) AS rank,
        |       doc_id, CAST(weight AS BIGINT) AS weight, key_q6
        |FROM keys ORDER BY key_q6 DESC, doc_id LIMIT 100""".stripMargin,

    // α=½ temperature allocation: q6-fixed √counts summed as integers,
    // n_i = (N·a_i) // Σa in exact integer arithmetic, then the shared
    // md5-rank fills each source's slots
    "q_temperature_mix" ->
      """WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
        |m AS (SELECT source,
        |             CAST(floor(sqrt(c::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS a FROM counts),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS b FROM m),
        |alloc AS (SELECT source, CAST((200 * a) // b AS BIGINT) AS n_alloc FROM m, tot),
        |ranked AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents)
        |SELECT r.source, r.doc_id, a.n_alloc
        |FROM ranked r JOIN alloc a USING (source)
        |WHERE r.r <= a.n_alloc ORDER BY source, doc_id""".stripMargin,

    // all four round-11 stages replayed: d20's block dedup (clean_text
    // reassembled), x15's interpolated-KN model RETRAINED on the cleaned
    // corpus, the quantized-histogram lower-median gate on the negated
    // round4 NLL, and the capped-mix rounds over the kept counts
    "e2e_block_kn_mix" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n0 AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 16.0) AS BIGINT) AS nb FROM t0),
        |b0 AS (SELECT doc_id, i AS bi,
        |              md5(array_to_string(toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')) AS h
        |       FROM n0, unnest(range(0, nb)) AS u(i)),
        |w0 AS (SELECT h, doc_id AS wd, bi AS wb FROM (
        |         SELECT h, doc_id, bi,
        |                row_number() OVER (PARTITION BY h ORDER BY doc_id, bi) AS rn
        |         FROM b0) WHERE rn = 1),
        |drp AS (SELECT b0.doc_id, b0.bi FROM b0 JOIN w0 USING (h)
        |        WHERE NOT (b0.doc_id = w0.wd AND b0.bi = w0.wb)),
        |da AS (SELECT doc_id, list(bi ORDER BY bi) AS drops FROM drp GROUP BY doc_id),
        |cleaned AS (
        |  SELECT n0.doc_id, d.lang,
        |         COALESCE(array_to_string(flatten(list_transform(
        |           list_filter(range(0, n0.nb), i -> NOT list_contains(COALESCE(da.drops, []), i)),
        |           i -> toks[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)])), ' '), '') AS clean_text
        |  FROM n0 LEFT JOIN da USING (doc_id) JOIN documents d USING (doc_id)),
        |t AS (SELECT doc_id, lang, clean_text,
        |             list_filter(string_split(clean_text, ' '), x -> x <> '') AS toks
        |      FROM cleaned),
        |trans AS (SELECT doc_id, toks[i - 1] AS v, toks[i] AS w
        |          FROM t, unnest(range(2, len(toks) + 1)) AS u(i)),
        |bigram AS (SELECT v, w, count(*) AS c_vw FROM trans GROUP BY v, w),
        |ctx AS (SELECT v, count(*) AS c_v, count(DISTINCT w) AS n1_v FROM trans GROUP BY v),
        |cont AS (SELECT w, count(DISTINCT v) AS n1_w FROM trans GROUP BY w),
        |bt AS (SELECT count(*)::DOUBLE AS btypes FROM bigram),
        |sc0 AS (
        |  SELECT trans.doc_id,
        |         CAST(floor(-ln((c_vw::DOUBLE - 0.75) / c_v::DOUBLE
        |                        + (0.75 * n1_v::DOUBLE / c_v::DOUBLE)
        |                          * (n1_w::DOUBLE / btypes))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS nll_q6
        |  FROM trans JOIN bigram USING (v, w) JOIN ctx USING (v) JOIN cont USING (w), bt),
        |scored AS (
        |  SELECT doc_id,
        |         -(floor(sum(nll_q6)::DOUBLE / 1000000.0 / count(*)::DOUBLE * 10000.0 + 0.5) / 10000.0) AS pred
        |  FROM sc0 GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, t.lang, s.pred, t.clean_text FROM scored s JOIN t USING (doc_id)),
        |h1 AS (SELECT lang, pred, count(*) AS c FROM sl GROUP BY 1, 2),
        |cw AS (SELECT lang, pred,
        |              sum(c) OVER (PARTITION BY lang ORDER BY pred) AS cum,
        |              sum(c) OVER (PARTITION BY lang) AS tot FROM h1),
        |thr AS (SELECT lang, min(pred) AS p_thr FROM cw
        |        WHERE cum >= (tot + 1) // 2 GROUP BY lang),
        |kept AS (SELECT sl.* FROM sl JOIN thr USING (lang) WHERE sl.pred >= thr.p_thr),
        |counts AS (SELECT lang, count(*) AS c FROM kept GROUP BY lang),
        |m AS (SELECT lang,
        |             CAST(floor(sqrt(c::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS a FROM counts),
        |t1 AS (SELECT CAST(sum(a) AS BIGINT) AS w FROM m),
        |a1 AS (SELECT lang, a, CAST((100 * a) // w AS BIGINT) AS n1 FROM m, t1),
        |over1 AS (SELECT lang, CAST(25 AS BIGINT) AS n_alloc FROM a1 WHERE n1 > 25),
        |rem1 AS (SELECT lang, a FROM a1 WHERE n1 <= 25),
        |b2 AS (SELECT 100 - 25 * (SELECT count(*) FROM over1) AS b),
        |t2 AS (SELECT CAST(sum(a) AS BIGINT) AS w FROM rem1),
        |a2 AS (SELECT lang, CAST(LEAST((b2.b * a) // t2.w, 25) AS BIGINT) AS n_alloc
        |       FROM rem1, t2, b2),
        |alloc AS (SELECT lang, n_alloc FROM over1 UNION ALL SELECT lang, n_alloc FROM a2),
        |ranked AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM kept)
        |SELECT r.lang, r.doc_id, al.n_alloc, k.pred, md5(k.clean_text) AS clean_md5
        |FROM ranked r JOIN alloc al USING (lang) JOIN kept k ON k.doc_id = r.doc_id
        |WHERE r.r <= al.n_alloc ORDER BY r.lang, r.doc_id""".stripMargin,

    // the capping loop unrolled: round 1 allocates over all languages and
    // caps the over-cap groups at 50 (= 200·25%); round 2 reallocates the
    // reduced budget over the remainder (LEAST guards the general rule;
    // convergence in 2 rounds verified at both sf scales)
    "q_capped_mix" ->
      """WITH counts AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |m AS (SELECT lang,
        |             CAST(floor(sqrt(c::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS a FROM counts),
        |t1 AS (SELECT CAST(sum(a) AS BIGINT) AS w FROM m),
        |a1 AS (SELECT lang, a, CAST((200 * a) // w AS BIGINT) AS n1 FROM m, t1),
        |over1 AS (SELECT lang, CAST(50 AS BIGINT) AS n_alloc FROM a1 WHERE n1 > 50),
        |rem1 AS (SELECT lang, a FROM a1 WHERE n1 <= 50),
        |b2 AS (SELECT 200 - 50 * (SELECT count(*) FROM over1) AS b),
        |t2 AS (SELECT CAST(sum(a) AS BIGINT) AS w FROM rem1),
        |a2 AS (SELECT lang, CAST(LEAST((b2.b * a) // t2.w, 50) AS BIGINT) AS n_alloc
        |       FROM rem1, t2, b2),
        |alloc AS (SELECT lang, n_alloc FROM over1 UNION ALL SELECT lang, n_alloc FROM a2),
        |ranked AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents)
        |SELECT r.lang, r.doc_id, al.n_alloc
        |FROM ranked r JOIN alloc al USING (lang)
        |WHERE r.r <= al.n_alloc ORDER BY lang, doc_id""".stripMargin,

    "q_upsert" ->
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'updated-' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 7 = 0)
        |ORDER BY doc_id""".stripMargin,

    // same md5 draw into the row_number index space, same exclusions
    "q_negative_pairs" ->
      """WITH idxd AS (
        |  SELECT vec_id AS neg_id,
        |         row_number() OVER (ORDER BY vec_id) - 1 AS idx
        |  FROM embeddings),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |cand AS (
        |  SELECT q.vec_id AS query_id, s.slot,
        |         ('0x' || substr(md5(CAST(q.vec_id AS VARCHAR) || ':' || CAST(s.slot AS VARCHAR)), 1, 8))::BIGINT % n.n AS idx
        |  FROM embeddings q, range(0, 8) s(slot), n WHERE q.vec_id < 10),
        |pos AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neg_id
        |  FROM embeddings q JOIN embeddings e ON q.label = e.label
        |  WHERE q.vec_id < 10)
        |SELECT c.query_id, c.slot, i.neg_id
        |FROM cand c JOIN idxd i USING (idx)
        |WHERE i.neg_id <> c.query_id
        |  AND NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.query_id = c.query_id AND p.neg_id = i.neg_id)
        |ORDER BY query_id, slot, neg_id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT lang, count(*) AS cnt FROM documents
        |WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |      < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // exact interpolated percentiles (quantile_cont == Spark percentile,
    // the equivalence q_value_percentiles pins); min/max of identically
    // clamped doubles are bit-exact, no rounding needed
    "q_winsorize" ->
      """WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |                  quantile_cont(value, 0.95) AS hi
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS cnt,
        |       min(greatest(b.lo, least(b.hi, e.value))) AS min_v,
        |       max(greatest(b.lo, least(b.hi, e.value))) AS max_v
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    // range-normalized exactly like normalizedZValue: integer rescale to the
    // 16-bit code range (// == Spark's DIV on non-negative longs), then the
    // same bit interleave; a degenerate (constant) dimension maps to code 0
    // exactly as normalizedZValue's mx==mn branch does
    "q_zorder_keys" ->
      s"""WITH mm AS (SELECT min(l_orderkey) AS mno, max(l_orderkey) AS mxo,
         |                   min(l_partkey) AS mnp, max(l_partkey) AS mxp FROM lineitem),
         |s AS (SELECT l_orderkey, l_partkey,
         |             CASE WHEN mxo = mno THEN 0
         |                  ELSE ((l_orderkey - mno) * 65535) // (mxo - mno) END AS so,
         |             CASE WHEN mxp = mnp THEN 0
         |                  ELSE ((l_partkey - mnp) * 65535) // (mxp - mnp) END AS sp
         |      FROM lineitem, mm)
         |SELECT l_orderkey, l_partkey, ${operators.ZOrder.zValueSql(Seq("so", "sp"), 16)} AS z
         |FROM s ORDER BY l_orderkey, l_partkey, z""".stripMargin,

    "s4_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us FROM events),
         |x AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
         |y AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > $SessionGapUs THEN 1 ELSE 0 END AS nw FROM x),
         |z AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y)
         |SELECT user_id, session_id, min(ts_us) AS session_start,
         |       max(ts_us) AS session_end, count(*) AS n_events
         |FROM z GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // epoch_ns(ts)//1000 == Spark's `ts_ns div 1000` (exact integer µs)
    "j1_asof_click_purchase" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_ns(ts)//1000 AS p_ts_us,
        |         event_id AS p_event_id, value AS p_value
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_ns(ts)//1000
        |                             ORDER BY event_id DESC) = 1
        |)
        |SELECT c.event_id, c.user_id, c.ts_us, p.p_event_id, p.p_ts_us, p.p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.p_ts_us
        |ORDER BY c.event_id""".stripMargin,

    "j2_range_clicks_near_error" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us, event_type FROM events),
         |err AS (SELECT event_id AS err_id, user_id, ts_us AS start_us FROM e WHERE event_type = 'error'),
         |c AS (SELECT user_id, ts_us FROM e WHERE event_type = 'click')
         |SELECT err.err_id, err.user_id, err.start_us, count(c.ts_us) AS n_clicks
         |FROM err LEFT JOIN c ON c.user_id = err.user_id
         |  AND c.ts_us >= err.start_us AND c.ts_us < err.start_us + $RangeWindowUs
         |GROUP BY 1, 2, 3
         |ORDER BY err.err_id""".stripMargin,

    "q_pushdown_filtered_agg" ->
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
        |       CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS mo,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,

    // identity-through-crypto: plaintext word count IS the oracle (see query doc)
    "p6_confidential_wordcount" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,

    "p7_route_validation" ->
      """SELECT count(*) AS valid_route, CAST(0 AS BIGINT) AS invalid_route,
        |       CAST(0 AS BIGINT) AS wrong_stage FROM documents""".stripMargin,

    "p8_replay_filter" ->
      """SELECT 'p' || (doc_id % 4) AS producer, count(DISTINCT doc_id % 100) AS accepted
        |FROM documents GROUP BY producer ORDER BY producer""".stripMargin
  )
}

package graft
package oracle

import graft.queries.DedupQueries.JaccardMaxDf
import graft.queries.IndexQueries.CosineNearDupThreshold
import graft.queries.RetrievalQueries.{MarginK, TopK}
import graft.operators._
import SqlFragments._
import DedupOracles.DuckShingles

/** Oracles of the retrieval, embedding and multimodal family: BM25 and rank
  * fusion, exact and approximate nearest neighbours, quantised search and the
  * decoded-asset gates. */
private[oracle] object RetrievalOracles {

  def sql: Map[String, String] = Map(
    // constants spelled as the same ARITHMETIC the Scala side performs
    // ((1.2 + 1.0), (1.0 - 0.75)) so both engines round the identical
    // IEEE intermediate, not a re-parsed decimal
    "q_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM toks),
        |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM h GROUP BY doc_id, th),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |q AS (SELECT DISTINCT doc_id AS query_id, th FROM h WHERE doc_id % 50 = 0),
        |m AS (
        |  SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
        |  FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id
        |         JOIN dfreq ON q.th = dfreq.th, stats
        |  WHERE tf.doc_id <> q.query_id),
        |terms AS (
        |  SELECT query_id, doc_id,
        |    CAST(floor(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      ((tf::DOUBLE * (1.2 + 1.0)) /
        |       (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (total_dl::DOUBLE / n_docs::DOUBLE)))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS t_q6
        |  FROM m),
        |scored AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
        |ranked AS (
        |  SELECT query_id, doc_id, s_q6,
        |         row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       floor(s_q6::DOUBLE / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the BM25 stack at k=10, then graded relevance from distinct shared
    // words, the same spliced q6 discount literals as the Spark plan,
    // exact long gain×discount sums, ideal via the re-sorted gain window
    "q_ndcg_eval" -> {
      val disc = (1 to 10).map(i =>
        math.floor(1e6 / (StrictMath.log(i + 1.0) / StrictMath.log(2.0)) + 0.5).toLong)
      val discLit = disc.mkString("[", ", ", "]") + "::BIGINT[]"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM toks),
         |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM h GROUP BY doc_id, th),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
         |q AS (SELECT DISTINCT doc_id AS query_id, th FROM h WHERE doc_id % 50 = 0),
         |m AS (
         |  SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
         |  FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id
         |         JOIN dfreq ON q.th = dfreq.th, stats
         |  WHERE tf.doc_id <> q.query_id),
         |terms AS (
         |  SELECT query_id, doc_id,
         |    CAST(floor(
         |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |      ((tf::DOUBLE * (1.2 + 1.0)) /
         |       (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (total_dl::DOUBLE / n_docs::DOUBLE)))))
         |      * 1000000.0 + 0.5) AS BIGINT) AS t_q6
         |  FROM m),
         |scored AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
         |res AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rank
         |  FROM scored) WHERE rank <= 10),
         |dw AS (SELECT DISTINCT doc_id, term FROM toks),
         |qw AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id % 50 = 0),
         |sh AS (SELECT r.query_id, r.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |       FROM res r JOIN dw ON dw.doc_id = r.doc_id
         |                  JOIN qw ON qw.query_id = r.query_id AND qw.term = dw.term
         |       GROUP BY r.query_id, r.doc_id),
         |g AS (SELECT res.query_id, res.rank,
         |             (1::BIGINT << CAST(LEAST(7::BIGINT, COALESCE(sh.n_shared, 0) // 4) AS INTEGER)) - 1 AS gain
         |      FROM res LEFT JOIN sh ON sh.query_id = res.query_id AND sh.doc_id = res.doc_id),
         |i AS (SELECT query_id, rank, gain,
         |             row_number() OVER (PARTITION BY query_id ORDER BY gain DESC, rank) AS ipos
         |      FROM g),
         |d(disc) AS (SELECT $discLit),
         |agg AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_results,
         |               CAST(sum(gain * disc[rank]) AS BIGINT) AS dcg_q6,
         |               CAST(sum(gain * disc[ipos]) AS BIGINT) AS idcg_q6
         |        FROM i, d GROUP BY query_id)
         |SELECT query_id, n_results, dcg_q6, idcg_q6,
         |       CASE WHEN idcg_q6 = 0 THEN 0.0
         |            ELSE floor(dcg_q6::DOUBLE / idcg_q6::DOUBLE * 10000.0 + 0.5) / 10000.0 END AS ndcg
         |FROM agg ORDER BY query_id""".stripMargin
    },

    // the two retriever CTE stacks again, a RECURSIVE integer weight
    // CTE (w_d = (w_{d-1}*90) // 100 -- no pow()), and the depth rollup
    // in the same long op order as the Spark expression
    "q_rbo_overlap" ->
      """WITH RECURSIVE wts(d, w_q6) AS (SELECT 1, 1000000 UNION ALL SELECT d + 1, (w_q6 * 90) // 100 FROM wts WHERE d < 20),
        |corpus AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN (SELECT DISTINCT vec_id FROM embeddings) e ON d.doc_id = e.vec_id),
        |toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM corpus),
        |h AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM toks),
        |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM h GROUP BY doc_id, th),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |q AS (SELECT DISTINCT doc_id AS query_id, th FROM h WHERE doc_id < 10),
        |m AS (SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
        |      FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id JOIN dfreq ON q.th = dfreq.th, stats
        |      WHERE tf.doc_id <> q.query_id),
        |terms AS (SELECT query_id, doc_id,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
        |    ((tf::DOUBLE * (1.2+1.0)) / (tf::DOUBLE + 1.2*((1.0-0.75) + 0.75*(dl::DOUBLE/(total_dl::DOUBLE/n_docs::DOUBLE))))) * 1000000.0 + 0.5) AS BIGINT) AS t_q6 FROM m),
        |lexsc AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
        |lex AS (SELECT query_id, doc_id, lrank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS lrank FROM lexsc) WHERE lrank <= 20),
        |qv AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |dsc AS (
        |  SELECT qv.query_id, e.vec_id,
        |    round(
        |      list_reduce(list_transform(range(1, 65), i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(qv.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
        |den AS (SELECT query_id, doc_id, drank FROM (
        |  SELECT query_id, vec_id AS doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS drank FROM dsc) WHERE drank <= 20),
        |shared AS (
        |  SELECT lex.query_id, greatest(lex.lrank, den.drank) AS m
        |  FROM lex JOIN den ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id),
        |xd AS (SELECT query_id, d, CAST(count(*) AS BIGINT) AS x FROM shared JOIN wts ON m <= d GROUP BY 1, 2),
        |qq AS (SELECT DISTINCT query_id FROM lex),
        |rterms AS (
        |  SELECT qq.query_id, wts.d, wts.w_q6, coalesce(xd.x, 0) AS x
        |  FROM qq CROSS JOIN wts LEFT JOIN xd ON qq.query_id = xd.query_id AND wts.d = xd.d)
        |SELECT query_id, CAST(sum((w_q6 * 10) // 100 * x // d) AS BIGINT) AS rbo_q6,
        |       floor(sum((w_q6 * 10) // 100 * x // d)::DOUBLE / 100.0 + 0.5) / 10000.0 AS rbo
        |FROM rterms GROUP BY query_id ORDER BY query_id""".stripMargin,

    // both retriever CTE stacks re-derived (bm25 over the intersection
    // corpus, d5's cosine scoring), fused via q6 reciprocal terms summed
    // as BIGINTs — same quantize-then-long-sum arithmetic as Spark
    "q_rrf_fusion" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN (SELECT DISTINCT vec_id FROM embeddings) e ON d.doc_id = e.vec_id),
        |toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM corpus),
        |h AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM toks),
        |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM h GROUP BY doc_id, th),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |q AS (SELECT DISTINCT doc_id AS query_id, th FROM h WHERE doc_id < 10),
        |m AS (SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
        |      FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id JOIN dfreq ON q.th = dfreq.th, stats
        |      WHERE tf.doc_id <> q.query_id),
        |terms AS (SELECT query_id, doc_id,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
        |    ((tf::DOUBLE * (1.2 + 1.0)) / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE/(total_dl::DOUBLE/n_docs::DOUBLE))))) * 1000000.0 + 0.5) AS BIGINT) AS t_q6 FROM m),
        |lexsc AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
        |lex AS (SELECT query_id, doc_id, lrank FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS lrank FROM lexsc) WHERE lrank <= 20),
        |qv AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |dsc AS (
        |  SELECT qv.query_id, e.vec_id,
        |    round(
        |      list_reduce(list_transform(range(1, 65), i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
        |      (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(qv.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
        |       sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
        |den AS (SELECT query_id, doc_id, drank FROM (
        |  SELECT query_id, vec_id AS doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS drank FROM dsc) WHERE drank <= 20),
        |fused AS (
        |  SELECT coalesce(lex.query_id, den.query_id) AS query_id,
        |         coalesce(lex.doc_id, den.doc_id) AS doc_id,
        |         lex.lrank, den.drank,
        |         coalesce(CAST(floor(1000000.0/(60.0 + lrank) + 0.5) AS BIGINT), 0) +
        |         coalesce(CAST(floor(1000000.0/(60.0 + drank) + 0.5) AS BIGINT), 0) AS f_q6
        |  FROM lex FULL OUTER JOIN den ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id),
        |ranked AS (SELECT query_id, doc_id, f_q6, lrank, drank,
        |  row_number() OVER (PARTITION BY query_id ORDER BY f_q6 DESC, doc_id) AS rank FROM fused)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |  floor(f_q6::DOUBLE/100.0 + 0.5)/10000.0 AS rrf_score,
        |  CAST(lrank AS BIGINT) AS lex_rank, CAST(drank AS BIGINT) AS dense_rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // bm25 stack over the disjoint corpus/eval split, then the n=8
    // window CTEs (the split-leakage form) restricted to candidate
    // pairs; left join keeps zero-shared candidates in the rollup
    "e2e_retrieval_decontam" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
        |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |ctoks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM corpus),
        |ch AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM ctoks),
        |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM ch GROUP BY doc_id, th),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |etoks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM ev),
        |q AS (SELECT DISTINCT doc_id AS query_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM etoks),
        |m AS (SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
        |      FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id JOIN dfreq ON q.th = dfreq.th, stats
        |      WHERE tf.doc_id <> q.query_id),
        |terms AS (SELECT query_id, doc_id,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
        |    ((tf::DOUBLE * (1.2 + 1.0)) / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE/(total_dl::DOUBLE/n_docs::DOUBLE))))) * 1000000.0 + 0.5) AS BIGINT) AS t_q6 FROM m),
        |scored AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
        |cands AS (SELECT query_id AS eval_id, doc_id AS cand_id FROM (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rank FROM scored) WHERE rank <= 20),
        |ewt AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws FROM ev),
        |ew AS (SELECT DISTINCT doc_id AS eval_id, u.h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |    i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |  FROM ewt WHERE len(ws) >= 8)),
        |cwt AS (SELECT c.doc_id, list_filter(string_split(c.text,' '), x -> x <> '') AS ws
        |        FROM corpus c JOIN (SELECT DISTINCT cand_id FROM cands) ci ON c.doc_id = ci.cand_id),
        |cw AS (SELECT DISTINCT doc_id AS cand_id, u.h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 8, -1) + 2),
        |    i -> struct_pack(pos := i - 1, h := md5(array_to_string(ws[i:i+7], ' '))))) AS u
        |  FROM cwt WHERE len(ws) >= 8)),
        |sh AS (SELECT c.eval_id, c.cand_id, CAST(count(*) AS BIGINT) AS shared
        |       FROM cands c JOIN ew ON c.eval_id = ew.eval_id JOIN cw ON c.cand_id = cw.cand_id AND ew.h = cw.h
        |       GROUP BY 1, 2)
        |SELECT cands.eval_id, count(*) AS n_candidates,
        |       CAST(sum(CASE WHEN coalesce(sh.shared, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed,
        |       CAST(max(coalesce(sh.shared, 0)) AS BIGINT) AS max_shared
        |FROM cands LEFT JOIN sh ON cands.eval_id = sh.eval_id AND cands.cand_id = sh.cand_id
        |GROUP BY cands.eval_id ORDER BY cands.eval_id""".stripMargin,

    // removal predicate and hash-shard layout replayed inline; one
    // grouped aggregate, CASE sums in the same operand order
    "q_deletion_audit" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (SELECT doc_id, source, n_tokens, (doc_id % 37 = 5) AS removed, doc_id % 16 AS shard FROM t)
        |SELECT source, shard, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  count(*) - CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving,
        |  CAST(sum(CASE WHEN removed THEN 0 ELSE n_tokens END) AS BIGINT) AS surviving_tokens,
        |  (sum(CASE WHEN removed THEN 1 ELSE 0 END) > 0) AS dirty
        |FROM m GROUP BY source, shard ORDER BY source, shard""".stripMargin,

    // the oracle REBUILDS the index from the filtered corpus — the Spark
    // side deletes incrementally, so hash agreement proves
    // delete-maintenance == rebuild; queries draw from the survivors
    "q_bm25_delete_search" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
        |toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS term FROM corpus),
        |h AS (SELECT doc_id, ('0x' || substr(md5(term),1,15))::BIGINT AS th FROM toks),
        |tf AS (SELECT doc_id, th, CAST(count(*) AS BIGINT) AS tf FROM h GROUP BY doc_id, th),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dfreq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY th),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |q AS (SELECT DISTINCT doc_id AS query_id, th FROM h WHERE doc_id % 50 = 0),
        |m AS (SELECT q.query_id, tf.doc_id, tf.tf, dl.dl, dfreq.df, stats.n_docs, stats.total_dl
        |      FROM q JOIN tf USING (th) JOIN dl ON tf.doc_id = dl.doc_id JOIN dfreq ON q.th = dfreq.th, stats
        |      WHERE tf.doc_id <> q.query_id),
        |terms AS (SELECT query_id, doc_id,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
        |    ((tf::DOUBLE * (1.2 + 1.0)) / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE/(total_dl::DOUBLE/n_docs::DOUBLE))))) * 1000000.0 + 0.5) AS BIGINT) AS t_q6 FROM m),
        |scored AS (SELECT query_id, doc_id, CAST(sum(t_q6) AS BIGINT) AS s_q6 FROM terms GROUP BY query_id, doc_id),
        |ranked AS (SELECT query_id, doc_id, s_q6, row_number() OVER (PARTITION BY query_id ORDER BY s_q6 DESC, doc_id) AS rank FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       floor(s_q6::DOUBLE / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the 5 iterations unrolled as CTEs; same q6 fixed-point floor-div
    // arithmetic ((85·r) // (100·deg), base 150000 // N) as the Spark
    // loop, so ranks are bit-identical longs
    "q_graph_centrality" ->
      s"""WITH csh AS ($DuckShingles),
         |ch AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM csh),
         |cdf AS (SELECT h, count(*) AS df FROM ch GROUP BY h),
         |rare AS (SELECT ch.doc_id, ch.h FROM ch JOIN cdf USING (h) WHERE cdf.df <= $JaccardMaxDf),
         |ccands AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM ccands UNION ALL SELECT doc_b, doc_a FROM ccands),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |adj AS (SELECT sym.src, sym.dst, deg.deg FROM sym JOIN deg USING (src)),
         |it0 AS (SELECT src AS id, 1000000 // nn.n AS r FROM deg, nn),
         |it1 AS (
         |  SELECT deg.src AS id, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
         |  FROM deg LEFT JOIN (
         |    SELECT adj.dst, CAST(sum((85 * it0.r) // (100 * adj.deg)) AS BIGINT) AS c
         |    FROM adj JOIN it0 ON adj.src = it0.id GROUP BY adj.dst) s ON deg.src = s.dst),
         |it2 AS (
         |  SELECT deg.src AS id, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
         |  FROM deg LEFT JOIN (
         |    SELECT adj.dst, CAST(sum((85 * it1.r) // (100 * adj.deg)) AS BIGINT) AS c
         |    FROM adj JOIN it1 ON adj.src = it1.id GROUP BY adj.dst) s ON deg.src = s.dst),
         |it3 AS (
         |  SELECT deg.src AS id, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
         |  FROM deg LEFT JOIN (
         |    SELECT adj.dst, CAST(sum((85 * it2.r) // (100 * adj.deg)) AS BIGINT) AS c
         |    FROM adj JOIN it2 ON adj.src = it2.id GROUP BY adj.dst) s ON deg.src = s.dst),
         |it4 AS (
         |  SELECT deg.src AS id, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
         |  FROM deg LEFT JOIN (
         |    SELECT adj.dst, CAST(sum((85 * it3.r) // (100 * adj.deg)) AS BIGINT) AS c
         |    FROM adj JOIN it3 ON adj.src = it3.id GROUP BY adj.dst) s ON deg.src = s.dst),
         |it5 AS (
         |  SELECT deg.src AS id, (SELECT 150000 // n FROM nn) + coalesce(s.c, 0) AS r
         |  FROM deg LEFT JOIN (
         |    SELECT adj.dst, CAST(sum((85 * it4.r) // (100 * adj.deg)) AS BIGINT) AS c
         |    FROM adj JOIN it4 ON adj.src = it4.id GROUP BY adj.dst) s ON deg.src = s.dst)
         |SELECT it5.id AS doc_id, deg.deg AS degree, it5.r AS pr_q6,
         |       floor(it5.r::DOUBLE / 100.0 + 0.5) / 10000.0 AS pagerank
         |FROM it5 JOIN deg ON it5.id = deg.src ORDER BY doc_id""".stripMargin,

    "d5_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,

    // d5's cosine expression lifted to q6 longs, neighbor ranking and
    // top-k sums on the longs, margin = 2k·cq/(Σᴬ+Σᴮ) as ONE double
    // division of exact integers (16*cq stays in BIGINT; the CAST is the
    // only lossy op) — no live transcendental, the x11 discipline
    "d26_margin_pairs" ->
      s"""WITH a AS (SELECT vec_id AS x, embedding AS xe FROM embeddings WHERE vec_id % 2 = 0),
         |b AS (SELECT vec_id AS y, embedding AS ye FROM embeddings WHERE vec_id % 2 = 1),
         |p AS (
         |  SELECT x, y, CAST(floor(round(
         |    list_reduce(list_transform(range(1, 65), i -> CAST(xe[i] AS DOUBLE) * CAST(ye[i] AS DOUBLE)), (u, v) -> u + v) /
         |    (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(xe[i] AS DOUBLE) * CAST(xe[i] AS DOUBLE)), (u, v) -> u + v)) *
         |     sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(ye[i] AS DOUBLE) * CAST(ye[i] AS DOUBLE)), (u, v) -> u + v))), 6) * 1e6 + 0.5) AS BIGINT) AS cq
         |  FROM a CROSS JOIN b),
         |fwd AS (SELECT x, y, cq FROM (
         |  SELECT x, y, cq, row_number() OVER (PARTITION BY x ORDER BY cq DESC, y) AS r FROM p) WHERE r <= $MarginK),
         |bwd AS (SELECT x, y, cq FROM (
         |  SELECT x, y, cq, row_number() OVER (PARTITION BY y ORDER BY cq DESC, x) AS r FROM p) WHERE r <= $MarginK),
         |sa AS (SELECT x, sum(cq) AS sa FROM fwd GROUP BY x),
         |sb AS (SELECT y, sum(cq) AS sb FROM bwd GROUP BY y),
         |fm AS (SELECT f.x, f.y, round(CAST(2 * $MarginK * f.cq AS DOUBLE) / CAST(sa.sa + sb.sb AS DOUBLE), 6) AS margin
         |       FROM fwd f JOIN sa ON f.x = sa.x JOIN sb ON f.y = sb.y WHERE sa.sa + sb.sb > 0),
         |bm AS (SELECT f.x, f.y, round(CAST(2 * $MarginK * f.cq AS DOUBLE) / CAST(sa.sa + sb.sb AS DOUBLE), 6) AS margin
         |       FROM bwd f JOIN sa ON f.x = sa.x JOIN sb ON f.y = sb.y WHERE sa.sa + sb.sb > 0),
         |xb AS (SELECT x, y, margin FROM (
         |  SELECT x, y, margin, row_number() OVER (PARTITION BY x ORDER BY margin DESC, y) AS r FROM fm) WHERE r = 1),
         |yb AS (SELECT x, y FROM (
         |  SELECT x, y, row_number() OVER (PARTITION BY y ORDER BY margin DESC, x) AS r FROM bm) WHERE r = 1)
         |SELECT xb.x AS src_id, xb.y AS tgt_id, xb.margin
         |FROM xb JOIN yb ON xb.x = yb.x AND xb.y = yb.y
         |ORDER BY src_id""".stripMargin,

    // same two-level layer/chunk arithmetic; integer div both sides
    "q_contrastive_batches" ->
      """WITH l AS (
        |  SELECT vec_id, label,
        |         CAST(row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS BIGINT) AS layer
        |  FROM embeddings),
        |lb AS (SELECT CAST((count(DISTINCT label) + 15) // 16 AS BIGINT) AS lbound FROM l),
        |i AS (SELECT vec_id, label, layer,
        |        CAST(row_number() OVER (PARTITION BY layer ORDER BY label, vec_id) - 1 AS BIGINT) AS idx
        |      FROM l)
        |SELECT vec_id, label, layer, layer * lbound + idx // 16 AS batch
        |FROM i, lb ORDER BY vec_id""".stripMargin,

    // d5's scoring at every truncation budget (range bound is the k_dim
    // column), both rankings re-derived, hits via EXISTS against the
    // full-dim top-k
    "q_dim_truncation_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |dims(k_dim) AS (VALUES (8), (16), (32), (64)),
         |fullsc AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |fullrk AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM fullsc) WHERE rank <= $TopK),
         |tsc AS (
         |  SELECT d.k_dim, q.query_id, e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, d.k_dim + 1), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, d.k_dim + 1), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, d.k_dim + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
         |  FROM embeddings e CROSS JOIN q CROSS JOIN dims d WHERE e.vec_id <> q.query_id),
         |trk AS (SELECT k_dim, query_id, vec_id FROM (
         |  SELECT k_dim, query_id, vec_id,
         |         row_number() OVER (PARTITION BY k_dim, query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM tsc) WHERE rank <= $TopK),
         |tot AS (SELECT k_dim, CAST(count(*) AS BIGINT) AS n_ranked FROM trk GROUP BY 1),
         |hit AS (SELECT t.k_dim, CAST(count(*) AS BIGINT) AS n_hits FROM trk t
         |        WHERE EXISTS (SELECT 1 FROM fullrk f
         |                      WHERE f.query_id = t.query_id AND f.vec_id = t.vec_id)
         |        GROUP BY 1)
         |SELECT tot.k_dim, tot.n_ranked, COALESCE(hit.n_hits, 0) AS n_hits,
         |       floor(COALESCE(hit.n_hits, 0)::DOUBLE / tot.n_ranked::DOUBLE * 10000.0 + 0.5) / 10000.0 AS recall
         |FROM tot LEFT JOIN hit USING (k_dim) ORDER BY k_dim""".stripMargin,

    // d5's ranking restricted to different-label candidates
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))), 6) AS cos
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id AND e.label <> q.q_label),
         |ranked AS (
         |  SELECT query_id, vec_id AS neg_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neg_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,

    // same q6 moment sums and one-expression finishers as the Spark side
    "q_embedding_profile" ->
      """WITH x AS (
        |  SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, 65)) AS u(i)),
        |q AS (SELECT dim, v, CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS xq FROM x),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(xq) AS BIGINT) AS s, CAST(sum(xq * xq) AS BIGINT) AS m2,
        |             min(v) AS min_v, max(v) AS max_v
        |      FROM q GROUP BY dim)
        |SELECT dim, n,
        |       floor(s::DOUBLE / n::DOUBLE + 0.5) / 1000000.0 AS mean,
        |       floor((m2::DOUBLE / n::DOUBLE
        |              - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
        |             / 1000000.0 + 0.5) / 1000000.0 AS variance,
        |       min_v, max_v
        |FROM a ORDER BY dim""".stripMargin,

    // every MMR greedy round replayed inductively (the k-center oracle
    // contract): round 1 = argmax λ·rel; round n scores against the
    // max-sim to rounds 1..n−1. λ and (1−λ) splice as Double.toString —
    // (1.0 − 0.7) is NOT the 0.3 literal in IEEE, so the subtraction's
    // exact result is exported, never re-derived
    "q_mmr_rerank" -> {
      val lam = 0.7
      val lamLit = lam.toString
      val omLit = (1.0 - lam).toString
      def cosE(a: String, b: String) =
        s"""round(
           |      ${dotF(a, b, 64)} /
           |      (sqrt(${dotF(a, a, 64)}) *
           |       sqrt(${dotF(b, b, 64)})), 6)""".stripMargin
      val rounds = (2 to 5).map { n =>
        s"""ms$n AS (SELECT s.query_id, s.b AS doc_id, max(s.sim) AS m
           |         FROM sims s JOIN p${n - 1} p ON p.query_id = s.query_id AND p.doc_id = s.a
           |         GROUP BY 1, 2),
           |s$n AS (SELECT query_id, doc_id, mmr FROM (
           |  SELECT c.query_id, c.doc_id,
           |         CAST(floor(($lamLit * c.rel - $omLit * ms.m) * 1000000.0 + 0.5) AS BIGINT) AS mmr,
           |         row_number() OVER (PARTITION BY c.query_id
           |           ORDER BY floor(($lamLit * c.rel - $omLit * ms.m) * 1000000.0 + 0.5) DESC, c.doc_id) AS rn
           |  FROM cands c JOIN ms$n ms ON ms.query_id = c.query_id AND ms.doc_id = c.doc_id
           |  WHERE NOT EXISTS (SELECT 1 FROM p${n - 1} p
           |                    WHERE p.query_id = c.query_id AND p.doc_id = c.doc_id)) WHERE rn = 1),
           |p$n AS (SELECT * FROM p${n - 1} UNION ALL SELECT query_id, doc_id FROM s$n)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 5).map(n =>
        s"SELECT query_id, $n AS sel_rank, doc_id, mmr AS mmr_q6 FROM s$n")
        .mkString("\n UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |sc AS (
         |  SELECT q.query_id, e.vec_id AS doc_id,
         |    ${cosE("q.q_emb", "e.embedding")} AS rel
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |cands AS (SELECT query_id, doc_id, rel FROM (
         |  SELECT query_id, doc_id, rel,
         |         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
         |  FROM sc) WHERE rk <= 20),
         |ce AS (SELECT c.query_id, c.doc_id, e.embedding AS emb
         |       FROM cands c JOIN embeddings e ON e.vec_id = c.doc_id),
         |sims AS (
         |  SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
         |    ${cosE("x.emb", "y.emb")} AS sim
         |  FROM ce x JOIN ce y ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
         |s1 AS (SELECT query_id, doc_id, mmr FROM (
         |  SELECT query_id, doc_id,
         |         CAST(floor(($lamLit * rel) * 1000000.0 + 0.5) AS BIGINT) AS mmr,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY floor(($lamLit * rel) * 1000000.0 + 0.5) DESC, doc_id) AS rn
         |  FROM cands) WHERE rn = 1),
         |p1 AS (SELECT query_id, doc_id FROM s1),
         |$rounds
         |$sel
         |ORDER BY query_id, sel_rank""".stripMargin
    },

    "mm_binary_meta" ->
      """SELECT doc_id AS asset_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       octet_length(encode(text)) AS n_bytes,
        |       lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
        |       sha256(text) AS sha
        |FROM documents ORDER BY asset_id""".stripMargin,

    // feature outputs minus the stubbed decode column: n_bytes and the
    // 8-byte content-hash prefix are deterministic functions of text
    "mm_features" ->
      """SELECT doc_id AS asset_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       octet_length(encode(text)) AS n_bytes,
        |       substr(sha256(text), 1, 16) AS sha
        |FROM documents ORDER BY asset_id""".stripMargin,

    // q6 fixed-point pooling: long sums are exact, so both engines agree
    // byte-for-byte regardless of summation order
    "q_chunk_mean_pool" ->
      """WITH e AS (
        |  SELECT vec_id // 10 AS group_id, u.pos, u.v FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        i -> struct_pack(pos := i - 1, v := embedding[i]))) AS u
        |    FROM embeddings)),
        |q AS (SELECT group_id, pos,
        |             CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS q6
        |      FROM e)
        |SELECT group_id, pos,
        |       CAST(round(CAST(sum(q6) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q6
        |FROM q GROUP BY group_id, pos
        |ORDER BY group_id, pos""".stripMargin,

    // the 4-frame signature replayed from the gray formula: frame f of
    // asset id is uniformly gray (((id%7)·31 + f·29) mod 256), so the
    // exact frame mean IS the gray; the rolling hash h←(h·257+mean+1)
    // mod p over frames 0..3 then h←(h·257+4) mod p expands to the
    // closed form (Σ (mean_f+1)·257^(4−f) + 4) mod p — every term fits
    // BIGINT, so one sum and one final mod replay it exactly
    "mm_video_signature_dedup" ->
      """WITH sig AS (
        |  SELECT d.doc_id,
        |         CAST((sum(((((d.doc_id % 7) * 31 + f.f * 29) % 256 + 1)::BIGINT)
        |                   * CAST(power(257, 4 - f.f) AS BIGINT)) + 4)
        |              % 2147483647 AS BIGINT) AS vsig
        |  FROM documents d, range(0, 4) f(f) GROUP BY d.doc_id),
        |g AS (SELECT vsig, count(*) AS group_n, min(doc_id) AS canon FROM sig GROUP BY vsig)
        |SELECT s.doc_id, s.vsig, CAST(g.group_n AS BIGINT) AS group_n,
        |       s.doc_id = g.canon AS keep
        |FROM sig s JOIN g USING (vsig) ORDER BY s.doc_id""".stripMargin,

    // ONE dedup across all modalities: kind = id mod 3 selects which
    // formula stack replays the signature (aHash pixels / envelope
    // windows / frame-gray rolling hash — each exactly its
    // single-modality oracle's arithmetic), namespaced 'kind:hash';
    // groups and canonical ids from the shared signature column
    "e2e_asset_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         ((d.doc_id % 17) * 31 + x.x * 7 + y.y * 13) % 256 AS p,
        |         y.y * 8 + x.x AS i
        |  FROM documents d, range(0, 8) x(x), range(0, 8) y(y)
        |  WHERE d.doc_id % 3 = 0),
        |ps AS (SELECT doc_id, sum(p) AS total FROM px GROUP BY doc_id),
        |img AS (
        |  SELECT px.doc_id, 'image' AS kind,
        |         'image:' || CAST(CAST(sum(CASE WHEN px.p * 64 > ps.total
        |                       THEN CASE WHEN px.i = 63 THEN (-9223372036854775807 - 1)
        |                                 ELSE (1::BIGINT << px.i) END
        |                       ELSE 0 END) AS BIGINT) AS VARCHAR) AS sig
        |  FROM px JOIN ps USING (doc_id) GROUP BY px.doc_id),
        |wv AS (
        |  SELECT d.doc_id, w.w,
        |         16 * abs(((d.doc_id % 13) * 31 + w.w * 7) % 256 - 128) AS a
        |  FROM documents d, range(0, 64) w(w)
        |  WHERE d.doc_id % 3 = 1),
        |ws AS (SELECT doc_id, sum(a) AS total FROM wv GROUP BY doc_id),
        |aud AS (
        |  SELECT wv.doc_id, 'audio' AS kind,
        |         'audio:' || CAST(CAST(sum(CASE WHEN wv.a * 64 > ws.total
        |                       THEN CASE WHEN wv.w = 63 THEN (-9223372036854775807 - 1)
        |                                 ELSE (1::BIGINT << wv.w) END
        |                       ELSE 0 END) AS BIGINT) AS VARCHAR) AS sig
        |  FROM wv JOIN ws USING (doc_id) GROUP BY wv.doc_id),
        |vid AS (
        |  SELECT d.doc_id, 'video' AS kind,
        |         'video:' || CAST(CAST((sum(((((d.doc_id % 7) * 31 + f.f * 29) % 256 + 1)::BIGINT)
        |                   * CAST(power(257, 4 - f.f) AS BIGINT)) + 4)
        |              % 2147483647 AS BIGINT) AS VARCHAR) AS sig
        |  FROM documents d, range(0, 4) f(f)
        |  WHERE d.doc_id % 3 = 2
        |  GROUP BY d.doc_id),
        |sig AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid),
        |g AS (SELECT sig, count(*) AS group_n, min(doc_id) AS canon FROM sig GROUP BY sig)
        |SELECT s.doc_id, s.kind, s.sig, CAST(g.group_n AS BIGINT) AS group_n,
        |       s.doc_id = g.canon AS keep
        |FROM sig s JOIN g USING (sig) ORDER BY s.doc_id""".stripMargin,

    // the 64-window envelope replayed from the sample formula: window w
    // of asset id carries constant samples v = (((id%13)·31 + w·7) mod
    // 256 − 128)·16, so winAbs = 16·|v| and bit w is the exact integer
    // threshold winAbs·64 > Σ winAbs (bit 63 via the same HUGEINT
    // sign-bit trick as mm_phash_dedup); groups and canonical ids from
    // the identical hash
    "mm_audio_fingerprint_dedup" ->
      """WITH wv AS (
        |  SELECT d.doc_id, w.w,
        |         16 * abs(((d.doc_id % 13) * 31 + w.w * 7) % 256 - 128) AS a
        |  FROM documents d, range(0, 64) w(w)),
        |s AS (SELECT doc_id, sum(a) AS total FROM wv GROUP BY doc_id),
        |bits AS (
        |  SELECT wv.doc_id,
        |         CAST(sum(CASE WHEN wv.a * 64 > s.total
        |                       THEN CASE WHEN wv.w = 63 THEN (-9223372036854775807 - 1)
        |                                 ELSE (1::BIGINT << wv.w) END
        |                       ELSE 0 END) AS BIGINT) AS ahash
        |  FROM wv JOIN s USING (doc_id) GROUP BY wv.doc_id),
        |g AS (SELECT ahash, count(*) AS group_n, min(doc_id) AS canon FROM bits GROUP BY ahash)
        |SELECT b.doc_id, b.ahash, CAST(g.group_n AS BIGINT) AS group_n,
        |       b.doc_id = g.canon AS keep
        |FROM bits b JOIN g USING (ahash) ORDER BY b.doc_id""".stripMargin,

    // every decoded value is closed-form in the asset id (±c square-wave
    // WAV: frames 800 + id%40·40, rate 8000·(1 + id%3), amplitude
    // 256·(1 + id%100) = the exact RMS); the Spark side derived them from
    // actual decoded PCM samples
    "mm_audio_decode" ->
      """SELECT doc_id AS asset_id,
        |       CAST(800 + (doc_id % 40) * 40 AS INT) AS decoded_frames,
        |       CAST(8000 * (1 + doc_id % 3) AS INT) AS decoded_rate,
        |       CAST(256 * (1 + doc_id % 100) AS INT) AS rms_amp
        |FROM documents ORDER BY asset_id""".stripMargin,

    // every decoded value is closed-form in the asset id (constant-color
    // PNG: dims 8+id%16 × 8+id%12, RGB = (id%256, id*31%256, id*77%256));
    // the Spark side derived them from actual decoded pixels
    "mm_image_decode" ->
      """SELECT doc_id AS asset_id,
        |       CAST(8 + doc_id % 16 AS INT) AS decoded_width,
        |       CAST(8 + doc_id % 12 AS INT) AS decoded_height,
        |       CAST(doc_id % 256 AS INT) AS r255,
        |       CAST((doc_id * 31) % 256 AS INT) AS g255,
        |       CAST((doc_id * 77) % 256 AS INT) AS b255
        |FROM documents ORDER BY asset_id""".stripMargin,

    // the 8×8 gradient grid p(x,y) = ((id%17)·31 + x·7 + y·13) mod 256
    // replayed per pixel; bit (y·8+x) set iff p·64 > Σp (exact integer
    // threshold, same as the Spark side's decoded-pixel loop); groups
    // and canonical ids from the identical hash
    "mm_phash_dedup" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         ((d.doc_id % 17) * 31 + x.x * 7 + y.y * 13) % 256 AS p,
        |         y.y * 8 + x.x AS i
        |  FROM documents d, range(0, 8) x(x), range(0, 8) y(y)),
        |s AS (SELECT doc_id, sum(p) AS total FROM px GROUP BY doc_id),
        |-- bit 63 is the sign bit: DuckDB's checked shift rejects 1<<63,
        |-- so it contributes long-min directly (sum aggregates in
        |-- HUGEINT, and the cast back restores the two's-complement
        |-- pattern Spark's 1L<<63 produces)
        |bits AS (
        |  SELECT px.doc_id,
        |         CAST(sum(CASE WHEN px.p * 64 > s.total
        |                       THEN CASE WHEN px.i = 63 THEN (-9223372036854775807 - 1)
        |                                 ELSE (1::BIGINT << px.i) END
        |                       ELSE 0 END) AS BIGINT) AS phash
        |  FROM px JOIN s USING (doc_id) GROUP BY px.doc_id),
        |g AS (SELECT phash, count(*) AS group_n, min(doc_id) AS canon FROM bits GROUP BY phash)
        |SELECT b.doc_id, b.phash, CAST(g.group_n AS BIGINT) AS group_n,
        |       b.doc_id = g.canon AS keep
        |FROM bits b JOIN g USING (phash) ORDER BY b.doc_id""".stripMargin,

    // every decoded value is closed-form in the asset id (animated GIF:
    // n = 3+id%5 frames of (8+id%8)×(8+id%6), frame f uniformly gray
    // (id·7 + f·29) mod 256); the Spark side derived them from the
    // actual decoded frame sequence
    "mm_video_decode" ->
      """SELECT doc_id AS asset_id,
        |       CAST(3 + doc_id % 5 AS INT) AS decoded_frames,
        |       CAST(8 + doc_id % 8 AS INT) AS decoded_width,
        |       CAST(8 + doc_id % 6 AS INT) AS decoded_height,
        |       CAST((doc_id * 7) % 256 AS INT) AS first_gray,
        |       CAST((doc_id * 7 + (2 + doc_id % 5) * 29) % 256 AS INT) AS last_gray
        |FROM documents ORDER BY asset_id""".stripMargin,

    // byte-range frame slices: frame f covers bytes [f·64, (f+1)·64) with
    // stride 2; document text is ASCII so VARCHAR substr == byte slicing
    // (the same equivalence mm_binary_meta's header_hex relies on)
    "mm_frame_sample" ->
      """WITH fr AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, octet_length(encode(text)) // 64, 2)) AS f
        |  FROM documents)
        |SELECT doc_id AS asset_id, CAST(f AS INTEGER) AS frame_idx,
        |       CAST(64 AS INTEGER) AS frame_bytes,
        |       substr(sha256(substr(text, CAST(f * 64 + 1 AS INTEGER), 64)), 1, 16) AS frame_sha
        |FROM fr ORDER BY asset_id, frame_idx""".stripMargin,

    // mirrors cosineNearDupPairs end-to-end: md5-derived hyperplanes
    // (Similarity.planeWeight — first 52 md5 bits scaled to [-1,1), exact
    // IEEE both engines), corpus-scaled signature width (min b in [4,20]
    // with 64·2^b >= n == Similarity.bitsForCorpus), L2-normalized
    // embeddings, per-table sign buckets, candidate id pairs, exact dot.
    // All folds are ordered list_reduce == the native DotProduct loop.
    "d6_cosine_neardup_pairs" ->
      s"""WITH nbits AS (
         |  SELECT COALESCE(min(b), 20) AS bits FROM range(4, 21) tb(b)
         |  WHERE 64 * (1::BIGINT << b) >= (SELECT count(*) FROM embeddings)),
         |planes AS (
         |  SELECT t.t AS tbl, b.b AS bit,
         |         list_transform(range(0, 64), i ->
         |           ('0x' || substr(md5('42:' || t.t || ':' || b.b || ':' || i), 1, 13))::BIGINT
         |           * (2.0 / 4503599627370496.0) - 1.0) AS w
         |  FROM range(0, 8) t(t), range(0, 20) b(b), nbits WHERE b.b < nbits.bits),
         |nrm AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS emb
         |  FROM (SELECT vec_id, embedding,
         |               sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS n
         |        FROM embeddings)),
         |sigs AS (
         |  SELECT v.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> p.w[i] * v.emb[i]), (a, b) -> a + b) > 0
         |                       THEN (1::BIGINT << p.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM nrm v CROSS JOIN planes p GROUP BY 1, 2),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT c.vec_a, c.vec_b,
         |         round(list_reduce(list_transform(range(1, 65), i -> na.emb[i] * nb.emb[i]), (a, b) -> a + b), 6) AS cos
         |  FROM cands c JOIN nrm na ON na.vec_id = c.vec_a JOIN nrm nb ON nb.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= $CosineNearDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    // mirrors lshBucketTopK: corpus-scaled signature width (min b in [4,20]
    // with 64·2^b >= n == Similarity.bitsForCorpus) × 8-table signatures
    // over the RAW double-cast embeddings (d6 buckets the normalized
    // copies — d7 scores cosine directly so it never normalizes),
    // candidates joined back to embeddings, d5-style exact cosine +
    // row_number ranking
    "d7_ann_lsh_topk" ->
      s"""WITH nbits AS (
         |  SELECT COALESCE(min(b), 20) AS bits FROM range(4, 21) tb(b)
         |  WHERE 64 * (1::BIGINT << b) >= (SELECT count(*) FROM embeddings)),
         |planes AS (
         |  SELECT t.t AS tbl, b.b AS bit,
         |         list_transform(range(0, 64), i ->
         |           ('0x' || substr(md5('42:' || t.t || ':' || b.b || ':' || i), 1, 13))::BIGINT
         |           * (2.0 / 4503599627370496.0) - 1.0) AS w
         |  FROM range(0, 8) t(t), range(0, 20) b(b), nbits WHERE b.b < nbits.bits),
         |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |sigs AS (
         |  SELECT v.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> p.w[i] * v.emb[i]), (a, b) -> a + b) > 0
         |                       THEN (1::BIGINT << p.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM corp v CROSS JOIN planes p GROUP BY 1, 2),
         |cands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT cd.query_id, cd.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> qq.emb[i] * ee.emb[i]), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> qq.emb[i] * qq.emb[i]), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> ee.emb[i] * ee.emb[i]), (x, y) -> x + y))), 6) AS cos
         |  FROM cands cd JOIN corp qq ON qq.vec_id = cd.query_id JOIN corp ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,

    // d7's candidate CTEs verbatim for the ANN side, d5's exact ranking
    // for the truth side, joined per query; recall = hits/k needs no
    // rounding (both engines compute the identical IEEE divide)
    "q_ann_recall" ->
      s"""WITH nbits AS (
         |  SELECT COALESCE(min(b), 20) AS bits FROM range(4, 21) tb(b)
         |  WHERE 64 * (1::BIGINT << b) >= (SELECT count(*) FROM embeddings)),
         |planes AS (
         |  SELECT t.t AS tbl, b.b AS bit,
         |         list_transform(range(0, 64), i ->
         |           ('0x' || substr(md5('42:' || t.t || ':' || b.b || ':' || i), 1, 13))::BIGINT
         |           * (2.0 / 4503599627370496.0) - 1.0) AS w
         |  FROM range(0, 8) t(t), range(0, 20) b(b), nbits WHERE b.b < nbits.bits),
         |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |sigs AS (
         |  SELECT v.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> p.w[i] * v.emb[i]), (a, b) -> a + b) > 0
         |                       THEN (1::BIGINT << p.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM corp v CROSS JOIN planes p GROUP BY 1, 2),
         |cands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ann_scored AS (
         |  SELECT cd.query_id, cd.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> qq.emb[i] * ee.emb[i]), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> qq.emb[i] * qq.emb[i]), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> ee.emb[i] * ee.emb[i]), (x, y) -> x + y))), 6) AS cos
         |  FROM cands cd JOIN corp qq ON qq.vec_id = cd.query_id JOIN corp ee ON ee.vec_id = cd.vec_id),
         |ann AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |    FROM ann_scored) WHERE rank <= $TopK),
         |ex_scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1, 65), i -> q.emb[i] * e.emb[i]), (x, y) -> x + y) /
         |      (sqrt(list_reduce(list_transform(range(1, 65), i -> q.emb[i] * q.emb[i]), (x, y) -> x + y)) *
         |       sqrt(list_reduce(list_transform(range(1, 65), i -> e.emb[i] * e.emb[i]), (x, y) -> x + y))), 6) AS cos
         |  FROM corp e CROSS JOIN (SELECT vec_id, emb FROM corp WHERE vec_id < 10) q
         |  WHERE e.vec_id <> q.vec_id),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |    FROM ex_scored) WHERE rank <= $TopK)
         |SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |       count(a.neighbor_id)::DOUBLE / ${TopK}.0 AS recall
         |FROM ex e LEFT JOIN ann a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    // mirrors Similarity.quantizedTopK: floor(x/s + 0.5) is the shared
    // round-half-up; Spark's floor yields BIGINT vs DuckDB's DOUBLE, but
    // the value is an exact small integer either way, so code·s is
    // bit-identical across engines
    "d9_quantized_topk" -> {
      s"""WITH pe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |ps AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM pe),
         |pr AS (SELECT vec_id, e, list_transform(e, x -> floor(x / s + 0.5) * s) AS r FROM ps),
         |q AS (SELECT vec_id AS query_id, e AS q_e, r AS q_r FROM pr WHERE vec_id < 10),
         |approx AS (
         |  SELECT q.query_id, c.vec_id, c.e, q.q_e, ${cos("q.q_r", "c.r", 64)} AS acos
         |  FROM pr c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |cand AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id) AS arank
         |  FROM approx),
         |exact AS (
         |  SELECT query_id, vec_id AS neighbor_id, ${cosR("q_e", "e", 64)} AS cos
         |  FROM cand WHERE arank <= ${TopK * 4}),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },

    // same two 32-bit sign words off the raw floats (bit i set iff
    // component > 0 — no arithmetic, nothing to round), same integer
    // Hamming via bit_count(xor), same (hamming, vec_id) candidate
    // order, same exact-cosine rescore of the top 4k survivors
    "d27_signbit_topk" -> {
      def word(from: Int, until: Int) =
        s"""list_reduce(list_transform(range($from, $until), i ->
           |    CASE WHEN e[i] > 0 THEN CAST(1 AS BIGINT) << (i - $from) ELSE CAST(0 AS BIGINT) END),
           |    (x, y) -> x + y)""".stripMargin
      s"""WITH pe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |sg AS (SELECT vec_id, e,
         |  ${word(1, 33)} AS lo,
         |  ${word(33, 65)} AS hi
         |  FROM pe),
         |q AS (SELECT vec_id AS query_id, e AS q_e, lo AS q_lo, hi AS q_hi FROM sg WHERE vec_id < 10),
         |ham AS (
         |  SELECT q.query_id, c.vec_id, c.e, q.q_e,
         |         bit_count(xor(c.lo, q.q_lo)) + bit_count(xor(c.hi, q.q_hi)) AS hamming
         |  FROM sg c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |cand AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS arank
         |  FROM ham),
         |exact AS (
         |  SELECT query_id, vec_id AS neighbor_id, ${cosR("q_e", "e", 64)} AS cos
         |  FROM cand WHERE arank <= ${TopK * 4}),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },

    // d7's candidate stage (corpus-scaled bits, raw embeddings) feeding
    // d9's quantized ranking + exact rescore
    "d9b_quantized_lsh_topk" -> {
      s"""WITH nbits AS (
         |  SELECT COALESCE(min(b), 20) AS bits FROM range(4, 21) tb(b)
         |  WHERE 64 * (1::BIGINT << b) >= (SELECT count(*) FROM embeddings)),
         |planes AS (
         |  SELECT t.t AS tbl, b.b AS bit,
         |         list_transform(range(0, 64), i ->
         |           ('0x' || substr(md5('42:' || t.t || ':' || b.b || ':' || i), 1, 13))::BIGINT
         |           * (2.0 / 4503599627370496.0) - 1.0) AS w
         |  FROM range(0, 8) t(t), range(0, 20) b(b), nbits WHERE b.b < nbits.bits),
         |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |sigs AS (
         |  SELECT v.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> p.w[i] * v.emb[i]), (a, b) -> a + b) > 0
         |                       THEN (1::BIGINT << p.bit) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM corp v CROSS JOIN planes p GROUP BY 1, 2),
         |cands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ps AS (SELECT vec_id, emb AS e, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS s FROM corp),
         |pr AS (SELECT vec_id, e, list_transform(e, x -> floor(x / s + 0.5) * s) AS r FROM ps),
         |q AS (SELECT vec_id AS query_id, e AS q_e, r AS q_r FROM pr WHERE vec_id < 10),
         |approx AS (
         |  SELECT cd.query_id, cd.vec_id, c.e, q.q_e, ${cos("q.q_r", "c.r", 64)} AS acos
         |  FROM cands cd JOIN pr c ON c.vec_id = cd.vec_id JOIN q ON q.query_id = cd.query_id),
         |cand AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id) AS arank
         |  FROM approx),
         |exact AS (
         |  SELECT query_id, vec_id AS neighbor_id, ${cosR("q_e", "e", 64)} AS cos
         |  FROM cand WHERE arank <= ${TopK * 4}),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },

    // mm_phash_dedup's per-pixel replay (gradient grid, integer aHash
    // threshold, min-id canonical) composed with x2's quality formula and
    // the histogram-exact per-source median gate
    "e2e_asset_text_pairs" -> {
      val stopArr = TextOps.DefaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH px AS (
         |  SELECT d.doc_id,
         |         ((d.doc_id % 17) * 31 + x.x * 7 + y.y * 13) % 256 AS p,
         |         y.y * 8 + x.x AS i
         |  FROM documents d, range(0, 8) x(x), range(0, 8) y(y)),
         |ptot AS (SELECT doc_id, sum(p) AS total FROM px GROUP BY doc_id),
         |bits AS (
         |  SELECT px.doc_id,
         |         CAST(sum(CASE WHEN px.p * 64 > ptot.total
         |                       THEN CASE WHEN px.i = 63 THEN (-9223372036854775807 - 1)
         |                                 ELSE (1::BIGINT << px.i) END
         |                       ELSE 0 END) AS BIGINT) AS phash
         |  FROM px JOIN ptot USING (doc_id) GROUP BY px.doc_id),
         |g AS (SELECT phash, min(doc_id) AS canon FROM bits GROUP BY phash),
         |surv AS (SELECT b.doc_id, b.phash FROM bits b JOIN g USING (phash)
         |         WHERE b.doc_id = g.canon),
         |t AS (
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
         |        WHERE cum >= (tot + 1) // 2 GROUP BY source),
         |kept AS (SELECT q.doc_id, q.source, q.quality FROM q JOIN thr USING (source)
         |         WHERE q.quality >= thr.q_thr)
         |SELECT s.doc_id, s.phash, k.source, k.quality
         |FROM surv s JOIN kept k USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin
    }
  )
}

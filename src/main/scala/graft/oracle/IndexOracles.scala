package graft
package oracle

import graft.queries.DedupQueries.JaccardThreshold
import graft.queries.IndexQueries.{CosineNearDupThreshold, IvfNprobe}
import graft.queries.RetrievalQueries.TopK
import graft.operators._
import SqlFragments._
import DedupOracles.{DuckShingles, bandedCte, jaccardCte, lshCandsCte, sigCte}

/** Oracles of the vector indexes, each a function of the models its gates
  * trained: IVF centroids, PQ codebooks, the PCA rotation and the reduced
  * and maintained indexes. A builder returns the SQL of every gate its
  * model serves, keyed by gate; each gate freezes its own entry at gate
  * time. */
private[graft] object IndexOracles {
  import Similarity.{ReducedModel, ReducedPqModel}

  /** d24 oracle over the base-corpus model `mdl` the gate trained:
    * re-encodes the post-maintenance index membership (all vectors minus
    * the deleted set) from the exported frozen rotation + codebooks and
    * replays the j-ordered ADC ranking and the exact rescore — the
    * executable form of the codes index's append==rebuild /
    * delete==rebuild claims. */
  private[graft] def maintainedPqOracleSql(mdl: ReducedPqModel): Map[String, String] = {
    val dim = mdl.dim
    val nc = mdl.pcaDims
    val m = mdl.m
    val dsub = nc / m
    val rot = rotation(mdl.mean, mdl.comps)
    val values = codebookRows(mdl.books)
    Map("d24_maintained_pq_topk" ->
      s"""WITH $rot,
         |books(j, c, nsq, w) AS (VALUES $values),
         |cp AS (SELECT e.vec_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
         |       FROM embeddings e, mm, cc),
         |${adcCtes("cp", "proj", m, dsub, " AND vec_id % 11 <> 5")},
         |exact AS (
         |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
         |         ${cosF("qq.embedding", "ee.embedding", dim)} AS cos
         |  FROM cand cd JOIN embeddings qq ON qq.vec_id = cd.query_id
         |               JOIN embeddings ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin)
  }

  /** d23 oracle over the model `m` the gate trained on the pre-epoch BASE
    * corpus. The SQL recomputes projection, assignment, probing, and the
    * exact rescore from the exported FROZEN model over the
    * post-maintenance index membership (all vectors minus the deleted
    * set — base ∪ appended epoch = the whole table), which is precisely
    * the append==rebuild / delete==rebuild claim in executable form. */
  private[graft] def maintainedReducedOracleSql(m: ReducedModel): Map[String, String] = {
    val dim = m.dim
    val nc = m.pcaDims
    val rot = rotation(m.mean, m.comps)
    val values = centroidRows(m.centroids)
    Map("d23_maintained_reduced_topk" ->
      s"""WITH $rot,
         |rcent(c, nsq, w) AS (VALUES $values),
         |cp AS (SELECT e.vec_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
         |       FROM embeddings e, mm, cc),
         |dists AS (
         |  SELECT v.vec_id, rc.c, rc.nsq - 2.0 * ${dot("rc.w", "v.proj", nc)} AS d
         |  FROM cp v CROSS JOIN rcent rc),
         |rankedc AS (SELECT vec_id, c,
         |                   row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
         |assign AS (SELECT vec_id, c AS cell FROM rankedc WHERE rn = 1 AND vec_id % 11 <> 5),
         |probes AS (SELECT vec_id AS query_id, c AS cell FROM rankedc
         |           WHERE vec_id < 10 AND rn <= $IvfNprobe),
         |cands AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT cd.query_id, cd.vec_id, ${cosF("qq.embedding", "ee.embedding", dim)} AS cos
         |  FROM cands cd JOIN embeddings qq ON qq.vec_id = cd.query_id
         |                JOIN embeddings ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin)
  }

  /** Oracle for q_index_rebuild_policy: both staleness oracles nested as
    * derived tables (DuckDB allows WITH inside a FROM subquery), pivoted to
    * one row per index family with the same exact-integer rebuild rule as
    * the engine ((fresh−stale)·10 ≥ expected). */
  private[graft] def rebuildPolicyOracleSql(reduced: Map[String, String],
      pq: Map[String, String]): Map[String, String] = {
    val redSql = reduced("q_reduced_index_staleness")
    val pqSql = pq("q_pq_index_staleness")
    def pivot(name: String, src: String): String =
      s"""SELECT '$name' AS index_family,
         |  st.n_hits AS stale_hits, fr.n_hits AS fresh_hits, st.n_expected,
         |  fr.n_hits - st.n_hits AS gap_hits,
         |  CAST(st.n_hits AS DOUBLE) / CAST(st.n_expected AS DOUBLE) AS stale_recall,
         |  CAST(fr.n_hits AS DOUBLE) / CAST(st.n_expected AS DOUBLE) AS fresh_recall,
         |  (fr.n_hits - st.n_hits) * 10 >= st.n_expected AS rebuild
         |FROM (SELECT * FROM $src WHERE arm = 'maintained_stale') st,
         |     (SELECT * FROM $src WHERE arm = 'fresh_rebuild') fr""".stripMargin
    Map("q_index_rebuild_policy" -> s"""WITH red AS (SELECT * FROM (
       |$redSql
       |)),
       |pq AS (SELECT * FROM (
       |$pqSql
       |))
       |SELECT * FROM (
       |${pivot("reduced", "red")}
       |UNION ALL
       |${pivot("rotated_pq", "pq")})
       |ORDER BY index_family""".stripMargin)
  }

  /** The product-quantization ADC probe over CTE `src(vec_id, vec)` and the
    * codebook CTE `books(j, c, nsq, w)`: per-subspace argmin encoding (ties
    * to the lowest code; `codesFilter` restricts which vectors are indexed),
    * the ADC tables of queries `vec_id < 10`, the j-ordered ADC fold, and
    * each query's 20 nearest codes in `cand`. */
  private def adcCtes(src: String, vec: String, m: Int, dsub: Int, codesFilter: String): String =
    s"""subd AS (
       |  SELECT v.vec_id, b.j, b.c,
       |         b.nsq - 2.0 * list_reduce(list_transform(range(1, ${dsub + 1}),
       |           i -> b.w[i] * v.$vec[b.j * $dsub + i]), (x, y) -> x + y) AS d
       |  FROM $src v CROSS JOIN books b),
       |codes AS (
       |  SELECT vec_id, list(c ORDER BY j) AS codes FROM (
       |    SELECT vec_id, j, c,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM subd)
       |  WHERE rn = 1$codesFilter GROUP BY vec_id),
       |qadc AS (
       |  SELECT vec_id AS query_id, list(dl ORDER BY j) AS adc FROM (
       |    SELECT vec_id, j, list(d ORDER BY c) AS dl FROM subd
       |    WHERE vec_id < 10 GROUP BY vec_id, j)
       |  GROUP BY vec_id),
       |approx AS (
       |  SELECT q.query_id, v.vec_id,
       |         list_reduce(list_transform(range(1, ${m + 1}),
       |           j -> q.adc[j][v.codes[j] + 1]), (x, y) -> x + y) AS approx
       |  FROM codes v CROSS JOIN qadc q WHERE v.vec_id <> q.query_id),
       |cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 20)""".stripMargin

  /** The frame both staleness oracles share: the deterministically drifted
    * corpus (coordinate reversal of `vec_id % 5 >= 3`), its brute-force
    * truth, and each arm's recall rollup against that truth. Each arm's
    * CTEs replay its probe into `ftop` (the fresh rebuild) or `stop` (the
    * stale frozen model). */
  private def stalenessSql(dim: Int, freshCtes: String, staleCtes: String): String = {
    def recall(p: String): String =
      s"""${p}recall AS (
         |  SELECT CAST(count(t.query_id) AS BIGINT) AS n_hits,
         |         CAST(count(*) AS BIGINT) AS n_expected
         |  FROM exact x LEFT JOIN ${p}top t
         |    ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id)""".stripMargin
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN vec_id % 5 >= 3
       |              THEN list_transform(range(1, ${dim + 1}), i -> CAST(embedding[${dim + 1} - i] AS DOUBLE))
       |              ELSE list_transform(range(1, ${dim + 1}), i -> CAST(embedding[i] AS DOUBLE)) END AS emb
       |  FROM embeddings),
       |exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosR("q.emb", "c.emb", 64)} DESC, c.vec_id) AS rank
       |    FROM corpus q JOIN corpus c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % 5 >= 3 AND q.vec_id < 25) WHERE rank <= $TopK),
       |$freshCtes,
       |${recall("f")},
       |$staleCtes,
       |${recall("s")}
       |SELECT 'fresh_rebuild' AS arm, n_hits, n_expected,
       |       CAST(n_hits AS DOUBLE) / CAST(n_expected AS DOUBLE) AS recall FROM frecall
       |UNION ALL
       |SELECT 'maintained_stale' AS arm, n_hits, n_expected,
       |       CAST(n_hits AS DOUBLE) / CAST(n_expected AS DOUBLE) AS recall FROM srecall
       |ORDER BY arm""".stripMargin
  }

  /** Oracle for q_reduced_index_staleness, built from both of the gate's
    * models (frozen-on-base and fresh-on-union). The SQL replays the deterministic drift (coordinate reversal of
    * `vec_id % 5 >= 3`), both models' q6 projections, cell assignment and
    * nprobe probes, candidate generation from the index rows, the exact
    * full-dim cosine rescore, the brute-force truth, and the per-arm
    * recall rollup — so the gate proves the MEASUREMENT, not just the
    * probe: a wrong staleness gap cannot hash-match. */
  private[graft] def stalenessOracleSql(frozen: ReducedModel,
      fresh: ReducedModel): Map[String, String] = {
    val dim = frozen.dim
    val nc = frozen.pcaDims
    require(dim == 64 && fresh.dim == 64, s"staleness oracle is written for dim=64, got $dim/${fresh.dim}")
    def modelCtes(p: String, m: ReducedModel): String = {
      val rot = rotation(m.mean, m.comps, s"${p}m", s"${p}c")
      val values = centroidRows(m.centroids)
      s"""|$rot,
          |${p}cent(c, nsq, w) AS (VALUES $values),
          |${p}proj AS (SELECT v.vec_id,
          |             list_transform(range(1, ${nc + 1}), t -> ${coord("v.emb", "t", dim, s"${p}m", s"${p}c", cast = false)}) AS proj
          |             FROM corpus v, ${p}m, ${p}c),
          |${p}dists AS (
          |  SELECT v.vec_id, rc.c, rc.nsq - 2.0 * ${dot("rc.w", "v.proj", nc)} AS d
          |  FROM ${p}proj v CROSS JOIN ${p}cent rc),
          |${p}rankedc AS (SELECT vec_id, c,
          |                row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM ${p}dists),
          |${p}assign AS (SELECT vec_id, c AS cell FROM ${p}rankedc WHERE rn = 1),
          |${p}probes AS (SELECT vec_id AS query_id, c AS cell FROM ${p}rankedc
          |               WHERE vec_id % 5 >= 3 AND vec_id < 25 AND rn <= $IvfNprobe),
          |${p}cands AS (
          |  SELECT DISTINCT pr.query_id, a.vec_id
          |  FROM ${p}probes pr JOIN ${p}assign a ON a.cell = pr.cell AND a.vec_id <> pr.query_id),
          |${p}scored AS (
          |  SELECT cd.query_id, cd.vec_id, ${cosR("qq.emb", "ee.emb", 64)} AS cos
          |  FROM ${p}cands cd JOIN corpus qq ON qq.vec_id = cd.query_id
          |                    JOIN corpus ee ON ee.vec_id = cd.vec_id),
          |${p}top AS (
          |  SELECT query_id, vec_id AS neighbor_id
          |  FROM (SELECT query_id, vec_id,
          |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          |        FROM ${p}scored) WHERE rank <= $TopK)""".stripMargin
    }
    Map("q_reduced_index_staleness" ->
      stalenessSql(dim, modelCtes("f", fresh), modelCtes("s", frozen)))
  }

  /** Oracle for q_pq_index_staleness — [[stalenessOracleSql]]'s shape with
    * the rotated-PQ probe as the replayed mechanism: per arm, projection
    * under the arm's rotation, per-subspace argmin ENCODING of the whole
    * (drifted) corpus, the queries' ADC tables, the ADC candidate ranking
    * with the engine's rescore cutoff, the exact full-dim rescore, and the
    * recall rollup against the shared brute-force truth. */
  private[graft] def pqStalenessOracleSql(frozen: ReducedPqModel,
      fresh: ReducedPqModel): Map[String, String] = {
    val dim = frozen.dim
    val nc = frozen.pcaDims
    val m = frozen.m
    val dsub = nc / m
    require(dim == 64 && fresh.dim == 64 && fresh.pcaDims == nc && fresh.m == m,
      s"pq staleness oracle is written for one model shape, got $frozen vs $fresh")
    def modelCtes(p: String, mdl: ReducedPqModel): String = {
      val rot = rotation(mdl.mean, mdl.comps, s"${p}m", s"${p}c")
      val values = codebookRows(mdl.books)
      s"""|$rot,
          |${p}b(j, c, nsq, w) AS (VALUES $values),
          |${p}cp AS (SELECT v.vec_id,
          |           list_transform(range(1, ${nc + 1}), t -> ${coord("v.emb", "t", dim, s"${p}m", s"${p}c", cast = false)}) AS proj
          |           FROM corpus v, ${p}m, ${p}c),
          |${p}subd AS (
          |  SELECT v.vec_id, b.j, b.c,
          |         b.nsq - 2.0 * list_reduce(list_transform(range(1, ${dsub + 1}),
          |           i -> b.w[i] * v.proj[b.j * $dsub + i]), (x, y) -> x + y) AS d
          |  FROM ${p}cp v CROSS JOIN ${p}b b),
          |${p}codes AS (
          |  SELECT vec_id, list(c ORDER BY j) AS codes FROM (
          |    SELECT vec_id, j, c,
          |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn FROM ${p}subd)
          |  WHERE rn = 1 GROUP BY vec_id),
          |${p}qadc AS (
          |  SELECT vec_id AS query_id, list(dl ORDER BY j) AS adc FROM (
          |    SELECT vec_id, j, list(d ORDER BY c) AS dl FROM ${p}subd
          |    WHERE vec_id % 5 >= 3 AND vec_id < 25 GROUP BY vec_id, j)
          |  GROUP BY vec_id),
          |${p}approx AS (
          |  SELECT q.query_id, v.vec_id,
          |         list_reduce(list_transform(range(1, ${m + 1}),
          |           j -> q.adc[j][v.codes[j] + 1]), (x, y) -> x + y) AS approx
          |  FROM ${p}codes v CROSS JOIN ${p}qadc q WHERE v.vec_id <> q.query_id),
          |${p}cand AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |           row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
          |    FROM ${p}approx)
          |  WHERE rn <= 50),
          |${p}top AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT cd.query_id, cd.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY cd.query_id
          |             ORDER BY ${cosR("qq.emb", "ee.emb", 64)} DESC, cd.vec_id) AS rank
          |    FROM ${p}cand cd JOIN corpus qq ON qq.vec_id = cd.query_id
          |                     JOIN corpus ee ON ee.vec_id = cd.vec_id)
          |  WHERE rank <= $TopK)""".stripMargin
    }
    Map("q_pq_index_staleness" ->
      stalenessSql(dim, modelCtes("f", fresh), modelCtes("s", frozen)))
  }

  /** Oracles for the rotated-PQ index over the gate's full-corpus model:
    * its PCA rotation and rotated-space codebooks. The SQL replays projection, per-subspace argmin encoding, the
    * j-ordered ADC fold, and the exact full-dim rescore — the d9d oracle
    * pattern with the projected coordinates as its vector space. */
  private[graft] def reducedPqOracleSql(model: ReducedPqModel): Map[String, String] = {
    val dim = model.dim
    val nc = model.pcaDims
    val m = model.m
    val dsub = nc / m
    val rot = rotation(model.mean, model.comps)
    val values = codebookRows(model.books)
    Map("d9e_reduced_pq_topk" ->
      s"""WITH $rot,
         |books(j, c, nsq, w) AS (VALUES $values),
         |cp AS (SELECT e.vec_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
         |       FROM embeddings e, mm, cc),
         |${adcCtes("cp", "proj", m, dsub, "")},
         |exact AS (
         |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
         |         ${cosF("qq.embedding", "ee.embedding", dim)} AS cos
         |  FROM cand cd JOIN embeddings qq ON qq.vec_id = cd.query_id
         |               JOIN embeddings ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin,

      "q_reduced_pq_recall" ->
        s"""WITH $rot,
           |books(j, c, nsq, w) AS (VALUES $values),
           |cp AS (SELECT e.vec_id,
           |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
           |       FROM embeddings e, mm, cc),
           |${adcCtes("cp", "proj", m, dsub, "")},
           |exactr AS (
           |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
           |         ${cosF("qq.embedding", "ee.embedding", dim)} AS cos
           |  FROM cand cd JOIN embeddings qq ON qq.vec_id = cd.query_id
           |               JOIN embeddings ee ON ee.vec_id = cd.vec_id),
           |annk AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM exactr) WHERE rank <= $TopK),
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
           |fullsc AS (
           |  SELECT q.query_id, e.vec_id, ${cosF("q.q_emb", "e.embedding", dim)} AS cos
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           |fullrk AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM fullsc) WHERE rank <= $TopK)
           |SELECT f.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           |       count(a.neighbor_id)::DOUBLE / ${TopK}.0 AS recall
           |FROM fullrk f LEFT JOIN annk a
           |  ON a.query_id = f.query_id AND a.neighbor_id = f.vec_id
           |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin)
  }

  /** Oracles for the composed reduced-dimension index over the gate's
    * full-corpus model: the PCA rotation and the projected-space coarse
    * quantizer. The SQL replays projection (q6 coords), assignment
    * (nsq − 2·w·proj argmin, ties to the lowest index), nprobe probing,
    * the candidate cell join, and the exact full-dim rescore. */
  private[graft] def reducedIvfOracleSql(model: ReducedModel): Map[String, String] = {
    val dim = model.dim
    val nc = model.pcaDims
    val rot = rotation(model.mean, model.comps)
    val values = centroidRows(model.centroids)
    val shared =
      s"""WITH $rot,
         |rcent(c, nsq, w) AS (VALUES $values),
         |cp AS (SELECT e.vec_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
         |       FROM embeddings e, mm, cc),
         |dists AS (
         |  SELECT v.vec_id, rc.c, rc.nsq - 2.0 * ${dot("rc.w", "v.proj", nc)} AS d
         |  FROM cp v CROSS JOIN rcent rc),
         |rankedc AS (SELECT vec_id, c,
         |                   row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
         |assign AS (SELECT vec_id, c AS cell FROM rankedc WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, c AS cell FROM rankedc
         |           WHERE vec_id < 10 AND rn <= $IvfNprobe),
         |cands AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT cd.query_id, cd.vec_id, ${cosF("qq.embedding", "ee.embedding", dim)} AS cos
         |  FROM cands cd JOIN embeddings qq ON qq.vec_id = cd.query_id
         |                JOIN embeddings ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)""".stripMargin
    Map(
      "d22_reduced_ivf_topk" ->
        s"""$shared
           |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
           |ORDER BY query_id, rank""".stripMargin,

      "q_reduced_ivf_recall" ->
        s"""$shared,
           |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
           |fullsc AS (
           |  SELECT q.query_id, e.vec_id, ${cosF("q.q_emb", "e.embedding", dim)} AS cos
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           |fullrk AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM fullsc) WHERE rank <= $TopK),
           |annk AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $TopK)
           |SELECT f.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           |       count(a.neighbor_id)::DOUBLE / ${TopK}.0 AS recall
           |FROM fullrk f LEFT JOIN annk a
           |  ON a.query_id = f.query_id AND a.neighbor_id = f.vec_id
           |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin)
  }

  /** PCA oracles over the rotation (`mean`, `comps`) the gate trained
    * ([[graft.operators.Similarity.trainPca]]). Mean and components splice
    * as DOUBLE[] literals — `Double.toString` round-trips — and the SQL
    * replays centering, the ascending-dimension projection fold, the q6
    * coordinate rounding, and (for the recall gate) both candidate
    * rankings operation-for-operation. Training itself is pinned by the
    * single-node replica in SimilarityPlanSpec, not re-run in SQL. */
  private[graft] def pcaOracleSql(mean: Array[Double],
  comps: Array[Array[Double]]): Map[String, String] = {
    val dim = mean.length
    val nc = comps.length
    val rot = rotation(mean, comps)
    def cos8(a: String, b: String) =
      s"""round(
         |  ${dot(a, b, nc)} /
         |  (sqrt(${dot(a, a, nc)}) *
         |   sqrt(${dot(b, b, nc)})), 6)""".stripMargin
    def cosSlice(a: String, b: String, d: Int) =
      s"""round(
         |  ${dotF(a, b, d)} /
         |  (sqrt(${dotF(a, a, d)}) *
         |   sqrt(${dotF(b, b, d)})), 6)""".stripMargin
    Map(
    "q_pca_project" ->
      s"""WITH $rot
         |SELECT e.vec_id, t AS pc, ${coord("e.embedding", "t", dim)} AS coord
         |FROM embeddings e, mm, cc, unnest(range(1, ${nc + 1})) AS u(t)
         |ORDER BY vec_id, pc""".stripMargin,

    "q_pca_recall" ->
      s"""WITH $rot,
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |fullsc AS (
         |  SELECT q.query_id, e.vec_id, ${cosSlice("q.q_emb", "e.embedding", dim)} AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |fullrk AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM fullsc) WHERE rank <= $TopK),
         |psc AS (
         |  SELECT q.query_id, e.vec_id, ${cosSlice("q.q_emb", "e.embedding", nc)} AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |prk AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM psc) WHERE rank <= $TopK),
         |cp AS (SELECT e.vec_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("e.embedding", "t", dim)}) AS proj
         |       FROM embeddings e, mm, cc),
         |qp AS (SELECT q.query_id,
         |              list_transform(range(1, ${nc + 1}), t -> ${coord("q.q_emb", "t", dim)}) AS q_proj
         |       FROM q, mm, cc),
         |pcasc AS (
         |  SELECT qp.query_id, cp.vec_id, ${cos8("qp.q_proj", "cp.proj")} AS cos
         |  FROM cp CROSS JOIN qp WHERE cp.vec_id <> qp.query_id),
         |pcark AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM pcasc) WHERE rank <= $TopK),
         |lab AS (SELECT 'prefix' AS method, query_id, vec_id FROM prk
         |        UNION ALL SELECT 'pca' AS method, query_id, vec_id FROM pcark),
         |tot AS (SELECT method, CAST(count(*) AS BIGINT) AS n_ranked FROM lab GROUP BY 1),
         |hit AS (SELECT l.method, CAST(count(*) AS BIGINT) AS n_hits FROM lab l
         |        WHERE EXISTS (SELECT 1 FROM fullrk f
         |                      WHERE f.query_id = l.query_id AND f.vec_id = l.vec_id)
         |        GROUP BY 1)
         |SELECT tot.method, tot.n_ranked, COALESCE(hit.n_hits, 0) AS n_hits,
         |       floor(COALESCE(hit.n_hits, 0)::DOUBLE / tot.n_ranked::DOUBLE * 10000.0 + 0.5) / 10000.0 AS recall
         |FROM tot LEFT JOIN hit USING (method) ORDER BY method""".stripMargin)
  }

  /** Oracles of every gate that uses the full-corpus IVF centroids `cs`
    * ([[Similarity.trainIvfCentroids]] with nlist 16, dim 64, seed 42) —
    * the IVF index, k-means assignment and the semantic curation and
    * dedup family. The VALUES table carries, per centroid: its index, its
    * norm-squared EXACTLY as the Spark plan embeds it (`ctr.map(x*x).sum`
    * spliced as a literal — `Double.toString` round-trips, so DuckDB parses
    * back the identical double), and its weights. Distance, argmin
    * assignment (ties to lowest index, matching the struct ordering of
    * `centroidDists`), nprobe probing, candidate join, exact cosine, and
    * row_number ranking all mirror [[Similarity.ivfTopK]] operation by
    * operation; folds are ordered `list_reduce` == the native dot loop. */
  private[graft] def ivfOracleSql(cs: Array[Array[Double]]): Map[String, String] = {
    val values = centroidRows(cs)
    // shared prefix: centroid table, assignment (argmin, ties to lowest
    // index), nprobe probing, distinct candidate pairs
    val candCtes =
      s"""WITH centroids(c, nsq, w) AS (VALUES $values),
         |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |dists AS (
         |  SELECT v.vec_id, ct.c,
         |         ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
         |  FROM corp v CROSS JOIN centroids ct),
         |ranked_cells AS (
         |  SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
         |assign AS (SELECT vec_id, c AS cell FROM ranked_cells WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, c AS cell FROM ranked_cells
         |           WHERE vec_id < 10 AND rn <= $IvfNprobe),
         |cands AS (
         |  SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id)""".stripMargin
    Map(
      // nearest-centroid assignment + true squared distance (dists' d is
      // ‖c‖²−2·v·c; adding the row's ‖v‖² restores it, same as the Spark
      // column); ties to the lowest centroid index
      "q_kmeans_assign" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c,
           |         ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d,
           |         ${dot("v.emb", "v.emb", 64)} AS vsq
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c, d, vsq,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists)
           |SELECT vec_id, CAST(c AS INT) AS cluster, round(d + vsq, 6) AS dist2
           |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin,

      // same assignment CTEs as q_kmeans_assign, then the farthest-k
      // window on the ROUNDED dist2 (id tiebreak), matching the Spark
      // side's rank on its round6 column
      "q_semantic_outliers" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c,
           |         ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d,
           |         ${dot("v.emb", "v.emb", 64)} AS vsq
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c, d, vsq,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster, round(d + vsq, 6) AS dist2
           |           FROM ranked WHERE rn = 1),
           |ork AS (SELECT cluster, vec_id, dist2,
           |               row_number() OVER (PARTITION BY cluster
           |                 ORDER BY dist2 DESC, vec_id) AS out_rank
           |        FROM assign)
           |SELECT cluster, CAST(out_rank AS INT) AS out_rank, vec_id, dist2
           |FROM ork WHERE out_rank <= 3
           |ORDER BY cluster, out_rank""".stripMargin,

      "q_cluster_balanced_sample" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM ranked WHERE rn = 1),
           |sampled AS (
           |  SELECT cluster, vec_id,
           |         row_number() OVER (PARTITION BY cluster
           |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
           |  FROM assign)
           |SELECT cluster, vec_id FROM sampled WHERE r <= 10
           |ORDER BY cluster, vec_id""".stripMargin,

      // c-TF-IDF topics: same assignment CTEs, then token rows labeled
      // by their doc's cluster; idf q6-fixed per word from exact longs
      // (same ln input order: 1.0 + (n/16)/fw), score = exact long
      // product, rank on (score desc, word)
      "q_cluster_topics" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |rankedc AS (SELECT vec_id, c,
           |                   row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM rankedc WHERE rn = 1),
           |tok AS (SELECT a.cluster,
           |               unnest(list_filter(string_split(d.text, ' '), x -> x <> '')) AS word
           |        FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
           |tf AS (SELECT cluster, word, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
           |fw AS (SELECT word, CAST(count(*) AS BIGINT) AS fw FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
           |idf AS (SELECT word,
           |               CAST(floor(ln(1.0 + (n::DOUBLE / 16.0) / fw::DOUBLE)
           |                          * 1000000.0 + 0.5) AS BIGINT) AS idf_q6
           |        FROM fw, tot),
           |sc AS (SELECT tf.cluster, tf.word, tf.tf, tf.tf * idf.idf_q6 AS score_q6
           |       FROM tf JOIN idf USING (word)),
           |rk AS (SELECT cluster, word, tf, score_q6,
           |              row_number() OVER (PARTITION BY cluster
           |                ORDER BY score_q6 DESC, word) AS rank
           |       FROM sc)
           |SELECT cluster, rank, word, tf, score_q6 FROM rk WHERE rank <= 3
           |ORDER BY cluster, rank""".stripMargin,

      // the incremental form: the held-out fifth (vec_id % 5 = 0) pairs
      // against the other fifths' cell index under the same exported
      // centroids; min dup id / max cosine per incoming vector
      "d18_incremental_semantic_dedup" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM ranked WHERE rn = 1),
           |nrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM corp)),
           |inc AS (SELECT vec_id, cluster FROM assign WHERE vec_id % 5 = 0),
           |idx AS (SELECT vec_id AS c_id, cluster FROM assign WHERE vec_id % 5 <> 0),
           |pairs AS (
           |  SELECT inc.vec_id, idx.c_id, round(${dot("na.emb", "nb.emb", 64)}, 6) AS cosv
           |  FROM inc JOIN idx ON inc.cluster = idx.cluster
           |  JOIN nrm na ON na.vec_id = inc.vec_id
           |  JOIN nrm nb ON nb.vec_id = idx.c_id),
           |sc AS (SELECT vec_id, min(c_id) AS dup_of, max(cosv) AS best_cos
           |       FROM pairs WHERE cosv >= $CosineNearDupThreshold GROUP BY vec_id)
           |SELECT inc.vec_id, sc.dup_of, sc.best_cos, sc.dup_of IS NULL AS keep
           |FROM inc LEFT JOIN sc USING (vec_id)
           |ORDER BY inc.vec_id""".stripMargin,

      // hybrid incremental oracle: the d12 lexical stack (sig → band →
      // incoming×corpus candidates → exact Jaccard) and the d18 semantic
      // stack (centroid assignment → cell-confined cosine), both on the
      // % 5 split, combined through one final id join — keep = both null
      "d19_hybrid_incremental_dedup" ->
        s"""WITH $sigCte,
           |$bandedCte,
           |cands AS (
           |  SELECT i.doc_id AS doc_a, c.doc_id AS doc_b
           |  FROM banded i JOIN banded c ON i.band = c.band AND i.bucket = c.bucket
           |  WHERE i.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
           |    AND i.doc_id IN (SELECT vec_id FROM embeddings)
           |    AND c.doc_id IN (SELECT vec_id FROM embeddings)
           |  GROUP BY 1, 2),
           |jsh AS ($DuckShingles),
           |jh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle),1,8))::BIGINT AS h FROM jsh),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM jh GROUP BY doc_id),
           |linter AS (SELECT ca.doc_a, ca.doc_b, count(*) AS inter
           |           FROM cands ca
           |           JOIN jh x ON x.doc_id = ca.doc_a
           |           JOIN jh y ON y.doc_id = ca.doc_b AND y.h = x.h
           |           GROUP BY 1, 2),
           |lverified AS (
           |  SELECT doc_a, doc_b,
           |         round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
           |  FROM linter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
           |  WHERE round(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= $JaccardThreshold),
           |lmatch AS (
           |  SELECT doc_a AS doc_id, CAST(min(doc_b) AS BIGINT) AS lex_dup_of,
           |         max(jaccard) AS best_jaccard
           |  FROM lverified GROUP BY doc_a),
           |centroids(c, nsq, w) AS (VALUES $values),
           |ecorp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |edists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM ecorp v CROSS JOIN centroids ct),
           |eranked AS (SELECT vec_id, c,
           |                   row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM edists),
           |eassign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM eranked WHERE rn = 1),
           |enrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM ecorp)),
           |einc AS (SELECT vec_id, cluster FROM eassign WHERE vec_id % 5 = 0),
           |eidx AS (SELECT vec_id AS c_id, cluster FROM eassign WHERE vec_id % 5 <> 0),
           |epairs AS (
           |  SELECT einc.vec_id, eidx.c_id, round(${dot("na.emb", "nb.emb", 64)}, 6) AS cosv
           |  FROM einc JOIN eidx ON einc.cluster = eidx.cluster
           |  JOIN enrm na ON na.vec_id = einc.vec_id
           |  JOIN enrm nb ON nb.vec_id = eidx.c_id),
           |smatch AS (SELECT vec_id AS doc_id, CAST(min(c_id) AS BIGINT) AS sem_dup_of,
           |                  max(cosv) AS best_cos
           |           FROM epairs WHERE cosv >= $CosineNearDupThreshold GROUP BY vec_id)
           |SELECT d.doc_id, l.lex_dup_of, l.best_jaccard, s.sem_dup_of, s.best_cos,
           |       l.lex_dup_of IS NULL AND s.sem_dup_of IS NULL AS keep
           |FROM documents d
           |LEFT JOIN lmatch l ON d.doc_id = l.doc_id
           |LEFT JOIN smatch s ON d.doc_id = s.doc_id
           |WHERE d.doc_id % 5 = 0
           |  AND d.doc_id IN (SELECT vec_id FROM embeddings)
           |ORDER BY d.doc_id""".stripMargin,

      // the same centroid assignment + normalize-then-dot cosine as the
      // SemDeDup oracle, with the shared md5 hash split cutting the
      // corpus into train/test and pairing confined to shared cells
      "q_split_leakage_semantic" ->
        s"""WITH centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM ranked WHERE rn = 1),
           |nrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM corp)),
           |sp AS (SELECT vec_id,
           |              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |       FROM (SELECT vec_id,
           |                    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
           |             FROM corp)),
           |te AS (SELECT a.vec_id, a.cluster FROM assign a JOIN sp USING (vec_id)
           |       WHERE sp.split = 'test'),
           |tr AS (SELECT a.vec_id AS t_id, a.cluster FROM assign a JOIN sp USING (vec_id)
           |       WHERE sp.split = 'train'),
           |pairs AS (
           |  SELECT te.vec_id, round(${dot("na.emb", "nb.emb", 64)}, 6) AS cosv
           |  FROM te JOIN tr ON te.cluster = tr.cluster
           |  JOIN nrm na ON na.vec_id = te.vec_id
           |  JOIN nrm nb ON nb.vec_id = tr.t_id),
           |sc AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_near, max(cosv) AS best_cos
           |       FROM pairs WHERE cosv >= $CosineNearDupThreshold GROUP BY vec_id)
           |SELECT te.vec_id, CAST(COALESCE(sc.n_near, 0) AS BIGINT) AS n_near, sc.best_cos,
           |       COALESCE(sc.n_near, 0) > 0 AS leaked
           |FROM te LEFT JOIN sc USING (vec_id)
           |ORDER BY te.vec_id""".stripMargin,

      // both audits' full CTE stacks (d14 windows + hash split on the
      // text side; centroid assignment + cell-confined cosine on the
      // embedding side) joined on the id — the same split predicate
      // drives both because documents and embeddings share ids
      "q_split_leakage_hybrid" ->
        s"""WITH t AS (
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
           |twh AS (SELECT DISTINCT h FROM w WHERE split = 'train'),
           |lk AS (SELECT w.doc_id, count(*) AS n_leaked
           |       FROM w JOIN twh USING (h) WHERE w.split = 'test' GROUP BY w.doc_id),
           |lex AS (SELECT s.doc_id, CAST(COALESCE(lk.n_leaked, 0) AS BIGINT) AS n_leaked
           |        FROM s LEFT JOIN lk ON s.doc_id = lk.doc_id WHERE s.split = 'test'),
           |centroids(c, nsq, w2) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w2", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM ranked WHERE rn = 1),
           |nrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM corp)),
           |sp AS (SELECT vec_id,
           |              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |       FROM (SELECT vec_id,
           |                    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
           |             FROM corp)),
           |te AS (SELECT a.vec_id, a.cluster FROM assign a JOIN sp USING (vec_id)
           |       WHERE sp.split = 'test'),
           |trv AS (SELECT a.vec_id AS t_id, a.cluster FROM assign a JOIN sp USING (vec_id)
           |        WHERE sp.split = 'train'),
           |pairs AS (
           |  SELECT te.vec_id, round(${dot("na.emb", "nb.emb", 64)}, 6) AS cosv
           |  FROM te JOIN trv ON te.cluster = trv.cluster
           |  JOIN nrm na ON na.vec_id = te.vec_id
           |  JOIN nrm nb ON nb.vec_id = trv.t_id),
           |sc AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_near
           |       FROM pairs WHERE cosv >= $CosineNearDupThreshold GROUP BY vec_id),
           |sem AS (SELECT te.vec_id AS doc_id, CAST(COALESCE(sc.n_near, 0) AS BIGINT) AS n_near
           |        FROM te LEFT JOIN sc USING (vec_id))
           |SELECT lex.doc_id, lex.n_leaked, sem.n_near,
           |       lex.n_leaked > 0 OR sem.n_near > 0 AS leaked
           |FROM lex JOIN sem USING (doc_id)
           |ORDER BY lex.doc_id""".stripMargin,

      // SemDeDup oracle: same centroid assignment as q_kmeans_assign,
      // d6's normalize-then-dot cosine confined to same-cluster pairs,
      // d10's recursive transitive closure, d10b's survivor rule
      // (component minima + singletons)
      "d16_semantic_dedup" ->
        s"""WITH RECURSIVE centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM ranked WHERE rn = 1),
           |nrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM corp)),
           |pairs AS (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id
           |  WHERE round(${dot("na.emb", "nb.emb", 64)}, 6) >= $CosineNearDupThreshold),
           |edges AS (SELECT vec_a AS v, vec_b AS u FROM pairs
           |          UNION SELECT vec_b, vec_a FROM pairs),
           |reach(v, l) AS (
           |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
           |  UNION
           |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
           |comp AS (SELECT v AS vec_id, CAST(min(l) AS BIGINT) AS component
           |         FROM reach GROUP BY v)
           |SELECT a.vec_id, a.cluster
           |FROM assign a LEFT JOIN comp c ON a.vec_id = c.vec_id
           |WHERE c.component IS NULL OR a.vec_id = c.component
           |ORDER BY a.vec_id""".stripMargin,

      // the full embedding-side pipeline replayed from the exported
      // model: assignment + true dist2 (q_semantic_outliers' CTEs), the
      // farthest-k removal, d16's cell-confined cosine pairs over the
      // RETAINED set + recursive closure + survivor rule, and the
      // md5-rank diversity cap
      "e2e_semantic_curation" ->
        s"""WITH RECURSIVE centroids(c, nsq, w) AS (VALUES $values),
           |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |dists AS (
           |  SELECT v.vec_id, ct.c,
           |         ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d,
           |         ${dot("v.emb", "v.emb", 64)} AS vsq
           |  FROM corp v CROSS JOIN centroids ct),
           |ranked AS (SELECT vec_id, c, d, vsq,
           |                  row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM dists),
           |assign AS (SELECT vec_id, CAST(c AS INT) AS cluster, round(d + vsq, 6) AS dist2
           |           FROM ranked WHERE rn = 1),
           |ork AS (SELECT vec_id, cluster,
           |               row_number() OVER (PARTITION BY cluster
           |                 ORDER BY dist2 DESC, vec_id) AS orr
           |        FROM assign),
           |kept AS (SELECT vec_id, cluster FROM ork WHERE orr > 3),
           |nrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM corp)),
           |pairs AS (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM kept a JOIN kept b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id
           |  WHERE round(${dot("na.emb", "nb.emb", 64)}, 6) >= $CosineNearDupThreshold),
           |edges AS (SELECT vec_a AS v, vec_b AS u FROM pairs
           |          UNION SELECT vec_b, vec_a FROM pairs),
           |reach(v, l) AS (
           |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
           |  UNION
           |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
           |comp AS (SELECT v AS vec_id, CAST(min(l) AS BIGINT) AS component
           |         FROM reach GROUP BY v),
           |surv AS (SELECT k.cluster, k.vec_id FROM kept k
           |         LEFT JOIN comp c ON k.vec_id = c.vec_id
           |         WHERE c.component IS NULL OR k.vec_id = c.component),
           |capd AS (
           |  SELECT cluster, vec_id,
           |         row_number() OVER (PARTITION BY cluster
           |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
           |  FROM surv)
           |SELECT cluster, vec_id FROM capd WHERE r <= 10
           |ORDER BY cluster, vec_id""".stripMargin,

      // hybrid dedup oracle: the shared lexical fragments (sig → band →
      // candidate → verify) produce lex_pairs; the centroid VALUES +
      // normalize-then-dot produce sem_pairs; ONE recursive closure over
      // the union, d10b's survivor rule
      "d17_hybrid_dedup" ->
        s"""WITH RECURSIVE $sigCte,
           |$lshCandsCte,
           |$jaccardCte,
           |lex_pairs AS (
           |  SELECT c.doc_a, c.doc_b FROM cands c
           |  JOIN verified v ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b),
           |centroids(c, nsq, w) AS (VALUES $values),
           |ecorp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
           |edists AS (
           |  SELECT v.vec_id, ct.c, ct.nsq - 2.0 * ${dot("ct.w", "v.emb", 64)} AS d
           |  FROM ecorp v CROSS JOIN centroids ct),
           |eranked AS (SELECT vec_id, c,
           |                   row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM edists),
           |eassign AS (SELECT vec_id, CAST(c AS INT) AS cluster FROM eranked WHERE rn = 1),
           |enrm AS (
           |  SELECT vec_id, list_transform(emb, x -> x / n) AS emb
           |  FROM (SELECT vec_id, emb, sqrt(${dot("emb", "emb", 64)}) AS n FROM ecorp)),
           |sem_pairs AS (
           |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           |  FROM eassign a JOIN eassign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN enrm na ON na.vec_id = a.vec_id JOIN enrm nb ON nb.vec_id = b.vec_id
           |  WHERE round(${dot("na.emb", "nb.emb", 64)}, 6) >= $CosineNearDupThreshold),
           |all_pairs AS (SELECT doc_a, doc_b FROM lex_pairs
           |              UNION SELECT doc_a, doc_b FROM sem_pairs),
           |edges AS (SELECT doc_a AS v, doc_b AS u FROM all_pairs
           |          UNION SELECT doc_b, doc_a FROM all_pairs),
           |reach(v, l) AS (
           |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
           |  UNION
           |  SELECT e.v, r.l FROM edges e JOIN reach r ON e.u = r.v),
           |comp AS (SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS component
           |         FROM reach GROUP BY v)
           |SELECT d.doc_id, d.source
           |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
           |WHERE c.component IS NULL OR d.doc_id = c.component
           |ORDER BY d.doc_id""".stripMargin,

      "d8_ann_ivf_topk" ->
        s"""$candCtes,
           |scored AS (
           |  SELECT cd.query_id, cd.vec_id, ${cosR("qq.emb", "ee.emb", 64)} AS cos
           |  FROM cands cd JOIN corp qq ON qq.vec_id = cd.query_id JOIN corp ee ON ee.vec_id = cd.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id AS neighbor_id, cos,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
           |ORDER BY query_id, rank""".stripMargin,
      // d9's quantized ranking + exact rescore over the same IVF candidates
      "d9c_quantized_ivf_topk" ->
        s"""$candCtes,
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
           |ORDER BY query_id, rank""".stripMargin,
      // d8's ANN ranking joined per query against d5's exact ranking;
      // recall = hits/k needs no rounding
      "q_ann_recall_ivf" ->
        s"""$candCtes,
           |scored AS (
           |  SELECT cd.query_id, cd.vec_id, ${cosR("qq.emb", "ee.emb", 64)} AS cos
           |  FROM cands cd JOIN corp qq ON qq.vec_id = cd.query_id JOIN corp ee ON ee.vec_id = cd.vec_id),
           |ann AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |    FROM scored) WHERE rank <= $TopK),
           |ex_scored AS (
           |  SELECT q.vec_id AS query_id, e.vec_id, ${cosR("q.emb", "e.emb", 64)} AS cos
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
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)
  }

  /** PQ oracle over the full-space codebooks `books` the d9d gate trained
    * ([[Similarity.trainPqCodebooks]] with dim 64). The VALUES table carries one row per (subspace, code): the codeword's
    * norm-squared exactly as the Spark plan embeds it and its dim/m
    * weights. Code assignment (argmin per subspace, ties to lowest code),
    * the per-query ADC table, the ORDERED j=1..m lookup fold (list_reduce
    * mirrors the Spark `reduce(_ + _)` left fold — a GROUP BY sum would
    * re-order the float adds), ADC ranking, exact rescore, and final
    * ranking all mirror [[Similarity.pqTopK]] operation by operation. */
  private[graft] def pqOracleSql(books: Array[Array[Array[Double]]]): Map[String, String] = {
    val m = books.length
    val dsub = 64 / m
    val values = codebookRows(books)
    Map("d9d_pq_topk" ->
      s"""WITH books(j, c, nsq, w) AS (VALUES $values),
         |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
         |${adcCtes("corp", "emb", m, dsub, "")},
         |exact AS (
         |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
         |         ${cosR("qq.emb", "ee.emb", 64)} AS cos
         |  FROM cand cd JOIN corp qq ON qq.vec_id = cd.query_id
         |               JOIN corp ee ON ee.vec_id = cd.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM exact)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin)
  }
}

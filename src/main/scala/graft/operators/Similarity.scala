package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *
  *   - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline:
  *     O(queries × corpus) dot products via `zip_with`/`aggregate` (codegen'd
  *     higher-order functions, left-fold in index order so the result is
  *     bit-reproducible across engines).
  *   - [[lshBucketTopK]] — the scale path: random-hyperplane LSH buckets the
  *     corpus, candidates are the query's bucket (plus probes), and only
  *     candidates get exact scoring. At 100 TB the bucket join replaces the
  *     all-pairs cross join; recall is tunable via bits/probes.
  *
  * An IVF refinement (k-means coarse quantizer) follows the same skeleton with
  * learned centroids instead of random hyperplanes; hyperplanes need no
  * training pass, which keeps this operator deterministic and self-contained.
  */
object Similarity {

  /** Cosine similarity between two double-array columns, left-fold order.
    * All arithmetic in double; engine-portable bit-for-bit. */
  def cosine(a: Column, b: Column): Column = {
    import graft.expressions.GraftExpressions.{dot => ndot}
    ndot(a, b) / (sqrt(ndot(a, a)) * sqrt(ndot(b, b)))
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** L2-normalized copy of a double-array column: pre-normalizing once per
    * vector turns every pairwise cosine into a single dot product — 3× less
    * arithmetic on the pair path, which is what dominates bucketed scoring. */
  private def normalized(c: Column): Column = graft.expressions.GraftExpressions.l2Normalize(c)

  /** Dot product of two equal-length double arrays (left-fold order). */
  private def dot(a: Column, b: Column): Column = graft.expressions.GraftExpressions.dot(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries   (query_id, embedding) — small side, broadcast
    * @param corpus    (vec_id, embedding)
    * @param k         neighbors per query (query itself excluded)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    // row_number + rank<=k compiles to WindowGroupLimit(Partial) BEFORE the
    // shuffle: each map task keeps only its k best rows per query, so the
    // exchange carries O(tasks·queries·k), not all |corpus|·|queries| scores.
    // A hand-rolled bounded-heap aggregate would not beat this (and would
    // leave whole-stage codegen). Pinned by SimilarityPlanSpec.
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: each query's top-k
    * HIGHEST-cosine corpus vectors whose label differs — the negatives
    * that sit closest to the decision boundary, which is what contrastive
    * objectives want (random negatives — [[graft.operators.CoreOps
    * .negativeSamples]] — are the cheap baseline). Same WindowGroupLimit
    * shape as [[bruteForceTopK]]: map tasks keep k rows per query before
    * the shuffle; the label predicate rides the broadcast join. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"),
      col("label").as("c_label"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"),
      col("label").as("q_label")))
    val scored = c.join(q, col("vec_id") =!= col("query_id") && col("c_label") =!= col("q_label"))
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neg_id"), col("cos"))
  }

  /** Scalar-quantized (int8-style) top-k with exact rescoring.
    *
    * Each vector is quantized to 127 levels per component with a per-vector
    * scale (`s = max|x|/127`, code `floor(x/s + 0.5)` — round-half-up, the
    * rounding both engines compute identically). Candidate ranking runs on
    * the RECONSTRUCTED vectors (`code·s`), the top `rescoreFactor·k` per
    * query are rescored with exact cosine, and the final top-k is returned
    * in [[bruteForceTopK]]'s schema.
    *
    * The scale story is bandwidth: the codes are small ints (int8 on the
    * wire/disk, 8× smaller than float64), so scans and shuffles of the
    * corpus shrink 8× while the exact-rescore stage touches only
    * `rescoreFactor·k` full vectors per query. Without `candidates`,
    * generation is exhaustive (the measured-recall baseline); pass
    * [[lshCandidates]] output — distinct (query_id, vec_id) pairs — to run
    * the int8 ranking over bucketed candidates only, the form a 100 TB
    * corpus actually uses. Requires non-zero vectors (an all-zero embedding
    * has no scale).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rescoreFactor: Int = 4, candidates: Option[DataFrame] = None): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    def prep(df: DataFrame, idAs: String): DataFrame =
      df.select(col(df.columns.head).as(idAs), asDouble(col("embedding")).as("e"))
        .withColumn("s", array_max(transform(col("e"), x => abs(x))) / lit(127.0))
        .withColumn("r", transform(col("e"), x => floor(x / col("s") + lit(0.5)) * col("s")))
    val c = prep(corpus.select("vec_id", "embedding"), "vec_id")
    val q = broadcast(prep(queries.select("query_id", "embedding"), "query_id")
      .select(col("query_id"), col("e").as("q_e"), col("r").as("q_r")))
    val paired = candidates match {
      case Some(cd) => cd.select("query_id", "vec_id").join(q, Seq("query_id")).join(c, Seq("vec_id"))
      case None => c.join(q, col("vec_id") =!= col("query_id"))
    }
    val approx = paired.withColumn("acos", cosine(col("q_r"), col("r")))
    // both rank filters compile to partial WindowGroupLimit pruning
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("vec_id"))
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    approx.withColumn("arank", row_number().over(w1))
      .where(col("arank") <= k * rescoreFactor)
      .withColumn("cos", round(cosine(col("q_e"), col("e")), 6))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Deterministic hyperplane weight in [-1, 1), shared bit-for-bit with the
    * DuckDB oracle: the first 52 bits of md5("seed:tbl:bit:i") scaled by the
    * exact power of two 2/2^52. md5 (not mix64) because the oracle has to
    * recompute it and DuckDB lacks wraparound 64-bit multiply; 52 bits so the
    * integer→double conversion is exact; the scale and shift are exact IEEE
    * ops, so both engines produce the identical double. */
  private[operators] def planeWeight(seed: Long, tbl: Int, bit: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$tbl:$bit:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(7).map(b => f"$b%02x").mkString.take(13)
    java.lang.Long.parseLong(hex, 16) * (2.0 / (1L << 52)) - 1.0
  }

  /** Deterministic random hyperplanes for hash table `tbl`: `bits` vectors of
    * [[planeWeight]] doubles per dimension. Returned as plan literals. */
  private def hyperplanes(dim: Int, bits: Int, tbl: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits, dim)((b, i) => planeWeight(seed, tbl, b, i))

  /** Sign-bucket signature: bit b = 1 iff dot(plane_b, v) > 0. */
  def lshSignature(emb: Column, planes: Array[Array[Double]]): Column = {
    val bitCols = planes.zipWithIndex.map { case (p, b) =>
      val planeCol = array(p.map(lit): _*)
      val d = graft.expressions.GraftExpressions.dot(planeCol, emb)
      when(d > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Multi-table bucket column: array of (table, bucket) structs, one per
    * hash table, each table using its own `bitsPerTable` hyperplanes.
    * OR-amplification: a pair is a candidate if it collides in ANY table —
    * recall 1 − (1 − p^b)^T for per-bit agreement probability p. A single
    * table's recall collapses for moderate-cosine pairs (p^bits); multiple
    * smaller tables fix that at the cost of more candidates. */
  private def tableBuckets(emb: Column, dim: Int, bitsPerTable: Int, numTables: Int, seed: Long): Column =
    array((0 until numTables).map { t =>
      val planes = hyperplanes(dim, bitsPerTable, t, seed)
      struct(lit(t).as("tbl"), lshSignature(emb, planes).as("bucket"))
    }: _*)

  /** Distinct (query_id, vec_id) candidate pairs colliding with the query in
    * at least one LSH hash table — the candidate stage shared by
    * [[lshBucketTopK]] and candidate-fed [[quantizedTopK]]. Ids only through
    * the bucket join + dedup; callers join embeddings (or codes) back once
    * per unique pair, never per bucket collision.
    *
    * @param bitsPerTable hyperplanes per hash table; 0 = auto from corpus
    *   size. Auto-derivation runs one count() job over the corpus — at
    *   scale, count once per dataset and pass `bitsForCorpus(n)` (or the
    *   known row count's bits) explicitly across queries.
    */
  def lshCandidates(corpus: DataFrame, queries: DataFrame,
      dim: Int = 64, bitsPerTable: Int = 0, numTables: Int = 8, seed: Long = 42L): DataFrame = {
    val bits = if (bitsPerTable > 0) bitsPerTable else bitsForCorpus(corpus.count())
    val cIds = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("tb", explode(tableBuckets(col("emb"), dim, bits, numTables, seed)))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val qIds = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("tb", explode(tableBuckets(col("q_emb"), dim, bits, numTables, seed)))
      .select(col("query_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket")))
    cIds.join(qIds, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** LSH-bucketed approximate top-k: candidates collide with the query in at
    * least one hash table; exact cosine on candidates only. Same schema as
    * [[bruteForceTopK]]; queries whose buckets hold fewer than k distinct
    * candidates return fewer rows — the recall/cost trade-off of the scale
    * path. At 100 TB the (tbl, bucket) equi-join replaces the cross join.
    *
    * `bitsPerTable = 0` (default) derives the signature width from the
    * corpus size via [[bitsForCorpus]] — per-query candidate volume is
    * |queries| × occupancy, so fixing occupancy (instead of bits) keeps
    * cost AND recall stable as the corpus grows.
    *
    * @param bitsPerTable hyperplanes per hash table; 0 = auto from corpus size
    */
  def lshBucketTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, bitsPerTable: Int = 0, numTables: Int = 8, seed: Long = 42L): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val q = queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
    val candidates = lshCandidates(corpus, queries, dim, bitsPerTable, numTables, seed)
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("vec_id"))
    val scored = candidates.withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** IVF (inverted-file) coarse quantizer: k-means centroids trained with
    * deterministic seeding (k-means|| style init from seeded picks, fixed
    * iteration count), assignments as the bucket key. The trained counterpart
    * of the random-hyperplane tables: one extra training pass buys better-
    * shaped cells. Training runs on a sample collected to the driver — the
    * centroid table is tiny (nlist × dim) and broadcast back.
    *
    * The sample is the `sampleSize` rows minimizing a seeded hash of vec_id
    * (a TakeOrdered top-n, no full sort) — deterministic under any file
    * layout or repartitioning, unlike a bare `limit` which takes whatever
    * partitions answer first and silently changes the centroids.
    *
    * The centroids are the whole model: the operators below take them as a
    * value, and a gate hands the same value to its DuckDB oracle. */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int, dim: Int,
      iterations: Int = 8, sampleSize: Int = 4096, seed: Long = 42L): Array[Array[Double]] =
    trainCentroidsOn(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("__vec")),
      nlist, dim, iterations, sampleSize, seed)

  /** The k-means core of [[trainIvfCentroids]] over any (vec_id, __vec)
    * table — shared with the reduced-space trainer. */
  private def trainCentroidsOn(df: DataFrame, nlist: Int, dim: Int,
      iterations: Int, sampleSize: Int, seed: Long): Array[Array[Double]] = {
    val sample = df
      .select(col("vec_id").cast("long").as("vid"), col("__vec").as("emb"))
      .orderBy(xxhash64(col("vid"), lit(seed)), col("vid"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty corpus")
    // deterministic init: spread picks over the sample
    var centroids = Array.tabulate(math.min(nlist, sample.length)) { c =>
      sample(((graft.dp.Mix.mix64(seed + c) >>> 33) % sample.length).toInt).clone()
    }
    for (_ <- 0 until iterations) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      val ctr = centroids(c)
      while (i < v.length) { val x = v(i) - ctr(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Per-centroid (distance, index) structs as a literal-backed column:
    * d(v, c) = c·c − 2·v·c, the squared distance minus the per-row constant
    * ‖v‖² — same argmin/ordering, one native dot per centroid, all codegen
    * (no UDF). Struct ordering is lexicographic (d, then c), so ties break
    * to the lowest centroid index, matching [[nearestCentroid]]. */
  private def centroidDists(emb: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (ctr, i) =>
      val cNormSq = ctr.map(x => x * x).sum
      val cc = array(ctr.map(lit): _*)
      struct((lit(cNormSq) - lit(2.0) * dot(cc, emb)).as("d"), lit(i).as("c"))
    }: _*)

  /** IVF approximate top-k: corpus rows live in their nearest centroid's
    * list; each query probes its `nprobe` nearest lists and exact-scores only
    * those candidates. The (cell) equi-join replaces the cross join, same as
    * the LSH path, but with data-adapted cells. Assignment and probing are
    * native expressions over the broadcast-literal centroid table. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    ivfTopK(corpus, queries, k, trainIvfCentroids(corpus, nlist, dim, seed = seed), nprobe)

  /** [[ivfTopK]] over already-trained `centroids`. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("cell", array_min(centroidDists(col("emb"), centroids)).getField("c"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(transform(
        slice(sort_array(centroidDists(col("q_emb"), centroids)), 1, nprobe),
        s => s.getField("c")))))
    val scored = c.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Semantic corpus clustering: every vector assigned to its nearest
    * trained centroid, with its exact squared distance — the curation
    * primitive behind cluster-balanced (diversity) sampling, semantic
    * near-dup pruning, and topic-mix dataset cards. Same deterministic
    * k-means as the IVF index ([[trainIvfCentroids]]), so cluster ids agree
    * with [[ivfTopK]]'s cells for a given (corpus, seed).
    *
    * Scale shape: training touches a bounded sample; assignment is a pure
    * projection over broadcast-literal centroids (one native dot per
    * centroid, all codegen) — zero shuffles over the corpus. */
  def kmeansAssign(corpus: DataFrame,
      dim: Int = 64, nlist: Int = 16, seed: Long = 42L): DataFrame =
    kmeansAssign(corpus, trainIvfCentroids(corpus, nlist, dim, seed = seed))

  /** [[kmeansAssign]] under already-trained `centroids`. */
  def kmeansAssign(corpus: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("best", array_min(centroidDists(col("emb"), centroids)))
      .select(col("vec_id"),
        col("best").getField("c").as("cluster"),
        // centroidDists carries d = ‖c‖² − 2·v·c; add the per-row ‖v‖² back
        // for the true squared distance
        round(col("best").getField("d") + dot(col("emb"), col("emb")), 6).as("dist2"))

  /** Semantic outlier pruning: the `k` vectors FARTHEST from their
    * cluster's centroid, per cluster — the noise-removal curation step
    * (mislabeled scrapes, encoding garbage, off-distribution samples sit
    * far from every centroid after clustering). Ranking uses the ROUNDED
    * round6 distance with an id tiebreak, so the order is identical in any
    * engine that agrees on [[kmeansAssign]]'s assignment (which the oracle
    * already hash-matches).
    *
    * Scale shape: assignment is [[kmeansAssign]]'s zero-shuffle projection
    * over broadcast-literal centroids; the per-cluster rank is one window
    * over (vec_id, cluster, dist2) scalar rows — WindowGroupLimit prunes
    * to k per cluster map-side, and no embedding enters the exchange. */
  def semanticOutliers(corpus: DataFrame, k: Int,
      dim: Int = 64, nlist: Int = 16, seed: Long = 42L): DataFrame =
    semanticOutliers(corpus, trainIvfCentroids(corpus, nlist, dim, seed = seed), k)

  /** [[semanticOutliers]] under already-trained `centroids`. */
  def semanticOutliers(corpus: DataFrame, centroids: Array[Array[Double]],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val assigned = kmeansAssign(corpus, centroids)
      .select("vec_id", "cluster", "dist2")
    val w = Window.partitionBy(col("cluster")).orderBy(col("dist2").desc, col("vec_id"))
    assigned.withColumn("out_rank", row_number().over(w))
      .where(col("out_rank") <= k)
      .select(col("cluster"), col("out_rank"), col("vec_id"), col("dist2"))
  }

  /** Chunk→document embedding pooling: the element-wise mean of each
    * group's vectors (document embedding from its chunks' embeddings), in
    * LONG format — (group, dimension position, fixed-point mean) — the
    * scalar-row shape that shuffles and oracle-compares cleanly.
    *
    * Values pool in q6 FIXED-POINT (round(v·10⁶) longs, the
    * `q_dataset_card` pattern): long sums are exact and order-independent,
    * so the result never depends on float summation order — partial
    * aggregation, retries, and any partitioning give identical bytes, and
    * a SQL oracle reproduces them. Per-(group, pos) sums stay well inside
    * a long for any realistic chunk count.
    *
    * Scale shape: posexplode to (group, pos, q6) then ONE map-side-combined
    * aggregate — the shuffle carries (group, pos, partial sum, count)
    * longs, dim rows per group per task, never whole vectors. */
  def meanPoolQ6(chunks: DataFrame, groupCol: String, embCol: String): DataFrame =
    chunks.select(col(groupCol).as("group_id"), posexplode(col(embCol)).as(Seq("pos", "v")))
      .withColumn("q6", round(col("v").cast("double") * lit(1000000.0)).cast("long"))
      .groupBy("group_id", "pos")
      .agg(round(sum(col("q6")).cast("double") / count(lit(1))).cast("long").as("mean_q6"))

  /** Distinct (query_id, vec_id) candidate pairs from the IVF cells: corpus
    * rows living in any of the query's `nprobe` nearest cells — the
    * trained-quantizer analogue of [[lshCandidates]], for feeding
    * candidate-consuming scorers like [[quantizedTopK]]. Training is the
    * same deterministic [[trainIvfCentroids]], so a given (corpus, seed)
    * yields the same cells as [[ivfTopK]]. ([[ivfTopK]] itself keeps its
    * single-pass cell join — embeddings ride the broadcast join there, so
    * an ids-only detour would only add a corpus shuffle; candidate feeds
    * are for scorers that join their own compact representation back.) */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame,
      dim: Int = 64, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    ivfCandidates(corpus, queries, trainIvfCentroids(corpus, nlist, dim, seed = seed), nprobe)

  /** [[ivfCandidates]] from already-trained `centroids`. */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("cell", array_min(centroidDists(col("emb"), centroids)).getField("c"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(transform(
        slice(sort_array(centroidDists(col("q_emb"), centroids)), 1, nprobe),
        s => s.getField("c")))))
    c.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** Bucket-signature bits for a corpus of `n` vectors: enough hyperplanes
    * that the EXPECTED bucket occupancy is ≤ `targetBucket`, floored at 4.
    * Per-table candidate volume is Σ n_b² ≈ n·occupancy, so fixing occupancy
    * (instead of fixing bits) keeps the candidate join LINEAR in corpus size —
    * 4 fixed bits made it n²/16 (952 MB shuffled for a 2 k corpus). */
  def bitsForCorpus(n: Long, targetBucket: Int = 64): Int = {
    // integer-exact (no float log2 whose 1-ulp error could flip the ceil at
    // power-of-two corpus sizes) — the DuckDB oracle mirrors this as
    // min(b in [4,20]) with targetBucket·2^b >= n
    var b = 4
    while (b < 20 && (targetBucket.toLong << b) < n) b += 1
    b
  }

  /** Embedding-cosine near-duplicate pairs above a threshold — the
    * embedding-space analogue of [[Dedup.jaccardPairs]]. Multi-table LSH
    * generates candidates; only colliding pairs are scored exactly.
    *
    * Scale shape: the (tbl, bucket) self-join carries IDS ONLY — candidate
    * pairs are deduplicated as bare (vec_a, vec_b) longs, and the 64-double
    * embeddings are joined back ONCE per side afterwards, so each unique pair
    * costs one dot product and the shuffle never moves an embedding per
    * candidate. `bitsPerTable = 0` (default) derives the signature width from
    * the corpus size via [[bitsForCorpus]] so bucket occupancy — and with it
    * the candidate count — stays bounded as the corpus grows.
    *
    * @param bitsPerTable hyperplanes per hash table; 0 = auto from corpus size
    */
  /** Product-quantization codebooks: the embedding space is cut into `m`
    * contiguous subspaces of dim/m dims and each gets its own `ksub`-word
    * codebook, trained by the same deterministic Lloyd loop as
    * [[trainIvfCentroids]] on the same bounded sample. A vector's code is
    * then m small integers (m bytes at ksub ≤ 256) instead of dim doubles —
    * the representation that makes billion-vector indexes fit on disk. */
  def trainPqCodebooks(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      iterations: Int = 8, sampleSize: Int = 4096, seed: Long = 42L): Array[Array[Array[Double]]] =
    trainPqOn(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("__vec")),
      dim, m, ksub, iterations, sampleSize, seed)

  /** The per-subspace k-means core of [[trainPqCodebooks]] over any
    * (vec_id, __vec) table — shared with the rotated-space trainer. */
  private def trainPqOn(df: DataFrame, dim: Int, m: Int, ksub: Int,
      iterations: Int, sampleSize: Int, seed: Long): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val sample = df
      .select(col("vec_id").cast("long").as("vid"), col("__vec").as("emb"))
      .orderBy(xxhash64(col("vid"), lit(seed)), col("vid"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty corpus")
    val books = Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var centroids = Array.tabulate(math.min(ksub, subs.length)) { c =>
        subs(((graft.dp.Mix.mix64(seed + 7919L * j + c) >>> 33) % subs.length).toInt).clone()
      }
      for (_ <- 0 until iterations) {
        val sums = Array.fill(centroids.length)(new Array[Double](dsub))
        val counts = new Array[Long](centroids.length)
        subs.foreach { v =>
          val c = nearestCentroid(v, centroids)
          counts(c) += 1
          var i = 0
          while (i < dsub) { sums(c)(i) += v(i); i += 1 }
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      centroids
    }
    books
  }

  /** PQ approximate top-k with asymmetric-distance (ADC) ranking and exact
    * rescoring: the corpus is encoded ONCE to m-byte codes (a pure
    * projection — argmin per subspace over the broadcast-literal codebooks,
    * ties to the lowest code, the [[centroidDists]] struct trick per
    * subspace); each query precomputes its m×ksub table of
    * ‖w‖²−2·w·q_sub subspace distances; ranking a (query, vector) pair is
    * then m array lookups instead of a dim-wide dot. The `rescoreCands`
    * best ADC candidates per query are rescored with the exact cosine over
    * the true embeddings, so reported scores are exact and PQ error only
    * costs recall, never precision.
    *
    * Scale shape: the scan-side payload drops from dim doubles to m small
    * ints per vector (512 B → 16 B here) — codes, not embeddings, cross the wire to
    * meet the broadcast ADC tables; true embeddings are joined back only
    * for the rescoreCands × queries survivors. Completes the quantized
    * family: d9 (scalar), d9b (LSH-bucketed), d9c (IVF-bucketed), d9d
    * (product). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, m: Int = 16, ksub: Int = 16, rescoreCands: Int = 20,
      seed: Long = 42L): DataFrame =
    pqTopK(corpus, queries, k, trainPqCodebooks(corpus, dim, m, ksub, seed = seed), rescoreCands)

  /** [[pqTopK]] over already-trained codebooks `books`. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      books: Array[Array[Array[Double]]], rescoreCands: Int): DataFrame = {
    // encoding, ADC tables, and the ranking sum are native expressions
    // holding the codebooks as ONE codegen reference object: the earlier
    // literal-array formulation (m·ksub codeword literals inlined per
    // projection) grew the fused ranking stage past Janino's 64 KB method
    // limit and silently fell back to interpreted eval — see
    // [[graft.expressions.PqEncode]]
    import graft.expressions.GraftExpressions.{pqEncode, pqAdcTable, pqAdcScore}
    val coded = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("codes", pqEncode(col("emb"), books))
      .select("vec_id", "codes")
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("adc", pqAdcTable(col("q_emb"), books))
      .select("query_id", "adc"))
    val approx = coded.crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("approx", pqAdcScore(col("adc"), col("codes")))
      // project BEFORE the ranking window: its exchange must carry three
      // scalars per candidate, not the codes + the per-query ADC table
      .select("query_id", "vec_id", "approx")
    val wa = Window.partitionBy(col("query_id")).orderBy(col("approx"), col("vec_id"))
    val cands = approx.withColumn("arank", row_number().over(wa))
      .where(col("arank") <= rescoreCands)
      .select("query_id", "vec_id")
    val corpusEmb = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val qEmb = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")))
    val rescored = cands.join(corpusEmb, "vec_id").join(qEmb, "query_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * same deterministic k-means as the IVF index, score exact-cosine
    * near-duplicate pairs WITHIN each cluster only, close the pairs
    * transitively, and keep each duplicate group's min-id representative
    * (singletons survive untouched). This is the embedding-space dedup a
    * curation run applies where MinHash misses paraphrases: semantically
    * near-identical documents land in the same cluster and score ≥
    * `threshold`, and only one survives.
    *
    * Scale shape: pairwise scoring is confined to cluster cells — the
    * corpus is hash-partitioned ONCE by cluster id and every cell scores
    * locally, so candidate volume is Σ|cell|² instead of n² (with nlist
    * sized so cells stay bounded as the corpus grows, exactly the IVF
    * sizing rule). Embeddings are pre-normalized so each pair costs one
    * dot; pairs leave the join as bare (vec_a, vec_b) longs; the component
    * closure and the survivor anti-filter run over ids only.
    *
    * Returns the surviving (vec_id, cluster) rows. */
  /** (vec_id, cluster, normalized embedding) under the deterministic
    * k-means — the shared prefix of [[semanticDedup]] and
    * [[semanticNearDupPairs]]. */
  /** Assignment-only projection under EXPORTED centroids — no training:
    * (vec_id, cluster, nemb) plus any `carry` columns preserved verbatim.
    * Being a pure row-wise projection over broadcast-literal centroids, it
    * applies unchanged to a STREAMING frame — the stream-side epoch path
    * of the maintained semantic index assigns new vectors to the standing
    * cells without retraining ([[graft.streaming.StreamingPipelines
    * .semanticDedupStream]]). */
  def assignToCells(vectors: DataFrame, centroids: Array[Array[Double]],
      carry: Seq[String] = Nil): DataFrame =
    vectors
      .select((col("vec_id").cast("long").as("vec_id") +:
        asDouble(col("embedding")).as("emb") +: carry.map(col)): _*)
      .withColumn("cluster", array_min(centroidDists(col("emb"), centroids)).getField("c").cast("int"))
      .withColumn("nemb", normalized(col("emb")))
      .select(("vec_id" +: "cluster" +: "nemb" +: carry).map(col): _*)

  /** The standing corpus's SEMANTIC index: the exported centroids plus the
    * per-cell normalized vectors (cluster, c_id, c_nemb) — the static side
    * a streaming semantic dedup/audit joins against, and the vector-space
    * counterpart of the lexical signature index
    * ([[graft.streaming.StreamingPipelines.dedupIndex]]). At 100 TB this
    * is materialized storage maintained across epochs (admitted vectors'
    * assignments appended, cells intact); an epoch of new embeddings joins
    * it through [[assignToCells]]' projection — centroids retrain only on
    * scheduled full rebuilds, never per epoch. */
  def semanticIndex(corpus: DataFrame, dim: Int = 64, nlist: Int = 16,
      seed: Long = 42L): (Array[Array[Double]], DataFrame) = {
    val centroids = trainIvfCentroids(corpus, nlist, dim, seed = seed)
    (centroids, assignToCells(corpus, centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb")))
  }

  /** Batch incremental SemDeDup — the embedding-space analogue of
    * [[Dedup.incrementalDedup]] (d12): incoming vectors deduplicate
    * against a STANDING corpus index under the corpus-trained centroids;
    * the corpus is never self-joined. One row per incoming vector:
    * `dup_of` = the smallest corpus id within cosine `threshold` (null
    * when novel), `best_cos`, `keep`. The streaming form
    * ([[graft.streaming.StreamingPipelines.semanticDedupStream]]) is
    * value-identical on a replay — pinned in StreamingSpec.
    *
    * Scale shape: candidates are confined to the incoming vector's k-means
    * cell (one equi-join against the maintained index, Σ|cell∩incoming|·
    * |cell| pairs, never n²); the per-vector aggregate combines map-side;
    * the final left join is ids+scalars. */
  def incrementalSemanticDedup(incoming: DataFrame,
      centroids: Array[Array[Double]], cellIndex: DataFrame,
      threshold: Double): DataFrame = {
    val inc = assignToCells(incoming, centroids)
    val hits = inc.join(cellIndex, Seq("cluster"))
      .withColumn("cos", round(dot(col("nemb"), col("c_nemb")), 6))
      .where(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(min(col("c_id")).as("dup_of"), max(col("cos")).as("best_cos"))
    inc.select("vec_id")
      .join(hits, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** Exact-cosine near-duplicate pairs scored WITHIN k-means clusters only
    * — [[semanticDedup]]'s candidate stage, exposed so hybrid pipelines can
    * union these edges with lexical (MinHash-verified) ones before one
    * shared component closure. */
  def semanticNearDupPairs(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double): DataFrame =
    pairsWithinClusters(assignToCells(corpus, centroids), threshold)

  private def pairsWithinClusters(assigned: DataFrame, threshold: Double): DataFrame =
    assigned
      .select(col("cluster"), col("vec_id").as("vec_a"), col("nemb").as("emb_a"))
      .join(assigned.select(col("cluster"), col("vec_id").as("vec_b"), col("nemb").as("emb_b")),
        Seq("cluster"))
      .where(col("vec_a") < col("vec_b"))
      .where(round(dot(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select("vec_a", "vec_b")

  def semanticDedup(corpus: DataFrame, threshold: Double,
      dim: Int = 64, nlist: Int = 16, seed: Long = 42L): DataFrame =
    semanticDedup(corpus, trainIvfCentroids(corpus, nlist, dim, seed = seed), threshold)

  /** [[semanticDedup]] under already-trained `centroids`. */
  def semanticDedup(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double): DataFrame = {
    // localCheckpoint (guide §2.4): the assignment feeds both sides
    // of the within-cluster pair join AND the survivor join — without it
    // the centroid-distance projection over the embeddings runs once per
    // consumer. (vec_id, cluster, nemb): the semanticIndex shape.
    val assigned = assignToCells(corpus, centroids).localCheckpoint()
    val pairs = pairsWithinClusters(assigned, threshold)
    val comp = Dedup.connectedComponents(pairs, "vec_a", "vec_b")
    // min-label propagation converges to the component's min id, so the
    // survivor of a duplicate group is the row whose id IS its label
    assigned
      .join(comp.select(col("doc_id").as("cid"), col("component")),
        col("vec_id") === col("cid"), "left")
      .where(col("component").isNull || col("vec_id") === col("component"))
      .select("vec_id", "cluster")
  }

  /** Semantic split-leakage audit — the embedding-space analogue of the
    * n-gram audit ([[Dedup.splitLeakage]]): for every test-split vector,
    * how many train-split vectors sit within cosine `threshold` of it
    * (paraphrase leakage that verbatim window matching cannot see). One
    * row per test vector: near-train count, best cosine (null when
    * clean), leaked flag. `centroids` cluster the FULL corpus (the gates
    * pass the same deterministic k-means as every embedding gate), so
    * candidate pairing is confined to shared k-means cells and both
    * engines replay the same exported centroids.
    *
    * Scale shape: pairwise scoring is bounded by Σ|cell∩test|·|cell∩train|
    * — never n² — and carries (ids, normalized vectors) through ONE cell
    * equi-join; the per-test aggregate combines map-side; the final
    * left join is ids+scalars. */
  def semanticSplitLeakage(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double,
      splits: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    val split = CoreOps.hashSplit(assignToCells(corpus, centroids), "vec_id", splits)
    val tr = split.where(col("split") === "train")
      .select(col("cluster"), col("vec_id").as("t_id"), col("nemb").as("t_emb"))
    val te = split.where(col("split") === "test")
      .select(col("cluster"), col("vec_id"), col("nemb"))
    val scored = te.join(tr, Seq("cluster"))
      .withColumn("cos", round(dot(col("nemb"), col("t_emb")), 6))
      .where(col("cos") >= threshold)
      .groupBy("vec_id").agg(count(lit(1)).as("n_near"), max(col("cos")).as("best_cos"))
    te.select("vec_id")
      .join(scored, Seq("vec_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("leaked", col("n_near") > 0)
  }

  /** The embedding-side curation pipeline a corpus build runs, composed as
    * ONE query: k-means assignment (single full-corpus model) → semantic
    * OUTLIER removal (the `outlierK` farthest vectors per cluster dropped,
    * [[semanticOutliers]]' rule) → SemDeDup within clusters over the
    * retained vectors (cosine ≥ threshold pairs, transitive closure,
    * min-id survivors) → cluster-balanced DIVERSITY cap (md5-rank ≤
    * `capPerCluster`). Every stage shares the one deterministic model
    * trained on the FULL corpus, so the exported-centroid oracle replays
    * all of it — and survivors never depend on which stage ran where.
    *
    * Scale shape: one centroid projection computes cluster, distance, and
    * the normalized vector in a single pass; the outlier window and the
    * final cap ride WindowGroupLimit over scalar rows; pairwise scoring is
    * confined to cluster cells (Σ|cell|², never n²); components shuffle
    * ids-only. */
  def semanticCuration(corpus: DataFrame, threshold: Double, outlierK: Int,
      capPerCluster: Long, dim: Int = 64, nlist: Int = 16, seed: Long = 42L): DataFrame =
    semanticCuration(corpus, trainIvfCentroids(corpus, nlist, dim, seed = seed),
      threshold, outlierK, capPerCluster)

  /** [[semanticCuration]] under already-trained `centroids`. */
  def semanticCuration(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, outlierK: Int, capPerCluster: Long): DataFrame = {
    require(outlierK >= 0 && capPerCluster >= 1, "need outlierK >= 0, cap >= 1")
    val assigned = corpus
      .select(col("vec_id").cast("long").as("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("best", array_min(centroidDists(col("emb"), centroids)))
      .select(col("vec_id"),
        col("best").getField("c").cast("int").as("cluster"),
        round(col("best").getField("d") + dot(col("emb"), col("emb")), 6).as("dist2"),
        normalized(col("emb")).as("nemb"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("dist2").desc, col("vec_id"))
    // localCheckpoint (guide §2.4): `kept` feeds the within-cluster
    // pair join (both sides) AND the survivor join — without it the
    // centroid-distance assignment + outlier window run once per consumer.
    // (cluster, vec_id, nemb) rows: the same maintained-index shape
    // semanticIndex materializes.
    val kept = assigned.withColumn("__r", row_number().over(w))
      .where(col("__r") > outlierK).drop("__r", "dist2")
      .localCheckpoint()
    val pairs = pairsWithinClusters(kept, threshold)
    val comp = Dedup.connectedComponents(pairs, "vec_a", "vec_b")
    val survivors = kept
      .join(comp.select(col("doc_id").as("cid"), col("component")),
        col("vec_id") === col("cid"), "left")
      .where(col("component").isNull || col("vec_id") === col("component"))
      .select("cluster", "vec_id")
    CoreOps.sampleDeterministicPerKey(survivors, "cluster", "vec_id", capPerCluster)
  }

  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      dim: Int = 64, bitsPerTable: Int = 0, numTables: Int = 8, seed: Long = 42L): DataFrame = {
    val bits = if (bitsPerTable > 0) bitsPerTable else bitsForCorpus(corpus.count())
    val norm = corpus.select(col("vec_id"), normalized(asDouble(col("embedding"))).as("emb"))
    val ids = norm
      .withColumn("tb", explode(tableBuckets(col("emb"), dim, bits, numTables, seed)))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val pairs = ids.select(col("vec_id").as("vec_a"), col("tbl"), col("bucket"))
      .join(ids.select(col("vec_id").as("vec_b"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
    pairs
      .join(norm.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), Seq("vec_a"))
      .join(norm.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", round(dot(col("emb_a"), col("emb_b")), 6))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Dimension-truncation recall — the Matryoshka-style design measurement:
    * recall@k of PREFIX-dimension cosine ranking against the full-dimension
    * exact ranking, per truncation budget. At 100 TB the answer decides how
    * many dimensions the ANN index must store and ship (memory and IO per
    * vector scale linearly with it); where the recall curve saturates, stop
    * paying for dimensions.
    *
    * Output: (k_dim, n_ranked, n_hits, recall) per budget in `dims` —
    * the full-dimension budget anchors at recall 1.0 by construction.
    *
    * Scale shape: queries broadcast; the truncated scoring is ONE corpus
    * pass crossed with the |dims|-row budget table (a broadcast), and both
    * rankings ride the same WindowGroupLimit partial top-k as
    * [[bruteForceTopK]] — exchanges carry O(tasks·queries·k·|dims|)
    * candidate rows, never corpus×queries scores. */
  def dimTruncationRecall(corpus: DataFrame, queries: DataFrame,
      dims: Seq[Int], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val full = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")))
    val budgets = broadcast(dims.toDF("k_dim"))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .crossJoin(budgets)
      .withColumn("cos", round(cosine(
        slice(col("q_emb"), lit(1), col("k_dim")),
        slice(col("emb"), lit(1), col("k_dim"))), 6))
    val w = Window.partitionBy(col("k_dim"), col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val trunc = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("k_dim", "query_id", "vec_id")
      .localCheckpoint() // two consumers (totals + hits) of a tiny table
    val totals = trunc.groupBy("k_dim").agg(count(lit(1)).as("n_ranked"))
    val hits = trunc.join(full, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("k_dim").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("k_dim"), "left")
      .select(col("k_dim"), col("n_ranked"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_ranked").cast("double") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("recall"))
  }

  /** ANALYZE-style profile of an embedding table, per DIMENSION: mean,
    * variance, min, max — the vector-side sibling of the numeric table
    * profile, and the diagnostic that motivates (or retires) a trained
    * rotation: near-zero-variance dimensions are dead weight in every
    * distance, and grossly unequal variances are what [[trainPca]]
    * exploits. Means/variances come from the same exact q6-long moment
    * sums as the PCA trainer (commutative — layout/retry-proof), finished
    * by one fixed IEEE expression; min/max are exact float→double casts.
    *
    * Scale shape: one explode to (dim, value) with map-side partial
    * aggregation — the shuffle carries dim-cardinality long rows. */
  def embeddingProfile(corpus: DataFrame, dim: Int): DataFrame = {
    // fail closed on ragged/mis-sized vectors (the trainPca contract):
    // a 32-dim corpus must error, not silently profile 32 rows while the
    // oracle expects `dim`
    val checked = corpus.select(
      when(size(col("embedding")) === dim, asDouble(col("embedding")))
        .otherwise(raise_error(concat(lit(s"expected dim $dim, got "),
          size(col("embedding")).cast("string")))).as("embedding"))
    val rows = checked.select(posexplode(col("embedding")).as(Seq("__p", "v")))
      .select((col("__p") + lit(1)).cast("long").as("dim"), col("v"),
        floor(col("v") * lit(1000000.0) + lit(0.5)).cast("long").as("xq"))
    // the squared-moment sum runs in DECIMAL(38,0): a long
    // sum silently wraps past 2⁶³ (~9e6 unit-scale rows per dim), while
    // the decimal sum stays exact to 38 digits — the same headroom as
    // DuckDB's HUGEINT sum in the oracle — and the downstream math reads
    // it through the identical cast-to-double
    rows.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xq").cast("decimal(38,0)")).as("__s"),
        sum(col("xq").cast("decimal(38,0)") * col("xq")).as("__m2"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .select(col("dim"), col("n"),
        (floor(col("__s").cast("double") / col("n").cast("double") + lit(0.5))
          / lit(1000000.0)).as("mean"),
        (floor((col("__m2").cast("double") / col("n").cast("double")
            - (col("__s").cast("double") / col("n").cast("double"))
              * (col("__s").cast("double") / col("n").cast("double")))
          / lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("variance"),
        col("min_v"), col("max_v"))
  }

  /** In-engine PCA training: top-`nComponents` principal components of the
    * embedding corpus — the learned-rotation answer to "how many index
    * dimensions do we actually need" that [[dimTruncationRecall]]'s naive
    * prefix truncation only lower-bounds (Matryoshka models aside, raw
    * embedding coordinates are not importance-ordered; PCA orders them).
    *
    * Determinism (the train-in-engine contract of x12/x13): embeddings are
    * q6-quantized in the one corpus pass, so the mean and second-moment
    * sums are EXACT LONG SUMS (commutative — any partitioning, any retry,
    * same bits) collected via `treeAggregate` at dim²-cardinality
    * (64×64 → 2 080 upper-triangle longs per partition). The covariance,
    * power iteration with deflation (fixed `iterations`, no early exit),
    * and sign canonicalization (largest-|coordinate| entry positive) run
    * driver-side on the dim×dim matrix — the same driver-scalars contract
    * as the DP calibration and the k-means/PQ trainers. Long-overflow
    * bound: |x| ≤ 1 ⇒ products ≤ 1e12, so the exact path holds to ~9e6
    * rows per aggregate — and the accumulation is CHECKED
    * (addExact/multiplyExact), so exceeding the bound raises instead of
    * silently training a wrong model; the 100 TB variant merges per-shard
    * moment tables hierarchically (same exact longs), not a different
    * algorithm.
    *
    * Returns (mean, components). */
  def trainPca(corpus: DataFrame, dim: Int, nComponents: Int,
      iterations: Int = 200): (Array[Double], Array[Array[Double]]) = {
    require(nComponents >= 1 && nComponents <= dim)
    val tri = dim * (dim + 1) / 2
    val rows = corpus.select(asDouble(col("embedding")).as("emb")).rdd.map { r =>
      val e = r.getSeq[Double](0)
      require(e.length == dim, s"expected dim $dim, got ${e.length}")
      Array.tabulate(dim)(j => math.floor(e(j) * 1e6 + 0.5).toLong)
    }
    // CHECKED long arithmetic throughout: the |x| <= 1
    // scaladoc bound guarantees headroom to ~9e6 rows, but nothing used to
    // enforce it — out-of-range embeddings (or a larger corpus than the
    // bound allows) silently wrapped into a wrong model. multiplyExact/
    // addExact make any overflow raise ArithmeticException (fail closed,
    // like the ragged-dimension case); the 100 TB variant merges per-shard
    // moment tables hierarchically before either bound binds.
    val (n, s, m) = rows.treeAggregate((0L, new Array[Long](dim), new Array[Long](tri)))(
      { case ((cnt, sums, moms), xq) =>
        var j = 0; var t = 0
        while (j < dim) {
          sums(j) = Math.addExact(sums(j), xq(j))
          var k = j
          while (k < dim) {
            moms(t) = Math.addExact(moms(t), Math.multiplyExact(xq(j), xq(k)))
            t += 1; k += 1
          }
          j += 1
        }
        (cnt + 1, sums, moms)
      },
      { case ((c1, s1, m1), (c2, s2, m2)) =>
        var j = 0
        while (j < dim) { s1(j) = Math.addExact(s1(j), s2(j)); j += 1 }
        var t = 0
        while (t < tri) { m1(t) = Math.addExact(m1(t), m2(t)); t += 1 }
        (c1 + c2, s1, m1)
      })
    require(n > 0, "empty corpus")
    // covariance in q6² units (a global scale — eigenvectors unchanged)
    val cov = Array.ofDim[Double](dim, dim)
    var t = 0
    var j = 0
    while (j < dim) {
      var k = j
      while (k < dim) {
        val c = (m(t).toDouble - s(j).toDouble * s(k).toDouble / n.toDouble) / n.toDouble
        cov(j)(k) = c; cov(k)(j) = c
        t += 1; k += 1
      }
      j += 1
    }
    val comps = Array.ofDim[Double](nComponents, dim)
    for (c <- 0 until nComponents) {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      var lambda = 0.0
      for (_ <- 0 until iterations) {
        val w = new Array[Double](dim)
        var a = 0
        while (a < dim) {
          var acc = 0.0
          var b = 0
          while (b < dim) { acc += cov(a)(b) * v(b); b += 1 }
          w(a) = acc; a += 1
        }
        lambda = math.sqrt(w.map(x => x * x).sum)
        v = if (lambda == 0.0) v else w.map(_ / lambda)
      }
      // canonical sign: the largest-|coordinate| entry (ties → smallest
      // index) is positive
      var best = 0
      for (a <- 1 until dim) if (math.abs(v(a)) > math.abs(v(best))) best = a
      if (v(best) < 0) v = v.map(-_)
      comps(c) = v
      // deflate
      for (a <- 0 until dim; b <- 0 until dim) cov(a)(b) -= lambda * v(a) * v(b)
    }
    (s.map(x => x.toDouble / n.toDouble / 1e6), comps)
  }

  /** Projection onto a trained PCA basis: each output coordinate is
    * dot(x − mean, component) in LEFT-FOLD ascending-dimension order (the
    * oracle-replayable contract shared with [[cosine]]). A pure projection
    * over broadcast-literal model arrays — zero shuffles at any scale.
    * Output: (`idAs`, pc (1-based component), coord). */
  def pcaProject(corpus: DataFrame, mean: Array[Double],
      comps: Array[Array[Double]], idAs: String = "vec_id"): DataFrame =
    pcaProjectArrays(corpus, mean, comps, "vec_id", idAs)
      .select(col(idAs), posexplode(col("proj")).as(Seq("__p", "coord")))
      .select(col(idAs), (col("__p") + lit(1)).cast("long").as("pc"), col("coord"))

  /** [[pcaProject]] keeping each vector's coordinates as ONE q6-rounded
    * array row — the representation the reduced-dimension index stores.
    * `carry` columns pass through verbatim (the [[assignToCells]] carry
    * contract — what lets the streaming reduced-index path thread its
    * event-time and normalized-embedding columns through the projection). */
  def pcaProjectArrays(corpus: DataFrame, mean: Array[Double],
      comps: Array[Array[Double]], idCol: String = "vec_id",
      idAs: String = "vec_id", carry: Seq[String] = Nil): DataFrame = {
    val meanLit = array(mean.map(lit): _*)
    val centered = zip_with(asDouble(col("embedding")), meanLit, (x, mu) => x - mu)
    val coords = array(comps.map { comp =>
      floor(graft.expressions.GraftExpressions.dot(col("__ctr"),
          array(comp.map(lit): _*)) * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    }: _*)
    corpus.select((col(idCol).cast("long").as(idAs) +: centered.as("__ctr") +:
        carry.map(col)): _*)
      .select((col(idAs) +: coords.as("proj") +: carry.map(col)): _*)
  }

  /** The index-design measurement PCA exists for: recall@k of a
    * `kDim`-dimensional LEARNED rotation (PCA, trained in-engine) vs the
    * naive `kDim`-prefix truncation ([[dimTruncationRecall]]'s budgets),
    * both against the full-dimension exact ranking. On non-Matryoshka
    * embeddings the prefix throws away variance the rotation keeps, so
    * this pair of numbers is the "train a rotation or not" decision for
    * a reduced-dimension 100 TB index.
    *
    * Scale shape: one corpus pass trains the rotation ([[trainPca]]),
    * projections are pure zero-shuffle projections over broadcast-literal
    * model arrays, queries broadcast, and both candidate rankings ride
    * WindowGroupLimit partial top-k. Output: (method ∈ {pca, prefix},
    * n_ranked, n_hits, recall). */
  def pcaVsPrefixRecall(corpus: DataFrame, queries: DataFrame, dim: Int,
      kDim: Int, k: Int): DataFrame = {
    val (mean, comps) = trainPca(corpus, dim, kDim)
    pcaVsPrefixRecall(corpus, queries, mean, comps, k)
  }

  /** [[pcaVsPrefixRecall]] of an already-trained rotation (`mean`,
    * `comps`); the prefix budget is `comps.length`. */
  def pcaVsPrefixRecall(corpus: DataFrame, queries: DataFrame,
      mean: Array[Double], comps: Array[Array[Double]], k: Int): DataFrame = {
    val kDim = comps.length
    val full = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
      .localCheckpoint()
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val q = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val prefixTop = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(
        slice(col("q_emb"), lit(1), lit(kDim)),
        slice(col("emb"), lit(1), lit(kDim))), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(lit("prefix").as("method"), col("query_id"), col("vec_id"))
    val cp = pcaProjectArrays(corpus, mean, comps)
    val qp = broadcast(pcaProjectArrays(queries, mean, comps, "query_id", "query_id")
      .withColumnRenamed("proj", "q_proj"))
    val pcaTop = cp.join(qp, col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("q_proj"), col("proj")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(lit("pca").as("method"), col("query_id"), col("vec_id"))
    val tops = prefixTop.unionByName(pcaTop).localCheckpoint()
    val totals = tops.groupBy("method").agg(count(lit(1)).as("n_ranked"))
    val hits = tops.join(full, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("method").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("method"), "left")
      .select(col("method"), col("n_ranked"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_ranked").cast("double") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("recall"))
  }

  /** The composed reduced-dimension ANN index — the 100 TB index build
    * recipe in one operator: PCA-project the corpus ([[trainPca]], the
    * learned rotation [[pcaVsPrefixRecall]] justifies), train the IVF
    * coarse quantizer IN THE PROJECTED SPACE (8-dim distances: 8× less
    * arithmetic and 8× smaller cell index than full-dim), bound
    * candidates to nprobe projected cells, and rescore candidates with
    * the EXACT full-dimension cosine (the d9 rescore discipline: the
    * reduced space only selects, never scores the final ranking).
    *
    * Training is [[trainReducedModel]], probing [[reducedProbeTopK]]; a
    * gate that exports the model for its oracle calls the two itself.
    *
    * Scale shape: projection is zero-shuffle; cell assignment is a pure
    * projection over broadcast-literal centroids; the candidate join is
    * (cell) equi; full embeddings join back ONLY for candidate rescore
    * (≤ Σ probed-cell occupancy per query); ranking rides
    * WindowGroupLimit. */
  def reducedIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, pcaDims: Int = 8, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 43L): DataFrame = {
    val model = trainReducedModel(corpus, dim, pcaDims, nlist, seed)
    reducedProbeTopK(corpus, reducedIndexOf(corpus, model), model,
      queries, k, nprobe)
  }

  /** A FROZEN reduced-dimension index model — the artifacts a steady-state
    * ANN deployment trains ONCE per corpus release and then holds across
    * ingest epochs: the PCA rotation (mean + components) and the
    * reduced-space coarse-quantizer centroids. The maintained counterpart
    * of what [[reducedIvfTopK]] retrains per call, completing the d18
    * treatment for the reduced index:
    * build → append → delete → probe all run under the same frozen model,
    * so every maintenance op is a pure projection or an ids-only join. */
  final case class ReducedModel(dim: Int, pcaDims: Int,
      mean: Array[Double], comps: Array[Array[Double]],
      centroids: Array[Array[Double]])

  /** Train the frozen reduced-index model on a corpus release: the PCA
    * rotation, then the coarse quantizer in the projected space. */
  def trainReducedModel(corpus: DataFrame, dim: Int = 64, pcaDims: Int = 8,
      nlist: Int = 16, seed: Long = 43L): ReducedModel = {
    val (mean, comps) = trainPca(corpus, dim, pcaDims)
    val cents = trainCentroidsOn(
      pcaProjectArrays(corpus, mean, comps)
        .select(col("vec_id"), col("proj").as("__vec")),
      nlist, pcaDims, iterations = 8, sampleSize = 4096, seed = seed)
    ReducedModel(dim, pcaDims, mean, comps, cents)
  }

  /** L2-normalized double copy of an embedding column — public so the
    * maintained reduced-index family (and its streaming form) share ONE
    * normalization definition with [[assignToCells]]. */
  def normalizedEmbedding(c: Column): Column = normalized(asDouble(c))

  /** Frozen-model reduced-space cell assignment: PCA projection + argmin
    * over the broadcast-literal reduced centroids — a pure projection,
    * zero shuffles, on a batch OR streaming frame. `carry` columns pass
    * through verbatim. Output: (`idAs`, proj, cell, carry...). */
  def reducedAssign(vectors: DataFrame, model: ReducedModel,
      idCol: String = "vec_id", idAs: String = "vec_id",
      carry: Seq[String] = Nil): DataFrame =
    pcaProjectArrays(vectors, model.mean, model.comps, idCol, idAs, carry)
      .withColumn("cell",
        array_min(centroidDists(col("proj"), model.centroids)).getField("c"))

  /** The maintained reduced-dimension index of a corpus under a frozen
    * model: one (cell, r_id, r_nemb) row per vector — the reduced-space
    * cell for 8-dim candidate generation plus the normalized FULL
    * embedding for exact verification (the [[semanticIndex]] storage
    * shape, cells from the rotated space). At 100 TB this is materialized
    * storage maintained across epochs via [[reducedIndexAppend]] /
    * [[reducedIndexDelete]]; the model retrains only on scheduled full
    * rebuilds. */
  def reducedIndexOf(corpus: DataFrame, model: ReducedModel): DataFrame =
    reducedAssign(
        corpus.withColumn("__rn", normalizedEmbedding(col("embedding"))),
        model, carry = Seq("__rn"))
      .select(col("cell"), col("vec_id").as("r_id"), col("__rn").as("r_nemb"))

  /** Append an ADMITTED ingest epoch to the maintained reduced index:
    * assignment under the FROZEN model is a pure per-row function, so
    * append == rebuild over corpus ∪ epoch EXACTLY (spec-pinned) — one
    * union of projections, no retraining, no corpus re-scan. */
  def reducedIndexAppend(index: DataFrame, epoch: DataFrame,
      model: ReducedModel): DataFrame =
    index.unionByName(reducedIndexOf(epoch, model))

  /** Right-to-be-forgotten DELETE on the maintained reduced index — the
    * fifth maintained index to carry the delete == rebuild contract
    * (after BM25 postings, lexical signatures, semantic cells, block
    * hashes): per-vector rows make removal one broadcast anti-join, and
    * because assignment is per-row under the frozen model, the result
    * equals a rebuild over the filtered corpus exactly (spec-pinned). */
  def reducedIndexDelete(index: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    index.join(
      broadcast(removeIds.select(col(idCol).cast("long").as("r_id")).distinct()),
      Seq("r_id"), "left_anti")

  /** ANN top-k against the MAINTAINED reduced index under its frozen
    * model — [[reducedIvfTopK]]'s probe stage decoupled from training:
    * queries project (zero-shuffle), probe their `nprobe` nearest reduced
    * cells, candidates come from the index's cell rows (ids only), and
    * the exact full-dimension cosine rescores candidates from `corpus`
    * (the d9 rescore discipline — the reduced space only selects). */
  def reducedProbeTopK(corpus: DataFrame, index: DataFrame,
      model: ReducedModel, queries: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    val qp = pcaProjectArrays(queries, model.mean, model.comps, "query_id", "query_id")
      .withColumnRenamed("proj", "q_proj")
    val q = broadcast(qp
      .join(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")), "query_id")
      .withColumn("cell", explode(transform(
        slice(sort_array(centroidDists(col("q_proj"), model.centroids)), 1, nprobe),
        s => s.getField("c")))))
    val cands = index.select(col("cell"), col("r_id").as("vec_id"))
      .join(q, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
    // full embeddings enter ONLY here, for candidate rescore
    val scored = cands
      .join(corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb")), "vec_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Batch incremental dedup against the MAINTAINED reduced index — the
    * d18 rule with reduced-space candidate generation: incoming vectors
    * assign to reduced cells (8-dim arithmetic, 8× cheaper than the
    * full-space assignment d18 pays), candidates are the incoming cell's
    * index rows, and the exact FULL-dimension normalized dot verifies.
    * One row per incoming vector: dup_of / best_cos / keep — the
    * [[incrementalSemanticDedup]] columns; the streaming form
    * ([[graft.streaming.StreamingPipelines.reducedDedupStream]]) is
    * value-identical on a replay (StreamingSpec). */
  def incrementalReducedDedup(incoming: DataFrame, model: ReducedModel,
      index: DataFrame, threshold: Double): DataFrame = {
    val inc = reducedAssign(
      incoming.withColumn("__rn", normalizedEmbedding(col("embedding"))),
      model, carry = Seq("__rn"))
    val hits = inc.join(index, Seq("cell"))
      .withColumn("cos", round(dot(col("__rn"), col("r_nemb")), 6))
      .where(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(min(col("r_id")).as("dup_of"), max(col("cos")).as("best_cos"))
    inc.select("vec_id")
      .join(hits, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** A FROZEN OPQ-style ROTATED product-quantization index model (Ge et
    * al. 2013, with the learned PCA rotation standing in for the full OPQ
    * alternating optimization) — [[ReducedModel]]'s sibling for the d9e
    * path: the PCA rotation plus per-subspace codebooks trained IN THE
    * ROTATED SPACE. The rotation concentrates variance into the kept
    * coordinates, so the same code budget quantizes better than flat PQ on
    * raw prefix dims — completing the quantization matrix (PQ flat /
    * PQ×LSH / PQ×IVF / PQ×rotation). At 100 TB these are exactly the
    * artifacts trained once per corpus release ([[trainReducedPqModel]]);
    * the index stores m-byte CODES per vector (the representation that
    * fits a billion-vector index on disk), append/delete maintenance never
    * touches the model, and [[reducedPqProbeTopK]] ranks by the rotated ADC
    * sum and rescores survivors with the exact full-dimension cosine.
    *
    * Scale shape: projection and encoding are pure projections over
    * broadcast-literal models; the ADC exchange carries (query, vec,
    * approx) scalars only (the d9d discipline); true embeddings join back
    * only for rescore survivors. */
  final case class ReducedPqModel(dim: Int, pcaDims: Int, m: Int, ksub: Int,
      mean: Array[Double], comps: Array[Array[Double]],
      books: Array[Array[Array[Double]]])

  /** Train the frozen rotated-PQ model: the PCA rotation, then the
    * per-subspace codebooks in the rotated space. */
  def trainReducedPqModel(corpus: DataFrame, dim: Int = 64, pcaDims: Int = 8,
      m: Int = 4, ksub: Int = 16, seed: Long = 44L): ReducedPqModel = {
    val (mean, comps) = trainPca(corpus, dim, pcaDims)
    val books = trainPqOn(
      pcaProjectArrays(corpus, mean, comps)
        .select(col("vec_id"), col("proj").as("__vec")),
      pcaDims, m, ksub, iterations = 8, sampleSize = 4096, seed = seed)
    ReducedPqModel(dim, pcaDims, m, ksub, mean, comps, books)
  }

  /** The maintained rotated-PQ index: one (r_id, codes) row per vector —
    * projection + native [[graft.expressions.PqEncode]] under the frozen
    * model, a pure zero-shuffle scan at any scale. */
  def reducedPqIndexOf(corpus: DataFrame, model: ReducedPqModel): DataFrame =
    pcaProjectArrays(corpus, model.mean, model.comps)
      .select(col("vec_id").as("r_id"),
        graft.expressions.GraftExpressions.pqEncode(col("proj"), model.books).as("codes"))

  /** Append an ADMITTED ingest epoch's codes: encoding under the frozen
    * codebooks is per-row, so append == rebuild over corpus ∪ epoch
    * EXACTLY (spec-pinned). */
  def reducedPqIndexAppend(index: DataFrame, epoch: DataFrame,
      model: ReducedPqModel): DataFrame =
    index.unionByName(reducedPqIndexOf(epoch, model))

  /** Right-to-be-forgotten DELETE on the codes index — one broadcast
    * anti-join over per-vector rows; equals a rebuild over the filtered
    * corpus exactly (spec-pinned), the [[reducedIndexDelete]] contract. */
  def reducedPqIndexDelete(index: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    index.join(
      broadcast(removeIds.select(col(idCol).cast("long").as("r_id")).distinct()),
      Seq("r_id"), "left_anti")

  /** ADC top-k against the MAINTAINED codes index under its frozen model
    * (the native ADC path of [[pqTopK]]): queries project and build their ADC tables (native expressions, broadcast), the
    * ranking sum runs over the stored m-byte codes (scalars-only
    * exchange), and the `rescoreCands` best candidates per query rescore
    * with the exact full-dimension cosine from `corpus`. */
  def reducedPqProbeTopK(corpus: DataFrame, index: DataFrame,
      model: ReducedPqModel, queries: DataFrame, k: Int,
      rescoreCands: Int = 20): DataFrame = {
    import graft.expressions.GraftExpressions.{pqAdcTable, pqAdcScore}
    val qp = pcaProjectArrays(queries, model.mean, model.comps, "query_id", "query_id")
      .withColumnRenamed("proj", "q_proj")
    val q = broadcast(qp.withColumn("adc", pqAdcTable(col("q_proj"), model.books))
      .select("query_id", "adc"))
    val approx = index.select(col("r_id").as("vec_id"), col("codes"))
      .crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("approx", pqAdcScore(col("adc"), col("codes")))
      .select("query_id", "vec_id", "approx")
    val wa = Window.partitionBy(col("query_id")).orderBy(col("approx"), col("vec_id"))
    val cands = approx.withColumn("arank", row_number().over(wa))
      .where(col("arank") <= rescoreCands)
      .select("query_id", "vec_id")
    val corpusEmb = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val qEmb = broadcast(queries.select(col("query_id"), asDouble(col("embedding")).as("q_emb")))
    val rescored = cands.join(corpusEmb, "vec_id").join(qEmb, "query_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Maximal-marginal-relevance diversified re-ranking (Carbonell &
    * Goldstein 1998): from each query's dense top-`candK` candidates,
    * greedily select `k` results maximizing
    * λ·rel(q, d) − (1−λ)·max_{s∈selected} sim(d, s) — the standard
    * redundancy-suppressing re-rank for RAG context assembly (ten
    * near-identical passages waste nine context slots; MMR trades
    * relevance for coverage). Round 1 has an empty selected set and
    * scores λ·rel alone.
    *
    * Determinism: rel and pairwise sims are the round6 cosines the d5
    * family already bit-matches; every greedy score is q6-fixed with the
    * SAME literal λ arithmetic as the SQL oracle (floor((0.7·rel −
    * 0.3·ms)·10⁶ + 0.5)); ties break to the smaller doc id. The oracle
    * replays EVERY greedy round inductively (the k-center contract).
    *
    * Scale shape: the corpus-scale work is the candidate retrieval
    * ([[bruteForceTopK]]'s WindowGroupLimit shape — or any bounded ANN
    * variant) and the candidate pair scoring (≤ |queries|·candK² rows,
    * one broadcast self-join); the greedy itself runs on the COLLECTED
    * result set (≤ |queries|·candK rels + candK² sims — the documented
    * result-set-cardinality driver contract shared with the BT trainer
    * and DP calibration). Output: (query_id, sel_rank, doc_id, mmr_q6). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, candK: Int, k: Int,
      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && candK >= k, s"need candK >= k >= 1, got candK=$candK k=$k")
    require(lambdaPct >= 0 && lambdaPct <= 100)
    val spark = corpus.sparkSession
    import spark.implicits._
    val lam = lambdaPct / 100.0
    val cands = bruteForceTopK(corpus, queries, candK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cos").as("rel"))
      .localCheckpoint() // feeds both the collect and the pair join
    val ce = cands.join(
      corpus.select(col("vec_id").as("doc_id"), asDouble(col("embedding")).as("emb")),
      "doc_id")
    val pairs = ce.select(col("query_id"), col("doc_id").as("a"), col("emb").as("ea"))
      .join(ce.select(col("query_id"), col("doc_id").as("b"), col("emb").as("eb")),
        Seq("query_id"))
      .where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
    val relRows = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simMap = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    val out = relRows.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val rel = rows.map(r => r._2 -> r._3).toMap
      var remaining = rows.map(_._2).sorted.toVector
      var selected = Vector.empty[Long]
      // a query can retrieve fewer than k candidates (tiny corpus /
      // selective predicate) — emit what exists, never throw
      (1 to math.min(k, remaining.size)).map { round =>
        val scored = remaining.map { d =>
          val ms = if (selected.isEmpty) 0.0
            else selected.map(s => simMap((qid, s, d))).max
          val mmr =
            if (selected.isEmpty) math.floor(lam * rel(d) * 1e6 + 0.5).toLong
            else math.floor((lam * rel(d) - (1.0 - lam) * ms) * 1e6 + 0.5).toLong
          (d, mmr)
        }
        val (best, score) = scored.maxBy { case (d, m) => (m, -d) }
        selected :+= best
        remaining = remaining.filterNot(_ == best)
        (qid, round, best, score)
      }
    }
    out.sortBy(r => (r._1, r._2))
      .toDF("query_id", "sel_rank", "doc_id", "mmr_q6")
  }

  /** Squared L2 distance with a FIXED ascending-dimension summation order —
    * the bitwise contract the k-center oracle replays in SQL
    * (list_reduce over range(1, dim+1), same left-fold). */
  private[graft] def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** k-center greedy coreset selection (Sener & Savarese 2018) — the
    * geometric data-pruning rule: start from the minimum-id vector, then
    * repeatedly add the point FARTHEST from the selected set (max over
    * points of min over centers of squared L2, ties to the smaller id).
    * The selection order doubles as a coverage-radius curve: the r-th
    * distance is the covering radius after r centers — where it collapses,
    * stop pruning.
    *
    * Scale shape: k rounds, each ONE corpus projection (the growing center
    * set rides the closure at k×dim — model cardinality) reduced by an
    * associative-commutative max, so every round is a map+reduce with no
    * shuffle; nothing larger than (id, dist²) scalars ever leaves an
    * executor. Driver state is the selected list — k ids. The selection is
    * bit-deterministic: distances use [[dist2]]'s fixed fold order and the
    * (dist², id) max is a total order.
    *
    * Returns the selection as (rank, vec_id, dist2) — rank 0 is the seed
    * with distance 0. Stops early (fewer than k rows) once every remaining
    * point coincides with a selected center (duplicate vectors, or k
    * exceeding the number of distinct points): coverage is already
    * complete, and zero-distance repeats would only pad the coreset. */
  def kCenterGreedy(corpus: DataFrame, k: Int): Seq[(Int, Long, Double)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    val ds = corpus
      .select(col("vec_id").cast("long").as("vid"), asDouble(col("embedding")).as("emb"))
      .as[(Long, Seq[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one job: min(vid) is NULL on an empty corpus (decoded as None)
      val seedOpt = ds.select(min(col("vid"))).as[Option[Long]].head()
      require(seedOpt.isDefined, "kCenterGreedy: empty corpus")
      val seed = seedOpt.get
      val seedEmb = ds.filter(_._1 == seed).head()._2.toArray
      val centers = scala.collection.mutable.ArrayBuffer((seed, seedEmb))
      val out = scala.collection.mutable.ArrayBuffer((0, seed, 0.0))
      var covered = false
      for (r <- 1 until k if !covered) {
        val cs = centers.map(_._2.toArray).toArray
        // farthest-point reduce: (minDist² to centers, id), max by
        // (dist² asc, id desc) so the winner is (largest dist², smallest id)
        val (bestId, bestD2) = ds
          .map { case (id, emb) =>
            val v = emb.toArray
            var m = Double.MaxValue
            var c = 0
            while (c < cs.length) { val d = dist2(v, cs(c)); if (d < m) m = d; c += 1 }
            (id, m)
          }
          .reduce { (a, b) =>
            if (a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)) a else b
          }
        if (bestD2 == 0.0) {
          // every remaining point coincides with a center (duplicates or
          // k > distinct points): coverage is complete — stop instead of
          // padding the coreset with zero-distance repeats
          covered = true
        } else {
          val bestEmb = ds.filter(_._1 == bestId).head()._2.toArray
          centers += ((bestId, bestEmb))
          out += ((r, bestId, bestD2))
        }
      }
      out.toSeq
    } finally { ds.unpersist(); () }
  }

  /** Margin-based aligned-pair mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix bitext-mining rule; reference has no analogue — this is
    * the cross-corpus alignment step of a parallel-data pipeline): a pair
    * (x ∈ A, y ∈ B) is mined when each side is the other's margin-best
    * candidate, with the RATIO margin
    *
    *   margin(x,y) = cos(x,y) / ((avgₖ cos(x, NNᴮ(x)) + avgₖ cos(y, NNᴬ(y))) / 2)
    *
    * Absolute cosine is miscalibrated across hubness regimes (a vector in a
    * dense region scores high against EVERYTHING); dividing by the average
    * neighborhood similarity normalizes the score, and mutual-best
    * ("intersection" strategy) makes the output a partial matching with no
    * tuned threshold.
    *
    * Cross-engine determinism: per-pair cosines are rounded to 6 dp (the d5
    * contract), lifted to exact q6 longs, neighbor ranking and the top-k
    * sums happen on those longs, and the margin is ONE IEEE division of
    * exact integers — `2k·cq / (Σₖᴬ + Σₖᴮ)` — so both engines produce
    * bit-identical margins with no live transcendental.
    *
    * Scale shape: neighbor search is [[bruteForceTopK]] here (the exactness
    * baseline — O(|A|·|B|) with WindowGroupLimit partial top-k, so the
    * exchange carries O(tasks·k) rows); at 100 TB swap its output for
    * [[ivfTopK]]/[[reducedProbeTopK]] candidates — everything downstream
    * (q6 sums, margins, mutual-best) touches only O((|A|+|B|)·k) candidate
    * rows, never the cross product.
    *
    * @param a (id, embedding) — source side
    * @param b (id, embedding) — target side; ids must be disjoint from `a`'s
    * @param k neighborhood size for the margin denominator
    */
  def marginMinedPairs(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)).cast("long")
    def side(df: DataFrame, idAs: String): DataFrame =
      df.select(col(df.columns.head).as(idAs), col(df.columns(1)).as("embedding"))
    val fwd = bruteForceTopK(side(b, "vec_id"), side(a, "query_id"), k)
      .select(col("query_id").as("x"), col("neighbor_id").as("y"), q6(col("cos")).as("cq"))
    val bwd = bruteForceTopK(side(a, "vec_id"), side(b, "query_id"), k)
      .select(col("neighbor_id").as("x"), col("query_id").as("y"), q6(col("cos")).as("cq"))
    val sumA = fwd.groupBy("x").agg(sum("cq").as("sa"))
    val sumB = bwd.groupBy("y").agg(sum("cq").as("sb"))
    // 2k·cq ≤ 2k·10⁶ is exact in double; one division; round for display —
    // every input to the IEEE ops is an agreed integer
    def withMargin(p: DataFrame): DataFrame = p
      .join(sumA, "x").join(sumB, "y")
      .where(col("sa") + col("sb") > 0)
      .withColumn("margin", round(lit(2.0 * k) * col("cq") / (col("sa") + col("sb")), 6))
    val xbest = withMargin(fwd).withColumn("r",
        row_number().over(Window.partitionBy("x").orderBy(col("margin").desc, col("y"))))
      .where(col("r") === 1).select("x", "y", "margin")
    val ybest = withMargin(bwd).withColumn("r",
        row_number().over(Window.partitionBy("y").orderBy(col("margin").desc, col("x"))))
      .where(col("r") === 1).select("x", "y")
    xbest.join(ybest, Seq("x", "y"))
      .select(col("x").as("src_id"), col("y").as("tgt_id"), col("margin"))
  }

  /** Pack the sign bits of `dim` embedding components into two 32-bit words
    * (`lo` = dims 0–31, `hi` = dims 32–63, bit i set iff component > 0).
    * Two words, not one long, so neither sum can touch the sign bit — the
    * DuckDB oracle replays the pack as checked BIGINT additions that would
    * overflow at 2^63. Sign is SCALE-INVARIANT, so the bits come straight
    * off the raw floats: no normalization, no rounding contract, nothing
    * for two engines to disagree on. */
  private def signWord(e: Column, from: Int, until: Int): Column =
    (from until until).map(i =>
      when(e.getItem(i) > lit(0.0), lit(1L << (i - from))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** 1-bit sign-quantization ANN (the binary-hash tier below int8 [[d9
    * quantizedTopK]] and PQ: 8 bytes/vector at dim=64, a 32× reduction vs
    * float32): candidates rank by Hamming distance between sign signatures
    * — `bit_count(lo⊕lo') + bit_count(hi⊕hi')`, pure integer ops, no
    * arithmetic on the vector at all — and the top `rescoreFactor·k` per
    * query are rescored with exact cosine ([[bruteForceTopK]]'s contract).
    *
    * Sign bits are axis-aligned hyperplane LSH without the planes: zero
    * training, zero dot products at index-build time, and the signature is
    * a deterministic projection of the raw floats (component > 0), so the
    * index build is scan-speed and bit-identical across engines by
    * construction.
    *
    * Scale shape: the Hamming ranking runs over a SLIM frame — (vec_id,
    * lo, hi), 24 bytes/vector, the stored index — pruned by the same
    * partial WindowGroupLimit as every top-k here (map tasks keep
    * `rescoreFactor·k` rows per query before the exchange). Full vectors
    * are fetched only for the surviving candidate ids, via a broadcast
    * semi-join of the O(queries·rescoreFactor·k) candidate set against the
    * corpus — the codes-then-fetch architecture every binary-hash index
    * uses on disk.
    *
    * @param corpus  (id, embedding) — columns resolved positionally, like
    *                [[marginMinedPairs]]
    * @param queries (id, embedding) — small side, broadcast
    * @param k       neighbors per query
    * @param rescoreFactor exact-rescore pool = rescoreFactor·k per query
    * @param dim     embedding width (≤ 64); must not exceed the actual
    *                array length — `getItem` past the end yields null and
    *                the bit would silently read 0, so the
    *                signature projection REQUIRES `size(embedding) >= dim`
    *                per row and fails loudly on a too-wide `dim`
    */
  def signBitTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rescoreFactor: Int = 4, dim: Int = 64): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    require(dim >= 2 && dim <= 64, s"dim must be in [2, 64], got $dim")
    val mid = math.min(32, dim)
    def side(df: DataFrame, idAs: String): DataFrame =
      df.select(col(df.columns.head).as(idAs), col(df.columns(1)).as("embedding"))
    def sig(df: DataFrame, idAs: String): DataFrame = {
      val s = side(df, idAs)
      val e = asDouble(col("embedding"))
      // raise_error, not a silent zero bit: a row narrower than `dim`
      // means the caller's dim is wrong for this corpus
      s.select(col(idAs),
        when(size(col("embedding")) < dim, raise_error(concat(
            lit(s"signBitTopK: dim=$dim exceeds embedding width "),
            size(col("embedding")).cast("string"))))
          .otherwise(signWord(e, 0, mid)).as("lo"),
        (if (dim > 32) signWord(e, 32, dim) else lit(0L)).as("hi"))
    }
    val cSig = sig(corpus, "vec_id")
    val qSig = broadcast(sig(queries, "query_id")
      .select(col("query_id"), col("lo").as("q_lo"), col("hi").as("q_hi")))
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("hamming").asc, col("vec_id"))
    val cands = cSig.join(qSig, col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("long"))
      .withColumn("arank", row_number().over(w1))
      .where(col("arank") <= k * rescoreFactor)
      .select("query_id", "vec_id")
    val cFull = side(corpus, "vec_id").select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val qFull = broadcast(side(queries, "query_id").select(col("query_id"),
      asDouble(col("embedding")).as("q_e")))
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cFull.join(broadcast(cands), Seq("vec_id")).join(qFull, Seq("query_id"))
      .withColumn("cos", round(cosine(col("q_e"), col("e")), 6))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }
}

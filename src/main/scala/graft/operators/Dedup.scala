package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * All variants are built from codegen-friendly built-ins (no UDFs) and are
  * shaped for 100 TB:
  *
  *   - exact dedup groups on a 128-bit content fingerprint, so the shuffle
  *     carries (fingerprint, doc_id), never the document text;
  *   - MinHash/LSH finds near-duplicate *candidates* via band buckets — an
  *     equi-join on (band, band_hash) — avoiding the O(n²) all-pairs compare;
  *     only in-bucket pairs are verified;
  *   - n-gram Jaccard verification joins on shingle hashes (64-bit), again
  *     never shipping text;
  *   - SimHash gives a 32-bit locality-sensitive fingerprint whose Hamming
  *     neighborhoods can be banded the same way.
  *
  * Hash derivation uses md5 prefixes (`conv(substr(md5(s),1,8),16,10)`) rather
  * than Spark's internal hash so every step is reproducible in any engine —
  * which is also what makes the DuckDB oracles in [[graft.oracle]] possible.
  */
object Dedup {

  /** 32-bit integer hash of a string column, engine-portable (md5 prefix). */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Word k-shingles of a text column: array of space-joined k-grams
    * (tokens[i..i+k-1] for i in [0, size−k]); docs shorter than k tokens yield
    * an empty array. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")))
  }

  /** Exact duplicate grouping: one row per distinct content fingerprint with
    * the survivor (min doc_id) and the number of copies. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("fingerprint"), col(idCol).cast("long").as("doc_id"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))

  /** [[exactDuplicateGroups]] over NFC-NORMALIZED text (the native
    * [[graft.expressions.GraftExpressions.nfcNormalize]] expression):
    * catches content-identical documents whose bytes differ only by
    * Unicode composition form ("é" composed vs "e"+combining-acute),
    * which byte-level md5 dedup silently keeps twice. Normalization is a
    * scan-speed projection with an already-NFC fast path, so this is the
    * drop-in d1 for multilingual corpora; on pure-ASCII input it equals
    * [[exactDuplicateGroups]] exactly (the gate's property — the
    * composition-form semantics are spec-pinned on constructed fixtures). */
  def normalizedExactDuplicateGroups(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(
        md5(graft.expressions.GraftExpressions.nfcNormalize(col(textCol)))
          .as("fingerprint"),
        col(idCol).cast("long").as("doc_id"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))

  /** [[exactDuplicateGroups]] over AGGRESSIVELY canonicalized text (the
    * native [[graft.expressions.GraftExpressions.canonicalFold]]
    * expression: NFKD compat decomposition → accent strip → per-codepoint
    * lowercase → non-alphanumeric runs collapsed to one space) — the
    * MassiveText/CCNet normalization tier above [[
    * normalizedExactDuplicateGroups]]'s NFC, where case, punctuation,
    * ligatures, and accents no longer distinguish documents. On ASCII
    * input it reduces to lowercase + punctuation collapse (the gate's
    * DuckDB-replayable property); the Unicode semantics are spec-pinned
    * on constructed fixtures. */
  def canonicalExactDuplicateGroups(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(
        md5(graft.expressions.GraftExpressions.canonicalFold(col(textCol)))
          .as("fingerprint"),
        col(idCol).cast("long").as("doc_id"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))

  /** Exact dedup: keeps the min-id document per distinct text. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** MinHash permutation parameters: (j, a_j, b_j) with odd multipliers,
    * deterministic in the seed; p = 2^31 − 1 keeps (a·h + b) within Long. */
  val MinHashPrime: Long = 2147483647L
  def minHashParams(numHashes: Int, seed: Long = 42L): Seq[(Int, Long, Long)] =
    (0 until numHashes).map { j =>
      val a = (graft.dp.Mix.mix64(seed + 2L * j) & 0x7FFFFFFFL) | 1L
      val b = graft.dp.Mix.mix64(seed + 2L * j + 1) & 0x7FFFFFFFL
      (j, a, b)
    }

  /** Long-format MinHash signatures: (doc_id, j, minhash) for j in
    * [0, numHashes).
    *
    * A document's signature depends on nothing outside the row, so it is
    * computed with ZERO shuffles by the native
    * [[graft.expressions.MinHashShingleSigs]] expression — one codegen'd
    * call per document producing the whole `array<long>` signature, then a
    * `posexplode` to the long format. The declarative alternative
    * ([[minHashSignaturesAgg]]) shuffles per-shingle rows into a (doc, j)
    * aggregate; it is kept as the equivalence comparator. Documents with
    * fewer than k tokens have no shingles and emit no rows (the expression
    * returns null there). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, seed: Long = 42L): DataFrame =
    // no explicit null filter: Generate drops null/empty arrays itself, and
    // Catalyst already infers the guard below the explode — an explicit
    // .where would just re-evaluate the expression a third time per row
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.expressions.GraftExpressions.minhashShingleSigs(
          col(textCol), k, numHashes, seed).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")))
      .toDF("doc_id", "j", "minhash")

  /** The declarative (explode → hash → min per (doc, j)) form of
    * [[minHashSignatures]] — one shuffle, map-side-combined to `numHashes`
    * rows per doc before the wire (MIN is duplicate-insensitive, so no
    * distinct exists to shuffle shingle text). Kept as the spec-pinned
    * equivalence baseline for the native expression. */
  def minHashSignaturesAgg(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = broadcast(minHashParams(numHashes, seed).toDF("j", "a", "b"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(shingles(col(textCol), k)).as("shingle"))
      .select(col("doc_id"), hash32(col("shingle")).as("h"))
      .crossJoin(params)
      .groupBy(col("doc_id"), col("j"))
      .agg(min((col("a") * col("h") + col("b")) % lit(MinHashPrime)).as("minhash"))
  }

  /** LSH candidate pairs: signatures banded into `numBands` rows-per-band
    * groups; docs sharing any band bucket are candidates. Returns distinct
    * (doc_a < doc_b) pairs. The band bucket is an equi-join key, so candidate
    * generation is a shuffle on (band, bucket) — never all-pairs. */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    val banded = bandBuckets(signatures, numHashes, numBands)
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** LSH banding auto-tuner (the datasketch-style S-curve optimization):
    * for every factorization b·r = n of the MinHash signature budget,
    * integrate the band-collision probability p(s) = 1 − (1 − s^r)^b on a
    * midpoint grid against the ideal step function at the target Jaccard
    * threshold: FP mass below the threshold (pairs LSH would surface that
    * the verify stage then pays to reject) and FN mass above it (true
    * near-dups banding never surfaces — unrecoverable at corpus scale).
    * Returns one row per (b, r) with q6 masses and `is_best` on the error
    * minimizer (ties → smaller b). This is the knob-setting step BEFORE a
    * 100 TB dedup pass; `q_lsh_candidate_quality` is the post-hoc
    * measurement of the same choice.
    *
    * Numeric contract (oracle-replayable bit-for-bit): powers are
    * LEFT-TO-RIGHT repeated-multiplication folds, never `pow` — IEEE
    * multiply reproduces exactly across engines while libm `pow` does
    * not; every grid term is quantized to q6 BEFORE the sum, so each mass
    * is an exact long sum; midpoint abscissae (i+½)/steps never equal the
    * threshold, so no FP/FN branch rides a float tie.
    *
    * Scale shape: tuning-table cardinality (divisors × grid — thousands
    * of rows); declared as a broadcast crossJoin so it runs like any
    * other plan, but its value is that the chosen (b, r) governs the real
    * corpus pass. */
  def lshParameterSweep(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      thresholdQ6: Long, gridSteps: Int = 1000): DataFrame = {
    require(numHashes >= 1 && gridSteps >= 10, "need a positive budget and grid")
    import spark.implicits._
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)).toDF("b", "r")
    val q6 = (c: Column) => floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    val t = lit(thresholdQ6.toDouble / 1000000.0)
    val terms = spark.range(gridSteps).select(col("id").as("i"))
      .crossJoin(broadcast(divisors))
      .withColumn("s", (col("i").cast("double") + lit(0.5)) / lit(gridSteps.toDouble))
      .withColumn("sr",
        aggregate(sequence(lit(1), col("r")), lit(1.0), (acc, _) => acc * col("s")))
      .withColumn("p", lit(1.0) -
        aggregate(sequence(lit(1), col("b")), lit(1.0), (acc, _) => acc * (lit(1.0) - col("sr"))))
      .select(col("b"), col("r"),
        when(col("s") < t, q6(col("p"))).otherwise(lit(0L)).as("fp_term"),
        when(col("s") >= t, q6(lit(1.0) - col("p"))).otherwise(lit(0L)).as("fn_term"))
    terms.groupBy("b", "r")
      .agg(sum("fp_term").as("fp_q6"), sum("fn_term").as("fn_q6"))
      .withColumn("err_q6", col("fp_q6") + col("fn_q6"))
      .withColumn("is_best",
        row_number().over(Window.orderBy(col("err_q6"), col("b"))) === 1)
      .select("b", "r", "fp_q6", "fn_q6", "err_q6", "is_best")
  }

  /** (doc_id, band, bucket) rows: each doc's signature split into
    * `numBands` bands, each band reduced to a deterministic md5 bucket of
    * its minhashes concatenated in j order — the LSH equi-join key. */
  def bandBuckets(signatures: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into equal bands")
    val rowsPerBand = numHashes / numBands
    signatures
      .withColumn("band", (col("j") / rowsPerBand).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      // deterministic band bucket: minhashes concatenated in j order
      .agg(sort_array(collect_list(struct(col("j"), col("minhash")))).as("sig"))
      .select(col("doc_id"), col("band"),
        md5(array_join(expr("transform(sig, s -> cast(s.minhash as string))"), ",")).as("bucket"))
  }

  /** MinHash Jaccard ESTIMATE for candidate pairs: the fraction of the
    * `numHashes` signature positions on which the two documents agree — the
    * unbiased estimator large pipelines threshold on BEFORE exact
    * verification (exact sets are only fetched for pairs that survive).
    * The join carries ids and longs only; cost is O(|candidates| ×
    * numHashes), independent of document length. */
  def estimateJaccard(signatures: DataFrame, candidates: DataFrame,
      numHashes: Int): DataFrame =
    candidates
      .join(signatures.select(col("doc_id").as("doc_a"), col("j"), col("minhash").as("mh_a")), "doc_a")
      .join(signatures.select(col("doc_id").as("doc_b"), col("j"), col("minhash").as("mh_b")),
        Seq("doc_b", "j"))
      .groupBy("doc_a", "doc_b")
      .agg((sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).cast("double") /
        lit(numHashes.toDouble)).as("est_jaccard"))

  /** Exact n-gram Jaccard pairs with a document-frequency skew guard.
    *
    * Candidate pairs come from a self-join on shingle hashes — but only over
    * shingles appearing in at most `maxDocFrequency` documents: a boilerplate
    * shingle shared by n docs would otherwise emit n²/2 join rows (the skew
    * bomb at 100 TB), while the capped join is bounded by C²/2 rows per
    * shingle. Verification then computes TRUE Jaccard over each candidate's
    * FULL shingle set (hot shingles included), so emitted values are exact;
    * only a pair whose shared shingles are ALL above the cap can be missed —
    * at a 0.8 threshold such pairs share dozens of shingles, making that
    * practically empty (and the DuckDB oracle mirrors the same cap, so the
    * gate pins the semantics).
    *
    * Choosing `maxDocFrequency` is a recall/cost dial with no universal
    * default, which is why it is REQUIRED: per-shingle candidate fan-out is
    * bounded by df², so the cap is the worst-case join blow-up you accept
    * per shingle. Measured at sf0.1 (2 000 docs): cap 10 keeps the whole
    * query at 25 candidate pairs / ~24 MB shuffle (bench profile) and
    * still finds every planted near-duplicate, because true near-dups share
    * many RARE shingles; an uncapped run admits every boilerplate shingle's
    * n²/2 pairs. Raise toward ~100 only when near-dups share nothing but
    * common shingles; beyond that prefer [[lshCandidatePairs]], whose
    * candidate volume is independent of shingle document frequency. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxDocFrequency: Long): DataFrame = {
    // ONE shared set-table materialization for candidate generation
    // AND verification — composing the public entry points would build two
    val sets = shingleHashSets(docs, idCol, textCol, k).localCheckpoint()
    verifyJaccardOnSets(sets, sets,
      rareShinglePairsFromSets(sets, maxDocFrequency), threshold)
  }

  /** Candidate pairs of documents sharing at least one RARE shingle (df ≤
    * `maxDocFrequency`) — the recall stage of [[jaccardPairs]], exposed on
    * its own because the pair list is ALSO the shared-rare-phrase graph a
    * centrality pass ([[GraphOps.quantizedPageRank]]) runs over to surface
    * template/boilerplate hubs. The df cap is what keeps the self-join
    * from exploding on common shingles: per shingle the pair fan-out is ≤
    * df², so candidates are bounded by |shingles| · maxDocFrequency² —
    * never corpus². Only (long, long) pairs reach any shuffle. */
  def rareShingleCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocFrequency: Long): DataFrame =
    // checkpoint the per-doc set table: the exploded
    // stream feeds both the df aggregate and the rare join — one corpus
    // pass instead of two
    rareShinglePairsFromSets(
      shingleHashSets(docs, idCol, textCol, k).localCheckpoint(),
      maxDocFrequency)

  /** The (doc_id, distinct shingle-hash set) table every shingle-family
    * stage derives from — the native set expression hashes AND dedups per
    * document in one codegen'd call. Split out so composed pipelines
    * (d29/d29b: candidates + Jaccard verify + containment verify) build it
    * ONCE and share the materialization instead of re-scanning the corpus
    * per stage. */
  private[graft] def shingleHashSets(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      graft.expressions.GraftExpressions.shingleHashSet(col(textCol), k).as("hs"))

  /** [[rareShingleCandidatePairs]] over an already-built set table. */
  private[graft] def rareShinglePairsFromSets(sets: DataFrame,
      maxDocFrequency: Long): DataFrame = {
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val docFreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val rare = sh.join(docFreq.where(col("df") <= maxDocFrequency), "h")
      .select("doc_id", "h")
    rare.as("x").join(rare.as("y"), "h")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard verification restricted to candidate pairs: joins each
    * side's distinct shingle-hash set (one array per doc) and intersects
    * in-memory — no shingle-level self-join. At scale this is the correct
    * second stage after [[lshCandidatePairs]]: work is O(|candidates| ×
    * shingles/doc), independent of the corpus pair count. */
  def verifyCandidatesJaccard(docs: DataFrame, idCol: String, textCol: String, k: Int,
      candidates: DataFrame, threshold: Double): DataFrame =
    verifyCandidatesJaccardTwoSided(docs, docs, idCol, textCol, k, candidates, threshold)

  /** [[verifyCandidatesJaccard]] generalized to candidates whose two sides
    * come from DIFFERENT document sets (doc_a from `docsA`, doc_b from
    * `docsB`) — the verification stage of cross-corpus dedup. */
  def verifyCandidatesJaccardTwoSided(docsA: DataFrame, docsB: DataFrame,
      idCol: String, textCol: String, k: Int,
      candidates: DataFrame, threshold: Double): DataFrame = {
    // localCheckpoint: in the self-dedup form (docsA eq
    // docsB — every d10/d4/d29 caller) the SAME per-doc shingle-set
    // projection fed both join sides and ran twice over the corpus; build
    // it once. (doc_id, hash set) is the signature-index shape
    // StreamingPipelines.dedupIndex already materializes.
    val setsA = shingleHashSets(docsA, idCol, textCol, k).localCheckpoint()
    val setsB = if (docsA eq docsB) setsA
      else shingleHashSets(docsB, idCol, textCol, k).localCheckpoint()
    verifyJaccardOnSets(setsA, setsB, candidates, threshold)
  }

  /** Jaccard verification over already-built set tables. */
  private[graft] def verifyJaccardOnSets(setsA: DataFrame, setsB: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(setsA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Shingle CONTAINMENT verification over candidate pairs — the asymmetric
    * companion to [[verifyCandidatesJaccard]] (Broder 1997 defines both
    * resemblance and containment; resemblance alone misses the
    * excerpt/quotation/concatenation family): when a short document is a
    * verbatim slice of a long one, Jaccard ≈ |A|/|B| stays far below any
    * dedup threshold while containment |A∩B|/|A| is exactly 1. Emits both
    * directions — `cont_a` = how much of doc_a is inside doc_b, `cont_b`
    * the reverse — and keeps pairs where EITHER direction clears
    * `threshold`, each a single IEEE division of exact integer set sizes
    * rounded to 6 dp.
    *
    * Scale shape: identical to the Jaccard verifier — work is
    * O(|candidates| × shingles/doc) with per-doc hash SETS joined by id,
    * no shingle-level self-join, and only (long, long, array) rows in the
    * candidate-bounded join. */
  def verifyCandidatesContainment(docs: DataFrame, idCol: String, textCol: String,
      k: Int, candidates: DataFrame, threshold: Double): DataFrame =
    // same one-materialization treatment as verifyCandidatesJaccardTwoSided:
    // the set projection fed both join sides
    verifyContainmentOnSets(
      shingleHashSets(docs, idCol, textCol, k).localCheckpoint(),
      candidates, threshold)

  /** Containment verification over an already-built set table. */
  private[graft] def verifyContainmentOnSets(sets: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .where(size(col("hs_a")) > 0 && size(col("hs_b")) > 0)
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("cont_a", round(col("inter").cast("double") / size(col("hs_a")).cast("double"), 6))
      .withColumn("cont_b", round(col("inter").cast("double") / size(col("hs_b")).cast("double"), 6))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("doc_a", "doc_b", "cont_a", "cont_b")

  /** [[rareShingleCandidatePairs]] recall + [[verifyCandidatesContainment]]
    * precision in one call — the containment analogue of [[jaccardPairs]].
    * The set table is built ONCE and shared by candidate generation
    * and verification — one corpus pass where the composed form paid three. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxDocFrequency: Long): DataFrame =
    containmentPairsFromSets(
      shingleHashSets(docs, idCol, textCol, k).localCheckpoint(),
      threshold, maxDocFrequency)

  /** [[containmentPairs]] over an already-built (checkpointed) set table. */
  private[graft] def containmentPairsFromSets(sets: DataFrame,
      threshold: Double, maxDocFrequency: Long): DataFrame =
    verifyContainmentOnSets(sets,
      rareShinglePairsFromSets(sets, maxDocFrequency), threshold)

  /** Survivor selection with CONTAINMENT edges in the closure — the
    * remediation step that turns [[containmentPairs]]' detection into
    * removal: near-dup survivors where the
    * excerpt/quotation family Jaccard provably misses is deduplicated too.
    * Edges = verified-Jaccard LSH pairs ∪ (opt-in, the d17 either-signal
    * pattern) containment pairs, ids-only; components close over the union,
    * survivors are component minima plus untouched singletons, each with its
    * member count.
    *
    * `includeContainment = false` reproduces the plain d10b/e2e_neardup
    * survivor rule exactly — the flag is a pipeline decision because
    * containment REMOVES the quoting side of legitimate quotations, which
    * some corpora want kept.
    *
    * Scale shape: both edge generators are bucket/df-bounded (never
    * corpus²), the union is ids-only, and the closure is the same
    * O(|edges|)-per-round min-label propagation as [[connectedComponents]];
    * text never enters the component or survivor plan. */
  def survivorsWithContainment(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, numBands: Int, jaccardThreshold: Double,
      containmentThreshold: Double, maxDocFrequency: Long,
      includeContainment: Boolean = true): DataFrame = {
    // ONE shared set table: the Jaccard verify (both
    // sides), the containment candidate generation, and the containment
    // verify (both sides) all read the same checkpointed (doc_id, set)
    // rows — the composed form previously re-scanned the corpus per stage.
    val sets = shingleHashSets(docs, idCol, textCol, k).localCheckpoint()
    val jpairs = verifyJaccardOnSets(sets, sets,
        lshCandidatePairs(minHashSignatures(docs, idCol, textCol, k, numHashes),
          numHashes, numBands), jaccardThreshold)
      .select("doc_a", "doc_b")
    val edges =
      if (includeContainment)
        jpairs.unionByName(
          containmentPairsFromSets(sets, containmentThreshold,
            maxDocFrequency).select("doc_a", "doc_b")).distinct()
      else jpairs
    val comp = connectedComponents(edges, "doc_a", "doc_b")
    val members = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
      .select(col("component").as("__mcomp"), col("n_members"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp.select(col("doc_id").as("__cid"), col("component")),
        col("doc_id") === col("__cid"), "left")
      .where(col("component").isNull || col("doc_id") === col("component"))
      .join(members, col("doc_id") === col("__mcomp"), "left")
      .select(col("doc_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
  }

  /** Containment remediation, STRIP form (the d14b-style
    * alternative to [[survivorsWithContainment]]'s whole-doc drop): for
    * every verified containment pair the EXCERPT side (the doc whose
    * shingles sit inside the other — the quotation's source) survives
    * INTACT, and the HOST is re-emitted with the quoted region cut: the
    * host's n-token windows appearing verbatim among its excerpt's
    * windows merge to maximal spans ([[mergeSpans]]) and strip
    * ([[stripSpans]]), so the host's novel remainder — the commentary
    * around the quote — survives. Drop-vs-strip is a pipeline decision:
    * drop loses that commentary; strip keeps it, and keeps the quoted
    * content exactly once, in its source document.
    *
    * Orientation: excerpt = the side with the GREATER containment; on an
    * exact tie (mutual near-full dup) the LOWER doc_id is the excerpt —
    * the excerpt side survives INTACT, so the tie rule keeps the lower
    * id untouched and strips the higher, consistent with the min-id
    * survivor convention everywhere else.
    *
    * Output: (doc_id, is_host, clean_text) for EVERY document; non-hosts
    * carry whitespace-normalized text (the [[stripSpans]] contract).
    *
    * Scale shape: pairs are [[containmentPairs]]' bucket/df-bounded set;
    * the excerpt-window join fans out to (host, 128-bit hash) rows at
    * pair-windows cardinality, the host-window match is an ids+hash
    * equi-join, and text is touched only inside stripSpans' local
    * higher-order filter — never an exchange. */
  def stripContainedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, containmentThreshold: Double, maxDocFrequency: Long,
      n: Int): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, k,
      containmentThreshold, maxDocFrequency)
    // localCheckpoint: the oriented pair table feeds BOTH
    // the excerpt-window join and the host flag — without it the whole
    // containmentPairs lineage (rare-shingle candidates + two shingle-set
    // verification joins) runs twice. Pair cardinality, two longs per row.
    val oriented = pairs.select(
      when(col("cont_a") > col("cont_b"), col("doc_b"))
        .when(col("cont_b") > col("cont_a"), col("doc_a"))
        .otherwise(greatest(col("doc_a"), col("doc_b"))).as("host_id"),
      when(col("cont_a") > col("cont_b"), col("doc_a"))
        .when(col("cont_b") > col("cont_a"), col("doc_b"))
        .otherwise(least(col("doc_a"), col("doc_b"))).as("excerpt_id"))
      .localCheckpoint()
    val wins = windowHashes(docs, idCol, textCol, n)
    val exWins = wins.select(col("doc_id").as("excerpt_id"), col("h")).distinct()
    val hostHot = oriented.join(exWins, Seq("excerpt_id"))
      .select(col("host_id").as("doc_id"), col("h")).distinct()
    val spans = mergeSpans(
      wins.join(hostHot, Seq("doc_id", "h")).select("doc_id", "pos"), n)
    val hosts = oriented.select(col("host_id").as("doc_id")).distinct()
      .withColumn("is_host", lit(true))
    stripSpans(docs, idCol, textCol, spans)
      .join(hosts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_host"), lit(false)).as("is_host"),
        col("clean_text"))
  }

  /** Incremental (cross-corpus) dedup — the steady-state form a 100 TB
    * corpus actually runs: a NEW batch of documents is deduplicated AGAINST
    * the existing corpus without ever comparing corpus docs to each other.
    * MinHash band buckets on both sides, candidates from the (band, bucket)
    * equi-join restricted to incoming×corpus, exact Jaccard verification on
    * candidates only.
    *
    * One row per incoming document: `doc_id`, `dup_of` (the LOWEST-id
    * corpus doc whose verified Jaccard ≥ threshold, NULL if none),
    * `best_jaccard` (the HIGHEST verified similarity across its corpus
    * matches, NULL if none), `keep` (no match ⇒ admit to the corpus).
    *
    * Scale shape: the corpus side's signatures are a pure function of its
    * text — in production they are computed once at ingest and stored, so a
    * batch costs O(batch) signature work plus a bucket join whose shuffle
    * carries only (id, band, bucket); corpus TEXT is touched only for the
    * verified candidates' shingle sets. Candidate volume is |incoming| ×
    * bucket occupancy, never corpus². */
  def incrementalDedup(corpus: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, k: Int, numHashes: Int, numBands: Int,
      threshold: Double, seed: Long = 42L,
      canonicalize: Boolean = false): DataFrame = {
    // canonicalize = true applies the [[lexicalNearDupPairs]] discipline to
    // the STEADY-STATE path: the maintained signature index and the
    // incoming batch both fold through graft_canon before shingling and
    // verification, so case/punct variants dedup at ingest too — a
    // zero-shuffle per-row projection on each side
    def fold(df: DataFrame): DataFrame =
      if (canonicalize)
        df.withColumn(textCol,
          graft.expressions.GraftExpressions.canonicalFold(col(textCol)))
      else df
    val corpusF = fold(corpus)
    val incomingF = fold(incoming)
    val cBuckets = bandBuckets(
      minHashSignatures(corpusF, idCol, textCol, k, numHashes, seed), numHashes, numBands)
    val iBuckets = bandBuckets(
      minHashSignatures(incomingF, idCol, textCol, k, numHashes, seed), numHashes, numBands)
    val candidates = iBuckets.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
      .join(cBuckets.select(col("doc_id").as("doc_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("doc_a", "doc_b").distinct()
    val verified = verifyCandidatesJaccardTwoSided(
      incomingF, corpusF, idCol, textCol, k, candidates, threshold)
    val matches = verified.groupBy("doc_a").agg(
      min(col("doc_b")).as("dup_of"), max(col("jaccard")).as("best_jaccard"))
    incoming.select(col(idCol).cast("long").as("doc_id"))
      .join(matches.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** Connected components over near-duplicate pairs — the survivor-selection
    * step a real dedup pipeline needs after d2/d4/d6: pairs chain (A~B, B~C)
    * into clusters, and each document's component label IS its canonical
    * survivor (the minimum doc id reachable from it).
    *
    * Min-label propagation: every vertex starts labeled with itself; each
    * round pulls the minimum label across its neighbors; fixpoint after
    * O(cluster diameter) rounds. Each round is one distributed join +
    * map-side-combinable min aggregate over the edge list — the driver only
    * orchestrates the loop and reads a scalar convergence count, so the
    * per-round cost is O(|edges|) shuffle regardless of cluster count.
    * Near-dup clusters in practice have tiny diameters (dupes of a common
    * original), so rounds ≈ 2–4; `maxIter` bounds pathological chains.
    *
    * Only documents appearing in some pair are returned — a singleton is
    * trivially its own survivor.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("v"), col(bCol).as("u"))
      .unionByName(pairs.select(col(bCol).as("v"), col(aCol).as("u")))
      .distinct().cache()
    var labels = edges.select("v").distinct().withColumn("l", col("v"))
    // Convergence via the label-sum invariant: min-label propagation only
    // ever DECREASES labels, so Σl is strictly decreasing while any vertex
    // still changes and exactly stable at the fixpoint — one tiny scan over
    // the fresh snapshot replaces a labels⋈newLabels join + count per
    // round. Decimal sum: Σ(doc_id) over billions of 64-bit ids can
    // overflow a long.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // sum over zero rows is NULL — an empty pair set must converge, not NPE
      Option(df.agg(sum(col("l").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min over neighbors' labels UNION own label: one join, one
      // map-side-combinable aggregate per round.
      //
      // Eager per-round lineage truncation: `labels` feeds this plan twice,
      // so without truncation the logical tree grows 2^rounds — a
      // diameter-15 chain OOMs the driver on plan stringification alone.
      // The localCheckpoint both materializes the round (one action) and
      // keeps every recompute path one round deep.
      val next = edges
        .join(labels.select(col("v").as("u"), col("l").as("ul")), "u")
        .select(col("v"), col("ul"))
        .unionByName(labels.select(col("v"), col("l").as("ul")))
        .groupBy("v").agg(min(col("ul")).as("l"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      // the superseded snapshot is never read again (the new checkpoint is
      // self-contained): free its blocks now rather than waiting for the
      // ContextCleaner's GC-driven reclaim
      labels.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => // round 0: labels is a plain plan, nothing persisted
      }
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    labels.select(col("v").as("doc_id"), col("l").as("component"))
  }

  /** Leakage-safe train/val/test split: every member of a near-duplicate
    * component lands in the SAME split. Splitting rows independently
    * (plain [[CoreOps.hashSplit]]) leaks near-copies of training documents
    * into the held-out sets, silently inflating eval scores — the standard
    * fix is to split by the duplicate CLUSTER, not the document.
    *
    * `pairs` are verified near-dup edges (e.g. LSH candidates that passed
    * exact Jaccard); the split key is the component's min-id representative,
    * so the assignment is deterministic and unchanged when a new duplicate
    * joins an existing cluster. Singletons fall back to their own id, which
    * makes this IDENTICAL to `hashSplit` on a pair-free corpus.
    *
    * Scale shape: components only materialize for documents that appear in
    * some pair — a few percent of the corpus at production dup rates — so
    * the label join is an equi-join on the id that AQE downgrades to a
    * broadcast when the dup set is small; no shuffle carries text. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, splits: Seq[(String, Int)]): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("doc_id").as("__lss_id"), col("component").as("__lss_comp"))
    val withRep = df.join(comp, col(idCol) === col("__lss_id"), "left")
      .withColumn("__lss_rep", coalesce(col("__lss_comp"), col(idCol)))
      .drop("__lss_id", "__lss_comp")
    CoreOps.hashSplitOn(withRep, col("__lss_rep"), splits).drop("__lss_rep")
  }

  /** Benchmark decontamination — the training-pipeline step that flags
    * corpus documents overlapping an evaluation set: a (corpus_doc, bench
    * _doc) pair is contaminated when the two share at least `minOverlap`
    * DISTINCT word k-shingles.
    *
    * Scale shape: the benchmark side is small by definition (an eval suite,
    * not a corpus), so its distinct shingles BROADCAST and the corpus-side
    * shingle explosion joins map-side — no shuffle carries text; the only
    * exchange is the (doc_id, bench_id) count aggregate, partial-aggregated
    * map-side. Per-document shingle dedup happens INSIDE the array before
    * the explode (`array_distinct`) — a document's shingles are co-located
    * by construction, so a global dropDuplicates would shuffle every
    * (doc, shingle) string to deduplicate sets that are already local.
    * Joining on the shingle STRING (not a hash) keeps the overlap count
    * exact. */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, minOverlap: Long = 1L): DataFrame = {
    def sh(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).cast("long").as(idAs),
          explode(array_distinct(shingles(col(textCol), k))).as("shingle"))
    sh(corpus, "doc_id")
      .join(broadcast(sh(bench, "bench_id")), Seq("shingle"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minOverlap)
  }

  /** Duplicate-SPAN detection — substring-level dedup: maximal runs of
    * consecutive n-token windows whose content recurs elsewhere in the
    * corpus (or elsewhere in the same document). Document-level dedup
    * (d1/d2) misses boilerplate — licenses, headers, navigation chrome —
    * embedded inside otherwise-unique documents; span-level detection
    * finds exactly those regions, the remediation being to cut the span
    * rather than drop the document.
    *
    * Mechanics: every n-token window is hashed (md5 over the space-joined
    * window — engine-portable, oracle-checkable); a window is *duplicated*
    * when its hash occurs at least `minOccurrences` times corpus-wide;
    * consecutive duplicated positions merge into maximal spans with the
    * classic islands trick (pos − row_number is constant within a run).
    * One row per span: start position, token length, window count.
    *
    * Scale shape: the exploded frame carries (doc_id, pos, 128-bit hash) —
    * never text; its two shuffles are the occurrence aggregate on the hash
    * and the per-document islands window, both map-side combinable or
    * WindowGroupLimit-free single-pass. A corpus-wide hot window (the same
    * license in a million docs) costs one aggregate row plus its own
    * occurrence count — candidate volume is linear in corpus positions,
    * never pairwise. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long = 2L): DataFrame = {
    val wins = windowHashes(docs, idCol, textCol, n)
    val occ = wins.groupBy("h").agg(count(lit(1)).as("occ"))
    mergeSpans(
      wins.join(occ.where(col("occ") >= minOccurrences), "h").select("doc_id", "pos"), n)
  }

  /** Retrieval-assisted decontamination — the production pattern for
    * auditing a corpus against a benchmark when the full corpus-wide
    * window semi-join ([[splitLeakage]]) is too expensive to run per eval
    * release: BM25 retrieves each eval item's top-k lexically-closest
    * corpus documents, and the EXACT n-token window verification runs
    * only on those candidate pairs. One row per eval item:
    * (eval_id, n_candidates, n_confirmed, max_shared) — candidates with
    * ≥ 1 shared verbatim window are confirmed contamination.
    *
    * Recall caveat (by design): contamination in a document BM25 does not
    * retrieve into the top-k is missed — this is the cheap
    * per-eval-release audit; [[contaminationSpans]]/[[splitLeakage]]
    * remain the exhaustive forms.
    *
    * Scale shape: the retrieval stage is [[TextOps.bm25Search]]'s bounded
    * shape; past it EVERYTHING runs at candidate cardinality — candidate
    * ids broadcast back into the corpus scan so the window explode
    * touches ≤ |eval|·k documents, never the corpus; shared-window
    * counting joins (id, 128-bit hash) rows only. Audit cost is
    * independent of corpus size beyond the index probe. */
  def retrievalDecontam(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, k: Int, n: Int): DataFrame = {
    val cands = TextOps.bm25Search(corpus, evalSet, idCol, textCol, idCol,
        textCol, k)
      .select(col("query_id").as("eval_id"), col("doc_id").as("cand_id"))
    val candIds = cands.select(col("cand_id")).distinct()
    val candDocs = corpus.join(
      broadcast(candIds.select(col("cand_id").cast("long").as("__cid"))),
      col(idCol).cast("long") === col("__cid"))
    val evalW = windowHashes(evalSet, idCol, textCol, n)
      .select(col("doc_id").as("eval_id"), col("h")).distinct()
    val candW = windowHashes(candDocs, idCol, textCol, n)
      .select(col("doc_id").as("cand_id"), col("h")).distinct()
    val shared = cands
      .join(evalW, Seq("eval_id"))
      .join(candW, Seq("cand_id", "h"))
      .groupBy("eval_id", "cand_id").agg(count(lit(1)).as("__shared"))
    cands.join(shared, Seq("eval_id", "cand_id"), "left")
      .withColumn("__shared", coalesce(col("__shared"), lit(0L)))
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("__shared") > 0, lit(1L)).otherwise(lit(0L))).as("n_confirmed"),
        max(col("__shared")).as("max_shared"))
  }

  /** Every n-token window of every document as (doc_id, pos, md5-hash) —
    * the exploded frame behind [[duplicateSpans]] and
    * [[contaminationSpans]]; the full 128-bit hash keeps window identity
    * collision-free at any corpus size. The per-window
    * tokenize/slice/concat/md5 chain is the native
    * [[graft.expressions.WindowHashArray]] expression (one codegen'd call
    * per document straight off the text's UTF-8 bytes — the declarative
    * `transform` ran interpreted and allocated a sliced array + a concat
    * per window); [[GraftExpressionsSpec]] pins bit-identity against the
    * declarative form, so every window-family DuckDB oracle is untouched.
    * `private[graft]` (not private) solely so Bench's memorization A/B
    * can write the retired occurrence-level plan as its
    * deliberately-bad arm against the same window machinery. */
  private[graft] def windowHashes(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"window size must be >= 1, got $n")
    docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(graft.expressions.GraftExpressions.windowHashes(col(textCol), n))
        .as(Seq("pos", "h")))
  }

  /** Flagged (doc_id, pos) window positions merged into maximal spans via
    * the islands trick (pos − row_number constant within a consecutive
    * run); one row per span. */
  private def mergeSpans(dup: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dup.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** Span-level benchmark decontamination — the n-gram window match real
    * LLM pipelines run against their eval suites (the 8–13-gram overlap
    * rule): a corpus region is contaminated when one of its n-token
    * windows appears VERBATIM anywhere in the benchmark set; consecutive
    * contaminated windows merge into maximal spans, so the remediation
    * (cut the span, or drop the document when coverage is high) is
    * precise. Complements [[contaminationPairs]], which scores doc-level
    * shingle overlap without localizing it.
    *
    * Scale shape: the benchmark side is an eval suite, small by
    * definition — its distinct window hashes BROADCAST, so flagging is a
    * map-side semi-join over the corpus windows: (doc_id, pos, hash)
    * rows, never text; the only shuffle is the per-document islands
    * window. */
  def contaminationSpans(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchWins = windowHashes(bench, idCol, textCol, n).select("h").distinct()
    mergeSpans(
      windowHashes(corpus, idCol, textCol, n)
        .join(broadcast(benchWins), "h").select("doc_id", "pos"), n)
  }

  /** Cross-split n-gram leakage audit — the QA gate a pipeline runs AFTER
    * splitting: for every test-split document, how many of its n-token
    * windows appear verbatim anywhere in the train split. A hash split is
    * leakage-safe at the near-dup level only if components were collapsed
    * first ([[leakageSafeSplit]]); this measures what actually leaked, at
    * window granularity, so a build can alarm on regressions in its dedup
    * upstream. One row per test document (0s when clean): total windows,
    * leaked windows, leaked fraction.
    *
    * Scale shape: unlike [[contaminationSpans]]' eval suite, the train side
    * is most of the corpus — its distinct window hashes CANNOT broadcast,
    * so the flagging is a hash-partitioned semi-join carrying only 128-bit
    * hashes (never text, never positions on the train side); the per-doc
    * leaked count aggregates map-side, and the total window count is a pure
    * projection (`size(tokens) − n + 1` — no explode, no shuffle). */
  /** Distinct n-token window hashes of `docs` — the static index side of
    * [[splitLeakage]] and the streaming leakage monitor
    * ([[graft.streaming.StreamingPipelines.splitLeakageStream]]). At scale
    * this is a maintained table (same contract as the streaming dedup
    * index): compute once per split snapshot, not per audit. */
  def windowHashIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    windowHashes(docs, idCol, textCol, n).select("h").distinct()

  def splitLeakage(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val trainWins = windowHashIndex(train, idCol, textCol, n)
    val leaked = windowHashes(test, idCol, textCol, n)
      .join(trainWins, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
    test.select(col(idCol).cast("long").as("doc_id"),
        greatest(size(TextOps.tokens(col(textCol))) - lit(n - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(leaked, Seq("doc_id"), "left")
      .withColumn("n_leaked", coalesce(col("n_leaked"), lit(0L)))
      .withColumn("leak_frac",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(TextOps.round4(col("n_leaked").cast("double") /
            col("n_windows").cast("double"))))
  }

  /** Inter-source duplication matrix — the curation diagnostic that finds
    * syndicated/mirrored content across domains BEFORE dedup: for every
    * pair of sources, the number of distinct n-token windows they share
    * verbatim. A hot pair (news wire mirrored across outlets, scraped
    * boilerplate shared by site families) tells a build which domains to
    * collapse or down-weight.
    *
    * Scale shape: the exploded frame distincts to (source, hash) — source
    * cardinality is small, so this is at most |sources| rows per distinct
    * window; the self-equi-join on the hash produces ≤ S²/2 rows per
    * window and aggregates map-side to the S×S matrix. Text never leaves
    * its scan projection. */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String, srcCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"window size must be >= 1, got $n")
    val sh = docs.select(col(srcCol).as("source"),
      explode(graft.expressions.GraftExpressions.windowHashes(col(textCol), n))
        .as("h")).distinct()
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** Multi-suite span decontamination — [[contaminationSpans]] against
    * SEVERAL benchmark suites in ONE pass: every eval window carries its
    * suite tag, so the output reports per (document, suite) which corpus
    * regions leak into which benchmark — the real shape of a production
    * decontamination run, which audits MMLU+GSM8K+… simultaneously
    * instead of rescanning the corpus per suite.
    *
    * Scale shape: corpus windows are hashed ONCE; the eval side is
    * (hash, suite) distinct rows — ≤ |suites| per window — and the islands
    * merge partitions by (doc, suite). Same (doc, pos, 128-bit hash)
    * exchange discipline as [[contaminationSpans]]; adding a suite never
    * adds a corpus scan. */
  def contaminationSpansBySuite(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, suiteCol: String, n: Int): DataFrame = {
    val suites = bench.select(col(idCol).cast("long").as("doc_id"),
      col(suiteCol).as("suite"))
    val evw = windowHashes(bench, idCol, textCol, n)
      .join(suites, "doc_id").select("h", "suite").distinct()
    val flagged = windowHashes(corpus, idCol, textCol, n)
      .join(evw, "h").select("doc_id", "pos", "suite")
    val w = Window.partitionBy("doc_id", "suite").orderBy("pos")
    flagged.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "suite", "grp")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** Per-document contamination COVERAGE over [[contaminationSpans]]'
    * output: the fraction of a document's token positions lying inside some
    * contaminated span — the decision metric real pipelines threshold to
    * pick a remediation (strip the span at low coverage, drop the document
    * outright at high coverage). Spans are maximal and disjoint per
    * document by construction, so coverage is their plain length sum; every
    * corpus document gets a row (0.0 when clean).
    *
    * Scale shape: [[contaminationSpans]]' shuffles plus one ids-only
    * span-length aggregate left-joined back (contaminated docs are a corpus
    * minority, so AQE downgrades the join to broadcast); the token count is
    * a pure projection — text never shuffles. */
  def contaminationFraction(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val covered = contaminationSpans(corpus, bench, idCol, textCol, n)
      .groupBy("doc_id").agg(sum(col("span_len")).as("contaminated_tokens"))
    corpus.select(col(idCol).cast("long").as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("contaminated_tokens", coalesce(col("contaminated_tokens"), lit(0L)))
      .withColumn("contamination_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(TextOps.round4(col("contaminated_tokens").cast("double") /
            col("n_tokens").cast("double"))))
  }

  /** Quality-aware survivor selection: instead of [[connectedComponents]]'
    * min-id canonical, keep the BEST document of each near-dup cluster —
    * "best" = the caller's quality column, ties to the lowest id. This is
    * the keep-the-longest / keep-the-highest-scoring rule real curation
    * runs apply so a truncated copy never shadows its full original.
    * Untouched singletons survive unchanged; output is the surviving subset
    * of `docs`, schema preserved.
    *
    * Scale shape: component labels join the quality column ids-only; the
    * per-component argmax is one window over cluster-sized groups (near-dup
    * clusters are tiny in practice — no skew key); survivors filter via two
    * ids-only left joins exactly like d10b. Text never enters the plan. */
  def bestSurvivors(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String, bCol: String, qualityCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val ranked = comp.join(
        docs.select(col(idCol).cast("long").as("__id"), col(qualityCol).as("__q")),
        col("doc_id") === col("__id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("component").orderBy(col("__q").desc, col("doc_id"))))
    val reps = ranked.where(col("__rn") === 1)
      .select(col("doc_id").as("__rep"), lit(true).as("__is_rep"))
    docs.join(comp.select(col("doc_id").as("__cid"), col("component")),
        col(idCol).cast("long") === col("__cid"), "left")
      .join(reps, col(idCol).cast("long") === col("__rep"), "left")
      .where(col("component").isNull || col("__is_rep"))
      .drop("__cid", "component", "__rep", "__is_rep")
  }

  /** Remediation for [[duplicateSpans]]: every document re-emitted with its
    * duplicated spans REMOVED — cut the boilerplate, keep the document.
    * Output text is whitespace-normalized (surviving tokens re-joined with
    * single spaces) so the transform is engine-portable and oracle-checkable;
    * a span-free document round-trips to its normalized self, a fully-
    * duplicated one to the empty string.
    *
    * Scale shape: [[duplicateSpans]]' shuffles plus one ids-only left join —
    * the span side aggregates to one small array per affected document
    * (affected docs are a corpus minority at production dup rates, so AQE
    * downgrades the join to broadcast); the text column itself never
    * shuffles, and span removal is a codegen'd higher-order filter on the
    * already-local token array. */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long = 2L): DataFrame =
    stripSpans(docs, idCol, textCol,
      duplicateSpans(docs, idCol, textCol, n, minOccurrences))

  /** Cross-document BOILERPLATE spans: maximal runs of n-token windows
    * whose content occurs in at least `minDocFrequency` DISTINCT documents
    * — the shared nav-chrome/license/footer detector (the RefinedWeb-style
    * line-dedup rule, at token-window granularity). Differs from
    * [[duplicateSpans]] in the hotness test: occurrence count would let a
    * single self-repetitive document flag its own refrain; document
    * frequency only fires on content the CORPUS repeats.
    *
    * Scale shape: same exploded (doc_id, pos, 128-bit hash) frame as
    * [[duplicateSpans]]; the df aggregate distincts (h, doc_id) first —
    * both levels map-side combinable — and a corpus-wide hot window costs
    * one aggregate row regardless of how many documents carry it. */
  def boilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocFrequency: Long): DataFrame = {
    val wins = windowHashes(docs, idCol, textCol, n)
    mergeSpans(
      wins.join(windowDocFrequency(wins).where(col("df") >= minDocFrequency), "h")
        .select("doc_id", "pos"), n)
  }

  /** Per-SOURCE boilerplate strip — the domain-scoped form of
    * [[stripBoilerplate]] and the rule web-curation pipelines actually
    * apply (RefinedWeb/CCNet strip lines repeated within a DOMAIN): a
    * window is chrome only when at least `minDocFrequency` distinct
    * documents OF THE SAME SOURCE repeat it, so one site's nav bar never
    * censors another site's legitimate prose that happens to share a
    * phrase. Same output contract as [[stripSpans]].
    *
    * Scale shape: the df aggregate keys on (source, h) — still two
    * map-side-combinable levels — and the hot-window join carries the
    * source alongside the hash; everything else is [[stripBoilerplate]]
    * unchanged. */
  def stripBoilerplateBySource(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, n: Int, minDocFrequency: Long): DataFrame = {
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      col(srcCol).as("__src"))
    val wins = windowHashes(docs, idCol, textCol, n).join(src, "doc_id")
    val spans = mergeSpans(
      wins.join(windowDocFrequency(wins, Seq("__src", "h"))
          .where(col("df") >= minDocFrequency), Seq("__src", "h"))
        .select("doc_id", "pos"), n)
    stripSpans(docs, idCol, textCol, spans)
  }

  /** Distinct-document frequency per window hash — the ONE definition of
    * "corpus-hot" shared by [[boilerplateSpans]], [[memorizationRisk]] and
    * (keyed by source) [[stripBoilerplateBySource]]: a rule change must
    * hit all three or the strips and the audit disagree. `keys` scopes the
    * frequency (e.g. Seq("__src", "h") for the per-source rule). Both
    * aggregate levels combine map-side. */
  private def windowDocFrequency(wins: DataFrame,
      keys: Seq[String] = Seq("h")): DataFrame =
    wins.select((keys :+ "doc_id").map(col): _*).distinct()
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))

  /** Remediation for [[boilerplateSpans]]: cut the corpus-repeated chrome,
    * keep the document — same output contract and scale shape as
    * [[stripDuplicateSpans]]. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocFrequency: Long): DataFrame =
    stripSpans(docs, idCol, textCol,
      boilerplateSpans(docs, idCol, textCol, n, minDocFrequency))

  /** Per-document memorization-risk audit over the [[boilerplateSpans]]
    * document-frequency machinery: for every document with at least one
    * n-token window, the maximum distinct-document frequency among its
    * windows, how many of its windows are corpus-hot (df ≥ `hotDf`), and
    * the hot fraction — the pre-training signal for content a model is
    * likely to memorize because the corpus repeats it.
    *
    * Scale shape (the occurrence-level form recomputed the window
    * lineage twice and shuffled the full per-occurrence table through
    * four exchanges, 47.6× wall on 10× data): the per-OCCURRENCE window
    * table collapses to distinct (doc_id, h) pairs plus an occurrence
    * count in its FIRST aggregate (map-side combinable, so the biggest
    * relation in the family never crosses an exchange at occurrence
    * cardinality), the df table is exactly a count of pair rows per
    * hash, the h-join runs at pair cardinality (AQE-splittable where hot
    * hashes skew it — by construction they do; hot windows ARE the
    * signal). n_windows/n_hot re-derive from the occurrence counts, so
    * the output contract is unchanged. Text never shuffles.
    *
    * The pair table is NOT shared between its two consumers: the df
    * branch needs no `occ` column, so column pruning turns its (doc_id, h)
    * aggregate into a plain distinct, and the plan carries two different
    * `hashpartitioning(doc_id, h)` exchanges (one with `partial_count`,
    * one without) and no `ReusedExchange`
    * (plans/r20/q_memorization_risk_after.txt). Window extraction — scan,
    * tokenize and hash — therefore runs twice per action. That still
    * measured faster at sf0.1 (14.7 → 12.5 s) than a localCheckpoint of
    * the pair table, which adds a materialization job and re-reads the
    * checkpoint blocks (2.3 GB of storage input). (A repartition(h)+persist variant adds an
    * exchange: AQE compiles cached/checkpointed plans with unknown output
    * partitioning, so downstream operators re-shuffle anyway.) */
  def memorizationRisk(docs: DataFrame, idCol: String, textCol: String,
      n: Int, hotDf: Long): DataFrame = {
    val pairs = windowHashes(docs, idCol, textCol, n)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("occ"))
    val df = pairs.groupBy("h").agg(count(lit(1)).as("df"))
    pairs.join(df, "h")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_windows"),
        max(col("df")).as("max_df"),
        coalesce(sum(when(col("df") >= hotDf, col("occ"))), lit(0L)).as("n_hot"))
      .withColumn("hot_frac", TextOps.round4(
        col("n_hot").cast("double") / col("n_windows").cast("double")))
  }

  /** Generic span remediation: every document re-emitted with the given
    * (doc_id, span_start, span_len) token ranges REMOVED — the shared
    * engine behind [[stripDuplicateSpans]] (spans from [[duplicateSpans]])
    * and decontamination stripping (spans from [[contaminationSpans]]).
    * Same scale shape as documented on [[stripDuplicateSpans]]: the span
    * side aggregates to one small array per affected document and joins
    * ids-only; the token array never shuffles; removal is a codegen'd
    * higher-order filter. */
  def stripSpans(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val spanArrays = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("__spans"))
    val emptySpans = array().cast("array<struct<span_start:bigint,span_len:bigint>>")
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .join(spanArrays, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(col("__toks"), (_, i) =>
          !exists(coalesce(col("__spans"), emptySpans),
            s => i >= s("span_start") && i < s("span_start") + s("span_len"))))
          .as("clean_text"))
  }

  /** First-occurrence-wins BLOCK dedup (the MassiveText/RefinedWeb
    * sub-document rule): the corpus is cut into fixed-width token blocks
    * (`blockTokens`, trailing partial block included), every block content
    * keeps exactly ONE copy — the globally smallest (doc_id, block_index)
    * occurrence — and all later copies are cut from their documents'
    * reassembled text. Differs from [[stripBoilerplate]] (df-threshold
    * rule, cuts EVERY occurrence including the first) and from
    * [[duplicateSpans]] (maximal recurring runs, also cut everywhere):
    * here repeated content survives exactly once corpus-wide, which is
    * the dedup semantics (remove redundancy, lose no content), not the
    * chrome-removal semantics. Within-document repeats dedup too (the
    * first occurrence in the owning doc wins).
    *
    * Output: (doc_id, n_blocks, n_dropped, clean_text), every document
    * present (empty docs keep `clean_text = ''`).
    *
    * Scale shape: blocks are md5'd IN THE SCAN PROJECTION — the exploded
    * rows carry (doc_id, block_index, 128-bit hash), never text; the
    * winner per hash is one `min(struct(doc_id, idx))` aggregate with
    * map-side partials; dropped indexes aggregate to one small array per
    * AFFECTED document (the duplicate mass, far smaller than the corpus
    * at scale) and join back ids-only (AQE → broadcast); reassembly is a
    * codegen'd higher-order filter over the local token array. */
  /** Block count ceil(|__toks| / b) — the single definition batch AND
    * streaming block dedup share, so stream == batch holds by
    * construction (expects a `__toks` column in scope). */
  private[graft] def blockCountCol(b: Int): Column =
    ceil(size(col("__toks")).cast("double") / lit(b.toDouble)).cast("long")

  /** md5-per-block array over `__toks`/`__nb` columns in scope — ONE
    * definition of the block fingerprint for the whole family. */
  private[graft] def blockHashesCol(b: Int): Column =
    when(col("__nb") >= 1, expr(
        s"transform(sequence(0, __nb - 1), i -> md5(array_join(slice(__toks, cast(i * $b + 1 as int), $b), ' ')))"))
      .otherwise(expr("array()"))

  /** (doc_id, __toks, __nb) projection shared by the block-dedup family. */
  private[graft] def blockBase(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__nb", blockCountCol(blockTokens))

  /** Exploded (doc_id, bi, h) block-hash rows — md5 computed IN the scan
    * projection, so text never survives past this select. */
  private[graft] def blockRows(base: DataFrame, blockTokens: Int): DataFrame =
    base.select(col("doc_id"),
      posexplode(blockHashesCol(blockTokens)).as(Seq("bi", "h")))

  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 16): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    val b = blockTokens
    val base = blockBase(docs, idCol, textCol, b)
    val blocks = blockRows(base, b)
    val winners = blocks.groupBy("h")
      .agg(min(struct(col("doc_id").as("d"), col("bi").as("i"))).as("w"))
    val dropped = blocks.join(winners, "h")
      .where(!(col("doc_id") === col("w.d") && col("bi") === col("w.i")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("bi"))).as("__drops"))
    base.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__nb").as("n_blocks"),
        coalesce(size(col("__drops")), lit(0)).cast("long").as("n_dropped"),
        blockCleanText(b).as("clean_text"))
  }

  /** The reassembly expression shared by the block-dedup family: the local
    * token array minus the `__drops` block indexes — a codegen'd
    * higher-order filter, no shuffle. */
  private def blockCleanText(b: Int): Column = expr(
    s"""concat_ws(' ', flatten(transform(
       |  filter(CASE WHEN __nb >= 1 THEN sequence(0L, __nb - 1L) ELSE array() END,
       |         i -> NOT array_contains(coalesce(__drops, cast(array() as array<int>)), cast(i as int))),
       |  i -> slice(__toks, cast(i * $b + 1 as int), $b))))""".stripMargin)

  /** The maintained BLOCK-HASH index behind incremental/streaming block
    * dedup — one row per distinct block content in the standing corpus:
    * (h, rep_doc, rep_idx), the lexicographically first occurrence. The
    * sub-document sibling of [[graft.streaming.StreamingPipelines
    * .dedupIndex]] (document signatures) and the asset signature index.
    * Production materializes this once per snapshot and APPENDS admitted
    * epochs' novel blocks between ingest queries. */
  def blockHashIndex(corpus: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 16): DataFrame =
    blockIndexFromOccurrences(blockOccurrences(corpus, idCol, textCol, blockTokens))

  /** Per-OCCURRENCE block rows (h, doc_id, bi) of a corpus — the
    * maintained-STORAGE form of the block index when right-to-be-forgotten
    * deletes must hold: per-row occurrence rows mean delete is a pure
    * anti-join with no cross-entry repair (the same reason the BM25
    * posting, lexical signature, and semantic cell indexes keep per-
    * document rows), and the (h, rep) view re-derives by one aggregate. */
  def blockOccurrences(corpus: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 16): DataFrame =
    blockRows(blockBase(corpus, idCol, textCol, blockTokens), blockTokens)

  /** The (h, rep_doc, rep_idx) view of a [[blockOccurrences]] table. */
  def blockIndexFromOccurrences(occ: DataFrame): DataFrame =
    occ.groupBy("h")
      .agg(min(struct(col("doc_id").as("d"), col("bi").as("i"))).as("w"))
      .select(col("h"), col("w.d").as("rep_doc"), col("w.i").as("rep_idx"))

  /** Right-to-be-forgotten DELETE on the maintained block index: drop the
    * removed documents' occurrence rows (one broadcast anti-join — the
    * removal set is small) and re-derive the rep view. When a removed
    * document WAS a hash's representative, the next-smallest surviving
    * occurrence is re-elected by the same min(struct) rule; hashes whose
    * only occurrences were removed vanish. Equals a from-scratch rebuild
    * over the filtered corpus EXACTLY (spec-pinned) — the fourth
    * maintained index to carry the delete == rebuild contract. */
  def blockIndexDelete(occ: DataFrame, removals: DataFrame,
      idCol: String): DataFrame =
    occ.join(broadcast(removals.select(col(idCol).cast("long").as("doc_id"))),
      Seq("doc_id"), "left_anti")

  /** Append an ADMITTED ingest epoch's blocks to a maintained
    * [[blockHashIndex]]: hashes already indexed keep their standing
    * representative (the corpus came first); novel hashes enter with the
    * epoch's first occurrence. Equals rebuilding the index over
    * corpus ∪ epoch whenever epoch ids follow corpus ids — the
    * ingest-order precedence every maintained index here assumes. */
  def blockIndexAppend(index: DataFrame, epochDocs: DataFrame, idCol: String,
      textCol: String, blockTokens: Int = 16): DataFrame = {
    val epochIdx = blockHashIndex(epochDocs, idCol, textCol, blockTokens)
    index.unionByName(epochIdx.join(index.select("h"), Seq("h"), "left_anti"))
  }

  /** Incremental first-occurrence block dedup: an incoming batch against
    * the STANDING corpus's [[blockHashIndex]] — the sub-document d12. An
    * incoming block is cut iff its content already exists in the index;
    * duplicates WITHIN the incoming batch are, as with d12's document
    * rule, this operator's caller's business (the maintenance loop
    * appends each admitted epoch before the next). Output adds the cut
    * block indexes (`dropped`) to [[blockDedup]]'s columns so streaming
    * monitors can carry the decision without re-deriving it.
    *
    * Scale shape: the corpus is never self-joined — incoming blocks
    * equi-join the (h, rep) index; everything else is [[blockDedup]]'s
    * projection/local-filter machinery. */
  def incrementalBlockDedup(corpus: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, blockTokens: Int = 16): DataFrame =
    incrementalBlockDedupAgainst(incoming,
      blockHashIndex(corpus, idCol, textCol, blockTokens),
      idCol, textCol, blockTokens)

  /** [[incrementalBlockDedup]] against an already-materialized index —
    * EITHER form: the (h, rep) view or the per-occurrence storage table
    * ([[blockOccurrences]] output, which repeats h once per occurrence).
    * The probe joins `index.select("h").distinct()` so duplicate h rows
    * cannot multiply matched blocks and corrupt n_dropped/clean_text;
    * with an already-distinct (h, rep) view the distinct
    * is a cheap no-op pre-aggregation. */
  def incrementalBlockDedupAgainst(incoming: DataFrame, index: DataFrame,
      idCol: String, textCol: String, blockTokens: Int = 16): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    val b = blockTokens
    val base = blockBase(incoming, idCol, textCol, b)
    val dropped = blockRows(base, b)
      .join(index.select("h").distinct(), "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("bi"))).as("__drops"))
    base.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__nb").as("n_blocks"),
        coalesce(size(col("__drops")), lit(0)).cast("long").as("n_dropped"),
        coalesce(col("__drops"), expr("cast(array() as array<int>)")).as("dropped"),
        blockCleanText(b).as("clean_text"))
  }

  /** 32-bit SimHash over token occurrences: bit b set iff the sum of ±1 votes
    * (tokens whose hash has bit b set vote +1) is positive.
    *
    * The 32 bit votes are 32 aggregate columns of ONE groupBy(doc_id) — all
    * map-side combinable, so the shuffle carries one 32-long row per doc per
    * partition. (An earlier form crossJoined tokens with a 32-row bits table,
    * inflating the pre-aggregate shuffle 32×.) */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.expressions.GraftExpressions.simhash32(col(textCol)).as("simhash"))
      .where(col("simhash").isNotNull)

  /** 60-bit SimHash fingerprints (native codegen expression, zero shuffle):
    * the wide companion of [[simHash]] whose 4×15-bit blocks give the
    * Hamming multi-index join ([[simHashHammingPairs]]) 32 768 buckets per
    * block — the bucket cardinality that keeps pigeonhole candidates
    * sub-quadratic at corpus scale (8-bit blocks of the 32-bit print top
    * out at 256 buckets and collapse into a near-cross-join at 100 TB). */
  def simHash60(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.expressions.GraftExpressions.simhash60(col(textCol)).as("simhash60"))
      .where(col("simhash60").isNotNull)

  /** Hamming-radius near-duplicate pairs over [[simHash60]] fingerprints via
    * the multi-index pigeonhole join: any two prints within Hamming distance
    * ≤ 3 agree exactly on at least one of the 4 15-bit blocks, so candidates
    * are an equi-join on (block_index, block_value) and only candidates pay
    * the exact `bit_count(a ^ b)` verification. Output (doc_a, doc_b,
    * hamming) with hamming ≤ `radius`; `radius` ≤ 3 (the pigeonhole
    * completeness bound for 4 blocks — a larger radius would need more
    * blocks to stay exact).
    *
    * `maxBlockFrequency` caps how many documents a (block, value) bucket may
    * hold before it stops producing candidates (the [[jaccardPairs]] df-cap
    * pattern): chrome-heavy corpora concentrate near-identical prints in a
    * few buckets, and candidates grow as Σ|bucket|² — the cap bounds that
    * sum at the cost of recall inside mega-buckets (which at that size are
    * exact-dup territory for [[exactDuplicateGroups]] anyway).
    *
    * Scale shape: fingerprints are a zero-shuffle projection; the only
    * exchanges carry (block, value, doc_id, print) — ids+scalars, never
    * text; the distinct pass and the verification run at candidate
    * cardinality.
    *
    * DEFAULT-CHOICE NOTE (measured by `q_hamming_candidate_quality`):
    * against exact Jaccard-0.7 truth on the documents corpus the Hamming
    * pigeonhole candidates scored precision 1.0 but recall 0.52, while
    * MinHash/LSH banding stays the tunable-recall generator (bands/rows
    * trade directly against the threshold). SimHash candidates are the
    * cheaper fingerprint (8 bytes vs a signature array) and the right
    * choice when candidate VOLUME is the binding constraint and missing
    * half the near-dups is acceptable — but the near-dup DEFAULT
    * throughout this engine (d17/d19 hybrid and the e2e pipelines) is
    * MinHash/LSH, made explicit by [[lexicalNearDupPairs]]'s default
    * generator. */
  def simHashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
      radius: Int = 3, maxBlockFrequency: Long = Long.MaxValue): DataFrame = {
    require(radius >= 0 && radius <= 3,
      s"radius must be in [0, 3] (4-block pigeonhole completeness), got $radius")
    val sh = simHash60(docs, idCol, textCol)
    val blocks = sh.select(col("doc_id"), col("simhash60"),
        posexplode(array((0 until 4).map(b =>
          expr(s"shiftright(simhash60, ${15 * b}) & 32767")): _*)).as(Seq("b", "blk")))
    val capped =
      if (maxBlockFrequency == Long.MaxValue) blocks
      else {
        val freq = blocks.groupBy("b", "blk").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxBlockFrequency)
          .select("b", "blk")
        blocks.join(freq, Seq("b", "blk"))
      }
    val left = capped.select(col("b"), col("blk"),
      col("doc_id").as("doc_a"), col("simhash60").as("sa"))
    val right = capped.select(col("b"), col("blk"),
      col("doc_id").as("doc_b"), col("simhash60").as("sb"))
    left.join(right, Seq("b", "blk"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb")
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= radius)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Candidate-generation strategy for [[lexicalNearDupPairs]] — the
    * explicit choice the candidate-quality measurements argue should
    * be a visible knob, not an implicit composition. */
  sealed trait LexicalCandidateGenerator
  /** MinHash-signature LSH banding — the DEFAULT: recall is tunable via
    * (numHashes, numBands) against the Jaccard threshold (the standard
    * S-curve), and measured recall at the engine's defaults is ~1.0 on the
    * planted near-dups (`q_lsh_candidate_quality`). */
  case object LshCandidates extends LexicalCandidateGenerator
  /** SimHash60 Hamming pigeonhole ([[simHashHammingPairs]]) — opt-in:
    * precision 1.0 but recall 0.52 against Jaccard-0.7 truth
    * (`q_hamming_candidate_quality`); choose it only when fingerprint
    * bytes / candidate volume bind harder than recall. */
  case object HammingCandidates extends LexicalCandidateGenerator

  /** Lexical near-duplicate pairs = candidate generation → exact Jaccard
    * verification, with the generator an EXPLICIT parameter defaulting to
    * MinHash/LSH (see [[LshCandidates]] / [[HammingCandidates]] for the
    * measured trade). d17's hybrid gate and the e2e near-dup pipelines
    * compose exactly this operator; d19's incremental form keeps the same
    * LSH default through [[incrementalDedup]]'s signature index.
    * `hammingRadius` / `hammingMaxBlockFrequency` parameterize the opt-in
    * generator ([[simHashHammingPairs]]'s full surface — the frequency cap
    * bounds hot-block candidate blowup); both are ignored
    * under the LSH default.
    *
    * `canonicalize = true` folds the text through the aggressive
    * [[graft.expressions.GraftExpressions.canonicalFold]] tier BEFORE
    * shingling AND verification — the MassiveText/CCNet discipline
    * (canonicalize, then MinHash), so case/punctuation variants of
    * near-dup documents are caught lexically instead of needing the
    * semantic signal. A zero-shuffle per-row
    * projection: the signature/verification scale shape is unchanged.
    * Output: (doc_a, doc_b, jaccard) verified at ≥ `threshold`. */
  def lexicalNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, numBands: Int, threshold: Double,
      generator: LexicalCandidateGenerator = LshCandidates,
      hammingRadius: Int = 3,
      hammingMaxBlockFrequency: Long = Long.MaxValue,
      canonicalize: Boolean = false): DataFrame = {
    val src =
      if (canonicalize)
        docs.withColumn(textCol,
          graft.expressions.GraftExpressions.canonicalFold(col(textCol)))
      else docs
    val candidates = generator match {
      case LshCandidates =>
        lshCandidatePairs(minHashSignatures(src, idCol, textCol, k, numHashes),
          numHashes, numBands)
      case HammingCandidates =>
        simHashHammingPairs(src, idCol, textCol, hammingRadius,
            hammingMaxBlockFrequency)
          .select("doc_a", "doc_b")
    }
    verifyCandidatesJaccard(src, idCol, textCol, k, candidates, threshold)
  }

  /** The declarative (explode → 32-vote aggregate) form of [[simHash]] —
    * map-side combined to one row/doc before its shuffle. Kept as the
    * spec-pinned equivalence baseline for the native expression. */
  def simHashAgg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
      .withColumn("h", hash32(col("token")))
    val votes = (0 until 32).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** HYBRID incremental dedup — d17's either-signal rule applied at ingest:
    * an incoming document is admitted only when BOTH maintained indexes say
    * novel — the lexical signature index ([[incrementalDedup]]'s
    * MinHash/LSH → Jaccard rule over the corpus text; LSH is the measured
    * DEFAULT lexical candidate generator, see [[LexicalCandidateGenerator]])
    * AND the semantic
    * cell index ([[Similarity.incrementalSemanticDedup]]'s
    * within-cell cosine rule over the corpus embeddings; documents and
    * embeddings are 1:1 by id). One row per incoming document with both
    * signals' verdicts: `lex_dup_of`/`best_jaccard`, `sem_dup_of`/
    * `best_cos`, and `keep` = both null. The streaming form
    * ([[graft.streaming.StreamingPipelines.hybridDedupStream]]) is
    * value-identical on a replay (StreamingSpec).
    *
    * Scale shape: each signal keeps its own incremental shape (bucket
    * equi-join / cell equi-join against maintained indexes — the corpus is
    * never self-joined) and the final combine is one 1:1 id join of
    * ids+scalars. */
  def hybridIncrementalDedup(corpusDocs: DataFrame, incomingDocs: DataFrame,
      incomingEmb: DataFrame, centroids: Array[Array[Double]],
      cellIndex: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, numBands: Int,
      jaccardThreshold: Double, cosThreshold: Double): DataFrame = {
    val lex = incrementalDedup(corpusDocs, incomingDocs, idCol, textCol,
        k, numHashes, numBands, jaccardThreshold)
      .select(col("doc_id"), col("dup_of").as("lex_dup_of"), col("best_jaccard"))
    val sem = Similarity.incrementalSemanticDedup(incomingEmb, centroids,
        cellIndex, cosThreshold)
      .select(col("vec_id").as("doc_id"),
        col("dup_of").as("sem_dup_of"), col("best_cos"))
    lex.join(sem, Seq("doc_id"))
      .withColumn("keep", col("lex_dup_of").isNull && col("sem_dup_of").isNull)
  }
}

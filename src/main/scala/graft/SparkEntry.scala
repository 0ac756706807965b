package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dp.DpParams
import graft.operators.{CoreOps, DpHistogram}
import graft.queries.{CoreQueries, CorpusQueries, CrawlQueries, DedupQueries, IndexQueries,
  ModelQueries, RetrievalQueries}

/** Driver contract: one entry per implemented operator from SURVEY §2, each
  * paired (where SQL-expressible) with an equivalent DuckDB oracle query in
  * [[graft.oracle.OracleSql.all]]. All queries are fully deterministic: zero-noise
  * (or seeded) DP modes, total ORDER BY on both sides, and decimal-exact
  * aggregation wherever a double sum would be association-order sensitive.
  */
object SparkEntry {

  /** Flagship on sf0.001 (driver smoke-checks rows > 0): the full σ=0 DP-SQLP
    * word-count pipeline — tokenize → bound → clamp → epoched DP histogram. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val words = CoreOps.tokenize(docs, "text")
      .select(col("word"), col("doc_id").cast("string").as("user_id"),
        (col("doc_id") % 8).cast("int").as("epoch"), lit(1.0).as("value"))
    val bounded = CoreOps.boundContributions(words, "user_id", "word", 1000L)
      .withColumn("value", CoreOps.clamp(col("value"), 1.0))
    val preAgg = CoreOps.preAggregatePrevEpoch(bounded, "word", "epoch", "user_id", "value")
    DpHistogram.run(spark, preAgg, DpParams.zeroNoise(8))
  }

  /** Every gate, keyed by name: the union of the `graft.queries` family
    * maps, which mirror the `graft.oracle` families. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ CrawlQueries.queries ++ DedupQueries.queries ++
      CorpusQueries.queries ++ RetrievalQueries.queries ++ IndexQueries.queries ++
      ModelQueries.queries

  /** A gate whose DuckDB oracle is a function of what `body` trained or
    * computed: `body` returns the gate's output and an oracle builder's
    * gate→SQL map ([[graft.oracle.IndexOracles]], [[graft.oracle.ModelOracles]]), and this gate's
    * entry is frozen into [[SpliceStore]] as `sql:<name>` in the same call,
    * so no later training can change it. A builder that refused to emit an
    * oracle (an IEEE-bearing VALUES splice) freezes nothing. */
  private[graft] def oracled(name: String)(
      body: (SparkSession, String) => (DataFrame, Map[String, String]))
      : (String, (SparkSession, String) => DataFrame) =
    name -> ((s, d) => {
      val (out, oracles) = body(s, d)
      oracles.get(name).foreach(sql => SpliceStore.put(s"sql:$name", sql))
      out
    })

  /** Train-once memo of every model an oracle reads and of the shared
    * staleness measurements, keyed by (family, sf dir): the first gate
    * needing one trains it, and every later gate — and every later run of
    * a gate in a bench sweep — reuses it. The sf dir is in the key because
    * the bench's cross-sf scaling rerun runs gates at a second sf in the
    * same JVM and must retrain there rather than reuse the big-sf model. */
  private val trained = new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private[graft] def trainOnce[M <: AnyRef](family: String, d: String)(train: => M): M =
    Option(trained.get((family, d))).getOrElse {
      val m = train
      trained.put((family, d), m)
      m
    }.asInstanceOf[M]

  /** Base dir for every model/generator parquet a DuckDB oracle reads by
    * absolute path. [[Verify]] points this at `<outDir>/_models` BEFORE
    * running any gate, so the paths baked into the dumped `oracle_sql.json`
    * outlive the JVM — a later replay (the driver's DuckDB pass, or
    * `tools/check_oracle.py` against the committed dump) still finds its
    * model tables, which pid-scoped `/tmp` files would not outlive.
    * Unset (bench and
    * spec JVMs, where nothing replays the dumped SQL later) → the /tmp
    * pid-scoped contract with a dead-JVM debris sweep. */
  @volatile var modelExportDir: Option[String] = None

  /** Export path for oracle-referenced model `family` (optionally
    * variant-`suffix`ed) trained at sf-dir `d`. Under [[modelExportDir]]
    * the name is pid-FREE — stable across JVMs, so a fresh full Verify run
    * retrains and overwrites in place while a post-mortem DuckDB replay of
    * the previous dump still resolves; under /tmp it is the pid-scoped
    * [[Scratch.processPath]], so dead JVMs' leftovers of the same family
    * are swept before this JVM's first write. The sf tag stays
    * in the name in BOTH modes: the bench's cross-sf scaling rerun must
    * retrain at the small sf rather than silently reuse the big-sf model. */
  private[graft] def modelExportPath(family: String, d: String,
      suffix: String = ""): String = {
    val sf = d.replaceAll("[^a-zA-Z0-9.]", "_")
    val tail = if (suffix.isEmpty) "" else s"${suffix}_"
    modelExportDir match {
      case Some(base) =>
        new java.io.File(base).mkdirs()
        // "model_"-prefixed PLAIN FILE directly in the out-dir: the
        // correctness check reads every top-level DIRECTORY as a gate
        // output, so a _models/ dir would surface as a phantom no-oracle
        // row; top-level files are invisible to that scan. NO
        // leading underscore — Spark's parquet reader treats "_"/"."
        // prefixed files as hidden metadata and refuses to read them back
        s"$base/model_${family}_$tail$sf.parquet"
      case None => Scratch.processPath(family, s"_$tail$sf", ".parquet")
    }
  }

  /** Write a model/generator export as ONE PLAIN PARQUET FILE at `path`:
    * stage dir → move the single part file onto `path` → drop the stage.
    * Models are model-cardinality small, so coalesce(1) is the contract,
    * not a bottleneck; a single file keeps the export invisible to the
    * correctness check's per-directory scan while DuckDB's `read_parquet('<path>')` and `spark.read.parquet` consume
    * it unchanged in both the /tmp and out-dir modes. */
  private[graft] def writeModelParquet(df: DataFrame, path: String): Unit = {
    val stage = path + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val parts = Option(new java.io.File(stage).listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"expected exactly one part file in $stage, found ${parts.length}")
    // Atomicity: a FILE at `path` is replaced by the move's
    // own REPLACE_EXISTING — no delete-then-move window in the steady
    // state, so a crash leaves either the old export or the new one. Only
    // the legacy case (an older PRE-single-file run left a DIRECTORY at
    // `path`, which a file move cannot replace) still deletes first, and
    // Verify sweeps `*.stage` leftovers at startup so even a crash inside
    // that one-time window cannot surface a phantom correctness row.
    val target = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(target))
      graft.tools.CorpusMaintenance.deleteRecursively(path)
    java.nio.file.Files.move(parts.head.toPath, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.tools.CorpusMaintenance.deleteRecursively(stage)
    ()
  }

  /** The export at [[modelExportPath]]`(family, d, suffix)` of `model`,
    * written once per (JVM, sf); returns its path. */
  private[graft] def exported(family: String, d: String, suffix: String = "")(
      model: => DataFrame): String =
    trainOnce(s"$family/$suffix", d) {
      val path = modelExportPath(family, d, suffix)
      writeModelParquet(model, path)
      path
    }
}

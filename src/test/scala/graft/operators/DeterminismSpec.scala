package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SpliceStore}

/** Cross-execution bit-reproducibility for the transcendental-bearing
  * gates (`x14_word_centrality`, `q_doremi_mix`, `q_ppl_buckets`): their
  * output and the oracle they freeze must not depend on how the engine
  * evaluated a transcendental.
  *
  * The hazard is not cross-engine (the splice
  * machinery closed that) but cross-EXECUTION: Spark's built-in `log` is
  * `StrictMath.log` under whole-stage codegen but `Math.log` on the
  * interpreted path (constant folding, codegen bailout, subexpression
  * evaluation), and `Math.log`/`Math.exp` are 1-ulp-accurate and permitted
  * to differ between JIT tiers and processes — so the execution that froze
  * the oracle splice and the execution the driver hashed could disagree by
  * one q6 floor. The fix routes every quantized transcendental through
  * `graft_ln_strict` / `StrictMath.exp` (fdlibm bit-exact by JLS spec on
  * every JVM, tier, and process).
  *
  * These tests pin the exact hazard: each gate is evaluated once under
  * whole-stage codegen and once with codegen fully disabled (the two
  * evaluation paths that previously reached different libm implementations)
  * plus a second same-config run, and ALL collected outputs and frozen
  * `sql:<gate>` oracles must be byte-identical. Before the fix, the
  * codegen-vs-interpreted arm flips q6 longs whenever an input lands within
  * an ulp of a `floor(x·1e6 + 0.5)` boundary; after it, equality holds by
  * spec, not by luck. */
class DeterminismSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `gate` once under a given codegen regime, returning (rows as
    * canonical strings, the oracle the gate froze as `sql:<gate>`). */
  private def runOnce(gate: String, codegen: Boolean): (Seq[String], String) = {
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "FALLBACK" else "NO_CODEGEN")
      SpliceStore.remove(s"sql:$gate")
      val rows = SparkEntry.queries(gate)(spark, sfDir)
        .collect().map(_.toString).toSeq
      (rows, SpliceStore.get(s"sql:$gate").getOrElse(""))
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  private def assertBitStable(gate: String): Unit = {
    val (rowsCg1, sqlCg1) = runOnce(gate, codegen = true)
    val (rowsCg2, sqlCg2) = runOnce(gate, codegen = true)
    val (rowsInt, sqlInt) = runOnce(gate, codegen = false)
    assert(rowsCg1.nonEmpty, s"$gate returned no rows")
    assert(sqlCg1.nonEmpty, s"$gate did not freeze its oracle")
    assert(rowsCg1 === rowsCg2, s"$gate: two codegen runs disagree")
    assert(sqlCg1 === sqlCg2, s"$gate: two codegen runs froze different oracles")
    assert(rowsCg1 === rowsInt,
      s"$gate: codegen vs interpreted output differs — a transcendental is " +
        "still routed through the split-brained built-in (Math vs StrictMath)")
    assert(sqlCg1 === sqlInt,
      s"$gate: codegen vs interpreted frozen oracle differs")
  }

  test("x14_word_centrality is bit-identical across codegen/interpreted/repeat runs") {
    assertBitStable("x14_word_centrality")
  }

  test("q_doremi_mix is bit-identical across codegen/interpreted/repeat runs") {
    assertBitStable("q_doremi_mix")
  }

  test("q_ppl_buckets is bit-identical across codegen/interpreted/repeat runs") {
    assertBitStable("q_ppl_buckets")
  }

  /** The double-free contract of a splice-backed hash gate, spec form (the
    * gate enforces it too): no IEEE column in its output schema, no IEEE
    * literal in the VALUES tables its frozen oracle splices. DOUBLE
    * literals/columns are the one surface a differently-versioned DuckDB in
    * the verification environment can parse or format differently. */
  test("splice-backed gates are double-free: schemas and VALUES splices carry no IEEE values") {
    Seq("x14_word_centrality", "q_doremi_mix", "q_ppl_buckets").foreach { gate =>
      val df = SparkEntry.queries(gate)(spark, sfDir)
      df.collect()
      df.schema.fields.foreach { f =>
        assert(f.dataType != org.apache.spark.sql.types.DoubleType &&
            f.dataType != org.apache.spark.sql.types.FloatType,
          s"$gate emits IEEE column ${f.name}")
      }
      val sql = SpliceStore.get(s"sql:$gate").getOrElse(fail(s"$gate did not freeze its oracle"))
      // the spliced rows are the body of each `AS (VALUES …)` table
      val splices = "(?m)AS \\(VALUES (.*)\\),?$".r.findAllMatchIn(sql).map(_.group(1)).toSeq
      assert(splices.nonEmpty, s"$gate froze no VALUES splice")
      splices.foreach { v =>
        // CAST syntax only — corpus WORDS like "double" may legitimately
        // appear inside the x14 edge splice
        assert(!"(?i)(::\\s*|\\bAS\\s+)(DOUBLE|FLOAT|REAL)\\b".r.findFirstIn(v).isDefined,
          s"$gate splices an IEEE cast")
      }
    }
  }
}

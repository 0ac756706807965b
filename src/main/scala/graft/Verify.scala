package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Model/generator exports the oracles read by absolute path go under
    // the out-dir, so the dumped oracle_sql.json replays after this JVM
    // exits. They land as "model_*"-prefixed plain files directly in the
    // out-dir: the driver's correctness scan treats every top-level
    // directory as a query output, and files are invisible to it.
    // artifacts.json (below) lists these non-query artifacts.
    SparkEntry.modelExportDir = Some(outDir)
    // drop the older _models/ directory layout: a directory reads as a
    // query output without an oracle
    graft.tools.CorpusMaintenance.deleteRecursively(s"$outDir/_models")
    // and sweep any `*.stage` staging directory a crashed writeModelParquet
    // left behind, for the same reason
    Option(new java.io.File(outDir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.endsWith(".stage"))
      .foreach(f => graft.tools.CorpusMaintenance.deleteRecursively(f.getPath))
    // optional comma-separated filter for local iteration (unset in the
    // driver's per-round run → full dump)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").map(_.trim).toSet)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(deleteRec)
      f.delete(); ()
    }
    // A full dump first drops any leftover per-query dir from a prior run
    // whose name is no longer in `queries`: the driver's rows-only sweep
    // would read it as this run's output.
    if (only.isEmpty) {
      val live = SparkEntry.queries.keySet
      Option(new java.io.File(outDir).listFiles).getOrElse(Array.empty)
        // "_"-prefixed dirs (_models) are harness artifacts, not query
        // outputs — gates overwrite their own model files in place
        .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          !live.contains(f.getName))
        .foreach { f => System.err.println(s"[verify] dropping stale ${f.getName}"); deleteRec(f) }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must yield MISSING in the driver's compare, never
        // a stale parquet from an earlier run of the same name — and its
        // frozen oracle must go with it
        SpliceStore.remove(s"sql:$name")
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists) deleteRec(d)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = graft.oracle.OracleSql.all
    def dump(m: Map[String, String]): Unit = {
      val json = m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      ()
    }
    dump(oracles)
    // Lint: no oracle may type an output column as HUGEINT/DECIMAL under
    // DuckDB. Spark writes int64; a type-aware driver canonicalization
    // (Arrow decimal128 vs int64) hash-mismatches on type alone while
    // values compare equal. DuckDB silently widens BIGINT sum()/floor-div
    // chains, so only a binder-side probe catches the class; a flagged
    // gate degrades to the driver's rows-only check (same policy as the
    // IEEE-splice lint) rather than shipping a flake-prone hash gate.
    val tainted = OracleTypeLint.decimalColumns(sfDir, s"$outDir/oracle_sql.json")
    if (tainted.nonEmpty) {
      tainted.foreach { case (gate, col) =>
        System.err.println(
          s"[verify] LINT: $gate oracle output types as $col under DuckDB — dropping its oracle")
      }
      dump(oracles -- tainted.keys)
    }
    // Handshake manifest of the non-query artifacts in this out-dir:
    // the model exports the dumped oracles read by
    // absolute path, listed so a consumer never has to infer them from a
    // directory scan — every DIRECTORY in the out-dir is now a gating
    // query, full stop.
    val modelFiles = Option(new java.io.File(outDir).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("model_"))
      .map(_.getName).sorted
    Files.writeString(Paths.get(s"$outDir/artifacts.json"),
      modelFiles.map(q).mkString("{\"model_exports\": [", ", ", "]}"))
    spark.stop()
  }
}

/** Dump-time DuckDB output-type probe behind the Verify lint above. The
  * only sound check for the HUGEINT class is the DuckDB binder itself
  * (static SQL inspection cannot type-propagate: an oracle's `w AS w_q6`
  * carries no arithmetic in its final projection), so this shells out to
  * the verification environment's python3+duckdb — present wherever the
  * driver's own DuckDB compare runs — and DESCRIBEs every dumped oracle
  * (bind/plan only, nothing executes). Best-effort by design: where the
  * tooling is absent (plain dev JVMs) the lint logs and keeps all oracles,
  * and `tools/check_oracle.py` carries the same check as a hard FAIL. */
private[graft] object OracleTypeLint {
  private val py =
    """import sys, json, duckdb
      |sf, path = sys.argv[1], sys.argv[2]
      |con = duckdb.connect()
      |for t in ["region", "nation", "customer", "supplier", "part",
      |          "orders", "lineitem", "events", "documents", "embeddings"]:
      |    con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf, t))
      |for name, sql in sorted(json.load(open(path)).items()):
      |    try:
      |        for row in con.execute("DESCRIBE " + sql).fetchall():
      |            typ = str(row[1]).upper()
      |            if "HUGEINT" in typ or "DECIMAL" in typ:
      |                print("%s\t%s\t%s" % (name, row[0], typ))
      |    except Exception:
      |        pass  # runnability is the driver compare's business, not this lint's
      |print("[verify] type lint probed %d oracles" % len(json.load(open(path))),
      |      file=sys.stderr)
      |""".stripMargin

  /** gate -> "column TYPE" for every oracle in `jsonPath` whose DuckDB
    * result schema contains a HUGEINT/DECIMAL column; empty when clean OR
    * when the probe tooling is unavailable (logged). */
  def decimalColumns(sfDir: String, jsonPath: String): Map[String, String] = try {
    val pb = new ProcessBuilder("python3", "-c", py, sfDir, jsonPath)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    if (p.exitValue() != 0) {
      System.err.println(s"[verify] type lint unavailable (python exit ${p.exitValue()})")
      Map.empty
    } else
      out.linesIterator.flatMap(_.split("\t") match {
        case Array(g, c, t) => Some(g -> s"$c $t")
        case _ => None
      }).toMap
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] type lint unavailable: ${e.getMessage}")
      Map.empty
  }
}

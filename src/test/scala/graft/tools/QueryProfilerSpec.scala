package graft.tools

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The bench profiler attributes a streaming query's micro-batch jobs to the
  * entry that started the query, although Spark runs them on the stream's
  * own thread under a job group of its own. */
class QueryProfilerSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("a MemoryStream query started inside an entry is profiled under that entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val profiler = new QueryProfiler
    spark.sparkContext.addSparkListener(profiler)
    try {
      QueryProfiler.inEntry(spark.sparkContext, "stream_entry") {
        val mem = MemoryStream[Int]
        val q = mem.toDS().groupBy($"value" % 3).count()
          .writeStream.outputMode("complete").format("memory")
          .queryName(s"profiled_${System.nanoTime()}").start()
        try {
          mem.addData(1 to 100)
          q.processAllAvailable()
        } finally q.stop()
      }
      // a job outside every entry is attributed to none
      spark.range(10).count()
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      profiler.endRun("stream_entry", 1.0)
      val m = profiler.snapshot
      assert(m.keySet === Set("stream_entry"), s"unexpected entries: ${m.keySet}")
      assert(m("stream_entry").stages > 0 && m("stream_entry").tasks > 0,
        s"the stream's micro-batch stages were not attributed: ${m("stream_entry")}")
    } finally spark.sparkContext.removeSparkListener(profiler)
  }
}

package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Runs a streaming operator over a `MemoryStream` into a memory sink. */
object MemoryDrain {

  /** Event times, in seconds, of the two flush rows that move an event-time
    * watermark past every fed epoch: the first closes the epoch's windows,
    * the second lets the append-mode aggregate emit them. */
  val FlushSeconds: Seq[Long] = Seq(100000L, 200000L)

  /** Starts `op` over a fresh `MemoryStream`, feeds `batches` in order with
    * `processAllAvailable` after each, then (with `flush`) one more batch per
    * [[FlushSeconds]] holding the row `flush(i, eventTime)`. The query stops
    * in a `finally`; `read` gets the sink before this returns, and the sink's
    * temp view is dropped after it, so `read` must materialize what it
    * keeps. The query checkpoints to a temporary directory that Spark
    * deletes when the query stops. */
  def apply[A: Encoder, R](spark: SparkSession, batches: Seq[Seq[A]],
      flush: Option[(Int, Timestamp) => A] = None)(
      op: Dataset[A] => Dataset[_])(read: DataFrame => R): R = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[A]
    val name = s"drain_${System.nanoTime()}"
    val flushes = flush.toSeq.flatMap(f => FlushSeconds.zipWithIndex.map { case (s, i) =>
      Seq(f(i, new Timestamp(s * 1000L)))
    })
    try {
      val q = op(mem.toDS()).toDF().writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try (batches ++ flushes).foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      read(spark.table(name))
    } finally { spark.catalog.dropTempView(name); () }
  }
}

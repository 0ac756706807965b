package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{MemoryDrain, StreamingPipelines}

/** Steady-state SEMANTIC index maintenance — the vector-space counterpart
  * of [[CorpusMaintenance]]: an epoch of new embeddings streams through
  * [[StreamingPipelines.semanticDedupStream]] against the standing cell
  * index (assignment under the EXPORTED centroids — no retraining), and
  * the admitted vectors' assignments are appended to the index BETWEEN
  * queries ([[appendedIndex]]), so the next epoch deduplicates against
  * everything previously admitted. Centroids retrain only on scheduled
  * full rebuilds — the contract that makes per-epoch ingest a pure
  * projection plus one cell join at any corpus size. */
object SemanticMaintenance {

  /** Flush rows ([[MemoryDrain.FlushSeconds]]) use ids at or above this
    * base and are excluded from the decisions. */
  val FlushIdBase = 1000000000L

  /** One ingest epoch: streams `batch` through the semantic dedup against
    * `cellIndex`, returns every decision row (vec_id, dup_of, best_cos,
    * keep). */
  def runEpoch(spark: SparkSession, centroids: Array[Array[Double]],
      cellIndex: DataFrame, batch: Seq[(Long, Seq[Float])],
      threshold: Double): Seq[(Long, Option[Long], Option[Double], Boolean)] = {
    import spark.implicits._
    // a unit flush vector in the CENTROIDS' dimension (hardcoding 64
    // breaks any non-64-dim epoch inside the micro-batch): decodable by
    // the normalization path, and its id keeps it out of the decisions
    require(centroids.nonEmpty, "runEpoch: empty centroid set")
    val flushVec: Seq[Float] = 1f +: Seq.fill(centroids.head.length - 1)(0f)
    MemoryDrain(spark, Seq(batch.map { case (id, e) => (id, e, new Timestamp(1000L)) }),
        flush = Some((i: Int, ts: Timestamp) => (FlushIdBase + i, flushVec, ts))) { in =>
      StreamingPipelines.semanticDedupStream(in.toDF("vec_id", "embedding", "ts"),
        centroids, cellIndex, "ts", watermarkDelay = "0 seconds", threshold)
    }(vectorDecisions)
  }

  /** The decision rows of a vector epoch's sink, flush rows excluded. */
  private def vectorDecisions(sink: DataFrame): Seq[(Long, Option[Long], Option[Double], Boolean)] = {
    import sink.sparkSession.implicits._
    sink.where(col("vec_id") < FlushIdBase)
      .select("vec_id", "dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSeq
  }

  /** The maintained index after an epoch: the standing index plus the
    * ADMITTED vectors' cell assignments (same exported centroids). At
    * 100 TB this is an append to the stored index table, not a rebuild. */
  def appendedIndex(cellIndex: DataFrame, admitted: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    cellIndex.unionByName(
      graft.operators.Similarity.assignToCells(admitted, centroids)
        .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb")))

  /** DELETE maintenance of the cell index — the right-to-be-forgotten step
    * for the semantic side, pairing with [[appendedIndex]] the way
    * `TextOps.bm25IndexDelete` pairs with `bm25IndexMerge`: removal ids
    * broadcast into one anti-join; rows are (cluster, id, norm) scalars so
    * nothing re-assigns and centroids stay frozen. Equals a rebuild over
    * the filtered vector set exactly (spec-pinned), because assignment is
    * a pure per-row function of the frozen centroids. */
  def deletedIndex(cellIndex: DataFrame, removeIds: DataFrame,
      idCol: String): DataFrame =
    cellIndex.join(
      broadcast(removeIds.select(col(idCol).cast("long").as("c_id")).distinct()),
      Seq("c_id"), "left_anti")

  /** One REDUCED-index ingest epoch: streams `batch` through
    * [[StreamingPipelines.reducedDedupStream]] against the maintained
    * reduced-dimension index under its FROZEN model; returns every
    * decision row (vec_id, dup_of, best_cos, keep), as [[runEpoch]]. */
  def runReducedEpoch(spark: SparkSession,
      model: graft.operators.Similarity.ReducedModel,
      index: DataFrame, batch: Seq[(Long, Seq[Float])],
      threshold: Double): Seq[(Long, Option[Long], Option[Double], Boolean)] = {
    import spark.implicits._
    val flushVec: Seq[Float] = 1f +: Seq.fill(model.dim - 1)(0f)
    MemoryDrain(spark, Seq(batch.map { case (id, e) => (id, e, new Timestamp(1000L)) }),
        flush = Some((i: Int, ts: Timestamp) => (FlushIdBase + i, flushVec, ts))) { in =>
      StreamingPipelines.reducedDedupStream(in.toDF("vec_id", "embedding", "ts"),
        model, index, "ts", watermarkDelay = "0 seconds", threshold)
    }(vectorDecisions)
  }

  /** One HYBRID ingest epoch: documents (text + embedding) stream through
    * [[StreamingPipelines.hybridDedupStream]] against BOTH maintained
    * indexes; returns each decision row (doc_id, keep). */
  def runHybridEpoch(spark: SparkSession,
      staticIndex: (DataFrame, DataFrame),
      centroids: Array[Array[Double]], cellIndex: DataFrame,
      batch: Seq[(Long, String, Seq[Float])],
      k: Int, numHashes: Int, numBands: Int,
      jaccardThreshold: Double, cosThreshold: Double): Seq[(Long, Boolean)] = {
    import spark.implicits._
    require(centroids.nonEmpty, "runHybridEpoch: empty centroid set")
    val flushVec: Seq[Float] = 1f +: Seq.fill(centroids.head.length - 1)(0f)
    val flushText = Seq("flush one", "flush two")
    MemoryDrain(spark, Seq(batch.map { case (id, t, e) => (id, t, e, new Timestamp(1000L)) }),
        flush = Some((i: Int, ts: Timestamp) => (FlushIdBase + i, flushText(i), flushVec, ts))) { in =>
      StreamingPipelines.hybridDedupStream(in.toDF("doc_id", "text", "embedding", "ts"),
        staticIndex, centroids, cellIndex,
        "doc_id", "text", "embedding", "ts",
        watermarkDelay = "0 seconds", k, numHashes, numBands,
        jaccardThreshold, cosThreshold)
    } { sink =>
      sink.where(col("doc_id") < FlushIdBase).select("doc_id", "keep")
        .as[(Long, Boolean)].collect().toSeq
    }
  }
}

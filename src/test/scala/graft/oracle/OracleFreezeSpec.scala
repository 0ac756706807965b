package graft.oracle

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SpliceStore, Tables}
import graft.operators.{GraphOps, Similarity, TextOps}

/** Trained models reach the DuckDB oracles only as values a gate hands to
  * its oracle builder: training outside a gate emits no oracle, and a gate's
  * frozen oracle survives any later training. */
class OracleFreezeSpec extends AnyFunSuite {

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

  test("training outside a gate adds no oracle: OracleSql.all stays the static set") {
    SpliceStore.clear()
    val static = OracleSql.all
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    Similarity.trainPca(emb, 64, 8)
    Similarity.trainIvfCentroids(emb, nlist = 16, dim = 64)
    Similarity.trainPqCodebooks(emb, dim = 64, m = 16, ksub = 16)
    Similarity.trainReducedModel(emb)
    Similarity.trainReducedPqModel(emb)
    TextOps.trainQualityLr(docs, "doc_id", "text", iters = 5)
    GraphOps.ppmiCentralityWithEdges(docs, "text", iterations = 8, k = 20)._2.count()
    assert(OracleSql.all === static)
    Seq("q_pca_project", "q_kmeans_assign", "d8_ann_ivf_topk", "d9d_pq_topk",
        "d22_reduced_ivf_topk", "d23_maintained_reduced_topk", "d9e_reduced_pq_topk",
        "d24_maintained_pq_topk", "x12_lr_quality", "x14_word_centrality")
      .foreach(g => assert(!static.contains(g), s"$g has an oracle without its gate"))
  }

  test("a gate's frozen oracle is unchanged by a later training on another slice") {
    SpliceStore.clear()
    Seq("q_pca_project", "d22_reduced_ivf_topk", "d23_maintained_reduced_topk", "q_kmeans_assign")
      .foreach(g => SparkEntry.queries(g)(spark, sfDir).collect())
    val frozen = OracleSql.all
    // the clobbering case: the same trainers on a different slice of the
    // corpus, after the gates ran
    val slice = Tables.embeddings(spark, sfDir).where(col("vec_id") % 3 =!= 0)
    Similarity.trainPca(slice, 64, 8)
    Similarity.trainReducedModel(slice)
    Similarity.trainReducedPqModel(slice)
    Similarity.trainIvfCentroids(slice, nlist = 16, dim = 64)
    assert(OracleSql.all === frozen)
    // and the frozen oracle is the gate's own: a rerun refreezes the same SQL
    SparkEntry.queries("q_pca_project")(spark, sfDir).collect()
    assert(OracleSql.all("q_pca_project") === frozen("q_pca_project"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over document-relation graphs (near-dup
  * candidates, shared-phrase co-occurrence, citation-style links). The
  * family's invariant: per iteration the work is O(edges) with shuffles
  * carrying only (long id, long value) rows — the Pregel shape — and
  * lineage is truncated every round with `localCheckpoint` (the same
  * discipline [[Dedup.connectedComponents]] follows), so a 10-iteration
  * run does not compile a 10-deep plan. Every snapshot is released once
  * everything derived from it is materialized (a round's ranks when the
  * next round's exist, the adjacency when the last round is done), so on
  * return executor storage holds only what the output reads, whatever the
  * iteration count.
  */
object GraphOps {

  /** Distributional word centrality: the Perron (principal) eigenvector of
    * the corpus's PPMI-weighted word co-occurrence graph, by quantized
    * power iteration — the spectral side of the train-in-engine family
    * (PPMI factorization is the classical route to static word embeddings,
    * Levy & Goldberg 2014; the top eigenvector is its first axis). Because
    * PMI discounts global frequency, the ranking does NOT surface stopword
    * glue — it concentrates on the corpus's strongest COLLOCATION
    * community: vocabulary that repeatedly co-occurs far above chance,
    * which at corpus scale is template/boilerplate phrase vocabulary and
    * duplicated-passage wording — what a curation pass inspects before
    * choosing boilerplate rules or quality features.
    *
    * Semantics: adjacent-token pairs symmetrized, PPMI_vw = max(0,
    * ln(c_vw·N / (c_v·c_w))) q6-quantized (the x11 ln contract: one
    * transcendental on exactly-agreed integer inputs). Power iteration in
    * pure long arithmetic — y(v) = Σ_w (m_vw·x_w) div 1e6 summed as longs,
    * L1-renormalized x' = (y·1e6) div Σy (no sqrt needed) — from the
    * uniform positive start, so by Perron–Frobenius the iterate's sign and
    * limit are determined and every engine reproduces the longs exactly.
    *
    * Scale shape: the matrix aggregates at word-PAIR vocabulary
    * cardinality (never corpus); each iteration is one O(nnz) join on the
    * word key + one aggregate, with `localCheckpoint` truncation per
    * round; driver sees only bounded scalars (N, V, Σy). Output top-k
    * rides one ordered limit at vocabulary cardinality. */
  def ppmiWordCentrality(docs: DataFrame, textCol: String,
      iterations: Int = 8, k: Int = 20): DataFrame =
    ppmiCentralityWithEdges(docs, textCol, iterations, k)._1

  /** [[ppmiWordCentrality]] returning, next to the ranking, the q6 PPMI
    * edge table `(v, w, m)` the power iteration consumed (localCheckpointed
    * — alive until the session stops), which the gate splices into its
    * DuckDB oracle as a VALUES table. That splice is the de-flake for the
    * one transcendental in the gate: the PPMI `ln` runs on exactly-agreed
    * integer inputs through [[graft.expressions.LnStrict]]
    * (`StrictMath.log`, fdlibm bit-exact on every JVM/JIT tier/process, so
    * a frozen splice never disagrees with a re-execution), but StrictMath
    * and DuckDB's libm are different 1-ulp-accurate implementations, and an
    * input within an ulp of a `floor(x·1e6+0.5)` boundary flips a q6 long
    * that 8 power-iteration rounds then amplify into a different table.
    * Splicing the ENGINE's m values removes the cross-engine `ln` from the
    * hash gate; the oracle still recomputes its own `ln` edge table and
    * fails closed unless the splice agrees within ±1 micro-unit with
    * identical support. */
  def ppmiCentralityWithEdges(docs: DataFrame, textCol: String,
      iterations: Int, k: Int): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = TextOps.tokens(col(textCol))
    val trans = docs.select(toks.as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
          expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
        .otherwise(expr("array()"))).as("t"))
      .select(col("t.v").as("v"), col("t.w").as("w"))
    val sym = trans.union(trans.select(col("w").as("v"), col("v").as("w")))
    // checkpoint the pair-count table: it feeds the marginal table,
    // the total-mass aggregate AND the PPMI join — each would otherwise
    // re-run the tokenize/explode/symmetrize/count lineage (guide §2.4)
    val cvw = sym.groupBy("v", "w").agg(count(lit(1)).as("c")).localCheckpoint()
    val cv = cvw.groupBy("v").agg(sum(col("c")).as("cv")).localCheckpoint()
    val n = cvw.agg(sum(col("c"))).head().getLong(0)
    val ppmi = cvw
      .join(cv.select(col("v"), col("cv").as("cv_a")), "v")
      .join(cv.select(col("v").as("w"), col("cv").as("cv_b")), "w")
      .select(col("v"), col("w"), greatest(lit(0L),
        floor(graft.expressions.GraftExpressions.lnStrict(
            (col("c").cast("double") * lit(n.toDouble)) /
            (col("cv_a").cast("double") * col("cv_b").cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long")).as("m"))
      .where(col("m") > 0)
      .localCheckpoint()
    CoreOps.releaseLocalCheckpoint(cvw)
    val nodes = cv.select("v")
    val nv = nodes.count()
    var x = nodes.select(col("v"), lit(1000000L / nv).as("x"))
    for (_ <- 1 to iterations) {
      val prevX = x
      val y = ppmi.join(x.select(col("v").as("w"), col("x")), "w")
        .select(col("v"), expr("(m * x) div 1000000").as("__yy"))
        .groupBy("v").agg(sum(col("__yy")).as("y"))
      val yAll = nodes.join(y, Seq("v"), "left")
        .select(col("v"), coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint()
      val s = yAll.agg(sum(col("y"))).head().getLong(0)
      require(s > 0, "PPMI graph has no positive mass")
      x = yAll.select(col("v"), expr(s"(y * 1000000) div ${s}L").as("x"))
        .localCheckpoint()
      // both superseded snapshots are fully consumed by the new `x`
      CoreOps.releaseLocalCheckpoint(yAll)
      CoreOps.releaseLocalCheckpoint(prevX)
    }
    CoreOps.releaseLocalCheckpoint(cv)
    // Output is deliberately double-free: rank/q6 longs plus the word — a
    // rounded display double invites version-dependent formatting/parsing
    // differences in downstream verifiers; `x/1e6` is one division away
    // for a human reader.
    (x.orderBy(col("x").desc, col("v")).limit(k)
      .select(row_number().over(Window.orderBy(col("x").desc, col("v")))
          .cast("long").as("rank"),
        col("v").as("word"), col("x").as("centrality_q6")), ppmi)
  }

  /** PageRank over an UNDIRECTED pair list in q6 fixed-point arithmetic —
    * used to rank documents by centrality in the shared-rare-phrase graph
    * ([[Dedup.rareShingleCandidatePairs]]): high-centrality docs share rare
    * phrases with many other documents, which at corpus scale is the
    * signature of template/boilerplate hubs and mass near-translations —
    * exactly the documents a curation pass inspects first. Also the
    * canonical-pick signal inside a duplicate component (most-central
    * member, vs [[Dedup.bestSurvivors]]' quality-argmax).
    *
    * Semantics (fixed, engine-portable): nodes = endpoints of `pairs`
    * (degree ≥ 1 by construction — no dangling mass); rank and all
    * intermediates are q6 micro-units on longs with FLOOR division
    * (`div`), so every engine computes bit-identical ranks:
    * r_0 = 1e6 div N;
    * r_{t+1}(v) = (1e6−damp·1e4) div N + Σ_{u~v} (damp·r_t(u)) div (100·deg(u)).
    * Quantization drops ≤1 micro-unit per edge per round (display is
    * round4, far above the error), in exchange for exact cross-engine
    * reproducibility — the same trade every q6 gate in this engine makes.
    *
    * Scale shape: degree table and adjacency are built ONCE and
    * checkpointed; each iteration is one O(edges) join on `src` (both
    * sides hash-partitioned on the same key) and one aggregate on `dst`
    * carrying (long, long) rows; ranks localCheckpoint per round. At
    * 100 TB with a df-capped candidate graph, edges ≪ corpus² and the
    * iteration cost is bounded by the candidate volume, never the corpus.
    *
    * Output: (doc_id, degree, pr_q6, pagerank) — `pr_q6` the exact
    * fixed-point rank, `pagerank` its round4 display value. */
  def quantizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
      iterations: Int = 5, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    // checkpoint the symmetrized (long, long) edge list (guide §2.4):
    // it feeds BOTH the degree table and the adjacency join — without it
    // the caller's whole pair-generation lineage (e.g. the rare-shingle
    // candidate pass) runs twice
    val sym = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val n = deg.count()
    require(n > 0, "pairs must contain at least one edge")
    val adj = sym.join(deg, "src").localCheckpoint()
    CoreOps.releaseLocalCheckpoint(sym)
    val baseQ6 = (1000000L - dampingPct * 10000L) / n
    var ranks = deg.select(col("src").as("id"), lit(1000000L / n).as("r"))
    for (_ <- 1 to iterations) {
      val prev = ranks
      val contrib = adj.join(ranks, adj("src") === ranks("id"))
        .select(col("dst"), expr(s"($dampingPct * r) div (100 * deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      ranks = deg.select(col("src").as("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"), (lit(baseQ6) + coalesce(col("c"), lit(0L))).as("r"))
        .localCheckpoint()
      CoreOps.releaseLocalCheckpoint(prev)
    }
    CoreOps.releaseLocalCheckpoint(adj)
    ranks.join(deg, ranks("id") === deg("src"))
      .select(col("id").as("doc_id"), col("deg").as("degree"), col("r").as("pr_q6"),
        (floor(col("r").cast("double") / lit(100.0) + lit(0.5)) / lit(10000.0))
          .as("pagerank"))
  }

  /** PageRank over a DIRECTED, WEIGHTED edge list in the same q6
    * fixed-point long arithmetic as [[quantizedPageRank]] — the link-graph
    * form: nodes are string keys (registrable domains of a crawl's host
    * link graph), edges carry a link multiplicity weight, and rank flows
    * along edge DIRECTION with each source's outflow split proportional
    * to weight. The crawl-curation read: a domain's rank is the standing
    * link-endorsement signal a frontier scheduler and a quality prior both
    * consume (the PageRank-as-crawl-priority loop, Cho et al. 1998 —
    * public literature).
    *
    * Semantics (fixed, engine-portable; the DuckDB oracle replays it
    * verbatim):
    *   nodes    = distinct(src ∪ dst);
    *   outw(u)  = Σ_{u→*} w (a node with no out-edges is DANGLING: its
    *              mass leaks — the documented "remove dangling mass"
    *              PageRank variant, chosen because it keeps every engine's
    *              arithmetic a pure per-edge floor division with no global
    *              redistribution term);
    *   r_0      = 1e6 div N;
    *   r_{t+1}(v) = (1e6 − damp·1e4) div N
    *                + Σ_{u→v} (damp · r_t(u) · w_uv) div (100 · outw(u)).
    *
    * Overflow headroom: damp·r·w must fit a long — r ≤ ~1e6·N/N ≈ 1e6-ish
    * and the guard below rejects per-edge weights above 1e9, far beyond
    * any per-(src,dst) link multiplicity a capped crawl produces.
    *
    * Scale shape: out-weight table and weighted adjacency built ONCE and
    * localCheckpointed; per iteration one O(edges) equi-join on `src` and
    * one aggregate on `dst`, shuffling only (string key, long) rows; at
    * link-graph scale nodes = registrable domains (millions, not pages)
    * and edges = domain pairs — both ≪ corpus.
    *
    * Output: (node, out_weight, in_weight, pr_q6) — out/in weight totals
    * ride along as the degree receipts (0 for a node with none).
    *
    * Fault tolerance: lineage is truncated with
    * `localCheckpoint` — NON-reliable storage. Losing an executor
    * mid-iteration makes the checkpointed blocks unrecoverable and fails
    * the job instead of recomputing, which is the right trade for the
    * verify/bench harness (iterations are seconds) but not for a
    * long-running production rank over an hours-long upstream. Such a
    * deployment should set a checkpoint dir and swap the per-round
    * truncation to reliable `checkpoint()` — same plan shape, the blocks
    * just land on fault-tolerant storage. */
  def weightedPageRankDirected(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iterations: Int = 4,
      dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    // materialize the edge list ONCE: nodes.count(), the overflow guard,
    // out/in-weight tables, and the adjacency all derive from it — without
    // this every one of those actions re-runs the caller's full upstream
    // (extraction + PSL + edge aggregation), which benched 4-5x the cost
    // of the iterations themselves
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    require(n > 0, "edges must contain at least one edge")
    val outw = e.groupBy("src").agg(sum(col("w")).as("outw"))
    val adj = e.join(outw, "src").localCheckpoint()
    require(adj.agg(max(col("w"))).head().getLong(0) <= 1000000000L,
      "per-edge weight above 1e9: damp*r*w would overflow long arithmetic")
    val baseQ6 = (1000000L - dampingPct * 10000L) / n
    var ranks = nodes.select(col("node"), lit(1000000L / n).as("r"))
    for (_ <- 1 to iterations) {
      val prev = ranks
      val contrib = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr(s"($dampingPct * r * w) div (100 * outw)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), (lit(baseQ6) + coalesce(col("c"), lit(0L))).as("r"))
        .localCheckpoint()
      CoreOps.releaseLocalCheckpoint(prev)
    }
    CoreOps.releaseLocalCheckpoint(adj)
    CoreOps.releaseLocalCheckpoint(nodes)
    val inw = e.groupBy("dst").agg(sum(col("w")).as("inw"))
    ranks
      .join(outw, ranks("node") === outw("src"), "left")
      .join(inw, ranks("node") === inw("dst"), "left")
      .select(col("node"), coalesce(col("outw"), lit(0L)).as("out_weight"),
        coalesce(col("inw"), lit(0L)).as("in_weight"), col("r").as("pr_q6"))
  }

  /** DELETE a removal increment from a maintained link graph — the
    * right-to-be-forgotten step for the edge-list index (the d23/d24
    * contract): a purged page/domain's edge
    * contributions SUBTRACT, mirroring the sum-merge that appends them
    * (`q_link_graph_append`). `removed` is the edge list derived from
    * the REMOVED documents alone — edge multiplicities are additive over
    * documents, so standing − removed == rebuild over the complement
    * exactly (cross-engine-proven by `q_link_graph_delete`). Implemented
    * as the append of NEGATIVE multiplicities — one union + one sum at
    * domain-pair cardinality, the exact shape of the append — with edges
    * that reach zero dropped and a codegen'd guard that raises when a
    * removal exceeds the standing multiplicity (a removal increment not
    * derived from indexed documents), instead of silently emitting a
    * negative edge. */
  /** DURABLE link-graph maintenance (the maintained family that would
    * otherwise live only in memory): one admitted epoch's edge list
    * written exactly-once under `path/batch_id=<id>/` (the
    * overwrite-by-batchId [[graft.streaming.ExactlyOnceSink]] recipe —
    * a redelivered micro-batch REPLACES its own partial output, so
    * replay is a no-op). Edge multiplicities are additive over
    * documents, so the standing graph is a pure SUM-fold of the epoch
    * files ([[linkGraphFromEpochs]]) — the same algebra
    * `q_link_graph_append` proves cross-engine, made durable. Wire as
    * `stream.writeStream.foreachBatch(linkGraphEpochWrite(…))`; append
    * cost = the epoch's edges, never the standing graph. */
  def linkGraphEpochWrite(epochEdges: DataFrame, batchId: Long,
      path: String): Unit =
    epochEdges.select(col("src_domain"), col("dst_domain"),
        col("n_links").cast("long").as("n_links"))
      .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Fold a [[linkGraphEpochWrite]] tree back to the standing edge list —
    * equals a from-scratch build over the unioned epochs exactly
    * (spec-pinned): ONE sum at domain-pair cardinality, reading one edge
    * row per (epoch, pair), never the documents. */
  def linkGraphFromEpochs(tree: DataFrame): DataFrame =
    tree.groupBy("src_domain", "dst_domain")
      .agg(sum(col("n_links")).as("n_links"))

  def linkGraphDelete(standing: DataFrame, removed: DataFrame,
      srcCol: String = "src_domain", dstCol: String = "dst_domain",
      weightCol: String = "n_links"): DataFrame = {
    val s = standing.select(col(srcCol).as("src_domain"),
      col(dstCol).as("dst_domain"), col(weightCol).cast("long").as("n_links"))
    val r = removed.select(col(srcCol).as("src_domain"),
      col(dstCol).as("dst_domain"),
      (-col(weightCol).cast("long")).as("n_links"))
    val guard = coalesce(
      assert_true(col("n_links") >= 0L, concat(
        lit("linkGraphDelete: removal exceeds standing multiplicity for "),
        col("src_domain"), lit(" -> "), col("dst_domain"))).cast("long"),
      lit(0L))
    s.unionByName(r)
      .groupBy("src_domain", "dst_domain")
      .agg(sum(col("n_links")).as("n_links"))
      .select(col("src_domain"), col("dst_domain"),
        (col("n_links") + guard).as("n_links"))
      .where(col("n_links") > 0L)
  }
}

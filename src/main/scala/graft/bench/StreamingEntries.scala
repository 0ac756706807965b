package graft.bench

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CoreOps, Dedup, MediaAsset, Multimodal, Similarity, TextOps}
import graft.streaming.{MemoryDrain, StreamingPipelines}
import graft.tools.{CorpusMaintenance, SemanticMaintenance}

/** Per-epoch latency of the streaming maintenance loops. Each `_epoch`
  * entry builds its maintained index inside the timed region (one build
  * per release cycle), streams a held-out slice through the stream
  * operator as one ingest epoch ([[MemoryDrain]]), and audits the streamed
  * result against the batch operator on the same rows outside the timing:
  * a divergence fails the entry rather than record a timing for a
  * different computation. */
object StreamingEntries {

  def apply(ctx: BenchContext): Seq[Entry] = {
    import ctx._
    import spark.implicits._

    // the documents table as the standing corpus and a 200-doc incoming
    // batch text (half near-dups of corpus docs, half novel) under
    // `idBase`-shifted ids; incoming docs are never compared to each
    // other, so every batch admits exactly 105 (100 reversed-novel docs
    // plus 5 near-dup-marked docs below the 0.8 Jaccard threshold)
    def corpusAndBatch(): (DataFrame, Long => Seq[(Long, String)]) = {
      val base = Tables.documents(spark, sfDir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val sample = base.orderBy("doc_id").limit(200)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      (base, idBase => sample.zipWithIndex.map { case ((id, t), i) =>
        if (i % 2 == 0) (idBase + id, t + " trailing near dup marker")
        else (idBase + id, t.split(" ").reverse.mkString(" ") + " reversed novel")
      }.toSeq)
    }
    def corpusEpoch(base: DataFrame, batch: Seq[(Long, String)], epoch: Int, dir: String) =
      CorpusMaintenance.runEpoch(spark, base, batch, epoch, dir,
        k = 3, numHashes = 64, numBands = 16, threshold = 0.8)
    def admits105(what: String, n: Long): Unit =
      require(n == 105, s"$what admitted $n, expected 105")

    Seq(
      // One preference-derivation cycle over the full event log streamed
      // in two time-split micro-batches through the keyed-state comparison
      // derivation; the comparison count must equal the batch operator's.
      Entry("streaming_preference_epoch") { lap =>
        val ev = Tables.events(spark, sfDir).withColumn("ts_us", expr("ts_ns div 1000"))
        lap.timedAudited {
          val rows = ev.select(col("user_id"), col("ts_us"), col("event_id"),
              col("event_type"), col("value"))
            .as[(Long, Long, Long, String, Double)].collect()
            .map { case (u, t, id, it, v) => StreamingPipelines.PrefEvent(u, t, id, it, v) }
          val cut = rows.map(_.tsUs).sorted.apply(rows.length / 2)
          val (b1, b2) = rows.partition(_.tsUs <= cut)
          MemoryDrain(spark, Seq(b1.toSeq, b2.toSeq))(StreamingPipelines.comparisonStream(_))(_.count())
        } { streamed =>
          val batch = graft.operators.Preference.comparisonsFromEvents(
              ev, "user_id", "ts_us", "event_id", "event_type", "value")
            .agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
          require(streamed == batch,
            s"streaming_preference_epoch streamed $streamed != batch $batch")
          System.err.println(
            s"[bench] streaming_preference_epoch comparisons=$streamed (batch agrees)")
        }
      },
      // The whole ingest cycle of graft.tools.CorpusMaintenance: query
      // start, feed, watermark drain, idempotent sink write, stop.
      Entry("streaming_corpus_epoch")(_.timed {
        val (base, batchAt) = corpusAndBatch()
        val batch = batchAt(100000L)
        val dir = s"/tmp/graft_bench_corpus_${System.nanoTime()}"
        try {
          val admitted = corpusEpoch(base, batch, 0, dir)
          admits105(s"streaming_corpus_epoch (of ${batch.size})", admitted.size)
          System.err.println(s"[bench] streaming_corpus_epoch admitted=${admitted.size} of ${batch.size}")
        } finally CorpusMaintenance.deleteRecursively(dir)
      }),
      // Steady-state vs per-query ingest, INTERLEAVED inside one lap. The
      // operational claim — a standing query with a persisted corpus index
      // beats spinning a fresh query per cycle, because the per-query mode
      // pays query+checkpoint creation AND re-signs the whole corpus on
      // every micro-batch (3× per cycle) — is receipted from inner laps:
      // an unrecorded warmup cycle, then 3 laps each running STEADY
      // (standing query, our design first so residual warmup bias lands on
      // it) then COLD (fresh runEpoch), ratio per lap, median decides. One
      // lap: repeating the whole cycle would double its cost for no extra
      // signal.
      Entry("streaming_corpus_epoch5_amortized", laps = Some(1))(_.timed {
        val (base, batchAt) = corpusAndBatch()
        val dir = s"/tmp/graft_bench_corpusN_${System.nanoTime()}"
        try {
          // unrecorded WARMUP: one full per-query cycle — codegen, parquet
          // footers, and the dedup-stream machinery warm for BOTH arms
          admits105("streaming_corpus warmup", corpusEpoch(base, batchAt(90000000L), 90, s"$dir/warm").size)
          val standing = CorpusMaintenance.startStanding(spark, base,
            s"$dir/standing", k = 3, numHashes = 64, numBands = 16, threshold = 0.8)
          val (startup, pairs, results) = try {
            // startup cycle (query start + checkpoint creation) — excluded
            // from the ratio laps BY DESIGN: amortizing it is the point
            val startup = standing.epoch(batchAt(100000L))
            val pairs = (1 to 3).map { lap =>
              val steadySec = standing.epoch(batchAt(100000L * (lap + 1)))
              val t0 = System.nanoTime()
              val cold = corpusEpoch(base, batchAt(10000000L * lap), 90 + lap, s"$dir/cold$lap")
              val coldSec = (System.nanoTime() - t0) / 1e9
              admits105(s"streaming_corpus cold lap $lap", cold.size)
              (steadySec, coldSec)
            }
            (startup, pairs, standing.finish())
          } catch { case scala.util.control.NonFatal(e) => standing.abort(); throw e }
          results.foreach(e => admits105(s"streaming_corpus standing epoch ${e.epoch}", e.admitted))
          System.err.println(
            f"[bench] streaming_corpus standing startup=$startup%.2f s laps " +
            pairs.map { case (s, c) => f"steady=$s%.2f/cold=$c%.2f" }.mkString(" "))
          InnerLaps("streaming_corpus_epoch_steady", "streaming_corpus_epoch_cold_lap",
            "streaming_corpus_steady<cold", pairs)
        } finally CorpusMaintenance.deleteRecursively(dir)
      }),
      // SEMANTIC index maintenance (graft.tools.SemanticMaintenance): the
      // embeddings minus a held-out fifth as the standing corpus, its cell
      // index built once and persisted, and the held-out vectors streamed
      // through the stream-static semantic dedup.
      Entry("streaming_semantic_epoch") { lap =>
        val thr = 0.4
        val emb = Tables.embeddings(spark, sfDir)
        val corpus = emb.where(col("vec_id") % 5 =!= 0)
        lap.timedAudited {
          val (centroids, idx0) = Similarity.semanticIndex(corpus)
          val idx = lap.keep(idx0)
          idx.count()
          val epoch = emb.where(col("vec_id") % 5 === 0)
            .select(col("vec_id"), col("embedding"))
            .as[(Long, Seq[Float])].collect().toSeq
          (centroids, idx, epoch, SemanticMaintenance.runEpoch(spark, centroids, idx, epoch, thr))
        } { case (centroids, idx, epoch, decisions) =>
          val streamKeep = decisions.count(_._4)
          val batchKeep = Similarity.incrementalSemanticDedup(
              epoch.toDF("vec_id", "embedding"), centroids, idx, thr)
            .where(col("keep")).count()
          require(streamKeep == batchKeep && decisions.size == epoch.size,
            s"streaming_semantic_epoch stream admitted $streamKeep of ${decisions.size}, " +
              s"batch admitted $batchKeep of ${epoch.size}")
          System.err.println(s"[bench] streaming_semantic_epoch admitted=$streamKeep " +
            s"of ${epoch.size} (batch agrees)")
        }
      },
      // REDUCED-dimension index maintenance: the frozen model (PCA rotation
      // + reduced centroids) trains once on the standing corpus, the
      // maintained (cell, id, nemb) index is built and persisted, and the
      // held-out fifth streams through reducedDedupStream.
      Entry("streaming_reduced_epoch") { lap =>
        val thr = 0.4
        val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
        val corpus = emb.where(col("vec_id") % 5 =!= 0)
        lap.timedAudited {
          val model = Similarity.trainReducedModel(corpus)
          val idx = lap.keep(Similarity.reducedIndexOf(corpus, model))
          idx.count()
          val epoch = emb.where(col("vec_id") % 5 === 0)
            .select(col("vec_id"), col("embedding"))
            .as[(Long, Seq[Float])].collect().toSeq
          (model, idx, epoch, SemanticMaintenance.runReducedEpoch(spark, model, idx, epoch, thr))
        } { case (model, idx, epoch, decisions) =>
          val streamKeep = decisions.count(_._4)
          val batchKeep = Similarity.incrementalReducedDedup(
              epoch.toDF("vec_id", "embedding"), model, idx, thr)
            .where(col("keep")).count()
          require(streamKeep == batchKeep && decisions.size == epoch.size,
            s"streaming_reduced_epoch stream admitted $streamKeep of ${decisions.size}, " +
              s"batch admitted $batchKeep of ${epoch.size}")
          System.err.println(s"[bench] streaming_reduced_epoch admitted=$streamKeep " +
            s"of ${epoch.size} (batch agrees)")
        }
      },
      // One HYBRID ingest epoch against BOTH maintained indexes: the
      // documents∩embeddings corpus minus a held-out fifth supplies the
      // lexical signature index and the semantic cell index; the held-out
      // fifth streams through hybridDedupStream.
      Entry("streaming_hybrid_epoch") { lap =>
        val (k, nh, nb, jThr, cThr) = (3, 8, 4, 0.5, 0.4)
        val emb = Tables.embeddings(spark, sfDir)
        val docs = Tables.documents(spark, sfDir)
          .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
          .select(col("doc_id"), col("text"))
        val corpusDocs = docs.where(col("doc_id") % 5 =!= 0)
        val corpusEmb = emb.where(col("vec_id") % 5 =!= 0)
        lap.timedAudited {
          val centroids = Similarity.trainIvfCentroids(emb, nlist = 16, dim = 64)
          val cellIndex = lap.keep(Similarity.assignToCells(corpusEmb, centroids)
            .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb")))
          val (idxB, idxS) = StreamingPipelines.dedupIndex(corpusDocs, "doc_id", "text", k, nh, nb)
          val bIdx = lap.keep(idxB)
          val sIdx = lap.keep(idxS)
          cellIndex.count(); bIdx.count(); sIdx.count()
          val epoch = docs.where(col("doc_id") % 5 === 0)
            .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
            .select(col("doc_id"), col("text"), col("embedding"))
            .as[(Long, String, Seq[Float])].collect().toSeq
          (centroids, cellIndex, epoch, SemanticMaintenance.runHybridEpoch(
            spark, (bIdx, sIdx), centroids, cellIndex, epoch, k, nh, nb, jThr, cThr))
        } { case (centroids, cellIndex, epoch, decisions) =>
          val streamAdmitted = decisions.filter(_._2).map(_._1).toSet
          val batchAdmitted = Dedup.hybridIncrementalDedup(
              corpusDocs, epoch.map(e => (e._1, e._2)).toDF("doc_id", "text"),
              epoch.map(e => (e._1, e._3)).toDF("vec_id", "embedding"),
              centroids, cellIndex, "doc_id", "text", k, nh, nb, jThr, cThr)
            .where(col("keep")).select("doc_id")
            .as[Long].collect().toSet
          require(streamAdmitted == batchAdmitted && decisions.size == epoch.size,
            s"streaming_hybrid_epoch stream admitted ${streamAdmitted.size} of " +
              s"${decisions.size}, batch ${batchAdmitted.size} of ${epoch.size}")
          System.err.println(s"[bench] streaming_hybrid_epoch admitted=${streamAdmitted.size} " +
            s"of ${epoch.size} (batch agrees)")
        }
      },
      // One DRIFT-MONITOR ingest epoch: the documents corpus minus a
      // held-out fifth supplies the baseline quality histogram; the
      // held-out fifth streams through epochHistogramStream and the
      // finalized epoch histogram composes against the baseline via
      // psiFromHistograms. The per-source PSI map must equal batch psiDrift.
      Entry("streaming_drift_epoch") { lap =>
        val scored = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"),
          least(floor(TextOps.qualityCol(col("text")) * lit(10.0)).cast("long"), lit(9L))
            .as("bin"))
        val baseline = scored.where(col("doc_id") % 5 =!= 0)
        val epoch = scored.where(col("doc_id") % 5 === 0)
        lap.timedAudited {
          val baseHist = lap.keep(CoreOps.psiHistogram(baseline, "source", "bin", 10))
          baseHist.count()
          val epochRows = epoch.select(col("source"), col("bin"))
            .as[(String, Long)].collect().toSeq
          MemoryDrain(spark, Seq(epochRows.map { case (s, b) => (new Timestamp(10L * 1000), s, b) }),
              flush = Some((_: Int, ts: Timestamp) => (ts, "zz", 0L))) { in =>
            StreamingPipelines.epochHistogramStream(in.toDF("ts", "source", "bin"),
              "ts", "source", "bin", epochWindow = "60 seconds", watermarkDelay = "0 seconds")
          } { sink =>
            val epochHist = sink.where(col("source") =!= "zz")
              .select(col("source"), col("__bin"), col("cnt"))
            CoreOps.psiFromHistograms(baseHist, epochHist, "source", 10)
              .select("source", "psi").as[(String, Double)].collect().toMap
          }
        } { streamed =>
          val batch = CoreOps.psiDrift(baseline, epoch, "source", "bin", 10)
            .select("source", "psi").as[(String, Double)].collect().toMap
          require(streamed == batch,
            s"streaming_drift_epoch psi mismatch: streamed=$streamed batch=$batch")
          System.err.println(
            s"[bench] streaming_drift_epoch sources=${streamed.size} (batch agrees)")
        }
      },
      // One RETRIEVAL-monitor ingest epoch: the documents corpus minus a
      // held-out fifth supplies the BM25 index (posting/df tables); the
      // epoch streams through retrievalScoreStream and the finalized match
      // scores compose to top-3 per incoming document. The result must
      // equal batch bm25Search, whose second, independent index build
      // stays out of the epoch latency.
      Entry("streaming_retrieval_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        // a 1/25th epoch: lexical match sets are dense (every shared common
        // term is a candidate), so the memory-sink volume — not the joins —
        // dominates past a few hundred incoming docs per cycle
        val epoch = docs.where(col("doc_id") % 25 === 0)
        lap.timedAudited {
          val (tfdl, dfreq, nDocs, totalDl) = TextOps.bm25Index(corpus, "doc_id", "text")
          val tfdlP = lap.keep(tfdl)
          val dfreqP = lap.keep(dfreq)
          tfdlP.count(); dfreqP.count()
          val rows = epoch.as[(Long, String)].collect()
          MemoryDrain(spark, Seq(rows.map { case (id, t) => (new Timestamp(10L * 1000), id, t) }.toSeq),
              flush = Some((i: Int, ts: Timestamp) => (ts, -1L - i, "flush"))) { in =>
            StreamingPipelines.retrievalScoreStream(in.toDF("ts", "doc_id", "text"),
              "ts", "doc_id", "text", tfdlP, dfreqP, nDocs, totalDl, watermarkDelay = "0 seconds")
          } { sink =>
            TextOps.bm25TopK(sink.where(col("query_id") >= 0), k = 3)
              .as[(Long, Long, Long, Double)].collect().toSet
          }
        } { streamed =>
          val batch = TextOps.bm25Search(corpus, epoch,
              "doc_id", "text", "doc_id", "text", k = 3)
            .as[(Long, Long, Long, Double)].collect().toSet
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          System.err.println(s"[bench] streaming_retrieval_epoch matches=${streamed.size} (batch agrees)")
        }
      },
      // One MIXTURE-monitor ingest epoch: the frozen bigram model over the
      // corpus minus a held-out fifth is the maintained snapshot (one
      // model build per release cycle); the held-out fifth streams through
      // the frozen-model scorer, the per-source accumulators merge, and the
      // EG weights refresh. The merged accumulators must equal the batch
      // rollup over the union.
      Entry("streaming_mixture_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        val epoch = docs.where(col("doc_id") % 5 === 0)
        def rollup(d: DataFrame, bg: DataFrame, cx: DataFrame, vs: Double) =
          TextOps.bigramNllUnder(d, "doc_id", "text", bg, cx, vs)
            .join(d.select(col("doc_id"), col("source")), "doc_id")
            .groupBy("source")
            .agg(sum(col("sum_nll_q6")).as("s"), sum(col("n_trans")).as("n"))
            .as[(String, Long, Long)].collect()
            .map { case (s, sv, n) => s -> ((sv, n)) }.toMap
        lap.timedAudited {
          val (bigram, context, vocab) = TextOps.bigramModel(corpus, "doc_id", "text")
          val bigramP = lap.keep(bigram)
          val contextP = lap.keep(context)
          bigramP.count(); contextP.count()
          val baseAcc = rollup(corpus, bigramP, contextP, vocab)
          val rows = epoch.select("doc_id", "text", "source").as[(Long, String, String)].collect()
          val flushText = Seq("flush one", "flush two")
          val losses = MemoryDrain(spark,
              Seq(rows.map { case (id, tx, s) => (new Timestamp(10L * 1000), id, tx, s) }.toSeq),
              flush = Some((i: Int, ts: Timestamp) => (ts, -1L - i, flushText(i), "__flush"))) { in =>
            StreamingPipelines.mixtureLossStream(in.toDF("ts", "doc_id", "text", "source"),
              "ts", "doc_id", "text", "source", bigramP, contextP, vocab,
              watermarkDelay = "0 seconds")
          }(_.where(col("source") =!= "__flush").as[(String, Long, Long)].collect())
          val merged = losses.foldLeft(baseAcc) { case (acc, (s, n, sv)) =>
            val (s0, n0) = acc.getOrElse(s, (0L, 0L))
            acc.updated(s, (s0 + sv, n0 + n))
          }
          val weights = TextOps.egMixtureRows(
            merged.toSeq.map { case (s, (sv, n)) => (s, sv / n) }.sortBy(_._1),
            iterations = 8, tokenBudget = 1000000L, etaPct = 50)
          require(weights.map(_._4).sum == 1000000L)
          (bigramP, contextP, vocab, merged)
        } { case (bigramP, contextP, vocab, merged) =>
          val batchAcc = rollup(corpus.union(epoch), bigramP, contextP, vocab)
          require(merged == batchAcc,
            s"accumulators diverged: ${merged.size} vs ${batchAcc.size} sources")
          System.err.println(s"[bench] streaming_mixture_epoch sources=${merged.size} (batch agrees)")
        }
      },
      // One ASSET-dedup ingest epoch: the mixed-modality corpus minus a
      // held-out fifth supplies the maintained signature index (one row
      // per distinct signature); the held-out fifth streams through the
      // STATELESS signature join (decode + hash inside the stream map — no
      // watermark, no aggregation).
      Entry("streaming_asset_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
        val corpus = Multimodal.syntheticMixedAssets(spark, docs.where(col("doc_id") % 5 =!= 0))
        val epochRows = Multimodal.syntheticMixedAssets(
          spark, docs.where(col("doc_id") % 5 === 0)).collect().toSeq
        def decisions(df: DataFrame) =
          df.as[(Long, String, String, Option[Long], Boolean)].collect().toSet
        lap.timedAudited {
          val idx = lap.keep(StreamingPipelines.assetSignatureIndex(corpus))
          idx.count()
          (idx, MemoryDrain(spark, Seq(epochRows))(
            StreamingPipelines.assetDedupStream(_: org.apache.spark.sql.Dataset[MediaAsset], idx))(decisions))
        } { case (idx, streamed) =>
          val batch = decisions(StreamingPipelines.assetDedupStream(spark.createDataset(epochRows), idx))
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          System.err.println(s"[bench] streaming_asset_epoch assets=${streamed.size} " +
            s"admitted=${streamed.count(_._5)} (batch agrees)")
        }
      },
      // One exact-fingerprint ingest epoch against the maintained
      // content-fingerprint index of the standing 4/5.
      Entry("streaming_exact_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        val epochRows = docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect().toSeq
        def decisions(df: DataFrame) =
          df.as[(Long, String, Option[Long], Boolean)].collect().toSet
        lap.timedAudited {
          val idx = lap.keep(StreamingPipelines.contentFingerprintIndex(corpus, "doc_id", "text"))
          idx.count()
          (idx, MemoryDrain(spark, Seq(epochRows)) { in =>
            StreamingPipelines.exactDedupStream(in.toDF("doc_id", "text"), idx, "doc_id", "text")
          }(decisions))
        } { case (idx, streamed) =>
          val batch = decisions(StreamingPipelines.exactDedupStream(
            epochRows.toDF("doc_id", "text"), idx, "doc_id", "text"))
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          System.err.println(s"[bench] streaming_exact_epoch docs=${streamed.size} " +
            s"admitted=${streamed.count(_._4)} (batch agrees)")
        }
      },
      // one crawl epoch through the stateless web-ingest stream: 1/5 of the
      // corpus arrives as raw pages (some re-crawled URLs, some
      // chrome-wrapped, some spam) probing maintained url + fingerprint
      // indexes built from the standing 4/5
      Entry("streaming_webingest_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        val epochRows = docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").cast("long").as("doc_id"),
            // %10: a re-crawl spelling of corpus page doc_id+1 (always in
            // the corpus: (id+1) % 5 == 1); otherwise a fresh URL
            when(col("doc_id") % 10 === 0,
              concat(lit("https://WWW.example.com:443/page/"),
                (col("doc_id") + 1).cast("string"), lit("?x=1&utm_s=z#f")))
              .otherwise(concat(lit("https://example.com/new/"),
                col("doc_id").cast("string"))).as("url"),
            when(col("doc_id") % 7 === 0, concat(lit("<html><body><p>"),
                col("text"), lit("</p><script>x();</script></body></html>")))
              .when(col("doc_id") % 13 === 0, concat(col("text"), lit(" zzspamword")))
              .otherwise(col("text")).as("page"))
          .as[(Long, String, String)].collect().toSeq
        def ingest(df: DataFrame, urlIdx: DataFrame, cIdx: DataFrame) =
          StreamingPipelines.webIngestStream(df.toDF("doc_id", "url", "page"), urlIdx, cIdx,
            "doc_id", "url", "page", Seq("zzspamword"))
        def decisions(df: DataFrame) =
          df.select(col("doc_id"), col("url_dup"), col("spam"), col("dup_of"), col("keep"))
            .as[(Long, Boolean, Boolean, Option[Long], Boolean)].collect().toSet
        lap.timedAudited {
          val urlIdx = lap.keep(corpus.select(TextOps.canonicalizeUrl(
              concat(lit("https://example.com/page/"), col("doc_id").cast("string"),
                lit("?x=1"))).as("canonical_url")))
          val cIdx = lap.keep(corpus.groupBy(md5(TextOps.extractHtmlText(col("text")))
              .as("fingerprint"))
            .agg(min(col("doc_id").cast("long")).as("rep_id")))
          urlIdx.count(); cIdx.count()
          (urlIdx, cIdx, MemoryDrain(spark, Seq(epochRows))(in => ingest(in.toDF(), urlIdx, cIdx))(decisions))
        } { case (urlIdx, cIdx, streamed) =>
          val batch = decisions(ingest(epochRows.toDF(), urlIdx, cIdx))
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          require(streamed.exists(_._2), "no planted re-crawl was url-deduped")
          require(streamed.exists(_._3), "no planted spam was flagged")
          System.err.println(s"[bench] streaming_webingest_epoch pages=${streamed.size} " +
            s"kept=${streamed.count(_._5)} (batch agrees)")
        }
      },
      // one ingest epoch of crawled pages through the URL frontier, each
      // page carrying an outlink to a planted h{0-9}.com target and a self
      // link; standing dimensions: PSL over the target hosts, endorsement
      // for even domains, h1's own robots disallowing its /p/1x paths, h2
      // at its crawl budget
      Entry("streaming_frontier_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
        val epochRows = docs.where(col("doc_id") % 5 === 0)
          // the epoch's ids are all ≡0 mod 5, so key the planted target on
          // doc_id/5 to span every host h0-h9 and every /p/0-19 path
          .select(col("doc_id").cast("long").as("doc_id"),
            concat(lit("https://src.example/p/"),
              col("doc_id").cast("string")).as("url"),
            concat(lit("<a href=\"https://h"),
              (expr("doc_id div 5") % 10).cast("string"),
              lit(".com/p/"), (expr("doc_id div 5") % 20).cast("string"),
              lit("\">t</a> <a href=\"/self/"), (col("doc_id") % 7).cast("string"),
              lit("\">s</a>")).as("page"))
          .as[(Long, String, String)].collect().toSeq
        val dim = lap.keep(TextOps.registrableDomainMap(
          ((0 until 10).map(i => s"h$i.com") :+ "src.example").toDF("host"), "host"))
        val rank = lap.keep((0 until 10 by 2).map(i => (s"h$i.com", (i + 1) * 100000L))
          .toDF("registrable_domain", "pr_q6"))
        val rules = lap.keep(TextOps.urlRulesPacked(
          Seq(("h1.com", "/p/1", false), ("h3.com", "/p/1", true))
            .toDF("domain", "rule", "allow")))
        val counts = lap.keep(Seq(("h2.com", 30L), ("h4.com", 3L))
          .toDF("registrable_domain", "n_pages"))
        def run(df: DataFrame) =
          StreamingPipelines.urlFrontierStream(
            df.toDF("doc_id", "url", "page"), dim, rank, rules, counts,
            "doc_id", "page", "url", budget = 30L)
        def rows(df: DataFrame) =
          df.select(col("doc_id"), col("link_no"), col("url"),
              col("target_rank_q6"), col("allowed"), col("over_budget"),
              col("eligible"))
            .as[(Long, Long, String, Long, Boolean, Boolean, Boolean)]
            .collect().toSet
        lap.timedAudited {
          dim.count(); rank.count(); rules.count(); counts.count()
          MemoryDrain(spark, Seq(epochRows))(in => run(in.toDF()))(rows)
        } { streamed =>
          // in-entry agreement: the SAME function on the epoch as a batch
          // frame, row for row — plus both polarities of each decision arm
          val batch = rows(run(epochRows.toDF()))
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          require(streamed.exists(!_._5) && streamed.exists(_._5),
            "planted robots block/allow must both occur")
          require(streamed.exists(_._6) && streamed.exists(!_._6),
            "planted budget over/under must both occur")
          System.err.println(s"[bench] streaming_frontier_epoch links=${streamed.size} " +
            s"eligible=${streamed.count(_._7)} (batch agrees)")
        }
      },
      // One block-dedup ingest epoch against the maintained block-hash
      // index of the standing 4/5; the stream must cut the same blocks as
      // the batch incrementalBlockDedupAgainst.
      Entry("streaming_block_epoch") { lap =>
        val docs = Tables.documents(spark, sfDir)
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        val epochRows = docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect().toSeq
        lap.timedAudited {
          val idx = lap.keep(Dedup.blockHashIndex(corpus, "doc_id", "text"))
          idx.count()
          (idx, MemoryDrain(spark, Seq(epochRows.map { case (id, t0) => (id, t0, new Timestamp(1000L)) }),
              flush = Some((i: Int, ts: Timestamp) => (-1L - i, "flush", ts))) { in =>
            StreamingPipelines.blockDedupStream(in.toDF("doc_id", "text", "ts"), idx,
              "doc_id", "text", "ts", watermarkDelay = "0 seconds")
          }(_.where(col("doc_id") >= 0).as[(Long, Long, Long, Seq[Int])].collect().toSet))
        } { case (idx, streamed) =>
          val batch = Dedup.incrementalBlockDedupAgainst(
              epochRows.toDF("doc_id", "text"), idx, "doc_id", "text")
            .select("doc_id", "n_blocks", "n_dropped", "dropped")
            .as[(Long, Long, Long, Seq[Int])].collect().toSet
          require(streamed == batch,
            s"diverged: ${streamed.size} vs ${batch.size} rows")
          System.err.println(s"[bench] streaming_block_epoch docs=${streamed.size} " +
            s"blocks_cut=${streamed.iterator.map(_._3).sum} (batch agrees)")
        }
      })
  }
}

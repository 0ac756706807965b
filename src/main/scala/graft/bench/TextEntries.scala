package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, TextOps}
import graft.queries.ModelQueries

/** Text and dedup operator A/Bs. Except for the two cold BPE trainers,
  * each pair's arms compute the same value and are declared `agree`, so
  * an arm whose result differs from its partner's in the same lap fails
  * instead of timing a different computation. Our design runs first in
  * every pair, so any residual warmup bias lands on it. */
object TextEntries {

  def apply(ctx: BenchContext): Seq[Entry] = {
    import ctx._

    // held BM25 index of the delete-maintenance A/B (untimed build, held
    // for the sweep: the steady state an ingest monitor keeps persisted
    // across epochs)
    lazy val bm25BaseIndex: (DataFrame, DataFrame, Long, Long) = {
      val (t, d, n, l) = TextOps.bm25Index(divergenceCorpus, "doc_id", "text")
      val tp = t.persist(); val dp = d.persist()
      tp.count(); dp.count()
      (tp, dp, n, l)
    }

    // maintained positional index + a 20-phrase query set for the
    // bulk-vs-loop phrase A/B, built and materialized OUTSIDE the timed
    // arms — both arms probe the SAME table (the maintained-index
    // contract). Phrases = each of the first 20 docs' opening bigram:
    // deterministic, mixed selectivity (doc-initial tokens range from
    // rare to corpus-common).
    lazy val phraseInputs: (DataFrame, Seq[(Long, Seq[String])]) = {
      val idx = TextOps.positionalPostingsIndex(
        Tables.documents(spark, sfDir), "doc_id", "text").localCheckpoint()
      val phrases = Tables.documents(spark, sfDir).orderBy("doc_id").limit(20)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .collect().toSeq
        .map(r => r.getLong(0) -> r.getSeq[String](1).take(2).toList)
        .filter(_._2.size == 2)
      (idx, phrases)
    }

    // the STORED phrase index shared by the pruned/unpruned A/B: written
    // once per (JVM, sf) under a pid-scoped /tmp dir
    lazy val phraseStoredInputs: (String, Seq[String]) = {
      val dir = graft.Scratch.processPath("storedidx", "_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!new java.io.File(dir).exists())
        TextOps.positionalIndexWrite(phraseInputs._1, dir, nBuckets = 64)
      (dir, phraseInputs._2.head._2)
    }

    // shared frame of the Hamming-dedup A/B: 100k docs in 2000 groups of
    // 50; within a group, 29 of 30 tokens agree and one token is per-doc
    // unique, so groups are tight Hamming clusters of the 60-bit prints.
    // 100k is the size where the naive arm's n² actually bites (5×10⁹
    // print comparisons; at 10k the codegen'd cross join still wins on
    // sheer throughput) while the blocked arm's candidates stay
    // Σ|bucket|²-bounded and barely move.
    def hammingFrame: DataFrame = spark.range(0, 100000L, 1, cpus)
      .select(col("id").as("doc_id"),
        array_join(expr(
          "transform(sequence(1, 30), i -> CASE WHEN i = 1 + pmod(id, 30) " +
            "THEN concat('u', id) ELSE concat('w', pmod(hash(id div 50, i), 800)) END)"),
          " ").as("text"))

    // shared frame of the memorization A/B: 400k docs, each a per-doc
    // md5-derived 20-token block repeated 6× — windows repeat WITHIN the
    // document (occ ≈ 6), the shape boilerplate-heavy web text actually
    // has and exactly the redundancy the pair reduction collapses BEFORE
    // any exchange — and every third doc opens with the SAME 8-token
    // span, so one window hash is maximally corpus-hot (hot windows ARE
    // the audit's signal). Deterministic, layout-independent.
    def memorizationFrame: DataFrame = {
      val block = concat_ws(" ", (1 to 20).map(i =>
        substring(md5(concat(col("id").cast("string"), lit(s":$i"))), 1, 6)): _*)
      spark.range(400000L).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 3 === 0,
            lit("hot0 hot1 hot2 hot3 hot4 hot5 hot6 hot7"))
            .otherwise(concat(lit("c"),
              substring(md5(concat(col("id").cast("string"), lit(":h"))), 1, 10))),
          block, block, block, block, block, block).as("text"))
    }

    def bpe(train: (DataFrame, Int) => (Seq[_], DataFrame)): Unit = {
      val (merges, wordTokens) = train(
        TextOps.bpeWordFreq(Tables.documents(spark, sfDir), "text"), ModelQueries.X13NumMerges)
      force(wordTokens)
      require(merges.nonEmpty)
    }

    Seq(
      // COLD BPE merge training A/B (no per-JVM model cache: these entries
      // are the training loop itself, every lap). The _corpus arm is the
      // DISTRIBUTED merge loop (two Spark jobs per merge — the shape that
      // survives any vocabulary size); the _local arm is the
      // auto-dispatched driver-side trainer over the collapsed
      // word-frequency table (results spec-pinned identical). The gap IS
      // the per-merge job overhead the dispatcher exists to avoid.
      Entry("bpe_train_corpus")(_.timed(bpe(TextOps.bpeTrain(_, _)))),
      Entry("bpe_train_local")(_.timed(bpe(TextOps.bpeTrainAuto(_, _)))),
      // BM25 delete-maintenance A/B: the incremental arm deletes 1/16 of
      // the docs from the HELD index (broadcast anti-join + df decrement at
      // removed-term cardinality — never touches text), the rebuild arm
      // re-tokenizes and re-aggregates the surviving corpus from scratch.
      // Both arms' (docs, total length) stats must agree.
      Entry("bm25_index_delete_incremental", agree = true) { lap =>
        val base = bm25BaseIndex // built + persisted OUTSIDE the timing
        lap.timed {
          val removals = divergenceCorpus
            .where(pmod(col("doc_id"), lit(16)) === 7).select("doc_id")
          val (t2, d2, n2, l2) = TextOps.bm25IndexDelete(
            base._1, base._2, base._3, base._4, removals, "doc_id")
          force(t2); force(d2)
          (n2, l2)
        }
      },
      Entry("bm25_index_rebuild", agree = true)(_.timed {
        val (t, d, n, l) = TextOps.bm25Index(
          divergenceCorpus.where(pmod(col("doc_id"), lit(16)) =!= 7), "doc_id", "text")
        force(t); force(d)
        System.err.println(s"[bench] bm25_index_rebuild stats: n=$n dl=$l")
        (n, l)
      }),
      // Bulk-vs-loop phrase probe A/B: ONE phraseSearchAll plan over the
      // 20-phrase table vs 20 sequential phraseIndexSearch probes of the
      // SAME materialized index — each loop probe pays a driver-side df
      // election (its own jobs) plus its own joins, which is exactly the
      // shape bulk decontamination must NOT take at a thousand phrases.
      // Match-row counts must agree.
      Entry("phrase_bulk_batch", agree = true) { lap =>
        val (idx, phrases) = phraseInputs
        lap.timed {
          import spark.implicits._
          val pdf = phrases.map { case (i, p) => (i, p.mkString(" ")) }
            .toDF("phrase_id", "ptext")
          val n = TextOps.phraseSearchAll(idx, pdf, "phrase_id", "ptext").count()
          System.err.println(s"[bench] phrase_bulk_batch rows=$n")
          n
        }
      },
      Entry("phrase_per_query_loop", agree = true) { lap =>
        val (idx, phrases) = phraseInputs
        lap.timed {
          val n = phrases.map { case (_, p) => TextOps.phraseIndexSearch(idx, p).count() }.sum
          System.err.println(s"[bench] phrase_per_query_loop rows=$n")
          n
        }
      },
      // Stored-index pruning A/B: the SAME on-disk term-bucketed index
      // sliced to the SAME phrase's postings, with vs without the bucket
      // literals. The arms time the SLICE SCAN — exactly where the two
      // probe paths differ; everything downstream of the slice is the
      // shared phraseProbe core (pruned == unpruned full results is
      // PhraseSearchSpec-pinned). The claim is the READ cut from partition
      // pruning (metric input_bytes: the pruned scan lists only the
      // phrase's bucket directories; local wall at this index size is
      // page-cache noise). The measured ratio (~0.5) is honest bucket SKEW
      // plus row-group pruning on the UNPRUNED arm, not weak pruning: the
      // bench phrase is doc 0's first two tokens — high-df corpus words
      // whose buckets hold far more postings than average — and the
      // unpruned arm already skips most row groups via parquet min/max on
      // `term`. The term filter alone decides membership, so the bucket
      // literals must not change the slice: the slice row counts must
      // agree.
      Entry("phrase_stored_pruned", agree = true) { lap =>
        val (dir, phrase) = phraseStoredInputs
        lap.timed {
          val buckets = phrase.distinct.map(TextOps.termBucket(_, 64))
          val n = spark.read.parquet(dir)
            .where(col("term_bucket").isin(buckets: _*) && col("term").isin(phrase.distinct: _*))
            .count()
          System.err.println(s"[bench] phrase_stored_pruned slice_rows=$n")
          n
        }
      },
      Entry("phrase_stored_unpruned", agree = true) { lap =>
        val (dir, phrase) = phraseStoredInputs
        lap.timed {
          val n = spark.read.parquet(dir).where(col("term").isin(phrase.distinct: _*)).count()
          System.err.println(s"[bench] phrase_stored_unpruned slice_rows=$n")
          n
        }
      },
      // Hamming near-dup A/B: the multi-index pigeonhole join (blocked
      // candidates, exact verify at candidate cardinality) vs the naive
      // all-pairs bit_count scan every first implementation writes. Same
      // 100k-doc frame, identical pair counts; the all-pairs arm is n² in
      // documents (5×10⁹ comparisons here — at corpus scale it simply
      // does not finish), the blocked arm is Σ|bucket|².
      Entry("hamming_pairs_blocked", agree = true)(_.timed {
        val n = Dedup.simHashHammingPairs(hammingFrame, "doc_id", "text", radius = 3).count()
        System.err.println(s"[bench] hamming_pairs_blocked pairs=$n")
        n
      }),
      Entry("hamming_pairs_allpairs", agree = true)(_.timed {
        val sh = Dedup.simHash60(hammingFrame, "doc_id", "text")
        val l = sh.select(col("doc_id").as("doc_a"), col("simhash60").as("sa"))
        val r = sh.select(col("doc_id").as("doc_b"), col("simhash60").as("sb"))
        val n = l.crossJoin(r)
          .where(col("doc_a") < col("doc_b") &&
            bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
          .count()
        System.err.println(s"[bench] hamming_pairs_allpairs pairs=$n")
        n
      }),
      // Block winner election A/B: one map-side-combinable min(struct)
      // aggregate vs the row_number window (which must shuffle and sort
      // EVERY block row before discarding the losers); winner counts must
      // agree.
      Entry("block_winners_agg", agree = true)(_.timed {
        val n = Dedup.blockHashIndex(Tables.documents(spark, sfDir), "doc_id", "text").count()
        System.err.println(s"[bench] block_winners_agg winners=$n")
        n
      }),
      Entry("block_winners_window", agree = true)(_.timed {
        val occ = Dedup.blockOccurrences(Tables.documents(spark, sfDir), "doc_id", "text")
        val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("bi"))
        val n = occ.withColumn("rn", row_number().over(w)).where(col("rn") === 1).count()
        System.err.println(s"[bench] block_winners_window winners=$n")
        n
      }),
      // Memorization-audit plan A/B: the shipped pair-reduced plan —
      // occurrence table collapsed to distinct (doc_id, h) + occurrence
      // count BEFORE any h-keyed exchange — vs the retired occurrence plan,
      // which shuffles the full per-occurrence table through distinct →
      // groupBy(h) → join-on-h → groupBy(doc) (47.6× wall on 10× data when
      // it shipped). Identical output on rows / Σn_hot / Σmax_df.
      Entry("memorization_pairs", agree = true)(_.timed {
        val a = Dedup.memorizationRisk(memorizationFrame, "doc_id", "text", n = 8, hotDf = 1000L)
          .agg(count(lit(1)), sum(col("n_hot")), sum(col("max_df"))).head
        val agg = (a.getLong(0), a.getLong(1), a.getLong(2))
        System.err.println(s"[bench] memorization_pairs agg=$agg")
        agg
      }),
      Entry("memorization_occurrence", agree = true)(_.timed {
        val wins = Dedup.windowHashes(memorizationFrame, "doc_id", "text", 8)
        val df = wins.select("h", "doc_id").distinct()
          .groupBy("h").agg(count(lit(1)).as("df"))
        val a = wins.join(df, "h").groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"), max(col("df")).as("max_df"),
            count(when(col("df") >= 1000L, lit(1))).as("n_hot"))
          .agg(count(lit(1)), sum(col("n_hot")), sum(col("max_df"))).head
        val agg = (a.getLong(0), a.getLong(1), a.getLong(2))
        System.err.println(s"[bench] memorization_occurrence agg=$agg")
        agg
      }))
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the unigram-LM (SentencePiece-style, Kudo 2018 hard-EM variant)
  * tokenizer trainer: Viterbi semantics on hand-checkable inputs,
  * bit-determinism across trains, the hard-EM monotone-likelihood
  * property over the fixed vocabulary, and the exported model's internal
  * consistency (the x13 schema contract the gate and oracle share). */
class UnigramTrainSpec extends AnyFunSuite {

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

  test("viterbi: maximum-likelihood path, longest-piece tie-break, char fallback") {
    val lp = new java.util.HashMap[String, java.lang.Double]()
    // p(ab) ≫ p(a)p(b): the word segments through the bigram piece
    lp.put("a", -3.0); lp.put("b", -3.0); lp.put("ab", -2.0); lp.put("c", -1.0)
    val (s1, sc1) = TextOps.unigramViterbi("abc", lp, maxPieceLen = 4)
    assert(s1.toSeq === Seq("ab", "c") && sc1 === -3.0)
    // exact tie: "ab" (-6) vs "a"+"b" (-6) — the LONGEST piece wins
    lp.put("ab", -6.0); lp.put("a", -3.0); lp.put("b", -3.0)
    assert(TextOps.unigramViterbi("ab", lp, 4)._1.toSeq === Seq("ab"))
    // a word with no multi-char cover falls back to chars
    assert(TextOps.unigramViterbi("cab", lp, 4)._1.toSeq === Seq("c", "ab"))
  }

  test("training: a frequent substring becomes a piece; segmentations concatenate back; chars covered") {
    // "ing" rides three frequent words; "zq" appears once
    val wf = Seq(("walking", 50L), ("talking", 40L), ("running", 30L),
      ("zq", 1L), ("king", 20L))
    // 12 distinct chars in the plant — the budget must leave multi-char
    // slots past the always-kept character coverage
    val (pieces, model, trace) =
      TextOps.unigramTrainLocal(wf, vocabSize = 20, maxPieceLen = 4, emIters = 3)
    val pieceSet = pieces.filter(_._2 > 0L).map(_._1).toSet
    // every segmentation concatenates to its word, counts agree
    for ((w, n, f, toks) <- model) {
      assert(toks.mkString("") === w)
      assert(n === toks.length.toLong)
      assert(f === wf.toMap.apply(w))
    }
    // full character coverage survives pruning (zq stays segmentable)
    val chars = wf.flatMap(_._1.map(_.toString)).toSet
    assert(chars.subsetOf(pieces.map(_._1).toSet))
    // the shared frequent substring (or a superstring of it) is a piece
    // and the -ing words segment through a multi-char piece
    assert(pieceSet.exists(p => p.length > 1 && p.contains("in")),
      s"expected a multi-char piece covering 'in…', got $pieceSet")
    val kingToks = model.find(_._1 == "king").get._4
    assert(kingToks.length < 4, s"king should use a multi-char piece: $kingToks")
    // hard EM over the FIXED vocabulary is monotone in the Viterbi
    // likelihood (trace(0) is pre-prune and excluded)
    val fixed = trace.drop(1)
    assert(fixed.zip(fixed.tail).forall { case (a, b) => b >= a - 1e-6 },
      s"likelihood not monotone over the fixed vocab: $trace")
  }

  test("training is bit-deterministic and the DataFrame wrapper matches the local trainer") {
    import spark.implicits._
    val wf = Seq(("aba", 5L), ("abab", 4L), ("bab", 3L), ("cc", 2L))
    val a = TextOps.unigramTrainLocal(wf, vocabSize = 8, maxPieceLen = 3, emIters = 2)
    val b = TextOps.unigramTrainLocal(wf, vocabSize = 8, maxPieceLen = 3, emIters = 2)
    assert(a._1 === b._1); assert(a._2 === b._2); assert(a._3 === b._3)
    val (piecesDf, modelDf, trace) = TextOps.unigramTrain(
      wf.toDF("word", "freq"), vocabSize = 8, maxPieceLen = 3, emIters = 2)
    assert(trace === a._3)
    assert(piecesDf.as[(String, Long, Double)].collect().toSeq === a._1)
    assert(modelDf.select("word", "n_tokens", "freq")
      .as[(String, Long, Long)].collect().toSeq.sorted ===
      a._2.map(m => (m._1, m._2, m._3)).sorted)
  }

  test("x21 gate invariants on the real corpus: model covers the vocabulary, trace monotone") {
    val sfDir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("x21_unigram_train")(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // the model trains on the full corpus, so the inner join loses no
    // pre-tokens: per doc, n_unigram_tokens >= n_pretokens (a piece never
    // spans words) and both positive
    assert(rows.forall(r => r.getLong(1) > 0L && r.getLong(2) >= r.getLong(1)))
    // the gate trained the model; this reads the same memoized value back
    val (_, trace) = graft.queries.ModelQueries.unigramModel(spark, sfDir)
    val fixed = trace.drop(1)
    assert(fixed.zip(fixed.tail).forall { case (a, b) => b >= a - 1e-6 },
      s"likelihood not monotone on the real corpus: $trace")
    // …and the unigram tokenizer actually compresses vs characters: the
    // corpus-wide token count sits strictly under the char count
    val docs = graft.Tables.documents(spark, sfDir)
    val totToks = rows.map(_.getLong(2)).sum
    val totChars = docs.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.col("text")), " ", ""))))
      .head().getLong(0)
    assert(totToks < totChars, s"no compression: $totToks tokens vs $totChars chars")
  }
}

package graft

import graft.ext.Bpe
import org.apache.spark.sql.functions._

/** BPE merge training: the classic worked example, sequential-greedy
  * equivalence of the runs-parity application (overlapping occurrences),
  * and full-corpus parity with an independent single-node reference. */
class BpeSpec extends SparkSpec {

  /** Independent reference: plain-Scala BPE over a word-count map, with
    * the textbook sequential greedy merge application. No shared code with
    * [[Bpe]]. */
  private def referenceBpe(wordCounts: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordCounts.map { case (w, c) => w.map(_.toString).toVector -> c }
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to k) {
      val freqs = collection.mutable.Map.empty[(String, String), Long]
      for ((toks, c) <- words; i <- 0 until toks.length - 1)
        freqs((toks(i), toks(i + 1))) = freqs.getOrElse((toks(i), toks(i + 1)), 0L) + c
      if (freqs.nonEmpty) {
        val ((a, b), f) = freqs.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((a, b, f))
        words = words.groupMapReduce { case (toks, _) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
              merged += a + b; i += 2
            } else { merged += toks(i); i += 1 }
          }
          merged.result()
        } { case (_, c) => c }(_ + _)
      }
    }
    out.result()
  }

  test("classic corpus: merges follow pair frequency with deterministic ties") {
    // Sennrich et al.'s shape: {low x5, lower x2, newest x6, widest x3}
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = spark.createDataFrame(Seq(Tuple1(text))).toDF("text")
    val got = Bpe.bpeMergesFrom(docs, 4).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    // (e,s) and (es,t) dominate at 9 (newest+widest); then t? no — after
    // "est", pair ranking continues; the reference implementation is the
    // ground truth for the full sequence
    val expected = referenceBpe(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
    assert(got == expected)
    assert(got.head == (("e", "s", 9L)), s"first merge should be (e,s,9), got ${got.head}")
  }

  test("overlapping occurrences: runs-parity equals sequential greedy (aaaa)") {
    val docs = spark.createDataFrame(
      Seq(Tuple1("aaaa aaaa aaa ba ab"))).toDF("text")
    val got = Bpe.bpeMergesFrom(docs, 3).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val expected = referenceBpe(
      Map("aaaa" -> 2L, "aaa" -> 1L, "ba" -> 1L, "ab" -> 1L), 3)
    assert(got == expected)
    // "aaaa" has 3 (a,a) positions but greedy merges only 2; "aaa" has 2
    // positions, merges 1 → freq = 2*3 + 1*2 = 8? No: frequency COUNTS all
    // occurrences (4+2+1 = 8? pairs in aaaa: 3, aaa: 2, ba: 0, ab: 0 →
    // 2*3 + 2 = 8); the reference asserts the exact value either way
    assert(got.head._1 == "a" && got.head._2 == "a")
  }

  test("encode: per-doc token counts reconcile with the reference tokenization") {
    val t = sf()
    // reference: train on the corpus word counts, then encode each word
    val wordCounts = t.documents
      .select(explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sequential per-word encode under the reference merge list
    val rules = referenceBpe(wordCounts, 8).map { case (a, b, _) => (a, b) }
    def encodeWord(w: String): Int = {
      var toks = w.map(_.toString).toVector
      for ((a, b) <- rules) {
        val merged = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
            merged += a + b; i += 2
          } else { merged += toks(i); i += 1 }
        }
        toks = merged.result()
      }
      toks.length
    }
    val expected = t.documents
      .select(col("doc_id"), explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => encodeWord(r.getString(1)).toLong).sum).toMap
    val got = graft.ext.Bpe.bpeEncode(t).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(got == expected)
  }

  test("model reuse: train once, encode an unseen corpus with unknown-word fallback") {
    import org.apache.spark.sql.functions.col
    val train = spark.createDataFrame(
      Seq(Tuple1("aa aa aa ab"))).toDF("text")
    val model = Bpe.train(train, merges = 1) // learns (a,a) only
    assert(model.merges.collect().map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("a", "a")))
    // "aa" → 1 token (merged); "zz" unseen → falls back to char count 2
    val unseen = spark.createDataFrame(
      Seq((1L, "aa zz"))).toDF("doc_id", "text")
    val enc = model.encode(unseen).collect().head
    assert(enc.getAs[Long]("n_words") == 2)
    assert(enc.getAs[Long]("n_bpe_tokens") == 1 + 2,
      s"expected merged aa (1) + fallback zz (2), got ${enc.getAs[Long]("n_bpe_tokens")}")
  }

  test("full corpus: distributed training equals the single-node reference") {
    val t = sf()
    val wordCounts = t.documents
      .select(explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceBpe(wordCounts, 8)
    val got = Bpe.bpeMerges(t, 8).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected)
    // merged column is the concatenation, ranks are 1..k
    val rows = Bpe.bpeMerges(t, 8).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8))
    assert(rows.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
  }

  /** Independent single-node reference for BATCHED training: same window +
    * greedy non-interacting selection, but the batch is applied
    * SEQUENTIALLY one merge at a time — so equality with the engine (which
    * applies the whole batch simultaneously) is exactly the commutation
    * claim the batching rests on: non-interacting merges give
    * byte-identical results in either order. */
  private def referenceBatchedBpe(wordCounts: Map[String, Long], rounds: Int,
      batchSize: Int, windowSize: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordCounts.map { case (w, c) => w.map(_.toString).toVector -> c }
    def applyMerge(a: String, b: String): Unit =
      words = words.groupMapReduce { case (toks, _) =>
        val merged = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
            merged += a + b; i += 2
          } else { merged += toks(i); i += 1 }
        }
        merged.result()
      } { case (_, c) => c }(_ + _)
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val freqs = collection.mutable.Map.empty[(String, String), Long]
      for ((toks, c) <- words; i <- 0 until toks.length - 1)
        freqs((toks(i), toks(i + 1))) = freqs.getOrElse((toks(i), toks(i + 1)), 0L) + c
      if (freqs.nonEmpty) {
        val win = freqs.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(windowSize)
        val lefts = collection.mutable.Set.empty[String]
        val rights = collection.mutable.Set.empty[String]
        val minted = collection.mutable.Set.empty[String]
        val batch = Seq.newBuilder[(String, String, Long)]
        var kept = 0
        win.foreach { case ((a, b), f) =>
          val interacts = rights(a) || lefts(b) || minted(a) || minted(b)
          if (kept < batchSize && !interacts) {
            batch += ((a, b, f)); kept += 1
            lefts += a; rights += b; minted += (a + b)
          }
        }
        val sel = batch.result()
        sel.foreach { case (a, b, _) => applyMerge(a, b) }
        out ++= sel
      }
    }
    out.result()
  }

  test("batched: engine's simultaneous batch equals sequential reference") {
    val t = sf()
    val wordCounts = t.documents
      .select(explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceBatchedBpe(wordCounts, rounds = 4, batchSize = 8, windowSize = 64)
    val got = Bpe.trainBatched(t.documents, rounds = 4, batchSize = 8, windowSize = 64)
      .rules.collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("batched with batchSize=1 degenerates to plain sequential BPE") {
    val t = sf()
    val plain = Bpe.bpeMerges(t, 4).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val batched = Bpe.bpeMergesBatched(t, rounds = 4, batchSize = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(batched == plain)
  }

  test("batched: >= 64 merges learned in <= 8 driver rounds (q120 contract)") {
    val t = sf()
    val run = Bpe.trainBatched(t.documents, rounds = 8, batchSize = 16)
    assert(run.roundsRun <= 8, s"took ${run.roundsRun} rounds")
    assert(run.mergesLearned >= 64,
      s"only ${run.mergesLearned} merges in ${run.roundsRun} rounds")
    val rows = run.rules.collect()
    assert(rows.length == run.mergesLearned)
    assert(rows.map(_.getInt(0)).toSeq == (1 to run.mergesLearned))
    assert(rows.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
  }

  test("batched at realistic width: interaction thinning stays small " +
    "(tools/BpeScaleRun's 1k-merge regime)") {
    import org.apache.spark.sql.functions._
    // the raw fixture's 31-word vocabulary exhausts BPE at ~91 merges (the
    // correct outcome); the bigram derivation (vocab ≈ 31² words of ~10
    // chars) is the >1k-merge regime of sf0.1 training. Here: the
    // wide batch must KEEP most of its budget — a regression in the
    // interaction filter (over-rejecting) would push the realistic run
    // from ~19 rounds toward one-merge-per-round economics.
    val docs = sf().documents.select(concat_ws(" ", expr(
      "transform(sequence(1, size(split(lower(text), ' ')) - 1), i -> " +
        "concat(split(lower(text), ' ')[i - 1], '_', " +
        "split(lower(text), ' ')[i]))")).as("text"))
    val run = Bpe.trainBatched(docs, rounds = 4, batchSize = 32,
      windowSize = 256)
    assert(run.roundsRun == 4)
    assert(run.mergesLearned >= 4 * 24,
      s"only ${run.mergesLearned} merges in 4 rounds — batch yield " +
        s"${run.mergesLearned / 4.0}/32 suggests interaction over-rejection")
    val rows = run.rules.collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to run.mergesLearned))
    assert(rows.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
  }
}

package graft

import java.nio.file.Files

import graft.core.Tables
import graft.ext.{CorpusIndex, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-index operators (q239–q241) against single-node ground truth and
  * their own structural invariants, plus the q242 cross-tab identities. */
class CorpusIndexSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def writeDocs(docs: Seq[(Long, String, String)]): Tables = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ci").toFile.getAbsolutePath
    docs.map { case (id, tx, src) => (id, tx, "en", src, tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    Tables(spark, base)
  }

  // ── q239 next-token table ───────────────────────────────────────────

  test("q239: counts, totals, ranks, and probabilities match a brute-force recount") {
    val docs = Seq(
      (0L, "a b c a b d a b c", "s"),
      (1L, "a b c x y z a b e", "s"),
      (2L, "x y z x y w", "s"),
      (3L, "lone pair", "s"), // 2 tokens < n=3: contributes nothing
      (4L, "a b", "s"))
    val t = writeDocs(docs)
    val got = CorpusIndex.nextTokenTable(t, n = 3, topContexts = 3, topNext = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5)))

    // brute force: all trigrams of docs with >= 3 tokens
    val grams = docs.flatMap { case (_, tx, _) =>
      val tk = tx.trim.split("\\s+")
      if (tk.length < 3) Seq.empty
      else tk.sliding(3).map(w => (w.init.mkString(" "), w.last)).toSeq
    }
    val counts = grams.groupBy(identity).map { case ((c, nx), g) => (c, nx, g.size.toLong) }
    val totals = counts.groupBy(_._1).map { case (c, g) => c -> g.map(_._3).sum }
    val top = totals.toSeq.sortBy { case (c, tot) => (-tot, c) }.take(3).toMap
    val expected = counts.filter(r => top.contains(r._1)).toSeq
      .groupBy(_._1).toSeq.flatMap { case (c, g) =>
        g.sortBy { case (_, nx, cnt) => (-cnt, nx) }.zipWithIndex
          .take(2).map { case ((_, nx, cnt), i) =>
            (c, nx, cnt, top(c), cnt.toDouble / top(c), i + 1)
          }
      }
      .sortBy { case (c, _, _, tot, _, r) => (-tot, c, r) }
    assert(got.toSeq == expected,
      s"got ${got.toSeq}\nexpected $expected")
  }

  // ── q240 token-balanced shards ──────────────────────────────────────

  test("q240: shards partition the corpus and balance token mass to within one document") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val nShards = 8
    val rep = CorpusIndex.tokenBalancedShards(t, nShards = nShards).collect()
    val docStats = t.documents
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("tok"))
      .agg(count(lit(1)), sum("tok"), max("tok")).head()
    val (nDocs, totalTok, maxTok) =
      (docStats.getLong(0), docStats.getLong(1), docStats.getLong(2))
    assert(rep.map(_.getLong(1)).sum == nDocs, "shards must partition all docs")
    assert(rep.map(_.getLong(2)).sum == totalTok, "shards must partition all tokens")
    assert(rep.length == nShards, "every shard must be non-empty on this fixture")
    // contiguous token-quantile cut: each shard's mass is within one
    // document of the ideal total/nShards
    val ideal = totalTok.toDouble / nShards
    rep.foreach { r =>
      assert(math.abs(r.getLong(2) - ideal) <= maxTok,
        s"shard ${r.getInt(0)} mass ${r.getLong(2)} deviates > maxDoc=$maxTok from $ideal")
    }
  }

  test("q240: two-phase prefix sum equals the naive global-window scan") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val nShards = 8
    val got = CorpusIndex.tokenBalancedShards(t, nShards = nShards)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // naive single-partition scan — correct but not 100 TB-safe; the
    // engine's bucketed two-phase form must reproduce it exactly
    val docs = t.documents.select(
      col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("tok"),
      Sampling.splitHash(col("doc_id")).as("h"))
    val total = docs.agg(sum("tok")).head().getLong(0)
    val naive = docs
      .withColumn("cum_before",
        coalesce(sum("tok").over(Window.orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard",
        least(expr(s"(cum_before * $nShards) DIV $total"), lit(nShards - 1L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .orderBy("shard")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2))).toSeq
    assert(got == naive)
  }

  // ── q241 bloom seen-shingles ────────────────────────────────────────

  test("q241: no false negatives, exact flag accounting, measurable FP band") {
    // sf0.01: the sizing note's fixture — stored ~6k shingles at 2^16
    // bits is ~24% load, so false positives actually occur and the
    // accounting columns are all exercised
    val t = Tables(spark, "/root/testdata/sf0.01")
    val r = CorpusIndex.bloomSeenShingles(t).head()
    val (nStored, bitsSet, load) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val (nIncoming, nMember, nFlagged) = (r.getLong(3), r.getLong(4), r.getLong(5))
    val (truePos, falsePos, missed, fpRate) =
      (r.getLong(6), r.getLong(7), r.getLong(8), r.getDouble(9))
    assert(missed == 0L, "a Bloom filter must never miss a member")
    assert(truePos == nMember, "every member must be flagged")
    assert(nFlagged == truePos + falsePos)
    assert(nStored > 0 && nIncoming > nMember)
    assert(bitsSet > 0 && load > 0.0 && load < 1.0)
    assert(falsePos > 0, "sizing must leave a measurable FP band — an " +
      "oversized filter reports 0.0 and tests nothing")
    assert(fpRate > 0.0 && fpRate < 0.1)
    assert(math.abs(fpRate - falsePos.toDouble / (nIncoming - nMember)) == 0.0)
  }

  test("q241: flag decisions match a single-node Bloom replica") {
    val docs = Seq(
      (0L, "a b c d e f g h i j", "src0"),
      (1L, "c d e f g h k l m n", "src0"),
      (2L, "a b c d e zz yy xx", "src7"),   // shares shingles with stored
      (3L, "p q r s t u v w", "src8"))      // shares nothing
    val t = writeDocs(docs)
    val mBits = 64 // tiny filter: forces collisions through the replica too
    val k = 3
    val r = CorpusIndex.bloomSeenShingles(t, nStoredSources = 5, mBits = mBits, k = k).head()

    def shingles(tx: String): Set[String] = {
      val tk = tx.trim.split("\\s+")
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val M = graft.functions.KmvSketch.M
    def splitHash(x: Long): Long = {
      val h = ((x % M) * 2654435761L) % M
      (((h * h) % M) * 2246822519L + 1L) % M
    }
    def positions(s: String): Set[Long] = (0 until k)
      .map(i => splitHash(graft.functions.PortableHash.hash62(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) + i) % mBits)
      .toSet
    val stored = docs.filter(_._3.matches("src[0-4]")).flatMap(d => shingles(d._2)).toSet
    val incoming = docs.filterNot(_._3.matches("src[0-4]")).flatMap(d => shingles(d._2)).toSet
    val bits = stored.flatMap(positions)
    val flagged = incoming.count(s => positions(s).subsetOf(bits))
    val member = incoming.count(stored.contains)
    assert(r.getLong(0) == stored.size)
    assert(r.getLong(1) == bits.size)
    assert(r.getLong(3) == incoming.size)
    assert(r.getLong(4) == member)
    assert(r.getLong(5) == flagged)
  }

  // ── q244 served next-token index ────────────────────────────────────

  test("q244: served index path equals the direct q239 computation, shuffle-free") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val direct = CorpusIndex.nextTokenTable(t).collect().toSeq
    val served = CorpusIndex.nextTokenServedDemo(t)
    assert(served.collect().toSeq == direct,
      "serve path must be bit-identical to the direct computation")
    // the serve contract: the rank window rides the bucketed scan's
    // distribution — no hash exchange anywhere in the lookup plan
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"serve path must not hash-shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), "lookup must read the bucketed index")
  }

  // ── q243 memorization risk ──────────────────────────────────────────

  test("q243: per-source at-risk shares match a brute-force window recount") {
    val rep = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12 r13 r14 r15" // one 15-window
    val docs = Seq(
      (0L, s"$rep a1 a2 a3", "srcA"),   // rep window + 3 unique windows
      (1L, s"$rep b1 b2", "srcA"),      // rep + 2 unique
      (2L, s"$rep c1", "srcB"),         // rep + 1 unique
      (3L, s"$rep $rep", "srcB"),       // rep at 16 offsets (self-overlap)
      (4L, "short doc", "srcC"))        // < 15 tokens: excluded entirely
    val t = writeDocs(docs)
    val got = Dedup.memorizationRisk(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq

    // brute force over the same windows
    val windows = docs.flatMap { case (_, tx, src) =>
      val tk = tx.trim.toLowerCase.split("\\s+")
      if (tk.length < 15) Seq.empty
      else tk.sliding(15).map(w => (src, w.mkString(" "))).toSeq
    }
    val globalN = windows.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val expected = windows.groupBy(_._1).toSeq.map { case (src, ws) =>
      val ns = ws.map(w => globalN(w._2))
      (src, ns.size.toLong, ns.count(_ >= 2).toLong, ns.count(_ >= 4).toLong,
        ns.count(_ >= 8).toLong)
    }.sortBy(_._1)
    assert(got == expected, s"got $got\nexpected $expected")
    assert(expected.exists(_._4 > 0), "fixture must exercise the >=4 band")
  }

  // ── q242 dup-signal agreement ───────────────────────────────────────

  test("q242: cross-tab identities and side totals match the pair generators") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val r = Dedup.dupSignalAgreement(t).head()
    val (nLex, nSem, nBoth, nLexOnly, nSemOnly, pj) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
    assert(nLex == nBoth + nLexOnly)
    assert(nSem == nBoth + nSemOnly)
    val lexCount = Dedup.minhashDupPairs(t, minJaccard = 0.2).count()
    val semCount = Dedup.embeddingNearDups(t).count()
    assert(nLex == lexCount)
    assert(nSem == semCount)
    val denom = nLex + nSemOnly
    if (denom == 0) assert(pj == 0.0)
    else assert(pj == nBoth.toDouble / denom)
  }

  // ── q246 Stupid Backoff held-out scoring ────────────────────────────

  /** Scala mirror of [[Sampling.splitHash]] for picking fixture ids on the
    * wanted side of the train/held split. */
  private def splitHash31(id: Long): Long = {
    val m = 2147483647L
    val h = ((id % m) * 2654435761L) % m
    ((h * h % m) * 2246822519L + 1) % m
  }

  test("q246: backoff orders and scores match a brute-force Stupid Backoff") {
    val trainTexts = Seq(
      "the cat sat on the mat",
      "the cat ate the fish",
      "a dog sat on a log")
    // held docs exercising every order: h1 all-ord3; h2 mixes ord 2/1/0;
    // h3 has < 3 tokens and must be excluded entirely
    val heldTexts = Seq(
      "the cat sat on",
      "fish sat on qq dog zz",
      "xx")
    val ids = 0L until 1000L
    val trainIds = ids.filter(splitHash31(_) % 100 < 80).take(trainTexts.size)
    val heldIds = ids.filter(splitHash31(_) % 100 >= 80).take(heldTexts.size)
    val t = writeDocs(
      trainIds.zip(trainTexts).map { case (i, tx) => (i, tx, "tr") } ++
        heldIds.zip(heldTexts).map { case (i, tx) => (i, tx, "ho") })
    val got = CorpusIndex.backoffLmScore(t).collect()
    assert(got.length == 1 && got.head.getString(0) == "ho",
      s"only held-out sources may appear, got ${got.toSeq}")

    // brute force with the same arithmetic
    val alpha = 0.4
    val trTk = trainTexts.map(_.trim.split("\\s+").toSeq)
    def counts(k: Int) = trTk
      .flatMap(tk => if (tk.length >= k) tk.sliding(k).map(_.mkString(" ")) else Nil)
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val (c3, c2, c1) = (counts(3), counts(2), counts(1))
    val n = c1.values.sum
    def score(w1: String, w2: String, w3: String): (Int, Double) =
      if (c3.contains(s"$w1 $w2 $w3"))
        (3, c3(s"$w1 $w2 $w3").toDouble / c2(s"$w1 $w2").toDouble)
      else if (c2.contains(s"$w2 $w3"))
        (2, alpha * (c2(s"$w2 $w3").toDouble / c1(w2).toDouble))
      else if (c1.contains(w3))
        (1, alpha * alpha * (c1(w3).toDouble / n.toDouble))
      else (0, alpha * alpha / n.toDouble)
    val perDoc = heldTexts.map(_.trim.split("\\s+").toSeq)
      .filter(_.length >= 3)
      .map { tk =>
        val ss = tk.sliding(3).map(w => score(w(0), w(1), w(2))).toSeq
        // the engine scores in the log domain (mean log10 S per token —
        // the KenLM convention, r8 ADVICE fix) before the dsum micro-unit
        // quantization
        (ss.size.toLong, ss.count(_._1 == 3).toLong, ss.count(_._1 == 2).toLong,
          ss.count(_._1 == 1).toLong, ss.count(_._1 == 0).toLong,
          ss.map(s => math.round(math.log10(s._2) * 1e6)).sum / 1e6 / ss.size)
      }
    val r = got.head
    assert(r.getLong(1) == perDoc.size, "n_docs")
    assert(r.getLong(2) == perDoc.map(_._1).sum, "n_occ")
    assert(r.getLong(3) == perDoc.map(_._2).sum, "n_trigram")
    assert(r.getLong(4) == perDoc.map(_._3).sum, "n_bigram")
    assert(r.getLong(5) == perDoc.map(_._4).sum, "n_unigram")
    assert(r.getLong(6) == perDoc.map(_._5).sum, "n_oov")
    // the fixture must actually exercise every order
    assert(perDoc.map(_._2).sum > 0 && perDoc.map(_._3).sum > 0 &&
      perDoc.map(_._4).sum > 0 && perDoc.map(_._5).sum > 0,
      s"fixture must hit all four orders: $perDoc")
    // the engine's avg is deliberately UNROUNDED (q176 doctrine — a final
    // round(x, 6) on a micro-quantized average lands exactly on .5
    // boundaries whenever sum_micro ≢ 0 mod 2·n_docs, where Spark's
    // shortest-decimal HALF_UP and DuckDB's double-domain round diverge;
    // q248's sf0.01 src3 hit it)
    val expAvg = perDoc.map(d => math.round(d._6 * 1e6)).sum / 1e6 / perDoc.size
    assert(r.getDouble(7) == expAvg,
      s"avg_doc_log10 ${r.getDouble(7)} vs brute $expAvg")
    // every score is a probability in (0, 1] → its log10 is ≤ 0
    assert(r.getDouble(7) <= 0.0)
  }

  test("q246: empty train split fails loudly (guard is un-prunable)") {
    // every doc lands on the held side of the 80/20 split → no train
    // evidence; the raise_error folded into n_train must fire at execution
    // (the r8 ADVICE finding: the previous assert_true side-column was
    // removed by column pruning and the guard never evaluated)
    val heldIds = (0L until 1000L).filter(splitHash31(_) % 100 >= 80).take(3)
    val t = writeDocs(heldIds.map(i => (i, "aa bb cc dd ee", "ho")))
    val ex = intercept[Throwable] {
      CorpusIndex.backoffLmScore(t).collect()
    }
    def messages(e: Throwable): Seq[String] =
      if (e == null) Nil
      else Option(e.getMessage).toSeq ++ messages(e.getCause)
    assert(messages(ex).exists(_.contains("train split is empty")),
      s"expected the empty-train raise_error, got: ${messages(ex)}")
  }

  // ── q248 interpolated Kneser–Ney held-out scoring ────────────────────

  test("q248: KN orders and scores match a brute-force replay") {
    val trainTexts = Seq("the cat sat", "a dog sat")
    // held doc exercising every branch: seen bigram (full KN), seen
    // context + unseen next, unseen context + known continuation, OOV
    val heldText = "the cat qq sat dog pp zz"
    val ids = 0L until 1000L
    val trainIds = ids.filter(splitHash31(_) % 100 < 80).take(trainTexts.size)
    val heldId = ids.filter(splitHash31(_) % 100 >= 80).head
    val t = writeDocs(
      trainIds.zip(trainTexts).map { case (i, tx) => (i, tx, "tr") } :+
        ((heldId, heldText, "ho")))
    val got = CorpusIndex.knHeldOutScore(t).collect()
    assert(got.length == 1 && got.head.getString(0) == "ho")
    val r = got.head

    // brute force with the same exact-rational arithmetic
    val c2 = trainTexts.flatMap(_.split(" ").sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val left = c2.groupBy(_._1.split(" ")(0))
      .map { case (v, m) => v -> (m.values.sum, m.size.toLong) } // (c_left, n1f)
    val n1p = c2.keys.groupBy(_.split(" ")(1)).map { case (w, g) => w -> g.size.toLong }
    val uTypes = trainTexts.flatMap(_.split(" ")).distinct.size.toLong
    val bigT = c2.size.toLong + uTypes + 1L
    def score(v: String, w: String): (Int, Double) = left.get(v) match {
      case Some((cl, n1f)) =>
        val c = c2.getOrElse(s"$v $w", 0L)
        val num = math.max(4 * c - 3, 0L) * bigT + 3L * n1f * (n1p.getOrElse(w, 0L) + 1L)
        (2, math.log10(num.toDouble / (4L * cl * bigT).toDouble))
      case None =>
        val np = n1p.getOrElse(w, 0L)
        (if (np > 0) 1 else 0, math.log10((np + 1L).toDouble / bigT.toDouble))
    }
    val ss = heldText.split(" ").sliding(2).map(a => score(a(0), a(1))).toSeq
    assert(ss.map(_._1).count(_ == 2) > 0 && ss.map(_._1).count(_ == 1) > 0 &&
      ss.map(_._1).count(_ == 0) > 0, s"fixture must hit all orders: $ss")
    assert(r.getLong(1) == 1L, "n_docs")
    assert(r.getLong(2) == ss.size.toLong, "n_trans")
    assert(r.getLong(3) == ss.count(_._1 == 2).toLong, "n_kn")
    assert(r.getLong(4) == ss.count(_._1 == 1).toLong, "n_cont")
    assert(r.getLong(5) == ss.count(_._1 == 0).toLong, "n_oov")
    val docAvg = ss.map(s => math.round(s._2 * 1e6)).sum / 1e6 / ss.size
    // davg over the 1-doc source, UNROUNDED (q176 doctrine — see q246 test)
    val expAvg = math.round(docAvg * 1e6) / 1e6 / 1
    assert(r.getDouble(6) == expAvg,
      s"avg_doc_log10 ${r.getDouble(6)} vs brute $expAvg")
    assert(r.getDouble(6) <= 0.0, "KN probabilities are ≤ 1 → log ≤ 0")
  }

  // ── q251 trigram modified Kneser–Ney held-out scoring ────────────────

  test("q251: MKN orders and scores match a brute-force replay") {
    // train engineered so count-of-count classes 1..3 are populated at
    // BOTH orders (estimated discounts, not the degenerate-profile 0.75
    // fallback): trigram counts 3/2/1 via sentence repeats, continuation
    // classes via "cat sat" (3 predecessors) and "dog ran" (2)
    val trainTexts = Seq(
      "red cat sat down now", "red cat sat down now", "red cat sat down now",
      "blue cat sat up here", "gray cat sat up here",
      "one two three four", "five six seven eight",
      "pink dog ran far away", "teal dog ran off soon")
    // held doc hitting every branch: seen trigram (ord 3 with c>0), seen
    // context + unseen next (ord 3, (c−D)⁺ = 0), unseen context + known
    // continuation context (ord 2), known continuation word only (ord 1),
    // full OOV (ord 0)
    val heldText = "red cat sat qq cat sat qq zz sat qq zz yy"
    val ids = 0L until 2000L
    val trainIds = ids.filter(splitHash31(_) % 100 < 80).take(trainTexts.size)
    val heldId = ids.filter(splitHash31(_) % 100 >= 80).head
    val t = writeDocs(
      trainIds.zip(trainTexts).map { case (i, tx) => (i, tx, "tr") } :+
        ((heldId, heldText, "ho")))
    val got = CorpusIndex.mknHeldOutScore(t).collect()
    assert(got.length == 1 && got.head.getString(0) == "ho")
    val r = got.head

    // brute force with the same fixed double chain
    def tris(s: String): Seq[(String, String, String)] =
      s.split(" ").toSeq.sliding(3).map(a => (a(0), a(1), a(2))).toSeq
    val c3 = trainTexts.flatMap(tris).groupBy(identity)
      .map { case (k, o) => k -> o.size.toLong }
    val ctx3 = c3.toSeq.groupBy { case ((u, v, _), _) => (u, v) }
      .map { case (k, m) =>
        val cs = m.map(_._2)
        k -> (cs.sum, cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
          cs.count(_ >= 3L).toLong)
      }
    val cc2 = c3.keys.toSeq.map { case (u, v, w) => ((v, w), u) }.distinct
      .groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val ctx2 = cc2.toSeq.groupBy(_._1._1).map { case (v, m) =>
      val cs = m.map(_._2)
      v -> (cs.sum, cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
        cs.count(_ >= 3L).toLong)
    }
    val cu = cc2.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    def cofc(cs: Iterable[Long]): (Long, Long, Long, Long) =
      (cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
        cs.count(_ == 3L).toLong, cs.count(_ == 4L).toLong)
    val (t1, t2, t3, t4) = cofc(c3.values)
    val (b1, b2, b3, b4) = cofc(cc2.values)
    assert(t1 > 0 && t2 > 0 && t3 > 0 && b1 > 0 && b2 > 0 && b3 > 0,
      s"fixture must estimate, not fall back: $t1/$t2/$t3 $b1/$b2/$b3")
    def disc(n1: Long, n2: Long, n3: Long, n4: Long): (Double, Double, Double) = {
      val y = n1.toDouble / (n1.toDouble + 2.0 * n2.toDouble)
      (1.0 - 2.0 * y * n2.toDouble / n1.toDouble,
        math.max(2.0 - 3.0 * y * n3.toDouble / n2.toDouble, 0.1),
        math.max(3.0 - 4.0 * y * n4.toDouble / n3.toDouble, 0.1))
    }
    val (d13, d23, d33) = disc(t1, t2, t3, t4)
    val (d12, d22, d32) = disc(b1, b2, b3, b4)
    val uTypes = trainTexts.flatMap(_.split(" ")).distinct.size.toLong
    val bigT = cc2.size.toLong + uTypes + 1L
    def score(u: String, v: String, w: String): (Int, Double) = {
      val p1 = (cu.getOrElse(w, 0L) + 1L).toDouble / bigT.toDouble
      val p2 = ctx2.get(v) match {
        case Some((cctot, h1, h2, h3p)) =>
          val cc = cc2.getOrElse((v, w), 0L)
          val dc = if (cc == 0L) 0.0 else if (cc == 1L) d12
            else if (cc == 2L) d22 else d32
          math.max(cc.toDouble - dc, 0.0) / cctot.toDouble +
            ((d12 * h1.toDouble + d22 * h2.toDouble + d32 * h3p.toDouble) /
              cctot.toDouble) * p1
        case None => p1
      }
      ctx3.get((u, v)) match {
        case Some((ctot, f1, f2, f3p)) =>
          val c = c3.getOrElse((u, v, w), 0L)
          val dc = if (c == 0L) 0.0 else if (c == 1L) d13
            else if (c == 2L) d23 else d33
          (3, math.log10(math.max(c.toDouble - dc, 0.0) / ctot.toDouble +
            ((d13 * f1.toDouble + d23 * f2.toDouble + d33 * f3p.toDouble) /
              ctot.toDouble) * p2))
        case None =>
          val ord = if (ctx2.contains(v)) 2 else if (cu.contains(w)) 1 else 0
          (ord, math.log10(p2))
      }
    }
    val ss = tris(heldText).map { case (u, v, w) => score(u, v, w) }
    assert(ss.map(_._1).count(_ == 3) == 3 && ss.map(_._1).count(_ == 2) == 2 &&
      ss.map(_._1).count(_ == 1) == 1 && ss.map(_._1).count(_ == 0) == 4,
      s"fixture must hit all orders as designed: $ss")
    assert(r.getLong(1) == 1L, "n_docs")
    assert(r.getLong(2) == ss.size.toLong, "n_trans")
    assert(r.getLong(3) == 3L, "n_mkn")
    assert(r.getLong(4) == 2L, "n_big")
    assert(r.getLong(5) == 1L, "n_cont")
    assert(r.getLong(6) == 4L, "n_oov")
    val docAvg = ss.map(s => math.round(s._2 * 1e6)).sum / 1e6 / ss.size
    val expAvg = math.round(docAvg * 1e6) / 1e6 / 1
    assert(r.getDouble(7) == expAvg,
      s"avg_doc_log10 ${r.getDouble(7)} vs brute $expAvg")
    assert(r.getDouble(7) < 0.0, "MKN probabilities are < 1 → log < 0")
  }

  test("q251: degenerate count-of-count profile falls back per order") {
    // two short train docs: every trigram count 1, every continuation
    // count 1 — classes 2/3 empty at both orders → both orders must use
    // the fixed 0.75 fallback instead of dividing by zero
    val trainTexts = Seq("aa bb cc dd", "ee ff gg hh")
    val heldText = "aa bb cc qq"
    val ids = 0L until 2000L
    val trainIds = ids.filter(splitHash31(_) % 100 < 80).take(trainTexts.size)
    val heldId = ids.filter(splitHash31(_) % 100 >= 80).head
    val t = writeDocs(
      trainIds.zip(trainTexts).map { case (i, tx) => (i, tx, "tr") } :+
        ((heldId, heldText, "ho")))
    val m = CorpusIndex.mknModel(t)
    assert(m.d13 == 0.75 && m.d23 == 0.75 && m.d33 == 0.75 &&
      m.d12 == 0.75 && m.d22 == 0.75 && m.d32 == 0.75)
    val r = CorpusIndex.mknHeldOutScore(t).collect()
    assert(r.length == 1 && r.head.getLong(2) == 2L) // 2 transitions scored
    assert(r.head.getDouble(7) < 0.0)
  }

  // ── q253 perplexity-calibrated quality buckets ────────────────────────

  test("q253: buckets match a brute-force percentile partition") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val got = CorpusIndex.perplexityBuckets(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        bits(r.getDouble(3)))).toSeq
    // brute force: engine scorer output, boundaries re-derived by hand
    val m = CorpusIndex.knModel(t)
    val passing = t.documents
      .select(col("doc_id"), col("source"), col("text"))
      .where(TextAnalysis.qualityPass(col("text")))
    val perDoc = CorpusIndex.knDocScores(passing, m)
      .select("doc_id", "source", "doc_log10").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(perDoc.size >= 30, "fixture must pass enough docs to bucket")
    val vals = perDoc.map(_._3).sorted
    // percentile_disc = smallest value with cume_dist >= q → the
    // ceil(q·n)-th order statistic (1-based)
    def pdisc(q: Double): Double =
      vals(math.ceil(q * vals.size).toInt - 1)
    val lo = pdisc(0.3333333333333333)
    val hi = pdisc(0.6666666666666666)
    val exp = perDoc
      .map { case (_, src, s) =>
        val b = if (s >= hi) "head" else if (s >= lo) "middle" else "tail"
        (b, src, s)
      }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((b, src), g) =>
        // Spark round() is HALF_UP (away from zero) — math.round is
        // floor(x+0.5), which differs on negative .5 micro-boundaries
        def micro(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
        val avg = g.map(r => micro(r._3)).sum / 1e6 / g.size
        (b, src, g.size.toLong, bits(avg))
      }
      .sortBy(r => (r._1, r._2))
    assert(got == exp, s"got=${got.take(6)}…\nexp=${exp.take(6)}…")
    val byBucket = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"),
      s"all three buckets must be populated: $byBucket")
    // tercile balance: each bucket within one doc of n/3 is not guaranteed
    // (ties share a boundary value), but no bucket may be empty or hold
    // more than half the corpus on this fixture
    byBucket.values.foreach(n => assert(n > 0 && n <= perDoc.size / 2 + 1))
  }

  // ── q255 scorer-agreement cube ────────────────────────────────────────

  test("q255: agreement cube matches a brute-force tercile cross-tab") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val got = CorpusIndex.scorerAgreement(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // brute force: the engine's own per-doc scorers, joined and
    // tercile-cut by hand with the percentile_disc order statistic
    val held = t.documents
      .select(col("doc_id"), col("source"), col("text"))
      .where(graft.ext.Sampling.hashBucket(col("doc_id")) >= 80)
    def perDoc(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.select("doc_id", "doc_log10").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bo = perDoc(CorpusIndex.backoffPerDoc(t))
    val kn = perDoc(CorpusIndex.knDocScores(held, CorpusIndex.knModel(t)))
    val mk = perDoc(CorpusIndex.mknDocScores(held, CorpusIndex.mknModel(t)))
    val ids = bo.keySet & kn.keySet & mk.keySet
    assert(ids.size >= 30, s"joined doc set too small: ${ids.size}")
    def cuts(m: Map[Long, Double]): (Double, Double) = {
      val v = ids.toSeq.map(m).sorted
      def pd(q: Double) = v(math.ceil(q * v.size).toInt - 1)
      (pd(0.3333333333333333), pd(0.6666666666666666))
    }
    val (bl, bh) = cuts(bo); val (kl, kh) = cuts(kn); val (ml, mh) = cuts(mk)
    def b(s: Double, lo: Double, hi: Double) =
      if (s >= hi) "head" else if (s >= lo) "middle" else "tail"
    val exp = ids.toSeq
      .map(id => (b(bo(id), bl, bh), b(kn(id), kl, kh), b(mk(id), ml, mh)))
      .groupBy(identity).toSeq
      .map { case ((x, y, z), g) => (x, y, z, g.size.toLong) }
      .sortBy(r => (r._1, r._2, r._3))
    assert(got == exp, s"got=$got\nexp=$exp")
    assert(got.map(_._4).sum == ids.size.toLong, "cube must partition docs")
    // the scorers genuinely differ on this fixture — some off-diagonal
    // mass must exist, else the cube audits nothing
    assert(got.exists { case (x, y, z, _) => x != y || y != z },
      "fixture must show scorer disagreement")
  }

  // ── q257 quality × novelty triage grid ────────────────────────────────

  test("q257: grid matches a brute-force 2-D tercile cross-tab + triage") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val got = CorpusIndex.qualityNoveltyGrid(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), bits(r.getDouble(4)), bits(r.getDouble(5)))).toSeq
    // brute force: the engine's own per-doc scorers, joined and cut by
    // hand with the percentile_disc order statistic
    val passing = t.documents
      .select(col("doc_id"), col("source"), col("text"))
      .where(TextAnalysis.qualityPass(col("text")))
    val kn = CorpusIndex.knDocScores(passing, CorpusIndex.knModel(t))
      .select("doc_id", "doc_log10").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sp = CorpusIndex.surprisalDocScores(passing, CorpusIndex.surprisalModel(t))
      .select("doc_id", "doc_surprisal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ids = (kn.keySet & sp.keySet).toSeq
    assert(ids.size >= 30, s"joined doc set too small: ${ids.size}")
    def cuts(m: Map[Long, Double]): (Double, Double) = {
      val v = ids.map(m).sorted
      def pd(q: Double) = v(math.ceil(q * v.size).toInt - 1)
      (pd(0.3333333333333333), pd(0.6666666666666666))
    }
    val (ql, qh) = cuts(kn)
    val (sl, sh) = cuts(sp)
    def b(x: Double, lo: Double, hi: Double) =
      if (x >= hi) "head" else if (x >= lo) "middle" else "tail"
    def micro(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val exp = ids
      .map { id =>
        val qb = b(kn(id), ql, qh)
        val nb = b(sp(id), sl, sh)
        val triage = if (qb == "tail") "drop"
          else if (nb == "head") "reprocess" else "keep"
        (qb, nb, triage, kn(id), sp(id))
      }
      .groupBy(r => (r._1, r._2, r._3)).toSeq
      .map { case ((qb, nb, tr), g) =>
        (qb, nb, tr, g.size.toLong,
          bits(g.map(r => micro(r._4)).sum / 1e6 / g.size),
          bits(g.map(r => micro(r._5)).sum / 1e6 / g.size))
      }
      .sortBy(r => (r._1, r._2))
    assert(got == exp, s"got=${got.mkString("\n")}\nexp=${exp.mkString("\n")}")
    assert(got.map(_._4).sum == ids.size.toLong, "grid must partition docs")
    // every triage verdict must appear (else the policy audits nothing):
    // quality tail exists (drop), and some non-tail doc in the novelty
    // head (reprocess)
    assert(got.map(_._3).distinct.sorted == Seq("drop", "keep", "reprocess"),
      s"fixture must populate all three triage classes: ${got.map(_._3)}")
  }

  // ── q258 4-gram modified Kneser–Ney held-out scoring ──────────────────

  test("q258: 4-gram MKN orders and scores match a brute-force replay") {
    // train engineered so count-of-count classes 1..3 are populated at
    // ALL THREE estimated orders (no degenerate fallback): 4-gram counts
    // 3/2/1 via sentence repeats; continuation-trigram classes via
    // "cat sat down" (3 distinct predecessors) and "dog ran far" (2);
    // continuation-bigram classes via "ss tt" (3 distinct tg prefixes)
    // and "qq rr" (2)
    val trainTexts = Seq(
      "red cat sat down now", "red cat sat down now", "red cat sat down now",
      "blue dog ran far off", "blue dog ran far off",
      "b1 cat sat down", "b2 cat sat down",
      "c1 dog ran far",
      "x1 p1 qq rr", "x1 p2 qq rr",
      "y1 m1 ss tt", "y1 m2 ss tt", "y1 m3 ss tt")
    // five 4-token held docs, one per resolution branch
    val heldTexts = Seq(
      "red cat sat down", // ord 4: context "red cat sat" seen
      "qq cat sat down",  // ord 3: ctx4 unseen, ctx3 "cat sat" seen
      "qq zz sat down",   // ord 2: ctx3 unseen, v "sat" a seen cont. ctx
      "qq zz yy down",    // ord 1: v unseen, w "down" a known continuation
      "qq zz yy vv")      // ord 0: full OOV
    val ids = 0L until 4000L
    val trainIds = ids.filter(splitHash31(_) % 100 < 80).take(trainTexts.size)
    val heldIds = ids.filter(splitHash31(_) % 100 >= 80).take(heldTexts.size)
    val t = writeDocs(
      trainIds.zip(trainTexts).map { case (i, tx) => (i, tx, "tr") } ++
        heldIds.zip(heldTexts).map { case (i, tx) => (i, tx, "ho") })
    val got = CorpusIndex.mkn4HeldOutScore(t).collect()
    assert(got.length == 1 && got.head.getString(0) == "ho")
    val r = got.head

    // brute force with the same fixed double chain, one order up from
    // the q251 replay
    def quads(s: String): Seq[(String, String, String, String)] =
      s.split(" ").toSeq.sliding(4).filter(_.size == 4)
        .map(a => (a(0), a(1), a(2), a(3))).toSeq
    val c4 = trainTexts.flatMap(quads).groupBy(identity)
      .map { case (k, o) => k -> o.size.toLong }
    val ctx4 = c4.toSeq.groupBy { case ((u, v, w, _), _) => (u, v, w) }
      .map { case (k, m) =>
        val cs = m.map(_._2)
        k -> (cs.sum, cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
          cs.count(_ >= 3L).toLong)
      }
    val cc3 = c4.keys.toSeq.map { case (u, v, w, x) => ((v, w, x), u) }
      .distinct.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val ctx3c = cc3.toSeq.groupBy { case ((v, w, _), _) => (v, w) }
      .map { case (k, m) =>
        val cs = m.map(_._2)
        k -> (cs.sum, cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
          cs.count(_ >= 3L).toLong)
      }
    val cc2 = cc3.keys.toSeq.map { case (v, w, x) => ((w, x), v) }
      .distinct.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    val ctx2c = cc2.toSeq.groupBy(_._1._1).map { case (v, m) =>
      val cs = m.map(_._2)
      v -> (cs.sum, cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
        cs.count(_ >= 3L).toLong)
    }
    val cu = cc2.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    def cofc(cs: Iterable[Long]): (Long, Long, Long, Long) =
      (cs.count(_ == 1L).toLong, cs.count(_ == 2L).toLong,
        cs.count(_ == 3L).toLong, cs.count(_ == 4L).toLong)
    val (q1, q2, q3, q4) = cofc(c4.values)
    val (t1, t2, t3, t4) = cofc(cc3.values)
    val (b1, b2, b3, b4) = cofc(cc2.values)
    assert(q1 > 0 && q2 > 0 && q3 > 0 && t1 > 0 && t2 > 0 && t3 > 0 &&
      b1 > 0 && b2 > 0 && b3 > 0,
      s"fixture must estimate at all orders: $q1/$q2/$q3 $t1/$t2/$t3 $b1/$b2/$b3")
    def disc(n1: Long, n2: Long, n3: Long, n4: Long): (Double, Double, Double) = {
      val y = n1.toDouble / (n1.toDouble + 2.0 * n2.toDouble)
      (1.0 - 2.0 * y * n2.toDouble / n1.toDouble,
        math.max(2.0 - 3.0 * y * n3.toDouble / n2.toDouble, 0.1),
        math.max(3.0 - 4.0 * y * n4.toDouble / n3.toDouble, 0.1))
    }
    val (d14, d24, d34) = disc(q1, q2, q3, q4)
    val (d13, d23, d33) = disc(t1, t2, t3, t4)
    val (d12, d22, d32) = disc(b1, b2, b3, b4)
    val uTypes = trainTexts.flatMap(_.split(" ")).distinct.size.toLong
    val bigT = cc2.size.toLong + uTypes + 1L
    def score(u: String, v: String, w: String, x: String): (Int, Double) = {
      val p1 = (cu.getOrElse(x, 0L) + 1L).toDouble / bigT.toDouble
      val p2 = ctx2c.get(w) match {
        case Some((cctot, h1, h2, h3p)) =>
          val cc = cc2.getOrElse((w, x), 0L)
          val dc = if (cc == 0L) 0.0 else if (cc == 1L) d12
            else if (cc == 2L) d22 else d32
          math.max(cc.toDouble - dc, 0.0) / cctot.toDouble +
            ((d12 * h1.toDouble + d22 * h2.toDouble + d32 * h3p.toDouble) /
              cctot.toDouble) * p1
        case None => p1
      }
      val p3 = ctx3c.get((v, w)) match {
        case Some((ctot, f1, f2, f3p)) =>
          val c = cc3.getOrElse((v, w, x), 0L)
          val dc = if (c == 0L) 0.0 else if (c == 1L) d13
            else if (c == 2L) d23 else d33
          math.max(c.toDouble - dc, 0.0) / ctot.toDouble +
            ((d13 * f1.toDouble + d23 * f2.toDouble + d33 * f3p.toDouble) /
              ctot.toDouble) * p2
        case None => p2
      }
      ctx4.get((u, v, w)) match {
        case Some((ctot, g1, g2, g3p)) =>
          val c = c4.getOrElse((u, v, w, x), 0L)
          val dc = if (c == 0L) 0.0 else if (c == 1L) d14
            else if (c == 2L) d24 else d34
          (4, math.log10(math.max(c.toDouble - dc, 0.0) / ctot.toDouble +
            ((d14 * g1.toDouble + d24 * g2.toDouble + d34 * g3p.toDouble) /
              ctot.toDouble) * p3))
        case None =>
          val ord = if (ctx3c.contains((v, w))) 3
            else if (ctx2c.contains(w)) 2
            else if (cu.contains(x)) 1 else 0
          (ord, math.log10(p3))
      }
    }
    val ss = heldTexts.flatMap(tx => quads(tx))
      .map { case (u, v, w, x) => score(u, v, w, x) }
    assert((0 to 4).forall(k => ss.map(_._1).count(_ == k) == 1),
      s"each resolution branch exactly once: ${ss.map(_._1)}")
    assert(r.getLong(1) == 5L && r.getLong(2) == 5L)      // n_docs, n_trans
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L &&     // n_mkn4, n_tri
      r.getLong(5) == 1L && r.getLong(6) == 1L &&          // n_big, n_cont
      r.getLong(7) == 1L)                                  // n_oov
    // each held doc has ONE transition → doc_log10 = its quantized score;
    // avg over docs then re-quantizes (the ExactAgg davg contract)
    def micro(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val docAvgs = ss.map(s => micro(s._2) / 1e6 / 1)
    val expAvg = docAvgs.map(micro).sum / 1e6 / docAvgs.size
    assert(r.getDouble(8) == expAvg,
      s"avg_doc_log10 ${r.getDouble(8)} vs brute $expAvg")
    assert(r.getDouble(8) < 0.0, "MKN probabilities are < 1 → log < 0")
  }

  test("q248: empty train split fails loudly at model build") {
    val heldIds = (0L until 1000L).filter(splitHash31(_) % 100 >= 80).take(2)
    val t = writeDocs(heldIds.map(i => (i, "aa bb cc", "ho")))
    val e = intercept[IllegalArgumentException](CorpusIndex.knModel(t))
    assert(e.getMessage.contains("no bigram evidence"))
  }

  test("q249: point lookup equals the direct computation's top context") {
    val docs = Seq(
      (0L, "a b c a b d a b c", "s"),
      (1L, "a b c x y z a b e", "s"),
      (2L, "x y z x y w", "s"))
    val t = writeDocs(docs)
    val direct = CorpusIndex.nextTokenTable(t, n = 3, topContexts = 1,
        topNext = 100).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSeq
    val served = CorpusIndex.nextTokenLookupDemo(t, n = 3, topK = 100).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSeq
    assert(served.sorted == direct.sorted, s"served=$served\ndirect=$direct")
    assert(served.nonEmpty)
  }

  test("q246: fixture invariants — order counts partition occurrences") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val rows = CorpusIndex.backoffLmScore(t).collect()
    assert(rows.nonEmpty, "held split must be non-empty at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(2) ==
        r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6),
        s"orders must partition n_occ for ${r.getString(0)}")
      assert(r.getDouble(7) <= 0.0,
        s"avg_doc_log10 must be ≤ 0 (log of a probability) for ${r.getString(0)}")
    }
  }
}

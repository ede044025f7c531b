package graft

import graft.ext.{Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Contracts for the q196-q198 wave: MMR re-ranking, Kneser-Ney smoothing,
  * and weighted sampling without replacement. Each operator is replayed by
  * an independent single-node implementation over the same fixture (the
  * winnowing/q181 full-parity discipline) plus its defining invariant. */
class RetrievalLmSpec extends SparkSpec {

  // ── q196 MMR ──────────────────────────────────────────────────────────

  test("q196: per-query shape — k distinct picks, ranks 1..k, from the pool") {
    val t = sf()
    val rows = Similarity.mmrRerank(t, nQueries = 4, cand = 12, k = 5).collect()
    val pool = Similarity.bruteForceTopK(t, nQueries = 4, k = 12)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    for ((qid, g) <- rows.groupBy(_.getAs[Long]("query_id"))) {
      assert(g.map(_.getAs[Int]("mmr_rank")).sorted.sameElements(1 to 5))
      val vecs = g.map(_.getAs[Long]("vec_id"))
      assert(vecs.distinct.length == vecs.length, s"query $qid repeated a pick")
      assert(vecs.forall(v => pool.contains((qid, v))),
        s"query $qid picked outside the candidate pool")
    }
  }

  test("q196: lambda=10 (pure relevance) reduces to the brute-force order") {
    val t = sf()
    val mmr = Similarity.mmrRerank(t, nQueries = 4, cand = 12, k = 5, lambdaTenths = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("mmr_rank"),
        r.getAs[Long]("vec_id"))).toSet
    val bf = Similarity.bruteForceTopK(t, nQueries = 4, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"))).toSet
    assert(mmr == bf)
  }

  /** Single-node greedy MMR over `bruteForceTopK`'s pools: the picks as
    * (query_id, mmr_rank, vec_id), and the number of picks whose top score
    * was shared by more than one candidate (decided by the vec_id
    * tie-break). */
  private def greedyReplica(t: graft.core.Tables, nQueries: Int, cand: Int, k: Int,
                            lam: Int): (Set[(Long, Int, Long)], Int) = {
    val cands = Similarity.bruteForceTopK(t, nQueries, cand).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        math.round(r.getAs[Double]("cosine") * 1e6)))
    val emb = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosQ(a: Array[Double], b: Array[Double]): Long = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round(BigDecimal(dp / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    var ties = 0
    val picks = cands.groupBy(_._1).flatMap { case (qid, g) =>
      var sel = Vector.empty[(Long, Int)] // (vec_id, rank)
      var remaining = g.toVector
      for (r <- 1 to math.min(k, g.length)) {
        val scored = remaining.map { case (_, v, rel) =>
          val maxSel = if (sel.isEmpty) 0L
            else sel.map(s => cosQ(emb(v), emb(s._1))).max
          (v, lam * rel - (10 - lam) * maxSel)
        }
        val top = scored.map(_._2).max
        if (scored.count(_._2 == top) > 1) ties += 1
        val pick = scored.minBy { case (v, s) => (-s, v) }._1
        sel :+= ((pick, r))
        remaining = remaining.filterNot(_._2 == pick)
      }
      sel.map { case (v, r) => (qid, r, v) }
    }.toSet
    (picks, ties)
  }

  private def mmrRows(t: graft.core.Tables, nQueries: Int, cand: Int, k: Int,
                      lam: Int): Set[(Long, Int, Long)] =
    Similarity.mmrRerank(t, nQueries, cand, k, lam)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("mmr_rank"),
        r.getAs[Long]("vec_id"))).toSet

  test("q196: full single-node greedy replica parity") {
    val t = sf()
    assert(mmrRows(t, 4, 12, 5, 7) == greedyReplica(t, 4, 12, 5, 7)._1)
  }

  test("q196: replica parity on tied scores and pools shorter than k") {
    // ten vectors with four identical pairs (0=1, 2=3, 4=5, 7=8), so
    // relevance and diversity scores tie and the vec_id tie-break picks
    val vecs = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 1f, 0f, 0f), Seq(1f, 1f, 0f, 0f), Seq(1f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(1f, 0f, 1f, 0f), Seq(1f, 0f, 1f, 0f),
      Seq(0.5f, 0.5f, 0.5f, 0.5f))
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mmr_ties").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val t = graft.core.Tables(spark, dir)
    // cand = 20 ≥ corpus: every pool holds the 9 other vectors, k = 12 > 9
    for (lam <- Seq(0, 3, 5, 7, 10)) {
      val (expected, ties) = greedyReplica(t, nQueries = 4, cand = 20, k = 12, lam)
      val actual = mmrRows(t, nQueries = 4, cand = 20, k = 12, lam)
      assert(actual == expected, s"lambda=$lam")
      assert(ties > 0, s"lambda=$lam: the fixture produced no tied pick")
      for ((qid, g) <- actual.groupBy(_._1))
        assert(g.map(_._2) == (1 to 9).toSet, s"query $qid ranks, lambda=$lam")
    }
  }

  test("q196: Spark job count does not grow with k") {
    val t = sf()
    val sc = spark.sparkContext
    /** Spark jobs started under job group `group`. The listener bus
      * delivers in order, so once the job of a later marker group has been
      * seen, every job of `group` has been counted. */
    def jobs(group: String)(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      @volatile var flushed = false
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some(`group`) => n.incrementAndGet()
            case Some(g) if g == s"$group:marker" => flushed = true
            case _ => ()
          }
      }
      sc.addSparkListener(l)
      try {
        sc.setJobGroup(group, null)
        body
        sc.setJobGroup(s"$group:marker", null)
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!flushed && System.nanoTime() < deadline) Thread.sleep(20)
        assert(flushed, "marker job not seen in 60 s")
        n.get
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(l)
      }
    }
    val k2 = jobs("mmr-k2")(Similarity.mmrRerank(t, k = 2).collect())
    val k8 = jobs("mmr-k8")(Similarity.mmrRerank(t, k = 8).collect())
    assert(k2 > 0)
    assert(k2 == k8, s"k=2 ran $k2 Spark jobs, k=8 ran $k8")
  }

  // ── q197 Kneser-Ney ───────────────────────────────────────────────────

  test("q197: exact-rational single-node replica parity on the top bigrams") {
    val t = sf()
    val docs = t.documents.select(col("text")).collect().map(_.getString(0))
    val bigrams = docs.flatMap { txt =>
      val tk = txt.trim.toLowerCase.split("\\s+")
      if (tk.length >= 2) tk.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
    }
    val c2 = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val c1 = c2.groupBy(_._1.split(" ").head)
      .map { case (w, m) => w -> (m.values.sum, m.size.toLong) }
    val n1w = c2.keys.groupBy(_.split(" ").last).map { case (w, ks) => w -> ks.size.toLong }
    val nTypes = c2.size.toLong
    val rows = TextAnalysis.kneserNey(t, topN = 50).collect()
    assert(rows.length == 50)
    for (r <- rows) {
      val b = r.getAs[String]("bigram")
      val (cl, n1f) = c1(b.split(" ").head)
      val n1p = n1w(b.split(" ").last)
      assert(r.getAs[Long]("c_bigram") == c2(b))
      assert(r.getAs[Long]("c_left") == cl)
      assert(r.getAs[Long]("n1_follow") == n1f)
      assert(r.getAs[Long]("n1_precede") == n1p)
      val num = math.max(4 * c2(b) - 3, 0L) * nTypes + 3L * n1f * n1p
      val den = 4L * cl * nTypes
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("kn_p")) ==
        java.lang.Double.doubleToLongBits(num.toDouble / den.toDouble),
        s"kn_p mismatch for '$b'")
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("mle_p")) ==
        java.lang.Double.doubleToLongBits(c2(b).toDouble / cl.toDouble))
    }
  }

  test("q197: smoothing strictly discounts observed mass and keeps probabilities in (0,1)") {
    val rows = TextAnalysis.kneserNey(sf(), topN = 50).collect()
    for (r <- rows) {
      val kn = r.getAs[Double]("kn_p"); val mle = r.getAs[Double]("mle_p")
      assert(kn > 0 && kn < 1, s"kn_p out of range: $kn")
      assert(mle > 0 && mle <= 1)
      // backoff mass is what interpolation redistributes: D*N1(v.)/c(v.)
      val bm = r.getAs[Double]("backoff_mass")
      assert(bm > 0 && bm < 1)
    }
  }

  // ── q198 weighted sample ──────────────────────────────────────────────

  private def splitHashLong(x: Long): Long = {
    val m = graft.functions.KmvSketch.M
    val h = Math.floorMod(Math.floorMod(x, m) * 2654435761L, m)
    Math.floorMod(Math.floorMod(h * h, m) * 2246822519L + 1L, m)
  }

  test("q198: full single-node replica parity (replica-max keys, top-k)") {
    val t = sf()
    val maxW = 128
    val perDoc = t.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        math.min(r.getString(1).trim.split("\\s+").length.toLong, maxW.toLong))
    val keys = perDoc.map { case (id, w) =>
      id -> (1L to w).map(j => splitHashLong(id * 131072L + j)).max
    }
    val expected = keys.sortBy { case (id, k) => (-k, id) }.take(32)
      .zipWithIndex.map { case ((id, k), i) => (i + 1, id, k) }.toSet
    val actual = Sampling.weightedSample(t, k = 32, maxW = maxW).collect()
      .map(r => (r.getAs[Int]("sample_rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("key"))).toSet
    assert(actual == expected)
  }

  test("q198: PPS pulls heavy documents — sampled mean weight above corpus mean") {
    val t = sf()
    val rows = Sampling.weightedSample(t, k = 32, maxW = 128).collect()
    assert(rows.map(_.getAs[Int]("sample_rank")).sorted.sameElements(1 to 32))
    val sampleMean = rows.map(_.getAs[Long]("weight")).sum.toDouble / rows.length
    val corpusMean = t.documents
      .select(least(size(split(trim(col("text")), "\\s+")), lit(128)).as("w"))
      .agg(avg(col("w"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"PPS sample mean $sampleMean not above corpus mean $corpusMean")
  }
}

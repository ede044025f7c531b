package graft

import graft.core.Tables
import graft.ext.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics of the curation-audit wave (q186–q188): cross-split duplicate
  * leakage, product-quantization ANN, and train→eval n-gram novelty.
  * Bit-parity with DuckDB is the oracle gate's job; these tests pin the
  * SEMANTICS against single-node recomputations and hand-built corpora.
  */
class CurationAuditSpec extends SparkSpec {

  /** Write a synthetic documents table (schema-identical to the fixture)
    * and return a Tables bound to it. */
  private def docsTable(rows: Seq[(Long, String, String, String)]): Tables = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("curation_audit").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables(spark, dir)
  }

  /** Single-node replica of [[Sampling.splitHash]] → split label. All
    * intermediates stay below 2^63 (h < 2^31 → every product < 2^62.5). */
  private def splitOf(id: Long): String = {
    val m = 2147483647L
    val h = (((id % m) + m) % m * 2654435761L) % m
    val b = ((h * h % m) * 2246822519L + 1L) % m % 100L
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  // ── q186 split leakage ───────────────────────────────────────────────

  test("q186: reconciles with q34's pair list relabeled single-node") {
    val t = sf()
    val pairs = Dedup.minhashDupPairs(t, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must produce near-dup pairs")
    val rk = Map("train" -> 0, "val" -> 1, "test" -> 2)
    val oriented = pairs.map { case (a, b) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      if (rk(sa) <= rk(sb)) (sa, sb, a, b) else (sb, sa, b, a)
    }
    val expected = oriented.groupBy(o => (o._1, o._2)).map { case (k, v) =>
      k -> (v.length.toLong, v.map(_._3).distinct.length.toLong,
        v.map(_._4).distinct.length.toLong)
    }
    val totals = t.documents.select(col("doc_id")).collect()
      .map(r => splitOf(r.getLong(0)))
      .groupBy(identity).map { case (s, o) => s -> o.size.toLong }
    val got = Dedup.splitLeakage(t).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet == expected.keySet)
    for (r <- got) {
      val key = (r.getString(0), r.getString(1))
      val (nPairs, nLo, nHi) = expected(key)
      assert(r.getLong(2) == nPairs, s"$key n_pairs")
      assert(r.getLong(3) == nLo, s"$key n_docs_lo")
      assert(r.getLong(4) == nHi, s"$key n_docs_hi")
      assert(r.getLong(5) == totals(r.getString(1)), s"$key n_split_hi")
      assert(rk(r.getString(0)) <= rk(r.getString(1)), "orientation invariant")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    assert(got.map(_.getLong(2)).sum == pairs.length, "pair conservation")
  }

  // ── q187 product-quantization ANN ────────────────────────────────────

  test("q187: shape, ADC monotonicity, and a recall floor on the fixture") {
    val (nQueries, topK) = (4, 10)
    val got = graft.ext.Spectral.pqTopK(sf(), nQueries = nQueries, topK = topK)
      .collect()
    assert(got.length == nQueries * topK, "topK rows per query")
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until nQueries).toSet)
    for ((q, rows) <- byQ) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to topK), s"query $q ranks")
      val adc = sorted.map(_.getDouble(3))
      assert(adc.zip(adc.tail).forall { case (a, b) => a <= b },
        s"query $q ADC distances not sorted")
      assert(rows.forall(r => r.getLong(2) != q), "self excluded")
      assert(rows.forall(_.getDouble(4) >= 0.0), "exact dist non-negative")
      assert(rows.map(_.getLong(2)).distinct.length == topK, "no dup neighbors")
    }
    // the copy-heavy fixture puts near-identical vectors in every
    // neighborhood — a 4×16 codebook must recover SOME exact neighbors
    val hits = got.count(_.getInt(5) == 1)
    assert(hits > 0, "PQ+ADC recalled zero exact top-k neighbors")
  }

  test("q187: exact codebook (k >= distinct subvectors) makes ADC exact") {
    import spark.implicits._
    // 8 vectors on a 2-of-4-valued grid: with k=16 >= the 8 distinct
    // subvectors per subspace, Lloyd converges to zero quantization error
    // and the ADC distance must EQUAL the exact distance for every pair
    val dir = java.nio.file.Files.createTempDirectory("pq_exact").toString
    val vecs = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (((i >> (d % 3)) & 1) == 1) 0.5f else -0.25f)), s"l$i")
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val t = Tables(spark, dir)
    val got = graft.ext.Spectral
      .pqTopK(t, m = 4, k = 8, iters = 3, nQueries = 2, topK = 5).collect()
    assert(got.nonEmpty)
    for (r <- got)
      assert(r.getDouble(3) == r.getDouble(4),
        s"ADC ${r.getDouble(3)} != exact ${r.getDouble(4)} with a lossless codebook")
  }

  // ── q188 n-gram novelty ──────────────────────────────────────────────

  test("q188: counts match a single-node recount over the fixture") {
    val t = sf()
    val docs = t.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (splitOf(r.getLong(0)), r.getString(1).trim.split("\\s+")))
    def gramsOf(tks: Array[String], n: Int): Iterator[String] =
      if (tks.length < n) Iterator.empty
      else tks.sliding(n).map(_.mkString(" "))
    val bySplit: Map[(Int, String), Set[String]] = (for {
      n <- 1 to 3; s <- Seq("train", "val", "test")
    } yield (n, s) -> docs.filter(_._1 == s)
      .flatMap(d => gramsOf(d._2, n)).toSet).toMap
    val got = TextAnalysis.ngramNovelty(t).collect()
    assert(got.length == 6, "3 gram sizes x 2 eval splits")
    for (r <- got) {
      val (n, s) = (r.getInt(0), r.getString(1))
      val eval = bySplit((n, s))
      val seen = eval.intersect(bySplit((n, "train")))
      assert(r.getLong(2) == eval.size.toLong, s"($n,$s) n_eval_distinct")
      assert(r.getLong(3) == seen.size.toLong, s"($n,$s) n_seen_in_train")
      assert(math.abs(r.getDouble(4) -
        (1.0 - seen.size.toDouble / eval.size)) < 1e-6, s"($n,$s) rate")
    }
    assert(got.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
  }

  // ── q189 embedding split leakage ─────────────────────────────────────

  test("q189: reconciles with brute-force eps pairs relabeled single-node") {
    val t = sf()
    val eps = 0.01
    val pts = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1)(0).toDouble, r.getSeq[Float](1)(1).toDouble))
    val pairs = for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= eps * eps
    } yield (a._1, b._1)
    assert(pairs.nonEmpty, "fixture must produce eps-neighbor pairs")
    val rk = Map("train" -> 0, "val" -> 1, "test" -> 2)
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      if (rk(sa) <= rk(sb)) (sa, sb, a, b) else (sb, sa, b, a)
    }.groupBy(o => (o._1, o._2)).map { case (k, v) =>
      k -> (v.length.toLong, v.map(_._3).distinct.length.toLong,
        v.map(_._4).distinct.length.toLong)
    }
    val got = graft.ext.Similarity.embeddingSplitLeakage(t, eps).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet == expected.keySet)
    for (r <- got) {
      val (nPairs, nLo, nHi) = expected((r.getString(0), r.getString(1)))
      assert(r.getLong(2) == nPairs && r.getLong(3) == nLo && r.getLong(4) == nHi,
        s"(${r.getString(0)},${r.getString(1)}) counts")
    }
    assert(got.map(_.getLong(2)).sum == pairs.length, "pair conservation")
  }

  // ── q190 truncation audit ────────────────────────────────────────────

  test("q190: counts match a single-node recount; monotone in window") {
    val t = sf()
    val windows = Seq(64, 256, 1024)
    val nTok = t.documents.select(col("text")).collect()
      .map(_.getString(0).trim.split("\\s+").length.toLong)
    val got = Sampling.truncationAudit(t, windows).collect()
    assert(got.map(_.getInt(0)).toSeq == windows)
    for (r <- got) {
      val w = r.getInt(0)
      val over = nTok.count(_ > w).toLong
      val lost = nTok.map(n => math.max(0L, n - w)).sum
      assert(r.getLong(1) == over, s"window $w n_docs_over")
      assert(r.getLong(3) == lost, s"window $w tokens_lost")
      assert(math.abs(r.getDouble(2) - over.toDouble / nTok.length) < 1e-6)
      assert(math.abs(r.getDouble(4) - lost.toDouble / nTok.sum) < 1e-6)
    }
    // a larger window never loses more
    val losses = got.map(_.getLong(3))
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a })
  }

  // ── q191 duplication profile ─────────────────────────────────────────

  test("q191: reconciles exactly with q45's cluster output") {
    val t = sf()
    val clusters = Dedup.dupClusters(t, minJaccard = 0.2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(clusters.nonEmpty, "fixture must produce dup clusters")
    // per size, the number of distinct clusters at that size
    val profile = clusters.distinct.groupBy(_._2)
      .map { case (size, cs) => size -> cs.length.toLong }
    val nDocs = t.documents.count()
    val got = Dedup.duplicationProfile(t).collect()
    assert(got.map(_.getLong(0)).toSet == profile.keySet)
    var covered = 0L
    for (r <- got) {
      val size = r.getLong(0)
      assert(r.getLong(1) == profile(size), s"size $size n_clusters")
      assert(r.getLong(2) == size * profile(size), s"size $size n_docs")
      assert(r.getLong(3) == (size - 1) * profile(size), s"size $size n_removable")
      assert(math.abs(r.getDouble(4) -
        size.toDouble * profile(size) / nDocs) < 1e-6)
      covered += r.getLong(2)
    }
    assert(covered == nDocs, "profile must account for every document")
  }

  // ── q192 rendezvous shard layout ─────────────────────────────────────

  /** Single-node HRW winner among `n` shards for a doc id. */
  private def hrwShard(id: Long, n: Int): Int = {
    val m = 2147483647L
    def h(x: Long): Long = {
      val a = (((x % m) + m) % m * 2654435761L) % m
      ((a * a % m) * 2246822519L + 1L) % m
    }
    (0 until n).maxBy(s => (h(id * 16 + s), -s))
  }

  test("q192: matches a single-node HRW replica; churn is one shard's worth") {
    val t = sf()
    val shards = 8
    val docs = t.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
    val byShard = docs.groupBy { case (id, _) => hrwShard(id, shards) }
    val moved = docs.count { case (id, _) =>
      hrwShard(id, shards + 1) != hrwShard(id, shards) }
    val got = Sampling.shardLayout(t, shards).collect()
    assert(got.map(_.getInt(0)).toSet == byShard.keySet)
    for (r <- got) {
      val rows = byShard(r.getInt(0))
      assert(r.getLong(1) == rows.length.toLong, s"shard ${r.getInt(0)} n_docs")
      assert(r.getLong(2) == rows.map(_._2).sum, s"shard ${r.getInt(0)} n_tokens")
    }
    assert(got.map(_.getLong(4)).sum == moved.toLong, "total churn")
    // the HRW contract: adding a shard moves ~1/(S+1) of the corpus, and
    // every moved doc goes TO the new shard — churn stays near one
    // shard's share, never a rehash-everything
    val frac = moved.toDouble / docs.length
    assert(frac < 2.5 / (shards + 1), s"churn $frac not HRW-bounded")
  }

  // ── q193 mixture solver ──────────────────────────────────────────────

  test("q193: hand-solved tiny corpus; binding group exhausted, rates <= 1") {
    // en avail 100 tokens, fr 100, other 100; shares 50/30/20 →
    // capacities 200/333/500 → budget 200 (en binds) → take 100/60/40
    val mk = (n: Int, w: String) => Seq.fill(n)(w).mkString(" ")
    val t = docsTable(
      (0 until 10).map(i => (i.toLong, mk(10, "e"), "en", "s")) ++
        (10 until 20).map(i => (i.toLong, mk(10, "f"), "fr", "s")) ++
        (20 until 30).map(i => (i.toLong, mk(10, "x"), "zz", "s")))
    val got = Sampling.mixtureSolver(t,
      targetsBps = Seq("en" -> 5000, "fr" -> 3000), otherBps = 2000)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("en", "fr", "other"))
    assert(got("en").getLong(3) == 100L && got("en").getInt(5) == 1)
    assert(got("fr").getLong(3) == 60L && got("fr").getInt(5) == 0)
    assert(got("other").getLong(3) == 40L && got("other").getInt(5) == 0)
    assert(got("en").getDouble(4) == 1.0)
  }

  test("q193 fixture run: exactly one binding group, achieved mix == spec") {
    val got = Sampling.mixtureSolver(sf()).collect()
    assert(got.map(_.getInt(5)).sum >= 1, "at least one binding group")
    assert(got.forall(r => r.getDouble(4) <= 1.0 + 1e-9), "no upsampling")
    assert(got.forall(r => r.getLong(3) <= r.getLong(2)), "take <= avail")
    // achieved shares track targets to floor-division tolerance
    val total = got.map(_.getLong(3)).sum.toDouble
    for (r <- got)
      assert(math.abs(r.getLong(3) / total - r.getDouble(1)) < 0.001,
        s"${r.getString(0)} achieved share off spec")
  }

  // ── q194 clean eval sample ───────────────────────────────────────────

  test("q194: no sampled doc has a train near-dup; hash-order prefix exact") {
    val t = sf()
    val k = 16
    val pairs = Dedup.minhashDupPairs(t, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val leaked = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).collect {
        case (d, o) if splitOf(d) != "train" && splitOf(o) == "train" => d }
    }.toSet
    val m = 2147483647L
    def h(x: Long): Long = {
      val a = (((x % m) + m) % m * 2654435761L) % m
      ((a * a % m) * 2246822519L + 1L) % m
    }
    val expected = t.documents.select(col("doc_id")).collect()
      .map(_.getLong(0))
      .filter(id => splitOf(id) != "train" && !leaked.contains(id))
      .groupBy(splitOf)
      .map { case (s, ids) =>
        s -> ids.sortBy(id => (h(id), id)).take(k).toSeq }
    val got = Dedup.cleanEvalSample(t, k).collect()
    val bySplit = got.groupBy(_.getString(0))
    assert(bySplit.keySet == expected.keySet)
    for ((s, rows) <- bySplit) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rows.length))
      assert(sorted.map(_.getLong(2)).toSeq == expected(s),
        s"split $s sample differs from the single-node hash-order prefix")
    }
    assert(got.forall(r => !leaked.contains(r.getLong(2))), "leaked doc sampled")
  }

  // ── q195 retrieval-arm eval ──────────────────────────────────────────

  test("q195: exact arm reconciles with q37 + labels; metric identities hold") {
    import graft.ext.Similarity
    val t = sf()
    val (nQueries, k) = (8, 5)
    val got = Similarity.retrievalArmEval(t, nQueries, k).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("dense_exact", "lsh_srp", "pq_adc"))
    // independent recount of the dense arm from q37's own output
    val labels = t.embeddings.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dense = Similarity.bruteForceTopK(t, nQueries, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val rel = dense.filter { case (q, v, _) => labels(v) == labels(q) }
    val firstRel = rel.groupBy(_._1).map { case (q, rows) =>
      q -> rows.map(_._3).min }
    val mrr = firstRel.values.map(r => 1000000L / r).sum.toDouble /
      (1000000.0 * nQueries)
    val de = got("dense_exact")
    assert(de.getLong(1) == dense.length.toLong, "dense n_retrieved")
    assert(de.getLong(2) == rel.length.toLong, "dense n_relevant")
    assert(de.getDouble(3) == rel.length.toDouble / dense.length)
    assert(de.getLong(4) == firstRel.size.toLong, "dense n_queries_hit")
    assert(de.getDouble(5) == mrr, "dense mrr")
    for ((arm, r) <- got) {
      assert(r.getLong(1) <= (nQueries * k).toLong, s"$arm over-retrieved")
      assert(r.getLong(2) <= r.getLong(1), s"$arm relevant > retrieved")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // approximate arms can't beat the exact arm's hit coverage by more
    // than the fixture's label noise — sanity: they found SOMETHING
    assert(got("lsh_srp").getLong(1) > 0 && got("pq_adc").getLong(1) > 0)
  }
}

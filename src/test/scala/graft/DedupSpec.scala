package graft

import java.nio.file.Files

import graft.core.Tables
import graft.ext.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup operators against planted duplicates: exact copies, near-dup
  * texts, and embedding near-neighbors must be found; unrelated documents
  * must not pair. */
class DedupSpec extends SparkSpec {

  /** Build a documents+embeddings fixture dir with planted dups. */
  private lazy val dir: String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_dedup").toFile.getAbsolutePath
    val real = sf().documents.select("doc_id", "text", "lang", "source", "n_chars")
      .limit(60).collect()
    val texts = real.map(r => (r.getLong(0), r.getString(1)))
    val planted = texts.toSeq ++ Seq(
      (1000L, texts(0)._2),                                  // exact copy of doc 0
      (1001L, texts(1)._2.replaceFirst("\\w+", "zzz")),     // near-dup of doc 1
      (1002L, "totally different tiny doc"))
    planted.map { case (id, t) => (id, t, "en", "synthetic", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    // embeddings: 30 random + a planted near-neighbor of vec 0
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 30).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f), i % 3))
    val near = (1000L, vecs(0)._2.map(v => v + 0.001f), 0)
    (vecs :+ near).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$base/embeddings.parquet")
    base
  }

  private def t: Tables = Tables(spark, dir)

  test("exact dedup groups the planted copy under the original") {
    val out = Dedup.exact(t).collect()
    val dupGroup = out.find(_.getAs[Long]("n_copies") > 1)
    assert(dupGroup.isDefined, "planted exact copy not grouped")
    assert(dupGroup.get.getAs[Long]("canonical_doc_id") == 0L)
    assert(out.count(_.getAs[Long]("n_copies") > 1) == 1)
  }

  test("minhash finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.minhashDupPairs(t, minJaccard = 0.5).collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 1001L),
      s"near-dup (1, 1001) not found; got ${pairs.take(5).mkString(",")}")
    assert(pairs.exists(r => r.getAs[Long]("doc_b") == 1000L)) // exact copy too
    assert(!pairs.exists(r =>
      r.getAs[Long]("doc_a") == 1002L || r.getAs[Long]("doc_b") == 1002L))
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val fp = Dedup.simhashFingerprints(t).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(0L), fp(1000L)) == 0)   // exact copy: identical
    assert(hamming(fp(1L), fp(1001L)) <= 12)  // near-dup: close
    assert(hamming(fp(0L), fp(1002L)) > 12)   // unrelated: far
  }

  test("embedding near-dups surface the planted neighbor at high cosine") {
    val pairs = Dedup.embeddingNearDups(t, minCosine = 0.9).collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("vec_a") == 0L && r.getAs[Long]("vec_b") == 1000L &&
        r.getAs[Double]("cosine") > 0.99),
      s"planted neighbor not found: ${pairs.mkString(",")}")
  }

  test("IVF ANN finds the planted embedding neighbor") {
    val out = graft.ext.Similarity.ivfTopK(t, nQueries = 2, k = 3).collect()
    assert(out.count(_.getAs[Long]("query_id") == 0L) == 3)
    // vec 1000 is a planted near-copy of vec 0: identical coarse list,
    // so IVF must rank it first for query 0
    val top = out.filter(_.getAs[Long]("query_id") == 0L).minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("vec_id") == 1000L && top.getAs[Double]("cosine") > 0.99)
  }

  test("extensions-built session has graft functions in SQL without register") {
    // create(), not getOrCreate(): a session built by ANOTHER suite would
    // be returned as-is (extensions unapplied) and the suite-ordering
    // accident of someone having called register() would mask the gap —
    // create() always constructs a fresh session over the shared context
    // and runs the injection
    val prior = org.apache.spark.sql.SparkSession.getDefaultSession
    val s2 = graft.core.GraftSession.builder("local[2]", 2)
      .withExtensions(new graft.core.GraftExtensions).create()
    try {
    val r = s2.sql(
      "SELECT graft_cosine_similarity(array(1.0D,2.0D), array(2.0D,4.0D)) c").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    // the aggregate/sketch surface is injected too — SQL-only sessions get
    // the full function registry, not just the scalar kernels
    val agg = s2.sql(
      """WITH t(x) AS (VALUES (1L), (2L), (2L), (7L)),
        |states AS (
        |  SELECT x % 2 AS g, graft_bitmap_state(x) AS bm,
        |   graft_bitmap_distinct(x) AS d,
        |   graft_cms_sketch(CAST(x AS STRING)) AS cms
        |  FROM t GROUP BY x % 2)
        |SELECT graft_bitmap_merge_count(bm) m, CAST(sum(d) AS BIGINT) sd
        |FROM states""".stripMargin).collect()(0)
    assert(agg.getLong(0) == 3L && agg.getLong(1) == 3L)
    val scalars = s2.sql(
      """SELECT graft_cms_key_hash('a b') h,
        | size(graft_word_shingles(array('a','b','c'), 2)) sh""".stripMargin).collect()(0)
    assert(scalars.getLong(0) == graft.functions.PortableHash.hash32(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b")))
    assert(scalars.getInt(1) == 2)
    } finally {
      prior.foreach { p =>
        org.apache.spark.sql.SparkSession.setDefaultSession(p)
        org.apache.spark.sql.SparkSession.setActiveSession(p)
      }
    }
  }

  test("bpe-ish tokenizer splits digits and punctuation") {
    import spark.implicits._
    val toks = Seq(("abc de-f 42x", 1)).toDF("text", "x")
      .select(TextAnalysis.bpeishTokens(col("text")).as("t"))
      .as[Seq[String]].collect()(0)
    assert(toks == Seq("abc", "de", "-", "f", "42", "x"))
  }

  test("native WordShingles matches the composable HOF form exactly") {
    import spark.implicits._
    graft.functions.ShingleExpression.register(spark)
    // real docs plus shorter-than-k edge cases
    val extra = Seq("one", "two words", "a b c", "a b c d").toDF("text")
    val docs = t.documents.select(col("text")).union(extra)
    val both = docs.select(
      Dedup.shingles(col("text")).as("hof"),
      graft.functions.ShingleExpression.wordShingles(
        TextAnalysis.tokens(col("text"))).as("native"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("connectedComponents: chain collapses transitively, isolates stay put") {
    import spark.implicits._
    // 0-1-2-3 chain (diameter 3, forces multiple propagation rounds),
    // 10-11 pair, 20 isolated
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("large-star/small-star CC matches min-label propagation on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val nodes = (0L until n.toLong).toDF("id")
      val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("src", "dst")
      val star = Dedup.connectedComponentsStar(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.connectedComponents(nodes, edges, maxIters = 250)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == prop, s"seed $seed diverged")
    }
  }

  test("star CC collapses a diameter-300 chain within its O(log n) budget") {
    import spark.implicits._
    val n = 300L
    val nodes = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    // maxIters = 30 ≪ diameter: only the star algorithm can finish this
    val out = Dedup.connectedComponentsStar(nodes, chain, maxIters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.forall(_._2 == 0L), out.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("saltedBuckets: under-cap buckets untouched, oversized split evenly") {
    import spark.implicits._
    // one degenerate bucket of 1000 members and one normal bucket of 50
    val b = ((0L until 1000L).map(i => (0, 7L, i)) ++
      (0L until 50L).map(i => (1, 7L, i)))
      .toDF("band_id", "bucket", "doc_id")
    val out = Dedup.saltedBuckets(b, Seq("band_id", "bucket"), "doc_id", cap = 64)
      .collect()
    // bucket at/under the cap: every member gets salt 0 (plan unchanged)
    assert(out.filter(_.getInt(0) == 1).forall(_.getAs[Long]("salt") == 0L))
    // oversized bucket: ceil(1000/64) = 16 salts, roughly even occupancy
    val salts = out.filter(_.getInt(0) == 0)
      .groupBy(_.getAs[Long]("salt")).view.mapValues(_.length).toMap
    assert(salts.size == 16, s"expected 16 salts, got ${salts.size}")
    assert(salts.values.max <= 96, s"skewed salt occupancy: $salts")
  }

  test("saltedBuckets invariants hold across random skewed bucket layouts") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cap = 16
    for (trial <- 1 to 3) {
      // skewed sizes: a few hot buckets, many small ones
      val rows = (0 until 12).flatMap { b =>
        val n = if (b < 2) 80 + rnd.nextInt(120) else 1 + rnd.nextInt(cap)
        (0 until n).map(i => (b % 3, b.toLong, rnd.nextLong().abs))
      }.distinct
      val df = rows.toDF("band_id", "bucket", "doc_id")
      val out = Dedup.saltedBuckets(df, Seq("band_id", "bucket"), "doc_id", cap)
        .collect()
      // no rows invented or lost, membership preserved
      assert(out.length == rows.length, s"trial $trial row count")
      assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet == rows.toSet)
      // per bucket: salts live in [0, ceil(n/cap)); ≤-cap buckets all salt 0
      out.groupBy(r => (r.getInt(0), r.getLong(1))).foreach { case (k, members) =>
        val n = members.length
        val nSalts = (n + cap - 1) / cap
        val salts = members.map(_.getAs[Long]("salt"))
        assert(salts.forall(s => s >= 0 && s < nSalts), s"trial $trial bucket $k")
        if (n <= cap) assert(salts.forall(_ == 0L), s"trial $trial bucket $k salted early")
      }
    }
  }

  test("bucket cap bounds candidate pairs on a 1000-identical-doc corpus") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_degen").toFile.getAbsolutePath
    val text = "the same boilerplate text repeated across the entire corpus shard"
    (0L until 1000L).map(i => (i, text, "en", "synthetic", text.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val td = Tables(spark, base)
    val nPairs = Dedup.minhashDupPairs(td, minJaccard = 0.5).count()
    // identical docs share every band bucket: uncapped, the self-join
    // emits C(1000,2) = 499,500 pairs; the cap bounds it at
    // Σ_s C(n_s, 2) ≈ n·cap/2 (bounded-work, reduced-recall contract)
    assert(nPairs > 0)
    assert(nPairs < 64000L, s"cap failed to bound pairs: $nPairs")
  }

  test("bucket-cap observe() metric reports oversized buckets to listeners") {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val b = ((0L until 200L).map(i => (0, 7L, i)) ++ (0L until 10L).map(i => (1, 8L, i)))
        .toDF("band_id", "bucket", "doc_id")
      Dedup.saltedBuckets(b, Seq("band_id", "bucket"), "doc_id", cap = 64).collect()
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.containsKey("lsh_bucket_cap_doc_id") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val m = seen.get("lsh_bucket_cap_doc_id")
      assert(m != null, "cap metric not observed")
      assert(m.getAs[Long]("rows_in_oversized_buckets") == 200L)
      assert(m.getAs[Long]("max_bucket_size") == 200L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("dupClusters: transitive closure of the pair list, consistent sizes") {
    val clusters = Dedup.dupClusters(t, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = clusters.map(c => c._1 -> c._2).toMap
    // every document labeled exactly once, label never exceeds own id
    assert(clusters.length == t.documents.count())
    assert(clusters.forall { case (id, cl, _) => cl <= id })
    // every emitted near-dup pair lands in one cluster
    val pairs = Dedup.minhashDupPairs(t, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(byId(a) == byId(b), s"pair ($a,$b) split") }
    // the planted exact copy (doc 1000) merged with its source: its cluster
    // holds at least two documents and is canonicalized below 1000
    val c1000 = clusters.find(_._1 == 1000L).get
    assert(c1000._2 < 1000L && c1000._3 >= 2L)
    // sizes agree with the labeling
    val sizeOf = clusters.groupBy(_._2).map { case (cl, rows) => cl -> rows.length }
    clusters.foreach { case (_, cl, sz) => assert(sz == sizeOf(cl)) }
  }

  test("semDedup drops the planted semantic duplicate, keeps everything else") {
    val out = graft.ext.Similarity.semDedup(t, nCentroids = 4, minCosine = 0.95).collect()
    assert(out.length == 31) // every vector labeled exactly once
    val kept = out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // the planted near-identical pair (0, 1000): min-id keeps 0, drops 1000
    assert(kept(0L), "canonical lower-id vector must survive")
    assert(!kept(1000L), "planted semantic duplicate not dropped")
    // random 16-dim vectors are near-orthogonal — nothing else reaches 0.95
    assert(out.count(!_.getBoolean(2)) == 1)
    // cluster labels present and consistent for the dup pair (same cluster
    // is what made the pair visible)
    val cl = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(0L) == cl(1000L))
  }

  test("incremental dedup: pairs cross the corpus boundary, agree with the self-join") {
    val td = sf()
    val inc = Dedup.incrementalDupPairs(td, minJaccard = 0.2).collect()
    assert(inc.nonEmpty, "no cross-corpus near-dups found on the test corpus")
    inc.foreach { r =>
      assert(r.getAs[Long]("doc_new") % 20 != 0, "incoming side leaked an existing doc")
      assert(r.getAs[Long]("doc_existing") % 20 == 0, "existing side leaked an incoming doc")
      assert(r.getAs[Double]("jaccard") >= 0.2)
    }
    // consistency with the full self-join pipeline: every incremental pair
    // is a q34 pair (same buckets, same union salting, same threshold)
    val full = Dedup.minhashDupPairs(td, minJaccard = 0.2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    inc.foreach { r =>
      val (n, e) = (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_existing"))
      assert(full.contains((math.min(n, e), math.max(n, e))),
        s"incremental pair ($n,$e) missing from the self-join result")
    }
  }

  test("q127 served demo: index build-once + serve equals q99 on the same split") {
    val td = sf()
    val demo = Dedup.incrementalDupPairsServedDemo(td).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q99 = Dedup.incrementalDupPairs(td).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(demo.nonEmpty && demo == q99,
      s"demo=${demo.size} q99=${q99.size} diff=${demo.diff(q99).take(3)}")
  }

  test("served LSH index: persisted-index increments equal the in-memory pairs") {
    val td = sf()
    val existing = td.documents.filter(col("doc_id") % 20 === 0)
    val incoming = td.documents.filter(col("doc_id") % 20 =!= 0)
    // index only the existing corpus (its own directory = its own Tables)
    val exDir = Files.createTempDirectory("graft_lshidx").toFile.getAbsolutePath
    existing.write.parquet(s"$exDir/documents.parquet")
    Dedup.writeLshIndex(Tables(spark, exDir), "lshidx_test")
    val served = Dedup.incrementalDupPairsServed(
      incoming, existing, "lshidx_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // joint salting (stored sizes + incoming sizes) reproduces q99's
    // union salting exactly, so the pair sets must be identical
    val inMemory = Dedup.incrementalDupPairs(td).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == inMemory,
      s"served=${served.size} inMemory=${inMemory.size} diff=${served.diff(inMemory).take(3)}")
    assert(served.nonEmpty)
    // the stored-side scale claim: the index scan carries its bucketing
    // into the candidate join — no Exchange sits between the bucketed
    // table scan and the join (the incoming side shuffles to match).
    // Reconstructed unsnapshotted (the production frame localCheckpoints,
    // which hides the plan); broadcast disabled so the hash join can't
    // trivialize the assertion.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val stored = spark.table("lshidx_test_buckets")
        .withColumnRenamed("doc_id", "doc_existing")
      val incomingBuckets = Dedup.lshBuckets(td)
        .filter(col("doc_id") % 20 =!= 0)
      val j = incomingBuckets.join(stored, Seq("band_id", "bucket"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      // exactly ONE hash exchange in the whole join plan: the incoming
      // side shuffles to the index's bucketing; a second would mean the
      // bucketed scan was reshuffled too
      val exchanges = plan.split("Exchange hashpartitioning").length - 1
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    spark.sql("DROP TABLE IF EXISTS lshidx_test_buckets")
    spark.sql("DROP TABLE IF EXISTS lshidx_test_sizes")
  }

  test("duplicate spans: planted shared paragraph found, unique docs silent") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_spans").toFile.getAbsolutePath
    val boiler = (1 to 15).map(i => s"boiler$i").mkString(" ")
    val docs = Seq(
      // docs 0 and 1 share the 15-token boilerplate inside distinct prose
      (0L, s"alpha bravo charlie $boiler delta echo"),
      (1L, s"foxtrot golf $boiler hotel india juliet kilo"),
      // doc 2: unique long text, no duplicated span
      (2L, (1 to 40).map(i => s"unique$i").mkString(" ")),
      // doc 3: repeats its own 15-token refrain twice (self-duplication)
      (3L, ((1 to 15).map(i => s"refrain$i") ++ Seq("bridge") ++
        (1 to 15).map(i => s"refrain$i")).mkString(" ")),
      // doc 4: shorter than 15 tokens — contributes no span at all
      (4L, "tiny doc under fifteen tokens total"))
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val out = Dedup.duplicateSpans(Tables(spark, base)).collect()
    // exactly the boilerplate window(s) shared by 0/1 and doc 3's refrain;
    // nothing from docs 2/4
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_occurrences") > 1))
    val crossDoc = out.filter(_.getAs[Long]("n_docs") == 2)
    assert(crossDoc.nonEmpty, "shared boilerplate span not detected")
    assert(crossDoc.forall(_.getAs[Long]("first_doc_id") == 0L))
    val selfDup = out.filter(r =>
      r.getAs[Long]("n_docs") == 1 && r.getAs[Long]("first_doc_id") == 3L)
    assert(selfDup.nonEmpty, "within-document repeated span not detected")
    assert(!out.exists(r => r.getAs[Long]("first_doc_id") == 2L ||
      r.getAs[Long]("first_doc_id") == 4L))
    // the boilerplate span itself (exact window) appears with count 2:
    // md5 of the known 15-token string must be among the cross-doc hashes
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(crossDoc.exists(_.getAs[String]("span_hash") == expected))
  }

  test("span removal cuts exactly the duplicated extent, leaves clean docs whole") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_spanrm").toFile.getAbsolutePath
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha bravo charlie $shared delta echo"),
      (1L, s"zulu $shared yankee xray whiskey victor uniform tango"),
      (2L, (1 to 40).map(i => s"unique$i").mkString(" ")))
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val out = Dedup.removeDuplicateSpans(Tables(spark, base)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(out(0L) == ((25, 20, "alpha bravo charlie delta echo")))
    assert(out(1L) == ((27, 20,
      "zulu yankee xray whiskey victor uniform tango")))
    assert(out(2L)._2 == 0 && out(2L)._3 == docs(2)._2)
  }

  test("maximal spans: consecutive duplicated windows merge into one island") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_maxspans").toFile.getAbsolutePath
    // 20 shared tokens = 6 overlapping duplicated 15-windows = ONE maximal
    // span of 20 tokens; the two shared runs sit at different offsets
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha bravo charlie $shared delta echo"),             // span at pos 3
      (1L, s"zulu $shared yankee xray whiskey victor uniform tango"), // span at pos 1
      (2L, (1 to 40).map(i => s"unique$i").mkString(" ")))         // no spans
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val t = Tables(spark, base)
    val out = Dedup.maximalDuplicateSpans(t).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    // one island per doc, 20 tokens long, at the right offset
    assert(byDoc.keySet == Set(0L, 1L))
    val d0 = byDoc(0L); val d1 = byDoc(1L)
    assert(d0.length == 1 && d1.length == 1, "overlapping windows not merged")
    assert(d0.head.getAs[Int]("span_start") == 3)
    assert(d1.head.getAs[Int]("span_start") == 1)
    Seq(d0.head, d1.head).foreach { r =>
      assert(r.getAs[Int]("span_tokens") == 20)
      assert(r.getAs[Long]("n_windows") == 6)
      // structural invariant of the islands construction
      assert(r.getAs[Int]("span_tokens") == r.getAs[Long]("n_windows") + 15 - 1)
    }
    // window-count conservation against q84's view: the islands cover
    // exactly as many duplicated window POSITIONS as q84 counts duplicated
    // window OCCURRENCES (every occurrence is one (doc, pos) here)
    val q84Occurrences = Dedup.duplicateSpans(t).collect()
      .map(_.getAs[Long]("n_occurrences")).sum
    assert(out.map(_.getAs[Long]("n_windows")).sum == q84Occurrences,
      "island windows do not cover q84's duplicated occurrences")
  }

  /** Brute-force maximal duplicated spans, UNCAPPED: for every (doc, pos)
    * the true longest repeated prefix (any other (doc, pos) counts as a
    * partner), intervals with rep ≥ minLen merged. No shared code with the
    * engine's class-doubling — and no cap, so equality also proves the
    * power-interval cover reconstructs repeats far longer than cap. */
  private def bruteForceSpans(docs: Seq[(Long, String)], minLen: Int): Seq[(Long, Int, Int)] = {
    val toks = docs.map { case (id, tx) => id -> tx.trim.toLowerCase.split("\\s+").toVector }
    val all = for ((id, ts) <- toks; p <- ts.indices) yield (id, ts, p)
    def lcp(a: Vector[String], i: Int, b: Vector[String], j: Int): Int = {
      var l = 0
      while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
      l
    }
    val intervals = for {
      (id, ts, p) <- all
      rep = all.iterator.filter { case (id2, _, p2) => (id2, p2) != ((id, p)) }
        .map { case (_, ts2, p2) => lcp(ts, p, ts2, p2) }.maxOption.getOrElse(0)
      if rep >= minLen
    } yield (id, p, p + rep)
    // merge per doc
    intervals.groupBy(_._1).toSeq.flatMap { case (id, iv) =>
      val sorted = iv.map { case (_, s, e) => (s, e) }.sortBy(identity)
      val out = Seq.newBuilder[(Long, Int, Int)]
      var cs = -1; var ce = -1
      sorted.foreach { case (s, e) =>
        if (cs < 0) { cs = s; ce = e }
        else if (s > ce) { out += ((id, cs, ce - cs)); cs = s; ce = e }
        else ce = math.max(ce, e)
      }
      if (cs >= 0) out += ((id, cs, ce - cs))
      out.result()
    }.sortBy(r => (r._1, r._2))
  }

  test("exact spans: class-doubling equals uncapped brute force (incl. repeat > cap)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_exactspans").toFile.getAbsolutePath
    val long = (1 to 90).map(i => s"s$i").mkString(" ")   // 90-token repeat > cap=64
    val short = (1 to 17).map(i => s"t$i").mkString(" ")  // just over minLen=16
    val sub = (1 to 9).map(i => s"u$i").mkString(" ")     // below minLen — must NOT appear
    val docs = Seq(
      (0L, s"alpha $long beta $sub gamma"),
      (1L, s"$long delta $short"),
      (2L, s"one two $short three $sub four"),
      (3L, (1 to 50).map(i => s"z$i").mkString(" ")),      // nothing shared
      (4L, s"pre ${(1 to 30).map(_ => "rep").mkString(" ")} post")) // self-overlap run
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val t = Tables(spark, base)
    val got = Dedup.maximalDuplicateSpansExact(t, minLen = 16, cap = 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_tokens"))).toSeq
    val expected = bruteForceSpans(docs, minLen = 16)
    assert(got == expected, s"got=$got\nexpected=$expected")
    // sanity on the shape: the 90-token repeat reported at full length
    assert(got.exists { case (id, _, l) => id == 0L && l == 90 })
    // the sub-threshold 9-token repeat never surfaces
    assert(got.forall { case (_, _, l) => l >= 16 })
  }

  test("exact spans: repeat-free corpus exits early with an empty result") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_exactspans_empty").toFile.getAbsolutePath
    // every token globally unique: no level ever has a duplicated class,
    // so the first reporting level's arm is empty, the loop exhausts
    // without adding an arm, and the all-arms-empty branch must produce
    // a well-formed empty frame (not a union over nothing)
    val docs = (0L until 5L).map(id =>
      (id, (1 to 40).map(i => s"d${id}w$i").mkString(" ")))
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val t = Tables(spark, base)
    val out = Dedup.maximalDuplicateSpansExact(t, minLen = 16, cap = 64)
    assert(out.columns.toSeq == Seq("doc_id", "span_start", "span_tokens"))
    assert(out.count() == 0)
    assert(bruteForceSpans(docs, minLen = 16).isEmpty) // parity on empty too
  }

  test("exact spans: tighter extents than the k-window islands on staggered partners") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_exactspans2").toFile.getAbsolutePath
    // doc0 carries two 16-token runs back-to-back, duplicated by DIFFERENT
    // partners; the k-window islands merge them into one 32-token extent
    // (documented superset behavior) — and so does the exact union (the
    // whole 32 tokens ARE duplicated material), but a 15-token run
    // duplicated nowhere as a ≥16 repeat must NOT be glued on
    val runA = (1 to 16).map(i => s"a$i").mkString(" ")
    val runB = (1 to 16).map(i => s"b$i").mkString(" ")
    val runC = (1 to 15).map(i => s"c$i").mkString(" ")  // sub-threshold
    val docs = Seq(
      (0L, s"$runA $runB $runC"),
      (1L, s"x1 x2 $runA y1"),
      (2L, s"w1 $runB w2 $runC w3"))
    docs.map { case (id, tx) => (id, tx, "en", "synthetic", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val t = Tables(spark, base)
    val got = Dedup.maximalDuplicateSpansExact(t, minLen = 16, cap = 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_tokens"))).toSeq
    assert(got == bruteForceSpans(docs, minLen = 16))
    // doc0: exactly [0, 32) — runC is not glued despite being adjacent
    assert(got.filter(_._1 == 0L) == Seq((0L, 0, 32)))
  }

  test("q173 line dedup: per-source report equals an independent recount") {
    val lineWords = 8
    val minDocs = 3
    val docs = sf().documents
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // brute segmentation: consecutive non-overlapping 8-word windows
    val lines = docs.flatMap { case (id, src, text) =>
      val tks = text.trim.split("\\s+")
      val nLines = math.max((tks.length + lineWords - 1) / lineWords, 1)
      (0 until nLines).map(i =>
        (id, src, tks.slice(i * lineWords, i * lineWords + lineWords).mkString(" ")))
    }
    val df = lines.groupBy(_._3).map { case (l, g) =>
      (l, g.map(_._1).distinct.size)
    }
    val expected = lines.groupBy(_._2).map { case (src, g) =>
      val boiler = g.filter(x => df(x._3) >= minDocs)
      (src, (
        g.map(_._1).distinct.size.toLong,                  // n_docs
        g.length.toLong,                                   // n_lines
        boiler.length.toLong,                              // n_boiler_lines
        boiler.map(_._3).distinct.size.toLong,             // n_distinct_boiler
        g.map(_._3.length.toLong).sum,                     // chars_total
        boiler.map(_._3.length.toLong).sum))               // chars_removed
    }
    val got = Dedup.lineDedupReport(sf(), lineWords, minDocs).collect()
    assert(got.map(_.getString(0)).toSeq == expected.keys.toSeq.sorted)
    for (r <- got) {
      val e = expected(r.getString(0))
      val t = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
      assert(t == e, s"${r.getString(0)}: got $t expected $e")
      assert(r.getDouble(7) ==
        BigDecimal(e._6.toDouble / e._5).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    // the fixture's planted exact-duplicate docs guarantee boilerplate exists
    assert(got.map(_.getLong(3)).sum > 0, "no boilerplate lines found at all")
  }

  test("q174 containment: emitted pairs match brute force; rare-shingle recall holds") {
    val tau = 0.8
    val dfCap = 64
    val docs = sf().documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingleSet(text: String): Set[String] = {
      val tks = text.trim.split("\\s+")
      if (tks.length < 3) Set(tks.mkString(" "))
      else tks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, tx) => id -> shingleSet(tx) }.toMap
    val shDf = sets.values.flatten.groupBy(identity).map { case (s, g) => (s, g.size) }
    val rare = shDf.filter(_._2 <= dfCap).keySet
    val ids = docs.map(_._1).sorted
    val brute = for {
      (a, ai) <- ids.zipWithIndex; b <- ids.drop(ai + 1)
      inter = (sets(a) & sets(b)).size
      if inter > 0 && (sets(a) & sets(b)).exists(rare) // candidate-reachable
      cont = inter.toDouble / math.min(sets(a).size, sets(b).size)
      if BigDecimal(cont).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= tau
    } yield ((a, b), inter.toLong)
    val bruteMap = brute.toMap
    val got = Dedup.containmentPairs(sf(), tau, dfCap).collect()
    val gotMap = got.map(r =>
      ((r.getLong(0), r.getLong(1)), r.getAs[Long]("n_common"))).toMap
    assert(gotMap == bruteMap,
      s"pair sets differ: extra=${gotMap.keySet -- bruteMap.keySet} " +
        s"missing=${bruteMap.keySet -- gotMap.keySet}")
    assert(got.nonEmpty, "fixture's planted duplicates must surface pairs")
    // asymmetry is the point: at least one caught pair sits below the
    // symmetric threshold (jaccard < containment)
    for (r <- got)
      assert(r.getAs[Double]("jaccard") <= r.getAs[Double]("containment") + 1e-12)
  }
}

package graft

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.{KmvSketch, PortableHash}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The portable-arithmetic sketch layer: polynomial hashes, the
  * MinHash/SimHash/CMS kernels built on them, the KMV distinct sketch, and the native
  * TokenCounts expression. These are the pieces that make the sketch/ANN
  * queries oracle-checkable — the invariants here are (a) the portable
  * values match an independent reimplementation, (b) results are
  * layout/order independent, (c) native fast paths equal composable
  * reference forms. */
class SketchPortableSpec extends SparkSpec {

  // independent reimplementation of the polynomial fold (plain Scala, no
  // shared code with PortableHash)
  private def poly(s: String, base: Long, mod: Long): Long =
    s.foldLeft(0L)((acc, c) => (acc * base + c.toLong) % mod)

  test("hash32 matches cross-engine-validated vectors") {
    // 'ab' -> 12805 was validated against DuckDB's
    // list_reduce(string_split(...)) replay during development
    assert(PortableHash.hash32(UTF8String.fromString("ab")) == 12805L)
    assert(PortableHash.hash32(UTF8String.fromString("")) == 0L)
    for (s <- Seq("the quick brown fox", "a", "data table 42!"))
      assert(PortableHash.hash32(UTF8String.fromString(s)) == poly(s, 131L, 1000000007L))
  }

  test("hash62 packs two independent 31-bit lanes, bits 62..63 clear") {
    for (s <- Seq("token", "x", "12 34", "")) {
      val h = PortableHash.hash62(UTF8String.fromString(s))
      assert(h >= 0L && (h >>> 62) == 0L)
      assert((h >>> 31) == poly(s, 131L, 2147483647L))
      assert((h & 0x7FFFFFFFL) == poly(s, 137L, 2147483629L))
    }
  }

  test("portable MinHash signature matches an independent reimplementation") {
    import graft.functions.MinHashExpression
    val text = "one two three four five one two"
    val tokens = text.split("\\s+").toSeq
    val shingles = tokens.sliding(3).map(_.mkString(" ")).toSeq
    val expected = MinHashExpression.permPairs.map { case (a, b) =>
      shingles.map { s =>
        val h = poly(s, 131L, 1000000007L)
        (a * h + b) % 4294967311L
      }.min
    }
    import spark.implicits._
    MinHashExpression.register(spark)
    val got = Seq(text).toDF("text")
      .select(MinHashExpression.minhashSig(
        TextAnalysis.tokens(col("text"))).as("sig"))
      .as[Seq[Long]].collect()(0)
    assert(got == expected)
  }

  test("portable SimHash matches an independent reimplementation") {
    import graft.functions.SimHashExpression
    val text = "alpha beta gamma alpha delta"
    val tokens = text.split("\\s+").toSeq
    val votes = new Array[Int](64)
    tokens.foreach { tk =>
      val h = (poly(tk, 131L, 2147483647L) << 31) | poly(tk, 137L, 2147483629L)
      for (b <- 0 until 64)
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
    }
    val expected = (0 until 64).map(b => if (votes(b) > 0) 1L << b else 0L).reduce(_ | _)
    import spark.implicits._
    SimHashExpression.register(spark)
    val got = Seq(text).toDF("text")
      .select(SimHashExpression.simhash(
        TextAnalysis.tokens(col("text"))).as("fp"))
      .as[Long].collect()(0)
    assert(got == expected)
  }

  test("sketch SQL names equal the Scala API, with register() and with GraftExtensions") {
    import graft.functions.{CountMinSketch, SimHashExpression}
    import org.apache.spark.sql.SparkSession
    val t = sf("sf0.001")
    val q35 = Dedup.simhashFingerprints(t).limit(1).collect()(0)
    val (docId, fp) = (q35.getAs[Long]("doc_id"), q35.getAs[Long]("simhash"))
    val tks = t.documents.filter(col("doc_id") === docId)
      .select(TextAnalysis.tokens(col("text"))).collect()(0).getSeq[String](0)
    val key = UTF8String.fromString("a b")
    SimHashExpression.register(spark)
    CountMinSketch.register(spark)
    import spark.implicits._
    val api = Seq(tks).toDF("tks")
      .select(SimHashExpression.simhash(col("tks")), CountMinSketch.keyHash(lit("a b")))
      .collect()(0)
    assert(api.getLong(0) == fp)
    assert(api.getLong(1) == PortableHash.hash32(key))
    def viaSql(s: SparkSession): (Long, Long) = {
      s.createDataFrame(Seq(Tuple1(tks))).toDF("tks").createOrReplaceTempView("sketch_doc")
      val r = s.sql("SELECT graft_simhash(tks), graft_cms_key_hash('a b') FROM sketch_doc")
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(viaSql(spark) == (fp, PortableHash.hash32(key)))
    // create(), not getOrCreate(): a fresh session over the shared context
    // whose functions come from the extension injection alone
    val prior = SparkSession.getDefaultSession
    val ext = graft.core.GraftSession.builder("local[2]", 2)
      .withExtensions(new graft.core.GraftExtensions).create()
    try assert(viaSql(ext) == (fp, PortableHash.hash32(key)))
    finally prior.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
  }

  test("TokenCounts native expression equals the composable HOF form") {
    val t = sf("sf0.001")
    val native = TextAnalysis.tokenCounts(t)
    val hof = TextAnalysis.tokenCountsHof(t)
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("TokenCounts handles edge cases like the regex tokenizer") {
    import spark.implicits._
    graft.functions.TokenCountsExpression.register(spark)
    val rows = Seq(
      "",                     // empty
      "   ",                  // spaces only
      "ABC-12x!  7",          // mixed case, punct, digit runs
      "a\tb\nc",              // tab/newline are single-char tokens
      "aa aa AA 11 11 ..")    // dup tokens across case fold
      .toDF("text")
    val native = rows.select(
      graft.functions.TokenCountsExpression.tokenCounts(col("text")).as("tc"))
      .select("tc.*").collect().map(_.toSeq)
    val tks = TextAnalysis.bpeishTokens(col("text"))
    val hof = rows.select(
      size(tks).as("n_tokens"),
      size(array_distinct(tks)).as("n_distinct_tokens"),
      size(filter(tks, tk => tk.rlike("^[a-z]+$"))).as("n_alpha_tokens"),
      size(filter(tks, tk => tk.rlike("^[0-9]+$"))).as("n_digit_tokens"))
      .collect().map(_.toSeq)
    assert(native.toSeq == hof.toSeq)
  }

  test("KMV is exact below k and layout-independent") {
    import spark.implicits._
    val df = (1 to 100).map(i => i % 40).toDF("x") // 40 distinct values
    def est(d: org.apache.spark.sql.DataFrame) = d
      .select(KmvSketch.hash31(col("x")).as("h"))
      .agg(KmvSketch.kmvDistinct(col("h"), k = 256))
      .collect()(0).getDouble(0)
    assert(est(df) == 40.0) // below k: exact count of distinct hashes
    assert(est(df.repartition(7)) == 40.0) // partition layout irrelevant
  }

  test("KMV estimate within theoretical error of exact distinct (k=256)") {
    val t = sf("sf0.001")
    val exact = t.orders.select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val kmv = t.orders
      .select(KmvSketch.hash31(col("o_custkey")).as("h"))
      .agg(KmvSketch.kmvDistinct(col("h"), 256)).collect()(0).getDouble(0)
    val relErr = math.abs(kmv - exact) / exact.toDouble
    assert(relErr < 4.0 / math.sqrt(256.0), s"exact=$exact kmv=$kmv relErr=$relErr")
  }

  test("KMV estimate is stable under repartition at scale > k") {
    val t = sf("sf0.001")
    def run(parts: Int) = t.orders.repartition(parts)
      .select(col("o_orderpriority"), KmvSketch.hash31(col("o_custkey")).as("h"))
      .groupBy("o_orderpriority")
      .agg(KmvSketch.kmvDistinct(col("h"), 64).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(run(2) == run(13)) // merge path must be order/layout independent
  }

  test("native KmvDistinctNative matches the udaf Aggregator bit-for-bit") {
    val t = sf("sf0.001")
    graft.functions.KmvSketch.register(spark)
    def both(parts: Int) = {
      def base = t.orders.repartition(parts)
        .select(col("o_orderpriority"), KmvSketch.hash31(col("o_custkey")).as("h"))
        .groupBy("o_orderpriority")
      val u = base.agg(KmvSketch.kmvDistinct(col("h"), 64).as("e"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val n = base.agg(KmvSketch.kmvDistinctNative(col("h"), 64).as("e"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      (u, n)
    }
    val (u2, n2) = both(2)
    val (u13, n13) = both(13)
    // same estimate from both implementations, under either layout —
    // exercises update, shuffle serialize/deserialize, and merge
    assert(u2 == n2)
    assert(u13 == n13)
    assert(n2 == n13)
  }

  test("approx_percentile tracks exact percentile_disc within contract") {
    // the sketch twin of q51 (same exact/approx pairing as q04/q40): the
    // t-digest's rank error at accuracy 10000 must keep the value within
    // 2% of the exact discrete percentile on this distribution
    val t = sf("sf0.001")
    val both = t.orders.groupBy(col("o_orderpriority")).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"))
      .collect()
    both.foreach { r =>
      val e = r.getAs[Double]("exact"); val a = r.getAs[Double]("approx")
      assert(math.abs(a - e) / e < 0.02, s"${r.getString(0)}: exact=$e approx=$a")
    }
  }

  test("KMV state/merge: merged states equal the direct estimate, any layout") {
    import graft.functions.KmvSketch
    KmvSketch.register(spark)
    import spark.implicits._
    val df = (0 until 20000).map(i => (i % 4, (i % 3000) * 13L)).toDF("g", "key")
      .select(col("g"), KmvSketch.hash31(col("key")).as("h"))
    // direct estimate per group vs merge of per-partition states
    val direct = df.groupBy(col("g"))
      .agg(KmvSketch.kmvDistinctNative(col("h")).as("d"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (parts <- Seq(3, 17)) {
      val states = df.repartition(parts)
        .withColumn("p", spark_partition_id())
        .groupBy(col("g"), col("p"))
        .agg(KmvSketch.kmvState(col("h")).as("st"))
      val merged = states.groupBy(col("g"))
        .agg(KmvSketch.kmvMerge(col("st")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(merged == direct, s"parts=$parts")
    }
    // below k distinct the estimate is exact
    val small = (0 until 100).map(i => i.toLong).toDF("key")
      .select(KmvSketch.hash31(col("key")).as("h"))
    val st = small.agg(KmvSketch.kmvState(col("h")).as("st"))
    assert(st.agg(KmvSketch.kmvMerge(col("st"))).collect()(0).getDouble(0) == 100.0)
  }

  test("CMS estimates dominate exact counts, bounded, layout-independent") {
    import graft.functions.CountMinSketch
    val t = sf("sf0.001")
    val out = graft.ext.TextAnalysis.cmsHeavyHitters(t, k = 100).collect()
    assert(out.length == 100)
    // one-sided error: every estimate >= exact count
    out.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("n_occurrences"),
        s"underestimate in ${r.getString(0)}")
      assert(r.getAs[Long]("overestimate") ==
        r.getAs[Long]("cms_estimate") - r.getAs[Long]("n_occurrences"))
    }
    // CMS bound: overestimate <= eps*N (N = total bigram occurrences,
    // eps ~ e/width), checked at 4x slack so corpus wiggle can't flake
    val n = t.documents
      .select(greatest(
        size(graft.ext.TextAnalysis.tokens(lower(col("text")))) - 1, lit(0))
        .cast("long").as("nb"))
      .agg(sum(col("nb"))).collect()(0).getLong(0)
    val bound = 4.0 * math.E * n / CountMinSketch.Width
    out.foreach(r => assert(r.getAs[Long]("overestimate") <= bound,
      s"${r.getString(0)}: overestimate ${r.getAs[Long]("overestimate")} > $bound"))
    // layout independence: the sketch state is identical under any
    // partitioning (merge is elementwise addition — commutative)
    CountMinSketch.register(spark)
    import spark.implicits._
    val words = (0 until 5000).map(i => s"w${i % 700}").toDF("k")
    def state(parts: Int): Seq[Long] = words.repartition(parts)
      .agg(CountMinSketch.cmsSketch(col("k"))).collect()(0)
      .getSeq[Long](0)
    val s3 = state(3)
    assert(s3 == state(17))
    assert(s3.sum == 5000L * CountMinSketch.Depth) // every lane counts every row
  }

  test("KMV merge with a smaller k degrades to the merge-side k, no crash") {
    import graft.functions.KmvSketch
    KmvSketch.register(spark)
    import spark.implicits._
    // States built at k=256, merged at k=64: the 64 smallest hashes of the
    // union are contained in every partition's 256 smallest, so the merged
    // estimate must EQUAL the direct k=64 estimate — previously this threw
    // ArrayIndexOutOfBoundsException on deserialization.
    val df = (0 until 20000).map(i => (i % 3000) * 13L).toDF("key")
      .select(KmvSketch.hash31(col("key")).as("h"))
    val direct = df.agg(KmvSketch.kmvDistinctNative(col("h"), 64))
      .collect()(0).getDouble(0)
    val merged = df.repartition(7)
      .withColumn("p", spark_partition_id())
      .groupBy(col("p")).agg(KmvSketch.kmvState(col("h"), 256).as("st"))
      .agg(KmvSketch.kmvMerge(col("st"), 64))
      .collect()(0).getDouble(0)
    assert(merged == direct, s"direct=$direct merged=$merged")
    // merging UP is a hard error, not a silent underestimate: a saturated
    // k=256 state presented at k=512 would report its 256 minima as an
    // "exact" count regardless of the true cardinality
    val up = intercept[Exception] {
      df.repartition(7)
        .withColumn("p", spark_partition_id())
        .groupBy(col("p")).agg(KmvSketch.kmvState(col("h"), 256).as("st"))
        .agg(KmvSketch.kmvMerge(col("st"), 512))
        .collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(up).exists(_.contains("merge k")), rootMessages(up).mkString("; "))
  }

  test("CMS SQL registration accepts the one-argument form") {
    import graft.functions.CountMinSketch
    CountMinSketch.register(spark)
    import spark.implicits._
    (0 until 100).map(i => s"w${i % 7}").toDF("k").createOrReplaceTempView("cms_one_arg")
    val row = spark.sql(
      """SELECT graft_cms_sketch(k) AS st, graft_cms_key_hash('w0') AS h
        |FROM cms_one_arg""".stripMargin).collect()(0)
    assert(row.getSeq[Long](0).sum == 100L * CountMinSketch.Depth)
    assert(row.getLong(1) == PortableHash.hash32(UTF8String.fromString("w0")))
    // one arity: a second argument is an analysis error, not ignored
    for (call <- Seq("graft_cms_key_hash('w0', false)", "graft_cms_sketch(k, true)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $call FROM cms_one_arg").collect())
      assert(e.getMessage.contains("WRONG_NUM_ARGS"), e.getMessage)
    }
  }

  test("grid-refined equi-depth edges hit their target ranks within a cell") {
    // Accuracy contract binding the q107/q108 production path to the
    // exact-percentile oracle twin (q102/q105). The guarantee is in RANK
    // space, which is what equi-depth means: the number of rows at or
    // below each approximate edge is within one crossing-cell's
    // population of the target rank i·n/b (value-space distance is
    // data-gap-dependent and NOT bounded — sparse regions put adjacent
    // order statistics many cells apart).
    val t = sf("sf0.001")
    val grid = 4096
    val buckets = 10
    val mm = t.orders.agg(min(col("o_totalprice")), max(col("o_totalprice")),
      count(lit(1))).collect()(0)
    val (mn, mx, n) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2))
    // densest grid cell = the worst-case rank error of in-cell uniform
    // interpolation
    val cell = least(floor((col("o_totalprice") - lit(mn)) / lit(mx - mn)
      * lit(grid.toDouble)).cast("int"), lit(grid - 1))
    val maxCell = t.orders.select(cell.as("b")).groupBy("b").count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    val edges = graft.operators.Analytics
      .gridQuantileEdges(t.orders, "o_totalprice", Nil, buckets, grid)
      .collect()(0)
    (0 until buckets - 1).foreach { i =>
      val e = edges.getDouble(i)
      val rank = t.orders.filter(col("o_totalprice") <= e).count()
      val target = (i + 1).toDouble * n / buckets
      assert(math.abs(rank - target) <= maxCell + 1,
        s"edge ${i + 1}: rank=$rank target=$target maxCell=$maxCell")
    }
    // and the buckets those edges induce are near-equal depth (each bucket
    // is bounded by two edges, each off by at most maxCell rows)
    val counts = graft.operators.Analytics.equiDepthHistogramApprox(t)
      .collect().map(_.getAs[Long]("n_orders"))
    assert(counts.sum == n)
    counts.foreach(c => assert(
      math.abs(c - n.toDouble / buckets) <= 2 * maxCell + 2,
      s"bucket depth $c far from ${n.toDouble / buckets} (maxCell=$maxCell)"))
  }

  test("grid-edge rank contract holds on adversarial distributions") {
    // property-style sweep: uniform, heavy-tailed (exp), clustered ties,
    // and near-constant data — the rank-space guarantee (edge rank within
    // one crossing-cell population of target) must hold on all of them
    import spark.implicits._
    val grid = 1024
    val buckets = 10
    val shapes: Seq[(String, Seq[Double])] = Seq(
      ("uniform", (1 to 2000).map(i => (i * 2654435761L % 10007).toDouble)),
      ("exp-tail", (1 to 2000).map(i => math.exp((i * 2654435761L % 997) / 100.0))),
      ("ties", (1 to 2000).map(i => (i % 7).toDouble)),
      ("near-constant", Seq.fill(1999)(42.0) :+ 43.0))
    shapes.foreach { case (name, xs) =>
      val df = xs.toDF("v")
      val mm = df.agg(min(col("v")), max(col("v")), count(lit(1))).collect()(0)
      val (mn, mx, n) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2))
      val cell = when(lit(mx) === lit(mn), lit(0)).otherwise(
        least(floor((col("v") - lit(mn)) / lit(mx - mn) * lit(grid.toDouble))
          .cast("int"), lit(grid - 1)))
      val maxCell = df.select(cell.as("b")).groupBy("b").count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      val edges = graft.operators.Analytics
        .gridQuantileEdges(df, "v", Nil, buckets, grid).collect()(0)
      (0 until buckets - 1).foreach { i =>
        val e = edges.getDouble(i)
        val rank = xs.count(_ <= e)
        val target = (i + 1).toDouble * n / buckets
        assert(math.abs(rank - target) <= maxCell + 1,
          s"$name edge ${i + 1}: rank=$rank target=$target maxCell=$maxCell")
      }
    }
  }

  test("q109 cumulative quantiles: monotone counts, ordered percentiles") {
    val t = sf("sf0.001")
    val rows = graft.operators.Analytics.cumulativeQuantiles(t).collect()
    assert(rows.nonEmpty)
    // cumulative event counts never decrease; p50 <= p90 on every day;
    // the last day's count equals the table's non-null total
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cum_events") <= b.getAs[Long]("cum_events"))
      case _ => ()
    }
    rows.foreach(r => assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90"),
      s"${r.get(0)}: p50 > p90"))
    val total = t.events.filter(col("value").isNotNull).count()
    assert(rows.last.getAs[Long]("cum_events") == total)
  }

  test("HLL sketch-vs-exact contract: within 5x rsd on every group") {
    // the built-in HLL path (kept alongside the oracle-checkable KMV) must
    // track the exact distinct counts of q04 within its error contract
    val t = sf("sf0.001")
    val exact = graft.operators.Analytics.countDistinctByPriority(t)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("distinct_customers")).toMap
    val rsd = 0.05
    val approx = graft.operators.Analytics.approxDistinct(t, rsd)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("approx_customers")).toMap
    exact.foreach { case (g, e) =>
      val a = approx(g)
      assert(math.abs(a - e).toDouble / e <= 5 * rsd, s"group=$g exact=$e hll=$a")
    }
  }
}

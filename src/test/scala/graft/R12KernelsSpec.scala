package graft

import graft.functions.{BpeApplyExpression, IntersectExpressions, KmvSketch, SpanRemoveExpression}
import org.apache.spark.sql.functions._

/** Round-12 native kernels: each pinned bit-for-bit against the composable
  * form it replaced. */
class R12KernelsSpec extends SparkSpec {

  // ── SortedLongIntersectCount ───────────────────────────────────────────

  test("sorted intersect count equals size(array_intersect) on random sorted-distinct arrays") {
    IntersectExpressions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def arr(): Array[Long] =
      (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(60).toLong).distinct.sorted.toArray
    val rows = (1 to 500).map(_ => (arr(), arr()))
    val df = rows.toDF("a", "b")
    val both = df.select(
      IntersectExpressions.sortedIntersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() == 0)
    assert(both.filter(col("ref") > 0).count() > 100) // non-trivial overlap
  }

  test("sorted intersect count: empties and nulls") {
    IntersectExpressions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L), Array.empty[Long])).toDF("a", "b")
    assert(df.select(IntersectExpressions.sortedIntersectCount(col("a"), col("b")))
      .collect()(0).getLong(0) == 0L)
    val withNull = df.select(IntersectExpressions.sortedIntersectCount(
      lit(null).cast("array<bigint>"), col("a"))).collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  // ── BpeApplyMerges ─────────────────────────────────────────────────────

  /** Reference greedy scan in plain Scala: the ground truth both the old
    * runs-parity windows and the native expression must equal. */
  private def refApply(toks: Seq[String], pairs: Seq[(String, String)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && pairs.exists(p => p._1 == toks(i) && p._2 == toks(i + 1))) {
        out += toks(i) + toks(i + 1); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  test("bpe apply equals the sequential greedy scan, overlapping runs included") {
    BpeApplyExpression.register(spark)
    import spark.implicits._
    val words = Seq(
      "aaaa", "aaa", "aa", "a", "banana", "abab", "aab", "baa", "",
      "mississippi", "xaaay", "aaxaa")
    val df = words.map(w => Tuple1(w.map(_.toString).toArray)).toDF("toks")
    val pairs = Seq(("a", "a"), ("s", "s"), ("b", "a"))
    val got = df.select(col("toks"), BpeApplyExpression.bpeApply(
        col("toks"), lit(pairs.map(_._1).toArray), lit(pairs.map(_._2).toArray)).as("r"))
      .collect()
    got.foreach { row =>
      val toks = row.getSeq[String](0)
      val expect = refApply(toks, pairs)
      assert(row.getSeq[String](1) == expect, s"toks=$toks")
    }
  }

  test("bpe training is unchanged by the native apply (q117 rules over sf0.001)") {
    // The oracle gate pins this too; this is the fast local pin.
    val rules = graft.ext.Bpe.bpeMerges(sf(), merges = 8).collect()
    assert(rules.length == 8)
    assert(rules.map(_.getInt(0)).toSeq == (1 to 8)) // ranks dense
    // merged = left || right for every rule
    rules.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
  }

  // ── SpanRemove ─────────────────────────────────────────────────────────

  test("span remove equals the covered-position anti-join form") {
    SpanRemoveExpression.register(spark)
    import spark.implicits._
    val k = 3
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      val n = rnd.nextInt(30)
      val toks = (0 until n).map(i => s"t${rnd.nextInt(5)}")
      val nPs = rnd.nextInt(5)
      val ps = (0 until nPs).map(_ => rnd.nextInt(math.max(n, 1))).distinct.sorted
      (toks.toArray, ps.toArray)
    }
    val df = rows.toDF("tks", "ps")
    val got = df.select(col("tks"), col("ps"),
      SpanRemoveExpression.spanRemove(col("tks"), col("ps"), lit(k)).as("r")).collect()
    got.foreach { row =>
      val tks = row.getSeq[String](0)
      val ps = row.getSeq[Int](1)
      val covered = ps.flatMap(p => p until (p + k)).toSet
      val kept = tks.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      val r = row.getStruct(2)
      assert(r.getLong(0) == kept.length.toLong, s"tks=$tks ps=$ps")
      assert(r.getString(1) == kept.mkString(" "), s"tks=$tks ps=$ps")
    }
  }

  test("span remove: null positions mean no removal; null tokens row is null") {
    SpanRemoveExpression.register(spark)
    import spark.implicits._
    val df = Seq(Tuple1(Array("a", "b", "c"))).toDF("tks")
    val r = df.select(SpanRemoveExpression.spanRemove(
      col("tks"), lit(null).cast("array<int>"), lit(15)).as("r")).collect()(0).getStruct(0)
    assert(r.getLong(0) == 3L && r.getString(1) == "a b c")
    val nul = df.select(SpanRemoveExpression.spanRemove(
      lit(null).cast("array<string>"), lit(null).cast("array<int>"), lit(15))).collect()
    assert(nul.forall(_.isNullAt(0)))
  }

  // ── KmvMultiDistinct ───────────────────────────────────────────────────

  test("fused multi-KMV equals N independent native KMV aggregates") {
    KmvSketch.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 5000).map(_ =>
      (rnd.nextInt(4000).toLong, rnd.nextInt(50).toLong, rnd.nextInt(700).toLong))
    val df = rows.toDF("x", "y", "z")
      .select(KmvSketch.hash31(col("x")).as("hx"),
        KmvSketch.hash31(col("y")).as("hy"),
        KmvSketch.hash31(col("z")).as("hz"))
    val k = 64
    val fused = df.agg(KmvSketch.kmvMultiDistinct(
      Seq(col("hx"), col("hy"), col("hz")), k).as("e")).collect()(0).getSeq[Double](0)
    val indep = df.agg(
      KmvSketch.kmvDistinctNative(col("hx"), k).as("ex"),
      KmvSketch.kmvDistinctNative(col("hy"), k).as("ey"),
      KmvSketch.kmvDistinctNative(col("hz"), k).as("ez")).collect()(0)
    assert(fused(0) == indep.getDouble(0)) // bitwise: same buffers, same estimator
    assert(fused(1) == indep.getDouble(1))
    assert(fused(2) == indep.getDouble(2))
    assert(fused(1) == 50.0) // below-k column is exact
  }

  // ── OrderedPairs ───────────────────────────────────────────────────────

  test("ordered pairs equals the a<b self-join on random sorted-distinct arrays") {
    graft.functions.PairsExpression.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      val items = (0 until rnd.nextInt(12))
        .map(_ => s"Brand#${rnd.nextInt(30)}%02d").distinct.sorted.toArray
      (i.toLong, items)
    }
    val df = rows.toDF("basket", "items")
    val native = df
      .select(col("basket"),
        explode(graft.functions.PairsExpression.orderedPairs(col("items"))).as("p"))
      .select(col("basket"), col("p.a").as("a"), col("p.b").as("b"))
    val flat = df.select(col("basket"), explode(col("items")).as("item"))
    val joined = flat.as("x").join(flat.as("y"),
        col("x.basket") === col("y.basket") && col("x.item") < col("y.item"))
      .select(col("x.basket").as("basket"), col("x.item").as("a"), col("y.item").as("b"))
    assert(native.exceptAll(joined).count() == 0)
    assert(joined.exceptAll(native).count() == 0)
    assert(native.count() > 500) // non-trivial expansion actually exercised
  }

  test("ordered pairs: empty, singleton, and null inputs") {
    graft.functions.PairsExpression.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Array.empty[String]), (2L, Array("only")), (3L, null)
    ).toDF("id", "items")
    val out = df.select(col("id"),
      graft.functions.PairsExpression.orderedPairs(col("items")).as("ps"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getSeq[Any](1).size))
      .toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> -1))
  }

  // ── DistributedIds ─────────────────────────────────────────────────────

  test("DistributedIds.uniqueIds assigns a deterministic positive bijection") {
    import spark.implicits._
    val keys = (1 to 997).map(i => f"k$i%04d").reverse
    val inputs = Seq(
      "distinct keys" -> keys.toDF("term").repartition(7),
      "duplicate keys" -> (keys ++ keys.take(300)).toDF("term").repartition(7),
      "checkpointed" -> keys.toDF("term").repartition(7).localCheckpoint())
    inputs.foreach { case (label, input) =>
      def run() = graft.core.DistributedIds.uniqueIds(input, "term", "tid")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val ids = run()
      assert(ids.length == 997, label)                        // one id per key
      assert(ids.map(_._1).distinct.length == 997, label)
      assert(ids.map(_._2).distinct.length == 997, label)     // injective
      assert(ids.forall(_._2 >= 1L), label)                   // positive
      assert(run().toMap == ids.toMap, label)                 // deterministic
    }
  }

  test("DistributedIds.uniqueIds over an aggregate plans inside Catalyst: no cache, no extra exchange") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{ExternalRDD, ExternalRDDScanExec, LogicalRDD, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val agg = spark.range(0, 5000)
      .select(concat(lit("k"), (col("id") % 997).cast("string")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ids = graft.core.DistributedIds.uniqueIds(agg, "term", "tid")
    val logical = ids.queryExecution.optimizedPlan
    assert(logical.collect {
      case p @ (_: InMemoryRelation | _: LogicalRDD | _: ExternalRDD[_]) => p
    }.isEmpty, logical.treeString)
    assert(logical.distinctKeys.exists(_.toSeq match {
      case Seq(a: AttributeReference) => a.name == "term"
      case _ => false
    }), s"distinctKeys ${logical.distinctKeys}")
    assert(ids.collect().length == 997)
    val helper = new AdaptiveSparkPlanHelper {}
    val physical = ids.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    assert(helper.collect(physical) {
      case p @ (_: InMemoryTableScanExec | _: RDDScanExec | _: ExternalRDDScanExec[_]) => p
    }.isEmpty, physical.treeString)
    val exchanges = helper.collect(physical) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1 &&
      exchanges.head.outputPartitioning.isInstanceOf[HashPartitioning], physical.treeString)
  }
}

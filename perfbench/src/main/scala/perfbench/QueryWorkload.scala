package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The job-heavy query workload: a closed loop of passes over registered
  * queries on the committed sf0.01 fixture, every query once per pass, in an
  * order drawn from the seed. Two untimed passes, the first one checked,
  * come before the timed ones. At this scale fixed costs dominate: job count,
  * driver work between jobs, checkpoint materialisation and planning. */
object QueryWorkload {

  val Name = "sf001_iterative"

  val Queries: Seq[String] = Seq(
    "q117_bpe_merges", "q138_sparse_cosine_pairs", "q196_mmr_rerank")

  val Setups = 5

  def order(qs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(qs)

  private def loadExpected(a: Args): Map[String, Fingerprint] = {
    val f = new java.io.File(a.expectedFile)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val doc = try Json.parse(src.mkString) finally src.close()
      doc.asInstanceOf[Map[String, Any]]("queries").asInstanceOf[Map[String, Any]].map {
        case (q, v) =>
          val m = v.asInstanceOf[Map[String, Any]]
          q -> Fingerprint(m("rows").asInstanceOf[Double].toLong,
            m("hash").asInstanceOf[String], m("schema").asInstanceOf[String])
      }
    }
  }

  def run(a: Args, ledger: Ledger, tracer: Tracer): Map[String, Any] = {
    val fns = SparkEntry.queries
    val missing = Queries.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not registered: $missing")
    val expected = loadExpected(a)
    require(a.record || Queries.forall(expected.contains),
      s"${a.expectedFile} lacks expected outputs for some of $Queries")
    val peak = new PeakMemListener
    val setupS = mutable.ArrayBuffer[Double]()
    val inputFacts = mutable.LinkedHashMap[String, Any]()
    val seen = mutable.LinkedHashMap[String, Fingerprint]()
    var spark: SparkSession = null
    val dir = a.fixture

    for (rep <- 1 to Setups) {
      val repDir = s"${a.work}/rep$rep"
      val (_, ms) = Run.timeMs {
        spark = Run.session(a, repDir,
          GraftSession.shufflePartitionsFor(GraftSession.inputBytes(dir), a.cores))
        tracer.bind(spark)
        tracer.register(spark)
        spark.sparkContext.addSparkListener(peak)
      }
      setupS += ms / 1000
      if (rep == 1) inputFacts ++= Inputs.facts(spark, dir)
      if (rep < Setups) {
        Run.stop(spark)
        Run.deleteTree(new java.io.File(repDir))
        System.gc()
      }
    }

    // the first pass warms the session and checks every query's output
    tracer.phase = "first_pass"
    val (_, firstMs) = Run.timeMs(order(Queries, a.seed, -1).foreach { q =>
      ledger.attempt(q)(Fingerprint.of(fns(q)(spark, dir))).foreach { fp =>
        seen(q) = fp
        expected.get(q).foreach(e => ledger.check(s"$q output", e == fp, s"expected $e, got $fp"))
      }
    })
    // one more untimed pass: in ten runs without it, the first pass after
    // the checked one ran 6-49% slower than the pass after it
    tracer.active = false
    order(Queries, a.seed, -2).foreach(q => ledger.attempt(q)(noop(fns(q)(spark, dir))))
    System.gc()

    // timed passes; a traced run makes at least four and traces them
    // A B B A, so that a steady trend cancels out of the overhead
    tracer.phase = "timed"
    tracer.resetStorage()
    peak.reset()
    val createsBefore = tracer.creates("timed")
    val nPasses = if (a.trace) math.max(4, Run.passes(a.seconds)) else Run.passes(a.seconds)
    val ops = mutable.ArrayBuffer[Timed]()
    val passes = mutable.ArrayBuffer[Timed]()
    val passSpans = mutable.ArrayBuffer[SpanRec]()
    for (pass <- 0 until nPasses) {
      tracer.active = Run.tracedAt(pass)
      val traced = tracer.recording
      val (_, passMs) = Run.timeMs(tracer.span("query", s"pass$pass") {
        order(Queries, a.seed, pass).foreach { q =>
          val (ok, ms) = Run.timeMs(ledger.attempt(q)(tracer.span("query", q) {
            noop(fns(q)(spark, dir))
          }))
          if (ok.isDefined) ops += Timed(q, ms, traced)
        }
      })
      passes += Timed("pass", passMs, traced)
      if (traced) passSpans += tracer.spans.last
      System.gc()
    }
    val heapPeak = HeapAfterGc.peakBytes
    tracer.drain(spark)
    tracer.settle()

    val untracedPasses = passes.filterNot(p => a.trace && p.traced)
    val untracedOps = ops.filterNot(o => a.trace && o.traced)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "pass_s" -> Run.meanS(untracedPasses.toSeq),
      "first_pass_s" -> firstMs / 1000) ++
      Queries.sorted.zipWithIndex.map { case (q, i) =>
        s"op${i + 1}_p50_ms" -> Stats.median(untracedOps.filter(_.name == q).map(_.ms).toSeq)
      }

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val perPass = Layers.medians(passSpans.map(s => Layers.engine(tracer, s, a.cores)).toSeq)
        val tracedOps = ops.filter(_.traced)
        perPass ++ Map(
          "storage.cached_peak_mb" -> tracer.cachedPeakBytes / Run.MiB,
          "storage.blocks_put" -> tracer.blocksPut.toDouble / passes.size,
          "jvm.heap_after_gc_peak_mb" -> heapPeak / Run.MiB,
          "sources.artifact_builds_setup" ->
            (tracer.creates("setup") / Setups + tracer.creates("first_pass")).toDouble,
          "sources.artifact_builds_timed" ->
            (tracer.creates("timed") - createsBefore).toDouble / passes.size,
          "trace.overhead_frac" -> Run.overhead(ops.toSeq),
          "trace.noise_frac" -> Run.noiseFloor(ops.toSeq)) ++
          tracedOps.groupBy(_.name).map { case (q, g) =>
            s"query.${q}_s" -> Stats.median(g.map(_.ms / 1000).toSeq)
          }
      }

    val record = Map(
      "inputs" -> inputFacts,
      "setup_s" -> setupS,
      "passes" -> passes.map(p => Map("s" -> p.ms / 1000, "traced" -> p.traced)),
      "query_s" -> timingsByName(untracedOps.toSeq),
      "operation_metrics" -> Map(
        "setup_s" -> e2e("setup_s"),
        "first_pass_s" -> e2e("first_pass_s"),
        "pass_s" -> e2e("pass_s"),
        "query_p50_s" -> Run.timing(untracedOps.map(_.ms / 1000).toSeq),
        "peak_task_mem_mb" -> peak.peakBytes / Run.MiB),
      "fingerprints" -> seen.map { case (q, fp) =>
        q -> Map("rows" -> fp.rows, "hash" -> fp.hash, "schema" -> fp.schema)
      })
    if (a.record) writeExpected(a, seen.toMap)
    Run.stop(spark)
    Map("e2e" -> e2e, "layers" -> layers, "record" -> record)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Timing of each operation name, in seconds unless `scale` says
    * otherwise (1.0 keeps milliseconds). */
  def timingsByName(ops: Seq[Timed], scale: Double = 1e-3): Map[String, Any] =
    ops.groupBy(_.name).map { case (n, g) => n -> Run.timing(g.map(_.ms * scale)) }

  private def writeExpected(a: Args, fps: Map[String, Fingerprint]): Unit = {
    val doc = Map(
      "note" -> ("Row count and order-independent fingerprint of each query's " +
        "output on this workload's input; see perfbench/README.md."),
      "queries" -> scala.collection.immutable.ListMap(fps.toSeq.sortBy(_._1).map {
        case (q, fp) => q -> Map("rows" -> fp.rows, "hash" -> fp.hash, "schema" -> fp.schema)
      }: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.expectedFile),
      (Json.render(doc) + "\n").getBytes("UTF-8"))
  }
}

package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.sources.Sources
import graft.taxi.{TaxiData, TaxiPipeline, TaxiServing}
import graft.taxi.TaxiServing.Api
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference's own surface, and the only workload that writes. After
  * a bulk load, each pass is one batch increment published to the serving
  * database, dashboard refreshes from one closed-loop client, and rounds of
  * the two-hop CDC cascade. The sizes are set from measurements given in
  * perfbench/README.md. */
object Lakehouse {

  val Name = "lakehouse_cycle"
  val Setups = 3
  val Trips = 20000
  val StepMs: Long = 6L * 3600 * 1000
  /** Increments after the bulk load at most; each advances the lake's
    * `now` by [[StepMs]]. */
  val MaxIncrements = 4
  /** Untimed increments in the first pass: in ten runs without one, the
    * first increment after the bulk load ran 10-75% slower than the one
    * after it. */
  val WarmIncrements = 1
  val CascadeBatchRows = 64
  /** Rounds 1 to 5 run 8-23% slower than the rounds after them; the timed
    * rounds start at round 6. */
  val CascadeWarmRounds = 5
  /** Dashboard refreshes per pass, 7 requests each. */
  val Refreshes = 2
  val CascadeRounds = 5
  val MetricKeys = Seq("location_id", "trip_date", "hour", "weather_condition")
  val ServingTable = "zone_performance_metrics"

  val Endpoints: Seq[String] = Seq("recent_trips", "zone_metrics", "time_series",
    "demand_predictions", "realtime_activity", "dashboard_stats", "jdbc_read")

  /** `now` of increment k; increment 0 is the first pass's bulk load. */
  def nowOf(k: Int): Timestamp =
    new Timestamp(TaxiData.anchor.getTime - (MaxIncrements - k) * StepMs)

  /** One set-up's lake: its tables, serving database and cache epoch. */
  final class Lake(val spark: SparkSession, inputs: String, val db: String,
                   val url: String, val epochMs: Long) {
    lazy val raw: (DataFrame, DataFrame, DataFrame) = (
      spark.read.parquet(s"$inputs/trips.parquet"), spark.read.parquet(s"$inputs/weather.parquet"),
      spark.read.parquet(s"$inputs/zones.parquet"))
    def lakeTable: String = s"${db}_zone_performance_metrics"
    def trips: DataFrame = spark.table(s"${db}_trips")
    def zones: DataFrame = spark.table(s"${db}_taxi_zones")
    val clock: () => Long = () => System.currentTimeMillis() + epochMs
  }

  /** The run's raw inputs: seeded trips over 7 days, seeded weather and
    * the zone dimension, as parquet under `dir`. */
  def writeRaw(spark: SparkSession, dir: String, seed: Long): Unit = {
    TaxiData.rawTrips(spark, Trips, days = 7, seed = seed)
      .write.mode("overwrite").parquet(s"$dir/trips.parquet")
    TaxiData.rawWeather(spark, days = 8, seed = seed + 1)
      .write.mode("overwrite").parquet(s"$dir/weather.parquet")
    TaxiData.rawZones(spark).write.mode("overwrite").parquet(s"$dir/zones.parquet")
  }

  def cycle(l: Lake, k: Int): TaxiPipeline.PipelineResult = {
    val (trips, weather, zones) = l.raw
    val now = nowOf(k)
    TaxiPipeline.runBatchCycle(l.spark,
      trips.filter(col("tpep_pickup_datetime").isNull || col("tpep_pickup_datetime") <= lit(now)),
      weather, zones, now, now, l.db)
  }

  def publish(l: Lake): Unit =
    TaxiServing.publishToServingDb(l.spark, l.lakeTable, l.url, ServingTable, MetricKeys,
      coalesceTo = math.min(Runtime.getRuntime.availableProcessors, 8))

  /** Lake rows missing from, or different in, the serving table. */
  def unserved(l: Lake): Long = {
    val lake = l.spark.table(l.lakeTable)
    lake.exceptAll(Sources.readJdbc(l.spark, l.url, ServingTable)
      .select(lake.columns.map(col).toIndexedSeq: _*)).count()
  }

  /** One serving request; returns the rows it served. Parameter lists
    * have at most 3 values and request `i` of an endpoint takes value
    * `i % 3` of each, so every 3 requests cover each value once. */
  def request(l: Lake, endpoint: String, i: Int, now: Timestamp): Long = {
    def pick[T](xs: T*): T = xs(i % xs.size)
    endpoint match {
      case "recent_trips" =>
        Api.recentTrips(l.trips, now, pick(10, 50, 100), pick(6, 24, 72)).collect().length
      case "zone_metrics" =>
        Api.zoneMetrics(l.trips, l.zones, new Timestamp(now.getTime - pick(1, 3, 7) * 86400000L),
          now, pick(10, 50)).collect().length
      case "time_series" =>
        Api.timeSeries(l.trips, now, pick("trip_count", "revenue", "avg_fare"), pick(1, 3, 7))
          .collect().length
      case "demand_predictions" =>
        Api.demandPredictions(l.trips, l.zones, now, pick(6, 24), pick(5, 20)).collect().length
      case "realtime_activity" =>
        Api.realTimeActivity(l.trips, l.zones, now, pick(30, 60, 240)).collect().length
      case "dashboard_stats" =>
        Api.cachedDashboardStats(l.spark, l.trips, l.zones, now, nowMs = l.clock)
          .top_zones.size.toLong
      case "jdbc_read" =>
        Sources.readJdbc(l.spark, l.url, ServingTable)
          .filter(col("total_pickups") > pick(1, 2, 3))
          .select(col("zone_name"), col("total_pickups")).count()
    }
  }

  /** The two-hop cascade: CDC envelopes → windowed zone aggregates →
    * activity scores, each hop a streaming query over the previous one's
    * parquet output. */
  final class Cascade(spark: SparkSession, dir: String, seed: Long) {
    private val in = s"$dir/cascade/in"
    private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    /** Distinct zones of each appended batch: the groups its window closes. */
    val zonesPerBatch = mutable.ArrayBuffer[Int]()
    var q1: StreamingQuery = null
    var q2: StreamingQuery = null

    def append(round: Int): Unit = {
      import spark.implicits._
      val rnd = new scala.util.Random(seed * 7919L + round)
      val ts = new Timestamp(base + round * 30L * 60 * 1000)
      val rows = (0 until CascadeBatchRows).map { i =>
        val zone = rnd.nextInt(40)
        val after = s"""{\\"id\\": ${round * 1000 + i}, \\"vendor_id\\": ${1 + rnd.nextInt(3)}, """ +
          s"""\\"pickup_location_id\\": $zone, \\"trip_distance\\": ${1 + rnd.nextInt(20)}.5, """ +
          s"""\\"fare_amount\\": ${5 + rnd.nextInt(40)}.0, \\"total_amount\\": ${8 + rnd.nextInt(50)}.5}"""
        (s"""{"op": "c", "ts_ms": 1, "after": "$after", """ +
          s""""source": {"db": "d", "table": "t", "ts_ms": 1}}""", ts, zone)
      }
      zonesPerBatch += rows.map(_._3).distinct.size
      rows.map(r => (r._1, r._2)).toDF("value", "kafka_timestamp")
        .write.mode("append").parquet(in)
    }

    /** Starts both hops. A micro-batch of tens of rows runs on one shuffle
      * partition and the RocksDB state store; both settings bind when a
      * query starts, so the session's own values are restored after. */
    def start(): Unit = {
      val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), "1")
      spark.conf.set(keys(1),
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try startQueries()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    private def startQueries(): Unit = {
      append(0)
      q1 = Sources.parquetSink(
        Sources.streamFromTableDir(spark, in,
          StructType.fromDDL("value STRING, kafka_timestamp TIMESTAMP"))
          .transform(graft.streaming.Cdc.parseTrips)
          .transform(graft.streaming.TripAggregations.aggregate).writeStream,
        s"$dir/cascade/agg", s"$dir/cascade/ck1", triggerMs = 50)
      q1.processAllAvailable()
      q2 = Sources.parquetSink(
        Sources.streamFromTableDir(spark, s"$dir/cascade/agg", StructType.fromDDL(
          "window_start TIMESTAMP, window_end TIMESTAMP, pickup_zone_id INT, " +
            "total_trips BIGINT, total_revenue DOUBLE, avg_trip_distance DOUBLE, " +
            "avg_fare_amount DOUBLE, unique_vendors BIGINT"))
          .transform(graft.streaming.ZoneActivity.score).writeStream,
        s"$dir/cascade/act", s"$dir/cascade/ck2", triggerMs = 50)
      q2.processAllAvailable()
    }

    private var seenBatch = -1L
    /** Rows hop 2 consumed since the last call. */
    def hop2Rows(): Long = {
      val ps = q2.recentProgress.filter(_.batchId > seenBatch)
      ps.lastOption.foreach(p => seenBatch = p.batchId)
      ps.map(_.numInputRows).sum
    }

    def stop(): Unit = Seq(q1, q2).filter(_ != null).foreach(_.stop())
  }

  def run(a: Args, ledger: Ledger, tracer: Tracer): Map[String, Any] = {
    val peak = new PeakMemListener
    val setupS = mutable.ArrayBuffer[Double]()
    var lake: Lake = null
    var inputFacts = Map.empty[String, Any]

    for (rep <- 1 to Setups) {
      val repDir = s"${a.work}/rep$rep"
      val (spark, ms) = Run.timeMs {
        val s = Run.session(a, repDir, a.cores)
        tracer.bind(s)
        tracer.register(s)
        s.sparkContext.addSparkListener(peak)
        ledger.attempt("raw_inputs")(writeRaw(s, s"$repDir/raw", a.seed))
        s
      }
      setupS += ms / 1000
      lake = new Lake(spark, s"$repDir/raw", s"lh$rep",
        s"jdbc:derby:memory:perfbench_${ProcessHandle.current.pid}_$rep;create=true",
        rep * 1000000000L)
      if (rep == 1) inputFacts = Inputs.facts(spark, s"$repDir/raw")
      if (rep < Setups) {
        Run.stop(spark)
        Run.deleteTree(new java.io.File(repDir))
        System.gc()
      }
    }

    // the first pass: bulk load, repeated publish with the serving checks,
    // warm-up increment, one request per endpoint, cascade start and
    // warm-up rounds
    val spark = lake.spark
    tracer.phase = "first_pass"
    val cascade = new Cascade(spark, s"${a.work}/rep$Setups", a.seed)
    var round = 1
    val roundMs = mutable.ArrayBuffer[Double]()
    var roundT0 = 0L
    def cascadeRound(): Option[Long] = {
      roundT0 = System.nanoTime()
      ledger.attempt("cascade_round")(tracer.span("streaming", s"round$round") {
        cascade.append(round)
        tracer.span("streaming", "hop1")(cascade.q1.processAllAvailable())
        tracer.span("streaming", "hop2")(cascade.q2.processAllAvailable())
      }).map { _ =>
        roundMs += (System.nanoTime() - roundT0) / 1e6
        val got = cascade.hop2Rows()
        // a batch's windows close when the next batch moves the watermark
        val want = cascade.zonesPerBatch(round - 1)
        ledger.check(s"cascade round $round: hop 2 scored the closed windows",
          got == want, s"expected $want rows, got $got")
        round += 1
        got
      }
    }
    // the time of each step of the first pass, for the run record
    val firstSteps = mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val (r, ms) = Run.timeMs(body)
      firstSteps(name) = ms
      r
    }
    val (_, firstMs) = Run.timeMs {
      step("bulk_load")(ledger.attempt("initial_cycle")(cycle(lake, 0))).foreach { r =>
        ledger.check("initial cycle: trips ingested", r.tripsLoaded > 0, s"rows=${r.tripsLoaded}")
        ledger.check("initial cycle: 5 derived tables non-empty",
          r.analyticsRows.size == 5 && r.analyticsRows.values.forall(_ > 0),
          r.analyticsRows.toString)
      }
      step("publish_twice") {
        ledger.attempt("publish")(publish(lake))
        ledger.attempt("publish")(publish(lake))
      }
      step("publish_checks")(ledger.attempt("publish_checks") {
        val lakeRows = spark.table(lake.lakeTable).count()
        val served = Sources.readJdbc(spark, lake.url, ServingTable).count()
        ledger.check("publish: serving rows == lake rows after 2 publishes",
          served == lakeRows, s"lake=$lakeRows serving=$served")
        val busyServed = Sources.readJdbc(spark, lake.url, ServingTable)
          .filter(col("total_pickups") > 2).count()
        val busyLake = spark.table(lake.lakeTable).filter(col("total_pickups") > 2).count()
        ledger.check("serving read: filtered count == lake count",
          busyServed > 0 && busyServed == busyLake, s"serving=$busyServed lake=$busyLake")
      })
      step("warm_increment")((1 to WarmIncrements).foreach { k =>
        ledger.attempt("increment") { cycle(lake, k); publish(lake) }
      })
      step("requests")(Endpoints.foreach(e =>
        ledger.attempt(e)(request(lake, e, 0, nowOf(WarmIncrements)))))
      step("cascade_start")(ledger.attempt("cascade_start") {
        cascade.start()
        tracer.nameStream(cascade.q1.id.toString, "hop1")
        tracer.nameStream(cascade.q2.id.toString, "hop2")
        cascade.hop2Rows()
      })
      step("warm_rounds")(
        if (cascade.q2 != null) (1 to CascadeWarmRounds).foreach(_ => cascadeRound()))
    }
    System.gc()

    tracer.phase = "timed"
    tracer.resetStorage()
    peak.reset()
    val ops = mutable.ArrayBuffer[Timed]()
    val incSpans = mutable.ArrayBuffer[SpanRec]()
    val cycleMs, publishMs = mutable.ArrayBuffer[Double]()

    val rnd = new scala.util.Random(a.seed * 31 + 7)
    val roundSpans = mutable.ArrayBuffer[SpanRec]()
    val passS = mutable.ArrayBuffer[Double]()
    // a traced run traces the repetitions of each serving endpoint and of
    // the cascade rounds A B B A ..., and every increment
    val reps = mutable.Map[String, Int]().withDefaultValue(0)
    def traceNext(name: String): Boolean = {
      tracer.active = Run.tracedAt(reps(name))
      reps(name) += 1
      tracer.recording
    }
    // a pass: one batch increment (cycle plus publish), then dashboard
    // refreshes against it, then cascade rounds
    val passes = math.min(MaxIncrements - WarmIncrements, Run.passes(a.seconds))
    for (k <- WarmIncrements + 1 to WarmIncrements + passes) {
      val opsBefore = ops.size
      tracer.active = true
      val tr = tracer.recording
      val before = spark.table(s"${lake.db}_trips").count()
      val (res, ms) = Run.timeMs(ledger.attempt("increment")(
        tracer.span("taxi", s"increment$k") {
          val (r, c) = Run.timeMs(tracer.span("taxi", "runBatchCycle")(cycle(lake, k)))
          val (_, p) = Run.timeMs(tracer.span("taxi", "publishToServingDb")(publish(lake)))
          cycleMs += c; publishMs += p
          r
        }))
      res.foreach { r =>
        ops += Timed("increment", ms, tr)
        if (tr) incSpans += tracer.spans.last
        ledger.check(s"increment $k: trips ingested", r.tripsLoaded > 0, s"rows=${r.tripsLoaded}")
        val after = spark.table(s"${lake.db}_trips").count()
        ledger.check(s"increment $k: trips table grew by the ingested rows",
          after - before == r.tripsLoaded, s"before=$before after=$after ingested=${r.tripsLoaded}")
      }

      // one client, closed loop. A refresh calls every endpoint once, in a
      // seeded order; the n-th request of an endpoint takes the n-th values
      // of its parameter lists, so every seed requests the same work. A
      // traced run makes each refresh twice, so that the traced and the
      // untraced request of a pair do the same work.
      val copies = if (a.trace) 2 else 1
      for (_ <- 0 until Refreshes * copies) rnd.shuffle(Endpoints).foreach { e =>
        val n = reps(e) / copies
        val tr = traceNext(e)
        val (res, ms) = Run.timeMs(ledger.attempt(e)(tracer.span("serving", e)(
          request(lake, e, n, nowOf(k)))))
        res.foreach { rows =>
          ops += Timed(e, ms, tr)
          ledger.check(s"$e returns a bounded, non-negative row count",
            rows >= 0 && rows <= 5000, s"rows=$rows")
        }
      }

      if (cascade.q2 != null) for (_ <- 1 to CascadeRounds) {
        val tr = traceNext("cascade_round")
        val (ok, ms) = Run.timeMs(cascadeRound())
        if (ok.isDefined) {
          ops += Timed("cascade_round", ms, tr)
          if (tr) roundSpans += tracer.spans.last
        }
      }
      // the pass's operations, without the checks between them
      passS += ops.drop(opsBefore).map(_.ms).sum / 1000
    }
    // the serving table keeps rows the lake's one-day window has dropped,
    // so after the increments it holds the lake, not equals it
    ledger.attempt("unserved")(unserved(lake)).foreach(u =>
      ledger.check("after the last increment: every lake row served", u == 0, s"unserved=$u"))
    cascade.stop()
    val heapPeak = HeapAfterGc.peakBytes
    tracer.drain(spark)
    tracer.settle()

    val untraced = ops.filterNot(_.traced).toSeq
    def untracedMs(p: String => Boolean) = untraced.filter(o => p(o.name)).map(_.ms)
    val incMs = untracedMs(_ == "increment")
    val serves = untracedMs(Endpoints.contains)
    val cascadeMs = untracedMs(_ == "cascade_round")
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "pass_s" -> Stats.mean(passS.toSeq),
      "first_pass_s" -> firstMs / 1000,
      "op1_p50_ms" -> p50(incMs),
      "op2_p50_ms" -> p50(serves),
      "op3_p50_ms" -> p50(cascadeMs))

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val spans = tracer.spans.toSeq
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        def childDur(parents: Seq[SpanRec], name: String) = {
          val ids = parents.map(_.id).toSet
          spans.filter(s => ids(s.parent) && s.name == name)
        }
        val cycles = childDur(incSpans.toSeq, "runBatchCycle")
        val pubs = childDur(incSpans.toSeq, "publishToServingDb")
        val inTraced = (b: BatchRec) => roundSpans.exists(r =>
          b.startMs >= r.startMs && b.startMs <= r.endMs)
        import scala.jdk.CollectionConverters._
        val bs = tracer.batches.asScala.toSeq.filter(inTraced)
        def hop(h: String, key: String) =
          med(bs.filter(_.hop == h).map(_.durations.getOrElse(key, 0L).toDouble))
        val dash = spans.filter(s => s.layer == "serving" && s.name == "dashboard_stats")
        val tracedRounds = ops.filter(o => o.traced && o.name == "cascade_round").map(_.ms).toSeq
        // no two increments do the same work, and the first dashboard call of
        // an increment misses the cache while the rest hit it, so neither
        // enters the overhead
        val repeated = ops.filterNot(o => o.name == "increment" || o.name == "dashboard_stats").toSeq
        Layers.medians(incSpans.map(s => Layers.engine(tracer, s, a.cores)).toSeq) ++
          Endpoints.map(e => s"serving.${e}_p50_ms" ->
            med(spans.filter(s => s.layer == "serving" && s.name == e).map(_.durMs))) ++
          Seq("hop1", "hop2").flatMap(h => Seq(
            s"streaming.$h.trigger_ms" -> hop(h, "triggerExecution"),
            s"streaming.$h.add_batch_ms" -> hop(h, "addBatch"),
            s"streaming.$h.planning_ms" -> hop(h, "queryPlanning"),
            s"streaming.$h.wal_commit_ms" -> hop(h, "walCommit"))) ++
          Map(
            "storage.cached_peak_mb" -> tracer.cachedPeakBytes / Run.MiB,
            "storage.blocks_put" -> tracer.blocksPut.toDouble,
            "jvm.heap_after_gc_peak_mb" -> heapPeak / Run.MiB,
            "sources.jdbc_ms" -> med(spans.filter(s =>
              s.layer == "serving" && s.name == "jdbc_read").map(_.durMs)),
            "sources.artifact_builds_setup" ->
              (tracer.creates("setup") / Setups + tracer.creates("first_pass")).toDouble,
            "sources.artifact_builds_timed" -> tracer.creates("timed").toDouble / passS.size,
            "taxi.cycle_ms" -> med(cycles.map(_.durMs)),
            "taxi.publish_ms" -> med(pubs.map(_.durMs)),
            "taxi.cycle_jobs" -> med(cycles.map(s => tracer.rollup(s.id).jobs.toDouble)),
            "serving.cache_hit_ratio" -> (if (dash.isEmpty) 0.0 else
              dash.count(s => tracer.rollup(s.id).jobs == 0).toDouble / dash.size),
            "streaming.hop1.state_rows" ->
              med(bs.filter(_.hop == "hop1").map(_.stateRows.toDouble)),
            "streaming.hop1.state_commit_ms" ->
              med(bs.filter(_.hop == "hop1").map(_.stateCommitMs.toDouble)),
            "streaming.useful_trigger_ratio" -> (if (bs.isEmpty) 0.0 else
              bs.count(_.inputRows > 0).toDouble / bs.size),
            "streaming.cascade_p50_ms" -> med(tracedRounds),
            "trace.overhead_frac" -> Run.overhead(repeated),
            "trace.noise_frac" -> Run.noiseFloor(repeated))
      }

    val record = Map(
      "inputs" -> inputFacts,
      "setup_s" -> setupS,
      "first_pass_ms" -> firstSteps,
      "passes_s" -> passS,
      "cascade_rounds_ms" -> Map("warm" -> roundMs.take(CascadeWarmRounds),
        "timed" -> roundMs.drop(CascadeWarmRounds)),
      "increments" -> ops.filter(_.name == "increment").map(o =>
        Map("s" -> o.ms / 1000, "traced" -> o.traced)),
      "cycle_ms" -> cycleMs, "publish_ms" -> publishMs,
      "serve_ms" -> QueryWorkload.timingsByName(
        untraced.filter(o => Endpoints.contains(o.name)).toSeq, scale = 1.0),
      "operation_metrics" -> Map(
        "setup_s" -> e2e("setup_s"),
        "first_pass_s" -> e2e("first_pass_s"),
        "cycle_s" -> Run.timing(incMs.map(_ / 1000)),
        "serve_ms" -> Run.timing(serves),
        "cascade_ms" -> Run.timing(cascadeMs),
        "peak_task_mem_mb" -> peak.peakBytes / Run.MiB))
    Run.stop(spark)
    Map("e2e" -> e2e, "layers" -> layers, "record" -> record)
  }
}

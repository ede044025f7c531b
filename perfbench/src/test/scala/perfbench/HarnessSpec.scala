package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.warehouse.dir", warehouse.toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Run.deleteTree(warehouse)
  }

  test("fingerprint ignores row order, partitioning and collection order") {
    import spark.implicits._
    val rows = Seq((1L, "a", 0.1 + 0.2, Seq(3, 1, 2)), (2L, "b", -0.0, Seq(5)),
      (2L, "b", -0.0, Seq(5)), (3L, null, Double.NaN, Seq.empty[Int]))
    val df = rows.toDF("k", "s", "d", "xs")
    val shuffled = rows.reverse.toDF("k", "s", "d", "xs").repartition(3)
      .withColumn("xs", reverse(col("xs")))
      .withColumn("d", when(col("d") === 0.0, lit(0.0)).otherwise(col("d")))
    assert(Fingerprint.of(df) == Fingerprint.of(shuffled))
    // 0.1 + 0.2 and 0.3 differ in the last bit only
    val rounded = df.withColumn("d", when(col("k") === 1, lit(0.3)).otherwise(col("d")))
    assert(Fingerprint.of(df) == Fingerprint.of(rounded))
  }

  test("fingerprint sees changed values, lost duplicates and schema changes") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "s")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 3)
    assert(Fingerprint.of(Seq((1L, "a"), (2L, "c"), (2L, "b")).toDF("k", "s")) != fp)
    assert(Fingerprint.of(df.distinct()).hash != fp.hash)
    assert(Fingerprint.of(df.withColumn("k", col("k").cast("int"))).schema != fp.schema)
  }

  test("a query that throws while it runs is recorded as failed, not timed") {
    val ledger = new Ledger
    val boom = udf((x: Long) => if (x == 7) throw new IllegalStateException("bad row") else x)
    val fake = () => spark.range(10).select(boom(col("id")).as("x"))
    val ok = ledger.attempt("fake_query")(QueryWorkload.noop(fake()))
    assert(ok.isEmpty)
    assert(ledger.attempted == 1 && ledger.failed == 1)
    assert(!ledger.correct)
    assert(ledger.failures.head._1 == "fake_query")
    assert(ledger.failures.head._2.startsWith("org.apache.spark."))
    assert(ledger.attempt("fine")(QueryWorkload.noop(spark.range(3).toDF())).isDefined)
    assert(ledger.attempted == 2 && ledger.failed == 1)
  }

  test("a failed output check makes the run incorrect without an exception") {
    val ledger = new Ledger
    ledger.check("rows", ok = true, "")
    assert(ledger.correct)
    ledger.check("rows", ok = false, "expected 3, got 2")
    assert(!ledger.correct && ledger.failed == 0)
  }

  test("traced spans collect their jobs; the pass's driver gap excludes job time") {
    val tracer = new Tracer(enabled = true)
    tracer.bind(spark)
    tracer.register(spark)
    tracer.span("query", "pass0") {
      tracer.span("query", "q") { spark.range(1000).selectExpr("sum(id)").collect() }
      Thread.sleep(50)
    }
    tracer.drain(spark)
    tracer.settle()
    val pass = tracer.spans.find(_.name == "pass0").get
    val m = Layers.engine(tracer, pass, 2)
    assert(m("scheduler.jobs") >= 1)
    assert(m("scheduler.tasks") >= 1)
    assert(m("catalyst.executions") >= 1)
    assert(m("scheduler.driver_gap_ms") >= 50)
    assert(m("scheduler.driver_gap_ms") + m("scheduler.job_busy_ms") == pass.durMs)
    assert(tracer.spanRecords.exists(r => r("name") == "q" && r("parent") == pass.id))
  }
}

package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    root: String,
    work: String,
    record: Boolean,
    sourceDigest: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  def fixture: String = s"$root/perfbench/fixture/sf0.01"
  def expectedFile: String = s"$root/perfbench/expected/$workload.json"
}

/** Every operation a run attempts, every one that threw, and every output
  * check that did not hold. */
final class Ledger {
  var attempted = 0L
  val failures = mutable.ArrayBuffer[(String, String)]()
  val checkFailures = mutable.ArrayBuffer[(String, String)]()

  /** Runs one operation; a throw is recorded with its exception class and
    * yields None. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse(""))
          .getOrElse("")
        failures += ((name, s"${e.getClass.getName}: ${msg.take(300)}"))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) checkFailures += ((name, detail))

  def failed: Long = failures.size.toLong
  def correct: Boolean = failures.isEmpty && checkFailures.isEmpty

  def record: Map[String, Any] = Map(
    "failures" -> failures.map { case (n, e) => Map("op" -> n, "error" -> e) },
    "check_failures" -> checkFailures.map { case (n, d) => Map("check" -> n, "detail" -> d) })
}

/** Wall-clock timing of one operation. */
final case class Timed(name: String, ms: Double, traced: Boolean)

object Run {

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** A fresh local session whose warehouse, scratch and shuffle files live
    * under `dir`, so nothing leaks between set-ups or runs. */
  def session(a: Args, dir: String, shufflePartitions: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.GraftSession.builder(s"local[${a.cores}]", shufflePartitions)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(q => scala.util.Try(q.stop()))
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Seconds of `--seconds` per timed pass. */
  val SecondsPerPass = 14

  /** Timed passes of a run given `--seconds`: at least one. The count
    * depends on the argument alone, never on how fast the program runs, so
    * two builds of the program time the same work. */
  def passes(seconds: Int): Int = math.max(1, seconds / SecondsPerPass)

  /** Mean duration in seconds of timed units of work. */
  def meanS(units: Seq[Timed]): Double = units.map(_.ms).sum / units.size / 1000

  /** Median and tail (by [[Stats.tail]]) of a timing, with its sample count. */
  def timing(xs: Seq[Double]): Map[String, Any] = {
    val t = Stats.tail(xs)
    Map("n" -> xs.size,
      "p50" -> (if (xs.isEmpty) Double.NaN else Stats.median(xs)),
      "tail_pct" -> t.map(_._1 * 100).getOrElse(Double.NaN),
      "tail" -> t.map(_._2).getOrElse(Double.NaN))
  }

  /** Whether the `i`-th repetition of an operation is traced in a traced
    * run: A B B A A B B A ..., so that tracing is on for half of each
    * stretch of four and a steady warm-up trend cancels out. */
  def tracedAt(i: Int): Boolean = (i + 1) / 2 % 2 == 1

  /** Traced over untraced time of each pair of repetitions that do the
    * same work: repetitions 2j and 2j+1 of a name, of which [[tracedAt]]
    * traces one. */
  def pairRatios(ops: Seq[Timed]): Seq[Double] =
    ops.groupBy(_.name).values.toSeq.flatMap(_.grouped(2).collect {
      case Seq(x, y) if x.traced != y.traced =>
        if (x.traced) x.ms / y.ms else y.ms / x.ms
    })

  /** What the traced run's own recording costs: the median pair ratio,
    * minus one. */
  def overhead(ops: Seq[Timed]): Double = {
    val r = pairRatios(ops)
    if (r.isEmpty) Double.NaN else Stats.median(r) - 1
  }

  /** Half the interquartile range of the pair ratios. An overhead smaller
    * than this cannot be told apart from zero. */
  def noiseFloor(ops: Seq[Timed]): Double = {
    val r = pairRatios(ops)
    if (r.size < 2) Double.NaN
    else (Stats.percentile(r, 0.75) - Stats.percentile(r, 0.25)) / 2
  }

  val MiB: Double = 1024.0 * 1024.0
}

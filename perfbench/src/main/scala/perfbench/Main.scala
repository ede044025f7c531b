package perfbench

import scala.util.control.NonFatal

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout> --work <scratch dir>
  * [--source-digest <hex>] [--git-sha <sha>] [--record]`.
  *
  * Prints the run record on one line, then the result line. With
  * `--trace 0` the result carries the end-to-end metrics, with `--trace 1`
  * the per-layer metrics. `--record` rewrites the expected outputs of a
  * query workload instead of checking against them. Exits 1 when any
  * operation threw or any output check failed. */
object Main {

  /** Every workload reports every end-to-end metric. `op<i>_p50_ms` is the
    * median latency of the workload's i-th kind of operation: for
    * sf001_iterative its queries in name order, for lakehouse_cycle an
    * increment, a serving request and a cascade round. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "pass_s" -> "s",
    "op1_p50_ms" -> "ms", "op2_p50_ms" -> "ms", "op3_p50_ms" -> "ms")

  val Workloads: Seq[String] = Seq(QueryWorkload.Name, Lakehouse.Name)

  def parse(argv: Seq[String]): Map[String, String] = argv match {
    case Seq() => Map.empty
    case Seq("--record", rest @ _*) => parse(rest) + ("record" -> "1")
    case Seq(k, v, rest @ _*) if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
    case other => throw new IllegalArgumentException(s"cannot parse arguments: $other")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toSeq)
    val a = Args(o("workload"), o("seed").toLong, o("seconds").toInt, o("trace") == "1",
      o("root"), o("work"), o.contains("record"), o.getOrElse("source-digest", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of $Workloads")
    HeapAfterGc.install()
    val loadStart = Inputs.loadAvg
    val tracer = new Tracer(a.trace)
    val ledger = new Ledger
    val out: Map[String, Any] =
      try a.workload match {
        case QueryWorkload.Name => QueryWorkload.run(a, ledger, tracer)
        case Lakehouse.Name => Lakehouse.run(a, ledger, tracer)
      } catch {
        case NonFatal(e) =>
          ledger.failures += (("run", s"${e.getClass.getName}: ${e.getMessage}"))
          Map.empty
      }

    val e2e = out.getOrElse("e2e", Map.empty).asInstanceOf[Map[String, Double]]
    val layers = out.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Double]]
    val metrics: Seq[(String, String, Double)] =
      if (a.trace) Layers.report(layers).toSeq.map { case (n, m) =>
        (n, m("unit").asInstanceOf[String], m("value").asInstanceOf[Double])
      }
      else EndToEnd.map { case (n, u) => (n, u, e2e.getOrElse(n, Double.NaN)) }
    metrics.foreach { case (n, _, v) =>
      ledger.check(s"metric $n measured", !v.isNaN && !v.isInfinite &&
        (a.trace || v > 0), s"value=$v")
    }

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "host" -> (Inputs.host(a) ++ Map("git_sha" -> o.getOrElse("git-sha", "unknown"),
        "load_avg_start" -> loadStart, "load_avg_end" -> Inputs.loadAvg)),
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "failed_frac" -> ledger.failed.toDouble / math.max(1L, ledger.attempted),
      "end_to_end" -> e2e) ++ ledger.record ++ out.getOrElse("record", Map.empty)
      .asInstanceOf[Map[String, Any]]
    val outDir = new java.io.File(s"${a.root}/perfbench/out")
    outDir.mkdirs()
    val stamp = java.time.LocalDateTime.now.toString.replace(':', '-')
    java.nio.file.Files.write(
      new java.io.File(outDir, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-$stamp.json").toPath,
      (Json.render(record + ("spans" -> tracer.spanRecords)) + "\n").getBytes("UTF-8"))

    println(Json.render(Map("run_record" -> record)))
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> ledger.correct,
      "attempted" -> math.max(1L, ledger.attempted),
      "failed" -> ledger.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, u, v) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*))))
    System.out.flush()
    sys.exit(if (ledger.correct) 0 else 1)
  }
}

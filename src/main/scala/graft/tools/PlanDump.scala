package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Dump the final physical plan of every SQL execution a query triggers —
  * the eager `localCheckpoint` builds inside the query as well as the
  * returned frame, which is executed into the `noop` sink — in execution
  * order, to text files: the optimization-round evidence trail
  * (plans/<round>/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt per selected query, headed by the
  * query's SQL execution and Spark job counts, and each execution by its
  * own job count. Runs the session graft.Verify
  * runs ([[graft.core.GraftSession.fixtureSession]]).
  */
object PlanDump {

  /** (description, plan) of each SQL execution started under job group
    * `group` or `last`, by execution id (= start order). The start event
    * carries the initial plan and each adaptive update the re-optimized
    * one, so the last plan seen is the final plan. The bus delivers events
    * in order, so once the execution started under `last` has ended,
    * every earlier event has been seen. */
  private final class Executions(group: String, last: String) extends SparkListener {
    val plans = new ConcurrentSkipListMap[java.lang.Long, (String, String)]()
    private val lastIds = ConcurrentHashMap.newKeySet[java.lang.Long]()
    /** Spark jobs by SQL execution id (-1: jobs outside any execution). */
    val jobs = new ConcurrentHashMap[java.lang.Long, Integer]()
    @volatile var done = false
    private def ours(g: Option[String]) = g.contains(group) || g.contains(last)
    // "spark.jobGroup.id" is the local property setJobGroup sets, and
    // "spark.sql.execution.id" the one an SQL execution sets on its jobs
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (ours(p.map(_.getProperty("spark.jobGroup.id")))) {
        val id = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
        jobs.merge(id, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if ours(s.jobGroupId) =>
        plans.put(s.executionId, (s.description, s.physicalPlanDescription))
        if (s.jobGroupId.contains(last)) lastIds.add(s.executionId)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.computeIfPresent(u.executionId, (_, p) => (p._1, u.physicalPlanDescription))
      case end: SparkListenerSQLExecutionEnd => if (lastIds.contains(end.executionId)) done = true
      case _ => ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.core.GraftSession.fixtureSession(sfDir)
    val sc = spark.sparkContext
    // SPARK_GRAFT_PLANDUMP_NOBCAST=1: dump the big-join shape (no
    // auto-broadcast), the form that shows whether bucketing saves the
    // shuffle — at 100 TB neither fact side broadcasts anyway (the same
    // device PlanAuditSpec's bucketed lints use).
    if (sys.env.get("SPARK_GRAFT_PLANDUMP_NOBCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        val ex = new Executions(s"plandump:$name", s"plandump:$name:result")
        sc.addSparkListener(ex)
        try {
          // no group description: each execution keeps its call-site label
          sc.setJobGroup(s"plandump:$name", null)
          val df = fn(spark, sfDir)
          sc.setJobGroup(s"plandump:$name:result", null)
          df.write.format("noop").mode("overwrite").save()
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!ex.done && System.nanoTime() < deadline) Thread.sleep(50)
          if (!ex.done) throw new IllegalStateException("result execution end not seen in 60 s")
          val plans = ex.plans.asScala.toSeq
          val nJobs = ex.jobs.values.asScala.map(_.intValue).sum
          val body = plans.zipWithIndex.map { case ((id, (desc, plan)), i) =>
            s"== execution ${i + 1}/${plans.size} (id $id, ${ex.jobs.getOrDefault(id, 0)} jobs): " +
              s"$desc ==\n$plan"
          }
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
            (s"== $name: ${plans.size} SQL executions, $nJobs Spark jobs ==" +: body)
              .mkString("", "\n\n", "\n"))
          println(s"[plandump] wrote $name (${plans.size} executions, $nJobs jobs)")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        } finally {
          sc.clearJobGroup()
          sc.removeSparkListener(ex)
        }
      }
    }
    spark.stop()
  }
}

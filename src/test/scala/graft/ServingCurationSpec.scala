package graft

import graft.ext.{Dedup, TextAnalysis}
import graft.operators.Serving
import org.apache.spark.sql.functions._

/** Contracts for the q203-q205 wave: decay scoring, nucleus vocabulary
  * truncation, cluster source purity. */
class ServingCurationSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("q203: integer replica parity — scaled sums, top-k order, descaled score") {
    val t = sf("sf0.01")
    val ev = t.events.filter(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Date]("d").toLocalDate, r.getAs[Double]("value")))
    val maxDay = ev.map(_._2).max
    val scaled = ev.groupBy(_._1).map { case (uid, g) =>
      val s = g.map { case (_, d, v) =>
        val cents = BigDecimal(v * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val age = java.time.temporal.ChronoUnit.DAYS.between(d, maxDay)
        cents * (1L << (31 - age))
      }.sum
      (uid, s, g.size.toLong)
    }.toSeq
    val expected = scaled.sortBy { case (uid, s, _) => (-s, uid) }.take(50)
      .map { case (uid, s, n) => (uid, n, bits(s.toDouble / 2147483648.0 / 100.0)) }
    val actual = Serving.decayScore(t).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        bits(r.getAs[Double]("score")))).toSeq
    assert(actual == expected)
  }

  test("q203: yesterday's cent outweighs any amount from 10+ days ago proportionally") {
    // weights halve per day: score <= plain_sum/100 and the most recent
    // event alone bounds at least 2^-last_age of the score
    val rows = Serving.decayScore(sf("sf0.01")).collect()
    assert(rows.length == 50)
    for (r <- rows) assert(r.getAs[Double]("score") > 0)
    // ranks strictly ordered by score (ties broken before descale)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q204: replica parity and the p-mass guarantee") {
    val t = sf("sf0.001")
    val docs = t.documents.select(col("source"), col("text")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val counts = g.flatMap(_._2.trim.toLowerCase.split("\\s+"))
        .groupBy(identity).map { case (tk, xs) => (tk, xs.length.toLong) }
        .toSeq.sortBy { case (tk, c) => (-c, tk) }
      val total = counts.map(_._2).sum
      var cum = 0L
      val kept = counts.takeWhile { case (_, c) =>
        val before = cum; cum += c; before * 100 < 90L * total
      }
      (src, counts.size.toLong, kept.size.toLong, kept.map(_._2).sum)
    }.toSet
    val actual = TextAnalysis.nucleusVocab(t).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("vocab_total"),
        r.getAs[Long]("vocab_kept"), r.getAs[Long]("mass_kept"))).toSet
    assert(actual == expected)
    for (r <- TextAnalysis.nucleusVocab(t).collect()) {
      assert(r.getAs[Double]("pct_mass_kept") >= 0.9,
        "nucleus cut failed to reach the p mass")
      assert(r.getAs[Long]("vocab_kept") <= r.getAs[Long]("vocab_total"))
    }
  }

  test("q205: purity replica over the cluster labels; singleton band is pure") {
    val t = sf("sf0.001")
    val labels = Dedup.dupClusters(t).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val srcOf = t.documents.select(col("doc_id"), col("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val perCluster = labels.groupBy(_._2).map { case (_, g) =>
      val n = g.length.toLong
      val bySrc = g.groupBy(x => srcOf(x._1)).map(_._2.length.toLong)
      (n, bySrc.size.toLong, bySrc.map(c => c * c).sum.toDouble / (n * n).toDouble)
    }.toSeq
    val expected = perCluster.groupBy(_._1).map { case (size, g) =>
      (size, g.length.toLong, g.count(_._2 > 1).toLong, g.map(_._2).max)
    }.toSet
    val rows = Dedup.clusterPurity(t).collect()
    val actual = rows.map(r => (r.getAs[Long]("cluster_size"),
      r.getAs[Long]("n_clusters"), r.getAs[Long]("n_cross_source"),
      r.getAs[Long]("max_sources"))).toSet
    assert(actual == expected)
    val total = t.documents.count()
    assert(rows.map(r => r.getAs[Long]("cluster_size") *
      r.getAs[Long]("n_clusters")).sum == total,
      "cluster-size bands do not partition the corpus")
    for (r <- rows if r.getAs[Long]("cluster_size") == 1L) {
      assert(r.getAs[Long]("n_cross_source") == 0)
      assert(r.getAs[Double]("avg_hhi") == 1.0)
    }
  }
}

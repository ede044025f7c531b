package graft

import graft.ext.{Similarity, TextAnalysis}
import graft.operators.NonparametricStats
import org.apache.spark.sql.functions._

/** Contracts for the q226–q228 wave: Gopher top-n-gram coverage (full
  * single-node replica of the shingle/count/flag chain), the ROC curve +
  * AUC (AUC independently recomputed by brute-force pair counting — the
  * definition, not the implementation's rank identity), and the per-dim
  * label ANOVA (replayed from first principles with the dsum replica). */
class ClassifierAuditSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def r6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def micro(d: Double): Long =
    BigDecimal(d * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def dsumReplica(vs: Seq[Double]): Double = {
    val ps = vs.map(micro)
    (ps.map(_ >> 26).sum.toDouble * 67108864.0 +
      ps.map(_ & 67108863L).sum.toDouble) / 1000000.0
  }

  test("q226: replica parity — top n-gram, char coverage, Gopher flags") {
    val t = sf("sf0.01")
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    def shingles(text: String, n: Int): Seq[String] = {
      val tks = text.trim.split("\\s+").toSeq
      if (tks.size < n) Seq(tks.mkString(" "))
      else tks.sliding(n).map(_.mkString(" ")).toSeq
    }
    val expected = (for {
      n <- Seq(2, 3, 4)
      (src, group) <- docs.groupBy(_._2)
    } yield {
      val flags = group.map { case (_, _, text) =>
        val counts = shingles(text, n).groupBy(identity).view
          .mapValues(_.size.toLong).toSeq
        val (gram, c) = counts.minBy { case (g, cc) => (-cc, g) }
        100L * c * gram.length >
          TextAnalysis.TopNgramThresholdPct(n) * text.trim.length
      }
      val nf = flags.count(identity).toLong
      (src, n, group.size.toLong, nf,
        bits(nf.toDouble / group.size.toDouble))
    }).toSet
    val actual = TextAnalysis.topNgramCoverage(t).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Int]("n"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_flagged"),
        bits(r.getAs[Double]("flag_share")))
    }.toSet
    assert(actual == expected)
    assert(actual.nonEmpty)
  }

  test("q227: AUC equals brute-force pair counting; curve points recount") {
    val t = sf("sf0.01")
    val ev = t.events.select(col("value"), col("event_type")).collect()
      .map(r => (micro(r.getAs[Double]("value")),
        r.getAs[String]("event_type") == "purchase"))
    val pos = ev.filter(_._2).map(_._1)
    val neg = ev.filter(!_._2).map(_._1)
    // 2U by definition: every (pos, neg) pair scores 2 for a win, 1 for
    // a tie — the quadratic ground truth the rank identity must match
    var u2 = 0L
    val negSorted = neg.sorted
    pos.foreach { pv =>
      // count via binary search on the sorted negatives
      val below = {
        var (lo, hi) = (0, negSorted.length)
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (negSorted(m) < pv) lo = m + 1 else hi = m
        }
        lo
      }
      val upto = {
        var (lo, hi) = (0, negSorted.length)
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (negSorted(m) <= pv) lo = m + 1 else hi = m
        }
        lo
      }
      u2 += 2L * below + (upto - below)
    }
    val aucExpected = bits(u2.toDouble /
      (2.0 * pos.length.toDouble * neg.length.toDouble))
    val rows = NonparametricStats.rocAuc(t).collect()
    assert(rows.length == 21)
    rows.foreach { r =>
      assert(bits(r.getAs[Double]("auc")) == aucExpected)
      val thr = r.getAs[Long]("thr_micro")
      assert(r.getAs[Long]("tp") == pos.count(_ >= thr).toLong)
      assert(r.getAs[Long]("fp") == neg.count(_ >= thr).toLong)
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == pos.length.toLong)
      assert(r.getAs[Long]("fp") + r.getAs[Long]("tn") == neg.length.toLong)
    }
    // the curve is monotone non-increasing in the threshold index
    val byI = rows.sortBy(_.getAs[Int]("i"))
    assert(byI.map(_.getAs[Long]("tp")).toSeq ==
      byI.map(_.getAs[Long]("tp")).toSeq.sorted.reverse)
    assert(byI.head.getAs[Double]("tpr") == 1.0 &&
      byI.head.getAs[Double]("fpr") == 1.0)
  }

  test("q228: replica parity — per-dim F from first principles") {
    val t = sf("sf0.01")
    val emb = t.embeddings.select(col("label"), col("embedding")).collect()
      .map(r => (r.getAs[Int]("label"), r.getSeq[Float](1).toArray))
    val dims = emb.head._2.length
    val expected = (0 until dims).map { i =>
      val byLabel = emb.map { case (l, v) => (l, v(i).toDouble) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val nG = byLabel.view.mapValues(_.size.toLong).toMap
      val sG = byLabel.view.mapValues(vs => dsumReplica(vs)).toMap
      val qG = byLabel.view.mapValues(vs => dsumReplica(vs.map(v => v * v))).toMap
      val n = nG.values.sum
      val k = byLabel.size.toLong
      val s = dsumReplica(sG.values.toSeq)
      val cm = dsumReplica(byLabel.keys.toSeq.map(l => sG(l) * sG(l) / nG(l)))
      val q = dsumReplica(qG.values.toSeq)
      val ssb = cm - s * s / n
      val ssw = q - cm
      (i, n, k, bits(r6(ssb)), bits(r6(ssw)),
        bits(r6((ssb / (k - 1)) / (ssw / (n - k)))))
    }.toSet
    val actual = Similarity.labelAnovaPerDim(t).collect().map { r =>
      (r.getAs[Int]("i"), r.getAs[Long]("n"), r.getAs[Long]("k"),
        bits(r.getAs[Double]("ssb")), bits(r.getAs[Double]("ssw")),
        bits(r.getAs[Double]("f_stat")))
    }.toSet
    assert(actual == expected)
    assert(actual.size == dims)
  }

  test("q229 kernel: native BlocklistCount equals the explode form") {
    val t = sf("sf0.01")
    graft.functions.BlocklistExpression.register(spark)
    val words = TextAnalysis.DefaultBlocklist
    val native = t.documents.select(col("doc_id"),
        graft.functions.BlocklistExpression.blocklistCount(
          split(trim(col("text")), "\\s+"), words).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    val exploded = t.documents
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("w").isInCollection(words), 1L).otherwise(0L)).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    assert(native == exploded)
    assert(native.values.sum > 0)
  }

  test("q229: replica parity — C4 blocklist drop report") {
    val t = sf("sf0.01")
    val words = TextAnalysis.DefaultBlocklist.toSet
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val expected = docs.groupBy(_._1).map { case (src, group) =>
      val per = group.map { case (_, text) =>
        val tks = text.trim.split("\\s+")
        val hits = tks.map(_.toLowerCase).count(words).toLong
        (hits, tks.length.toLong)
      }
      val nDropped = per.count(_._1 > 0).toLong
      (src, group.size.toLong, nDropped, per.map(_._1).sum,
        per.filter(_._1 > 0).map(_._2).sum,
        bits(nDropped.toDouble / group.size.toDouble))
    }.toSet
    val actual = TextAnalysis.blocklistFilter(t).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("total_hits"),
        r.getAs[Long]("tokens_dropped"), bits(r.getAs[Double]("drop_share")))
    }.toSet
    assert(actual == expected)
    // the fixture's vocabulary contains the blocklist — the report must
    // actually drop something or the test proves nothing
    assert(actual.exists(_._3 > 0))
  }

  test("q230: replica parity — reliability buckets and the ECE fold") {
    val t = sf("sf0.01")
    val ev = t.events.select(col("value"), col("event_type")).collect()
      .map(r => (micro(r.getAs[Double]("value")),
        if (r.getAs[String]("event_type") == "purchase") 1L else 0L))
    val lo = ev.map(_._1).min
    val hi = ev.map(_._1).max
    val span = hi - lo + 1
    val byB = ev.groupBy { case (li, _) => ((li - lo) * 10 / span).toInt }
    val buckets = byB.map { case (b, rows) =>
      val n = rows.length.toLong
      val nPos = rows.map(_._2).sum
      val confs = rows.map { case (li, _) =>
        (li - lo).toDouble / (hi - lo).toDouble }
      (b, n, nPos, r6(dsumReplica(confs.toSeq) / n.toDouble),
        nPos.toDouble / n.toDouble)
    }.toSeq
    val nAll = buckets.map(_._2).sum
    val ece = dsumReplica(buckets.map { case (_, n, _, conf, rate) =>
      math.abs(rate - conf) * n.toDouble / nAll.toDouble })
    val expected = buckets.map { case (b, n, nPos, conf, rate) =>
      (b, n, nPos, bits(conf), bits(rate), bits(ece))
    }.toSet
    val actual = NonparametricStats.reliabilityDiagram(t).collect().map { r =>
      (r.getAs[Int]("b"), r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
        bits(r.getAs[Double]("mean_conf")), bits(r.getAs[Double]("pos_rate")),
        bits(r.getAs[Double]("ece")))
    }.toSet
    assert(actual == expected)
    assert(actual.nonEmpty)
  }

  test("q231: silhouette rollup recounts from the assignment; q175 sizes") {
    val t = sf("sf0.01")
    val top2 = graft.ext.Spectral.kmeansAssignTop(t, 8, 3, topRanks = 2)
      .select(col("vec_id"), col("cid"), col("dist"), col("rn")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Long]("dist"), r.getAs[Int]("rn")))
    val expected = top2.groupBy(_._1).values.map { rows =>
      val a = rows.find(_._4 == 1).get
      val b = rows.find(_._4 == 2).get
      val s = if (math.max(a._3, b._3) == 0) 0.0
        else (b._3 - a._3).toDouble / math.max(a._3, b._3).toDouble
      (a._2, s)
    }.toSeq.groupBy(_._1).map { case (cid, ss) =>
      (cid, ss.size.toLong,
        bits(r6(dsumReplica(ss.map(_._2)) / ss.size.toDouble)))
    }.toSet
    val rows = graft.ext.Spectral.kmeansSilhouette(t).collect()
    val actual = rows.map(r => (r.getAs[Long]("cid"),
      r.getAs[Long]("n_members"),
      bits(r.getAs[Double]("mean_silhouette")))).toSet
    assert(actual == expected)
    // Lloyd assigns each vector to its NEAREST centroid, so a <= b and
    // the simplified silhouette is non-negative; and the cluster sizes
    // must agree with q175's report over the same (k, iters)
    rows.foreach { r =>
      val s = r.getAs[Double]("mean_silhouette")
      assert(s >= 0.0 && s <= 1.0)
    }
    val sizes175 = graft.ext.Spectral.kmeansReport(t).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_members"))).toSet
    assert(rows.map(r => (r.getAs[Long]("cid"),
      r.getAs[Long]("n_members"))).toSet == sizes175)
  }

  test("q232: exact below k, banded above, exact min/max/null counts") {
    val t = sf("sf0.01")
    val rows = graft.operators.DataQuality.columnStatsProfile(t).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val exact = t.lineitem.selectExpr(
      "count(*) AS n",
      "count(DISTINCT l_orderkey) AS d_ok",
      "count(DISTINCT l_partkey) AS d_pk",
      "count(DISTINCT l_discount) AS d_disc",
      "count(DISTINCT l_tax) AS d_tax",
      "CAST(min(l_extendedprice) AS DOUBLE) AS mn",
      "CAST(max(l_extendedprice) AS DOUBLE) AS mx").head()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_rows") == exact.getAs[Long]("n"))
      assert(r.getAs[Long]("n_null") == 0L)
    }
    // small domains sit below the sketch size — KMV is EXACT there
    assert(rows("l_discount").getAs[Double]("ndv_est") ==
      exact.getAs[Long]("d_disc").toDouble)
    assert(rows("l_tax").getAs[Double]("ndv_est") ==
      exact.getAs[Long]("d_tax").toDouble)
    // big domains: the k=256 bottom-k estimate lands within the rsd band
    Seq("l_orderkey" -> exact.getAs[Long]("d_ok"),
        "l_partkey" -> exact.getAs[Long]("d_pk")).foreach { case (c, d) =>
      val est = rows(c).getAs[Double]("ndv_est")
      assert(math.abs(est - d) / d.toDouble < 0.2,
        s"$c: est=$est exact=$d")
    }
    assert(rows("l_extendedprice").getAs[Double]("min_val") ==
      exact.getAs[Double]("mn"))
    assert(rows("l_extendedprice").getAs[Double]("max_val") ==
      exact.getAs[Double]("mx"))
  }

  test("q233: matrix recounts the q34 pairs; shares sum to 1") {
    val t = sf("sf0.01")
    val srcs = t.documents.select(col("doc_id"), col("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val pairs = graft.ext.Dedup
      .minhashDupPairs(t, minJaccard = 0.2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (srcs(a), srcs(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case ((s1, s2), g) =>
      (s1, s2, g.size.toLong, s1 == s2,
        bits(g.size.toDouble / pairs.length.toDouble))
    }.toSet
    val rows = graft.ext.Dedup.crossSourceDupMatrix(t).collect()
    val actual = rows.map(r => (r.getAs[String]("source_a"),
      r.getAs[String]("source_b"), r.getAs[Long]("n_pairs"),
      r.getAs[Boolean]("within_source"),
      bits(r.getAs[Double]("pair_share")))).toSet
    assert(actual == expected)
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
    assert(rows.exists(_.getAs[Boolean]("within_source")))
  }

  test("q236: wedge/closure recount from the q34 pairs") {
    val t = sf("sf0.01")
    val pairs = graft.ext.Dedup
      .minhashDupPairs(t, minJaccard = 0.2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val pairSet = pairs.toSet
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val wedges = for {
      (b, ns) <- adj.toSeq; a <- ns; c <- ns if a < c
    } yield (a, c)
    val nClosed = wedges.count(pairSet).toLong
    val row = graft.ext.Dedup.dupGraphTransitivity(t).collect().head
    assert(row.getAs[Long]("n_edges") == pairs.length.toLong)
    assert(row.getAs[Long]("n_wedges") == wedges.size.toLong)
    assert(row.getAs[Long]("n_closed") == nClosed)
    assert(bits(row.getAs[Double]("clustering_coeff")) ==
      bits(nClosed.toDouble / wedges.size.toDouble))
    // near-dup graphs at a sane threshold are highly transitive — the
    // signal the audit exists to report
    assert(row.getAs[Double]("clustering_coeff") > 0.3)
  }
}

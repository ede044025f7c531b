package graft

import org.apache.spark.sql.functions._

/** Every SparkEntry query runs on sf0.001 and returns rows; plus targeted
  * semantic assertions per operator family. The full value-level gate is
  * the DuckDB oracle compare (tools/check_oracle.py / driver t2). */
class QueriesSmokeSpec extends SparkSpec {

  private lazy val dir = "/root/testdata/sf0.001"

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name returns rows on sf0.001") {
      assert(fn(spark, dir).count() > 0, s"$name returned no rows")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }

  test("q01 aggregates are internally consistent") {
    val row = SparkEntry.queries("q01_agg_stats")(spark, dir).collect().head
    val nRows = row.getAs[Long]("n_rows")
    val sumQty = row.getAs[Double]("sum_qty")
    val avgQty = row.getAs[Double]("avg_qty")
    assert(math.abs(sumQty / nRows - avgQty) < 1e-9)
    assert(row.getAs[Double]("max_price") >= row.getAs[Double]("min_price"))
  }

  test("q115 correlation matrix: all C(4,2) pairs, each corr in [-1, 1], single-pass vs per-pair parity") {
    val rows = SparkEntry.queries("q115_corr_matrix")(spark, dir).collect()
    assert(rows.length == 6)
    assert(rows.forall(r => math.abs(r.getAs[Double]("corr")) <= 1.0 + 1e-12))
    // the one-pass matrix must equal the per-pair aggregate (q08's kernel)
    val t = sf()
    val single = t.lineitem.agg(
      graft.functions.ExactAgg.dcorr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect()(0).getDouble(0)
    val fromMatrix = rows.find(r =>
      r.getString(0) == "l_quantity" && r.getString(1) == "l_extendedprice").get
      .getAs[Double]("corr")
    assert(fromMatrix == single, "matrix pair diverges from the per-pair kernel")
  }

  test("q119 budget fill: per-source mass within budget, next-in-order doc would not fit") {
    val t = sf()
    val kept = SparkEntry.queries("q119_token_budget_mix")(spark, dir).collect()
    val bySource = kept.groupBy(_.getString(1))
    for ((src, rows) <- bySource) {
      val budget = rows.head.getLong(4)
      val mass = rows.map(_.getLong(2)).sum
      assert(mass <= budget, s"$src over budget: $mass > $budget")
      assert(rows.map(_.getLong(3)).max == mass, s"$src cum/mass mismatch")
    }
    // greedy maximality: the first EXCLUDED doc in hash order per source
    // must not fit in the remaining budget
    val all = t.documents
      .select(col("doc_id"), col("source"), col("n_chars"),
        graft.ext.Sampling.splitHash(col("doc_id")).as("h"))
      .collect()
      .groupBy(_.getString(1))
    val keptIds = kept.map(_.getLong(0)).toSet
    for ((src, rows) <- bySource) {
      val budget = rows.head.getLong(4)
      val mass = rows.map(_.getLong(2)).sum
      val excluded = all(src).sortBy(r => (r.getLong(3), r.getLong(0)))
        .find(r => !keptIds.contains(r.getLong(0)))
      excluded.foreach { e =>
        assert(mass + e.getLong(2) > budget,
          s"$src: excluded doc ${e.getLong(0)} (${e.getLong(2)} chars) still fits")
      }
    }
  }

  test("q16 lag is null at each partition head") {
    val df = SparkEntry.queries("q16_window_lag")(spark, dir)
    val firstPerUser = df
      .groupBy(col("user_id"))
      .agg(min(col("hour_ts")).as("hour_ts"))
      .join(df, Seq("user_id", "hour_ts"))
    assert(firstPerUser.filter(col("demand_lag_1").isNotNull).count() == 0)
  }

  test("q18 deciles are 1..10 and monotone in total_events") {
    val rows = SparkEntry.queries("q18_ntile")(spark, dir)
      .orderBy(col("popularity_decile"), col("total_events"))
      .collect()
    assert(rows.map(_.getAs[Int]("popularity_decile")).distinct.sorted.sameElements(1 to 10))
  }

  test("q29 exact dedup canonical ids cover all docs at this sf (no dups)") {
    val n = SparkEntry.queries("q29_dedup_exact")(spark, dir).count()
    val docs = sf().documents.count()
    assert(n <= docs)
  }

  test("q36 jaccard in [0,1]") {
    val bad = SparkEntry.queries("q36_ngram_jaccard")(spark, dir)
      .filter(col("jaccard") < 0 || col("jaccard") > 1)
    assert(bad.count() == 0)
  }

  test("q37 per-query neighbor count is k and cosine within [-1,1]") {
    val df = SparkEntry.queries("q37_ann_bruteforce")(spark, dir)
    val counts = df.groupBy(col("query_id")).count().collect()
    assert(counts.forall(_.getAs[Long]("count") == 5))
    assert(df.filter(col("cosine") > 1.000001 || col("cosine") < -1.000001).count() == 0)
  }

  test("q37 brute force ranks by descending cosine per query") {
    val df = SparkEntry.queries("q37_ann_bruteforce")(spark, dir).collect()
    df.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.sameElements(byRank.sorted.reverse))
    }
  }

  test("q77 bigrams are two-token phrases with n_docs <= n_occurrences") {
    val rows = SparkEntry.queries("q77_frequent_bigrams")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("bigram").split(" ").length == 2))
    assert(rows.forall(r =>
      r.getAs[Long]("n_docs") <= r.getAs[Long]("n_occurrences")))
    // descending heavy-hitter order
    val counts = rows.map(_.getAs[Long]("n_occurrences"))
    assert(counts.sameElements(counts.sorted.reverse))
  }

  test("q80 robust outlier stats are internally consistent") {
    val rows = SparkEntry.queries("q80_robust_outliers")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n_events"))
      val pct = r.getAs[Double]("outlier_pct")
      assert(pct >= 0.0 && pct <= 1.0)
    }
  }

  test("q81 salted aggregation is bit-identical to the one-phase form") {
    val salted = SparkEntry.queries("q81_salted_agg")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))))
      .toMap
    val plain = sf().events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), graft.functions.ExactAgg.dsum(col("value")).as("s"))
      .collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("s"))))
      .toMap
    assert(salted == plain) // exact ==, including the doubles
  }

  test("q83 bigram-LM fluency: probabilities in (0,1], repeated text maxes out") {
    val rows = SparkEntry.queries("q83_bigram_lm")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("avg_p")
      assert(p > 0.0 && p <= 1.0, s"avg_p $p out of range")
    }
    // a document that is one bigram repeated scores avg_p = 1 exactly iff
    // its left word never starts any other bigram in the corpus — instead
    // assert the planted-doc ordering on a controlled corpus
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft_lm").toFile.getAbsolutePath
    Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the")) // same words, shuffled transitions
      .map { case (id, t) => (id, t, "en", "synthetic", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/documents.parquet")
    val planted = graft.ext.TextAnalysis.bigramFluency(graft.core.Tables(spark, dir2))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_p")).toMap
    assert(planted(0L) == planted(1L))
    assert(planted(2L) < planted(0L),
      s"shuffled doc ${planted(2L)} should score below natural ${planted(0L)}")
  }

  /** Synthetic documents dir for planted text-quality assertions. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_planted").toFile.getAbsolutePath
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),   // benchmark (id % 20 == 0)
      (1L, "prefix words alpha beta gamma suffix"),  // contaminated: shares a shingle
      (2L, "totally unrelated content right here"),  // clean
      (3L, "a b c a b c a b c"),                     // repetitive
      (4L, ""),                                      // degenerate: empty
      (5L, "two words"))                             // degenerate: < k tokens
      .map { case (id, t) => (id, t, "en", "synthetic", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    base
  }

  test("q61 repetition ratio: repeated trigrams high, unique text zero") {
    val rows = graft.ext.TextAnalysis.repetitionStats(
      graft.core.Tables(spark, plantedDir)).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("repetition_ratio")).toMap
    // "a b c" ×3 → 7 shingles, 3 distinct → (7-3)/7
    assert(math.abs(rows(3L) - 4.0 / 7) < 1e-6)
    assert(rows(0L) == 0.0 && rows(2L) == 0.0)
    // degenerate docs (empty, < k tokens) must come out as a finite 0.0,
    // never NaN/NULL — the 0/0 guard's contract
    assert(rows(4L) == 0.0 && rows(5L) == 0.0)
    assert(rows.values.forall(v => !v.isNaN))
  }

  test("q63 PII redaction masks emails, phones, and long digit runs") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pii").toFile.getAbsolutePath
    Seq(
      (0L, "contact bob.smith+x@example.org or call 555-867-5309 now"),
      (1L, "account 12345678 ok but year 2024 and zip 90210 stay"),
      (2L, "nothing sensitive here"))
      .map { case (id, t) => (id, t, "en", "synthetic", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    val rows = graft.ext.TextAnalysis.piiRedact(graft.core.Tables(spark, base))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[String]("redacted") ==
      "contact <EMAIL> or call <PHONE> now")
    assert(rows(0L).getAs[Int]("n_emails") == 1 && rows(0L).getAs[Int]("n_phones") == 1)
    // 6+ digit runs masked; short numbers survive
    assert(rows(1L).getAs[String]("redacted") ==
      "account <NUM> ok but year 2024 and zip 90210 stay")
    assert(rows(1L).getAs[Boolean]("was_redacted"))
    assert(!rows(2L).getAs[Boolean]("was_redacted"))
  }

  test("q62 decontamination flags the benchmark-overlapping doc only") {
    val rows = graft.ext.TextAnalysis.decontamination(
      graft.core.Tables(spark, plantedDir)).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_contaminated_shingles"),
        r.getAs[Boolean]("contaminated")))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // benchmark doc excluded
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 && byId(1L)._2 == 1L) // "alpha beta gamma" only
    assert(!byId(2L)._3 && !byId(3L)._3)
    assert(!byId(4L)._3 && !byId(5L)._3) // degenerate docs: clean, not errors
  }

  test("q72 chunking: strides cover every token; overlap and tails are exact") {
    val rows = SparkEntry.queries("q72_chunking")(spark, dir).collect()
    val docs = graft.core.Tables(spark, dir).documents
      .select(col("doc_id"), size(graft.ext.TextAnalysis.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("n")).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, chunks) =>
      val ordered = chunks.sortBy(_.getAs[Long]("chunk_index"))
      val n = docs(id)
      // starts advance by the stride (64-16=48); the final chunk still
      // exposes the last token; no chunk starts past the text
      ordered.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("chunk_start") == i.toLong * 48)
        assert(c.getAs[Int]("n_chunk_tokens") == math.min(n - i * 48, 64))
      }
      val last = ordered.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[Int]("n_chunk_tokens") == n)
      // one chunk per stride that exposes a new token
      assert(ordered.length == math.max(1, math.ceil((n - 16).toDouble / 48).toInt))
    }
  }

  test("q74 funnel steps are temporally ordered and monotonically shrink") {
    val rows = SparkEntry.queries("q74_event_funnel")(spark, dir).collect()
      .sortBy(_.getAs[Int]("step_id"))
    assert(rows.map(_.getAs[String]("step")).toSeq ==
      Seq("view", "click_after_view", "purchase_after_click"))
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts.sliding(2).forall { case Array(a, b) => b <= a })
    assert(rows.head.getAs[Double]("conversion") == 1.0)
    // ordered funnel must be at most the unordered step membership
    val t = graft.core.Tables(spark, dir)
    val clickUsers = t.events.filter(col("event_type") === "click")
      .select(col("user_id")).distinct().count()
    assert(counts(1) <= clickUsers)
  }

  test("q75 retention: week 0 is the full cohort; no cell exceeds it") {
    val rows = SparkEntry.queries("q75_cohort_retention")(spark, dir).collect()
    rows.groupBy(_.getAs[java.sql.Date]("cohort_week")).foreach { case (_, cells) =>
      val week0 = cells.find(_.getAs[Int]("week_n") == 0).get
      assert(week0.getAs[Long]("n_active") == week0.getAs[Long]("cohort_size"))
      assert(week0.getAs[Double]("retention_pct") == 1.0)
      cells.foreach { c =>
        assert(c.getAs[Long]("n_active") <= c.getAs[Long]("cohort_size"))
        assert(c.getAs[Int]("week_n") >= 0)
      }
    }
  }

  test("q73 source cap: no stratum exceeds the cap; small strata intact") {
    val perSource = graft.core.Tables(spark, dir).documents
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    val kept = SparkEntry.queries("q73_source_cap")(spark, dir).collect()
      .groupBy(_.getAs[String]("source")).map { case (s, rs) => s -> rs.length.toLong }
    perSource.foreach { case (s, n) =>
      assert(kept.getOrElse(s, 0L) == math.min(n, 20L), s"source $s: $n docs")
    }
  }

  test("q69 packing: positions tile each group's token stream exactly") {
    val rows = SparkEntry.queries("q69_sequence_packing")(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("pack_group")).foreach { case (_, grp) =>
      val ordered = grp.sortBy(_.getAs[Long]("doc_id"))
      var expectedStart = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("token_start") == expectedStart)
        assert(r.getAs[Long]("seq_index") == expectedStart / 512)
        assert(r.getAs[Long]("offset_in_seq") == expectedStart % 512)
        expectedStart += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("q70 mixture weights: largest stratum keeps rate 1.0, others upweighted") {
    val rows = SparkEntry.queries("q70_mixture_weights")(spark, dir).collect()
    val rates = rows.map(_.getAs[Double]("mix_rate"))
    assert(rates.forall(r => r > 0.0 && r <= 1.0))
    assert(rates.count(_ == 1.0) >= 1) // the max stratum
    rows.foreach { r =>
      assert(r.getAs[Long]("target_docs") <= r.getAs[Long]("n_docs"))
      // α=0.5 temperature: rate must exceed the proportional share for
      // every non-max stratum (that is the whole point of the rebalance)
      val tokens = r.getAs[Long]("total_tokens").toDouble
      val maxTokens = rows.map(_.getAs[Long]("total_tokens")).max.toDouble
      assert(r.getAs[Double]("mix_rate") >= tokens / maxTokens - 1e-6)
    }
  }

  test("q71 funnel: stages chain and never increase") {
    val rows = SparkEntry.queries("q71_quality_funnel")(spark, dir).collect()
      .sortBy(_.getAs[Int]("stage_id"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("length", "token_shape", "diversity", "naturalness"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_in"))
      assert(r.getAs[Long]("n_dropped") == r.getAs[Long]("n_in") - r.getAs[Long]("n_kept"))
    }
    // each stage's intake is exactly the previous stage's survivors
    rows.sliding(2).foreach { case Array(prev, next) =>
      assert(next.getAs[Long]("n_in") == prev.getAs[Long]("n_kept"))
    }
    // stage 1 sees the whole corpus
    val total = graft.core.Tables(spark, dir).documents.count()
    assert(rows.head.getAs[Long]("n_in") == total)
  }

  test("q91 SCD2: intervals chain gaplessly, exactly one current per key") {
    val rows = SparkEntry.queries("q91_scd2_history")(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("version_n"))
      assert(ordered.map(_.getAs[Int]("version_n")).toSeq == (1 to rs.length))
      // validity chain: each version closes exactly where the next opens
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("effective_to") == b.getAs[String]("effective_from"),
            s"gap in user $u history")
        case _ => ()
      }
      assert(ordered.count(_.getAs[Boolean]("is_current")) == 1)
      assert(ordered.last.getAs[Boolean]("is_current"))
      assert(ordered.last.getAs[String]("effective_to") == null)
    }
  }

  test("q92 sliding distinct: bounded by cumulative, equal inside the warm-up") {
    val sliding = SparkEntry.queries("q92_sliding_distinct")(spark, dir).collect()
    val cumulative = SparkEntry.queries("q85_cumulative_distinct")(spark, dir).collect()
      .map(r => r.getDate(0).toString -> r.getAs[Long]("cumulative_distinct_users")).toMap
    sliding.zipWithIndex.foreach { case (r, i) =>
      val day = r.getDate(0).toString
      val roll = r.getAs[Long]("rolling_distinct_users")
      assert(roll <= cumulative(day))
      assert(roll >= r.getAs[Long]("daily_distinct_users"))
      // first 7 days: trailing window covers everything → identical
      if (i < 7) assert(roll == cumulative(day), s"warm-up mismatch at $day")
    }
  }

  test("q93 trend: finite slopes, intercept consistent with group means") {
    val t = graft.core.Tables(spark, dir)
    val rows = SparkEntry.queries("q93_value_trend")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val slope = r.getAs[Double]("slope_per_hour")
      val icept = r.getAs[Double]("intercept_at_base")
      assert(!slope.isNaN && !slope.isInfinite)
      // regression passes through (mean_x, mean_y): intercept = ȳ − b·x̄,
      // so |intercept| is bounded by |ȳ| + |b|·max|x| on this corpus
      assert(math.abs(icept) < 1e7, s"${r.getString(0)}: intercept $icept")
    }
    assert(rows.map(_.getAs[String]("event_type")).distinct.length == rows.length)
  }

  test("q95 keyword search: every hit really contains all query terms") {
    val t = graft.core.Tables(spark, dir)
    val hits = SparkEntry.queries("q95_keyword_search")(spark, dir).collect()
    assert(hits.nonEmpty)
    val texts = t.documents.select(col("doc_id"), lower(col("text")).as("tx"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach { r =>
      val tokens = texts(r.getAs[Long]("doc_id")).trim.split("\\s+").toSet
      assert(tokens.contains("data") && tokens.contains("the"),
        s"doc ${r.getAs[Long]("doc_id")} missing a query term")
    }
    // ranking is by total tf descending
    val tfs = hits.map(_.getAs[Long]("total_tf"))
    assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b })
  }

  test("q96 gap fill: dense grid, LOCF carries the last observed value") {
    val rows = SparkEntry.queries("q96_gap_fill")(spark, dir).collect()
    val byType = rows.groupBy(_.getString(0))
    val gridSize = byType.values.head.length
    byType.values.foreach(rs => assert(rs.length == gridSize, "grid not dense"))
    byType.values.foreach { rs =>
      val ordered = rs.sortBy(_.getAs[String]("hour_ts"))
      var lastObserved: Option[Double] = None
      ordered.foreach { r =>
        if (r.getAs[Boolean]("observed"))
          lastObserved = Some(r.getAs[Double]("filled_sum_value"))
        else {
          assert(r.getAs[Long]("n_events") == 0L)
          lastObserved match {
            case Some(v) => assert(r.getAs[Double]("filled_sum_value") == v,
              s"LOCF broke at ${r.getAs[String]("hour_ts")}")
            case None => assert(r.isNullAt(r.fieldIndex("filled_sum_value")))
          }
        }
      }
    }
  }

  test("q100 training corpus: stats bounded by the raw corpus, full split set") {
    val t = graft.core.Tables(spark, dir)
    val rows = SparkEntry.queries("q100_training_corpus")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total > 0 && total <= t.documents.count())
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    // train must dominate per lang present in all splits (80/10/10 hash)
    val trainDocs = rows.filter(_.getAs[String]("split") == "train")
      .map(_.getAs[Long]("n_docs")).sum
    assert(trainDocs > total / 2)
    rows.foreach(r => assert(r.getAs[Double]("avg_tokens") > 0))
  }

  test("q101 profile: distinct bounded by rows, key column unique") {
    val rows = SparkEntry.queries("q101_data_profile")(spark, dir).collect()
    val t = graft.core.Tables(spark, dir)
    val n = t.orders.count()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_distinct") + r.getAs[Long]("n_nulls") <= n)
    }
    val key = rows.find(_.getString(0) == "o_orderkey").get
    assert(key.getAs[Long]("n_distinct") == n && key.getAs[Long]("n_nulls") == 0L)
  }

  test("q102 equi-depth histogram: near-equal depths, ordered disjoint ranges") {
    val rows = SparkEntry.queries("q102_equidepth_histogram")(spark, dir).collect()
      .sortBy(_.getAs[Int]("bucket"))
    val n = rows.map(_.getAs[Long]("n_orders")).sum
    rows.foreach { r =>
      // equi-depth within generous tie slack on continuous-ish prices
      val c = r.getAs[Long]("n_orders")
      assert(c > n / 20 && c < n / 4, s"bucket ${r.getAs[Int]("bucket")}: $c of $n")
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_price") <= b.getAs[Double]("min_price"),
          "bucket ranges overlap")
      case _ => ()
    }
  }

  test("q87 ranking suite: tie and frame semantics hold") {
    val rows = SparkEntry.queries("q87_ranking_suite")(spark, dir).collect()
    assert(rows.length == graft.core.Tables(spark, dir).orders.count())
    val byPriority = rows.groupBy(_.getAs[String]("priority"))
    byPriority.foreach { case (_, rs) =>
      // rank >= dense_rank everywhere; equality only until the first tie
      rs.foreach { r =>
        assert(r.getAs[Int]("bucket_rank") >= r.getAs[Int]("bucket_dense_rank"))
        val pr = r.getAs[Double]("bucket_percent_rank")
        val cd = r.getAs[Double]("bucket_cume_dist")
        assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
      }
      // real ties exist (coarse buckets): rank has gaps dense_rank lacks
      val ranks = rs.map(_.getAs[Int]("bucket_rank")).toSet
      val dense = rs.map(_.getAs[Int]("bucket_dense_rank")).toSet
      assert(dense == (1 to dense.size).toSet, "dense_rank must be gapless")
      assert(ranks.size < rs.length || ranks == dense,
        "bucket ordering produced no ties — tie semantics untested")
      // the full-frame extraction: top_order_id is the partition's highest-
      // price order for EVERY row, and it carries bucket_rank 1
      val tops = rs.map(_.getAs[Long]("top_order_id")).toSet
      assert(tops.size == 1)
      val topRow = rs.find(_.getAs[Long]("order_id") == tops.head).get
      assert(topRow.getAs[Int]("bucket_rank") == 1) // highest price ⇒ top bucket
      // next_order_id is a permutation-free LEAD: each appears at most once
      val nexts = rs.flatMap(r => Option(r.getAs[Any]("next_order_id"))).map(_.asInstanceOf[Long])
      assert(nexts.distinct.length == nexts.length)
      assert(nexts.length == rs.length - 1) // exactly one partition tail null
    }
  }

  test("q155 grouping sets: exactly the 3 requested sets, margins consistent") {
    val rows = SparkEntry.queries("q155_grouping_sets")(spark, dir).collect()
    // gid bits (MSB = year): (year,flag) → status gone → 1;
    // (flag,status) → year gone → 4; grand total → 7. Nothing else.
    assert(rows.map(_.getAs[Int]("gid")).toSet == Set(1, 4, 7))
    val grand = rows.filter(_.getAs[Int]("gid") == 7)
    assert(grand.length == 1)
    // each set's n_rows partitions the fact: both sets sum to the total
    val total = grand.head.getAs[Long]("n_rows")
    assert(rows.filter(_.getAs[Int]("gid") == 1).map(_.getAs[Long]("n_rows")).sum == total)
    assert(rows.filter(_.getAs[Int]("gid") == 4).map(_.getAs[Long]("n_rows")).sum == total)
  }

  test("q156 golden record: partitions the catalog, mode is a member brand") {
    val t = sf()
    val rows = SparkEntry.queries("q156_golden_record")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == t.part.count())
    // canonical name is one of the cluster's member names and mode_brand
    // one of its member brands — verify against a recomputed membership map
    val members = graft.ext.FuzzyJoin.entityClusters(t).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
      .map { case (cid, rs) => cid -> rs.map(_.getAs[String]("name")).toSet }
    val brandsByName = t.part.select(col("p_name"), col("p_brand")).collect()
      .groupBy(_.getString(0)).map { case (n, rs) => n -> rs.map(_.getString(1)).toSet }
    rows.foreach { r =>
      val names = members(r.getAs[Long]("cluster_id"))
      assert(names.contains(r.getAs[String]("canonical_name")))
      assert(names.flatMap(brandsByName).contains(r.getAs[String]("mode_brand")))
    }
  }

  test("q157 dq audit: rule 5 fails by design, the rest pass, metrics in [0,1]") {
    val rows = SparkEntry.queries("q157_dq_audit")(spark, dir).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val m = r.getAs[Double]("metric")
      assert(m >= 0.0 && m <= 1.0)
      assert(r.getAs[Boolean]("passed") == (m >= r.getAs[Double]("threshold")))
    }
    val failed = rows.filter(!_.getAs[Boolean]("passed")).map(_.getAs[Int]("rule_id"))
    assert(failed.toSeq == Seq(5), s"expected only rule 5 to fail, got $failed")
  }

  test("q158 transitions: counts conserve sequences, probabilities normalize") {
    val t = sf()
    val rows = SparkEntry.queries("q158_event_transitions")(spark, dir).collect()
    // each user with n events contributes n-1 transitions
    val expected = t.events.count() -
      t.events.select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == expected)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, rs) =>
      val p = rs.map(_.getAs[Double]("p_transition")).sum
      assert(math.abs(p - 1.0) < 1e-4, s"probabilities sum to $p") // round(_,6) slack
    }
  }

  test("q159 interpolation: observed hours exact, gap interiors filled, edges null") {
    val t = sf()
    val rows = SparkEntry.queries("q159_gap_interpolate")(spark, dir).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    // independently recompute one observed hour's exact sum
    val direct = t.events
      .groupBy(col("event_type"), date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_ts"))
      .agg(graft.functions.ExactAgg.dsum(col("value")).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("v")).toMap
    byType.foreach { case (et, rs) =>
      val sorted = rs.sortBy(_.getAs[String]("hour_ts"))
      val obsIdx = sorted.zipWithIndex.filter(_._1.getAs[Boolean]("observed")).map(_._2)
      // every hour strictly between two observations is non-null;
      // hours before the first / after the last observation are null
      sorted.zipWithIndex.foreach { case (r, i) =>
        val v = Option(r.getAs[Any]("value_interp"))
        if (i < obsIdx.head || i > obsIdx.last) assert(v.isEmpty)
        else {
          assert(v.nonEmpty)
          if (r.getAs[Boolean]("observed"))
            assert(math.abs(v.get.asInstanceOf[Double] -
              direct((et, r.getAs[String]("hour_ts")))) < 1e-6)
        }
      }
    }
  }

  test("q160 keep-best: keeps each cluster's longest member (min-id tiebreak)") {
    val t = sf()
    val kept = SparkEntry.queries("q160_dedup_keep_best")(spark, dir).collect()
    // q45's clusters, from the query registry: pins q160 to q45's hash
    val clusters = SparkEntry.queries("q45_dup_clusters")(spark, dir).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    assert(clusters.values.exists(_.length > 1), "fixture has no near-dup cluster")
    assert(kept.length == clusters.size)
    val chars = t.documents.select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept.foreach { r =>
      val memberIds = clusters(r.getAs[Long]("cluster_id")).map(_.getAs[Long]("doc_id"))
      val best = memberIds.map(id => (-chars(id), id)).min._2
      assert(r.getAs[Long]("kept_doc_id") == best)
      assert(r.getAs[Long]("n_dropped") == memberIds.length - 1)
    }
  }

  test("q161 standardization: dim-complete, centered, outliers bounded") {
    val t = sf()
    val rows = SparkEntry.queries("q161_embedding_standardize")(spark, dir).collect()
    val nVec = t.embeddings.count()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == nVec)
      assert(r.getAs[Double]("std") > 0.0)
      // z is mean-centered: some mass on both sides
      assert(r.getAs[Double]("min_z") < 0.0 && r.getAs[Double]("max_z") > 0.0)
      assert(r.getAs[Long]("n_outliers_3sd") <= nVec)
    }
  }

  test("q162 rules: counts recount directly, lift identity holds") {
    val t = sf()
    val rows = SparkEntry.queries("q162_association_rules")(spark, dir).collect()
    assert(rows.nonEmpty)
    // independent recount of one pair's support from raw baskets
    val baskets = t.lineitem
      .join(t.part, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("b"), col("p_brand").as("i"))
      .distinct().collect()
      .groupBy(_.getAs[Long]("b")).map { case (_, rs) => rs.map(_.getString(1)).toSet }
    val n = baskets.size.toDouble
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("item_a"), r.getAs[String]("item_b"))
      assert(a < b)
      val nab = baskets.count(s => s(a) && s(b))
      assert(r.getAs[Long]("n_ab") == nab)
      assert(r.getAs[Long]("n_a") == baskets.count(_(a)))
      assert(nab <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      // lift = conf(a→b) / P(b)
      val expLift = r.getAs[Double]("conf_a_to_b") /
        (r.getAs[Long]("n_b") / n)
      assert(math.abs(r.getAs[Double]("lift") - expLift) < 1e-4)
    }
  }

  test("q163 power iteration: distributed ≡ single-node integer reference") {
    val t = sf()
    val rows = SparkEntry.queries("q163_pca_power_iteration")(spark, dir)
      .collect().sortBy(_.getAs[Int]("dim"))
    assert(rows.length == 64)
    val v = rows.map(_.getAs[Long]("v_scaled"))
    assert(v.map(math.abs).max > 900000L) // renormalized to ~VecScale
    // replicate the exact fixed-point iteration single-node from the
    // same quantized covariance: every component must match bit-for-bit
    val covRows = graft.ext.Similarity.embeddingCovariance(t).collect()
    val m = Array.ofDim[Long](64, 64)
    covRows.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      // Spark's Round on doubles goes through BigDecimal.valueOf
      val q = java.math.BigDecimal.valueOf(r.getAs[Double]("cov") * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      m(i)(j) = q; m(j)(i) = q
    }
    var ref = Array.fill(64)(1000000L)
    for (_ <- 1 to 12) {
      val w = (0 until 64).map(i =>
        (0 until 64).map(j => m(i)(j) * ref(j)).sum).toArray
      val mx = w.map(math.abs).max
      val d = math.max(mx / 1000000L, 1L)
      ref = w.map(x => math.signum(x) * (math.abs(x) / d))
    }
    assert(v.toSeq == ref.toSeq)
    // and the result is directionally an eigenvector (12 rounds against
    // this fixture's ~0.93 eigen-ratio: loose bound, exactness above)
    val vd = v.map(_.toDouble)
    val w = (0 until 64).map(i => (0 until 64).map(j => m(i)(j) * vd(j)).sum)
    val cos = w.zip(vd).map(p => p._1 * p._2).sum /
      (math.sqrt(w.map(x => x * x).sum) * math.sqrt(vd.map(x => x * x).sum))
    assert(math.abs(cos) > 0.99, s"not near an eigenvector: |cos|=$cos")
  }

  test("q175 k-means: distributed ≡ single-node integer reference; inertia monotone") {
    val t = sf()
    val k = 8
    // single-node replica of the exact fixed-point Lloyd iteration
    val vecs = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x =>
          java.math.BigDecimal.valueOf(x.toDouble * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toArray))
      .sortBy(_._1)
    val stride = math.max(1L, vecs.length.toLong / k)
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def run(iters: Int): Map[Long, (Long, Double)] = {
      var cents: Seq[(Long, Array[Long])] =
        vecs.filter(_._1 % stride == 0).take(k).map(v => (v._1, v._2))
      def assign(): Array[(Long, Long, Long)] = // (vec, cid, dist)
        vecs.map { case (vid, qv) =>
          val (cid, d) = cents.map(c => (c._1, dist(qv, c._2)))
            .minBy(p => (p._2, p._1))
          (vid, cid, d)
        }
      for (_ <- 1 to iters) {
        val byC = assign().groupBy(_._2)
        cents = cents.map { case (cid, old) =>
          byC.get(cid) match {
            case None => (cid, old) // empty cluster keeps its centroid
            case Some(members) =>
              val qs = members.map(m => vecs.find(_._1 == m._1).get._2)
              (cid, old.indices.map(i =>
                Math.floorDiv(qs.map(_(i)).sum, qs.length.toLong)).toArray)
          }
        }
      }
      assign().groupBy(_._2).map { case (cid, ms) =>
        val hi = ms.map(_._3 >> 26).sum
        val lo = ms.map(_._3 & 67108863L).sum
        cid -> (ms.length.toLong, hi.toDouble * 67108864.0 + lo.toDouble)
      }
    }
    val got = graft.ext.Spectral.kmeansReport(t, k, iters = 3).collect()
    val ref = run(3)
    assert(got.map(_.getLong(1)).sum == vecs.length.toLong, "members not conserved")
    assert(got.length == ref.size)
    for (r <- got) {
      val (nRef, inRef) = ref(r.getLong(0))
      assert(r.getLong(1) == nRef, s"cluster ${r.getLong(0)} size mismatch")
      assert(r.getDouble(2) == inRef, s"cluster ${r.getLong(0)} inertia mismatch")
    }
    // Lloyd contract: total inertia non-increasing in the round count
    val inertias = (1 to 3).map(i =>
      graft.ext.Spectral.kmeansReport(t, k, i).collect().map(_.getDouble(2)).sum)
    assert(inertias.sliding(2).forall(p => p(1) <= p(0) + 1e-6),
      s"inertia not monotone: $inertias")
  }

  test("q164 overlap: union bounds hold, estimates near exact truth") {
    val t = sf()
    val rows = SparkEntry.queries("q164_audience_overlap")(spark, dir).collect()
    val users = t.events.select(col("event_type"), col("user_id")).distinct()
      .collect().groupBy(_.getString(0))
      .map { case (et, rs) => et -> rs.map(_.getAs[Long]("user_id")).toSet }
    assert(rows.length == users.size * (users.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val (ea, eb, eu) = (r.getAs[Double]("est_a"), r.getAs[Double]("est_b"),
        r.getAs[Double]("est_union"))
      assert(eu <= ea + eb + 1e-9)
      assert(eu >= math.max(ea, eb) - 1e-9) // bottom-k of union dominates
      val truth = (users(a) ++ users(b)).size.toDouble
      assert(math.abs(eu - truth) / truth < 0.2, s"$a/$b union $eu vs $truth")
    }
  }

  test("q165 paths: top trigrams match an independent rank-join recount") {
    val t = sf()
    val rows = SparkEntry.queries("q165_event_paths")(spark, dir).collect()
    // recount via explicit rank self-joins (different mechanism than lead)
    val ranked = t.events.select(col("user_id"), col("event_type"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
          .as("rn"))
      .collect().groupBy(_.getAs[Long]("user_id"))
    val counts = scala.collection.mutable.Map[(String, String, String), Long]()
    ranked.values.foreach { rs =>
      val seq = rs.sortBy(_.getAs[Int]("rn")).map(_.getString(1))
      seq.sliding(3).filter(_.length == 3).foreach { tri =>
        val k = (tri(0), tri(1), tri(2)); counts(k) = counts.getOrElse(k, 0L) + 1
      }
    }
    val expected = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(rows.length)
    val got = rows.map(r => ((r.getString(0), r.getString(1), r.getString(2)),
      r.getAs[Long]("n_paths"))).toSeq
    assert(got == expected)
  }

  test("q166 anova: partition identity SSB+SSW = total SS, F recomputes") {
    val t = sf()
    val rows = SparkEntry.queries("q166_anova")(spark, dir).collect()
    val vals = t.events.select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val n = vals.length.toDouble
    val totalSS = vals.map(v => v._2 * v._2).sum -
      math.pow(vals.map(_._2).sum, 2) / n
    val (ssb, ssw) = (rows.head.getAs[Double]("ssb"), rows.head.getAs[Double]("ssw"))
    assert(math.abs(ssb + ssw - totalSS) / totalSS < 1e-6)
    assert(rows.map(_.getAs[Double]("f_stat")).distinct.length == 1)
    val k = rows.length
    val expF = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(rows.head.getAs[Double]("f_stat") - expF) < 1e-3)
    // per-group means match a direct recount
    rows.foreach { r =>
      val g = vals.filter(_._1 == r.getAs[String]("event_type")).map(_._2)
      assert(r.getAs[Long]("n_g") == g.length)
      assert(math.abs(r.getAs[Double]("mean_g") - g.sum / g.length) < 1e-4)
    }
  }

  test("q167 decomposition: components re-add to observed, profile centered") {
    val rows = SparkEntry.queries("q167_seasonal_decompose")(spark, dir).collect()
    // dense grid: one row per hour across the span, no holes
    assert(rows.length >= 24)
    val withTrend = rows.filter(r => !r.isNullAt(r.fieldIndex("trend")))
    // exactly 24 edge rows lack a full 25-hour window (12 each side)
    assert(rows.length - withTrend.length == 24)
    withTrend.foreach { r =>
      val recon = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(recon - r.getAs[Long]("n_events")) < 1e-4)
    }
    // seasonal profile (24 distinct values) sums to ~0 after re-centering
    val profile = withTrend.map(r => r.getAs[String]("hour_ts").substring(11, 13) ->
      r.getAs[Double]("seasonal")).distinct
    assert(profile.length == 24)
    assert(math.abs(profile.map(_._2).sum) < 1e-3)
  }

  test("q168 attribution: both credit columns conserve the purchase count") {
    val t = sf()
    val rows = SparkEntry.queries("q168_attribution")(spark, dir).collect()
    val nPurch = t.events.filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_first_touch")).sum == nPurch)
    assert(rows.map(_.getAs[Long]("n_last_touch")).sum == nPurch)
    assert(math.abs(rows.map(_.getAs[Double]("share_first")).sum - 1.0) < 1e-4)
    // hand-check one user's earliest purchase: its last_touch must be the
    // event immediately before it in (ts, event_id) order
    val ev = t.events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val byUser = ev.groupBy(_._1).view.mapValues(_.sortBy(e => (e._2.getTime, e._3)))
    // conservation of 'none': purchases whose user has no earlier non-purchase
    val expectedNone = byUser.values.map { es =>
      es.zipWithIndex.count { case (e, i) =>
        e._4 == "purchase" && !es.take(i).exists(_._4 != "purchase")
      }
    }.sum
    val noneRow = rows.find(_.getAs[String]("channel") == "none")
    assert(noneRow.map(_.getAs[Long]("n_last_touch")).getOrElse(0L) == expectedNone)
  }

  test("q169 dedup eval: hit bounds hold and truth recounts brute-force") {
    val t = sf()
    val r = SparkEntry.queries("q169_dedup_eval")(spark, dir).collect().head
    val (nT, nC, nH) = (r.getAs[Long]("n_truth"), r.getAs[Long]("n_candidates"),
      r.getAs[Long]("n_hit"))
    assert(nH <= math.min(nT, nC))
    assert(nT > 0) // the fixture plants near-dups in every id range
    // brute-force truth recount over the slice (token-set Jaccard >= 0.2
    // on 3-shingles, same rounding)
    val sh = t.documents.select(col("doc_id"),
        array_distinct(graft.ext.Dedup.shingles(col("text"))).as("s"))
      .collect().map(r2 => r2.getAs[Long]("doc_id") ->
        r2.getSeq[String](1).toSet).toMap
    val truth = for {
      a <- sh.keys.filter(_ < 64).toSeq; b <- sh.keys.toSeq if a < b
      j = BigDecimal(sh(a).intersect(sh(b)).size.toDouble /
        (sh(a) ++ sh(b)).size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if j >= BigDecimal("0.2")
    } yield (a, b)
    assert(nT == truth.length)
    r.getAs[Double]("precision") match { case p => assert(p >= 0.0 && p <= 1.0) }
    assert(r.getAs[Double]("recall") <= 1.0)
  }

  test("q170 perplexity filter: counts conserve, threshold cuts ~p10 strictly below") {
    val t = sf()
    val rows = SparkEntry.queries("q170_perplexity_filter")(spark, dir).collect()
    assert(rows.length > 1) // one row per source
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_scored") + r.getAs[Long]("n_unscored"))
      assert(r.getAs[Long]("n_scored") ==
        r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped"))
    }
    val thresholds = rows.map(_.getAs[Double]("threshold")).distinct
    assert(thresholds.length == 1) // one global cut, repeated per row
    val nScored = rows.map(_.getAs[Long]("n_scored")).sum
    val nDropped = rows.map(_.getAs[Long]("n_dropped")).sum
    assert(nDropped > 0) // the synthetic corpus has a scorable low tail
    // value-threshold semantics: strictly-below-the-p10-edge drops at most
    // ~10% plus the occupancy of the one grid cell the edge interpolates in
    assert(nDropped <= nScored / 10 + 64)
    // the verdict recomputes: docs strictly below the threshold, from the
    // same scoring frame the filter used
    val scored = graft.ext.TextAnalysis.bigramFluency(t)
      .select(col("doc_id"), col("avg_p").cast("double").as("score")).collect()
    val below = scored.count(_.getAs[Double]("score") < thresholds.head)
    assert(below.toLong == nDropped)
    assert(scored.length.toLong == nScored)
  }
}

package graft.ext

import graft.core.Tables
import graft.functions.KmvSketch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training-data
  * pipelines.
  *
  * `df.sample()` / `randomSplit()` are seed-dependent AND partition-layout
  * dependent — a repartition, AQE re-plan, or retry reassigns rows between
  * splits, which silently leaks training data into eval sets. Hash-based
  * assignment fixes the split of every row FOREVER (a pure function of its
  * id), independent of layout, cluster size, engine version, or which
  * subset of the corpus is present — the property a 100 TB training
  * pipeline actually needs (re-ingesting one shard must not reshuffle
  * everyone else's split).
  *
  * Uses the portable 31-bit hash ([[KmvSketch.hash31]]) so the assignment
  * is replayable by any SQL engine (the DuckDB oracle replays q48
  * bit-for-bit).
  */
object Sampling {

  /** Portable NON-LINEAR 31-bit hash for bucket assignment.
    *
    * [[KmvSketch.hash31]] is multiplicative-only, so it is LINEAR in the
    * input modulo M ((a·x mod M)·b mod M ≡ ab·x) — fine for bottom-k
    * distinct sketches (it's the classic 2-universal family) but terrible
    * for bucketing SEQUENTIAL ids: consecutive ids stride through residues
    * mod `buckets` with heavy structure (measured 62/19/19 on a requested
    * 80/10/10 split). Squaring between the rounds breaks linearity while
    * keeping every intermediate below 2^63 (h < 2^31 → h² < 2^62), so
    * overflow-checking engines still evaluate it exactly: measured
    * 80.4/9.4/10.2 on the same ids. */
  def splitHash(id: Column): Column = {
    val m = lit(KmvSketch.M)
    val h = pmod(pmod(id.cast("long"), m) * lit(2654435761L), m)
    pmod(pmod(h * h, m) * lit(2246822519L) + lit(1L), m)
  }

  /** The DuckDB mirror of [[splitHash]]. */
  def splitHashSql(x: String): String = {
    val m = KmvSketch.M
    val h = s"(((($x) % $m) * 2654435761) % $m)"
    s"((($h * $h) % $m) * 2246822519 + 1) % $m"
  }

  /** Hash bucket in [0, buckets) for an id column — the assignment
    * primitive. */
  def hashBucket(id: Column, buckets: Int = 100): Column =
    pmod(splitHash(id), lit(buckets.toLong))

  /** Deterministic train/val/test split: percentages out of 100 by hash
    * bucket. A row's split never changes as the corpus grows or re-lays
    * out. */
  def splitColumn(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic fraction sample: keeps ~`pct`% of rows, stable across
    * runs/layouts. The filter pushes to the scan like any other
    * predicate. */
  def deterministicSample(df: DataFrame, id: Column, pct: Int): DataFrame =
    df.filter(hashBucket(id) < pct)

  /** Data mixing: per-stratum deterministic sampling rates — the primitive
    * behind training-mix weights ("keep 80% of English, 30% of French").
    * Same anti-leak hash assignment as [[splitColumn]], so a row's fate is
    * fixed forever regardless of corpus growth or layout; the stratum only
    * chooses WHICH percentage applies. The rate lookup compiles to a CASE
    * ladder and the whole mix is a scan-level filter — no shuffle, no
    * sampling state. */
  def mixByStratum(df: DataFrame, stratum: Column, id: Column,
                   ratesPct: Seq[(String, Int)], defaultPct: Int): DataFrame = {
    // foldRight so the FIRST matching entry wins, like the CASE ladder a
    // SQL mirror writes top-down (foldLeft would silently reverse
    // precedence for duplicate/overridden keys)
    val rate = ratesPct.foldRight(lit(defaultPct): Column) { case ((k, pct), acc) =>
      when(stratum === lit(k), lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(id) < rate)
  }

  /** q56: the documents corpus mixed at per-language rates. */
  def documentMix(t: Tables): DataFrame =
    mixByStratum(t.documents, col("lang"), col("doc_id"),
      Seq("en" -> 80, "fr" -> 30, "es" -> 50), defaultPct = 10)
      .select(col("doc_id"), col("lang"), hashBucket(col("doc_id")).as("bucket"))
      .orderBy(col("doc_id"))

  /** The DuckDB mirror of [[documentMix]]. */
  val documentMixSql: String = {
    val b = s"(${splitHashSql("doc_id")}) % 100"
    s"""SELECT doc_id, lang, $b AS bucket
       |FROM documents
       |WHERE $b < (CASE WHEN lang = 'en' THEN 80
       |                 WHEN lang = 'fr' THEN 30
       |                 WHEN lang = 'es' THEN 50
       |                 ELSE 10 END)
       |ORDER BY doc_id""".stripMargin
  }

  /** q48: per-document split assignment + per-(lang, split) counts — both
    * the row-level assignment and the stratification summary a pipeline
    * records next to a dataset release. */
  def documentSplits(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("lang"),
        hashBucket(col("doc_id")).as("bucket"),
        splitColumn(col("doc_id")).as("split"))
      .orderBy(col("doc_id"))

  /** q67: the dataset release card — per (lang, split) document counts,
    * token totals, and means; the stratification summary published next to
    * a training-data release. One shuffle on the two tiny group keys;
    * token counting stays narrow in the map side. */
  def dataCard(t: Tables): DataFrame = {
    val tks = TextAnalysis.tokens(col("text"))
    t.documents
      .select(col("lang"), splitColumn(col("doc_id")).as("split"),
        size(tks).as("n_tokens"), col("n_chars"))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        round(sum(col("n_tokens").cast("long")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
      .orderBy(col("lang"), col("split"))
  }

  /** The DuckDB mirror of [[dataCard]]. */
  val dataCardSql: String = {
    val b = s"(${splitHashSql("doc_id")}) % 100"
    s"""WITH base AS (
       |  SELECT lang,
       |   CASE WHEN $b < 80 THEN 'train'
       |        WHEN $b < 90 THEN 'val' ELSE 'test' END AS split,
       |   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |   n_chars
       |  FROM documents)
       |SELECT lang, split, count(*) AS n_docs,
       | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       | round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens,
       | round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
       |FROM base GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q69: sequence packing — place every document in a stream of fixed-size
    * training windows (concatenate-and-chunk, the GPT-style pretraining
    * layout: documents are concatenated in a deterministic order and the
    * stream is cut every `ctxTokens` tokens; a document may straddle a cut).
    *
    * Scale design: packing is embarrassingly parallel across deterministic
    * hash groups — `pack_group = splitHash(doc_id) mod groups` — so the only
    * shuffle is one hash partition, and the running-position window sorts
    * WITHIN each group (no global sort, no single-partition window). At
    * 100 TB `groups` scales with the cluster (each group is an independent
    * token stream); the assignment stays a pure function of doc_id, so
    * re-packing after corpus growth only perturbs the groups that changed.
    * All arithmetic is integer, so the DuckDB oracle replays it exactly. */
  def packSequences(t: Tables, ctxTokens: Int = 512, groups: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pack_group")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.documents
      .select(
        col("doc_id"),
        pmod(splitHash(col("doc_id")), lit(groups.toLong)).as("pack_group"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("token_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_index", expr(s"token_start div $ctxTokens"))
      .withColumn("offset_in_seq", pmod(col("token_start"), lit(ctxTokens.toLong)))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB mirror of [[packSequences]]. */
  def packSequencesSql(ctxTokens: Int = 512, groups: Int = 32): String = {
    val h = splitHashSql("doc_id")
    s"""WITH base AS (
       |  SELECT doc_id, ($h) % $groups AS pack_group,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |pos AS (
       |  SELECT *, COALESCE(CAST(sum(n_tokens) OVER (
       |    PARTITION BY pack_group ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    CAST(0 AS BIGINT)) AS token_start
       |  FROM base)
       |SELECT doc_id, pack_group, n_tokens, token_start,
       | token_start // $ctxTokens AS seq_index,
       | token_start % $ctxTokens AS offset_in_seq
       |FROM pos ORDER BY doc_id""".stripMargin
  }

  /** q70: training-mixture weights — per-language corpus sizes and the
    * temperature-scaled sampling rate `sqrt(tokens_i) / max_j sqrt(tokens_j)`
    * (α = 0.5 temperature sampling, normalized so the largest stratum keeps
    * rate 1.0 and everything else is UP-weighted relative to proportional
    * sampling — the multilingual rebalancing rule of the mT5/XLM-R family).
    *
    * Normalizing by the MAX keeps the whole computation bit-portable: max
    * over doubles is order-independent, where a sum of irrational sqrt
    * terms would depend on partial-aggregation order. One shuffle to the
    * per-language aggregate (a handful of rows at any corpus size); the
    * global max is a window over that tiny aggregate. */
  def mixtureWeights(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t.documents
      .select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("sqrt_tokens", sqrt(col("total_tokens").cast("double")))
      .withColumn(
        "mix_rate",
        round(col("sqrt_tokens") / max(col("sqrt_tokens")).over(Window.partitionBy()), 6))
      .withColumn("target_docs",
        round(col("n_docs") * col("mix_rate"), 0).cast("long"))
      .drop("sqrt_tokens")
      .orderBy(col("lang"))
  }

  /** The DuckDB mirror of [[mixtureWeights]]. */
  val mixtureWeightsSql: String =
    s"""WITH per AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
       |      AS total_tokens
       |  FROM documents GROUP BY 1)
       |SELECT lang, n_docs, total_tokens,
       | round(sqrt(CAST(total_tokens AS DOUBLE))
       |   / max(sqrt(CAST(total_tokens AS DOUBLE))) OVER (), 6) AS mix_rate,
       | CAST(round(n_docs * round(sqrt(CAST(total_tokens AS DOUBLE))
       |   / max(sqrt(CAST(total_tokens AS DOUBLE))) OVER (), 6), 0) AS BIGINT)
       |   AS target_docs
       |FROM per ORDER BY lang""".stripMargin

  /** q73: per-source document cap — keep at most `cap` documents from any
    * one source, chosen by deterministic hash order (no single domain may
    * dominate the mix; the per-domain cap every web-corpus release
    * applies). Hash-ordering the survivors makes the kept set a uniform,
    * layout-independent sample of the stratum — first-N-by-doc_id would
    * bias toward old crawls — and a row's fate changes only when its OWN
    * stratum grows past the cap.
    *
    * One shuffle on `source` for the per-stratum rank. A pathologically
    * hot stratum concentrates its rank computation on one partition; the
    * cap output is equivalently a per-stratum bottom-`cap` by hash value,
    * so the scale path two-phases it (per-partition bottom-cap, then
    * merge) exactly like TakeOrdered — semantics identical, pinned here by
    * the single-window form the oracle replays. */
  def capPerSource(t: Tables, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(splitHash(col("doc_id")), col("doc_id"))
    t.documents
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= cap)
      .orderBy(col("doc_id"))
  }

  /** The DuckDB mirror of [[capPerSource]]. */
  def capPerSourceSql(cap: Int = 20): String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, lang,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${splitHashSql("doc_id")}, doc_id) AS stratum_rank
       |  FROM documents)
       |SELECT doc_id, source, lang, CAST(stratum_rank AS INTEGER) AS stratum_rank
       |FROM ranked WHERE stratum_rank <= $cap ORDER BY doc_id""".stripMargin

  /** The DuckDB mirror of [[documentSplits]]. */
  val documentSplitsSql: String = {
    val b = s"(${splitHashSql("doc_id")}) % 100"
    s"""SELECT doc_id, lang, $b AS bucket,
       | CASE WHEN $b < 80 THEN 'train'
       |      WHEN $b < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q90: split-drift check — does the held-out data look like the
    * training data? Document length is binned into coarse deciles; each
    * non-train split's bin distribution is compared against train's, per
    * bin (share gap) and per split (total-variation distance). A biased
    * splitter — or upstream time-ordered data leaking through a
    * non-uniform hash — shows up here before it shows up as a mystery
    * eval gap. The TVD numerator stays in INTEGER arithmetic
    * (|c_s·T_t − c_t·T_s| summed as longs, one double division at the
    * end), so the statistic is bit-portable: float summation order can
    * never wiggle the 6th decimal.
    *
    * Scale shape: one pass over the corpus for the (split, bin) counts;
    * everything after operates on the ≤ (splits × bins) count frame —
    * broadcast joins over frames of size 30. */
  def splitDrift(t: Tables, binChars: Int = 100, nBins: Int = 10): DataFrame = {
    val base = t.documents.select(
      splitColumn(col("doc_id")).as("split"),
      least(floor(col("n_chars") / binChars), lit(nBins - 1)).cast("int").as("bin"))
    val counts = base.groupBy(col("split"), col("bin")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // tiny; feeds the grid, totals, and train side
    // dense (split × observed-bin) grid so zero-count bins still
    // contribute their |0 − p| mass to the TVD
    val grid = counts.select(col("bin")).distinct()
      .crossJoin(counts.select(col("split")).distinct())
    val full = grid.join(counts, Seq("split", "bin"), "left")
      .select(col("split"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
    val totals = full.groupBy(col("split")).agg(sum(col("c")).as("total"))
    val withTotals = full.join(broadcast(totals), "split")
    val train = withTotals.filter(col("split") === "train")
      .select(col("bin"), col("c").as("c_t"), col("total").as("total_t"))
    import org.apache.spark.sql.expressions.Window
    withTotals.filter(col("split") =!= "train")
      .join(broadcast(train), "bin")
      .select(
        col("split"), col("bin"), col("c").as("n_docs"),
        round(col("c").cast("double") / col("total"), 6).as("share"),
        round(col("c_t").cast("double") / col("total_t"), 6).as("train_share"),
        abs(col("c") * col("total_t") - col("c_t") * col("total")).as("gap_num"),
        (col("total") * col("total_t")).as("denom"))
      .withColumn("tvd",
        round(sum(col("gap_num")).over(Window.partitionBy(col("split")))
          .cast("double") / (lit(2.0) * col("denom")), 6))
      .drop("denom")
      .orderBy(col("split"), col("bin"))
  }

  /** The DuckDB mirror of [[splitDrift]] — same integer TVD numerator. */
  def splitDriftSql(binChars: Int = 100, nBins: Int = 10): String = {
    val b = s"(${splitHashSql("doc_id")}) % 100"
    s"""WITH base AS (
       |  SELECT CASE WHEN $b < 80 THEN 'train'
       |              WHEN $b < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |   CAST(least(floor(n_chars / $binChars), ${nBins - 1}) AS INTEGER) AS bin
       |  FROM documents),
       |counts AS (SELECT split, bin, count(*) AS c FROM base GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.split, b.bin
       |  FROM (SELECT DISTINCT split FROM counts) s
       |  CROSS JOIN (SELECT DISTINCT bin FROM counts) b),
       |full_g AS (
       |  SELECT g.split, g.bin, coalesce(c.c, 0) AS c
       |  FROM grid g LEFT JOIN counts c ON g.split = c.split AND g.bin = c.bin),
       |totals AS (SELECT split, CAST(sum(c) AS BIGINT) AS total FROM full_g GROUP BY 1),
       |wt AS (SELECT f.split, f.bin, f.c, t.total
       |       FROM full_g f JOIN totals t USING (split)),
       |train AS (
       |  SELECT bin, c AS c_t, total AS total_t FROM wt WHERE split = 'train')
       |SELECT w.split, w.bin, w.c AS n_docs,
       | round(CAST(w.c AS DOUBLE) / w.total, 6) AS share,
       | round(CAST(tr.c_t AS DOUBLE) / tr.total_t, 6) AS train_share,
       | CAST(abs(w.c * tr.total_t - tr.c_t * w.total) AS BIGINT) AS gap_num,
       | round(CAST(sum(abs(w.c * tr.total_t - tr.c_t * w.total))
       |     OVER (PARTITION BY w.split) AS DOUBLE)
       |   / (2.0e0 * w.total * tr.total_t), 6) AS tvd
       |FROM wt w JOIN train tr USING (bin)
       |WHERE w.split <> 'train'
       |ORDER BY w.split, w.bin""".stripMargin
  }

  /** q112: the k largest documents per source — the bounded-heap top-k
    * aggregate ([[graft.functions.TopKAgg]]) instead of a
    * `row_number() OVER (...)` filter. The window form shuffles and sorts
    * the whole corpus to keep 3 rows per source; this plan's exchange
    * carries at most k (ord, id) pairs per (source, partition) and no sort
    * ever sees the full input. The oracle replays the window form — both
    * compute the same unique kept set because the ordering
    * (n_chars DESC, doc_id ASC) is total. */
  def topDocsPerSource(t: Tables, k: Int = 3): DataFrame = {
    graft.functions.TopKAgg.register(t.spark)
    t.documents
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topKBy(col("n_chars"), col("doc_id"), k).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(
        col("source"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").as("doc_id"),
        col("col.ord").as("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** The DuckDB mirror of [[topDocsPerSource]]: the window form. */
  def topDocsPerSourceSql(k: Int = 3): String =
    s"""SELECT source, CAST(rn AS INTEGER) AS rank, doc_id, n_chars
       |FROM (SELECT source, doc_id, n_chars,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY n_chars DESC, doc_id) AS rn
       |      FROM documents)
       |WHERE rn <= $k
       |ORDER BY source, rank""".stripMargin

  /** q114: deterministic k-per-group uniform sample — the same bounded-heap
    * kernel ordered by the portable split hash (negated: the k SMALLEST
    * hashes win), giving every group exactly min(k, |group|) rows chosen
    * uniformly and layout-independently. The per-group companion to
    * [[deterministicSample]]'s fraction filter: a fraction can't promise
    * "exactly 5 exemplars per source" and a window sample can't promise
    * "no full sort" — this does both. */
  def sampleKPerSource(t: Tables, k: Int = 5): DataFrame = {
    graft.functions.TopKAgg.register(t.spark)
    t.documents
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topKBy(-splitHash(col("doc_id")), col("doc_id"), k).as("keep"))
      .select(col("source"), posexplode(col("keep")))
      .select(
        col("source"),
        (col("pos") + 1).cast("int").as("pick"),
        col("col.payload").as("doc_id"),
        (-col("col.ord")).as("h"))
      .orderBy(col("source"), col("pick"))
  }

  /** q119: token-budget mixing — fill a per-source character budget
    * (weight% of that source's corpus mass) with documents in portable-hash
    * order, keeping the longest PREFIX of that order that fits (the first
    * overflowing document ends the kept set — later smaller documents are
    * NOT back-filled; prefix semantics are what keep the set monotone in
    * the budget). This is the
    * budget-constrained form of [[mixByStratum]]: a rate filter keeps ~X%
    * of ROWS regardless of their size; a training-mix spec is written in
    * TOKENS ("fill 1T tokens: 50% web, 30% code…"), and this keeps the
    * exact greedy prefix of the hash order that satisfies it. Hash order
    * makes the kept prefix a uniform, layout-independent sample (first-N
    * by doc_id would bias toward old crawls) that only ever GROWS with the
    * budget. All budget arithmetic is integer (chars × pct div 100), so
    * the oracle replays the cutoff exactly.
    *
    * Scale shape: per-source totals are a tiny broadcast aggregate; the
    * cumulative fill is one window over the (doc_id, source, n_chars)
    * STATS frame — document text never shuffles. */
  def tokenBudgetMix(t: Tables,
                     ratesPct: Seq[(String, Int)] = Seq("src0" -> 80, "src1" -> 30),
                     defaultPct: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pct = ratesPct.foldRight(lit(defaultPct): Column) { case ((k, p), acc) =>
      when(col("source") === lit(k), lit(p)).otherwise(acc)
    }
    val budgets = t.documents
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("total_chars"))
      .withColumn("pct", pct)
      .withColumn("budget", expr("(total_chars * pct) div 100"))
      .select(col("source"), col("budget"))
    val w = Window.partitionBy(col("source"))
      .orderBy(splitHash(col("doc_id")), col("doc_id"))
    t.documents
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(budgets), "source")
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .filter(col("cum_chars") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("cum_chars"), col("budget"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB mirror of [[tokenBudgetMix]]. */
  def tokenBudgetMixSql(ratesPct: Seq[(String, Int)] = Seq("src0" -> 80, "src1" -> 30),
                        defaultPct: Int = 50): String = {
    val caseArms = ratesPct
      .map { case (k, p) => s"WHEN source = '$k' THEN $p" }
      .mkString(" ")
    val h = splitHashSql("doc_id")
    s"""WITH b AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |  FROM documents GROUP BY 1),
       |bb AS (
       |  SELECT source,
       |   (total_chars * (CASE $caseArms ELSE $defaultPct END)) // 100 AS budget
       |  FROM b),
       |c AS (
       |  SELECT d.doc_id, d.source, d.n_chars, bb.budget,
       |   CAST(sum(d.n_chars) OVER (PARTITION BY d.source
       |          ORDER BY ($h), d.doc_id) AS BIGINT) AS cum_chars
       |  FROM documents d JOIN bb USING (source))
       |SELECT doc_id, source, n_chars, cum_chars, budget
       |FROM c WHERE cum_chars <= budget
       |ORDER BY doc_id""".stripMargin
  }

  /** The DuckDB mirror of [[sampleKPerSource]]. */
  def sampleKPerSourceSql(k: Int = 5): String = {
    val h = splitHashSql("doc_id")
    s"""SELECT source, CAST(rn AS INTEGER) AS pick, doc_id, h
       |FROM (SELECT source, doc_id, ($h) AS h,
       |        row_number() OVER (PARTITION BY source
       |                           ORDER BY ($h) ASC, doc_id) AS rn
       |      FROM documents)
       |WHERE rn <= $k
       |ORDER BY source, pick""".stripMargin
  }

  /** Neyman allocation for a stratified sample of `events` by event_type:
    * the sampling DESIGN step that decides how many rows to draw from each
    * stratum before any row is drawn. Optimal allocation puts the budget
    * where the variance is: n_h = n_target · N_h·S_h / Σ N_h·S_h, with
    * N_h the stratum size and S_h the stratum's sample stddev of `value`.
    * One pass over the fact (the [[graft.functions.ExactAgg]] moment
    * kernels make S_h order-independent, so the plan is bit-reproducible);
    * the allocation arithmetic runs on the strata-sized frame against a
    * 1-row broadcast total. Pairs with [[sampleKPerSource]] /
    * [[capPerSource]] as the execution step: feed n_h in as the per-
    * stratum cap and the draw stays layout-independent too. */
  def neymanAllocation(t: Tables, nTarget: Int = 1000): DataFrame = {
    import graft.functions.ExactAgg
    val strata = t.events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_h"),
        ExactAgg.dstd(col("value")).as("s_h"))
      .localCheckpoint() // strata frame feeds the total and the allocation
    val tot = strata.agg(ExactAgg.dsum(col("n_h") * col("s_h")).as("total_ns"))
    strata.crossJoin(broadcast(tot))
      .select(
        col("event_type"), col("n_h"),
        round(col("s_h"), 6).as("s_h"),
        round(col("n_h") * col("s_h") / col("total_ns"), 6).as("weight"),
        round(lit(nTarget) * col("n_h") * col("s_h") / col("total_ns"), 0)
          .cast("long").as("n_alloc"))
      .orderBy(col("event_type"))
  }

  /** The DuckDB mirror of [[neymanAllocation]]. */
  def neymanAllocationSql(nTarget: Int = 1000): String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH strata AS (
       |  SELECT event_type, count(*) AS n_h, ${O.dstd("value")} AS s_h
       |  FROM events GROUP BY 1),
       |tot AS (SELECT ${O.dsum("n_h * s_h")} AS total_ns FROM strata)
       |SELECT event_type, n_h, round(s_h, 6) AS s_h,
       |  round(n_h * s_h / total_ns, 6) AS weight,
       |  CAST(round($nTarget * n_h * s_h / total_ns, 0) AS BIGINT) AS n_alloc
       |FROM strata CROSS JOIN tot
       |ORDER BY event_type""".stripMargin
  }

  /** q150: length-bucketed inference batching with padding-waste
    * accounting — the batch-construction step of LLM batch inference /
    * training: documents of similar token length are grouped so each
    * batch pads to its own max length instead of the corpus max.
    * Sequence packing (q69) CONCATENATES documents into fixed windows;
    * this keeps documents whole and PADS, which is what attention-masked
    * batched forward passes consume.
    *
    * Bucketing is by linear length band (`bucketTokens`-wide, capped at
    * `maxBucket` so the long tail shares one band); within a bucket,
    * docs are laid out longest-first (minimizing per-batch padding) with
    * doc_id tiebreak and cut into `batchSize`-doc batches. Output is one
    * row per batch: size, padded length (= batch max), real tokens,
    * wasted pad tokens, and fill efficiency.
    *
    * Scale: one shuffle keyed on bucket for the layout window, one
    * aggregate that can ride the same partitioning. The window
    * partitions by bucket — a constant-cardinality key; at 100 TB this
    * would salt the window key with a coarse doc_id prefix and stitch
    * batch ids per salt stripe, the q89 discipline; at the suite's
    * scales the direct form keeps the demonstration exact. All
    * arithmetic is integer or single IEEE divisions — bit-portable. */
  def inferenceBatches(t: Tables, bucketTokens: Int = 64,
                       maxBucket: Int = 15, batchSize: Int = 32): DataFrame = {
    val nTokens = size(TextAnalysis.tokens(lower(col("text")))).cast("long")
    val docs = t.documents
      .select(col("doc_id"), nTokens.as("n_tokens"))
      .withColumn("bucket",
        least(floor(col("n_tokens") / lit(bucketTokens)), lit(maxBucket))
          .cast("int"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("padded_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(
        col("bucket"), col("batch_id"),
        col("n_docs"), col("padded_len"), col("sum_tokens"),
        (col("padded_len") * col("n_docs") - col("sum_tokens"))
          .as("pad_waste"),
        round(col("sum_tokens").cast("double") /
          (col("padded_len") * col("n_docs")).cast("double"), 6)
          .as("fill_efficiency"))
      .orderBy(col("bucket"), col("batch_id"))
  }

  /** DuckDB mirror of [[inferenceBatches]]. */
  def inferenceBatchesSql(bucketTokens: Int = 64, maxBucket: Int = 15,
                          batchSize: Int = 32): String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |   CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
       |     AS n_tokens
       |  FROM documents),
       |bucketed AS (
       |  SELECT doc_id, n_tokens,
       |   CAST(least(floor(n_tokens / $bucketTokens), $maxBucket) AS INTEGER)
       |     AS bucket
       |  FROM docs),
       |laid AS (
       |  SELECT bucket, n_tokens,
       |   row_number() OVER (
       |     PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM bucketed)
       |SELECT bucket, (rn - 1) // $batchSize AS batch_id,
       | count(*) AS n_docs,
       | max(n_tokens) AS padded_len,
       | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       | CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS pad_waste,
       | round(CAST(sum(n_tokens) AS DOUBLE)
       |   / CAST(max(n_tokens) * count(*) AS DOUBLE), 6) AS fill_efficiency
       |FROM laid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q176: DSIR-style importance resampling — selecting the raw-pool
    * documents most distributionally similar to a target domain (here:
    * the `lang = targetLang` slice), the hashed-n-gram importance
    * weighting of the DSIR recipe (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling").
    *
    * Features are hashed word unigrams: token → portable 30-bit hash →
    * one of `buckets` feature buckets ([[graft.functions.PortableHash]]
    * so the oracle replays every bucket id). Two add-one-smoothed
    * categorical distributions are estimated over the SAME bucket space —
    * p_t from target-slice occurrences, p_s from the rest — and each
    * bucket gets a bounded rational "target-leaning" score
    * r = (p_t − p_s)/(p_t + p_s) ∈ (−1, 1): the sign of the log-ratio
    * the paper uses with the same zero crossing and ordering intuition,
    * but built from IEEE-exact divides only (no libm log — the q111/q83
    * portability doctrine). A document's importance weight is its mean
    * per-occurrence leaning, accumulated through the decimal
    * [[graft.functions.ExactAgg.dsum]] kernel (order-independent,
    * bit-portable), and the resample keeps the top `k` non-target
    * documents by (weight, doc_id).
    *
    * Shape at scale: one corpus-sized shuffle to (doc, bucket) counts —
    * localCheckpoint'd and reused by both the model estimate and the
    * scoring pass, so the corpus is tokenized ONCE; the bucket model is
    * `buckets` rows (constant), broadcast back; selection is
    * orderBy+limit = TakeOrdered (per-partition top-k, then a k-sized
    * merge — never a global sort); the rank decorates the k survivors
    * only. */
  def importanceResample(t: Tables, targetLang: String = "en",
                         buckets: Int = 512, k: Int = 100): DataFrame = {
    graft.functions.CountMinSketch.register(t.spark)
    import graft.functions.CountMinSketch.keyHash
    val b = buckets.toLong
    val tks = TextAnalysis.tokens(lower(col("text")))
    val docBucket = t.documents
      .select(col("doc_id"), (col("lang") === targetLang).as("is_target"),
        explode(tks).as("tok"))
      .groupBy(col("doc_id"), col("is_target"),
        pmod(keyHash(col("tok")), lit(b)).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // reused: model estimate + scoring pass
    val w = Window.partitionBy()
    val pt = (col("ct") + lit(1L)).cast("double") /
      (col("nt") + lit(b)).cast("double")
    val ps = (col("cs") + lit(1L)).cast("double") /
      (col("ns") + lit(b)).cast("double")
    val model = docBucket
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("is_target"), col("c")).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), col("c")).otherwise(0L)).as("cs"))
      .withColumn("nt", sum(col("ct")).over(w))
      .withColumn("ns", sum(col("cs")).over(w))
      .select(col("bucket"), round((pt - ps) / (pt + ps), 6).as("r6"))
    val scored = docBucket.filter(!col("is_target"))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_occ"),
        graft.functions.ExactAgg
          .dsum(col("c").cast("double") * col("r6")).as("wsum"))
      // NO round(·, 6) on the mean: wsum is 1e-6-quantized, so the
      // quotient lands exactly on x.xxxxxx5 whenever n_occ divides the
      // last digit — Spark HALF_UP vs DuckDB float rounding then disagree
      // (the q83 lesson, reproduced here at sf0.01 row 68). The raw
      // quotient of exact operands is bit-portable.
      .select(col("doc_id"), col("n_occ"),
        (col("wsum") / col("n_occ")).as("weight"))
    val topk = scored
      .orderBy(col("weight").desc, col("doc_id")).limit(k)
    broadcast(topk) // k rows vs the corpus-sized dims: broadcast the winners
      .join(t.documents.select(col("doc_id"), col("source"), col("lang")),
        Seq("doc_id"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_occ"), col("weight"))
      .orderBy(col("rank"))
  }

  /** The DuckDB mirror of [[importanceResample]]. */
  def importanceResampleSql(targetLang: String = "en",
                            buckets: Int = 512, k: Int = 100): String = {
    val O = graft.functions.ExactAgg.Sql
    val h = graft.functions.PortableHash.hash32Sql("tok")
    val pt = s"(CAST(ct + 1 AS DOUBLE) / CAST(nt + $buckets AS DOUBLE))"
    val ps = s"(CAST(cs + 1 AS DOUBLE) / CAST(ns + $buckets AS DOUBLE))"
    s"""WITH tk AS (
       |  SELECT doc_id, lang = '$targetLang' AS is_target,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, is_target, ($h) % $buckets AS bucket,
       |   count(*) AS c
       |  FROM tk GROUP BY 1, 2, 3),
       |st AS (
       |  SELECT bucket,
       |   CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS ct,
       |   CAST(sum(CASE WHEN NOT is_target THEN c ELSE 0 END) AS BIGINT) AS cs
       |  FROM db GROUP BY 1),
       |st2 AS (
       |  SELECT bucket, ct, cs,
       |   CAST(sum(ct) OVER () AS BIGINT) AS nt,
       |   CAST(sum(cs) OVER () AS BIGINT) AS ns
       |  FROM st),
       |model AS (
       |  SELECT bucket,
       |   round(($pt - $ps) / ($pt + $ps), 6) AS r6
       |  FROM st2),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_occ,
       |   ${O.dsum("CAST(c AS DOUBLE) * r6")} AS wsum
       |  FROM db JOIN model USING (bucket)
       |  WHERE NOT is_target GROUP BY 1),
       |topk AS (
       |  SELECT doc_id, n_occ, wsum / n_occ AS weight
       |  FROM sc ORDER BY weight DESC, doc_id LIMIT $k)
       |SELECT
       | CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INTEGER)
       |   AS rank,
       | doc_id, source, lang, n_occ, weight
       |FROM topk JOIN documents USING (doc_id)
       |ORDER BY rank""".stripMargin
  }

  /** q190: context-window TRUNCATION audit — for each candidate window
    * size, how much of the corpus a truncate-at-window policy throws away
    * (vs the packing policies of q69/q150 that keep it): documents over
    * the window, tokens lost to the cut, and the share both represent.
    * This is the measurement that decides a context-length/packing
    * trade-off before a training run commits to one.
    *
    * Scale shape: ONE narrow pass computes per-doc token counts; the
    * window sweep is an explode against the literal window list (rows =
    * docs × |windows|, still narrow); one |windows|-row aggregate with a
    * broadcast 1-row corpus-total frame for the percentages. */
  def truncationAudit(t: Tables,
                      windows: Seq[Int] = Seq(64, 256, 1024)): DataFrame = {
    val perDoc = t.documents
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val tot = perDoc.agg(
      count(lit(1)).as("n_docs_total"),
      sum(col("n_tokens")).as("n_tokens_total"))
    perDoc
      .select(col("n_tokens"),
        explode(array(windows.map(lit): _*)).as("window"))
      .groupBy(col("window"))
      .agg(
        sum(when(col("n_tokens") > col("window"), 1L).otherwise(0L))
          .as("n_docs_over"),
        sum(greatest(col("n_tokens") - col("window"), lit(0L)))
          .as("tokens_lost"))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      .select(col("window"), col("n_docs_over"),
        round(col("n_docs_over").cast("double") / col("n_docs_total"), 6)
          .as("pct_docs_over"),
        col("tokens_lost"),
        round(col("tokens_lost").cast("double") / col("n_tokens_total"), 6)
          .as("pct_tokens_lost"))
      .orderBy(col("window"))
  }

  /** q193: training-mixture SOLVER — given target token SHARES per
    * language group (a mix spec like "50 % en / 30 % fr / 15 % es / 5 %
    * other"), compute the largest total token budget the corpus can
    * serve WITHOUT upsampling any group, and each group's resulting
    * sampling rate. The binding group (the one that runs out first) is
    * flagged — the answer to "which data do we need more of" that a mix
    * design iterates on. Complements [[mixByStratum]]/[[tokenBudgetMix]]:
    * those APPLY given rates; this DERIVES the rates from a share spec.
    *
    * All arithmetic is integer (shares in basis points, floor-divided
    * capacities), so both engines agree exactly: capacity_g =
    * ⌊T_g·10000/share_g⌋ is the largest budget group g can fill; the
    * solved budget is min capacity; take_g = ⌊budget·share_g/10000⌋.
    *
    * Scale shape: one narrow corpus pass → per-group token totals (≤
    * groups+1 rows), solver math entirely on that tiny frame with a
    * broadcast 1-row min. */
  def mixtureSolver(t: Tables,
                    targetsBps: Seq[(String, Int)] =
                      Seq("en" -> 5000, "fr" -> 3000, "es" -> 1500),
                    otherBps: Int = 500): DataFrame = {
    require(targetsBps.map(_._2).sum + otherBps == 10000,
      "mixtureSolver: target shares must sum to 10000 bps")
    val grp = when(col("lang").isin(targetsBps.map(_._1): _*), col("lang"))
      .otherwise("other")
    val share = targetsBps.foldRight(lit(otherBps): Column) {
      case ((k, v), acc) => when(col("lang_group") === k, lit(v)).otherwise(acc)
    }
    val avail = t.documents
      .select(grp.as("lang_group"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("lang_group"))
      .agg(sum(col("n")).as("tokens_avail"))
      .withColumn("share_bps", share.cast("long"))
      .withColumn("capacity", expr("(tokens_avail * 10000) div share_bps"))
    val budget = avail.agg(min(col("capacity")).as("budget"))
    avail
      .crossJoin(broadcast(budget)) // 1-row solved budget
      .select(col("lang_group"),
        (col("share_bps").cast("double") / 10000).as("target_share"),
        col("tokens_avail"),
        expr("(budget * share_bps) div 10000").as("tokens_taken"),
        round(expr("(budget * share_bps) div 10000").cast("double") /
          col("tokens_avail"), 6).as("rate"),
        when(col("capacity") === col("budget"), 1).otherwise(0).as("binding"))
      .orderBy(col("share_bps").desc, col("lang_group"))
  }

  /** The DuckDB mirror of [[mixtureSolver]]. */
  def mixtureSolverSql(targetsBps: Seq[(String, Int)] =
                         Seq("en" -> 5000, "fr" -> 3000, "es" -> 1500),
                       otherBps: Int = 500): String = {
    val langs = targetsBps.map(p => s"'${p._1}'").mkString(", ")
    val ladder = targetsBps
      .map(p => s"WHEN '${p._1}' THEN ${p._2}")
      .mkString(" ")
    s"""WITH per AS (
       |  SELECT CASE WHEN lang IN ($langs) THEN lang ELSE 'other' END
       |      AS lang_group,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
       |  FROM documents),
       |avail AS (
       |  SELECT lang_group, CAST(sum(n) AS BIGINT) AS tokens_avail,
       |    CAST(CASE lang_group $ladder ELSE $otherBps END AS BIGINT)
       |      AS share_bps
       |  FROM per GROUP BY 1),
       |cap AS (
       |  SELECT *, CAST((tokens_avail * 10000) // share_bps AS BIGINT)
       |    AS capacity
       |  FROM avail),
       |b AS (SELECT min(capacity) AS budget FROM cap)
       |SELECT lang_group,
       |  CAST(share_bps AS DOUBLE) / 10000 AS target_share,
       |  tokens_avail,
       |  CAST((budget * share_bps) // 10000 AS BIGINT) AS tokens_taken,
       |  round(CAST((budget * share_bps) // 10000 AS DOUBLE)
       |    / tokens_avail, 6) AS rate,
       |  CASE WHEN capacity = budget THEN 1 ELSE 0 END AS binding
       |FROM cap CROSS JOIN b
       |ORDER BY share_bps DESC, lang_group""".stripMargin
  }

  /** q192: rendezvous (highest-random-weight) SHARD layout audit — the
    * stable assignment scheme for sharded output layouts and serving
    * caches: each document goes to the shard whose per-(doc, shard) hash
    * is highest. Unlike `id mod S`, adding a shard moves only ~1/(S+1) of
    * the corpus (the docs the NEW shard now wins) — re-sharding a 100 TB
    * layout rewrites one shard's worth of data, not all of it. The audit
    * reports per-shard balance (docs, tokens, share) plus exactly that
    * churn: `n_moved_out` = docs each shard loses when shard S joins.
    *
    * Scale shape: assignment is one narrow expression over the corpus (an
    * S-element hash array, argmax by position — no explode, no shuffle);
    * the roll-up is one S-row aggregate with a broadcast 1-row total. */
  def shardLayout(t: Tables, shards: Int = 8): DataFrame = {
    // per-(doc, shard) portable hash; doc_id*16+s keeps keys distinct for
    // s < 16 and replays as plain integer arithmetic in the mirror
    require(shards < 16, "shardLayout: doc_id*16+s keying supports < 16 shards")
    def hs(n: Int): Column =
      array((0 until n).map(s => splitHash(col("doc_id") * 16 + s)): _*)
    def argmax(a: Column): Column =
      (array_position(a, array_max(a)) - 1).cast("int")
    val assigned = t.documents
      .select(
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        argmax(hs(shards)).as("shard"),
        argmax(hs(shards + 1)).as("shard_next"))
    val tot = t.documents.agg(count(lit(1)).as("n_docs_total"))
    assigned
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("shard_next") =!= col("shard"), 1L).otherwise(0L))
          .as("n_moved_out"))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("n_docs_total"), 6)
          .as("pct_docs"),
        col("n_moved_out"))
      .orderBy(col("shard"))
  }

  /** The DuckDB mirror of [[shardLayout]] — the same per-(doc, shard)
    * hashes, argmax via a (h DESC, s) rank (≡ first-position max). */
  def shardLayoutSql(shards: Int = 8): String = {
    def pick(n: Int, alias: String): String =
      s"""SELECT doc_id, s AS $alias FROM (
         |  SELECT doc_id, u.s,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY (${splitHashSql("doc_id * 16 + u.s")}) DESC, u.s) AS rn
         |  FROM documents, unnest(range(0, $n)) AS u(s)) WHERE rn = 1""".stripMargin
    s"""WITH a AS (${pick(shards, "shard")}),
       |b AS (${pick(shards + 1, "shard_next")}),
       |per AS (
       |  SELECT d.doc_id,
       |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    a.shard, b.shard_next
       |  FROM documents d JOIN a USING (doc_id) JOIN b USING (doc_id)),
       |tot AS (SELECT count(*) AS n_docs_total FROM documents)
       |SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  round(CAST(count(*) AS DOUBLE) / any_value(n_docs_total), 6)
       |    AS pct_docs,
       |  CAST(sum(CASE WHEN shard_next <> shard THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved_out
       |FROM per CROSS JOIN tot
       |GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  /** The DuckDB mirror of [[truncationAudit]]. */
  def truncationAuditSql(windows: Seq[Int] = Seq(64, 256, 1024)): String = {
    val wlist = windows.mkString(", ")
    s"""WITH per AS (
       |  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS n_tokens
       |  FROM documents),
       |tot AS (
       |  SELECT count(*) AS n_docs_total,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
       |  FROM per),
       |sweep AS (
       |  SELECT CAST(u.w AS INTEGER) AS "window",
       |    CAST(sum(CASE WHEN n_tokens > u.w THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_docs_over,
       |    CAST(sum(greatest(n_tokens - u.w, 0)) AS BIGINT) AS tokens_lost
       |  FROM per, unnest([$wlist]) AS u(w)
       |  GROUP BY 1)
       |SELECT "window", n_docs_over,
       |  round(CAST(n_docs_over AS DOUBLE) / n_docs_total, 6) AS pct_docs_over,
       |  tokens_lost,
       |  round(CAST(tokens_lost AS DOUBLE) / n_tokens_total, 6)
       |    AS pct_tokens_lost
       |FROM sweep CROSS JOIN tot
       |ORDER BY "window"""".stripMargin
  }

  /** Replica stride for [[weightedSample]]'s per-(doc, replica) hash input:
    * a power of two above any allowed weight cap, so `doc_id·stride + j` is
    * collision-free across (doc, replica) pairs. */
  private val WeightedSampleStride = 131072L

  /** q199: weighted sampling WITHOUT replacement (PPS-WOR) — pick `k`
    * documents with inclusion probability proportional to token weight,
    * deterministically. The trick: ranking items by `uᵢ^(1/wᵢ)` (Efraimidis
    * & Spirakis 2006, the A-ES scheme every weighted-reservoir sampler
    * uses) is distribution-identical to ranking by the MAX of wᵢ iid
    * uniform draws — and a max of w integer hash draws needs no pow/log,
    * so the whole scheme is exact 64-bit arithmetic both engines replay
    * bit-for-bit (libm pow is exactly the portability hole the q83 scaladoc
    * documents). Each document emits `weight` replicas; replica j draws the
    * portable [[splitHash]] of `doc_id·stride + j`; the document's key is
    * the max draw; the sample is the top-`k` keys.
    *
    * Weights are token counts capped at `maxW` — the cap bounds replica
    * fan-out AND heavy-document dominance (a weight-capped PPS design, the
    * same taming [[capPerSource]] applies to sources). The cap is part of
    * the sampling design, reported per row.
    *
    * Scale shape: replica fan-out is Σ min(tokens, maxW) narrow rows —
    * linear in corpus tokens, same order as tokenizing; the per-doc max is
    * a map-side-combinable aggregate; the top-k is a TakeOrdered, never a
    * global sort. */
  def weightedSample(t: Tables, k: Int = 32, maxW: Int = 128): DataFrame = {
    require(maxW >= 1 && maxW < WeightedSampleStride,
      s"weightedSample: maxW must be in [1, $WeightedSampleStride)")
    val perDoc = t.documents
      .select(col("doc_id"), col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("weight", least(col("n_tokens"), lit(maxW.toLong)))
    val keys = perDoc
      .select(col("doc_id"),
        explode(sequence(lit(1L), col("weight"))).as("j"))
      .select(col("doc_id"),
        splitHash(col("doc_id") * WeightedSampleStride + col("j")).as("draw"))
      .groupBy(col("doc_id"))
      .agg(max(col("draw")).as("key"))
    // TakeOrdered k first, THEN rank: a global row_number window would
    // funnel the corpus-sized key frame through one partition; the limit
    // compiles to TakeOrderedAndProject and the window sees only k rows
    val top = perDoc.join(keys, "doc_id")
      .orderBy(col("key").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("key").desc, col("doc_id"))
    top.withColumn("sample_rank", row_number().over(w))
      .select(col("sample_rank"), col("doc_id"), col("source"), col("lang"),
        col("n_tokens"), col("weight"), col("key"))
      .orderBy(col("sample_rank"))
  }

  /** The DuckDB mirror of [[weightedSample]]. */
  def weightedSampleSql(k: Int = 32, maxW: Int = 128): String = {
    val h = splitHashSql(s"(doc_id * $WeightedSampleStride + j.j)")
    s"""WITH per AS (
       |  SELECT doc_id, source, lang,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |wt AS (SELECT *, least(n_tokens, $maxW) AS weight FROM per),
       |keys AS (
       |  SELECT doc_id, max($h) AS key
       |  FROM wt, unnest(range(1, weight + 1)) AS j(j)
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT wt.*, keys.key,
       |    row_number() OVER (ORDER BY keys.key DESC, wt.doc_id)
       |      AS sample_rank
       |  FROM wt JOIN keys USING (doc_id))
       |SELECT CAST(sample_rank AS INTEGER) AS sample_rank, doc_id, source,
       |  lang, n_tokens, weight, key
       |FROM ranked WHERE sample_rank <= $k
       |ORDER BY sample_rank""".stripMargin
  }
}

package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction over the document corpus — the
  * "one remaining heavy build" of the exact-substring dedup family
  * (Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", 2021, §4: ExactSubstr dedup runs on a suffix array of the
  * tokenized corpus). [[Dedup.maximalDuplicateSpansExact]] (q123) covers
  * the practical span filter with md5 prefix CLASSES; this module builds
  * the real thing: lexicographic suffix RANKS by prefix doubling
  * (Manber–Myers) and exact LCPs by binary lifting over the retained
  * rank levels — collision-free (ranks, not hashes) and able to answer
  * questions classes cannot: the suffix ORDER, the longest repeated
  * substring and where it lives, exact neighbor-match lengths.
  *
  * Construction, Spark-first:
  *   - Alphabet: whitespace tokens of lower(text), one row per (doc,
  *     pos), plus one UNIQUE SENTINEL row per document (flag 0, key =
  *     zero-padded doc_id) — sentinels sort before every real token,
  *     terminate every suffix, and make cross-document prefix matches
  *     impossible past a document's end. Because of that uniqueness, a
  *     window that reaches past a doc's last token always CONTAINS the
  *     doc's sentinel, so its rank is already doc-unique and the -1
  *     overflow fill below can never manufacture a cross-doc tie.
  *   - Rank levels: r_0 = dense rank of (flag, token); level k+1 pairs
  *     r_k with the rank 2^k positions ahead IN THE SAME DOCUMENT
  *     (doc-partitioned `lead`, -1 past the end — one narrow window, no
  *     per-level position join) and dense-ranks the pairs. Dense ranking
  *     is distributed: distinct pairs → total sort → `zipWithIndex` —
  *     never a partitionless Window (the single-partition anti-pattern).
  *     Iteration stops as soon as ranks are unique (window 2^s bounds
  *     every repeat), which the fixture reaches at 2^s ≈ max doc length;
  *     [[MaxLevels]] bounds the loop and fails loudly beyond it.
  *   - LCP: suffixes adjacent in rank order (join on r+1 — final ranks
  *     are exactly 1..n) get their exact common-prefix length by binary
  *     lifting: walk levels s-1..0, advance by 2^k whenever the level-k
  *     ranks at (pos + acc) agree. Each step is two narrow joins keyed
  *     (doc_id, pos + acc); the accumulator never crosses a sentinel, so
  *     within-doc keys always resolve.
  *
  * The per-level driver reads (distinct-rank count, via the dict row
  * count already materialized for ranking) are the bounded driver-scalar
  * pattern: O(log maxRepeat) 1-row reads, independent of corpus size.
  *
  * The DuckDB mirrors replay the construction with the SAME arithmetic,
  * UNROLLED to exactly [[MaxLevels]] doubling CTEs: once ranks are
  * unique, a further doubling re-ranks by (unique r, anything) — the
  * identity permutation — so fixed-depth unrolling and Spark's adaptive
  * early stop provably agree, and lifting levels at-or-above the stop
  * level compare unique ranks at distinct positions — never equal,
  * contributing 0 on both engines. All arithmetic is BIGINT; the oracle
  * compare is bit-exact with no float portability argument needed.
  *
  * Reference anchor: the reference deduplicates at document grain only
  * (`comprehensive_analytics.py` drops exact-id dupes); substring-grain
  * dedup is the beyond-reference LLM-pipeline surface (SURVEY §2 ext).
  */
object SuffixArray {

  /** Hard bound on doubling levels: window 2^12 = 4096 tokens covers any
    * repeat (and any document) in the fixtures with 40× headroom; the
    * oracle SQL unrolls exactly this many doubling CTEs. A corpus with a
    * ≥4096-token repeat fails loudly (raise both together). */
  val MaxLevels = 12

  /** Distributed dense rank of the distinct rows of `df` (all-column
    * key), 1-based, in the given column sort order: distinct → total
    * sort → zipWithIndex. The dict is localCheckpointed because it is
    * read twice (the rank join and the distinct-rank count), and the
    * total sort would otherwise run once per read. */
  private def denseRankDict(df: DataFrame, rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val cols = df.columns
    val sorted = df.distinct().orderBy(cols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(rankCol,
          org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(indexed, schema).localCheckpoint()
  }

  /** Token + sentinel rows: (doc_id, pos, flag, skey) — flag 0 rows are
    * the per-doc sentinels (skey = zero-padded doc_id, unique), flag 1
    * rows the real tokens in document order. */
  private def tokenRows(t: Tables): DataFrame = {
    val tks = TextAnalysis.tokens(lower(col("text")))
    val docs = t.documents.select(col("doc_id"), tks.as("tks"))
    val real = docs
      .select(col("doc_id"), posexplode(col("tks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        lit(1).as("flag"), col("col").as("skey"))
    val sent = docs.select(col("doc_id"),
      size(col("tks")).cast("long").as("pos"), lit(0).as("flag"),
      lpad(col("doc_id").cast("string"), 20, "0").as("skey"))
    real.unionAll(sent)
  }

  /** Core build: returns (levels, stop, n) — `levels(k)` is the frame
    * (doc_id, pos, r) of level-k ranks (window 2^k), localCheckpointed;
    * `stop` is the first level whose ranks are unique; `n` the total row
    * count (tokens + sentinels). */
  private def build(t: Tables): (IndexedSeq[DataFrame], Int, Long) = {
    val toks = tokenRows(t)
    val dict0 = denseRankDict(toks.select(col("flag"), col("skey")), "r")
    var lvl = toks.join(dict0, Seq("flag", "skey"))
      .select(col("doc_id"), col("pos"), col("r"))
      .localCheckpoint()
    val n = lvl.count()
    var distinctRanks = dict0.count()
    val levels = ArrayBuffer(lvl)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var k = 0
    while (distinctRanks < n && k < MaxLevels) {
      val shift = 1 << k
      val paired = lvl.withColumn("r2",
        coalesce(lead(col("r"), shift).over(byDoc), lit(-1L)))
      val dict = denseRankDict(paired.select(col("r"), col("r2")), "nr")
      lvl = paired.join(dict, Seq("r", "r2"))
        .select(col("doc_id"), col("pos"), col("nr").as("r"))
        .localCheckpoint()
      distinctRanks = dict.count()
      levels += lvl
      k += 1
    }
    require(distinctRanks == n,
      s"SuffixArray: ranks not unique after $MaxLevels doublings " +
        s"(window ${1 << MaxLevels}) — the corpus holds a repeat or " +
        "document of at least that many tokens; raise MaxLevels and the " +
        "oracle unroll depth together")
    (levels.toIndexedSeq, k, n)
  }

  /** Exact LCP of every rank-adjacent suffix pair: (ra, da, pa, db, pb,
    * lcp) with (db, pb) the rank successor of (da, pa) and `ra` the rank
    * of (da, pa) — the rank index lets [[saWithLcp]] pin the LCP-array
    * position of every pair. */
  private def adjacentLcps(levels: IndexedSeq[DataFrame], stop: Int): DataFrame = {
    val sa = levels(stop)
    val a = sa.select(col("doc_id").as("da"), col("pos").as("pa"),
      col("r").as("ra"))
    val b = sa.select(col("doc_id").as("db"), col("pos").as("pb"),
      col("r").as("rb"))
    var pf = a.join(b, col("rb") === col("ra") + 1)
      .select(col("ra"), col("da"), col("pa"), col("db"), col("pb"))
      .withColumn("acc", lit(0L))
    for (k <- (stop - 1) to 0 by -1) {
      val la = levels(k).select(col("doc_id").as("xd"), col("pos").as("xp"),
        col("r").as("xr"))
      val lb = levels(k).select(col("doc_id").as("yd"), col("pos").as("yp"),
        col("r").as("yr"))
      pf = pf
        .join(la, col("xd") === col("da") && col("xp") === col("pa") + col("acc"), "left")
        .join(lb, col("yd") === col("db") && col("yp") === col("pb") + col("acc"), "left")
        .withColumn("acc", col("acc") +
          when(col("xr").isNotNull && col("xr") === col("yr"),
            lit(1L << k)).otherwise(lit(0L)))
        .select(col("ra"), col("da"), col("pa"), col("db"), col("pb"), col("acc"))
    }
    pf.select(col("ra"), col("da"), col("pa"), col("db"), col("pb"),
      col("acc").as("lcp"))
  }

  /** Build-once-per-session, serve-from-catalog-table for the persisted
    * SA-family artifact tables — the shared [[graft.sources
    * .ArtifactTables]] discipline (first touch in a session rebuilds,
    * every later read hits the table, nothing pinned in memory). The
    * corpus dir is recorded as the artifact's source identity and
    * re-verified on serve. */
  private def artifactTable(t: Tables, name: String)
                           (body: => DataFrame): DataFrame =
    graft.sources.ArtifactTables.artifactTable(t.spark, name, t.dir)(body)

  /** 64-bit collision-resistant corpus tag ([[graft.sources
    * .ArtifactTables.tag]] — ADVICE r10 retired the 31-bit
    * `String.hashCode` form, which could collide across two dirs touched
    * in one session). */
  private def corpusTag(t: Tables): String =
    graft.sources.ArtifactTables.tag(t.dir)

  /** The SA+LCP index artifact: (doc_id, pos, r, lcp_next) — suffix ranks
    * with each suffix's exact LCP against its rank SUCCESSOR (0 for the
    * last rank). Built once per corpus snapshot and PERSISTED as a catalog
    * table ([[artifactTable]]) — the table every suffix-array consumer
    * (q237/q238 spans, the q247 repeat inventory) reads instead of
    * re-running the prefix-doubling build, exactly the 100 TB shape. */
  private def saWithLcp(t: Tables): DataFrame =
    artifactTable(t, s"graft_sa_${corpusTag(t)}") {
      val (levels, stop, _) = build(t)
      val pairs = adjacentLcps(levels, stop)
      levels(stop)
        .join(pairs.select(col("ra").as("r"), col("lcp")), Seq("r"), "left")
        .withColumn("lcp_next", coalesce(col("lcp"), lit(0L)))
        .select(col("doc_id"), col("pos"), col("r"), col("lcp_next"))
    }

  /** Per-suffix maximal neighbor match: (doc_id, pos, lcp) where lcp =
    * max LCP against either rank neighbor — the textbook lcp_max, ≥ L
    * exactly when the suffix starts a duplicated substring of ≥ L
    * tokens. Sentinel suffixes carry lcp 0 and drop out of every
    * downstream filter. Derived from the SA artifact and persisted the
    * same way; q237/q238 and any later caller share the table. */
  private def lcpMax(t: Tables): DataFrame =
    artifactTable(t, s"graft_lcpmax_${corpusTag(t)}") {
      // reconstruct the rank-adjacent pairs from the SA artifact
      // (lcp_next(r) IS the pair (r, r+1) lcp) — same rows as the direct
      // adjacentLcps form, but shared with the q247 inventory build
      val sa = saWithLcp(t)
      val a = sa.select(col("doc_id").as("da"), col("pos").as("pa"),
        col("r").as("ra"), col("lcp_next").as("lcp"))
      val b = sa.select(col("doc_id").as("db"), col("pos").as("pb"),
        col("r").as("rb"))
      val pairs = a.join(b, col("rb") === col("ra") + 1)
      pairs.select(col("da").as("doc_id"), col("pa").as("pos"), col("lcp"))
        .unionAll(pairs.select(col("db").as("doc_id"), col("pb").as("pos"),
          col("lcp")))
        .groupBy(col("doc_id"), col("pos"))
        .agg(max(col("lcp")).as("lcp"))
    }

  /** Merged any-length duplicated spans from the lcp_max intervals
    * [pos, pos + lcp): running-max-end island merge per document. */
  private def mergedSpans(lm: DataFrame, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val before = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    lm.filter(col("lcp") >= minLen)
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + col("lcp")).as("e"))
      .withColumn("pmax", max(col("e")).over(before))
      .withColumn("ni",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("e")) - min(col("s"))).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** q238: EXACT maximal duplicated spans of any length ≥ `minLen`, from
    * the true suffix array — token-resolution (doc_id, span_start,
    * span_tokens) extents. Provably equal to q123's prefix-class union at
    * the same minLen (both unions cover exactly the positions inside
    * ≥-minLen repeats — asserted against each other in SuffixArraySpec),
    * but collision-free and derived from real ranks. */
  def saSpans(t: Tables, minLen: Int = 16): DataFrame =
    mergedSpans(lcpMax(t), minLen)
      .orderBy(col("doc_id"), col("span_start"))

  /** q237: corpus-level suffix-array profile — the numbers a curation
    * pipeline publishes after the ExactSubstr pass: corpus size, the
    * longest repeated token-substring (length and lexicographically
    * first location), how many suffixes start a ≥-minLen repeat, and the
    * merged dup coverage (spans and tokens inside them). One row, all
    * BIGINT. */
  def suffixArrayStats(t: Tables, minLen: Int = 16): DataFrame = {
    val lm = lcpMax(t)
    val spans = mergedSpans(lm, minLen)
    val nTokens = t.documents
      .select(size(TextAnalysis.tokens(lower(col("text")))).cast("long")
        .as("nt"))
      .agg(sum(col("nt")).as("n_tokens"), count(lit(1)).as("n_docs"))
    val lcpStats = lm.agg(
      max(col("lcp")).as("max_lcp"),
      sum(when(col("lcp") >= minLen, 1L).otherwise(0L)).as("n_dup_suffixes"))
    val repAt = lm
      .join(lcpStats.select(col("max_lcp")), col("lcp") === col("max_lcp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("at"))
      .select(col("at.doc_id").as("rep_doc_id"), col("at.pos").as("rep_pos"))
    val spanStats = spans.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_spans"),
      coalesce(sum(col("span_tokens")), lit(0L)).as("dup_tokens"))
    nTokens.crossJoin(lcpStats).crossJoin(repAt).crossJoin(spanStats)
      .select(col("n_docs"), col("n_tokens"), col("max_lcp"),
        col("rep_doc_id"), col("rep_pos"), col("n_dup_suffixes"),
        col("n_spans"), col("dup_tokens"))
  }

  /** q247: the FULL repeated-substring inventory — every LCP-interval node
    * of length ≥ `minLen` (Abouelhoda, Kurtz & Ohlebusch 2004, "Replacing
    * suffix trees with enhanced suffix arrays": the ℓ-intervals of the LCP
    * array are exactly the internal nodes of the suffix tree, i.e. the
    * right-maximal repeated substrings with their occurrence counts). q237
    * reports only the longest repeat; this is the whole inventory that
    * exact-substring dedup POLICY consumes (Lee et al. 2021 §4: which
    * repeats, how long, how often) — one row per node: repeat length,
    * occurrence count, the lexicographically-first occurrence, and a
    * preview of the repeat's first tokens.
    *
    * Definition. Index the LCP array by i = rank+1 ∈ [2, n] with
    * L[i] = lcp(suffix at rank i−1, suffix at rank i). An ℓ-interval is a
    * maximal run [a, b] with L[k] ≥ ℓ for all k ∈ [a, b] that contains at
    * least one L[k] = ℓ. It covers suffix ranks [a−1, b] — n_occ = b−a+2
    * occurrences of a repeated substring of length exactly ℓ.
    *
    * Spark-first construction — NOT the textbook sequential stack walk
    * (inherently serial): each node is recovered from any of its minima
    * via prev/next-smaller-value queries, and those run distributed as a
    * doubling sparse table + binary descent, the [[build]] discipline:
    *   - P = LCP positions with L ≥ minLen (the dup-suffix frame — at
    *     production density ≪ n, so all per-level work rides the
    *     DUPLICATION mass, not the corpus);
    *   - sparse table M_k(i) = min L over [i, i+2^k−1] restricted to P; a
    *     missing join partner means the window crossed a position with
    *     L < minLen (or the array end) — both act as BREAKERS (-1),
    *     because every walk value v ≥ minLen outranks them, so clamping
    *     breakers to -1 loses nothing (mirror table PM_k for the left);
    *   - next-smaller walk from each i ∈ P: descend k = K−1..0, advance
    *     j += 2^k whenever M_k(j) ≥ v — after k = 0, j is the first
    *     position right of i with L < v; prev-smaller mirrors left. K =
    *     ⌈log₂(|P|+2)⌉ bounds every in-run distance (a run is ⊆ P). All
    *     joins are equi-joins on a long key; nothing is quadratic and no
    *     global window exists anywhere.
    *   - node of i = (a, b, ℓ) = (ps+1, ns−1, L[i]); duplicates from
    *     multiple minima collapse by distinct; the example occurrence is
    *     the suffix at rank a−1 (one more equi-join), its first
    *     min(ℓ, previewTokens) tokens sliced from the document.
    *
    * The DuckDB twin ([[repeatInventorySql]]) replays the NODE SET via the
    * provably-equivalent per-value islands form: for each distinct value v
    * in P, maximal consecutive runs of positions with L ≥ v keeping runs
    * whose min is v. Equivalence: a run for value v containing position i
    * with L[i] = v extends exactly to the nearest positions with L < v on
    * either side — the same (ps, ns) the walks compute; conversely every
    * walk node contains one of its minima. (The islands form is O(Σ
    * run-sizes) — fine for an oracle at sf0.01, not the 100 TB shape; the
    * engine's O(|P| log |P|) sparse-table form is.) All arithmetic BIGINT.
    */
  def repeatInventory(t: Tables, minLen: Int = 16,
                      previewTokens: Int = 8): DataFrame =
    inventoryNodes(t, minLen, previewTokens)
      .select(col("len"), col("n_occ"), col("doc_id"), col("pos"),
        col("preview"))
      .orderBy(col("len").desc, col("doc_id"), col("pos"))

  /** The node artifact WITH its rank interval (a, b) — ranks [a−1, b]
    * are the node's occurrences; [[repeatInventory]] serves the public
    * projection, [[repeatSourceSpread]] expands the interval. Like the SA
    * artifact itself, the node inventory is an INDEX product: built once
    * per (corpus snapshot, minLen, previewTokens) and PERSISTED as a
    * catalog table, served many times (the [[graft.operators.Bucketed]]
    * economics; q244's precedent). */
  private def inventoryNodes(t: Tables, minLen: Int,
                             previewTokens: Int): DataFrame = {
    require(minLen >= 1 && previewTokens >= 1,
      s"minLen and previewTokens must be >= 1, got $minLen / $previewTokens")
    artifactTable(t,
      s"graft_inv_${corpusTag(t)}_${minLen}_$previewTokens") {
      buildInventory(t, minLen, previewTokens)
    }
  }

  private def buildInventory(t: Tables, minLen: Int,
                             previewTokens: Int): DataFrame = {
    val spark = t.spark
    val sa = saWithLcp(t)
    // LCP array: position i = r+1 ∈ [2, n], value l = lcp_next(r)
    val p = sa.select((col("r") + 1).as("i"), col("lcp_next").as("l"))
      .where(col("l") >= minLen)
      .localCheckpoint() // the |P| frame every level derives from
    val pCount = p.count() // bounded driver scalar (the build() pattern)
    if (pCount == 0L) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, String, Long, Long)]
        .toDF("len", "n_occ", "doc_id", "pos", "preview", "a", "b")
    }
    // K levels cover any within-run walk distance (runs are subsets of P).
    // Each level is a SELF-join of the previous one, which breaks BOTH
    // naive materialization strategies:
    //   - plain localCheckpoint truncates the tree but bakes the
    //     ESTIMATED join size (child size SQUARED) into the checkpoint's
    //     stats, so S_{k+1} = S_k² compounds to a 2^K-digit BigInt whose
    //     driver-side multiplication in the size-only stats visitor
    //     dominated wall time (observed: 40+ min of Toom-Cook at sf1);
    //   - persist+count keeps honest stats but preserves full LINEAGE, so
    //     the self-join doubles the logical TREE per level — 2^K plan
    //     nodes, and AQE's per-action explainString walks all of them.
    // The fix needs truncation AND non-compounding stats: checkpoint the
    // level, then re-wrap the materialized RDD via createDataFrame — a
    // fresh LogicalRDD leaf whose stats reset to the session default
    // every level instead of inheriting the squared estimate. (build()'s
    // per-level checkpoints never hit this: its joins pair DISTINCT
    // frames, so size exponents add instead of doubling.)
    val maxK = 64 - java.lang.Long.numberOfLeadingZeros(pCount + 1)
    val fwd = ArrayBuffer(p)  // M_k:  min L over [i, i+2^k-1] ∩ covered
    val bwd = ArrayBuffer(p)  // PM_k: min L over [i-2^k+1, i] ∩ covered
    def materialize(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      spark.createDataFrame(ck.rdd, ck.schema)
    }
    var k = 0
    var exhausted = false
    while (k < maxK.toInt && !exhausted) {
      val shift = 1L << k
      val f2 = fwd(k).select((col("i") - shift).as("i"), col("l").as("l2"))
      fwd += materialize(fwd(k).join(f2, Seq("i"), "left")
        .select(col("i"), least(col("l"), coalesce(col("l2"), lit(-1L))).as("l")))
      val b2 = bwd(k).select((col("i") + shift).as("i"), col("l").as("l2"))
      bwd += materialize(bwd(k).join(b2, Seq("i"), "left")
        .select(col("i"), least(col("l"), coalesce(col("l2"), lit(-1L))).as("l")))
      // adaptive stop (bounded 1-row driver read per level, the build()
      // pattern): once every 2^{k+1} window contains a breaker
      // (max M < minLen), no descent step at this or any higher level can
      // advance — M is monotone non-increasing in k — and every walk
      // distance is already coverable: a breaker-free run of length
      // ≥ 2^{k+1} would put some window min ≥ minLen. Levels needed are
      // therefore log₂(max RUN length), not log₂(|P|) — at copy-heavy
      // density that halves the level count.
      exhausted = fwd(k + 1).agg(max(col("l"))).head().getLong(0) < minLen
      k += 1
    }
    // binary descent: j advances while the whole 2^k window stays ≥ v.
    // Descend from the top BUILT level (levels above the adaptive stop
    // could never advance; see the loop note).
    val kBuilt = fwd.length - 1
    var ns = p.select(col("i"), col("l").as("v"), (col("i") + 1).as("j"))
    var ps = p.select(col("i"), col("l").as("v"), (col("i") - 1).as("j"))
    for (k <- (kBuilt - 1) to 0 by -1) {
      val mk = fwd(k).select(col("i").as("mi"), col("l").as("ml"))
      ns = ns.join(mk, col("mi") === col("j"), "left")
        .select(col("i"), col("v"),
          when(coalesce(col("ml"), lit(-1L)) >= col("v"),
            col("j") + (1L << k)).otherwise(col("j")).as("j"))
      val pk = bwd(k).select(col("i").as("mi"), col("l").as("ml"))
      ps = ps.join(pk, col("mi") === col("j"), "left")
        .select(col("i"), col("v"),
          when(coalesce(col("ml"), lit(-1L)) >= col("v"),
            col("j") - (1L << k)).otherwise(col("j")).as("j"))
    }
    val nodes = ns.select(col("i"), col("v"), col("j").as("ns"))
      .join(ps.select(col("i"), col("j").as("ps")), Seq("i"))
      .select(col("v").as("len"), (col("ps") + 1).as("a"),
        (col("ns") - 1).as("b"))
      .distinct()
    val out = nodes
      .join(sa.select((col("r") + 1).as("a"), col("doc_id"), col("pos")),
        Seq("a")) // example = suffix at rank a-1, the lexicographic first
      .join(t.documents.select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("tks")), Seq("doc_id"))
      .select(col("len"), (col("b") - col("a") + 2).as("n_occ"),
        col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("tks"), (col("pos") + 1).cast("int"),
          least(col("len"), lit(previewTokens.toLong)).cast("int")))
          .as("preview"),
        col("a"), col("b"))
    out // materialized by the artifactTable write — walks run once per corpus
  }

  /** q250: source-spread classification of the repeat inventory — the
    * dedup-POLICY cut over q247's nodes: a repeat occurring across MANY
    * sources is boilerplate (headers, licenses, templates — safe and
    * desirable to strip corpus-wide), one confined to a single source is
    * a quote/copy cluster (a per-source dedup decision). Lee et al. 2021
    * §6 makes exactly this distinction when deciding what ExactSubstr
    * removes.
    *
    * Classes per node:
    *   - `ubiquitous`: n_occ > occCap — occurrence count ALONE classifies
    *     a repeat this common as boilerplate, so its (potentially
    *     corpus-sized) rank interval is never expanded — the salt-cap
    *     doctrine applied to interval expansion; the oracle replays the
    *     cap;
    *   - `cross_source`: occurrences span ≥ 2 sources;
    *   - `within_source`: all occurrences inside one source.
    * Expansion cost is bounded by occCap·|nodes| rows (sequence-explode of
    * rank intervals, equi-joined to the SA artifact — never a range join).
    * Report per class: node count, distinct-repeat token mass, occurrence
    * token mass (len·n_occ — what removal would reclaim), longest member.
    */
  def repeatSourceSpread(t: Tables, minLen: Int = 16,
                         occCap: Int = 256): DataFrame = {
    require(occCap >= 2, s"occCap must be >= 2, got $occCap")
    val inv = inventoryNodes(t, minLen, previewTokens = 8)
    val sa = saWithLcp(t)
    val src = t.documents.select(col("doc_id"), col("source"))
    val spread = inv.where(col("n_occ") <= occCap)
      .select(col("len"), col("a"), col("b"),
        explode(sequence(col("a") - 1, col("b"))).as("r"))
      .join(sa.select(col("r"), col("doc_id")), Seq("r"))
      .join(src, Seq("doc_id"))
      .groupBy(col("len"), col("a"), col("b"))
      .agg(countDistinct(col("source")).as("n_sources"))
    inv.join(spread, Seq("len", "a", "b"), "left")
      .withColumn("spread_class",
        when(col("n_occ") > occCap, lit("ubiquitous"))
          .when(col("n_sources") >= 2, lit("cross_source"))
          .otherwise(lit("within_source")))
      .groupBy(col("spread_class"))
      .agg(
        count(lit(1)).as("n_repeats"),
        sum(col("len")).as("repeat_tokens"),
        sum(col("len") * col("n_occ")).as("occurrence_tokens"),
        max(col("len")).as("max_len"))
      .orderBy(col("spread_class"))
  }

  /** q252: longest common substring BETWEEN SOURCES — for every source
    * pair, the longest repeat with occurrences in both, plus how many
    * distinct repeats the pair shares: the cross-source contamination
    * signal q62's shingle overlap approximates, here EXACT from the SA
    * artifact (a repeat shared by two sources is an inventory node whose
    * rank interval touches documents of both).
    *
    * Policy cut: ubiquitous nodes (n_occ > occCap) are EXCLUDED — by the
    * q250 doctrine they are boilerplate (headers, licenses, templates)
    * present everywhere, and a contamination report led by "the license
    * header" is useless; the cap simultaneously bounds the expansion at
    * occCap·|nodes| rows (the salt-cap discipline), so the report costs
    * nodes, never corpus. Per pair: `lcs_len` = max shared repeat length,
    * `n_shared` = distinct shared repeat nodes, `lcs_preview` = the
    * example preview of the max node (argmax by the UNIQUE (len, a, b)
    * node id, so ties break deterministically on both engines).
    *
    * Reference anchor: the reference's cross-dataset checks stop at
    * exact-id overlap
    * (airflow/dags/spark_jobs/comprehensive_analytics.py);
    * substring-grain cross-source contamination is the beyond-reference
    * LLM-pipeline surface (Lee et al. 2021 §6.2's train/test overlap
    * measurement). */
  def crossSourceLcs(t: Tables, minLen: Int = 16,
                     occCap: Int = 256): DataFrame = {
    require(occCap >= 2, s"occCap must be >= 2, got $occCap")
    val inv = inventoryNodes(t, minLen, previewTokens = 8)
    val sa = saWithLcp(t)
    val src = t.documents.select(col("doc_id"), col("source"))
    // node → the distinct sources its (capped) occurrences live in
    val ns = inv.where(col("n_occ") <= occCap)
      .select(col("len"), col("a"), col("b"), col("preview"),
        explode(sequence(col("a") - 1, col("b"))).as("r"))
      .join(sa.select(col("r"), col("doc_id")), Seq("r"))
      .join(src, Seq("doc_id"))
      .select(col("len"), col("a"), col("b"), col("preview"), col("source"))
      .distinct()
    // unordered source pairs within a node: |sources|² ≤ min(occCap, S)²
    // rows per node — bounded by the same cap that bounded the expansion
    val pairs = ns
      .join(ns.select(col("len"), col("a"), col("b"),
        col("source").as("src_b")), Seq("len", "a", "b"))
      .where(col("source") < col("src_b"))
    pairs
      .groupBy(col("source").as("src_a"), col("src_b"))
      .agg(
        max(col("len")).as("lcs_len"),
        count(lit(1)).as("n_shared"),
        max(struct(col("len"), col("a"), col("b"), col("preview")))
          .getField("preview").as("lcs_preview"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q256: the cross-source contamination matrix SERVED from a persisted
    * catalog artifact — the split-leakage gate a dataset build runs
    * BEFORE cutting train/eval splits: the full q252 per-source-pair
    * LCS/shared-node matrix is materialized once per corpus snapshot
    * ([[artifactTable]], the q244 serve economics — the SA walks and the
    * pair expansion run at build time, never per gating request), and
    * the serving query reads the matrix table, flags every pair whose
    * longest shared non-boilerplate repeat reaches `gateLen` tokens
    * (`gate` = 1: putting these two sources on opposite sides of a split
    * leaks that span — block it or dedup first), and returns the matrix
    * with the verdict. Serve cost is the |sources|²-bounded table scan +
    * one presentation sort — corpus size never appears.
    *
    * Values are IDENTICAL to [[crossSourceLcs]] plus a deterministic
    * CASE, so the q252 oracle (wrapped with the gate column) replays the
    * build → persist → serve round-trip under the hash gate. */
  def contaminationMatrixServed(t: Tables, minLen: Int = 16,
                                occCap: Int = 256,
                                gateLen: Int = 32): DataFrame = {
    val matrix = artifactTable(t,
      s"graft_xsrc_${corpusTag(t)}_${minLen}_$occCap") {
      crossSourceLcs(t, minLen, occCap)
    }
    matrix
      .withColumn("gate", (col("lcs_len") >= gateLen).cast("int"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DuckDB twin of [[contaminationMatrixServed]]: the q252 chain with
    * the same gate CASE folded over its output. */
  def contaminationMatrixServedSql(minLen: Int = 16, occCap: Int = 256,
                                   gateLen: Int = 32): String =
    s"""SELECT src_a, src_b, lcs_len, n_shared, lcs_preview,
       |  CAST(CASE WHEN lcs_len >= $gateLen THEN 1 ELSE 0 END AS INTEGER)
       |    AS gate
       |FROM (
       |${crossSourceLcsSql(minLen, occCap)}
       |) ORDER BY src_a, src_b""".stripMargin

  // --------------------------------------------------------------------
  // DuckDB mirrors: the same construction, doubling unrolled to exactly
  // MaxLevels CTEs and lifting unrolled MaxLevels..0 (see object scaladoc
  // for why fixed-depth unrolling ≡ Spark's adaptive stop).
  // --------------------------------------------------------------------

  /** Shared CTE chain ending in `lmax(doc_id, pos, lcp)`. */
  private def lcpCtes: String = {
    val doublings = (0 until MaxLevels).map { k =>
      val shift = 1 << k
      s"""r${k + 1} AS (
         |  SELECT doc_id, pos,
         |   CAST(dense_rank() OVER (ORDER BY r, r2) AS BIGINT) AS r
         |  FROM (SELECT doc_id, pos, r,
         |    COALESCE(lead(r, $shift) OVER (PARTITION BY doc_id ORDER BY pos),
         |      -1) AS r2 FROM r$k))""".stripMargin
    }.mkString(",\n")
    val lifts = ((MaxLevels - 1) to 0 by -1).map { k =>
      val prev = if (k == MaxLevels - 1) "adj" else s"l${k + 1}"
      s"""l$k AS (
         |  SELECT p.da, p.pa, p.db, p.pb,
         |   p.acc + CASE WHEN x.r IS NOT NULL AND x.r = y.r
         |                THEN ${1L << k} ELSE 0 END AS acc
         |  FROM $prev p
         |  LEFT JOIN r$k x ON x.doc_id = p.da AND x.pos = p.pa + p.acc
         |  LEFT JOIN r$k y ON y.doc_id = p.db AND y.pos = p.pb + p.acc)""".stripMargin
    }.mkString(",\n")
    s"""docs AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, tks, CAST(unnest(range(0, len(tks))) AS BIGINT) AS pos
       |  FROM docs),
       |toks AS (
       |  SELECT doc_id, pos, 1 AS flag,
       |   tks[CAST(pos AS INTEGER) + 1] AS skey FROM base
       |  UNION ALL
       |  SELECT doc_id, CAST(len(tks) AS BIGINT) AS pos, 0 AS flag,
       |   lpad(CAST(doc_id AS VARCHAR), 20, '0') AS skey FROM docs),
       |r0 AS (
       |  SELECT doc_id, pos,
       |   CAST(dense_rank() OVER (ORDER BY flag, skey) AS BIGINT) AS r
       |  FROM toks),
       |$doublings,
       |adj AS (
       |  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
       |   CAST(0 AS BIGINT) AS acc
       |  FROM r$MaxLevels a JOIN r$MaxLevels b ON b.r = a.r + 1),
       |$lifts,
       |lmax AS (
       |  SELECT doc_id, pos, max(acc) AS lcp FROM (
       |    SELECT da AS doc_id, pa AS pos, acc FROM l0
       |    UNION ALL
       |    SELECT db, pb, acc FROM l0)
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def spanCtes(minLen: Int): String =
    s"""ivl AS (
       |  SELECT doc_id, pos AS s, pos + lcp AS e FROM lmax
       |  WHERE lcp >= $minLen),
       |marked AS (
       |  SELECT *, CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS ni
       |  FROM ivl),
       |isl AS (
       |  SELECT *, CAST(sum(ni) OVER (PARTITION BY doc_id ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS island
       |  FROM marked),
       |spans AS (
       |  SELECT doc_id, min(s) AS span_start,
       |   max(e) - min(s) AS span_tokens
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** The DuckDB mirror of [[saSpans]]. */
  def saSpansSql(minLen: Int = 16): String =
    s"""WITH $lcpCtes,
       |${spanCtes(minLen)}
       |SELECT doc_id, span_start, span_tokens FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  /** The DuckDB mirror of [[repeatInventory]] — the per-value islands
    * form of the node set (see [[repeatInventory]] scaladoc for the
    * equivalence argument to the engine's prev/next-smaller walks). */
  def repeatInventorySql(minLen: Int = 16, previewTokens: Int = 8): String =
    s"""WITH $lcpCtes,
       |sa AS (SELECT doc_id, pos, r FROM r$MaxLevels),
       |arr AS (
       |  SELECT s.r + 1 AS i, l.acc AS l
       |  FROM l0 l JOIN sa s ON s.doc_id = l.da AND s.pos = l.pa),
       |p AS (SELECT i, l FROM arr WHERE l >= $minLen),
       |vals AS (SELECT DISTINCT l AS v FROM p),
       |runs AS (
       |  SELECT vals.v, p.i, p.l,
       |    p.i - row_number() OVER (PARTITION BY vals.v ORDER BY p.i) AS grp
       |  FROM p JOIN vals ON p.l >= vals.v),
       |nodes AS (
       |  SELECT v AS len, min(i) AS a, max(i) AS b
       |  FROM runs GROUP BY v, grp HAVING min(l) = v),
       |located AS (
       |  SELECT n.len, n.b - n.a + 2 AS n_occ, s.doc_id, s.pos
       |  FROM nodes n JOIN sa s ON s.r = n.a - 1)
       |SELECT x.len, x.n_occ, x.doc_id, x.pos,
       |  array_to_string(d.tks[CAST(x.pos + 1 AS INTEGER) :
       |    CAST(x.pos + least(x.len, $previewTokens) AS INTEGER)], ' ')
       |    AS preview
       |FROM located x JOIN docs d ON d.doc_id = x.doc_id
       |ORDER BY x.len DESC, x.doc_id, x.pos""".stripMargin

  /** The DuckDB mirror of [[repeatSourceSpread]]: the islands node form
    * (see [[repeatInventorySql]]) with the same capped rank-interval
    * expansion and class CASE. */
  def repeatSourceSpreadSql(minLen: Int = 16, occCap: Int = 256): String =
    s"""WITH $lcpCtes,
       |sa AS (SELECT doc_id, pos, r FROM r$MaxLevels),
       |arr AS (
       |  SELECT s.r + 1 AS i, l.acc AS l
       |  FROM l0 l JOIN sa s ON s.doc_id = l.da AND s.pos = l.pa),
       |p AS (SELECT i, l FROM arr WHERE l >= $minLen),
       |vals AS (SELECT DISTINCT l AS v FROM p),
       |runs AS (
       |  SELECT vals.v, p.i, p.l,
       |    p.i - row_number() OVER (PARTITION BY vals.v ORDER BY p.i) AS grp
       |  FROM p JOIN vals ON p.l >= vals.v),
       |nodes AS (
       |  SELECT v AS len, min(i) AS a, max(i) AS b
       |  FROM runs GROUP BY v, grp HAVING min(l) = v),
       |ex AS (
       |  SELECT len, a, b, unnest(range(a - 1, b + 1)) AS r
       |  FROM nodes WHERE b - a + 2 <= $occCap),
       |small AS (
       |  SELECT e.len, e.a, e.b, count(DISTINCT d.source) AS n_sources
       |  FROM ex e
       |  JOIN sa s ON s.r = e.r
       |  JOIN documents d ON d.doc_id = s.doc_id
       |  GROUP BY 1, 2, 3),
       |cls AS (
       |  SELECT n.len, n.b - n.a + 2 AS n_occ,
       |    CASE WHEN n.b - n.a + 2 > $occCap THEN 'ubiquitous'
       |         WHEN sm.n_sources >= 2 THEN 'cross_source'
       |         ELSE 'within_source' END AS spread_class
       |  FROM nodes n
       |  LEFT JOIN small sm ON sm.len = n.len AND sm.a = n.a AND sm.b = n.b)
       |SELECT spread_class, count(*) AS n_repeats,
       |  CAST(sum(len) AS BIGINT) AS repeat_tokens,
       |  CAST(sum(len * n_occ) AS BIGINT) AS occurrence_tokens,
       |  max(len) AS max_len
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  /** The DuckDB mirror of [[crossSourceLcs]]: the islands node form (see
    * [[repeatInventorySql]]) with the same capped expansion, the same
    * pair construction, and the same (len, a, b)-keyed argmax preview. */
  def crossSourceLcsSql(minLen: Int = 16, occCap: Int = 256): String =
    s"""WITH $lcpCtes,
       |sa AS (SELECT doc_id, pos, r FROM r$MaxLevels),
       |arr AS (
       |  SELECT s.r + 1 AS i, l.acc AS l
       |  FROM l0 l JOIN sa s ON s.doc_id = l.da AND s.pos = l.pa),
       |p AS (SELECT i, l FROM arr WHERE l >= $minLen),
       |vals AS (SELECT DISTINCT l AS v FROM p),
       |runs AS (
       |  SELECT vals.v, p.i, p.l,
       |    p.i - row_number() OVER (PARTITION BY vals.v ORDER BY p.i) AS grp
       |  FROM p JOIN vals ON p.l >= vals.v),
       |nodes AS (
       |  SELECT v AS len, min(i) AS a, max(i) AS b
       |  FROM runs GROUP BY v, grp HAVING min(l) = v),
       |prev AS (
       |  SELECT n.len, n.a, n.b,
       |    array_to_string(d.tks[CAST(s.pos + 1 AS INTEGER) :
       |      CAST(s.pos + least(n.len, 8) AS INTEGER)], ' ') AS preview
       |  FROM nodes n
       |  JOIN sa s ON s.r = n.a - 1
       |  JOIN docs d ON d.doc_id = s.doc_id),
       |ex AS (
       |  SELECT len, a, b, unnest(range(a - 1, b + 1)) AS r
       |  FROM nodes WHERE b - a + 2 <= $occCap),
       |ns AS (
       |  SELECT DISTINCT e.len, e.a, e.b, dd.source
       |  FROM ex e
       |  JOIN sa s ON s.r = e.r
       |  JOIN documents dd ON dd.doc_id = s.doc_id),
       |pr AS (
       |  SELECT x.len, x.a, x.b, x.source AS src_a, y.source AS src_b
       |  FROM ns x JOIN ns y
       |    ON y.len = x.len AND y.a = x.a AND y.b = x.b
       |   AND x.source < y.source)
       |SELECT pr.src_a, pr.src_b,
       |  max(pr.len) AS lcs_len,
       |  count(*) AS n_shared,
       |  struct_extract(max(struct_pack(len := pr.len, a := pr.a, b := pr.b,
       |    preview := v.preview)), 'preview') AS lcs_preview
       |FROM pr JOIN prev v ON v.len = pr.len AND v.a = pr.a AND v.b = pr.b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The DuckDB mirror of [[suffixArrayStats]]. */
  def suffixArrayStatsSql(minLen: Int = 16): String =
    s"""WITH $lcpCtes,
       |${spanCtes(minLen)},
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |   CAST(sum(len(tks)) AS BIGINT) AS n_tokens FROM docs),
       |lst AS (
       |  SELECT max(lcp) AS max_lcp,
       |   CAST(sum(CASE WHEN lcp >= $minLen THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_dup_suffixes
       |  FROM lmax),
       |rep AS (
       |  SELECT doc_id AS rep_doc_id, pos AS rep_pos
       |  FROM lmax WHERE lcp = (SELECT max_lcp FROM lst)
       |  ORDER BY doc_id, pos LIMIT 1),
       |sst AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_spans,
       |   CAST(COALESCE(sum(span_tokens), 0) AS BIGINT) AS dup_tokens
       |  FROM spans)
       |SELECT n_docs, n_tokens, max_lcp, rep_doc_id, rep_pos,
       | n_dup_suffixes, n_spans, dup_tokens
       |FROM tot CROSS JOIN lst CROSS JOIN rep CROSS JOIN sst""".stripMargin
}

package graft.tools

import graft.core.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the TESTDATA.md fixture set: replicates every
  * table `copies`× with key-space remapping that preserves referential
  * integrity (copy c of orders references copy c of customer, etc.), so any
  * join/aggregate over the scaled set exercises exactly the plans the base
  * set does — at N× the rows. Used for the sf1 (10×) scale-up smoke recorded
  * in SCALE.md: the correctness gate stays at sf0.01 with the DuckDB oracle;
  * this set answers "does the plan survive a 10× scale-up" with a
  * measurement instead of an argument.
  *
  * Everything is a narrow projection over a broadcast copy-index frame — no
  * driver-side data, no RNG (seedless determinism: the copy index IS the
  * perturbation seed), safe to re-run (overwrite).
  *
  * Key remapping: `key + copy * stride` where stride = max(key)+1 of the
  * base table (one 1-row aggregate per keyed table — bounded driver work).
  * Timestamps are kept, so the scaled set densifies the same time range
  * (10× rows per hour bucket), which is what a larger deployment over the
  * same period looks like.
  *
  * Text/embedding perturbation: a copy keeps its base text verbatim when
  * `(doc_id + copy) % 5 == 0` (a ~20% cross-copy exact-duplicate rate — a
  * realistic crawl-like dup load for the dedup family) and otherwise gets a
  * deterministic ` copyN` suffix, making it a NEAR-duplicate of its base
  * (one-token delta) — so MinHash/SimHash/CC queries see both dup kinds at
  * scale. `n_chars` tracks the suffix so the documents invariant holds.
  * Embeddings perturb dimension 0 by `copy * 1e-3`, keeping copies
  * near-identical in cosine — the SemDeDup/ANN stress case.
  */
object ScaleDataGen {

  private def withCopies(df: DataFrame, copies: Int): DataFrame =
    // broadcast 1-column frame of `copies` rows: replication without a
    // shuffle; every source partition expands in place
    df.crossJoin(broadcast(
      df.sparkSession.range(copies).select(col("id").cast("int").as("copy"))))

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  private def remap(key: String, s: Long) =
    (col(key) + col("copy") * lit(s)).as(key)

  /** Documents at PRODUCTION dup density (~20% of elements in a dup
    * cluster, every cluster size exactly 2) — the second scale fixture
    * SCALE.md adjudicates against (VERDICT r6 item 3). The copy-heavy
    * default makes every base doc a 10-member near-dup cluster, so
    * dup-OUTPUT volume grows quadratically in `copies` by construction;
    * this mode pins the output linear so any residual superlinearity in a
    * dedup query's wall clock is the QUERY's, not the fixture's.
    *
    * Construction, per (doc d, copy c), deterministic and seedless:
    *   - copies pair up as (2k, 2k+1); pair k of doc d is a NEAR-DUP pair
    *     iff (d + k) % 5 == 0 — with 5 pairs per doc at copies=10, exactly
    *     one pair per doc qualifies → exactly 2 dup members in 10 (20%),
    *     uniform across docs, independent of `copies`' parity games;
    *   - a dup pair's odd member is its even sibling's text plus one
    *     trailing token (the near-dup one-token delta the base fixture
    *     uses);
    *   - every other element is made UNIQUE by 8-piece splicing: piece p
    *     (p=0..7) is the p-th word-eighth of partner doc
    *     xxhash64("splice", d, e_copy, p) mod D. Content can only be
    *     shared when two elements hash to the SAME partner at the SAME
    *     position (different positions of one doc are disjoint word
    *     ranges), so any element pair shares at most ~one piece in
    *     expectation → word-shingle Jaccard ≲ 0.07, under HALF the 0.2
    *     threshold the registered dedup queries (q34/q45/q68) run at. The
    *     earlier half-splice design failed exactly there: copies sharing a
    *     fixed half sit at J ≈ 1/3 > 0.2 and flood the output.
    * `n_chars` is recomputed from the generated text, keeping the
    * documents invariant. */
  private def productionDocuments(t: Tables, copies: Int,
                                  docStride: Long): DataFrame = {
    val nPieces = 8
    val base = t.documents.select(
      col("doc_id"), col("text"), col("lang"), col("source"))
    // piece library: (p_doc, piece_idx, piece words) — the p-th eighth of
    // each base doc's words; ranges partition the doc, so distinct
    // positions never share content
    val lib = base
      .select(col("doc_id").as("p_doc"), split(col("text"), " ").as("w"))
      .select(col("p_doc"), posexplode(expr(
        s"transform(sequence(0, ${nPieces - 1}), p -> " +
          s"slice(w, cast(p * size(w) / $nPieces AS int) + 1, " +
          s"cast((p + 1) * size(w) / $nPieces AS int) " +
          s"- cast(p * size(w) / $nPieces AS int)))")))
      .select(col("p_doc"), col("pos").as("piece_idx"), col("col").as("piece"))
    val elements = withCopies(base, copies)
      .withColumn("is_dup",
        col("copy") % 2 === 1 &&
          (col("doc_id") + (col("copy") - 1) / 2) % 5 === 0)
      // dup members reuse the even sibling's splice; everyone else their own
      .withColumn("e_copy",
        when(col("is_dup"), col("copy") - 1).otherwise(col("copy")))
    val spliced = elements
      .filter(col("e_copy") =!= 0) // e_copy 0 keeps the base text verbatim
      .select(col("doc_id"), col("copy"), col("e_copy"),
        explode(expr(s"sequence(0, ${nPieces - 1})")).as("piece_idx"))
      .withColumn("p_doc",
        pmod(xxhash64(lit("splice"), col("doc_id"),
          col("e_copy"), col("piece_idx")), lit(docStride)))
      .join(lib, Seq("p_doc", "piece_idx"))
      .groupBy(col("doc_id"), col("copy"))
      .agg(concat_ws(" ", flatten(expr(
        "transform(array_sort(collect_list(struct(piece_idx, piece))), " +
          "s -> s.piece)"))).as("u_text"))
    val withText = elements
      .join(spliced, Seq("doc_id", "copy"), "left")
      .withColumn("gen_text",
        when(col("e_copy") === 0, col("text")).otherwise(col("u_text")))
      .withColumn("final_text",
        when(col("is_dup"), concat(col("gen_text"), lit(" dupcopy")))
          .otherwise(col("gen_text")))
    withText.select(
      remap("doc_id", docStride),
      col("final_text").as("text"),
      col("lang"), col("source"),
      length(col("final_text")).cast("long").as("n_chars"))
  }

  /** Embeddings at production dup density — same pair rule as
    * [[productionDocuments]] (pair k of vec v is a near-dup pair iff
    * (v + k) % 5 == 0; the odd member is its even sibling plus a 1e-4
    * nudge on dim 0, cosine ≈ 1). Every NON-dup copy is a FRESH
    * pseudo-random unit vector (components hashed from (vec_id, e_copy,
    * dim), normalized), so no element is attracted to its base or to any
    * structured clique — pairwise cosines follow the generic
    * N(0, 1/dim) random-direction law. An earlier push-one-dimension
    * design failed here: the 1.5·e_i component dominated both the cosine
    * (≈0.55 vs base, ≈0.69 vs same-dim peers — all above q41's 0.3
    * threshold) and the SRP signature, flooding q41 with ~280k clique
    * pairs. NOTE the residual: at dim=64 the random-cosine tail
    * P(cos ≥ 0.3) ≈ 0.8% is a property of the DIMENSION, not the
    * construction — accidental-pair counts grow with N², which SCALE.md
    * must adjudicate as fixture tail, not query pathology. */
  private def productionEmbeddings(t: Tables, copies: Int,
                                   vecStride: Long): DataFrame = {
    val e = withCopies(t.embeddings, copies)
      .withColumn("is_dup",
        col("copy") % 2 === 1 &&
          (col("vec_id") + (col("copy") - 1) / 2) % 5 === 0)
      .withColumn("e_copy",
        when(col("is_dup"), col("copy") - 1).otherwise(col("copy")))
      // deterministic uniform [-1,1] per (vec_id, e_copy, dim), normalized
      .withColumn("raws", expr(
        "transform(sequence(0, size(embedding) - 1), i -> " +
          "(cast(pmod(xxhash64('embu', vec_id, e_copy, i), 2000001) " +
          "AS double) - 1000000.0) / 1000000.0)"))
      .withColumn("nrm", expr("sqrt(aggregate(raws, 0D, (a, x) -> a + x * x))"))
      .withColumn("u_vec", expr(
        "transform(raws, x -> cast(x / nrm AS float))"))
    e.select(
      remap("vec_id", vecStride),
      when(col("e_copy") === 0 && !col("is_dup"), col("embedding"))
        .otherwise(transform(
          when(col("e_copy") === 0, col("embedding")).otherwise(col("u_vec")),
          (x, i) =>
            x + when(col("is_dup") && i === 0, lit(0.0001f))
              .otherwise(lit(0.0f))))
        .as("embedding"),
      col("label"))
  }

  def generate(spark: SparkSession, srcDir: String, dstDir: String,
               copies: Int = 10, docMode: String = "copyheavy",
               eventsMode: String = "uniform"): Unit = {
    require(docMode == "copyheavy" || docMode == "production",
      s"docMode must be copyheavy|production, got $docMode")
    require(eventsMode == "uniform" || eventsMode == "hotkey",
      s"eventsMode must be uniform|hotkey, got $eventsMode")
    val t = Tables(spark, srcDir)
    def out(name: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")

    // dimension row counts that scale with sf in TPC-H get replicated too;
    // the fixed-size dims (region, nation) are copied verbatim
    out("region")(t.region)
    out("nation")(t.nation)

    val custStride = stride(t.customer, "c_custkey")
    val suppStride = stride(t.supplier, "s_suppkey")
    val partStride = stride(t.part, "p_partkey")
    val orderStride = stride(t.orders, "o_orderkey")

    out("customer")(withCopies(t.customer, copies).select(
      remap("c_custkey", custStride), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))
    out("supplier")(withCopies(t.supplier, copies).select(
      remap("s_suppkey", suppStride), col("s_name"), col("s_nationkey"),
      col("s_acctbal")))
    out("part")(withCopies(t.part, copies).select(
      remap("p_partkey", partStride), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    out("orders")(withCopies(t.orders, copies).select(
      remap("o_orderkey", orderStride), remap("o_custkey", custStride),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    out("lineitem")(withCopies(t.lineitem, copies).select(
      remap("l_orderkey", orderStride), remap("l_partkey", partStride),
      remap("l_suppkey", suppStride), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    // events: read through Tables.eventsRaw and write `ts` back in whatever
    // physical encoding the source drop used (int64 nanos stays int64;
    // µs timestamps stay µs) — Tables.events is schema-adaptive on read,
    // so the scaled dir round-trips under the same contract as the source
    val ev = t.eventsRaw
    val eventStride = stride(ev, "event_id")
    val userStride = stride(ev, "user_id")
    // `hotkey` (SURVEY §7 hard part 6, the JFK/Times-Square zone shape):
    // ~30% of ALL event rows collapse onto user_id 0 — the deliberately
    // skewed fixture the salted paths (q81/q89 machinery) are measured
    // against (SCALE.md). Deterministic and seedless:
    // the row's own remapped event_id hashes to a percent bucket.
    val remappedUser = remap("user_id", userStride)
    val skewedUser =
      if (eventsMode == "hotkey")
        when(pmod(xxhash64(lit("skew"), col("event_id") + col("copy") * lit(eventStride)),
          lit(100L)) < 30, lit(0L)).otherwise(col("user_id") + col("copy") * lit(userStride))
          .as("user_id")
      else remappedUser
    out("events")(withCopies(ev, copies).select(
      remap("event_id", eventStride), col("ts"), skewedUser,
      col("event_type"), col("value"), col("props")))

    val docStride = stride(t.documents, "doc_id")
    if (docMode == "production")
      out("documents")(productionDocuments(t, copies, docStride))
    else {
      val keepVerbatim = (col("doc_id") + col("copy")) % 5 === 0
      val suffix = concat(lit(" copy"), col("copy").cast("string"))
      out("documents")(withCopies(t.documents, copies).select(
        remap("doc_id", docStride),
        when(col("copy") === 0 || keepVerbatim, col("text"))
          .otherwise(concat(col("text"), suffix)).as("text"),
        col("lang"), col("source"),
        when(col("copy") === 0 || keepVerbatim, col("n_chars"))
          .otherwise(col("n_chars") + length(suffix)).as("n_chars")))
    }

    val vecStride = stride(t.embeddings, "vec_id")
    if (docMode == "production")
      out("embeddings")(productionEmbeddings(t, copies, vecStride))
    else
      out("embeddings")(withCopies(t.embeddings, copies).select(
        remap("vec_id", vecStride),
        when(col("copy") === 0, col("embedding")).otherwise(
          transform(col("embedding"),
            (x, i) => when(i === 0, x + (col("copy") * lit(0.001f))).otherwise(x))
        ).as("embedding"),
        col("label")))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val docMode = args.lift(3).getOrElse("copyheavy")
    val eventsMode = args.lift(4).getOrElse("uniform")
    val spark = GraftSession.builder(s"local[${GraftSession.hostCores}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, copies, docMode, eventsMode)
    spark.stop()
  }
}

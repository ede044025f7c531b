package graft.ext

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; O(Q·N) dot products, a per-query top-k via
  *    window. The per-query row_number shuffle is keyed on query_id, whose
  *    cardinality is Q — fine while Q ≪ cluster cores × thousands.
  *  - [[lshBucketedTopK]]: the scale path — sign-random-projection (SRP)
  *    signatures bucket the corpus; candidates share ≥1 band with the query
  *    and only those are re-ranked exactly. Corpus signatures are a narrow
  *    projection; the join is bucket-keyed, so cost tracks bucket occupancy
  *    rather than N·Q.
  *
  * All float math is widened to double before folding so results are
  * bit-stable and oracle-comparable; cosine is computed as a left fold over
  * the array (deterministic summation order).
  */
object Similarity {

  /** Elementwise-fold dot product of two double arrays (left-to-right,
    * deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact cosine top-k: for each query vector (vec_id < nQueries), the k
    * nearest corpus vectors by cosine. Ranking uses the 6-dp-rounded cosine
    * with vec_id tiebreak so ordering is deterministic across engines.
    *
    * The cosine kernel is the native codegen'd
    * [[graft.functions.VectorExpressions.CosineSimilarity]] expression —
    * one fused loop per pair instead of three HOF passes; same fold order,
    * so results remain bit-identical to the composable form (and to the
    * DuckDB oracle). */
  def bruteForceTopK(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val queries = emb
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val scored = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        round(
          graft.functions.VectorExpressions.cosineSim(col("qemb"), col("embedding")),
          6).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The SRP projection matrix: 16 hyperplanes × 64 dims of uniform
    * [-0.5, 0.5) components from a seeded PRNG, fixed at build time — the
    * broadcast-the-projection-matrix pattern a production ANN index uses.
    * Stored as plan literals on the Spark side and interpolated verbatim
    * into the DuckDB oracle SQL ([[graft.SketchOracleSql]]), so both
    * engines project against the identical matrix. (An earlier arithmetic
    * per-(plane,dim) formula was engine-portable too, but any LINEAR index
    * hash makes each plane an arithmetic progression and the planes
    * mutually correlated — measurably worse LSH recall. Real random
    * literals have no such structure.) */
  private[graft] val srpPlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(4242)
    Array.fill(16, 64)(rnd.nextDouble() - 0.5)
  }

  /** SRP signature: `nPlanes` sign bits of dot(vec, hyperplane_j), packed
    * into a long. Narrow projection, no shuffle. Supports vectors up to the
    * stored matrix dimensionality (64 — the corpus dim; regenerate the
    * matrix to widen). */
  def srpSignature(vec: Column, nPlanes: Int = 16): Column = {
    val bits = (0 until nPlanes).map { j =>
      val plane = array(srpPlanes(j).map(lit(_)).toIndexedSeq: _*)
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x * element_at(plane, d + 1)),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN via SRP-LSH: band the 16-bit signature into 4×4-bit bands;
    * candidates share any band value; exact cosine re-rank of candidates.
    * Recall < 1 by construction — the contract is approximate. */
  def lshBucketedTopK(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val bands = 4
    val bandBits = 4
    val emb = t.embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("vec"), srpSignature(col("vec")).as("sig"))
    val banded = emb.select(
      col("vec_id"),
      col("vec"),
      posexplode(
        array((0 until bands).map(b =>
          shiftrightunsigned(col("sig"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
      .localCheckpoint() // signatures computed once for both join sides
    val q2 = banded
      .filter(col("vec_id") < nQueries)
      .select(
        col("band_id"), col("bucket"),
        col("vec_id").as("query_id"), col("vec").as("qvec"))
    val candidates = banded
      .join(q2, Seq("band_id", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qvec"), col("vec_id"), col("vec"))
      .dropDuplicates("query_id", "vec_id") // keying dedupe on two longs, not the vectors
    val scored = candidates.select(
      col("query_id"),
      col("vec_id"),
      round(graft.functions.VectorExpressions.cosineSim(col("qvec"), col("vec")), 6)
        .as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-style ANN: a coarse quantizer (deterministic centroid sample)
    * partitions the corpus into inverted lists; queries probe only the
    * `nProbe` nearest lists and re-rank exactly.
    *
    * Index build = one narrow pass: corpus × broadcast(centroids) scored
    * with the native cosine kernel, argmax per vector via window. At scale
    * the assignment is written out partitioned BY centroid_id, so a probe
    * reads nProbe/nCentroids of the data — the IVF contract. Centroids here
    * are an id-strided sample (k-means iterations would refine them; the
    * plumbing — assignment, probing, re-rank — is identical and is what
    * this operator demonstrates). */
  /** Assign each of `src` to its `lists` nearest centroids by 6-dp-rounded
    * cosine (centroid_id tiebreak — deterministic and engine-portable). */
  private def nearestLists(cents: DataFrame, src: DataFrame,
                           idCol: String, vecCol: String, lists: Int): DataFrame = {
    val cos = graft.functions.VectorExpressions.cosineSim _
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(cos(col(vecCol), col("cvec")), 6).desc, col("centroid_id"))
    src.crossJoin(cents)
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= lists)
      .drop("crank", "cvec")
  }

  /** IVF index build: pick `nCentroids` coarse centroids (deterministic
    * id-strided coverage sample) and assign every corpus vector to its
    * nearest centroid. Returns (centroids, inverted-list assignment).
    *
    * This is the INDEX-BUILD boundary: the one driver-side `count()` (to
    * size the centroid stride) and the assignment pass belong here; at
    * scale the assignment is written out partitioned BY centroid_id and the
    * serve path ([[ivfTopK]]'s probe side) never re-derives it. */
  /** The strided coverage-sample seed centroids (deterministic). Split out
    * of [[ivfBuildIndex]] so the refined build can seed WITHOUT paying a
    * full-corpus assignment pass it would immediately recompute. */
  private def ivfSeedCentroids(t: Tables, nCentroids: Int): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val n = emb.count() // index-build-time only — never on the probe path
    val stride = math.max(1L, n / nCentroids)
    broadcast(
      emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")) // bare limit() is partition-order dependent
        .limit(nCentroids)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")))
  }

  def ivfBuildIndex(t: Tables, nCentroids: Int = 16): (DataFrame, DataFrame) = {
    val cents = ivfSeedCentroids(t, nCentroids)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val assigned = nearestLists(cents, emb, "vec_id", "embedding", 1)
      .localCheckpoint() // the persisted inverted-list table at scale
    (cents, assigned)
  }

  /** Refine the strided seed with `iters` Lloyd iterations: assign every
    * vector to its nearest centroid, recompute each centroid as the
    * per-dimension mean of its members, repeat. Means accumulate through
    * [[graft.functions.ExactAgg.davg]] (decimal fixed-point), so refined
    * centroids are bit-deterministic under any partition layout — the same
    * posture ExactAgg gives aggregates. Empty clusters keep their previous
    * centroid. All of this is INDEX-BUILD cost (iters extra passes); the
    * probe path is unchanged. */
  def ivfBuildIndexRefined(t: Tables, nCentroids: Int = 16,
                           iters: Int = 2): (DataFrame, DataFrame) = {
    val emb = t.embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("embedding"))
      .localCheckpoint() // iterated over; avoid re-reading parquet per pass
    // seed WITHOUT ivfBuildIndex: its full-corpus assignment would be
    // discarded and recomputed by the first Lloyd pass anyway
    var cents = ivfSeedCentroids(t, nCentroids)
      .select(col("centroid_id"), toDouble(col("cvec")).as("cvec"))
    for (_ <- 1 to iters) {
      val members = nearestLists(broadcast(cents), emb, "vec_id", "embedding", 1)
      // per-dimension decimal mean; array re-assembled in dimension order
      // via struct sort (collect_list alone is arrival-ordered)
      val means = members
        .select(col("centroid_id"), posexplode(col("embedding")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(graft.functions.ExactAgg.davg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("newvec"))
      cents = broadcast(
        cents.as("c").join(means.as("n"), Seq("centroid_id"), "left")
          .select(col("centroid_id"),
            coalesce(col("n.newvec"), col("c.cvec")).as("cvec")))
        .localCheckpoint() // cut the iterated lineage
    }
    val finalAssigned = nearestLists(broadcast(cents), emb, "vec_id", "embedding", 1)
      .localCheckpoint() // the persisted inverted-list table at scale
    (cents, finalAssigned)
  }

  /** Probe a prebuilt IVF index: route each query to its `nProbe` nearest
    * lists, exact-cosine re-rank the candidates, top k. */
  def ivfProbe(cents: DataFrame, assigned: DataFrame, queries: DataFrame,
               k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cos = graft.functions.VectorExpressions.cosineSim _
    val probes = nearestLists(cents, queries, "query_id", "qemb", nProbe)
    val candidates = probes
      .join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qemb"), col("vec_id"), col("embedding"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .select(col("query_id"), col("vec_id"),
        round(cos(col("qemb"), col("embedding")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  private def queryVectors(t: Tables, nQueries: Int): DataFrame =
    t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))

  def ivfTopK(t: Tables, nQueries: Int = 8, k: Int = 5,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (cents, assigned) = ivfBuildIndex(t, nCentroids)
    ivfProbe(cents, assigned, queryVectors(t, nQueries), k, nProbe)
  }

  /** [[ivfTopK]] over the Lloyd-refined index. */
  def ivfTopKRefined(t: Tables, nQueries: Int = 8, k: Int = 5,
                     nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val (cents, assigned) = ivfBuildIndexRefined(t, nCentroids, iters)
    ivfProbe(cents, assigned, queryVectors(t, nQueries), k, nProbe)
  }

  /** Persist the IVF index as catalog tables: a small centroid table and
    * the inverted-list assignment PARTITIONED BY centroid_id. This is the
    * real serve-path contract: probing nProbe of nCentroids lists reads
    * only those partitions' files — dynamic partition pruning turns the
    * probe join into a file-skipping scan (asserted in SimilaritySpec),
    * so serve cost tracks nProbe/nCentroids of the corpus, not the
    * corpus. Build cost (count, Lloyd passes, the write) all lives here,
    * once. */
  def ivfWriteIndex(t: Tables, prefix: String,
                    nCentroids: Int = 16, iters: Int = 2): Unit = {
    val (cents, assigned) = ivfBuildIndexRefined(t, nCentroids, iters)
    graft.sources.TableIO.truncateReload(
      t.spark, s"${prefix}_centroids",
      cents.select(col("centroid_id"), col("cvec")))
    graft.sources.TableIO.truncateReload(
      t.spark, s"${prefix}_lists",
      assigned.select(col("vec_id"), col("embedding"), col("centroid_id")),
      partitionCols = Seq("centroid_id"))
  }

  /** Serve-path top-k over a [[ivfWriteIndex]]-persisted index: no build
    * work, no driver actions — route queries via the centroid table, join
    * the probed lists (partition-pruned), exact re-rank. */
  def ivfTopKServed(t: Tables, prefix: String, nQueries: Int = 8,
                    k: Int = 5, nProbe: Int = 4): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val cents = broadcast(t.spark.table(s"${prefix}_centroids"))
    val assigned = t.spark.table(s"${prefix}_lists")
    ivfProbe(cents, assigned, queryVectors(t, nQueries), k, nProbe)
  }

  /** q78: int8 scalar-quantized brute-force ANN — the memory-bandwidth
    * scale path. Each vector is symmetrically quantized once at ingest
    * (scale = 127 / max|xᵢ|, qᵢ = ⌊xᵢ·127/max|x|⌋), shrinking the scanned
    * index 4× (1 byte/dim vs float32) — at 100 TB the brute-force scan is
    * bandwidth-bound, so that is a direct 4× throughput lever (the SQ8
    * storage layout every production ANN index offers). Candidates rank by
    * the integer-domain quantized cosine; the exact float cosine of each
    * survivor is re-computed alongside for the re-rank contract.
    *
    * Bit-portability: quantized codes use only ⌊·⌋, one multiply and one
    * divide per element (exact IEEE); the integer dot product and squared
    * norms are exact (≤ 64·127² per vector, far under 2^53), so both
    * engines agree on every code and every score — the quantizer is
    * hash-checkable, not just recall-tested. */
  /** Per-vector symmetric int8 quantization: (vec_id, vec, q, qnorm).
    * Shared by [[quantizedTopK]] and [[ivfQuantizedTopK]]. */
  private def sq8(emb: DataFrame): DataFrame =
    emb
      .withColumn("maxabs",
        aggregate(col("vec"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .withColumn("q",
        when(col("maxabs") === lit(0.0), transform(col("vec"), _ => lit(0L)))
          .otherwise(transform(col("vec"), x => floor(x * lit(127.0) / col("maxabs")))))
      .withColumn("qnorm",
        sqrt(graft.functions.VectorExpressions.dotLong(col("q"), col("q"))
          .cast("double")))
      .drop("maxabs")

  /** Quantized-cosine score column over (qq, qqnorm) × (q, qnorm) — the
    * integer dot runs through the native [[graft.functions.LongDot]] loop
    * (exact, order-free; the interpreted HOF form walked a tree per
    * element on every scan row). */
  private def qCosine: Column =
    round(
      graft.functions.VectorExpressions.dotLong(col("qq"), col("q"))
        .cast("double") / (col("qqnorm") * col("qnorm")), 6)

  def quantizedTopK(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val emb = t.embeddings.select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val quant = sq8(emb)
      .localCheckpoint() // quantize once; reused as both join sides
    val queries = quant
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("qnorm").as("qqnorm"), col("vec").as("qvec"))
    // ranking carries only (query_id, vec_id, score) — the float vectors
    // never ride the top-k shuffle
    val scored = quant
      .join(broadcast(queries.drop("qvec")), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), qCosine.as("qcosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcosine").desc, col("vec_id"))
    val topk = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // exact re-rank: fetch float vectors for the k·Q survivors only
    quant.select(col("vec_id"), col("vec"))
      .join(broadcast(topk), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(col("query_id"), col("vec_id"), col("qcosine"),
        round(graft.functions.VectorExpressions.cosineSim(col("qvec"), col("vec")), 6)
          .as("cosine"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q106: IVF + SQ8 — the production ANN composition (FAISS's IVF-flat
    * with scalar quantization): coarse centroids route each query to its
    * nProbe inverted lists, ONLY those lists' vectors are scored, and
    * the scoring runs on int8 codes (4× the scan bandwidth of floats);
    * the exact re-rank touches floats for the k·Q survivors alone. The
    * two levers compose multiplicatively at 100 TB: IVF prunes which
    * vectors are read (partition pruning on centroid_id for a persisted
    * index), SQ8 shrinks the bytes per vector read — and both halves are
    * already oracle-proven in isolation (q43, q78). */
  def ivfQuantizedTopK(t: Tables, nQueries: Int = 8, k: Int = 5,
                       nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val (cents, assigned) = ivfBuildIndex(t, nCentroids)
    val quant = sq8(
      assigned.select(col("vec_id"), toDouble(col("embedding")).as("vec"),
        col("centroid_id")))
      .localCheckpoint() // quantized inverted lists: built once, probed twice
    val queries = quant
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("q").as("qq"), col("qnorm").as("qqnorm"))
    // probe with the RAW float embeddings against the float centroids —
    // the exact q43 routing arithmetic (typed consistently with cvec)
    val probes = nearestLists(
      cents,
      assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb")),
      "query_id", "qemb", nProbe)
      .select(col("query_id"), col("centroid_id"))
    val candidates = probes
      .join(broadcast(queries.drop("qvec")), Seq("query_id"))
      .join(quant, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcosine").desc, col("vec_id"))
    val topk = candidates
      .select(col("query_id"), col("vec_id"), qCosine.as("qcosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    quant.select(col("vec_id"), col("vec"))
      .join(broadcast(topk), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(col("query_id"), col("vec_id"), col("qcosine"),
        round(graft.functions.VectorExpressions.cosineSim(col("qvec"), col("vec")), 6)
          .as("cosine"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): semantic
    * deduplication by clustering embeddings (the IVF coarse k-means) and
    * pruning near-identical pairs WITHIN clusters only — paraphrases and
    * re-encodings that exact/MinHash text dedup never sees. The cluster
    * restriction is the whole scale story: pairwise cosine is O(n²) on the
    * corpus but O(Σ cᵢ²) ≈ O(n²/k) over k clusters, and each cluster's
    * pair join is an equi-join on centroid_id — no cross-cluster shuffle.
    * Degenerate clusters (embedding collapse — a failure mode real
    * encoders have) are bounded by the SAME salted-bucket cap as the LSH
    * dedup paths ([[Dedup.saltedBuckets]]).
    *
    * Keep rule: a vector is dropped iff some LOWER-id vector in its
    * (cluster, salt) bucket has cosine ≥ `minCosine` — deterministic,
    * order-independent, and exactly replayable in SQL (the paper keeps the
    * member farthest from the centroid; min-id keeps the same count and
    * needs no tie-breaking on distances). Cross-cluster near-dups are
    * missed by construction — the approximate-dedup recall contract,
    * identical to MinHash banding's. */
  def semDedup(t: Tables, nCentroids: Int = 16, minCosine: Double = 0.3,
               cap: Int = Dedup.DefaultBucketCap): DataFrame = {
    val cos = graft.functions.VectorExpressions.cosineSim _
    val (_, assigned) = ivfBuildIndex(t, nCentroids)
    val b = Dedup.saltedBuckets(assigned, Seq("centroid_id"), "vec_id", cap)
      .localCheckpoint() // salting aggregates once, feeds both join sides
    val dropped = b.as("l")
      .join(b.as("r"),
        col("l.centroid_id") === col("r.centroid_id") &&
          col("l.salt") === col("r.salt") && col("l.vec_id") < col("r.vec_id"))
      .filter(round(cos(col("l.embedding"), col("r.embedding")), 6) >= minCosine)
      .select(col("r.vec_id").as("vec_id"))
      .distinct()
    assigned
      .join(dropped.withColumn("__dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        (!coalesce(col("__dropped"), lit(false))).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** Per-label embedding statistics (norms, means) — the sanity-report shape
    * over vector columns. */
  /** q136: one-pass Gram / covariance matrix over the embedding corpus —
    * the PCA/whitening preparation step of embedding curation (mean-center
    * and decorrelate before clustering, SemDeDup, or index training).
    *
    * Scale shape: ONE fixed-size matrix buffer per partition
    * ([[graft.functions.GramMatrix]]) — update is in-place integer
    * multiply-adds, merge is elementwise addition, and only the ~16 KB
    * buffer crosses the wire. The naive form explodes each vector into d
    * rows and self-joins on vec_id (d²/2 shuffle rows PER VECTOR — dead at
    * 100 TB); here no explode, join, or per-pair row ever exists and the
    * plan's only exchanges are the single-partition final merge and the
    * presentation sort. The d(d+1)/2 output rows are unpacked from the one
    * eval array with a generated pair-index frame (pure expressions).
    *
    * Exactness: elements are pre-scaled to micro-unit longs with Spark's
    * codegen'd round (the [[graft.functions.ExactAgg]] discipline), so
    * every moment is integer-exact and the DuckDB oracle replays the
    * identical op chain (including the hi/lo split recombination). */
  def embeddingCovariance(t: Tables, dim: Int = 64): DataFrame = {
    import graft.functions.GramMatrix
    GramMatrix.register(t.spark)
    val scaled = transform(col("embedding"),
      x => round(x.cast("double") * lit(1000000), 0).cast("long"))
    val g = t.embeddings.agg(GramMatrix.gramState(scaled, dim).as("g"))
    val pairs = expr(
      s"flatten(transform(sequence(0, ${dim - 1}), " +
        s"i -> transform(sequence(i, ${dim - 1}), j -> struct(i, j))))")
    val iC = col("p.i")
    val jC = col("p.j")
    val pairIdx = // i*d - i(i-1)/2 + (j-i), exact in double, cast back
      (iC * lit(dim) - (iC * (iC - lit(1))).divide(lit(2)) + (jC - iC))
    val nD = element_at(col("g"), 1)
    val sAt = (p: Column) =>
      element_at(col("g"), (p + lit(2)).cast("int")) / lit(1000000.0)
    val gram = element_at(col("g"),
      (pairIdx + lit(2 + dim)).cast("int")) / lit(1000000000000.0)
    g.select(col("g"), explode(pairs).as("p"))
      .select(
        iC.as("i"), jC.as("j"),
        nD.cast("long").as("n"),
        sAt(iC).as("s_i"), sAt(jC).as("s_j"),
        gram.as("gram"),
        ((gram - sAt(iC) * sAt(jC) / nD) / (nD - lit(1.0))).as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** DuckDB mirror of [[embeddingCovariance]] — the naive exploded
    * self-join form (fine at oracle scale), with the identical scaled-long
    * hi/lo-split arithmetic so every double matches bit-for-bit. */
  def embeddingCovarianceSql(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(u.i AS INTEGER) AS i,
       |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS li
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |nn AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM embeddings),
       |s AS (SELECT i, CAST(sum(li) AS DOUBLE) AS sraw FROM e GROUP BY 1),
       |p AS (SELECT a.i AS i, b.i AS j,
       |        CAST(sum((a.li * b.li) >> 26) AS DOUBLE) * 67108864.0
       |          + CAST(sum((a.li * b.li) & 67108863) AS DOUBLE) AS graw
       |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
       |      GROUP BY 1, 2)
       |SELECT p.i - 1 AS i, p.j - 1 AS j, nn.n AS n,
       |  sa.sraw / 1000000.0 AS s_i,
       |  sb.sraw / 1000000.0 AS s_j,
       |  p.graw / 1000000000000.0 AS gram,
       |  (p.graw / 1000000000000.0
       |     - (sa.sraw / 1000000.0) * (sb.sraw / 1000000.0) / nn.nd)
       |    / (nn.nd - 1.0) AS cov
       |FROM p
       |JOIN s sa ON sa.i = p.i
       |JOIN s sb ON sb.i = p.j
       |CROSS JOIN nn
       |ORDER BY i, j""".stripMargin

  def embeddingStats(t: Tables): DataFrame =
    t.embeddings
      .select(
        col("label"),
        l2Norm(toDouble(col("embedding"))).as("norm"),
        element_at(col("embedding"), 1).cast("double").as("first_dim"),
        size(col("embedding")).as("dim"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        graft.functions.ExactAgg.davg(col("norm")).as("avg_norm"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        graft.functions.ExactAgg.davg(col("first_dim")).as("avg_first_dim"),
        max(col("dim")).as("dim"))
      .orderBy(col("label"))

  // ── all-pairs sparse (TF-IDF) cosine similarity ─────────────────────
  //
  // The SPARSE-vector complement of the dense-embedding near-dup kernels:
  // documents as TF-IDF bags, all pairs with cosine >= tau. The naive
  // inverted-index self-join is quadratic in the posting length of every
  // stopword-class term (df² pairs for "the"), so candidate GENERATION is
  // df-cut (Elsayed et al.'s APSS pruning, the DISCO/Ture et al. Spark-era
  // shape): only postings of terms with df <= maxDfFrac·N propose pairs.
  // Scoring is then EXACT over all shared terms — the candidate frame
  // (bounded by rare-posting sizes) joins back to the full per-doc weight
  // vectors on doc_id, never on term, so hot postings never enter
  // pair-space. Rare postings are additionally under the shared salted
  // bucket cap ([[Dedup.saltedBuckets]]): a posting of n > cap docs splits
  // into ⌈n/cap⌉ portable-hash sub-buckets and pairs only within them, so
  // per-term pair work is n·cap/2 (linear in n), never n²/2 — the sf1
  // scale-up run caught the uncapped form at 489 s / 7 GB peak task when
  // the data's one rare term reached a 2,500-doc posting; capped it is
  // seconds. Contracts (both documented recall cuts, both replayed
  // bit-exactly by the oracle): a pair sharing ONLY hot terms is not
  // proposed — at 100 TB that pair-space is quadratic in the corpus and
  // its similarity mass is the low-idf tail by construction — and a pair
  // inside an OVERSIZED posting is proposed only when a shared rare term
  // lands it in the same sub-bucket (like banded LSH, each shared rare
  // term is an independent chance; the exact no-loss alternative is
  // Bayardo-style prefix filtering).
  //
  // Weights w = tf · N/df (the same log-free rational idf as q50, keeping
  // libm out of the oracle contract); dot and norms fold through the
  // ExactAgg cents kernels so every sum is order-independent and the
  // DuckDB twin replays the arithmetic bit-for-bit.

  /** All candidate document pairs with full-vector TF-IDF cosine >= tau;
    * candidates = pairs sharing at least one term with df <= maxDfFrac·N.
    * Output: (doc_a, doc_b, n_shared_terms, cosine). */
  def sparseCosinePairs(t: Tables, maxDfFrac: Double = 0.25,
                        tau: Double = 0.5, cap: Int = 256): DataFrame = {
    import graft.functions.{ExactAgg, SparseDotExpression}
    SparseDotExpression.register(t.spark)
    val tf = t.documents
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n  = t.documents.select(count(lit(1)).as("n_docs"))
    val w = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("df"), col("n_docs"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("w"))
      .localCheckpoint() // weight frame feeds the cents vectors and the
                         // rare-posting candidate stream — materialize once

    // Per-doc key-sorted cents vectors: the pair-scoring payload. Terms
    // are dictionary-encoded to longs (DistributedIds.uniqueIds — a
    // distributed deterministic BIJECTION, so long-key equality ≡ term
    // equality with no hash-collision contract). No broadcast hint on the
    // dictionary join: the planner broadcasts the dictionary from its
    // estimated size when it fits, and shuffle-joins the 10⁸⁺-term
    // vocabularies where a forced broadcast would blow the 8 GB relation
    // cap. Cents quantization is ExactAgg.cents — the SAME expression
    // dsumProd applies — so the native merge-walk dot below reproduces
    // dsumProd(w_a, w_b) bit-for-bit (SparseDotCents scaladoc). Norms
    // fall out of the self-dot of the same vectors (identical kernel,
    // identical recombine), saving the separate norm aggregation pass.
    val tid = graft.core.DistributedIds.uniqueIds(df, "term", "tid")
    val vecs = w.join(tid, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("tid"), ExactAgg.cents(col("w")).as("c")))).as("vec"))
      .select(col("doc_id"),
        transform(col("vec"), x => x.getField("tid")).as("ks"),
        transform(col("vec"), x => x.getField("c")).as("cs"))
      .localCheckpoint() // read by the norm projection and both pair sides
    def recombine(d: Column): Column =
      (d.getField("hi").cast("double") * lit(67108864.0) +
        d.getField("lo").cast("double")) / lit(10000.0)
    val norms = vecs.select(col("doc_id"),
      sqrt(recombine(SparseDotExpression.sparseDotCents(
        col("ks"), col("cs"), col("ks"), col("cs")))).as("norm"))
    val rare = w.filter(col("df") <= col("n_docs") * lit(maxDfFrac))
      .select(col("doc_id"), col("term"))
    val salted = Dedup.saltedBuckets(rare, Seq("term"), "doc_id", cap)
    val cand = salted.as("a")
      .join(salted.as("b"),
        col("a.term") === col("b.term") && col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Pair scoring: attach the two bounded vectors and merge-walk them in
    // ONE native expression per pair. The previous join-shaped form
    // expanded |cand| × |terms/doc| string-keyed rows through a second
    // shuffle join and a pair-keyed hash aggregate — measured as the q138
    // sf1 GC wall (~240M intermediate rows on the 10× fixture). A pair
    // sharing zero terms cannot appear (every candidate shares the rare
    // term that proposed it), so the inner-join/aggregate semantics are
    // preserved exactly.
    val dots = cand
      .join(vecs.as("va"), col("doc_a") === col("va.doc_id"))
      .join(vecs.as("vb"), col("doc_b") === col("vb.doc_id"))
      .withColumn("d", SparseDotExpression.sparseDotCents(
        col("va.ks"), col("va.cs"), col("vb.ks"), col("vb.cs")))
      .select(col("doc_a"), col("doc_b"),
        recombine(col("d")).as("dot"),
        col("d").getField("n_shared").as("n_shared"))
    dots
      .join(norms.as("na"), col("doc_a") === col("na.doc_id"))
      .join(norms.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("n_shared").cast("int").as("n_shared_terms"),
        round(col("dot") / (col("na.norm") * col("nb.norm")), 6).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * anchor vector, the k most-similar vectors with a DIFFERENT label —
    * the negatives that actually move a contrastive loss (easy negatives
    * are already far; same-label neighbors are positives, not negatives).
    *
    * This composes the existing ANN surface: exact scoring here (the
    * oracle-able form); at corpus scale the candidate set comes from
    * [[ivfTopK]] with an over-fetch (probe k' ≫ k, then label-filter),
    * so the label filter never rescans the corpus. Ranking uses the
    * 6-dp-rounded cosine with vec_id tiebreak — deterministic across
    * engines, like [[bruteForceTopK]]. */
  def hardNegatives(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val emb = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    val queries = emb
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qemb"))
    val scored = emb
      .join(broadcast(queries), col("label") =!= col("qlabel"))
      .select(
        col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        round(
          graft.functions.VectorExpressions.cosineSim(col("qemb"), col("embedding")),
          6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The DuckDB mirror of [[hardNegatives]]. */
  def hardNegativesSql(nQueries: Int = 8, k: Int = 5): String =
    s"""WITH emb AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
       |  FROM embeddings),
       |normed AS (
       |  SELECT vec_id, label, vec,
       |    sqrt(list_dot_product(vec, vec)) AS norm FROM emb),
       |queries AS (
       |  SELECT vec_id AS query_id, label AS qlabel, vec AS qvec,
       |    norm AS qnorm
       |  FROM normed WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT query_id, vec_id, normed.label AS label,
       |    round(list_dot_product(qvec, vec) / (qnorm * norm), 6) AS cosine
       |  FROM normed CROSS JOIN queries
       |  WHERE normed.label <> qlabel),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, label, cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** EXACT all-pairs sparse cosine — Bayardo et al.'s prefix-filtered
    * APSS, the no-recall-loss counterpart of [[sparseCosinePairs]]'s
    * df-cut+cap variant. Guarantee: returns EVERY pair with TF-IDF cosine
    * >= tau (brute-force set equality pinned in SimilaritySpec; the q147
    * oracle replays the whole filter bit-for-bit).
    *
    * The filter: with normalized weights ŵ = w/‖w‖ and the per-term
    * corpus maximum maxŵ, order each document's terms by the global
    * (maxŵ DESC, term) order and compute the tail bound
    * cum(i) = Σ_{j ≥ i} ŵ[j]·maxŵ[j]. A document INDEXES its term at
    * position i iff cum(i) >= tau; for any pair with cos >= tau, at
    * least one shared term is indexed by one side (if all of a's shared
    * terms sat in a's unindexed tail, cos(a,b) ≤ Σ_tail ŵa·maxŵ < tau
    * — contradiction). Candidates are therefore indexed-postings ⋈ FULL
    * postings; only indexed postings pay the pair join, and for
    * selective tau they are far smaller than the full index.
    *
    * Engine-portability of the bound: the tail sum runs on CEIL-scaled
    * integer micro-units (`ceil(ŵ·maxŵ·1e6)` as long), so the running
    * sum is integer-exact in any engine — ceiling OVER-estimates the
    * tail, which can only index MORE terms, never fewer: exactness is
    * preserved, bit-agreement is guaranteed. Scoring reuses the same
    * ExactAgg cents kernels as q138; the kernel's scaled-cents rounding
    * can move a cosine by up to ~0.004 vs the real-valued one, so the
    * INDEX threshold runs at tau − 0.01 — the margin means every pair
    * whose REPORTED (kernel) cosine clears tau is provably a candidate,
    * while the final filter still applies tau itself.
    *
    * 100 TB posture: work tracks indexed-posting sizes, which tau
    * controls (tau→1 indexes almost nothing) — on corpora with a real
    * Zipfian weight spread. A corpus whose weight distribution defeats
    * the bound (MANY docs all hitting the same few uniformly-heavy
    * terms, like this synthetic fixture) degrades toward the full
    * quadratic — intrinsic to EXACT all-pairs, and measured here: the
    * fixture at sf0.1 runs the unrestricted form at ~150 s. Hence
    * `maxDocs`: the REGISTERED query pins exactness on a fixed
    * deterministic slice (the whole corpus at the sf0.01 oracle gate,
    * constant work at any larger SF — the q37 nQueries pattern), and
    * production exact runs shard the corpus or fall back to the capped
    * [[sparseCosinePairs]], which this function complements, not
    * replaces. */
  def sparseCosinePairsExact(t: Tables, tau: Double = 0.9,
                             maxDocs: Int = 500): DataFrame = {
    import graft.functions.ExactAgg
    val tf = t.documents
      .filter(col("doc_id") < maxDocs)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n  = t.documents.filter(col("doc_id") < maxDocs)
      .select(count(lit(1)).as("n_docs"))
    val w = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("w"))
      .localCheckpoint()
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(ExactAgg.dsumProd(col("w"), col("w"))).as("norm"))
    val wn = w.join(norms, "doc_id")
      .select(col("doc_id"), col("term"), (col("w") / col("norm")).as("wn"))
      .localCheckpoint() // normalized entries feed maxw, the bound, and scoring
    val maxw = wn.groupBy(col("term")).agg(max(col("wn")).as("mw"))
    val tauMicro = math.floor((tau - 0.01) * 1e6).toLong
    val cumW = Window.partitionBy(col("doc_id"))
      .orderBy(col("mw").desc, col("term"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val indexed = wn.join(broadcast(maxw), "term")
      .withColumn("p", ceil(col("wn") * col("mw") * lit(1e6)).cast("long"))
      .withColumn("cum", sum(col("p")).over(cumW))
      .filter(col("cum") >= tauMicro)
      .select(col("doc_id"), col("term"))
    val cand = indexed.as("a")
      .join(wn.select(col("doc_id"), col("term")).as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // Pair scoring via the q138 dictionary-encoded merge-walk kernel
    // (SparseDotCents): cents = ExactAgg.cents(wn·100), the exact
    // quantization dsumProd(wn·100, wn·100) applied, so dot4 is
    // reproduced bit-for-bit without the pair × terms/doc expansion join
    // and its pair-keyed aggregate. Every candidate shares the indexed
    // term that proposed it, so no zero-overlap pair can appear.
    // The dictionary is built from the df aggregate, not from the
    // checkpointed wn (same term set): built over wn it inherits wn's size
    // estimate, and at sf1 copyheavy the planner then broadcast the weight
    // frame instead of the dictionary.
    graft.functions.SparseDotExpression.register(t.spark)
    val tid = graft.core.DistributedIds.uniqueIds(df, "term", "tid")
    val vecs = wn.join(tid, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tid"),
        ExactAgg.cents(col("wn") * lit(100)).as("c")))).as("vec"))
      .select(col("doc_id"),
        transform(col("vec"), x => x.getField("tid")).as("ks"),
        transform(col("vec"), x => x.getField("c")).as("cs"))
      .localCheckpoint() // read by both pair sides
    val dots = cand
      .join(vecs.as("va"), col("doc_a") === col("va.doc_id"))
      .join(vecs.as("vb"), col("doc_b") === col("vb.doc_id"))
      .withColumn("d", graft.functions.SparseDotExpression.sparseDotCents(
        col("va.ks"), col("va.cs"), col("vb.ks"), col("vb.cs")))
      .select(col("doc_a"), col("doc_b"),
        ((col("d.hi").cast("double") * lit(67108864.0) +
          col("d.lo").cast("double")) / lit(10000.0)).as("dot4"),
        col("d.n_shared").as("n_shared"))
    dots
      .select(col("doc_a"), col("doc_b"),
        col("n_shared").cast("int").as("n_shared_terms"),
        round(col("dot4") / lit(10000.0), 6).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The DuckDB mirror of [[sparseCosinePairsExact]]. */
  def sparseCosinePairsExactSql(tau: Double = 0.9, maxDocs: Int = 500): String = {
    val O = graft.functions.ExactAgg.Sql
    val tauMicro = math.floor((tau - 0.01) * 1e6).toLong
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |    FROM documents WHERE doc_id < $maxDocs)
       |  WHERE length(term) > 0 GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < $maxDocs),
       |w AS MATERIALIZED (
       |  SELECT doc_id, term, CAST(tf AS DOUBLE) * n_docs / df AS w
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |norms AS (
       |  SELECT doc_id, sqrt(${O.dsumProd("w", "w")}) AS norm
       |  FROM w GROUP BY doc_id),
       |wn AS MATERIALIZED (
       |  SELECT doc_id, term, w / norm AS wn
       |  FROM w JOIN norms USING (doc_id)),
       |maxw AS (SELECT term, max(wn) AS mw FROM wn GROUP BY 1),
       |bound AS (
       |  SELECT doc_id, term,
       |    sum(CAST(ceil(wn * mw * 1e6) AS BIGINT)) OVER (
       |      PARTITION BY doc_id ORDER BY mw DESC, term
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS cum
       |  FROM wn JOIN maxw USING (term)),
       |indexed AS (SELECT doc_id, term FROM bound WHERE cum >= $tauMicro),
       |cand AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM indexed a JOIN wn b
       |    ON a.term = b.term AND a.doc_id <> b.doc_id),
       |dots AS (
       |  SELECT doc_a, doc_b,
       |    ${O.dsumProd("wa.wn * 100", "wb.wn * 100")} AS dot4,
       |    count(*) AS n_shared
       |  FROM cand
       |  JOIN wn wa ON cand.doc_a = wa.doc_id
       |  JOIN wn wb ON cand.doc_b = wb.doc_id AND wa.term = wb.term
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_shared AS INTEGER) AS n_shared_terms,
       |  round(dot4 / 10000.0, 6) AS cosine
       |FROM dots
       |WHERE round(dot4 / 10000.0, 6) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The DuckDB mirror of [[sparseCosinePairs]] — same df-cut candidates,
    * same ExactAgg cents kernels for dot and norms. */
  def sparseCosinePairsSql(maxDfFrac: Double = 0.25,
                           tau: Double = 0.5, cap: Int = 256): String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |    FROM documents)
       |  WHERE length(term) > 0 GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |w AS MATERIALIZED (
       |  SELECT doc_id, term, df, n_docs,
       |    CAST(tf AS DOUBLE) * n_docs / df AS w
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |norms AS (
       |  SELECT doc_id, sqrt(${O.dsumProd("w", "w")}) AS norm
       |  FROM w GROUP BY doc_id),
       |rare AS (SELECT doc_id, term FROM w WHERE df <= n_docs * $maxDfFrac),
       |rsz AS (SELECT term, count(*) AS bucket_n FROM rare GROUP BY 1),
       |salted AS (
       |  SELECT doc_id, term,
       |    (${Sampling.splitHashSql("doc_id")}) % ((bucket_n + ${cap - 1}) // $cap) AS salt
       |  FROM rare JOIN rsz USING (term)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM salted a JOIN salted b
       |    ON a.term = b.term AND a.salt = b.salt AND a.doc_id < b.doc_id),
       |dots AS (
       |  SELECT doc_a, doc_b,
       |    ${O.dsumProd("wa.w", "wb.w")} AS dot,
       |    count(*) AS n_shared
       |  FROM cand
       |  JOIN w wa ON cand.doc_a = wa.doc_id
       |  JOIN w wb ON cand.doc_b = wb.doc_id AND wa.term = wb.term
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_shared AS INTEGER) AS n_shared_terms,
       |  round(dot / (na.norm * nb.norm), 6) AS cosine
       |FROM dots
       |JOIN norms na ON dots.doc_a = na.doc_id
       |JOIN norms nb ON dots.doc_b = nb.doc_id
       |WHERE round(dot / (na.norm * nb.norm), 6) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q148: hybrid retrieval — reciprocal-rank fusion (RRF) of a lexical
    * BM25 ranking and a dense cosine ranking, the standard fused-retrieval
    * shape of RAG serving stacks (Elasticsearch/Vespa hybrid mode; RRF per
    * Cormack et al., SIGIR'09: score = Σ 1/(K + rank)).
    *
    * Each ranker contributes its top-`kEach` only — that cut is what makes
    * the operator scale: both arms end in `orderBy(...).limit(kEach)`,
    * which Spark executes as TakeOrderedAndProject (per-partition heaps +
    * single-partition merge of kEach rows — no global sort of the corpus
    * ever forms). The rank assignment then windows over a
    * constant-bounded (≤ kEach) frame, so its single-partition exchange
    * moves ≤ kEach rows. Fusion is a full-outer join of two ≤ kEach-row
    * frames: a doc found by only one ranker keeps the other arm's
    * contribution at 0 (the Cormack formulation).
    *
    * Ranks are computed on 6-dp-rounded scores with id tiebreaks, so both
    * rankings are total orders and the fused output is bit-portable; the
    * RRF terms 1/(K+rank) are single IEEE divisions (no libm).
    * The lexical arm scores `documents` ([[TextAnalysis.bm25Scores]]);
    * the dense arm scores `embeddings` against the `queryId` vector — the
    * two id spaces are aligned (embeddings is a doc_id-prefix corpus), so
    * fusion joins on the shared id. */
  def hybridSearch(t: Tables,
                   terms: Seq[String] = Seq("data", "spark", "query"),
                   queryId: Int = 0, kEach: Int = 100, k: Int = 20,
                   rrfK: Int = 60): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val lexTop = TextAnalysis.bm25Scores(t, terms)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(kEach)
    val wl = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lexRanked = lexTop
      .withColumn("lex_rank", row_number().over(wl))
      .select(col("doc_id").as("id"), col("lex_rank"), col("bm25"))
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val qv = emb.filter(col("vec_id") === queryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val denseTop = emb
      .join(broadcast(qv), col("vec_id") =!= col("query_id"))
      .select(col("vec_id"),
        round(graft.functions.VectorExpressions
          .cosineSim(col("qemb"), col("embedding")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(kEach)
    val wd = Window.orderBy(col("cosine").desc, col("vec_id"))
    val denseRanked = denseTop
      .withColumn("dense_rank", row_number().over(wd))
      .select(col("vec_id").as("id"), col("dense_rank"), col("cosine"))
    lexRanked.join(denseRanked, Seq("id"), "full_outer")
      .select(
        col("id").as("doc_id"),
        col("lex_rank").cast("int").as("lex_rank"),
        col("dense_rank").cast("int").as("dense_rank"),
        col("bm25"), col("cosine"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)),
          6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** DuckDB mirror of [[hybridSearch]] — BM25 CTEs shared with q124's
    * oracle, the q37 cosine formulation for the dense arm, ranks and the
    * 1/(K+rank) fusion replayed with explicit DOUBLE casts. */
  def hybridSearchSql(terms: Seq[String] = Seq("data", "spark", "query"),
                      queryId: Int = 0, kEach: Int = 100, k: Int = 20,
                      rrfK: Int = 60): String =
    s"""WITH ${TextAnalysis.bm25ScoresSqlCtes(terms)},
       |lex AS (
       |  SELECT doc_id, bm25,
       |   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM scores ORDER BY bm25 DESC, doc_id LIMIT $kEach),
       |emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |normed AS (
       |  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
       |  FROM emb),
       |qv AS (
       |  SELECT vec AS qvec, norm AS qnorm FROM normed
       |  WHERE vec_id = $queryId),
       |dense AS (
       |  SELECT vec_id,
       |   round(list_dot_product(qvec, vec) / (qnorm * norm), 6) AS cosine
       |  FROM normed CROSS JOIN qv WHERE vec_id <> $queryId
       |  ORDER BY cosine DESC, vec_id LIMIT $kEach),
       |densed AS (
       |  SELECT vec_id, cosine,
       |   row_number() OVER (ORDER BY cosine DESC, vec_id) AS dense_rank
       |  FROM dense)
       |SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
       | CAST(l.lex_rank AS INTEGER) AS lex_rank,
       | CAST(d.dense_rank AS INTEGER) AS dense_rank,
       | l.bm25, d.cosine,
       | round(COALESCE(CAST(1 AS DOUBLE) / ($rrfK + l.lex_rank),
       |                CAST(0 AS DOUBLE))
       |     + COALESCE(CAST(1 AS DOUBLE) / ($rrfK + d.dense_rank),
       |                CAST(0 AS DOUBLE)), 6) AS rrf_score
       |FROM lex l FULL OUTER JOIN densed d ON l.doc_id = d.vec_id
       |ORDER BY rrf_score DESC, doc_id LIMIT $k""".stripMargin

  /** q149: all pairs within euclidean distance `eps` of each other in the
    * 2-D projection of the embedding space — the ε-neighborhood self-join
    * (the candidate step of DBSCAN, and the fixed-radius variant of a
    * geospatial distance join), solved with GRID BLOCKING: index space is
    * tiled into eps-sized cells, each point is replicated to its 3×3 cell
    * neighborhood on the left side only, and the equi-join on cell id
    * meets every pair whose distance can possibly be ≤ eps (|Δx| ≤ eps
    * implies adjacent-or-same cell column — the blocking is provably
    * LOSSLESS, which the brute-force all-pairs oracle verifies
    * bit-for-bit). Each qualifying pair is met exactly once: the a<b
    * filter keeps only the replica-of-a-in-b's-home-cell encounter.
    *
    * Scale posture: cost is Σ_cell |left ∩ cell|·|right ∩ cell| — linear
    * in n for bounded point density (vs the O(n²) cross join the naive
    * form needs). The join is a plain hash equi-join on (cx, cy), so it
    * shuffles by cell; a pathological all-points-in-one-cell distribution
    * would concentrate one reducer, the same skew the salted-join family
    * (q89) handles — eps is a resolution knob, and real workloads pick
    * eps ≪ data extent (here: eps = 0.01 over a ±0.38 extent, ~76 cells
    * per axis). All arithmetic (floor(x/eps) cell ids, squared-distance
    * threshold, correctly-rounded sqrt) is IEEE-portable; eps enters both
    * engines as the same decimal literal, never a precomputed product. */
  def epsNeighborPairs(t: Tables, eps: Double = 0.01): DataFrame = {
    val pts = t.embeddings.select(
      col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val cells = pts
      .withColumn("cx", floor(col("x") / lit(eps)).cast("long"))
      .withColumn("cy", floor(col("y") / lit(eps)).cast("long"))
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy)
    val reps = cells.select(
      col("vec_id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
      explode(array(offsets.map { case (dx, dy) =>
        struct((col("cx") + lit(dx)).as("cx"), (col("cy") + lit(dy)).as("cy"))
      }: _*)).as("cell"))
      .select(col("id_a"), col("xa"), col("ya"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val home = cells.select(
      col("vec_id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      col("cx"), col("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    reps.join(home, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= lit(eps) * lit(eps))
      .select(col("id_a"), col("id_b"),
        round(sqrt(col("dist2")), 6).as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB mirror of [[epsNeighborPairs]] — deliberately the BRUTE-FORCE
    * all-pairs form: the hash gate then proves the engine's grid blocking
    * loses no pair and invents none. */
  def epsNeighborPairsSql(eps: Double = 0.01): String =
    s"""WITH p AS (
       |  SELECT vec_id,
       |   CAST(embedding[1] AS DOUBLE) AS x,
       |   CAST(embedding[2] AS DOUBLE) AS y
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       | round(sqrt((a.x - b.x) * (a.x - b.x)
       |          + (a.y - b.y) * (a.y - b.y)), 6) AS dist
       |FROM p a JOIN p b ON a.vec_id < b.vec_id
       |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |   <= CAST($eps AS DOUBLE) * CAST($eps AS DOUBLE)
       |ORDER BY id_a, id_b""".stripMargin

  /** q195: retrieval-ARM evaluation — the table a retrieval stack is
    * chosen from: the exact dense ranker (q37), the SRP-LSH approximate
    * ranker (q38), and the PQ+ADC compressed ranker (q187) evaluated on
    * the SAME queries against the SAME label-match relevance truth
    * (q151's notion: a retrieved vector is relevant iff it carries the
    * query's label). Label truth puts the cosine arms and the L2 PQ arm
    * on one scale, which metric-vs-metric recall cannot. Reported per
    * arm: retrieved/relevant counts, precision@k, hit coverage, and MRR.
    *
    * MRR portability: reciprocal ranks are summed as ⌊10⁶/rank⌋ integers
    * (the PageRank fixed-point doctrine — a float Σ1/r is
    * partition-order-dependent) and descaled once at the end; queries
    * with no relevant result contribute 0 and stay in the denominator.
    *
    * Scale shape: each arm is its existing operator (their scale
    * arguments carry over); everything downstream operates on the
    * 3·Q·k-row union — labels join against a broadcast of that tiny
    * frame, roll-ups are 3-row. */
  def retrievalArmEval(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val arms = Seq(
      "dense_exact" -> bruteForceTopK(t, nQueries, k),
      "lsh_srp" -> lshBucketedTopK(t, nQueries, k),
      "pq_adc" -> graft.ext.Spectral.pqTopK(t, nQueries = nQueries, topK = k))
    val tagged = arms.map { case (name, df) =>
      df.select(lit(name).as("arm"), col("query_id"), col("vec_id"),
        col("rank").cast("int").as("rank"))
    }.reduce(_ unionByName _)
    val qlab = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val judged = t.embeddings.select(col("vec_id"), col("label").as("r_label"))
      .join(broadcast(tagged), Seq("vec_id")) // 3·Q·k-row probe side
      .join(broadcast(qlab), Seq("query_id"))
      .select(col("arm"), col("query_id"), col("rank"),
        when(col("r_label") === col("q_label"), 1L).otherwise(0L).as("rel"))
    val perQuery = judged
      .groupBy(col("arm"), col("query_id"))
      .agg(
        count(lit(1)).as("n_ret"),
        sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
      .select(col("arm"), col("n_ret"), col("n_rel"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("rr_scaled"))
    perQuery
      .groupBy(col("arm"))
      .agg(
        sum(col("n_ret")).as("n_retrieved"),
        sum(col("n_rel")).as("n_relevant"),
        sum(when(col("n_rel") > 0, 1L).otherwise(0L)).as("n_queries_hit"),
        sum(col("rr_scaled")).as("rr_sum"))
      .select(col("arm"), col("n_retrieved"), col("n_relevant"),
        // single IEEE divisions of exact integers — bit-identical in any
        // engine, so deliberately UNROUNDED (round(·,6) on a boundary
        // value is the q176 HALF_UP trap; q184 set the precedent)
        (col("n_relevant").cast("double") / col("n_retrieved"))
          .as("precision_at_k"),
        col("n_queries_hit"),
        (col("rr_sum").cast("double") / lit(1000000.0 * nQueries)).as("mrr"))
      .orderBy(col("arm"))
  }

  /** q189: embedding-space split-LEAKAGE audit — the semantic twin of the
    * lexical q186: ε-neighbor vector pairs ([[epsNeighborPairs]]' lossless
    * grid blocking) that straddle the deterministic train/val/test
    * boundary. Near-identical embeddings across the split are exactly the
    * contamination SemDeDup-style curation worries about: an eval item
    * whose vector twin was trained on scores as memorization, not
    * generalization — and shingle-based audits can't see it when the
    * surface text differs (paraphrase, translation, re-encode).
    *
    * Output shape matches q186 (split_lo/split_hi by rank, distinct
    * hi-side vectors, hi-split totals) so the two audits read side by
    * side. Split labels are pure hash arithmetic on the pair's own ids —
    * zero joins back to the corpus; the roll-up runs on the ≤6-row combo
    * frame plus a broadcast of the 3-row split totals. */
  def embeddingSplitLeakage(t: Tables, eps: Double = 0.01): DataFrame = {
    import graft.ext.Sampling.splitColumn
    def rk(s: Column): Column =
      when(s === "train", 0).when(s === "val", 1).otherwise(2)
    val pairs = epsNeighborPairs(t, eps)
      .select(col("id_a"), col("id_b"),
        splitColumn(col("id_a")).as("spa"),
        splitColumn(col("id_b")).as("spb"))
    val aIsLo = rk(col("spa")) <= rk(col("spb"))
    val oriented = pairs.select(
      when(aIsLo, col("spa")).otherwise(col("spb")).as("split_lo"),
      when(aIsLo, col("spb")).otherwise(col("spa")).as("split_hi"),
      when(aIsLo, col("id_a")).otherwise(col("id_b")).as("vec_lo"),
      when(aIsLo, col("id_b")).otherwise(col("id_a")).as("vec_hi"))
    val totals = t.embeddings
      .groupBy(splitColumn(col("vec_id")).as("split_hi"))
      .agg(count(lit(1)).as("n_split_hi"))
    oriented
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("vec_lo")).as("n_vecs_lo"),
        countDistinct(col("vec_hi")).as("n_vecs_hi"))
      .join(broadcast(totals), Seq("split_hi")) // 3-row dim
      .select(
        col("split_lo"), col("split_hi"), col("n_pairs"),
        col("n_vecs_lo"), col("n_vecs_hi"), col("n_split_hi"),
        round(col("n_vecs_hi").cast("double") / col("n_split_hi"), 6)
          .as("pct_hi_leaked"))
      .orderBy(rk(col("split_lo")), rk(col("split_hi")))
  }

  /** DuckDB mirror of [[embeddingSplitLeakage]] — brute-force ε pairs
    * (proving the grid blocking again, now under the audit) + the split
    * CASE of [[graft.ext.Sampling.splitHashSql]]. */
  def embeddingSplitLeakageSql(eps: Double = 0.01): String = {
    def splitCase(x: String): String = {
      val b = s"(${graft.ext.Sampling.splitHashSql(x)}) % 100"
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    }
    def rk(c: String) = s"CASE $c WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END"
    s"""WITH p AS (
       |  SELECT vec_id,
       |   CAST(embedding[1] AS DOUBLE) AS x,
       |   CAST(embedding[2] AS DOUBLE) AS y
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id
       |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |     <= CAST($eps AS DOUBLE) * CAST($eps AS DOUBLE)),
       |lab AS (
       |  SELECT id_a, id_b,
       |    ${splitCase("id_a")} AS spa,
       |    ${splitCase("id_b")} AS spb
       |  FROM pairs),
       |orient AS (
       |  SELECT
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN spa ELSE spb END AS split_lo,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN spb ELSE spa END AS split_hi,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN id_a ELSE id_b END AS vec_lo,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN id_b ELSE id_a END AS vec_hi
       |  FROM lab),
       |tot AS (
       |  SELECT ${splitCase("vec_id")} AS split_hi, count(*) AS n_split_hi
       |  FROM embeddings GROUP BY 1),
       |agg AS (
       |  SELECT split_lo, split_hi, count(*) AS n_pairs,
       |    count(DISTINCT vec_lo) AS n_vecs_lo,
       |    count(DISTINCT vec_hi) AS n_vecs_hi
       |  FROM orient GROUP BY 1, 2)
       |SELECT a.split_lo, a.split_hi, a.n_pairs, a.n_vecs_lo, a.n_vecs_hi,
       |  t.n_split_hi,
       |  round(CAST(a.n_vecs_hi AS DOUBLE) / t.n_split_hi, 6) AS pct_hi_leaked
       |FROM agg a JOIN tot t USING (split_hi)
       |ORDER BY ${rk("a.split_lo")}, ${rk("a.split_hi")}""".stripMargin
  }

  /** q153: semi-supervised label propagation over the ε-neighbor graph —
    * the label-spreading step of weakly-supervised dataset construction
    * (a small seed set of labeled examples labels its geometric
    * neighborhood). The graph is [[epsNeighborPairs]]' lossless
    * grid-blocked edge set; labels spread for `rounds` synchronous
    * rounds: an unlabeled node adopts the MAJORITY label among its
    * currently-labeled neighbors (ties toward the smaller label id) and
    * keeps it (frozen-once — monotone, so the loop is deterministic,
    * needs no damping, and unrolls into replayable SQL; seeds are
    * clamped throughout, the standard LPA constraint).
    *
    * Scale: each round is one edge-keyed join against the current label
    * frame + a bounded (dst, label) vote aggregate — the CC-loop shape
    * (per-round localCheckpoint severs lineage; rounds is a small
    * constant, labels converge within graph diameter). Nodes with no
    * labeled neighbor after `rounds` stay NULL — honest coverage, which
    * the output reports per node. */
  def labelPropagation(t: Tables, eps: Double = 0.02, nSeed: Int = 100,
                       rounds: Int = 3): DataFrame = {
    val edges0 = epsNeighborPairs(t, eps)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = edges0
      .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // reused every round
    var labels = t.embeddings
      .select(col("vec_id"), col("label").as("true_label"),
        when(col("vec_id") < nSeed, col("label")).as("lbl"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = edges
        .join(labels.filter(col("lbl").isNotNull)
          .select(col("vec_id").as("src_id"), col("lbl").as("src_lbl")),
          col("src") === col("src_id"))
        .groupBy(col("dst"), col("src_lbl"))
        .agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy(col("dst"))
        .orderBy(col("n_votes").desc, col("src_lbl"))
      val winner = votes
        .withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1)
        .select(col("dst"), col("src_lbl").as("win_lbl"))
      labels = labels
        .join(winner, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"), col("true_label"),
          coalesce(col("lbl"), col("win_lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels.select(
      col("vec_id"), (col("vec_id") < nSeed).as("is_seed"),
      col("true_label"), col("lbl").as("pred_label"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB mirror of [[labelPropagation]] — rounds unrolled as
    * MATERIALIZED CTEs (each round reads its predecessor twice; plain
    * CTE inlining would re-run the brute-force edge build 2^rounds
    * times, the q117 lesson), over the BRUTE-FORCE edge set so the hash
    * gate re-proves the grid blocking en route. */
  def labelPropagationSql(eps: Double = 0.02, nSeed: Int = 100,
                          rounds: Int = 3): String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT l.vec_id, l.true_label, COALESCE(l.lbl, w.win_lbl) AS lbl
         |  FROM $prev l LEFT JOIN (
         |    SELECT dst, src_lbl AS win_lbl FROM (
         |      SELECT e.dst, s.lbl AS src_lbl, count(*) AS n_votes,
         |       row_number() OVER (PARTITION BY e.dst
         |         ORDER BY count(*) DESC, s.lbl) AS rn
         |      FROM edges e JOIN $prev s
         |        ON s.vec_id = e.src AND s.lbl IS NOT NULL
         |      GROUP BY e.dst, s.lbl) z
         |    WHERE rn = 1) w ON w.dst = l.vec_id)""".stripMargin
    val chain = (1 to rounds).map(i =>
      round(if (i == 1) "l0" else s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH p AS (
       |  SELECT vec_id,
       |   CAST(embedding[1] AS DOUBLE) AS x,
       |   CAST(embedding[2] AS DOUBLE) AS y
       |  FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id
       |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |     <= CAST($eps AS DOUBLE) * CAST($eps AS DOUBLE)),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM pairs
       |  UNION ALL SELECT dst, src FROM pairs),
       |l0 AS (
       |  SELECT vec_id, label AS true_label,
       |   CASE WHEN vec_id < $nSeed THEN label END AS lbl
       |  FROM embeddings),
       |$chain
       |SELECT vec_id, vec_id < $nSeed AS is_seed, true_label,
       | lbl AS pred_label
       |FROM l$rounds ORDER BY vec_id""".stripMargin
  }

  /** q151: k-nearest-neighbor label prediction with a confusion matrix —
    * the EMBEDDING-QUALITY EVAL a training-data pipeline runs after
    * producing vectors: hold out the first `nEval` vectors as queries,
    * predict each one's label by majority vote among its `k` nearest
    * train vectors (cosine), and cross-tabulate predicted vs true.
    *
    * Composition of the ANN surface: broadcast query frame against the
    * train corpus (the q37 kernel), per-query top-k via window on the
    * bounded query_id key space, then two vocabulary-sized aggregates
    * (vote counting, majority pick). Majority ties break toward the
    * smaller label id — deterministic in both engines. The heavy stage
    * is the scored broadcast join (n_train × nEval dot products, narrow,
    * codegen'd); everything after is ≤ nEval·k rows. */
  def knnLabelEval(t: Tables, nEval: Int = 64, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    val emb = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    val queries = emb.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qemb"))
    val train = emb.filter(col("vec_id") >= nEval)
    val scored = train
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("true_label"), col("vec_id"), col("label"),
        round(graft.functions.VectorExpressions
          .cosineSim(col("qemb"), col("embedding")), 6).as("cosine"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val votes = scored
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wMaj = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("mrank", row_number().over(wMaj))
      .filter(col("mrank") === 1)
      .groupBy(col("true_label"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** DuckDB mirror of [[knnLabelEval]]. */
  def knnLabelEvalSql(nEval: Int = 64, k: Int = 10): String =
    s"""WITH emb AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
       |  FROM embeddings),
       |normed AS (
       |  SELECT vec_id, label, vec,
       |   sqrt(list_dot_product(vec, vec)) AS norm FROM emb),
       |queries AS (
       |  SELECT vec_id AS query_id, label AS true_label,
       |   vec AS qvec, norm AS qnorm
       |  FROM normed WHERE vec_id < $nEval),
       |scored AS (
       |  SELECT query_id, true_label, vec_id, label,
       |   round(list_dot_product(qvec, vec) / (qnorm * norm), 6) AS cosine
       |  FROM normed CROSS JOIN queries WHERE vec_id >= $nEval),
       |topk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT query_id, true_label, label, count(*) AS n_votes
       |  FROM topk WHERE rank <= $k GROUP BY 1, 2, 3),
       |majority AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY n_votes DESC, label) AS mrank
       |  FROM votes)
       |SELECT true_label, label AS pred_label, count(*) AS n_queries
       |FROM majority WHERE mrank = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q161: per-dimension FEATURE STANDARDIZATION profile — the z-score
    * scaling pass (and its audit) every embedding-consuming trainer runs
    * before distance math: per dimension, exact mean and sample std from
    * one aggregate over the exploded vectors, then a second pass scores
    * every element z = (x−μ)/σ and folds the outlier profile
    * (|z| > 3 count, min/max z). Two fact passes, both aggregating to
    * dim-sized frames; the stats join back is a broadcast of `dim` rows.
    *
    * Portability: elements ride the micro-unit long scaling of
    * [[embeddingCovariance]]; the sum of squares uses the same hi/lo
    * split-sum (exact integer partials; the double recombination rounds
    * identically in both engines), mean/std/z are then the identical IEEE
    * expression tree on both sides — sqrt is exactly rounded by IEEE 754,
    * so even it is bit-portable. At 100 TB the per-dim partial aggregate
    * is 3 longs × dim — the shuffle is centroid-sized, never data-sized. */
  def embeddingStandardize(t: Tables): DataFrame = {
    val scaled = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"),
        round(col("x").cast("double") * lit(1000000), 0).cast("long").as("li"))
    val p = col("li") * col("li")
    val stats = scaled
      .groupBy(col("i"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("li")).as("sraw"),
        (sum(shiftright(p, 26)).cast("double") * lit(67108864.0) +
          sum(p.bitwiseAND(lit(67108863L))).cast("double")).as("ssraw"))
      .select(col("i"), col("n"),
        ((col("sraw").cast("double") / lit(1000000.0)) / col("n").cast("double"))
          .as("mean"),
        sqrt(
          ((col("ssraw") / lit(1000000000000.0)) -
            (col("sraw").cast("double") / lit(1000000.0)) *
              (col("sraw").cast("double") / lit(1000000.0)) /
              col("n").cast("double")) /
            (col("n").cast("double") - lit(1.0))).as("std"))
    val zs = scaled
      .join(broadcast(stats), Seq("i"))
      .select(col("i"),
        (((col("li").cast("double") / lit(1000000.0)) - col("mean")) / col("std"))
          .as("z"))
      .groupBy(col("i"))
      .agg(
        sum((abs(col("z")) > lit(3.0)).cast("long")).as("n_outliers_3sd"),
        min(col("z")).as("min_z"),
        max(col("z")).as("max_z"))
    stats.join(zs, Seq("i"))
      .select(col("i"), col("n"),
        round(col("mean"), 6).as("mean"),
        round(col("std"), 6).as("std"),
        col("n_outliers_3sd"),
        round(col("min_z"), 6).as("min_z"),
        round(col("max_z"), 6).as("max_z"))
      .orderBy(col("i"))
  }

  /** DuckDB mirror of [[embeddingStandardize]] — identical micro-unit
    * scaling, hi/lo split sum-of-squares, and IEEE mean/std/z tree. */
  def embeddingStandardizeSql(): String =
    """WITH e AS (
      |  SELECT CAST(u.i AS INTEGER) - 1 AS i,
      |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      |      AS li
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      |stats AS (
      |  SELECT i, count(*) AS n,
      |    (CAST(sum(li) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
      |      AS mean,
      |    sqrt((((CAST(sum((li * li) >> 26) AS DOUBLE) * 67108864.0
      |        + CAST(sum((li * li) & 67108863) AS DOUBLE)) / 1000000000000.0)
      |      - (CAST(sum(li) AS DOUBLE) / 1000000.0)
      |        * (CAST(sum(li) AS DOUBLE) / 1000000.0)
      |        / CAST(count(*) AS DOUBLE))
      |      / (CAST(count(*) AS DOUBLE) - 1.0)) AS std
      |  FROM e GROUP BY 1),
      |zs AS (
      |  SELECT e.i,
      |    CAST(sum(CASE WHEN abs(((CAST(e.li AS DOUBLE) / 1000000.0) - s.mean)
      |        / s.std) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_3sd,
      |    min(((CAST(e.li AS DOUBLE) / 1000000.0) - s.mean) / s.std) AS min_z,
      |    max(((CAST(e.li AS DOUBLE) / 1000000.0) - s.mean) / s.std) AS max_z
      |  FROM e JOIN stats s USING (i) GROUP BY 1)
      |SELECT s.i, s.n, round(s.mean, 6) AS mean, round(s.std, 6) AS std,
      |  z.n_outliers_3sd, round(z.min_z, 6) AS min_z, round(z.max_z, 6) AS max_z
      |FROM stats s JOIN zs z USING (i)
      |ORDER BY s.i""".stripMargin

  /** q178: Johnson–Lindenstrauss random-projection distortion report —
    * project the 64-dim embeddings down to `kDims` dims with a ±1 sign
    * matrix (Achlioptas 2003's database-friendly JL variant) and measure
    * how much pairwise cosine structure survives, binned by error size.
    * This is the audit a pipeline runs before swapping full-width vectors
    * for cheap projections in clustering/dedup candidate generation
    * (SemDeDup/ANN pre-passes): it prices the dimensionality cut in
    * recall terms before committing the corpus to it.
    *
    * The sign matrix is never materialized: s(i,j) = ±1 from the parity
    * of the portable [[Sampling.splitHash]] of the cell index — any
    * engine (and any executor, with no broadcast of model state at all)
    * regenerates the identical matrix from arithmetic alone. Projection
    * is a fixed-order left fold per output dim (IEEE-deterministic,
    * DuckDB replays it as the same fold); cosines on both the full and
    * projected vectors use the q37-proven fold/`list_dot_product` parity
    * shape, 6-dp rounded.
    *
    * Shape at scale: the projection is a NARROW per-row map (64·kDims
    * mults) — corpus-linear, no shuffle; the distortion eval self-joins a
    * fixed `nVecs` slice (C(nVecs,2) pairs against a broadcast 40-row
    * frame — the audit is constant-cost by design, the projection is the
    * part that scales). The fold kernel is a HOF (CodegenFallback,
    * interpreted per element): fine for the bounded audit; if the
    * projection itself became the hot path the fold moves into a codegen
    * Expression exactly like [[graft.functions.CosineSimilarity]]. */
  def jlDistortion(t: Tables, kDims: Int = 16, nVecs: Int = 40): DataFrame = {
    val sign: (Column, Column) => Column = (i, j) =>
      when(pmod(Sampling.splitHash(i * lit(kDims) + j), lit(2L)) === 0,
        lit(1.0)).otherwise(lit(-1.0))
    val proj = transform(sequence(lit(0), lit(kDims - 1)), j =>
      aggregate(sequence(lit(0), lit(63)), lit(0.0),
        (acc, i) => acc + element_at(col("vd"), i + 1) * sign(i, j)))
    val p = t.embeddings.filter(col("vec_id") < nVecs)
      .select(col("vec_id"), toDouble(col("embedding")).as("vd"))
      .withColumn("proj", proj)
      .localCheckpoint() // both join sides reuse one projection pass
    def cos(a: Column, b: Column): Column =
      round(dot(a, b) / (l2Norm(a) * l2Norm(b)), 6)
    val pairs = p.as("a")
      .join(broadcast(p.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(
        cos(col("a.vd"), col("b.vd")).as("cos_exact"),
        cos(col("a.proj"), col("b.proj")).as("cos_proj"))
      .select(round(abs(col("cos_exact") - col("cos_proj")), 6).as("err"))
    pairs
      .groupBy(least(floor(col("err") * 10), lit(9L)).as("err_band"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.functions.ExactAgg.davg(col("err")).as("avg_err"),
        max(col("err")).as("max_err"))
      .orderBy(col("err_band"))
  }

  /** The DuckDB mirror of [[jlDistortion]]. */
  def jlDistortionSql(kDims: Int = 16, nVecs: Int = 40): String = {
    val O = graft.functions.ExactAgg.Sql
    val h = Sampling.splitHashSql(s"(i * $kDims + j)")
    def cosSql(a: String, b: String): String =
      s"round(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |  FROM embeddings WHERE vec_id < $nVecs),
       |p AS (
       |  SELECT vec_id, vd,
       |   list_transform(range(0, $kDims), j ->
       |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |       list_transform(range(0, 64), i -> vd[i + 1] *
       |         (CASE WHEN ($h) % 2 = 0
       |               THEN 1.0 ELSE -1.0 END))),
       |       (acc, x) -> acc + x)) AS proj
       |  FROM emb),
       |pr AS (
       |  SELECT ${cosSql("a.vd", "b.vd")} AS cos_exact,
       |         ${cosSql("a.proj", "b.proj")} AS cos_proj
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id),
       |e AS (SELECT round(abs(cos_exact - cos_proj), 6) AS err FROM pr)
       |SELECT CAST(least(floor(err * 10), 9) AS BIGINT) AS err_band,
       | count(*) AS n_pairs,
       | ${O.davg("err")} AS avg_err,
       | max(err) AS max_err
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q196: MMR (maximal-marginal-relevance) diversified re-ranking — the
    * standard RAG second stage (Carbonell & Goldstein 1998): from each
    * query's top-`cand` exact-cosine candidates, greedily select `k`
    * results maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so near-
    * duplicate hits don't crowd the answer set the way a pure relevance
    * top-k lets them (the q41/q88 near-dup families show exactly why).
    *
    * Bit-portability: relevance and candidate-pair cosines are the
    * q37-proven 6-dp doubles, quantized to 1e6-scale BIGINTs; the greedy
    * score is pure integer arithmetic (λ in tenths: `lambdaTenths·rel_q −
    * (10−lambdaTenths)·maxSel_q`), argmax tie-broken on vec_id — DuckDB
    * replays every pick. The first pick's diversity term is 0; a pool
    * shorter than `k` yields one rank per candidate.
    *
    * Scale shape: candidates come from [[bruteForceTopK]] (swap in the
    * LSH/IVF arm at scale); MMR never touches the corpus again. Each query
    * is ONE localCheckpoint'd row — its ≤ `cand` candidates and their
    * `cand × cand` quantized sim matrix — and all k greedy rounds run in
    * that row as one `aggregate` fold, so per-query state is bounded by
    * `cand` and the Spark job count does not depend on k. */
  def mmrRerank(t: Tables, nQueries: Int = 8, cand: Int = 16, k: Int = 5,
                lambdaTenths: Int = 7): DataFrame = {
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      "mmrRerank: lambdaTenths must be in [0, 10]")
    require(k >= 1, s"mmrRerank: k must be positive, got $k")
    graft.functions.VectorExpressions.register(t.spark)
    // quantize via round(·,0)-then-cast (the q182 convention): the product
    // of a 6-dp cosine and 1e6 is integral up to fp error, so both engines
    // round the same double to the same integer (never lands on .5)
    def q6(x: Column): Column = round(x * 1e6, 0).cast("long")
    val pools = bruteForceTopK(t, nQueries, cand)
      .join(t.embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("cosine"),
        q6(col("cosine")).as("rel_q"), col("embedding")))).as("pool"))
      .select(col("query_id"), col("pool"),
        transform(col("pool"), a => transform(col("pool"), b =>
          q6(round(graft.functions.VectorExpressions.cosineSim(
            a.getField("embedding"), b.getField("embedding")), 6)))).as("sims"))
      .localCheckpoint() // Q rows: each query's whole greedy state
    // One round: append the argmax over the unpicked candidate indices.
    // array_max compares the structs field by field, so `neg_id` breaks
    // score ties toward the smaller vec_id.
    def greedyStep(picks: Column): Column = {
      val open = filter(sequence(lit(0), size(col("pool")) - 1),
        i => !exists(picks, s => s.getField("i") === i))
      concat(picks, array(array_max(transform(open, i => {
        val maxSel = coalesce(
          array_max(transform(picks, s => col("sims")(i)(s.getField("i")))), lit(0L))
        struct((col("pool")(i)("rel_q") * lambdaTenths -
            maxSel * (10 - lambdaTenths)).as("score"),
          (-col("pool")(i)("vec_id")).as("neg_id"), i.as("i"), maxSel.as("max_sel_q"))
      }))))
    }
    // one round per candidate at most, so `open` is never empty
    val rounds = sequence(lit(1), least(lit(k), size(col("pool"))))
    val noPicks = array().cast("array<struct<score:bigint,neg_id:bigint,i:int,max_sel_q:bigint>>")
    pools
      .select(col("query_id"), col("pool"),
        posexplode(aggregate(rounds, noPicks, (picks, _) => greedyStep(picks))))
      .select(col("query_id"), (col("pos") + 1).as("mmr_rank"),
        col("pool")(col("col.i")).as("c"), col("col.max_sel_q").as("max_sel_q"))
      .select(col("query_id"), col("mmr_rank"), col("c.vec_id"), col("c.cosine"),
        col("c.rel_q"), col("max_sel_q"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** DuckDB mirror of [[mmrRerank]]: the q37 brute-force candidate CTE
    * (rank ≤ cand), the quantized candidate-pair cosine frame, and the k
    * greedy rounds unrolled as MATERIALIZED CTE chains (the q182 unroll
    * pattern) — per round an anti-join against the selected set, a
    * max-over-selected diversity term, and a per-query argmax pick. */
  def mmrRerankSql(nQueries: Int = 8, cand: Int = 16, k: Int = 5,
                   lambdaTenths: Int = 7): String = {
    def cosSql(a: String, b: String): String =
      s"round(list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    val mu = 10 - lambdaTenths
    val rounds = (2 to k).map { r =>
      val prev = s"sel${r - 1}"
      s"""rem$r AS (
         |  SELECT c.* FROM cands c
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)),
         |md$r AS (
         |  SELECT c.query_id, c.vec_id, max(p.sim_q) AS max_sel_q
         |  FROM rem$r c
         |  JOIN $prev s ON s.query_id = c.query_id
         |  JOIN pairs p ON p.query_id = c.query_id
         |   AND p.a_id = c.vec_id AND p.b_id = s.vec_id
         |  GROUP BY 1, 2),
         |pick$r AS MATERIALIZED (
         |  SELECT query_id, vec_id, cosine, rel_q, max_sel_q, $r AS mmr_rank
         |  FROM (
         |    SELECT c.query_id, c.vec_id, c.cosine, c.rel_q, m.max_sel_q,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY c.rel_q * $lambdaTenths - m.max_sel_q * $mu DESC,
         |                 c.vec_id) AS rn
         |    FROM rem$r c JOIN md$r m
         |      ON m.query_id = c.query_id AND m.vec_id = c.vec_id)
         |  WHERE rn = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb
       |      WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${cosSql("q.qvec", "e.vec")} AS cosine
       |  FROM emb e JOIN q ON e.vec_id <> q.query_id),
       |cands AS MATERIALIZED (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(round(cosine * 1000000.0, 0) AS BIGINT) AS rel_q
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $cand),
       |pairs AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(round(${cosSql("ea.vec", "eb.vec")} * 1000000.0, 0)
       |      AS BIGINT) AS sim_q
       |  FROM cands a JOIN cands b ON a.query_id = b.query_id
       |    AND a.vec_id <> b.vec_id
       |  JOIN emb ea ON ea.vec_id = a.vec_id
       |  JOIN emb eb ON eb.vec_id = b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, vec_id, cosine, rel_q,
       |    CAST(0 AS BIGINT) AS max_sel_q, 1 AS mmr_rank
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel_q * $lambdaTenths DESC, vec_id) AS rn
       |    FROM cands)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, mmr_rank, vec_id, cosine, rel_q, max_sel_q
       |FROM sel$k ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** q225: truncated-dimension (Matryoshka-style) retrieval recall — the
    * eval a pipeline runs before committing to a cheaper index: if ANN
    * candidates are generated from only the first d dimensions (MRL
    * embeddings, Kusupati et al. 2022, are trained to make prefixes
    * meaningful; PQ/SQ8 compression asks the same question), what fraction
    * of the true full-dimension top-k does each prefix width recover?
    *
    * One scored pass computes the full-dim cosine AND every prefix cosine
    * per (query, candidate) — the d-sweep adds columns, not corpus passes.
    * The q151 kernel: broadcast nEval query vectors against the corpus,
    * per-query rank windows (one exchange on query_id, one sort per
    * ordering), then a single global aggregate counts top-k overlaps.
    * recall@k(d) = |prefix-top-k ∩ full-top-k| / |full-top-k slots|.
    *
    * Portability: cosines ride the native [[graft.functions.VectorExpressions
    * .cosineSim]] rounded to 6 places (the q151 contract, proven bit-equal
    * to DuckDB's list_dot_product form); prefix slices preserve fold order,
    * so the same proof covers every d; ranks tie-break on vec_id; the
    * recall is one integer ratio cast once. */
  def truncatedDimRecall(t: Tables, nEval: Int = 64, k: Int = 10,
      dims: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    import graft.functions.VectorExpressions.cosineSim
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val train = emb.filter(col("vec_id") >= nEval)
    val scored = train
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id"),
        round(cosineSim(col("qemb"), col("embedding")), 6).as("cos_full")) ++
        dims.map(d => round(cosineSim(
          slice(col("qemb"), 1, d), slice(col("embedding"), 1, d)), 6)
          .as(s"cos_$d")): _*)
    def rnk(c: String) = row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col(c).desc, col("vec_id")))
    val ranked = scored.select(Seq(col("query_id"), col("vec_id"),
      rnk("cos_full").as("r_full")) ++
      dims.map(d => rnk(s"cos_$d").as(s"r_$d")): _*)
    val hits = ranked.agg(
      sum(when(col("r_full") <= k, 1L).otherwise(0L)).as("total"),
      dims.map(d => sum(when(col("r_full") <= k && col(s"r_$d") <= k, 1L)
        .otherwise(0L)).as(s"h_$d")): _*)
    hits
      .select(col("total"),
        explode(array(dims.map(d => struct(lit(d).as("dim"),
          col(s"h_$d").as("n_hits"))): _*)).as("kv"))
      .select(col("kv.dim").as("dim"), col("total").as("n_slots"),
        col("kv.n_hits").as("n_hits"),
        (col("kv.n_hits").cast("double") / col("total").cast("double"))
          .as("recall"))
      .orderBy(col("dim"))
  }

  /** The DuckDB mirror of [[truncatedDimRecall]]. */
  def truncatedDimRecallSql(nEval: Int = 64, k: Int = 10,
      dims: Seq[Int] = Seq(4, 8, 16, 32)): String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))" +
        s" * sqrt(list_dot_product($b, $b))), 6)"
    val cosCols = dims.map(d =>
      s"   ${cos(s"qvec[1:$d]", s"vec[1:$d]")} AS cos_$d").mkString(",\n")
    val rnkCols = dims.map(d =>
      s"   row_number() OVER (PARTITION BY query_id ORDER BY cos_$d DESC," +
        s" vec_id) AS r_$d").mkString(",\n")
    val hitCols = dims.map(d =>
      s"   CAST(sum(CASE WHEN r_full <= $k AND r_$d <= $k THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS h_$d").mkString(",\n")
    val pick = dims.init.map(d => s"WHEN ${d} THEN h_$d").mkString(" ")
    val caseHits = s"CASE v.dim $pick ELSE h_${dims.last} END"
    val valuesRows = dims.map(d => s"($d)").mkString(", ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |queries AS (
       |  SELECT vec_id AS query_id, vec AS qvec FROM emb
       |  WHERE vec_id < $nEval),
       |scored AS (
       |  SELECT query_id, vec_id,
       |   ${cos("qvec", "vec")} AS cos_full,
       |$cosCols
       |  FROM emb CROSS JOIN queries WHERE vec_id >= $nEval),
       |ranked AS (
       |  SELECT query_id, vec_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY cos_full DESC,
       |     vec_id) AS r_full,
       |$rnkCols
       |  FROM scored),
       |hits AS (
       |  SELECT
       |   CAST(sum(CASE WHEN r_full <= $k THEN 1 ELSE 0 END) AS BIGINT)
       |     AS total,
       |$hitCols
       |  FROM ranked)
       |SELECT v.dim AS dim, total AS n_slots,
       | $caseHits AS n_hits,
       | CAST($caseHits AS DOUBLE) / CAST(total AS DOUBLE) AS recall
       |FROM hits CROSS JOIN (VALUES $valuesRows) AS v(dim)
       |ORDER BY v.dim""".stripMargin
  }

  /** q228: per-dimension label-separability sweep — a one-way ANOVA F
    * statistic of `label` on every embedding dimension (the Fisher-score
    * feature audit): which dimensions actually carry class signal? The
    * embedding-QA complement of q225's prefix-recall — q225 asks "do the
    * leading dims retrieve like the full vector", this asks "which dims
    * discriminate the labels at all" (the ranking a feature-selection or
    * dimension-pruning pass consumes).
    *
    * The q166 ANOVA kernel applied per dimension: one exploded aggregate
    * to (dim × label) moment rows — the only corpus-sized pass — then the
    * SSB/SSW decomposition on that bounded frame, every sum riding the
    * order-independent decimal `dsum` so DuckDB replays bit-for-bit.
    * At 100 TB the shuffle is (dim·k) rows of three numbers — centroid-
    * sized, never data-sized. */
  def labelAnovaPerDim(t: Tables): DataFrame = {
    import graft.functions.ExactAgg.dsum
    val ex = t.embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"), col("label"), col("x").cast("double").as("v"))
    val g = ex.groupBy(col("i"), col("label"))
      .agg(count(lit(1)).as("n_g"), dsum(col("v")).as("s_g"),
        dsum(col("v") * col("v")).as("q_g"))
    val tot = g.groupBy(col("i"))
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
        dsum(col("s_g")).as("s"))
    val ssb = col("cm") - col("s") * col("s") / col("n")
    val ssw = col("q") - col("cm")
    g.join(tot, "i")
      .select(col("i"), col("n"), col("k"), col("s"), col("q_g"),
        (col("s_g") * col("s_g") / col("n_g")).as("cm_g"))
      .groupBy(col("i"))
      .agg(first(col("n")).as("n"), first(col("k")).as("k"),
        first(col("s")).as("s"),
        dsum(col("cm_g")).as("cm"), dsum(col("q_g")).as("q"))
      .select(col("i"), col("n"), col("k"),
        round(ssb, 6).as("ssb"), round(ssw, 6).as("ssw"),
        round((ssb / (col("k") - 1)) / (ssw / (col("n") - col("k"))), 6)
          .as("f_stat"))
      .orderBy(col("i"))
  }

  /** The DuckDB mirror of [[labelAnovaPerDim]]. */
  def labelAnovaPerDimSql(): String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH ex AS (
       |  SELECT CAST(u.i AS INTEGER) - 1 AS i, label,
       |   CAST(embedding[u.i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
       |g AS (
       |  SELECT i, label, count(*) AS n_g,
       |   ${O.dsum("v")} AS s_g, ${O.dsum("v * v")} AS q_g
       |  FROM ex GROUP BY 1, 2),
       |tot AS (
       |  SELECT i, CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
       |   ${O.dsum("s_g")} AS s
       |  FROM g GROUP BY 1),
       |f AS (
       |  SELECT g.i, tot.n, tot.k, tot.s, g.q_g,
       |   s_g * s_g / n_g AS cm_g
       |  FROM g JOIN tot ON g.i = tot.i),
       |parts AS (
       |  SELECT i, any_value(n) AS n, any_value(k) AS k, any_value(s) AS s,
       |   ${O.dsum("cm_g")} AS cm, ${O.dsum("q_g")} AS q
       |  FROM f GROUP BY 1)
       |SELECT i, n, k,
       | round(cm - s * s / n, 6) AS ssb,
       | round(q - cm, 6) AS ssw,
       | round(((cm - s * s / n) / (k - 1))
       |   / ((q - cm) / (n - k)), 6) AS f_stat
       |FROM parts ORDER BY i""".stripMargin
  }
}

package graft.ext

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over `documents`:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup groups on a 128-bit content hash, never the raw text, so
  *    the shuffle carries 16-byte keys instead of documents;
  *  - MinHash signatures are computed per-row (narrow); only the banded
  *    signature hash is shuffled, and candidate pairs come from a self-join
  *    on (band, bucket) — the classic shingle→minhash→band→bucket-join plan
  *    whose cost is O(docs·bands) shuffle rows rather than O(docs²) pairs.
  *    Oversized buckets (degenerate content — web boilerplate, empty docs)
  *    are split by deterministic salting ([[saltedBuckets]], cap
  *    [[DefaultBucketCap]]): a bucket of n > cap members becomes
  *    ⌈n/cap⌉ salted sub-buckets, bounding per-bucket join work at
  *    O(n·cap) pairs instead of O(n²). Buckets at or under the cap get a
  *    single salt value, so non-degenerate corpora are byte-identical to
  *    the unsalted plan. The salt hash is the portable non-linear
  *    [[Sampling.splitHash]], so the DuckDB oracle replays capping exactly;
  *  - SimHash is a single narrow projection producing a 64-bit fingerprint;
  *    near-dup candidates are found by banding the fingerprint bytes.
  * Every sketch hash is [[graft.functions.PortableHash]]'s polynomial
  * fold: deterministic across runs, and replayed exactly by the DuckDB
  * oracle ([[graft.SketchOracleSql]]).
  */
object Dedup {

  /** Exact dedup: one row per distinct text, keeping the lowest doc_id as
    * canonical (hash-groupBy). */
  def exact(t: Tables): DataFrame =
    t.documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_doc_id"))

  /** Word k-shingles of the document (contiguous k-grams joined by a single
    * space); documents shorter than k tokens contribute their whole token
    * string as one shingle. Composable reference form — hot paths use the
    * native twin [[graft.functions.WordShingles]] (parity asserted). */
  def shingles(text: Column, k: Int = 3): Column = {
    val tks = TextAnalysis.tokens(text)
    when(size(tks) < k, array(array_join(tks, " ")))
      .otherwise(
        transform(
          sequence(lit(0), size(tks) - k),
          i => array_join(slice(tks, i + 1, lit(k)), " ")))
  }

  /** Native MinHash signature of the document's word 3-shingles — see
    * [[graft.functions.MinHashExpression]]. */
  private def nativeSig(t: Tables): Column = {
    graft.functions.MinHashExpression.register(t.spark)
    graft.functions.MinHashExpression.minhashSig(TextAnalysis.tokens(col("text")))
  }

  /** Portable fold of a long array into one 30-bit value — the signature
    * and band hash (same shape as
    * [[graft.functions.PortableHash.foldLongsSql]]). */
  private def foldLongs(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => pmod(acc * lit(131L) + x, lit(1000000007L)))

  /** Per-document MinHash signature summary: always non-empty, used as the
    * verifiable surface of the MinHash path (signatures are deterministic). */
  def minhashSignatures(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), nativeSig(t).as("sig"))
      .select(
        col("doc_id"),
        foldLongs(col("sig")).as("sig_hash"),
        element_at(col("sig"), 1).as("minhash_0"),
        element_at(col("sig"), 32).as("minhash_31"))
      .orderBy(col("doc_id"))

  /** LSH banding: 8 bands × 4 rows. Emits (band_id, bucket, doc_id) — the
    * only thing that ever shuffles in the MinHash plan. Each band slice is
    * folded with [[foldLongs]] (band_id enters the fold seed so equal
    * slices in different bands stay distinct). */
  def lshBuckets(t: Tables, bands: Int = 8): DataFrame =
    t.documents
      .select(col("doc_id"), nativeSig(t).as("sig"))
      .select(col("doc_id"), posexplode(bandedBuckets(col("sig"), bands)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
      .select(col("band_id"), col("bucket"), col("doc_id"))

  /** Max members per (band, bucket) before deterministic salting splits the
    * bucket. 64 keeps the worst-case per-bucket pair count at
    * `⌈n/64⌉ · C(64,2) ≈ 32·n` — linear in bucket size — while leaving
    * every non-degenerate bucket (web corpora bucket sizes are almost
    * always single digits) untouched. */
  val DefaultBucketCap = 64

  /** Split oversized buckets into `⌈n/cap⌉` deterministic salted
    * sub-buckets. `keys` are the bucket-identity columns; `id` is the
    * per-row column the salt is hashed from. Buckets with ≤ cap members get
    * nSalts = 1, i.e. salt 0 for every member — identical join behavior to
    * the unsalted plan. The salt hash is [[Sampling.splitHash]]
    * (non-linear: sequential ids — exactly what degenerate near-identical
    * docs carry — spread uniformly; a linear hash strides). Cost: one
    * aggregate + one join on the bucket keys, the same key the candidate
    * self-join shuffles on anyway.
    *
    * Capping trades recall inside degenerate buckets (pairs across salt
    * boundaries are not emitted) for bounded work — the standard web-scale
    * dedup contract: a 10M-copy boilerplate bucket yields O(cap·n) candidate
    * pairs, not O(n²). An `observe` metric (`lsh_bucket_cap_<id>`) reports
    * rows in oversized buckets and the max bucket size per run. */
  def saltedBuckets(b: DataFrame, keys: Seq[String], id: String,
                    cap: Int = DefaultBucketCap): DataFrame = {
    val sizes = b.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
    b.join(sizes, keys)
      .withColumn("n_salts", expr(s"(bucket_n + ${cap - 1}) div $cap"))
      .withColumn("salt", pmod(Sampling.splitHash(col(id)), col("n_salts")))
      .observe(s"lsh_bucket_cap_$id",
        sum(when(col("bucket_n") > cap, lit(1L)).otherwise(lit(0L)))
          .as("rows_in_oversized_buckets"),
        max(col("bucket_n")).as("max_bucket_size"))
      .drop("bucket_n", "n_salts")
  }

  /** MinHash+LSH near-dup candidate pairs with exact Jaccard verification.
    * Self-join on (band, bucket, salt) yields candidates; token-shingle
    * Jaccard rejects false positives. `minJaccard` is the acceptance
    * threshold; `cap` bounds degenerate buckets via [[saltedBuckets]]. */
  /** The persisted LSH candidate index — salted bucket table, candidate
    * pair list and candidate shingle sets as catalog tables (the
    * [[graft.sources.ArtifactTables]] discipline, the same move that took
    * the SA family off in-memory checkpoints; [[writeLshIndex]] is the
    * serving-path sibling): rebuilt on a session's first touch or when
    * the corpus identity changes, read by every query between rebuilds,
    * and pinning NO checkpoint blocks in a long-lived JVM — the on-disk
    * index IS the cache. Derived tables are built from reading back the
    * earlier ones, so the corpus is scanned once per rebuild. Contract: a
    * fixture dir is write-once within a session (all specs use fresh temp
    * dirs). */
  private def lshCandidateArtifacts(
      t: Tables, cap: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.ArtifactTables
    val spark = t.spark
    val ident = Seq(t.dir, s"cap=$cap")
    val prefix = s"graft_lshcand_${ArtifactTables.tag(ident: _*)}"
    val names = Seq(s"${prefix}_buckets", s"${prefix}_cands",
      s"${prefix}_shingles")
    ArtifactTables.ensure(spark, prefix, names, ident.mkString("|")) {
      // the signature pass feeds the size aggregate AND the salted join —
      // checkpointed for the build only, freed with the frame
      saltedBuckets(
        lshBuckets(t).localCheckpoint(),
        Seq("band_id", "bucket"), "doc_id", cap)
        .write.format("parquet").option("compression", "zstd")
        .bucketBy(8, "band_id", "bucket")
        .saveAsTable(names.head)
      val b = spark.table(names.head)
      b.as("l")
        .join(b.as("r"), Seq("band_id", "bucket", "salt"))
        .filter(col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
        .write.format("parquet").option("compression", "zstd")
        .saveAsTable(names(1))
      // shingle sets only for docs that appear in candidate pairs — the
      // verify side would otherwise build shingles over the whole corpus
      // for a handful of pairs; the native WordShingles expression replaces
      // the interpreted-HOF builder (same strings, asserted in tests)
      graft.functions.ShingleExpression.register(spark)
      val candIds = spark.table(names(1))
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      t.documents
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_distinct(
          graft.functions.ShingleExpression.wordShingles(
            TextAnalysis.tokens(col("text")))).as("sh"))
        .write.format("parquet").option("compression", "zstd")
        .bucketBy(8, "doc_id")
        .saveAsTable(names(2))
    }
    (spark.table(names.head), spark.table(names(1)), spark.table(names(2)))
  }

  private[ext] def minhashDupPairsUnsorted(t: Tables, minJaccard: Double = 0.5,
                                      cap: Int = DefaultBucketCap): DataFrame = {
    val (_, candidates, docs) = lshCandidateArtifacts(t, cap)
    candidates
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(
        col("doc_a"),
        col("doc_b"),
        round(
          size(array_intersect(col("da.sh"), col("db.sh"))).cast("double") /
            size(array_union(col("da.sh"), col("db.sh"))),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[minhashDupPairsUnsorted]] plus the presentation sort — the q34 query
    * surface. Internal consumers ([[dupClusters]]) take the unsorted edge
    * set: a global range sort feeding a shuffling consumer is pure waste. */
  def minhashDupPairs(t: Tables, minJaccard: Double = 0.5,
                      cap: Int = DefaultBucketCap): DataFrame =
    minhashDupPairsUnsorted(t, minJaccard, cap)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Per-document SimHash fingerprints (hex) with a 16-bit band prefix used
    * for near-dup bucketing — the native
    * [[graft.functions.SimHashExpression]] kernel. */
  def simhashFingerprints(t: Tables): DataFrame = {
    graft.functions.SimHashExpression.register(t.spark)
    t.documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tks"))
      .select(col("doc_id"),
        graft.functions.SimHashExpression.simhash(col("tks")).as("simhash"))
      .select(
        col("doc_id"),
        col("simhash"),
        lower(hex(col("simhash"))).as("simhash_hex"),
        shiftrightunsigned(col("simhash"), 48).as("band_hi16"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-duplicate pairs: SRP-LSH buckets over the WHOLE
    * corpus (not a query subset), self-join on (band, bucket), exact cosine
    * re-rank via the native [[graft.functions.VectorExpressions]] kernel,
    * keep pairs ≥ `minCosine`. The LSH candidate set keeps the pair count
    * near-linear in corpus size; recall < 1 by construction (approximate
    * dedup contract, like MinHash). */
  def embeddingNearDups(t: Tables, minCosine: Double = 0.3,
                        cap: Int = DefaultBucketCap): DataFrame = {
    graft.functions.VectorExpressions.register(t.spark)
    // 2 bands x 8 bits: near-identical vectors still share all bands, while
    // 256-way buckets keep random-pair collisions (and the candidate-pair
    // volume) ~16x lower than 4x4 banding
    val bands = 2
    val bandBits = 8
    val emb = t.embeddings
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("vec"), Similarity.srpSignature(col("vec")).as("sig"))
    val banded = saltedBuckets(
      emb
        .select(
          col("vec_id"),
          col("vec"),
          posexplode(array((0 until bands).map(b =>
            shiftrightunsigned(col("sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
        .withColumnRenamed("pos", "band_id")
        .withColumnRenamed("col", "bucket")
        .localCheckpoint(), // SRP signatures computed once for both join sides
      Seq("band_id", "bucket"), "vec_id", cap)
      .localCheckpoint() // and the salting itself computed once
    // Cosine is computed IN the join projection and the threshold filter
    // runs BEFORE the pair dedup, so the only shuffle that scales with the
    // candidate-pair count (quadratic in duplicate-cluster size) carries
    // 24-byte (id, id, double) rows — not the two ~KB vectors. A pair
    // surfaced by both bands recomputes one dot product (codegen'd, cheap)
    // instead of shuffling its vectors twice: at the sf1 dup-density
    // stress this cut q41's peak task memory 1073 MB → ~250 MB class.
    // The result is identical: cosine is a pure function of the pair, so
    // every band-duplicate row dedupes to the same value.
    banded
      .as("l")
      .join(
        banded.as("r"),
        col("l.band_id") === col("r.band_id") && col("l.bucket") === col("r.bucket") &&
          col("l.salt") === col("r.salt") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("vec_a"),
        col("r.vec_id").as("vec_b"),
        round(graft.functions.VectorExpressions.cosineSim(col("l.vec"), col("r.vec")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .dropDuplicates("vec_a", "vec_b")
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Connected components by iterative min-label propagation: every node's
    * label converges to the smallest node id reachable from it. Each round
    * is one shuffle (edges ⋈ labels, grouped on the destination); rounds
    * needed = component diameter. Near-dup clusters have tiny diameters (a
    * dup of a dup of a dup), so this converges in a handful of rounds; for
    * adversarial diameters (long chains) the upgrade path is alternating
    * large-star/small-star (Kiveris et al., SoCC'14), which converges in
    * O(log n) rounds over the same edge representation.
    *
    * The per-round driver action is the convergence check only (a count —
    * the same pattern as Pregel supersteps); labels are localCheckpoint'd
    * each round to truncate the growing lineage, which at cluster scale is
    * a persisted-table checkpoint between iterations.
    *
    * `nodes` = one column `id`; `edges` = (`src`, `dst`), treated as
    * undirected. Output: (id, component) with component = min reachable id. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // reused every round
    var labels = nodes.select(col("id"), col("id").as("component")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neighborMin = undirected
        .join(labels, undirected("src") === labels("id"))
        .groupBy(col("dst"))
        .agg(min(col("component")).as("nbr_min"))
      val next = labels.as("p")
        .join(neighborMin, col("p.id") === neighborMin("dst"), "left")
        .select(col("p.id").as("id"),
          least(col("p.component"), coalesce(col("nbr_min"), col("p.component")))
            .as("component"))
        .localCheckpoint()
      changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.component") =!= col("p.component"))
        .count()
      labels = next
      iter += 1
    }
    labels
  }

  /** Connected components by alternating large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * converges in O(log n) rounds regardless of component DIAMETER, where
    * [[connectedComponents]]' min-label propagation needs diameter rounds —
    * the difference between 10 and 10,000 shuffles on an adversarial chain.
    * Each round is two WINDOW phases over the current edge set (one
    * shuffle each — the neighborhood minimum rides a window over the
    * grouping key instead of a groupBy re-joined to its own input):
    *
    *  - large-star: every node's LARGER neighbors re-attach to the minimum
    *    of its neighborhood (strictly decreases large edges);
    *  - small-star: every node and its SMALLER neighbors re-attach to that
    *    minimum (flattens the stars).
    *
    * At convergence every non-minimum node carries exactly one edge to its
    * component minimum. Convergence is detected by an (count, checksum)
    * fingerprint of the canonical edge set — at cluster scale that is two
    * scalar aggregates per round, no set comparison.
    */
  def connectedComponentsStar(nodes: DataFrame, edges0: DataFrame,
                              maxIters: Int = 30,
                              edgesCanonical: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order-independent set fingerprint over a hash of each edge — a
    // plain linear checksum (sum of u*13+v) collides between edge sets
    // like {(1,4),(2,3)} and {(1,3),(2,4)}, which would stop the loop on
    // a non-star edge set. Per-edge hashes are folded to 40 bits so the
    // ANSI-mode sum stays exact up to 2^23 edges (wrap past that would
    // only weaken, not break, the convergence check — count still guards).
    // The aggregates ride an observe() on the per-round checkpoint, so
    // convergence detection costs ZERO extra jobs — the metrics are
    // collected by the materialization that has to happen anyway.
    def fingerprinted(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = new org.apache.spark.sql.Observation(
        s"graft_cc_${System.nanoTime()}")
      val checkpointed = e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1L << 40))), lit(0L)).as("s"))
        .localCheckpoint()
      (checkpointed,
        (obs.get("n").asInstanceOf[Long], obs.get("s").asInstanceOf[Long]))
    }

    // edgesCanonical: caller guarantees src < dst with no duplicates (the
    // minhashDupPairs contract) — the canonicalizing distinct is then a
    // pure extra exchange and is skipped
    val canonical =
      if (edgesCanonical) edges0.select(col("src").as("u"), col("dst").as("v"))
      else edges0
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
        .distinct()
    var (edges, fp) = fingerprinted(canonical)

    val wA = Window.partitionBy(col("a"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // LARGE-STAR over both directions: m(a) = min(Γ(a) ∪ {a}); each
      // larger neighbor b > a re-attaches as edge (m(a), b). One window
      // pass — a single shuffle on a — where a groupBy+join would shuffle
      // the directed edges twice and recompute them on each side.
      val dir = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      // no distinct here: duplicate rows cannot change the small-star
      // window minima, the round's closing distinct canonicalizes, and at
      // the fixpoint large-star emits exactly one copy per star edge — so
      // the fingerprint is still stable and one exchange per round is saved
      val afterLarge = dir
        .withColumn("m", least(col("a"), min(col("b")).over(wA)))
        .filter(col("b") > col("a") && col("b") =!= col("m"))
        .select(least(col("m"), col("b")).as("u"), greatest(col("m"), col("b")).as("v"))

      // SMALL-STAR over the larger→smaller direction: for each a with
      // smaller neighbors S, all of S ∪ {a} except the minimum re-attach
      // to the minimum. Same single-window shape; the duplicate self-edges
      // it emits (one per (a, b) row instead of one per a) collapse in the
      // final distinct.
      val dirS = afterLarge.select(col("v").as("a"), col("u").as("b")) // b < a
      val withMs = dirS.withColumn("m", min(col("b")).over(wA))
      val next = withMs.filter(col("b") =!= col("m"))
        .select(col("m").as("u"), col("b").as("v"))
        .union(withMs.select(col("m").as("u"), col("a").as("v")))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()

      val (nextEdges, nextFp) = fingerprinted(next)
      converged = nextFp == fp
      fp = nextFp
      edges = nextEdges
      iter += 1
    }

    // at convergence edges are (componentMin, member) stars; the min-
    // aggregate guarantees ONE row per node even if maxIters exhausted
    // before a perfect fixpoint (a node then takes its smallest attachment)
    nodes.as("n")
      .join(edges, col("n.id") === col("v"), "left")
      .select(col("n.id").as("id"), coalesce(col("u"), col("n.id")).as("component"))
      .groupBy(col("id"))
      .agg(min(col("component")).as("component"))
  }

  /** Transitive closure of the near-dup relation: clusters over the
    * [[minhashDupPairs]] edge set. A dedup pipeline needs this step — pair
    * lists alone under-delete (A~B and B~C must collapse to ONE canonical
    * doc even when A~C was never emitted as a pair). Every document gets
    * the smallest doc_id of its cluster as `cluster_id` (the canonical
    * representative) plus the cluster size; singletons keep their own id.
    *
    * Production closure is [[connectedComponentsStar]]: near-dup graphs are
    * usually shallow (where min-label propagation is equally cheap), but
    * the O(log n)-round star algorithm costs the same there AND removes the
    * adversarial long-chain case entirely — no reason to keep diameter
    * exposure on the default path. [[connectedComponents]] remains the
    * semantic reference (equality asserted across random graphs in
    * DedupSpec). */
  def dupClusters(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashDupPairsUnsorted(t, minJaccard)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = connectedComponentsStar(
      t.documents.select(col("doc_id").as("id")), pairs,
      edgesCanonical = true) // minhashDupPairs emits doc_a < doc_b, distinct
    labels
      // window count, not groupBy+re-join: one shuffle on component
      // instead of two, and the labels frame is read once
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q191: duplication-factor PROFILE — the distribution of near-dup
    * cluster sizes: for each size, how many clusters, how many documents
    * they hold, what share of the corpus that is, and how many documents a
    * keep-one policy would delete. This is the one-page answer to "how
    * duplicated is this corpus" that decides whether dedup is worth a
    * pipeline stage at all (a profile dominated by size 1 says no; a fat
    * tail says the q68/q160 deletion step pays for itself) — and the
    * before/after artifact a dedup run publishes.
    *
    * Scale shape: [[dupClusters]]' capped LSH + CC work, then one
    * cluster-keyed aggregate and a size-keyed roll-up whose cardinality is
    * the number of DISTINCT sizes (≪ corpus), with a broadcast 1-row total
    * for the share column. */
  def duplicationProfile(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    val clusters = dupClusters(t, minJaccard)
    val tot = t.documents.agg(count(lit(1)).as("n_docs_total"))
    clusters
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(count(lit(1)).as("n")) // one row per cluster
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_removable"),
        round(col("n_docs").cast("double") / col("n_docs_total"), 6)
          .as("pct_docs"))
      .orderBy(col("cluster_size"))
  }

  /** q205: cluster source-PURITY audit — for each near-dup cluster
    * ([[dupClusters]]' closure), how concentrated is its membership by
    * source? Per cluster-size band it reports how many clusters exist,
    * how many span MULTIPLE sources, the largest source fan-out, and the
    * mean Herfindahl–Hirschman index (HHI = Σ_s share_s², 1 = pure, 1/S =
    * evenly split). This is the question that decides a 100 TB dedup
    * TOPOLOGY: if clusters are intra-source (HHI ≈ 1), dedup can run
    * partition-local per source with no global shuffle; cross-source
    * clusters are the certificate that the q68-style global pass is
    * actually required. It is also the mirror-site/syndication detector —
    * the same article on many sources shows up exactly here.
    *
    * Exactness: per-cluster HHI is one IEEE division of exact BIGINTs
    * (Σc², n²); the band mean runs through [[graft.functions.ExactAgg
    * .davg]].
    *
    * Scale shape: [[dupClusters]]' capped LSH + CC work dominates; the
    * purity roll-up is two aggregates over the label frame (cluster- then
    * band-keyed), both corpus-linear and map-side combinable. */
  def clusterPurity(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    val cl = dupClusters(t, minJaccard)
    val perCluster = cl
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"), col("cluster_size"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(sum(col("c") * col("c")).as("sum_c2"),
        count(lit(1)).as("n_sources"))
      .select(col("cluster_size"), col("n_sources"),
        (col("sum_c2").cast("double") /
          (col("cluster_size") * col("cluster_size")).cast("double"))
          .as("hhi"))
    perCluster.groupBy(col("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum((col("n_sources") > 1).cast("long")).as("n_cross_source"),
        max(col("n_sources")).as("max_sources"),
        graft.functions.ExactAgg.davg(col("hhi")).as("avg_hhi"))
      .orderBy(col("cluster_size"))
  }

  /** q194: contamination-SAFE eval sampling — the APPLY step of q186's
    * leakage audit: draw a deterministic k-per-split eval sample from the
    * non-train documents that have NO near-duplicate in train. This is
    * how an eval set is actually cut after the audit finds leakage —
    * exclude the leaked docs, then sample uniformly (portable hash
    * order, so the chosen set is layout- and growth-stable, the q114
    * discipline) instead of shipping eval items the model effectively
    * trained on.
    *
    * Scale shape: the leaked set is pair-frame-sized (anti-joined once);
    * sampling is the bounded-heap k-per-group kernel — the shuffle
    * carries ≤ k rows per (split, partition) and no sort ever sees the
    * corpus. */
  def cleanEvalSample(t: Tables, k: Int = 16,
                      minJaccard: Double = 0.2): DataFrame = {
    import graft.ext.Sampling.{splitColumn, splitHash}
    graft.functions.TopKAgg.register(t.spark)
    val pairs = minhashDupPairsUnsorted(t, minJaccard)
    val leaked = pairs
      .select(explode(array(
        struct(col("doc_a").as("d"), col("doc_b").as("o")),
        struct(col("doc_b").as("d"), col("doc_a").as("o")))).as("p"))
      .filter(splitColumn(col("p.d")) =!= "train" &&
        splitColumn(col("p.o")) === "train")
      .select(col("p.d").as("doc_id"))
      .distinct()
    t.documents
      .filter(splitColumn(col("doc_id")) =!= "train")
      .join(leaked, Seq("doc_id"), "left_anti")
      .groupBy(splitColumn(col("doc_id")).as("split"))
      .agg(graft.functions.TopKAgg
        .topKBy(-splitHash(col("doc_id")), col("doc_id"), k).as("keep"))
      .select(col("split"), posexplode(col("keep")))
      .select(col("split"), (col("pos") + 1).cast("int").as("pick"),
        col("col.payload").as("doc_id"))
      .orderBy(col("split"), col("pick"))
  }

  /** q68: the deletion step a dedup pipeline actually ships — keep ONE
    * canonical document per near-dup cluster (the minimum doc_id,
    * [[dupClusters]]' representative), drop the rest. `n_dropped` records
    * what the canonical row absorbed, the number every dedup report
    * publishes. The filter is cluster_id == doc_id — no extra shuffle
    * beyond the clustering itself. */
  def dedupedCorpus(t: Tables, minJaccard: Double = 0.2): DataFrame =
    dupClusters(t, minJaccard)
      .filter(col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("doc_id"))

  /** q160: QUALITY-RANKED canonical selection — q68 keeps the min-id
    * member of each near-dup cluster (cheap, arbitrary); production dedup
    * keeps the BEST copy (near-dups differ: one is truncated, one carries
    * boilerplate — "longest member" is the standard most-complete-version
    * rule, with min doc_id only as the tiebreak). One broadcast-free join
    * of the cluster labels back to the documents' `n_chars` (both sides
    * already keyed by doc_id) and a row_number pick per cluster — the
    * selection adds one exchange on cluster_id to the clustering itself,
    * independent of the ranking rule's complexity. */
  def dedupKeepBest(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = dupClusters(t, minJaccard)
      .join(t.documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
    ranked
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("n_chars").as("kept_n_chars"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** q169: precision/recall evaluation of the banded-LSH candidate stage
    * against exact shingle-Jaccard truth — the measurement every dedup
    * deployment owes its corpus before trusting the bands (are the
    * band/row/salt choices recalling the real near-dups, and how much
    * junk do they propose?). Truth is restricted to pairs with an
    * endpoint in a FIXED `sliceN`-document slice, so truth work is
    * slice × corpus — linear in the corpus at any scale (the q37
    * nQueries pattern), while candidates are evaluated exactly where
    * they overlap that slice. Candidates here are PRE-verification
    * (banding + salting only): precision measures band selectivity,
    * recall measures band + salt-cap loss. */
  def dedupEval(t: Tables, tau: Double = 0.2, sliceN: Int = 64,
                cap: Int = DefaultBucketCap): DataFrame = {
    val (_, candidates, _) = lshCandidateArtifacts(t, cap)
    graft.functions.ShingleExpression.register(t.spark)
    val sets = t.documents.select(col("doc_id"), array_distinct(
      graft.functions.ShingleExpression.wordShingles(
        TextAnalysis.tokens(col("text")))).as("shset"))
    // Truth by POSTING-LIST join, never per-pair set intersection: a pair
    // with jaccard ≥ τ > 0 shares ≥ 1 shingle, so slice postings
    // (broadcast, slice-sized) ⋈ corpus postings finds every truth pair,
    // |A∩B| falls out of the (a, b) group count, and |A∪B| = |A|+|B|−|A∩B|
    // with the set sizes riding the explode (the q124 dl pattern). The
    // corpus is never joined all-pairs and never shuffled whole — only
    // postings that hit a slice shingle reach the pair aggregate.
    val slicePost = sets.filter(col("doc_id") < sliceN)
      .select(col("doc_id").as("doc_a"), size(col("shset")).as("n_a"),
        explode(col("shset")).as("s"))
    val corpusPost = sets
      .select(col("doc_id").as("doc_b"), size(col("shset")).as("n_b"),
        explode(col("shset")).as("s"))
    val truth = broadcast(slicePost)
      .join(corpusPost, Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .filter(round(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 6) >= tau)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // slice-pair-sized; read by hit join + count
    val pred = candidates.filter(col("doc_a") < sliceN)
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nP = pred.agg(count(lit(1)).as("n_candidates"))
    val nH = pred.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(nP).crossJoin(nH)
      .select(
        lit(tau).as("tau"), lit(sliceN).as("slice_n"),
        col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_candidates") > 0,
          round(col("n_hit").cast("double") / col("n_candidates"), 6))
          .as("precision"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 6))
          .as("recall"))
  }

  /** Incremental (cross-corpus) near-dup detection: candidate pairs
    * between an INCOMING document set and an EXISTING corpus — the
    * production dedup flow, where each new crawl is checked against the
    * reference corpus instead of re-clustering everything. The join is
    * incoming-buckets ⋈ existing-buckets on (band, bucket): never a self
    * join, and at steady state the existing side is a PERSISTED signature/
    * bucket table (the [[graft.ext.Similarity.ivfWriteIndex]] pattern), so
    * each increment costs O(incoming) signature work plus one shuffle of
    * the incoming buckets against the index. Bucket capping salts BOTH
    * sides with the shared hash, so a boilerplate bucket in either corpus
    * stays bounded while identical documents still collide (same salt
    * function ⇒ the cross join only loses cross-SALT recall inside
    * oversized buckets, the standard cap contract).
    *
    * `split` carves the two corpora out of the one documents table for the
    * gated query surface (existing = doc_id % split == 0, like the q62
    * decontamination benchmark subset); production calls pass two real
    * tables through the same body. Verification computes exact Jaccard on
    * the candidate pairs only. */
  def incrementalDupPairs(t: Tables, minJaccard: Double = 0.2, split: Int = 20,
                          cap: Int = DefaultBucketCap): DataFrame = {
    // salt over the UNION of both corpora, then split: both sides see the
    // same ⌈n/cap⌉ for a bucket, so the cross join partitions cleanly by
    // salt (per-side salting would strand incoming salts the existing side
    // never emits, losing whole salt classes instead of the documented
    // cross-salt recall inside oversized buckets)
    val salted = saltedBuckets(
      lshBuckets(t).localCheckpoint(),
      Seq("band_id", "bucket"), "doc_id", cap)
      .localCheckpoint()
    val existing = salted.filter(pmod(col("doc_id"), lit(split)) === 0)
    val incoming = salted.filter(pmod(col("doc_id"), lit(split)) =!= 0)
    val candidates = incoming.as("l")
      .join(existing.as("r"), Seq("band_id", "bucket", "salt"))
      .select(col("l.doc_id").as("doc_new"), col("r.doc_id").as("doc_existing"))
      .distinct()
      .localCheckpoint()
    graft.functions.ShingleExpression.register(t.spark)
    val candIds = candidates
      .select(explode(array(col("doc_new"), col("doc_existing"))).as("doc_id"))
      .distinct()
    val docs = t.documents
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(
        graft.functions.ShingleExpression.wordShingles(
          TextAnalysis.tokens(col("text")))).as("sh"))
      .localCheckpoint()
    candidates
      .join(docs.as("da"), col("doc_new") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_existing") === col("db.doc_id"))
      .select(
        col("doc_new"), col("doc_existing"),
        round(
          size(array_intersect(col("da.sh"), col("db.sh"))).cast("double") /
            size(array_union(col("da.sh"), col("db.sh"))),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("doc_new"), col("doc_existing"))
  }

  /** Persist the LSH index for [[incrementalDupPairsServed]]: the
    * (band, bucket, doc_id) assignments bucketed BY the join key — so the
    * serve-path join against incoming buckets is co-located (no shuffle of
    * the stored side) — plus the per-bucket sizes the joint salting needs.
    * `nBuckets` sizes the physical bucketing (≈ index rows / target
    * partition size at scale). */
  def writeLshIndex(t: Tables, prefix: String, nBuckets: Int = 8): Unit = {
    val b = lshBuckets(t)
    graft.sources.TableIO.dropTableAndLocation(t.spark, s"${prefix}_buckets")
    b.write.format("parquet").option("compression", "zstd")
      .bucketBy(nBuckets, "band_id", "bucket")
      .saveAsTable(s"${prefix}_buckets")
    graft.sources.TableIO.dropTableAndLocation(t.spark, s"${prefix}_sizes")
    b.groupBy(col("band_id"), col("bucket"))
      .agg(count(lit(1)).as("existing_n"))
      .write.format("parquet").option("compression", "zstd")
      .bucketBy(nBuckets, "band_id", "bucket")
      .saveAsTable(s"${prefix}_sizes")
  }

  /** The steady-state increment: candidate pairs between `incoming`
    * documents (doc_id, text) and a corpus indexed by [[writeLshIndex]] —
    * the existing side's SIGNATURES are never recomputed; only its bucket
    * rows co-located with the incoming buckets are read. Salting is joint
    * (stored sizes + incoming sizes per bucket), so both sides share each
    * bucket's ⌈n/cap⌉ split exactly like [[incrementalDupPairs]]' union
    * salting — and identical documents still collide (same salt hash).
    * Verification needs the candidate EXISTING docs' text: `corpus` is
    * the document table the index was built from (only candidate rows are
    * semi-joined out of it). */
  def incrementalDupPairsServed(incoming: DataFrame, corpus: DataFrame,
                                prefix: String, minJaccard: Double = 0.2,
                                cap: Int = DefaultBucketCap): DataFrame = {
    val spark = incoming.sparkSession
    graft.functions.MinHashExpression.register(spark)
    graft.functions.ShingleExpression.register(spark)
    val sig = graft.functions.MinHashExpression
      .minhashSig(TextAnalysis.tokens(col("text")))
    val incomingBuckets = incoming
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), posexplode(bandedBuckets(col("sig"))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
      .select(col("band_id"), col("bucket"), col("doc_id"))
      .localCheckpoint()
    // joint salting: n = stored + incoming members per bucket
    val jointSizes = spark.table(s"${prefix}_sizes")
      .join(incomingBuckets.groupBy(col("band_id"), col("bucket"))
          .agg(count(lit(1)).as("incoming_n")),
        Seq("band_id", "bucket"), "outer")
      .select(col("band_id"), col("bucket"),
        (coalesce(col("existing_n"), lit(0L)) + coalesce(col("incoming_n"), lit(0L)))
          .as("bucket_n"))
    def salt(side: DataFrame) = side
      .join(jointSizes, Seq("band_id", "bucket"))
      .withColumn("n_salts", expr(s"(bucket_n + ${cap - 1}) div $cap"))
      .withColumn("salt", pmod(Sampling.splitHash(col("doc_id")), col("n_salts")))
      .drop("bucket_n", "n_salts")
    val candidates = salt(incomingBuckets).as("l")
      .join(salt(spark.table(s"${prefix}_buckets")).as("r"),
        Seq("band_id", "bucket", "salt"))
      .select(col("l.doc_id").as("doc_new"), col("r.doc_id").as("doc_existing"))
      .distinct()
      .localCheckpoint()
    val shingleSet = array_distinct(
      graft.functions.ShingleExpression.wordShingles(TextAnalysis.tokens(col("text"))))
    val newDocs = incoming
      .join(candidates.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet.as("sh")).localCheckpoint()
    val oldDocs = corpus
      .join(candidates.select(col("doc_existing").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet.as("sh")).localCheckpoint()
    candidates
      .join(newDocs.as("da"), col("doc_new") === col("da.doc_id"))
      .join(oldDocs.as("db"), col("doc_existing") === col("db.doc_id"))
      .select(
        col("doc_new"), col("doc_existing"),
        round(
          size(array_intersect(col("da.sh"), col("db.sh"))).cast("double") /
            size(array_union(col("da.sh"), col("db.sh"))),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("doc_new"), col("doc_existing"))
  }

  /** Session-scoped build-once guard for [[incrementalDupPairsServedDemo]]'s
    * index tables (the [[graft.operators.Bucketed]] pattern). */
  private val servedIdxBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** q127: the CROSS-SESSION serve path driven end-to-end — the corpus
    * half (doc_id ≡ 0 mod `split`) is materialized as its own fixture
    * dir and indexed through [[writeLshIndex]] (bucketed physical index
    * tables, exactly the production rebuild job), then the incoming half
    * streams through [[incrementalDupPairsServed]] against that stored
    * index. Because the joint salting reconstructs the same
    * union-bucket sizes the in-session form computes directly, the
    * result is IDENTICAL to [[incrementalDupPairs]] on the same split —
    * so q99's DuckDB oracle replays this path too, and the index
    * round-trip (write → bucketed read → co-located join) is under the
    * hash gate, not just specs. */
  def incrementalDupPairsServedDemo(t: Tables, minJaccard: Double = 0.2, split: Int = 20,
                                    cap: Int = DefaultBucketCap): DataFrame = {
    val spark = t.spark
    val tag = ((t.dir, split).hashCode & 0x7fffffff).toHexString
    val prefix = s"graft_lshidx_$tag"
    val key = s"${System.identityHashCode(spark.sessionState)}:$prefix"
    val corpus = t.documents.filter(pmod(col("doc_id"), lit(split)) === 0)
    if (servedIdxBuilt.add(key) || !spark.catalog.tableExists(s"${prefix}_buckets")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_lsh_corpus").toString
      corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      writeLshIndex(Tables(spark, dir), prefix)
      servedIdxBuilt.add(key)
    }
    val incoming = t.documents.filter(pmod(col("doc_id"), lit(split)) =!= 0)
    incrementalDupPairsServed(incoming, corpus, prefix, minJaccard, cap)
  }

  /** The shared band-fold: 8 bands × 4 rows over a signature column —
    * factored from [[lshBuckets]] so the served path banding cannot
    * drift. */
  private def bandedBuckets(sig: Column, bands: Int = 8): Column = {
    val rows = 32 / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => foldLongs(concat(array(b.cast("long")), slice(sig, b * rows + 1, lit(rows)))))
  }

  /** Exact duplicate-span detection (the substring half of training-data
    * dedup — Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2021, at k-token granularity): every contiguous k-token span
    * that occurs more than once in the corpus, with its occurrence and
    * document counts. Near-dup MinHash ([[minhashDupPairs]]) catches
    * whole-document copies; this catches the boilerplate PARAGRAPH pasted
    * into thousands of otherwise-distinct pages, which document-level
    * dedup never sees.
    *
    * Scale shape: spans are built per-row by the native
    * [[graft.functions.WordShingles]] kernel (narrow, no shuffle) and
    * immediately collapsed to a 16-byte md5 — the shuffle carries
    * (hash, doc_id) pairs, never span text. The aggregation is two-level
    * ((span, doc) partial, then span) so `count + count(DISTINCT doc)`
    * never plans an Expand over the exploded span stream (corpus × ~doc
    * length rows at 100 TB). Docs shorter than k tokens carry no k-token
    * span and are filtered at the scan. */
  def duplicateSpans(t: Tables, k: Int = 15): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val tks = TextAnalysis.tokens(lower(col("text")))
    t.documents
      .select(col("doc_id"), tks.as("tks"))
      .filter(size(col("tks")) >= k)
      .select(
        col("doc_id"),
        posexplode(graft.functions.ShingleExpression.wordShingles(col("tks"), k)))
      .select(col("doc_id"), md5(col("col")).as("span_hash"), col("pos"))
      .groupBy(col("span_hash"), col("doc_id"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("min_pos"))
      .groupBy(col("span_hash"))
      .agg(
        sum(col("n")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"),
        min(col("min_pos")).as("first_pos"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("n_occurrences").desc, col("span_hash"))
  }

  /** q243: per-source memorization-risk report — for every source, the
    * share of its `k`-token windows whose corpus-wide occurrence count
    * reaches 2 / 4 / 8. Duplicated training sequences are memorized
    * disproportionately often (Lee et al. 2022; Carlini et al. 2023 —
    * memorization grows with duplication count), so the per-source
    * at-risk-window mass is the number a release review reads next to
    * q84's span list: q84 says WHICH spans repeat, this says WHO
    * contributes repeated mass and how much of each source survives an
    * "occurrence < R" training filter.
    *
    * Plan: ONE window-level shuffle — (span_hash, source) counts — then
    * the corpus-wide occurrence count rides a window over the
    * already-aggregated hash×source frame (distinct-hash-sized, ≪ window
    * count), never a second pass over the corpus. The shuffle carries
    * 16-byte hashes, never text (the q84 doctrine). */
  def memorizationRisk(t: Tables, k: Int = 15): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    import org.apache.spark.sql.expressions.Window
    val tks = TextAnalysis.tokens(lower(col("text")))
    val local = t.documents
      .select(col("source"), tks.as("tks"))
      .filter(size(col("tks")) >= k)
      .select(col("source"),
        explode(graft.functions.ShingleExpression.wordShingles(col("tks"), k))
          .as("w"))
      .select(col("source"), md5(col("w")).as("span_hash"))
      .groupBy(col("span_hash"), col("source"))
      .agg(count(lit(1)).as("local_n"))
    local
      .withColumn("global_n",
        sum(col("local_n")).over(Window.partitionBy(col("span_hash"))))
      .groupBy(col("source"))
      .agg(
        sum(col("local_n")).as("n_windows"),
        sum(when(col("global_n") >= 2, col("local_n")).otherwise(0L)).as("n_ge_2"),
        sum(when(col("global_n") >= 4, col("local_n")).otherwise(0L)).as("n_ge_4"),
        sum(when(col("global_n") >= 8, col("local_n")).otherwise(0L)).as("n_ge_8"))
      .select(
        col("source"), col("n_windows"), col("n_ge_2"), col("n_ge_4"),
        col("n_ge_8"),
        (col("n_ge_2").cast("double") / col("n_windows").cast("double"))
          .as("frac_ge_2"),
        (col("n_ge_4").cast("double") / col("n_windows").cast("double"))
          .as("frac_ge_4"),
        (col("n_ge_8").cast("double") / col("n_windows").cast("double"))
          .as("frac_ge_8"))
      .orderBy(col("source"))
  }

  /** q110: MAXIMAL duplicated spans — [[duplicateSpans]]' fixed-k
    * duplicated windows merged into their maximal per-document extents.
    * Every maximal duplicated span of >= k tokens is an island of
    * consecutive duplicated k-windows, so no duplicated material is
    * missed; the converse does NOT hold — adjacent windows duplicated
    * against DIFFERENT partner documents merge into one reported island,
    * so an extent is a superset-merge at k-window resolution and may not
    * be duplicated anywhere as a whole. That is the right contract for
    * dedup removal ("cut doc 17 from token 120 for 340 tokens" — every
    * cut token sits in some duplicated window); use
    * [[maximalDuplicateSpansExact]] when exact per-partner extents
    * matter. Approximates the OUTPUT shape of suffix-array substring
    * dedup (Lee et al. 2022, the deduplicate-text-datasets span form)
    * without distributed suffix construction.
    *
    * Plan: one pass to positions+hashes (the shuffle carries 16-byte
    * hashes and positions, never text), a window count over span_hash to
    * keep duplicated windows, then the classic gaps-and-islands
    * (pos - row_number) per document. Two shuffles total (span_hash,
    * doc_id), both on narrow rows; islands never materialize per-token
    * state. */
  def maximalDuplicateSpans(t: Tables, k: Int = 15): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    import org.apache.spark.sql.expressions.Window
    val tks = TextAnalysis.tokens(lower(col("text")))
    val positions = t.documents
      .select(col("doc_id"), tks.as("tks"))
      .filter(size(col("tks")) >= k)
      .select(
        col("doc_id"),
        posexplode(graft.functions.ShingleExpression.wordShingles(col("tks"), k)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("span_hash"))
    val dupPositions = positions
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("span_hash"))))
      .filter(col("occ") > 1)
    dupPositions
      .withColumn("island",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(k)).as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** q123: EXACT maximal duplicated spans of ANY length ≥ `minLen` —
    * token-resolution extents, closing the gap [[maximalDuplicateSpans]]
    * documents (its islands are superset-merges at k-window resolution).
    *
    * No distributed suffix array. Prefix-class doubling: level j assigns
    * every (doc, pos) the md5 class of its length-2^j token prefix —
    * `c_j(p) = md5(c_{j-1}(p) || c_{j-1}(p + 2^{j-1}))`, with a unique
    * per-position sentinel past the document end — so positions share a
    * level-j class iff their 2^j-token prefixes are equal (up to md5
    * collision, the same 128-bit contract as [[duplicateSpans]]). A
    * position whose level-j class is shared by ≥ 2 positions starts a
    * length-2^j repeat: interval [pos, pos + 2^j).
    *
    * The exactness argument (why power-of-two intervals suffice): every
    * such interval lies inside a true maximal repeat, and conversely a
    * true repeat [p, p+r), r ≥ minLen, is fully covered — position p+d
    * (d ≤ r−minLen) has a repeated prefix of ≥ r−d ≥ minLen tokens, so it
    * contributes an interval of length ≥ minLen, and at d = r−minLen that
    * interval reaches exactly p+r. Hence the union of the level-
    * log2(minLen)..log2(cap) intervals EQUALS the union of all true
    * maximal repeats of length ≥ minLen — even for repeats far longer
    * than `cap` (overlapping covers chain across them; proven against an
    * uncapped brute force in DedupSpec). Interval union per doc is the
    * running-max-end island merge.
    *
    * Scale shape: the `b.pos = a.pos + 2^{j-1}` shift over DENSE positions
    * is `lead(c, 2^{j-1})` over (doc ordered by pos) — so the whole
    * doubling chain is ONE shuffle on doc_id (localCheckpoint preserves
    * the partitioning across rounds; r5 ran it as log2(cap) self-joins,
    * 2 shuffles each) plus local window passes carrying 32-byte classes,
    * one class-count shuffle per reported level, one island window per
    * doc. Rounds = log2(cap), independent of corpus size — and the loop
    * exits early the first time a level has NO duplicated class (no
    * repeat of the current length ⇒ none longer), so corpora without
    * long repeats never pay for the high levels. The exit check rides a
    * groupBy the size of the distinct-class frame, map-side combined. */
  def maximalDuplicateSpansExact(t: Tables, minLen: Int = 16,
                                 cap: Int = 64): DataFrame = {
    require(minLen >= 2 && (minLen & (minLen - 1)) == 0, s"minLen $minLen must be a power of 2")
    require(cap >= minLen && (cap & (cap - 1)) == 0, s"cap $cap must be a power of 2 >= minLen")
    import org.apache.spark.sql.expressions.Window
    val tks = TextAnalysis.tokens(lower(col("text")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var classes = t.documents
      .select(col("doc_id"), posexplode(tks).as(Seq("pos", "c")))
      .repartition(col("doc_id")) // the one shuffle every round reuses
      .localCheckpoint()
    val levels = Seq.newBuilder[DataFrame]
    var len = 1
    var exhausted = false
    while (len < cap && !exhausted) {
      classes = classes
        .withColumn("c",
          md5(concat(col("c"),
            coalesce(lead(col("c"), len).over(wDoc),
              concat(lit("E"), col("doc_id").cast("string"),
                lit(":"), col("pos").cast("string"))))))
        .localCheckpoint()
      len *= 2
      if (len >= minLen) {
        // Materialize the level's interval arm eagerly with its row count
        // riding an observe() on the materialization (the CC-loop pattern:
        // the metric costs ZERO extra jobs). An empty arm means no repeat
        // of length `len` exists, hence none of any greater length — the
        // remaining rounds are provably empty, exit early. Corpora without
        // long repeats never pay for the high levels; corpora with them
        // pay nothing for the check.
        val l = len
        val obs = new org.apache.spark.sql.Observation(
          s"graft_spans_l${l}_${System.nanoTime()}")
        val arm = classes
          .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("c"))))
          .filter(col("occ") > 1)
          .select(col("doc_id"), col("pos").as("s"), (col("pos") + lit(l)).as("e"))
          .observe(obs, count(lit(1)).as("n"))
          .localCheckpoint()
        if (obs.get("n").asInstanceOf[Long] == 0L) exhausted = true
        else levels += arm
      }
    }
    val arms = levels.result()
    val intervals =
      if (arms.isEmpty)
        t.documents.sparkSession.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0).as("s"), lit(0).as("e"))
          .limit(0)
      else arms.reduce(_ unionByName _).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    intervals
      .withColumn("pme",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("pme").isNull || col("s") > col("pme"), 1).otherwise(0)).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"),
        (col("span_end") - col("span_start")).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The DuckDB mirror of [[maximalDuplicateSpansExact]]: the same md5
    * class-doubling chain as CTEs, one per level, then the same interval
    * union. */
  def maximalDuplicateSpansExactSql(minLen: Int = 16, cap: Int = 64): String = {
    val shifts = Iterator.iterate(1)(_ * 2).takeWhile(_ < cap).toSeq
    val chain = shifts.zipWithIndex.map { case (shift, i) =>
      val prev = if (i == 0) "c0" else s"c$i"
      s"""c${i + 1} AS MATERIALIZED (
         |  SELECT a.doc_id, a.pos,
         |    md5(a.c || coalesce(b.c, 'E' || a.doc_id || ':' || a.pos)) AS c
         |  FROM $prev a LEFT JOIN $prev b
         |    ON b.doc_id = a.doc_id AND b.pos = a.pos + $shift)""".stripMargin
    }
    val dupArms = shifts.zipWithIndex
      .filter { case (shift, _) => shift * 2 >= minLen }
      .map { case (shift, i) =>
        s"""SELECT doc_id, pos AS s, pos + ${shift * 2} AS e
           |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY c) AS occ
           |        FROM c${i + 1})
           |  WHERE occ > 1""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |c0 AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, tks[i] AS c
       |  FROM tk, unnest(range(1, len(tks) + 1)) AS u(i)),
       |${chain.mkString(",\n")},
       |iv AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, s, e FROM (
       |$dupArms)),
       |marked AS MATERIALIZED (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM iv),
       |isl AS MATERIALIZED (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
       |  FROM marked)
       |SELECT doc_id, CAST(min(s) AS INTEGER) AS span_start,
       |  CAST(max(e) - min(s) AS INTEGER) AS span_tokens
       |FROM isl GROUP BY doc_id, isl
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** n-gram Jaccard similarity over a deterministic candidate sample:
    * consecutive doc_id pairs (a fixed, oracle-expressible pairing that
    * exercises the set-similarity kernel; production candidates come from
    * [[lshBuckets]]). */
  def ngramJaccardSample(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"),
      array_distinct(TextAnalysis.tokens(col("text"))).as("tks"))
    docs
      .as("a")
      .join(docs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.tks"), col("b.tks"))).as("n_common"),
        size(array_union(col("a.tks"), col("b.tks"))).as("n_union"),
        round(
          size(array_intersect(col("a.tks"), col("b.tks"))).cast("double") /
            size(array_union(col("a.tks"), col("b.tks"))),
          6).as("jaccard"))
      .orderBy(col("doc_a"))
  }

  /** q146: duplicate-span REMOVAL — the APPLY step of substring dedup
    * (Lee et al. find the spans; a training pipeline then has to cut
    * them). Every token covered by a cross-corpus duplicated k-window
    * (the same detection kernel as [[maximalDuplicateSpans]]/q110) is
    * dropped from its document — the remove-ALL-occurrences variant, i.e.
    * boilerplate elimination (keep-one-occurrence is the same plan plus a
    * canonical min-(doc, pos) exemption join). Output per document:
    * normalized token count, tokens removed, and the cleaned text
    * (lowercased, single-spaced — normalization is part of the contract,
    * the detector already compares normalized tokens).
    *
    * Scale shape (r12, guide §2.3 — the islands/range treatment of the
    * old token-level explode): detection shuffles (doc, pos, 16-byte
    * hash) rows only; the duplicated-window START positions — not the
    * k-fold covered-position explosion — aggregate per doc into one
    * sorted int array, and a single native walk per document
    * ([[graft.functions.SpanRemove]]) drops covered tokens and
    * re-assembles the cleaned text IN PLACE. Full text never enters an
    * exchange at all (previously the exploded token stream shuffled twice:
    * the (doc_id, pos) anti-join plus the per-doc re-assembly aggregate);
    * only duplicated-window positions shuffle. */
  def removeDuplicateSpans(t: Tables, k: Int = 15): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    graft.functions.SpanRemoveExpression.register(t.spark)
    import org.apache.spark.sql.expressions.Window
    val tk = t.documents
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("tks"))
    val positions = tk
      .filter(size(col("tks")) >= k)
      .select(
        col("doc_id"),
        posexplode(graft.functions.ShingleExpression.wordShingles(col("tks"), k)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("span_hash"))
    val dup = positions
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("span_hash"))))
      .filter(col("occ") > 1)
    val dupStarts = dup
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("dps"))
    val removed = tk
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("r", graft.functions.SpanRemoveExpression.spanRemove(
        col("tks"), col("dps"), lit(k)))
    removed
      .select(
        col("doc_id"), size(col("tks")).as("n_tokens"),
        (size(col("tks")).cast("long") - col("r.n_kept")).cast("int")
          .as("n_removed"),
        col("r.cleaned").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB mirror of [[removeDuplicateSpans]] (the q110 detection
    * CTEs + covered-position anti-join + ordered re-assembly). */
  def removeDuplicateSpansSql(k: Int = 15): String =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, unnest(range(1, len(tks) - ${k - 2})) AS i, tks
       |  FROM tk WHERE len(tks) >= $k),
       |h AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |   md5(array_to_string(tks[i:i+${k - 1}], ' ')) AS span_hash
       |  FROM sp),
       |dup AS (
       |  SELECT doc_id, pos
       |  FROM (SELECT doc_id, pos,
       |          count(*) OVER (PARTITION BY span_hash) AS occ FROM h)
       |  WHERE occ > 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, CAST(u.p AS INTEGER) AS pos
       |  FROM dup, unnest(range(dup.pos, dup.pos + $k)) AS u(p)),
       |toks AS (
       |  SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, tks[u.i] AS tok
       |  FROM tk, unnest(range(1, len(tks) + 1)) AS u(i)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL)
       |SELECT tk.doc_id, CAST(len(tk.tks) AS INTEGER) AS n_tokens,
       |  CAST(len(tk.tks) - count(k.tok) AS INTEGER) AS n_removed,
       |  coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS cleaned_text
       |FROM tk LEFT JOIN kept k USING (doc_id)
       |GROUP BY tk.doc_id, len(tk.tks)
       |ORDER BY tk.doc_id""".stripMargin

  /** q173: corpus-level LINE deduplication report — the C4/RefinedWeb
    * boilerplate-removal recipe ("drop any line that occurs verbatim in
    * ≥ N distinct documents": nav bars, cookie banners, license footers).
    * The fixture's documents carry no newlines, so "lines" are the
    * deterministic stand-in segmentation of consecutive non-overlapping
    * `lineWords`-word windows ([[TextAnalysis.chunkDocuments]] with
    * overlap 0 — a real corpus splits on `\n` and everything downstream
    * is identical). Output: the per-source removal accounting a cleaning
    * pipeline publishes before committing the drop.
    *
    * Scale shape: segmentation is a narrow explode (linear); line
    * document-frequency is ONE shuffle keyed by the line; the flag join
    * back re-keys the same frame once more; the report is a source-sized
    * aggregate. Nothing is quadratic and no driver action runs. Lines
    * here group on raw text (exact, and the fixture's lines are tiny); at
    * 100 TB the group key becomes the 16-byte content hash with text
    * carried as `min(line)` — the [[exact]] doctrine. */
  def lineDedupReport(t: Tables, lineWords: Int = 8, minDocs: Int = 3): DataFrame = {
    val tks = TextAnalysis.tokens(col("text"))
    val lines = t.documents
      .select(col("doc_id"), col("source"), tks.as("tks"))
      .select(col("doc_id"), col("source"), col("tks"),
        greatest(
          (size(col("tks")) + lit(lineWords - 1)).cast("long") / lit(lineWords),
          lit(1L).cast("double")).cast("long").as("n_lines"))
      .select(col("doc_id"), col("source"), col("tks"),
        explode(sequence(lit(0L), col("n_lines") - 1)).as("i"))
      .select(col("doc_id"), col("source"),
        array_join(
          slice(col("tks"), (col("i") * lineWords + 1).cast("int"), lit(lineWords)),
          " ").as("line"))
    val df = lines
      .groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
    lines
      .join(df, Seq("line"))
      .withColumn("boiler", col("line_df") >= minDocs)
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_lines"),
        sum(col("boiler").cast("long")).as("n_boiler_lines"),
        countDistinct(when(col("boiler"), col("line"))).as("n_distinct_boiler"),
        sum(length(col("line")).cast("long")).as("chars_total"),
        sum(when(col("boiler"), length(col("line")).cast("long"))
          .otherwise(lit(0L))).as("chars_removed"))
      .withColumn("pct_chars_removed",
        round(col("chars_removed").cast("double") / col("chars_total"), 6))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[lineDedupReport]]. */
  def lineDedupReportSql(lineWords: Int = 8, minDocs: Int = 3): String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, source, tks,
       |    greatest((len(tks) + ${lineWords - 1}) // $lineWords, 1) AS n_lines
       |  FROM tk),
       |l AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    array_to_string(
       |      tks[u.i * $lineWords + 1 : u.i * $lineWords + $lineWords], ' ') AS line
       |  FROM n, unnest(range(0, n_lines)) AS u(i)),
       |df AS (
       |  SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY 1),
       |fl AS (
       |  SELECT l.doc_id, l.source, l.line, (df.line_df >= $minDocs) AS boiler
       |  FROM l JOIN df USING (line))
       |SELECT source,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_lines,
       |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
       |  count(DISTINCT CASE WHEN boiler THEN line END) AS n_distinct_boiler,
       |  CAST(sum(length(line)) AS BIGINT) AS chars_total,
       |  CAST(sum(CASE WHEN boiler THEN length(line) ELSE 0 END) AS BIGINT)
       |    AS chars_removed,
       |  round(CAST(sum(CASE WHEN boiler THEN length(line) ELSE 0 END) AS DOUBLE)
       |    / sum(length(line)), 6) AS pct_chars_removed
       |FROM fl GROUP BY source ORDER BY source""".stripMargin

  /** q174: near-CONTAINMENT pairs — the asymmetric dup relation Jaccard
    * dedup structurally misses: an article embedded in a longer page, a
    * doc plus appended boilerplate, quote-heavy reposts. Detected by
    * max-direction set containment |A∩B| / min(|A|,|B|) over the distinct
    * word-shingle sets; the emitted `jaccard` column shows exactly how far
    * below a symmetric threshold each caught pair sits.
    *
    * Candidate generation is a document-frequency-cut posting self-join:
    * shingles appearing in more than `dfCap` documents are dropped from
    * candidate generation (ubiquitous boilerplate shingles — the pairs
    * they alone would propose are noise), bounding per-shingle join work
    * at C(dfCap, 2) so candidate volume is linear in distinct shingles.
    * A pair sharing ONLY above-cap shingles is missed — the documented
    * recall contract, same as [[saltedBuckets]]' cap.
    *
    * Verification is FUSED into candidate generation by partitioning the
    * intersection on the df cut: |A∩B| = |A∩B∩rare| + |A∩B∩hot|. The rare
    * term falls out of the posting self-join itself — `groupBy(pair)
    * count` over the per-shingle pair stream (postings are per-doc
    * distinct, so the count IS the shared-rare-shingle count) — replacing
    * the old `distinct` + full-shingle-array `array_intersect` verify,
    * which re-walked two ~|shset|-element string arrays per candidate
    * pair (measured 3.2 s of q174's 9.7 s at sf0.1, and at 100 TB
    * shuffled corpus-sized array payloads into the verify join). The hot
    * term intersects only each doc's ABOVE-CAP shingles — bounded per doc
    * by the few boilerplate shingles a corpus shares broadly (empty on
    * fixtures without them), so the arrays the verify join carries are
    * metadata-sized. Set sizes |A|, |B| come from a narrow per-doc count.
    * Same output, bit-for-bit — the oracle twin still replays the
    * straightforward candidates + list_intersect form. */
  def containmentPairs(t: Tables, tau: Double = 0.8, dfCap: Int = 64): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val post = t.documents
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.ShingleExpression.wordShingles(
          TextAnalysis.tokens(col("text"))))).as("s"))
      .localCheckpoint() // narrow (doc_id, shingle) rows; four consumers
    val docSize = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_set"))
    val dfq = post.groupBy(col("s")).agg(count(lit(1)).as("s_df"))
      .localCheckpoint() // feeds the rare and hot splits
    val rare = dfq.filter(col("s_df") <= dfCap).select(col("s"))
    val fp = post.join(rare, Seq("s"), "left_semi")
    val rc = fp.as("a")
      .join(fp.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_rare_common"))
    // Hot-subset intersect, r12 form (guide §2.3/§4 — the SparseDotCents
    // treatment of the one documented r11 regression, copyheavy density):
    // hot shingles are dictionary-encoded to longs via the distributed
    // DistributedIds.uniqueIds bijection (id equality ≡ shingle equality,
    // no hash-collision contract, no single-partition window), so the
    // hotset payload the verify join shuffles is 8-byte longs instead of
    // multi-word shingle strings, and the per-pair intersect is one
    // allocation-free sorted-merge count instead of a per-pair UTF8String
    // hash set (`array_intersect`). Counts are identical: postings are
    // per-doc distinct, sort_array yields sorted-distinct id arrays, and
    // |A∩B| is bijection-invariant.
    graft.functions.IntersectExpressions.register(t.spark)
    val hot = dfq.filter(col("s_df") > dfCap).select(col("s"))
    // No broadcast hint: the dictionary's estimated size (uniqueIds keeps
    // the child's stats) makes the planner broadcast it when the hot
    // vocabulary fits, shuffle-join otherwise.
    val hotIds = graft.core.DistributedIds.uniqueIds(hot, "s", "sid")
    val hotSets = post.join(hotIds, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sid"))).as("hotset"))
      .localCheckpoint() // joined twice (ha/hb) — build the hot sets once
    rc
      .join(hotSets.as("ha"), col("doc_a") === col("ha.doc_id"), "left")
      .join(hotSets.as("hb"), col("doc_b") === col("hb.doc_id"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("n_rare_common") +
          when(col("ha.hotset").isNull || col("hb.hotset").isNull, lit(0L))
            .otherwise(graft.functions.IntersectExpressions.sortedIntersectCount(
              col("ha.hotset"), col("hb.hotset")))).as("n_common"))
      .join(docSize.as("na"), col("doc_a") === col("na.doc_id"))
      .join(docSize.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        col("na.n_set").as("n_a"),
        col("nb.n_set").as("n_b"),
        col("n_common"))
      .select(
        col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("containment"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"),
        when(col("n_a") <= col("n_b"), lit("a_in_b")).otherwise(lit("b_in_a"))
          .as("direction"))
      .filter(col("containment") >= tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The DuckDB mirror of [[containmentPairs]]. */
  def containmentPairsSql(tau: Double = 0.8, dfCap: Int = 64): String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
       |         ELSE list_transform(range(1, len(tks) - 1),
       |                i -> array_to_string(tks[i:i+2], ' ')) END AS shingles
       |  FROM tk),
       |sets AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(shingles) AS shset FROM sh),
       |post AS MATERIALIZED (
       |  SELECT doc_id, u.s FROM sets, unnest(shset) AS u(s)),
       |rare AS (SELECT s FROM post GROUP BY s HAVING count(*) <= $dfCap),
       |fp AS (SELECT p.doc_id, p.s FROM post p JOIN rare USING (s)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fp a JOIN fp b ON a.s = b.s AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(a.shset) AS BIGINT) AS n_a,
       |    CAST(len(b.shset) AS BIGINT) AS n_b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) AS n_common
       |  FROM cand JOIN sets a ON doc_a = a.doc_id
       |            JOIN sets b ON doc_b = b.doc_id)
       |SELECT doc_a, doc_b, n_a, n_b, n_common,
       |  round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 6) AS containment,
       |  round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard,
       |  CASE WHEN n_a <= n_b THEN 'a_in_b' ELSE 'b_in_a' END AS direction
       |FROM v
       |WHERE round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 6) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q186: cross-split duplicate-LEAKAGE audit — near-dup pairs that
    * straddle the deterministic train/val/test boundary. A near-duplicate
    * of a training document sitting in val/test silently inflates every
    * eval metric (the contamination the split itself cannot prevent,
    * because hash splits ignore content); this is the audit a training-data
    * release runs AFTER splitting and BEFORE publishing eval numbers.
    * Reference anchor: the split discipline of q48
    * ([[graft.ext.Sampling.splitColumn]]) applied to q34's near-dup
    * relation ([[minhashDupPairs]]).
    *
    * Output: one row per (split_lo, split_hi) combination present among
    * the near-dup pairs (splits ordered train < val < test; within a pair,
    * `lo` is the side whose split ranks lower, doc_a on ties). `n_docs_hi`
    * counts distinct hi-side documents — for train↔eval rows that is
    * exactly "eval documents with a near-dup in train", and
    * `pct_hi_leaked` normalizes it by the hi split's total size.
    *
    * Scale shape: split labels are pure hash arithmetic on the pair's own
    * ids (ZERO joins back to the corpus — the labeling is narrow on the
    * pair frame); the only corpus-touching work is q34's capped candidate
    * stage, and the final aggregate is on the at-most-6-row combo frame
    * plus one broadcast join against the 3-row split totals. */
  def splitLeakage(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    import graft.ext.Sampling.splitColumn
    def rk(s: Column): Column =
      when(s === "train", 0).when(s === "val", 1).otherwise(2)
    val pairs = minhashDupPairsUnsorted(t, minJaccard)
      .select(col("doc_a"), col("doc_b"),
        splitColumn(col("doc_a")).as("spa"),
        splitColumn(col("doc_b")).as("spb"))
    val aIsLo = rk(col("spa")) <= rk(col("spb"))
    val oriented = pairs.select(
      when(aIsLo, col("spa")).otherwise(col("spb")).as("split_lo"),
      when(aIsLo, col("spb")).otherwise(col("spa")).as("split_hi"),
      when(aIsLo, col("doc_a")).otherwise(col("doc_b")).as("doc_lo"),
      when(aIsLo, col("doc_b")).otherwise(col("doc_a")).as("doc_hi"))
    val totals = t.documents
      .groupBy(splitColumn(col("doc_id")).as("split_hi"))
      .agg(count(lit(1)).as("n_split_hi"))
    oriented
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_lo")).as("n_docs_lo"),
        countDistinct(col("doc_hi")).as("n_docs_hi"))
      .join(broadcast(totals), Seq("split_hi")) // 3-row dim
      .select(
        col("split_lo"), col("split_hi"), col("n_pairs"),
        col("n_docs_lo"), col("n_docs_hi"), col("n_split_hi"),
        round(col("n_docs_hi").cast("double") / col("n_split_hi"), 6)
          .as("pct_hi_leaked"))
      .orderBy(rk(col("split_lo")), rk(col("split_hi")))
  }

  /** q233: cross-source duplication matrix — the q34 near-dup pairs
    * cross-tabulated by (source, source): which sources copy from which,
    * and how much of the duplication budget is WITHIN-source (dedup can
    * run partition-local per source, the q205 question answered at pair
    * granularity) versus cross-source (needs the global shuffle).
    * The per-pair view a 100 TB corpus audit reads before deciding the
    * dedup topology and before renegotiating an upstream feed that turns
    * out to be a mirror of another.
    *
    * Shape: the q34 candidate/verify machinery untouched (salted-capped
    * buckets, exact-Jaccard verify), two broadcast joins to the doc→source
    * dim, the matrix aggregate on a |sources|²-bounded frame; pair share
    * via one window over that bounded frame. Sources are normalized to an
    * unordered pair (lexicographic least/greatest). */
  def crossSourceDupMatrix(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    val pairs = minhashDupPairsUnsorted(t, minJaccard)
      .join(broadcast(src.as("sa")), col("doc_a") === col("sa.doc_id"))
      .join(broadcast(src.as("sb")), col("doc_b") === col("sb.doc_id"))
      .select(
        least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
    pairs
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_all",
        sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("source_a") === col("source_b")).as("within_source"),
        (col("n_pairs").cast("double") / col("n_pairs_all").cast("double"))
          .as("pair_share"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q236: transitivity audit of the near-dup graph — the global
    * clustering coefficient of the q34 pair set (closed wedges / wedges).
    * A SIMILARITY threshold that captures real duplicate families produces
    * a highly transitive graph (a≈b and b≈c usually forces a≈c); a
    * threshold set too loose links unrelated docs through hubs and
    * transitivity collapses — this one number is the cheapest
    * threshold-quality signal a dedup pipeline can publish next to
    * q169's labeled precision/recall (which needs truth; this doesn't).
    *
    * Shape: the capped q34 pairs (degree bounded by the salt cap by
    * construction) → one self-join on the wedge center (Σ deg² rows,
    * cap-bounded) → one broadcast-free semi-count against the canonical
    * pair set → a single summary row. All counting integer; the
    * coefficient is one exact-operand division. */
  def dupGraphTransitivity(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    val pairs = minhashDupPairsUnsorted(t, minJaccard)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // read three times: edges both ways + closure probe
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val wedges = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src") &&
        col("e1.src") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e2.dst").as("c"))
    val closed = wedges.join(pairs,
        col("a") === col("doc_a") && col("c") === col("doc_b"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        sum(when(col("doc_a").isNotNull, 1L).otherwise(0L)).as("n_closed"))
    pairs.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(closed))
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(col("n_closed").cast("double") /
            col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  /** q242: lexical-vs-semantic dup-signal agreement — cross-tab of the
    * MinHash-LSH pair set (word-shingle Jaccard ≥ 0.2 over `documents`,
    * the q34 set) against the embedding near-dup pair set (SRP-banded
    * cosine ≥ 0.3 over `embeddings`, the q41 set), under the fixture's
    * shared id space (vec_id ≡ doc_id). This is the curation audit run
    * before choosing a dedup policy: pairs BOTH signals agree on are safe
    * deletes; lexical-only pairs are boilerplate/templates the embedding
    * model abstracts over; semantic-only pairs are paraphrases lexical
    * dedup cannot see (the SemDeDup motivation). The pair-set Jaccard is
    * the single agreement number a pipeline dashboard tracks across
    * snapshots.
    *
    * Scale: both inputs are the salt-capped O(cap·n) pair generators; the
    * full-outer join keys on the pair ids — no new quadratic stage. */
  def dupSignalAgreement(t: Tables): DataFrame = {
    val lex = minhashDupPairsUnsorted(t, minJaccard = 0.2)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("lex"))
    val sem = embeddingNearDups(t)
      .select(col("vec_a").as("a"), col("vec_b").as("b"), lit(1L).as("sem"))
    lex.join(sem, Seq("a", "b"), "full_outer")
      .select(coalesce(col("lex"), lit(0L)).as("lex"),
              coalesce(col("sem"), lit(0L)).as("sem"))
      .agg(
        // coalesce: a corpus with zero pairs on both sides must report a
        // 0-row, not a NULL-row (sum over an empty global group is NULL)
        coalesce(sum("lex"), lit(0L)).as("n_lexical"),
        coalesce(sum("sem"), lit(0L)).as("n_semantic"),
        coalesce(sum(col("lex") * col("sem")), lit(0L)).as("n_both"),
        coalesce(sum(col("lex") * (lit(1L) - col("sem"))), lit(0L)).as("n_lex_only"),
        coalesce(sum((lit(1L) - col("lex")) * col("sem")), lit(0L)).as("n_sem_only"))
      .select(
        col("n_lexical"), col("n_semantic"), col("n_both"),
        col("n_lex_only"), col("n_sem_only"),
        when(col("n_lexical") + col("n_sem_only") === 0, lit(0.0))
          .otherwise(col("n_both").cast("double") /
            (col("n_lexical") + col("n_sem_only")).cast("double"))
          .as("pair_jaccard"))
  }
}

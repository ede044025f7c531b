package graft

import graft.functions.{KmvSketch, MinHashExpression, PortableHash}

/** DuckDB oracle SQL for the sketch / LSH / ANN queries.
  *
  * Every sketch in the library hashes with the portable arithmetic of
  * [[graft.functions.PortableHash]] (there is no second, Spark-only hash),
  * which makes every stage — shingle hash, permutation minima, band
  * buckets, SimHash bit votes, CMS counters, SRP hyperplanes, KMV bottom-k
  * — exactly replayable by DuckDB, so the oracle gate covers them.
  *
  * Constants are interpolated from the SAME Scala objects the Spark
  * expressions use (permutation pairs, moduli, multipliers) — one source of
  * truth, the SQL cannot drift from the engine.
  */
object SketchOracleSql {

  // ── shared fragments ──────────────────────────────────────────────────

  /** tokens + word-3-shingles of `documents.text` (mirrors
    * graft.ext.Dedup.shingles / TextAnalysis.tokens). */
  private val shingleCte =
    """tk AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
      |         ELSE list_transform(range(1, len(tks) - 1),
      |                i -> array_to_string(tks[i:i+2], ' ')) END AS shingles
      |  FROM tk)""".stripMargin

  /** The 32 (a, b) permutation literals — same source as the native
    * expression. */
  private val permsLiteral: String =
    MinHashExpression.permPairs.map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]")

  /** signature CTE: portable shingle hash → 32 permutation minima
    * (mirrors MinHashSignature eval). */
  private val sigCte =
    s"""hs AS (
       |  SELECT doc_id, shingles,
       |    list_transform(shingles, s -> ${PortableHash.hash32Sql("s")}) AS hvals
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, shingles,
       |    list_transform($permsLiteral,
       |      p -> list_min(list_transform(hvals, h -> (p[1] * h + p[2]) % 4294967311))) AS sig
       |  FROM hs)""".stripMargin

  /** embeddings as double vectors + SRP signature against the SAME literal
    * projection matrix the engine holds (graft.ext.Similarity.srpPlanes,
    * interpolated verbatim — Double.toString round-trips exactly). */
  private val srpCte = {
    val planeRows = graft.ext.Similarity.srpPlanes.zipWithIndex.map { case (p, j) =>
      s"($j, [${p.mkString(", ")}])"
    }.mkString(",\n    ")
    s"""emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |planes(j, plane) AS (VALUES
       |    $planeRows),
       |sigs AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN list_dot_product(vec, plane) > 0
       |             THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
       |  FROM emb CROSS JOIN planes GROUP BY vec_id)""".stripMargin
  }

  /** Exact cosine between two vec columns, 6-dp rounded — the q37-proven
    * mirror of the native CosineSimilarity kernel. */
  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  // ── per-query oracle SQL ──────────────────────────────────────────────

  /** q33: per-document portable MinHash signature summary. */
  val minhashSignatures: String =
    s"""WITH $shingleCte,
       |$sigCte
       |SELECT doc_id,
       | ${PortableHash.foldLongsSql("sig")} AS sig_hash,
       | sig[1] AS minhash_0,
       | sig[32] AS minhash_31
       |FROM sig ORDER BY doc_id""".stripMargin

  /** Shared CTE chain ending in `dup_pairs`: LSH banding (8 bands × 4 rows,
    * portable band fold) → bucket-cap salting (mirrors
    * [[graft.ext.Dedup.saltedBuckets]]: buckets over the cap split into
    * ⌈n/cap⌉ splitHash-salted sub-buckets; buckets at/under the cap get
    * nSalts = 1 ⇒ salt 0, identical to unsalted) → candidate pairs →
    * exact shingle-set Jaccard ≥ 0.2. Used by q34 (the pair list itself)
    * and q45 (clusters over it). */
  /** bands → bucket sizes → salted buckets (the [[graft.ext.Dedup
    * .saltedBuckets]] replay), shared by the self-join and incremental
    * dedup oracles. */
  private val saltedBucketCtes: String = {
    val cap = graft.ext.Dedup.DefaultBucketCap
    s"""bands AS (
       |  SELECT doc_id, b AS band_id,
       |    ${PortableHash.foldLongsSql("list_prepend(CAST(b AS BIGINT), sig[b*4+1 : b*4+4])")} AS bucket
       |  FROM sig CROSS JOIN range(0, 8) t(b)),
       |bsz AS (SELECT band_id, bucket, count(*) AS bucket_n FROM bands GROUP BY 1, 2),
       |salted AS (
       |  SELECT doc_id, band_id, bucket,
       |    (${graft.ext.Sampling.splitHashSql("doc_id")}) % ((bucket_n + ${cap - 1}) // $cap) AS salt
       |  FROM bands JOIN bsz USING (band_id, bucket))""".stripMargin
  }

  private val dupPairsCtes: String = {
    s"""$shingleCte,
       |$sigCte,
       |$saltedBucketCtes,
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM salted l JOIN salted r
       |    ON l.band_id = r.band_id AND l.bucket = r.bucket AND l.salt = r.salt
       |   AND l.doc_id < r.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS shset FROM sh),
       |dup_pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT doc_a, doc_b,
       |      round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
       |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
       |  WHERE jaccard >= 0.2)""".stripMargin
  }

  /** q99: incremental dedup — incoming (doc_id % 20 ≠ 0) vs existing
    * (doc_id % 20 = 0) corpus, union-salted buckets, exact Jaccard
    * verify. Mirrors [[graft.ext.Dedup.incrementalDupPairs]]. */
  val incrementalDupPairs: String =
    s"""WITH $shingleCte,
       |$sigCte,
       |$saltedBucketCtes,
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_new, r.doc_id AS doc_existing
       |  FROM salted l JOIN salted r
       |    ON l.band_id = r.band_id AND l.bucket = r.bucket AND l.salt = r.salt
       |  WHERE l.doc_id % 20 <> 0 AND r.doc_id % 20 = 0),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS shset FROM sh)
       |SELECT doc_new, doc_existing, jaccard FROM (
       |  SELECT doc_new, doc_existing,
       |    round(CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))), 6) AS jaccard
       |  FROM cand JOIN sets a ON doc_new = a.doc_id
       |            JOIN sets b ON doc_existing = b.doc_id)
       |WHERE jaccard >= 0.2
       |ORDER BY doc_new, doc_existing""".stripMargin

  /** q169: banding precision/recall vs exact-Jaccard truth on the fixed
    * 64-doc slice — mirrors [[graft.ext.Dedup.dedupEval]] (truth from the
    * full shingle sets, predictions from the salted candidate stage). */
  val dedupEval: String =
    s"""WITH $dupPairsCtes,
       |sp AS (
       |  SELECT doc_id AS doc_a, len(shset) AS n_a, u.s
       |  FROM sets, unnest(shset) AS u(s) WHERE doc_id < 64),
       |cp AS (
       |  SELECT doc_id AS doc_b, len(shset) AS n_b, u.s
       |  FROM sets, unnest(shset) AS u(s)),
       |truth AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, count(*) AS n_common,
       |      any_value(n_a) AS n_a, any_value(n_b) AS n_b
       |    FROM sp JOIN cp USING (s) WHERE doc_a < doc_b
       |    GROUP BY 1, 2)
       |  WHERE round(CAST(n_common AS DOUBLE)
       |    / (n_a + n_b - n_common), 6) >= 0.2),
       |pred AS (SELECT doc_a, doc_b FROM cand WHERE doc_a < 64),
       |nt AS (SELECT count(*) AS n_truth FROM truth),
       |np AS (SELECT count(*) AS n_candidates FROM pred),
       |nh AS (SELECT count(*) AS n_hit
       |       FROM pred JOIN truth USING (doc_a, doc_b))
       |SELECT CAST(0.2 AS DOUBLE) AS tau, CAST(64 AS INTEGER) AS slice_n,
       |  n_truth, n_candidates, n_hit,
       |  CASE WHEN n_candidates > 0
       |    THEN round(CAST(n_hit AS DOUBLE) / n_candidates, 6) END
       |    AS "precision",
       |  CASE WHEN n_truth > 0
       |    THEN round(CAST(n_hit AS DOUBLE) / n_truth, 6) END AS recall
       |FROM nt CROSS JOIN np CROSS JOIN nh""".stripMargin

  /** q34: the near-dup pair list. */
  val minhashDupPairs: String =
    s"""WITH $dupPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM dup_pairs ORDER BY doc_a, doc_b""".stripMargin

  /** q233: the q34 dup pairs cross-tabulated by unordered (source, source)
    * pair — mirrors [[graft.ext.Dedup.crossSourceDupMatrix]]. */
  val crossSourceDupMatrix: String =
    s"""WITH $dupPairsCtes,
       |lab AS (
       |  SELECT least(sa.source, sb.source) AS source_a,
       |   greatest(sa.source, sb.source) AS source_b
       |  FROM dup_pairs p
       |  JOIN documents sa ON p.doc_a = sa.doc_id
       |  JOIN documents sb ON p.doc_b = sb.doc_id),
       |m AS (
       |  SELECT source_a, source_b, count(*) AS n_pairs
       |  FROM lab GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_pairs_all FROM m)
       |SELECT source_a, source_b, n_pairs,
       | source_a = source_b AS within_source,
       | CAST(n_pairs AS DOUBLE) / CAST(n_pairs_all AS DOUBLE) AS pair_share
       |FROM m CROSS JOIN tot
       |ORDER BY source_a, source_b""".stripMargin

  /** q236: global clustering coefficient of the dup-pair graph —
    * mirrors [[graft.ext.Dedup.dupGraphTransitivity]]. */
  val dupGraphTransitivity: String =
    s"""WITH $dupPairsCtes,
       |pp AS (SELECT doc_a, doc_b FROM dup_pairs),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pp
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pp),
       |wedges AS (
       |  SELECT e1.src AS a, e2.dst AS c
       |  FROM edges e1 JOIN edges e2
       |    ON e1.dst = e2.src AND e1.src < e2.dst),
       |closed AS (
       |  SELECT count(*) AS n_wedges,
       |   CAST(sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END)
       |     AS BIGINT) AS n_closed
       |  FROM wedges w LEFT JOIN pp p
       |    ON w.a = p.doc_a AND w.c = p.doc_b)
       |SELECT (SELECT count(*) FROM pp) AS n_edges,
       | n_wedges, n_closed,
       | CASE WHEN n_wedges = 0 THEN 0.0e0
       |   ELSE CAST(n_closed AS DOUBLE) / CAST(n_wedges AS DOUBLE) END
       |   AS clustering_coeff
       |FROM closed""".stripMargin

  /** `CASE` expression labeling an id column with its deterministic
    * train/val/test split — the SQL twin of
    * [[graft.ext.Sampling.splitColumn]] (80/10/10 by portable hash). */
  private def splitCaseSql(x: String): String = {
    val b = s"(${graft.ext.Sampling.splitHashSql(x)}) % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** q186: cross-split duplicate-leakage audit — mirrors
    * [[graft.ext.Dedup.splitLeakage]] (q34's dup pairs + q48's split
    * labels, oriented lo→hi by split rank, doc_a on ties). */
  val splitLeakage: String = {
    def rk(c: String) = s"CASE $c WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END"
    s"""WITH $dupPairsCtes,
       |lab AS (
       |  SELECT doc_a, doc_b,
       |    ${splitCaseSql("doc_a")} AS spa,
       |    ${splitCaseSql("doc_b")} AS spb
       |  FROM dup_pairs),
       |orient AS (
       |  SELECT
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN spa ELSE spb END AS split_lo,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN spb ELSE spa END AS split_hi,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN doc_a ELSE doc_b END AS doc_lo,
       |    CASE WHEN ${rk("spa")} <= ${rk("spb")} THEN doc_b ELSE doc_a END AS doc_hi
       |  FROM lab),
       |tot AS (
       |  SELECT ${splitCaseSql("doc_id")} AS split_hi, count(*) AS n_split_hi
       |  FROM documents GROUP BY 1),
       |agg AS (
       |  SELECT split_lo, split_hi, count(*) AS n_pairs,
       |    count(DISTINCT doc_lo) AS n_docs_lo,
       |    count(DISTINCT doc_hi) AS n_docs_hi
       |  FROM orient GROUP BY 1, 2)
       |SELECT a.split_lo, a.split_hi, a.n_pairs, a.n_docs_lo, a.n_docs_hi,
       |  t.n_split_hi,
       |  round(CAST(a.n_docs_hi AS DOUBLE) / t.n_split_hi, 6) AS pct_hi_leaked
       |FROM agg a JOIN tot t USING (split_hi)
       |ORDER BY ${rk("a.split_lo")}, ${rk("a.split_hi")}""".stripMargin
  }

  /** q45: connected components over the near-dup pairs — every document
    * labeled with the smallest doc_id reachable through the (undirected)
    * dup relation, plus cluster size. The recursive CTE computes full
    * reachability and takes the min label, which is exactly the fixpoint
    * the engine's min-label propagation converges to. */
  /** The clustering chain through per-cluster sizes — shared by
    * [[dupClusters]] (q45) and [[duplicationProfile]] (q191). */
  private val dupClusterCtes: String =
    s"""$dupPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM dup_pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)""".stripMargin

  val dupClusters: String =
    s"""WITH RECURSIVE $dupClusterCtes
       |SELECT l.doc_id, l.cluster_id, s.cluster_size
       |FROM labels l JOIN sizes s USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin

  /** q194: contamination-safe eval sampling — mirrors
    * [[graft.ext.Dedup.cleanEvalSample]] (non-train docs with no
    * near-dup in train, k per split in portable hash order; the heap's
    * (ord DESC, payload ASC) total order replays as (hash, doc_id)). */
  def cleanEvalSample(k: Int = 16): String =
    s"""WITH $dupPairsCtes,
       |leak AS (
       |  SELECT DISTINCT d FROM (
       |    SELECT doc_a AS d, doc_b AS o FROM dup_pairs
       |    UNION ALL
       |    SELECT doc_b, doc_a FROM dup_pairs)
       |  WHERE ${splitCaseSql("d")} <> 'train'
       |    AND ${splitCaseSql("o")} = 'train'),
       |ev AS (
       |  SELECT doc_id, ${splitCaseSql("doc_id")} AS split
       |  FROM documents
       |  WHERE ${splitCaseSql("doc_id")} <> 'train'
       |    AND doc_id NOT IN (SELECT d FROM leak)),
       |rk AS (
       |  SELECT split, doc_id,
       |    row_number() OVER (PARTITION BY split
       |      ORDER BY (${graft.ext.Sampling.splitHashSql("doc_id")}), doc_id)
       |      AS pick
       |  FROM ev)
       |SELECT split, CAST(pick AS INTEGER) AS pick, doc_id
       |FROM rk WHERE pick <= $k
       |ORDER BY split, pick""".stripMargin

  /** q191: duplication-factor profile — mirrors
    * [[graft.ext.Dedup.duplicationProfile]] (the cluster-size
    * distribution over q45's clustering). */
  val duplicationProfile: String =
    s"""WITH RECURSIVE $dupClusterCtes,
       |prof AS (
       |  SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1),
       |tot AS (SELECT count(*) AS n_docs_total FROM documents)
       |SELECT cluster_size, n_clusters,
       |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       |  CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable,
       |  round(CAST(cluster_size * n_clusters AS DOUBLE) / n_docs_total, 6)
       |    AS pct_docs
       |FROM prof CROSS JOIN tot
       |ORDER BY cluster_size""".stripMargin

  /** q205: cluster source-purity audit — mirrors
    * [[graft.ext.Dedup.clusterPurity]] (per-cluster HHI over the q45
    * closure, rolled up by cluster-size band). */
  val clusterPurity: String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH RECURSIVE $dupClusterCtes,
       |bysrc AS (
       |  SELECT l.cluster_id, s.cluster_size, d.source, count(*) AS c
       |  FROM labels l JOIN sizes s USING (cluster_id)
       |  JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2, 3),
       |per AS (
       |  SELECT cluster_size,
       |   count(*) AS n_sources,
       |   CAST(sum(c * c) AS DOUBLE)
       |     / CAST(cluster_size * cluster_size AS DOUBLE) AS hhi
       |  FROM bysrc GROUP BY cluster_id, cluster_size)
       |SELECT cluster_size,
       | count(*) AS n_clusters,
       | CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_cross_source,
       | CAST(max(n_sources) AS BIGINT) AS max_sources,
       | ${O.davg("hhi")} AS avg_hhi
       |FROM per GROUP BY 1 ORDER BY cluster_size""".stripMargin
  }

  /** q160: quality-ranked canonical per cluster — the [[dupClusters]]
    * closure joined to `n_chars`, keeping the longest member (min doc_id
    * tiebreak) via the same row_number rule as the engine. */
  val dedupKeepBest: String =
    s"""WITH RECURSIVE $dupPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM dup_pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, d.n_chars, s.cluster_size,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY d.n_chars DESC, l.doc_id) AS rn
       |  FROM labels l
       |  JOIN documents d USING (doc_id)
       |  JOIN sizes s USING (cluster_id))
       |SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
       |  cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** q68: canonical survivors of the dedup closure — one row per cluster
    * representative (min doc_id), with how many near-dups it absorbed. */
  val dedupedCorpus: String =
    s"""WITH RECURSIVE $dupPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM dup_pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT l.doc_id, s.cluster_size - 1 AS n_dropped
       |FROM labels l JOIN sizes s USING (cluster_id)
       |WHERE l.cluster_id = l.doc_id
       |ORDER BY l.doc_id""".stripMargin

  /** q35: portable SimHash fingerprints (62-bit two-lane token hash; bit b
    * of the fingerprint set iff strictly more than half the tokens have bit
    * b set — mirrors the ±1 vote sum being > 0). */
  val simhash: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM documents),
       |th AS (
       |  SELECT doc_id, list_transform(tks, tkn -> ${PortableHash.hash62Sql("tkn")}) AS hvals
       |  FROM tk),
       |fp AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, 64), b ->
       |        CASE WHEN 2 * len(list_filter(hvals, hv -> ((hv >> b) & 1) = 1)) > len(hvals)
       |             THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
       |      (acc, x) -> acc | x) AS simhash
       |  FROM th)
       |SELECT doc_id, simhash, lower(hex(simhash)) AS simhash_hex,
       | simhash >> 48 AS band_hi16
       |FROM fp ORDER BY doc_id""".stripMargin

  /** q38: SRP-LSH bucketed ANN — 4 bands × 4 bits, candidates share a band
    * with a query (vec_id < 8), exact-cosine re-rank, top 5. */
  /** q37: brute-force exact-cosine top-k (nQueries = 8, k = 5) — also the
    * dense arm of q195's retrieval eval. */
  val annBruteforce: String =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |normed AS (
      |  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM emb),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm
      |  FROM normed WHERE vec_id < 8),
      |scored AS (
      |  SELECT query_id, vec_id,
      |   round(list_dot_product(qvec, vec) / (qnorm * norm), 6) AS cosine
      |  FROM normed CROSS JOIN queries WHERE vec_id <> query_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val annLsh: String =
    s"""WITH $srpCte,
       |banded AS (
       |  SELECT vec_id, b AS band_id, (sig >> (b * 4)) & 15 AS bucket
       |  FROM sigs CROSS JOIN range(0, 4) t(b)),
       |q AS (SELECT band_id, bucket, vec_id AS query_id FROM banded WHERE vec_id < 8),
       |cand AS (
       |  SELECT DISTINCT query_id, c.vec_id
       |  FROM banded c JOIN q USING (band_id, bucket) WHERE c.vec_id <> query_id),
       |scored AS (
       |  SELECT query_id, cand.vec_id, ${cosSql("qv.vec", "cv.vec")} AS cosine
       |  FROM cand JOIN emb qv ON qv.vec_id = query_id
       |            JOIN emb cv ON cv.vec_id = cand.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q195: retrieval-arm evaluation — mirrors
    * [[graft.ext.Similarity.retrievalArmEval]] at its registered
    * parameters (nQueries = 8, k = 5, matching [[annBruteforce]]/
    * [[annLsh]]); the PQ arm is [[graft.ext.Spectral.pqTopKSql]]
    * parameterized to the same shape. precision/mrr are single divisions
    * of exact integers, deliberately unrounded. */
  val retrievalArmEval: String = {
    val nQueries = 8
    val pq = graft.ext.Spectral.pqTopKSql(nQueries = nQueries, topK = 5)
    s"""WITH tagged AS (
       |  SELECT 'dense_exact' AS arm, query_id, vec_id, rank
       |  FROM ($annBruteforce) d
       |  UNION ALL
       |  SELECT 'lsh_srp' AS arm, query_id, vec_id, rank
       |  FROM ($annLsh) l
       |  UNION ALL
       |  SELECT 'pq_adc' AS arm, query_id, vec_id, rank
       |  FROM ($pq) p),
       |judged AS (
       |  SELECT tg.arm, tg.query_id, tg.rank,
       |    CASE WHEN r.label = q.label THEN 1 ELSE 0 END AS rel
       |  FROM tagged tg
       |  JOIN embeddings r ON r.vec_id = tg.vec_id
       |  JOIN embeddings q ON q.vec_id = tg.query_id),
       |perq AS (
       |  SELECT arm, query_id, count(*) AS n_ret,
       |    CAST(sum(rel) AS BIGINT) AS n_rel,
       |    coalesce(CAST(1000000 // min(CASE WHEN rel = 1 THEN rank END)
       |      AS BIGINT), 0) AS rr_scaled
       |  FROM judged GROUP BY 1, 2)
       |SELECT arm, CAST(sum(n_ret) AS BIGINT) AS n_retrieved,
       |  CAST(sum(n_rel) AS BIGINT) AS n_relevant,
       |  CAST(sum(n_rel) AS DOUBLE) / sum(n_ret) AS precision_at_k,
       |  CAST(sum(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_queries_hit,
       |  CAST(sum(rr_scaled) AS DOUBLE) / (1000000.0 * $nQueries) AS mrr
       |FROM perq GROUP BY arm
       |ORDER BY arm""".stripMargin
  }

  /** q41: embedding near-dup pairs — 2 bands × 8 bits over the whole
    * corpus, bucket-cap salting (mirror of
    * [[graft.ext.Dedup.saltedBuckets]]), exact cosine ≥ 0.3. */
  val embeddingNearDups: String = {
    val cap = graft.ext.Dedup.DefaultBucketCap
    s"""WITH $srpCte,
       |banded AS (
       |  SELECT vec_id, b AS band_id, (sig >> (b * 8)) & 255 AS bucket
       |  FROM sigs CROSS JOIN range(0, 2) t(b)),
       |bsz AS (SELECT band_id, bucket, count(*) AS bucket_n FROM banded GROUP BY 1, 2),
       |salted AS (
       |  SELECT vec_id, band_id, bucket,
       |    (${graft.ext.Sampling.splitHashSql("vec_id")}) % ((bucket_n + ${cap - 1}) // $cap) AS salt
       |  FROM banded JOIN bsz USING (band_id, bucket)),
       |pairs AS (
       |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
       |  FROM salted l JOIN salted r
       |    ON l.band_id = r.band_id AND l.bucket = r.bucket AND l.salt = r.salt
       |   AND l.vec_id < r.vec_id)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT vec_a, vec_b, ${cosSql("a.vec", "b.vec")} AS cosine
       |  FROM pairs JOIN emb a ON vec_a = a.vec_id JOIN emb b ON vec_b = b.vec_id)
       |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin
  }

  /** q242: lexical-vs-semantic dup-signal agreement — the q34 `dup_pairs`
    * chain and the q41 embedding-pair chain composed in one WITH (the
    * embedding side's CTEs are `e`-prefixed: both chains would otherwise
    * define `salted`), full-outer joined on the pair ids, cross-tabbed.
    * Mirrors [[graft.ext.Dedup.dupSignalAgreement]]. */
  val dupSignalAgreement: String = {
    val cap = graft.ext.Dedup.DefaultBucketCap
    s"""WITH $dupPairsCtes,
       |$srpCte,
       |ebanded AS (
       |  SELECT vec_id, b AS band_id, (sig >> (b * 8)) & 255 AS bucket
       |  FROM sigs CROSS JOIN range(0, 2) t(b)),
       |ebsz AS (SELECT band_id, bucket, count(*) AS bucket_n
       |         FROM ebanded GROUP BY 1, 2),
       |esalted AS (
       |  SELECT vec_id, band_id, bucket,
       |    (${graft.ext.Sampling.splitHashSql("vec_id")}) % ((bucket_n + ${cap - 1}) // $cap) AS salt
       |  FROM ebanded JOIN ebsz USING (band_id, bucket)),
       |ecand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM esalted l JOIN esalted r
       |    ON l.band_id = r.band_id AND l.bucket = r.bucket AND l.salt = r.salt
       |   AND l.vec_id < r.vec_id),
       |sem_pairs AS (
       |  SELECT a, b FROM (
       |    SELECT a, b, ${cosSql("ea.vec", "eb.vec")} AS cosine
       |    FROM ecand JOIN emb ea ON a = ea.vec_id JOIN emb eb ON b = eb.vec_id)
       |  WHERE cosine >= 0.3),
       |joined AS (
       |  SELECT coalesce(l.lex, 0) AS lex, coalesce(s.sem, 0) AS sem
       |  FROM (SELECT doc_a AS a, doc_b AS b, 1 AS lex FROM dup_pairs) l
       |  FULL OUTER JOIN (SELECT a, b, 1 AS sem FROM sem_pairs) s
       |    USING (a, b))
       |SELECT
       |  CAST(coalesce(sum(lex), 0) AS BIGINT) AS n_lexical,
       |  CAST(coalesce(sum(sem), 0) AS BIGINT) AS n_semantic,
       |  CAST(coalesce(sum(lex * sem), 0) AS BIGINT) AS n_both,
       |  CAST(coalesce(sum(lex * (1 - sem)), 0) AS BIGINT) AS n_lex_only,
       |  CAST(coalesce(sum((1 - lex) * sem), 0) AS BIGINT) AS n_sem_only,
       |  CASE WHEN coalesce(sum(lex), 0) + coalesce(sum((1 - lex) * sem), 0) = 0
       |       THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(coalesce(sum(lex * sem), 0) AS DOUBLE)
       |            / CAST(coalesce(sum(lex), 0)
       |                   + coalesce(sum((1 - lex) * sem), 0) AS DOUBLE)
       |  END AS pair_jaccard
       |FROM joined""".stripMargin
  }

  /** q243: per-source memorization-risk report — mirrors
    * [[graft.ext.Dedup.memorizationRisk]]: q84's 15-token window hashing,
    * (hash, source) counts, corpus-wide occurrence via a window over the
    * aggregated frame, per-source at-risk shares at thresholds 2/4/8. */
  val memorizationRisk: String =
    """WITH tk AS (
      |  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS tks
      |  FROM documents),
      |w AS (
      |  SELECT source, md5(array_to_string(tks[i:i+14], ' ')) AS span_hash
      |  FROM tk, unnest(range(1, len(tks) - 13)) u(i)
      |  WHERE len(tks) >= 15),
      |l AS (
      |  SELECT span_hash, source, count(*) AS local_n FROM w GROUP BY 1, 2),
      |g AS (
      |  SELECT source, local_n,
      |    CAST(sum(local_n) OVER (PARTITION BY span_hash) AS BIGINT) AS global_n
      |  FROM l)
      |SELECT source,
      |  CAST(sum(local_n) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN global_n >= 2 THEN local_n ELSE 0 END) AS BIGINT) AS n_ge_2,
      |  CAST(sum(CASE WHEN global_n >= 4 THEN local_n ELSE 0 END) AS BIGINT) AS n_ge_4,
      |  CAST(sum(CASE WHEN global_n >= 8 THEN local_n ELSE 0 END) AS BIGINT) AS n_ge_8,
      |  CAST(sum(CASE WHEN global_n >= 2 THEN local_n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(local_n) AS DOUBLE) AS frac_ge_2,
      |  CAST(sum(CASE WHEN global_n >= 4 THEN local_n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(local_n) AS DOUBLE) AS frac_ge_4,
      |  CAST(sum(CASE WHEN global_n >= 8 THEN local_n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(local_n) AS DOUBLE) AS frac_ge_8
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q43: IVF — id-strided coarse centroids (n/16 stride, first 16 by
    * vec_id), nearest-centroid assignment, 4-list probes for queries
    * (vec_id < 8), exact re-rank top 5. Assignment/probe ranking uses the
    * 6-dp-rounded cosine with centroid_id tiebreak, like the engine. */
  val annIvf: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS centroid_id, vec AS cvec FROM emb
       |  WHERE vec_id % greatest(1, (SELECT count(*) FROM emb) // 16) = 0
       |  ORDER BY vec_id LIMIT 16),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.vec", "c.cvec")} DESC, c.centroid_id) AS rn
       |    FROM emb e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.vec", "c.cvec")} DESC, c.centroid_id) AS rn
       |    FROM emb e CROSS JOIN cents c WHERE e.vec_id < 8)
       |  WHERE rn <= 4),
       |cand AS (
       |  SELECT DISTINCT query_id, a.vec_id
       |  FROM probes JOIN assign a USING (centroid_id)
       |  WHERE a.vec_id <> query_id),
       |scored AS (
       |  SELECT query_id, cand.vec_id, ${cosSql("qv.vec", "cv.vec")} AS cosine
       |  FROM cand JOIN emb qv ON qv.vec_id = query_id
       |            JOIN emb cv ON cv.vec_id = cand.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q106: IVF + SQ8 — the q43 routing (seed centroids, nProbe=4) feeding
    * the q78 quantized scoring, exact re-rank of survivors. */
  val annIvfQuantized: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS centroid_id, vec AS cvec FROM emb
       |  WHERE vec_id % greatest(1, (SELECT count(*) FROM emb) // 16) = 0
       |  ORDER BY vec_id LIMIT 16),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.vec", "c.cvec")} DESC, c.centroid_id) AS rn
       |    FROM emb e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT e.vec_id AS query_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.vec", "c.cvec")} DESC, c.centroid_id) AS rn
       |    FROM emb e CROSS JOIN cents c WHERE e.vec_id < 8)
       |  WHERE rn <= 4),
       |mx AS (
       |  SELECT vec_id, vec,
       |   list_max(list_transform(vec, x -> abs(x))) AS maxabs
       |  FROM emb),
       |quant AS (
       |  SELECT vec_id, vec,
       |   CASE WHEN maxabs = 0.0e0
       |        THEN list_transform(vec, x -> CAST(0 AS BIGINT))
       |        ELSE list_transform(vec, x -> CAST(floor(x * 127.0e0 / maxabs) AS BIGINT))
       |   END AS q
       |  FROM mx),
       |qn AS (
       |  SELECT vec_id, vec, q,
       |   sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) AS qnorm
       |  FROM quant),
       |queries AS (
       |  SELECT vec_id AS query_id, q AS qq, qnorm AS qqnorm, vec AS qvec
       |  FROM qn WHERE vec_id < 8),
       |cand AS (
       |  SELECT DISTINCT query_id, a.vec_id
       |  FROM probes JOIN assign a USING (centroid_id)
       |  WHERE a.vec_id <> query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |   round(CAST(list_dot_product(u.qq, v.q) AS DOUBLE)
       |     / (u.qqnorm * v.qnorm), 6) AS qcosine
       |  FROM cand c
       |  JOIN qn v ON v.vec_id = c.vec_id
       |  JOIN queries u ON u.query_id = c.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY qcosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT r.query_id, r.vec_id, r.qcosine,
       | ${cosSql("u.qvec", "cv.vec")} AS cosine,
       | CAST(r.rank AS INTEGER) AS rank
       |FROM ranked r
       |JOIN queries u ON u.query_id = r.query_id
       |JOIN qn cv ON cv.vec_id = r.vec_id
       |WHERE r.rank <= 5 ORDER BY r.query_id, r.rank""".stripMargin

  /** q61: intra-document repetition ratio over word 3-shingles. */
  val repetitionStats: String =
    s"""WITH $shingleCte
       |SELECT doc_id,
       | CAST(len(shingles) AS INTEGER) AS n_shingles,
       | CAST(len(list_distinct(shingles)) AS INTEGER) AS n_distinct_shingles,
       | CASE WHEN len(shingles) = 0 THEN 0.0e0
       |   ELSE round(CAST(len(shingles) - len(list_distinct(shingles)) AS DOUBLE)
       |     / len(shingles), 6) END AS repetition_ratio
       |FROM sh ORDER BY doc_id""".stripMargin

  /** q62: benchmark decontamination — distinct-shingle overlap between each
    * training document and the `doc_id % 20 = 0` benchmark subset. */
  val decontamination: String =
    s"""WITH $shingleCte,
       |dsh AS (SELECT doc_id, list_distinct(shingles) AS shs FROM sh),
       |bench AS (
       |  SELECT DISTINCT s FROM dsh, UNNEST(shs) AS t(s) WHERE doc_id % 20 = 0),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hits
       |  FROM dsh, UNNEST(shs) AS t(s)
       |  WHERE doc_id % 20 <> 0 AND s IN (SELECT s FROM bench)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       | coalesce(h.n_hits, 0) AS n_contaminated_shingles,
       | coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id % 20 <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** q40: KMV bottom-k distinct sketch per order priority (k = 256). */
  val kmvDistinct: String =
    s"""WITH hashed AS (
       |  SELECT o_orderpriority, ${KmvSketch.hash31Sql("o_custkey")} AS hv
       |  FROM orders)
       |SELECT o_orderpriority, count(*) AS n_orders,
       | ${KmvSketch.estimateSql("hv", 256)} AS approx_customers
       |FROM hashed GROUP BY 1 ORDER BY 1""".stripMargin

  /** q100: the composed training-corpus pipeline — dedup survivors
    * (recursive-CTE closure, as q68) ∩ quality pass (q71's four stages
    * conjoined) → split assignment → per-(lang, split) release stats.
    * Mirrors [[graft.ext.TrainingPipeline.trainingCorpus]]. */
  val trainingCorpus: String = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
      .map(s => s"'$s'").mkString("[", ", ", "]")
    val b = s"(${graft.ext.Sampling.splitHashSql("d.doc_id")}) % 100"
    s"""WITH RECURSIVE $dupPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM dup_pairs),
       |reach(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
       |survivors AS (SELECT doc_id FROM labels WHERE cluster_id = doc_id),
       |kept AS (
       |  SELECT d.doc_id, d.lang,
       |   CAST(len(d.tks) AS BIGINT) AS n_tokens,
       |   CASE WHEN $b < 80 THEN 'train'
       |        WHEN $b < 90 THEN 'val'
       |        ELSE 'test' END AS split
       |  FROM (SELECT doc_id, lang, text,
       |          string_split_regex(trim(text), '\\s+') AS tks
       |        FROM documents) d
       |  JOIN survivors s ON d.doc_id = s.doc_id
       |  WHERE len(d.tks) BETWEEN 10 AND 100000
       |    AND CAST(length(d.text) AS DOUBLE) / len(d.tks) >= 2.0e0
       |    AND CAST(length(d.text) AS DOUBLE) / len(d.tks) <= 12.0e0
       |    AND CAST(len(list_distinct(d.tks)) AS DOUBLE) / len(d.tks) >= 0.3e0
       |    AND len(list_filter(d.tks, tk -> list_contains($stop, tk))) >= 1)
       |SELECT lang, split, count(*) AS n_docs,
       | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       | round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS avg_tokens
       |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q88: SemDeDup — the q43 IVF seed clustering, then within-(cluster,
    * salt) pairwise cosine; a vector is dropped iff a lower-id bucket-mate
    * sits at cosine ≥ 0.3. Salting replays [[graft.ext.Sampling.splitHash]]
    * exactly as the LSH dedup oracles do. */
  val semDedup: String = {
    val cap = graft.ext.Dedup.DefaultBucketCap
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS centroid_id, vec AS cvec FROM emb
       |  WHERE vec_id % greatest(1, (SELECT count(*) FROM emb) // 16) = 0
       |  ORDER BY vec_id LIMIT 16),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.vec", "c.cvec")} DESC, c.centroid_id) AS rn
       |    FROM emb e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |csz AS (SELECT centroid_id, count(*) AS cn FROM assign GROUP BY 1),
       |salted AS (
       |  SELECT vec_id, centroid_id,
       |    (${graft.ext.Sampling.splitHashSql("vec_id")}) % ((cn + ${cap - 1}) // $cap) AS salt
       |  FROM assign JOIN csz USING (centroid_id)),
       |dropped AS (
       |  SELECT DISTINCT r.vec_id
       |  FROM salted l JOIN salted r
       |    ON l.centroid_id = r.centroid_id AND l.salt = r.salt
       |   AND l.vec_id < r.vec_id
       |  JOIN emb a ON a.vec_id = l.vec_id
       |  JOIN emb b ON b.vec_id = r.vec_id
       |  WHERE ${cosSql("a.vec", "b.vec")} >= 0.3e0)
       |SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS is_kept
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** q86: Count-Min heavy hitters — replays every sketch counter with the
    * portable key hash and the explicit lane literals of
    * [[graft.functions.CountMinSketch]], then probes the top-100 exact
    * bigrams: estimate = min over lanes of the bucket counter. */
  val cmsHeavyHitters: String = {
    import graft.functions.CountMinSketch.{Depth, LaneA, LaneB, P, Width}
    val lanesValues = (0 until Depth)
      .map(i => s"(${i}, ${LaneA(i)}, ${LaneB(i)})").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
       |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
       |  FROM tk WHERE len(tks) >= 2),
       |counts AS (
       |  SELECT bigram, count(*) AS c, count(DISTINCT doc_id) AS d
       |  FROM bg GROUP BY 1),
       |hashed AS (
       |  SELECT bigram, c, d, ${PortableHash.hash32Sql("bigram")} AS h
       |  FROM counts),
       |lanes AS (SELECT * FROM (VALUES $lanesValues) AS t(lane, a, b)),
       |counters AS (
       |  SELECT lane, ((a * h + b) % $P) % $Width AS bucket,
       |   CAST(sum(c) AS BIGINT) AS cnt
       |  FROM hashed CROSS JOIN lanes GROUP BY 1, 2),
       |topk AS (
       |  SELECT bigram, c, d, h FROM hashed
       |  ORDER BY c DESC, bigram LIMIT 100),
       |probe AS (
       |  SELECT t.bigram, t.c, t.d, min(ct.cnt) AS est
       |  FROM topk t CROSS JOIN lanes l
       |  JOIN counters ct
       |    ON ct.lane = l.lane AND ct.bucket = ((l.a * t.h + l.b) % $P) % $Width
       |  GROUP BY 1, 2, 3)
       |SELECT bigram, c AS n_occurrences, d AS n_docs, est AS cms_estimate,
       | CAST(est - c AS BIGINT) AS overestimate
       |FROM probe ORDER BY n_occurrences DESC, bigram""".stripMargin
  }

  /** q78: int8 scalar-quantized ANN — per-vector symmetric quantization
    * (⌊x·127/max|x|⌋, exact IEEE), integer-domain quantized cosine for the
    * ranking, exact cosine re-ranked for the top-k survivors. Mirrors
    * [[graft.ext.Similarity.quantizedTopK]] code-for-code. */
  val annQuantized: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |mx AS (
       |  SELECT vec_id, vec,
       |   list_max(list_transform(vec, x -> abs(x))) AS maxabs
       |  FROM emb),
       |quant AS (
       |  SELECT vec_id, vec,
       |   CASE WHEN maxabs = 0.0e0
       |        THEN list_transform(vec, x -> CAST(0 AS BIGINT))
       |        ELSE list_transform(vec, x -> CAST(floor(x * 127.0e0 / maxabs) AS BIGINT))
       |   END AS q
       |  FROM mx),
       |qn AS (
       |  SELECT vec_id, vec, q,
       |   sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) AS qnorm
       |  FROM quant),
       |queries AS (
       |  SELECT vec_id AS query_id, q AS qq, qnorm AS qqnorm, vec AS qvec
       |  FROM qn WHERE vec_id < 8),
       |scored AS (
       |  SELECT query_id, vec_id,
       |   round(CAST(list_dot_product(qq, q) AS DOUBLE) / (qqnorm * qnorm), 6)
       |     AS qcosine
       |  FROM qn CROSS JOIN queries WHERE vec_id <> query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY qcosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT r.query_id, r.vec_id, r.qcosine,
       | ${cosSql("qv.qvec", "cv.vec")} AS cosine,
       | CAST(r.rank AS INTEGER) AS rank
       |FROM ranked r
       |JOIN queries qv ON qv.query_id = r.query_id
       |JOIN qn cv ON cv.vec_id = r.vec_id
       |WHERE r.rank <= 5 ORDER BY r.query_id, r.rank""".stripMargin

  /** q107/q108: equi-depth histogram on grid-refined APPROXIMATE quantile
    * edges — the bounded-memory production path of q102/q105. Every stage
    * (min/max/count, equi-width cell counts, cumulative crossing, uniform
    * interpolation) is order-independent IEEE arithmetic written with the
    * same expression shapes as [[graft.operators.Analytics.gridQuantileEdges]],
    * so DuckDB replays the approximation bit-for-bit. */
  def gridEquiDepth(buckets: Int, grid: Int, grouped: Boolean): String = {
    val g = if (grouped) "o_orderpriority, " else ""
    val gSel = if (grouped) "o_orderpriority," else ""
    val mmJoin =
      if (grouped) "JOIN mm USING (o_orderpriority)" else "CROSS JOIN mm"
    val partition = if (grouped) "PARTITION BY o_orderpriority " else ""
    val edges = (1 until buckets).map(i => s"es[$i] AS e$i").mkString(", ")
    val bucket = (1 until buckets).map(i =>
      s"CASE WHEN e$i <= o_totalprice THEN 1 ELSE 0 END").mkString(" + ")
    val edgesJoin =
      if (grouped) "JOIN edges USING (o_orderpriority)" else "CROSS JOIN edges"
    val orderBy = if (grouped) "1, 2" else "1"
    s"""WITH mm AS (
       |  SELECT ${g}min(o_totalprice) AS mn, max(o_totalprice) AS mx,
       |   CAST(count(*) AS DOUBLE) AS n
       |  FROM orders ${if (grouped) "GROUP BY 1" else ""}),
       |hist AS (
       |  SELECT $gSel
       |   CASE WHEN mm.mx = mm.mn THEN 0
       |    ELSE LEAST(CAST(floor((o_totalprice - mm.mn) / (mm.mx - mm.mn)
       |      * $grid.0) AS INTEGER), ${grid - 1}) END AS bin,
       |   count(*) AS c, max(mm.mn) AS mn, max(mm.mx) AS mx, max(mm.n) AS n
       |  FROM orders $mmJoin
       |  GROUP BY ${if (grouped) "1, 2" else "1"}),
       |cum AS (
       |  SELECT *, COALESCE(SUM(c) OVER (${partition}ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM hist),
       |targets AS (SELECT CAST(range AS INTEGER) AS i FROM range(1, $buckets)),
       |edge_rows AS (
       |  SELECT $gSel
       |   cum.mn + (CAST(cum.bin AS DOUBLE)
       |     + (CAST(t.i AS DOUBLE) * cum.n / $buckets.0 - CAST(cum.cb AS DOUBLE))
       |       / CAST(cum.c AS DOUBLE))
       |     * ((cum.mx - cum.mn) / $grid.0) AS edge
       |  FROM cum JOIN targets t
       |    ON CAST(cum.cb AS DOUBLE) <= CAST(t.i AS DOUBLE) * cum.n / $buckets.0
       |   AND CAST(cum.cb + cum.c AS DOUBLE) > CAST(t.i AS DOUBLE) * cum.n / $buckets.0),
       |es0 AS (
       |  SELECT ${gSel}list_sort(list(edge)) AS es FROM edge_rows
       |  ${if (grouped) "GROUP BY 1" else ""}),
       |edges AS (SELECT $gSel$edges FROM es0)
       |SELECT $gSel($bucket) AS bucket, count(*) AS n_orders,
       | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
       |FROM orders $edgesJoin
       |GROUP BY ${if (grouped) "1, 2" else "1"} ORDER BY $orderBy""".stripMargin
  }

  /** q109: cumulative per-day quantiles via mergeable grid-histogram
    * states — mirrors [[graft.operators.Analytics.cumulativeQuantiles]]
    * expression-for-expression (same IEEE shapes as [[gridEquiDepth]]). */
  def cumulativeQuantiles(grid: Int): String =
    s"""WITH mm AS (
       |  SELECT min(value) AS mn, max(value) AS mx
       |  FROM events WHERE value IS NOT NULL),
       |daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |   CASE WHEN mm.mx = mm.mn THEN 0
       |    ELSE LEAST(CAST(floor((value - mm.mn) / (mm.mx - mm.mn)
       |      * $grid.0) AS INTEGER), ${grid - 1}) END AS bin,
       |   count(*) AS c, max(mm.mn) AS mn, max(mm.mx) AS mx
       |  FROM events CROSS JOIN mm WHERE value IS NOT NULL
       |  GROUP BY 1, 2),
       |days AS (SELECT DISTINCT day AS d_day FROM daily),
       |merged AS (
       |  SELECT d.d_day AS day, e.bin, SUM(e.c) AS c,
       |   max(e.mn) AS mn, max(e.mx) AS mx
       |  FROM daily e JOIN days d ON e.day <= d.d_day
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT *,
       |   COALESCE(SUM(c) OVER (PARTITION BY day ORDER BY bin
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |   CAST(SUM(c) OVER (PARTITION BY day) AS DOUBLE) AS n
       |  FROM merged),
       |targets AS (SELECT 0.5e0 AS q UNION ALL SELECT 0.9e0 AS q),
       |hits AS (
       |  SELECT cum.day, t.q,
       |   cum.n,
       |   cum.mn + (CAST(cum.bin AS DOUBLE)
       |     + (t.q * cum.n - CAST(cum.cb AS DOUBLE)) / CAST(cum.c AS DOUBLE))
       |     * ((cum.mx - cum.mn) / $grid.0) AS edge
       |  FROM cum JOIN targets t
       |    ON CAST(cum.cb AS DOUBLE) <= t.q * cum.n
       |   AND CAST(cum.cb + cum.c AS DOUBLE) > t.q * cum.n)
       |SELECT day, CAST(max(n) AS BIGINT) AS cum_events,
       | max(CASE WHEN q = 0.5e0 THEN edge END) AS p50,
       | max(CASE WHEN q = 0.9e0 THEN edge END) AS p90
       |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin
}

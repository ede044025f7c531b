package graft.ext

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID, and
  * document fingerprinting. All are narrow per-row transformations built
  * from codegen'd built-ins (no UDFs) — they scan, compute, and emit with
  * zero shuffles, so they scale linearly with input splits.
  */
object TextAnalysis {

  /** Whitespace tokenization; trim first so leading/trailing space doesn't
    * produce empty tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  private[ext] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** q111: hashed linear quality classifier — BATCH MODEL INFERENCE inside
    * the engine, the fastText/CCNet-filter shape every pretraining corpus
    * runs: tokens → hashed feature buckets → dot product with a weight
    * vector → per-document score and keep/drop decision. The weight
    * "model" here is a deterministic function of the bucket index (a
    * stand-in for trained weights; the plumbing — feature hashing, fold,
    * scoring, filtering — is the production shape, and a real weight
    * array would broadcast identically). Entirely narrow: per-row
    * higher-order fold, zero shuffles before the output sort. The score
    * stays LINEAR (mean feature weight) rather than sigmoid'd: the
    * decision boundary is the same and avoiding `exp` keeps the
    * arithmetic bit-replayable in DuckDB (libm exp is not guaranteed
    * correctly-rounded across engines; +, *, / are IEEE-exact).
    *
    * Hashing rides [[graft.functions.CountMinSketch.keyHash]]
    * ([[graft.functions.PortableHash.hash32]]) so the oracle replays
    * every bucket id. */
  def qualityClassifier(t: Tables, buckets: Int = 4096,
                        threshold: Double = 0.0): DataFrame = {
    graft.functions.CountMinSketch.register(t.spark)
    import graft.functions.CountMinSketch.keyHash
    val tks = tokens(lower(col("text")))
    val weightOf: Column => Column = h =>
      ((pmod(h, lit(buckets.toLong)) * lit(2654435761L) + lit(104729L)) % lit(1000003L))
        .cast("double") / lit(1000003.0) - lit(0.5)
    val wsum = aggregate(
      transform(tks, tok => weightOf(keyHash(tok))),
      lit(0.0), (acc, w) => acc + w)
    t.documents
      .select(
        col("doc_id"),
        size(tks).cast("long").as("n_tokens"),
        wsum.as("wsum"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("wsum") / col("n_tokens"), 6).as("quality_score"),
        (col("wsum") / col("n_tokens") > threshold).as("quality_pass"))
      .orderBy(col("doc_id"))
  }

  /** Token counting + quality scoring (length / distinct-token ratio /
    * stopword ratio), the heuristics a pretraining cleanliness filter
    * applies per document. */
  def textStats(t: Tables): DataFrame = {
    val tks = tokens(col("text"))
    t.documents
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars"),
        size(tks).as("n_tokens"),
        size(array_distinct(tks)).as("n_distinct_tokens"),
        round(length(col("text")).cast("double") / size(tks), 4).as("avg_token_len"),
        size(filter(tks, tk => tk.isin(stopwords.map(lit(_)): _*))).as("n_stopwords"))
      .withColumn(
        "distinct_ratio",
        round(col("n_distinct_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn(
        "stopword_ratio",
        round(col("n_stopwords").cast("double") / col("n_tokens"), 6))
      .withColumn(
        "quality_score",
        round(
          least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.4) +
            col("distinct_ratio") * lit(0.4) +
            least(col("stopword_ratio") * lit(5.0), lit(1.0)) * lit(0.2),
          6))
      .orderBy(col("doc_id"))
  }

  /** Language ID by marker-token counting (n-gram heuristic): count
    * occurrences of per-language marker words, argmax with a fixed priority
    * order for ties. Deterministic and SQL-expressible, so it is
    * oracle-checkable; a production version would swap in a larger marker
    * table (broadcast dimension) without changing the shape. */
  // non-overlapping occurrences of ` marker ` in the padded text via the
  // length-difference trick (engine-portable, no regex dialects). Adjacent
  // repeats share their delimiting space and count once — the oracle
  // mirrors the same expression, so both sides agree. Shared with the q214
  // kappa audit, which re-runs the same classifier per source.
  private[graft] def markerOcc(marker: String): Column = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val needle = s" $marker "
    ((length(padded) - length(replace(padded, lit(needle), lit("")))) / needle.length)
      .cast("int")
  }

  /** The q31 argmax-with-fixed-priority decision over the three marker
    * scores — factored so q214 applies the identical classifier. */
  private[graft] def langDecision: Column =
    when(col("score_en") >= col("score_fr") && col("score_en") >= col("score_es"), "en")
      .when(col("score_fr") >= col("score_es"), "fr")
      .otherwise("es")

  def langId(t: Tables): DataFrame = {
    def occ(marker: String): Column = markerOcc(marker)
    t.documents
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        occ("the").as("score_en"),
        occ("table").as("score_fr"),
        occ("data").as("score_es"))
      .withColumn("predicted_lang", langDecision)
      .orderBy(col("doc_id"))
  }

  /** BPE-ish tokenization: alpha runs, digit runs, and single punctuation
    * marks as separate tokens (the shape of a byte-pair pre-tokenizer's
    * word-split stage; RE2/Java-portable character classes so the DuckDB
    * oracle can replay it). */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpeishPattern), lit(0))

  /** Token-count surface over the BPE-ish tokenizer: token/distinct/alpha/
    * digit counts per document, via the single-pass native
    * [[graft.functions.TokenCounts]] expression (the composable
    * regexp+HOF form below is kept as the semantic reference; parity is
    * asserted in TextAnalysisSpec). */
  def tokenCounts(t: Tables): DataFrame = {
    graft.functions.TokenCountsExpression.register(t.spark)
    t.documents
      .select(
        col("doc_id"),
        graft.functions.TokenCountsExpression.tokenCounts(col("text")).as("tc"))
      .select(
        col("doc_id"),
        col("tc.n_tokens").as("n_tokens"),
        col("tc.n_distinct_tokens").as("n_distinct_tokens"),
        col("tc.n_alpha_tokens").as("n_alpha_tokens"),
        col("tc.n_digit_tokens").as("n_digit_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Composable reference form of [[tokenCounts]] — regexp tokenize +
    * HOF counting. Semantically identical (spec-asserted); interpreted HOFs
    * + per-token regexes make it ~10× slower, so it is not the query path. */
  private[graft] def tokenCountsHof(t: Tables): DataFrame = {
    val tks = bpeishTokens(col("text"))
    t.documents
      .select(
        col("doc_id"),
        size(tks).as("n_tokens"),
        size(array_distinct(tks)).as("n_distinct_tokens"),
        size(filter(tks, tk => tk.rlike("^[a-z]+$"))).as("n_alpha_tokens"),
        size(filter(tks, tk => tk.rlike("^[0-9]+$"))).as("n_digit_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: rolling polynomial hash over the token stream,
    * mod 1e9+7. Engine-portable arithmetic (no xxhash64) so the DuckDB
    * oracle can replay it with list_reduce: each token contributes
    * `ascii(first_char) * 31 + length(token)`, folded left as
    * `acc * 131 + contrib (mod p)`. */
  def fingerprint(t: Tables): DataFrame = {
    val p = 1000000007L
    val tks = tokens(col("text"))
    t.documents
      .select(
        col("doc_id"),
        aggregate(
          tks,
          lit(0L),
          (acc, tk) => pmod(acc * lit(131L) + (ascii(tk) * lit(31L) + length(tk)), lit(p)))
          .as("fingerprint"),
        size(tks).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q181: winnowing fingerprint overlap — the MOSS local-fingerprinting
    * recipe (Schleimer, Wilkerson & Aiken, SIGMOD 2003) applied to corpus
    * near-dup detection: hash every word k-shingle with the portable q32
    * rolling hash, slide a window of `w` consecutive shingle hashes over
    * each document and keep each window's MINIMUM — the selected set is
    * tiny (≈ 2/(w+1) of all shingles) yet GUARANTEES any shared run of
    * ≥ w+k−1 tokens leaves at least one common fingerprint in both
    * documents. Pairs sharing ≥ `minShared` selected fingerprints are
    * reported with an overlap estimate (shared / min selected).
    *
    * Versus the full-shingle families: q32 is one global hash (whole-doc
    * identity), q34/q36 estimate set resemblance — winnowing is the
    * guaranteed-detection LOCAL form (find docs sharing any long-enough
    * passage) at a fraction of the posting volume.
    *
    * Scale shape: selection is a narrow per-document HOF chain (no
    * shuffle); the posting table is the SELECTED fingerprints only, then
    * the q174 df-cut posting self-join doctrine bounds per-fingerprint
    * pair work at C(dfCap, 2) — linear in corpus size. The df-cut is the
    * usual recall contract: a fingerprint shared by > dfCap docs
    * (boilerplate) stops voting, so `n_shared` under-counts exactly when
    * prefixes are corpus-stopwords. Docs with fewer than w shingles keep
    * ALL their hashes (the window would cover the whole doc). */
  def winnowingOverlap(t: Tables, k: Int = 3, w: Int = 4,
                       dfCap: Int = 64, minShared: Int = 2): DataFrame = {
    // Selection runs in the native WinnowedFingerprints expression — the
    // composable transform/aggregate/slice chain is semantically identical
    // but interpreted per element (Catalyst HOFs are CodegenFallback) and
    // measured 359 s at sf0.1 vs well under a second native. Hot per-row
    // kernels belong in expressions: the MinHashExpression doctrine.
    graft.functions.WinnowExpression.register(t.spark)
    val selected = t.documents
      .select(col("doc_id"), tokens(col("text")).as("tks"))
      .filter(size(col("tks")) >= k)
      .select(col("doc_id"),
        graft.functions.WinnowExpression.winnow(col("tks"), k, w).as("sel"))
    val postings = selected
      .select(col("doc_id"), size(col("sel")).cast("long").as("n_sel"),
        explode(col("sel")).as("fp"))
    val df = postings.groupBy(col("fp")).agg(count(lit(1)).as("fp_df"))
    val kept = postings
      .join(df.filter(col("fp_df") <= dfCap).select(col("fp")), Seq("fp"))
    kept.as("a").join(kept.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sel").as("n_sel_a"), col("b.n_sel").as("n_sel_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_sel_a"), col("n_sel_b"),
        round(col("n_shared").cast("double") /
          least(col("n_sel_a"), col("n_sel_b")), 6).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The DuckDB mirror of [[winnowingOverlap]]: the same HOF chain via
    * list_transform/list_reduce/list_min, then the df-cut posting
    * self-join. */
  def winnowingOverlapSql(k: Int = 3, w: Int = 4,
                          dfCap: Int = 64, minShared: Int = 2): String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(tks) - $k + 2), i ->
       |      list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(tks[i:i + $k - 1],
       |            tk -> CAST(ascii(tk) * 31 + length(tk) AS BIGINT))),
       |        (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
       |  FROM tk WHERE len(tks) >= $k),
       |sel AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(hs) >= $w
       |      THEN list_transform(range(1, len(hs) - $w + 2), j ->
       |             list_min(hs[j:j + $w - 1]))
       |      ELSE hs END) AS sel
       |  FROM hs),
       |post AS (
       |  SELECT doc_id, len(sel) AS n_sel, unnest(sel) AS fp FROM sel),
       |keep AS (
       |  SELECT p.* FROM post p
       |  JOIN (SELECT fp FROM post GROUP BY fp HAVING count(*) <= $dfCap) d
       |  USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared,
       |  a.n_sel AS n_sel_a, b.n_sel AS n_sel_b,
       |  round(CAST(count(*) AS DOUBLE) / least(a.n_sel, b.n_sel), 6)
       |    AS overlap
       |FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, 4, 5
       |HAVING count(*) >= $minShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q61: intra-document repetition ratio — the fraction of word 3-shingles
    * that are repeats of an earlier shingle in the same document. The
    * standard pretraining quality signal for boilerplate/spam (the
    * duplicate-n-gram family of filters in Gopher/RefinedWeb-style
    * pipelines: Rae et al. 2021 §A1.1). Pure narrow projection over the
    * native shingle kernel — zero shuffles, linear in input splits. */
  def repetitionStats(t: Tables): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val sh = graft.functions.ShingleExpression.wordShingles(tokens(col("text")))
    t.documents
      .select(
        col("doc_id"),
        size(sh).as("n_shingles"),
        size(array_distinct(sh)).as("n_distinct_shingles"))
      .withColumn(
        "repetition_ratio",
        // Guard the 0/0 case: Spark doubles give NaN there but DuckDB
        // gives NULL, which would break bit-portability. Unreachable with
        // the current tokenizer (split('') = [''] → the n<k branch emits
        // one joined shingle, so n_shingles >= 1), but the ratio must not
        // silently depend on that tokenizer detail.
        when(col("n_shingles") === 0, lit(0.0)).otherwise(
          round((col("n_shingles") - col("n_distinct_shingles")).cast("double") /
            col("n_shingles"), 6)))
      .orderBy(col("doc_id"))
  }

  /** q62: benchmark decontamination — flag training documents sharing any
    * word 3-shingle with a held-out benchmark set (here the deterministic
    * `doc_id % 20 == 0` subset; in production, the eval suites). The
    * n-gram-overlap contamination check every serious pretraining pipeline
    * runs before release (GPT-3 §C / PaLM-style 13-gram variants are the
    * same shape with a different k).
    *
    * Scale notes: documents never shuffle — only (doc_id, shingle) pairs
    * do, already deduplicated per document. The benchmark side is a
    * distinct-shingle set, usually small enough for AQE to broadcast; at
    * 100 TB the join key would be xxhash64(shingle) (8-byte shuffle rows,
    * collision-tolerant for a flagging pass), kept as the string here so
    * the DuckDB oracle replays exactly. */
  def decontamination(t: Tables): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val docs = t.documents.select(
      col("doc_id"),
      array_distinct(
        graft.functions.ShingleExpression.wordShingles(tokens(col("text")))).as("shs"))
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(explode(col("shs")).as("s")).distinct()
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val hits = train
      .select(col("doc_id"), explode(col("shs")).as("s"))
      .join(bench, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits")) // rows unique per (doc, s) ⇒ distinct overlap
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated_shingles"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q63: PII redaction — mask email addresses, phone-shaped numbers, and
    * long digit runs before a corpus ships to training. Patterns stay in
    * the RE2 ∩ java.util.regex dialect intersection (character classes,
    * bounded repetition, `\b`) so the DuckDB oracle replays them exactly;
    * no lookarounds. Narrow projection — zero shuffles, and the redaction
    * counts come from the SAME extract the replace uses, so count and
    * output can't drift apart. */
  def piiRedact(t: Tables): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
    val longNumRe = "\\b[0-9]{6,}\\b"
    t.documents
      .select(
        col("doc_id"),
        col("text"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          longNumRe, "<NUM>").as("redacted"))
      .withColumn("was_redacted",
        col("n_emails") > 0 || col("n_phones") > 0 || col("redacted") =!= col("text"))
      .drop("text")
      .orderBy(col("doc_id"))
  }

  /** q64: corpus vocabulary — top-k terms by total occurrences with
    * document frequency, the released-artifact companion of a tokenizer
    * build. Explode (narrow) → one shuffle on the term for both counts →
    * TakeOrdered top-k (never a global sort). Tie-break on the term keeps
    * the cut deterministic. */
  def vocabulary(t: Tables, k: Int = 100): DataFrame =
    t.documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(k)

  /** q116: per-language vocabulary head — the k terms with the highest
    * document frequency in each language, via the bounded-heap top-k
    * aggregate ([[graft.functions.TopKAgg.topKStrBy]]) rather than a
    * `row_number()` window. The distinction matters here more than
    * anywhere: the (lang, term) df frame is vocabulary-sized (millions of
    * terms per language at corpus scale), and the window form would
    * shuffle-sort all of it to keep 10 rows per language. Doc-level term
    * dedup rides `array_distinct` INSIDE the narrow explode (no
    * (doc, term) distinct shuffle); the df count is then one exchange. */
  def topTermsPerLang(t: Tables, k: Int = 10): DataFrame = {
    graft.functions.TopKAgg.register(t.spark)
    t.documents
      .select(col("lang"),
        explode(array_distinct(tokens(lower(col("text"))))).as("term"))
      .filter(length(col("term")) > 0) // whitespace-only docs yield [""]
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAgg.topKStrBy(col("df"), col("term"), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(
        col("lang"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.payload").as("term"),
        col("col.ord").as("df"))
      .orderBy(col("lang"), col("rank"))
  }

  /** The DuckDB mirror of [[topTermsPerLang]]: the window form. */
  def topTermsPerLangSql(k: Int = 10): String =
    s"""WITH tk AS (
       |  SELECT lang,
       |   unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS term
       |  FROM documents),
       |df AS (SELECT lang, term, count(*) AS df FROM tk
       |       WHERE length(term) > 0 GROUP BY 1, 2)
       |SELECT lang, CAST(rn AS INTEGER) AS rank, term, df
       |FROM (SELECT lang, term, df,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY df DESC, term) AS rn
       |      FROM df)
       |WHERE rn <= $k
       |ORDER BY lang, rank""".stripMargin

  /** q94: the full inverted index — term → document frequency, corpus
    * frequency, and the posting list itself ("doc:tf" entries, doc-ordered)
    * — the table a keyword-search serving layer reads. Build shape: one
    * narrow explode, one shuffle to (term, doc) partials, one shuffle to
    * terms; the posting list is assembled INSIDE the term aggregate
    * (sort + join of struct list), never via a global sort. At 100 TB the
    * posting strings for stopword-class terms are the skew risk — cap or
    * segment postings per term before serving (df stays exact either way);
    * the build here keeps full lists, which the ~vocab-sized output frame
    * absorbs at test scale. */
  def invertedIndex(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            s => concat(s.getField("doc_id"), lit(":"), s.getField("tf"))),
          ",").as("postings"))
      .orderBy(col("term"))

  /** q95: conjunctive (AND) keyword search over the inverted-index frame —
    * documents containing ALL query terms, ranked by summed term frequency.
    * Serving shape: the scan touches only the query terms' (term, doc, tf)
    * rows (a filter on the term key — partition-prunable when the index is
    * stored term-bucketed), then one small aggregate enforces the
    * all-terms predicate (`count = |terms|`, exact conjunctive semantics)
    * and ranks survivors. No posting-string parsing: search runs on the
    * same (term, doc, tf) partials the index build materializes. */
  def keywordSearch(t: Tables, terms: Seq[String] = Seq("data", "the"),
                    k: Int = 50): DataFrame =
    t.documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms_hit") === terms.length)
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(k)

  /** q124: BM25 ranked retrieval (Robertson/Spärck Jones) — the disjunctive
    * (OR) ranked complement of q95's conjunctive search, and the standard
    * lexical-retrieval baseline a RAG/eval pipeline runs next to the ANN
    * family ([[graft.ext.Similarity]]). Reference scope: the text-serving
    * surface (the reference serves ranked lookups from its aggregates,
    * `serving/database.py`); BM25 itself is beyond-reference LLM-pipeline
    * surface, like q50/q94/q95.
    *
    * Shape: doc length rides the explode as `size(tokens)` — a narrow
    * per-row expression, NOT a second explode+shuffle+join on doc_id (at
    * 100 TB the length join would re-shuffle the whole exploded corpus; a
    * `max` inside the (doc, term) aggregate carries the constant for
    * free). Per-term df and the corpus stats (N, total_dl) ride in as
    * broadcast aggregate frames — never a driver collect. One final
    * doc_id aggregate sums the per-term contributions;
    * [[graft.functions.ExactAgg.dsum]] makes that sum order-independent,
    * so the score is bit-stable under AQE/partition reordering and
    * DuckDB-replayable.
    *
    * Scoring is the log-free rational BM25 variant: idf = (N - df + 0.5) /
    * (df + 0.5) (the exponent of the classic log idf — same ordering,
    * libm-free; `ln` is implementation-dependent, same doctrine as q50's
    * rational tf-idf). Saturation keeps the textbook form
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/total_dl)) with dl/avgdl
    * expanded to dl·N/total_dl so every input stays an exact integer until
    * one fixed chain of IEEE ops — bit-portable across engines. */
  def bm25Search(t: Tables, terms: Seq[String] = Seq("data", "spark", "query"),
                 k: Int = 50, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(t, terms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  /** Per-document BM25 scores for a fixed term set, no ranking cut —
    * `(doc_id, n_terms_hit, bm25)`, one row per document that hits ≥ 1
    * query term. The ranked [[bm25Search]] and the hybrid fusion
    * ([[Similarity.hybridSearch]]) both consume this frame. */
  def bm25Scores(t: Tables, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = t.documents
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    val dl = base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // rows of tf are unique per (doc, term), so df is a plain count — no
    // distinct Expand (same derivation as q50's topTerms)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val sat = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) *
        (lit(1 - b) + lit(b) * col("dl") * col("n_docs") / col("total_dl")))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * sat).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        round(graft.functions.ExactAgg.dsum(col("contrib")), 6).as("bm25"))
  }

  /** The shared CTE body of the BM25 oracle — `scores(doc_id,
    * n_terms_hit, bm25)`, mirroring [[bm25Scores]]'s IEEE chain. Callers
    * append their own ranking/fusion on top. */
  def bm25ScoresSqlCtes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val O = graft.functions.ExactAgg.Sql
    s"""base AS (
       |  SELECT doc_id,
       |   string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |dl AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
       |    SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |     unnest(toks) AS term FROM base)
       |  WHERE term IN ($inList) GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |contribs AS (
       |  SELECT tf.doc_id,
       |   ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |   * ((CAST(tf AS DOUBLE) * 2.2) /
       |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
       |       0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |        / CAST(total_dl AS DOUBLE)))) AS contrib
       |  FROM tf JOIN dfreq USING (term)
       |  CROSS JOIN stats),
       |scores AS (
       |  SELECT doc_id, count(*) AS n_terms_hit,
       |   round(${O.dsum("contrib")}, 6) AS bm25
       |  FROM contribs GROUP BY 1)""".stripMargin
  }

  /** DuckDB mirror of [[bm25Search]] — every float op in the same order
    * with explicit DOUBLE casts (DuckDB's bare numeric literals are
    * DECIMAL; decimal arithmetic would diverge from Spark's IEEE chain). */
  def bm25SearchSql(terms: Seq[String] = Seq("data", "spark", "query"),
                    k: Int = 50): String =
    s"""WITH ${bm25ScoresSqlCtes(terms)}
       |SELECT doc_id, n_terms_hit, bm25
       |FROM scores
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin

  /** TF-IDF top-k terms per document. Classic three-stage shape:
    * explode tokens (narrow) → term frequency per (doc, term) (shuffle on
    * the composite key) → document frequency per term from the tf frame
    * (shuffle on term, rows already unique per (doc, term)) → score + per-
    * doc top-k via window rank. Corpus size joins in as a broadcast 1-row
    * aggregate, never a driver-side collect.
    *
    * Scoring uses the rational form `tf · N / df` instead of a log-idf:
    * exact-integer inputs through one IEEE multiply+divide are bit-portable
    * across engines, while `ln` is libm-dependent — same determinism
    * doctrine as [[graft.functions.ExactAgg]]. Ranking ties break on the
    * term itself. */
  def topTerms(t: Tables, k: Int = 3): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** q72: document chunking — split each document into overlapping
    * fixed-token windows (stride = chunk − overlap), the retrieval/RAG
    * ingestion shape and the long-document complement of
    * [[graft.ext.Sampling.packSequences]] (packing concatenates short
    * docs; chunking splits long ones). Chunk starts are `0, stride,
    * 2·stride, …` while they still expose at least one new token; the last
    * chunk is allowed to be short. Pure narrow explode — zero shuffles,
    * linear in input splits; chunk ids are deterministic (doc_id, index),
    * so re-chunking a grown corpus never renumbers existing chunks. */
  def chunkDocuments(t: Tables, chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than the chunk")
    val stride = chunkTokens - overlap
    val tks = tokens(col("text"))
    t.documents
      .select(col("doc_id"), tks.as("tks"))
      .select(col("doc_id"), col("tks"),
        // number of chunks: ceil(max(n - overlap, 1) / stride)
        greatest(
          (size(col("tks")) - lit(overlap) + lit(stride - 1)).cast("long") / lit(stride),
          lit(1L).cast("double")).cast("long").as("n_chunks"))
      .select(col("doc_id"), col("tks"),
        posexplode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumnRenamed("pos", "chunk_index")
      .select(
        col("doc_id"),
        col("chunk_index").cast("long").as("chunk_index"),
        (col("col") * stride).as("chunk_start"),
        array_join(slice(col("tks"), (col("col") * stride + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(col("tks")) - col("col") * stride, lit(chunkTokens))
          .cast("int").as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** The DuckDB mirror of [[chunkDocuments]]. */
  def chunkDocumentsSql(chunkTokens: Int = 64, overlap: Int = 16): String = {
    val stride = chunkTokens - overlap
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, tks,
       |    greatest((len(tks) - $overlap + ${stride - 1}) // $stride, 1) AS n_chunks
       |  FROM tk),
       |e AS (
       |  SELECT doc_id, tks, CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_index
       |  FROM n)
       |SELECT doc_id, chunk_index,
       | chunk_index * $stride AS chunk_start,
       | array_to_string(tks[chunk_index * $stride + 1 : chunk_index * $stride + $chunkTokens], ' ')
       |   AS chunk_text,
       | CAST(least(len(tks) - chunk_index * $stride, $chunkTokens) AS INTEGER)
       |   AS n_chunk_tokens
       |FROM e ORDER BY doc_id, chunk_index""".stripMargin
  }

  /** q71: quality-filter funnel — the per-stage drop accounting a corpus
    * cleaning pipeline publishes ("started with N, length filter kept X,
    * …"). Stages apply in order; a document must survive every earlier
    * stage to be counted at the next, so `n_kept` is monotonically
    * non-increasing:
    *
    *   1. length: 10 ≤ n_tokens ≤ 100000 (truncation/empty-shell filter)
    *   2. token_shape: mean token length in [2, 12] (mojibake / char-soup)
    *   3. diversity: distinct-token ratio ≥ 0.3 (keyword-stuffing)
    *   4. naturalness: ≥ 1 stopword (listing/boilerplate heuristic)
    *
    * Shape: one narrow projection computes all stage flags per row, one
    * global aggregate produces the five funnel counters, `inline` unpivots
    * them to the 4-row report — a full-corpus funnel costs exactly one
    * pass + one 5-long reduce regardless of corpus size. Thresholds on
    * exact-integer-derived doubles, so the DuckDB oracle replays the
    * comparisons bit-for-bit. */
  /** The four funnel-stage predicates over (token array, raw text) — the
    * single source shared by [[qualityFunnel]] (per-stage accounting) and
    * [[TrainingPipeline.trainingCorpus]] (the conjunctive keep filter). */
  private[ext] def qualityFlagCols(tks: Column, text: Column): Seq[Column] = Seq(
    size(tks) >= 10 && size(tks) <= 100000,
    length(text).cast("double") / size(tks) >= 2.0 &&
      length(text).cast("double") / size(tks) <= 12.0,
    size(array_distinct(tks)).cast("double") / size(tks) >= 0.3,
    size(filter(tks, tk => tk.isin(stopwords.map(lit(_)): _*))) >= 1)

  /** All four quality stages as one conjunctive keep predicate. */
  def qualityPass(text: Column): Column =
    qualityFlagCols(tokens(text), text).reduce(_ && _)

  def qualityFunnel(t: Tables): DataFrame = {
    val tks = tokens(col("text"))
    val flags = qualityFlagCols(tks, col("text"))
    val flagged = t.documents.select(
      flags(0).cast("long").as("k1"),
      flags(1).cast("long").as("k2"),
      flags(2).cast("long").as("k3"),
      flags(3).cast("long").as("k4"))
    flagged
      .agg(
        count(lit(1)).as("n0"),
        sum(col("k1")).as("n1"),
        sum(col("k1") * col("k2")).as("n2"),
        sum(col("k1") * col("k2") * col("k3")).as("n3"),
        sum(col("k1") * col("k2") * col("k3") * col("k4")).as("n4"))
      .select(inline(array(
        struct(lit(1).as("stage_id"), lit("length").as("stage"),
          col("n0").as("n_in"), col("n1").as("n_kept")),
        struct(lit(2).as("stage_id"), lit("token_shape").as("stage"),
          col("n1").as("n_in"), col("n2").as("n_kept")),
        struct(lit(3).as("stage_id"), lit("diversity").as("stage"),
          col("n2").as("n_in"), col("n3").as("n_kept")),
        struct(lit(4).as("stage_id"), lit("naturalness").as("stage"),
          col("n3").as("n_in"), col("n4").as("n_kept")))))
      .withColumn("n_dropped", col("n_in") - col("n_kept"))
      .orderBy(col("stage_id"))
  }

  /** The DuckDB mirror of [[qualityFunnel]]. */
  val qualityFunnelSql: String = {
    val stop = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH f AS (
       |  SELECT
       |    CASE WHEN len(tks) BETWEEN 10 AND 100000 THEN 1 ELSE 0 END AS k1,
       |    CASE WHEN CAST(length(text) AS DOUBLE) / len(tks) >= 2.0e0
       |          AND CAST(length(text) AS DOUBLE) / len(tks) <= 12.0e0
       |         THEN 1 ELSE 0 END AS k2,
       |    CASE WHEN CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks) >= 0.3e0
       |         THEN 1 ELSE 0 END AS k3,
       |    CASE WHEN len(list_filter(tks, tk -> list_contains($stop, tk))) >= 1
       |         THEN 1 ELSE 0 END AS k4
       |  FROM (SELECT text, string_split_regex(trim(text), '\\s+') AS tks
       |        FROM documents)),
       |c AS (
       |  SELECT count(*) AS n0,
       |         CAST(sum(k1) AS BIGINT) AS n1,
       |         CAST(sum(k1*k2) AS BIGINT) AS n2,
       |         CAST(sum(k1*k2*k3) AS BIGINT) AS n3,
       |         CAST(sum(k1*k2*k3*k4) AS BIGINT) AS n4 FROM f)
       |SELECT stage_id, stage, n_in, n_kept, n_in - n_kept AS n_dropped
       |FROM (
       |  SELECT 1 AS stage_id, 'length' AS stage, n0 AS n_in, n1 AS n_kept FROM c
       |  UNION ALL SELECT 2, 'token_shape', n1, n2 FROM c
       |  UNION ALL SELECT 3, 'diversity', n2, n3 FROM c
       |  UNION ALL SELECT 4, 'naturalness', n3, n4 FROM c)
       |ORDER BY stage_id""".stripMargin
  }

  /** q77: corpus heavy hitters — the k most frequent bigrams with their
    * document frequencies. The phrase-level complement of [[vocabulary]]
    * (unigram counts): boilerplate detection, template mining, and stopword
    * -phrase lists for dedup all start from this table.
    *
    * Shape at scale: bigram construction is a narrow per-document transform
    * (no shuffle); the count is ONE hash aggregate on the bigram key with
    * map-side partials, and the top-k is a TakeOrdered over the aggregated
    * frame — never a global sort of the full bigram set. Heavy-hitter
    * bigrams (the ones this query surfaces) are exactly the hot keys the
    * partial aggregation absorbs: each map task emits one partial row per
    * distinct bigram regardless of its row count. */
  def frequentBigrams(t: Tables, k: Int = 100): DataFrame =
    // (bigram, doc) partial first, then merge — `count + count(DISTINCT)`
    // in one aggregate would plan an Expand that doubles the exploded rows
    // before the shuffle (the q03 pathology, corpus-sized here)
    bigramOccurrences(t)
      .groupBy(col("bigram"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("bigram"))
      .agg(sum(col("n")).as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(k)

  /** q86: the Count-Min scale twin of [[frequentBigrams]] — the same
    * top-k bigrams probed against a fixed-memory sketch of the WHOLE
    * bigram stream, reporting the sketch estimate and its (one-sided)
    * overestimate next to the exact count. This is the sketch-family
    * contract surface (like q40's KMV next to q04's exact distinct): at
    * 100 TB the exact aggregate's shuffle grows with the distinct-bigram
    * count (billions), while the sketch ships 64 KiB per map partition
    * no matter what; frequency probes then run against the broadcast
    * counter matrix. The portable key hash makes every counter replayable
    * by the DuckDB oracle ([[graft.functions.CountMinSketch]] lane constants are
    * explicit literals). Estimates are ≥ the true count by construction —
    * `overestimate` is the audit column. */
  def cmsHeavyHitters(t: Tables, k: Int = 100): DataFrame = {
    graft.functions.CountMinSketch.register(t.spark)
    val state = bigramOccurrences(t)
      .agg(graft.functions.CountMinSketch.cmsSketch(col("bigram")).as("state"))
    frequentBigrams(t, k)
      .crossJoin(broadcast(state))
      .withColumn("cms_estimate",
        graft.functions.CountMinSketch.estimate(
          col("state"),
          graft.functions.CountMinSketch.keyHash(col("bigram"))))
      .select(
        col("bigram"), col("n_occurrences"), col("n_docs"),
        col("cms_estimate"),
        (col("cms_estimate") - col("n_occurrences")).as("overestimate"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
  }

  /** The per-document bigram stream shared by [[frequentBigrams]] and
    * [[bigramFluency]]: one row per bigram OCCURRENCE (duplicates kept);
    * documents with fewer than two tokens emit nothing. */
  private def bigramOccurrences(t: Tables): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val tks = tokens(lower(col("text")))
    t.documents.select(col("doc_id"), explode(
      when(size(tks) >= 2, graft.functions.ShingleExpression.wordShingles(tks, 2))
        .otherwise(array().cast("array<string>"))).as("bigram"))
  }

  /** q83: statistical fluency scoring — a bigram language model trained on
    * the corpus itself, each document scored by the mean in-corpus
    * transition probability of its bigrams (P(w₂|w₁) = c(w₁w₂)/c(w₁·)).
    * Real text full of common transitions scores high; shuffled-word or
    * machine-mangled text scores near the unigram floor — the
    * model-BASED complement of the rule-based [[textStats]] quality score
    * (how perplexity filtering works, minus the libm-portability problem:
    * probabilities stay rational, no log).
    *
    * Shape at scale — train once, score by join: the model is the
    * aggregated (bigram → probability) table, |vocab|²-bounded and far
    * smaller than the corpus; scoring joins each bigram occurrence against
    * it on the bigram key (one shuffle of key+doc_id pairs, never
    * documents) and reduces per doc. Probability = one exact-integer
    * divide; the per-doc mean runs through the decimal
    * [[graft.functions.ExactAgg.davg]] kernel — bit-portable end to end. */
  def bigramFluency(t: Tables): DataFrame = {
    val bg = bigramOccurrences(t)
    val c2 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
      .withColumn("left_word", substring_index(col("bigram"), " ", 1))
    val c1 = c2.groupBy(col("left_word")).agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, "left_word")
      .select(col("bigram"), (col("c2").cast("double") / col("c1")).as("p"))
    bg.join(model, "bigram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        // NO round(·, 6) here: the mean of 1e-6-quantized probabilities
        // lands exactly on x.xxxxxx5 whenever count divides the sum's last
        // digit — the one spot where Spark's HALF_UP BigDecimal rounding
        // and DuckDB's float rounding disagree. davg alone is bit-portable.
        graft.functions.ExactAgg.davg(col("p")).as("avg_p"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB mirror of [[bigramFluency]]. */
  val bigramFluencySql: String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
       |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
       |  FROM tk),
       |c2 AS (
       |  SELECT bigram, count(*) AS c2,
       |   string_split(bigram, ' ')[1] AS left_word
       |  FROM bg GROUP BY 1),
       |c1 AS (SELECT left_word, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |model AS (
       |  SELECT bigram, CAST(c2 AS DOUBLE) / c1 AS p
       |  FROM c2 JOIN c1 USING (left_word)),
       |scored AS (SELECT doc_id, p FROM bg JOIN model USING (bigram))
       |SELECT doc_id, count(*) AS n_bigrams,
       | ${O.davg("p")} AS avg_p
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q170: perplexity-style quality FILTERING — the APPLY step of q83's
    * model-based scoring (how a CCNet-shaped pipeline actually uses a
    * corpus language model: score every document, cut the worst tail).
    * Threshold = the 10th-percentile score edge from the bounded-memory
    * grid-quantile machinery ([[graft.operators.Analytics.gridQuantileEdges]],
    * the q107 production path — O(grid) counters, never a full-column
    * percentile buffer); documents scoring STRICTLY below the edge are
    * dropped, ties at the edge kept (value-threshold semantics: the cut is
    * a reusable constant, not an exact-k rank — what a production filter
    * pins in config). Documents too short to score (< 2 tokens, so no
    * bigrams) are reported as `n_unscored`, outside the percentile
    * population — a filter must say what it could not judge.
    *
    * Shape at scale: scoring is q83's join (model is vocab²-bounded,
    * occurrences shuffle as key+doc_id pairs); the per-doc score frame is
    * localCheckpoint'd (doc-count rows of (id, double)) so threshold
    * search, verdicts, and the report all reuse one materialization; the
    * threshold rides back as a broadcast 1-row frame; the report is one
    * source-keyed aggregate. */
  def perplexityFilter(t: Tables, grid: Int = 4096): DataFrame = {
    val scored = bigramFluency(t)
      .select(col("doc_id"), col("avg_p").cast("double").as("score"))
      .localCheckpoint()
    val edges = graft.operators.Analytics
      .gridQuantileEdges(scored, "score", Nil, buckets = 10, grid = grid)
      .select(col("e1").as("threshold"))
    val verdicts = scored.crossJoin(broadcast(edges))
      .select(col("doc_id"),
        (col("score") < col("threshold")).cast("int").as("dropped"))
    t.documents.select(col("doc_id"), col("source"))
      .join(verdicts, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("dropped")).as("n_scored"),
        (count(lit(1)) - count(col("dropped"))).as("n_unscored"),
        coalesce(sum(col("dropped")), lit(0L)).cast("long").as("n_dropped"))
      .withColumn("n_kept", col("n_scored") - col("n_dropped"))
      .crossJoin(broadcast(edges))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[perplexityFilter]]: q83's scoring CTEs, then
    * the grid-quantile edge chain written with the same IEEE expression
    * shapes as [[graft.SketchOracleSql.gridEquiDepth]] (targets i=1..9,
    * list_sort, es[1] = the p10 edge), then the left-join report. */
  def perplexityFilterSql(grid: Int = 4096): String = {
    val O = graft.functions.ExactAgg.Sql
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
       |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
       |  FROM tk),
       |c2 AS (
       |  SELECT bigram, count(*) AS c2,
       |   string_split(bigram, ' ')[1] AS left_word
       |  FROM bg GROUP BY 1),
       |c1 AS (SELECT left_word, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |model AS (
       |  SELECT bigram, CAST(c2 AS DOUBLE) / c1 AS p
       |  FROM c2 JOIN c1 USING (left_word)),
       |docavg AS (
       |  SELECT doc_id, ${O.davg("p")} AS avg_p
       |  FROM (SELECT doc_id, p FROM bg JOIN model USING (bigram)) GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(avg_p AS DOUBLE) AS score FROM docavg),
       |mm AS (
       |  SELECT min(score) AS mn, max(score) AS mx,
       |   CAST(count(*) AS DOUBLE) AS n
       |  FROM sc),
       |hist AS (
       |  SELECT
       |   CASE WHEN mm.mx = mm.mn THEN 0
       |    ELSE LEAST(CAST(floor((score - mm.mn) / (mm.mx - mm.mn)
       |      * $grid.0) AS INTEGER), ${grid - 1}) END AS bin,
       |   count(*) AS c, max(mm.mn) AS mn, max(mm.mx) AS mx, max(mm.n) AS n
       |  FROM sc CROSS JOIN mm
       |  GROUP BY 1),
       |cum AS (
       |  SELECT *, COALESCE(SUM(c) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM hist),
       |targets AS (SELECT CAST(range AS INTEGER) AS i FROM range(1, 10)),
       |edge_rows AS (
       |  SELECT
       |   cum.mn + (CAST(cum.bin AS DOUBLE)
       |     + (CAST(t.i AS DOUBLE) * cum.n / 10.0 - CAST(cum.cb AS DOUBLE))
       |       / CAST(cum.c AS DOUBLE))
       |     * ((cum.mx - cum.mn) / $grid.0) AS edge
       |  FROM cum JOIN targets t
       |    ON CAST(cum.cb AS DOUBLE) <= CAST(t.i AS DOUBLE) * cum.n / 10.0
       |   AND CAST(cum.cb + cum.c AS DOUBLE) > CAST(t.i AS DOUBLE) * cum.n / 10.0),
       |es0 AS (SELECT list_sort(list(edge)) AS es FROM edge_rows),
       |edge AS (SELECT es[1] AS threshold FROM es0),
       |verdict AS (
       |  SELECT doc_id,
       |   CASE WHEN score < threshold THEN 1 ELSE 0 END AS dropped
       |  FROM sc CROSS JOIN edge)
       |SELECT d.source,
       | count(*) AS n_docs,
       | count(v.dropped) AS n_scored,
       | count(*) - count(v.dropped) AS n_unscored,
       | CAST(COALESCE(sum(v.dropped), 0) AS BIGINT) AS n_dropped,
       | CAST(count(v.dropped) - COALESCE(sum(v.dropped), 0) AS BIGINT)
       |   AS n_kept,
       | (SELECT threshold FROM edge) AS threshold
       |FROM documents d LEFT JOIN verdict v USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Source-overlap matrix: pairwise vocabulary Jaccard between corpus
    * sources — the "are these two crawls the same thing?" diagnostic a
    * mixing plan ([[Sampling.mixByStratum]]) consults before assigning
    * weights to near-identical sources. Build shape: the corpus collapses
    * to the DISTINCT (source, term) frame in one shuffle (the only pass
    * over text); the pair work then runs on that vocabulary-sized frame —
    * an inverted-index join on term proposes source pairs, per-source
    * vocab sizes broadcast back, |A∪B| = |A|+|B|−|A∩B|. Sources are
    * few-hundreds at worst, so the output is a tiny matrix; for
    * high-cardinality vocabularies the per-source sets sketch down to
    * KMV bottom-k frames (the [[graft.functions.KmvSketch]] union/
    * intersection estimate) with the same output shape. */
  def sourceOverlap(t: Tables): DataFrame = {
    val vocab = t.documents
      .select(col("source"),
        explode(array_distinct(tokens(lower(col("text"))))).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      .localCheckpoint() // (source, term) frame feeds sizes AND the pair join
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n_terms"))
    val shared = vocab.as("a")
      .join(vocab.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_terms").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_terms").as("n_b"))), "source_b")
      .select(
        col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The DuckDB mirror of [[sourceOverlap]]. */
  val sourceOverlapSql: String =
    """WITH vocab AS (
      |  SELECT DISTINCT source, term FROM (
      |    SELECT source,
      |      unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+')))
      |        AS term
      |    FROM documents)
      |  WHERE length(term) > 0),
      |sizes AS (SELECT source, count(*) AS n_terms FROM vocab GROUP BY 1),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS n_shared
      |  FROM vocab a JOIN vocab b
      |    ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b,
      |  sa.n_terms AS n_a, sb.n_terms AS n_b, n_shared,
      |  round(CAST(n_shared AS DOUBLE)
      |        / (sa.n_terms + sb.n_terms - n_shared), 6) AS jaccard
      |FROM shared
      |JOIN sizes sa ON shared.source_a = sa.source
      |JOIN sizes sb ON shared.source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** q177: PMI collocations — the top word pairs that co-occur adjacently
    * far more often than their unigram frequencies predict, the classic
    * collocation-extraction statistic (Church & Hanks 1990) every corpus
    * card reports and tokenizer audits lean on (multi-word units the
    * vocabulary should perhaps own).
    *
    * Association is the RATIONAL lift `P(w₁w₂) / (P(w₁)·P(w₂))`
    * rather than its log (PMI = log lift — same ordering, same ≥1
    * "associated" threshold, no libm): with unigram total N₁ and bigram
    * total N₂ it expands to `c₁₂·N₁/c₁/c₂·N₁/N₂`, evaluated in exactly
    * that left-to-right IEEE order on both engines. A `minCount` support
    * floor cuts the hapax noise PMI is notorious for (rare pairs
    * otherwise dominate with huge but meaningless lifts).
    *
    * Shape at scale: unigram and bigram counts are vocab-/pair-bounded
    * aggregates of one corpus pass each; corpus totals ride a broadcast
    * 1-row frame (never a window over the vocab — no single-partition
    * chokepoint); the two unigram joins hit only the support-filtered
    * pair table; top-k is orderBy+limit = TakeOrdered. */
  def collocations(t: Tables, minCount: Int = 5, k: Int = 20): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val tks = tokens(lower(col("text")))
    val totals = t.documents
      .select(size(tks).cast("long").as("len"))
      .agg(sum(col("len")).as("n1"),
        sum(greatest(col("len") - 1, lit(0L))).as("n2"))
    val uni = t.documents.select(explode(tks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = t.documents
      .select(explode(
        when(size(tks) >= 2,
          graft.functions.ShingleExpression.wordShingles(tks, 2))
          .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val lift = round(
      col("c12").cast("double") * col("n1") / col("c1") / col("c2")
        * col("n1") / col("n2"), 6)
    val scored = pairs
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c12"), col("c1"), col("c2"),
        lift.as("lift"))
      .orderBy(col("lift").desc, col("bigram")).limit(k)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift").desc, col("bigram"))))
      .select(col("rank"), col("bigram"), col("c12"), col("c1"), col("c2"),
        col("lift"))
      .orderBy(col("rank"))
  }

  /** The DuckDB mirror of [[collocations]]. */
  def collocationsSql(minCount: Int = 5, k: Int = 20): String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |totals AS (
       |  SELECT CAST(sum(len(tks)) AS BIGINT) AS n1,
       |   CAST(sum(greatest(len(tks) - 1, 0)) AS BIGINT) AS n2
       |  FROM tk),
       |uni AS (
       |  SELECT unnest(tks) AS tok FROM tk),
       |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
       |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
       |  FROM tk),
       |pc AS (
       |  SELECT bigram, count(*) AS c12,
       |   string_split(bigram, ' ')[1] AS w1,
       |   string_split(bigram, ' ')[2] AS w2
       |  FROM bg GROUP BY 1 HAVING count(*) >= $minCount),
       |scored AS (
       |  SELECT bigram, c12, u1.c AS c1, u2.c AS c2,
       |   round(CAST(c12 AS DOUBLE) * n1 / u1.c / u2.c * n1 / n2, 6)
       |     AS lift
       |  FROM pc
       |  JOIN uc u1 ON pc.w1 = u1.tok
       |  JOIN uc u2 ON pc.w2 = u2.tok
       |  CROSS JOIN totals
       |  ORDER BY lift DESC, bigram LIMIT $k)
       |SELECT
       | CAST(row_number() OVER (ORDER BY lift DESC, bigram) AS INTEGER)
       |   AS rank,
       | bigram, c12, c1, c2, lift
       |FROM scored ORDER BY rank""".stripMargin

  /** q184: corpus snapshot drift — total-variation and Hellinger distance
    * between the hashed-unigram token distributions of two corpus
    * snapshots (here the deterministic doc_id-parity split: v1 = even,
    * v2 = odd; in production, yesterday's crawl vs today's), reported per
    * source. The regression gate a corpus rebuild runs before training:
    * "did this source's token distribution move?". The distances are
    * chosen for bit-portability: TV = (1/2)*SUM(|p1-p2|) and Hellinger =
    * sqrt((1/2)*SUM((sqrt(p1)-sqrt(p2))^2)) need only +,-,*,/ and the
    * IEEE-correctly-rounded sqrt — no libm log (the KL/JS stand-in, same
    * ordering for small drifts, and bounded in [0,1] unlike KL). No
    * rounding on the outputs: halving and sqrt of exact operands are
    * bit-portable, while round(.,6) on a 1e-6-quantized sum is the q176
    * HALF_UP trap.
    *
    * Scale shape: ONE corpus-sized (source, bucket) count aggregate
    * (map-side combined, buckets bound the frame at sources x B rows);
    * all distance math runs on that bounded frame — the per-source totals
    * are a window over it, and the dsum decimal kernels keep the final
    * sums order-independent. */
  def snapshotDrift(t: Tables, buckets: Int = 256): DataFrame = {
    graft.functions.CountMinSketch.register(t.spark)
    import graft.functions.CountMinSketch.keyHash
    // snapshot assignment by the portable id hash (the q48 split
    // doctrine), NOT raw doc_id parity: the fixture assigns source by
    // doc_id modulo, so parity would leave half the sources one-sided
    val counts = t.documents
      .select(col("source"),
        (pmod(Sampling.splitHash(col("doc_id")), lit(2L)) === 0).as("v1"),
        explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"),
        pmod(keyHash(col("tok")), lit(buckets.toLong))
          .as("bucket"))
      .agg(
        sum(when(col("v1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("v1"), 1L).otherwise(0L)).as("c2"))
    val w = Window.partitionBy(col("source"))
    val p1 = col("c1").cast("double") / col("n1")
    val p2 = col("c2").cast("double") / col("n2")
    val sd = sqrt(p1) - sqrt(p2)
    val bothSides = col("n1") > 0 && col("n2") > 0
    counts
      .withColumn("n1", sum(col("c1")).over(w))
      .withColumn("n2", sum(col("c2")).over(w))
      .select(col("source"), col("n1"), col("n2"),
        // one-sided sources would put NaN (0/0) into the decimal sum
        // kernel; park them at 0 — the report emits NULL for them anyway
        when(bothSides, abs(p1 - p2)).otherwise(lit(0.0)).as("ad"),
        when(bothSides, sd * sd).otherwise(lit(0.0)).as("hd"))
      .groupBy(col("source"))
      .agg(
        max(col("n1")).as("n_tokens_v1"),
        max(col("n2")).as("n_tokens_v2"),
        graft.functions.ExactAgg.dsum(col("ad")).as("tvsum"),
        graft.functions.ExactAgg.dsum(col("hd")).as("hsum"))
      .select(col("source"), col("n_tokens_v1"), col("n_tokens_v2"),
        // a source entirely inside one snapshot has no defined drift
        when(col("n_tokens_v1") > 0 && col("n_tokens_v2") > 0,
          col("tvsum") / 2.0).as("tv_distance"),
        when(col("n_tokens_v1") > 0 && col("n_tokens_v2") > 0,
          sqrt(col("hsum") / 2.0)).as("hellinger"))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[snapshotDrift]]. */
  def snapshotDriftSql(buckets: Int = 256): String = {
    val O = graft.functions.ExactAgg.Sql
    val h = graft.functions.PortableHash.hash32Sql("tok")
    val sh = graft.ext.Sampling.splitHashSql("doc_id")
    val p1 = "(CAST(c1 AS DOUBLE) / n1)"
    val p2 = "(CAST(c2 AS DOUBLE) / n2)"
    s"""WITH tk AS (
       |  SELECT source, ($sh) % 2 = 0 AS v1,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |cb AS (
       |  SELECT source, ($h) % $buckets AS bucket,
       |   CAST(sum(CASE WHEN v1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |   CAST(sum(CASE WHEN NOT v1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM tk GROUP BY 1, 2),
       |wb AS (
       |  SELECT source, c1, c2,
       |   CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n1,
       |   CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS n2
       |  FROM cb),
       |pd AS (
       |  SELECT source, n1, n2,
       |   CASE WHEN n1 > 0 AND n2 > 0 THEN abs($p1 - $p2) ELSE 0.0e0 END AS ad,
       |   CASE WHEN n1 > 0 AND n2 > 0
       |     THEN (sqrt($p1) - sqrt($p2)) * (sqrt($p1) - sqrt($p2))
       |     ELSE 0.0e0 END AS hd
       |  FROM wb)
       |SELECT source,
       | max(n1) AS n_tokens_v1, max(n2) AS n_tokens_v2,
       | CASE WHEN max(n1) > 0 AND max(n2) > 0
       |   THEN ${O.dsum("ad")} / 2.0 END AS tv_distance,
       | CASE WHEN max(n1) > 0 AND max(n2) > 0
       |   THEN sqrt(${O.dsum("hd")} / 2.0) END AS hellinger
       |FROM pd GROUP BY source ORDER BY source""".stripMargin
  }

  /** q185: quality-signal correlation audit — pairwise Pearson correlation
    * across the per-document quality signals (token count, average token
    * length, distinct-token ratio, stopword ratio, 3-shingle repetition
    * ratio: the q30/q61 surfaces), the redundancy check run before
    * composing filter thresholds — two signals correlated at 0.9 are one
    * filter, not two. ONE corpus pass computes the signal frame and ONE
    * global aggregate computes every C(5,2) pair's exact decimal moments
    * (the q115 one-scan matrix shape); `stack` unpivots the single result
    * row to (sig_x, sig_y, corr) rows. */
  def qualitySignalCorr(t: Tables): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    import graft.functions.ExactAgg.dcorr
    val tks = tokens(col("text"))
    val sh = graft.functions.ShingleExpression.wordShingles(tks)
    // The ratio signals are scaled ×10⁴ before the moment kernels:
    // Pearson correlation is affine-invariant, so the result is
    // unchanged — but ExactAgg's product kernel quantizes factors at
    // cents (1e-2, its money heritage), which on a [0,1] ratio would be
    // two significant digits. At ×10⁴ the 6-dp-rounded ratios are
    // integral in cents, so the moments are EXACT (both engines apply
    // the identical scaling — bit parity holds either way; accuracy vs
    // the unquantized correlation is what the scaling buys).
    val S = 10000.0
    val sig = t.documents.select(
      size(tks).cast("double").as("n_tokens"),
      round(length(col("text")).cast("double") / size(tks), 4)
        .multiply(S).as("avg_token_len"),
      round(size(array_distinct(tks)).cast("double") / size(tks), 6)
        .multiply(S).as("distinct_ratio"),
      round(size(filter(tks, tk => tk.isin(stopwords.map(lit(_)): _*)))
        .cast("double") / size(tks), 6).multiply(S).as("stopword_ratio"),
      when(size(sh) === 0, lit(0.0)).otherwise(
        round((size(sh) - size(array_distinct(sh))).cast("double") /
          size(sh), 6)).multiply(S).as("repetition_ratio"))
    val pairs = for {
      i <- signalCols.indices; j <- i + 1 until signalCols.length
    } yield (signalCols(i), signalCols(j))
    val aggs = pairs.map { case (x, y) =>
      dcorr(col(x), col(y)).as(s"${x}__$y") } :+ count(lit(1)).as("n_docs")
    val stackArgs = pairs
      .map { case (x, y) => s"'$x', '$y', `${x}__$y`" }.mkString(", ")
    sig.agg(aggs.head, aggs.tail: _*)
      .select(
        expr(s"stack(${pairs.length}, $stackArgs) AS (sig_x, sig_y, corr)"),
        col("n_docs"))
      .orderBy(col("sig_x"), col("sig_y"))
  }

  private val signalCols = Seq("n_tokens", "avg_token_len",
    "distinct_ratio", "stopword_ratio", "repetition_ratio")

  /** The DuckDB mirror of [[qualitySignalCorr]] — the q30/q61 signal
    * expressions (incl. the repetitionStats shingle CTE), then the q115
    * one-aggregate moment matrix unpivoted via UNION arms. */
  def qualitySignalCorrSql: String = {
    val O = graft.functions.ExactAgg.Sql
    val pairs = for {
      i <- signalCols.indices; j <- i + 1 until signalCols.length
    } yield (signalCols(i), signalCols(j))
    val sums = pairs
      .map { case (x, y) => s"${O.dcorr(x, y)} AS ${x}__$y" }
      .mkString(",\n   ")
    val arms = pairs
      .map { case (x, y) =>
        s"SELECT '$x' AS sig_x, '$y' AS sig_y, ${x}__$y AS corr, n_docs FROM a" }
      .mkString("\n", "\nUNION ALL\n", "")
    s"""WITH tk AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |   string_split_regex(trim(text), '\\s+') AS tks FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
       |         ELSE list_transform(range(1, len(tks) - 1),
       |                i -> array_to_string(tks[i:i+2], ' ')) END AS shingles
       |  FROM tk),
       |sig AS (
       |  SELECT CAST(len(t.tks) AS DOUBLE) AS n_tokens,
       |   round(CAST(t.n_chars AS DOUBLE) / len(t.tks), 4) * 10000.0
       |     AS avg_token_len,
       |   round(CAST(len(list_distinct(t.tks)) AS DOUBLE) / len(t.tks), 6)
       |     * 10000.0 AS distinct_ratio,
       |   round(CAST(len(list_filter(t.tks,
       |       tk -> tk IN ('the','a','of','and','to','in'))) AS DOUBLE)
       |     / len(t.tks), 6) * 10000.0 AS stopword_ratio,
       |   (CASE WHEN len(s.shingles) = 0 THEN 0.0e0
       |     ELSE round(CAST(len(s.shingles) - len(list_distinct(s.shingles))
       |       AS DOUBLE) / len(s.shingles), 6) END) * 10000.0
       |     AS repetition_ratio
       |  FROM tk t JOIN sh s USING (doc_id)),
       |a AS (
       |  SELECT $sums,
       |   count(*) AS n_docs
       |  FROM sig)$arms
       |ORDER BY sig_x, sig_y""".stripMargin
  }


  /** q179: vocabulary-growth (Heaps'-law) curve — cumulative distinct-word
    * count against cumulative corpus size at ten ingestion checkpoints,
    * the curve a corpus card plots to show how fast new vocabulary is
    * still arriving (V(N) ≈ K·N^β; a flattening curve says more crawl
    * buys little new vocabulary — a tokenizer/dedup planning signal).
    *
    * The naive form recomputes distinct-over-prefix per checkpoint —
    * quadratic in corpus size. This one is a single word-keyed pass:
    * each word contributes exactly its FIRST document (min doc_id), a
    * checkpoint's new-word count is a bucket count over those firsts,
    * and the cumulative curve is a running sum over the 10-row
    * checkpoint frame. Corpus totals ride a broadcast 1-row frame;
    * the only corpus-sized shuffle is the word→min(doc_id) aggregate. */
  def vocabGrowth(t: Tables): DataFrame = {
    val tks = tokens(lower(col("text")))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    def decileOf(docCol: Column): Column =
      least(floor(docCol * lit(10.0) / col("n_docs")), lit(9L))
    val perDoc = t.documents
      .select(col("doc_id"), size(tks).cast("long").as("n_toks"))
      .crossJoin(broadcast(n))
      .groupBy(decileOf(col("doc_id")).as("decile"))
      .agg(count(lit(1)).as("n_docs_b"), sum(col("n_toks")).as("n_toks_b"))
    val firsts = t.documents
      .select(col("doc_id"), explode(tks).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(n))
      .groupBy(decileOf(col("first_doc")).as("decile"))
      .agg(count(lit(1)).as("new_words"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT join: a checkpoint where no word appears for the first time is
    // a legitimate (fully-flattened-curve) decile — it must report 0, not
    // vanish (the whole point of the plot is seeing the curve go flat)
    perDoc.join(firsts, Seq("decile"), "left")
      .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
      .select(col("decile"),
        sum(col("n_docs_b")).over(wc).as("docs_cum"),
        sum(col("n_toks_b")).over(wc).as("tokens_cum"),
        col("new_words"),
        sum(col("new_words")).over(wc).as("vocab_cum"))
      .orderBy(col("decile"))
  }

  /** The DuckDB mirror of [[vocabGrowth]]. */
  val vocabGrowthSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |per AS (
       |  SELECT CAST(least(floor(doc_id * 10.0 / n_docs), 9) AS BIGINT)
       |    AS decile,
       |   count(*) AS n_docs_b, CAST(sum(len(tks)) AS BIGINT) AS n_toks_b
       |  FROM tk CROSS JOIN n GROUP BY 1),
       |firsts AS (
       |  SELECT tok, min(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(tks) AS tok FROM tk) GROUP BY 1),
       |nw AS (
       |  SELECT CAST(least(floor(first_doc * 10.0 / n_docs), 9) AS BIGINT)
       |    AS decile, count(*) AS new_words
       |  FROM firsts CROSS JOIN n GROUP BY 1)
       |SELECT decile,
       | CAST(sum(n_docs_b) OVER w AS BIGINT) AS docs_cum,
       | CAST(sum(n_toks_b) OVER w AS BIGINT) AS tokens_cum,
       | coalesce(new_words, 0) AS new_words,
       | CAST(sum(coalesce(new_words, 0)) OVER w AS BIGINT) AS vocab_cum
       |FROM per LEFT JOIN nw USING (decile)
       |WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
       |  AND CURRENT ROW)
       |ORDER BY decile""".stripMargin

  /** q188: train→eval n-gram NOVELTY — for each n ∈ [1, maxN] and each
    * eval split (val, test), the fraction of the split's DISTINCT n-grams
    * never seen in the train split. Low novelty at high n means the eval
    * text is largely recombined training text (memorization risk and
    * soft contamination the pair-level leakage audit, q186, can't see:
    * this catches phrase-level overlap even between documents that are
    * nowhere near duplicates). The same measurement, run train→benchmark,
    * is the n-gram decontamination gate (q62's relation, made a rate).
    *
    * Scale shape: ONE corpus pass explodes all n-gram sizes at once
    * (n·maxN rows per token, narrow); one (n, gram)-keyed aggregate
    * OR-folds the three split-membership flags (map-side partial, the
    * distinct never materializes per prefix); the final roll-up is on the
    * maxN·3-row frame. Nothing is ever joined per-document. */
  def ngramNovelty(t: Tables, maxN: Int = 3): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val grams = (1 to maxN).map { n =>
      // gram strings via the native WordShingles loop (byte-identical to
      // the slice+array_join chain — its documented contract); the outer
      // transform only wraps each string in a struct. The size guard also
      // drops WordShingles' short-doc whole-string shingle, preserving
      // the original "len < n contributes nothing at order n" semantics.
      when(size(col("tks")) >= n,
        transform(
          graft.functions.ShingleExpression.wordShingles(col("tks"), n),
          g => struct(lit(n).as("n"), g.as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    }.reduce(concat(_, _))
    t.documents
      .select(graft.ext.Sampling.splitColumn(col("doc_id")).as("split"),
        tokens(col("text")).as("tks"))
      .select(col("split"), explode(grams).as("g"))
      .groupBy(col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(
        max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
        max(when(col("split") === "val", 1).otherwise(0)).as("in_val"),
        max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
      .select(col("n"), col("in_train"),
        explode(array(
          struct(lit("val").as("split"), col("in_val").as("in_eval")),
          struct(lit("test").as("split"), col("in_test").as("in_eval"))))
          .as("e"))
      .filter(col("e.in_eval") === 1)
      .groupBy(col("n"), col("e.split").as("split"))
      .agg(
        count(lit(1)).as("n_eval_distinct"),
        sum(col("in_train").cast("long")).as("n_seen_in_train"))
      .select(col("n"), col("split"), col("n_eval_distinct"),
        col("n_seen_in_train"),
        round(lit(1.0) - col("n_seen_in_train").cast("double") /
          col("n_eval_distinct"), 6).as("novelty_rate"))
      .orderBy(col("n"),
        when(col("split") === "val", 0).otherwise(1))
  }

  /** The DuckDB mirror of [[ngramNovelty]]. */
  def ngramNoveltySql(maxN: Int = 3): String = {
    val b = s"(${graft.ext.Sampling.splitHashSql("doc_id")}) % 100"
    val gramArms = (1 to maxN).map { n =>
      s"""SELECT split, $n AS n, array_to_string(tks[i:i+${n - 1}], ' ') AS gram
         |FROM tk, unnest(range(1, len(tks) - (${n - 2}))) AS u(i)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tk AS (
       |  SELECT CASE WHEN $b < 80 THEN 'train'
       |              WHEN $b < 90 THEN 'val' ELSE 'test' END AS split,
       |    string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |g AS ($gramArms),
       |fl AS (
       |  SELECT n, gram,
       |    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
       |    max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
       |    max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
       |  FROM g GROUP BY 1, 2),
       |ev AS (
       |  SELECT n, 'val' AS split, in_train FROM fl WHERE in_val = 1
       |  UNION ALL
       |  SELECT n, 'test' AS split, in_train FROM fl WHERE in_test = 1)
       |SELECT CAST(n AS INTEGER) AS n, split,
       |  count(*) AS n_eval_distinct,
       |  CAST(sum(in_train) AS BIGINT) AS n_seen_in_train,
       |  round(1.0 - CAST(sum(in_train) AS DOUBLE) / count(*), 6)
       |    AS novelty_rate
       |FROM ev GROUP BY 1, 2
       |ORDER BY n, CASE split WHEN 'val' THEN 0 ELSE 1 END""".stripMargin
  }

  /** q197: interpolated Kneser–Ney smoothing over the corpus bigram model —
    * the smoothing a production n-gram LM (KenLM-style) actually ships,
    * where q83's raw MLE assigns zero mass to unseen continuations:
    * P_KN(w|v) = (max(c(vw) − D, 0) + D·N₁₊(v·)·P_cont(w)) / c(v·) with
    * P_cont(w) = N₁₊(·w)/N₁₊(··) (Kneser & Ney 1995; Chen & Goodman 1999).
    * The continuation weighting is the part MLE cannot see: "york" is
    * frequent but follows almost only "new", so its continuation mass is
    * tiny — exactly what the predecessor-type count captures.
    *
    * Bit-portability: with discount D = 3/4 the probability is one exact
    * rational — multiplying through by 4·N₁₊(··) gives
    * `(max(4c−3, 0)·N_tot + 3·N₁₊(v·)·N₁₊(·w)) / (4·c(v·)·N_tot)` — both
    * sides are exact BIGINTs and the single IEEE division is bit-identical
    * in any engine (deliberately UNROUNDED: round(·,6) on an exact rational
    * is the q176 HALF_UP trap). A magnitude guard fails loudly before the
    * products could overflow int64 (the [[graft.ext.Spectral]] contract).
    *
    * Scale shape: bigram/unigram/type counts are corpus-linear narrow
    * aggregates; the model is vocab²-bounded and every term joins on the
    * bigram/word key; output is the top-`topN` bigrams by count. */
  def kneserNey(t: Tables, topN: Int = 50): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val tks = tokens(lower(col("text")))
    val bg = t.documents
      .select(explode(when(size(tks) >= 2,
        graft.functions.ShingleExpression.wordShingles(tks, 2))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    val c2 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c_bigram"))
      .select(col("bigram"), col("c_bigram"),
        substring_index(col("bigram"), " ", 1).as("left_word"),
        substring_index(col("bigram"), " ", -1).as("right_word"))
      .localCheckpoint() // vocab²-bounded model frame, reused 4×
    val c1 = c2.groupBy(col("left_word"))
      .agg(sum(col("c_bigram")).as("c_left"),
        count(lit(1)).as("n1_follow"))
    val n1w = c2.groupBy(col("right_word"))
      .agg(count(lit(1)).as("n1_precede"))
    val ntot = c2.agg(count(lit(1)).as("n_types"))
    val head = c2.agg(max(col("c_bigram")).as("maxc")).head()
    val maxC = if (head.isNullAt(0)) 0L else head.getLong(0)
    val nTypes = 1L max maxC // types ≤ occurrences; one bound covers both
    require(maxC <= 0 || 4L * maxC <= Long.MaxValue / nTypes,
      s"kneserNey: bigram count $maxC × $nTypes types would overflow the " +
        "BIGINT numerator; shard the model")
    c2.join(c1, "left_word").join(n1w, "right_word")
      .crossJoin(broadcast(ntot)) // 1-row type total
      .select(col("bigram"), col("c_bigram"), col("c_left"),
        col("n1_follow"), col("n1_precede"),
        (col("c_bigram").cast("double") / col("c_left")).as("mle_p"),
        ((greatest(col("c_bigram") * 4 - 3, lit(0L)) * col("n_types") +
          lit(3L) * col("n1_follow") * col("n1_precede")).cast("double") /
          (lit(4L) * col("c_left") * col("n_types")).cast("double"))
          .as("kn_p"),
        ((lit(3L) * col("n1_follow")).cast("double") /
          (lit(4L) * col("c_left")).cast("double")).as("backoff_mass"))
      .orderBy(col("c_bigram").desc, col("bigram"))
      .limit(topN)
  }

  /** The DuckDB mirror of [[kneserNey]]. */
  def kneserNeySql(topN: Int = 50): String =
    s"""WITH tk AS (
       |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS tks
       |  FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(range(1, len(tks)),
       |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
       |  FROM tk),
       |c2 AS (
       |  SELECT bigram, count(*) AS c_bigram,
       |   string_split(bigram, ' ')[1] AS left_word,
       |   string_split(bigram, ' ')[-1] AS right_word
       |  FROM bg GROUP BY 1),
       |c1 AS (
       |  SELECT left_word, CAST(sum(c_bigram) AS BIGINT) AS c_left,
       |   count(*) AS n1_follow
       |  FROM c2 GROUP BY 1),
       |n1w AS (
       |  SELECT right_word, count(*) AS n1_precede FROM c2 GROUP BY 1),
       |ntot AS (SELECT count(*) AS n_types FROM c2)
       |SELECT bigram, c_bigram, c_left, n1_follow, n1_precede,
       | CAST(c_bigram AS DOUBLE) / c_left AS mle_p,
       | CAST(greatest(c_bigram * 4 - 3, 0) * n_types
       |    + 3 * n1_follow * n1_precede AS DOUBLE)
       |  / CAST(4 * c_left * n_types AS DOUBLE) AS kn_p,
       | CAST(3 * n1_follow AS DOUBLE) / CAST(4 * c_left AS DOUBLE)
       |  AS backoff_mass
       |FROM c2 JOIN c1 USING (left_word) JOIN n1w USING (right_word)
       |CROSS JOIN ntot
       |ORDER BY c_bigram DESC, bigram LIMIT $topN""".stripMargin

  /** q204: nucleus (top-p) vocabulary truncation per source — the
    * cumulative-mass cut behind nucleus sampling (Holtzman et al. 2020)
    * applied where a data pipeline applies it: vocabulary pruning. Per
    * source, tokens sort by frequency (count desc, token asc tiebreak) and
    * the kept set is the smallest prefix whose cumulative occurrence count
    * reaches p of the total — a row is kept iff the cumulative mass BEFORE
    * it is still short of the threshold, so exactly the crossing token is
    * the last one in. Reported per source: vocabulary size, kept size,
    * kept token mass, and the head-heaviness ratio the cut reveals (a
    * near-1 mass share at a tiny kept fraction = Zipf head domination —
    * the signal that decides vocab size in tokenizer design, next to
    * q179's Heaps curve).
    *
    * Exactness: the threshold comparison is pure integer arithmetic —
    * `100·cum_before < pPct·total` — and the two reported shares are
    * single IEEE divisions of exact BIGINTs (unrounded, the q176
    * doctrine).
    *
    * Scale shape: one corpus tokenize pass into a (source, token) count
    * aggregate; the window and roll-up run on the vocab-sized frame —
    * corpus-independent after the first aggregate. */
  def nucleusVocab(t: Tables, pPct: Int = 90): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = t.documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("source"))
    val marked = counts
      .select(col("source"), col("c"),
        sum(col("c")).over(w).as("cum"),
        sum(col("c")).over(tot).as("total"))
      .select(col("source"), col("c"), col("total"),
        ((col("cum") - col("c")) * 100 < lit(pPct.toLong) * col("total"))
          .cast("long").as("kept"))
    marked.groupBy(col("source"))
      .agg(
        count(lit(1)).as("vocab_total"),
        sum(col("kept")).as("vocab_kept"),
        max(col("total")).as("token_mass"),
        sum(col("c") * col("kept")).as("mass_kept"))
      .select(col("source"), col("vocab_total"), col("vocab_kept"),
        (col("vocab_kept").cast("double") / col("vocab_total").cast("double"))
          .as("pct_vocab_kept"),
        col("token_mass"), col("mass_kept"),
        (col("mass_kept").cast("double") / col("token_mass").cast("double"))
          .as("pct_mass_kept"))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[nucleusVocab]]. */
  def nucleusVocabSql(pPct: Int = 90): String =
    s"""WITH tk AS (
       |  SELECT source,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |  FROM documents),
       |counts AS (
       |  SELECT source, token, count(*) AS c FROM tk GROUP BY 1, 2),
       |marked AS (
       |  SELECT source, c,
       |   SUM(c) OVER (PARTITION BY source ORDER BY c DESC, token
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |   SUM(c) OVER (PARTITION BY source) AS total
       |  FROM counts),
       |flags AS (
       |  SELECT source, c, total,
       |   CASE WHEN (cum - c) * 100 < $pPct * total THEN 1 ELSE 0 END
       |     AS kept
       |  FROM marked)
       |SELECT source,
       | count(*) AS vocab_total,
       | CAST(sum(kept) AS BIGINT) AS vocab_kept,
       | CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |   AS pct_vocab_kept,
       | CAST(max(total) AS BIGINT) AS token_mass,
       | CAST(sum(c * kept) AS BIGINT) AS mass_kept,
       | CAST(sum(c * kept) AS DOUBLE) / CAST(max(total) AS DOUBLE)
       |   AS pct_mass_kept
       |FROM flags GROUP BY 1 ORDER BY source""".stripMargin

  /** q210: DISTINCTIVE terms per source — keyness analysis: which tokens
    * over-occur in one source relative to the rest of the corpus. The
    * score is the Haldane–Anscombe-corrected odds ratio
    * ((a+½)(d+½))/((b+½)(c+½)) over the 2×2 occurrence table (a = token
    * in source, b = token elsewhere, c/d = all other tokens) — the
    * UN-LOGGED form of the log-odds keyness statistic (Monroe et al.
    * 2008): taking the log only re-scales a monotone ranking and drags in
    * libm, so the ranking keeps the exact rational. The ½ correction
    * keeps tokens absent from the rest of the corpus finite and is the
    * standard finite-sample fix. This is the "what IS this source" card a
    * curation review reads next to q50's TF-IDF (which ranks tokens
    * within a DOCUMENT, not against a contrast corpus).
    *
    * Exactness: a, b and the totals are exact BIGINTs; +0.5 on a
    * ≤ 2^52-magnitude count is an exact double; the two products and one
    * division are fixed-order IEEE — identical bits in both engines, so
    * even the rank-by-OR ordering agrees (token-asc tiebreak).
    *
    * Scale shape: (source, token) counts and token totals are two
    * corpus-linear aggregates joined on the token key (vocab-sized);
    * per-source top-k is a rank window over the vocab frame. */
  def distinctiveTerms(t: Tables, topK: Int = 10,
                       minCount: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = t.documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("token"))
    val bySrc = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("a"))
    val byTok = bySrc.groupBy(col("token")).agg(sum(col("a")).as("tok_total"))
    val srcTotals = bySrc.groupBy(col("source")).agg(sum(col("a")).as("n_src"))
    val grand = srcTotals.agg(sum(col("n_src")).as("n_all"))
    val scored = bySrc
      .join(byTok, "token")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(grand)) // 1-row grand total
      .filter(col("a") >= minCount)
      .select(col("source"), col("token"), col("a"),
        (col("tok_total") - col("a")).as("b"),
        col("n_src"), (col("n_all") - col("n_src")).as("n_rest"))
      .select(col("source"), col("token"), col("a").as("n_in_source"),
        col("b").as("n_in_rest"),
        (((col("a").cast("double") + 0.5) *
          ((col("n_rest") - col("b")).cast("double") + 0.5)) /
          ((col("b").cast("double") + 0.5) *
            ((col("n_src") - col("a")).cast("double") + 0.5)))
          .as("odds_ratio"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("odds_ratio").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("token"),
        col("n_in_source"), col("n_in_rest"), col("odds_ratio"))
      .orderBy(col("source"), col("rank"))
  }

  /** The DuckDB mirror of [[distinctiveTerms]]. */
  def distinctiveTermsSql(topK: Int = 10, minCount: Int = 5): String =
    s"""WITH tok AS (
       |  SELECT source,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |  FROM documents),
       |bysrc AS (
       |  SELECT source, token, count(*) AS a FROM tok GROUP BY 1, 2),
       |bytok AS (
       |  SELECT token, CAST(sum(a) AS BIGINT) AS tok_total
       |  FROM bysrc GROUP BY 1),
       |srctot AS (
       |  SELECT source, CAST(sum(a) AS BIGINT) AS n_src FROM bysrc GROUP BY 1),
       |grand AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_all FROM srctot),
       |scored AS (
       |  SELECT source, token, a AS n_in_source,
       |   (tok_total - a) AS n_in_rest,
       |   ((CAST(a AS DOUBLE) + 0.5)
       |      * (CAST((n_all - n_src) - (tok_total - a) AS DOUBLE) + 0.5))
       |   / ((CAST(tok_total - a AS DOUBLE) + 0.5)
       |      * (CAST(n_src - a AS DOUBLE) + 0.5)) AS odds_ratio
       |  FROM bysrc JOIN bytok USING (token)
       |  JOIN srctot USING (source) CROSS JOIN grand
       |  WHERE a >= $minCount),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY odds_ratio DESC, token) AS rank
       |  FROM scored)
       |SELECT source, CAST(rank AS INTEGER) AS rank, token,
       | n_in_source, n_in_rest, odds_ratio
       |FROM ranked WHERE rank <= $topK
       |ORDER BY source, rank""".stripMargin

  /** q216: Chao1 vocabulary-richness estimate per source (Chao 1984) —
    * "how many unique tokens does this source REALLY have, given how many
    * we have seen once or twice": Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)) (the
    * bias-corrected form, defined even when no token appears exactly
    * twice), plus the Good–Turing coverage estimate Ĉ = 1 − f₁/N — the
    * two numbers a corpus-coverage review reads together ("is another
    * crawl of this source worth it"). Complements q179's Heaps growth
    * CURVE with a point ESTIMATE of the asymptote.
    *
    * Exactness: f₁, f₂, S_obs, N are exact BIGINTs from one vocabulary
    * aggregate; both estimates are single fixed-shape IEEE expressions
    * (f₁² stays integer before its one cast).
    *
    * Scale shape: one tokenize pass → (source, token) counts (the q210
    * vocabulary frame), rolled to one row per source via the
    * counts-of-counts aggregate. Nothing touches the corpus twice. */
  def vocabRichness(t: Tables): DataFrame = {
    val counts = t.documents
      .select(col("source"),
        explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("source")).agg(
        count(lit(1)).as("s_obs"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("s_obs"), col("n_tokens"), col("f1"),
        col("f2"),
        ((col("n_tokens") - col("f1")).cast("double") /
          col("n_tokens").cast("double")).as("coverage_gt"),
        (col("s_obs").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2.0) * (col("f2") + 1L).cast("double"))).as("chao1"))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[vocabRichness]]. */
  def vocabRichnessSql(): String =
    """WITH tok AS (
      |  SELECT source,
      |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |counts AS (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, count(*) AS s_obs,
      |   CAST(sum(c) AS BIGINT) AS n_tokens,
      |   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM counts GROUP BY 1)
      |SELECT source, s_obs, n_tokens, f1, f2,
      | CAST(n_tokens - f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |   AS coverage_gt,
      | CAST(s_obs AS DOUBLE)
      |   + CAST(f1 * (f1 - 1) AS DOUBLE)
      |     / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1
      |FROM agg ORDER BY source""".stripMargin

  /** Gopher-rule thresholds (Rae et al. 2021 table A1): max share of a
    * document's characters the single most frequent n-gram may cover,
    * in percent — 2-grams 20%, 3-grams 18%, 4-grams 16%. */
  val TopNgramThresholdPct: Map[Int, Long] = Map(2 -> 20L, 3 -> 18L, 4 -> 16L)

  /** q226: top-n-gram character-coverage filter (the Gopher repetition
    * rule family) — for n ∈ {2,3,4}, the share of each document's
    * characters covered by its single most frequent word n-gram
    * (count × n-gram chars / doc chars), flagged against the published
    * thresholds. The within-document complement of q61's duplicate-shingle
    * fraction: q61 catches diffuse repetition, this catches one phrase
    * looping ("click here to subscribe click here to subscribe…"), the
    * dominant boilerplate failure in web corpora.
    *
    * Shape: the (doc, gram) count aggregate is the TF-IDF shuffle class
    * (q50) — one shuffle keyed on (doc, n, gram), top gram per (doc, n)
    * via window on the doc key, then a source-level rollup. The flag is an
    * exact integer cross-multiplication (100·count·len(gram) > pct·len
    * (doc)) — no float until the final share ratio. Tie-break: highest
    * count, then lexicographically smallest gram (both engines sort ASCII
    * identically). */
  def topNgramCoverage(t: Tables, ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    graft.functions.ShingleExpression.register(t.spark)
    val base = t.documents.select(
      Seq(col("doc_id"), col("source"),
        length(trim(col("text"))).as("n_text_chars")) ++
      ns.map(n => graft.functions.ShingleExpression
        .wordShingles(tokens(col("text")), n).as(s"sh_$n")): _*)
    val grams = ns.map(n =>
      base.select(col("doc_id"), col("source"), col("n_text_chars"),
        lit(n).as("n"), explode(col(s"sh_$n")).as("gram")))
      .reduce(_ unionAll _)
    val counts = grams
      .groupBy(col("doc_id"), col("source"), col("n_text_chars"), col("n"),
        col("gram"))
      .agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("doc_id"), col("n"))
      .orderBy(col("c").desc, col("gram"))
    val thr = ns.tail.foldLeft(
      when(col("n") === ns.head, lit(TopNgramThresholdPct(ns.head)))) {
      (acc, n) => acc.when(col("n") === n, lit(TopNgramThresholdPct(n)))
    }
    val top = counts
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .withColumn("flagged",
        lit(100L) * col("c") * length(col("gram")) > thr * col("n_text_chars"))
    top
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n"), col("n_docs"), col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flag_share"))
      .orderBy(col("source"), col("n"))
  }

  /** The DuckDB mirror of [[topNgramCoverage]] — shingles replayed per n
    * with the q61 CTE generalized to k (short docs emit one whole-doc
    * shingle, exactly the native expression's contract). */
  def topNgramCoverageSql(ns: Seq[Int] = Seq(2, 3, 4)): String = {
    def gramsFor(n: Int) =
      s"""  SELECT doc_id, source, n_text_chars, $n AS n,
         |   unnest(CASE WHEN len(tks) < $n THEN [array_to_string(tks, ' ')]
         |     ELSE list_transform(range(1, len(tks) - ${n - 2}),
         |            i -> array_to_string(tks[i:i+${n - 1}], ' ')) END) AS gram
         |  FROM tk""".stripMargin
    val union = ns.map(gramsFor).mkString("\n  UNION ALL\n")
    val thrCase = ns.map(n =>
      s"WHEN $n THEN ${TopNgramThresholdPct(n)}").mkString(" ")
    s"""WITH tk AS (
       |  SELECT doc_id, source, length(trim(text)) AS n_text_chars,
       |   string_split_regex(trim(text), '\\s+') AS tks
       |  FROM documents),
       |grams AS (
       |$union),
       |counts AS (
       |  SELECT doc_id, source, n_text_chars, n, gram, count(*) AS c
       |  FROM grams GROUP BY 1, 2, 3, 4, 5),
       |top AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id, n ORDER BY c DESC, gram) AS rk
       |  FROM counts),
       |flagged AS (
       |  SELECT source, n,
       |   100 * c * length(gram) >
       |     (CASE n $thrCase END) * n_text_chars AS flagged
       |  FROM top WHERE rk = 1)
       |SELECT source, n, count(*) AS n_docs,
       | CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       | CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS DOUBLE)
       |   / CAST(count(*) AS DOUBLE) AS flag_share
       |FROM flagged GROUP BY 1, 2 ORDER BY source, n""".stripMargin
  }

  /** Stand-in blocklist over the fixture's vocabulary; a production list
    * (C4's "List of Dirty, Naughty …" etc.) is config, not code. */
  val DefaultBlocklist: Seq[String] = Seq("slow", "error", "big")

  /** q229: token-blocklist filter report (the C4 rule, Raffel et al. 2020
    * §2.2: drop any document containing a blocklisted word) — per source:
    * documents dropped, total blocklist hits, and the token mass removed.
    * The word-level complement of q63's pattern-level PII redaction; in a
    * curation pipeline this report is what decides whether a source is
    * worth keeping at all before per-doc filtering starts.
    *
    * Shape: ONE narrow zero-shuffle scan — the hit count rides the native
    * [[graft.functions.BlocklistCount]] expression (one tight loop per row
    * against a precomputed set; the MinHashExpression doctrine for hot
    * per-row kernels), so no token ever reaches a shuffle; the only
    * exchange is the source-sized rollup. Membership is against a literal
    * list (never a join — the list is code/config-sized). Everything
    * integer until the final share ratios. */
  def blocklistFilter(t: Tables,
      words: Seq[String] = DefaultBlocklist): DataFrame = {
    graft.functions.BlocklistExpression.register(t.spark)
    val perDoc = t.documents.select(col("source"),
        size(tokens(col("text"))).as("n_tokens"),
        graft.functions.BlocklistExpression
          .blocklistCount(tokens(col("text")), words).as("n_hits"))
      .withColumn("dropped", col("n_hits") > 0)
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_hits")).as("total_hits"),
        sum(when(col("dropped"), col("n_tokens")).otherwise(0L))
          .as("tokens_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("total_hits"), col("tokens_dropped"),
        (col("n_dropped").cast("double") / col("n_docs").cast("double"))
          .as("drop_share"))
      .orderBy(col("source"))
  }

  /** The DuckDB mirror of [[blocklistFilter]]. */
  def blocklistFilterSql(words: Seq[String] = DefaultBlocklist): String = {
    val list = words.map(graft.core.Sql.lit).mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id, source, n_tokens,
       |   CAST(sum(CASE WHEN w IN ($list) THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_hits
       |  FROM toks GROUP BY 1, 2, 3)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dropped,
       | CAST(sum(n_hits) AS BIGINT) AS total_hits,
       | CAST(sum(CASE WHEN n_hits > 0 THEN n_tokens ELSE 0 END) AS BIGINT)
       |   AS tokens_dropped,
       | CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |   / CAST(count(*) AS DOUBLE) AS drop_share
       |FROM per_doc GROUP BY 1 ORDER BY source""".stripMargin
  }
}

package graft.ext

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data pipeline — the capstone query that chains
  * the ext operators the way a real corpus release does:
  *
  *   1. near-dup removal ([[Dedup.dedupedCorpus]] canonical survivors —
  *      MinHash/LSH with capped buckets + connected-component closure);
  *   2. quality filtering ([[TextAnalysis.qualityPass]] — all four funnel
  *      stages as one conjunctive predicate);
  *   3. deterministic split assignment ([[Sampling.splitColumn]] —
  *      layout-independent hash buckets);
  *   4. the release card: per (lang, split) document and token counts.
  *
  * Each stage is itself oracle-gated (q68/q71/q48/q67); this composition
  * is gated end-to-end as q100, so the INTERACTION of the stages — join
  * plumbing, filter ordering, column threading — sits under the hash
  * check too, not just the parts.
  *
  * Scale shape: dedup dominates (its own documented plan); everything
  * after is one semi join against the survivor ids, a narrow filter, and
  * one small aggregate. Filters commute here by construction — dedup
  * canonicalization is computed on the full corpus, quality is per-row —
  * so the composition order is a cost choice, not a semantic one. */
object TrainingPipeline {

  def trainingCorpus(t: Tables, minJaccard: Double = 0.2): DataFrame = {
    val survivors = Dedup.dedupedCorpus(t, minJaccard)
      .select(col("doc_id"))
    t.documents
      .join(survivors, Seq("doc_id"), "left_semi")
      .filter(TextAnalysis.qualityPass(col("text")))
      .select(
        col("lang"),
        Sampling.splitColumn(col("doc_id")).as("split"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens"))
      .orderBy(col("lang"), col("split"))
  }
}

package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** Distributed, deterministic id assignment for dictionary encodings
  * (term → long, hot-shingle → long, string key → long). */
object DistributedIds {

  /** One row per distinct `keyCol` value of `input` with a unique positive
    * `idCol`: a BIJECTION (long-id equality ≡ key equality), not dense.
    * Built from planned operators only, so joins against it are planned
    * from the child's size stats and the key's `distinctKeys`. It relies on:
    *
    *  1. The `distinct()`: over an aggregate input Catalyst removes it (no
    *     extra exchange); over a checkpointed input it restores
    *     `distinctKeys`, without which the join estimator inflates every
    *     frame built over the dictionary join past the broadcast threshold.
    *  2. Determinism under task retry: the aggregate's hash partitioning
    *     fixes each partition's key set and the sort their order, so
    *     `monotonically_increasing_id` (partition index · 2³³ + row
    *     position) is a function of the plan. */
  def uniqueIds(input: DataFrame, keyCol: String, idCol: String): DataFrame =
    input.select(col(keyCol)).distinct()
      .sortWithinPartitions(col(keyCol))
      .withColumn(idCol, monotonically_increasing_id() + 1L)
}

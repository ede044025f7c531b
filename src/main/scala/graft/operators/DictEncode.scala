package graft.operators

import graft.core.{DistributedIds, Tables}
import graft.functions.BitmapDistinct
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dictionary encoding in front of [[graft.functions.BitmapDistinct]]:
  * exact distinct counting over ARBITRARY key domains (strings, negative
  * ints) by mapping each distinct key to a positive long id first.
  * Hash-based ids would be O(1) cheaper but collide — an exact aggregate
  * fed hashed keys silently undercounts; the dictionary keeps injectivity.
  *
  * Scale notes: the dictionary is itself a shuffle-distinct over the key
  * column — at 100 TB it is a PERSISTED incrementally-maintained dimension
  * (append new keys with ids above the current high-water mark), not
  * rebuilt per query; here it is built inline and checkpointed, which is
  * the single-job analog. The ids come from
  * [[graft.core.DistributedIds.uniqueIds]]: sparse (they cluster per
  * partition, which the bitmap's 64K-block containers compress well) and
  * injective. The encode join shuffles on the key; AQE broadcasts the
  * dictionary when it is small.
  */
object DictEncode {

  /** One row per distinct `key` with a positive injective `dict_id`,
    * localCheckpointed as the stand-in for the persisted dictionary
    * dimension: without the checkpoint the distinct's exchange lands in
    * the consuming query's plan (PlanAuditSpec budget). */
  def dictionary(df: DataFrame, key: Column): DataFrame =
    DistributedIds.uniqueIds(df.select(key.as("dict_key")), "dict_key", "dict_id")
      .localCheckpoint()

  /** q60: distinct STRING user keys per event type, exactly, in one
    * bitmap pass after dictionary encoding — the string-domain twin of
    * q55 (ROADMAP item: reference users count distinct strings like
    * `weather_condition` as often as ints). Oracle:
    * `count(DISTINCT 'u' || user_id)`. */
  def distinctUsersByType(t: Tables): DataFrame = {
    BitmapDistinct.register(t.spark)
    val ev = t.events.select(
      col("event_type"),
      concat(lit("u"), col("user_id")).as("user_key"))
    val dict = dictionary(ev, col("user_key"))
    // LEFT join: a NULL key must stay in n_events (count(*) semantics on
    // both engines) while contributing nothing to the bitmap — an inner
    // join would silently drop such rows from n_events only on the Spark
    // side and break the oracle compare
    ev.join(dict, col("user_key") === col("dict_key"), "left")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        BitmapDistinct.bitmapDistinct(col("dict_id")).as("distinct_users"))
      .orderBy(col("event_type"))
  }
}

package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions wiring for graft's custom Catalyst expressions —
  * the (c)-level integration point: a session built with
  * `GraftSession.builder(...).withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.core.GraftExtensions` on spark-submit) has
  * the functions available in SQL without per-session `register` calls.
  * The `register` helpers on each expression object remain for sessions
  * built without extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private type Exprs = Seq[org.apache.spark.sql.catalyst.expressions.Expression]

  private def inject(ext: SparkSessionExtensions, name: String, cls: Class[_])(
      builder: Exprs => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    import graft.functions._
    inject(ext, "graft_cosine_similarity", classOf[CosineSimilarity])(
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    inject(ext, SimHashExpression.fnName, classOf[SimHash])(SimHashExpression.build)
    inject(ext, "graft_token_counts", classOf[TokenCounts])(
      exprs => TokenCounts(exprs.head))
    inject(ext, "graft_word_shingles", classOf[WordShingles])(
      exprs => WordShingles(exprs.head,
        exprs.lift(1).map(_.eval().asInstanceOf[Number].intValue()).getOrElse(3)))
    inject(ext, "graft_bitmap_distinct", classOf[BitmapDistinct.BitmapDistinctAgg])(
      exprs => BitmapDistinct.BitmapDistinctAgg(exprs.head))
    inject(ext, "graft_bitmap_state", classOf[BitmapDistinct.BitmapStateAgg])(
      exprs => BitmapDistinct.BitmapStateAgg(exprs.head))
    inject(ext, "graft_bitmap_merge_count", classOf[BitmapDistinct.BitmapMergeCountAgg])(
      exprs => BitmapDistinct.BitmapMergeCountAgg(exprs.head))
    inject(ext, CountMinSketch.aggFnName, classOf[CountMinSketch.CmsAgg])(
      CountMinSketch.buildSketch)
    inject(ext, CountMinSketch.hashFnName, classOf[CountMinSketch.CmsKeyHash])(
      CountMinSketch.buildKeyHash)
    inject(ext, "graft_gram_matrix", classOf[GramMatrix.GramAgg])(
      exprs => GramMatrix.GramAgg(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()))
  }
}

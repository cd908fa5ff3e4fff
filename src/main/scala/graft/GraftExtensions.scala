package graft

import graft.functions.{CosineSimilarity, DotProduct, Sq8, Tokenize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions for SQL use
  * and the one declarative-ANN optimizer rule, [[graft.plans.DeclarativeAnn]]:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * SELECT id FROM chunks ORDER BY cosine_similarity(embedding, :q) DESC LIMIT 5
  * }}}
  *
  * For an already-built session, `GraftBridge.registerFunctions(spark)` does
  * the same at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in declarative ANN (spark.graft.{ivf,pq,hnsw}.autoProbe,
    // spark.graft.knnJoin.bruteAuto): brute-force cosine top-k and the
    // per-query top-k window over an IVF, IVF-PQ or HNSW store become the
    // family's gated probe. ONE rule, PRE-CBO (Spark's `Once` batch, after
    // operator optimization and before the scan push-down that makes an
    // injected probe a partition filter), so planning a query runs each
    // rule-time data check once: in the fixed-point operator-optimization
    // batches a declined rewrite leaves no mark on the plan and re-ran its
    // checks on every pass.
    ext.injectPreCBORule(graft.plans.DeclarativeAnn.apply)
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1)),
    ))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1)),
    ))
    ext.injectFunction((
      FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[Tokenize].getName, "graft_tokens"),
      (args: Seq[Expression]) => Tokenize(args.head),
    ))
    ext.injectFunction((
      FunctionIdentifier("sq8"),
      new ExpressionInfo(classOf[Sq8].getName, "sq8"),
      (args: Seq[Expression]) => Sq8(args.head),
    ))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[graft.functions.WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) =>
        graft.functions.WordShingles(args(0), org.apache.spark.sql.GraftBridge.litInt(args(1))),
    ))
    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => graft.functions.WinnowFingerprints(
        args(0), org.apache.spark.sql.GraftBridge.litInt(args(1)), org.apache.spark.sql.GraftBridge.litInt(args(2))),
    ))
    ext.injectFunction((
      FunctionIdentifier("mlm_mask"),
      new ExpressionInfo(classOf[graft.functions.MlmMask].getName, "mlm_mask"),
      (args: Seq[Expression]) =>
        graft.functions.MlmMask(args(0), args(1), org.apache.spark.sql.GraftBridge.litInt(args(2))),
    ))
    ext.injectFunction((
      FunctionIdentifier("gear_boundaries"),
      new ExpressionInfo(classOf[graft.functions.GearBoundaries].getName, "gear_boundaries"),
      (args: Seq[Expression]) =>
        graft.functions.GearBoundaries(args(0), org.apache.spark.sql.GraftBridge.litInt(args(1))),
    ))
    ext.injectFunction((
      FunctionIdentifier("maxsim_score"),
      new ExpressionInfo(classOf[graft.functions.MaxSimScore].getName, "maxsim_score"),
      (args: Seq[Expression]) => graft.functions.MaxSimScore(args(0), args(1)),
    ))
  }
}

package graft

import graft.functions.{CosineSimilarity, DotProduct, Sq8, Tokenize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions for SQL use:
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
    // opt-in ANN rewrite (spark.graft.pq.autoProbe=true): brute-force
    // cosine top-k over a persistent IVF-PQ store's floats becomes the ADC
    // probe over the code store. Injected BEFORE the IVF rule: the floats
    // store also carries the IVF sidecar, and the ADC probe (m bytes/vec)
    // beats the pruned float scan; the IVF rule declines PQ floats stores
    // while this rule is enabled.
    ext.injectOptimizerRule(graft.plans.PqAutoProbe.apply)
    // opt-in ANN rewrite (spark.graft.ivf.autoProbe=true): brute-force
    // cosine top-k over an IVF store becomes a partition-pruned probe.
    // A PRE-CBO rule (Spark's `Once` batch, after operator optimization
    // and before the scan push-down that makes the injected filter a
    // partition filter), so planning one query makes ONE gate decision: in
    // the fixed-point operator-optimization batches a declined rule leaves
    // no mark on the plan and re-ran its selectivity job on every pass.
    ext.injectPreCBORule(graft.plans.IvfAutoProbe.apply)
    // opt-in ANN rewrite (spark.graft.hnsw.autoProbe=true): brute-force
    // cosine top-k over an HNSW store becomes the sharded beam search
    ext.injectOptimizerRule(graft.plans.HnswAutoProbe.apply)
    // opt-in BATCH ANN rewrite (each family's flag governs its stores):
    // per-query top-k window over queries × store becomes the family's
    // gated batch knnJoin instead of a scored cartesian
    ext.injectOptimizerRule(graft.plans.KnnJoinAuto.apply)
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

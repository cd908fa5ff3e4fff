package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the sql package: Column <-> Expression conversion is
  * private[sql] in Spark 4 (classic.ExpressionUtils), and wrapping a custom
  * Catalyst Expression as a Column is the supported extension surface
  * everywhere else (SparkSessionExtensions rules receive Expressions the
  * same way). This is the only file outside the graft namespace.
  */
object GraftBridge {
  def column(e: Expression): Column     = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` as the expression `spark`'s Dataset operations would put in a
    * plan: converted through the session, nested columns included. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** The session's unique id (`sessionUUID` is private[sql]) — the stable
    * cache key for per-session caches; identity hashes can collide across
    * sessions (ADVICE r15).
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Free the storage behind an eager `localCheckpoint` once the frame is
    * superseded (e.g. a previous iteration's labels in a fixpoint loop).
    * `Dataset.unpersist` only covers `cache()`d plans; a local checkpoint's
    * blocks are owned by the RDD inside its LogicalRDD leaf, reachable only
    * from this package. Caller contract: nothing may reference the frame
    * afterwards — the checkpoint truncated its lineage, so the data is
    * unrecoverable by design.
    */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _                       => ()
    }

  /** Clone `spark`: same SparkContext + SharedState, and — unlike the
    * public `newSession()`, which rebuilds SessionState from builder-time
    * initial options only — a COPY of the session's CURRENT runtime conf
    * (`cloneSession()` is private[sql]). Operators that scope a conf
    * override to their internal plans (e.g. RecrawlStream's AQE-off
    * lifecycle session) must start from the caller's effective conf, or a
    * runtime `spark.conf.set` (shuffle partitions, ANSI mode, session
    * timezone) would silently revert inside the operator.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root a DataFrame's analyzed logical plan onto another session of
    * the SAME SparkContext (a `spark.newSession()` clone): the clone's
    * private conf (e.g. AQE off for a many-tiny-exchanges lifecycle op)
    * then governs execution while the shared SharedState keeps caches and
    * catalog visible. The plan must not embed session-specific state
    * beyond what SharedState carries — true for the scan/join/agg plans
    * the lifecycle operators re-root.
    */
  def reRoot(target: SparkSession, df: Dataset[Row]): Dataset[Row] = {
    val t = target.asInstanceOf[classic.SparkSession]
    val d = df.asInstanceOf[classic.Dataset[Row]]
    require(t.sparkContext eq d.sparkSession.sparkContext,
      "reRoot requires sessions of the same SparkContext")
    classic.Dataset.ofRows(t, d.queryExecution.analyzed)
  }

  /** Wrap a (resolved) logical plan as a DataFrame — the splice surface
    * [[graft.plans.DeclarativeAnn]] needs: an optimizer rule that rewrites a
    * declarative top-k into the sharded beam search must build the beam
    * plan through the DataFrame API over the matched relation, then return
    * its logical plan. `Dataset.ofRows` is private[sql].
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** [[ofRows]] of a plan built from resolved attributes only (a local
    * answer): marked analyzed, so building the frame runs no analyzer
    * batch over it. `setAnalyzed` is private[catalyst].
    */
  def ofResolved(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Dataset[Row] = {
    catalyst.GraftAnalyzed.mark(plan)
    ofRows(spark, plan)
  }

  /** The OPTIMIZED logical plan of a DataFrame — the splice surface for
    * rules that substitute whole subtrees ([[graft.plans.DeclarativeAnn]]'s
    * HNSW, PQ and batch substitutions): a rule runs mid-optimization, after
    * EliminateResolvedHint and the operator-optimization batches, so an
    * ANALYZED splice would ship un-eliminated broadcast hints (planner
    * INTERNAL_ERROR) and unpushed filters. Optimizing the inner frame is
    * re-entrant (a fresh QueryExecution) and preserves output exprIds.
    */
  def optimized(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  /** Collect a DataFrame as Catalyst's own rows (one SQL execution, one
    * job for a scan) — what [[graft.plans.Resident]] holds on the driver.
    */
  def internalRows(df: Dataset[_]): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** The optimizer rules a session adds to Spark's own: its extensions'
    * pre-CBO rules and `experimental.extraOptimizations` — where
    * [[graft.plans.DeclarativeAnn]] is registered. */
  def optimizerRules(spark: SparkSession): Seq[catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]] = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.sessionState.optimizer.preCBORules ++ s.experimental.extraOptimizations
  }

  /** `s` with every field, element and value nullable, as a file source's
    * reader makes the schema it infers (`asNullable` is private[spark]). */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** The session's column-name resolver (case-insensitive by default). */
  def resolver(spark: SparkSession): catalyst.analysis.Resolver =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.resolver

  /** The analyzed logical plan of a DataFrame (the inverse splice surface). */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Register graft's native expressions on a live session so `spark.sql`
    * can call them by name (the runtime analog of [[graft.GraftExtensions]],
    * which does the same at session build time for spark-submit users).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "cosine_similarity", args => graft.functions.CosineSimilarity(args(0), args(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "dot_product", args => graft.functions.DotProduct(args(0), args(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "graft_tokens", args => graft.functions.Tokenize(args.head), "built-in")
    registry.createOrReplaceTempFunction(
      "sq8", args => graft.functions.Sq8(args.head), "built-in")
    registry.createOrReplaceTempFunction(
      "word_shingles", args => graft.functions.WordShingles(args(0), GraftBridge.litInt(args(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "winnow_fingerprints",
      args => graft.functions.WinnowFingerprints(args(0), GraftBridge.litInt(args(1)), GraftBridge.litInt(args(2))), "built-in")
    registry.createOrReplaceTempFunction(
      "mlm_mask", args => graft.functions.MlmMask(args(0), args(1), GraftBridge.litInt(args(2))), "built-in")
    registry.createOrReplaceTempFunction(
      "gear_boundaries", args => graft.functions.GearBoundaries(args(0), GraftBridge.litInt(args(1))), "built-in")
    registry.createOrReplaceTempFunction(
      "maxsim_score", args => graft.functions.MaxSimScore(args(0), args(1)), "built-in")
  }

  /** Fold a literal argument of a SQL function call to Int (k, window,
    * maskBp, … are STRUCTURAL parameters — they shape the expression, so
    * they must be literals, like Spark's own `round(x, d)`).
    */
  def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = e match {
    case lit if lit.foldable => lit.eval() match {
      case n: Number => n.intValue
      case other     => throw new IllegalArgumentException(s"expected an integer literal, got $other")
    }
    case other => throw new IllegalArgumentException(s"expected a literal argument, got $other")
  }
}

package catalyst {
  private[sql] object GraftAnalyzed {
    def mark(plan: plans.logical.LogicalPlan): Unit = plan.setAnalyzed()
  }
}

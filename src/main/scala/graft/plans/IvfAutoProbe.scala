package graft.plans

import graft.operators.{Ivf, Search}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Optimizer rule turning a brute-force cosine top-k over an IVF store into
  * a partition-pruned probe — the (c)-level Catalyst path of SURVEY §2.5:
  * the user writes the DECLARATIVE query
  *
  * {{{ store.orderBy(cosineFast(col("vec"), lit(q)).desc).limit(k) }}}
  *
  * (or the same through `Search.topK`), and when the scan's root path
  * carries the `_graft_centroids.txt` sidecar written by
  * [[Ivf.writeIndexed]], the rule ranks the centroids against the query
  * vector ON THE DRIVER (nList doubles — no job) and injects
  * `list_id IN (nProbe nearest lists)` directly above the relation, where
  * it lands in the scan's `PartitionFilters`: only nProbe/nList of a
  * 100 TB store's files are listed and read.
  *
  * FILTERED queries get [[Search.cardinalityGate]], the one gate every
  * ANN entry point runs (round 15 — the reference's canonical query is
  * filtered k-NN, `backend/vector_db.py:131-170`, and a fixed-width probe
  * under a selective predicate keeps only `sel` of the probed mass:
  * recall cliff): when user predicates sit between the sort and the
  * relation, the probe width widens by 1/sel, and once the widened probe
  * reaches nList (or nothing passes) the rule
  * DECLINES — the user's own plan IS the exact branch (brute-force over
  * the filtered store), strictly cheaper than a prune that reads
  * everything anyway. Because this rule only INJECTS a
  * filter, user predicates always survive verbatim on either path; the
  * gate merely picks the width, exactly like the explicit
  * `Ivf.search(filters = …)` call.
  *
  * The rewrite trades exactness for recall exactly like [[Ivf.search]], so
  * it is OPT-IN: `spark.graft.ivf.autoProbe=true` (probe width
  * `spark.graft.ivf.nProbe`, default 4). Registered via
  * [[graft.GraftExtensions]] (spark-submit) as a PRE-CBO rule — Spark's
  * `Once` batch after operator optimization and before the scan
  * push-down that turns the injected filter into `PartitionFilters` — so
  * planning one query makes ONE gate decision: in the fixed-point
  * operator-optimization batches a declined rule leaves no mark on the
  * plan and re-ran its selectivity job on every pass. A live session can
  * use `spark.experimental.extraOptimizations`, whose batch reaches its
  * fixed point after one pass of this rule.
  *
  * Matching is conservative: a global Sort+Limit whose PRIMARY key is
  * descending cosine similarity against a literal query vector (directly
  * or through one Project alias — `topK`'s shape), over a relation
  * partitioned by `list_id` with a readable sidecar, not already pruned.
  * Anything else is left untouched.
  */
case class IvfAutoProbe(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.ivf.autoProbe").exists(_.toBoolean)
  private def nProbe: Int =
    spark.conf.getOption("spark.graft.ivf.nProbe").map(_.toInt).getOrElse(4)
  // round 16: geometry-aware base width — when set, the injected probe's
  // BASE width is [[Ivf.Model.adaptiveProbeLists]]' margin rule (tight
  // queries probe few lists, boundary queries widen) instead of the fixed
  // nProbe, exactly like the explicit [[Ivf.searchAdaptive]]; the
  // cardinality gate then widens that base by 1/sel as usual. Both
  // derivations rank centroids identically (distance asc, tie by id), so
  // the injected set at width w IS searchAdaptive's at min=max=w.
  private def adaptiveMargin: Option[Double] =
    spark.conf.getOption("spark.graft.ivf.adaptiveMargin").map(_.toDouble)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case orig @ GlobalLimit(gl, LocalLimit(ll, rest))
          if TopKMatch.sortUnderLimit(rest).exists(_._2.order.headOption.exists(_.direction == Descending)) =>
        val (proj, s) = TopKMatch.sortUnderLimit(rest).get
        val order     = s.order
        val child     = s.child
        val rewritten = for {
          (qv, vecExpr) <- TopKMatch.queryVector(order.head.child, child)
          (rel, listAttr, root) <- TopKMatch.partitionedStore(child, "list_id")
          if !alreadyPruned(child, listAttr)
          // a PQ floats store is PqAutoProbe's territory while that rule is
          // enabled — its ADC probe reads m bytes/vector where this rule's
          // pruned float scan reads the full vectors. Narrowed (ADVICE
          // r15): yield only when the PQ rule WOULD actually substitute
          // this subtree — shapes it refuses (wide output, non-tiebreak
          // secondary sort) keep the IVF partition pruning instead of
          // silently full-scanning the floats store.
          if !(root.endsWith("/floats") && PqAutoProbe(spark).wouldRewrite(orig))
          // The ranked column must BE the relation's indexed column: pruning
          // on centroids of a different column (a second vector column, or
          // one from a joined table) would be uncorrelated with the sort and
          // silently destroy recall.
          vecAttr <- TopKMatch.stripCasts(vecExpr) match {
            case a: AttributeReference => Some(a)
            case _                     => None
          }
          relVec <- rel.output.collectFirst {
            case a: AttributeReference if a.exprId == vecAttr.exprId => a
          }
          stored <- Ivf.readCentroids(root, spark.sparkContext.hadoopConfiguration)
          if stored.column.forall(_ == relVec.name)
          model = stored.model
          if model.centroids.nonEmpty && model.centroids.head.length == qv.length
          scoreId = order.head.child match {
            case a: AttributeReference => Some(a.exprId)
            case _                     => None
          }
          base = adaptiveMargin match {
            case Some(m) => math.max(1, model.adaptiveProbeLists(qv.toSeq, m).length)
            case None    => math.min(nProbe, model.centroids.length)
          }
          width <- gatedWidth(child, rel, relVec, listAttr, model.centroids.length, scoreId, base)
          // probing everything — the user's exact plan wins
          if width < model.centroids.length
        } yield {
          val probes = model.probeLists(qv.toSeq, width)
          val pruned = child.transformUp {
            case r: LogicalRelation if r eq rel =>
              Filter(In(listAttr, probes.map(i => Literal(i))), r)
          }
          val newSort = s.copy(child = pruned)
          GlobalLimit(gl, LocalLimit(ll, proj.map(p => p.copy(child = newSort)).getOrElse(newSort)))
        }
        rewritten.getOrElse(orig)
    }

  /** [[Search.cardinalityGate]] in rule form, hydration-aware
    * (round 16). The path from the sort to the relation goes through
    * [[TopKMatch.hydratedPredicates]] — Projects, Filters, and at most
    * ONE `store ⋈ metadata` hydration join:
    *
    *  - plain path: user predicates on store columns gate the width as
    *    before (a conjunct on the vector / list_id column is ignored for
    *    gating, not a cut);
    *  - hydrated path: the METADATA predicates gate the width, estimated
    *    against the column-pruned metadata leaf (a predicate-free
    *    hydration gates on `IsNotNull(key)` — a non-covering metadata
    *    table cuts candidate mass too), over the STORE's row count (the
    *    gate's `population` form). Unlike the substitution rules,
    *    injection needs NO key-uniqueness or id-keyed checks: the user's
    *    join still executes verbatim, the rule only picks the probe
    *    width. Mixing store-column predicates with a hydration declines
    *    (one estimate frame);
    *  - anything else — a second join, a union, a predicate referencing
    *    columns the walk can't account for — REFUSES the injection
    *    outright. Before round 16 those shapes injected an UNWIDENED
    *    probe (the walk skipped predicates it couldn't attribute to the
    *    store), so a selective predicate on a joined metadata table kept
    *    only `sel` of the probed mass: the exact recall cliff the gate
    *    exists to prevent. Unaccounted mass now means no pruning.
    *
    * `None` = decline the injection (the user's exact plan runs): the
    * shape is refused, or the gate took its exact branch.
    */
  private def gatedWidth(
      child: LogicalPlan,
      rel: LogicalRelation,
      relVec: AttributeReference,
      listAttr: AttributeReference,
      nList: Int,
      scoreId: Option[ExprId],
      base: Int,
  ): Option[Int] = {
    def gate(frame: org.apache.spark.sql.DataFrame, preds: Seq[Expression],
        population: org.apache.spark.sql.DataFrame = null): Option[Int] =
      Search.cardinalityGate(frame, preds.map(GraftBridge.column).reduce(_ && _), Double.NaN,
        base, nList, population)
    TopKMatch.hydratedPredicates(child, rel, relVec, scoreId).flatMap { case (storeRaw, hydOpt) =>
      // conjuncts on the vector or list_id columns don't cut candidate
      // mass (the vector feeds the score; list_id guards are the user's
      // own pruning, handled by alreadyPruned) — ignored for gating
      val gateable = storeRaw.filterNot(c =>
        c.references.exists(a => a.exprId == relVec.exprId || a.exprId == listAttr.exprId))
      hydOpt match {
        case None =>
          if (gateable.isEmpty) Some(base)
          else if (!gateable.forall(p => p.references.nonEmpty &&
            p.references.forall(a => rel.outputSet.contains(a)))) None
          else gate(GraftBridge.ofRows(spark, rel), gateable)
        case Some(h) =>
          if (gateable.nonEmpty) None
          else {
            // the hydrated selectivity is |allowed payload rows| / |store
            // rows| — NOT the payload's own pass ratio: a pre-filtered
            // payload (the optimizer folds LocalRelation filters into the
            // data), a non-covering metadata table, or null keys all cut
            // candidate mass without leaving a predicate to measure, and
            // the payload-ratio denominator would read them as sel 1.0
            // and keep the unwidened probe. The store count is a
            // metadata-weight parquet job.
            val preds = if (h.preds.nonEmpty) h.preds else Seq(IsNotNull(h.payloadKey))
            val attrs = (h.payloadKey +: preds.flatMap(_.references)
              .filter(_.exprId != h.payloadKey.exprId)).distinct
            gate(GraftBridge.ofRows(spark, h.payloadRel).select(attrs.map(a => GraftBridge.column(a)): _*),
              preds, population = GraftBridge.ofRows(spark, rel))
          }
      }
    }
  }

  /** Idempotency / user-intent guard: any IN or = filter on list_id below
    * the sort means the probe (ours or the user's) already exists.
    */
  private def alreadyPruned(child: LogicalPlan, listAttr: AttributeReference): Boolean =
    child.exists {
      case Filter(cond, _) =>
        cond.exists {
          case In(a: AttributeReference, _) if a.exprId == listAttr.exprId => true
          case EqualTo(a: AttributeReference, _) if a.exprId == listAttr.exprId => true
          case InSet(a: AttributeReference, _) if a.exprId == listAttr.exprId => true
          case _ => false
        }
      case _ => false
    }
}

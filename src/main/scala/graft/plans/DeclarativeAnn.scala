package graft.plans

import graft.functions.CosineSimilarity
import graft.operators.{Probe, Search}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The declarative-ANN optimizer rule: the two user shapes of the
  * reference's one query, filtered k-NN (`backend/vector_db.py:131-170`),
  * served by the store's index family ([[AnnFamily]]: IVF, IVF-PQ, HNSW)
  * instead of a brute-force scan.
  *
  * SINGLE QUERY — a global Sort+Limit whose primary key is descending
  * cosine against a literal query vector over a stored relation's own
  * indexed column (directly or through one Project alias — `Search.topK`'s
  * shape; SQL text constant-folds to the same):
  *
  * {{{ store.orderBy(cosineFast(col("vec"), lit(q)).desc).limit(k) }}}
  *
  *  - HNSW and PQ-floats stores SUBSTITUTE the subtree with the family's
  *    gated top-k ([[Hnsw.searchIndex]] / [[Pq.searchIvfPq]]), re-aliased
  *    to the original output attributes. Because the rewrite replaces the
  *    subtree, the match is strictly conservative: the only admissible
  *    secondary sort key is the id-ascending tiebreak the family applies,
  *    the path to the relation is the [[TopKMatch.hydratedPredicates]]
  *    walk (Projects, Filters, `Search.topK`'s guards, at most one
  *    hydration join), and the output reaches only (id, score).
  *  - IVF stores keep the user's plan: the rule ranks the centroids
  *    against the query ON THE DRIVER and INJECTS `list_id IN (nearest
  *    lists)` above the relation, where it lands in the scan's
  *    `PartitionFilters`. A PQ floats store whose ADC substitution
  *    refuses (a wide output, a foreign secondary sort) falls through to
  *    this injection, so it never loses its partition pruning.
  *  - An IVF store small enough to be held on the driver ([[Resident]],
  *    keyed on the store's version token and file set) is answered THERE:
  *    the same gate decision and list set, a `LocalRelation` of the k
  *    rows, no Spark job ([[residentTopK]], through [[Resident.topK]]).
  *    The hydration join after it becomes a driver-side lookup
  *    ([[residentLookup]]). `Search.topK` and `Joins.hydrate` over a copy
  *    already held take the same two paths when their frame is built
  *    (the companion object), so the rule sees those only as a held
  *    answer to turn into its `LocalRelation`.
  *
  * BATCH — per-query top-k over a queries × store cross join:
  *
  * {{{
  *   val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
  *   queries.crossJoin(store)
  *     .withColumn("score", cosineFast(col("vec"), col("qvec")))
  *     .withColumn("rank", row_number().over(w))
  *     .where(col("rank") <= k)
  * }}}
  *
  * substituted by the family's gated batch join — or, for a corpus with no
  * index at all, by the exact [[Search.knnJoin]] (`bruteFor`). The window
  * form planned a CARTESIAN (|q|·|corpus| cosines, `WindowGroupLimit`
  * saving only the sort); the family joins fan each query out to its
  * probed lists / per-shard beams. See [[rewriteWindow]] for the match.
  *
  * Filtered queries of either shape run the one cardinality gate (in
  * [[Search]], through [[Probe]] for IVF and IVF-PQ), one decision per
  * planned query (per predicate group for a per-query batch): the width
  * widens by 1/sel and the exact branch takes over once
  * the widened probe covers everything. Every rewrite trades exactness for
  * recall like the explicit call it stands for, so each family is OPT-IN
  * (`spark.graft.{ivf,pq,hnsw}.autoProbe`, the brute fallback
  * `spark.graft.knnJoin.bruteAuto`; widths and defaults in [[AnnConf]]).
  *
  * Registered by [[graft.GraftExtensions]] as a PRE-CBO rule — Spark's
  * `Once` batch after operator optimization and before the scan push-down
  * that makes the injected filter a partition filter — so planning a
  * query runs each rule-time data check (the gate's estimate, the
  * hydration key-uniqueness aggregate, the per-query group enumeration)
  * once: in the fixed-point operator-optimization batches a declined rule
  * leaves no mark on the plan and re-ran them on every pass. A live
  * session can use `spark.experimental.extraOptimizations`.
  */
case class DeclarativeAnn(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val c        = new AnnConf(spark)
    // an answer held when its frame was built is computed now
    val p        = plan.transformUp { case h: Resident.Held => h.relation }
    val families = Seq(HnswFamily, PqFamily, IvfFamily).filter(_.enabled(c))
    val lookups  = families.contains(IvfFamily)
    if (families.isEmpty && !c.bruteAuto) p
    else p.transformDown {
      case orig @ GlobalLimit(_, LocalLimit(_, rest))
          if families.nonEmpty &&
            TopKMatch.sortUnderLimit(rest).exists(_._2.order.headOption.exists(_.direction == Descending)) =>
        rewriteTopK(c, families, orig, rest).getOrElse(orig)
      case orig @ Filter(_, w: Window) =>
        rewriteWindow(c, families, orig, w).getOrElse(orig)
      case j: Join if lookups && j.joinType == Inner =>
        residentLookup(j).getOrElse(j)
    }
  }

  private def limitOf(orig: GlobalLimit): Option[Int] = orig.limitExpr match {
    case Literal(k: Int, IntegerType) => Some(k)
    case _                            => None
  }

  // ---- single query ---------------------------------------------------------

  /** `held`: answer only from a copy already held, and only an IVF store
    * the rule would inject into ([[DeclarativeAnn.heldTopK]]); anything
    * else is left for planning. */
  private[plans] def rewriteTopK(c: AnnConf, families: Seq[AnnFamily], orig: GlobalLimit,
      rest: LogicalPlan, held: Boolean = false): Option[LogicalPlan] = {
    val (proj, s) = TopKMatch.sortUnderLimit(rest).get
    val child     = s.child
    val scoreId = s.order.head.child match {
      case a: AttributeReference => Some(a.exprId)
      case _                     => None
    }
    for {
      (qv, vecExpr, cos) <- TopKMatch.queryVector(s.order.head.child, child)
      vec <- TopKMatch.stripCasts(vecExpr) match {
        case a: AttributeReference => Some(a)
        case _                     => None
      }
      stores = families.view.flatMap(_.open(spark, child, Seq(vec))).filter(_.dim.forall(_ == qv.length))
      out <-
        if (held) stores.headOption.collect { case st: IvfStore => st }
          .flatMap(injectProbe(c, _, orig, proj, s, qv, cos, scoreId, held))
        else stores.flatMap {
          case st: TopKStore => substituteTopK(c, st, orig, s, qv, scoreId)
          case st: IvfStore  => injectProbe(c, st, orig, proj, s, qv, cos, scoreId, held)
        }.headOption
    } yield out
  }

  /** HNSW / PQ: replace the subtree by the family's gated top-k. */
  private def substituteTopK(c: AnnConf, st: TopKStore, orig: GlobalLimit, s: Sort,
      qv: Array[Double], scoreId: Option[ExprId]): Option[LogicalPlan] =
    for {
      k  <- limitOf(orig)
      id <- st.idIn(orig.output)
      if TopKMatch.tiebreakOnly(s.order, id)
      if orig.output.forall(a => a.exprId == id.exprId || scoreId.contains(a.exprId))
      (preds, hyd) <- TopKMatch.hydratedPredicates(s.child, st.rel, st.vec, scoreId)
      if hyd.forall(st.topKPayloadOk)
      if admitted(st, id, preds, hyd)
    } yield {
      val g = new Gated(st, id, preds, hyd, Nil)
      splice(orig, st.topK(c, id, qv.toSeq, k, g.filters, g.payload, g.payloadIdCol),
        a => if (a.exprId == id.exprId) id.name else "score")
    }

  /** IVF: inject the gated probe above the relation; the user's plan runs.
    * The width policy and the gate are [[Probe]]'s, so the injected list
    * set is the explicit call's ([[graft.operators.Ivf.search]] at
    * `spark.graft.ivf.nProbe`, [[graft.operators.Ivf.searchAdaptive]] at
    * `spark.graft.ivf.adaptiveMargin`). A store held on the driver
    * ([[Resident]]) is answered there instead ([[residentTopK]]).
    */
  private def injectProbe(c: AnnConf, st: IvfStore, orig: GlobalLimit, proj: Option[Project], s: Sort,
      qv: Array[Double], cos: Expression, scoreId: Option[ExprId], held: Boolean): Option[LogicalPlan] = {
    if (alreadyPruned(s.child, st.part)) return None
    val width = c.adaptiveMargin.fold[Probe.Width](Probe.Fixed(c.ivfNProbe))(Probe.Margin(_))
    gatePredicates(st, s.child, scoreId).flatMap { case (preds, hyd) =>
      residentTopK(st, width, preds, hyd, orig, proj, s, qv, cos, scoreId, held).orElse(
        if (held) None
        else Probe.injected(st.model, width, gateFilter(st, preds, hyd), qv.toSeq).map { probes =>
          val pruned = s.child.transformUp {
            case r: LogicalRelation if r eq st.rel =>
              Filter(In(st.part, probes.map(i => Literal(i))), r)
          }
          val newSort = s.copy(child = pruned)
          orig.copy(child = orig.child.asInstanceOf[LocalLimit]
            .copy(child = proj.map(p => p.copy(child = newSort)).getOrElse(newSort)))
        })
    }
  }

  /** The injected probe answered on the driver from the store's resident
    * copy through [[Resident.topK]], as a `LocalRelation` of the k rows
    * under the limit's output attributes — no job (`held`: a
    * [[Resident.Held]] answer, computed when the frame is planned). The plain store
    * path only (a hydrated top-k's join keeps the injection), and only
    * what that one function answers exactly:
    *
    *  - the path's Filters carry the NaN guard on the score (`Search.topK`
    *    plants it), so a NaN or null score never surfacing is the user's
    *    own predicate; every other conjunct reads only relation columns;
    *  - the primary key is the descending score, and any further keys are
    *    relation columns;
    *  - the vector is `array<float>` or `array<double>`.
    *
    * The output rows are the matched Projects evaluated over the k rows,
    * with the computed score standing in for the cosine. None (nothing
    * decided yet) keeps the injection: a non-literal limit, a declined
    * shape, or no current copy (`held`: no copy already held).
    */
  private def residentTopK(st: IvfStore, width: Probe.Width, gate: Seq[Expression], hyd: Option[TopKMatch.Hydration],
      orig: GlobalLimit, proj: Option[Project], s: Sort, qv: Array[Double], cos: Expression,
      scoreId: Option[ExprId], held: Boolean): Option[LogicalPlan] = {
    def isScore(e: Expression): Boolean = e match {
      case a: AttributeReference => scoreId.contains(a.exprId)
      case other                 => other.semanticEquals(cos)
    }
    def onRel(e: Expression): Boolean = e.references.forall(st.rel.outputSet.contains)
    val (guards, keep) = s.child.collect { case Filter(cond, _) => TopKMatch.splitConjuncts(cond) }.flatten.partition {
      case Not(IsNaN(e)) => isScore(e)
      case IsNotNull(e)  => isScore(e)
      case _             => false
    }
    val vec = st.rel.output.indexWhere(_.exprId == st.vec.exprId)
    for {
      k <- limitOf(orig)
      if hyd.isEmpty && Resident.evaluable(s.child, st.rel) && proj.forall(_.projectList.forall(Resident.evaluable))
      if guards.exists(_.isInstanceOf[Not]) && keep.forall(onRel)
      if s.order.head.direction == Descending && isScore(s.order.head.child)
      if s.order.tail.forall(o => o.child.isInstanceOf[AttributeReference] && onRel(o.child))
      if (st.vec.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _                                                  => false
      })
      t    <- st.token
      copy <- if (held) Resident.lookup(spark, st.rel, t) else Resident.load(spark, st.rel, t)
    } yield {
      val answer = new Resident.Held.Answer(Resident.project(proj.fold(s.child)(_.copy(child = s.child)),
        Resident.topK(copy, st.model, width, gate, keep, st.rel.output, vec, qv, k, s.order.tail), isScore))
      if (held) Resident.Held(orig.output, k, answer) else LocalRelation(orig.output, answer.rows)
    }
  }

  /** What the injected probe's gate estimates, over the
    * [[TopKMatch.hydratedPredicates]] walk, with the hydration it reads
    * (None: the store's own columns):
    *
    *  - plain path: user predicates on store columns gate the width (a
    *    conjunct on the vector / `list_id` is ignored for gating, not a
    *    cut — `list_id` guards are the user's own pruning, handled by
    *    [[alreadyPruned]]);
    *  - hydrated path: the METADATA predicates gate the width, estimated
    *    against the column-pruned metadata leaf over the STORE's row count
    *    (the gate's `population` form: a pre-filtered or non-covering
    *    metadata table, or null keys, cut candidate mass without leaving a
    *    predicate to measure). Injection needs NO key-uniqueness or
    *    id-keyed checks: the user's join still executes verbatim. Mixing
    *    store-column predicates with a hydration declines (one estimate
    *    frame);
    *  - anything else — a second join, a union, a predicate referencing
    *    columns the walk can't account for — REFUSES: unaccounted mass
    *    means no pruning.
    *
    * `None` = decline (the user's exact plan runs): the shape is refused.
    */
  private def gatePredicates(st: IvfStore, child: LogicalPlan, scoreId: Option[ExprId])
      : Option[(Seq[Expression], Option[TopKMatch.Hydration])] =
    TopKMatch.hydratedPredicates(child, st.rel, st.vec, scoreId).flatMap { case (storeRaw, hyd) =>
      val gateable = storeRaw.filterNot(_.references.exists(a => st.excluded(a.exprId)))
      hyd match {
        case None =>
          if (gateable.forall(p => p.references.nonEmpty && p.references.forall(a => st.rel.outputSet.contains(a))))
            Some((gateable, None))
          else None
        case Some(_) => if (gateable.nonEmpty) None else Some((filtersOf(Nil, hyd), hyd))
      }
    }

  /** The gate's filter for [[gatePredicates]]: its estimate frame rides as
    * the filter's `payload`. */
  private def gateFilter(st: IvfStore, preds: Seq[Expression], hyd: Option[TopKMatch.Hydration]): Probe.Filter =
    hyd match {
      case _ if preds.isEmpty => Probe.Filter()
      case None               => Probe.Filter(preds.map(GraftBridge.column), st.frame)
      case Some(h) =>
        Probe.Filter(preds.map(GraftBridge.column), hydratedFrame(h, preds.flatMap(_.references)), population = st.frame)
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

  /** The hydration lookup over a resident store: an Inner equi-join of a
    * local side (the ≤ k hits `Joins.hydrate` joins: Projects and Filters
    * over a `LocalRelation`) with Projects and Filters over a store that
    * already has a current resident copy becomes a driver-side lookup
    * emitting a `LocalRelation` — no job. It never builds a copy: only a
    * top-k or an in-budget `Ivf.applyDelta` does. Keys are integral or
    * string columns of one type on both sides (a null key matches
    * nothing, as in the join); the first key reads a relation column as it
    * is, so each local row's matches come from the copy's memoized index
    * on that column ([[Resident.Copy.withKey]]) and the rest are compared
    * on the evaluated rows. An output larger than the copy keeps the join,
    * and so does a store-side key computed by a Project.
    */
  private[plans] def residentLookup(j: Join): Option[LogicalPlan] = {
    def localOf(p: LogicalPlan): Option[LocalRelation] = Resident.leafOf(p).collect { case l: LocalRelation => l }
    val oriented = localOf(j.left).map((j.left, _, j.right)).orElse(localOf(j.right).map((j.right, _, j.left)))
    for {
      (local, data, side) <- oriented
      rel  <- Resident.leafOf(side).collect { case r: LogicalRelation => r }
      keys <- equiKeys(j.condition, local.output, side.output)
      (li, si, dt) = keys.head
      leaf = rel.output.indexWhere(_.exprId == side.output(si).exprId)
      if leaf >= 0
      copy <- Resident.lookup(spark, rel)
      out  <- {
        val run       = Resident.evaluator(side)
        val localLeft = j.left eq local
        val out = Resident.evaluator(local)(data.data.iterator).filterNot(_.isNullAt(li)).flatMap { h =>
          run(copy.withKey(leaf, dt, h.get(li, dt)).iterator)
            .filter(r => keys.forall { case (l, s, t) => !h.isNullAt(l) && !r.isNullAt(s) && h.get(l, t) == r.get(s, t) })
            .map(r => (if (localLeft) new JoinedRow(h, r) else new JoinedRow(r, h)).copy())
        }.take(copy.size + 1).toSeq
        if (out.length > copy.size) None else Some(out)
      }
    } yield LocalRelation(j.output, out)
  }

  /** The join condition as equality keys (local index, store-side index,
    * type) between plain integral or string columns of one type; None
    * when any conjunct is something else. */
  private def equiKeys(cond: Option[Expression], local: Seq[Attribute], side: Seq[Attribute])
      : Option[Seq[(Int, Int, DataType)]] = {
    def at(out: Seq[Attribute], x: Attribute): Int = out.indexWhere(_.exprId == x.exprId)
    val keys = cond.toSeq.flatMap(TopKMatch.splitConjuncts).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.dataType == b.dataType && (TopKMatch.integral(a.dataType) || a.dataType == StringType) =>
        Seq((at(local, a), at(side, b)), (at(local, b), at(side, a))).collectFirst {
          case (l, r) if l >= 0 && r >= 0 => (l, r, a.dataType)
        }
      case _ => None
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.flatten) else None
  }

  // ---- shared by both shapes ------------------------------------------------

  /** Substitution admission. A hydrated path carries its filters in the
    * payload leaf alone, joined on the store id by a unique integral key:
    * a dup-keyed payload would rank duplicate hits in the user's inner
    * join but not in the family's semi-joined path ([[TopKMatch.payloadUnique]],
    * one rule-time aggregate — checked last). A plain path's predicates
    * read only the store's own non-excluded columns.
    */
  private def admitted(st: AnnStore, id: AttributeReference, preds: Seq[Expression],
      hyd: Option[TopKMatch.Hydration]): Boolean = hyd match {
    case Some(h) =>
      preds.isEmpty && h.storeKey.exprId == id.exprId && TopKMatch.integral(h.payloadKey.dataType) &&
        TopKMatch.payloadUnique(spark, h)
    case None =>
      preds.forall(p => p.references.nonEmpty &&
        p.references.forall(a => st.rel.outputSet.contains(a) && !st.excluded(a.exprId)))
  }

  /** The family's filter set: the hydration predicates (IsNotNull on the
    * payload key when the user filtered nothing — it keeps the gated path,
    * whose semi-join IS the inner hydration's row set), or the store-path
    * predicates.
    */
  private def filtersOf(preds: Seq[Expression], hyd: Option[TopKMatch.Hydration]): Seq[Expression] =
    hyd.map(h => if (h.preds.nonEmpty) h.preds else Seq(IsNotNull(h.payloadKey))).getOrElse(preds)

  private def pruned(df: DataFrame, key: Attribute, cols: Seq[Attribute]): DataFrame =
    df.select((key +: cols.filter(_.exprId != key.exprId).distinct).map(a => GraftBridge.column(a)): _*)

  private def hydratedFrame(h: TopKMatch.Hydration, cols: Seq[Attribute]): DataFrame =
    pruned(GraftBridge.ofRows(spark, h.payloadRel), h.payloadKey, cols)

  /** A gated family call's filters ([[filtersOf]]) and payload: the
    * hydration leaf, or the store itself, column-pruned to the key plus the
    * filter columns and `keyCols` (per-query pair columns) — so the
    * estimate scan and the allowed-id semi-join never move vectors.
    * `frame` is built on first use; no filters is the family's plain form
    * (payload null).
    */
  private final class Gated(st: AnnStore, id: AttributeReference, preds: Seq[Expression],
      hyd: Option[TopKMatch.Hydration], keyCols: Seq[Attribute]) {
    val base: Seq[Expression] = filtersOf(preds, hyd)
    lazy val frame: DataFrame = {
      val cols = base.flatMap(_.references) ++ keyCols
      hyd.map(hydratedFrame(_, cols)).getOrElse(pruned(st.frame, id, cols))
    }
    val payloadIdCol: String = hyd.map(_.payloadKey.name).getOrElse(id.name)
    def filters: Seq[Column] = base.map(GraftBridge.column)
    def payload: DataFrame   = if (base.isEmpty) null else frame
  }

  /** Splice the family's result in place of `orig`, re-aliased to the
    * original output attribute ids so downstream operators resolve
    * unchanged. The OPTIMIZED inner plan, not the analyzed one: an
    * analyzed splice would ship un-eliminated broadcast hints into the
    * planner.
    */
  private def splice(orig: LogicalPlan, hits: DataFrame, colOf: Attribute => String): LogicalPlan = {
    val hplan = GraftBridge.optimized(
      hits.select(orig.output.map(a => col(colOf(a)).cast(a.dataType).as(a.name)): _*))
    Project(orig.output.zip(hplan.output).map { case (a, src) => Alias(src, a.name)(exprId = a.exprId) },
      hplan)
  }

  // ---- batch ------------------------------------------------------------------

  /** The batch match; anything else keeps the user's plan:
    *
    *  - the filter is EXACTLY `row_number_alias <= k` (or `< k+1`, their
    *    mirrors, or `= 1`) over the window's one expression;
    *  - the window computes exactly ONE `row_number()`, partitioned by
    *    exactly ONE key, ordered by descending cosine between the store's
    *    indexed vector column and a queries-side column, with at most the
    *    store-id-ascending tiebreak as a secondary key;
    *  - under the window (through Projects, the optimizer's
    *    `WindowGroupLimit`, and benign NaN/null guards on the score or the
    *    two vector columns) sits ONE Inner/Cross join. Its condition, if
    *    any, is all equalities between plain columns from opposite sides —
    *    the declarative spelling of PER-QUERY filters
    *    (`store.lang = queries.lang`), routed through
    *    [[Search.perQueryFiltered]]: the batch's distinct key tuples are
    *    enumerated (at most `spark.graft.knnJoin.maxPredGroups`; more
    *    REFUSES, because plan fan-out stays bounded by predicate classes,
    *    never |q|) and each group runs the family's gated join with its
    *    store-side literal equalities. Keys are string/integral/boolean
    *    (their driver-side `toString` is exactly Spark's string cast) and,
    *    for the indexed families, physical non-excluded store columns — or
    *    payload leaf columns when hydrated;
    *  - one join side reaches the store through the
    *    [[TopKMatch.hydratedPredicates]] walk with the substitution
    *    admission; the other is the queries frame, passed wholesale;
    *  - both id columns are integral (the families' join keys are longs;
    *    the output casts back to the original types);
    *  - the output reaches only {query id, store id, score, rank}.
    *
    * Differences from the cartesian the user wrote, shared with the
    * explicit batch APIs: NaN-scored pairs and null-vector/null-id rows
    * never surface, and IVF/HNSW probes are approximate at pruned widths.
    */
  private def rewriteWindow(c: AnnConf, families: Seq[AnnFamily], orig: Filter, w: Window): Option[LogicalPlan] = {
    // ---- 1. the rank bound ------------------------------------------------
    // = k for k > 1 keeps only the k-th row — a different question, refused
    val bound = orig.condition match {
      case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))    => Some((a.exprId, k))
      case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))           => Some((a.exprId, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: AttributeReference) => Some((a.exprId, k))
      case GreaterThan(Literal(k: Int, IntegerType), a: AttributeReference)        => Some((a.exprId, k - 1))
      case EqualTo(a: AttributeReference, Literal(1, IntegerType))                 => Some((a.exprId, 1))
      case EqualTo(Literal(1, IntegerType), a: AttributeReference)                 => Some((a.exprId, 1))
      case _                                                                       => None
    }
    val (rankId, k) = bound.getOrElse(return None)
    if (k < 1) return None

    // ---- 2. the window: one row_number over one partition key -------------
    val (partKey, orderSpec) = w match {
      case Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
          Seq(p: AttributeReference), os, _, _) if al.exprId == rankId => (p, os)
      case _ => return None
    }
    if (orderSpec.isEmpty || orderSpec.head.direction != Descending) return None

    // ---- 3. walk to the join, collecting aliases + path guards ------------
    var aliasMap   = Map.empty[ExprId, Expression]
    var pathGuards = Seq.empty[Expression]
    def findJoin(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(pl, c) =>
        pl.foreach { case al: Alias => aliasMap += al.exprId -> al.child; case _ => () }
        findJoin(c)
      case Filter(cond, c) =>
        pathGuards ++= TopKMatch.splitConjuncts(cond); findJoin(c)
      case wgl: WindowGroupLimit => findJoin(wgl.child)
      case _                     => None
    }
    val join = findJoin(w.child).getOrElse(return None)
    if (join.joinType != Inner && join.joinType != Cross) return None
    val rawPairs: Seq[(AttributeReference, AttributeReference)] =
      join.condition.map(TopKMatch.splitConjuncts).getOrElse(Nil).map {
        case EqualTo(x, y) =>
          (TopKMatch.stripCasts(x), TopKMatch.stripCasts(y)) match {
            case (a: AttributeReference, b: AttributeReference) => (a, b)
            case _                                              => return None
          }
        case _ => return None
      }

    // ---- 4. the score: descending cosine(store vec, query vec) ------------
    val scoreId = TopKMatch.stripCasts(orderSpec.head.child) match {
      case a: AttributeReference => Some(a.exprId)
      case _                     => None
    }
    val scoreExpr = TopKMatch.stripCasts(orderSpec.head.child) match {
      case a: AttributeReference => aliasMap.getOrElse(a.exprId, return None)
      case direct                => direct
    }
    val (va, vb) = TopKMatch.stripCasts(scoreExpr) match {
      case CosineSimilarity(x, y) =>
        (TopKMatch.stripCasts(x), TopKMatch.stripCasts(y)) match {
          case (a: AttributeReference, b: AttributeReference) => (a, b)
          case _                                              => return None
        }
      case _ => return None
    }

    // ---- 5. path guards above the join must be benign ---------------------
    // (side-specific predicates were pushed below the join before this rule
    // runs; what legitimately remains are the cross-side guards)
    if (!pathGuards.forall(TopKMatch.benignGuard(_, Set(va.exprId, vb.exprId) ++ scoreId))) return None

    // ---- 6. which side is the store? --------------------------------------
    val m = WindowMatch(c, k, partKey, orderSpec, scoreId, orig.output, rawPairs, va, vb)
    val sides = Seq(join.left -> join.right, join.right -> join.left)
    // indexed families first in BOTH orientations — the brute fallback
    // must never shadow a real store sitting on the other join side
    val (idAttr, hits) = sides.view.flatMap { case (storeSide, querySide) =>
      families.view.flatMap(_.open(spark, storeSide, Seq(va, vb)))
        .flatMap(st => familyBatch(m, st, storeSide, querySide)).headOption
    }.headOption.orElse(sides.view.flatMap { case (corpusSide, querySide) =>
      bruteFor(m, corpusSide, querySide)
    }.headOption).getOrElse(return None)

    // ---- 7. output contract: {qid, store id, score, rank} only ------------
    val famCol: Map[ExprId, String] =
      Map(partKey.exprId -> "query_id", idAttr.exprId -> "neighbor_id", rankId -> "rank") ++
        scoreId.map(_ -> "score")
    if (!orig.output.forall(a => famCol.contains(a.exprId))) return None
    Some(splice(orig, hits(), a => famCol(a.exprId)))
  }

  /** The matched window's facts every candidate store is checked against. */
  private case class WindowMatch(
      c: AnnConf,
      k: Int,
      partKey: AttributeReference,
      orderSpec: Seq[SortOrder],
      scoreId: Option[ExprId],
      output: Seq[Attribute],
      rawPairs: Seq[(AttributeReference, AttributeReference)],
      va: AttributeReference,
      vb: AttributeReference) {
    /** The queries-side vector, given the store side's. */
    def queryVec(storeVec: AttributeReference): AttributeReference =
      if (storeVec.exprId == va.exprId) vb else va

    def queriesOf(querySide: LogicalPlan, qv: AttributeReference): DataFrame =
      GraftBridge.ofRows(spark, querySide).select(
        GraftBridge.column(partKey).as("__gqid"), GraftBridge.column(qv).as("__gqv"))
  }

  /** One indexed store as the batch join's store side: the store id, and
    * the deferred family call — one per predicate group when per-query.
    */
  private def familyBatch(m: WindowMatch, st: AnnStore, storeSide: LogicalPlan, querySide: LogicalPlan)
      : Option[(AttributeReference, () => DataFrame)] = {
    val qv = m.queryVec(st.vec)
    for {
      _ <- Some(()) if querySide.outputSet.contains(qv) && querySide.outputSet.contains(m.partKey)
      id <- st.idIn(m.output)
      if TopKMatch.integral(m.partKey.dataType) && TopKMatch.integral(id.dataType)
      if TopKMatch.tiebreakOnly(m.orderSpec, id)
      (preds, hyd) <- TopKMatch.hydratedPredicates(storeSide, st.rel, st.vec, m.scoreId)
      pairs <- resolvePairs(m.rawPairs, st.rel,
        if (hyd.isDefined) Set.empty[ExprId] else st.excluded, querySide, qv, hyd)
      if admitted(st, id, preds, hyd)
      g = new Gated(st, id, preds, hyd, pairs.map(_._1))
      groups <- perQueryOf(m, pairs, querySide, qv, g.base)
    } yield (id, () => groups match {
      case Some(pq) if pq.groups.nonEmpty =>
        // ONE column-pruned payload scan estimates every group's
        // selectivity; each family call takes its group's as a hint (so it
        // still counts one decision per group). A group nothing passes
        // has no hint (a hint is > 0) and the family's own scan decides.
        val sels = Search.estimatedSelectivities(g.frame, pq.groups.map(_._2.reduce(_ && _)))
        val hint = pq.groups.map(_._1).zip(sels.map(s => if (s == 0d) Double.NaN else s)).toMap
        Search.perQueryFilteredKeyed(pq.queries, "__gpred", pq.groups,
          (key, qs, fs) => st.knnJoin(m.c, id, qs.select(col("__gqid"), col("__gqv")), m.k,
            fs, g.frame, g.payloadIdCol, hint(key)))
      case _ =>
        st.knnJoin(m.c, id, m.queriesOf(querySide, qv), m.k, g.filters, g.payload, g.payloadIdCol,
          Double.NaN)
    })
  }

  /** EXACT brute-force fallback (opt-in: `spark.graft.knnJoin.bruteAuto`)
    * for corpora with no index at all: the window cartesian scores
    * |q|·n cosines AND full-sorts every group, while [[Search.knnJoin]]
    * scores the same cosines but cuts top-k with the map-side-combined
    * TopKScored aggregate — the shuffle carries ≤ k rows per
    * (query, partition). The corpus side is taken WHOLESALE — its own
    * filters ride along inside the wrapped subtree — so this needs no
    * relation, no sidecar, and no predicate routing; the queries side is
    * identified by the window partition key. A per-query JOIN CONDITION
    * routes through the same [[Search.perQueryFiltered]] device as the
    * indexed families — each group's literal equalities pre-filter the
    * corpus before its exact knnJoin, so the substitution stays value-exact.
    */
  private def bruteFor(m: WindowMatch, corpusSide: LogicalPlan, querySide: LogicalPlan)
      : Option[(AttributeReference, () => DataFrame)] = {
    if (!m.c.bruteAuto) return None
    for {
      cv <- Seq(m.va, m.vb).filter(a => corpusSide.outputSet.contains(a)) match {
        case Seq(one) => Some(one)
        case _        => None
      }
      qv = m.queryVec(cv)
      if querySide.outputSet.contains(qv) && querySide.outputSet.contains(m.partKey)
      id <- m.output.flatMap(a => corpusSide.output.collect {
        case r: AttributeReference if r.exprId == a.exprId && r.exprId != cv.exprId => r
      }).distinct match {
        case Seq(one) => Some(one)
        case _        => None
      }
      if TopKMatch.integral(m.partKey.dataType) && TopKMatch.integral(id.dataType)
      if TopKMatch.tiebreakOnly(m.orderSpec, id)
      pairs  <- resolvePairs(m.rawPairs, corpusSide, Set(cv.exprId), querySide, qv)
      groups <- perQueryOf(m, pairs, querySide, qv, Nil)
    } yield (id, () => {
      val corpusAll = GraftBridge.ofRows(spark, corpusSide)
      def run(qs: DataFrame, fs: Seq[Column]): DataFrame =
        Search.knnJoin(qs,
          fs.foldLeft(corpusAll)((df, f) => df.where(f)).select(
            GraftBridge.column(id).as("__gcid"), GraftBridge.column(cv).as("__gcv")),
          "__gqv", "__gqid", "__gcv", "__gcid", m.k, excludeSelf = false)
      groups match {
        case Some(pq) if pq.groups.nonEmpty =>
          Search.perQueryFiltered(pq.queries, "__gpred", pq.groups,
            (qs, fs) => run(qs.select(col("__gqid"), col("__gqv")), fs))
        case _ => run(m.queriesOf(querySide, qv), Nil)
      }
    })
  }

  /** Per-query key columns must round-trip exactly between the Spark-side
    * group-key string (`cast(c as string)`) and the driver-side encoding
    * of the collected value (`toString`) — true for these, NOT for
    * float/decimal/timestamp formatting.
    */
  private def keyType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case other                    => TopKMatch.integral(other)
  }

  /** Orient the join-condition equality conjuncts once the store side is
    * known: each must pair one store-side column (never an excluded one;
    * for the indexed families `storeSide` is the RELATION itself, so the
    * key is a physical store column) with one queries-side column (never
    * the query vector), both key-typed. When hydrated, a key must resolve
    * (through plain renames) to a payload LEAF column — the group filters
    * and the gate run against the leaf frame. None = some conjunct doesn't
    * fit — refuse.
    */
  private def resolvePairs(
      raw: Seq[(AttributeReference, AttributeReference)],
      storeSide: LogicalPlan,
      storeExcluded: Set[ExprId],
      querySide: LogicalPlan,
      qv: AttributeReference,
      hyd: Option[TopKMatch.Hydration] = None,
  ): Option[Seq[(AttributeReference, AttributeReference)]] = {
    def storeLeaf(x: AttributeReference): Option[AttributeReference] = hyd match {
      case Some(h) => h.leafOf(x)
      case None    => if (storeSide.outputSet.contains(x)) Some(x) else None
    }
    def pair(s: AttributeReference, q: AttributeReference) =
      Some((s, q)).filter(_ => querySide.outputSet.contains(q) && !storeExcluded.contains(s.exprId) &&
        q.exprId != qv.exprId && keyType(s.dataType) && keyType(q.dataType))
    val oriented = raw.map { case (a, b) =>
      (storeLeaf(a), storeLeaf(b)) match {
        case (Some(sa), None) => pair(sa, b)
        case (None, Some(sb)) => pair(sb, a)
        case _                => None
      }
    }
    if (oriented.forall(_.isDefined)) Some(oriented.flatten) else None
  }

  /** The perQueryFiltered inputs for a resolved pair set: the queries
    * frame carrying an EXACT group-key string (`n` marks a null cell, `v`
    * prefixes a value — an inner-join null key matches nothing, so its
    * group gets `lit(false)`), and per distinct tuple the store-side
    * literal equality conjuncts plus the static path predicates
    * (IsNotNull guards on pair columns are dropped — every group literal
    * implies them).
    */
  private case class PerQuery(queries: DataFrame, groups: Seq[(String, Seq[Column])])

  /** `Some(None)` when there are no pairs; `None` = refuse. Enumeration is
    * the batch match's only data touch besides the uniqueness check: ONE
    * distinct scan of the queries side bounded by `maxPredGroups + 1`
    * rows; more distinct tuples (or a separator byte inside a key value,
    * which could alias two tuples to one key) refuses.
    */
  private def perQueryOf(
      m: WindowMatch,
      pairs: Seq[(AttributeReference, AttributeReference)],
      querySide: LogicalPlan,
      qv: AttributeReference,
      staticPreds: Seq[Expression],
  ): Option[Option[PerQuery]] = {
    import org.apache.spark.sql.functions.{concat, concat_ws, lit, when}
    if (pairs.isEmpty) return Some(None)
    val cap = m.c.maxPredGroups
    // a non-deterministic queries side (rand()-derived keys) would make
    // this enumeration disagree with the later execution
    if (querySide.collect { case p => p.expressions }.flatten.exists(e => !e.deterministic))
      return None
    val qdf = GraftBridge.ofRows(spark, querySide)
    val tuples = qdf.select(pairs.map(p => GraftBridge.column(p._2)): _*)
      .distinct().limit(cap + 1).collect()
    if (tuples.length > cap) return None
    def encCell(v: Any): String = if (v == null) "n" else "v" + v.toString
    if (tuples.exists(r => pairs.indices.exists(i => encCell(r.get(i)).contains('\u0001'))))
      return None
    val statics = staticPreds.filterNot {
      case IsNotNull(a: AttributeReference) => pairs.exists(_._1.exprId == a.exprId)
      case _                                => false
    }.map(GraftBridge.column)
    val groups = tuples.toSeq.map { r =>
      val key = pairs.indices.map(i => encCell(r.get(i))).mkString("\u0001")
      val filters = pairs.zipWithIndex.map { case ((sa, qa), i) =>
        r.get(i) match {
          case null => GraftBridge.column(Literal(false))
          case v    => GraftBridge.column(EqualTo(sa, Literal.create(v, qa.dataType)))
        }
      } ++ statics
      key -> filters
    }
    val keyCol = concat_ws("\u0001", pairs.map { case (_, qa) =>
      val c = GraftBridge.column(qa)
      when(c.isNull, lit("n")).otherwise(concat(lit("v"), c.cast("string")))
    }: _*)
    Some(Some(PerQuery(
      qdf.select(GraftBridge.column(m.partKey).as("__gqid"),
        GraftBridge.column(qv).as("__gqv"), keyCol.as("__gpred")),
      groups)))
  }
}

/** The construction-time entries: `Search.topK` and `Joins.hydrate` build
  * their frame and, in a session that runs the rule with
  * `spark.graft.ivf.autoProbe`, hand it here first. A frame over a store
  * whose current copy is already held is answered by the rule's own
  * resident paths ([[DeclarativeAnn.residentTopK]],
  * [[DeclarativeAnn.residentLookup]]) as a `LocalRelation`, so building it
  * runs one analysis and planning it never reaches the rule; anything
  * else (a declined shape, a stale handle, no copy held) is returned as
  * built, for the rule to plan as before.
  */
object DeclarativeAnn {

  /** The rule as `spark` runs it, when it runs with IVF on. */
  private def active(spark: SparkSession): Option[DeclarativeAnn] =
    if (new AnnConf(spark).ivf && GraftBridge.optimizerRules(spark).exists(_.isInstanceOf[DeclarativeAnn]))
      Some(DeclarativeAnn(spark))
    else None

  /** `topK` (a `Search.topK` frame), or its answer from a held copy. */
  private[graft] def heldTopK(topK: DataFrame): DataFrame = {
    val spark = topK.sparkSession
    (active(spark), GraftBridge.analyzed(topK)) match {
      case (Some(rule), orig @ GlobalLimit(_, LocalLimit(_, rest)))
          if TopKMatch.sortUnderLimit(rest).exists(_._2.order.headOption.exists(_.direction == Descending)) =>
        val c = new AnnConf(spark)
        rule.rewriteTopK(c, Seq(HnswFamily, PqFamily, IvfFamily).filter(_.enabled(c)), orig, rest, held = true)
          .fold(topK)(GraftBridge.ofResolved(spark, _))
      case _ => topK
    }
  }

  /** `Joins.hydrate`'s inner `USING (key)` join of `hits` with `chunks`
    * answered from a held copy, in the join's column order (the key, the
    * other hit columns, the other chunk columns), when `hits` is local. */
  private[graft] def heldHydrate(hits: DataFrame, chunks: DataFrame, key: String): Option[DataFrame] = {
    val spark = hits.sparkSession
    val named = GraftBridge.resolver(spark)
    val (h, c) = (GraftBridge.analyzed(hits), GraftBridge.analyzed(chunks))
    for {
      rule <- active(spark)
      if h.outputSet.intersect(c.outputSet).isEmpty
      hk <- h.output.find(a => named(a.name, key))
      ck <- c.output.find(a => named(a.name, key))
      lr <- rule.residentLookup(Join(h, c, Inner, Some(EqualTo(hk, ck)), JoinHint.NONE))
    } yield GraftBridge.ofResolved(spark, Project((hk +: h.output.filterNot(_ == hk)) ++ c.output.filterNot(_ == ck), lr))
  }
}

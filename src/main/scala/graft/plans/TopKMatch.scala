package graft.plans

import graft.functions.CosineSimilarity
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** The pattern matching of [[DeclarativeAnn]]: the single-query user
  * shape — a global Sort+Limit whose primary key is descending cosine
  * against a literal query vector over a stored relation's own vector
  * column — and the store-path walk both of its shapes share (Projects,
  * Filters, benign guards, at most one hydration join). Keeping the
  * recognizers here means the conservative-match rules (one Project of
  * look-through, alias resolution, cast stripping) live in one place.
  */
private[plans] object TopKMatch {

  /** The sort under the limit pair, looking through one column-pruning
    * Project: `topK(...).select(cols)` optimizes to
    * `GlobalLimit(LocalLimit(Project(Sort(...))))` — without the
    * look-through the most common consumer shape silently loses the
    * rewrite (at 768-d scale that showed up as a full store scan with
    * perfect recall — the worst kind of regression).
    */
  def sortUnderLimit(rest: LogicalPlan): Option[(Option[Project], Sort)] = rest match {
    case s: Sort if s.global                 => Some((None, s))
    case p @ Project(_, s: Sort) if s.global => Some((Some(p), s))
    case _                                   => None
  }

  def stripCasts(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCasts(c)
    case other            => other
  }

  /** The literal query vector, the expression it is ranked against, and
    * the cosine itself — matched on the sort key itself or through one
    * Project alias (`Search.topK`'s withColumn shape).
    */
  def queryVector(key: Expression, child: LogicalPlan): Option[(Array[Double], Expression, CosineSimilarity)] = {
    def direct(e: Expression): Option[(Array[Double], Expression, CosineSimilarity)] = e match {
      case c @ CosineSimilarity(v, Literal(q: ArrayData, ArrayType(DoubleType, _))) => Some((q.toDoubleArray(), v, c))
      case c @ CosineSimilarity(Literal(q: ArrayData, ArrayType(DoubleType, _)), v) => Some((q.toDoubleArray(), v, c))
      case _ => None
    }
    key match {
      case a: AttributeReference =>
        child.collect { case p: Project => p.projectList }.flatten.collectFirst {
          case al @ Alias(inner, _) if al.exprId == a.exprId => direct(inner)
        }.flatten
      case other => direct(other)
    }
  }

  /** True when the sort's ONLY secondary key (if any) is the id-ascending
    * tiebreak the substituted operator itself applies — any other
    * secondary ordering would be silently replaced (ADVICE r14).
    */
  def tiebreakOnly(order: Seq[SortOrder], idAttr: AttributeReference): Boolean =
    order.length == 1 || (order.length == 2 &&
      order(1).direction == Ascending && (order(1).child match {
        case a: AttributeReference => a.exprId == idAttr.exprId
        case _                     => false
      }))

  def splitConjuncts(c: Expression): Seq[Expression] = c match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  /** A guard the plan carries for free, not a user predicate: NOT-isnan /
    * not-null over `okIds` alone (`Search.topK`'s planted guards on the
    * score alias or the vector — after pushdown the score guard may
    * reference the inlined cosine over the vector; constraint inference
    * plants the vector not-null). An inferred not-null on an unrelated
    * column is a user predicate.
    */
  def benignGuard(c: Expression, okIds: Set[ExprId]): Boolean = c match {
    case Not(IsNaN(e)) => e.references.nonEmpty && e.references.forall(a => okIds.contains(a.exprId))
    case IsNotNull(e)  => e.references.nonEmpty && e.references.forall(a => okIds.contains(a.exprId))
    case _             => false
  }

  def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** One matched hydration join on the store path (round 16): the store
    * relation inner-joined to a payload/metadata table, keyed on a single
    * equality between a store column and a payload column. `payloadRel`
    * is the RAW payload leaf (its predicates are returned separately so
    * the cardinality gate can estimate selectivity against the UNFILTERED
    * payload — pre-filtering the frame would read as selectivity 1.0 and
    * skip the probe widening).
    */
  final case class Hydration(
      payloadRel: LogicalPlan,
      storeKey: AttributeReference,
      payloadKey: AttributeReference,
      preds: Seq[Expression],
      aliases: Map[ExprId, Expression]) {
    /** Resolve a payload-leg output attribute (possibly a Project alias —
      * `meta.select(col("vec_id").as("mid"))`) to the LEAF relation
      * column it renames; None when it isn't a PLAIN rename of a leaf
      * column (a cast- or expression-alias changes equality semantics —
      * `cast(id as string) = '05'` is not `id = '05'` — so those refuse)
      * or is a store-side attribute (the caller's refusal).
      */
    def leafOf(a: AttributeReference): Option[AttributeReference] =
      if (payloadRel.outputSet.contains(a)) Some(a)
      else aliases.get(a.exprId).collect {
        case l: AttributeReference if payloadRel.outputSet.contains(l) => l
      }
  }

  /** Substitution safety walk: the path from the sort's child to the
    * relation may contain only Projects, Filters and at most ONE hydration
    * join — the real retrieval shape (`store ⋈ metadata` filtered on metadata
    * columns, the exact thing the gated joins' `payload`/`payloadIdCol`
    * parameters exist for). Returns the store-leg non-benign conjuncts
    * (callers refuse a hydrated match when these are non-empty: the gated
    * joins evaluate filters against ONE payload frame) plus the hydration
    * match, or None when the path holds anything a substitution would
    * drop. The store leg's join-inferred `IsNotNull(storeKey)` guard is
    * benign — the substituted semi-join never surfaces a null-keyed or
    * unmatched store row, which is exactly the inner join's behavior.
    * The payload leg must be Projects/Filters over ONE leaf relation;
    * its conjuncts (including a join-inferred `IsNotNull(payloadKey)` —
    * a genuine predicate over the payload frame) become the gated
    * filters.
    */
  def hydratedPredicates(
      p: LogicalPlan,
      rel: LogicalRelation,
      vecAttr: AttributeReference,
      scoreId: Option[ExprId],
  ): Option[(Seq[Expression], Option[Hydration])] = {
    val baseOk = Set(vecAttr.exprId) ++ scoreId
    def payloadLeg(q: LogicalPlan): Option[(LogicalPlan, Seq[Expression], Map[ExprId, Expression])] =
      q match {
        case r: LogicalRelation => Some((r, Nil, Map.empty))
        case r: LocalRelation   => Some((r, Nil, Map.empty))
        case Project(pl, c) =>
          payloadLeg(c).map { case (r, ps, al) =>
            (r, ps, al ++ pl.collect { case a: Alias => a.exprId -> a.child })
          }
        case Filter(cond, c) =>
          payloadLeg(c).map { case (r, ps, al) => (r, splitConjuncts(cond) ++ ps, al) }
        case _ => None
      }
    def storeLegPreds(q: LogicalPlan, ok: Set[ExprId]): Option[Seq[Expression]] = q match {
      case r: LogicalRelation if r eq rel => Some(Nil)
      case Project(_, c)                  => storeLegPreds(c, ok)
      case Filter(cond, c) =>
        storeLegPreds(c, ok).map(splitConjuncts(cond).filterNot(benignGuard(_, ok)) ++ _)
      case _ => None
    }
    def walk(q: LogicalPlan, acc: Seq[Expression]): Option[(Seq[Expression], Option[Hydration])] =
      q match {
        case r: LogicalRelation if r eq rel =>
          Some((acc.filterNot(benignGuard(_, baseOk)), None))
        case Project(_, c)   => walk(c, acc)
        case Filter(cond, c) => walk(c, acc ++ splitConjuncts(cond))
        case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
          for {
            cond <- j.condition
            underLeft = j.left.collectFirst { case x: LogicalRelation if x eq rel => x }.isDefined
            (storeLeg, payLeg) = if (underLeft) (j.left, j.right) else (j.right, j.left)
            keys <- cond match {
              case EqualTo(x, y) =>
                (stripCasts(x), stripCasts(y)) match {
                  case (a: AttributeReference, b: AttributeReference) =>
                    if (rel.outputSet.contains(a) && payLeg.outputSet.contains(b)) Some((a, b))
                    else if (rel.outputSet.contains(b) && payLeg.outputSet.contains(a)) Some((b, a))
                    else None
                  case _ => None
                }
              case _ => None
            }
            (sk, pk) = keys
            if sk.exprId != vecAttr.exprId
            (pRel, pRaw, aliases) <- payloadLeg(payLeg)
            pPreds = pRaw.filterNot(benignGuard(_, baseOk))
            if pPreds.forall(c => c.references.nonEmpty &&
              c.references.forall(a => pRel.outputSet.contains(a)))
            hyd = Hydration(pRel, sk, pk, pPreds, aliases)
            // the join key must resolve to a LEAF payload column — the
            // payload frame handed to the gate is the raw leaf, so an
            // expression-aliased key (mid = vec_id + 1) has no column
            // there and must refuse
            pkLeaf <- hyd.leafOf(pk)
            storePs <- storeLegPreds(storeLeg, baseOk + sk.exprId)
          } yield ((acc.filterNot(benignGuard(_, baseOk)) ++ storePs,
            Some(hyd.copy(payloadKey = pkLeaf))))
        case _ => None
      }
    walk(p, Nil)
  }

  /** Substitution-exactness guard shared by the hydration-aware rules: a
    * dup-keyed payload would rank duplicate hits in the user's inner join
    * but not in the engine's semi-joined path, so substituting rules must
    * refuse it (one rule-time aggregate, the same order as the gate's
    * estimate scan; null keys are harmless — neither join matches them).
    * IVF injection needs no such check: the user's join still executes
    * verbatim there.
    */
  def payloadUnique(spark: org.apache.spark.sql.SparkSession, h: Hydration): Boolean = {
    import org.apache.spark.sql.functions.{count, countDistinct}
    val kc = org.apache.spark.sql.GraftBridge.column(h.payloadKey)
    val r = org.apache.spark.sql.GraftBridge.ofRows(spark, h.payloadRel)
      .agg(count(kc), countDistinct(kc)).head()
    r.getLong(0) == r.getLong(1)
  }

  /** The first parquet relation under `child` whose partition schema
    * carries `partCol`, with that column's output attribute and the scan
    * root.
    */
  def partitionedStore(child: LogicalPlan, partCol: String): Option[(LogicalRelation, AttributeReference, String)] =
    child.collectFirst {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] &&
          r.relation.asInstanceOf[HadoopFsRelation].partitionSchema.fieldNames.contains(partCol) =>
        r.output.collectFirst { case a: AttributeReference if a.name == partCol =>
          (r, a, r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.head.toString)
        }
    }.flatten

  /** Does `dir/name` exist (fail-closed: any IO error means no). */
  def sidecarExists(conf: org.apache.hadoop.conf.Configuration, dir: String, name: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, name)
      p.getFileSystem(conf).exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }
}

package graft.plans

import graft.operators.Hnsw
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule turning a brute-force cosine top-k over an HNSW store
  * into the sharded beam search — [[IvfAutoProbe]]'s twin for the graph
  * index (reference: Qdrant serves every search through HNSW implicitly,
  * `backend/vector_db.py:165-170`; a declarative query over OUR graph
  * store should get the index implicitly too, not only callers who know
  * to invoke [[Hnsw.searchIndex]]). The user writes
  *
  * {{{ store.orderBy(cosineFast(col("vec"), lit(q)).desc).limit(k) }}}
  *
  * (or the same through `Search.topK(store, "vec", "id", q, k)`), and when
  * the scan's root path carries the `_hnsw_meta` sidecar written by
  * [[Hnsw.writeIndex]], the whole Sort+Limit subtree is REPLACED by
  * [[Hnsw.searchIndex]]'s logical plan over the same relation — per-shard
  * graph reconstruction + beam search + the ≤ nShards·k merge — with the
  * beam output re-aliased to the original output attribute ids, so
  * downstream operators resolve unchanged.
  *
  * FILTERED queries route too (round 15 — the reference's CANONICAL query
  * is *filtered* k-NN, `backend/vector_db.py:131-170`, and until now the
  * declarative form silently kept the exact scan):
  * `store.where(pred).orderBy(cos.desc).limit(k)` rewrites to
  * [[Hnsw.searchIndex]] with `filters = pred` and the store itself
  * (column-pruned to id + the predicate's columns) as the payload frame —
  * so the declarative query inherits the CARDINALITY GATE verbatim:
  * selective predicates take the exact semi-join branch, broad ones the
  * flag-aware beam with the oversampled width. Both branches are the
  * explicit API's plans, value-identical to calling searchIndex directly.
  *
  * Because this rewrite SUBSTITUTES the subtree, the match is strictly
  * conservative:
  *
  *  - sort: EXACTLY descending cosine against a literal query vector over
  *    the relation's own `vec` column (directly or through one Project
  *    alias), alone or with the beam's own id-ascending tiebreak as the
  *    only secondary key — any other secondary sort would be silently
  *    replaced by the beam's (score, id) ordering, so it refuses;
  *  - the path from the sort to the relation may contain only Projects
  *    and Filters; every Filter conjunct must be either one of the guards
  *    `Search.topK` plants — `NOT isnan(score)` / `IS NOT NULL` REFERENCING
  *    THE SCORE OR VECTOR column (an inferred not-null on an unrelated
  *    column is a user predicate, not a guard) — or a predicate over the
  *    store's own non-vector columns, which routes through the gate;
  *    anything else (a join, a predicate on the score, a predicate
  *    touching `vec`) keeps the exact scan;
  *  - the subtree's OUTPUT must reach only the store's `id` and the
  *    cosine alias (the searchIndex contract); a consumer reading `vec`
  *    or adjacency columns keeps the exact scan.
  *
  * Same recall trade as [[Hnsw.searchIndex]] (beam width
  * `spark.graft.hnsw.efSearch`, default 64; filtered-branch cap
  * `spark.graft.hnsw.maxEf`, default 4096), so it is OPT-IN:
  * `spark.graft.hnsw.autoProbe=true`. Registered via
  * [[graft.GraftExtensions]] (spark-submit) or
  * `spark.experimental.extraOptimizations` (live session).
  */
case class HnswAutoProbe(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.hnsw.autoProbe").exists(_.toBoolean)
  private def efSearch: Int =
    spark.conf.getOption("spark.graft.hnsw.efSearch").map(_.toInt).getOrElse(64)
  private def maxEf: Int =
    spark.conf.getOption("spark.graft.hnsw.maxEf").map(_.toInt).getOrElse(4096)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case orig @ GlobalLimit(Literal(k: Int, IntegerType), LocalLimit(_, rest))
          if TopKMatch.sortUnderLimit(rest).exists(_._2.order.headOption.exists(_.direction == Descending)) =>
        val s     = TopKMatch.sortUnderLimit(rest).get._2
        val child = s.child
        val rewritten = for {
          (qv, vecExpr)      <- TopKMatch.queryVector(s.order.head.child, child)
          (rel, _, root)     <- TopKMatch.partitionedStore(child, "shard")
          if TopKMatch.sidecarExists(spark.sparkContext.hadoopConfiguration, root, "_hnsw_meta")
          // the ranked column must BE the store's vector column — beam
          // geometry over a different column would be uncorrelated with
          // the sort and silently destroy recall
          vecAttr <- TopKMatch.stripCasts(vecExpr) match {
            case a: AttributeReference => Some(a)
            case _                     => None
          }
          if rel.output.exists(a => a.exprId == vecAttr.exprId && a.name == "vec")
          idAttr <- rel.output.collectFirst { case a: AttributeReference if a.name == "id" => a }
          // the ONLY admissible secondary sort key is the beam's own
          // tiebreak (id ascending) — any other would be silently replaced
          // by the substitution's (score, id) ordering (ADVICE r14)
          if TopKMatch.tiebreakOnly(s.order, idAttr)
          scoreId = s.order.head.child match {
            case a: AttributeReference => Some(a.exprId)
            case _                     => None
          }
          (preds, hydOpt) <- TopKMatch.hydratedPredicates(child, rel, vecAttr, scoreId)
          // a hydrated path (round 16: store ⋈ metadata, predicates on the
          // metadata table): filters live in ONE payload frame keyed on
          // the store id, unique keys (a dup-keyed payload would rank
          // duplicates the semi-join collapses), and — searchIndex's
          // payload contract names its key column "id" — no OTHER
          // metadata column riding the filters may be named "id"
          if hydOpt.forall(h => preds.isEmpty && h.storeKey.exprId == idAttr.exprId &&
            (h.payloadKey.dataType match {
              case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
              case _ => false
            }) &&
            h.preds.flatMap(_.references).filter(_.exprId != h.payloadKey.exprId)
              .forall(_.name != "id") &&
            TopKMatch.payloadUnique(spark, h))
          if preds.forall(p =>
            p.references.nonEmpty &&
              p.references.forall(a => rel.outputSet.contains(a) && a.exprId != vecAttr.exprId))
          // substitution contract: every output must map onto the beam's
          // (id, score) — anything else keeps the exact scan
          if orig.output.forall(a =>
            a.exprId == idAttr.exprId || scoreId.contains(a.exprId))
        } yield {
          val store = GraftBridge.ofRows(spark, rel)
          val hits = (preds, hydOpt) match {
            case (Nil, None) => Hnsw.searchIndex(store, qv.toSeq, "id", k, efSearch)
            case (ps, None) =>
              // the store itself is the payload carrier: prune to id + the
              // predicate's columns so the gate's estimate scan and the
              // allowed-id semi-join never move vectors or adjacency
              val payloadAttrs = idAttr +: ps.flatMap(_.references)
                .filter(_.exprId != idAttr.exprId).distinct.toSeq
              val payload = store.select(payloadAttrs.map(a => GraftBridge.column(a)): _*)
              Hnsw.searchIndex(store, qv.toSeq, "id", k, efSearch,
                filters = ps.map(GraftBridge.column),
                payload = payload, maxEf = maxEf)
            case (_, Some(h)) =>
              // metadata payload. searchIndex reads its key by NAME
              // ("id") while the filters are bound by exprId, so the
              // frame carries the original key column (filter resolution)
              // plus an "id"-named copy when the key is named otherwise;
              // a predicate-free hydration gates on IsNotNull(key) so the
              // semi-join still enforces the inner join's row set
              val fs = if (h.preds.nonEmpty) h.preds else Seq(IsNotNull(h.payloadKey))
              val extra = fs.flatMap(_.references)
                .filter(_.exprId != h.payloadKey.exprId).distinct.toSeq
              val kc = GraftBridge.column(h.payloadKey)
              val payloadCols =
                if (h.payloadKey.name == "id") kc +: extra.map(a => GraftBridge.column(a))
                else kc +: kc.as("id") +: extra.map(a => GraftBridge.column(a))
              val payload = GraftBridge.ofRows(spark, h.payloadRel).select(payloadCols: _*)
              Hnsw.searchIndex(store, qv.toSeq, "id", k, efSearch,
                filters = fs.map(GraftBridge.column),
                payload = payload, maxEf = maxEf)
          }
          val hplan            = GraftBridge.optimized(hits)
          val Seq(hId, hScore) = hplan.output.take(2)
          val aliased = orig.output.map { a =>
            val src = if (a.exprId == idAttr.exprId) hId else hScore
            Alias(src, a.name)(exprId = a.exprId)
          }
          Project(aliased, hplan)
        }
        rewritten.getOrElse(orig)
    }
}

package graft.operators

import graft.functions.VectorExpressions.cosineFast
import graft.functions.VectorOps._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The one IVF-family probe. [[Ivf.search]], [[Ivf.searchAdaptive]],
  * [[Ivf.knnJoin]], [[Ivf.knnJoinAdaptive]], [[Pq.searchIvfPq]],
  * [[Pq.knnJoinIvfPq]], the IVF and IVF-PQ stores of
  * [[graft.plans.AnnFamily]] and [[graft.plans.DeclarativeAnn]]'s injected
  * probe all run one pipeline — width → gate → candidates → top-k — built
  * from three parts:
  *
  *  - a [[Width]] policy: a [[Fixed]] nProbe, or a centroid-distance
  *    [[Margin]] clamped to `[minProbe, maxProbe]`. Both rank centroids the
  *    same way (distance ascending, ties by id), so the list set at width w
  *    is `probeLists(routeVec, w)` under either policy;
  *  - a [[Filter]] carrier: predicates over the store's own columns
  *    (`payload == null`, applied as pushed `where`s), or over a `payload`
  *    frame keyed by `payloadIdCol` (e.g. an SQ8 codes store whose labels
  *    live in the source table), whose allowed ids semi-join the PRUNED scan
  *    or the candidate frame, never the whole store;
  *  - a [[Scorer]]: exact float cosine over the store ([[Cosine]]), or PQ
  *    ADC over the code store to k·refine candidates followed by an exact
  *    float re-rank ([[Adc]]) — the allowed-id cut lands BEFORE the ADC
  *    cut, since filtering after it would shrink the candidate pool
  *    instead of the corpus.
  *
  * THE GATE (the reference's canonical query is filtered k-NN,
  * backend/vector_db.py:131-170): a fixed-width probe under a predicate
  * passing `sel` of the rows keeps only `sel` of the probed mass, and
  * recall falls off a cliff. [[Search.cardinalityGate]] widens the base by
  * 1/sel — expected allowed mass preserved — and once that reaches nList
  * (pruning buys nothing) the probe takes the strictly cheaper EXACT
  * branch: brute force ([[Search.topK]] / [[Search.knnJoin]]) over the
  * allowed survivors of the scorer's float store, exact by construction;
  * nothing passing (sel 0) returns the empty, well-typed frame. Each call
  * decides ONCE: a single query at its base, a batch at its narrowest base
  * ([[Width.floor]]) — on the probe branch each query then widens its own
  * base by the same 1/sel inside the fan-out. `selectivityHint` skips the
  * estimate scan. An unfiltered call decides nothing and reads no payload.
  *
  * Plan shapes: a single query ranks the centroids before any job and prunes
  * through `list_id IN (...)`, which lands in the scan's `PartitionFilters`
  * (only the probed lists' files are listed and read); a batch fans each
  * query out to `(query_id, __qv, list_id)` rows (broadcast centroids, one
  * narrow pass over the query frame, no collect), equi-joins the store on
  * `list_id` and ranks per query ([[Search.rankedPerQuery]]).
  *
  * `routeVec` (single query) is the vector the probe RANKS centroids and
  * measures margins against, separate from the one candidates are SCORED
  * against: an SQ8 codes store's centroids live in int8 code space, where a
  * raw float query's L2 ranking degenerates to centroid-norm ordering (see
  * [[Quant.sq8QueryCodes]] for the measured failure); scoring stays on the
  * query, exact under cosine's scale cancellation. A batch routes each query
  * row by its own vector.
  */
private[graft] object Probe {

  /** How wide one route vector probes before the gate widens it. */
  sealed trait Width {
    /** The narrowest base any route vector gets: a batch's one decision. */
    def floor(model: Ivf.Model): Int

    def base(model: Ivf.Model, rv: Seq[Double]): Int = floor(model)

    /** `base` widened by 1/sel; every list once that reaches nList. */
    final def widen(model: Ivf.Model, base: Int, sel: Double): Int =
      Search.widenedWidth(base, sel, model.centroids.length).getOrElse(model.centroids.length)
  }

  final case class Fixed(nProbe: Int) extends Width {
    require(nProbe >= 1, s"nProbe must be at least 1: $nProbe")
    def floor(model: Ivf.Model): Int = math.min(nProbe, model.centroids.length)
  }

  /** The model's centroid-margin rule; its bounds are checked here, when
    * the call is made, before a batch ships the policy to its fan-out.
    */
  final case class Margin(margin: Double, minProbe: Int = 1, maxProbe: Int = Int.MaxValue) extends Width {
    Ivf.Model.requireMargin(margin, minProbe, maxProbe)
    override def base(model: Ivf.Model, rv: Seq[Double]): Int =
      model.adaptiveProbeLists(rv, margin, minProbe, maxProbe).length
    def floor(model: Ivf.Model): Int = math.min(math.max(1, minProbe), maxProbe)
  }

  /** Where a query's `filters` are evaluated: the store's own columns
    * (`payload == null`) or `payload`, keyed by `payloadIdCol`. `population`
    * is the estimate's denominator frame ([[Search.estimatedSelectivities]]);
    * `counted` an exact selectivity that replaces the estimate scan
    * ([[Search.gatedSelectivity]]).
    */
  final case class Filter(filters: Seq[Column] = Nil, payload: DataFrame = null, payloadIdCol: String = "id",
      hint: Double = Double.NaN, population: DataFrame = null, counted: Option[Double] = None) {

    /** `frame` cut to the payload's allowed ids on `key` (ids cast to long
      * for a batch); a no-op for an unfiltered or store-column filter.
      */
    def semiJoin(frame: DataFrame, key: Column, asLong: Boolean): DataFrame =
      if (filters.isEmpty || payload == null) frame
      else frame.join(payload.where(filters.reduce(_ && _)).select(
        (if (asLong) col(payloadIdCol).cast("long") else col(payloadIdCol)).as("__aid")), key === col("__aid"), "left_semi")

    /** The filters a scan applies itself: the store-column carrier's. */
    def onStore: Seq[Column] = if (payload == null) filters else Nil

    /** The one gate decision: `Some(sel)` = probe, each base widened by
      * 1/sel; `None` = exact branch. `store` is the frame a store-column
      * filter is estimated over; only a single float query's scan can apply
      * one (`storeOk`) — a batch and the code store need the payload.
      */
    private[Probe] def decide(model: Ivf.Model, base: Int, store: DataFrame, storeOk: Boolean): Option[Double] = {
      require(model.centroids.nonEmpty, "an IVF probe needs a fitted index (empty centroid set)")
      require(storeOk || filters.isEmpty || payload != null,
        "this filtered probe needs the payload frame carrying payloadIdCol + the filter columns")
      if (filters.isEmpty) Some(1d)
      else Search.gatedSelectivity(if (payload == null) store else payload, filters.reduce(_ && _), hint,
        base, model.centroids.length, population, counted)
    }
  }

  /** How the probed lists' candidates are scored. `floats` is the float
    * store (`idCol`, `vecCol`, `list_id`) the exact branch reads.
    */
  sealed trait Scorer {
    def floats: DataFrame
    def vecCol: String
    def idCol: String

    private[Probe] def topK(lists: Seq[Int], f: Filter, q: Seq[Double], k: Int): DataFrame

    /** `candidates` cuts a (neighbor_id, list_id, …) store frame to the
      * fanned queries' lists, self matches and allowed ids; `qs` is the
      * query frame as (query_id, __qv).
      */
    private[Probe] def knnJoin(fanned: DataFrame, candidates: DataFrame => DataFrame, qs: DataFrame, k: Int): DataFrame
  }

  private def pruned(df: DataFrame, lists: Seq[Int]): DataFrame = df.where(col("list_id").isin(lists: _*))

  final case class Cosine(floats: DataFrame, vecCol: String, idCol: String) extends Scorer {
    private[Probe] def topK(lists: Seq[Int], f: Filter, q: Seq[Double], k: Int): DataFrame =
      Search.topK(f.semiJoin(pruned(floats, lists), col(idCol), asLong = false), vecCol, idCol, q, k, f.onStore)

    private[Probe] def knnJoin(fanned: DataFrame, candidates: DataFrame => DataFrame, qs: DataFrame, k: Int): DataFrame =
      Search.rankedPerQuery(
        candidates(floats.select(col(idCol).cast("long").as("neighbor_id"), asDouble(col(vecCol)).as("__cv"),
          col("list_id")))
          .select(col("query_id"), col("neighbor_id"), cosineFast(col("__cv"), col("__qv")).as("score"))
          .where(!isnan(col("score"))),
        k)
  }

  final case class Adc(codes: DataFrame, floats: DataFrame, pq: Pq.Model, refine: Int, vecCol: String, idCol: String)
      extends Scorer {
    require(refine >= 1, s"refine must be at least 1: $refine")

    /** ADC top k·refine over the pruned codes, then the exact re-rank of
      * just those candidates against the floats pruned to the SAME lists
      * (a candidate's vector lives in the list its code came from).
      */
    private[Probe] def topK(lists: Seq[Int], f: Filter, q: Seq[Double], k: Int): DataFrame = {
      val cand = Pq.topKOnCodes(f.semiJoin(pruned(codes, lists), col(idCol), asLong = false),
        "pq_codes", idCol, q, k * refine, pq).select(idCol)
      Search.topK(pruned(floats, lists).join(broadcast(cand), Seq(idCol)), vecCol, idCol, q, k)
    }

    /** Per-query ADC top k·refine through the codegen'd pair form (the
      * single-query lookup table cannot exist when the query is a column;
      * the pair form reproduces its arithmetic bit for bit), then the exact
      * re-rank against the floats cut to the batch's probed-list union — a
      * semi-join on the fan-out's `list_id`s inside the plan, so building
      * the frame runs no job — with the query vectors re-joined by id.
      */
    private[Probe] def knnJoin(fanned: DataFrame, candidates: DataFrame => DataFrame, qs: DataFrame, k: Int)
        : DataFrame = {
      val cands = Search.rankedPerQuery(
        candidates(codes.select(col(idCol).cast("long").as("neighbor_id"), col("pq_codes"), col("list_id")))
          .select(col("query_id"), col("neighbor_id"), graft.functions.PqExpressions.pqAdcPair(col("pq_codes"),
            col("__qv"), pq.flat, pq.m, pq.ksub, pq.dsub).as("score")),
        k * refine).select("query_id", "neighbor_id")
      val probed = floats.join(fanned.select("list_id").distinct(), Seq("list_id"), "left_semi")
      Search.rankedPerQuery(
        cands
          .join(probed
            .select(col(idCol).cast("long").as("neighbor_id"), asDouble(col(vecCol)).as("__cv")), Seq("neighbor_id"))
          .join(qs, Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), cosineFast(col("__cv"), col("__qv")).as("score"))
          .where(col("score").isNotNull && !isnan(col("score"))),
        k)
    }
  }

  /** One query's top-k: [[Search.topK]]'s rows (the store's columns plus
    * `score`, ties by `idCol`).
    */
  def topK(model: Ivf.Model, width: Width, scorer: Scorer, f: Filter, queryVec: Seq[Double], k: Int,
      routeVec: Seq[Double] = null): DataFrame = {
    val rv   = if (routeVec == null) queryVec else routeVec
    val base = width.base(model, rv)
    f.decide(model, base, scorer.floats, storeOk = scorer.isInstanceOf[Cosine]) match {
      case None =>
        Search.topK(f.semiJoin(scorer.floats, col(scorer.idCol), asLong = false),
          scorer.vecCol, scorer.idCol, queryVec, k, f.onStore)
      case Some(sel) => scorer.topK(model.probeLists(rv, width.widen(model, base, sel)), f, queryVec, k)
    }
  }

  /** A query frame's top-k per row: (query_id, neighbor_id, score, rank),
    * ids cast to long — [[Search.knnJoin]]'s contract on both branches.
    */
  def knnJoin(model: Ivf.Model, width: Width, scorer: Scorer, f: Filter, queries: DataFrame,
      queryVecCol: String, queryIdCol: String, k: Int, excludeSelf: Boolean): DataFrame = {
    val (idCol, vecCol) = (scorer.idCol, scorer.vecCol)
    f.decide(model, width.floor(model), scorer.floats, storeOk = false) match {
      case None =>
        Search.knnJoin(
          queries.select(col(queryIdCol).cast("long").as(queryIdCol), col(queryVecCol)),
          f.semiJoin(scorer.floats.select(col(idCol).cast("long").as(idCol), col(vecCol)), col(idCol), asLong = true),
          queryVecCol, queryIdCol, vecCol, idCol, k, excludeSelf)
      case Some(sel) =>
        val spark = queries.sparkSession
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(model)
        val qs = queries.select(col(queryIdCol).cast("long").as("query_id"), asDouble(col(queryVecCol)).as("__qv"))
        val fanned = graft.Par.fanOut(qs)
          .as[(Long, Seq[Double])]
          .flatMap { case (qid, v) =>
            val m = bc.value
            m.probeLists(v, width.widen(m, width.base(m, v), sel)).iterator.map(l => (qid, v, l))
          }
          .toDF("query_id", "__qv", "list_id")
        // candidate volume bounded by the fan-out, co-located by whole
        // lists; the allowed ids cut the CANDIDATE frame, never the store
        def candidates(store: DataFrame): DataFrame = f.semiJoin(
          store.join(fanned, Seq("list_id"))
            .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)),
          col("neighbor_id"), asLong = true)
        scorer.knnJoin(fanned, candidates, qs, k)
    }
  }

  /** [[graft.plans.DeclarativeAnn]]'s injected list set for one query: the
    * same width policy and gate, with `f.payload` the frame the estimate
    * reads (the store itself for store-column predicates). `None` when the
    * gate takes its exact branch or the probe would cover every list — the
    * user's exact plan then runs unchanged.
    */
  def injected(model: Ivf.Model, width: Width, f: Filter, qv: Seq[Double]): Option[Seq[Int]] = {
    val base = width.base(model, qv)
    f.decide(model, base, f.payload, storeOk = true).map(width.widen(model, base, _)).filter(_ < model.centroids.length)
      .map(model.probeLists(qv, _))
  }
}

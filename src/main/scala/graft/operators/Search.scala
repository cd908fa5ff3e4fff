package graft.operators

import graft.functions.TopKScored
import graft.functions.VectorOps._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Filtered cosine top-k — the reference's core query operator
  * (reference: backend/vector_db.py:131-183; backend/main.py:185-230).
  *
  * Exact form: broadcast the query vector as a literal, score every row with
  * the codegen'd cosine expression, then `orderBy(desc).limit(k)` which
  * Catalyst plans as `TakeOrderedAndProject` — a single scan-side top-k per
  * partition + driver merge, no full sort, no shuffle of the corpus. Filters
  * are plain `where` clauses so they push down to the parquet scan.
  *
  * Scale path (100 TB): [[Ivf]] prunes the scan to the nProbe closest
  * coarse-centroid partitions before exact scoring.
  */
object Search {

  /** Score + filter + top-k. Ties broken by `idCol` for determinism.
    *
    * The frame is built as one plan and analysed once. In a session that
    * runs [[graft.plans.DeclarativeAnn]] with `spark.graft.ivf.autoProbe`,
    * a corpus of Projects and Filters over an IVF store whose current copy
    * is held on the driver ([[graft.plans.Resident]]) is answered from
    * that copy: the frame is a `LocalRelation` of the k rows (the corpus
    * columns plus `score`), filled the first time it is planned, with the
    * rule's gate, lists, scores and order. Otherwise the rule plans it.
    * A scanned row's score is `cosine_similarity`, which sums the query's
    * norm again on every row; the resident path sums it once, in the same
    * order, so the scores are the same bits.
    */
  def topK(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.GraftBridge.analyzed
    def expression(c: Column) = GraftBridge.expression(corpus.sparkSession, c)
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Descending, Literal, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, Project, Sort}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // typedLit's type, without deriving an encoder by reflection per call
    val q      = Literal(new GenericArrayData(queryVec.toArray), ArrayType(DoubleType, containsNull = false))
    val score  = graft.functions.VectorExpressions.cosineFast(asDouble(col(vecCol)), GraftBridge.column(q))
    val scored =
      if (corpus.columns.exists(_.equalsIgnoreCase("score"))) analyzed(corpus.withColumn("score", score))
      else {
        val base = analyzed(corpus)
        Project(base.output :+ Alias(expression(score), "score")(), base)
      }
    // zero-norm vectors (empty-text embeddings) score 0/0 = NaN, and Spark
    // sorts NaN ABOVE every real double — without this guard junk rows
    // would top every search result
    val guarded = (filters :+ !isnan(col("score"))).foldLeft(scored)((p, f) => Filter(expression(f), p))
    val order   = Seq(SortOrder(expression(col("score")), Descending), SortOrder(expression(col(idCol)), Ascending))
    graft.plans.DeclarativeAnn.heldTopK(GraftBridge.ofRows(corpus.sparkSession,
      Limit(Literal(k), Sort(order, global = true, guarded))))
  }

  /** Matryoshka (MRL) two-stage search — Kusupati 2022: embeddings trained
    * with matryoshka loss rank almost as well on their first `dims`
    * components, so the candidate pass scores a `dims`-prefix slice
    * (dims/full of the arithmetic; with a STORED prefix column, dims/full
    * of the scan bytes too — here the slice is inline, which keeps the
    * compute win and documents the storage win) and only the
    * `nCandidates` survivors get the full-precision cosine. Same
    * two-stage plan contract as [[graft.operators.Quant.topKBinaryRerank]]:
    * candidate stage is TakeOrderedAndProject (no corpus shuffle), the ≤C
    * candidate ids broadcast back for the exact rerank, and both stages
    * tie-break on `idCol` so the DuckDB oracle replays the exact candidate
    * set.
    */
  def topKTruncated(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      dims: Int,
      nCandidates: Int,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    require(nCandidates >= k, s"nCandidates ($nCandidates) must be >= k ($k)")
    require(!corpus.columns.contains("__mrl_s"), "input already has a '__mrl_s' column")
    // fail fast, not empty: a query whose first `dims` components are all
    // zero scores NaN against everything (0/0 norm) and the NaN guard
    // would silently drop every candidate — a sparse query vector needs a
    // prefix wide enough to reach its mass
    require(queryVec.take(dims).exists(_ != 0.0),
      s"query vector is all-zero in the first $dims dims — widen dims or use full-precision topK")
    val qTrunc = typedLit(queryVec.take(dims))
    val filtered = filters.foldLeft(corpus)((df, f) => df.where(f))
    val candIds = filtered
      .withColumn("__mrl_s", graft.functions.VectorExpressions.cosineFast(
        slice(asDouble(col(vecCol)), 1, dims), qTrunc))
      .where(!isnan(col("__mrl_s")))
      .orderBy(desc("__mrl_s"), col(idCol))
      .limit(nCandidates)
      .select(idCol)
    topK(corpus.join(broadcast(candIds), Seq(idCol)), vecCol, idCol, queryVec, k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) — diversified top-k: greedily pick the candidate maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so near-duplicate hits don't
    * crowd the result page. The reference returns raw nearest neighbors
    * (backend/vector_db.py:131-183); MMR is the standard next step every
    * RAG retrieval stack bolts on top of that hit list.
    *
    * Scale shape: the candidate stage is the exact filtered top-N
    * ([[topK]] → TakeOrderedAndProject, no corpus shuffle); the greedy
    * re-rank is inherently sequential over a BOUNDED pool (≤ `nCandidates`
    * ≤ 1024, enforced), so relevance scores and the ≤N²/2 pairwise
    * similarities are computed IN Spark with the codegen'd cosine and the
    * tiny result collected for the driver-side greedy loop — the same
    * per-query in-process rerank shape the reference uses. Nothing here
    * scales with the corpus: 100 TB changes the candidate scan (IVF-pruned
    * if wanted), never the rerank.
    *
    * Ties (first by MMR score, then by id ascending) and all arithmetic
    * (`λ`, `1−λ` computed once, candidate sims from the same expression as
    * the relevance pass) are chosen so a SQL engine replays the selection
    * bit-identically.
    */
  def mmrTopK(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      nCandidates: Int,
      lambda: Double,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    require(k >= 1 && nCandidates >= k, s"need nCandidates ($nCandidates) >= k ($k) >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    require(nCandidates <= 1024,
      s"candidate pool is collected for the greedy re-rank — capped at 1024, got $nCandidates")
    val spark = corpus.sparkSession
    import spark.implicits._
    // The greedy loop keys candidates by an id-ORDERED ordinal (a
    // row_number over the ≤1024-row pool — single-partition window, but
    // the pool is capped so that's bounded by construction), NOT by a
    // cast of the id: the reference's point ids are UUID strings
    // (backend/vector_db.py:69), and a long cast would silently null
    // every non-integral id, collapsing the pool onto one key. Native id
    // values of any orderable type pass through untouched, and because
    // the ordinal order IS the id order, tie-breaking by smaller ordinal
    // replays "smaller id" exactly.
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__nid"))
    val cand = topK(corpus, vecCol, idCol, queryVec, nCandidates, filters)
      .select(col(idCol).as("__nid"), asDouble(col(vecCol)).as("__v"), col("score").as("__rel"))
      .withColumn("__ord", row_number().over(w))
      .persist()
    try {
      // bounded collects: ≤ N rows + ≤ N(N-1)/2 pairwise rows (N ≤ 1024)
      val rel = cand.select("__ord", "__rel").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val a = cand.select(col("__ord").as("i"), col("__v").as("vi"))
      val b = cand.select(col("__ord").as("j"), col("__v").as("vj"))
      val sim = a.join(broadcast(b), col("i") < col("j"))
        .select(col("i"), col("j"), graft.functions.VectorExpressions.cosineFast(col("vi"), col("vj")).as("s"))
        .collect()
        .flatMap(r => Seq((r.getInt(0), r.getInt(1)) -> r.getDouble(2), (r.getInt(1), r.getInt(0)) -> r.getDouble(2)))
        .toMap
      val oneMinus = 1.0 - lambda
      var remaining = rel.keySet.toVector.sorted
      val picked = Vector.newBuilder[(Int, Int, Double, Double)]
      var selected = Vector.empty[Int]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val scoredRound = remaining.map { ord =>
          val pen = if (selected.isEmpty) 0.0 else selected.map(s => sim((ord, s))).max
          (lambda * rel(ord) - oneMinus * pen, ord)
        }
        val (bestM, bestOrd) = scoredRound.reduce { (x, y) =>
          if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x
        }
        picked += ((bestOrd, rank, rel(bestOrd), bestM))
        selected :+= bestOrd
        remaining = remaining.filterNot(_ == bestOrd)
        rank += 1
      }
      // map ordinals back to native ids with a bounded (≤k row) join so
      // the output id column keeps the corpus's exact id type
      picked.result().toDF("__ord", "rank", "rel", "mmr")
        .join(broadcast(cand.select("__ord", "__nid")), "__ord")
        .select(col("__nid").as(idCol), col("rank"), col("rel"), col("mmr"))
    } finally { cand.unpersist(); () }
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia, SIGIR
    * 2020): documents carry PER-TOKEN vectors and score
    * `Σ_i max_j cos(q_i, d_j)` against the query's token vectors —
    * the multi-vector refinement single-vector cosine approximates, and
    * the retrieval shape modern RAG rerankers standardize on.
    *
    * Scale shape: the query matrix is a literal (rides the plan, no
    * broadcast join), the maxsim is ONE fused codegen'd pass over each
    * row's token matrix ([[graft.functions.MaxSimScore]] — exploding to
    * |corpus|·|tokens| rows and regrouping would shuffle the corpus), and
    * top-k plans as TakeOrderedAndProject. Nothing shuffles.
    *
    * Rows with an empty/all-invalid token matrix score NaN and are
    * dropped by the same guard [[topK]] uses for zero-norm vectors.
    */
  def lateInteractionTopK(
      corpus: DataFrame,
      tokVecsCol: String,
      idCol: String,
      queryVecs: Seq[Seq[Double]],
      k: Int,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(queryVecs.nonEmpty, "need at least one query token vector")
    val q = typedLit(queryVecs)
    val scored = corpus.withColumn("score",
      graft.functions.VectorExpressions.maxsimFast(col(tokVecsCol).cast("array<array<double>>"), q))
    filters.foldLeft(scored)((df, f) => df.where(f))
      .where(!isnan(col("score")))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Brute-force k-NN join: top-k corpus neighbors for EVERY query row.
    *
    * Queries are broadcast (small side) so scoring is a narrow pass over the
    * corpus. The per-query top-k then runs as [[TopKScored]] — an Aggregator
    * with map-side partial aggregation — so the shuffle carries at most
    * k × |queries| rows per corpus partition, never the scored cross
    * product itself.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      corpusVecCol: String,
      corpusIdCol: String,
      k: Int,
      excludeSelf: Boolean = true,
  ): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"),
      asDouble(col(queryVecCol)).as("__qv"),
    )
    val c = corpus.select(
      col(corpusIdCol).as("neighbor_id"),
      asDouble(col(corpusVecCol)).as("__cv"),
    )
    val crossed = c
      .join(broadcast(q), if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions.cosineFast(col("__cv"), col("__qv")).as("score"))
      // null scores (null vectors) and NaN (zero-norm) drop instead of
      // crashing the aggregate's non-nullable score encoder — the same
      // tolerance Ivf.knnJoin's candidate stage has
      .where(col("score").isNotNull && !isnan(col("score")))
    rankedPerQuery(crossed, k)
  }

  /** The ranked per-query tail every batch k-NN join ends in: `scored`
    * (query_id, neighbor_id, score) → the top k per query through
    * [[TopKScored]]'s map-side-combined aggregate (the shuffle carries ≤ k
    * rows per (query, partition)), as (query_id, neighbor_id, score, rank).
    * Scores must be non-null: each caller drops null/NaN scores in its
    * scoring step.
    */
  private[graft] def rankedPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopKScored.udafFor(k)
    scored
      .groupBy("query_id")
      .agg(topk(col("neighbor_id"), col("score")).as("nns"))
      .select(col("query_id"), posexplode(col("nns")).as(Seq("pos", "nn")))
      .select(
        col("query_id"),
        col("nn.id").as("neighbor_id"),
        col("nn.score").as("score"),
        (col("pos") + 1).as("rank"),
      )
  }

  /** Search-result formatting (reference: backend/vector_db.py:172-180):
    * hit → {id, score, payload columns}.
    */
  def formatHits(hits: DataFrame, idCol: String, payloadCols: Seq[String]): DataFrame =
    hits.select((col(idCol) +: col("score") +: payloadCols.map(col)): _*)

  /** Gate-decision telemetry: bumped once per [[estimatedSelectivity]]
    * call (hinted or measured) — i.e. once per cardinality-gate DECISION.
    * [[perQueryFiltered]]'s contract ("≤ one gate decision per distinct
    * predicate group, never per query") and the optimizer rules' "one
    * decision per planned query" are asserted against this counter in the
    * specs; it is monotone and never reset.
    */
  private[graft] val gateDecisions = new java.util.concurrent.atomic.AtomicLong()

  /** The filtered-ANN CARDINALITY GATE, the one policy every IVF, IVF-PQ
    * and HNSW entry point and [[graft.plans.DeclarativeAnn]] runs (the
    * reference's canonical query is filtered k-NN, backend/vector_db.py:
    * 131-183): a fixed-width probe under a predicate passing `sel` of the
    * rows keeps only `sel` of the probed mass, so the width widens to
    * `ceil(base/sel)` — expected allowed mass preserved — and once that
    * reaches `cap` the probe would cover everything anyway, so the caller
    * takes its EXACT branch (brute force over the allowed survivors).
    * IVF/PQ pass cap = nList; HNSW, whose beam is exact past `maxEf`,
    * passes `maxEf + 1`.
    *
    * One [[estimatedSelectivity]] per call, so one decision. `Some(width)`
    * = probe at that width; `None` = exact branch. Nothing passing
    * (sel 0) is the exact branch too: over zero survivors it returns the
    * family's empty, well-typed result, and the rule form simply declines.
    */
  private[graft] def cardinalityGate(
      payload: DataFrame,
      pred: Column,
      hint: Double,
      base: Int,
      cap: Long,
      population: DataFrame = null,
  ): Option[Int] =
    gatedSelectivity(payload, pred, hint, base, cap, population).flatMap(widenedWidth(base, _, cap))

  /** [[cardinalityGate]]'s decision with the estimate it was made on:
    * `Some(sel)` = probe, `None` = exact branch. For a caller that widens
    * more than one base by the one decision — [[Probe]]'s batch decides at
    * its narrowest base, then widens each query's own. `counted` is a
    * selectivity already counted exactly (a driver-resident store's,
    * [[graft.plans.Resident]]): it replaces the estimate scan and is still
    * one decision.
    */
  private[graft] def gatedSelectivity(payload: DataFrame, pred: Column, hint: Double, base: Int, cap: Long,
      population: DataFrame = null, counted: Option[Double] = None): Option[Double] = {
    val sel = counted.fold(estimatedSelectivity(payload, pred, hint, population)) { s =>
      gateDecisions.incrementAndGet()
      s
    }
    widenedWidth(base, sel, cap).map(_ => sel)
  }

  /** The gate's pure widening step (no estimate, no decision): `base`
    * widened by `1/sel`, or `None` once it reaches `cap` or nothing
    * passes.
    */
  private[graft] def widenedWidth(base: Int, sel: Double, cap: Long): Option[Int] =
    if (sel == 0d) None
    else Some(math.ceil(base.toDouble / sel)).filter(_ < cap.toDouble).map(_.toInt)

  /** The gate's selectivity (so the hint contract and the estimate scan
    * cannot drift between families): `hint` when given (validated), else
    * the one-predicate case of [[estimatedSelectivities]]. One call is one
    * gate decision.
    */
  private[graft] def estimatedSelectivity(
      payload: DataFrame, pred: Column, hint: Double, population: DataFrame = null): Double = {
    gateDecisions.incrementAndGet()
    if (!hint.isNaN) {
      require(hint > 0d && hint <= 1d, s"selectivityHint must be in (0, 1]: $hint")
      hint
    } else estimatedSelectivities(payload, Seq(pred), population).head
  }

  /** The selectivity of each of `preds`, from ONE column-pruned payload
    * scan — an action, but it is what picks the plan (Qdrant's estimator
    * does the same), corpus-proportional only in scan bytes, never in
    * shuffle. With a `population` frame the denominator is ITS row count
    * (capped at 1) instead of the payload's: the hydrated rule's metadata
    * table may be pre-filtered, non-covering or carry null keys, all of
    * which cut candidate mass without leaving a predicate to measure. 0.0
    * means NOTHING passes. Counts no decision: a caller that estimates
    * several predicate groups at once hands each estimate to its family
    * call as a hint, and that call decides.
    */
  private[graft] def estimatedSelectivities(
      payload: DataFrame, preds: Seq[Column], population: DataFrame = null): Seq[Double] = {
    val cardRow = payload.agg(count(lit(1)).as("__n"),
      preds.zipWithIndex.map { case (p, i) => count(when(p, lit(1))).as(s"__a$i") }: _*).head()
    lazy val n = if (population == null) cardRow.getLong(0) else population.count()
    preds.indices.map { i =>
      val allowedN = cardRow.getLong(i + 1)
      if (allowedN == 0L) 0d else math.min(allowedN.toDouble / n.toDouble, 1d)
    }
  }

  /** PER-QUERY heterogeneous filters for the batch ANN joins (round 15,
    * VERDICT r14 task 6): all four filtered batch joins take ONE predicate
    * shared by the whole batch, but real retrieval batches carry each
    * user's own ACL/date window. This device composes with any of them —
    * [[graft.operators.Ivf.knnJoin]], [[graft.operators.Hnsw.knnJoin]],
    * [[graft.operators.Pq.knnJoinIvfPq]], [[Search.knnJoin]] — without
    * per-family surgery: query rows carry a PREDICATE-GROUP key in
    * `predCol`, `predicates` maps each key to its filter conjuncts, and
    * `run` is the family call. Each group runs the family's gated join
    * once, so the gate makes ≤ ONE decision per DISTINCT predicate (never
    * per query — asserted against [[gateDecisions]] in the specs) and each
    * group independently takes the branch its own selectivity earns:
    * a tight-ACL user's queries ride the exact semi-join while the
    * broad-filter users keep the widened probe.
    *
    * Scale shape: the plan fans out once per predicate GROUP, bounded by
    * the number of predicate classes (ACL tiers, language walls, date
    * windows) — never by |q|. Groups absent from the batch cost nothing
    * (one bounded distinct decides presence); a query key with no entry in
    * `predicates` fails loudly — silently dropping those rows would be an
    * answer to a different question.
    *
    * Output: the family's rows plus `__pred` (the group key), so callers
    * can route or audit per group.
    */
  def perQueryFiltered(
      queries: DataFrame,
      predCol: String,
      predicates: Seq[(String, Seq[Column])],
      run: (DataFrame, Seq[Column]) => DataFrame,
  ): DataFrame =
    perQueryFilteredKeyed(queries, predCol, predicates, (_, qs, fs) => run(qs, fs))

  /** [[perQueryFiltered]] whose `run` also receives the GROUP KEY — lets a
    * caller that precomputed per-group facts (e.g. [[graft.plans.DeclarativeAnn]]'s
    * one-scan gate selectivities) route them to the right family call.
    * Semantics otherwise identical.
    */
  private[graft] def perQueryFilteredKeyed(
      queries: DataFrame,
      predCol: String,
      predicates: Seq[(String, Seq[Column])],
      run: (String, DataFrame, Seq[Column]) => DataFrame,
  ): DataFrame = {
    require(predicates.nonEmpty, "need at least one predicate group")
    val keys = predicates.map(_._1)
    require(keys.distinct.length == keys.length, s"duplicate predicate-group keys: $keys")
    val present = queries.select(col(predCol).cast("string").as("__p")).distinct()
      .limit(keys.length + 2).collect().map(r => Option(r.getString(0))).toSet
    val unknown = present.diff(keys.map(Option(_)).toSet)
    require(unknown.isEmpty,
      s"query rows carry predicate keys with no entry in `predicates`: " +
        s"${unknown.map(_.getOrElse("null")).mkString(", ")}")
    val parts = predicates.collect {
      case (pv, filters) if present.contains(Some(pv)) =>
        run(pv, queries.where(col(predCol).cast("string") === pv), filters)
          .withColumn("__pred", lit(pv))
    }
    if (parts.isEmpty)
      run(predicates.head._1, queries.where(lit(false)), predicates.head._2)
        .withColumn("__pred", lit(null).cast("string"))
    else parts.reduce(_ unionByName _)
  }
}

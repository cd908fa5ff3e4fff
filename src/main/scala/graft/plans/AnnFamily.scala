package graft.plans

import graft.operators.{Hnsw, Ivf, Pq, Probe, Store}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The `spark.graft.*` keys [[DeclarativeAnn]] reads, with their defaults —
  * the one reader, so a key and its default live in one place. Each read
  * is live (a session may flip a flag between queries). A probe width or
  * re-rank pool below 1 is rejected with the key's name: it would probe no
  * list (or keep no candidate) and silently return no rows.
  */
private[plans] final class AnnConf(spark: SparkSession) {
  private def get(key: String): Option[String]   = spark.conf.getOption(key)
  private def flag(key: String): Boolean         = get(key).exists(_.toBoolean)
  private def int(key: String, default: Int): Int = get(key).map(_.toInt).getOrElse(default)
  private def positive(key: String, default: Int): Int = {
    val v = int(key, default)
    require(v >= 1, s"$key must be at least 1: $v")
    v
  }

  def ivf: Boolean      = flag("spark.graft.ivf.autoProbe")
  def ivfNProbe: Int    = positive("spark.graft.ivf.nProbe", 4)
  // geometry-aware base width for the injected probe: when set, the base
  // is the centroid-margin rule of the explicit [[Ivf.searchAdaptive]];
  // the injected set equals searchAdaptive's by construction — both take
  // their width and list set from the one [[Probe.Margin]] policy
  def adaptiveMargin: Option[Double] = get("spark.graft.ivf.adaptiveMargin").map(_.toDouble)
  def pq: Boolean       = flag("spark.graft.pq.autoProbe")
  def pqNProbe: Int     = positive("spark.graft.pq.nProbe", 4)
  def pqRefine: Int     = positive("spark.graft.pq.refine", 4)
  def hnsw: Boolean     = flag("spark.graft.hnsw.autoProbe")
  def efSearch: Int     = int("spark.graft.hnsw.efSearch", 64)
  def maxEf: Int        = int("spark.graft.hnsw.maxEf", 4096)
  def bruteAuto: Boolean = flag("spark.graft.knnJoin.bruteAuto")
  def maxPredGroups: Int = int("spark.graft.knnJoin.maxPredGroups", 16)
}

/** One ANN index family as [[DeclarativeAnn]] sees it: `open` matches the
  * family's store under a plan side; the opened [[AnnStore]] exposes the
  * family's calls. Each family governs its stores behind its own opt-in
  * flag.
  */
sealed trait AnnFamily {
  private[plans] def enabled(c: AnnConf): Boolean

  /** The family's store under `side`: the first relation partitioned by
    * the family's column whose sidecar marks it, with EXACTLY one of
    * `vecs` as its own column, and that column being the one the index
    * was built on — pruning or beam geometry over any other column would
    * be uncorrelated with the ranking and silently destroy recall.
    */
  private[plans] def open(
      spark: SparkSession, side: LogicalPlan, vecs: Seq[AttributeReference]): Option[AnnStore]

  protected def storeVec(rel: LogicalRelation, vecs: Seq[AttributeReference]): Option[AttributeReference] =
    rel.output.collect { case a: AttributeReference if vecs.exists(_.exprId == a.exprId) => a } match {
      case Seq(one) => Some(one)
      case _        => None
    }
}

/** An opened store: its relation, indexed vector column and partition
  * column (`list_id` / `shard`), plus the family's batch call.
  */
private[plans] sealed abstract class AnnStore {
  def spark: SparkSession
  def rel: LogicalRelation
  def vec: AttributeReference
  def part: AttributeReference

  /** The columns a predicate or a per-query key may not touch: the vector
    * feeds the score, the partition column is the index's own layout.
    */
  final def excluded: Set[ExprId] = Set(vec.exprId, part.exprId)

  /** The query dimension the index accepts, when the store records it. */
  def dim: Option[Int]

  /** The store's id column, given the matched subtree's output. */
  def idIn(output: Seq[Attribute]): Option[AttributeReference]

  final def frame: DataFrame = GraftBridge.ofRows(spark, rel)

  /** The family's gated batch join of `queries` (`__gqid`, `__gqv`):
    * `filters` over `payload` keyed by `payloadIdCol`, with `filters = Nil,
    * payload = null` as the plain form. Output: (query_id, neighbor_id,
    * score, rank).
    */
  def knnJoin(c: AnnConf, id: AttributeReference, queries: DataFrame, k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String, hint: Double): DataFrame
}

/** A store whose single-query top-k SUBSTITUTES the user's subtree. */
private[plans] sealed abstract class TopKStore extends AnnStore {
  /** The family's gated single-query top-k; same `filters`/`payload`
    * contract as [[knnJoin]]. Output carries `id.name` and `score`.
    */
  def topK(c: AnnConf, id: AttributeReference, q: Seq[Double], k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String): DataFrame

  /** Whether the top-k call can carry this hydration's payload. */
  def topKPayloadOk(h: TopKMatch.Hydration): Boolean = true
}

/** IVF: `list_id`-partitioned with the `_graft_centroids.txt` sidecar. A
  * single-query top-k keeps the user's plan and gets the probe INJECTED
  * ([[DeclarativeAnn]]); the batch form substitutes [[Probe]]'s batch join
  * ([[Ivf.knnJoin]]'s).
  */
private[plans] final case class IvfStore(
    spark: SparkSession, rel: LogicalRelation, vec: AttributeReference, part: AttributeReference,
    model: Ivf.Model, token: Option[String]) extends AnnStore {
  def dim: Option[Int] = Some(model.centroids.head.length)

  /** The one store column the output carries besides the vector and
    * `list_id` (the score alias is not a store column): an output with
    * zero or several has no unambiguous id.
    */
  def idIn(output: Seq[Attribute]): Option[AttributeReference] =
    output.flatMap(a => rel.output.collect {
      case r: AttributeReference if r.exprId == a.exprId && !excluded(r.exprId) => r
    }).distinct match {
      case Seq(one) => Some(one)
      case _        => None
    }

  def knnJoin(c: AnnConf, id: AttributeReference, queries: DataFrame, k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String, hint: Double): DataFrame =
    Probe.knnJoin(model, Probe.Fixed(c.ivfNProbe), Probe.Cosine(frame, vec.name, id.name),
      Probe.Filter(filters, payload, payloadIdCol, hint), queries, "__gqv", "__gqid", k, excludeSelf = false)
}

private[plans] object IvfFamily extends AnnFamily {
  def enabled(c: AnnConf): Boolean = c.ivf

  def open(spark: SparkSession, side: LogicalPlan, vecs: Seq[AttributeReference]): Option[AnnStore] =
    for {
      (rel, listAttr, root) <- TopKMatch.partitionedStore(side, "list_id")
      vec    <- storeVec(rel, vecs)
      // one read of the version keys the centroids and the resident copy
      token = Store.token(spark.sparkContext.hadoopConfiguration, root)
      stored <- Ivf.readCentroids(root, spark.sparkContext.hadoopConfiguration, token)
      if stored.column.forall(_ == vec.name) && stored.model.centroids.nonEmpty
    } yield IvfStore(spark, rel, vec, listAttr, stored.model, token)
}

/** HNSW: `shard`-partitioned with the `_hnsw_meta` sidecar, vector column
  * `vec`, id column `id`; both calls are the sharded beam.
  */
private[plans] final case class HnswStore(
    spark: SparkSession, rel: LogicalRelation, vec: AttributeReference, part: AttributeReference,
    id: AttributeReference) extends TopKStore {
  def dim: Option[Int] = None
  def idIn(output: Seq[Attribute]): Option[AttributeReference] = Some(id)

  /** [[Hnsw.searchIndex]] reads the payload key by the NAME `id` while
    * the filters are bound by exprId, so no OTHER payload column riding
    * the filters may be named `id`.
    */
  override def topKPayloadOk(h: TopKMatch.Hydration): Boolean =
    h.preds.flatMap(_.references).filter(_.exprId != h.payloadKey.exprId).forall(_.name != "id")

  def topK(c: AnnConf, id: AttributeReference, q: Seq[Double], k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String): DataFrame = {
    // the frame keeps the original key column (filter resolution) and
    // gains an `id`-named copy when the key is named otherwise
    val keyed =
      if (payload == null || payloadIdCol == "id") payload
      else payload.withColumn("id", payload.col(payloadIdCol))
    Hnsw.searchIndex(frame, q, "id", k, c.efSearch, filters = filters, payload = keyed, maxEf = c.maxEf)
  }

  def knnJoin(c: AnnConf, id: AttributeReference, queries: DataFrame, k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String, hint: Double): DataFrame =
    Hnsw.knnJoin(frame, queries, "__gqv", "__gqid", k, efSearch = c.efSearch, excludeSelf = false,
      filters = filters, payload = payload, payloadIdCol = payloadIdCol, maxEf = c.maxEf,
      selectivityHint = hint)
}

private[plans] object HnswFamily extends AnnFamily {
  def enabled(c: AnnConf): Boolean = c.hnsw

  def open(spark: SparkSession, side: LogicalPlan, vecs: Seq[AttributeReference]): Option[AnnStore] =
    for {
      (rel, shardAttr, root) <- TopKMatch.partitionedStore(side, "shard")
      if TopKMatch.sidecarExists(spark.sparkContext.hadoopConfiguration, root, "_hnsw_meta")
      vec <- storeVec(rel, vecs)
      if vec.name == "vec"
      id  <- rel.output.collectFirst { case a: AttributeReference if a.name == "id" => a }
    } yield HnswStore(spark, rel, vec, shardAttr, id)
}

/** IVF-PQ: the FLOAT half of a [[Pq.writeStore]] store (`root/floats`,
  * `list_id`-partitioned with the IVF sidecar, the PQ codebooks in the
  * parent). Both calls serve candidates from the sibling CODE store
  * (m bytes/vector) and re-rank exactly against the floats.
  */
private[plans] final case class PqStore(
    spark: SparkSession, rel: LogicalRelation, vec: AttributeReference, part: AttributeReference,
    id: AttributeReference, ivf: Ivf.Model, pq: Pq.Model, codes: DataFrame) extends TopKStore {
  def dim: Option[Int] = Some(ivf.centroids.head.length)
  def idIn(output: Seq[Attribute]): Option[AttributeReference] = Some(id)

  def topK(c: AnnConf, id: AttributeReference, q: Seq[Double], k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String): DataFrame =
    Probe.topK(ivf, Probe.Fixed(c.pqNProbe), scorer(c, id), Probe.Filter(filters, payload, payloadIdCol), q, k)

  def knnJoin(c: AnnConf, id: AttributeReference, queries: DataFrame, k: Int,
      filters: Seq[Column], payload: DataFrame, payloadIdCol: String, hint: Double): DataFrame =
    Probe.knnJoin(ivf, Probe.Fixed(c.pqNProbe), scorer(c, id), Probe.Filter(filters, payload, payloadIdCol, hint),
      queries, "__gqv", "__gqid", k, excludeSelf = false)

  private def scorer(c: AnnConf, id: AttributeReference): Probe.Scorer =
    Probe.Adc(codes, frame, pq, c.pqRefine, vec.name, id.name)
}

/** Detection: the matched relation is `list_id`-partitioned parquet whose
  * root ends in `/floats` and whose PARENT carries `_pq_codebooks.txt` —
  * exactly [[Pq.writeStore]]'s two-store layout. The code store is
  * reopened from the sibling `/codes` directory; its schema names the id
  * column (the one column that is neither `pq_codes` nor `list_id`).
  */
object PqFamily extends AnnFamily {
  private[plans] def enabled(c: AnnConf): Boolean = c.pq

  private[plans] def open(
      spark: SparkSession, side: LogicalPlan, vecs: Seq[AttributeReference]): Option[AnnStore] =
    for {
      (rel, listAttr, root) <- TopKMatch.partitionedStore(side, "list_id")
      if root.endsWith("/floats")
      parent = root.stripSuffix("/floats")
      if TopKMatch.sidecarExists(spark.sparkContext.hadoopConfiguration, parent, "_pq_codebooks.txt")
      vec <- storeVec(rel, vecs)
      (stored, pqm, codes) <- storeFor(spark, parent, root)
      if stored.column.forall(_ == vec.name) && stored.model.centroids.nonEmpty
      idCol <- codes.columns.filterNot(c => c == "pq_codes" || c == "list_id") match {
        case Array(one) => Some(one)
        case _          => None
      }
      id <- rel.output.collectFirst { case a: AttributeReference if a.name == idCol => a }
    } yield PqStore(spark, rel, vec, listAttr, id, stored.model, pqm, codes)

  /** Per-(session, store) cache of the reopened store — the 768-d tier
    * measured the UNCACHED rule at 3–5× the explicit call: re-listing the
    * nList partition directories of the code store and re-parsing both
    * sidecars ON EVERY QUERY dominates the probe itself.
    *
    * Freshness: the token is the `_graft_version` of the store root and of
    * its floats store ([[graft.operators.Store.token]]), new on every
    * commit — [[graft.operators.Pq.writeStore]],
    * [[graft.operators.Pq.applyDelta]], and an [[graft.operators.Ivf]]
    * rewrite of the floats store. It is filesystem-independent: correct on
    * object stores whose prefixes report no directory mtime and on
    * coarse-mtime filesystems where a same-tick rewrite is mtime-invisible.
    * A store without version files is reloaded on every query.
    *
    * Keyed by `sessionUUID` (collision-free, unlike an identity hash) +
    * store root; entries whose SparkContext has stopped are swept on every
    * cache miss, so a restarted application cannot be served a DataFrame
    * bound to a dead context and the map does not grow across context
    * lifecycles.
    */
  private val storeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String),
    ((String, String), SparkSession, (Ivf.StoredIndex, Pq.Model, DataFrame))]()

  private def storeFor(
      spark: SparkSession, parent: String, floatsRoot: String,
  ): Option[(Ivf.StoredIndex, Pq.Model, DataFrame)] = {
    val conf  = spark.sparkContext.hadoopConfiguration
    val token = for (p <- Store.token(conf, parent); f <- Store.token(conf, floatsRoot)) yield (p, f)
    val key   = (GraftBridge.sessionUUID(spark), parent)
    val cur   = storeCache.get(key)
    if (cur != null && token.contains(cur._1)) Some(cur._3)
    else {
      // miss path (rare): sweep entries owned by stopped contexts
      val it = storeCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue._2.sparkContext.isStopped) it.remove()
      val loaded = for {
        stored <- Ivf.readCentroids(floatsRoot, conf)
        pqm    <- Pq.readCodebooks(spark, parent)
      } yield (stored, pqm, spark.read.parquet(parent + "/codes"))
      for (t <- token; v <- loaded) storeCache.put(key, (t, spark, v))
      loaded
    }
  }
}

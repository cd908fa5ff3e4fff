package graft.operators

import graft.functions.PqExpressions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Product quantization — the sub-int8 ANN memory tier (Jégou et al. 2011;
  * the faiss IVF-PQ composition the reference gets from Qdrant's quantizer
  * config, backend/vector_db.py:41). SQ8 stores dim bytes/vector; PQ stores
  * `m` bytes (64-d, m=8 → 8 B, a further 8× under SQ8), at the cost of a
  * coarser score that needs an exact re-rank for top-k parity.
  *
  * Scale shape:
  *  - **fit** is a bounded driver-sample problem (codebooks are corpus
  *    SHAPE, like IVF centroids — Ivf.assign's rationale): m independent
  *    subspace k-means over ≤`maxDriverFitBytes` of sampled rows.
  *  - **encode** is a narrow codegen'd projection ([[PqExpressions.pqEncode]]
  *    — codebooks ride a reference object, not the plan), so a 100 TB corpus
  *    encodes in one scan with no shuffle.
  *  - **search** scores codes with a codegen'd table lookup
  *    ([[PqExpressions.pqAdc]] — the query's m×ksub inner-product table is
  *    computed once on the driver) and plans `TakeOrderedAndProject`, the
  *    same no-global-sort top-k as [[Search.topK]]; the optional refine
  *    re-ranks only the ADC top k·`refine` rows exactly.
  */
object Pq {

  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int    = codebooks.length
    def ksub: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def dsub: Int = codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)

    /** Row-major flat copy for the codegen'd encode expression. */
    lazy val flat: Array[Double] = {
      val out = new Array[Double](m * ksub * dsub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          System.arraycopy(codebooks(j)(c), 0, out, (j * ksub + c) * dsub, dsub)
          c += 1
        }
        j += 1
      }
      out
    }

    /** ADC lookup table for one query: table[j·ksub+c] = q̂_j · codebook_jc
      * (q̂ = L2-normalized query), so Σ_j table[j][code_j] ≈ cosine(q, v).
      */
    def adcTable(queryVec: Seq[Double]): Array[Double] = {
      val q  = queryVec.toArray
      var nn = 0.0
      var i  = 0
      while (i < q.length) { nn += q(i) * q(i); i += 1 }
      val inv = if (nn > 0) 1.0 / math.sqrt(nn) else 0.0
      val out = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          val cb  = codebooks(j)(c)
          var dot = 0.0
          var t   = 0
          while (t < dsub) {
            val idx = j * dsub + t
            if (idx < q.length) dot += q(idx) * inv * cb(t)
            t += 1
          }
          out(j * ksub + c) = dot
          c += 1
        }
        j += 1
      }
      out
    }
  }

  /** Fit m×ksub codebooks on a bounded driver sample. `dim % m == 0`
    * required — ragged subspaces silently skew the distance metric toward
    * the wider ones. Vectors are L2-normalized before slicing (cosine
    * geometry); ksub caps at the sample size per [[Ml.lloydFit]]. Rows
    * with a null vector take no part ([[Ml.fitRows]]). Over the byte
    * budget the sample is an [[Ml.hashSample]] of about the budget's worth
    * of vectors, bucketed on a seeded hash of the vector: the same rows, so
    * the same codebooks, whatever the frame's partitioning.
    */
  def fit(
      df: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      seed: Long = 42L,
      maxDriverFitBytes: Long = 64L << 20,
  ): Model = {
    val (dim, direct) = Ml.driverVectors(df, vecCol, maxDriverFitBytes)
    val pts = direct.getOrElse {
      // over budget: seeded sample down to the byte budget, like Ivf's
      // 256-per-list training budget — PQ codebooks are determined by a
      // small sample just as well
      val budgetRows = math.max(1L, maxDriverFitBytes / math.max(1, dim * 8L))
      val vecs       = Ml.fitRows(df, vecCol).select(col(vecCol).cast("array<double>").as("__v"))
      Ml.hashSample(vecs, pmod(xxhash64(lit(seed), col("__v")), lit(Sampling.NumBuckets)), col("__v"), budgetRows.toInt)
        .map(_.getSeq[Double](0).toArray)
    }
    require(pts.nonEmpty, "Pq.fit needs a non-empty corpus")
    require(m > 0 && dim % m == 0, s"dim $dim must divide by m=$m subspaces")
    val dsub = dim / m
    val normed = pts.map { p =>
      var nn = 0.0
      var i  = 0
      while (i < p.length) { nn += p(i) * p(i); i += 1 }
      val inv = if (nn > 0) 1.0 / math.sqrt(nn) else 0.0
      p.map(_ * inv)
    }
    val books = Array.tabulate(m) { j =>
      val sub = normed.map(_.slice(j * dsub, (j + 1) * dsub))
      // seed varies per subspace so identical subspace distributions don't
      // produce identical (correlated) centroid orderings
      Ml.lloydFit(sub, ksub, seed + j)
    }
    // lloydFit caps k at the sample size; keep the books rectangular
    val kEff = books.map(_.length).min
    Model(books.map(_.take(kEff)))
  }

  /** Append the m-byte PQ code column (narrow, codegen'd). */
  def pqTable(df: DataFrame, vecCol: String, model: Model, codesCol: String = "pq_codes"): DataFrame = {
    require(!df.columns.contains(codesCol), s"input already has a '$codesCol' column")
    df.withColumn(codesCol,
      PqExpressions.pqEncode(col(vecCol).cast("array<double>"), model.flat, model.m, model.ksub, model.dsub))
  }

  /** ADC top-k over codes only — no float vectors touched. Ties broken by
    * `idCol` for determinism (quantized scores tie far more often than
    * exact ones — whole code-identical groups share one score).
    */
  def topKOnCodes(
      coded: DataFrame,
      codesCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      model: Model,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    val scored = coded.withColumn("score",
      PqExpressions.pqAdc(col(codesCol), model.adcTable(queryVec), model.ksub))
    filters.foldLeft(scored)((d, f) => d.where(f))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** ADC candidate generation + EXACT re-rank: take the ADC top k·`refine`
    * (a `TakeOrderedAndProject`, so only k·refine rows survive), then score
    * those exactly against the float vectors and keep the true top-k. This
    * is the standard PQ recall recovery — the coarse score only has to keep
    * the true neighbors inside a small candidate set, not order them.
    */
  def topKRefined(
      coded: DataFrame,
      vecCol: String,
      codesCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      model: Model,
      refine: Int = 4,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    val candidates = topKOnCodes(coded, codesCol, idCol, queryVec, k * refine, model, filters)
      .drop("score")
    Search.topK(candidates, vecCol, idCol, queryVec, k)
  }

  // ---- IVF-PQ: the faiss IVFPQ(+refine) composition ----------------------

  /** TWO list-partitioned stores, not one: the hot CODES store (id + m-byte
    * code — the only thing an ADC probe reads) and the cold FLOAT store
    * (same `list_id` layout). A single combined store would drag the float
    * column through every probe scan; with the split, the probe reads
    * nProbe/nList of the code files and the refine reads nProbe/nList of
    * the float files FILTERED to k·refine candidate ids — both legs
    * partition-pruned, which is the whole 100 TB point.
    */
  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame, Ivf.Model, Model)]()

  /** Per-JVM token, same rationale as Ivf's registry: two JVMs sharing a
    * tmp dir must not overwrite each other's live stores.
    */
  private val jvmToken = java.util.UUID.randomUUID().toString.take(8)

  def ivfPqIndexFor(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nList: Int,
      m: Int,
      ksub: Int,
      cacheKey: String,
  ): (DataFrame, DataFrame, Ivf.Model, Model) =
    ivfPqCache.computeIfAbsent(cacheKey, _ => {
      val pqm              = fit(df, vecCol, m, ksub)
      val (assigned, ivfm) = Ivf.assign(df, vecCol, nList)
      val coded            = pqTable(assigned, vecCol, pqm)
      val root = sys.props("java.io.tmpdir") + s"/graft-ivfpq/$jvmToken/" + java.lang.Long.toHexString(
        (scala.util.hashing.MurmurHash3.stringHash(cacheKey, 42).toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(cacheKey, 4242).toLong & 0xffffffffL))
      Ivf.writeIndexed(coded.select(col(idCol), col("pq_codes"), col("list_id")), root + "/codes")
      Ivf.writeIndexed(assigned, root + "/floats")
      val s = df.sparkSession
      (s.read.parquet(root + "/codes"), s.read.parquet(root + "/floats"), ivfm, pqm)
    })

  // ---- persistent IVF-PQ store + incremental maintenance ----------------

  /** Underscore prefix: Spark's file index ignores the sidecar. */
  private val CodebooksFile = "_pq_codebooks.txt"

  /** Persist the PQ codebooks beside the store — what makes an IVF-PQ
    * store durable and self-describing like its IVF (`_graft_centroids
    * .txt`) and HNSW (`_hnsw_meta`) siblings: without it the codebooks
    * lived only in [[ivfPqIndexFor]]'s JVM cache, so the compressed-tier
    * store could not be reopened, let alone incrementally maintained.
    * Format: one `m,ksub,dsub` header line, then m·ksub lines of dsub
    * comma-separated doubles (Double.toString round-trips exactly).
    */
  private def writeCodebooks(conf: org.apache.hadoop.conf.Configuration, root: String, model: Model): Unit =
    Store.writeSidecar(conf, root, CodebooksFile,
      Iterator(s"${model.m},${model.ksub},${model.dsub}") ++ model.codebooks.iterator.flatMap(_.map(_.mkString(","))))

  /** Fail-closed reader ([[Ivf.readCentroids]]'s contract): a torn or
    * ragged sidecar yields None, never an exception.
    */
  def readCodebooks(spark: org.apache.spark.sql.SparkSession, root: String): Option[Model] =
    Store.readSidecar(spark.sparkContext.hadoopConfiguration, root, CodebooksFile) { lines =>
      val Array(m, ksub, dsub) = lines.head.split(",").map(_.toInt)
      val entries = lines.drop(1).map(_.split(",").map(_.toDouble))
      if (entries.length != m * ksub || entries.exists(_.length != dsub)) None
      else Some(Model(Array.tabulate(m)(j => Array.tabulate(ksub)(c => entries(j * ksub + c)))))
    }

  /** Write a durable two-store IVF-PQ index at `root`: `root/codes` (id +
    * m-byte code, list-partitioned — the hot probe store), `root/floats`
    * (the cold exact-rerank store, SAME list layout, carrying the IVF
    * sidecar so it is auto-probe-discoverable like any IVF store), and the
    * codebook sidecar at the root. This is [[ivfPqIndexFor]]'s layout made
    * persistent + self-describing — reopen with [[readStore]], maintain
    * with [[applyDelta]]. One [[Store.replace]] of `root`: both stores and
    * the codebooks land complete in the stage, and the root's
    * `_graft_version` (1 for a new store) is the freshness token
    * [[graft.plans.PqFamily]]'s cache keys on.
    */
  def writeStore(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      root: String,
      nList: Int,
      m: Int,
      ksub: Int = 256,
      seed: Long = 42L,
  ): Unit = {
    // Project to exactly (id, vec) before assignment: applyDelta rebuilds
    // added rows from only these two columns, so a floats store persisted
    // with payload columns could be created but never maintained
    // (`assigned.select(floats.columns…)` would throw). Payload belongs in
    // the source table, joined back by id after the probe.
    val proj             = df.select(col(idCol), col(vecCol))
    val pqm              = fit(proj, vecCol, m, ksub, seed)
    val (assigned, ivfm) = Ivf.assign(proj, vecCol, nList, seed = seed)
    val coded            = pqTable(assigned, vecCol, pqm)
    val conf             = df.sparkSession.sparkContext.hadoopConfiguration
    Store.replace(conf, root) { stage =>
      Ivf.writeIndexed(coded.select(col(idCol), col("pq_codes"), col("list_id")), stage + "/codes")
      Ivf.writeIndexed(assigned, stage + "/floats", ivfm, vecCol)
      writeCodebooks(conf, stage, pqm)
    }
  }

  /** Reopen a [[writeStore]] store: (codes, floats, ivf model, pq model). */
  def readStore(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
  ): (DataFrame, DataFrame, Ivf.Model, Model) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = Ivf.readCentroids(root + "/floats", conf).getOrElse(
      throw new IllegalStateException(s"no IVF sidecar under $root/floats — not a PQ store?"))
    val pqm = readCodebooks(spark, root).getOrElse(
      throw new IllegalStateException(s"no codebook sidecar under $root — not a PQ store?"))
    (spark.read.parquet(root + "/codes"), spark.read.parquet(root + "/floats"), st.model, pqm)
  }

  /** Recrawl maintenance for the two-store layout — [[Ivf.applyDelta]]'s
    * contract (removals + id-keyed upsert additions, affected-list-only
    * rewrite, one [[Store.swapPartitions]] commit, [[Store.recover]] at
    * entry) applied to BOTH stores in one pass of [[Ivf.scanDelta]], the
    * IVF scan path's upsert: added rows assign their list with the STORED
    * centroids ([[Ivf.withListId]]) and encode with the STORED codebooks
    * (no refit — drift is [[Ivf.maintain]]'s job on the floats store), and
    * only the affected `list_id=` directories of either store are read or
    * written. `added` is evaluated once: its assignment is persisted and
    * [[Ivf.deltaStats]]'s one aggregate is its only evaluation; the removal
    * set is broadcast only under [[Ivf.BroadcastDeltaMaxRows]].
    *
    * Cross-store ordering: the FLOAT store swaps first. A crash between
    * the two swaps leaves codes one delta stale, which degrades gracefully
    * — removed ids may still surface as CANDIDATES but the rerank join
    * against the already-swapped floats drops them (no ghost results), and
    * fresh ids are invisible until the replayed batch completes the codes
    * swap. The reverse order could serve a candidate whose float row does
    * not exist yet, silently vacating a result slot. Replays are
    * idempotent (upsert semantics on both stores) AND self-healing: the
    * affected-list detection locates removals in BOTH stores, so lists
    * whose floats swap completed before the crash still get their codes
    * rewritten on the replay (floats-only detection would orphan those
    * removed ids in codes permanently).
    *
    * Returns the number of affected lists.
    */
  def applyDelta(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      removedIds: DataFrame,
      added: DataFrame,
      vecCol: String,
      idCol: String,
  ): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // repair a crashed commit of the root or EITHER store before listing files
    Store.recover(conf, root, root + "/floats", root + "/codes")
    val (codes, floats, ivfm, pqm) = readStore(spark, root)
    require(added.columns.contains(vecCol),
      s"added frame must carry the store's float column '$vecCol' (has: ${added.columns.mkString(", ")})")
    // floats FIRST (see the ordering rationale above), then codes; the
    // version bump lands at the root, last
    Ivf.scanDelta(spark, root, removedIds, Ivf.withListId(added.select(col(idCol), col(vecCol)), ivfm, vecCol),
      idCol, "Pq.applyDelta", Seq(
        (s"$root/floats", floats, identity[DataFrame] _),
        (s"$root/codes", codes, pqTable(_, vecCol, pqm))))
  }

  /** Probe: prune lists → ADC top k·refine over codes → exact re-rank of
    * just those candidates against the float store (pruned to the SAME
    * lists — a candidate's vector lives in the list its code came from).
    *
    * FILTERED search runs behind the cardinality gate ([[Probe]]; the
    * compressed store is exactly what a 100 TB deployment runs filtered
    * k-NN on): `filters` are predicates over `payload` (carrying
    * `payloadIdCol` + the filter columns — the code store holds only ids
    * and codes). The probe widens by 1/sel, with the allowed-id semi-join
    * landing on the PRUNED code scan BEFORE the ADC top-k·refine cut; once
    * the widened probe reaches nList, the exact float-precision top-k over
    * the allowed survivors runs instead — no recall cliff, and it reads
    * floats only for rows that pass. Nothing passing returns empty.
    * `selectivityHint` skips the estimate scan. With `filters` empty there
    * is no estimate scan.
    */
  def searchIvfPq(
      codes: DataFrame,
      floats: DataFrame,
      ivfModel: Ivf.Model,
      pqModel: Model,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      nProbe: Int,
      refine: Int = 4,
      filters: Seq[Column] = Nil,
      payload: DataFrame = null,
      payloadIdCol: String = "id",
      selectivityHint: Double = Double.NaN,
  ): DataFrame =
    Probe.topK(ivfModel, Probe.Fixed(nProbe), Probe.Adc(codes, floats, pqModel, refine, vecCol, idCol),
      Probe.Filter(filters, payload, payloadIdCol, selectivityHint), queryVec, k)

  /** Batch ANN against the IVF-PQ store — the k-NN JOIN form of
    * [[searchIvfPq]] ([[Ivf.knnJoin]]'s shape on the compressed tier): a
    * pipeline attaching neighbors to a whole query FRAME must not pay |q|
    * job launches, so queries fan out to their nProbe lists as narrow
    * rows, candidates equi-join on `list_id`, and the ADC scoring runs as
    * ONE codegen'd pass ([[graft.functions.PqAdcPair]] — the single-query
    * path's driver-precomputed lookup table cannot exist when the query
    * is a COLUMN; the pair form reproduces its arithmetic bit for bit, so
    * the batch ranks candidates exactly as per-query probes would).
    *
    *  1. fan-out: |q|·nProbe narrow (query_id, qvec, list_id) rows, no
    *     driver collect of data;
    *  2. candidate stage reads ONLY the code store (m bytes/vector),
    *     volume |q|·n·(nProbe/nList); per-query ADC top k·refine via the
    *     map-side-combined [[graft.functions.TopKScored]] — the shuffle
    *     carries ≤ k·refine rows per (query, partition);
    *  3. exact re-rank: the bounded candidate frame joins the FLOAT
    *     store pruned to the batch's probed-list UNION (one bounded
    *     driver collect of list ids, the same class as shard-id lists —
    *     static partition pruning; diverse query batches degrade to all
    *     lists, the documented plateau) + the query vectors re-join by
    *     id; exact cosine, then the final top-k per query.
    *
    * FILTERED batch search — [[searchIvfPq]]'s gate, one decision per
    * batch: `filters` over `payload`, probe widened by 1/sel with the
    * allowed-id semi-join landing on the candidate frame BEFORE the ADC
    * cut, exact brute-force join over the allowed float rows when the
    * widened probe reaches nList. `selectivityHint` skips the estimate
    * scan.
    *
    * Output: (query_id, neighbor_id, score, rank) — [[Search.knnJoin]]'s
    * contract, scores float-precision from the re-rank.
    */
  def knnJoinIvfPq(
      codes: DataFrame,
      floats: DataFrame,
      ivfModel: Ivf.Model,
      pqModel: Model,
      queries: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      vecCol: String,
      idCol: String,
      k: Int,
      nProbe: Int,
      refine: Int = 4,
      excludeSelf: Boolean = true,
      filters: Seq[Column] = Nil,
      payload: DataFrame = null,
      payloadIdCol: String = "id",
      selectivityHint: Double = Double.NaN,
  ): DataFrame =
    Probe.knnJoin(ivfModel, Probe.Fixed(nProbe), Probe.Adc(codes, floats, pqModel, refine, vecCol, idCol),
      Probe.Filter(filters, payload, payloadIdCol, selectivityHint), queries, queryVecCol, queryIdCol, k, excludeSelf)
}

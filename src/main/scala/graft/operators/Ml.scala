package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Clustering + dimensionality reduction (SURVEY §2.6).
  *
  * M3/M4 — PCA to 3-D mirrors the reference's sklearn flow
  * (backend/dimensionality_reduction.py:50-158), including the n<3 rule:
  * with fewer samples than components, fit min(n, 3) components and zero-pad
  * the missing coordinates. MLlib's PCA is the distributed drop-in — the
  * covariance/SVD runs as a treeAggregate over partitions, so it scales with
  * executors instead of collecting vectors to the driver.
  *
  * M1 — the reference clusters with HDBSCAN (backend/clustering.py:17-70),
  * which has no scalable JVM analog; per SURVEY §7.2 the declared deviation
  * is a [[Clusterer]] seam with a KMeans-family default. Noise semantics
  * (−1 labels) are reproduced by distance-threshold marking, and the
  * adaptive sizing thresholds (3/5/10 at 50/200 chunks,
  * backend/main.py:795-801) live in
  * [[HdbscanClusterer.adaptiveMinClusterSize]].
  *
  * Every fit reads its rows through one rule ([[fitRows]]) and one of two
  * samplers: [[driverRows]] (byte-budgeted) or [[cappedRows]] (row-capped).
  * A fit that samples past its cap or budget (HDBSCAN, UMAP, PQ) collects
  * a [[hashSample]].
  */
object Ml {

  /** Top-k principal components of a small in-memory sample: covariance +
    * breeze eigSym on the driver. Mirrors the reference's own in-proc
    * sklearn fit (dimensionality_reduction.py:50-158) for corpora within
    * the driver byte budget — MLlib's multi-job covariance fit costs ~10
    * scheduler round-trips that dominate at interactive scale. Each
    * eigenvector's sign is fixed (largest-|component| positive) so the fit
    * is deterministic; like MLlib, projection does NOT re-center.
    */
  private[operators] def pcFit(pts0: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    import breeze.linalg.{eigSym, DenseMatrix}
    // Hash-sorted so mean/covariance accumulation doesn't depend on
    // collect order (same rationale as lloydFit).
    val pts = pts0.sortBy(p => pointHash(p, 0L))
    val n   = pts.length
    val dim = pts.head.length
    val mean = new Array[Double](dim)
    pts.foreach { p => var i = 0; while (i < dim) { mean(i) += p(i); i += 1 } }
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    val cov = DenseMatrix.zeros[Double](dim, dim)
    pts.foreach { p =>
      var a = 0
      while (a < dim) {
        val da = p(a) - mean(a)
        var b = a
        while (b < dim) { cov(a, b) += da * (p(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    for (a <- 0 until dim; b <- a until dim) {
      val v = cov(a, b) / math.max(n - 1, 1); cov(a, b) = v; cov(b, a) = v
    }
    val es = eigSym(cov) // eigenvalues ascending
    (0 until math.min(k, dim)).map { j =>
      val c    = es.eigenvectors(::, dim - 1 - j)
      val arr  = Array.tabulate(dim)(c(_))
      val imax = arr.indices.maxBy(i2 => math.abs(arr(i2)))
      if (arr(imax) < 0) arr.map(-_) else arr
    }.toArray
  }

  /** The one fit-input rule. A row with a null vector takes part in no fit
    * (a null in the first row would fail the dim probe, a later one the fit
    * loops). A clusterer passes its `idCol` too and so also drops a row with
    * a null id: it labels by id, and [[clusterAndName]] joins the labels
    * back on the id, which a null never matches. Both samplers below read
    * through this rule, and so does every fit path that reads the frame
    * itself (the MLlib fits).
    */
  private[operators] def fitRows(df: DataFrame, vecCol: String, idCol: Option[String] = None): DataFrame =
    df.where(idCol.foldLeft(col(vecCol).isNotNull)((c, id) => c && col(id).isNotNull))

  /** The byte-budgeted sampler over [[fitRows]]: one cheap dim probe + one
    * bounded limit(budget+1) collect of the vector column (position 0) plus
    * any `extra` columns. Returns (dim, Some(rows)) when the whole input
    * fits the byte budget (rows × dim × 8 ≤ maxBytes), (dim, None) when it
    * doesn't — callers then take the distributed-fit path. A single
    * definition keeps the fit sites (kmeans, IVF, PQ, PCA) from drifting
    * apart.
    */
  private[operators] def driverRows(
      df: DataFrame, vecCol: String, maxBytes: Long,
      extra: Seq[Column] = Nil,
  ): (Int, Option[Array[Row]]) = {
    val nonNull = fitRows(df, vecCol)
    val head = nonNull.select(org.apache.spark.sql.functions.size(col(vecCol))).limit(1).collect()
    if (head.isEmpty) return (0, Some(Array.empty))
    val dim     = head(0).getInt(0)
    val maxRows = (maxBytes / (8L * math.max(dim, 1))).min(Int.MaxValue - 1L).toInt
    val rows = nonNull.select(col(vecCol).cast("array<double>") +: extra: _*).limit(maxRows + 1).collect()
    (dim, if (rows.length <= maxRows) Some(rows) else None)
  }

  private[operators] def driverVectors(df: DataFrame, vecCol: String, maxBytes: Long): (Int, Option[Array[Array[Double]]]) = {
    val (dim, rows) = driverRows(df, vecCol, maxBytes)
    (dim, rows.map(_.map(_.getSeq[Double](0).toArray)))
  }

  /** The row-capped sampler, for the driver fits whose cost grows with rows
    * rather than bytes (HDBSCAN, UMAP). Reads [[fitRows]] with the id as
    * `(__id long, __v array<double>)` and returns that frame, the fit rows
    * sorted by id (so partition order can't perturb the fit), and whether
    * they are the whole set. Up to `maxRows` rows that is one bounded
    * collect; past it, a [[hashSample]] bucketed on the portable hash of
    * the id (stable across runs and partitionings).
    */
  private[operators] def cappedRows(df: DataFrame, vecCol: String, idCol: String, maxRows: Int): (DataFrame, Array[Row], Boolean) = {
    val input = fitRows(df, vecCol, Some(idCol))
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val head = input.limit(maxRows + 1).collect()
    if (head.length <= maxRows) return (input, head.sortBy(_.getLong(0)), true)
    val sample = hashSample(input, Sampling.bucket(col("__id")), col("__id"), maxRows)
    (input, sample.sortBy(_.getLong(0)), false)
  }

  /** The one over-budget sample: about `maxRows` rows of `frame`, chosen
    * by content, not by layout. `bucket` is a hash of the row into
    * [0, NumBuckets) (the id's for [[cappedRows]], the vector's for
    * `Pq.fit`); a count sets the kept share, the bucket filter keeps about
    * `maxRows` rows, and an ORDERED limit on (bucket, key) cuts the rest.
    * The filter runs before the limit because orderBy+limit is
    * TakeOrderedAndProject, whose collect ships each partition's top
    * `maxRows` rows to the driver: unfiltered, a frame in many small
    * partitions would ship whole. A bare limit() would truncate in
    * partition-arrival order, which varies run to run whenever the filter
    * passes more than `maxRows` rows (certain past NumBuckets × maxRows,
    * where the kept share floors at one bucket); bucket-first keeps the
    * kept set hash-uniform instead of biased toward small keys.
    */
  private[operators] def hashSample(frame: DataFrame, bucket: Column, key: Column, maxRows: Int): Array[Row] = {
    val keepBp = math.max(1L, maxRows.toLong * Sampling.NumBuckets / frame.count())
    frame.where(bucket < keepBp).orderBy(bucket, key).limit(maxRows).collect()
  }

  /** M3 — fit+transform to 3-D with the reference's zero-pad rule: the fit
    * and the projection of [[pcaProject]] over one frame. Output: idCol, x,
    * y, z; a row with a null vector takes part in no fit and projects to
    * null coordinates.
    */
  def pca3d(df: DataFrame, vecCol: String, idCol: String, maxDriverFitBytes: Long = 64L << 20): DataFrame =
    pcaProject(df, df, vecCol, idCol, maxDriverFitBytes)

  /** 3-D projection seam for M5. The reference supports method='umap'
    * (dimensionality_reduction.py:101-105) but falls back to PCA when
    * umap-learn is absent (dimensionality_reduction.py:41-48); unknown
    * method strings also fall back (dimensionality_reduction.py:36-38).
    * Both fallbacks are reproduced: PCA is the bound default (the
    * reference's shipped state), and [[UmapReducer]] — a real from-scratch
    * [[Umap]] — is what binding the seam looks like with the library
    * "installed".
    */
  trait Reducer3D extends Serializable {
    def name: String
    def project(df: DataFrame, vecCol: String, idCol: String): DataFrame
  }

  object PcaReducer extends Reducer3D {
    val name = "pca"
    def project(df: DataFrame, vecCol: String, idCol: String): DataFrame = pca3d(df, vecCol, idCol)
  }

  /** M5 — real UMAP behind the seam. Fit is driver-side and row-capped
    * (the reference's own fit is a single in-process umap-learn call on a
    * collected embedding list, main.py's cluster/visualize path — same
    * shape); corpora over the cap fit on a deterministic hash-sample and
    * every row is then placed DISTRIBUTED by [[Umap.transform]] (broadcast
    * model, pure per-row math — scales with executors). Inputs with fewer
    * rows than components take the reference's tiny-input PCA zero-pad path
    * (dimensionality_reduction.py:66-82).
    */
  final class UmapReducer(
      maxFitRows: Int = 4096,
      params: Umap.Params = Umap.Params(),
  ) extends Reducer3D {
    val name = "umap"

    def project(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      require(params.nComponents == 3, "Reducer3D contract is 3 output dims")
      val (input, rows, whole) = cappedRows(df, vecCol, idCol, maxFitRows)
      if (whole && rows.isEmpty) return spark.emptyDataFrame
      if (rows.length < 3) return pca3d(fitRows(df, vecCol, Some(idCol)), vecCol, idCol) // reference tiny-input rule
      val model = Umap.fitModel(rows.map(_.getSeq[Double](1).toArray), params)
      val placed =
        if (whole) rows.map(_.getLong(0)).zip(model.embedding).toSeq.map { case (id, e) => (id, e(0), e(1), e(2)) }.toDS()
        else {
          // over the cap: every row is placed by a broadcast transform
          val bc = spark.sparkContext.broadcast(model)
          input.as[(Long, Seq[Double])].map { case (id, v) =>
            val e = Umap.transform(bc.value, v.toArray)
            (id, e(0), e(1), e(2))
          }
        }
      placed.toDF("__id", "x", "y", "z").select(col("__id").as(idCol), col("x"), col("y"), col("z"))
    }
  }

  /** M5 — method selection with the reference's double fallback: unknown
    * method → pca; method='umap' with no bound implementation → pca
    * (pass `Some(new UmapReducer())` to bind the real one).
    */
  def reducerFor(method: String, umap: Option[Reducer3D] = None): Reducer3D =
    method.toLowerCase(java.util.Locale.ROOT) match {
      case "pca"  => PcaReducer
      case "umap" => umap.getOrElse(PcaReducer)
      case _      => PcaReducer
    }

  /** M4 — project new vectors with an already-fitted model (the reference's
    * transform-single-query path): fit on `fitDf`, apply to `applyDf`.
    *
    * A fit within the driver byte budget runs [[pcFit]] on one bounded
    * collect ([[driverRows]]); a larger one runs MLlib's treeAggregate
    * covariance ([[fitPca]]). Either fit yields components, and one
    * projection applies them as codegen'd dot products, so a row with a
    * null vector projects to null coordinates on both paths.
    */
  def pcaProject(fitDf: DataFrame, applyDf: DataFrame, vecCol: String, idCol: String, maxDriverFitBytes: Long = 64L << 20): DataFrame = {
    import graft.functions.VectorExpressions.dotFast
    val cs = driverVectors(fitDf, vecCol, maxDriverFitBytes)._2 match {
      case Some(pts) if pts.isEmpty => return fitDf.sparkSession.emptyDataFrame
      // min(n,3): with fewer samples than components the extra
      // eigenvectors are null-space garbage — those coords zero-pad instead
      case Some(pts) => pcFit(pts, math.min(pts.length, 3))
      case None =>
        val pc = fitPca(fitDf, vecCol, 3).pc
        Array.tabulate(pc.numCols)(j => Array.tabulate(pc.numRows)(pc(_, j)))
    }
    val v = col(vecCol).cast("array<double>")
    def coord(i: Int) = if (i < cs.length) dotFast(v, typedLit(cs(i).toSeq)) else lit(0.0)
    applyDf.select(col(idCol), coord(0).as("x"), coord(1).as("y"), coord(2).as("z"))
  }

  /** M6 — model persistence (reference pickles the fitted reducer,
    * backend/dimensionality_reduction.py:160-187; MLlib writers are the
    * native equivalent and cluster-readable). The fit reads [[fitRows]].
    */
  def fitPca(df: DataFrame, vecCol: String, k: Int): org.apache.spark.ml.feature.PCAModel =
    new PCA().setK(k).setInputCol("__v").setOutputCol("__pca")
      .fit(fitRows(df, vecCol).withColumn("__v", array_to_vector(col(vecCol).cast("array<double>"))))

  def savePca(model: org.apache.spark.ml.feature.PCAModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadPca(path: String): org.apache.spark.ml.feature.PCAModel =
    org.apache.spark.ml.feature.PCAModel.load(path)

  /** Apply a (fitted or reloaded) PCA model to an array column → (id, x, y, z). */
  def transformPca(
      model: org.apache.spark.ml.feature.PCAModel, df: DataFrame, vecCol: String, idCol: String,
  ): DataFrame = {
    val arr = vector_to_array(col("__pca"))
    model.transform(df.withColumn("__v", array_to_vector(col(vecCol).cast("array<double>"))))
      .select(col(idCol), element_at(arr, 1).as("x"), element_at(arr, 2).as("y"), element_at(arr, 3).as("z"))
  }

  /** M1 seam — pluggable clusterer returning (idCol, label) with −1 noise. */
  trait Clusterer extends Serializable {
    def cluster(df: DataFrame, vecCol: String, idCol: String): DataFrame
  }

  /** Nearest centroid + squared distance (the driver fits' assignment, and
    * HDBSCAN's over-cap nearest-fitted-point assignment). */
  private[operators] def nearestCentroid(p: Array[Double], cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < p.length) { val t = p(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** Content hash of a point, salted by `seed` — the basis for ORDER-
    * INDEPENDENT centroid seeding: `collect()` row order is not stable
    * across executors/runs on a real cluster, so any seeding keyed on
    * collection order (index shuffle, "first k") silently makes the fit
    * nondeterministic at scale. Hashing coordinates makes the same point
    * set produce the same centroids regardless of arrival order.
    */
  private def pointHash(p: Array[Double], seed: Long): Long = {
    var h = seed ^ 1125899906842597L
    var i = 0
    while (i < p.length) { h = h * 31 + java.lang.Double.doubleToLongBits(p(i)); i += 1 }
    h
  }

  /** Seeded Lloyd's iterations on in-memory points — the driver-side fit
    * used when a corpus (or sample) is small enough that MLlib's per-
    * iteration scheduler round-trips dominate (SURVEY §2.6 option (c):
    * driver-local fit + distributed broadcast assignment). Initial
    * centroids are the k distinct points with the smallest salted content
    * hash (see [[pointHash]]), so the fit is a pure function of the point
    * SET, not the collect order.
    */
  private[operators] def lloydFit(points: Array[Array[Double]], k: Int, seed: Long, maxIter: Int = 20): Array[Array[Double]] = {
    val kEff   = math.min(k, points.length)
    // Equal hashes are either identical points (either copy is the same
    // centroid) or ~2^-64 collisions, so hash order alone is deterministic.
    val sorted = points.sortBy(p => pointHash(p, seed))
    val seeds  = sorted.iterator.map(_.toSeq).distinct.take(kEff).map(_.toArray).toArray
    var centroids = (if (seeds.length < kEff) seeds ++ sorted.take(kEff - seeds.length) else seeds)
      .map(_.clone())
    val dim       = points.headOption.map(_.length).getOrElse(0)
    var it        = 0
    var moved     = true
    // Accumulate in hash order within FIXED index chunks, merged in chunk
    // order: FP addition is non-associative, so the reduction tree must be a
    // function of the point set alone — chunk boundaries come from indices
    // into the hash-sorted array, never from thread scheduling. The chunks
    // themselves run in parallel (assignment is the O(n·k·dim) hot loop; at
    // the 64 MB driver budget a serial pass costs ~0.5 s per fit).
    val chunkSize = 4096
    val nChunks   = (sorted.length + chunkSize - 1) / chunkSize
    while (it < maxIter && moved) {
      val cs       = centroids
      val partials = new Array[(Array[Array[Double]], Array[Long])](nChunks)
      import scala.collection.parallel.CollectionConverters._
      (0 until nChunks).par.foreach { ci =>
        val lo = ci * chunkSize
        val hi = math.min(lo + chunkSize, sorted.length)
        val s  = Array.fill(kEff)(new Array[Double](dim))
        val n  = new Array[Long](kEff)
        var j  = lo
        while (j < hi) {
          val p      = sorted(j)
          val (c, _) = nearestCentroid(p, cs)
          n(c) += 1
          var i = 0; while (i < dim) { s(c)(i) += p(i); i += 1 }
          j += 1
        }
        partials(ci) = (s, n)
      }
      val sums   = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      partials.foreach { case (s, n) =>
        var c = 0
        while (c < kEff) {
          counts(c) += n(c)
          var i = 0; while (i < dim) { sums(c)(i) += s(c)(i); i += 1 }
          c += 1
        }
      }
      val next = Array.tabulate(kEff) { c =>
        if (counts(c) == 0) centroids(c)
        else { val m = new Array[Double](dim); var i = 0; while (i < dim) { m(i) = sums(c)(i) / counts(c); i += 1 }; m }
      }
      moved = next.zip(centroids).exists { case (a, b) => !java.util.Arrays.equals(a, b) }
      centroids = next
      it += 1
    }
    centroids
  }

  /** §3.3 — the full analytics job as ONE lineage: cluster → TF-IDF naming →
    * join-update write-back. The reference runs this as scroll-all →
    * in-process HDBSCAN → per-point HTTP set_payload loop
    * (backend/main.py:781-830, the known O(n) anti-pattern); here the
    * write-back is a single broadcast join (S15) and naming is the
    * distributed TF-IDF agg (A6), so the whole job is three shuffles
    * regardless of corpus size.
    */
  def clusterAndName(
      chunks: DataFrame,
      vecCol: String,
      idCol: String,
      textCol: String,
      clusterer: Clusterer,
  ): DataFrame = clusterAndName(chunks, chunks, vecCol, idCol, textCol, clusterer)

  /** Split-input form: vectors and texts arrive as separate frames joined on
    * `idCol`. When they live in separate tables (the storage layout — vectors
    * in the index, text in the registry), this keeps the vecs⋈texts join out
    * of the clustering leg entirely: the fit reads only `vecs`, and the text
    * corpus is touched exactly once, by the naming aggregation. `n_clusters`
    * for the idf denominator comes from the label frame (id+label only), not
    * another pass over the text corpus.
    */
  def clusterAndName(
      vecs: DataFrame,
      texts: DataFrame,
      vecCol: String,
      idCol: String,
      textCol: String,
      clusterer: Clusterer,
  ): DataFrame = {
    val labels  = clusterer.cluster(vecs, vecCol, idCol)
    val labeled = texts.join(labels, Seq(idCol))
    val names = Aggs.tfidfKeywords(
      labeled.where(col("label") =!= -1), "label", textCol,
      nLabelsFrom = Some(labels.where(col("label") =!= -1)),
    ).withColumnRenamed("label", "__nl")
    labeled
      .join(broadcast(names), labeled("label") === col("__nl"), "left")
      .withColumn("cluster_name",
        when(col("label") === -1, lit("Uncategorized")).otherwise(coalesce(col("cluster_name"), concat(lit("Cluster "), col("label")))))
      .drop("__nl")
  }

  /** M1 at the reference's ACTUAL semantics: HDBSCAN* with EoM selection
    * (backend/clustering.py:50-60) via [[Hdbscan.fit]]. KMeansClusterer
    * stays the oracled default (closed-form noise contract); this closes
    * the declared density-semantics deviation for corpora where it
    * matters.
    *
    * Fit is driver-side and row-capped — HDBSCAN's mutual-reachability MST
    * is inherently O(n²) without space trees, and the reference itself
    * scrolls every vector into one process to fit. Corpora over the cap
    * fit on a deterministic hash-sample and assign the rest DISTRIBUTED to
    * the label of the nearest fitted point (the shape of hdbscan's own
    * `approximate_predict`; a declared approximation — boundary points may
    * differ from a full fit).
    */
  object HdbscanClusterer {
    /** The reference's corpus-size-adaptive min_cluster_size
      * (backend/main.py:795-801): 3 below 50 chunks, 5 below 200, else 10.
      */
    def adaptiveMinClusterSize(totalChunks: Long): Int =
      if (totalChunks < 50) 3 else if (totalChunks < 200) 5 else 10
  }

  final class HdbscanClusterer(
      minClusterSize: Int = 5,
      minSamples: Int = 3,
      maxFitRows: Int = 4096,
  ) extends Clusterer {

    override def cluster(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val (input, rows, whole) = cappedRows(df, vecCol, idCol, maxFitRows)
      if (whole && rows.isEmpty) return df.select(col(idCol), lit(-1).as("label")).where(lit(false))
      val pts    = rows.map(_.getSeq[Double](1).toArray)
      val labels = Hdbscan.fit(pts, minClusterSize, minSamples)
      val labeled =
        if (whole) rows.map(_.getLong(0)).zip(labels).toSeq.toDS()
        else {
          // over the cap: every row takes the label of its nearest fitted point
          val bc = spark.sparkContext.broadcast((pts, labels))
          input.as[(Long, Seq[Double])].map { case (id, v) =>
            val (fitted, fittedLabels) = bc.value
            val (i, d) = nearestCentroid(v.toArray, fitted)
            (id, if (d == Double.MaxValue) -1 else fittedLabels(i))
          }
        }
      labeled.toDF("__id", "label").select(col("__id").as(idCol), col("label"))
    }
  }

  /** Default KMeans-family clusterer (declared HDBSCAN deviation): k fixed,
    * rows farther than `noiseQuantile` of the distance distribution from
    * their centroid are marked −1 (noise), echoing HDBSCAN's outlier
    * semantics without its density model.
    *
    * Two fit paths, same contract:
    *  - corpora within the driver-fit BYTE budget (rows × dim × 8 ≤
    *    `maxDriverFitBytes`, so a 768-d corpus collects 12× fewer rows than
    *    a 64-d one — the budget is what actually bounds driver heap) fit
    *    with seeded Lloyd's iterations on the driver — the reference's own
    *    in-proc shape (SURVEY §2.6 option (c)); at 2k points MLlib's ~25
    *    driver-roundtrip jobs cost ~8 s of pure scheduling, the local fit
    *    microseconds;
    *  - larger corpora fit distributed via MLlib KMeans, with assignment +
    *    noise-marking as broadcast-centroid expressions (no collect).
    */
  final class KMeansClusterer(
      k: Int,
      seed: Long = 42L,
      noiseQuantile: Double = 0.95,
      maxDriverFitBytes: Long = 64L << 20,
  ) extends Clusterer {

    override def cluster(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
      val spark = df.sparkSession
      val input = fitRows(df, vecCol, Some(idCol))
      // One bounded collect decides the fit path AND provides the data: if
      // limit(budget+1) comes back within budget, that IS the whole corpus
      // (no separate count job; the fit is collect-order-independent).
      val sampled = driverRows(input, vecCol, maxDriverFitBytes, Seq(col(idCol).cast("long")))._2
      if (sampled.exists(_.isEmpty)) return df.select(col(idCol), lit(-1).as("label")).where(lit(false))
      if (sampled.isDefined) {
        // Driver fit, driver assignment (the corpus is already small).
        val rows = sampled.get
        val pts  = rows.map(_.getSeq[Double](0).toArray)
        val cs   = Ml.lloydFit(pts, k, seed)
        val assigned = rows.zip(pts).map { case (r, p) =>
          val (c, d) = Ml.nearestCentroid(p, cs); (r.getLong(1), c, math.sqrt(d))
        }
        val cut = {
          val ds = assigned.map(_._3).sorted
          ds(math.min(ds.length - 1, (noiseQuantile * ds.length).toInt))
        }
        import spark.implicits._
        assigned.toSeq.toDF("__id", "__c", "__d")
          .select(col("__id").as(idCol), when(col("__d") > cut, -1).otherwise(col("__c")).as("label"))
      } else {
        val withVec = input.withColumn("__v", array_to_vector(col(vecCol).cast("array<double>")))
        val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("__v").setPredictionCol("__label")
          .setDistanceMeasure("euclidean").fit(withVec)
        val assigned = model.transform(withVec)
        val centers  = model.clusterCenters.map(_.toArray.toSeq)
        val centerCol = element_at(typedLit(centers), col("__label") + 1)
        val dist   = sqrt(graft.functions.VectorOps.sqDist(col(vecCol).cast("array<double>"), centerCol))
        val scored = assigned.withColumn("__dist", dist)
        val cut    = scored.stat.approxQuantile("__dist", Array(noiseQuantile), 0.001).head
        scored.select(col(idCol), when(col("__dist") > cut, -1).otherwise(col("__label")).as("label"))
      }
    }
  }
}

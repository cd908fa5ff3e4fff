package graft

import graft.operators.{Embedder, Ivf, Ml}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed (MLlib) fit branches are the ones that actually run at
  * 100 TB, but every test corpus fits the default 64 MB driver budget and
  * would exercise only the driver-fit branch — so these tests force the
  * budget to 1 byte and drive the MLlib paths end-to-end.
  */
class DistributedFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df =
    (0L until 60L).map(i => (i, Embedder.default.embed(s"point $i group ${i % 3}"))).toDF("id", "vec")

  test("KMeansClusterer over budget falls back to MLlib with the same label contract") {
    val labels = new Ml.KMeansClusterer(3, maxDriverFitBytes = 1L).cluster(df, "vec", "id")
      .select("label").as[Int].collect().toSeq
    assert(labels.size == 60)
    assert(labels.forall(l => l == -1 || (l >= 0 && l < 3)))
    assert(labels.exists(_ != -1))
  }

  test("pca3d over budget fits via MLlib and emits finite 3-D coords") {
    val out = Ml.pca3d(df, "vec", "id", maxDriverFitBytes = 1L)
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out.size == 60)
    assert(out.forall { case (_, x, y, z) =>
      java.lang.Double.isFinite(x) && java.lang.Double.isFinite(y) && java.lang.Double.isFinite(z)
    })
    assert(out.map(_._2).distinct.size > 1) // first component actually varies
  }

  test("pcaProject over budget fits via MLlib and projects the apply set") {
    val out = Ml.pcaProject(df, df.where(col("id") < 7), "vec", "id", maxDriverFitBytes = 1L)
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out.size == 7)
  }

  test("fit-path crossover is dim-aware: same rows + same byte budget, 768-d flips to MLlib") {
    // 600 rows under a 1 MB budget: 64-d = 307 KB (driver fit), 768-d =
    // 3.7 MB (distributed fit). The budget bounds BYTES, not rows — the
    // 768-d corpus must flip ~12x earlier. Path observed from the plan:
    // the driver path assigns from a collected LocalRelation; the MLlib
    // path projects the model's __pca / __label columns.
    val budget = 1L << 20
    def vecDf(dim: Int) = (0L until 600L)
      .map(i => (i, Array.tabulate(dim)(j => math.sin(i * dim + j))))
      .toDF("id", "vec")
    val p64 = Ml.pca3d(vecDf(64), "vec", "id", maxDriverFitBytes = budget)
      .queryExecution.analyzed.toString
    assert(!p64.contains("__pca"), "64-d within budget must take the driver eigSym fit")
    val p768 = Ml.pca3d(vecDf(768), "vec", "id", maxDriverFitBytes = budget)
      .queryExecution.analyzed.toString
    assert(p768.contains("__pca"), "768-d over budget must take the MLlib fit")

    // the MLlib branch scores distance-to-centroid as a __dist column; the
    // driver branch ships finished (id, label) rows and has no such column
    val k64 = new Ml.KMeansClusterer(3, maxDriverFitBytes = budget)
      .cluster(vecDf(64), "vec", "id").queryExecution.analyzed.toString
    assert(!k64.contains("__dist"), "64-d within budget must assign from the driver fit")
    val k768 = new Ml.KMeansClusterer(3, maxDriverFitBytes = budget)
      .cluster(vecDf(768), "vec", "id").queryExecution.analyzed.toString
    assert(k768.contains("__dist") && k768.contains("__label"),
      "768-d over budget must assign via the MLlib model")
  }

  test("Ivf.assign over budget fits via MLlib KMeans and lists every row") {
    val (assigned, model) = Ivf.assign(df, "vec", 4, maxDriverFitBytes = 1L)
    assert(model.centroids.length == 4)
    val lists = assigned.select("list_id").as[Int].collect().toSeq
    assert(lists.size == 60 && lists.forall(l => l >= 0 && l < 4))
    // the build assigns as an upsert does: a row re-uploaded unchanged
    // stays in its list
    def byId(d: org.apache.spark.sql.DataFrame) = d.select("id", "list_id").as[(Long, Int)].collect().toMap
    assert(byId(assigned) == byId(Ivf.withListId(df, model, "vec")))
  }

  /** 768-d corpus with 3 orthogonal, widely separated latent clusters and
    * planted exact duplicates (id ≡ 1 mod 50 copies id−1) — the shape the
    * row-cap crossover claims must hold at (SCALE.md's d768 tier priced
    * it; this pins the SEMANTICS either side of the cap).
    */
  private lazy val df768 = {
    def vec(i: Long): Array[Double] = {
      val src = if (i % 50 == 1) i - 1 else i
      val c   = (src % 3).toInt
      // seeded-Random scatter: a sinusoid of the linear index is itself
      // periodic structure HDBSCAN's excess-of-mass happily carves into
      // subclusters — the noise must be shapeless for "3 latent clusters"
      // to be the ground truth at every fit size
      val rnd = new scala.util.Random(src)
      Array.tabulate(768)(j =>
        (if (j % 3 == c && j < 96) 4.0 else 0.0) + 0.05 * (rnd.nextDouble() - 0.5))
    }
    (0L until 450L).map(i => (i, vec(i))).toDF("id", "vec")
  }

  test("HDBSCAN past the row cap at 768-d: sampled fit keeps the full fit's partition") {
    val full = new Ml.HdbscanClusterer(5, 3, maxFitRows = 4096)
      .cluster(df768, "vec", "id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val samp = new Ml.HdbscanClusterer(5, 3, maxFitRows = 128)
      .cluster(df768, "vec", "id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full.size == 450 && samp.size == 450)
    // clean separation: neither path may resort to noise
    assert(!full.values.exists(_ == -1) && !samp.values.exists(_ == -1))
    // planted exact duplicates land together under the sampled assignment
    for (i <- 1L until 450L by 50L) assert(samp(i) == samp(i - 1), s"dup pair $i split")
    // partition parity modulo label names: sampled->full must be a bijection
    val mapping = (0L until 450L).groupBy(i => samp(i)).map { case (s, ids) =>
      s -> ids.map(full).distinct
    }
    assert(mapping.values.forall(_.size == 1),
      s"a sampled cluster straddles full clusters: $mapping")
    assert(mapping.values.flatten.toSeq.distinct.size == mapping.size,
      s"two sampled clusters merged a full cluster: $mapping")
    // determinism: the hash-sampled fit is stable across runs
    val samp2 = new Ml.HdbscanClusterer(5, 3, maxFitRows = 128)
      .cluster(df768, "vec", "id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(samp2 == samp)
    // ...and across PARTITIONINGS: the cap cut is an ordered (bucket, id)
    // limit, so reshuffling the corpus into a different layout must yield
    // the identical labeling — a bare limit() truncated in partition
    // arrival order and made the fit sample layout-dependent
    val samp3 = new Ml.HdbscanClusterer(5, 3, maxFitRows = 128)
      .cluster(df768.repartition(7), "vec", "id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(samp3 == samp, "fit sample leaked partition order")
  }

  test("UMAP past the row cap at 768-d: broadcast transform preserves duplicates and cluster geometry") {
    val out = new Ml.UmapReducer(maxFitRows = 128)
      .project(df768, "vec", "id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.size == 450)
    assert(out.values.forall { case (x, y, z) =>
      java.lang.Double.isFinite(x) && java.lang.Double.isFinite(y) && java.lang.Double.isFinite(z)
    })
    // exact duplicates go through the same broadcast transform -> identical coords
    for (i <- 1L until 450L by 50L) assert(out(i) == out(i - 1), s"dup pair $i diverged")
    // geometry: each point's nearest 3-D cluster centroid is its own
    // latent cluster for >= 90% of rows (clean 768-d separation must
    // survive the sampled-anchor transform)
    def latent(i: Long): Int = (((if (i % 50 == 1) i - 1 else i)) % 3).toInt
    val cents = (0 until 3).map { c =>
      val pts = out.collect { case (i, p) if latent(i) == c => p }
      val n = pts.size.toDouble
      (pts.map(_._1).sum / n, pts.map(_._2).sum / n, pts.map(_._3).sum / n)
    }
    def d2(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
      val dx = a._1 - b._1; val dy = a._2 - b._2; val dz = a._3 - b._3
      dx * dx + dy * dy + dz * dz
    }
    val ok = out.count { case (i, p) =>
      (0 until 3).minBy(c => d2(p, cents(c))) == latent(i)
    }
    assert(ok >= 405, s"only $ok/450 rows nearest their own cluster centroid")
    // partitioning must not leak into the fit sample (ordered-limit cut):
    // same corpus, different layout, bit-identical coordinates
    val out2 = new Ml.UmapReducer(maxFitRows = 128)
      .project(df768.repartition(7), "vec", "id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out2 == out, "UMAP fit sample leaked partition order")
  }
}

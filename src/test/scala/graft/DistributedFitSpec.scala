package graft

import graft.operators.{Embedder, Ivf, Ml, Pq}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** Spark jobs `body` ran (the listener bus is async: let every job surface). */
  private def jobs[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Thread.sleep(500)
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

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
    // 768-d corpus must flip ~12x earlier. PCA's path is observed from the
    // jobs the fit runs: the driver fit is the sampler's two collects, the
    // MLlib fit adds its own. KMeans' path is observed from the plan: the
    // driver path assigns from a collected LocalRelation; the MLlib path
    // projects the model's __label column. The rows sit in one RDD
    // partition: a collect over a local relation runs no job at all, and
    // over one partition a bounded collect is exactly one.
    val budget = 1L << 20
    def vecDf(dim: Int) = spark.sparkContext.parallelize((0L until 600L)
      .map(i => (i, Array.tabulate(dim)(j => math.sin(i * dim + j)))), 1)
      .toDF("id", "vec")
    val j64 = jobs(Ml.pca3d(vecDf(64), "vec", "id", maxDriverFitBytes = budget))._2
    assert(j64 == 2, s"64-d within budget must take the driver eigSym fit: $j64 jobs")
    val j768 = jobs(Ml.pca3d(vecDf(768), "vec", "id", maxDriverFitBytes = budget))._2
    assert(j768 > 2, s"768-d over budget must take the MLlib fit: $j768 jobs")

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

  test("a null id or a null vector takes part in no fit, on every fit path") {
    // one rule for every fit: a clusterer returns the other 59 rows labelled,
    // and PCA projects a null vector to null coordinates, within the driver
    // budget and over it
    val nullId  = df.withColumn("id", when(col("id") =!= 7L, col("id")))
    val nullVec = df.withColumn("vec", when(col("id") =!= 7L, col("vec")))
    val others  = (0L until 60L).filter(_ != 7L).toSet
    def labelled(out: DataFrame, what: String): Unit = {
      val rows = out.collect()
      assert(rows.length == 59 && rows.map(_.getLong(0)).toSet == others, what)
      assert(rows.forall(r => !r.isNullAt(1)), what)
    }
    for (in <- Seq(nullId, nullVec); name = if (in eq nullId) "null id" else "null vector") {
      for (budget <- Seq(64L << 20, 1L))
        labelled(new Ml.KMeansClusterer(3, maxDriverFitBytes = budget).cluster(in, "vec", "id"),
          s"KMeans, $name, budget $budget")
      for (cap <- Seq(4096, 20)) {
        labelled(new Ml.HdbscanClusterer(3, 3, maxFitRows = cap).cluster(in, "vec", "id"), s"HDBSCAN, $name, cap $cap")
        labelled(new Ml.UmapReducer(maxFitRows = cap).project(in, "vec", "id"), s"UMAP, $name, cap $cap")
      }
    }
    for (budget <- Seq(64L << 20, 1L)) {
      def coords(out: DataFrame) = out.collect().map(r => r.getLong(0) -> (1 to 3).map(r.get)).toMap
      val all = coords(Ml.pca3d(nullVec, "vec", "id", maxDriverFitBytes = budget))
      val sub = coords(Ml.pcaProject(nullVec, nullVec.where(col("id") < 10), "vec", "id", maxDriverFitBytes = budget))
      assert(all.keySet == (0L until 60L).toSet && sub.keySet == (0L until 10L).toSet, s"budget $budget")
      for (out <- Seq(all, sub)) {
        assert(out(7L).forall(_ == null), s"budget $budget: ${out(7L)}")
        assert((out - 7L).values.forall(_.forall(_ != null)), s"budget $budget")
      }
    }
  }

  test("Pq.fit over budget samples by content: the same codebooks from any partitioning") {
    val frame  = (0L until 400L).map(i => (i, Array.tabulate(16)(j => math.sin(i * 16 + j)))).toDF("id", "vec")
    val budget = 100L * 16 * 8 // 100 of the 400 rows
    val a = Pq.fit(frame, "vec", m = 4, ksub = 8, maxDriverFitBytes = budget)
    val b = Pq.fit(frame.repartition(7), "vec", m = 4, ksub = 8, maxDriverFitBytes = budget)
    assert(a.flat.toSeq == b.flat.toSeq, "the fit sample depends on the partitioning")
  }

  test("Pq.fit over budget ships about one budget of rows to the driver, however small the partitions") {
    // 2 000 rows in 250 partitions of 8, a 100-row budget. The sample's
    // ordered limit collects each partition's top rows, so with partitions
    // smaller than the budget every row that passes the hash filter before
    // it reaches the driver: the filter's output is what is shipped.
    val frame = spark.sparkContext.parallelize((0L until 2000L)
      .map(i => (i, Array.tabulate(16)(j => math.sin(i * 16 + j)))), 250).toDF("id", "vec")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { Pq.fit(frame, "vec", m = 4, ksub = 8, maxDriverFitBytes = 100L * 16 * 8); Thread.sleep(500) }
    finally spark.listenerManager.unregister(l)
    val shipped = plans.asScala.toSeq.flatMap(_.collect { case t: TakeOrderedAndProjectExec =>
      t.collect { case f: FilterExec => f.metrics("numOutputRows").value }.sum
    })
    assert(shipped.length == 1, s"one ordered-limit sample: $shipped")
    assert(shipped.head > 0 && shipped.head <= 200, s"${shipped.head} of 2 000 rows shipped for a 100-row budget")
  }

  test("operators/Ml.scala runs collect() and count() only inside its samplers") {
    def read(file: String) = new String(Files.readAllBytes(Paths.get(s"src/main/scala/graft/operators/$file")), "UTF-8")
    // the span of `def name`'s body in src, from its "= {" to the matching brace
    def body(src: String, name: String): Range = {
      val at = src.indexOf(s"def $name(")
      assert(at >= 0, s"no def $name")
      val open = src.indexOf("= {", at) + 2
      var depth = 0; var i = open
      while ({ if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1; i += 1; depth > 0 }) ()
      open until i
    }
    def calls(src: String) = Seq(".collect()", ".count()").flatMap { m =>
      Iterator.iterate(src.indexOf(m))(i => src.indexOf(m, i + 1)).takeWhile(_ >= 0)
    }
    val ml       = read("Ml.scala")
    val samplers = Seq("driverRows", "cappedRows", "hashSample").map(body(ml, _))
    val outside  = calls(ml).filterNot(i => samplers.exists(_.contains(i))).map(i => ml.take(i).count(_ == '\n') + 1)
    assert(calls(ml).nonEmpty && outside.isEmpty, s"Ml.scala lines reading rows outside the samplers: ${outside.mkString(", ")}")
    // Pq.fit samples through Ml's samplers too, with no read of its own
    val pq = read("Pq.scala")
    val fit = body(pq, "fit")
    assert(!calls(pq).exists(fit.contains), "Pq.fit reads rows outside Ml's samplers")
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

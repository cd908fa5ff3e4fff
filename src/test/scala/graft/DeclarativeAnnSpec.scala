package graft

import graft.operators.{Embedder, Hnsw, Ivf, Pq, Search}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The declarative-ANN rule under the shipped registration
  * (`spark.sql.extensions=graft.GraftExtensions`, one pre-CBO rule), per
  * family: a substituted query makes one gate decision, planning a
  * declined shape runs its rule-time check once, and a probe width or
  * re-rank pool below 1 fails loudly instead of returning no rows.
  */
class DeclarativeAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A session built with the extensions, on the shared test context. */
  private lazy val ext: SparkSession = {
    val base = spark
    val s = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    // create() makes the new session active and default; the suites share
    // the test session
    SparkSession.setActiveSession(base)
    SparkSession.setDefaultSession(base)
    s
  }

  private lazy val rows: Seq[(Long, Seq[Double])] =
    (0L until 300L).map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 7}").map(_.toDouble).toSeq))

  private val qVec: Seq[Double] = Embedder.default.embed("topic 3 probe").map(_.toDouble).toSeq

  private def corpus(s: SparkSession): DataFrame = s.createDataFrame(rows).toDF("id", "vec")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/store"

  /** An IVF store (with a `cat` payload column), read through `ext`. */
  private lazy val ivfStore: DataFrame = {
    val dir = tmp("dann-ivf")
    val (assigned, model) = Ivf.assign(corpus(spark).withColumn("cat", pmod(col("id"), lit(3))), "vec", 6)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    ext.read.parquet(dir)
  }

  private lazy val hnswStore: DataFrame = {
    val dir = tmp("dann-hnsw")
    Hnsw.writeIndex(corpus(spark), "vec", "id", dir, nShards = 3)
    Hnsw.readIndex(ext, dir)
  }

  private lazy val queries: DataFrame = ext.createDataFrame(
    (0L until 6L).map(q => (q, Embedder.default.embed(s"probe topic $q").map(_.toDouble).toSeq)))
    .toDF("qid", "qvec")

  /** A plain (non-union) metadata table keyed by `mid`, with one key twice. */
  private lazy val dupMeta: DataFrame =
    ext.createDataFrame((0L until 300L).map(i => (i, i % 2)) :+ ((0L, 1L))).toDF("mid", "par")

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => ext.conf.set(k, v) }
    try body
    finally kvs.foreach { case (k, _) => ext.conf.unset(k) }
  }

  /** The optimized plan's text and the gate decisions planning it made. */
  private def planned(df: DataFrame): (String, Long) = {
    val before = Search.gateDecisions.get()
    val plan   = df.queryExecution.optimizedPlan.toString
    (plan, Search.gateDecisions.get() - before)
  }

  /** The optimized plan's text and the Spark jobs planning it ran. */
  private def plannedJobs(df: DataFrame): (String, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val plan = df.queryExecution.optimizedPlan.toString
      Thread.sleep(500) // the listener bus is async; let every submitted job surface
      (plan, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The declarative batch shape: per-query top-k over queries × `store`,
    * optionally joined on `on` (the per-query filter spelling).
    */
  private def window(qs: DataFrame, store: DataFrame, k: Int, on: Column = null): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
    (if (on == null) qs.crossJoin(store) else qs.join(store, on))
      .withColumn("score", graft.functions.VectorExpressions.cosineFast(
        col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "score", "rank")
  }

  test("under GraftExtensions a substituted query makes ONE gate decision, per family") {
    withConf("spark.graft.hnsw.autoProbe" -> "true") {
      // broad predicate: the flag-aware beam replaces the scoring scan
      val (plan, d) = planned(Search.topK(hnswStore, "vec", "id", qVec, 5,
        filters = Seq(col("id") % 2 === 0)).select("id", "score"))
      assert(!plan.contains("cosine_similarity") && plan.contains("MapPartitions"), plan.take(1500))
      assert(d == 1, s"filtered HNSW top-k: expected 1 gate decision, got $d")
    }
    val pqDir = tmp("dann-pq")
    Pq.writeStore(corpus(spark), "vec", "id", pqDir, nList = 6, m = 8, ksub = 16)
    withConf("spark.graft.pq.autoProbe" -> "true", "spark.graft.pq.nProbe" -> "2") {
      val (_, floats, _, _) = Pq.readStore(ext, pqDir)
      val meta = ext.createDataFrame((0L until 300L).map(i => (i, i % 2))).toDF("mid", "par")
      val (plan, d) = planned(Search.topK(floats.join(meta, col("id") === col("mid")),
        "vec", "id", qVec, 5, filters = Seq(col("par") === 0)).select("id", "score"))
      assert(plan.contains("pq_codes"), plan.take(1500))
      assert(d == 1, s"hydrated PQ top-k: expected 1 gate decision, got $d")
    }
    withConf("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      val (plan, d) = planned(window(queries, ivfStore.where(col("id") % 2 === 0), 5))
      assert(!plan.contains("Window"), plan.take(1500))
      assert(d == 1, s"filtered IVF batch window: expected 1 gate decision, got $d")
    }
  }

  test("under GraftExtensions planning a declined shape runs its rule-time check once") {
    withConf("spark.graft.hnsw.autoProbe" -> "true") {
      // the key-uniqueness aggregate is 3 jobs
      val (plan, jobs) = plannedJobs(Search.topK(hnswStore.join(dupMeta, col("id") === col("mid")),
        "vec", "id", qVec, 5).select("id", "score"))
      assert(plan.contains("cosine_similarity"), "a dup-keyed metadata table must refuse")
      assert(jobs == 3, s"dup-keyed hydrated HNSW top-k: expected 3 planning jobs, got $jobs")
    }
    withConf("spark.graft.ivf.autoProbe" -> "true", "spark.graft.knnJoin.maxPredGroups" -> "2") {
      // the bounded group enumeration is 2 jobs; 3 key groups > cap 2
      val (plan, jobs) = plannedJobs(window(queries.withColumn("want", pmod(col("qid"), lit(3))),
        ivfStore, 3, on = col("cat") === col("want")))
      assert(plan.contains("Window"), "key groups beyond maxPredGroups must refuse")
      assert(jobs == 2, s"per-query window over the cap: expected 2 planning jobs, got $jobs")
    }
    withConf("spark.graft.ivf.autoProbe" -> "true") {
      val (plan, jobs) = plannedJobs(window(queries, ivfStore.join(dupMeta, col("id") === col("mid")), 3))
      assert(plan.contains("Window"), "a dup-keyed metadata table must refuse")
      assert(jobs == 3, s"dup-keyed hydrated batch window: expected 3 planning jobs, got $jobs")
    }
  }

  test("a probe width or re-rank pool below 1 fails naming its key, never returns no rows") {
    for (bad <- Seq("0", "-3")) withConf("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> bad) {
      val e = intercept[IllegalArgumentException](
        Search.topK(ivfStore, "vec", "id", qVec, 5).collect())
      assert(e.getMessage.contains("spark.graft.ivf.nProbe"), e.getMessage)
    }
    val pqDir = tmp("dann-pq-bad")
    Pq.writeStore(corpus(spark), "vec", "id", pqDir, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(ext, pqDir)
    withConf("spark.graft.pq.autoProbe" -> "true", "spark.graft.pq.refine" -> "0") {
      val e = intercept[IllegalArgumentException](
        Search.topK(floats, "vec", "id", qVec, 5).select("id", "score").collect())
      assert(e.getMessage.contains("spark.graft.pq.refine"), e.getMessage)
    }
    // the explicit calls reject the same widths at their entry
    val (indexed, model) = Ivf.indexFor(corpus(spark), "vec", 6, cacheKey = "dann-bad")
    intercept[IllegalArgumentException](Ivf.search(indexed, model, "vec", "id", qVec, 5, nProbe = 0))
    intercept[IllegalArgumentException](Ivf.knnJoin(indexed, model,
      corpus(spark).select(col("id").as("qid"), col("vec").as("qvec")), "qvec", "qid",
      "vec", "id", 5, nProbe = 0))
    intercept[IllegalArgumentException](Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id",
      qVec, 5, nProbe = 2, refine = 0))
    intercept[IllegalArgumentException](Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries,
      "qvec", "qid", "vec", "id", 5, nProbe = 0))
  }
}

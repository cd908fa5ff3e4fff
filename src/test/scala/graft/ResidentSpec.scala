package graft

import graft.operators.{Embedder, Ivf, Joins, Search, Store}
import graft.plans.Resident
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-job search over driver-resident IVF stores, under the shipped
  * registration (`GraftExtensions`) with `spark.graft.ivf.autoProbe`: a
  * top-k and its hydration answered from the store's resident copy equal
  * the scan path's answers, decide the same gate, run no Spark job when
  * warm, and never serve a version or a handle the copy was not read from.
  */
class ResidentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val ext: SparkSession = {
    val base = spark
    val s = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    // create() makes the new session active and default; the suites share
    // the test session
    SparkSession.setActiveSession(base)
    SparkSession.setDefaultSession(base)
    s.conf.set("spark.graft.ivf.autoProbe", "true")
    s
  }

  private val emb = Embedder.default
  private val Langs = Seq("en", "en", "zh", "es", "de", "fr")

  /** kbbench's row shape at 64-d: chunk 0 has a zero vector (it scores
    * NaN) and chunk 1 a null category. */
  private def rows(n: Int): Seq[(Long, Long, String, String, String, Seq[Float])] =
    (0 until n).map { i =>
      val text = s"doc $i topic ${i % 9} words ${i % 13}"
      val vec  = if (i == 0) Seq.fill(emb.dim)(0f) else emb.embed(text).toSeq
      (i.toLong, (i / 2).toLong, if (i == 1) null else s"c${i % 20}", Langs(i % Langs.length), text, vec)
    }

  private def write(dir: String, n: Int = 400, nList: Int = 20): String = {
    import spark.implicits._
    val df = rows(n).toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    val (assigned, model) = Ivf.assign(df, "embedding", nList)
    Ivf.writeIndexed(assigned, dir, model, "embedding")
    dir
  }

  private def tmp(name: String): String = java.nio.file.Files.createTempDirectory(name).toString + "/store"

  private val qv: Seq[Double] = emb.embed("topic 3 words 5").map(_.toDouble).toSeq

  private def vecs(h: DataFrame): DataFrame = h.select("chunk_id", "document_id", "category", "lang", "embedding")

  private def payload(h: DataFrame): DataFrame = h.select("chunk_id", "document_id", "category", "lang", "text")

  /** One kbbench request: declarative top-k, then hydration of its hits. */
  private def request(h: DataFrame, filters: Seq[Column], k: Int = 10): (Seq[(Long, Double)], Seq[Row]) = {
    val ranked = Search.topK(vecs(h), "embedding", "chunk_id", qv, k, filters).select("chunk_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val hyd = Search.formatHits(Joins.hydrate(ext.createDataFrame(ranked).toDF("chunk_id", "score"), payload(h),
      "chunk_id"), "chunk_id", Seq("document_id", "category", "lang", "text")).collect().toSeq
    (ranked, hyd)
  }

  private def withBudget[T](b: Long)(body: => T): T = {
    Resident.budget = b
    try body finally Resident.budget = Resident.Budget
  }

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

  private def decisions[T](body: => T): (T, Long) = {
    val before = Search.gateDecisions.get()
    val out    = body
    (out, Search.gateDecisions.get() - before)
  }

  private def isResident(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => true
    case _                => false
  }

  private val kinds: Seq[(String, Seq[Column])] = Seq(
    "none"     -> Nil,
    "category" -> Seq(col("category") === "c3"),
    "lang"     -> Seq(col("lang") === "en"),
    "document" -> Seq(col("document_id") === 7L),
    "nothing"  -> Seq(col("category") === "no-such-category"),
  )

  test("every predicate kind: the resident answer is the scan path's, with its gate decision and lists") {
    val dir = write(tmp("resident-eq"))
    final case class Answer(resident: Boolean, decided: Long, lists: Set[Int], top: Seq[(Long, Double)],
        all: Seq[(Long, Int, Double)], hydrated: Map[Row, Int])
    def answers(): Map[String, Answer] = {
      val h = ext.read.parquet(dir)
      kinds.map { case (name, f) =>
        val top = Search.topK(vecs(h), "embedding", "chunk_id", qv, 10, f).select("chunk_id", "score")
        val (resident, decided) = decisions(isResident(top))
        // k past every allowed row of the probed lists: the rows name the
        // lists the gate probed (every list on the exact branch)
        val all = Search.topK(h, "embedding", "chunk_id", qv, 1000, f).select("chunk_id", "list_id", "score")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
        val (ranked, hyd) = request(h, f)
        assert(top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == ranked)
        // Spark defines no join order: hydration compares as a multiset
        name -> Answer(resident, decided, all.map(_._2).toSet, ranked, all, hyd.groupMapReduce(identity)(_ => 1)(_ + _))
      }.toMap
    }
    val scan = withBudget(0L)(answers())
    val res  = answers()
    val nList = 20
    for ((name, _) <- kinds) {
      val (s, r) = (scan(name), res(name))
      assert(!s.resident && r.resident, s"$name: scan path resident=${s.resident}, resident path ${r.resident}")
      assert(r.top == s.top, s"$name: top-10 differs")
      assert(r.all == s.all, s"$name: rows of the probed lists differ")
      assert(r.lists == s.lists, s"$name: probed lists differ")
      assert(r.decided == s.decided && r.decided == (if (name == "none") 0L else 1L),
        s"$name: gate decisions scan ${s.decided}, resident ${r.decided}")
      assert(r.hydrated == s.hydrated, s"$name: hydration differs")
    }
    // the fixtures exercise what they name
    assert(res("document").top.size == 2, "k past the allowed rows")
    assert(res("lang").lists.size < nList && res("none").lists.size < nList, "the probe branch")
    assert(res("nothing").top.isEmpty && res("nothing").decided == 1L)
    assert(!res("none").all.exists(_._1 == 0L), "a zero-norm vector scores NaN and never surfaces")
    val exact = Search.topK(vecs(spark.read.parquet(dir)), "embedding", "chunk_id", qv, 1000,
      Seq(col("document_id") === 7L)).select("chunk_id").collect().map(_.getLong(0)).toSeq
    assert(res("document").all.map(_._1) == exact, "document_id takes the exact branch")
    // a null payload value hydrates as null on both paths
    val one      = Seq(col("chunk_id") === 1L)
    val scanNull = withBudget(0L)(request(ext.read.parquet(dir), one))
    val resNull  = request(ext.read.parquet(dir), one)
    assert(resNull == scanNull && resNull._2.map(_.isNullAt(3)) == Seq(true))
  }

  test("a warm top-k + hydration request runs no Spark job") {
    val dir = write(tmp("resident-zero"))
    val h   = ext.read.parquet(dir)
    request(h, Seq(col("category") === "c3"))
    for ((name, f) <- kinds) {
      val (_, n) = jobs(request(h, f))
      assert(n == 0, s"$name: a warm resident request ran $n jobs")
    }
  }

  test("after applyDelta a reopened handle is answered at the new version: one build job, then none") {
    import spark.implicits._
    val dir = write(tmp("resident-fresh"))
    val old = ext.read.parquet(dir)
    request(old, Nil)
    val planted = Seq((9999L, 9999L, "c3", "en", "planted", qv.map(_.toFloat)))
      .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), planted, "chunk_id")
    val fresh = ext.read.parquet(dir)
    val ((top, hyd), built) = jobs(request(fresh, Nil))
    assert(built == 1, s"the first request after the commit: expected 1 build job, got $built")
    assert(top.head._1 == 9999L && hyd.exists(_.getLong(0) == 9999L), "the committed row is visible")
    val (_, warm) = jobs(request(fresh, Nil))
    assert(warm == 0, s"the next request: expected no job, got $warm")
    // a handle opened before the commit keeps its file scan
    val stale = Search.topK(vecs(old), "embedding", "chunk_id", qv, 10).select("chunk_id", "score")
    assert(!isResident(stale))
    assert(stale.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.nonEmpty)
  }

  test("a store over the budget keeps today's plan") {
    val dir = write(tmp("resident-over"))
    val h   = ext.read.parquet(dir)
    withBudget(1024L) {
      val top = Search.topK(vecs(h), "embedding", "chunk_id", qv, 10).select("chunk_id", "score")
      assert(!isResident(top))
      assert("list_id#?\\d* IN ".r.findFirstIn(top.queryExecution.optimizedPlan.toString).nonEmpty,
        "the injected probe still prunes")
      val (_, n) = jobs(request(h, Nil))
      assert(n >= 2, s"an over-budget request runs its scan jobs, got $n")
    }
  }

  test("two clients planning at once build the copy once") {
    val dir   = write(tmp("resident-flight"))
    val hs    = Seq(ext.read.parquet(dir), ext.read.parquet(dir))
    val start = new java.util.concurrent.CountDownLatch(1)
    val (plans, n) = jobs {
      val ts = hs.map { h =>
        val out = new java.util.concurrent.atomic.AtomicReference[Boolean]()
        val t = new Thread(() => {
          start.await()
          out.set(isResident(Search.topK(vecs(h), "embedding", "chunk_id", qv, 10).select("chunk_id", "score")))
        })
        t.start()
        (t, out)
      }
      start.countDown()
      ts.map { case (t, out) => t.join(); out.get() }
    }
    assert(plans == Seq(true, true))
    assert(n == 1, s"two concurrent plans: expected 1 build job, got $n")
  }

  test("streamInto: each micro-batch bumps the version token; a reopened top-k returns a streamed row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("resident-stream").toString
    val dir  = s"$base/store"
    val seed = rows(200).filter(_._1 > 0).map(r => (r._1, r._6.map(_.toDouble)))
    val (_, model) = Ivf.assign(seed.toDF("chunk_id", "embedding"), "embedding", 6)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Ivf.streamInto(mem.toDF().toDF("chunk_id", "embedding"), model, "embedding", dir, s"$base/ckpt",
      availableNow = false)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      mem.addData(seed: _*)
      q.processAllAvailable()
      val t1 = Store.token(conf, dir)
      def top(): Seq[Long] = Search.topK(ext.read.parquet(dir), "embedding", "chunk_id", qv, 3)
        .select("chunk_id").collect().map(_.getLong(0)).toSeq
      assert(!top().contains(9999L))
      mem.addData((9999L, qv))
      q.processAllAvailable()
      val t2 = Store.token(conf, dir)
      assert(t1.isDefined && t2.isDefined && t1 != t2, s"a micro-batch must bump the token: $t1 -> $t2")
      val reopened = ext.read.parquet(dir)
      val plan = Search.topK(reopened, "embedding", "chunk_id", qv, 3).select("chunk_id")
      assert(isResident(plan))
      assert(top().head == 9999L, "the streamed row is served")
    } finally q.stop()
  }
}

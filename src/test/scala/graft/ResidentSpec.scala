package graft

import graft.operators.{Embedder, Ivf, Joins, Search, Store}
import graft.plans.Resident
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** The stages `body` completed, in completion order. */
  private def stages[T](body: => T): (T, Seq[StageInfo]) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = done.add(e.stageInfo)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Thread.sleep(500)
      (out, done.toArray(new Array[StageInfo](0)).toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Data files per `list_id=` directory of the store at `dir`. */
  private def layout(dir: String): Map[Int, Int] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("list_id=")).map { d =>
      d.getName.stripPrefix("list_id=").toInt -> d.listFiles().count(f => !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    }.toMap

  private def copyStore(from: String, to: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src  = new org.apache.hadoop.fs.Path(from)
    val fs   = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    to
  }

  private def relOf(df: DataFrame): LogicalRelation =
    org.apache.spark.sql.GraftBridge.analyzed(df).asInstanceOf[LogicalRelation]

  /** A row's values by the relation's schema (strings and float arrays as
    * Scala values), for comparing copies with scans. */
  private def plain(r: InternalRow, schema: StructType): Seq[Any] = schema.fields.indices.map { i =>
    if (r.isNullAt(i)) null
    else schema(i).dataType match {
      case ArrayType(FloatType, _) => r.getArray(i).toFloatArray.toSeq
      case dt                      => r.get(i, dt) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case x                                            => x
      }
    }
  }

  /** list_id → the list's rows, sorted by chunk_id. */
  private def perList(rows: Iterable[InternalRow], schema: StructType): Map[Int, Seq[Seq[Any]]] = {
    val (li, ci) = (schema.fieldIndex("list_id"), schema.fieldIndex("chunk_id"))
    rows.map(plain(_, schema)).groupBy(_(li).asInstanceOf[Int])
      .view.mapValues(_.toSeq.sortBy(_(ci).asInstanceOf[Long])).toMap
  }

  /** The store's rows as a scan reads them, by chunk_id. */
  private def stored(dir: String): Seq[Row] =
    spark.read.parquet(dir).orderBy("chunk_id").collect().toSeq

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

  private def isHeld(df: DataFrame): Boolean = org.apache.spark.sql.GraftBridge.analyzed(df) match {
    case _: Resident.Held => true
    case _                => false
  }

  /** The ranked (id, score) rows of a top-k frame. */
  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.select("chunk_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("construction time: a held store answers Search.topK as one leaf, bit-identical to the scan path, with one gate decision and no job") {
    val dir = write(tmp("resident-built"))
    for (k <- Seq(10, 1000)) {
      val scan = withBudget(0L)(kinds.map { case (name, f) =>
        name -> ranked(Search.topK(vecs(ext.read.parquet(dir)), "embedding", "chunk_id", qv, k, f))
      }.toMap)
      val h = ext.read.parquet(dir)
      request(h, Nil)
      for ((name, f) <- kinds) {
        val (((held, top), decided), n) = jobs(decisions {
          val df = Search.topK(vecs(h), "embedding", "chunk_id", qv, k, f)
          (df, ranked(df))
        })
        assert(isHeld(held), s"$name: the built frame is not one held answer: ${org.apache.spark.sql.GraftBridge.analyzed(held)}")
        assert(held.columns.toSeq == vecs(h).columns.toSeq :+ "score", s"$name: ${held.columns.toSeq}")
        assert(isResident(held))
        assert(top == scan(name), s"$name k=$k: ${top.take(3)} vs ${scan(name).take(3)}")
        assert(decided == (if (name == "none") 0L else 1L), s"$name: $decided gate decisions")
        assert(n == 0, s"$name: $n jobs")
        assert(!top.exists(_._1 == 0L), s"$name: the zero-norm row surfaced")
      }
    }
  }

  test("construction time: what it cannot answer exactly falls back, and what the rule does not serve stays as it was") {
    val dir = write(tmp("resident-declined"))
    val h   = ext.read.parquet(dir)
    request(h, Nil)
    def exact(f: Seq[Column]): Seq[(Long, Double)] =
      ranked(Search.topK(vecs(spark.read.parquet(dir)), "embedding", "chunk_id", qv, 10, f))
    // a filter the driver does not evaluate (a scalar subquery) keeps the
    // rule's injected scan
    def subTop(hd: DataFrame): DataFrame = Search.topK(vecs(hd), "embedding", "chunk_id", qv, 10,
      Seq(col("document_id") >= ext.range(1).select(min(col("id"))).scalar()))
    val declined = subTop(h)
    assert(!isHeld(declined) && !isResident(declined))
    assert(ranked(declined) == withBudget(0L)(ranked(subTop(ext.read.parquet(dir)))))
    // autoProbe off: exact brute force, with the copy still held
    ext.conf.set("spark.graft.ivf.autoProbe", "false")
    try {
      val off = Search.topK(vecs(h), "embedding", "chunk_id", qv, 10, Seq(col("lang") === "en"))
      assert(!isHeld(off) && "list_id#?\\d* IN ".r.findFirstIn(off.queryExecution.optimizedPlan.toString).isEmpty)
      assert(ranked(off) == exact(Seq(col("lang") === "en")))
    } finally ext.conf.set("spark.graft.ivf.autoProbe", "true")
    // autoProbe on in a session that does not run the rule: exact too
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    try {
      val plain = Search.topK(vecs(spark.read.parquet(dir)), "embedding", "chunk_id", qv, 10)
      assert(!isHeld(plain) && ranked(plain) == exact(Nil))
    } finally spark.conf.unset("spark.graft.ivf.autoProbe")
    // a handle opened before a commit is not answered from the new copy
    import spark.implicits._
    val planted = Seq((9999L, 9999L, "c3", "en", "planted", qv.map(_.toFloat)))
      .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), planted, "chunk_id")
    assert(isHeld(Search.topK(vecs(ext.read.parquet(dir)), "embedding", "chunk_id", qv, 10)), "the commit installed a copy")
    assert(!isHeld(Search.topK(vecs(h), "embedding", "chunk_id", qv, 10)))
  }

  test("construction time: tied scores keep id order") {
    import spark.implicits._
    val base = rows(120)
    // five copies of row 5's vector, written in descending id order
    val twins = (1004L to 1000L by -1L).map(i => base(5).copy(_1 = i, _5 = s"twin $i"))
    val df = (base ++ twins).toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    val (assigned, model) = Ivf.assign(df, "embedding", 6)
    val dir = tmp("resident-ties")
    Ivf.writeIndexed(assigned, dir, model, "embedding")
    val q   = base(5)._6.map(_.toDouble)
    def top(h: DataFrame): Seq[(Long, Double)] = ranked(Search.topK(vecs(h), "embedding", "chunk_id", q, 8))
    val scan = withBudget(0L)(top(ext.read.parquet(dir)))
    val h    = ext.read.parquet(dir)
    top(h)
    assert(isHeld(Search.topK(vecs(h), "embedding", "chunk_id", q, 8)))
    val res = top(h)
    assert(res == scan)
    assert(res.take(6).map(_._1) == Seq(5L, 1000L, 1001L, 1002L, 1003L, 1004L), res.toString)
    assert(res.take(6).map(_._2).distinct.size == 1)
  }

  test("hydration: the resident lookup is the join, in its column order, for absent, duplicate and null hit ids and a filtered payload") {
    import spark.implicits._
    val dir = write(tmp("resident-hydrate"))
    // 5000 is no stored id, 7 comes twice, one id is null
    def hits(s: SparkSession): DataFrame = s.createDataFrame(Seq[(Option[Long], Double)]((Some(3L), 0.9),
      (Some(5000L), 0.8), (Some(7L), 0.7), (Some(7L), 0.7), (None, 0.6), (Some(1L), 0.5), (Some(12L), 0.4)))
      .toDF("chunk_id", "score")
    def payloads(h: DataFrame): Seq[(String, DataFrame)] = Seq(
      "plain"    -> payload(h),
      "filtered" -> payload(h).where(col("lang") =!= "zh" && col("chunk_id") =!= 12L))
    def answers(): Map[String, (StructType, Map[Row, Int], Boolean)] = {
      val h = ext.read.parquet(dir)
      payloads(h).map { case (name, p) =>
        val ((df, out), n) = jobs {
          val d = Joins.hydrate(hits(ext), p, "chunk_id")
          (d, d.collect().toSeq)
        }
        val local = !org.apache.spark.sql.GraftBridge.analyzed(df).exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])
        name -> (df.schema, out.groupMapReduce(identity)(_ => 1)(_ + _), local && n == 0)
      }.toMap
    }
    val scan = withBudget(0L)(answers())
    request(ext.read.parquet(dir), Nil)
    val res = answers()
    for (name <- Seq("plain", "filtered")) {
      assert(!scan(name)._3 && res(name)._3, s"$name: answered on the driver: scan ${scan(name)._3}, resident ${res(name)._3}")
      assert(res(name)._1 == scan(name)._1, s"$name: ${res(name)._1} vs ${scan(name)._1}")
      assert(res(name)._2 == scan(name)._2, s"$name: ${res(name)._2} vs ${scan(name)._2}")
    }
    assert(res("plain")._1.fieldNames.toSeq == Seq("chunk_id", "score", "document_id", "category", "lang", "text"))
    assert(res("plain")._2.values.sum == 5 && res("plain")._2.keys.count(_.getLong(0) == 7L) == 1 &&
      res("plain")._2.values.max == 2, "7 twice, 5000 and the null id dropped")
    assert(res("filtered")._2.keys.forall(r => r.getLong(0) != 12L && r.getString(4) != "zh"))
  }

  test("hydration: a string-keyed store") {
    import spark.implicits._
    val df = rows(200).map(r => (s"s${r._1}", r._4, r._5, r._6)).toDF("sid", "lang", "text", "embedding")
    val (assigned, model) = Ivf.assign(df, "embedding", 8)
    val dir = tmp("resident-string")
    Ivf.writeIndexed(assigned, dir, model, "embedding")
    def hydrated(): (StructType, Map[Row, Int], Boolean) = {
      val h    = ext.read.parquet(dir)
      val hits = ext.createDataFrame(Seq(("s4", 0.9), ("s9", 0.8), ("nope", 0.7), ("s4", 0.6))).toDF("sid", "score")
      val out  = Joins.hydrate(hits, h.select("sid", "lang", "text"), "sid")
      (out.schema, out.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _), isResident(out))
    }
    val scan = withBudget(0L)(hydrated())
    Search.topK(ext.read.parquet(dir).select("sid", "embedding"), "embedding", "sid", qv, 3).collect()
    val res = hydrated()
    assert(!scan._3 && res._3)
    assert(res._1 == scan._1 && res._2 == scan._2, s"$res vs $scan")
    assert(res._2.values.sum == 3)
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

  test("after applyDelta a reopened handle is answered at the new version with no build job") {
    import spark.implicits._
    val dir = write(tmp("resident-fresh"))
    val old = ext.read.parquet(dir)
    request(old, Nil)
    val planted = Seq((9999L, 9999L, "c3", "en", "planted", qv.map(_.toFloat)))
      .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), planted, "chunk_id")
    val fresh = ext.read.parquet(dir)
    // the commit installed the next version's copy: nothing to build
    val ((top, hyd), first) = jobs(request(fresh, Nil))
    assert(first == 0, s"the first request after the commit: expected no job, got $first")
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
    val token = Store.token(spark.sparkContext.hadoopConfiguration, dir).get
    val start = new java.util.concurrent.CountDownLatch(1)
    // each client loads the copy as the rule does when it plans, then plans
    val (out, n) = jobs {
      val ts = hs.map { h =>
        val out = new java.util.concurrent.atomic.AtomicReference[(Option[Resident.Copy], Boolean)]()
        val t = new Thread(() => {
          start.await()
          val copy = Resident.load(ext, relOf(h), token)
          out.set((copy, isResident(Search.topK(vecs(h), "embedding", "chunk_id", qv, 10).select("chunk_id", "score"))))
        })
        t.start()
        (t, out)
      }
      start.countDown()
      ts.map { case (t, out) => t.join(); out.get() }
    }
    val Seq((c1, r1), (c2, r2)) = out
    assert(r1 && r2, "both plans are answered from the copy")
    assert(c1.isDefined && c2.exists(_ eq c1.get), "two concurrent loads: the second waits for the first's build")
    assert(n == 0, s"two concurrent plans: a driver build runs no job, got $n")
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

  test("one delta, both paths: the resident upsert commits what the scan path commits and holds a fresh build") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val src  = rows(400)
    val (assigned, model) = Ivf.assign(src.toDF("chunk_id", "document_id", "category", "lang", "text", "embedding"),
      "embedding", 20)
    val listOf = assigned.select("chunk_id", "list_id").as[(Long, Int)].collect().toMap
    // ids 0 (a zero vector) and 1 (a null category) stay out of the delta
    val sizes  = listOf.groupBy(_._2).view.mapValues(_.keys.toSeq.filter(_ > 1).sorted).toMap
    val Seq(fresh, emptied, from, to) = sizes.toSeq.filter(_._2.size >= 2).sortBy(l => (l._2.size, l._1))
      .map(_._1).take(4)
    // `fresh` has no directory before the delta; the delta adds a row to it
    val dir  = tmp("resident-both")
    Ivf.writeIndexed(assigned.where(col("list_id") =!= fresh), dir, model, "embedding")
    val twin = copyStore(dir, tmp("resident-both-scan"))
    val byId  = src.map(r => r._1 -> r).toMap
    val moved   = sizes(from).head
    val dropped = listOf.collect { case (id, l) if l == emptied => id }.toSeq ++ sizes(to).take(2)
    val added = Seq(
      // re-uploaded with a vector of `to`: vacates `from`, lands in `to`
      byId(moved).copy(_5 = "moved", _6 = byId(sizes(to).last)._6),
      (5000L, 5000L, "c1", "en", "new", byId(sizes(fresh).last)._6),
    ).toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    val removal = dropped.toDF("chunk_id")
    val old     = ext.read.parquet(dir)
    request(old, Nil)
    // the scan path first: a zero budget evicts every held copy
    val nScan = withBudget(0L)(Ivf.applyDelta(spark, twin, removal, added, "chunk_id"))
    val n     = Ivf.applyDelta(spark, dir, removal, added, "chunk_id")
    assert(n == nScan && n == 4, s"lists touched: resident $n, scan $nScan")
    // the files on disk: the same lists, one data file each, the same rows
    assert(layout(dir) == layout(twin) && layout(dir).values.forall(_ == 1), s"${layout(dir)} vs ${layout(twin)}")
    assert(!layout(dir).contains(emptied) && layout(dir).contains(fresh))
    assert(stored(dir) == stored(twin))
    assert(stored(dir).map(_.getAs[Long]("chunk_id")).toSet ==
      listOf.collect { case (id, l) if l != fresh => id }.toSet -- dropped + 5000L)
    // the installed copy serves a new handle (same token, file set and
    // schema) and holds exactly the rows a fresh build reads, per list
    val reopened = ext.read.parquet(dir)
    val rel      = relOf(reopened)
    val held     = Resident.lookup(ext, rel)
    assert(held.isDefined, "the commit installed a copy the reopened handle is served from")
    assert(perList(held.get.rows.toSeq, rel.schema) == perList(Resident.unsafeRows(reopened).toSeq, rel.schema))
    // a handle opened before the commit keeps its file scan
    assert(!isResident(Search.topK(vecs(old), "embedding", "chunk_id", qv, 10).select("chunk_id", "score")))
    // a call that throws installs nothing and commits nothing
    val token = Store.token(conf, dir)
    val dup = Seq(byId(7L), byId(7L)).toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    val ex = intercept[IllegalArgumentException](
      Ivf.applyDelta(spark, dir, Seq.empty[Long].toDF("chunk_id"), dup, "chunk_id"))
    assert(ex.getMessage.contains("duplicate"))
    assert(Store.token(conf, dir) == token)
    assert(Resident.lookup(ext, relOf(ext.read.parquet(dir))).exists(_ eq held.get))
  }

  test("null added ids fail loudly on the resident path, naming the id column") {
    import spark.implicits._
    val dir = write(tmp("resident-null-id"))
    request(ext.read.parquet(dir), Nil)
    val conf   = spark.sparkContext.hadoopConfiguration
    val before = Store.token(conf, dir)
    for (n <- Seq(1, 2)) {
      val added = rows(n + 2).drop(2).map(r => (Option.empty[Long], r._2, r._3, r._4, r._5, r._6))
        .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
      val ex = intercept[IllegalArgumentException](
        Ivf.applyDelta(spark, dir, Seq.empty[Long].toDF("chunk_id"), added, "chunk_id"))
      assert(ex.getMessage.contains("null id") && ex.getMessage.contains("(column chunk_id)"), ex.getMessage)
    }
    assert(Store.token(conf, dir) == before, "a rejected delta commits nothing")
  }

  test("write layout: one file per list, and the write runs min(lists written, shuffle partitions) tasks") {
    import spark.implicits._
    val parallel = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dir = tmp("resident-layout")
    // the last stage a write completes is its write stage
    val (_, built) = stages(write(dir))
    assert(layout(dir).size == 20 && layout(dir).values.forall(_ == 1), layout(dir).toString)
    assert(built.last.numTasks == math.min(20, parallel), s"writeIndexed ran ${built.last.numTasks} write tasks")
    val twin = copyStore(dir, tmp("resident-layout-scan"))
    // three stored rows of three lists, re-added under new ids: 3 lists written
    val three = spark.read.parquet(dir).dropDuplicates("list_id").orderBy("list_id").limit(3)
      .select((col("chunk_id") + 10000L).as("chunk_id"), col("document_id"), col("category"), col("lang"),
        col("text"), col("embedding")).collect().toSeq
    // the stages whose tasks evaluate `added` mark the job that collects it
    val evals = spark.sparkContext.longAccumulator("added rows evaluated")
    val src   = spark.createDataFrame(spark.sparkContext.parallelize(three), three.head.schema)
    val added = src.mapPartitions(it => it.map { r => evals.add(1L); r })(org.apache.spark.sql.Encoders.row(src.schema))
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val collects  = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStages.put(e.jobId, e.stageIds)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo.accumulables.exists(_.id == evals.id)) collects.add(e.stageId)
    }
    // the scan path stages its lists through a Spark write; the resident
    // path from the driver, after the collect of `added`
    for ((d, b) <- Seq(twin -> 0L, dir -> Resident.Budget)) withBudget(b) {
      jobStages.clear(); collects.clear()
      spark.sparkContext.addSparkListener(l)
      val (n, st) = try stages(Ivf.applyDelta(spark, d, Seq.empty[Long].toDF("chunk_id"), added, "chunk_id"))
        finally spark.sparkContext.removeSparkListener(l)
      assert(n == 3L)
      if (b == 0L)
        assert(st.last.numTasks == math.min(3, parallel), s"budget $b: the write ran ${st.last.numTasks} tasks; ${st.map(i => (i.stageId, i.name, i.numTasks))}")
      else {
        val ran     = jobStages.asScala.toMap
        val collect = ran.collect { case (j, ss) if ss.exists(collects.contains) => j }
        assert(collect.size == 1, s"jobs evaluating added: $collect of $ran")
        assert(ran.keys.forall(_ <= collect.head), s"jobs after the collect of added (job ${collect.head}): $ran")
      }
      assert(layout(d).values.forall(_ == 1), s"budget $b: ${layout(d)}")
    }
  }

  test("a scan-path delta on a store past advisory × lists rewrites each touched list as one file") {
    import spark.implicits._
    val dir = write(tmp("layout-pruned"))
    val sizes = new java.io.File(dir).listFiles().filter(_.getName.startsWith("list_id=")).map { d =>
      d.getName.stripPrefix("list_id=").toInt -> d.listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
    }.toMap
    // the store spans two advisory partitions; the touched list, a
    // twentieth of it, stays far under one
    val key  = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    val l    = sizes.maxBy(_._2)._1
    assert(sizes(l) * 4 < sizes.values.sum, s"list $l holds ${sizes(l)} of ${sizes.values.sum} bytes")
    val one = spark.read.parquet(dir).where(col("list_id") === l).limit(1)
      .select(lit(90000L).as("chunk_id"), col("document_id"), col("category"), col("lang"), col("text"),
        col("embedding")).collect().toSeq
    val added = spark.createDataFrame(spark.sparkContext.parallelize(one), one.head.schema)
    spark.conf.set(key, (sizes.values.sum / 2).toString)
    try withBudget(0L) {
      assert(Ivf.applyDelta(spark, dir, Seq.empty[Long].toDF("chunk_id"), added, "chunk_id") == 1L)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(layout(dir)(l) == 1, s"list $l was rewritten as ${layout(dir)(l)} files")
    assert(spark.read.parquet(dir).where(col("chunk_id") === 90000L).select("list_id").as[Int].collect().toSeq == Seq(l))
  }

  test("additions past the room the copy leaves take the scan path: no task ships them, and only the room's worth runs twice") {
    import spark.implicits._
    val dir = write(tmp("resident-bulk"))
    request(ext.read.parquet(dir), Nil)
    val held  = Resident.lookup(ext, relOf(ext.read.parquet(dir))).get
    val small = held.bytes + (16L << 10)
    val evals = spark.sparkContext.longAccumulator("added rows evaluated")
    val src   = rows(4000).drop(2).map(r => r.copy(_1 = r._1 + 50000L))
      .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    val added = src.mapPartitions { it => it.map { r => evals.add(1L); r } }(
      org.apache.spark.sql.Encoders.row(src.schema))
    val shipped = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) shipped.accumulateAndGet(e.taskMetrics.resultSize, math.max)
    }
    withBudget(small) {
      // the store itself fits this budget: its copy is built under it
      request(ext.read.parquet(dir), Nil)
      assert(Resident.lookup(ext, relOf(ext.read.parquet(dir))).isDefined, "the store fits the lowered budget")
      spark.sparkContext.addSparkListener(l)
      try {
        assert(Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), added, "chunk_id") > 0)
        Thread.sleep(500)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    // 3 998 rows of about 400 bytes: collected whole, the largest task
    // result (compressed) would be about 70 KB
    assert(shipped.get < (16L << 10), s"the largest task result shipped ${shipped.get} bytes")
    // the resident attempt stops each task at its share of the 16 KB room
    // (about 10 rows of 400 bytes) before the scan path evaluates `added`
    assert(evals.value >= 3998L && evals.value <= 3998L + 100L, s"added evaluated ${evals.value} rows for 3 998")
    assert(stored(dir).map(_.getAs[Long]("chunk_id")).toSet == (0L until 400L).toSet - 5L ++ (50002L until 54000L))
  }

  test("a commit that installs nothing between the read and the swap keeps the next copy out") {
    import spark.implicits._
    val conf   = spark.sparkContext.hadoopConfiguration
    val dir    = write(tmp("resident-interleaved"))
    val Seq(l1, l2) = spark.read.parquet(dir).select("list_id").distinct().as[Int].collect().sorted.take(2).toSeq
    def rewrite(base: Resident.Base, l: Int): Unit = {
      val token = Store.swapPartitions(conf, dir, "list_id", Seq(l), Seq(dir -> Store.stageFrame(spark.read.parquet(dir)
        .where(col("list_id") === l).select(base.schema.fieldNames.map(col).toIndexedSeq: _*), "list_id")))
      Resident.install(spark, base, token, Map(l -> base.copy.rowsOf(Seq(l)).toArray))
    }
    val stale = Resident.writable(spark, dir).get
    // an append that installs no copy (a `streamInto` micro-batch) lands
    // in list l1, then a commit from the copy read before it rewrites l2
    val one = spark.read.parquet(dir).where(col("list_id") === l1).limit(1).withColumn("chunk_id", lit(7777L))
      .collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(one), one.head.schema)
      .write.mode("append").partitionBy("list_id").parquet(dir)
    Store.bump(conf, dir)
    rewrite(stale, l2)
    assert(Resident.lookup(ext, relOf(ext.read.parquet(dir))).isEmpty, "a copy missing the appended row was installed")
    // the copy built for the next upsert holds the appended row
    val next = Resident.writable(spark, dir).get
    val ci   = next.schema.fieldIndex("chunk_id")
    assert(next.copy.rows.exists(_.getLong(ci) == 7777L), "the rebuilt copy holds the appended row")
    // with no commit in between, the same rewrite installs its copy
    rewrite(next, l2)
    assert(Resident.lookup(ext, relOf(ext.read.parquet(dir))).isDefined, "the next copy is installed")
  }

  /** Every file under the store at `dir` (sidecars included) with its size. */
  private def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_)).map(p => root.relativize(p).toString -> p.toFile.length).toMap
  }

  test("a driver-staged swap that fails before _SUCCESS leaves the store, its token and its copy; the next applyDelta commits") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dir  = write(tmp("resident-crash-staging"))
    request(ext.read.parquet(dir), Nil)
    val held   = Resident.lookup(ext, relOf(ext.read.parquet(dir))).get
    val (token, before) = (Store.token(conf, dir), files(dir))
    val base   = Resident.writable(spark, dir).get
    val lists  = layout(dir).keys.toSeq.sorted.take(3)
    // the last list's rows fail after its first row, while the other lists' files are written
    val failing: Iterable[InternalRow] = new Iterable[InternalRow] {
      def iterator: Iterator[InternalRow] = base.copy.rowsOf(Seq(lists.last)).take(1) ++
        Iterator.single(0).map[InternalRow](_ => throw new java.io.IOException("injected staging failure"))
    }
    val staged = lists.init.map(l => l -> base.copy.rowsOf(Seq(l)).toSeq) :+ (lists.last -> failing)
    val ex = intercept[java.io.IOException](Store.swapPartitions(conf, dir, "list_id", lists,
      Seq(dir -> Store.stageRows(spark, base.schema, "list_id", staged))))
    assert(ex.getMessage.contains("injected"))
    val delta = java.nio.file.Paths.get(dir + ".delta")
    assert(lists.init.forall(l => java.nio.file.Files.exists(delta.resolve(s"list_id=$l"))), "the other lists were staged")
    assert(!java.nio.file.Files.exists(delta.resolve("_SUCCESS")), "a failed stage leaves no commit marker")
    assert(files(dir) == before && Store.token(conf, dir) == token, "the live store and its token are unchanged")
    assert(Resident.lookup(ext, relOf(ext.read.parquet(dir))).exists(_ eq held), "the held copy still serves")
    // the next upsert clears the staging directory and commits
    val one = spark.read.parquet(dir).where(col("list_id") === lists.head).limit(1)
      .select(lit(70000L).as("chunk_id"), col("document_id"), col("category"), col("lang"), col("text"), col("embedding"))
    assert(Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), one, "chunk_id") > 0)
    assert(!java.nio.file.Files.exists(delta), "the next applyDelta cleared .delta")
    assert(Store.token(conf, dir) != token)
    assert(stored(dir).map(_.getAs[Long]("chunk_id")).toSet == (0L until 400L).toSet - 5L + 70000L)
  }

  test("a driver-staged swap that fails after _SUCCESS: recover keeps the live lists, and completes a list the swap had deleted") {
    val conf  = spark.sparkContext.hadoopConfiguration
    val dir   = write(tmp("resident-crash-marked"))
    val token = Store.token(conf, dir)
    val base  = Resident.writable(spark, dir).get
    val Seq(l1, l2) = layout(dir).keys.toSeq.sorted.take(2)
    // the staged lists drop their first row; the stage commits, then the call dies before the swap loop
    val staged = Seq(l1, l2).map(l => l -> base.copy.rowsOf(Seq(l)).drop(1).toSeq)
    def crash(): Unit = intercept[java.io.IOException](Store.swapPartitions(conf, dir, "list_id", Seq(l1, l2),
      Seq(dir -> { d: String =>
        Store.stageRows(spark, base.schema, "list_id", staged)(d)
        throw new java.io.IOException("injected after the stage")
      })))
    val ci = base.schema.fieldIndex("chunk_id")
    def ids(l: Int): Set[Long] = spark.read.parquet(dir).where(col("list_id") === l).select("chunk_id")
      .collect().map(_.getLong(0)).toSet
    val (full1, full2) = (ids(l1), ids(l2))
    crash()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".delta", "_SUCCESS")))
    // every live twin is present: the swap never began, so the live lists win
    Store.recover(conf, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".delta")))
    assert(ids(l1) == full1 && ids(l2) == full2 && Store.token(conf, dir) == token)
    // the swap loop had deleted l1 when the call died: recover swaps in its staged rows
    crash()
    val gone = new org.apache.hadoop.fs.Path(dir, s"list_id=$l1")
    gone.getFileSystem(conf).delete(gone, true)
    Store.recover(conf, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".delta")))
    assert(ids(l1) == staged.head._2.map(_.getLong(ci)).toSet && ids(l1).size == full1.size - 1)
    assert(ids(l2) == full2)
    assert(layout(dir).values.forall(_ == 1), layout(dir).toString)
  }

  test("job budget: an in-budget 50-row applyDelta runs at most 1 Spark job cold and 1 with a held copy") {
    import spark.implicits._
    val dir = write(tmp("resident-jobs"))
    def batch(from: Long): DataFrame = {
      val b = rows(50).map(r => (r._1 + from, r._2 + from, r._3, r._4, r._5, r._6))
        .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding").persist()
      b.count()
      b
    }
    val (b1, b2) = (batch(10000L), batch(20000L))
    // no copy held: the copy is read on the driver, so the collect of
    // `added` is the only job; the lists are staged from the driver
    val (_, cold) = jobs(Ivf.applyDelta(spark, dir, Seq(5L, 6L).toDF("chunk_id"), b1, "chunk_id"))
    val (_, warm) = jobs(Ivf.applyDelta(spark, dir, Seq(7L, 8L).toDF("chunk_id"), b2, "chunk_id"))
    assert(cold <= 1, s"a cold in-budget upsert ran $cold jobs")
    assert(warm <= 1, s"an upsert against the held copy ran $warm jobs")
    b1.unpersist(); b2.unpersist()
  }

  /** A store `streamInto` wrote in three micro-batches (several files per
    * list), with string ids and chunk 1's null category. */
  private def streamed(name: String): String = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory(name).toString
    val src  = rows(180).map(r => (s"id-${r._1}", Option(r._3), r._6))
    val (_, model) = Ivf.assign(src.toDF("chunk_id", "category", "embedding"), "embedding", 6)
    val mem = MemoryStream[(String, Option[String], Seq[Float])]
    val q = Ivf.streamInto(mem.toDF().toDF("chunk_id", "category", "embedding"), model, "embedding", s"$base/store",
      s"$base/ckpt", availableNow = false)
    try src.grouped(60).foreach { b => mem.addData(b: _*); q.processAllAvailable() } finally q.stop()
    s"$base/store"
  }

  /** `body` with `confs` set on both sessions. */
  private def withConf[T](confs: Map[String, String])(body: => T): T = {
    confs.foreach { case (k, v) => spark.conf.set(k, v); ext.conf.set(k, v) }
    try body finally confs.keys.foreach { k => spark.conf.unset(k); ext.conf.unset(k) }
  }

  /** list_id → the list's rows as bytes, in the order given. */
  private def bytesPerList(rows: Iterator[InternalRow], li: Int): Map[Int, Seq[Seq[Byte]]] =
    rows.toSeq.groupBy(_.getInt(li)).view
      .mapValues(_.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getBytes.toSeq)).toMap

  test("driver build: each list holds a scan job's rows, byte for byte and in its order, under the reader's schema") {
    val conf     = spark.sparkContext.hadoopConfiguration
    val stream   = streamed("resident-read-stream")
    assert(layout(stream).values.exists(_ > 1), s"several files in a list: ${layout(stream)}")
    val splitAt2k = Map("spark.sql.files.maxPartitionBytes" -> "2048", "spark.sql.files.openCostInBytes" -> "0")
    for ((name, dir) <- Seq("written" -> write(tmp("resident-read")), "streamed" -> stream);
         confs      <- Seq(Map.empty[String, String], splitAt2k)) withConf(confs) {
      val what    = s"$name ${confs.keys.mkString(",")}"
      val scanned = spark.read.parquet(dir)
      val li      = scanned.schema.fieldIndex("list_id")
      val scan    = bytesPerList(Resident.unsafeRows(scanned).iterator, li)
      val token   = Store.token(conf, dir).get
      // each build reads its own copy of the store: the cache keys on the root
      val fromRel  = Resident.load(ext, relOf(ext.read.parquet(copyStore(dir, tmp("resident-read-rel")))), token)
      val viaPath  = copyStore(dir, tmp("resident-read-path"))
      val fromPath = Resident.writable(spark, viaPath)
      assert(fromRel.exists(c => bytesPerList(c.rows, li) == scan), s"$what: the handle's build")
      assert(fromPath.exists(b => bytesPerList(b.copy.rows, li) == scan), s"$what: the path's build")
      assert(fromPath.get.schema == spark.read.parquet(viaPath).schema, s"$what: ${fromPath.get.schema}")
      assert(Resident.lookup(ext, relOf(ext.read.parquet(viaPath))).exists(_ eq fromPath.get.copy),
        s"$what: a later handle is served from the path's build")
    }
  }

  test("both builds run no Spark job: the rule's, from a handle, and an upsert's, from a path") {
    // 39 lists: the benchmark's store, past the default 32-path limit of
    // listing partition directories on the driver
    for (nList <- Seq(20, 39)) {
      val dir   = write(tmp("resident-nojob"), nList = nList)
      val twin  = copyStore(dir, tmp("resident-nojob-path"))
      val rel   = relOf(ext.read.parquet(dir))
      val token = Store.token(spark.sparkContext.hadoopConfiguration, dir).get
      val (fromRel, n1)  = jobs(Resident.load(ext, rel, token))
      val (fromPath, n2) = jobs(Resident.writable(spark, twin))
      assert(fromRel.isDefined && fromPath.isDefined, s"nList $nList")
      assert(n1 == 0 && n2 == 0, s"nList $nList: build jobs: from a handle $n1, from a path $n2")
    }
  }

  test("after a cold applyDelta a reopened handle is served from the installed copy with no job") {
    import spark.implicits._
    val dir = write(tmp("resident-cold-delta"))
    val planted = Seq((9999L, 9999L, "c3", "en", "planted", qv.map(_.toFloat)))
      .toDF("chunk_id", "document_id", "category", "lang", "text", "embedding")
    Ivf.applyDelta(spark, dir, Seq(5L).toDF("chunk_id"), planted, "chunk_id")
    val fresh = ext.read.parquet(dir)
    assert(isHeld(Search.topK(vecs(fresh), "embedding", "chunk_id", qv, 10)), "the commit's copy serves the reopened handle")
    val ((top, hyd), first) = jobs(request(fresh, Nil))
    assert(first == 0, s"the first request after a cold upsert: expected no job, got $first")
    assert(top.head._1 == 9999L && hyd.exists(_.getLong(0) == 9999L) && !top.exists(_._1 == 5L))
  }

  test("driver list assignment is withListId's at nList <= 32 and > 32: ties take the first centroid, a null vector no list") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def near: Seq[Float] = Seq.fill(3)(rnd.nextFloat() * 4 - 2)
    def far: Seq[Float]  = Seq.fill(3)(rnd.nextFloat() * 4 + 5)
    // the last row has a null element: no list, like a null vector
    val vs  = Seq(Some(Seq(1f, 1f, 0f)), Some(Seq(0f, 1f, 0f)), Some(Seq(0f, 0f, 0f)), None) ++
      Seq.fill(30)(Some(near)) ++ Seq.fill(30)(Some(far))
    val df  = (vs.map(_.map(_.map(Option(_)))) :+ Some(Seq(Some(1f), None, Some(0f)))).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    for (n <- Seq(8, 40)) {
      // c0 and c2 coincide, and (1, 1, 0) and (0, 0, 0) are as far from c0 as from c1
      val model  = Ivf.Model(Array(Array(1d, 0d, 0d), Array(0d, 1d, 0d), Array(1d, 0d, 0d)) ++
        Array.fill(n - 3)(Array.fill(3)(rnd.nextDouble() * 4 + 5)))
      val scan   = Ivf.withListId(df, model, "vec").select("id", "list_id").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val listOf = Ivf.listOf(model, 1, df.schema("vec").dataType)
      val driver = Resident.unsafeRows(df).map(r => r.getLong(0) -> Option(listOf(r))).toMap
      assert(driver == scan, s"nList $n")
      assert(driver(0L).contains(0) && driver(1L).contains(1) && driver(2L).contains(0) && driver(3L).isEmpty &&
        driver(vs.length.toLong).isEmpty, s"nList $n")
      assert(driver.values.flatten.toSet.size > 3, s"nList $n: the far vectors take far lists")
    }
  }

  test("a vector with a null element fails every upsert loudly, at nList <= 32 and > 32, resident or scanned") {
    import spark.implicits._
    val rnd   = new scala.util.Random(11)
    val base  = (0L until 120L).map(i => (i, Seq.fill(4)(rnd.nextDouble() * 4 - 2))).toDF("id", "vec")
    val added = Seq((1000L, Seq(Some(1.0), None, Some(0.0), Some(0.0)))).toDF("id", "vec")
    val none  = Seq.empty[Long].toDF("id")
    val conf  = spark.sparkContext.hadoopConfiguration
    def rejects(what: String, dir: String)(upsert: => Long): Unit = {
      val before = Store.token(conf, dir)
      val ex = intercept[IllegalArgumentException](upsert)
      assert(ex.getMessage.contains("null vector have no partition"), s"$what: ${ex.getMessage}")
      assert(Store.token(conf, dir) == before, s"$what: a rejected delta commits nothing")
    }
    for (nList <- Seq(8, 40); budget <- Seq(Resident.Budget, 0L)) withBudget(budget) {
      val dir = tmp("resident-null-element")
      val (assigned, model) = Ivf.assign(base, "vec", nList)
      Ivf.writeIndexed(assigned, dir, model, "vec")
      if (nList == 8)
        assert(Ivf.withListId(added, model, "vec").select("list_id").head().isNullAt(0), "withListId")
      rejects(s"nList $nList, budget $budget", dir)(Ivf.applyDelta(spark, dir, none, added, "id"))
      assert(spark.read.parquet(dir).count() == 120L, s"nList $nList, budget $budget")
    }
    val pq = tmp("resident-null-element-pq")
    graft.operators.Pq.writeStore(base, "vec", "id", pq, nList = 8, m = 2, ksub = 16)
    rejects("Pq", pq)(graft.operators.Pq.applyDelta(spark, pq, none, added, "vec", "id"))
  }
}

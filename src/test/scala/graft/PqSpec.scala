package graft

import graft.operators.{Embedder, Ivf, Pq, Search, Store}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization contract: the memory point (m bytes/vector), exact
  * agreement between the codegen'd codec and a reference re-computation,
  * recall through the refine step, and the two-store IVF-PQ probe's plan
  * shape (both scans partition-pruned — the 100 TB property).
  */
class PqSpec extends AnyFunSuite with BeforeAndAfterAll {
  // these specs pin the scan path's plans (PartitionFilters, fall-through
  // shapes) on stores small enough to be held on the driver
  override def beforeAll(): Unit = graft.plans.Resident.budget = 0L
  override def afterAll(): Unit  = graft.plans.Resident.budget = graft.plans.Resident.Budget

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus =
    (0L until 400L).map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 7}").map(_.toDouble).toSeq))
      .toDF("id", "vec")

  private val qVec: Seq[Double] = Embedder.default.embed("topic 3 probe").map(_.toDouble).toSeq

  test("PqAutoProbe: declarative cosine top-k over the floats store becomes the ADC probe") {
    val tmp = java.nio.file.Files.createTempDirectory("pq-auto").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(spark, tmp)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.pq.autoProbe", "true")
    spark.conf.set("spark.graft.pq.nProbe", "2")
    try {
      // the user writes plain sort-by-cosine + limit over the FLOAT store —
      // the rewrite must serve candidates from the CODE store (m bytes/vec)
      val auto = Search.topK(floats, "vec", "id", qVec, 5).select("id", "score")
      val plan = TestSpark.formattedPlan(auto)
      assert(plan.contains("pq_codes"), s"candidate stage must read the code store:\n${plan.take(1500)}")
      // BOTH scans stay partition-pruned (the 100 TB property): every
      // PartitionFilters line in the plan carries a list_id IN
      val pfs = plan.linesIterator.filter(_.contains("PartitionFilters: [")).toSeq
      assert(pfs.nonEmpty && pfs.forall(l => l.contains("list_id") && l.contains("IN")),
        s"every scan must prune on list_id: $pfs")
      // values ARE searchIvfPq's at the same (nProbe, refine)
      val viaApi = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, 2)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(auto.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi)

      // FILTERED routing — broad predicate (sel 0.5) rides the widened
      // probe, values exactly the explicit gated call's
      val bpred = col("id") % 2 === 0
      val fAuto = Search.topK(floats, "vec", "id", qVec, 5, Seq(bpred)).select("id", "score")
      val fApi = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, 2,
        filters = Seq(bpred), payload = floats.select("id"), payloadIdCol = "id")
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fAuto.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == fApi)
      assert(fAuto.select("id").as[Long].collect().forall(_ % 2 == 0))
      // selective predicate (sel ~1/70) → the gate's exact branch: float
      // semi-join over the allowed ids, equal to filtered brute force
      val spred = Seq(col("id") % 10 === 0, col("id") % 7 === 0)
      val sAuto = Search.topK(floats, "vec", "id", qVec, 5, spred).select("id", "score")
      assert(sAuto.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val sTruth = Search.topK(floats.where(spred.reduce(_ && _)), "vec", "id", qVec, 5)
        .select("id").as[Long].collect().toSeq
      assert(sAuto.select("id").as[Long].collect().toSeq == sTruth)

      // a consumer reading more than (id, score) keeps the user's plan
      val wide = Search.topK(floats, "vec", "id", qVec, 5).select("id", "vec", "score")
      assert(!TestSpark.formattedPlan(wide).contains("pq_codes"))
      // switched off → untouched
      spark.conf.set("spark.graft.pq.autoProbe", "false")
      assert(!TestSpark.formattedPlan(Search.topK(floats, "vec", "id", qVec, 5)).contains("pq_codes"))
      // IvfAutoProbe yields the floats store to this rule when both are on:
      // with pq.autoProbe re-enabled and BOTH rules registered, the ADC
      // probe wins and the float scan is not the candidate stage
      spark.conf.set("spark.graft.pq.autoProbe", "true")
      spark.conf.set("spark.graft.ivf.autoProbe", "true")
      classic.experimental.extraOptimizations =
        Seq(graft.plans.DeclarativeAnn(spark))
      val both = Search.topK(floats, "vec", "id", qVec, 5).select("id", "score")
      assert(TestSpark.formattedPlan(both).contains("pq_codes"))
      assert(both.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi)
      // MAINTAINED store: the rule's per-store cache (the 768-d tier's
      // catch — uncached, the rule re-listed the code store per query at
      // 3-5x the explicit call) must INVALIDATE on applyDelta, never serve
      // pre-delta codes. Delete the current top hit; the declarative probe
      // over the REOPENED store must not surface it.
      val top1 = viaApi.head._1
      Pq.applyDelta(spark, tmp, Seq(top1).toDF("id"),
        Seq.empty[(Long, Seq[Double])].toDF("id", "vec"), "vec", "id")
      val (_, floatsAfter, _, _) = Pq.readStore(spark, tmp)
      val afterDelta = Search.topK(floatsAfter, "vec", "id", qVec, 5).select("id", "score")
      assert(TestSpark.formattedPlan(afterDelta).contains("pq_codes"),
        "the rule must still fire on the maintained store")
      assert(!afterDelta.select("id").as[Long].collect().contains(top1),
        "stale store cache: the rule served pre-delta codes after applyDelta")
      // a re-query of the maintained store answers the same
      val reloaded = Search.topK(floatsAfter, "vec", "id", qVec, 5).select("id", "score")
      assert(TestSpark.formattedPlan(reloaded).contains("pq_codes"))
      assert(reloaded.select("id").as[Long].collect().toSeq ==
        afterDelta.select("id").as[Long].collect().toSeq)
    } finally {
      spark.conf.unset("spark.graft.pq.autoProbe")
      spark.conf.unset("spark.graft.pq.nProbe")
      spark.conf.unset("spark.graft.ivf.autoProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("PqAutoProbe: hydrated filtered top-k — the floats store has no payload columns BY DESIGN (r16)") {
    // writeStore projects to exactly (id, vec), so metadata predicates on
    // a PQ store can ONLY arrive through a hydration join
    val tmp = java.nio.file.Files.createTempDirectory("pq-hyd").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(spark, tmp)
    val meta = (0L until 300L).map(i => (i, i % 2)).toDF("mid", "par")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.pq.autoProbe", "true")
    spark.conf.set("spark.graft.pq.nProbe", "2")
    try {
      val hyd = Search.topK(floats.join(meta, col("id") === col("mid")), "vec", "id", qVec, 5,
        filters = Seq(col("par") === 0)).select("id", "score")
      val plan = TestSpark.formattedPlan(hyd)
      assert(plan.contains("pq_codes"),
        s"hydrated filter must still serve candidates from the code store:\n${plan.take(1200)}")
      val viaApi = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, 2,
        filters = Seq(col("par") === 0),
        payload = meta.select(col("mid"), col("par")), payloadIdCol = "mid")
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(hyd.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi,
        "hydrated rule must equal the explicit metadata-payload call")
      assert(hyd.select("id").as[Long].collect().forall(_ % 2 == 0))
    } finally {
      spark.conf.unset("spark.graft.pq.autoProbe")
      spark.conf.unset("spark.graft.pq.nProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("PqAutoProbe fires on spark.sql text too (r15 task 6)") {
    // the declarative promise isn't DataFrame-only: a SQL user writing
    // ORDER BY cosine_similarity(...) DESC LIMIT k over the floats view
    // gets the ADC code-store probe — the array literal constant-folds
    // before the rule runs, so the same matcher sees the same shape
    val tmp = java.nio.file.Files.createTempDirectory("pq-sql").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(spark, tmp)
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    floats.createOrReplaceTempView("pq_floats_sql")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.pq.autoProbe", "true")
    spark.conf.set("spark.graft.pq.nProbe", "2")
    spark.conf.set("spark.graft.pq.refine", "4")
    try {
      val qSql = "CAST(" + qVec.mkString("array(", ", ", ")") + " AS ARRAY<DOUBLE>)"
      val probe = spark.sql(
        s"SELECT id, cosine_similarity(CAST(vec AS ARRAY<DOUBLE>), $qSql) AS score " +
          "FROM pq_floats_sql ORDER BY score DESC, id LIMIT 5")
      assert(TestSpark.formattedPlan(probe).contains("pq_codes"),
        "SQL top-k over the floats view must serve candidates from the code store")
      val viaApi = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, 2, 4)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi)
      // filtered SQL rides the same gate as the DataFrame path
      val filtered = spark.sql(
        s"SELECT id, cosine_similarity(CAST(vec AS ARRAY<DOUBLE>), $qSql) AS score " +
          "FROM pq_floats_sql WHERE id % 2 = 0 ORDER BY score DESC, id LIMIT 5")
      assert(TestSpark.formattedPlan(filtered).contains("pq_codes"))
      val viaFilteredApi = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, 2, 4,
        filters = Seq(col("id") % 2 === 0), payload = floats.select("id"), payloadIdCol = "id")
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaFilteredApi)
    } finally {
      spark.conf.unset("spark.graft.pq.autoProbe")
      spark.conf.unset("spark.graft.pq.nProbe")
      spark.conf.unset("spark.graft.pq.refine")
      classic.experimental.extraOptimizations = Nil
      spark.catalog.dropTempView("pq_floats_sql")
    }
  }

  test("version token: frozen mtimes still invalidate the rule cache after applyDelta (r15 task 2)") {
    // the ADVICE-r15 staleness windows made concrete: pin every mtime the
    // legacy token read (both sidecar files + the codes dir) to their
    // pre-delta values — the S3 no-dir-mtime / same-tick cases — and the
    // declarative probe must STILL see the delta, because freshness now
    // rides the monotonic _graft_version the Pq writers stamp.
    val tmp = java.nio.file.Files.createTempDirectory("pq-ver").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Store.version(conf, tmp).contains(1L), "writeStore must stamp version 1")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.pq.autoProbe", "true")
    spark.conf.set("spark.graft.pq.nProbe", "6")
    try {
      val (_, floats, _, _) = Pq.readStore(spark, tmp)
      val before = Search.topK(floats, "vec", "id", qVec, 5).select("id", "score")
      assert(TestSpark.formattedPlan(before).contains("pq_codes"))
      val top1 = before.select("id").as[Long].collect().head
      val mtimeTargets = Seq(
        java.nio.file.Paths.get(tmp, "_pq_codebooks.txt"),
        java.nio.file.Paths.get(tmp, "floats", "_graft_centroids.txt"),
        java.nio.file.Paths.get(tmp, "codes"))
      val pinned = mtimeTargets.map(p => p -> java.nio.file.Files.getLastModifiedTime(p))
      Pq.applyDelta(spark, tmp, Seq(top1).toDF("id"),
        Seq.empty[(Long, Seq[Double])].toDF("id", "vec"), "vec", "id")
      assert(Store.version(conf, tmp).contains(2L), "applyDelta must bump the version")
      pinned.foreach { case (p, t) => java.nio.file.Files.setLastModifiedTime(p, t) }
      // every legacy mtime input is now byte-identical to the cached load;
      // only the version sidecar says the store moved
      val (_, floatsAfter, _, _) = Pq.readStore(spark, tmp)
      val after = Search.topK(floatsAfter, "vec", "id", qVec, 5).select("id", "score")
      assert(TestSpark.formattedPlan(after).contains("pq_codes"),
        "the rule must still fire on the maintained store")
      assert(!after.select("id").as[Long].collect().contains(top1),
        "mtime-blind staleness: the rule served pre-delta codes despite the version bump")
    } finally {
      spark.conf.unset("spark.graft.pq.autoProbe")
      spark.conf.unset("spark.graft.pq.nProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("IvfAutoProbe prunes floats-store shapes PqAutoProbe refuses (ADVICE r15)") {
    // wide output (id, vec, score): the ADC substitution refuses — with
    // pq.autoProbe ON, the IVF rule used to decline too and the query
    // silently full-scanned. The narrowed decline keeps partition pruning.
    val tmp = java.nio.file.Files.createTempDirectory("pq-narrow").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations =
      Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.pq.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    try {
      val (_, floats, _, _) = Pq.readStore(spark, tmp)
      val wide = Search.topK(floats, "vec", "id", qVec, 5).select("id", "vec", "score")
      val plan = TestSpark.formattedPlan(wide)
      assert(!plan.contains("pq_codes"), "wide output must refuse the ADC substitution")
      val pfs = plan.linesIterator.filter(_.contains("PartitionFilters: [")).toSeq
      assert(pfs.nonEmpty && pfs.forall(l => l.contains("list_id") && l.contains("IN")),
        s"the IVF rule must still prune the floats scan for refused shapes: $pfs")
      // and the narrow (id, score) shape still goes to the ADC probe —
      // the decline stays in force exactly where the PQ rule fires
      assert(TestSpark.formattedPlan(
        Search.topK(floats, "vec", "id", qVec, 5).select("id", "score")).contains("pq_codes"))
    } finally {
      spark.conf.unset("spark.graft.pq.autoProbe")
      spark.conf.unset("spark.graft.ivf.autoProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("codes are m bytes; codegen'd encode agrees with a scala re-encode") {
    val m     = 8
    val model = Pq.fit(corpus, "vec", m = m, ksub = 16)
    assert(model.m == 8 && model.ksub == 16 && model.dsub == 8)
    val coded = Pq.pqTable(corpus, "vec", model)
    val rows  = coded.select("id", "vec", "pq_codes").collect()
    assert(rows.forall(_.getAs[Array[Byte]]("pq_codes").length == m)) // 8 B vs SQ8's 64 B
    // reference re-encode: per-subspace argmin over the model's own
    // codebooks, straight from the case-class data (no codegen)
    rows.foreach { r =>
      val v   = r.getSeq[Double](1).toArray
      val nn  = math.sqrt(v.map(x => x * x).sum)
      val u   = if (nn > 0) v.map(_ / nn) else v
      val exp = (0 until m).map { j =>
        val sub = u.slice(j * model.dsub, (j + 1) * model.dsub)
        model.codebooks(j).zipWithIndex.minBy { case (c, i) =>
          (c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum, i)
        }._2.toByte
      }
      assert(r.getAs[Array[Byte]]("pq_codes").toSeq == exp, s"id=${r.getLong(0)}")
    }
  }

  test("ADC score equals the table-lookup recomputation; centroids score their own cosine") {
    val model = Pq.fit(corpus, "vec", m = 8, ksub = 16)
    val coded = Pq.pqTable(corpus, "vec", model)
    val table = model.adcTable(qVec)
    val got = Pq.topKOnCodes(coded, "pq_codes", "id", qVec, 400, model)
      .select("id", "pq_codes", "score").collect()
    got.foreach { r =>
      val codes = r.getAs[Array[Byte]]("pq_codes")
      val exp   = codes.zipWithIndex.map { case (c, j) => table(j * model.ksub + (c & 0xff)) }.sum
      assert(r.getDouble(2) == exp, s"id=${r.get(0)}")
    }
    // the table itself: entry (j,c) must be the normalized-query subvector
    // · codebook entry, recomputed here from the case-class data
    val qn = math.sqrt(qVec.map(x => x * x).sum)
    val qh = qVec.map(_ / qn).toArray
    for (j <- 0 until model.m; c <- 0 until model.ksub) {
      val exp = model.codebooks(j)(c).zipWithIndex
        .map { case (v, t) => v * qh(j * model.dsub + t) }.sum
      assert(math.abs(table(j * model.ksub + c) - exp) < 1e-12, s"table($j,$c)")
    }
  }

  test("refine recovers exact top-k: recall 10/10 at the 64-d tier, 10/10 at 768-d") {
    val model = Pq.fit(corpus, "vec", m = 8, ksub = 16)
    val coded = Pq.pqTable(corpus, "vec", model)
    val exact = Search.topK(corpus, "vec", "id", qVec, 10).select("id").as[Long].collect().toSet
    // hash-embedder corpora are near-isotropic — the hardest PQ case (no
    // cluster structure to quantize); v12's ≥8/10 bar applies at the
    // default refine, and a deeper candidate pool must recover the rest
    val ann = Pq.topKRefined(coded, "vec", "pq_codes", "id", qVec, 10, model)
      .select("id").as[Long].collect().toSet
    assert((ann & exact).size >= 8, s"64-d recall ${(ann & exact).size}/10 at refine=4")
    val deep = Pq.topKRefined(coded, "vec", "pq_codes", "id", qVec, 10, model, refine = 12)
      .select("id").as[Long].collect().toSet
    assert((deep & exact).size >= 9, s"64-d recall ${(deep & exact).size}/10 at refine=12")

    // 768-d tier: deterministic pseudo-random corpus with planted structure
    val dim = 768
    def vec(seed: Long): Seq[Double] = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      Seq.tabulate(dim) { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
    }
    val base  = vec(999)
    val big = (0L until 2000L).map { i =>
      val noise = vec(i)
      // 10 planted near neighbors of the query direction, rest random
      val mix = if (i < 10) base.zip(noise).map { case (b, n) => b + 0.05 * n }
                else noise
      (i, mix)
    }.toDF("id", "vec")
    val m768 = Pq.fit(big, "vec", m = 96, ksub = 64)
    val c768 = Pq.pqTable(big, "vec", m768)
    val ex   = Search.topK(big, "vec", "id", base, 10).select("id").as[Long].collect().toSet
    val an = Pq.topKRefined(c768, "vec", "pq_codes", "id", base, 10, m768)
      .select("id").as[Long].collect().toSet
    assert((an & ex).size == 10, s"768-d recall ${(an & ex).size}/10")
  }

  test("IVF-PQ: both probe legs partition-prune; all-list probe equals flat PQ-refined") {
    val (codes, floats, ivfm, pqm) =
      Pq.ivfPqIndexFor(corpus, "vec", "id", nList = 6, m = 8, ksub = 16, cacheKey = "pqspec")
    // plan shape: the ADC scan AND the refine scan must both carry the
    // list_id IN (...) in PartitionFilters — non-probed directories of
    // EITHER store are never listed or read
    val probed = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 2)
    assert(probed.count() == 5)
    val plan = TestSpark.formattedPlan(probed)
    val pfs  = plan.linesIterator.filter(_.contains("PartitionFilters")).toVector
    assert(pfs.size >= 2, s"expected two pruned scans (codes + floats), got:\n${pfs.mkString("\n")}")
    assert(pfs.forall(pf => pf.contains("list_id") && pf.contains("IN")),
      s"both scans must prune on list_id IN:\n${pfs.mkString("\n")}")
    // the ADC projection stays inside whole-stage codegen (AQE hides the
    // codegen spans until the plan is final, so check the executed plan
    // with AQE off)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val adcOnly = Pq.topKOnCodes(codes, "pq_codes", "id", qVec, 5, pqm)
      adcOnly.collect()
      // "*(n)" is treeString's WholeStageCodegen marker; the scoring
      // Project must sit inside one, with the pq_adc call in its list
      val executed = adcOnly.queryExecution.executedPlan.toString
      val projLine = executed.linesIterator.find(_.contains("pq_adc"))
      assert(projLine.exists(_.contains("*(")),
        s"pq_adc projection must be whole-stage codegen'd:\n${executed.take(800)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // probing every list = the flat PQ-refined search over the same codes
    // (the IVF machinery itself adds NO approximation beyond list pruning;
    // quantization error is PQ's and the refine pool bounds it)
    val all = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 10, nProbe = 6)
      .select("id").as[Long].collect().toSeq
    val flat = Pq.topKRefined(Pq.pqTable(corpus, "vec", pqm), "vec", "pq_codes", "id", qVec, 10, pqm)
      .select("id").as[Long].collect().toSeq
    assert(all == flat)
    val exact = Search.topK(corpus, "vec", "id", qVec, 10).select("id").as[Long].collect().toSet
    assert((all.toSet & exact).size >= 8, s"recall ${(all.toSet & exact).size}/10")
  }

  test("filtered IVF-PQ gate: broad widens the pruned probe, selective routes exact, sel=0 empty") {
    val (codes, floats, ivfm, pqm) =
      Pq.ivfPqIndexFor(corpus, "vec", "id", nList = 6, m = 8, ksub = 16, cacheKey = "pqspec-filt")
    val payload = corpus.select(col("id"), (col("id") % 10).as("grp"))

    // BROAD (sel = 0.8): widened probe = ceil(2/0.8) = 3 of 6 lists — the
    // scan must STAY pruned (the gate widens, it does not fall open), and
    // the allowed semi-join must land before the ADC cut so every hit is
    // allowed
    val broad = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 2,
      filters = Seq(col("grp") < 8), payload = payload, payloadIdCol = "id")
    val bplan = TestSpark.formattedPlan(broad)
    val pfs = bplan.linesIterator.filter(_.contains("PartitionFilters")).toVector
    assert(pfs.nonEmpty && pfs.forall(pf => pf.contains("list_id") && pf.contains("IN")),
      s"broad branch must keep the pruned probe:\n${pfs.mkString("\n")}")
    // widened width is visible in the isin literal: 3 probed lists, not 2
    val inLists = "list_id#?\\d* IN \\(([^)]*)\\)".r.findFirstMatchIn(bplan).map(_.group(1))
    assert(inLists.exists(_.split(",").length == 3), s"expected 3 probed lists, got $inLists")
    val bids = broad.select("id").as[Long].collect().toSeq
    assert(bids.nonEmpty && bids.forall(_ % 10 < 8), "probe-branch hit escaped the filter")
    // recall vs the filtered brute force at the same k
    val btruth = Search.topK(corpus.join(payload.where(col("grp") < 8), Seq("id"), "left_semi"),
      "vec", "id", qVec, 5).select("id").as[Long].collect().toSet
    assert((bids.toSet & btruth).size >= 3, s"broad recall ${(bids.toSet & btruth).size}/5")

    // SELECTIVE (sel ≈ 0.014): widened = ceil(2/sel) ≥ 6 = nList → exact
    // branch, VALUE-equal to the filtered brute force (float precision,
    // no ADC in the result) and free of any list pruning
    val selPred = Seq(col("grp") === 0, col("id") % 7 === 0)
    val ex = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 2,
      filters = selPred, payload = payload, payloadIdCol = "id")
    val truth = Search.topK(
      corpus.join(payload.where(selPred.reduce(_ && _)).select("id"), Seq("id"), "left_semi"),
      "vec", "id", qVec, 5)
    assert(ex.select("id", "score").collect().toSeq == truth.select("id", "score").collect().toSeq)
    assert("list_id#?\\d* IN ".r.findFirstIn(TestSpark.formattedPlan(ex)).isEmpty,
      "exact branch must not probe — it scans the allowed survivors")

    // sel == 0 (nothing passes) degenerates into the exact branch → empty
    val none = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 2,
      filters = Seq(col("grp") === 42), payload = payload, payloadIdCol = "id")
    assert(none.count() == 0)

    // selectivityHint skips the estimate scan and picks the branch: hint
    // 1.0 keeps the caller's own width (2 lists, no widening)
    val hinted = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 2,
      filters = Seq(col("grp") < 8), payload = payload, payloadIdCol = "id",
      selectivityHint = 1.0)
    val hLists = "list_id#?\\d* IN \\(([^)]*)\\)".r
      .findFirstMatchIn(TestSpark.formattedPlan(hinted)).map(_.group(1))
    assert(hLists.exists(_.split(",").length == 2), s"hint=1.0 must not widen, got $hLists")
  }

  test("batch IVF-PQ join: pair-form ADC is bit-identical to the table form; batch == per-query probes; filter gate routes") {
    val (codes, floats, ivfm, pqm) =
      Pq.ivfPqIndexFor(corpus, "vec", "id", nList = 6, m = 8, ksub = 16, cacheKey = "pqspec-knn")

    // pair-form ADC == the single-query lookup-table form, bit for bit
    // (the batch join ranks candidates exactly as per-query probes would)
    val table = pqm.adcTable(qVec)
    val pairRows = codes.select(col("id"),
      graft.functions.PqExpressions.pqAdcPair(col("pq_codes"), typedLit(qVec),
        pqm.flat, pqm.m, pqm.ksub, pqm.dsub).as("pair"),
      graft.functions.PqExpressions.pqAdc(col("pq_codes"), table, pqm.ksub).as("tab"))
      .collect()
    pairRows.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"id=${r.get(0)}"))

    // batch join at full probe width == per-query searchIvfPq at the same
    // width — excludeSelf=false so both paths see the IDENTICAL candidate
    // pool (self-exclusion changes the k·refine ADC cut's membership)
    val queries = corpus.where(col("id") % 37 === 0)
    val batch = Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries, "vec", "id", "vec", "id",
      k = 5, nProbe = 6, refine = 4, excludeSelf = false)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    queries.select("id").as[Long].collect().foreach { qid =>
      val qv = corpus.where(col("id") === qid).select(col("vec")).as[Seq[Double]].head()
      val single = Pq.searchIvfPq(codes, floats, ivfm, pqm, "vec", "id", qv, 5, nProbe = 6, refine = 4)
        .select("id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"qid=$qid: batch ${batch(qid)} vs single $single")
    }

    // filtered: broad predicate widens (results all allowed, recall holds
    // vs the filtered brute-force join); selective routes exact (== the
    // brute-force join over allowed float rows)
    val payload = corpus.select(col("id"), (col("id") % 10).as("grp"))
    val broad = Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries, "vec", "id", "vec", "id",
      k = 5, nProbe = 2, refine = 4,
      filters = Seq(col("grp") < 8), payload = payload, payloadIdCol = "id")
    assert(broad.select("neighbor_id").as[Long].collect().forall(_ % 10 < 8))
    val truthBroad = Search.knnJoin(queries, corpus.where(col("id") % 10 < 8),
      "vec", "id", "vec", "id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val gotBroad = broad.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((gotBroad & truthBroad).size >= (truthBroad.size * 6) / 10,
      s"broad batch recall ${(gotBroad & truthBroad).size}/${truthBroad.size}")
    val selPred = Seq(col("grp") === 0, col("id") % 7 === 0)
    val ex = Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries, "vec", "id", "vec", "id",
      k = 5, nProbe = 2, refine = 4,
      filters = selPred, payload = payload, payloadIdCol = "id")
      .select("query_id", "neighbor_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exTruth = Search.knnJoin(queries, corpus.where(col("id") % 10 === 0 && col("id") % 7 === 0),
      "vec", "id", "vec", "id", 5)
      .select("query_id", "neighbor_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ex == exTruth, "exact branch must equal the brute-force filtered join")
  }

  test("persistent store: sidecars round-trip; applyDelta touches only affected lists on BOTH stores; replay idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("pq-store").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes0, floats0, ivfm, pqm) = Pq.readStore(spark, tmp)
    // codebooks and centroids round-trip bit-exactly (same seeds → same fit)
    assert(pqm.flat.toSeq == Pq.fit(corpus, "vec", 8, 16).flat.toSeq)
    assert(codes0.count() == 400 && floats0.count() == 400)
    // search over the reopened store behaves like the cached-index path
    val viaStore = Pq.searchIvfPq(codes0, floats0, ivfm, pqm, "vec", "id", qVec, 5, nProbe = 6)
      .select("id").as[Long].collect().toSeq
    assert(viaStore.nonEmpty)

    // planted delta: remove %9, negate %11 (upsert), add +10000 reversed %23
    val removed = corpus.where(col("id") % 9 === 0).select("id")
    val changed = corpus.where(col("id") % 11 === 0 && col("id") % 9 =!= 0)
      .select(col("id"), transform(col("vec"), x => -x).as("vec"))
    val added = corpus.where(col("id") % 23 === 0)
      .select((col("id") + 10000L).as("id"), reverse(col("vec")).as("vec"))
    val delta = changed.unionByName(added)
    // affected lists derived independently so untouched dirs can be checked
    val remIds = removed.as[Long].collect().toSet ++ delta.select("id").as[Long].collect().toSet
    val affected =
      floats0.where(col("id").isin(remIds.toSeq: _*)).select("list_id").as[Int].collect().toSet ++
        Ivf.withListId(delta, ivfm, "vec").select("list_id").as[Int].collect().toSet
    def mtimes(sub: String): Map[String, Long] =
      new java.io.File(s"$tmp/$sub").listFiles().filter(_.getName.startsWith("list_id="))
        .map(d => d.getName -> d.lastModified()).toMap
    val (mc0, mf0) = (mtimes("codes"), mtimes("floats"))
    val touched = Pq.applyDelta(spark, tmp, removed, delta, "vec", "id")
    assert(touched == affected.size.toLong)
    val (mc1, mf1) = (mtimes("codes"), mtimes("floats"))
    (mc0.keySet -- affected.map(l => s"list_id=$l")).foreach { d =>
      assert(mc0(d) == mc1(d), s"untouched codes dir $d was rewritten")
      assert(mf0(d) == mf1(d), s"untouched floats dir $d was rewritten")
    }

    // post-delta exhaustive probe (all lists, refine pool ≥ corpus) equals
    // the brute force over the post-delta vector set; removed never surface
    val (codes1, floats1, _, _) = Pq.readStore(spark, tmp)
    val postTruth = corpus.where(col("id") % 9 =!= 0 && col("id") % 11 =!= 0)
      .select(col("id"), col("vec"))
      .unionByName(changed.where(col("id") % 9 =!= 0))
      .unionByName(added)
    def searchNow(c: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) =
      Pq.searchIvfPq(c, f, ivfm, pqm, "vec", "id", qVec, 10, nProbe = 6, refine = 100)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = searchNow(codes1, floats1)
    val truth = Search.topK(postTruth, "vec", "id", qVec, 10)
      .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == truth, s"post-delta search\n got $got\n want $truth")
    assert(floats1.where(col("id") % 9 === 0 && col("id") < 10000).count() == 0)
    assert(codes1.where(col("id") % 9 === 0 && col("id") < 10000).count() == 0)

    // replay idempotence (at-least-once retry): same delta, same answer
    Pq.applyDelta(spark, tmp, removed, delta, "vec", "id")
    val (codes2, floats2, _, _) = Pq.readStore(spark, tmp)
    assert(searchNow(codes2, floats2) == truth)
  }

  test("knnJoinIvfPq: building the frame runs no Spark job (the probed-list union is in the plan)") {
    val tmp = java.nio.file.Files.createTempDirectory("pq-nojob").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(spark, tmp)
    val queries = corpus.where(col("id") % 50 === 0)
    val group = "pq-knn-join-build"
    val jobs  = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "build a batch IVF-PQ frame")
    try {
      val frame = Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries, "vec", "id", "vec", "id", 5, nProbe = 2)
      Thread.sleep(300) // the listener bus is async; let any submitted job surface
      assert(jobs.get == 0, s"building the frame ran ${jobs.get} jobs")
      assert(frame.count() == 8 * 5)
      Thread.sleep(300)
      assert(jobs.get > 0, "the listener must see the frame's own jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("applyDelta evaluates `added` once across both stores") {
    // Ivf.deltaStats is the only evaluation of the caller's `added`: the
    // floats rows, the codes encoding and the gaining lists all read the
    // persisted assignment
    val tmp = java.nio.file.Files.createTempDirectory("pq-once").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val evals = spark.sparkContext.longAccumulator("added rows evaluated")
    val src = corpus.where(col("id") % 37 === 0)
      .select((col("id") + 10000L).as("id"), reverse(col("vec")).as("vec"))
    val n = src.count()
    val added = src.mapPartitions { it => it.map { r => evals.add(1L); r } }(
      org.apache.spark.sql.Encoders.row(src.schema))
    val touched = Pq.applyDelta(spark, tmp, Seq(3L).toDF("id"), added, "vec", "id")
    assert(evals.value == n, s"added evaluated ${evals.value.toDouble / n} times per row, want exactly once")
    assert(touched >= 1)
    val (codes1, floats1, _, _) = Pq.readStore(spark, tmp)
    assert(floats1.count() == 400 - 1 + n && codes1.count() == 400 - 1 + n)
    assert(codes1.where(col("id") === 3L).count() == 0)
  }

  test("applyDelta: added rows with a null id fail loudly naming the id column, one row or two") {
    val tmp = java.nio.file.Files.createTempDirectory("pq-null-id").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val before = Store.token(spark.sparkContext.hadoopConfiguration, tmp)
    for (n <- Seq(1, 2)) {
      val added = corpus.limit(n).select(lit(null).cast("long").as("id"), col("vec"))
      val ex = intercept[IllegalArgumentException](
        Pq.applyDelta(spark, tmp, Seq.empty[Long].toDF("id"), added, "vec", "id"))
      assert(ex.getMessage.contains("null id") && ex.getMessage.contains("(column id)"), ex.getMessage)
    }
    assert(Store.token(spark.sparkContext.hadoopConfiguration, tmp) == before, "a rejected delta commits nothing")
    val (codes1, floats1, _, _) = Pq.readStore(spark, tmp)
    assert(floats1.count() == 400 && codes1.count() == 400)
  }

  test("applyDelta replay self-heals a floats/codes divergence (crash between the two swaps)") {
    val tmp = java.nio.file.Files.createTempDirectory("pq-heal").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (_, floats0, _, _) = Pq.readStore(spark, tmp)
    // plant the crash residue: id 42 vacates ITS FLOATS LIST ONLY (the
    // state a kill between the floats swap and the codes swap leaves) —
    // rewrite that one list dir without the row, codes untouched
    val lid = floats0.where(col("id") === 42).select("list_id").as[Int].head()
    val stage = java.nio.file.Files.createTempDirectory("pq-heal-stage").toString
    floats0.where(col("list_id") === lid && col("id") =!= 42)
      .drop("list_id").write.parquet(s"$stage/out")
    val dir = new java.io.File(s"$tmp/floats/list_id=$lid")
    dir.listFiles().foreach(_.delete())
    new java.io.File(s"$stage/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(dir, f.getName).toPath))
    val (codesD, floatsD, _, _) = Pq.readStore(spark, tmp)
    assert(floatsD.where(col("id") === 42).count() == 0, "divergence planted")
    assert(codesD.where(col("id") === 42).count() == 1, "codes still hold the ghost")
    // the REPLAYED batch (id 42 among its removals) must rewrite the
    // codes list even though floats has nothing left to remove there
    val touched = Pq.applyDelta(spark, tmp, Seq(42L).toDF("id"), corpus.limit(0), "vec", "id")
    assert(touched >= 1, "codes-side detection must flag the ghost's list")
    val (codesH, floatsH, _, _) = Pq.readStore(spark, tmp)
    assert(codesH.where(col("id") === 42).count() == 0, "ghost candidate must be healed")
    assert(floatsH.where(col("id") === 42).count() == 0)
  }

  test("null and zero vectors: null codes propagate, zero vector encodes deterministically") {
    val model = Pq.fit(corpus, "vec", m = 8, ksub = 16)
    val df = Seq(
      (1L, Option(Seq.fill(64)(0.0))),
      (2L, Option.empty[Seq[Double]]),
      (3L, Option(qVec)),
    ).toDF("id", "vec")
    val rows = Pq.pqTable(df, "vec", model).select("id", "pq_codes").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]]("pq_codes"))).toMap
    assert(rows(2).isEmpty)                   // null in → null code out
    assert(rows(1).exists(_.length == 8))     // zero vector still encodes
    assert(rows(3).exists(_.length == 8))
  }
}

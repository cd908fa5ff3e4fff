package graft

import graft.operators.{Embedder, Ivf, Search, Store}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** IVF index contract: the probe must be a PARTITION-pruned scan of the
  * on-disk store (the property that makes it the 100 TB path), and probing
  * every list must recover the exact search results (the machinery adds no
  * error beyond list pruning).
  */
class IvfSpec extends AnyFunSuite with BeforeAndAfterAll {
  // these specs pin the scan path's plans (PartitionFilters, fall-through
  // shapes) on stores small enough to be held on the driver
  override def beforeAll(): Unit = graft.plans.Resident.budget = 0L
  override def afterAll(): Unit  = graft.plans.Resident.budget = graft.plans.Resident.Budget

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus =
    (0L until 300L).map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 5}")))
      .toDF("id", "vec")

  private val qVec: Seq[Double] = Embedder.default.embed("topic 3 probe").map(_.toDouble).toSeq

  test("probe scan reads only the probed list partitions (PartitionFilters)") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec")
    val probed = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2)
    assert(probed.count() == 5)
    // The isin(list_id) must land in the scan's PartitionFilters — i.e. the
    // store's non-probed directories are never listed or read. explain
    // "formatted" prints the scan's pushed partition filters verbatim.
    val plan = TestSpark.formattedPlan(probed)
    assert(plan.contains("PartitionFilters"), plan.take(1200))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("list_id"), s"probe must prune on list_id: $pf")
    assert(pf.contains("IN"), s"probe must prune with an IN over probed lists: $pf")
  }

  test("filtered search gate: broad widens the pruned probe, selective routes exact, both carriers") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec")
    val payload = corpus.select(col("id"), (col("id") % 10).as("grp"))

    // payload carrier, BROAD (sel 0.8): ceil(2/0.8) = 3 of 6 lists — the
    // probe stays pruned at the widened width and every hit is allowed
    val broad = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
      filters = Seq(col("grp") < 8), payload = payload, payloadIdCol = "id")
    val bplan = TestSpark.formattedPlan(broad)
    val inLists = "list_id#?\\d* IN \\(([^)]*)\\)".r.findFirstMatchIn(bplan).map(_.group(1))
    assert(inLists.exists(_.split(",").length == 3), s"expected 3 probed lists, got $inLists")
    val bids = broad.select("id").as[Long].collect().toSeq
    assert(bids.nonEmpty && bids.forall(_ % 10 < 8), "probe-branch hit escaped the filter")

    // payload carrier, SELECTIVE: widened past nList → exact branch,
    // VALUE-equal to the filtered brute force, no list pruning in the plan
    val selPred = Seq(col("grp") === 0, col("id") % 7 === 0)
    val ex = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
      filters = selPred, payload = payload, payloadIdCol = "id")
    val truth = Search.topK(
      corpus.join(payload.where(selPred.reduce(_ && _)).select("id"), Seq("id"), "left_semi"),
      "vec", "id", qVec, 5)
    assert(ex.select("id", "score").collect().toSeq == truth.select("id", "score").collect().toSeq)
    assert("list_id#?\\d* IN ".r.findFirstIn(TestSpark.formattedPlan(ex)).isEmpty,
      "exact branch must not probe — it scans the allowed survivors")

    // store-column carrier (payload = null): same gate, predicate applied
    // as a pushed where on the pruned scan; broad widens identically
    val storeBroad = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
      filters = Seq(col("id") % 10 < 8))
    val sLists = "list_id#?\\d* IN \\(([^)]*)\\)".r
      .findFirstMatchIn(TestSpark.formattedPlan(storeBroad)).map(_.group(1))
    assert(sLists.exists(_.split(",").length == 3), s"store-carrier must widen too, got $sLists")
    assert(storeBroad.select("id").as[Long].collect().forall(_ % 10 < 8))
    // store-column carrier, selective → exact fallback equals brute force
    val storeEx = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
      filters = Seq(col("id") % 10 === 0, col("id") % 7 === 0))
    val storeTruth = Search.topK(corpus.where(col("id") % 10 === 0 && col("id") % 7 === 0),
      "vec", "id", qVec, 5)
    assert(storeEx.select("id", "score").collect().toSeq ==
      storeTruth.select("id", "score").collect().toSeq)

    // nothing passes → exact branch degenerates to empty
    assert(Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
      filters = Seq(col("grp") === 42), payload = payload, payloadIdCol = "id").count() == 0)
  }

  test("probing all lists equals exact search (pruning is the only approximation)") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec")
    val ivfAll = Ivf.search(indexed, model, "vec", "id", qVec, 10, 6)
      .select("id").as[Long].collect().toSeq
    val exact = Search.topK(corpus, "vec", "id", qVec, 10)
      .select("id").as[Long].collect().toSeq
    assert(ivfAll == exact)
  }

  test("IvfAutoProbe: declarative brute-force top-k over the store becomes a pruned probe") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-auto")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.nProbe", "2")
    try {
      // the user writes plain sort-by-cosine + limit — no Ivf API in sight
      val brute = Search.topK(indexed, "vec", "id", qVec, 5)
      val pf = TestSpark.formattedPlan(brute).linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("list_id") && pf.contains("IN"), s"expected auto-injected probe: $pf")
      // the rewrite IS Ivf.search at the same probe width
      val viaApi = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2)
        .select("id").as[Long].collect().toSeq
      assert(brute.select("id").as[Long].collect().toSeq == viaApi)
      // a non-IVF source is left untouched
      assert(Search.topK(corpus, "vec", "id", qVec, 5).count() == 5)
      // switched off → exact scan of every list again
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      val off = TestSpark.formattedPlan(Search.topK(indexed, "vec", "id", qVec, 5))
        .linesIterator.find(_.contains("PartitionFilters"))
      assert(off.forall(!_.contains("IN (")), s"rule must not fire when disabled: $off")
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("adaptive nProbe: geometry picks the width — tight clusters probe 1, boundary queries widen") {
    // four far-separated centroids on coordinate axes, radius ≪ separation
    val model = Ivf.Model(Array(
      Array(10.0, 0.0, 0.0), Array(0.0, 10.0, 0.0), Array(0.0, 0.0, 10.0), Array(-10.0, 0.0, 0.0)))
    // deep inside cluster 0: margin 0.5 probes ONLY list 0
    assert(model.adaptiveProbeLists(Seq(9.7, 0.1, 0.0), 0.5) == Seq(0))
    // equidistant between clusters 0 and 1 (the recall-loss geometry):
    // the same margin widens to both, ordered by distance then id
    assert(model.adaptiveProbeLists(Seq(5.0, 5.0, 0.0), 0.5).toSet == Set(0, 1))
    // monotone: a larger margin's probe set contains the smaller's
    val small = model.adaptiveProbeLists(Seq(4.0, 6.0, 1.0), 0.2).toSet
    val big   = model.adaptiveProbeLists(Seq(4.0, 6.0, 1.0), 1.5).toSet
    assert(small.subsetOf(big))
    // clamps: minProbe forces width, maxProbe caps it, margin→∞ ≡ all lists
    assert(model.adaptiveProbeLists(Seq(9.7, 0.1, 0.0), 0.0, minProbe = 2).length == 2)
    assert(model.adaptiveProbeLists(Seq(5.0, 5.0, 0.0), 100.0, maxProbe = 3).length == 3)
    assert(model.adaptiveProbeLists(Seq(5.0, 5.0, 0.0), 1e9).length == 4)
    // searchAdaptive over the real store equals search at the derived width
    val (indexed, m2) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-adapt")
    val derived = m2.adaptiveProbeLists(qVec, 0.10)
    val a = Ivf.searchAdaptive(indexed, m2, "vec", "id", qVec, 5, 0.10)
      .select("id").as[Long].collect().toSeq
    val fixedAtSameWidth = Ivf.search(indexed, m2, "vec", "id", qVec, 5, derived.length)
      .select("id").as[Long].collect().toSeq
    assert(a == fixedAtSameWidth)
  }

  test("IvfAutoProbe: a projection ON TOP of top-k still prunes (Project between limit and sort)") {
    // `topK(store, ...).select("id")` — the dominant consumer shape —
    // optimizes to GlobalLimit(LocalLimit(Project(Sort(...)))): the
    // column-pruning Project lands BETWEEN the limit pair and the sort.
    // Found at 768-d scale: without looking through that Project the rule
    // silently degraded to a full store scan (2.3 s vs 0.3 s at 25k×768)
    // while recall stayed perfect — the worst kind of regression.
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-proj")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.nProbe", "2")
    try {
      val projected = Search.topK(indexed, "vec", "id", qVec, 5).select("id")
      val pf = TestSpark.formattedPlan(projected).linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("list_id") && pf.contains("IN"), s"projected top-k must still prune: $pf")
      assert(projected.as[Long].collect().toSeq ==
        Ivf.search(indexed, model, "vec", "id", qVec, 5, 2).select("id").as[Long].collect().toSeq)
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("IvfAutoProbe fires on spark.sql text too — including the filtered gate") {
    // the declarative promise isn't DataFrame-only: a SQL user writing
    // ORDER BY cosine_similarity(...) DESC LIMIT k over the store view
    // gets the same pruned (and gated) probe — the array literal constant-
    // folds before the rule runs, so the same matcher sees the same shape
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-sql")
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    indexed.createOrReplaceTempView("ivf_store_sql")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.nProbe", "2")
    try {
      // SQL numeric literals parse as decimals and the store's vec is
      // float — cast both sides, exactly what a SQL user must write
      val qSql = "CAST(" + qVec.mkString("array(", ", ", ")") + " AS ARRAY<DOUBLE>)"
      val plain = spark.sql(
        s"SELECT id, cosine_similarity(CAST(vec AS ARRAY<DOUBLE>), $qSql) AS score " +
          "FROM ivf_store_sql ORDER BY score DESC, id LIMIT 5")
      val pf = TestSpark.formattedPlan(plain).linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("list_id") && pf.contains("IN"), s"SQL top-k must auto-prune: $pf")
      assert(plain.select("id").as[Long].collect().toSeq ==
        Ivf.search(indexed, model, "vec", "id", qVec, 5, 2).select("id").as[Long].collect().toSeq)
      // filtered SQL rides the gate: sel 0.8 widens 2 → 3 lists
      val filtered = spark.sql(
        s"SELECT id, cosine_similarity(CAST(vec AS ARRAY<DOUBLE>), $qSql) AS score " +
          "FROM ivf_store_sql WHERE id % 10 < 8 ORDER BY score DESC, id LIMIT 5")
      val fpf = "list_id#?\\d* IN \\(([^)]*)\\)".r
        .findFirstMatchIn(TestSpark.formattedPlan(filtered)).map(_.group(1))
      assert(fpf.exists(_.split(",").length == 3), s"filtered SQL must widen the probe: $fpf")
      assert(filtered.select("id").as[Long].collect().forall(_ % 10 < 8))
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      spark.conf.unset("spark.graft.ivf.nProbe")
      classic.experimental.extraOptimizations = Nil
      spark.catalog.dropTempView("ivf_store_sql")
    }
  }

  test("IvfAutoProbe: user predicates gate the probe width — broad widens, selective declines") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-fgate")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.nProbe", "2")
    try {
      // BROAD (sel 0.8): the injected probe widens to ceil(2/0.8) = 3 of 6
      // lists and the user predicate survives the injection verbatim
      val bpred = col("id") % 10 < 8
      val broad = Search.topK(indexed, "vec", "id", qVec, 5, filters = Seq(bpred))
      val pf = "list_id#?\\d* IN \\(([^)]*)\\)".r
        .findFirstMatchIn(TestSpark.formattedPlan(broad)).map(_.group(1))
      assert(pf.exists(_.split(",").length == 3), s"expected the widened 3-list probe, got $pf")
      assert(broad.select("id").as[Long].collect().forall(_ % 10 < 8))
      // the rewrite IS Ivf.search's store-carrier gate at the same width
      val viaApi = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2, filters = Seq(bpred))
        .select("id", "score").collect().toSeq
      assert(broad.select("id", "score").collect().toSeq == viaApi)
      // SELECTIVE (sel ~1/70): widened past nList → the rule DECLINES and
      // the user's own exact plan runs — no probe filter, brute-force values
      val spred = Seq(col("id") % 10 === 0, col("id") % 7 === 0)
      val sel   = Search.topK(indexed, "vec", "id", qVec, 5, filters = spred)
      assert("list_id#?\\d* IN ".r.findFirstIn(TestSpark.formattedPlan(sel)).isEmpty,
        "selective predicate must decline the probe — the exact plan IS the exact branch")
      val truth = Search.topK(corpus.where(spred.reduce(_ && _)), "vec", "id", qVec, 5)
      assert(sel.select("id", "score").collect().toSeq ==
        truth.select("id", "score").collect().toSeq)
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      // nProbe is what this test actually set — leaving it at 2 made later
      // suites in the shared session order-dependent (ADVICE r15)
      spark.conf.unset("spark.graft.ivf.nProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("IvfAutoProbe: predicates on a JOINED metadata table gate the width (hydration, r16)") {
    // before round 16 the walk skipped predicates it couldn't attribute
    // to the store relation, so a selective predicate on a joined
    // metadata table injected an UNWIDENED probe — the recall cliff the
    // gate exists to prevent. Now the metadata leg gates the width.
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-hyd")
    val meta = (0L until 300L).map(i => (i, i % 10)).toDF("mid", "grp")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.nProbe", "2")
    try {
      def hydTopK(preds: Seq[org.apache.spark.sql.Column]) =
        Search.topK(indexed.join(meta, col("id") === col("mid")), "vec", "id", qVec, 5,
          filters = preds)
      // BROAD metadata predicate (sel 0.8): widened to ceil(2/0.8) = 3
      // lists, injected; the user's own join + filter still execute, so
      // values equal the explicit payload-carrier search at width 3
      val before = Search.gateDecisions.get()
      val broad = hydTopK(Seq(col("grp") < 8))
      val broadPlan = TestSpark.formattedPlan(broad)
      // planning one hydrated filtered query makes exactly one gate decision
      val decisions = Search.gateDecisions.get() - before
      assert(decisions == 1, s"expected 1 gate decision for one hydrated query, got $decisions")
      val pf = "list_id#?\\d* IN \\(([^)]*)\\)".r
        .findFirstMatchIn(broadPlan).map(_.group(1))
      assert(pf.exists(_.split(",").length == 3),
        s"metadata predicate must widen the injected probe to 3 lists, got $pf")
      val viaApi = Ivf.search(indexed, model, "vec", "id", qVec, 5, 2,
        filters = Seq(col("grp") < 8),
        payload = meta.select(col("mid"), col("grp")), payloadIdCol = "mid")
      assert(broad.select("id", "score").collect().toSeq ==
        viaApi.select("id", "score").collect().toSeq)
      // SELECTIVE metadata predicate (sel ~1/70): widened past nList →
      // decline, the user's exact hydrated plan runs unpruned
      val sel = hydTopK(Seq(col("grp") === 0, col("mid") % 7 === 0))
      assert("list_id#?\\d* IN ".r.findFirstIn(TestSpark.formattedPlan(sel)).isEmpty,
        "selective metadata predicate must decline the injection")
      // PURE hydration over a NON-COVERING metadata table (150 of 300
      // ids): sel = |allowed payload| / |store rows| = 0.5 — the inner
      // join halves the candidate mass with no predicate to measure, and
      // the width must double to 4 anyway
      val metaHalf = (0L until 300L by 2).map(i => (i, i % 10)).toDF("mid", "grp")
      val pure = Search.topK(indexed.join(metaHalf, col("id") === col("mid")),
        "vec", "id", qVec, 5)
      val pf2 = "list_id#?\\d* IN \\(([^)]*)\\)".r
        .findFirstMatchIn(TestSpark.formattedPlan(pure)).map(_.group(1))
      assert(pf2.exists(_.split(",").length == 4),
        s"a non-covering metadata table must double the injected width, got $pf2")
      // a SECOND join on the path — unaccounted structure — must refuse
      val two = Search.topK(indexed.join(meta, col("id") === col("mid"))
        .join(metaHalf.select(col("mid").as("mid2")), col("id") === col("mid2")),
        "vec", "id", qVec, 5)
      assert("list_id#?\\d* IN ".r.findFirstIn(TestSpark.formattedPlan(two)).isEmpty,
        "a second join on the path must refuse the injection")
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      spark.conf.unset("spark.graft.ivf.nProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("IvfAutoProbe under GraftExtensions: planning one filtered query makes ONE gate decision") {
    // the shipped registration (spark.sql.extensions=graft.GraftExtensions),
    // not the specs' extraOptimizations batch: in a fixed-point
    // operator-optimization batch a declined rule re-ran its selectivity
    // job on every pass of the batch
    val dir = java.nio.file.Files.createTempDirectory("ivf_ext").toString + "/store"
    val (assigned, model) = Ivf.assign(corpus, "vec", 6)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    // create() makes the new session active and default; the suites share
    // the test session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    ext.conf.set("spark.graft.ivf.autoProbe", "true")
    ext.conf.set("spark.graft.ivf.nProbe", "2")
    val store = ext.read.parquet(dir)
    val meta  = ext.createDataFrame((0L until 300L).map(i => (i, i % 10))).toDF("mid", "grp")
    def planned(df: org.apache.spark.sql.DataFrame): (String, Long) = {
      val before = Search.gateDecisions.get()
      val plan   = TestSpark.formattedPlan(df)
      (plan, Search.gateDecisions.get() - before)
    }
    val probe = "list_id#?\\d* IN \\(([^)]*)\\)".r
    // injected: sel 0.8 widens the probe to 3 of 6 lists
    val (injected, d1) = planned(
      Search.topK(store, "vec", "id", qVec, 5, filters = Seq(col("id") % 10 < 8)))
    assert(probe.findFirstMatchIn(injected).map(_.group(1)).exists(_.split(",").length == 3),
      injected.take(1500))
    assert(d1 == 1, s"injected branch: expected 1 gate decision, got $d1")
    // declined: sel ~1/70 takes the exact branch, the user's plan runs
    val (declined, d2) = planned(Search.topK(store, "vec", "id", qVec, 5,
      filters = Seq(col("id") % 10 === 0, col("id") % 7 === 0)))
    assert(probe.findFirstIn(declined).isEmpty, declined.take(1500))
    assert(d2 == 1, s"declined branch: expected 1 gate decision, got $d2")
    // hydrated and declined: the metadata predicate (sel 0.1) gates the
    // width past nList (a predicate on the key would be inferred onto the
    // store too, a shape the rule refuses without deciding)
    val (hydrated, d3) = planned(Search.topK(store.join(meta, col("id") === col("mid")),
      "vec", "id", qVec, 5, filters = Seq(col("grp") === 0)))
    assert(probe.findFirstIn(hydrated).isEmpty, hydrated.take(1500))
    assert(d3 == 1, s"hydrated declined branch: expected 1 gate decision, got $d3")
  }

  test("cardinalityGate boundaries: the cap, nothing passing, the hint's range") {
    val payload = spark.range(10).select(col("id"))
    val half    = col("id") < 5
    def decided[T](f: => T): (T, Long) = {
      val before = Search.gateDecisions.get()
      val out    = f
      (out, Search.gateDecisions.get() - before)
    }
    // IVF rule, cap = nList: base 2 at sel 0.5 widens to exactly 4 —
    // a 4-list probe covers everything, so the exact branch
    assert(decided(Search.cardinalityGate(payload, half, Double.NaN, 2, 4)) == ((None, 1L)))
    assert(Search.cardinalityGate(payload, half, Double.NaN, 2, 5).contains(4))
    // HNSW rule, cap = maxEf + 1: a widened beam of exactly maxEf stays
    // a beam, one past it is exact
    val maxEf = 4
    assert(Search.cardinalityGate(payload, half, Double.NaN, 2, maxEf + 1L).contains(maxEf))
    assert(Search.cardinalityGate(payload, half, Double.NaN, 3, maxEf + 1L).isEmpty)
    // nothing passes: the exact branch under either cap, even an unbounded one
    assert(decided(Search.cardinalityGate(payload, col("id") < 0, Double.NaN, 1, Long.MaxValue))
      == ((None, 1L)))
    assert(Search.widenedWidth(64, 0d, 4097L).isEmpty)
    // the population form: 5 allowed of a 20-row store is sel 0.25
    assert(Search.cardinalityGate(payload, half, Double.NaN, 1, 6,
      population = spark.range(20).toDF()).contains(4))
    // a hint picks the width without a scan; outside (0, 1] it is rejected
    assert(Search.cardinalityGate(payload, half, 0.25, 2, 100).contains(8))
    for (bad <- Seq(0d, -0.5, 1.5)) {
      val before = Search.gateDecisions.get()
      intercept[IllegalArgumentException](Search.cardinalityGate(payload, half, bad, 2, 100))
      assert(Search.gateDecisions.get() - before == 1)
    }
  }

  test("IvfAutoProbe: adaptiveMargin makes the injected base width geometry-aware (r16)") {
    // the declarative twin of searchAdaptive: with the margin conf set,
    // the injected probe's base width comes from the centroid-margin rule
    // instead of the fixed nProbe, and the gate still widens it by 1/sel
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-adaptauto")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    spark.conf.set("spark.graft.ivf.adaptiveMargin", "0.15")
    try {
      val w = model.adaptiveProbeLists(qVec, 0.15).length
      assume(w < 6, s"test geometry broke: adaptive width $w must stay below nList")
      // unfiltered: injected width = the adaptive width, values ≡ the
      // explicit searchAdaptive at the same margin
      val auto = Search.topK(indexed, "vec", "id", qVec, 5)
      val pf = "list_id#?\\d* IN \\(([^)]*)\\)".r
        .findFirstMatchIn(TestSpark.formattedPlan(auto)).map(_.group(1))
      assert(pf.exists(_.split(",").length == w),
        s"expected the adaptive $w-list probe, got $pf")
      val viaApi = Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.15)
      assert(auto.select("id", "score").collect().toSeq ==
        viaApi.select("id", "score").collect().toSeq,
        "declarative adaptive probe must equal the explicit searchAdaptive")
      // filtered (sel 0.5): the gate widens the ADAPTIVE base — values ≡
      // searchAdaptive's own gated form
      val bpred = col("id") % 2 === 0
      if (math.ceil(w / 0.5).toInt < 6) {
        val fAuto = Search.topK(indexed, "vec", "id", qVec, 5, filters = Seq(bpred))
        val fApi  = Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.15,
          filters = Seq(bpred))
        assert(fAuto.select("id", "score").collect().toSeq ==
          fApi.select("id", "score").collect().toSeq,
          "the gate must widen the adaptive base exactly like searchAdaptive")
      }
      // a margin wide enough to reach every list declines the injection —
      // the user's exact plan IS searchAdaptive's full-probe answer
      spark.conf.set("spark.graft.ivf.adaptiveMargin", "1e9")
      assert("list_id#?\\d* IN ".r
        .findFirstIn(TestSpark.formattedPlan(Search.topK(indexed, "vec", "id", qVec, 5))).isEmpty,
        "an all-lists margin must decline the injection")
    } finally {
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      spark.conf.unset("spark.graft.ivf.adaptiveMargin")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("knnJoinAdaptive: per-query geometry widths — batch ≡ per-query searchAdaptive (r16)") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-kja")
    val queries = corpus.where(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    val qvecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    def grouped(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.select("query_id", "neighbor_id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    // unfiltered: every query's batch rows equal ITS OWN searchAdaptive
    // at the same margin — tight queries probed few lists, boundary
    // queries widened, each by its own geometry
    val batch = grouped(Ivf.knnJoinAdaptive(indexed, model, queries,
      "qvec", "qid", "vec", "id", 5, 0.15, excludeSelf = false))
    for ((qid, qv) <- qvecs) {
      val solo = Ivf.searchAdaptive(indexed, model, "vec", "id", qv, 5, 0.15)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == solo, s"query $qid: batch adaptive must equal its solo searchAdaptive")
    }
    // filtered (sel 0.5): the gate widens each query's ADAPTIVE base; a
    // query whose widened cut reaches nList probes everything — exact
    // through the same plan, matching searchAdaptive's exact fallback
    val pred = col("id") % 2 === 0
    val fBatch = grouped(Ivf.knnJoinAdaptive(indexed, model, queries,
      "qvec", "qid", "vec", "id", 5, 0.15, excludeSelf = false,
      filters = Seq(pred), payload = indexed.select("id")))
    for ((qid, qv) <- qvecs) {
      val solo = Ivf.searchAdaptive(indexed, model, "vec", "id", qv, 5, 0.15,
        filters = Seq(pred))
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fBatch(qid) == solo, s"query $qid: filtered batch adaptive must equal its solo form")
      assert(fBatch(qid).forall(_._1 % 2 == 0))
    }
    // an all-lists margin makes the batch EXACT — equal to the brute join
    val exact = grouped(Ivf.knnJoinAdaptive(indexed, model, queries,
      "qvec", "qid", "vec", "id", 5, 1e9, excludeSelf = false))
    val brute = grouped(Search.knnJoin(queries, corpus, "qvec", "qid", "vec", "id", 5,
      excludeSelf = false))
    assert(exact == brute, "all-lists margin must equal the exact brute join")
    // a predicate nothing passes: the batch's one gate decision takes the
    // exact branch, which returns the empty, well-typed frame
    val before = Search.gateDecisions.get()
    val none = Ivf.knnJoinAdaptive(indexed, model, queries, "qvec", "qid", "vec", "id", 5, 0.15,
      filters = Seq(col("id") < 0), payload = indexed.select("id"))
    assert(none.columns.toSeq == Seq("query_id", "neighbor_id", "score", "rank") && none.count() == 0)
    assert(Search.gateDecisions.get() - before == 1, "one gate decision per batch")
    assert(!TestSpark.formattedPlan(none).contains("keys [1]: [list_id"),
      "a batch nothing passes takes the exact branch, not a fan-out joined to every list")
  }

  test("adaptive width bounds below 1 or crossed fail naming the parameter, never return no rows") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-kja")
    val queries = corpus.where(col("id") < 4).select(col("id").as("qid"), col("vec").as("qvec"))
    def rejects(name: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(name), e.getMessage)
    }
    for (filters <- Seq(Nil, Seq(col("id") % 2 === 0))) {
      rejects("maxProbe")(Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.15,
        maxProbe = 0, filters = filters).collect())
      rejects("maxProbe")(Ivf.knnJoinAdaptive(indexed, model, queries, "qvec", "qid", "vec", "id", 5, 0.15,
        maxProbe = 0, filters = filters, payload = indexed.select("id")).collect())
    }
    rejects("minProbe")(model.adaptiveProbeLists(qVec, 0.0, minProbe = 5, maxProbe = 2))
    rejects("minProbe")(Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.0,
      minProbe = 5, maxProbe = 2).collect())
  }

  test("an empty centroid set fails on every IVF-family entry point, never returns no rows") {
    val (indexed, _) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-kja")
    val empty   = Ivf.Model(Array.empty)
    val queries = corpus.where(col("id") < 4).select(col("id").as("qid"), col("vec").as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf-empty-pq").toString
    graft.operators.Pq.writeStore(corpus, "vec", "id", dir, nList = 6, m = 8, ksub = 16)
    val (codes, floats, _, pqm) = graft.operators.Pq.readStore(spark, dir)
    val calls: Seq[(String, () => Any)] = Seq(
      "search"         -> (() => Ivf.search(indexed, empty, "vec", "id", qVec, 5, 2).collect()),
      "searchAdaptive" -> (() => Ivf.searchAdaptive(indexed, empty, "vec", "id", qVec, 5, 0.15).collect()),
      "knnJoin"        -> (() => Ivf.knnJoin(indexed, empty, queries, "qvec", "qid", "vec", "id", 5, 2).collect()),
      "knnJoinAdaptive" -> (() =>
        Ivf.knnJoinAdaptive(indexed, empty, queries, "qvec", "qid", "vec", "id", 5, 0.15).collect()),
      "searchIvfPq"    -> (() => graft.operators.Pq.searchIvfPq(codes, floats, empty, pqm, "vec", "id",
        qVec, 5, 2).collect()),
      "knnJoinIvfPq"   -> (() => graft.operators.Pq.knnJoinIvfPq(codes, floats, empty, pqm, queries,
        "qvec", "qid", "vec", "id", 5, 2).collect()),
    )
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("empty centroid set"), s"$name: ${e.getMessage}")
    }
  }

  test("searchAdaptive: filters ride the same cardinality gate as search (ADVICE r14)") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-adaptgate")
    // geometry alone picks width w; a sel-0.5 predicate (exactly 150/300
    // even ids) must widen to ceil(w/0.5) = 2w nearest lists, not keep the
    // geometry width and eat the recall cliff
    val bpred = col("id") % 2 === 0
    val base  = model.adaptiveProbeLists(qVec, 0.0)
    val w2    = math.ceil(base.length / 0.5).toInt
    assert(w2 < 6, s"test geometry broke: widened $w2 must stay below nList")
    val broad = Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.0,
      filters = Seq(bpred))
    val expectLists = model.adaptiveProbeLists(qVec, 0.0, minProbe = w2, maxProbe = w2)
    val atWidth = Search.topK(indexed.where(col("list_id").isin(expectLists: _*)),
      "vec", "id", qVec, 5, Seq(bpred))
    assert(broad.select("id", "score").collect().toSeq ==
      atWidth.select("id", "score").collect().toSeq)
    assert(broad.select("id").as[Long].collect().forall(_ % 2 == 0))
    // selective (sel 5/300): widened past nList → exact brute force
    val spred = Seq(col("id") % 10 === 0, col("id") % 7 === 0)
    val ex    = Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.0, filters = spred)
    val truth = Search.topK(corpus.where(spred.reduce(_ && _)), "vec", "id", qVec, 5)
    assert(ex.select("id", "score").collect().toSeq ==
      truth.select("id", "score").collect().toSeq)
    // nothing passes → empty, not an error
    assert(Ivf.searchAdaptive(indexed, model, "vec", "id", qVec, 5, 0.0,
      filters = Seq(col("id") < 0)).count() == 0)
  }

  test("IvfAutoProbe: ranking a DIFFERENT vector column of the store must not prune") {
    // store indexed on "vec" but carrying a second 64-d column "vec2":
    // pruning a vec2 ranking with vec centroids would silently lose recall
    val two = corpus.withColumn("vec2", reverse(col("vec")))
    val (indexed, _) = Ivf.indexFor(two, "vec", 6, cacheKey = "ivfspec-twocol")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    try {
      val wrongCol = TestSpark.formattedPlan(Search.topK(indexed, "vec2", "id", qVec, 5))
        .linesIterator.find(_.contains("PartitionFilters"))
      assert(wrongCol.forall(!_.contains("IN (")), s"must not prune on the unindexed column: $wrongCol")
      val rightCol = TestSpark.formattedPlan(Search.topK(indexed, "vec", "id", qVec, 5))
        .linesIterator.find(_.contains("PartitionFilters")).get
      assert(rightCol.contains("list_id") && rightCol.contains("IN"), s"indexed column must still prune: $rightCol")
    } finally {
      spark.conf.unset("spark.graft.ivf.autoProbe")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("perQueryFiltered: one gate decision per predicate GROUP, per-group branch choice, loud unknown keys") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-pqf")
    val payload = corpus.select(col("id"), (col("id") % 10).as("grp"))
    val queries = corpus.where(col("id") < 12)
      .withColumn("acl", when(col("id") % 2 === 0, "sel").otherwise("broad"))
    val preds = Seq(
      "broad"  -> Seq(col("grp") < 8),
      "sel"    -> Seq(col("grp") === 0, col("id") % 7 === 0),
      "unused" -> Seq(col("grp") === 42),
    )
    def join(group: org.apache.spark.sql.DataFrame, filters: Seq[org.apache.spark.sql.Column]) =
      Ivf.knnJoin(indexed, model, group, "vec", "id", "vec", "id", 3, nProbe = 2,
        filters = filters, payload = payload, payloadIdCol = "id")
    val before = Search.gateDecisions.get()
    val got = Search.perQueryFiltered(queries, "acl", preds, join)
      .select(col("__pred"), col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // ≤ one gate decision per DISTINCT predicate group present in the
    // batch — 2 here (the unused group costs nothing), never per query (12)
    val decisions = Search.gateDecisions.get() - before
    assert(decisions == 2, s"expected 2 gate decisions (one per present group), got $decisions")
    // value parity: each group IS the family call on its query slice
    val wantBroad = join(queries.where(col("acl") === "sel").limit(0).unionByName(
      queries.where(col("acl") === "broad")), preds(0)._2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => ("broad", r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantSel = join(queries.where(col("acl") === "sel"), preds(1)._2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => ("sel", r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == wantBroad ++ wantSel)
    // every broad-group hit honors ITS filter, every sel-group hit ITS own
    assert(got.collect { case ("broad", _, n, _) => n }.forall(_ % 10 < 8))
    assert(got.collect { case ("sel", _, n, _) => n }.forall(n => n % 10 == 0 && n % 7 == 0))
    // a query key with no predicate entry fails loudly
    val ex = intercept[IllegalArgumentException] {
      Search.perQueryFiltered(
        queries.withColumn("acl", lit("mystery")), "acl", preds, join).count()
    }
    assert(ex.getMessage.contains("mystery"))
  }

  test("Ivf.knnJoin: full-probe batch ANN equals the brute-force knn join; pruned keeps recall") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec-knn")
    val queries = corpus.where(col("id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        round(col("score"), 9), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    // probing every list = the brute-force join, bit-for-bit (same scoring
    // expression, same partial top-k, same tie rule)
    val full  = rows(Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 3, nProbe = 6))
    val brute = rows(Search.knnJoin(queries, corpus, "vec", "id", "vec", "id", 3))
    assert(full == brute)
    // pruned probes trade recall for the |q|·n·(nProbe/nList) candidate cap
    val pruned = Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 3, nProbe = 2)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    assert(pruned.intersect(bruteIds).size >= bruteIds.size / 2,
      s"2/6-probe recall collapsed: ${pruned.intersect(bruteIds).size}/${bruteIds.size}")
    // every query keeps k results (probed lists are never empty here)
    assert(pruned.groupBy(_._1).forall(_._2.size == 3))
    // at the pruned width each query's batch rows ARE its own Ivf.search
    // rows — unfiltered, and with a payload filter that widens the probe
    // (sel 0.8: ceil(2/0.8) = 3 of 6 lists, one decision for the batch)
    val payload = corpus.select(col("id"), (col("id") % 10).as("grp"))
    val qvecs = queries.select(col("id"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    for (filters <- Seq(Nil, Seq(col("grp") < 8))) {
      val p = if (filters.isEmpty) null else payload
      val batch = Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 3, nProbe = 2,
        excludeSelf = false, filters = filters, payload = p)
        .select("query_id", "neighbor_id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
      for ((qid, qv) <- qvecs) {
        val solo = Ivf.search(indexed, model, "vec", "id", qv, 3, 2, filters = filters, payload = p)
          .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == solo, s"query $qid (filters $filters): batch rows must equal its solo search")
      }
    }
  }

  test("streamInto: micro-batches append into the live store; probes see new rows without a rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ivf-stream").toString
    // store born empty from the stream: sidecar first, data as batches arrive
    val (_, model) = Ivf.assign(corpus, "vec", 6)
    val mem = MemoryStream[(Long, Seq[Double])]
    // availableNow snapshots offsets at start — a MemoryStream fed after
    // start needs the continuous trigger + processAllAvailable
    val q = Ivf.streamInto(mem.toDF().toDF("id", "vec"), model, "vec", s"$tmp/store", s"$tmp/ckpt",
      availableNow = false)
    mem.addData(corpus.where(col("id") < 200).select("id", "vec").as[(Long, Seq[Double])].collect().toSeq: _*)
    q.processAllAvailable()
    // second micro-batch: one vector crafted to be the query's nearest
    mem.addData((9999L, qVec))
    q.processAllAvailable()
    q.stop()
    val store = spark.read.parquet(s"$tmp/store")
    assert(store.count() == 201)
    val hits = Ivf.search(store, model, "vec", "id", qVec, 3, 2)
    assert(hits.select("id").as[Long].collect().head == 9999L, "streamed row must be probe-visible")
    val pf = TestSpark.formattedPlan(hits).linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("list_id") && pf.contains("IN"), s"streamed store must still partition-prune: $pf")
    // the stream-born store is self-describing: the auto-probe rule fires on it
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.ivf.autoProbe", "true")
    try {
      val auto = TestSpark.formattedPlan(Search.topK(store, "vec", "id", qVec, 3))
        .linesIterator.find(_.contains("PartitionFilters")).get
      assert(auto.contains("IN"), s"sidecar written by streamInto must enable auto-probe: $auto")
    } finally {
      spark.conf.unset("spark.graft.ivf.autoProbe")
      classic.experimental.extraOptimizations = Nil
    }

    // compaction: the two micro-batches left >1 file in some list dir;
    // afterwards every list holds one file, rows/sidecar/probe survive
    def filesPerList(p: String): Map[String, Int] =
      new java.io.File(p).listFiles().filter(_.getName.startsWith("list_id=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    assert(filesPerList(s"$tmp/store").values.exists(_ > 1), "stream appends should fragment at least one list")
    assert(Ivf.compact(spark, s"$tmp/store") == 201L)
    assert(filesPerList(s"$tmp/store").values.forall(_ == 1), s"compaction must leave one file per list: ${filesPerList(s"$tmp/store")}")
    val afterHits = Ivf.search(spark.read.parquet(s"$tmp/store"), model, "vec", "id", qVec, 3, 2)
    assert(afterHits.select("id").as[Long].collect().head == 9999L)
    assert(Ivf.readCentroids(s"$tmp/store", spark.sparkContext.hadoopConfiguration).exists(_.column.contains("vec")),
      "sidecar (with its column claim) must survive compaction")
  }

  /** `df` with `list_id` = the first centroid of `model` minimising
    * `v·v − 2·v·c + c·c`, in Spark built-ins (sequential dot products), as
    * the DuckDB oracle replays the argmin. */
  private def builtinArgmin(df: org.apache.spark.sql.DataFrame, model: Ivf.Model, vecCol: String) = {
    val v = col(vecCol).cast("array<double>")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val dists = array(model.centroids.toIndexedSeq.map { c =>
      dot(v, v) - lit(2.0) * dot(v, typedLit(c.toSeq)) + lit(c.map(x => x * x).sum)
    }: _*)
    df.withColumn("list_id", (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  test("withListId: large-model mapPartitions path assigns identically to the codegen'd expression") {
    val (_, model) = Ivf.assign(corpus, "vec", 6)
    // a 46-list model: the fitted centroids tiled with far-away ghosts, so
    // argmin still lands on the original 6
    val ghosts = (0 until 40).map(g => model.centroids(g % 6).map(_ + 1000.0 * (g + 1)))
    val big    = Ivf.Model(model.centroids ++ ghosts)
    for (m <- Seq(model, big)) {
      def lists(df: org.apache.spark.sql.DataFrame) = df.select("id", "list_id").as[(Long, Int)].collect().toMap
      assert(lists(Ivf.withListId(corpus, m, "vec")) == lists(builtinArgmin(corpus, m, "vec")),
        s"${m.centroids.length} lists")
    }
  }

  test("operators/Ivf.scala is the only file in src/main/scala that picks a list") {
    import java.nio.file.{Files, Paths}
    val files = Files.walk(Paths.get("src/main/scala")).toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
      .filter(_.toString.endsWith(".scala"))
    def has(p: java.nio.file.Path, mark: String) = new String(Files.readAllBytes(p), "UTF-8").contains(mark)
    val nearest = files.filter(p => !p.endsWith(Paths.get("graft/operators/Ivf.scala")) && has(p, ".nearest("))
    val mllib   = files.filter(has(_, "setPredictionCol(\"list_id\")"))
    assert(nearest.isEmpty, s"Model.nearest called outside operators/Ivf: ${nearest.mkString(", ")}")
    assert(mllib.isEmpty, s"lists assigned by an MLlib model: ${mllib.mkString(", ")}")
  }

  test("int8-code stores are first-class: both assignment paths match the cast-double corpus") {
    // an IVF-SQ store holds array<int> codes, never floats; assignment and
    // probing must treat it exactly like the same values as doubles
    val codes = graft.operators.Quant.sq8Table(corpus, "vec").select(col("id"), col("codes"))
    val asDbl = codes.select(col("id"), col("codes").cast("array<double>").as("codes"))
    val (_, model) = Ivf.assign(asDbl, "codes", 6)
    val viaInt = Ivf.withListId(codes, model, "codes")
      .select("id", "list_id").as[(Long, Int)].collect().toMap
    val viaDbl = Ivf.withListId(asDbl, model, "codes")
      .select("id", "list_id").as[(Long, Int)].collect().toMap
    assert(viaInt == viaDbl)
    // and at 46 lists
    val ghosts = (0 until 40).map(g => model.centroids(g % 6).map(_ + 1000.0 * (g + 1)))
    val big    = Ivf.Model(model.centroids ++ ghosts)
    val bigInt = Ivf.withListId(codes, big, "codes")
      .select("id", "list_id").as[(Long, Int)].collect().toMap
    val bigDbl = Ivf.withListId(asDbl, big, "codes")
      .select("id", "list_id").as[(Long, Int)].collect().toMap
    assert(bigInt == bigDbl)
  }

  test("index handle holds no persisted corpus (store path + centroids only)") {
    val (indexed, _) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec")
    assert(indexed.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(indexed.where(col("list_id") >= 0).count() == 300)
  }

  test("probeLists stays linear in dim for non-indexed Seq queries (the knnJoin fan-out shape)") {
    // The typed fan-out in knnJoin hands probeLists whatever Seq the Dataset
    // deserializer produces. Indexing such a Seq per element inside the
    // distance loop made each call O(dim²) — measured ~2.4 s PER QUERY at
    // 768-d × 158 centroids (the 768-d tier caught it: 210 s for 64
    // queries). List is the worst-case O(i)-apply input; 20 calls in
    // well under 5 s proves the query is materialized once.
    val dim       = 768
    val centroids = Array.tabulate(200)(j => Array.tabulate(dim)(i => ((j * 31 + i * 7) % 97) / 97.0))
    val model     = Ivf.Model(centroids)
    val q: Seq[Double] = List.tabulate(dim)(i => (i % 13) / 13.0)
    val t0    = System.nanoTime()
    val lists = (0 until 20).map(_ => model.probeLists(q, 10))
    val sec   = (System.nanoTime() - t0) / 1e9
    assert(lists.forall(_ == lists.head) && lists.head.length == 10)
    assert(lists.head == model.probeLists(q.toArray.toSeq, 10), "result independent of Seq runtime type")
    assert(sec < 5.0, f"probeLists too slow: $sec%.2f s for 20 calls — O(dim²) regression?")
  }

  test("applyDelta invariants under randomized deltas: row set algebra holds, assignments stay canonical, duplicates rejected") {
    // 5 seeded random rounds against one evolving store: after each delta,
    // ids == (prev - removed - addedIds) ∪ addedIds, every stored row's
    // list_id equals the model's assignment of its vector (no row ever
    // lands in a foreign list), and vectors of upserted ids are the NEW ones
    val dir = java.nio.file.Files.createTempDirectory("ivf_delta_prop").toString + "/store"
    val (assigned0, model) = Ivf.assign(corpus, "vec", 6)
    Ivf.writeIndexed(assigned0, dir, model, "vec")
    var expect: Map[Long, Seq[Float]] =
      corpus.as[(Long, Seq[Float])].collect().toMap
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 5) {
      val ids = expect.keys.toSeq.sorted
      val removed = rnd.shuffle(ids).take(1 + rnd.nextInt(20))
      val changed = rnd.shuffle(ids.filterNot(removed.contains)).take(rnd.nextInt(10))
        .map(id => (id, Embedder.default.embed(s"changed $id round $round").toSeq))
      val freshIds = (0 until 1 + rnd.nextInt(8)).map(_ => 10000L * round + rnd.nextInt(1000))
        .distinct.filterNot(expect.contains)
      val fresh = freshIds.map(id => (id, Embedder.default.embed(s"fresh $id").toSeq))
      val added = (changed ++ fresh).toDF("id", "vec")
      val touched = Ivf.applyDelta(spark, dir, removed.toDF("id"), added, "id")
      assert(touched >= 0 && touched <= 6)
      expect = expect -- removed ++ changed ++ fresh
      val store = spark.read.parquet(dir)
      val got = store.select(col("id"), col("vec").cast("array<float>"), col("list_id"))
        .as[(Long, Seq[Float], Int)].collect()
      assert(got.map(_._1).toSet == expect.keySet,
        s"round $round: missing=${expect.keySet -- got.map(_._1)} extra=${got.map(_._1).toSet -- expect.keySet}")
      got.foreach { case (id, v, _) => assert(v == expect(id), s"round $round id $id stale vector") }
      // canonical assignment: re-running the model's assignment on the
      // stored vectors reproduces the stored list_id for every row
      val reassigned = Ivf.withListId(
        store.select(col("id"), col("vec")).withColumnRenamed("list_id", "x"), model, "vec")
        .select(col("id"), col("list_id"))
        .withColumnRenamed("list_id", "want")
      val mismatches = store.select("id", "list_id").join(reassigned, "id")
        .where(col("list_id") =!= col("want")).count()
      assert(mismatches == 0, s"round $round: $mismatches rows in foreign lists")
    }
    // duplicate ids inside `added` fail loudly instead of writing twice
    val dup = Seq((1L, Embedder.default.embed("a").toSeq), (1L, Embedder.default.embed("b").toSeq)).toDF("id", "vec")
    val err = intercept[IllegalArgumentException](
      Ivf.applyDelta(spark, dir, spark.emptyDataFrame.select(lit(0L).as("id")).limit(0), dup, "id"))
    assert(err.getMessage.contains("duplicate"))
  }

  test("filtered knnJoin: widened probe equals probe-then-filter by hand; full-widening routes exact; empty predicate is empty") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "ivfspec")
    val payload = (0L until 300L).map(i => (i, (i % 4).toInt, i % 37 == 0))
      .toDF("id", "grp", "rare")
    val queries = corpus.where(col("id") % 31 === 0)
    // broad (sel 0.75), nProbe=2 → widened ceil(2/0.75)=3 < 6 → probe path
    val got = Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 5, nProbe = 2,
      filters = Seq(col("grp") >= 1), payload = payload, payloadIdCol = "id")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got.forall { case (_, n, _) => n % 4 >= 1 }, "disallowed neighbors surfaced")
    // hand replay: per query, rows of the 3 probed lists, allowed, != self,
    // cosine top-5 with (score desc, id) ties
    val rows = Ivf.withListId(corpus, model, "vec")
      .select(col("id"), col("vec").cast("array<double>"), col("list_id"))
      .as[(Long, Seq[Double], Long)].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val qRows = queries.select(col("id"), col("vec").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val want = qRows.flatMap { case (qid, qv) =>
      val probed = model.probeLists(qv, 3).toSet
      rows.filter { case (nid, _, lid) =>
        probed.contains(lid.toInt) && nid % 4 >= 1 && nid != qid
      }.map { case (nid, nv, _) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, s) => (-s, nid) }.take(5).zipWithIndex
        .map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet
    assert(got == want, s"probe-then-filter diverged:\n${(got diff want).take(5)} vs ${(want diff got).take(5)}")
    // selective: widened ≥ nList → exact brute force over survivors
    val exact = Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 5, nProbe = 2,
      filters = Seq(col("rare")), payload = payload, payloadIdCol = "id")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bruteRare = qRows.flatMap { case (qid, qv) =>
      rows.filter { case (nid, _, _) => nid % 37 == 0 && nid != qid }
        .map { case (nid, nv, _) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, s) => (-s, nid) }.take(5).zipWithIndex
        .map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet
    assert(exact == bruteRare, "exact-branch filtered batch join diverged")
    // a predicate nothing passes returns an empty, well-typed frame
    val none = Ivf.knnJoin(indexed, model, queries, "vec", "id", "vec", "id", 5, nProbe = 2,
      filters = Seq(col("grp") === 99), payload = payload, payloadIdCol = "id")
    assert(none.columns.toSeq == Seq("query_id", "neighbor_id", "score", "rank")
      && none.count() == 0)
  }

  test("maintain: closes the driftStats loop — planted far-ball skew triggers refit (content preserved), balanced store is a noop") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_maintain").toString + "/store"
    val (assigned, model) = Ivf.assign(corpus, "vec", 4)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    // fresh 4-list fit on the 5-topic corpus: list sizes are uneven but far
    // from pathological — under a skewMax sized to the list count, noop
    val r0 = Ivf.maintain(spark, dir, skewMax = 3.9).collect().head
    assert(r0.getString(0) == "noop", s"$r0")
    // plant drift: 600 rows in a tiny ball around the all-20s point (the
    // v35 device) — every addition lands in ONE nearest stale list, so
    // skew ≥ 4·600/900 ≈ 2.67 > 2 independent of the fit geometry
    // truncated back to float: the store's vec column is array<float>, and
    // a double batch would write mixed-type parquet partitions
    def farCopy(off: Long) = corpus.select((col("id") + off).as("id"),
      transform(col("vec").cast("array<double>"), x => x * lit(0.01) + lit(20.0))
        .cast("array<float>").as("vec"))
    Ivf.applyDelta(spark, dir, corpus.limit(0).select("id"),
      farCopy(10000L).unionByName(farCopy(20000L)), "id")
    val idsBefore = spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
    val r1 = Ivf.maintain(spark, dir, skewMax = 2.0).collect().head
    assert(r1.getString(0) == "refit" && r1.getInt(1) == 4 && r1.getLong(2) == 900L, s"$r1")
    assert(r1.getDouble(3) > 2.0, s"reported skew must exceed the threshold: $r1")
    val idsAfter = spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
    assert(idsAfter == idsBefore, "maintain's refit must preserve the store's content exactly")
    // the refitted centroids give the far ball its own list(s): the hot
    // list no longer holds ALL additions, so measured skew strictly drops
    val r2 = Ivf.maintain(spark, dir, skewMax = 1e9).collect().head
    assert(r2.getDouble(3) < r1.getDouble(3),
      s"refit must reduce assignment skew: ${r1.getDouble(3)} -> ${r2.getDouble(3)}")
  }

  test("drift lifecycle: shifted-distribution churn decays pruned recall + inflates driftStats; refit restores both") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_refit").toString + "/store"
    // four well-separated base clusters; churn later adds a FIFTH cluster
    // midway between c1 and c2 — under the stale centroids its points
    // split across two lists by jitter parity, so an nProbe=1 probe sees
    // only half the true neighbors
    val centers = Array(
      Array(10.0, 0, 0, 0, 0, 0, 0, 0), Array(0.0, 10, 0, 0, 0, 0, 0, 0),
      Array(0.0, 0, 10, 0, 0, 0, 0, 0), Array(0.0, 0, 0, 10, 0, 0, 0, 0))
    def basePt(i: Int): Seq[Double] = {
      val v = centers(i % 4).clone()
      v((i % 2) * 4 + 2) += 0.3 + (i % 5) * 0.1 // jitter off the probe dims
      v.toSeq
    }
    // the drifted cluster sits midway between c1 and c2: a ±0.2 parity
    // offset on dims 0/1 decides WHICH stale list a point lands in (even →
    // c1's, odd → c2's) without affecting its cosine to the (10,10,0,…)
    // query (symmetric), while dim 2 carries the ranking: consecutive id
    // pairs share an exact epsilon, so the true top-10 is five even/odd
    // PAIRS — guaranteed split across both stale lists
    def driftPt(i: Int): Seq[Double] = {
      val v = Array(10.0, 10, 0, 0, 0, 0, 0, 0)
      v(i % 2) += 0.05 // big enough to decide the stale list, small enough
      // that a refit split (if any) cuts along the wider dim-2 spread —
      // which keeps the top-10 (lowest-epsilon pairs) co-located
      v(2) = 0.05 + ((i / 2) % 50) * 0.01
      v.toSeq
    }
    val base = (0 until 400).map(i => (i.toLong, basePt(i))).toDF("id", "vec")
    // build with the exact cluster centers as the model — the baseline is
    // a HEALTHY index by construction, so every later drift measurement is
    // against a clean reference, not a fit's local optimum
    val baseModel = Ivf.Model(centers.map(_.clone()))
    Ivf.writeIndexed(Ivf.withListId(base, baseModel, "vec"), dir, baseModel, "vec")
    def corpusMeanDist(): Double = {
      val rows = Ivf.driftStats(spark, dir).select("n", "mean_dist")
        .as[(Long, Double)].collect()
      rows.map { case (n, d) => n * d }.sum / rows.map(_._1).sum
    }
    def occupancySkew(): Double = {
      val ns = Ivf.driftStats(spark, dir).select("n").as[Long].collect()
      ns.max.toDouble / (ns.sum.toDouble / ns.length)
    }
    val baseDist = corpusMeanDist()

    // drifted-churn SEQUENCE: two delta rounds, each thinning every base
    // cluster evenly (never deleting one outright) while adding points
    // from the shifted distribution — applyDelta keeps the stale centroids
    // throughout
    Ivf.applyDelta(spark, dir,
      (0 until 400).filter(_ % 8 < 2).map(_.toLong).toDF("id"),
      (0 until 100).map(i => (1000L + i, driftPt(i))).toDF("id", "vec"), "id")
    Ivf.applyDelta(spark, dir,
      (0 until 400).filter(i => i % 8 == 2 || i % 8 == 3).map(_.toLong).toDF("id"),
      (0 until 100).map(i => (2000L + i, driftPt(100 + i))).toDF("id", "vec"), "id")
    val driftedDist = corpusMeanDist()
    assert(driftedDist > 4 * baseDist,
      s"drifted corpus must sit far from the stale centroids: $baseDist -> $driftedDist")

    val q = Seq(10.0, 10, 0, 0, 0, 0, 0, 0)
    val current = spark.read.parquet(dir).select(col("id"), col("vec"))
    val want = Search.topK(current, "vec", "id", q, 10).select("id").as[Long].collect().toSet
    def recallAt1Probe(): Int = {
      val st = Ivf.readCentroids(dir, spark.sparkContext.hadoopConfiguration).get
      Ivf.search(spark.read.parquet(dir), st.model, "vec", "id", q, 10, 1)
        .select("id").as[Long].collect().count(want)
    }
    val decayed = recallAt1Probe()
    assert(decayed <= 7,
      s"stale centroids must split the drifted cluster across lists: recall $decayed/10")

    // refit with a list budget that gives the new cluster its own centroid
    val before = current.as[(Long, Seq[Double])].collect().toMap
    Ivf.refit(spark, dir, nList = 8)
    val after = spark.read.parquet(dir).select(col("id"), col("vec"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(after == before, "refit must preserve the store's content exactly")
    val refitDist = corpusMeanDist()
    // the fit is lloydFit from seeded random init: it reliably gives the
    // drifted cluster its own centroid(s) but may still merge a pair of
    // small far blobs, so the guarantee asserted is a >2x drift-signal
    // reduction, not a perfect fit
    assert(refitDist < driftedDist / 2,
      s"refit must collapse the drift signal: $baseDist -> $driftedDist -> $refitDist")
    assert(occupancySkew() < 3.0, s"refit must restore list balance: skew ${occupancySkew()}")
    val restored = recallAt1Probe()
    assert(restored == 10, s"refit must restore nProbe=1 recall: $decayed/10 -> $restored/10")
  }

  test("applyDelta evaluates `added` once: one aggregate serves the duplicate guard, the gate and the gaining lists") {
    // the caller's `added` lineage (chunk → embed in the ingest path) runs
    // once per call: every added row passes through this counter exactly
    // once, however many checks and joins the upsert makes of it
    val dir = java.nio.file.Files.createTempDirectory("ivf_delta_once").toString + "/store"
    val (assigned0, model) = Ivf.assign(corpus, "vec", 6)
    Ivf.writeIndexed(assigned0, dir, model, "vec")
    val evals = spark.sparkContext.longAccumulator("added rows evaluated")
    val src = ((0L until 5L).map(i => (i * 7, Embedder.default.embed(s"changed $i").toSeq)) ++
      (0L until 15L).map(i => (5000L + i, Embedder.default.embed(s"fresh $i").toSeq))).toDF("id", "vec")
    val added = src.mapPartitions { it => it.map { r => evals.add(1L); r } }(
      org.apache.spark.sql.Encoders.row(src.schema))
    val touched = Ivf.applyDelta(spark, dir, Seq(100L, 101L).toDF("id"), added, "id")
    assert(evals.value == 20L, s"added evaluated ${evals.value / 20.0} times per row, want exactly once")
    assert(touched >= 1 && touched <= 6)
    val ids = spark.read.parquet(dir).select("id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "an upsert must not duplicate its id")
    assert(ids.toSet == (0L until 300L).toSet - 100L - 101L ++ (5000L until 5015L))
  }

  test("applyDelta: added rows with a null id fail loudly naming the id column, one row or two") {
    // without the guard one such row committed under a null id and two
    // failed as "duplicate ids"
    val dir = java.nio.file.Files.createTempDirectory("ivf_null_id").toString + "/store"
    val (assigned0, model) = Ivf.assign(corpus, "vec", 6)
    Ivf.writeIndexed(assigned0, dir, model, "vec")
    val conf   = spark.sparkContext.hadoopConfiguration
    val before = Store.token(conf, dir)
    for (n <- Seq(1, 2)) {
      val added = corpus.limit(n).select(lit(null).cast("long").as("id"), col("vec"))
      val ex = intercept[IllegalArgumentException](
        Ivf.applyDelta(spark, dir, Seq.empty[Long].toDF("id"), added, "id"))
      assert(ex.getMessage.contains("null id") && ex.getMessage.contains("(column id)"), ex.getMessage)
    }
    assert(Store.token(conf, dir) == before, "a rejected delta commits nothing")
    assert(spark.read.parquet(dir).count() == 300L)
  }

  test("applyDelta's delta join is size-gated: small deltas broadcast, a bulk purge degrades to a shuffled join") {
    // plan shape, both branches: under the row cap the hint forces a
    // BroadcastHashJoin; over it the hint is withheld and (the delta being
    // past autoBroadcastJoinThreshold too) the join shuffles instead of
    // materializing a corpus-scale delta on the driver
    val probe = spark.range(1000).select(col("id"), (col("id") % 7).cast("int").as("list_id"))
    val small = spark.range(100).toDF("id")
    val smallJoin = probe.join(Ivf.gatedBroadcast(small, 100L), Seq("id"), "left_semi")
    assert(smallJoin.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val bulkRows = Ivf.BroadcastDeltaMaxRows + 1
    val bulk = spark.range(bulkRows).toDF("id")
    val bulkJoin = probe.join(Ivf.gatedBroadcast(bulk, bulkRows), Seq("id"), "left_semi")
    bulkJoin.count() // materialize so AQE's final plan is inspectable
    val bulkPlan = bulkJoin.queryExecution.executedPlan.toString
    assert(!bulkPlan.contains("BroadcastHashJoin"), bulkPlan.take(800))

    // end-to-end: a bulk purge (delta FAR past the broadcast cap, ids
    // mostly absent from the store) runs through the shuffled branch and
    // still removes exactly the stored ids it names
    val dir = java.nio.file.Files.createTempDirectory("ivf_bulk_purge").toString + "/store"
    val (assigned, model) = Ivf.assign(corpus, "vec", 6)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    val before = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    // 4M+1 absent ids + the 150 real victims: count > cap, so the purge
    // takes the shuffled branch
    val purge = spark.range(bulkRows).select((col("id") + 10000L).as("id"))
      .union(spark.range(150).toDF("id"))
    val none = spark.emptyDataFrame.select(lit(0L).as("id"), typedLit(Seq.empty[Float]).as("vec")).limit(0)
    Ivf.applyDelta(spark, dir, purge, none, "id")
    val after = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(after == before.filter(_ >= 150), s"bulk purge must drop exactly ids<150: kept ${after.size}")
  }

  test("recoverDeltaSwap: a partition deleted mid-swap is restored from staging; emptied partitions stay deleted") {
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("ivf_recover").toString + "/store")
    val tmp = new org.apache.hadoop.fs.Path(root.toString + ".delta")
    val fs  = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def touch(p: org.apache.hadoop.fs.Path): Unit = {
      fs.mkdirs(p); fs.create(new org.apache.hadoop.fs.Path(p, "part-0.parquet")).close()
    }
    def markStaged(): Unit =
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    // live store had lists 0 and 1; the crashed delta: emptied list 0
    // (deleted, no replacement), was replacing list 1 (deleted, its only
    // copy still under staging), and was adding list 2 (never existed
    // live, replacement under staging). Crash hit after the deletes —
    // staging had COMMITTED (_SUCCESS present), so recovery renames.
    touch(new org.apache.hadoop.fs.Path(tmp, "list_id=1"))
    touch(new org.apache.hadoop.fs.Path(tmp, "list_id=2"))
    markStaged()
    fs.mkdirs(root)
    Store.recover(spark.sparkContext.hadoopConfiguration, root.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "list_id=1")),
      "replaced partition must be restored from staging")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "list_id=2")),
      "new partition must complete its rename")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "list_id=0")),
      "deliberately emptied partition must stay deleted")
    assert(!fs.exists(tmp), "staging dir must be cleared after recovery")
    // live partitions are never overwritten by stale staging copies
    touch(new org.apache.hadoop.fs.Path(root, "list_id=5"))
    val marker = new org.apache.hadoop.fs.Path(root, "list_id=5/live-marker")
    fs.create(marker).close()
    touch(new org.apache.hadoop.fs.Path(tmp, "list_id=5"))
    markStaged()
    Store.recover(spark.sparkContext.hadoopConfiguration, root.toString)
    assert(fs.exists(marker), "an existing live partition must win over staging")
    assert(!fs.exists(tmp))
    // a crash MID-STAGING (no _SUCCESS marker: some task outputs committed,
    // some not) must never install partial partition dirs into the live
    // store — even where the live twin is missing — only clear staging
    touch(new org.apache.hadoop.fs.Path(tmp, "list_id=7"))
    Store.recover(spark.sparkContext.hadoopConfiguration, root.toString)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "list_id=7")),
      "partial (uncommitted) staging output must not reach the live store")
    assert(!fs.exists(tmp), "incomplete staging dir must still be cleared")
  }

  test("applyDelta's staging write leaves the _SUCCESS marker recovery gates on") {
    // the recovery contract depends on Spark's job-commit marker being ON
    // for staging writes — pin that the session actually produces it
    val dir = java.nio.file.Files.createTempDirectory("ivf_succ").toString + "/store"
    val rows = (0L until 40L).map(i => (i, Seq.tabulate(8)(j => ((i * 7 + j) % 11).toFloat)))
      .toDF("id", "vec")
    val (assigned, model) = Ivf.assign(rows, "vec", 2)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    val staged = rows.limit(4).write.mode("overwrite").parquet(dir + ".probe")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + ".probe", "_SUCCESS")),
      "session writes must emit _SUCCESS (mapreduce.fileoutputcommitter.marksuccessfuljobs) " +
        "or crashed-swap recovery can never engage")
  }

  test("assertCommitMarker fails LOUDLY on a markerless staging dir, before any live dir is touched") {
    // a session with marksuccessfuljobs=false must be rejected at WRITE
    // time: its crashed swaps would otherwise take the no-marker recovery
    // path and clear staging holding the only copy of a deleted partition
    val tmp = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("ivf_marker").toString + "/store.delta")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "list_id=0"))
    val ex = intercept[IllegalStateException](Store.assertCommitMarker(fs, tmp))
    assert(ex.getMessage.contains("marksuccessfuljobs"))
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    Store.assertCommitMarker(fs, tmp) // with the marker: no-op
  }

  test("clusterByDir AQE-off fallback salts within a list only when the write is large") {
    val s2 = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // small write (stats well under the advisory size): plain list_id
    // partitioning, one task per list, no salt expression in the plan
    val small = s2.range(10).selectExpr("id % 4 as list_id", "id")
    val plainPlan = Ivf.clusterByDir(small).queryExecution.logical.toString
    assert(!plainPlan.contains("xxhash64"), plainPlan.take(500))
    // large write (advisory shrunk below the stats estimate): the
    // repartition key must become (list_id, pmod(xxhash64(...), n)) so a
    // hot list cannot serialize one writer task
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64")
    val salted = Ivf.clusterByDir(s2.range(1000).selectExpr("id % 4 as list_id", "id"))
    val saltedPlan = salted.queryExecution.logical.toString
    assert(saltedPlan.contains("xxhash64") && saltedPlan.contains("pmod"), saltedPlan.take(500))
    s2.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    // rows are only relocated, never changed: same multiset either way
    assert(salted.groupBy("list_id").count().orderBy("list_id").collect().toSeq ==
      small.sparkSession.range(1000).selectExpr("id % 4 as list_id", "id")
        .groupBy("list_id").count().orderBy("list_id").collect().toSeq)
  }

  test("readCentroids: cold readers of one version share one parse of the sidecar; a commit brings a new one") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_sidecar").toString + "/store"
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 400L).map(i => (i, Seq.fill(768)(rnd.nextFloat() - 0.5f))).toDF("id", "vec")
    val (assigned, model) = Ivf.assign(vecs, "vec", 40)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    val conf  = spark.sparkContext.hadoopConfiguration
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool  = java.util.concurrent.Executors.newFixedThreadPool(4)
    val read  = try {
      val fs = (0 until 4).map(_ => pool.submit(() => { start.await(); Ivf.readCentroids(dir, conf).get }))
      start.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    assert(read.forall(_ eq read.head), "every cold reader of one version gets the one parsed index")
    assert(Ivf.readCentroids(dir, conf).get eq read.head)
    Ivf.applyDelta(spark, dir, Seq(0L).toDF("id"), vecs.limit(0), "id")
    assert(!(Ivf.readCentroids(dir, conf).get eq read.head), "a commit is a new version, parsed again")
  }
}

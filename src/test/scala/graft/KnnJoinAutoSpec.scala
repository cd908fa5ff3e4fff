package graft

import graft.operators.{Embedder, Hnsw, Ivf, Pq, Search}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Declarative batch ANN (round 16, VERDICT r15 task 1): the per-query
  * top-k window over a queries × store cross join must rewrite to the
  * store family's gated batch join — and refuse everything that is not
  * exactly that shape.
  */
class KnnJoinAutoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus =
    (0L until 400L).map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 7}").map(_.toDouble).toSeq))
      .toDF("id", "vec")

  private lazy val queries =
    (0L until 8L).map(q => (q, Embedder.default.embed(s"probe topic $q").map(_.toDouble).toSeq))
      .toDF("qid", "qvec")

  /** The user's declarative batch shape over `store` (vecCol = the store's
    * vector column name). Tiebreak on the store id, the families' order.
    */
  private def declarative(store: org.apache.spark.sql.DataFrame, vecCol: String,
      idCol: String, k: Int, preds: Seq[org.apache.spark.sql.Column] = Nil) = {
    val w = Window.partitionBy("qid").orderBy(desc("score"), col(idCol))
    val base = preds.foldLeft(store)((df, p) => df.where(p))
    queries.crossJoin(base)
      .withColumn("score", graft.functions.VectorExpressions.cosineFast(
        col(vecCol).cast("array<double>"), col("qvec").cast("array<double>")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", idCol, "score", "rank")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def famRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def withRule[T](confs: (String, String)*)(body: => T): T = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("IVF store: the window shape becomes the gated batch join (exact + pruned legs)") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "6") {
      // exhaustive probe (nProbe = nList): the substitution is EXACT, so
      // its values must equal the user's own cartesian-window plan
      val auto = declarative(indexed, "vec", "id", 5)
      val plan = TestSpark.formattedPlan(auto)
      assert(!plan.contains("Window"), s"window must be substituted:\n${plan.take(1200)}")
      val truth = withRuleOff { rows(declarative(indexed, "vec", "id", 5)) }
      assert(rows(auto) == truth, "exhaustive-probe substitution must be value-exact")
      // pruned probe: rule ≡ the explicit gated knnJoin at the same width
      spark.conf.set("spark.graft.ivf.nProbe", "2")
      val pruned = rows(declarative(indexed, "vec", "id", 5))
      val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 5, 2, excludeSelf = false))
      assert(pruned == viaApi, "rule must equal the explicit knnJoin at nProbe=2")
      // the top-1 spelling (rank === 1) is <= 1 for row_number
      val w1 = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      val top1 = queries.crossJoin(indexed)
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w1)).where(col("rank") === 1)
        .select("qid", "id", "score", "rank")
      assert(!TestSpark.formattedPlan(top1).contains("Window"), "rank === 1 must substitute")
      assert(rows(top1) == famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 1, 2, excludeSelf = false)))
    }
  }

  test("IVF store: store-side predicates route through the per-batch cardinality gate") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      val pred = col("id") % 2 === 0
      val before = graft.operators.Search.gateDecisions.get()
      val auto   = declarative(indexed, "vec", "id", 5, preds = Seq(pred))
      assert(!TestSpark.formattedPlan(auto).contains("Window"))
      val got = rows(auto)
      assert(got.forall(_._2 % 2 == 0), "the predicate must survive the substitution")
      val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 5, 2, excludeSelf = false,
        filters = Seq(pred), payload = indexed.select("id"), payloadIdCol = "id"))
      assert(got == viaApi, "filtered rule must equal the explicit gated knnJoin")
      // ONE gate decision per batch on each side (rule once, explicit once)
      assert(graft.operators.Search.gateDecisions.get() - before == 2,
        "the batch predicate must cost exactly one gate decision per run")
    }
  }

  test("HNSW store: the window shape becomes the sharded beam batch join") {
    val idx = Hnsw.indexFor(corpus, "vec", "id", cacheKey = "knnauto-hnsw", nShards = 4)
    withRule("spark.graft.hnsw.autoProbe" -> "true", "spark.graft.hnsw.efSearch" -> "65536") {
      // beam wide enough to be exact on 400 rows
      val auto = declarative(idx, "vec", "id", 5)
      assert(!TestSpark.formattedPlan(auto).contains("Window"))
      val viaApi = famRows(Hnsw.knnJoin(idx, queries, "qvec", "qid", 5,
        efSearch = 65536, excludeSelf = false))
      assert(rows(auto) == viaApi, "rule must equal the explicit Hnsw.knnJoin")
      // the beam's in-task cosine and the codegen'd expression differ by
      // 1 ULP on some pairs (the round-15 LocalRelation trap: compare ids
      // cross-engine, values only plan-vs-plan) — ids/ranks exact, scores
      // at 1e-9
      def ulp(s: Seq[(Long, Long, Double, Int)]) =
        s.map { case (q, n, sc, r) => (q, n, math.rint(sc * 1e9) / 1e9, r) }
      val truth = withRuleOff { rows(declarative(idx, "vec", "id", 5)) }
      assert(ulp(rows(auto)) == ulp(truth),
        "saturated beam must match the cartesian window (ids exact, scores to 1e-9)")
    }
  }

  test("PQ floats store: the window shape becomes the ADC batch join") {
    val tmp = java.nio.file.Files.createTempDirectory("knnauto-pq").toString + "/store"
    Pq.writeStore(corpus, "vec", "id", tmp, nList = 6, m = 8, ksub = 16)
    val (codes, floats, ivfm, pqm) = Pq.readStore(spark, tmp)
    withRule("spark.graft.pq.autoProbe" -> "true",
      "spark.graft.pq.nProbe" -> "2", "spark.graft.pq.refine" -> "4") {
      val auto = declarative(floats, "vec", "id", 5)
      val plan = TestSpark.formattedPlan(auto)
      assert(!plan.contains("Window"))
      assert(plan.contains("pq_codes"), "candidates must come from the code store")
      val viaApi = famRows(Pq.knnJoinIvfPq(codes, floats, ivfm, pqm, queries,
        "qvec", "qid", "vec", "id", 5, 2, 4, excludeSelf = false))
      assert(rows(auto) == viaApi, "rule must equal the explicit knnJoinIvfPq")
    }
  }

  test("brute fallback: exact substitution for a sidecar-less corpus; indexed store still wins") {
    // no index anywhere: with knnJoin.bruteAuto on, the cartesian window
    // becomes Search.knnJoin — same cosines, but the per-group top-k is
    // the map-side-combined aggregate instead of a full per-group sort,
    // and the values are EXACTLY the user's plan's (clean corpus: no NaN/
    // null rows, tiebreak on id)
    withRule("spark.graft.knnJoin.bruteAuto" -> "true") {
      val auto = declarative(corpus, "vec", "id", 5)
      val plan = TestSpark.formattedPlan(auto)
      assert(!plan.contains("Window"), s"brute fallback must substitute:\n${plan.take(1200)}")
      val truth = withRuleOff { rows(declarative(corpus, "vec", "id", 5)) }
      assert(rows(auto) == truth, "brute substitution must be value-exact")
      // corpus-side filters ride along inside the wrapped subtree
      val filtered = declarative(corpus, "vec", "id", 5, preds = Seq(col("id") % 3 === 0))
      assert(!TestSpark.formattedPlan(filtered).contains("Window"))
      assert(rows(filtered).forall(_._2 % 3 == 0))
      val ftruth = withRuleOff {
        rows(declarative(corpus, "vec", "id", 5, preds = Seq(col("id") % 3 === 0))) }
      assert(rows(filtered) == ftruth)
    }
    // an indexed store on the other side must take the probe, not the
    // brute fallback, whatever the orientation tried first
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    withRule("spark.graft.knnJoin.bruteAuto" -> "true",
      "spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      val auto = rows(declarative(indexed, "vec", "id", 5))
      val viaIvf = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 5, 2, excludeSelf = false))
      assert(auto == viaIvf, "the IVF probe must win over the brute fallback")
    }
  }

  test("refusals: every non-contract shape keeps the user's window plan") {
    val (indexed, _) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    withRule("spark.graft.ivf.autoProbe" -> "true") {
      def keepsWindow(df: org.apache.spark.sql.DataFrame, what: String): Unit =
        assert(TestSpark.formattedPlan(df).contains("Window"), s"$what must refuse")

      // extra window partition key: changes which rows compete per slot
      val w2 = Window.partitionBy("qid", "bucket").orderBy(desc("score"), col("id"))
      keepsWindow(queries.withColumn("bucket", col("qid") % 2).crossJoin(indexed)
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w2)).where(col("rank") <= 3)
        .select("qid", "id", "score", "rank"), "extra partition key")

      // a NON-equality join condition is not the per-query filter shape
      val wc = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      keepsWindow(queries.join(indexed, col("qid") =!= col("id"))
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(wc)).where(col("rank") <= 3)
        .select("qid", "id", "score", "rank"), "conditioned join")

      // non-store side: a plain in-memory corpus has no sidecar
      keepsWindow(declarative(corpus, "vec", "id", 3), "sidecar-less corpus")

      // wide output: a consumer reading the vector column
      val ww = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      keepsWindow(queries.crossJoin(indexed)
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(ww)).where(col("rank") <= 3)
        .select("qid", "id", "vec", "score", "rank"), "vector-reading output")

      // rank() is not row_number(): ties admit more than k rows
      val wr = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      keepsWindow(queries.crossJoin(indexed)
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", rank().over(wr)).where(col("rank") <= 3)
        .select("qid", "id", "score", "rank"), "rank() window function")

      // a non-tiebreak secondary sort key would be silently replaced
      val wt = Window.partitionBy("qid").orderBy(desc("score"), desc("id"))
      keepsWindow(queries.crossJoin(indexed)
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(wt)).where(col("rank") <= 3)
        .select("qid", "id", "score", "rank"), "descending-id secondary sort")

      // flag off: untouched even for the canonical shape
      spark.conf.set("spark.graft.ivf.autoProbe", "false")
      keepsWindow(declarative(indexed, "vec", "id", 3), "disabled flag")
    }
  }

  test("KnnJoinAuto fires on spark.sql text — batch window + per-class filtered legs (r15 task 6)") {
    // the natural SQL formulation (score computed once in a subquery, the
    // window ordering by its alias) is exactly the matched shape; and the
    // SQL analog of perQueryFiltered is one statement per predicate CLASS
    // with the group key as a plain queries-table column — each statement
    // substitutes independently and takes its own gate decision
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    indexed.createOrReplaceTempView("knn_store_sql")
    queries.withColumn("band", concat(lit("g"), pmod(col("qid"), lit(2))))
      .createOrReplaceTempView("knn_queries_sql")
    def batchSql(where: String): String =
      s"""SELECT qid, id, score, rank FROM (
         |  SELECT qid, id, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
         |  FROM (SELECT q.qid, s.id,
         |          cosine_similarity(CAST(s.vec AS ARRAY<DOUBLE>), CAST(q.qvec AS ARRAY<DOUBLE>)) AS score
         |        FROM knn_queries_sql q CROSS JOIN knn_store_sql s $where)
         |) WHERE rank <= 5""".stripMargin
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      try {
        val plain = spark.sql(batchSql(""))
        assert(!TestSpark.formattedPlan(plain).contains("Window"),
          "the SQL batch window must substitute")
        val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
          "vec", "id", 5, 2, excludeSelf = false))
        assert(rows(plain.select(col("qid"), col("id"), col("score"),
          col("rank").cast("int"))) == viaApi)
        // per-class legs: band g0 under an even-id wall, g1 under a
        // multiples-of-7 wall — each statement equals its perQueryFiltered
        // group (same gated join, same per-group decision)
        val preds = Seq("g0" -> Seq(col("id") % 2 === 0), "g1" -> Seq(col("id") % 7 === 0))
        val ref = Search.perQueryFiltered(
          queries.withColumn("band", concat(lit("g"), pmod(col("qid"), lit(2)))),
          "band", preds,
          (q, f) => Ivf.knnJoin(indexed, model, q, "qvec", "qid", "vec", "id", 5, 2,
            excludeSelf = false, filters = f, payload = indexed.select("id"),
            payloadIdCol = "id"))
        for ((band, wall) <- Seq(("g0", "s.id % 2 = 0"), ("g1", "s.id % 7 = 0"))) {
          val leg = spark.sql(batchSql(s"WHERE q.band = '$band' AND $wall"))
          assert(!TestSpark.formattedPlan(leg).contains("Window"),
            s"the $band filtered SQL leg must substitute")
          val refRows = rows(ref.where(col("__pred") === band)
            .select(col("query_id"), col("neighbor_id"), col("score"), col("rank")))
          assert(rows(leg.select(col("qid"), col("id"), col("score"),
            col("rank").cast("int"))) == refRows, s"$band leg must equal perQueryFiltered")
        }
      } finally {
        spark.catalog.dropTempView("knn_store_sql")
        spark.catalog.dropTempView("knn_queries_sql")
      }
    }
  }

  test("per-query filters fire from spark.sql text — the ON clause IS the per-query spelling") {
    val catCorpus = corpus.withColumn("cat", pmod(col("id"), lit(3)))
    val (indexed, model) = Ivf.indexFor(catCorpus, "vec", 6, cacheKey = "knnauto-ivf-cat")
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    indexed.createOrReplaceTempView("knn_cat_store_sql")
    queries.withColumn("want", pmod(col("qid"), lit(3)))
      .createOrReplaceTempView("knn_cat_queries_sql")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      try {
        val df = spark.sql(
          """SELECT qid, id, score, rank FROM (
            |  SELECT qid, id, score,
            |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
            |  FROM (SELECT q.qid, s.id,
            |          cosine_similarity(CAST(s.vec AS ARRAY<DOUBLE>), CAST(q.qvec AS ARRAY<DOUBLE>)) AS score
            |        FROM knn_cat_queries_sql q JOIN knn_cat_store_sql s ON s.cat = q.want)
            |) WHERE rank <= 5""".stripMargin)
        assert(!TestSpark.formattedPlan(df).contains("Window"),
          "the SQL ON-clause per-query shape must substitute")
        val viaApi = Search.perQueryFiltered(
          queries.select(col("qid").as("__gqid"), col("qvec").as("__gqv"),
            pmod(col("qid"), lit(3)).cast("string").as("band")),
          "band",
          Seq(0L, 1L, 2L).map(v => v.toString -> Seq(col("cat") === lit(v))),
          (q, f) => Ivf.knnJoin(indexed, model, q, "__gqv", "__gqid", "vec", "id", 5, 2,
            excludeSelf = false, filters = f,
            payload = indexed.select("id", "cat"), payloadIdCol = "id"))
        assert(rows(df.select(col("qid"), col("id"), col("score"),
          col("rank").cast("int"))) == famRows(viaApi),
          "the SQL per-query form must equal the explicit perQueryFiltered")
      } finally {
        spark.catalog.dropTempView("knn_cat_store_sql")
        spark.catalog.dropTempView("knn_cat_queries_sql")
      }
    }
  }

  test("per-query filters: an equality join condition routes through perQueryFiltered (r16)") {
    // store rows carry a category; each query wants its own — the
    // declarative spelling is a JOIN CONDITION (store.cat = queries.want),
    // the engine path is one gated join per predicate GROUP, never per
    // query (Search.perQueryFiltered underneath)
    val catCorpus = corpus.withColumn("cat", pmod(col("id"), lit(3)))
    val (indexed, model) = Ivf.indexFor(catCorpus, "vec", 6, cacheKey = "knnauto-ivf-cat")
    val qs = queries.withColumn("want", pmod(col("qid"), lit(3)))
    def perQueryForm(k: Int) = {
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      qs.join(indexed, col("cat") === col("want"))
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "id", "score", "rank")
    }
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "6") {
      // exhaustive probe: the substitution must be value-exact vs the
      // user's own conditioned-window plan
      val auto = perQueryForm(5)
      assert(!TestSpark.formattedPlan(auto).contains("Window"),
        "the conditioned window must substitute")
      val truth = withRuleOff { rows(perQueryForm(5)) }
      assert(rows(auto) == truth, "per-query substitution must be value-exact")
      // pruned probe: rule ≡ the explicit perQueryFiltered composition,
      // and the gate decides once per GROUP per run (3 present groups)
      spark.conf.set("spark.graft.ivf.nProbe", "2")
      val before = graft.operators.Search.gateDecisions.get()
      val pruned = rows(perQueryForm(5))
      assert(graft.operators.Search.gateDecisions.get() - before == 3,
        "three predicate groups must cost exactly three gate decisions")
      val viaApi = Search.perQueryFiltered(
        qs.select(col("qid").as("__gqid"), col("qvec").as("__gqv"),
          concat(lit("v"), col("want").cast("string")).as("band")),
        "band",
        Seq(0, 1, 2).map(v => s"v$v" -> Seq(col("cat") === lit(v.toLong))),
        (q, f) => Ivf.knnJoin(indexed, model, q, "__gqv", "__gqid", "vec", "id", 5, 2,
          excludeSelf = false, filters = f,
          payload = indexed.select("id", "cat"), payloadIdCol = "id"))
      assert(pruned == famRows(viaApi), "rule must equal the explicit perQueryFiltered")
    }
  }

  test("per-query filters: brute fallback honors the condition exactly; HNSW keys on store columns") {
    // no index: the conditioned window substitutes Search.knnJoin per
    // predicate group, each group's corpus pre-filtered by its literal
    // equality — value-EXACT, so the truth is the user's own plan
    val catCorpus = corpus.withColumn("cat", pmod(col("id"), lit(3)))
    def brutePerQuery(k: Int) = {
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      queries.withColumn("want", pmod(col("qid"), lit(3)))
        .join(catCorpus, col("cat") === col("want"))
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "id", "score", "rank")
    }
    withRule("spark.graft.knnJoin.bruteAuto" -> "true") {
      val auto = brutePerQuery(5)
      assert(!TestSpark.formattedPlan(auto).contains("Window"),
        "the conditioned window must take the brute per-query substitution")
      val truth = withRuleOff { rows(brutePerQuery(5)) }
      assert(rows(auto) == truth, "brute per-query substitution must be value-exact")
    }
    // HNSW: the graph store carries no payload columns, so a per-query
    // key must be a PHYSICAL store column — id works (per-query point
    // retrieval); a payload-named column can't resolve and refuses
    val idx = Hnsw.indexFor(corpus, "vec", "id", cacheKey = "knnauto-hnsw", nShards = 4)
    def hnswIdKeyed(k: Int) = {
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      queries.withColumn("want", col("qid") * 7)
        .join(idx, col("id") === col("want"))
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "id", "score", "rank")
    }
    withRule("spark.graft.hnsw.autoProbe" -> "true", "spark.graft.hnsw.efSearch" -> "65536") {
      val auto = hnswIdKeyed(3)
      assert(!TestSpark.formattedPlan(auto).contains("Window"),
        "an id-keyed condition over the HNSW store must substitute")
      def ulp(s: Seq[(Long, Long, Double, Int)]) =
        s.map { case (q, n, sc, r) => (q, n, math.rint(sc * 1e9) / 1e9, r) }
      val truth = withRuleOff { rows(hnswIdKeyed(3)) }
      assert(ulp(rows(auto)) == ulp(truth),
        "each query must retrieve exactly its own id (ids exact, scores to 1e-9)")
    }
  }

  test("per-query filters: fan-out stays bounded by predicate classes — cap and type refusals") {
    val catCorpus = corpus.withColumn("cat", pmod(col("id"), lit(3)))
      .withColumn("catf", pmod(col("id"), lit(3)).cast("double"))
    val (indexed, _) = Ivf.indexFor(catCorpus, "vec", 6, cacheKey = "knnauto-ivf-catf")
    def form(qcol: org.apache.spark.sql.Column, scol: String) = {
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
      queries.withColumn("want", qcol)
        .join(indexed, col(scol) === col("want"))
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("qid", "id", "score", "rank")
    }
    withRule("spark.graft.ivf.autoProbe" -> "true",
      "spark.graft.knnJoin.maxPredGroups" -> "2") {
      // 3 distinct key values > cap 2: the rewrite must refuse — the
      // engine never fans out past the declared class bound
      assert(TestSpark.formattedPlan(form(pmod(col("qid"), lit(3)), "cat"))
        .contains("Window"), "distinct keys beyond maxPredGroups must refuse")
      // under the cap the same shape substitutes
      assert(!TestSpark.formattedPlan(form(pmod(col("qid"), lit(2)), "cat"))
        .contains("Window"), "two groups under the cap must substitute")
      // a double-typed key can't round-trip the group key exactly: refuse
      assert(TestSpark.formattedPlan(
        form(pmod(col("qid"), lit(3)).cast("double"), "catf"))
        .contains("Window"), "non-key-typed join columns must refuse")
    }
  }

  test("hydration join: store ⋈ metadata with metadata predicates routes the payload through the gate") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    // metadata lives in its OWN table (the real retrieval shape) — unique
    // integral keys, predicates on metadata columns only
    val meta = (0L until 400L).map(i => (i, i % 5, s"d$i")).toDF("mid", "grade", "tag")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "6") {
      // exhaustive probe: the hydrated substitution must be value-exact
      val hyd = indexed.join(meta, col("id") === col("mid"))
      val auto = declarative(hyd, "vec", "id", 5, preds = Seq(col("grade") >= 3))
      assert(!TestSpark.formattedPlan(auto).contains("Window"),
        "the hydrated filtered window must substitute")
      val truth = withRuleOff {
        rows(declarative(hyd, "vec", "id", 5, preds = Seq(col("grade") >= 3))) }
      assert(rows(auto) == truth, "hydrated substitution must be value-exact")
      // pruned probe: rule ≡ the explicit call with payload = the metadata
      spark.conf.set("spark.graft.ivf.nProbe", "2")
      val pruned = rows(declarative(hyd, "vec", "id", 5, preds = Seq(col("grade") >= 3)))
      val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 5, 2, excludeSelf = false,
        filters = Seq(col("grade") >= 3),
        payload = meta.select("mid", "grade"), payloadIdCol = "mid"))
      assert(pruned == viaApi, "hydrated rule must equal the explicit payload call")
    }
  }

  test("hydration join: the inner join's row set is enforced, duplicates refuse, per-query composes") {
    val (indexed, _) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "6") {
      // PURE hydration (no predicate at all): metadata covers only even
      // ids — the inner join's row set must survive the substitution
      // (the synthesized IsNotNull(key) keeps the semi-joined gated path)
      val metaHalf = (0L until 400L by 2).map(i => (i, i % 5)).toDF("mid", "grade")
      val pure = declarative(indexed.join(metaHalf, col("id") === col("mid")), "vec", "id", 5)
      assert(!TestSpark.formattedPlan(pure).contains("Window"),
        "pure hydration must substitute")
      val got = rows(pure)
      assert(got.nonEmpty && got.forall(_._2 % 2 == 0),
        "store rows without a metadata match must never surface")
      val truth = withRuleOff {
        rows(declarative(indexed.join(metaHalf, col("id") === col("mid")), "vec", "id", 5)) }
      assert(got == truth, "pure hydration must be value-exact")
      // a dup-keyed payload would rank duplicates in the user's plan but
      // not in the engine's semi-join: refuse — a union (refused by the
      // hydration walk) and a plain relation (by the key-uniqueness check)
      val dupPlain = ((0L until 400L by 2).map(i => (i, i % 5)) :+ ((0L, 1L))).toDF("mid", "grade")
      for (metaDup <- Seq(metaHalf.unionByName(metaHalf.limit(1)), dupPlain))
        assert(TestSpark.formattedPlan(
          declarative(indexed.join(metaDup, col("id") === col("mid")), "vec", "id", 5))
          .contains("Window"), "a dup-keyed payload must refuse")
      // per-query filters key on METADATA columns when hydrated: each
      // query wants its own grade class
      val meta5 = (0L until 400L).map(i => (i, i % 5)).toDF("mid", "grade")
      def perQueryHyd(k: Int) = {
        val w = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
        queries.withColumn("want", pmod(col("qid"), lit(5)))
          .join(indexed.join(meta5, col("id") === col("mid")), col("grade") === col("want"))
          .withColumn("score", graft.functions.VectorExpressions.cosineFast(
            col("vec").cast("array<double>"), col("qvec").cast("array<double>")))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= k)
          .select("qid", "id", "score", "rank")
      }
      val pq = perQueryHyd(3)
      assert(!TestSpark.formattedPlan(pq).contains("Window"),
        "per-query over a hydrated store must substitute")
      val pqTruth = withRuleOff { rows(perQueryHyd(3)) }
      assert(rows(pq) == pqTruth, "hydrated per-query substitution must be value-exact")
    }
  }

  test("hydration join: parquet-backed aliased metadata resolves to leaf columns; cast-aliases refuse") {
    // a parquet metadata table keeps its Project aliases in the optimized
    // plan (unlike a LocalRelation, which collapses them) — the rule must
    // resolve the key and the per-query pair columns through the renames
    // down to LEAF columns, because the gate runs against the raw leaf
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    val metaDir = java.nio.file.Files.createTempDirectory("knnauto-meta").toString
    (0L until 400L).map(i => (i, i % 5)).toDF("raw_id", "raw_grade")
      .write.mode("overwrite").parquet(metaDir)
    val meta = spark.read.parquet(metaDir)
      .select(col("raw_id").as("mid"), col("raw_grade").as("grade"))
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      val hyd  = indexed.join(meta, col("id") === col("mid"))
      val auto = declarative(hyd, "vec", "id", 5, preds = Seq(col("grade") >= 3))
      assert(!TestSpark.formattedPlan(auto).contains("Window"),
        "aliased parquet metadata must still substitute")
      val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
        "vec", "id", 5, 2, excludeSelf = false,
        filters = Seq(col("raw_grade") >= 3),
        payload = spark.read.parquet(metaDir), payloadIdCol = "raw_id"))
      // leaf-level filters: same rows whichever naming layer you call with
      assert(rows(auto).map(t => (t._1, t._2, t._4)) ==
        viaApi.map(t => (t._1, t._2, t._4)),
        "alias resolution must reach the same leaf predicate")
      // a CAST-aliased key changes equality semantics — must refuse
      val metaCast = spark.read.parquet(metaDir)
        .select(col("raw_id").cast("int").as("mid"), col("raw_grade").as("grade"))
      assert(TestSpark.formattedPlan(
        declarative(indexed.join(metaCast, col("id") === col("mid")), "vec", "id", 5,
          preds = Seq(col("grade") >= 3))).contains("Window"),
        "a cast-aliased hydration key must refuse")
    }
  }

  test("hydration fires from spark.sql text — batch window over store JOIN metadata") {
    val (indexed, model) = Ivf.indexFor(corpus, "vec", 6, cacheKey = "knnauto-ivf")
    val meta = (0L until 400L).map(i => (i, i % 5)).toDF("mid", "grade")
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    indexed.createOrReplaceTempView("knn_hyd_store_sql")
    meta.createOrReplaceTempView("knn_hyd_meta_sql")
    queries.createOrReplaceTempView("knn_hyd_queries_sql")
    withRule("spark.graft.ivf.autoProbe" -> "true", "spark.graft.ivf.nProbe" -> "2") {
      try {
        val df = spark.sql(
          """SELECT qid, id, score, rank FROM (
            |  SELECT qid, id, score,
            |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
            |  FROM (SELECT q.qid, s.id,
            |          cosine_similarity(CAST(s.vec AS ARRAY<DOUBLE>), CAST(q.qvec AS ARRAY<DOUBLE>)) AS score
            |        FROM knn_hyd_queries_sql q
            |        CROSS JOIN (SELECT s.* FROM knn_hyd_store_sql s
            |                    JOIN knn_hyd_meta_sql m ON s.id = m.mid
            |                    WHERE m.grade >= 3) s)
            |) WHERE rank <= 5""".stripMargin)
        assert(!TestSpark.formattedPlan(df).contains("Window"),
          "the SQL hydrated batch window must substitute")
        val viaApi = famRows(Ivf.knnJoin(indexed, model, queries, "qvec", "qid",
          "vec", "id", 5, 2, excludeSelf = false,
          filters = Seq(col("grade") >= 3),
          payload = meta.select("mid", "grade"), payloadIdCol = "mid"))
        assert(rows(df.select(col("qid"), col("id"), col("score"),
          col("rank").cast("int"))) == viaApi,
          "the SQL hydrated form must equal the explicit payload call")
      } finally {
        spark.catalog.dropTempView("knn_hyd_store_sql")
        spark.catalog.dropTempView("knn_hyd_meta_sql")
        spark.catalog.dropTempView("knn_hyd_queries_sql")
      }
    }
  }

  private def withRuleOff[T](body: => T): T = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val prev    = classic.experimental.extraOptimizations
    classic.experimental.extraOptimizations = Nil
    try body finally classic.experimental.extraOptimizations = prev
  }
}

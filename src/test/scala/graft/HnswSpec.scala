package graft

import graft.operators.{Hnsw, Search}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HNSW contract: deterministic build, bounded degrees, layer-0
  * reachability, high recall vs the exact search on both the one-shot and
  * the stored-index paths, and candidate volume bounded by nShards·k.
  */
class HnswSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic pseudo-random corpus: 400 points in 16-d, 4 loose
    * clusters (cluster centers at distinct coordinates, splitmix noise).
    */
  private def syntheticItems(n: Int, dim: Int): Array[(Long, Array[Double])] =
    (0 until n).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(dim) { j =>
        val h = (i.toLong * 1315423911L + j * 2654435761L + cluster * 97L)
        val u = ((h ^ (h >>> 16)) & 0xffffL).toDouble / 65536.0
        (if (j % 4 == cluster) 2.0 else 0.0) + u - 0.5
      }
      (i.toLong, v)
    }.toArray

  private lazy val items = syntheticItems(400, 16)

  private def bruteTop(q: Array[Double], k: Int): Seq[Long] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d  = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      d / (na * nb)
    }
    items.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq
  }

  test("level assignment is deterministic and exponentially decaying") {
    val levels = (0L until 10000L).map(Hnsw.levelOf(_, 16))
    assert(levels == (0L until 10000L).map(Hnsw.levelOf(_, 16)))
    val counts = levels.groupBy(identity).view.mapValues(_.size).toMap
    // with mL = 1/ln(16), P(level >= 1) = 1/16
    assert(counts(0) > 8500 && counts(0) < 9900, counts.toString)
    assert(counts.getOrElse(1, 0) > 300, counts.toString)
  }

  test("build is a pure function of shard content, not input order") {
    val g1 = Hnsw.build(items, m = 8, efConstruction = 64)
    val g2 = Hnsw.build(items.reverse, m = 8, efConstruction = 64)
    assert(g1.ids.sameElements(g2.ids))
    assert(g1.entry == g2.entry && g1.maxLevel == g2.maxLevel)
    assert(g1.links.zip(g2.links).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    })
  }

  test("degrees are capped at 2m on layer 0 and m above") {
    val m = 8
    val g = Hnsw.build(items, m, efConstruction = 64)
    for (ord <- g.ids.indices; layer <- g.links(ord).indices) {
      val cap = if (layer == 0) 2 * m else m
      assert(g.links(ord)(layer).length <= cap,
        s"ord $ord layer $layer degree ${g.links(ord)(layer).length} > $cap")
    }
  }

  test("every node is reachable from the entry point on layer 0") {
    val g       = Hnsw.build(items, m = 8, efConstruction = 64)
    val seen    = collection.mutable.BitSet(g.entry)
    val queue   = collection.mutable.Queue(g.entry)
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      for (e <- g.links(c)(0)) if (!seen(e)) { seen += e; queue += e }
    }
    // the heuristic keeps inter-cluster bridges, so the base layer stays
    // connected on clustered data (allow a stray point or two)
    assert(seen.size >= g.size - 2, s"reachable ${seen.size} of ${g.size}")
  }

  test("tie-heavy corpus: exhaustive beam equals brute force (primitive beam-heap pin)") {
    // duplicated vectors make (distance, ord) ties the COMMON case, driving
    // the beam queues through their ord-tiebreak path — the invariant the
    // r17 primitive-heap rewrite (DistHeap replacing the boxed
    // PriorityQueue) must preserve exactly; ef >= corpus makes the beam
    // exhaustive, so any ordering slip surfaces as a value diff, not recall.
    // Each vector appears exactly TWICE (a 12-way identical clique would
    // legitimately disconnect the graph — selectHeuristic rejects same-spot
    // neighbors; verified the pre-rewrite code returns the identical rows
    // on that corpus too, but brute-force is only a fair oracle when the
    // graph stays connected).
    val dup = (0L until 120L).map { i =>
      val base = Array.tabulate(8)(j => math.cos((i / 2) * (j + 1) * 0.37) + 0.1 * j)
      (i, base)
    }.toArray
    val g = Hnsw.build(dup, m = 8, efConstruction = 256)
    (0 until 10).foreach { qi =>
      val q     = dup(qi * 13 % dup.length)._2
      val got   = Hnsw.searchGraph(g, q, 15, efSearch = 4096).map(_._1).toSeq
      val exact = dup.map { case (id, v) =>
        val d  = q.zip(v).map { case (x, y) => x * y }.sum
        val na = math.sqrt(q.map(x => x * x).sum)
        val nb = math.sqrt(v.map(x => x * x).sum)
        (id, d / (na * nb))
      }.sortBy { case (id, sc) => (-sc, id) }.take(15).map(_._1).toSeq
      assert(got == exact, s"query $qi: $got vs $exact")
    }
  }

  test("in-memory recall@10 >= 0.9 averaged over 20 queries") {
    val g = Hnsw.build(items, m = 16, efConstruction = 128)
    val recalls = (0 until 20).map { qi =>
      val q     = items(qi * 17 % items.length)._2.map(_ + 0.01 * qi)
      val exact = bruteTop(q, 10).toSet
      val got   = Hnsw.searchGraph(g, q, 10, efSearch = 64).map(_._1).toSet
      (got & exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean: $recalls")
  }

  test("sharded topK: recall vs exact and candidate bound") {
    val df = items.toSeq.toDF("id", "vec")
    val q  = items(7)._2.map(_ + 0.005)
    val exact = Search.topK(df, "vec", "id", q.toSeq, 10)
      .select("id").as[Long].collect().toSet
    val hnsw = Hnsw.topK(df, "vec", "id", q.toSeq, 10, nShards = 4, m = 16,
      efConstruction = 128, efSearch = 64)
    val got = hnsw.select("id").as[Long].collect()
    assert(got.length == 10)
    assert((got.toSet & exact).size >= 9, s"recall ${(got.toSet & exact).size}/10")
  }

  test("stored index: searchIndex matches the one-shot path") {
    val df  = items.toSeq.toDF("id", "vec")
    val q   = items(3)._2
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec", nShards = 4,
      m = 16, efConstruction = 128)
    val fromStore = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 64)
      .select("id").as[Long].collect().toSeq
    val oneShot = Hnsw.topK(df, "vec", "id", q.toSeq, 10, nShards = 4, m = 16,
      efConstruction = 128, efSearch = 64)
      .select("id").as[Long].collect().toSeq
    assert(fromStore == oneShot, s"store $fromStore vs one-shot $oneShot")
  }

  test("HnswAutoProbe: declarative cosine top-k over a stored index becomes the beam search") {
    val df  = items.toSeq.toDF("id", "vec")
    val q   = items(3)._2.toSeq
    val dir = java.nio.file.Files.createTempDirectory("hnsw-auto").toString + "/store"
    Hnsw.writeIndex(df, "vec", "id", dir, nShards = 3)
    val store   = Hnsw.readIndex(spark, dir)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.hnsw.autoProbe", "true")
    spark.conf.set("spark.graft.hnsw.efSearch", "64")
    try {
      // the user writes plain sort-by-cosine + limit — no Hnsw API in sight
      val brute = Search.topK(store, "vec", "id", q, 5).select("id", "score")
      val plan  = brute.queryExecution.optimizedPlan.toString
      // plan shape: the brute-force cosine projection over the store is
      // GONE (no full-store scoring scan) — the beam's per-shard
      // mapPartitions serves the query instead
      assert(!plan.contains("cosine_similarity"), s"rewrite must remove the scoring scan:\n$plan")
      assert(plan.contains("MapPartitions"), s"expected the beam plan:\n$plan")
      // values ARE searchIndex's (same efSearch → same algorithm, row for row)
      val viaApi = Hnsw.searchIndex(store, q, "id", 5, efSearch = 64)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(brute.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi)
      // a non-store frame is untouched even with the rule enabled (it is a
      // LocalRelation here, whose cosine projection constant-folds — the
      // discriminator is that no beam plan appeared)
      val plain = Search.topK(df, "vec", "id", q, 5)
      assert(!plain.queryExecution.optimizedPlan.toString.contains("MapPartitions"))
      assert(plain.count() == 5)
      // a query with a REAL predicate routes through the GATED filtered
      // search (round 15 — before, it silently kept the exact scan): broad
      // predicate (sel 0.5, needEf 128 ≤ maxEf) → the flag-aware beam, no
      // scoring scan, values exactly the explicit searchIndex call's
      val fpred    = col("id") % 2 === 0
      val filtered = Search.topK(store, "vec", "id", q, 5, filters = Seq(fpred))
        .select("id", "score")
      val fplan = filtered.queryExecution.optimizedPlan.toString
      assert(!fplan.contains("cosine_similarity"), s"broad filter must ride the beam:\n$fplan")
      val viaFilteredApi = Hnsw.searchIndex(store, q, "id", 5, efSearch = 64,
        filters = Seq(fpred), payload = store.select("id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaFilteredApi)
      assert(filtered.select("id").as[Long].collect().forall(_ % 2 == 0))
      // selective predicate (sel 0.01 → needEf 6400 > maxEf 4096) → the
      // EXACT branch: allowed-id semi-join + brute force over survivors,
      // value-identical to the filtered brute force over the corpus
      val spred  = col("id") % 100 === 0
      val selective = Search.topK(store, "vec", "id", q, 4, filters = Seq(spred))
        .select("id", "score")
      assert(selective.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "selective filter must take the exact semi-join branch")
      // values: exactly the explicit call's (same plan); ids: the filtered
      // brute force (score ULPs can differ between the store scan's codegen
      // and the LocalRelation's constant-folded interpreted eval, so the
      // cross-engine comparison is on ids)
      val viaSelApi = Hnsw.searchIndex(store, q, "id", 4, efSearch = 64,
        filters = Seq(spred), payload = store.select("id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(selective.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaSelApi)
      val truthIds = Search.topK(df.where(spred), "vec", "id", q, 4)
        .select("id").as[Long].collect().toSeq
      assert(selective.select("id").as[Long].collect().toSeq == truthIds)
      // a predicate on the SCORE cannot be pushed through the substitution
      // — refused, the scoring scan stays
      val onScore = store
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          graft.functions.VectorOps.asDouble(col("vec")), typedLit(q)))
        .where(col("score") > 0.0)
        .orderBy(desc("score"), col("id")).limit(5).select("id", "score")
      assert(onScore.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
      // a secondary sort key other than the beam's id-ascending tiebreak
      // would be silently replaced by the substitution — refused (ADVICE r14)
      val badTie = store
        .withColumn("score", graft.functions.VectorExpressions.cosineFast(
          graft.functions.VectorOps.asDouble(col("vec")), typedLit(q)))
        .orderBy(desc("score"), col("level")).limit(5).select("id", "score")
      assert(badTie.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
      // a consumer reading store columns beyond (id, score) keeps the scan
      val wide = Search.topK(store, "vec", "id", q, 5).select("id", "vec", "score")
      assert(wide.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
      // switched off → untouched
      spark.conf.set("spark.graft.hnsw.autoProbe", "false")
      val off = Search.topK(store, "vec", "id", q, 5)
      assert(off.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
    } finally {
      spark.conf.set("spark.graft.hnsw.autoProbe", "false")
      spark.conf.unset("spark.graft.hnsw.efSearch")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("HnswAutoProbe: hydrated filtered top-k — metadata predicates route through the gate (r16)") {
    // the graph store carries only ids/vectors/adjacency, so the ONLY way
    // a declarative filtered query over it can exist is a joined metadata
    // table — exactly the payload parameter's job
    val df  = items.toSeq.toDF("id", "vec")
    val q   = items(3)._2.toSeq
    val dir = java.nio.file.Files.createTempDirectory("hnsw-hyd").toString + "/store"
    Hnsw.writeIndex(df, "vec", "id", dir, nShards = 3)
    val store   = Hnsw.readIndex(spark, dir)
    val meta    = items.toSeq.map { case (i, _) => (i, i % 2) }.toDF("mid", "par")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.hnsw.autoProbe", "true")
    spark.conf.set("spark.graft.hnsw.efSearch", "64")
    try {
      val hyd = Search.topK(store.join(meta, col("id") === col("mid")), "vec", "id", q, 5,
        filters = Seq(col("par") === 0)).select("id", "score")
      assert(!hyd.queryExecution.optimizedPlan.toString.contains("cosine_similarity"),
        "hydrated metadata filter must ride the beam, not the scoring scan")
      val viaApi = Hnsw.searchIndex(store, q, "id", 5, efSearch = 64,
        filters = Seq(col("par") === 0),
        payload = meta.select(col("mid").as("id"), col("par")))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(hyd.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi,
        "hydrated rule must equal the explicit metadata-payload call")
      assert(hyd.select("id").as[Long].collect().forall(_ % 2 == 0))
      // PURE hydration over a non-covering metadata table: the inner
      // join's row set survives the substitution (IsNotNull(key) gate)
      val metaHalf = items.toSeq.collect { case (i, _) if i % 2 == 0 => (i, i % 4) }
        .toDF("mid", "par")
      val pure = Search.topK(store.join(metaHalf, col("id") === col("mid")),
        "vec", "id", q, 5).select("id", "score")
      assert(!pure.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
      assert(pure.select("id").as[Long].collect().forall(_ % 2 == 0),
        "store rows without a metadata match must never surface")
      // dup-keyed payload refuses (the user's join would rank duplicates):
      // a union (refused by the hydration walk) and a plain relation
      // (refused by the key-uniqueness check)
      val dupPlain = (items.toSeq.collect { case (i, _) if i % 2 == 0 => (i, i % 4) } :+ ((0L, 1L)))
        .toDF("mid", "par")
      for (metaDup <- Seq(metaHalf.unionByName(metaHalf.limit(1)), dupPlain)) {
        val dup = Search.topK(store.join(metaDup, col("id") === col("mid")), "vec", "id", q, 5)
          .select("id", "score")
        assert(dup.queryExecution.optimizedPlan.toString.contains("cosine_similarity"),
          "a dup-keyed metadata table must refuse the substitution")
      }
    } finally {
      spark.conf.set("spark.graft.hnsw.autoProbe", "false")
      spark.conf.unset("spark.graft.hnsw.efSearch")
      classic.experimental.extraOptimizations = Nil
    }
  }

  test("HnswAutoProbe fires on spark.sql text too — unfiltered beam and the filtered gate") {
    val df  = items.toSeq.toDF("id", "vec")
    val q   = items(5)._2.toSeq
    val dir = java.nio.file.Files.createTempDirectory("hnsw-auto-sql").toString + "/store"
    Hnsw.writeIndex(df, "vec", "id", dir, nShards = 3)
    val store = Hnsw.readIndex(spark, dir)
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    store.createOrReplaceTempView("hnsw_store_sql")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.experimental.extraOptimizations = Seq(graft.plans.DeclarativeAnn(spark))
    spark.conf.set("spark.graft.hnsw.autoProbe", "true")
    spark.conf.set("spark.graft.hnsw.efSearch", "64")
    try {
      val qSql = "CAST(" + q.mkString("array(", ", ", ")") + " AS ARRAY<DOUBLE>)"
      val beam = spark.sql(
        s"SELECT id, cosine_similarity(vec, $qSql) AS score FROM hnsw_store_sql ORDER BY score DESC, id LIMIT 5")
      val bplan = beam.queryExecution.optimizedPlan.toString
      assert(!bplan.contains("cosine_similarity") && bplan.contains("MapPartitions"),
        s"SQL top-k must substitute the beam plan:\n$bplan")
      val viaApi = Hnsw.searchIndex(store, q, "id", 5, efSearch = 64)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(beam.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaApi)
      // filtered SQL routes through the gate (broad → flag-aware beam)
      val filtered = spark.sql(
        s"SELECT id, cosine_similarity(vec, $qSql) AS score FROM hnsw_store_sql " +
          "WHERE id % 2 = 0 ORDER BY score DESC, id LIMIT 5")
      assert(!filtered.queryExecution.optimizedPlan.toString.contains("cosine_similarity"))
      val viaFilteredApi = Hnsw.searchIndex(store, q, "id", 5, efSearch = 64,
        filters = Seq(col("id") % 2 === 0), payload = store.select("id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filtered.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaFilteredApi)
    } finally {
      spark.conf.set("spark.graft.hnsw.autoProbe", "false")
      spark.conf.unset("spark.graft.hnsw.efSearch")
      classic.experimental.extraOptimizations = Nil
      spark.catalog.dropTempView("hnsw_store_sql")
    }
  }

  test("stored index survives splits that cut a shard across scan tasks") {
    // force tiny splits so one shard's rows span MANY scan partitions —
    // the regression that produced partial graphs at the 768-d scale tier
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-split", nShards = 2,
      m = 8, efConstruction = 64)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val q = items(11)._2
      val fromStore = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 64)
        .select("id").as[Long].collect().toSeq
      val oneShot = Hnsw.topK(df, "vec", "id", q.toSeq, 10, nShards = 2, m = 8,
        efConstruction = 64, efSearch = 64)
        .select("id").as[Long].collect().toSeq
      assert(fromStore == oneShot, s"store $fromStore vs one-shot $oneShot")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("zero-norm vectors are excluded, never surfaced") {
    val withZero = (items.take(50) :+ (999L, Array.fill(16)(0.0))).toSeq.toDF("id", "vec")
    val got = Hnsw.topK(withZero, "vec", "id", items(0)._2.toSeq, 51, nShards = 1)
      .select("id").as[Long].collect()
    assert(!got.contains(999L))
    assert(got.length == 50)
  }

  test("extend: incremental inserts keep recall and never lose old or new ids") {
    val (seed, late) = items.splitAt(300)
    val g0 = Hnsw.build(seed, m = 16, efConstruction = 128)
    val g1 = Hnsw.extend(g0, late, m = 16, efConstruction = 128)
    assert(g1.size == items.length)
    // graph invariants survive the extension
    for (ord <- g1.ids.indices; layer <- g1.links(ord).indices)
      assert(g1.links(ord)(layer).length <= (if (layer == 0) 32 else 16))
    // recall over the FULL set after incremental build
    val recalls = (0 until 10).map { qi =>
      val q     = items(qi * 31 % items.length)._2.map(_ + 0.01)
      val exact = bruteTop(q, 10).toSet
      val got   = Hnsw.searchGraph(g1, q, 10, efSearch = 64).map(_._1).toSet
      (got & exact).size / 10.0
    }
    assert(recalls.sum / recalls.length >= 0.9, recalls.toString)
    // duplicate ids are skipped
    assert(Hnsw.extend(g1, items.take(5), 16, 128).size == g1.size)
  }

  test("insertInto: routes a batch to touched shards only and search sees the new ids") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_ins").toString + "/store"
    val (seed, late) = items.splitAt(350)
    Hnsw.writeIndex(seed.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 4,
      m = 16, efConstruction = 128)
    assert(Hnsw.readMeta(spark, dir) == Hnsw.StoreMeta(4, 16, 128))
    // a single-row batch touches exactly one shard
    val one = Hnsw.insertInto(spark, dir, late.take(1).toSeq.toDF("id", "vec"), "vec", "id")
    assert(one == 1)
    val rest = Hnsw.insertInto(spark, dir, late.drop(1).toSeq.toDF("id", "vec"), "vec", "id")
    assert(rest >= 1 && rest <= 4)
    val idx = Hnsw.readIndex(spark, dir)
    assert(idx.select("id").distinct().count() == items.length)
    // the store's graphs still find the LATE ids: query each late vector,
    // its own id must come back first
    late.take(5).foreach { case (id, v) =>
      val top = Hnsw.searchIndex(idx, v.toSeq, "id", 1).select("id").as[Long].head()
      assert(top == id, s"query for $id returned $top")
    }
  }

  test("insertInto: the caller's batch is evaluated once, not once per action") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_ins_once").toString + "/store"
    val (seed, late) = items.splitAt(380)
    Hnsw.writeIndex(seed.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 4)
    val byId = late.toMap
    val rowsRead = spark.sparkContext.longAccumulator("insertInto batch rows")
    val batch = spark.createDataset(late.map(_._1).toSeq).map { id =>
      rowsRead.add(1)
      (id, byId(id).toSeq)
    }.toDF("id", "vec")
    assert(Hnsw.insertInto(spark, dir, batch, "vec", "id") >= 1)
    assert(rowsRead.value == late.length, s"${late.length}-row batch read ${rowsRead.value} rows")
    assert(Hnsw.readIndex(spark, dir).select("id").distinct().count() == items.length)
  }

  test("applyDelta: removals + upserts rewrite only touched shards; removed ids never surface; search == exact post-delta") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta").toString + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 8,
      m = 16, efConstruction = 128)
    def shardFiles(): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.lastModified).toSet
      }.toMap
    val before = shardFiles()

    // delta: remove 3 ids, change 2 (vector replaced), add 3 new
    val removed = Seq(7L, 61L, 155L)
    val changed = Seq(12L, 200L).map(id => (id, items(id.toInt)._2.map(-_))) // flipped vector
    val addedIds = Seq(900L, 901L, 902L)
    val added   = changed ++ addedIds.map(id => (id, items((id % 400).toInt)._2.map(_ + 0.25)))
    val touched = Hnsw.applyDelta(spark, dir,
      removed.toDF("id"), added.toSeq.toDF("id", "vec"), "vec", "id")
    assert(touched >= 1 && touched <= 8)

    // untouched shard directories are bit-identical
    val after = shardFiles()
    val untouched = before.keySet.intersect(after.keySet).filter(k => before(k) == after(k))
    assert(untouched.nonEmpty, s"no untouched shards out of 8 for an 8-row delta")
    assert((8 - untouched.size) <= touched)

    val idx = Hnsw.readIndex(spark, dir)
    val storeIds = idx.select("id").as[Long].collect().toSet
    val expected = items.map(_._1).toSet -- removed ++ addedIds
    assert(storeIds == expected, s"missing=${expected -- storeIds} extra=${storeIds -- expected}")

    // search can never return a removed id, and the changed vector WINS for
    // a query equal to its new self (upsert replaced the old row)
    for ((id, v) <- changed) {
      val top = Hnsw.searchIndex(idx, v.toSeq, "id", 1).select("id").as[Long].head()
      assert(top == id, s"changed $id: got $top")
    }
    val qRemoved = items(7)._2
    val hits = Hnsw.searchIndex(idx, qRemoved.toSeq, "id", 10, efSearch = 128)
      .select("id").as[Long].collect().toSet
    assert(hits.intersect(removed.toSet).isEmpty, s"removed ids resurfaced: ${hits.intersect(removed.toSet)}")

    // maintained store == exact over the post-delta corpus (small shards +
    // wide beam → the approximate index is exhaustive here)
    val postCorpus: Map[Long, Array[Double]] =
      (items.filterNot(it => removed.contains(it._1)).toMap -- changed.map(_._1)) ++ added.toMap
    def bruteTopPost(q: Array[Double], k: Int): Seq[Long] = {
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d  = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      postCorpus.toSeq.map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }
    for (qi <- Seq(3, 77, 141)) {
      val q = items(qi)._2.map(_ + 0.01)
      val got = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 400)
        .select("id").as[Long].collect().toSeq
      val exact = bruteTopPost(q, 10)
      assert(got.toSet.intersect(exact.toSet).size >= 9, s"q$qi: $got vs $exact")
    }

    // re-applying the same delta is a no-op on the id set (idempotent upserts)
    Hnsw.applyDelta(spark, dir, removed.toDF("id"), added.toSeq.toDF("id", "vec"), "vec", "id")
    assert(Hnsw.readIndex(spark, dir).select("id").as[Long].collect().toSet == expected)
    assert(Hnsw.readIndex(spark, dir).count() == expected.size)
  }

  test("applyDelta evaluates `added` once: one aggregate serves the duplicate guard and the touched shards") {
    // Ivf.deltaStats over the id-hash shard column is the only evaluation
    // of the caller's `added`: the rebuild reads the persisted rows
    val dir = java.nio.file.Files.createTempDirectory("hnsw_once").toString + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 4,
      m = 16, efConstruction = 128)
    val evals = spark.sparkContext.longAccumulator("added rows evaluated")
    val src = items.take(40).toSeq.map { case (id, v) => (id + 10000L, v.reverse) }.toDF("id", "vec")
    val n = src.count()
    val added = src.mapPartitions { it => it.map { r => evals.add(1L); r } }(
      org.apache.spark.sql.Encoders.row(src.schema))
    val touched = Hnsw.applyDelta(spark, dir, Seq(3L).toDF("id"), added, "vec", "id")
    assert(evals.value == n, s"added evaluated ${evals.value.toDouble / n} times per row, want exactly once")
    assert(touched >= 1 && touched <= 4)
    assert(Hnsw.readIndex(spark, dir).select("id").as[Long].collect().toSet ==
      items.map(_._1).toSet - 3L ++ (10000L until 10040L))
    // a null vector has no shard to land in: loud, like IVF
    val nullVec = Seq((20000L, null.asInstanceOf[Seq[Double]])).toDF("id", "vec")
    val ex = intercept[IllegalArgumentException](
      Hnsw.applyDelta(spark, dir, Seq.empty[Long].toDF("id"), nullVec, "vec", "id"))
    assert(ex.getMessage.contains("null vector"))
  }

  test("applyDelta: added rows with a null id fail loudly naming the id column, one row or two") {
    // a null id has no shard of its own: the guard names the id column
    // before any shard is read or rewritten
    val dir = java.nio.file.Files.createTempDirectory("hnsw_null_id").toString + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 4,
      m = 16, efConstruction = 128)
    for (n <- Seq(1, 2)) {
      val added = items.take(n).toSeq.toDF("id", "vec").select(lit(null).cast("long").as("id"), col("vec"))
      val ex = intercept[IllegalArgumentException](
        Hnsw.applyDelta(spark, dir, Seq.empty[Long].toDF("id"), added, "vec", "id"))
      assert(ex.getMessage.contains("null id") && ex.getMessage.contains("(column id)"), ex.getMessage)
    }
    assert(Hnsw.readIndex(spark, dir).count() == items.length)
  }

  test("applyDelta invariants under randomized deltas: id-set algebra holds across evolving rounds") {
    val dir = java.nio.file.Files.createTempDirectory("hnsw_delta_prop").toString + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 8,
      m = 16, efConstruction = 128)
    var expect: Set[Long] = items.map(_._1).toSet
    val rnd = new scala.util.Random(777)
    for (round <- 1 to 3) {
      val ids      = expect.toSeq.sorted
      val removed  = rnd.shuffle(ids).take(1 + rnd.nextInt(15))
      val changed  = rnd.shuffle(ids.filterNot(removed.contains)).take(rnd.nextInt(8))
      val freshIds = (0 until 1 + rnd.nextInt(6)).map(_ => 5000L * round + rnd.nextInt(500))
        .distinct.filterNot(expect.contains)
      val added = (changed.map(id => (id, items((id % 400).toInt)._2.map(_ + round * 0.1)))
        ++ freshIds.map(id => (id, items((id % 400).toInt)._2.map(_ - round * 0.1)))).toDF("id", "vec")
      Hnsw.applyDelta(spark, dir, removed.toDF("id"), added, "vec", "id")
      expect = expect -- removed ++ changed ++ freshIds
      val got = Hnsw.readIndex(spark, dir).select("id").as[Long].collect()
      assert(got.length == got.distinct.length, s"round $round: duplicate store rows")
      assert(got.toSet == expect,
        s"round $round: missing=${expect -- got} extra=${got.toSet -- expect}")
      // every surviving id stays findable (exhaustive beam)
      val idx = Hnsw.readIndex(spark, dir)
      rnd.shuffle(expect.toSeq).take(3).foreach { id =>
        val hits = Hnsw.searchIndex(idx, items((id % 400).toInt)._2.toSeq, "id", expect.size,
          efSearch = 2048).select("id").as[Long].collect().toSet
        assert(hits.contains(id), s"round $round: id $id unreachable")
      }
    }
  }

  test("derived shard count follows the rows-per-shard budget") {
    assert(Hnsw.shardsFor(1L) == 1)
    assert(Hnsw.shardsFor(Hnsw.RowsPerShard) == 1)
    assert(Hnsw.shardsFor(Hnsw.RowsPerShard + 1) == 2)
    assert(Hnsw.shardsFor(100L * Hnsw.RowsPerShard) == 100)
  }

  // ------------------------------------------------------- filtered search

  /** Brute-force filtered top-k over the synthetic corpus. */
  private def bruteTopFiltered(q: Array[Double], k: Int, allow: Long => Boolean): Seq[Long] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    items.filter(it => allow(it._1)).map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq
  }

  private lazy val payloadDf = items.map { case (id, _) => (id, id % 4, id % 37 == 0) }
    .toSeq.toDF("id", "grp", "rare")

  test("searchGraphFiltered: only allowed ids surface; exhaustive beam equals filtered brute force") {
    val g  = Hnsw.build(items, m = 16, efConstruction = 128)
    val ok = new java.util.BitSet(g.size)
    g.ids.zipWithIndex.foreach { case (id, ord) => if (id % 2 == 0) ok.set(ord) }
    val q   = items(42)._2.map(_ + 0.003)
    val got = Hnsw.searchGraphFiltered(g, q, 10, efSearch = 512, ok).map(_._1).toSeq
    assert(got.forall(_ % 2 == 0), s"disallowed ids surfaced: $got")
    assert(got == bruteTopFiltered(q, 10, _ % 2 == 0), s"got $got")
    // empty allowed set short-circuits
    assert(Hnsw.searchGraphFiltered(g, q, 10, 512, new java.util.BitSet(g.size)).isEmpty)
  }

  test("filtered searchIndex: the unfiltered call's plan is join-free (filters param is plan-neutral)") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-planneutral", nShards = 4,
      m = 16, efConstruction = 128)
    val plan = Hnsw.searchIndex(idx, items(3)._2.toSeq, "id", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unfiltered searchIndex picked up a join:\n$plan")
    assert(!plan.contains("__ok"), s"unfiltered searchIndex flags payload rows:\n$plan")
  }

  test("filter-aware beam: broad predicate keeps recall under a non-exhaustive oversampled beam") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-beam", nShards = 4,
      m = 16, efConstruction = 128)
    // sel = 0.25 → efF = ceil(10/0.25) = 40 « the ~100-row shards: a real
    // beam, not an exhaustive scan
    val recalls = (0 until 10).map { qi =>
      val q = items(qi * 23 % items.length)._2.map(_ + 0.007 * (qi + 1))
      val exact = bruteTopFiltered(q, 10, _ % 4 == 1).toSet
      val got = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 10,
        filters = Seq(col("grp") === 1), payload = payloadDf, maxEf = 4096)
        .select("id").as[Long].collect().toSet
      assert(got.forall(_ % 4 == 1), s"q$qi: disallowed ids surfaced: $got")
      (got & exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean filtered recall $mean: $recalls")
  }

  test("filtered beam: exactly ONE wide exchange (the explicit shard union), never a planner-keyed rewrite") {
    // Round-14 contract (replacing the round-13 zero-wide-exchange
    // aspiration, which was an estimate-size artifact: the flag JOIN's
    // store side only stayed unshuffled when the flags side broadcast;
    // under requireAllClusterKeysForCoPartition=true EnsureRequirements
    // rewrote both sides to hash(shard, ord) at the 768-d/100k tier —
    // breaking shard-locality and costing TWO wide shuffles once
    // re-asserted). The union device pays exactly ONE wide exchange: the
    // explicit REPARTITION_BY_COL on shard, whose layout the graph
    // rebuild's correctness rests on — assert both the count and that no
    // wide exchange is keyed on anything beyond shard.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-colocex", nShards = 4,
      m = 16, efConstruction = 128)
    val coloc = Hnsw.colocated(idx).persist()
    try {
      coloc.count() // materialize so the cache reports its hash(shard) layout
      val q   = items(17)._2.map(_ + 0.004)
      val res = Hnsw.searchIndex(coloc, q.toSeq, "id", 10, efSearch = 10,
        filters = Seq(col("grp") === 1), payload = payloadDf, maxEf = 4096)
      val got = res.select("id").as[Long].collect().toSet
      assert(got.nonEmpty && got.forall(_ % 4 == 1), s"disallowed ids surfaced: $got")
      def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: QueryStageExec        => Seq(s.plan)
          case o                        => o.children
        }
        (p match { case e: ShuffleExchangeLike => Seq(e); case _ => Nil }) ++
          kids.flatMap(exchanges)
      }
      val wide = exchanges(res.queryExecution.executedPlan)
        .filter(_.output.exists(a => a.name == "vec" || a.name == "links"))
      assert(wide.size <= 1,
        s"expected at most the one shard-union exchange, got ${wide.size}:\n${wide.map(_.treeString).mkString("\n")}")
      wide.foreach(_.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          assert(h.expressions.forall(
            _.references.forall(_.name.equalsIgnoreCase("shard"))),
            s"wide exchange keyed beyond shard (planner rewrite!): ${h.expressions}")
        case other => fail(s"wide exchange is not hash-partitioned: $other")
      })
    } finally { coloc.unpersist(); () }
  }

  test("selectivityHint skips the estimate scan and matches the estimated plan's results on both branches") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-hint", nShards = 4,
      m = 16, efConstruction = 128)
    val q = items(55)._2.map(_ + 0.006)
    // broad branch (sel 0.25): hinted == estimated
    val est = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 10,
      filters = Seq(col("grp") === 1), payload = payloadDf, maxEf = 4096)
      .select("id").as[Long].collect().toSeq
    val hinted = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 10,
      filters = Seq(col("grp") === 1), payload = payloadDf, maxEf = 4096,
      selectivityHint = 0.25)
      .select("id").as[Long].collect().toSeq
    assert(hinted == est, s"hinted broad-beam results diverged: $hinted vs $est")
    // a tiny hint routes to the exact branch — exact by construction
    val hintedExact = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 64,
      filters = Seq(col("rare")), payload = payloadDf, maxEf = 256,
      selectivityHint = 0.027)
      .select("id").as[Long].collect().toSeq
    assert(hintedExact == bruteTopFiltered(q, 10, _ % 37 == 0), s"got $hintedExact")
    // out-of-range hints are rejected up front, at either end of (0, 1]
    for (bad <- Seq(1.5, 0d)) intercept[IllegalArgumentException] {
      Hnsw.searchIndex(idx, q.toSeq, "id", 10,
        filters = Seq(col("rare")), payload = payloadDf, selectivityHint = bad)
    }
    ()
  }

  test("cardinality gate: selective predicate routes to the exact branch and equals filtered brute force") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-exact", nShards = 4,
      m = 16, efConstruction = 128)
    val q = items(99)._2.map(_ + 0.002)
    // sel ≈ 0.0275 → needEf ≈ 2328 > maxEf 256 → exact branch
    val res = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 64,
      filters = Seq(col("rare")), payload = payloadDf, maxEf = 256)
    val got = res.select("id").as[Long].collect().toSeq
    assert(got == bruteTopFiltered(q, 10, _ % 37 == 0), s"got $got")
    // the exact branch hydrates via a semi-join against the allowed ids
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"exact branch lost its semi-join:\n$plan")
    // a predicate nothing satisfies returns an empty, well-typed frame
    val none = Hnsw.searchIndex(idx, q.toSeq, "id", 10,
      filters = Seq(col("grp") === 99), payload = payloadDf)
    assert(none.columns.toSeq == Seq("id", "score") && none.count() == 0)
  }

  test("recall gate on the real embeddings at sf0.01 and sf0.1 (filtered beam, non-exhaustive at sf0.1)") {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dirPath = s"/root/testdata/$sf/embeddings.parquet"
      assume(new java.io.File(dirPath).exists(), s"$dirPath not generated")
      val emb = spark.read.parquet(dirPath).select(col("vec_id"), col("embedding"), col("label"))
      val store = java.nio.file.Files.createTempDirectory(s"hnsw_filt_$sf").toString + "/store"
      Hnsw.writeIndex(emb, "embedding", "vec_id", store, nShards = 4)
      val idx = Hnsw.readIndex(spark, store)
      val q   = graft.operators.Embedder.default.embed("spark engine vector search").map(_.toDouble).toSeq
      val exact = Search.topK(emb.where(col("label") === 3), "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSet
      // efSearch 16, sel ≈ 0.1 → efF ≈ 160 (< the ~500-row shards at sf0.1)
      val got = Hnsw.searchIndex(idx, q, "vec_id", 10, efSearch = 16,
        filters = Seq(col("label") === 3), payload = emb.select("vec_id", "label"),
        maxEf = 4096)
        .select("vec_id").as[Long].collect().toSet
      val recall = (got & exact).size / 10.0
      assert(recall >= 0.9, s"$sf: filtered recall $recall (got $got vs $exact)")
    }
  }

  test("batch-join recall gate on the real embeddings (filtered, non-exhaustive beams at sf0.1)") {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dirPath = s"/root/testdata/$sf/embeddings.parquet"
      assume(new java.io.File(dirPath).exists(), s"$dirPath not generated")
      val emb = spark.read.parquet(dirPath).select(col("vec_id"), col("embedding"), col("label"))
      val store = java.nio.file.Files.createTempDirectory(s"hnsw_bfilt_$sf").toString + "/store"
      Hnsw.writeIndex(emb.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
        store, nShards = 4)
      val idx     = Hnsw.readIndex(spark, store)
      val queries = emb.where(col("vec_id") % 97 === 0)
      // efSearch 16, sel ≈ 0.1 → per-query beams ≈ 160 (non-exhaustive at
      // sf0.1's ~500-row shards) — same width as the single-query gate
      val got = Hnsw.knnJoin(idx, queries, "embedding", "vec_id", 10, efSearch = 16,
        filters = Seq(col("label") === 3), payload = emb.select("vec_id", "label"),
        payloadIdCol = "vec_id", maxEf = 4096)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val qRows = queries.select("vec_id").as[Long].collect()
      val recalls = qRows.map { qid =>
        val qv = emb.where(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>")).as[Seq[Double]].head()
        val exact = Search.knnJoin(
          emb.where(col("vec_id") === qid).select(col("vec_id"), col("embedding")),
          emb.where(col("label") === 3).select(col("vec_id"), col("embedding")),
          "embedding", "vec_id", "embedding", "vec_id", 10)
          .select("neighbor_id").as[Long].collect().toSet
        (got.getOrElse(qid, Set.empty[Long]) & exact).size / math.min(10, exact.size).toDouble
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.9, s"$sf: mean filtered batch recall $mean over ${qRows.length} queries")
    }
  }

  test("knnJoin: batch exhaustive beams equal the brute-force knnJoin; self never surfaces and never displaces the #k neighbor") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-knnjoin", nShards = 4,
      m = 16, efConstruction = 128)
    val queries = df.where(col("id") % 37 === 0)
    val got = Hnsw.knnJoin(idx, queries, "vec", "id", 5, efSearch = 65536)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val want = Search.knnJoin(queries, df, "vec", "id", "vec", "id", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == want, s"batch HNSW join diverged from brute force:\n${(got diff want).take(5)} vs ${(want diff got).take(5)}")
    assert(!got.exists { case (q, n, _) => q == n }, "self must be excluded")
  }

  test("filtered knnJoin: both gate branches equal the brute-force join over the filtered corpus") {
    val df  = items.toSeq.toDF("id", "vec")
    val idx = Hnsw.indexFor(df, "vec", "id", cacheKey = "hnswspec-fknnjoin", nShards = 4,
      m = 16, efConstruction = 128)
    val queries = df.where(col("id") % 37 === 0)
    def brute(allow: org.apache.spark.sql.Column) = Search.knnJoin(queries, df.join(
      payloadDf.where(allow).select(col("id")), Seq("id"), "left_semi"),
      "vec", "id", "vec", "id", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    // broad predicate (sel 0.25): exhaustive filter-aware beams
    val broad = Hnsw.knnJoin(idx, queries, "vec", "id", 5, efSearch = 65536,
      filters = Seq(col("grp") === 1), payload = payloadDf, payloadIdCol = "id",
      maxEf = 1 << 20)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(broad == brute(col("grp") === 1), "broad-branch filtered batch join diverged")
    assert(broad.forall { case (_, n, _) => n % 4 == 1 }, "disallowed neighbors surfaced")
    // selective predicate trips the gate → exact branch (brute force by construction)
    val exact = Hnsw.knnJoin(idx, queries, "vec", "id", 5, efSearch = 64,
      filters = Seq(col("rare")), payload = payloadDf, payloadIdCol = "id", maxEf = 256)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(exact == brute(col("rare")), "exact-branch filtered batch join diverged")
    // a predicate nothing passes returns an empty, well-typed frame
    val none = Hnsw.knnJoin(idx, queries, "vec", "id", 5,
      filters = Seq(col("grp") === 99), payload = payloadDf, payloadIdCol = "id")
    assert(none.columns.toSeq == Seq("query_id", "neighbor_id", "score", "rank")
      && none.count() == 0)
  }

  test("maintain: closes the shardStats loop — under-budget store reshards to target, right-sized store is a byte-untouched noop") {
    val root = java.nio.file.Files.createTempDirectory("hnsw_maintain").toString
    val dir  = root + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 1,
      m = 16, efConstruction = 128)
    val q = items(7)._2.map(_ + 0.005)
    def topIds() = Hnsw.searchIndex(Hnsw.readIndex(spark, dir), q.toSeq, "id", 10,
      efSearch = 65536).select("id").as[Long].collect().toSeq
    val before = topIds()
    // 400 rows / budget 100 → target 4 ≠ 1 → reshard
    val r1 = Hnsw.maintain(spark, dir, rowsPerShard = 100L).collect().head
    assert(r1.getString(0) == "reshard" && r1.getLong(1) == 400L
      && r1.getInt(2) == 1 && r1.getInt(3) == 4, s"$r1")
    assert(Hnsw.shardStats(spark, dir).select("n_shards").head.getInt(0) == 4)
    assert(topIds() == before, "maintain's reshard must preserve search results")
    // right-sized store: noop, and NOT A BYTE of the store is rewritten
    def snapshot(): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          b += (p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      b.result()
    }
    val files = snapshot()
    val r2 = Hnsw.maintain(spark, dir, rowsPerShard = 100L).collect().head
    assert(r2.getString(0) == "noop" && r2.getInt(2) == 4 && r2.getInt(3) == 4, s"$r2")
    assert(snapshot() == files, "a noop decision must not touch the store")
  }

  test("shardStats + reshard: occupancy reported, re-route matches id-hash routing, content and search preserved") {
    val root = java.nio.file.Files.createTempDirectory("hnsw_reshard").toString
    val dir  = root + "/store"
    Hnsw.writeIndex(items.toSeq.toDF("id", "vec"), "vec", "id", dir, nShards = 2,
      m = 16, efConstruction = 128)

    val before = Hnsw.shardStats(spark, dir)
      .select("shard", "n", "occupancy", "over_capacity", "n_shards").collect()
    assert(before.map(_.getInt(0)).toSet == Set(0, 1))
    assert(before.map(_.getLong(1)).sum == 400L)
    before.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getLong(1) / Hnsw.RowsPerShard.toDouble) < 1e-12)
      assert(!r.getBoolean(3)) // 400 rows nowhere near the 250k budget
      assert(r.getInt(4) == 2)
    }

    val meta = Hnsw.reshard(spark, dir, nShards = 5)
    assert(meta.nShards == 5 && Hnsw.readMeta(spark, dir).nShards == 5)
    // staging breadcrumbs are gone after a clean swap
    val leftovers = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(leftovers == Set("store"), s"leftover staging dirs: $leftovers")

    val idx = Hnsw.readIndex(spark, dir)
    assert(idx.select("id").as[Long].collect().toSet == items.map(_._1).toSet)

    // every id sits in the shard the id-hash router would pick NOW — the
    // invariant applyDelta relies on to route future inserts
    val routed = items.toSeq.toDF("id", "vec")
      .repartition(5, col("id"))
      .select(col("id"), spark_partition_id().as("pid"))
      .as[(Long, Int)].collect().toMap
    val stored = idx.select(col("id"), col("shard").cast("int")).as[(Long, Int)].collect()
    stored.foreach { case (id, sh) => assert(sh == routed(id), s"id $id: shard $sh != ${routed(id)}") }

    // search against the resharded store still matches brute force
    val q = items(123)._2
    val got = Hnsw.searchIndex(idx, q.toSeq, "id", 10, efSearch = 512)
      .select("id").as[Long].collect().toSeq
    assert(got == bruteTop(q, 10), s"got $got expected ${bruteTop(q, 10)}")

    // default target restores the rows-per-shard budget (400 rows -> 1 shard)
    assert(Hnsw.reshard(spark, dir).nShards == 1)
    assert(Hnsw.shardStats(spark, dir).count() == 1)
  }
}

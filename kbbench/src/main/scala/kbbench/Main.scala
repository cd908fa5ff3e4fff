package kbbench

import graft.operators._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Command line: --workload search|ingest --seed N --seconds S
  * --trace 0|1 --work DIR --out DIR. Human-readable metric lines go to
  * stdout, the last line is the JSON result.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val b = new Bench(workload, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")))
    val json =
      try b.run()
      finally b.close()
    println(json)
  }

  val Workloads = Seq("search", "ingest")
}

/** One benchmark run: set-up, one measured window (tracing off), and with
  * `traced` a second, traced window for the per-layer numbers.
  */
final class Bench(workload: String, seed: Long, seconds: Int, traced: Boolean, work: Path, out: Path)
    extends AutoCloseable {
  import Bench._

  private val gen      = new Gen(seed)
  private val embedder = new HashingEmbedder(Dim)
  private val oracle   = new Oracle(embedder)
  private val outcomes = new Outcomes
  private val tracer   = new Tracer
  private val reqIds   = new java.util.concurrent.atomic.AtomicLong
  private var spark: SparkSession = _
  private var counters: EngineCounters = _
  private val printed = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer   = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def say(name: String, value: Double, unit: String): Unit = printed(name) = (value, unit)
  private def setLayer(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  private val born = System.nanoTime
  private def phase(what: String): Unit = System.err.println(f"kbbench: ${(System.nanoTime - born) / 1e9}%7.2f s  $what")

  def close(): Unit = if (spark != null) { spark.stop(); spark = null }

  def run(): String = {
    System.setProperty("spark.sql.extensions", "graft.GraftExtensions")
    val (recs, _, _) = oracle.prepare(gen.corpus)
    oracle.apply(Nil, recs)
    val nList = math.max(1, math.round(math.sqrt(oracle.size.toDouble)).toInt)
    phase("inputs ready")

    val setups = (0 until Setups).map(r => setup(work.resolve(s"store-$r").toString, nList))
    val standing = work.resolve(s"store-${Setups - 1}").toString
    val setupS = Stats.median(setups.map(_._1))
    phase(s"set-ups ${setups.map(_._1).mkString(" ")}")
    if (traced) {
      counters = new EngineCounters
      spark.sparkContext.addSparkListener(counters)
      setLayer("ivf.build_s", Stats.median(setups.map(_._2)), "s")
      setLayer("ivf.store_bytes_per_chunk", dirBytes(Paths.get(standing)).toDouble / oracle.size, "bytes")
    }
    spark.conf.set("spark.graft.ivf.autoProbe", "true")

    val w: Load = if (workload == "search") new SearchLoad(standing) else new IngestLoad(standing, recs)
    w.warmup()
    phase("warm-up done")
    val first = w.window(seconds, traced = false)
    phase(s"window done: ${first.lat.map(x => f"$x%.0f").mkString(" ")}")
    val e2e = Seq(
      "setup_s"             -> (setupS, "s"),
      "op_mean_ms"          -> (first.opMeanMs, "ms"),
    )
    val metrics =
      if (!traced) e2e
      else {
        tracer.enable()
        val heap = new HeapSampler
        val second =
          try {
            val s2 = w.window(seconds, traced = true)
            // the knowledge base is organized after uploads; the serving
            // workload leaves the ML layers idle
            if (workload == "ingest") organize(w.path)
            s2
          } finally heap.close()
        org.apache.spark.KbBenchBridge.drainListeners(spark.sparkContext)
        w.layers(second)
        setLayer("ivf.recall_at_10", second.recall, "share")
        engineLayers(second.reqs, second.ops)
        setLayer("engine.heap_peak_mb", heap.peakMb, "MB")
        setLayer("trace.overhead_ms", second.opMeanMs - first.opMeanMs, "ms")
        tracer.write(out.resolve(s"trace-$workload-$seed.jsonl"))
        println("per-layer self time (traced window):")
        println(f"  ${"span"}%-22s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s")
        tracer.selfTimes.foreach { case (n, c, tot, self) => println(f"  $n%-22s $c%7d $tot%12.1f $self%12.1f") }
        PerLayer.map { case (n, u) => n -> layer.getOrElse(n, (0.0, u)) }
      }

    println(s"workload $workload seed $seed: ${gen.corpus.size} documents, ${recs.size} chunks at start, nList $nList, ${Setups} set-ups")
    (e2e ++ printed.toSeq).foreach { case (n, (v, u)) => println(f"  $n%-26s $v%14.4f $u") }
    println(f"  ${"failed_share"}%-26s ${outcomes.failedShare}%14.4f share (${outcomes.failedCount} of ${outcomes.attemptedCount})")
    outcomes.firstProblems.foreach(p => println(s"  DEFECT $p"))
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${outcomes.failedCount == 0}, "attempted": ${math.max(1L, outcomes.attemptedCount)}, "failed": ${outcomes.failedCount}, "metrics": {$body}}"""
  }

  // ---------------------------------------------------------------- set-up

  /** Session start plus the bulk build of the store at `path`: chunk →
    * embed → IVF fit → indexed write with sidecar. Returns (total s, build
    * s without the session start).
    */
  private def setup(path: String, nList: Int): (Double, Double) = {
    close()
    val t0 = System.nanoTime
    spark = graft.Engine.session("kbbench")
    val sp = spark
    import sp.implicits._
    val docs = gen.corpus.map(d => (d.uploadKey, d.text, d.lang, d.documentId, d.category))
      .toDF("doc_id", "text", "lang", "document_id", "category")
    val t1 = System.nanoTime
    val (assigned, model) = Ivf.assign(embedChunks(docs), "embedding", nList)
    val ta = System.nanoTime
    Ivf.writeIndexed(assigned, path, model, "embedding")
    val t2 = System.nanoTime
    phase(f"set-up: session ${(t1 - t0) / 1e9}%.2f s, chunk+embed+fit ${(ta - t1) / 1e9}%.2f s, write ${(t2 - ta) / 1e9}%.2f s")
    ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** documents(doc_id, text, lang, document_id, category) → chunks with
    * their 768-d embedding: the store's row shape.
    */
  private def embedChunks(docs: DataFrame): DataFrame = {
    val chunks = Chunker.chunk(spark, docs).toDF()
      .join(broadcast(docs.select("doc_id", "document_id", "category", "lang")), "doc_id")
      .select((col("doc_id") * Gen.ChunkSpan + col("chunk_index")).as("chunk_id"),
        col("document_id"), col("category"), col("lang"), col("text"))
    Embedder.withEmbedding(chunks, "text", "embedding", embedder)
  }

  // ---------------------------------------------------------------- search

  /** Read handles over a store: vectors with the filter columns for the
    * top-k, payload columns for hydration.
    */
  private final class Store(val path: String) {
    val all: DataFrame     = spark.read.parquet(path)
    val vecs: DataFrame    = all.select("chunk_id", "document_id", "category", "lang", "embedding")
    val payload: DataFrame = all.select("chunk_id", "document_id", "category", "lang", "text")
  }

  private def filterCols(f: Filter): Seq[Column] = f match {
    case Filter.NoFilter    => Nil
    case Filter.Category(c) => Seq(col("category") === c)
    case Filter.Lang(l)     => Seq(col("lang") === l)
    case Filter.Document(d) => Seq(col("document_id") === d)
  }

  /** One search request as a user issues it: embed the query text,
    * declarative filtered top-10 over the store (the auto-probe rule may
    * prune it), then hydrate and format the hits.
    */
  private def query(store: Store, text: String, filter: Filter, req: Long): Answer =
    tracer.request("search.query", req, spark.sparkContext) {
      val sp = spark
      import sp.implicits._
      val qv = tracer.span("embedder.query")(embedder.embed(text)).map(_.toDouble)
      val hits = Search.topK(store.vecs, "embedding", "chunk_id", qv.toSeq, K, filterCols(filter))
        .select("chunk_id", "score")
      val qe = hits.queryExecution
      tracer.span("plans.plan")(qe.executedPlan)
      val ranked = tracer.span("search.exec")(hits.collect()).map(r => (r.getLong(0), r.getDouble(1))).toVector
      val rows = tracer.span("search.hydrate") {
        Search.formatHits(Joins.hydrate(ranked.toDF("chunk_id", "score"), store.payload, "chunk_id"),
          "chunk_id", Seq("document_id", "category", "lang", "text")).collect()
      }
      val byId = rows.map(r => r.getLong(0) -> Hit(r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3), r.getString(4), r.getString(5))).toMap
      val ordered = ranked.map { case (id, s) => byId.getOrElse(id, Hit(id, s, -1L, null, null, null)) }
      val rewritten = qe.optimizedPlan.exists {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c.references.exists(_.name == "list_id")
        case _ => false
      }
      val (files, scanned) = if (tracer.enabled) scanMetrics(qe.executedPlan) else (0L, 0L)
      Answer(qv, ordered, rewritten, files, scanned)
    }

  /** Files and rows read by the file scans of an executed plan. */
  private def scanMetrics(p: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(n: SparkPlan): Seq[FileSourceScanExec] = n match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case f: FileSourceScanExec    => Seq(f)
      case o                        => o.children.flatMap(scans)
    }
    val ss = scans(p)
    (ss.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      ss.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  /** Run a search request, check it, and keep its record. */
  private def searchOp(store: Store, q: Query, sink: java.util.Queue[Done], op: String): Unit = {
    val req = reqIds.incrementAndGet()
    val t0  = System.nanoTime
    try {
      val a  = query(store, q.text, q.filter, req)
      val ms = (System.nanoTime - t0) / 1e6
      val problems = synchronized(oracle.check(a.q, q.filter, K, a.hits))
      outcomes.record(s"$op ${q.index} ${q.filter}", problems)
      val recall = synchronized(oracle.recall(a.q, q.filter, K, a.hits.map(_.chunkId)))
      sink.add(Done(req, ms, recall, a.rewritten, a.files, a.rowsScanned, a.hits.length, q.repeatOf >= 0, q.filter))
    } catch { case scala.util.control.NonFatal(e) => outcomes.error(s"$op ${q.index}", e) }
  }

  // ---------------------------------------------------------------- loads

  private trait Load {
    /** The store the load leaves behind, which the organize pass reads. */
    def path: String
    def warmup(): Unit
    def window(seconds: Int, traced: Boolean): Window
    def layers(w: Window): Unit
  }

  /** Closed loop of 2 clients over the standing store. */
  private final class SearchLoad(val path: String) extends Load {
    private val store = new Store(path)
    private val next  = new java.util.concurrent.atomic.AtomicInteger(0)

    /** The warm-up stream through the same 2 clients. It is a fixed
      * number of requests, not a time, so every run enters its window after
      * the same requests, however fast the code or the machine.
      */
    def warmup(): Unit = {
      val i = new java.util.concurrent.atomic.AtomicInteger(0)
      clients { () =>
        val n = i.getAndIncrement()
        if (n < gen.warmup.length) { query(store, gen.warmup(n).text, gen.warmup(n).filter, reqIds.incrementAndGet()); true }
        else false
      }
    }

    /** Run `step` on each client thread until it returns false. */
    private def clients(step: () => Boolean): Unit =
      (0 until SearchClients).map { c =>
        val t = new Thread(() => while (step()) {}, s"kbbench-client-$c")
        t.start(); t
      }.foreach(_.join())

    def window(seconds: Int, traced: Boolean): Window = {
      val done     = new java.util.concurrent.ConcurrentLinkedQueue[Done]
      val t0       = System.nanoTime
      val deadline = t0 + seconds * 1000000000L
      clients { () =>
        System.nanoTime < deadline && { searchOp(store, gen.searchStream(next.getAndIncrement()), done, "search"); true }
      }
      val elapsed = (System.nanoTime - t0) / 1e9
      val ds = done.toArray(new Array[Done](0)).toVector
      if (ds.isEmpty) outcomes.record("search window", Seq("no request completed"))
      val lat = ds.map(_.ms)
      val rec = ds.flatMap(_.recall)
      val tailP = Stats.tailPercentile(lat.length)
      if (!traced) {
        say("search_p50_ms", Stats.median(lat), "ms")
        tailP.foreach(p => say(s"search_p${fmtP(p)}_ms", Stats.percentile(lat, p), "ms"))
        say("search_qps", ds.length / elapsed, "1/s")
        say("search_recall_at_10", Stats.mean(rec), "share")
        say("search_samples", ds.length, "count")
        say("search_repeat_share", ds.count(_.repeat).toDouble / math.max(1, ds.length), "share")
      }
      Window(Stats.mixMean(ds.map(d => Gen.kind(d.filter) -> d.ms), Gen.MixShares), lat, Stats.mean(rec),
        ds.map(_.req), ds.length, ds)
    }

    def layers(w: Window): Unit = searchLayers(w.done)
  }

  private def searchLayers(ds: Seq[Done]): Unit = {
    val n = math.max(1, ds.length)
    setLayer("plans.plan_ms", tracer.totalMs("plans.plan") / math.max(1, tracer.count("plans.plan")), "ms")
    setLayer("plans.rewrite_share", ds.count(_.rewritten).toDouble / n, "share")
    setLayer("ivf.rows_scanned_per_result", ds.map(_.scanned).sum.toDouble / math.max(1, ds.map(_.results).sum), "rows")
    setLayer("ivf.files_read_per_query", ds.map(_.files).sum.toDouble / n, "files")
    setLayer("search.exec_ms", tracer.totalMs("search.exec") / math.max(1, tracer.count("search.exec")), "ms")
    setLayer("search.hydrate_ms", tracer.totalMs("search.hydrate") / math.max(1, tracer.count("search.hydrate")), "ms")
    setLayer("embedder.query_ms", tracer.totalMs("embedder.query") / math.max(1, tracer.count("embedder.query")), "ms")
  }

  /** Closed loop of 1 client uploading batches, in rounds. Each round starts
    * from a fresh copy of the standing store and uploads the same
    * [[Gen.RoundBatches]] batches, with search-mix reads and read-after-write
    * checks after each, so every round does the same work however many
    * rounds a window completes.
    */
  private final class IngestLoad(standing: String, standingRecs: Seq[ChunkRec]) extends Load {
    private var rounds   = 0
    private var store: Store = _
    var path: String     = _
    private val batches  = mutable.ArrayBuffer.empty[BatchDone]

    /** Copy the standing store to a new directory and point the store and
      * the oracle at it; the previous round's copy is deleted.
      */
    private def freshCopy(): Unit = {
      if (path != null) deleteDir(Paths.get(path))
      path = work.resolve(s"live-$rounds").toString
      rounds += 1
      copyDir(Paths.get(standing), Paths.get(path))
      store = new Store(path)
      oracle.reset(standingRecs)
    }

    /** Two batches of a round with their reads: the first batches and
      * reads of a process otherwise still pay code generation and JIT.
      */
    def warmup(): Unit = {
      freshCopy()
      gen.batches.take(2).foreach(bt => batch(bt, new java.util.concurrent.ConcurrentLinkedQueue[Done]))
    }

    /** Whole rounds until `seconds` have passed. */
    def window(seconds: Int, traced: Boolean): Window = {
      batches.clear()
      val reads    = new java.util.concurrent.ConcurrentLinkedQueue[Done]
      val deadline = System.nanoTime + seconds * 1000000000L
      var n        = 0
      while (n == 0 || System.nanoTime < deadline) {
        freshCopy()
        gen.batches.foreach(bt => batch(bt, reads))
        n += 1
      }
      val rs   = reads.toArray(new Array[Done](0)).toVector
      val lat  = batches.map(_.ms).toVector
      val docs = batches.map(_.docs).sum
      val busy = lat.sum / 1000.0
      val rec  = rs.flatMap(_.recall)
      if (!traced) {
        say("ingest_docs_per_s", docs / busy, "1/s")
        say("ingest_batch_p50_s", Stats.median(lat) / 1000.0, "s")
        say("ingest_search_p50_ms", Stats.median(rs.map(_.ms)), "ms")
        say("ingest_search_recall_at_10", Stats.mean(rec), "share")
        say("ingest_rounds", n, "count")
        say("ingest_batches", lat.length, "count")
      }
      Window(Stats.mean(lat), lat, Stats.mean(rec), batches.map(_.req).toVector, batches.length, rs)
    }

    def layers(w: Window): Unit = {
      val bs = batches.toVector
      setLayer("ivf.upsert_ms", tracer.totalMs("ivf.upsert") / math.max(1, tracer.count("ivf.upsert")), "ms")
      setLayer("ivf.lists_touched_per_batch", Stats.mean(bs.map(_.lists.toDouble)), "lists")
      val written = bs.flatMap(x => counters.of(x.req)).map(_.outputBytes.get).sum
      setLayer("ivf.bytes_written_per_chunk", written.toDouble / math.max(1, bs.map(_.chunks).sum), "bytes")
      setLayer("chunker.ms_per_batch", Stats.mean(bs.map(_.chunkNs / 1e6)), "ms")
      setLayer("chunker.chunks_per_doc", bs.map(_.chunks).sum.toDouble / math.max(1, bs.map(_.docs).sum), "chunks")
      setLayer("embedder.chunks_per_s", bs.map(_.chunks).sum / math.max(1e-9, bs.map(_.embedNs).sum / 1e9), "1/s")
      searchLayers(w.done)
      setLayer("ivf.store_bytes_per_chunk", dirBytes(Paths.get(path)).toDouble / oracle.size, "bytes")
    }

    private def batch(bt: Batch, reads: java.util.Queue[Done]): Unit = {
      val sp = spark
      import sp.implicits._
      val req = reqIds.incrementAndGet()
      val gone = (bt.deletes ++ bt.uploads.filter(_.version > 0).map(_.documentId)).flatMap(oracle.chunkIdsOf)
      val t0 = System.nanoTime
      val lists =
        try tracer.request("ingest.batch", req, spark.sparkContext) {
          val docs = bt.uploads.map(d => (d.uploadKey, d.text, d.lang, d.documentId, d.category))
            .toDF("doc_id", "text", "lang", "document_id", "category")
          val n = tracer.span("ivf.upsert")(Ivf.applyDelta(spark, path, gone.toDF("chunk_id"), embedChunks(docs), "chunk_id"))
          store = tracer.span("ivf.reopen")(new Store(path))
          n
        } catch { case scala.util.control.NonFatal(e) => outcomes.error(s"ingest batch ${bt.index}", e); -1L }
      val ms = (System.nanoTime - t0) / 1e6
      val (recs, chunkNs, embedNs) = oracle.prepare(bt.uploads)
      oracle.apply(bt.deletes, recs)
      outcomes.record(s"ingest batch ${bt.index}", if (lists > 0) Nil else Seq(s"applyDelta touched $lists lists"))
      batches += BatchDone(req, ms, bt.uploads.length, recs.length, math.max(lists, 0L), chunkNs, embedNs)
      afterBatch(bt, recs, reads)
    }

    /** The reads after a batch: its search-mix requests, then the
      * read-after-write checks.
      */
    private def afterBatch(bt: Batch, recs: Seq[ChunkRec], reads: java.util.Queue[Done]): Unit = {
      bt.queries.foreach(q => searchOp(store, q, reads, "ingest-read"))
      // read-after-write: a just-uploaded chunk is the top-1 for its own
      // vector under its document filter; a deleted document returns nothing
      val fresh = bt.uploads.find(_.version > 0).orElse(bt.uploads.headOption).toSeq
      fresh.flatMap(d => recs.find(_.documentId == d.documentId)).foreach { r =>
        try {
          val top = Search.topK(store.vecs, "embedding", "chunk_id", r.vec.toSeq, 1, Seq(col("document_id") === r.documentId))
            .select("chunk_id").collect().map(_.getLong(0))
          outcomes.record(s"read-after-write ${r.chunkId}",
            if (top.toSeq == Seq(r.chunkId)) Nil else Seq(s"top-1 ${top.mkString(",")} instead of ${r.chunkId}"))
        } catch { case scala.util.control.NonFatal(e) => outcomes.error(s"read-after-write ${r.chunkId}", e) }
      }
      bt.deletes.headOption.foreach { d =>
        try {
          val left = store.vecs.where(col("document_id") === d).select("chunk_id").collect().map(_.getLong(0))
          outcomes.record(s"deleted document $d", if (left.isEmpty) Nil else Seq(s"still has chunks ${left.mkString(",")}"))
        } catch { case scala.util.control.NonFatal(e) => outcomes.error(s"deleted document $d", e) }
      }
    }
  }

  /** Run one organize pass and report its steps. */
  private def organize(path: String): Unit = {
    val p = new Organizer(path).pass()
    say("maintain_s", p.ms / 1000.0, "s")
    say("cluster_name_s", p.clusterMs / 1000.0, "s")
    say("pca_3d_s", p.pcaMs / 1000.0, "s")
    say("knn_join_s", p.joinMs / 1000.0, "s")
    say("knn_join_recall_at_10", p.recall, "share")
    say("cluster_purity", p.purity, "share")
    setLayer("ml.cluster_ms", p.clusterFitMs, "ms")
    setLayer("ml.name_ms", p.clusterMs - p.clusterFitMs, "ms")
    setLayer("ml.pca_ms", p.pcaMs, "ms")
    setLayer("ml.noise_share", p.noise, "share")
    setLayer("ml.cluster_purity", p.purity, "share")
    setLayer("ivf.knn_join_ms", p.joinMs, "ms")
    setLayer("ivf.knn_join_recall_at_10", p.recall, "share")
  }

  /** One organize pass over the store at `path`, as the knowledge base's
    * maintenance runs it: cluster + name (HDBSCAN, the reference's
    * semantics), 3-D PCA, and the batch k-NN join of 256 seeded chunks.
    */
  private final class Organizer(path: String) {
    private val store  = new Store(path)
    private val model  = Ivf.readCentroids(path, spark.sparkContext.hadoopConfiguration).get.model
    private val seeds  = { val ids = oracle.ids; gen.joinSeeds(ids.length, Gen.JoinQueries).map(ids) }
    private val qFrame = store.vecs.where(col("chunk_id").isin(seeds: _*)).select("chunk_id", "embedding")

    def pass(): PassDone = {
      val req = reqIds.incrementAndGet()
      val n   = oracle.size
      tracer.request("maintain.pass", req, spark.sparkContext) {
        val clusterer = new Ml.HdbscanClusterer(Ml.HdbscanClusterer.adaptiveMinClusterSize(n), 3)
        val t0 = System.nanoTime
        val labeled = tracer.span("ml.cluster")(Ml.clusterAndName(store.all, "embedding", "chunk_id", "text", clusterer))
        val tFit = System.nanoTime
        val labels = tracer.span("ml.name")(labeled.select("chunk_id", "label", "cluster_name").collect())
          .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
        val t1 = System.nanoTime
        val pca = tracer.span("ml.pca")(Ml.pca3d(store.all, "embedding", "chunk_id").collect())
          .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
        val t2 = System.nanoTime
        val joined = tracer.span("ivf.knn_join") {
          Ivf.knnJoin(store.all, model, qFrame, "embedding", "chunk_id", "embedding", "chunk_id", K, NProbe).collect()
        }.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSeq
        val t3 = System.nanoTime

        outcomes.record(s"cluster+name pass $req", checkLabels(labels))
        outcomes.record(s"pca pass $req", checkPca(pca))
        val (joinProblems, recall) = checkJoin(joined)
        outcomes.record(s"knn join pass $req", joinProblems)
        PassDone(req, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (tFit - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, recall,
          purity(labels), labels.count(_._2 == -1).toDouble / math.max(1, labels.length))
      }
    }

    private def checkLabels(labels: Seq[(Long, Int, String)]): Seq[String] = {
      val p = Seq.newBuilder[String]
      if (labels.length != oracle.size || labels.map(_._1).toSet != oracle.ids.toSet)
        p += s"${labels.length} labeled rows for ${oracle.size} chunks"
      if (labels.exists(l => l._3 == null || l._3.trim.isEmpty)) p += "empty cluster name"
      p.result()
    }

    private def checkPca(rows: Seq[(Long, Double, Double, Double)]): Seq[String] = {
      def variance(xs: Seq[Double]) = { val m = Stats.mean(xs); Stats.mean(xs.map(x => (x - m) * (x - m))) }
      val v = Seq(variance(rows.map(_._2)), variance(rows.map(_._3)), variance(rows.map(_._4)))
      val p = Seq.newBuilder[String]
      if (rows.length != oracle.size) p += s"${rows.length} projected rows for ${oracle.size} chunks"
      if (v(0) < v(1) * (1 - 1e-9) || v(1) < v(2) * (1 - 1e-9)) p += s"variances not descending: ${v.mkString(", ")}"
      p.result()
    }

    private def checkJoin(rows: Seq[(Long, Long, Double, Int)]): (Seq[String], Double) = {
      val p     = Seq.newBuilder[String]
      val byQ   = rows.groupBy(_._1)
      if (byQ.keySet != seeds.toSet) p += s"${byQ.size} queries answered of ${seeds.length}"
      val recalls = seeds.map { q =>
        val got = byQ.getOrElse(q, Nil).sortBy(_._4)
        if (got.length != K) p += s"query $q: ${got.length} neighbours"
        if (got.exists(_._2 == q)) p += s"query $q returned itself"
        if (got.exists(r => oracle.get(r._2).isEmpty)) p += s"query $q returned a chunk not in the store"
        oracle.neighbourRecall(q, K, got.map(_._2)).getOrElse(1.0)
      }
      (p.result().distinct.take(5), Stats.mean(recalls))
    }

    private def purity(labels: Seq[(Long, Int, String)]): Double = {
      val clustered = labels.filter(_._2 != -1)
      if (clustered.isEmpty) 0.0
      else clustered.groupBy(_._2).values.map { members =>
        members.groupBy(m => oracle.get(m._1).map(_.topic).getOrElse(-1)).values.map(_.length).max
      }.sum.toDouble / clustered.length
    }
  }

  private def engineLayers(reqs: Seq[Long], ops: Int): Unit = {
    val rs = reqs.flatMap(counters.of)
    val n  = math.max(1, ops).toDouble
    setLayer("engine.jobs_per_op", rs.map(_.jobs.get).sum / n, "jobs")
    setLayer("engine.tasks_per_op", rs.map(_.tasks.get).sum / n, "tasks")
    val waits = reqs.flatMap(id => starts.get(id).flatMap(s => counters.of(id).map(_.firstJobMs - s)).filter(_ < Long.MaxValue / 2))
    setLayer("engine.queue_wait_ms", Stats.mean(waits.map(_.toDouble)), "ms")
    setLayer("engine.task_busy_ms_per_op", rs.map(_.busyMs.get).sum / n, "ms")
    setLayer("engine.shuffle_bytes_per_op", rs.map(_.shuffleBytes.get).sum / n, "bytes")
    setLayer("engine.input_bytes_per_op", rs.map(_.inputBytes.get).sum / n, "bytes")
  }

  private def starts: Map[Long, Long] =
    tracer.all.filter(s => s.parent == 0 && s.req != 0).map(s => s.req -> (s.startNs / 1000000L + nanoToEpochMs)).toMap

  /** Offset from System.nanoTime milliseconds to epoch milliseconds, which
    * Spark's job start times use.
    */
  private val nanoToEpochMs: Long = System.currentTimeMillis() - System.nanoTime() / 1000000L
}

object Bench {
  val Dim           = 768
  val K             = 10
  val NProbe        = 4
  val Setups        = 2
  val SearchClients = 2

  /** A search answer: the query vector, the hits best-first, whether the
    * executed plan was pruned to IVF lists, and (traced) files and rows the
    * scans read.
    */
  final case class Answer(q: Array[Double], hits: Vector[Hit], rewritten: Boolean, files: Long, rowsScanned: Long)

  /** A finished search request. */
  final case class Done(req: Long, ms: Double, recall: Option[Double], rewritten: Boolean, files: Long, scanned: Long,
      results: Int, repeat: Boolean, filter: Filter)
  final case class BatchDone(req: Long, ms: Double, docs: Int, chunks: Int, lists: Long, chunkNs: Long, embedNs: Long)
  final case class PassDone(req: Long, ms: Double, clusterMs: Double, clusterFitMs: Double, pcaMs: Double, joinMs: Double, recall: Double,
      purity: Double, noise: Double)

  /** One measured window: the workload's mean operation latency and the
    * latencies it is taken from (ms), recall, the request ids it issued,
    * and its reads.
    */
  final case class Window(opMeanMs: Double, lat: Seq[Double], recall: Double, reqs: Seq[Long], ops: Int, done: Seq[Done])

  /** Every per-layer metric a traced run reports; a layer the workload
    * leaves idle reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.jobs_per_op" -> "jobs", "engine.tasks_per_op" -> "tasks", "engine.queue_wait_ms" -> "ms",
    "engine.task_busy_ms_per_op" -> "ms", "engine.shuffle_bytes_per_op" -> "bytes",
    "engine.input_bytes_per_op" -> "bytes", "engine.heap_peak_mb" -> "MB",
    "plans.plan_ms" -> "ms", "plans.rewrite_share" -> "share",
    "ivf.rows_scanned_per_result" -> "rows", "ivf.files_read_per_query" -> "files", "ivf.upsert_ms" -> "ms",
    "ivf.lists_touched_per_batch" -> "lists", "ivf.bytes_written_per_chunk" -> "bytes",
    "ivf.store_bytes_per_chunk" -> "bytes", "ivf.build_s" -> "s", "ivf.knn_join_ms" -> "ms",
    "search.exec_ms" -> "ms", "search.hydrate_ms" -> "ms",
    "embedder.query_ms" -> "ms", "embedder.chunks_per_s" -> "1/s",
    "chunker.ms_per_batch" -> "ms", "chunker.chunks_per_doc" -> "chunks",
    "ml.cluster_ms" -> "ms", "ml.name_ms" -> "ms", "ml.pca_ms" -> "ms", "ml.noise_share" -> "share",
    "ml.cluster_purity" -> "share", "ivf.recall_at_10" -> "share", "ivf.knn_join_recall_at_10" -> "share",
    "trace.overhead_ms" -> "ms",
  )

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def fmtP(p: Double): String = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def deleteDir(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x)) finally s.close()
  }

  def copyDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }
}

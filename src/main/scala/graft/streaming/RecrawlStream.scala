package graft.streaming

import graft.operators.{Dedup, Embedder, Ivf, Store}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuous incremental-crawl maintenance — [[graft.operators.Recrawl]]'s
  * diff → delta-embed → selective-store-rewrite round, folded per
  * micro-batch instead of hand-invoked per snapshot pair (the streaming
  * face of the reference's upload → invalidate lifecycle,
  * backend/main.py:260-352, the way [[Scd2Stream]] is [[graft.operators.Joins.scd2]]'s).
  *
  * The store root co-publishes two datasets:
  *  - `<root>/docs` — the current (id, content-hash) snapshot, the state
  *    future batches diff against; published as one whole-store replace
  *    ([[Store.replace]], shared with [[Scd2Stream]]/[[ComponentStream]]),
  *    so a reader (or a recovering batch) always sees one complete
  *    snapshot;
  *  - `<root>/index` — a live sidecar-described IVF store, patched IN
  *    PLACE by [[Ivf.applyDelta]]'s per-list partition swaps (it has its
  *    own reader-safe publication unit, so it is deliberately NOT under
  *    the docs replace — rewriting it wholesale per batch would undo
  *    exactly the selectivity the delta path buys).
  *
  * Batch contract: rows (idCol, textCol); a NULL text means the crawler
  * observed the document gone. The fold is idempotent by construction —
  * the unit every crash-recovery story reduces to:
  *  - upserts diff against the CURRENT doc hashes, so a redelivered row
  *    whose content already landed is "unchanged" and costs nothing (no
  *    embed, no store write);
  *  - removals semi-join the snapshot, so deleting an already-deleted id
  *    is a no-op;
  *  - [[Ivf.applyDelta]] additions are upserts.
  * The index is patched BEFORE the snapshot swaps: a crash between the
  * two replays the batch against the pre-batch snapshot, re-deriving the
  * same delta into idempotent store operations.
  *
  * Scale shape per batch: one (id, 16-byte hash) join of batch × snapshot,
  * embedding work ∝ CHANGED rows only, store rewrite ∝ affected list
  * partitions — the corpus is never re-embedded and untouched store files
  * are never read or written. 100 TB with 0.1% daily churn streams at
  * 0.1%-sized batch cost.
  */
object RecrawlStream {

  private def docsPath(root: String)  = s"$root/docs"
  private def indexPath(root: String) = s"$root/index"

  /** Clone of `spark` (shared SparkContext + SharedState, PRIVATE conf)
    * with AQE off, governing this operator's internal plans only: a
    * lifecycle batch is dozens of tiny exchanges, and AQE materializes
    * each as its own job — a scheduler round trip apiece (measured 25
    * jobs/micro-batch at sf0.1, ~0.5 s/run of pure job-launch floor) —
    * while having nothing to re-plan at delta scale. The clone scopes the
    * setting to this call; the caller's session is never touched (a
    * set/reset on the shared conf would race concurrent queries).
    * Input frames re-root onto the clone via [[GraftBridge.reRoot]].
    * The clone comes from `cloneSession` (via the bridge), NOT
    * `newSession`: it must inherit the caller's EFFECTIVE runtime conf
    * (shuffle partitions, ANSI mode, timezone — anything set after
    * session build) and override only AQE.
    *
    * MEMOIZED per source session: cloning builds a full SessionState
    * (analyzer, optimizer, conf copy), which a stream would otherwise pay
    * once per micro-batch for an identical result. Consequence: the
    * inherited conf is a snapshot at the source session's FIRST lifecycle
    * call — conf changed on the source afterwards does not propagate into
    * later batches (a stream's batches should not silently change plans
    * mid-run anyway).
    *
    * The value sits behind a SoftReference, NOT directly in the map: a
    * clone strongly references its parent (cloneSession shares
    * SharedState and closes over the parent's SessionState), so a direct
    * `WeakHashMap[parent, clone]` entry has a value that reaches its own
    * key and is therefore NEVER collected — every test session plus its
    * clone would pin for the JVM lifetime. With the soft indirection the
    * clone (and through it the parent) stays collectable under memory
    * pressure; a cleared reference just rebuilds the clone on the next
    * batch, trading one ~1 s SessionState build for not leaking.
    */
  private val lifecycleClones =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[SparkSession]]()

  private def lifecycleSession(spark: SparkSession): SparkSession =
    lifecycleClones.synchronized {
      val ref = lifecycleClones.get(spark)
      val hit = if (ref != null) ref.get else null
      if (hit != null) hit
      else {
        val s2 = org.apache.spark.sql.GraftBridge.cloneSession(spark)
        s2.conf.set("spark.sql.adaptive.enabled", "false")
        lifecycleClones.put(spark, new java.lang.ref.SoftReference(s2))
        s2
      }
    }

  /** Initial state: embed the full corpus once, build the IVF store, and
    * publish the (id, hash) snapshot the first batch will diff against.
    */
  def bootstrap(
      spark0: SparkSession,
      docs0: DataFrame,
      idCol: String,
      textCol: String,
      root: String,
      nList: Int,
      embedder: Embedder = Embedder.default,
  ): Unit = {
    val spark = lifecycleSession(spark0)
    val docs  = org.apache.spark.sql.GraftBridge.reRoot(spark, docs0)
    // the (id, hash) snapshot computation is independent of the embed →
    // index chain, so it overlaps on a second thread — but only into the
    // replace STAGE: the live snapshot publishes strictly after the index
    // build succeeds, preserving the "snapshot exists ⇒ index exists"
    // recovery invariant (currentDocs' bootstrap-first signal must
    // survive a crash mid-bootstrap)
    val conf  = spark.sparkContext.hadoopConfiguration
    val stage = Store.stage(conf, docsPath(root))
    val snapF = scala.concurrent.Future {
      docs.select(col(idCol), Dedup.exactKey(col(textCol)).as("__hash"))
        .write.mode("overwrite").parquet(stage)
    }(scala.concurrent.ExecutionContext.global)
    try {
      val emb = Embedder.embedText(spark, docs, idCol, textCol, embedder).toDF()
        .select(col("id").as(idCol), col("embedding"))
      val (assigned, model) = Ivf.assign(emb, "embedding", nList)
      Ivf.writeIndexed(assigned, indexPath(root), model, "embedding")
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the staging writer must settle before this throw hands control
        // to a retry: an orphaned Future still writing the stage would race
        // the retry's delete-and-rewrite of the same directory (its own
        // failure is irrelevant here — the bootstrap is failing anyway)
        scala.concurrent.Await.ready(snapF, scala.concurrent.duration.Duration.Inf)
        throw e
    }
    scala.concurrent.Await.result(snapF, scala.concurrent.duration.Duration.Inf)
    Store.publish(conf, docsPath(root))
  }

  /** Current (id, __hash) snapshot, after [[Store.recover]] rolls a crashed
    * publish back to `.old` (a rename: call it from the single writer).
    */
  def currentDocs(spark: SparkSession, root: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    Store.recover(conf, docsPath(root))
    val live = new org.apache.hadoop.fs.Path(docsPath(root))
    if (live.getFileSystem(conf).exists(live)) spark.read.parquet(live.toString)
    else throw new IllegalStateException(s"no doc snapshot under $root — bootstrap first")
  }

  /** One micro-batch fold. Returns (upserts embedded, removals applied,
    * index list-partitions touched). Exposed for the parity spec and for
    * batch backfills — [[start]] is exactly this per micro-batch.
    */
  def applyBatch(
      spark0: SparkSession,
      root: String,
      batchIn: DataFrame,
      idCol: String,
      textCol: String,
      embedder: Embedder = Embedder.default,
  ): (Long, Long, Long) = {
    val spark  = lifecycleSession(spark0)
    val batch0 = org.apache.spark.sql.GraftBridge.reRoot(spark, batchIn)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // two rows for one id that are not exact duplicates have no
    // deterministic winner — producer bug, fail loud (the Scd2Stream
    // raise_error stance, Scd2Stream.scala:115): the guard rides the ONE
    // id-keyed dedup aggregate that materializes the batch, instead of
    // costing a separate validation scan per micro-batch. Exact
    // redelivery collapses in the same aggregate (distinct-struct count
    // treats a null text as one value, so (text, null) conflicts count 2);
    // with one distinct value, max IS that value (all-null included).
    val batch = batch0.select(col(idCol), col(textCol))
      .groupBy(col(idCol))
      .agg(countDistinct(struct(col(textCol))).as("__n"), max(col(textCol)).as(textCol))
      .select(col(idCol),
        when(col("__n") > 1, raise_error(format_string(
          s"recrawl batch carries conflicting rows for one $idCol: %s",
          col(idCol).cast("string"))))
          .otherwise(col(textCol)).as(textCol))
      .persist(lvl)
    try {
      val cur = currentDocs(spark, root)
      val hashed = batch.where(col(textCol).isNotNull)
        .select(col(idCol), col(textCol), Dedup.exactKey(col(textCol)).as("__bh"))
      // unchanged content drops out here: redelivery is free, and only
      // genuinely new/changed docs reach the embedder
      val upserts = hashed
        .join(cur.withColumnRenamed("__hash", "__ch"), Seq(idCol), "left_outer")
        .where(col("__ch").isNull || col("__ch") =!= col("__bh"))
        .select(col(idCol), col(textCol), col("__bh"))
        .persist(lvl)
      val removals = batch.where(col(textCol).isNull).select(col(idCol))
        .join(cur, Seq(idCol), "left_semi") // absent ids: no-op
        .persist(lvl)
      try {
        // the embedded delta is consumed by the counts below and by
        // applyDelta — persist so the embedder runs ONCE per batch. ONE action then
        // materializes BOTH per-batch caches and returns both counts
        // (nUp off the same materialization — embedText is 1:1): the
        // union's two legs run as sibling stages of a single job, keeping
        // the old two-thread overlap minus one scheduler round trip.
        val fresh = Embedder.embedText(spark, upserts, idCol, textCol, embedder).toDF()
          .select(col("id").as(idCol), col("embedding"))
          .persist(lvl)
        val cnt = fresh.select(lit(1).as("__t"))
          .unionByName(removals.select(lit(0).as("__t")))
          .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val nUp  = cnt.getOrElse(1, 0L)
        val nRem = cnt.getOrElse(0, 0L)
        val vecName = Ivf.readCentroids(indexPath(root), spark.sparkContext.hadoopConfiguration)
          .flatMap(_.column).getOrElse("embedding")
        // prepare the next snapshot CONCURRENTLY with the index patch:
        // writing the replace stage is pure staging (reads the pre-batch
        // docs dir + the batch caches, touches nothing applyDelta
        // touches), and the index-before-snapshot durability ordering is
        // preserved because the publish only happens after applyDelta
        // returns
        val gone = removals.unionByName(upserts.select(col(idCol)))
        val next = cur.join(gone, Seq(idCol), "left_anti")
          .unionByName(upserts.select(col(idCol), col("__bh").as("__hash")))
        val conf  = spark.sparkContext.hadoopConfiguration
        val stage = Store.stage(conf, docsPath(root))
        val nextF = scala.concurrent.Future {
          next.write.mode("overwrite").parquet(stage)
        }(scala.concurrent.ExecutionContext.global)
        val touched =
          try Ivf.applyDelta(spark, indexPath(root), removals,
            fresh.withColumnRenamed("embedding", vecName), idCol)
          catch {
            case scala.util.control.NonFatal(e) =>
              // same discipline as bootstrap's snapF: the staging writer
              // must settle before a retry can clear and rewrite that
              // directory
              scala.concurrent.Await.ready(nextF, scala.concurrent.duration.Duration.Inf)
              throw e
          }
          finally { fresh.unpersist(); () }
        scala.concurrent.Await.result(nextF, scala.concurrent.duration.Duration.Inf)
        Store.publish(conf, docsPath(root))
        (nUp, nRem, touched)
      } finally { upserts.unpersist(); removals.unpersist(); () }
    } finally { batch.unpersist(); () }
  }

  /** Start folding a stream of crawl results into the store at `root`. */
  def start(
      spark: SparkSession,
      updates: DataFrame,
      idCol: String,
      textCol: String,
      root: String,
      checkpoint: String,
      embedder: Embedder = Embedder.default,
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val writer = updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          applyBatch(batch.sparkSession, root, batch, idCol, textCol, embedder)
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}

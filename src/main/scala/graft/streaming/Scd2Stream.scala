package graft.streaming

import graft.operators.{Joins, Store}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Live SCD2 maintenance: a stream of (key, ts, attr) events keeps a
  * persisted interval store current — the streaming face of
  * [[Joins.scd2]], the same pairing [[ComponentStream]] gives
  * incremental connected components.
  *
  * The store is TWO co-published datasets under one root:
  *  - `<root>/events` — the raw per-key change log (key, ts, tie, attr),
  *    exact-deduped on arrival;
  *  - `<root>/intervals` — the collapsed SCD2 view readers query.
  * The interval view alone cannot absorb late data exactly: collapsing
  * runs is LOSSY (an event inside a collapsed run vanishes, but a late
  * arrival splitting that run needs it back to reopen the old state).
  * Keeping the raw log as truth makes streaming-equals-batch a provable
  * parity under arbitrary reordering — the spec replays a late event
  * that splits a collapsed interval and asserts equality with the
  * from-scratch batch build.
  *
  * Each micro-batch touches ONLY its keys: untouched keys' events and
  * intervals pass through as scans; touched keys rebuild from their log
  * slice. The batch is `distinct()`-folded into the log, so foreachBatch
  * redelivery (at-least-once) is idempotent by construction.
  *
  * Publication is one whole-store replace
  * ([[graft.operators.Store.replace]]), as in [[ComponentStream]]: a
  * reader between batches sees a complete store; a crash mid-swap rolls
  * back to `.old` at the next batch. The rewrite is proportional to the
  * stored population; at very large populations the refinement is
  * hash-range partitioning of the store and rewriting only ranges the
  * batch touched — operator and merge unchanged.
  */
object Scd2Stream {

  private def parse(t: String) =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)

  private def emptyEvents(spark: SparkSession, keyT: String, attrT: String) =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", parse(keyT)),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tie", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("attr", parse(attrT)),
      )))

  private def readOr(spark: SparkSession, path: String, fallback: => DataFrame): DataFrame = {
    val p   = new org.apache.hadoop.fs.Path(path)
    val fs  = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path) else fallback
  }

  /** The published root after [[graft.operators.Store.recover]] rolls a
    * crashed publish back to `.old`, or None before the first publish.
    */
  private def currentRoot(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Store.recover(conf, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(conf).exists(p)) Some(path) else None
  }

  /** Current interval view (key, attr, valid_from, valid_to); empty if
    * nothing was published yet.
    */
  def currentIntervals(
      spark: SparkSession, path: String,
      keyType: String = "bigint", attrType: String = "string",
  ): DataFrame = currentRoot(spark, path) match {
    case Some(root) => readOr(spark, s"$root/intervals",
      Joins.scd2(emptyEvents(spark, keyType, attrType), "key", "ts", "tie", "attr"))
    case None =>
      Joins.scd2(emptyEvents(spark, keyType, attrType), "key", "ts", "tie", "attr")
  }

  /** Current raw change log (key, ts, tie, attr). */
  def currentEvents(
      spark: SparkSession, path: String,
      keyType: String = "bigint", attrType: String = "string",
  ): DataFrame = currentRoot(spark, path) match {
    case Some(root) => readOr(spark, s"$root/events", emptyEvents(spark, keyType, attrType))
    case None       => emptyEvents(spark, keyType, attrType)
  }

  /** One batch fold: (storeEvents, storeIntervals) ∪ batch → (nextEvents,
    * nextIntervals). Exposed for the parity spec and batch backfills.
    */
  def foldBatch(
      storeEvents: DataFrame, storeIntervals: DataFrame, batch: DataFrame,
      keyCol: String, tsCol: String, tieCol: String, attrCol: String,
  ): (DataFrame, DataFrame) = {
    val ev = batch.select(
      col(keyCol).as("key"), col(tsCol).cast("long").as("ts"),
      col(tieCol).cast("long").as("tie"), col(attrCol).as("attr"))
      .distinct()
    val touched = ev.select("key").distinct()
    // exact-dedup against the log so redelivered batches fold to a no-op
    val freshEvents = ev.join(storeEvents,
      Seq("key", "ts", "tie", "attr"), "left_anti")
    val nextEvents = storeEvents.unionByName(freshEvents)
    // CONFLICT guard: the dedup above is on the full (key, ts, tie, attr)
    // tuple, so two events agreeing on (key, ts, tie) but carrying
    // DIFFERENT attrs would both enter the log — and [[Joins.scd2]]'s
    // window orders only by (ts, tie), making the resulting intervals
    // partition-order-dependent. Such input is a producer bug (the tie
    // column exists precisely to disambiguate same-ts events), so it
    // fails FAST at execution time via raise_error — distributed, no
    // extra driver action — instead of silently folding nondeterminism
    // into the store. Only touched keys pay the count window.
    val attrType   = ev.schema("attr").dataType
    val touchedLog = nextEvents.join(touched, Seq("key"), "left_semi")
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("key", "ts", "tie")))
      .withColumn("attr",
        when(col("__n") > 1, raise_error(format_string(
          "scd2 fold: conflicting attr values for (key=%s, ts=%s, tie=%s)",
          col("key"), col("ts"), col("tie"))).cast(attrType))
          .otherwise(col("attr")))
      .drop("__n")
    val rebuilt = Joins.scd2(touchedLog, "key", "ts", "tie", "attr")
    val untouched = storeIntervals.join(touched, Seq("key"), "left_anti")
    (nextEvents, untouched.unionByName(rebuilt))
  }

  /** Start folding `events` (streaming frame with key/ts/tie/attr columns)
    * into the store at `storePath`.
    */
  def start(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String, tsCol: String, tieCol: String, attrCol: String,
      storePath: String,
      checkpoint: String,
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val keyT  = events.schema(keyCol).dataType.sql
    val attrT = events.schema(attrCol).dataType.sql
    val writer = events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val curEv  = currentEvents(s, storePath, keyT, attrT)
          val curIv  = currentIntervals(s, storePath, keyT, attrT)
          val (nextEv, nextIv) = foldBatch(curEv, curIv, batch, keyCol, tsCol, tieCol, attrCol)
          Store.replace(s.sparkContext.hadoopConfiguration, storePath) { stage =>
            nextEv.write.mode("overwrite").parquet(stage + "/events")
            nextIv.write.mode("overwrite").parquet(stage + "/intervals")
          }
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}

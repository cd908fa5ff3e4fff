package graft.streaming

import graft.operators.{Dedup, Store}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Live dedup-cluster maintenance: a stream of duplicate-pair edges keeps a
  * persisted (id, component) labeling current — the streaming face of
  * [[Dedup.incrementalComponents]]. Each micro-batch folds its edges into
  * the stored labeling through the contracted-graph relabel (historical
  * edges are never re-read; the contracted CC almost always runs on the
  * driver fast path), then publishes the new labeling as one whole-store
  * replace ([[graft.operators.Store.replace]], as `Ivf.compact` does) — a
  * reader between batches sees a complete labeling, never a partial write.
  *
  * Single-writer by construction (micro-batches are serialized by the
  * streaming engine). The labeling rewrite is proportional to the labeled
  * population, not to history: at very large populations the natural
  * refinement is partitioning the labeling by a component-hash range and
  * rewriting only ranges the batch touched — the operator underneath is
  * unchanged.
  */
object ComponentStream {

  /** Read the current labeling (empty if the store doesn't exist yet).
    *
    * Crash recovery: [[start]] publishes through
    * [[graft.operators.Store.replace]], and [[graft.operators.Store.recover]]
    * here rolls a crash between its two renames back to the complete
    * `.old` labeling — "one batch is replayed" instead of "the whole
    * labeling is silently lost" (the labeling is the only record of
    * history; historical edges are never re-read, so an empty fallback
    * would be permanent loss). Recovery renames: call this from the
    * stream's single writer or between batches.
    */
  def currentLabels(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    Store.recover(conf, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(conf).exists(p)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType),
      )))
  }

  /** Start folding `pairs` (a streaming frame with `srcCol`/`dstCol`) into
    * the labeling at `labelsPath`. `AvailableNow` drains-and-stops; the
    * default trigger keeps a continuous maintainer.
    */
  def start(
      spark: SparkSession,
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      labelsPath: String,
      checkpoint: String,
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val writer: org.apache.spark.sql.streaming.DataStreamWriter[Row] = pairs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s    = batch.sparkSession
          val cur  = currentLabels(s, labelsPath)
          val next = Dedup.incrementalComponents(cur, batch, "id", "component", srcCol, dstCol)
          Store.replace(s.sparkContext.hadoopConfiguration, labelsPath)(next.write.mode("overwrite").parquet(_))
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}

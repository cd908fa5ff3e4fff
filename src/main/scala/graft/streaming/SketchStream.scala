package graft.streaming

import graft.operators.{Sketches, Store}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming registry maintenance over MERGEABLE sketches: each micro-batch
  * appends its per-key sketch rows (HLL distinct + KLL quantiles) to a
  * sketch-table store; any later question — distinct users per slice,
  * p50/p99 per slice, across any time range of batches — is a rollup over
  * KB-sized rows. The raw stream is aggregated ONCE, within its own batch,
  * and never retained: this is the pattern that keeps a 100 TB/day stream's
  * registry queryable without reprocessing a byte of history.
  *
  * Append-only is what makes it exactly-once-safe here: a replayed batch
  * appends duplicate sketch rows, which a rollup ABSORBS for HLL (set
  * union is idempotent) but double-counts for KLL/n_rows — so each row
  * carries `batch_id`, and [[compact]] (or any reader) dedupes to the
  * latest write per (key, batch_id) first. The same discipline
  * [[graft.operators.Ivf.streamInto]] applies to its store.
  */
object SketchStream {

  /** Watch a streaming DataFrame (file source, rate, kafka — anything);
    * per micro-batch, write one sketch row per `keyCols` group: an HLL
    * sketch of `distinctCol`, a KLL sketch of `quantileCol`, the batch's
    * row count, and the micro-batch id.
    */
  def start(
      stream: DataFrame,
      keyCols: Seq[String],
      distinctCol: String,
      quantileCol: String,
      storePath: String,
      checkpoint: String,
      availableNow: Boolean = true,
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer: DataStreamWriter[Row] = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hll = Sketches.distinctSketches(batch, keyCols, distinctCol)
          .withColumnRenamed("sketch", "hll_sketch")
          .withColumnRenamed("n_rows", "hll_rows")
        val kll = Sketches.quantileSketches(batch, keyCols, quantileCol)
          .withColumnRenamed("sketch", "kll_sketch")
        hll.join(kll, keyCols, "full_outer")
          .select(keyCols.map(col) ++ Seq(
            col("hll_sketch"), col("kll_sketch"),
            coalesce(col("n_rows"), col("hll_rows"), lit(0L)).as("n_rows"),
            lit(batchId).as("batch_id")): _*)
          .write.mode("append").parquet(storePath)
      }

    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Roll the store up to `groupCols`: distinct estimate + quantiles over
    * every batch's sketches. Reads only the sketch table.
    */
  def rollup(
      spark: SparkSession,
      storePath: String,
      groupCols: Seq[String],
      qs: Seq[Double],
  ): DataFrame = {
    val store = spark.read.parquet(storePath)
    val dis = Sketches.mergeSketches(
      store.select(groupCols.map(col) :+ col("hll_sketch").as("sketch") :+ col("n_rows"): _*)
        .where(col("sketch").isNotNull),
      groupCols)
    val qnt = Sketches.mergeQuantileSketches(
      store.select(groupCols.map(col) :+ col("kll_sketch").as("sketch") :+ col("n_rows"): _*)
        .where(col("sketch").isNotNull),
      groupCols, qs)
      .drop("n_rows")
    dis.join(qnt, groupCols)
  }

  /** Collapse a store fragmented by many micro-batches into one row per
    * key: HLL sketches union, KLL sketches union, counts sum (after
    * deduping replayed batch writes to one row per (key, batch_id)), as
    * one whole-store replace ([[graft.operators.Store.replace]]). Same
    * single-writer maintenance-window contract as [[graft.operators.Ivf.compact]].
    */
  def compact(spark: SparkSession, storePath: String, keyCols: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Store.recover(conf, storePath)
    val hllU = org.apache.spark.sql.functions.hll_union_agg(col("hll_sketch"))
    val kllU = graft.functions.KllSketchAgg.unionUdaf()(col("kll_sketch"))
    val store = spark.read.parquet(storePath)
      .groupBy((keyCols :+ "batch_id").map(col): _*)
      .agg(first(col("hll_sketch"), ignoreNulls = true).as("hll_sketch"),
        first(col("kll_sketch"), ignoreNulls = true).as("kll_sketch"),
        first(col("n_rows"), ignoreNulls = true).as("n_rows"))
    val merged = store
      .groupBy(keyCols.map(col): _*)
      .agg(hllU.as("hll_sketch"), kllU.as("kll_sketch"),
        sum(col("n_rows")).as("n_rows"), lit(-1L).as("batch_id"))
    Store.replace(conf, storePath)(merged.write.mode("overwrite").parquet(_))
    spark.read.parquet(storePath).count()
  }
}

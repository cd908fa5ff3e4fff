package graft.streaming

import graft.operators.Hnsw
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming HNSW maintenance — the [[graft.operators.Ivf.streamInto]]
  * twin for the graph store (VERDICT r13 task 5): a live-index user was
  * forced onto IVF because HNSW had batch [[Hnsw.applyDelta]] but no
  * streaming wrapper. Each micro-batch routes through `applyDelta`
  * unchanged, so the stream inherits the batch path's whole contract:
  * id-hash shard routing with no store read, touched-shards-only
  * rebuild/extend, and the per-shard swap and crash recovery of
  * [[graft.operators.Store]], the one store-commit module, whose recovery
  * runs before each batch lists the store — a kill between micro-batches
  * (or mid-swap) never loses a shard, the next batch completes the swap
  * first.
  *
  * Delivery semantics: foreachBatch is at-least-once on retry, and
  * `applyDelta` is IDEMPOTENT for exactly this shape — `added` rows are
  * id-keyed upserts (a replayed batch replaces rows with themselves) and
  * removals of already-absent ids are no-ops — so a batch replay
  * converges to the same store, unlike an append-only sink where replays
  * accumulate duplicates.
  *
  * The store must exist before the stream starts ([[Hnsw.writeIndex]] —
  * the bootstrap-then-stream lifecycle of [[RecrawlStream]]); an empty
  * bootstrap (`df.limit(0)`) is fine, shards then populate as batches
  * arrive. Unlike IVF's append-only `streamInto`, a sustained-growth
  * store should pair this with [[Hnsw.maintain]] on a maintenance cadence
  * (the shard COUNT never changes under applyDelta; the rows-per-shard
  * budget erodes as the corpus grows).
  *
  * With `opCol` set, the stream is a CDC feed: rows whose `opCol` equals
  * `deleteOp` are removals (vector column ignored), everything else
  * upserts. With `opCol` null every row is an upsert.
  *
  * INTRA-batch ordering: applyDelta takes (removed, added) SETS and lets
  * adds win, so an id that is upserted then deleted within the SAME
  * micro-batch would be resurrected if both rows reached the split. A
  * DataFrame carries no row order, so "last op" needs an explicit
  * sequence: pass `seqCol` (monotone per id — a CDC LSN, kafka offset,
  * event timestamp) and each id's highest-sequence row alone decides its
  * fate. Without `seqCol`, an id MUST appear at most once per micro-batch
  * — enforced here (fail-fast) rather than silently undoing a delete.
  * Inter-batch ordering holds either way (batches apply serially).
  */
object HnswStream {

  /** Collapse a CDC micro-batch to one row per id — the `seqCol`-max row
    * wins (ties broken toward the delete: equal-sequence upsert+delete is
    * producer misbehavior, and dropping the id is the recoverable side —
    * a resurrected ghost id is not). Shared with [[PqStream]].
    */
  private[streaming] def lastOpPerId(
      batch: DataFrame,
      idCol: String,
      seqCol: String,
      opCol: String,
      deleteOp: String,
  ): DataFrame = {
    val cols = struct(
      col(seqCol).as("_seq"),
      (col(opCol) === deleteOp).as("_del"),
      col("*"),
    )
    batch
      .groupBy(col(idCol).as("_gid"))
      .agg(max(cols).as("_last")) // (seq, del) lexicographic: max seq, delete wins ties
      .select(col("_last.*"))
      .drop("_seq", "_del", "_gid")
  }

  def into(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      vecCol: String,
      idCol: String,
      opCol: String = null,
      deleteOp: String = "delete",
      seqCol: String = null,
      availableNow: Boolean = true,
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(seqCol == null || opCol != null, "seqCol requires opCol (pure upserts need no ordering)")
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val batch =
          if (seqCol != null) lastOpPerId(raw, idCol, seqCol, opCol, deleteOp)
          else raw
        if (seqCol == null && opCol != null) {
          val dup = batch.groupBy(col(idCol)).count().where(col("count") > 1).limit(1).count()
          require(dup == 0,
            s"HnswStream: id appears more than once in a micro-batch with no seqCol — " +
              "intra-batch op order is undefined; pass seqCol to resolve")
        }
        val (removed, added) =
          if (opCol == null)
            (batch.limit(0).select(col(idCol)), batch.select(col(idCol), col(vecCol)))
          else
            (batch.where(col(opCol) === deleteOp).select(col(idCol)),
              batch.where(col(opCol) =!= deleteOp).select(col(idCol), col(vecCol)))
        Hnsw.applyDelta(batch.sparkSession, path, removed, added, vecCol, idCol)
        ()
      }
    (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w)
      .start()
  }
}

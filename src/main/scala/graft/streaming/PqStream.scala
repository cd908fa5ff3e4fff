package graft.streaming

import graft.operators.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming IVF-PQ maintenance — the [[HnswStream]]/[[graft.operators.Ivf
  * .streamInto]] twin for the compressed two-store index (VERDICT r14 task
  * 3: the PQ store had batch [[Pq.applyDelta]] but no streaming wrapper,
  * so a live compressed-index user was forced onto IVF or HNSW). Each
  * micro-batch routes through `applyDelta` unchanged, inheriting the whole
  * batch contract: added rows assign lists with the STORED centroids and
  * encode with the STORED codebooks (no refit mid-stream — drift stays
  * [[graft.operators.Ivf.maintain]]'s job), affected-list-only rewrite of
  * BOTH stores, the floats-FIRST swap ordering (a crash between the two
  * swaps degrades gracefully: stale code candidates are dropped by the
  * float re-rank join, never ghost results), and the commit and crash
  * recovery of [[graft.operators.Store]], the one store-commit module,
  * whose recovery runs before each batch lists the stores — a kill
  * between micro-batches or mid-swap never loses a list, the next batch
  * completes the swap first.
  *
  * Delivery semantics match [[HnswStream]]: foreachBatch is at-least-once
  * on retry and `applyDelta` is idempotent for exactly this shape (id-keyed
  * upserts + remove-if-present), so a replayed batch converges to the same
  * two stores. Intra-batch CDC ordering also matches: with `seqCol` each
  * id's highest-sequence row alone decides its fate (delete wins an equal-
  * sequence tie); without it an id may appear at most once per micro-batch
  * — enforced by [[Pq.applyDelta]]'s own duplicate-id check plus the same
  * fail-fast used there, never silently resurrecting a deleted id.
  *
  * The store must exist before the stream starts ([[Pq.writeStore]] — the
  * bootstrap-then-stream lifecycle); the list COUNT never changes under
  * applyDelta, so sustained growth should pair this with a maintenance
  * cadence on the floats store exactly like the batch path.
  */
object PqStream {

  def into(
      stream: DataFrame,
      root: String,
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
        // applyDelta re-reads its removal ids once per join: the micro-batch
        // is persisted so the source and the CDC resolution run once
        val batch =
          (if (seqCol != null) HnswStream.lastOpPerId(raw, idCol, seqCol, opCol, deleteOp)
          else raw).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (seqCol == null && opCol != null) {
            val dup = batch.groupBy(col(idCol)).count().where(col("count") > 1).limit(1).count()
            require(dup == 0,
              s"PqStream: id appears more than once in a micro-batch with no seqCol — " +
                "intra-batch op order is undefined; pass seqCol to resolve")
          }
          val (removed, added) =
            if (opCol == null)
              (batch.limit(0).select(col(idCol)), batch.select(col(idCol), col(vecCol)))
            else
              (batch.where(col(opCol) === deleteOp).select(col(idCol)),
                batch.where(col(opCol) =!= deleteOp).select(col(idCol), col(vecCol)))
          Pq.applyDelta(batch.sparkSession, root, removed, added, vecCol, idCol)
        } finally { batch.unpersist(); () }
        ()
      }
    (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w)
      .start()
  }
}

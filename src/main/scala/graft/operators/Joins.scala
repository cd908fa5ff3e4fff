package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's join surface (SURVEY §2.3). Its "joins" are cross-store
  * dict lookups in Python; here they become first-class relational joins so
  * Catalyst picks broadcast vs sort-merge — every dimension side in the
  * reference (folders, file_folders, hit lists) is tiny, so these all plan
  * as broadcast joins with no big-side shuffle.
  */
object Joins {

  /** J1 — anti join: documents not assigned to any folder ("unsorted files",
    * backend/filesystem_db.py:151-163 — a Python set difference).
    */
  def unsorted(documents: DataFrame, fileFolders: DataFrame, key: String): DataFrame =
    documents.join(fileFolders, Seq(key), "left_anti")

  /** J2 — lookup join: hydrate small hit lists with full payload rows
    * (backend/main.py:723-745 neighbor_map). Hit side is k rows → broadcast.
    * Local hits over a store whose copy is held on the driver are looked
    * up there when the frame is built ([[graft.plans.DeclarativeAnn.heldHydrate]]),
    * with the join's columns and rows.
    */
  def hydrate(hits: DataFrame, chunks: DataFrame, key: String): DataFrame =
    graft.plans.DeclarativeAnn.heldHydrate(hits, chunks, key)
      .getOrElse(broadcast(hits).join(chunks, Seq(key), "inner"))

  /** Attach a 1-based global position column following `order`, WITHOUT a
    * global single-partition window: `orderBy` plans as a range-partitioned
    * parallel sort, and `zipWithIndex` adds per-partition offsets with one
    * lightweight count job — every stage stays distributed.
    */
  private def withGlobalPos(df: DataFrame, order: org.apache.spark.sql.Column): DataFrame = {
    val sorted = df.orderBy(order)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField("__pos", org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** J3 — zip join: positional pairing of two equally-ordered sets
    * (backend/clustering.py:89 `zip(all_data, labels)`). Spark has no
    * ordered-zip of DataFrames; the faithful distributed form is a join on
    * a global position computed per side. Positions come from a parallel
    * range-partitioned sort + `zipWithIndex` (per-partition offsets), not a
    * partitionless window — the window form funnels the whole input through
    * ONE task and dies at scale.
    */
  def zipJoin(left: DataFrame, leftOrder: org.apache.spark.sql.Column, right: DataFrame, rightOrder: org.apache.spark.sql.Column): DataFrame = {
    val l = withGlobalPos(left, leftOrder)
    val r = withGlobalPos(right, rightOrder)
    l.join(r, Seq("__pos")).drop("__pos")
  }

  /** J5 — hierarchical folder-path resolution (backend/main.py:929-951;
    * backend/filesystem_db.py:179-223). The reference recurses per folder
    * with memoization; Spark has no recursive CTE, so this is the iterative
    * self-join fixpoint: each pass joins the frontier's parent pointer one
    * level up, with a depth cap as the cycle guard (the reference would
    * stack-overflow on a cycle; we must not).
    *
    * folders: (id, name, parent_id — null for roots).
    * Returns (id, name, parent_id, path) with '/'-joined full paths; rows
    * still unresolved at maxDepth (cycles / orphans) are dropped.
    */
  def folderPaths(folders: DataFrame, maxDepth: Int = 20, maxDriverRows: Int = 1 << 18): DataFrame = {
    // Folder tables are metadata-sized by nature (the reference resolves
    // paths in a driver-side dict walk, filesystem_db.py:179-223). When the
    // table fits a bounded collect, do exactly that: one job instead of a
    // join per tree level. The distributed fixpoint below stays as the
    // fallback for a table that outgrows the budget.
    val picked = folders.select("id", "name", "parent_id").limit(maxDriverRows + 1).collect()
    if (picked.length <= maxDriverRows) {
      val spark = folders.sparkSession
      val byId  = new java.util.HashMap[Any, (Any, Any)](picked.length * 2)
      picked.foreach { r => if (r.get(0) != null) byId.put(r.get(0), (r.get(1), r.get(2))) }
      val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](picked.length)
      picked.foreach { r =>
        var path: String = if (r.get(1) == null) null else r.get(1).toString
        var cur: Any     = r.get(2)
        var depth        = 0
        var orphaned     = false
        while (cur != null && depth < maxDepth && !orphaned) {
          val p = byId.get(cur)
          if (p == null) orphaned = true // dangling parent pointer → resolved as-is
          else {
            path = if (path == null || p._1 == null) null else s"${p._1}/$path"
            cur = p._2
            depth += 1
          }
        }
        if (cur == null || orphaned)
          out += org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), path)
      }
      val schema = org.apache.spark.sql.types.StructType(
        folders.select("id", "name", "parent_id").schema.fields :+
          org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType))
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(out.asJava, schema)
    }
    val base = folders.select(
      col("id"), col("name"), col("parent_id"),
      col("name").as("path"),
      col("parent_id").as("cursor"),
    )
    // Each pass joins one parent level and then localCheckpoints: the folders
    // table is metadata-sized, and truncating the lineage keeps iteration i
    // from re-running iterations 0..i-1 (and keeps the early-exit check O(1)
    // in plan depth). Early exit when every path has resolved — real trees
    // are ~3 levels deep, so this typically runs 3 joins, not maxDepth.
    var frontier = base.localCheckpoint(true)
    var depth    = 0
    while (depth < maxDepth && !frontier.where(col("cursor").isNotNull).isEmpty) {
      val parents = folders.select(
        col("id").as("p_id"), col("name").as("p_name"), col("parent_id").as("p_parent"),
      )
      frontier = frontier
        .join(broadcast(parents), frontier("cursor") === parents("p_id"), "left")
        .select(
          col("id"), col("name"), col("parent_id"),
          when(col("p_id").isNotNull, concat(col("p_name"), lit("/"), col("path"))).otherwise(col("path")).as("path"),
          when(col("p_id").isNotNull, col("p_parent")).otherwise(lit(null)).as("cursor"),
        )
        .localCheckpoint(true)
      depth += 1
    }
    frontier.where(col("cursor").isNull).select("id", "name", "parent_id", "path")
  }

  /** J6/U2 — first-wins dedup with an explicit deterministic ordering
    * (backend/document_registry.py:195-203 relies on scroll order; we declare
    * the order instead).
    */
  def firstWins(df: DataFrame, key: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** J8 — binned range join: match each point row to the interval rows
    * containing it (lo <= p < hi) WITHOUT the cartesian fallback. A plain
    * inequality join has no equi-key, so Spark plans BroadcastNestedLoopJoin
    * — O(points × intervals) and a driver-sized broadcast; unusable once the
    * interval side outgrows a broadcast. The standard scale shape: quantize
    * the domain into fixed-width bins, explode each interval to every bin it
    * overlaps, equi-join points to intervals on the bin id, then re-check
    * the exact predicate. Shuffle is (points + Σ interval-spans/binWidth)
    * rows hashed by bin — both sides stream, nothing is all-pairs.
    *
    * binWidth tunes duplication: each interval materializes
    * ceil(span/binWidth) rows, each point exactly one. Pick it near the
    * median interval span.
    *
    * Intervals are [lo, hi) half-open; output = point columns + interval
    * columns. Overlapping intervals yield one row per containing interval.
    */
  def rangeJoin(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Double,
  ): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    val collisions = points.columns.toSet.intersect(intervals.columns.toSet)
    require(collisions.isEmpty, s"point/interval column names collide: ${collisions.mkString(",")}")
    require(!points.columns.contains("__bin") && !intervals.columns.contains("__bin"),
      "__bin is reserved by rangeJoin")
    // last covered bin: floor((hi-ε)/w) = ceil(hi/w)-1 when hi > lo;
    // greatest() guards degenerate lo==hi rows (empty interval — the exact
    // re-check below drops any accidental match).
    val loBin = floor(col(loCol) / binWidth).cast("long")
    val hiBin = greatest(loBin, (ceil(col(hiCol) / binWidth) - 1).cast("long"))
    val binnedIntervals = intervals.withColumn("__bin", explode(sequence(loBin, hiBin)))
    points
      .withColumn("__bin", floor(col(pointCol) / binWidth).cast("long"))
      .join(binnedIntervals, Seq("__bin"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }

  /** J7 — backward as-of join (point-in-time join): for every left row,
    * attach the LATEST right row of the same key with rightTs <= leftTs
    * (inclusive, DuckDB `ASOF JOIN`'s `>=` semantics). This is the
    * feature-generation primitive of a training-data pipeline — "state as of
    * the event" — and Spark has no native operator for it.
    *
    * Shape: one shuffle. Both sides union into a single (key, ts, side)
    * stream; a running `last(right_payload, ignoreNulls)` window over
    * (partitionBy key, orderBy ts then side) carries each right row forward
    * until the next one, so every left row reads its predecessor in O(1) —
    * the distributed merge-join formulation. Nothing joins all-pairs and the
    * only wide exchange is the window's hash partition on `key`; a hot key
    * serializes through one task, the same skew profile as any keyed window
    * (salt upstream if one key dominates).
    *
    * Right rows sort BEFORE left rows at equal ts (side 0 < 1) so a
    * same-instant right row is visible — the inclusive bound. Ties between
    * two right rows at identical (key, ts) are broken arbitrarily; callers
    * needing determinism must dedup first (cf. firstWins).
    *
    * Contract: right column names (other than `key`) must not collide with
    * left's. Output = all left columns + all right payload columns (null for
    * unmatched left rows when joinType="left"; such rows are dropped for
    * "inner").
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      joinType: String = "inner",
      maxRowsPerKey: Long = 0L,
  ): DataFrame = {
    require(Seq("inner", "left").contains(joinType), s"asofJoin supports inner/left, got $joinType")
    val rPayloadCols = right.columns.filter(_ != key).toSeq
    val collisions   = rPayloadCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"right payload columns collide with left: ${collisions.mkString(",")}")
    val lStruct = struct(left.columns.toSeq.map(col): _*)
    val rStruct = struct(rPayloadCols.map(col): _*)
    val lType   = left.select(lStruct).schema.head.dataType
    val rType   = right.select(rStruct).schema.head.dataType
    val lSide = left.select(
      col(key).as("__k"), col(leftTs).as("__ts"), lit(1).as("__side"),
      lStruct.as("__l"), lit(null).cast(rType).as("__r"))
    val rSide = right.select(
      col(key).as("__k"), col(rightTs).as("__ts"), lit(0).as("__side"),
      lit(null).cast(lType).as("__l"), rStruct.as("__r"))
    val unioned = rSide.unionByName(lSide)

    // The plain shape: one keyed running-carry window over the union.
    def carryWindow(in: DataFrame, extraPart: Seq[String]): DataFrame = {
      val w = Window.partitionBy(("__k" +: extraPart).map(col): _*)
        .orderBy(col("__ts"), col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      in.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
        .where(col("__side") === 1)
    }

    val matched =
      if (maxRowsPerKey <= 0L) carryWindow(unioned, Nil)
      else {
        // ---- auto-skew: detect keys whose row count exceeds the budget and
        // route them through time-sharded windows -------------------------
        // Frequency probe: one map-side-combined count over the window
        // input; only keys ABOVE the budget come back to the driver, so the
        // collect is bounded by total/maxRowsPerKey rows.
        val hot = unioned.groupBy("__k").agg(count(lit(1)).as("__n"))
          .where(col("__n") > maxRowsPerKey)
          .select("__k", "__n").collect()
        val hotKeys = hot.map(_.get(0)).filter(_ != null).toSeq
        if (hotKeys.isEmpty) carryWindow(unioned, Nil)
        else {
          // NULL keys always take the plain path: isin(null) is never true,
          // and the window's null group keeps its (documented) behavior.
          val isHot = col("__k").isin(hotKeys: _*)
          val cold  = carryWindow(unioned.where(coalesce(!isHot, lit(true))), Nil)
          // Shard count: enough that the hottest key's shards fit the
          // budget, capped so the carry frame stays broadcast-tiny.
          val maxN = hot.map(r => r.getLong(r.fieldIndex("__n"))).max
          val nSh  = math.min(256L, (maxN + maxRowsPerKey - 1) / maxRowsPerKey).toInt
          // Per-key shard boundaries from a ts sketch (grouped
          // percentile_approx — one agg job, no window). Shard(x) =
          // #boundaries < x: rows at equal ts land in the same shard on
          // both sides, so the in-shard right-before-left tie rule is
          // untouched across the cut.
          val fracs  = array((1 until nSh).map(i => lit(i.toDouble / nSh)): _*)
          val bounds = unioned.where(isHot).groupBy("__k")
            .agg(percentile_approx(col("__ts").cast("double"), fracs, lit(10000)).as("__bs"))
          val sharded = unioned.where(isHot)
            .join(broadcast(bounds), Seq("__k"))
            .withColumn("__shard", size(filter(col("__bs"), b => b < col("__ts").cast("double"))))
            .drop("__bs")
          // Local as-of within each (key, shard) — the skew-free window —
          // then a carry-in for rows whose predecessor fell in an earlier
          // shard: per-shard last right payload, cascaded with a window
          // over the TINY (key × shard) frame and broadcast back. A carry
          // row's ts is < its shard's lower bound ≤ every ts in the shard,
          // so it is always admissible where the local window found nothing.
          val local = carryWindow(sharded, Seq("__shard"))
          val lastRight = sharded.where(col("__side") === 0)
            .groupBy("__k", "__shard")
            .agg(max_by(col("__r"), struct(col("__ts"))).as("__lastr"))
          val carry = sharded.select("__k", "__shard").distinct()
            .join(lastRight, Seq("__k", "__shard"), "left")
            .withColumn("__carry", last(col("__lastr"), ignoreNulls = true).over(
              Window.partitionBy("__k").orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)))
            .select("__k", "__shard", "__carry")
          val hotMatched = local
            .join(broadcast(carry), Seq("__k", "__shard"), "left")
            .withColumn("__m", coalesce(col("__m"), col("__carry")))
            .select(cold.columns.map(col): _*)
          cold.unionByName(hotMatched)
        }
      }
    val filtered = if (joinType == "inner") matched.where(col("__m").isNotNull) else matched
    filtered.select(
      left.columns.toSeq.map(c => col(s"__l.$c").as(c)) ++
        rPayloadCols.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Event log → type-2 slowly-changing-dimension intervals: per key, keep
    * only CHANGE rows of the tracked attribute (runs of an unchanged value
    * collapse into one interval) and stamp each with
    * `[valid_from, valid_to)` — `valid_to` NULL marks the current state.
    * The snapshot-at-time-T query is then a plain range predicate
    * (`valid_from <= T AND (valid_to IS NULL OR valid_to > T)`), which is
    * how a 100 TB event history serves point-in-time training-data cuts
    * without replaying the log.
    *
    * Two windows, both over the SAME (key, order) partitioning — Catalyst
    * plans ONE shuffle + one sort and evaluates lag and lead in the same
    * Window node chain; per-key state is two rows. Ties in `tsCol` are
    * broken by `tieCol` so the interval chain is deterministic.
    */
  def scd2(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      attrCol: String,
  ): DataFrame = {
    val names = events.columns.toSet
    Seq("__prev", "__rn", "valid_from", "valid_to").foreach(c =>
      require(!names.contains(c), s"input already has a '$c' column"))
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val changes = events
      // both window columns projected first (window exprs can't sit in a
      // WHERE); same (partition, order) → one shuffle+sort, one Window node
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      // first row per key always opens an interval; a NULL attr after a
      // non-NULL (and vice versa) is a change — null-safe compare.
      .where(!(col("__prev") <=> col(attrCol)) || col("__rn") === 1)
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol), col(tsCol).as("valid_from"), col("valid_to"))
  }

  /** Point-in-time cut of an SCD2 interval table ([[scd2]]'s output):
    * each key's state at instant `t` — `valid_from <= t < valid_to`,
    * open intervals current. THE payoff of the interval build: a 100 TB
    * event history answers "the corpus as of T" as a pure range predicate
    * over the (much smaller) interval table — pushed into the parquet
    * scan, no window, no replay.
    */
  def snapshotAt(intervals: DataFrame, t: Column): DataFrame =
    intervals.where(col("valid_from") <= t &&
      (col("valid_to").isNull || col("valid_to") > t))
}

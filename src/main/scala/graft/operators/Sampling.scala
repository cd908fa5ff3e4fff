package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need REPRODUCIBLE sampling: the same document must
  * land in the same split on every run, on every engine, at any parallelism —
  * `df.sample()`'s seeded RNG is none of those (it depends on partitioning).
  * The standard fix is content-hash bucketing: bucket = h(id) mod B, keep a
  * row iff its bucket falls in the split's range.
  *
  * The hash is Knuth's multiplicative (Fibonacci) hash h(x) = x·2654435761
  * mod 2^32 with a final x ^= x>>16 avalanche — chosen over murmur/xxhash
  * because it is exactly expressible in ANY engine's plain BIGINT arithmetic
  * (the multiply is split into 16-bit halves so no intermediate exceeds
  * 2^48 — engines that CHECK overflow, like DuckDB, stay happy), which is
  * what makes the assignment verifiable end-to-end by an independent SQL
  * oracle. Sequential ids spread uniformly (that is the golden-ratio
  * multiplier's purpose); buckets are stable forever by construction.
  *
  * Everything is a pure per-row projection: no shuffle, no state, pushes
  * down to a parquet scan filter at any scale.
  */
object Sampling {
  /** 2654435761 = 40503·65536 + 31153 (golden-ratio multiplier, split). */
  private val M32   = 4294967296L
  private val MHi   = 40503L
  private val MLo   = 31153L
  val NumBuckets    = 10000 // basis points

  /** h(id) in [0, 2^32): multiplicative hash with 16-bit-split multiply.
    * pmod (not %) so signed ids still land in [0, 2^32) — `%` keeps the
    * dividend's sign in both Spark and ANSI SQL, which would otherwise
    * leak negative buckets (every negative id sampled-in / first-split).
    * Downstream stays nonnegative, so one pmod at the entry suffices.
    */
  def portableHash(id: Column): Column = {
    val x  = pmod(id, lit(M32))
    val h0 = (x * MLo + ((x * MHi) % 65536L) * 65536L) % M32
    h0.bitwiseXOR(shiftright(h0, 16))
  }

  /** Stable bucket in [0, 10000) — basis points of the id space. */
  def bucket(id: Column): Column = portableHash(id) % NumBuckets

  /** Keep rows whose bucket < fractionBp (fraction in basis points, e.g.
    * 3000 = 30%). Deterministic: the same id is kept on every run.
    */
  def hashSample(df: DataFrame, idCol: String, fractionBp: Int): DataFrame = {
    require(fractionBp >= 0 && fractionBp <= NumBuckets, s"fractionBp out of range: $fractionBp")
    df.where(bucket(col(idCol)) < fractionBp)
  }

  /** Deterministic weighted sampling WITHOUT replacement (the
    * Efraimidis–Spirakis A-ES scheme with the portable hash as the uniform
    * source): each row gets key = ln(u)/w with u = (h(id)+1)/2^32 ∈ (0,1]
    * and weight w > 0, and the k LARGEST keys are the sample — the
    * classical result makes inclusion probabilities proportional to
    * weights, and the hash-derived u makes the draw reproducible on every
    * run, engine, and parallelism (same philosophy as [[hashSample]];
    * the oracle replays the identical formula). Rows with null or
    * non-positive weight never participate.
    *
    * Scale shape: ungrouped, the take is `orderBy(key).limit(k)` —
    * Spark plans `TakeOrderedAndProject` (per-partition partial top-k,
    * k rows shuffle). Grouped, it is one hash shuffle on the group key
    * with a per-group window; `maxRowsPerGroup` (0 = off) bounds what one
    * window task may serialize exactly like [[stratifiedTake]]'s salted
    * take: groups above the budget run per-(group, salt) top-k first,
    * then top-k of the ≤ k·nSalt survivors — EXACT, because
    * (key desc, id) is a deterministic total order, so every global
    * top-k row survives its salt shard's top-k.
    *
    * ln is evaluated in double precision on both engines; two keys tie
    * only within ~1 ulp of each other (probability ~1e-12 on continuous
    * weights), and the id tie-break keeps even that deterministic per
    * engine.
    */
  def weightedTake(
      df: DataFrame, idCol: String, weightCol: String, k: Int,
      groupCols: Seq[String] = Nil,
      maxRowsPerGroup: Long = 0L,
  ): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val names = df.columns.toSet
    Seq("__wkey", "__wr", "__wsalt").foreach(c => require(!names.contains(c), s"input already has a '$c' column"))
    val w     = col(weightCol).cast("double")
    val u     = (portableHash(col(idCol)) + 1).cast("double") / lit(M32.toDouble)
    val valid = df.where(w.isNotNull && w > 0).withColumn("__wkey", log(u) / w)
    def takeK(in: DataFrame, parts: Seq[Column]): DataFrame = {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(parts: _*).orderBy(desc("__wkey"), col(idCol))
      in.withColumn("__wr", row_number().over(win))
        .where(col("__wr") <= k).drop("__wr")
    }
    if (groupCols.isEmpty)
      return valid.orderBy(desc("__wkey"), col(idCol)).limit(k).drop("__wkey")
    val plain = maxRowsPerGroup <= 0L || {
      val hot = valid.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("__n"))
        .where(col("__n") > maxRowsPerGroup).limit(1).collect()
      hot.isEmpty
    }
    if (plain) takeK(valid, groupCols.map(col)).drop("__wkey")
    else {
      val nSalt  = 64
      val salted = valid.withColumn("__wsalt", pmod(portableHash(col(idCol)), lit(nSalt.toLong)))
      val survivors = takeK(salted, groupCols.map(col) :+ col("__wsalt")).drop("__wsalt")
      takeK(survivors, groupCols.map(col)).drop("__wkey")
    }
  }

  /** Deterministic stratified take: the same k rows per class on every run,
    * ordered by the portable hash (pseudo-random but reproducible) with the
    * id as tie-break. The balanced-subset op — k examples per language /
    * source / label — as one keyed window.
    *
    * `maxRowsPerClass` (0 = off) bounds what one window task may serialize:
    * classes above the budget route through a TWO-STAGE take — per
    * (class, salt) top-k first, then top-k of the ≤ k·nSalt survivors.
    * This is EXACT, not approximate: (hash, id) is a deterministic total
    * order, and every global top-k row is in its own salt shard's top-k,
    * so stage 2 sees all of them. Detection is one map-side-combined count
    * whose driver result is bounded by total/maxRowsPerClass rows.
    */
  def stratifiedTake(
      df: DataFrame, classCol: String, idCol: String, k: Int,
      maxRowsPerClass: Long = 0L,
  ): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def takeK(in: DataFrame, parts: Seq[Column]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(parts: _*).orderBy(bucket(col(idCol)), col(idCol))
      in.withColumn("__r", org.apache.spark.sql.functions.row_number().over(w))
        .where(col("__r") <= k).drop("__r")
    }
    if (maxRowsPerClass <= 0L) return takeK(df, Seq(col(classCol)))
    val hot = df.groupBy(classCol).agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxRowsPerClass).collect()
    val hotKeys = hot.map(_.get(0)).filter(_ != null).toSeq
    if (hotKeys.isEmpty) return takeK(df, Seq(col(classCol)))
    val isHot = col(classCol).isin(hotKeys: _*)
    val nSalt = math.min(256L,
      (hot.map(r => r.getLong(r.fieldIndex("__n"))).max + maxRowsPerClass - 1) / maxRowsPerClass).toInt
    val salted = df.where(isHot)
      .withColumn("__salt", pmod(portableHash(col(idCol)), lit(nSalt.toLong)))
    val survivors = takeK(salted, Seq(col(classCol), col("__salt"))).drop("__salt")
    takeK(df.where(coalesce(!isHot, lit(true))), Seq(col(classCol)))
      .unionByName(takeK(survivors, Seq(col(classCol))))
  }

  /** Deterministic global shuffle into `nShards` training shards: shard =
    * h(id) mod nShards, pos = rank of (h(id), id) within the shard. The
    * hash IS the permutation — the same corpus shuffles identically on
    * every run and engine, and concatenating shards in (shard, pos) order
    * is a fixed pseudo-random global order (what a training run needs for
    * reproducible data order / exact resume-from-step).
    *
    * Scale: one hash-shuffle on `shard`, one sort per shard — `nShards` is
    * the task granularity, and you size it exactly like output files
    * (10k shards @ 100 TB ≈ 10 GB sorted runs; external sort handles the
    * task comfortably). No global sort, no driver state.
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val names = df.columns.toSet
    Seq("__h", "shard", "pos").foreach(c =>
      require(!names.contains(c), s"input already has a '$c' column"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", portableHash(col(idCol)))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .drop("__h")
  }

  /** Assign every row to a named split by cumulative bucket ranges, e.g.
    * Seq("train" -> 8000, "val" -> 1000, "test" -> 1000). Weights must sum
    * to 10000 so the assignment is total. Splits are disjoint and exhaustive
    * by construction; rows keep their split across runs and engines.
    */
  def hashSplit(df: DataFrame, idCol: String, weightsBp: Seq[(String, Int)]): DataFrame =
    splitOn(df, bucket(col(idCol)), weightsBp)

  /** Leakage-safe split: every row of the same GROUP (dedup cluster, source
    * domain, author) lands in the same split — splitting near-duplicates
    * across train and test silently leaks, so the split key must be the
    * group, not the document. The group's bucket comes from its smallest
    * member id (one map-side-combined agg, broadcast-or-shuffle equi-join
    * back — group keys may be strings; the representative id keeps the
    * bucket arithmetic numeric and oracle-replayable).
    */
  def groupSplit(
      df: DataFrame, groupCol: String, idCol: String, weightsBp: Seq[(String, Int)],
  ): DataFrame = {
    Seq("__rid", "__g").foreach(c =>
      require(!df.columns.contains(c), s"input already has a '$c' column"))
    val reps = df.groupBy(col(groupCol).as("__g")).agg(min(col(idCol)).as("__rid"))
    // null-safe join: groupBy emits a null-group representative, and a
    // plain equi-join would silently DROP every null-group row — the one
    // failure mode a total split assignment must not have
    splitOn(
      df.join(reps, col(groupCol) <=> col("__g")),
      bucket(col("__rid")), weightsBp).drop("__rid", "__g")
  }

  private def splitOn(df: DataFrame, b: Column, weightsBp: Seq[(String, Int)]): DataFrame = {
    require(weightsBp.map(_._2).sum == NumBuckets, s"weights must sum to $NumBuckets bp")
    val cum = weightsBp.scanLeft(0)(_ + _._2).tail
    // coalesce of per-split whens: cumulative uppers ascend, so the first
    // non-null is the owning range. (A fold that references the accumulator
    // twice doubles the expression tree per split — O(2^k) Catalyst nodes.)
    val assigned = coalesce(weightsBp.zip(cum).map {
      case ((name, _), upper) => when(b < upper, name)
    }: _*)
    df.withColumn("split", assigned)
  }

  /** Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws"): an example's difficulty is its L2 distance to
    * its cluster prototype; on an abundant corpus pruning keeps the HARD
    * fraction (easy examples near the prototype are redundant), on a
    * scarce one the easy fraction — `keepHardest` picks the direction.
    * Everything deterministic: explicit prototypes, argmin assignment
    * with lowest-index tie-break ([[Ivf.withListId]]), a
    * per-cluster (distance, id) rank, keep ceil(keepFrac·n_c) per
    * cluster.
    *
    * Plan shape: one narrow assignment projection (the prototypes ride in
    * the assignment expression — no join), then ONE cluster-keyed shuffle
    * shared by the rank and cluster-size windows. Same scale contract as
    * [[stratifiedTake]]; clusters skewed enough to make a per-cluster
    * sort hurt should prune per shard first (prototypes are global, so
    * shard-local pruning composes).
    *
    * Output: input columns − vecCol + (cluster, dist, n_cluster, kept).
    */
  def prototypePrune(
      vecs: DataFrame, idCol: String, vecCol: String,
      prototypes: Seq[Seq[Double]], keepFrac: Double, keepHardest: Boolean = true,
  ): DataFrame = {
    require(prototypes.nonEmpty, "prototypes must not be empty")
    require(prototypes.map(_.length).distinct.size == 1,
      s"prototypes must share one dimension, got ${prototypes.map(_.length).distinct.sorted.mkString(", ")}")
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac must be in (0,1]: $keepFrac")
    val names = vecs.columns.toSet
    Seq("cluster", "dist", "n_cluster", "kept", "list_id", "__rank")
      .foreach(c => require(!names.contains(c), s"input already has a '$c' column"))
    import graft.functions.VectorExpressions.dotFast
    val model    = Ivf.Model(prototypes.map(_.toArray).toArray)
    val assigned = Ivf.withListId(vecs, model, vecCol)
    val cents = typedLit(prototypes)
    val v     = col(vecCol).cast("array<double>")
    val c     = element_at(cents, col("list_id").cast("int") + 1)
    val d2    = dotFast(v, v) + dotFast(c, c) - lit(2.0) * dotFast(v, c)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val order = if (keepHardest) Seq(col("dist").desc, col(idCol))
                else Seq(col("dist").asc, col(idCol))
    assigned
      .withColumn("dist", sqrt(greatest(lit(0.0), d2)))
      .withColumn("cluster", col("list_id").cast("long")).drop("list_id")
      .drop(vecCol)
      .withColumn("__rank", row_number().over(w.orderBy(order: _*)))
      .withColumn("n_cluster", count(lit(1)).over(w))
      .withColumn("kept", col("__rank") <= ceil(lit(keepFrac) * col("n_cluster")))
      .drop("__rank")
  }
}

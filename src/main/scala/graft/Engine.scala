package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + testdata helpers shared by Verify, the kbbench benchmark and tests.
  *
  * Config choices target the driver's `local[32]` single-JVM harness while
  * staying cluster-shaped: shuffle partitions sized to the parallelism (not
  * the 200 default), AQE on so skewed shuffles re-plan at runtime, UTC
  * session time zone for oracle parity.
  */
object Engine {
  /** Scratch space for shuffle files / spills / disk-cached blocks
    * (optimization guide §2.1: "local disk bandwidth for shuffle files can
    * be the tighter limit — check both"). Thread dumps under the bench
    * showed map tasks RUNNABLE inside `FileOutputStream.open0` creating
    * shuffle partials: the default local dir sits on an ext4 volume
    * mounted with `discard`, so the constant create/unlink churn of tiny
    * shuffle files pays journal+TRIM latency (~ms per open) — at 32
    * concurrent writers that was a measurable per-task floor. Prefer the
    * RAM-backed tmpfs when present (the standard fast-scratch deployment
    * choice — at cluster scale this is the NVMe/ramdisk local-dir
    * setting); `SPARK_GRAFT_LOCAL_DIR` overrides, and boxes without a
    * writable /dev/shm keep Spark's default.
    */
  private def scratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      // Capacity gate (r16 advisor): containers commonly mount a 64 MB
      // /dev/shm — defaulting shuffle scratch there would ENOSPC the first
      // real shuffle and turn disk spill into RAM pressure. Only prefer the
      // tmpfs when it has real headroom; anything smaller keeps Spark's
      // default local dir. SPARK_GRAFT_LOCAL_DIR still overrides outright.
      val minBytes = 8L << 30
      val usable =
        try {
          if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
            java.nio.file.Files.getFileStore(shm).getUsableSpace
          else 0L
        } catch { case scala.util.control.NonFatal(_) => 0L }
      if (usable >= minBytes) Some("/dev/shm/graft-spark-local") else None
    }

  /** The session default that maps `file://` to
    * [[graft.operators.NioLocalFileSystem]]; specs take the same pair. */
  private[graft] val LocalFsConf: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[graft.operators.NioLocalFileSystem].getName

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The generated-class cache defaults to 100 entries; this workload's
      // query surface compiles hundreds of distinct codegen units (plus a
      // ColumnAccessor per cached-frame schema), so the cache churned and
      // every stage start recompiled while its sibling tasks queued on the
      // compile KeyLock — thread dumps showed `CodeGenerator.compile` via
      // `NonFateSharingLoadingCache` as the single largest blocked state.
      // Sized to hold the whole surface; entries are soft-referenced
      // bytecode, so the ceiling costs nothing when memory is tight.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // wide array columns (768-d embeddings) make the default 4096-row
      // columnar batch a ~25 MB/task transient; at 32 task slots that is
      // ~800 MB of read buffers before any compute, enough to OOM the
      // vectorized reader while MLlib caches a fit input. 1024 rows keeps
      // the per-task buffer ~6 MB at 768-d with no measurable cost on the
      // narrow tables.
      .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
      // Past 32 paths (the default) Spark lists a store's partition
      // directories in a Spark job; an IVF store at nList 39 paid that job
      // on every open, and applyDelta and each reopen after it open one.
      // The session is local[N], so the job lists on the cores the driver
      // would use and adds only its fixed cost. Measured on a 4-core host,
      // one file per directory, median of 15 opens, serial vs job: 39 dirs
      // 19 vs 114 ms, 256 dirs 51 vs 105 ms, 1 024 dirs 117-144 vs
      // 196-228 ms, 2 048 dirs 222 vs 309 ms, 4 096 dirs 600 vs 610 ms. The
      // crossover is near 4 096; half of it leaves room for hosts with
      // more cores, where the job lists faster.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
      // This JVM has no `libhadoop`, so the stock `file://` file system's
      // `setPermission` forks a `chmod` process: once per directory a write
      // makes, per data file and per `.crc` file, three per list file an
      // upsert stages. Measured on a 4-core host, median of 50, `mkdirs` +
      // create + a 180 KB write: 10.5-11.4 ms per file through the stock
      // file system, 0.8-1.1 ms through NioLocalFileSystem, which sets the
      // same bits through `java.nio`.
      .config(LocalFsConf._1, LocalFsConf._2)
      .config("spark.ui.enabled", "false")
    val spark = scratchDir.fold(b0)(d => b0.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Lazy loaders for the driver testdata tables (TESTDATA.md).
  *
  * Plain parquet scans: Catalyst handles column pruning + predicate pushdown,
  * so every query should show `PushedFilters`/narrow `ReadSchema` in explain.
  *
  * Handles are memoized per (session, dir, table): `spark.read.parquet` runs
  * a file-listing + footer schema-inference job every call, a fixed per-query
  * tax that dominated sub-second operators in the bench. The cached handle is
  * just the analyzed plan — data stays on disk, scans stay lazy.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    // drop handles of stopped sessions: without eviction the cache pins
    // every per-suite session (and its analyzed plans) for the JVM lifetime
    Tables.handleCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    Tables.handleCache.getOrElseUpdate((spark, dir, name), spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts arrives in whatever parquet timestamp flavor the driver's
    * generator used that round; normalize every variant to session-local
    * TIMESTAMP (session tz is UTC, so wall-clock values are unchanged):
    *  - TIMESTAMP(NANOS) → read as long under
    *    spark.sql.legacy.parquet.nanosAsLong=true, floor-divided to micros
    *    (the same truncation DuckDB applies reading nanos);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ, cast to
    *    TIMESTAMP (interpreted in the UTC session tz — a no-op on values,
    *    but required: unix_micros and numeric casts reject NTZ).
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", functions.timestamp_micros(functions.expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", functions.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Assumes table files are immutable once written (true for the driver
    * testdata); rewriting a table requires a new session, else the cached
    * file index scans deleted part-files.
    */
  private val handleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
}

object Par {
  /** Fan a small scan out to the cluster's parallelism before CPU-heavy
    * narrow work (chunking, embedding, signature hashing). A single-row-group
    * parquet file plans as ONE input split, which would run the whole
    * per-row compute on one core; at real scale inputs arrive in thousands
    * of splits and this is a no-op (the guard keeps it shuffle-free there).
    */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch sizing belongs to the source
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedPartitions(df) < target) df.repartition(target) else df
  }

  /** Execution partition count estimated from the ANALYZED logical plan —
    * zero physical planning, zero jobs. The previous guard probed
    * `df.rdd.getNumPartitions`, which pays a full physical-planning pass
    * per call on a demonstrably planning-bound suite, and worse: under AQE
    * `Dataset.rdd` EXECUTES every upstream query stage eagerly
    * (AdaptiveSparkPlanExec materializes its shuffles to pick the final
    * plan), so fanning out a join-derived frame ran the join's shuffles
    * twice per action. The estimate only steers the repartition guard —
    * small inputs must fan out, already-parallel inputs must stay
    * shuffle-free; the `< target` decision is what matters, not the exact
    * count, and both mis-directions only cost performance, never values.
    */
  private[graft] def estimatedPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.internal.SQLConf
    // the df's own session conf, not SQLConf.get: the thread-local active
    // conf is unset inside Verify's worker pool threads
    val sqlConf     = df.sparkSession.sessionState.conf
    val parallelism = df.sparkSession.sparkContext.defaultParallelism

    // Mirror of FilePartition.maxSplitBytes packing, from the relation's
    // cached listing metadata only (no job, no physical planning).
    def scanSplits(fs: HadoopFsRelation): Int = {
      val openCost   = sqlConf.filesOpenCostInBytes
      val maxSplit   = sqlConf.filesMaxPartitionBytes
      val minParts   = sqlConf.filesMinPartitionNum.getOrElse(parallelism)
      val nFiles     = fs.location.inputFiles.length
      if (nFiles == 0) return 1
      val totalBytes = fs.location.sizeInBytes + nFiles.toLong * openCost
      val perCore    = totalBytes / math.max(1, minParts)
      val split      = math.min(maxSplit, math.max(openCost, perCore))
      math.max(1, math.ceil(totalBytes.toDouble / math.max(1L, split)).toInt)
    }

    def leafBytes(p: LogicalPlan): Long = p.collectLeaves().map {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => math.max(0L, fs.location.sizeInBytes)
          case r                    => math.max(0L, r.sizeInBytes)
        }
      case leaf => leaf.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
    }.sum

    // Post-shuffle parallelism starts at shuffle.partitions; with AQE
    // coalescing on, small outputs shrink toward totalBytes/advisory — leaf
    // bytes are the cheap (over-)estimate of that volume, which errs toward
    // skipping the extra exchange at scale.
    def shuffled(p: LogicalPlan): Int =
      if (sqlConf.adaptiveExecutionEnabled && sqlConf.coalesceShufflePartitionsEnabled) {
        val advisory = math.max(1L, sqlConf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        math.min(sqlConf.numShufflePartitions.toLong, math.max(1L, leafBytes(p) / advisory)).toInt
      } else sqlConf.numShufflePartitions

    // A broadcast-hinted join runs in its STREAM side's partitions: the
    // hinted side ships whole to every stream task, no exchange. Mirrors
    // the join types Spark can build on each side.
    def broadcastHinted(p: LogicalPlan): Boolean = p match {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _               => false
    }
    def streamSide(j: Join): Option[LogicalPlan] = {
      import org.apache.spark.sql.catalyst.plans._
      val buildsRight = j.joinType match {
        case Inner | Cross | LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => true
        case _                                                                  => false
      }
      val buildsLeft = j.joinType match {
        case Inner | Cross | RightOuter => true
        case _                          => false
      }
      if (buildsRight && broadcastHinted(j.right)) Some(j.left)
      else if (buildsLeft && broadcastHinted(j.left)) Some(j.right)
      else None
    }

    def estimate(p: LogicalPlan): Int = p match {
      // explicit numPartitions pins the count (AQE never coalesces a
      // user-specified n — so a frame already fanned out reports `target`
      // and a second fanOut stays the identity)
      case r: Repartition =>
        if (r.shuffle) r.numPartitions else math.min(estimate(r.child), r.numPartitions)
      case r: RepartitionByExpression => r.optNumPartitions.getOrElse(shuffled(p))
      case r: RebalancePartitions     => r.optNumPartitions.getOrElse(shuffled(p))
      case _: GlobalLimit             => 1 // collapses to one partition
      case j: Join                    => streamSide(j).fold(shuffled(p))(estimate)
      case _: Aggregate | _: Distinct | _: Deduplicate | _: Window |
          _: SetOperation => shuffled(p)
      case s: Sort if s.global => shuffled(p)
      case u: Union            => math.max(1, u.children.map(estimate).sum)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => scanSplits(fs)
          case _                    => 1
        }
      case l: LocalRelation => math.min(math.max(l.data.length, 1), parallelism)
      case r: Range         => r.numSlices.getOrElse(parallelism)
      case l: LogicalRDD    => l.rdd.getNumPartitions
      case u: UnaryNode     => estimate(u.child) // Project/Filter/Generate/…: narrow
      case _                => parallelism // unknown leaf/shape: assume parallel enough
    }
    estimate(df.queryExecution.analyzed)
  }
}

package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one commit path for every store on disk — the IVF, IVF-PQ and HNSW
  * stores and the directory-replacing stream sinks. Nothing else renames a
  * store file or deletes a live store directory. Four parts:
  *
  *  1. **Sidecars** — [[writeSidecar]] (temp file, `checkError`, rename) and
  *     the fail-closed [[readSidecar]]: `_graft_centroids.txt`,
  *     `_pq_codebooks.txt`, `_hnsw_meta` and `_graft_version`.
  *  2. **Partition swap** — [[swapPartitions]]: two staging writers, one
  *     swap. [[stageFrame]] stages a frame through a Spark write and
  *     [[stageRows]] stages rows already on the driver through Spark's
  *     parquet writer, with no job; either fills `root.delta` and leaves
  *     `_SUCCESS` there last. Then the `_SUCCESS` check, the per-partition
  *     swap, stores in the order given, version bump last.
  *  3. **Whole-store replace** — [[replace]] ([[stage]] + [[publish]]): the
  *     stage is written complete, sidecars included, then
  *     `root → .old`, `stage → root`, `.old` dropped.
  *  4. **Freshness token** — `_graft_version`, bumped by every commit above;
  *     reader caches key on its content alone ([[token]]).
  *  5. **Driver reads** — [[relation]] opens a store as `spark.read.parquet`
  *     resolves it and [[readRows]] decodes its rows as a scan returns
  *     them, both with no Spark job: the read twin of [[stageRows]]. This
  *     file is the one home of driver-side parquet I/O.
  *
  * [[recover]] repairs whatever a crashed commit left: an interrupted
  * replace rolls back to `.old` when `root` is missing, and an interrupted
  * partition swap completes from its committed staging directory. Every
  * writer calls it at entry, before it lists the store. It renames, so it
  * belongs to the store's single writer (the maintenance-window contract
  * of every commit here), never to a concurrent reader.
  *
  * Sibling layout of a store at `root`: `root.next` (replace stage),
  * `root.old` (the replaced store until the swap completes) and
  * `root.delta` (partition-swap staging).
  */
private[graft] object Store {

  /** Version sidecar: the version (1 for a new store, +1 per commit), then
    * the id of the commit that wrote it. */
  private val VersionFile = "_graft_version"

  private def fsOf(conf: Configuration, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(conf), p)
  }

  private def sibling(root: Path, suffix: String) = new Path(root.toString + suffix)

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")

  // ---- sidecars ---------------------------------------------------------

  /** Write `lines` to `dir/name` via a temp file and rename, so a reader in
    * another JVM never sees a partial file. PrintWriter swallows I/O errors
    * into a flag; it is checked BEFORE the rename, or a file truncated at a
    * line boundary could pass a reader's shape checks.
    */
  def writeSidecar(conf: Configuration, dir: String, name: String, lines: Iterator[String]): Unit = {
    val (fs, d) = fsOf(conf, dir)
    fs.mkdirs(d)
    val p   = new Path(d, name)
    val tmp = new Path(d, name + ".tmp")
    val w   = new java.io.PrintWriter(new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
    try lines.foreach(w.println) finally w.close()
    if (w.checkError()) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"sidecar write failed: $tmp")
    }
    fs.delete(p, false)
    rename(fs, tmp, p)
  }

  /** Fail-closed read: a missing, torn or unparsable sidecar is None. */
  def readSidecar[A](conf: Configuration, dir: String, name: String)(parse: Array[String] => Option[A]): Option[A] =
    scala.util.Try {
      val p  = new Path(dir, name)
      val in = p.getFileSystem(conf).open(p)
      try parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray) finally in.close()
    }.toOption.flatten

  // ---- freshness token --------------------------------------------------

  def version(conf: Configuration, root: String): Option[Long] =
    readSidecar(conf, root, VersionFile)(_.headOption.map(_.trim.toLong))

  /** What reader caches key on: the version file's whole content. The
    * commit id makes it unique, so a store moved in or rebuilt at the same
    * path never repeats a token a reader cached.
    */
  def token(conf: Configuration, root: String): Option[String] =
    readSidecar(conf, root, VersionFile)(l => if (l.isEmpty) None else Some(l.mkString("\n")))

  /** Stamp the store's next version with a fresh commit id. */
  def bump(conf: Configuration, root: String): Unit = { bump(conf, root, root); () }

  /** Stamp `into` with `from`'s next version; returns the token written. */
  private def bump(conf: Configuration, from: String, into: String): String = {
    val lines = Seq((version(conf, from).getOrElse(0L) + 1L).toString, java.util.UUID.randomUUID().toString)
    writeSidecar(conf, into, VersionFile, lines.iterator)
    lines.mkString("\n")
  }

  // ---- recovery ---------------------------------------------------------

  /** Repair each root's crashed commit: roll an interrupted replace back to
    * `.old` (or drop `.old` once the swap had completed), drop an
    * unpublished stage, and complete an interrupted partition swap.
    *
    * A partition swap is completed ONLY when its staging dir carries
    * `_SUCCESS`, the job-level commit marker: every staged partition whose
    * live twin is missing was deleted but not yet replaced when the writer
    * died, so it is renamed into place (a deliberately emptied partition
    * has no staged replacement and stays deleted). Without the marker the
    * writer died mid-staging — some partitions are partial and the live
    * store is untouched — and the staging dir is only cleared.
    */
  def recover(conf: Configuration, roots: String*): Unit = roots.foreach { root =>
    val (fs, r) = fsOf(conf, root)
    val old     = sibling(r, ".old")
    if (fs.exists(old)) {
      if (fs.exists(r)) fs.delete(old, true) else rename(fs, old, r)
    }
    fs.delete(sibling(r, ".next"), true)
    val delta = sibling(r, ".delta")
    if (fs.exists(delta)) {
      if (fs.exists(new Path(delta, "_SUCCESS")))
        fs.listStatus(delta).foreach { st =>
          val live = new Path(r, st.getPath.getName)
          if (st.isDirectory && st.getPath.getName.contains("=") && !fs.exists(live))
            rename(fs, st.getPath, live)
        }
      fs.delete(delta, true)
    }
  }

  // ---- partition swap ---------------------------------------------------

  /** Fail LOUDLY, before any live directory is deleted, if a staging write
    * left no `_SUCCESS` marker: [[recover]] tells a complete staging write
    * from a partial one by it, and a session with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` would
    * otherwise clear the staging dir holding the only copy of a deleted
    * partition after a mid-swap crash.
    */
  def assertCommitMarker(fs: FileSystem, tmp: Path): Unit =
    if (!fs.exists(new Path(tmp, "_SUCCESS")))
      throw new IllegalStateException(
        s"staging write at $tmp produced no _SUCCESS marker — crash recovery " +
          "needs it to tell a completed staging write from a partial one; " +
          "enable mapreduce.fileoutputcommitter.marksuccessfuljobs")

  /** Commit `parts` (values of partition column `part`) of each store in
    * `stores` order: the store's staging writer fills `root.delta` ONCE
    * (beside the store — no lineage conflict with the files being read),
    * the commit marker is checked, then each partition directory swaps in;
    * a partition with no staged rows stays deleted. The version at
    * `versionRoot` is bumped LAST, so a cache is never told "fresh" about a
    * store whose swaps have not completed; the returned token is the one
    * that bump wrote. The caller ran [[recover]] on every root before
    * building the writers' input.
    */
  def swapPartitions(
      conf: Configuration, versionRoot: String, part: String, parts: Seq[Any],
      stores: Seq[(String, String => Unit)]): String = {
    stores.foreach { case (root, stage) =>
      val (fs, r) = fsOf(conf, root)
      val tmp     = sibling(r, ".delta")
      stage(tmp.toString)
      assertCommitMarker(fs, tmp)
      parts.foreach { v =>
        val dst = new Path(r, s"$part=$v")
        val src = new Path(tmp, s"$part=$v")
        fs.delete(dst, true)
        if (fs.exists(src)) rename(fs, src, dst)
      }
      fs.delete(tmp, true)
    }
    bump(conf, versionRoot, versionRoot)
  }

  /** Staging writer of a frame: one Spark write, partitioned by `part`. */
  def stageFrame(frame: DataFrame, part: String): String => Unit =
    dir => frame.write.mode("overwrite").partitionBy(part).parquet(dir)

  /** Staging writer of rows already on the driver: one parquet file per
    * value of `part` (a value with no rows writes nothing), through Spark's
    * own writer — `ParquetFileFormat.prepareWrite`'s factory over the
    * session's hadoop conf — so the footer, codec and schema metadata are a
    * Spark write's. No job runs: the files are written on at most
    * `defaultParallelism` driver threads, and `_SUCCESS` only after every
    * file has closed, so a failure part-way leaves a staging directory
    * [[recover]] clears. `schema` is the rows' schema, `part` one of its
    * fields; a value's string form must need no path escaping (integers).
    */
  def stageRows(spark: SparkSession, schema: StructType, part: String,
      rows: Iterable[(Any, Iterable[InternalRow])]): String => Unit = dir => {
    val conf    = spark.sessionState.newHadoopConf()
    val (fs, d) = fsOf(conf, dir)
    fs.delete(d, true)
    fs.mkdirs(d)
    val keep    = schema.fields.indices.filter(_ != schema.fieldIndex(part))
    val data    = StructType(keep.map(schema.fields(_)))
    val job     = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, data)
    val uuid    = java.util.UUID.randomUUID().toString
    // each writer gets its own copy of the conf, as each Spark write task does
    def write(v: Any, rs: Iterable[InternalRow], i: Int): Unit = {
      val ctx     = new TaskAttemptContextImpl(new Configuration(job.getConfiguration),
        new TaskAttemptID("graft", 0, TaskType.MAP, i, 0))
      val file    = new Path(d, f"$part=$v/part-$i%05d-$uuid.c000${factory.getFileExtension(ctx)}")
      val project = UnsafeProjection.create(keep.map(k => BoundReference(k, schema(k).dataType, schema(k).nullable)))
      val w       = factory.newInstance(file.toString, data, ctx)
      try rs.foreach(r => w.write(project(r))) finally w.close()
    }
    // every writer finishes before a failure is thrown: none may still be
    // writing into the staging directory the next attempt fills
    onDriver(spark, rows.filter(_._2.nonEmpty).toSeq.zipWithIndex.map { case ((v, rs), i) => () => write(v, rs, i) })
    fs.create(new Path(d, "_SUCCESS"), true).close()
  }

  /** `tasks`' results in order, run on at most `defaultParallelism` driver
    * threads. Every task finishes before the first failure is rethrown. */
  private def onDriver[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    val done = try tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      .map(f => scala.util.Try(f.get())) finally pool.shutdown()
    done.collectFirst { case scala.util.Failure(e: java.util.concurrent.ExecutionException) => throw e.getCause }
    done.map(_.get)
  }

  // ---- driver reads -----------------------------------------------------

  /** The relation `spark.read.parquet(root)` resolves, opened with no Spark
    * job. The listing is the reader's own driver-side `InMemoryFileIndex`
    * (no job under the parallel-listing threshold), with the partition
    * schema it infers. The data schema comes from one footer read on the
    * driver: the first file by path, the one the reader's schema
    * inference reads when it does not merge schemas, with every column made
    * nullable as the reader makes it. None for a store with no file.
    */
  def relation(spark: SparkSession, root: String): Option[HadoopFsRelation] = {
    val index = new InMemoryFileIndex(spark, Seq(new Path(root)), Map.empty, None)
    index.allFiles().sortBy(_.getPath.toString).headOption.map { first =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(first, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val data   = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      HadoopFsRelation(index, index.partitionSchema, GraftBridge.asNullable(data), None, new ParquetFileFormat,
        Map.empty)(spark)
    }
  }

  /** Every row of the parquet relation `rel` as a scan job returns them,
    * as `UnsafeRow`s in `rel.schema`'s layout, with no job: the scan's own
    * splits (each file cut at `FilePartition.maxSplitBytes`, largest
    * first) decoded by `ParquetFileFormat`'s reader on at most
    * `defaultParallelism` driver threads, concatenated in split order.
    */
  def readRows(spark: SparkSession, rel: HadoopFsRelation): Array[UnsafeRow] = {
    val layout = StructType(rel.dataSchema ++ rel.partitionSchema)
    require(rel.fileFormat.isInstanceOf[ParquetFileFormat] && rel.schema.fieldNames.sameElements(layout.fieldNames),
      s"not a parquet relation with its partition columns last: ${rel.schema.simpleString}")
    val parts  = rel.location.listFiles(Nil, Nil)
    val max    = FilePartition.maxSplitBytes(spark, parts)
    val splits = parts.flatMap(p => p.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
      isSplitable = true, max, p.values))).sortBy(_.length)(Ordering[Long].reverse)
    val read   = rel.fileFormat.buildReaderWithPartitionValues(spark, rel.dataSchema, rel.partitionSchema,
      rel.dataSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(rel.options))
    // one projection per thread: building one costs more than a small split
    val unsafe = ThreadLocal.withInitial(() => UnsafeProjection.create(layout))
    onDriver(spark, splits.map(s => () => { val u = unsafe.get(); read(s).map(r => u(r).copy()).toArray }))
      .toArray.flatten
  }

  // ---- whole-store replace ----------------------------------------------

  /** Recover `root` (which also clears an earlier stage) and return its
    * stage directory. */
  def stage(conf: Configuration, root: String): String = {
    recover(conf, root)
    root + ".next"
  }

  /** Publish the complete stage: stamp its version (the live one + 1),
    * then `root → .old`, `stage → root`, drop `.old`. A crash between the
    * two renames leaves `.old`, which [[recover]] restores.
    */
  def publish(conf: Configuration, root: String): Unit = {
    val (fs, r) = fsOf(conf, root)
    val next    = sibling(r, ".next")
    val old     = sibling(r, ".old")
    bump(conf, root, next.toString)
    if (fs.exists(r)) rename(fs, r, old)
    rename(fs, next, r)
    fs.delete(old, true)
  }

  /** Whole-store replace: `write` fills the stage (data and sidecars), then
    * [[publish]]. The frames `write` stores may read the live `root`.
    */
  def replace(conf: Configuration, root: String)(write: String => Unit): Unit = {
    write(stage(conf, root))
    publish(conf, root)
  }
}

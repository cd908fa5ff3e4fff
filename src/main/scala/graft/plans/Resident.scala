package graft.plans

import graft.operators.Store
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Driver-resident copies of small IVF stores: a store whose decoded rows
  * fit [[Budget]] is held on the driver as ONE copy — its relation's rows
  * as `InternalRow`s, every column, grouped by `list_id` — so
  * [[DeclarativeAnn]] answers a top-k (and the hydration lookup after it)
  * with no Spark job: each job costs about 100 ms of fixed scheduling on a
  * 4-core host, the whole request budget of an in-memory store. Spark takes
  * the same step in `ConvertToLocalRelation`: work over a local relation
  * runs no job.
  *
  * Freshness: a copy is keyed on the store's qualified root and its
  * [[Store.token]] (`_graft_version`, new on every commit), and records the
  * file set and schema it was read from. A handle is served only when the
  * token read at planning equals the key AND its own listing
  * (`location.inputFiles`) and schema equal the recorded ones, so a handle
  * opened before a commit keeps its file scan. A copy is built only from a
  * handle whose listing equals the store's current files, by ONE scan job,
  * single-flight per (root, token) — concurrent clients plan concurrently —
  * and is dropped if the token moved while it was read.
  *
  * Writers: an in-budget [[graft.operators.Ivf.applyDelta]] resolves its
  * delta against the copy ([[writable]], which builds it through [[load]]
  * when missing) and, once its commit has returned, installs the next
  * version's copy ([[install]]): unaffected lists share their row arrays,
  * affected lists hold exactly the rows the commit wrote, keyed on the
  * token the commit wrote and the post-commit listing, and only when no
  * other commit changed the store since the copy was read. So the first
  * top-k after an upsert runs no job either.
  *
  * The cache holds at most [[Budget]] decoded bytes in total, evicts least
  * recently used copies, and sweeps copies of stopped contexts and of
  * deleted stores on every miss. A store over the budget is remembered as
  * such for its version, so it keeps today's plan without a build job per
  * request.
  */
private[graft] object Resident {

  /** The largest decoded store held on the driver, and the cache's total.
    *
    * Measured as a crossover on a 4-core host (Spark 4.1.2, `local[4]`,
    * 768-d float vectors with a 10–99-word text payload, about 3.5 KB
    * decoded per row, nList = √rows; median of 15 warm top-10 + hydration
    * requests per filter kind): at 5, 41 and 168 MB decoded the resident
    * request took 17–111 ms against the scan path's 165–499 ms; at 326 MB
    * the unfiltered request, the kind with the smallest margin, took
    * 478 ms against the scan's 407 ms. The crossover is near 260 MB; half
    * of it, as for the partition-listing threshold, leaves room for slower
    * drivers and keeps a copy small beside a few-GB driver heap.
    */
  val Budget: Long = 128L << 20

  /** The budget in force: [[Budget]], lowered by specs that pin the scan
    * path's plan on small stores. */
  @volatile private[graft] var budget: Long = Budget

  /** One store version on the driver: rows grouped by list. */
  final class Copy private[Resident] (lists: Map[Int, Array[InternalRow]], val size: Int, val bytes: Long) {
    def rows: Iterator[InternalRow] = lists.keys.toSeq.sorted.iterator.flatMap(l => lists(l).iterator)

    /** The rows of `probed` lists only. */
    def rowsOf(probed: Seq[Int]): Iterator[InternalRow] =
      probed.iterator.flatMap(l => lists.getOrElse(l, Array.empty[InternalRow]).iterator)

    /** This copy with the `changed` lists' rows replaced (an empty list is
      * dropped); every other list shares its array. */
    private[Resident] def updated(changed: Map[Int, Array[InternalRow]]): Copy = {
      def bytesOf(rs: Iterator[InternalRow]) = rs.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
      val next = lists -- changed.keys ++ changed.filter(_._2.nonEmpty)
      new Copy(next, next.valuesIterator.map(_.length).sum,
        bytes - bytesOf(rowsOf(changed.keys.toSeq)) + bytesOf(changed.valuesIterator.flatMap(_.iterator)))
    }
  }

  /** What an upsert resolves its delta against: the copy of the version
    * `token` of the store at `root`, read from the data files `files`,
    * whose rows have the layout `schema`. */
  final class Base private[Resident] (val root: String, val token: String, private[Resident] val files: Set[String],
      val schema: StructType, val copy: Copy)

  /** A cached version: `copy` is None for a store measured over the
    * budget in force when it was read (`budget`). */
  private final case class Entry(token: String, files: Set[String], schema: StructType, sc: SparkContext,
      budget: Long, copy: Option[Copy]) {
    def bytes: Long = copy.fold(0L)(_.bytes)
  }

  /** A matched relation's identity: root, own listing and schema. */
  private final class Handle(val root: String, index: FileIndex, val schema: StructType, val conf: Configuration) {
    lazy val files: Set[String] = index.inputFiles.toSet
    def token: Option[String] = Store.token(conf, root)

    def serves(e: Entry, token: String): Boolean =
      e.token == token && e.files == files && e.schema == schema && e.budget == budget && !e.sc.isStopped
  }

  // access-ordered, so iteration runs least recently used first; guarded
  // by its own monitor
  private val entries  = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private val building = new java.util.concurrent.ConcurrentHashMap[(String, String), Object]()

  private def handleOf(spark: SparkSession, rel: LogicalRelation): Option[Handle] = rel.relation match {
    case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
      Some(new Handle(fs.location.rootPaths.head.toString, fs.location, rel.schema,
        spark.sparkContext.hadoopConfiguration))
    case _ => None
  }

  private def cached(root: String): Option[Entry] = entries.synchronized(Option(entries.get(root)))

  /** The copy `rel` may be answered from, if one is already held. Never
    * builds: the hydration lookup and every other join use it, so a join
    * never pays for a build. */
  def lookup(spark: SparkSession, rel: LogicalRelation): Option[Copy] =
    for {
      h <- handleOf(spark, rel)
      e <- cached(h.root)
      t <- h.token
      if h.serves(e, t)
      c <- e.copy
    } yield c

  /** The copy `rel` may be answered from, built from `rel` when missing.
    * `part` is the relation's `list_id` attribute. None keeps today's plan:
    * a store without a version file, over the budget, a handle whose
    * listing is not the store's current one, or a commit during the read.
    */
  def load(spark: SparkSession, rel: LogicalRelation, part: Attribute): Option[Copy] =
    entry(spark, rel, part).flatMap(_.copy)

  private def entry(spark: SparkSession, rel: LogicalRelation, part: Attribute): Option[Entry] =
    for {
      h <- handleOf(spark, rel)
      t <- h.token
      e <- cached(h.root).filter(h.serves(_, t)).orElse {
        val key  = (h.root, t)
        val lock = building.computeIfAbsent(key, _ => new Object)
        // a failed build (a listing error, a file deleted mid-read) keeps
        // today's plan, which meets the same store on its own
        try lock.synchronized(cached(h.root).filter(h.serves(_, t)).orElse(
          try build(spark, rel, part, h, t) catch { case NonFatal(_) => None }))
        finally building.remove(key, lock)
      }
    } yield e

  /** The copy an upsert of the store at `path` resolves its delta against:
    * the held one when its token and file set are the store's current
    * ones, else one [[load]] builds from `open` (a fresh handle over
    * `path`, forced only then). None keeps the upsert's scan path: no
    * version file, over the budget, or a failed build.
    */
  def writable(spark: SparkSession, path: String, open: => DataFrame): Option[Base] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p    = new Path(path)
    val root = p.getFileSystem(conf).makeQualified(p).toString
    val held = for {
      t <- Store.token(conf, root)
      e <- cached(root)
      if e.token == t && e.budget == budget && !e.sc.isStopped && e.files == listing(conf, root)
    } yield e
    held.orElse(GraftBridge.analyzed(open) match {
      case rel: LogicalRelation => rel.output.find(_.name == "list_id").flatMap(entry(spark, rel, _))
      case _                    => None
    }).flatMap(e => e.copy.map(new Base(root, e.token, e.files, e.schema, _)))
  }

  /** After a commit of `base`'s store that wrote `token`, hold the next
    * version: `base`'s copy with the `changed` lists' rows (the rows just
    * written), keyed on `token` and the post-commit listing. Installs
    * nothing when the store's token is no longer `token`, the held entry is
    * another version's (so it never replaces a newer version), or the
    * listing outside the changed lists' directories is not the file set
    * `base` was read from: a commit that installs nothing (a `streamInto`
    * micro-batch, a scan-path upsert) landed between the read and this
    * commit, and its files are not in `base`'s rows.
    */
  def install(spark: SparkSession, base: Base, token: String, changed: Map[Int, Array[InternalRow]]): Unit = {
    val conf  = spark.sparkContext.hadoopConfiguration
    val files = listing(conf, base.root)
    val dirs  = changed.keySet.map(l => s"list_id=$l")
    def kept(fs: Set[String]) = fs.filterNot(f => dirs(new Path(f).getParent.getName))
    if (kept(files) == kept(base.files)) {
      val next = base.copy.updated(changed)
      entries.synchronized {
        if (Store.token(conf, base.root).contains(token) && cached(base.root).forall(_.token == base.token))
          put(base.root, Entry(token, files, base.schema, spark.sparkContext, budget, Some(next).filter(_.bytes <= budget)))
      }
    }
  }

  /** `df`'s rows as a copy holds them (`UnsafeRow`s), in one collect. */
  def unsafeRows(df: DataFrame): Array[UnsafeRow] = {
    lazy val unsafe = UnsafeProjection.create(df.schema)
    GraftBridge.internalRows(df).map {
      case u: UnsafeRow => u
      case r            => unsafe(r).copy()
    }
  }

  /** [[unsafeRows]] of a frame whose size is not known, in one job that
    * never holds much more than `maxBytes` on the driver: each task returns
    * at most its even share of `maxBytes` (plus the row that passes it),
    * and None means some task had more — the caller takes a path that
    * does not collect.
    */
  def unsafeRowsWithin(df: DataFrame, maxBytes: Long): Option[Array[UnsafeRow]] = {
    val rdd    = df.queryExecution.toRdd
    val share  = maxBytes / math.max(1, rdd.getNumPartitions)
    val schema = df.schema
    val parts = rdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      val out    = Array.newBuilder[UnsafeRow]
      var bytes  = 0L
      while (bytes <= share && it.hasNext) {
        val u = unsafe(it.next()).copy()
        bytes += u.getSizeInBytes
        out += u
      }
      Iterator((bytes <= share, out.result()))
    }.collect()
    if (parts.forall(_._1)) Some(parts.flatMap(_._2)) else None
  }

  private def build(spark: SparkSession, rel: LogicalRelation, part: Attribute, h: Handle,
      token: String): Option[Entry] = {
    // copies of stopped contexts and of deleted stores serve no one
    entries.synchronized(entries.entrySet.removeIf { e =>
      val root = new Path(e.getKey)
      e.getValue.sc.isStopped || scala.util.Try(!root.getFileSystem(h.conf).exists(root)).getOrElse(false)
    })
    val sc     = spark.sparkContext
    val li     = rel.output.indexWhere(_.exprId == part.exprId)
    val onDisk = rel.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    if (li < 0) None
    else if (onDisk > budget) Some(put(h.root, Entry(token, h.files, h.schema, sc, budget, None)))
    else if (listing(h.conf, h.root) != h.files) None
    else {
      val rows  = unsafeRows(GraftBridge.ofRows(spark, rel))
      val bytes = rows.iterator.map(_.getSizeInBytes.toLong).sum
      if (!h.token.contains(token) || rows.exists(_.isNullAt(li))) None
      else Some(put(h.root, Entry(token, h.files, h.schema, sc, budget,
        if (bytes > budget) None
        else Some(new Copy(rows.groupBy(_.getInt(li)).view.mapValues(_.toArray[InternalRow]).toMap, rows.length, bytes)))))
    }
  }

  /** Install `e` for its root, then evict least recently used copies until
    * the held total fits the budget. */
  private def put(root: String, e: Entry): Entry = entries.synchronized {
    entries.put(root, e)
    var total = 0L
    entries.values.forEach(x => total += x.bytes)
    val it = entries.entrySet.iterator
    while (total > budget && it.hasNext) {
      val x = it.next()
      if (x.getKey != root) { total -= x.getValue.bytes; it.remove() }
    }
    e
  }

  /** The data files of the store at `root` as the file index lists them
    * (hidden `_`/`.` names skipped, `name=value` directories kept). Plain
    * `listStatus` per directory, as Spark's own file listing does: the
    * recursive `listFiles` builds a `LocatedFileStatus` per file, which
    * copies its permissions, and the local file system reads those by
    * forking a process per file — about 250 ms for a 39-list store. */
  private def listing(conf: Configuration, root: String): Set[String] = {
    val r  = new Path(root)
    val fs = r.getFileSystem(conf)
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(d: Path): Iterator[String] =
      fs.listStatus(d).iterator.filterNot(st => hidden(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Iterator(st.getPath.toUri.toString)
      }
    walk(r).toSet
  }

  // ---- the driver-side evaluator ------------------------------------------

  /** An expression the driver can evaluate row by row exactly as a task
    * would: deterministic, no subquery or other unevaluable node. */
  def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: AttributeReference => false
      case _: Unevaluable        => true
      case _                     => false
    }

  /** `plan` is Projects and Filters over `rel` alone, all evaluable. */
  def evaluable(plan: LogicalPlan, rel: LogicalRelation): Boolean = plan match {
    case r: LogicalRelation => r eq rel
    case Project(list, c)   => list.forall(evaluable) && evaluable(c, rel)
    case Filter(cond, c)    => evaluable(cond) && evaluable(c, rel)
    case _                  => false
  }

  /** `plan`'s rows, given its relation's rows `leaf`: each Filter through
    * Catalyst's interpreted `Predicate`, each Project through an
    * interpreted projection (a new row per input). */
  def eval(plan: LogicalPlan, leaf: Iterator[InternalRow]): Iterator[InternalRow] = plan match {
    case Project(list, c) =>
      val p = new InterpretedProjection(list, c.output)
      eval(c, leaf).map(p)
    case Filter(cond, c) =>
      val p = Predicate.createInterpreted(BindReferences.bindReference(cond, c.output))
      eval(c, leaf).filter(p.eval)
    case _ => leaf
  }

  /** The rows `pred` (over `input`) passes — null is not a pass, as in the
    * gate's `count(when(pred, 1))`. */
  def count(rows: Iterator[InternalRow], pred: Expression, input: Seq[Attribute]): Long = {
    val p = Predicate.createInterpreted(BindReferences.bindReference(pred, input))
    rows.count(p.eval).toLong
  }
}

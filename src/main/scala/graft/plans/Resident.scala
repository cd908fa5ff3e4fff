package graft.plans

import graft.operators.{Ivf, Probe, Store}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructType}

import scala.util.control.NonFatal

/** Driver-resident copies of small IVF stores: a store whose decoded rows
  * fit [[Budget]] is held on the driver as ONE copy — its relation's rows
  * as `InternalRow`s, every column, grouped by `list_id` — so a top-k
  * (and the hydration lookup after it) is answered with no Spark job: each
  * job costs about 100 ms of fixed scheduling on a 4-core host, the whole
  * request budget of an in-memory store. Spark takes the same step in
  * `ConvertToLocalRelation`: work over a local relation runs no job.
  *
  * Who answers: `Search.topK` and `Joins.hydrate` over a store whose copy
  * is already held, when their frame is built
  * ([[DeclarativeAnn.heldTopK]], [[DeclarativeAnn.heldHydrate]]); the rule
  * [[DeclarativeAnn]] when it plans anything else it serves (the first
  * request after a copy is dropped, which builds it, and user-written
  * declarative shapes). Both go through the same two functions: [[topK]]
  * (gate, probe, scoring, order) and [[Copy.withKey]] (the hydration
  * lookup).
  *
  * Freshness: a copy is keyed on the store's qualified root and its
  * [[Store.token]] (`_graft_version`, new on every commit), and records the
  * file set and schema it was read from. A handle is served only when the
  * token read at planning equals the key AND its own listing
  * (`location.inputFiles`) and schema equal the recorded ones, so a handle
  * opened before a commit keeps its file scan. A copy is built only from a
  * handle whose listing equals the store's current files, single-flight
  * per (root, token) — concurrent clients plan concurrently — and is
  * dropped if the token moved while it was read. The build runs no Spark
  * job: [[Store.readRows]] decodes the handle's files on the driver, in the
  * order a scan job returns them.
  *
  * Writers: an in-budget [[graft.operators.Ivf.applyDelta]] resolves its
  * delta against the copy ([[writable]], which builds it from the store's
  * files when missing) and, once its commit has returned, installs the next
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
    * requests per filter kind none, category, lang, document). Scoring
    * through interpreted expressions, the resident request lost to the
    * scan path at 326 MB (unfiltered: 478 ms against 407 ms), and the
    * budget was half of a crossover near 260 MB. Scoring from the held
    * float arrays ([[topK]]), at 5, 43, 172 and 332 MB decoded the
    * resident request took 17–62 ms against the scan path's 212–648 ms
    * (at 332 MB: 21–51 ms against 295–648 ms), so no crossover is left
    * below 332 MB. The budget stays under the largest size measured and
    * keeps the cache a small share of a few-GB driver heap.
    */
  val Budget: Long = 256L << 20

  /** The budget in force: [[Budget]], lowered by specs that pin the scan
    * path's plan on small stores. */
  @volatile private[graft] var budget: Long = Budget

  /** One list's rows, with the norms of a vector column memoized the first
    * time a request scores the list. A copy installed after a commit
    * shares this object for every list the commit did not change, so
    * neither an upsert nor a build computes a norm. */
  private[Resident] final class ListRows(val rows: Array[InternalRow]) {
    private val norms = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

    /** Each row's `sqrt(Σ x²)` over the whole vector at `vec` (0 for a null
      * vector), summed in [[graft.functions.CosineSimilarity]]'s order. */
    def normsOf(vec: Int, floats: Boolean): Array[Double] = norms.computeIfAbsent(vec, _ =>
      rows.map(r => if (r.isNullAt(vec)) 0d else {
        val a = r.getArray(vec)
        math.sqrt(dot(a, floats, null, a.numElements()))
      }))
  }

  /** One store version on the driver: rows grouped by list. */
  final class Copy private[Resident] (lists: Map[Int, ListRows], val size: Int, val bytes: Long) {
    private val ids = lists.keys.toArray.sorted

    def rows: Iterator[InternalRow] = ids.iterator.flatMap(l => lists(l).rows.iterator)

    /** The rows of `probed` lists only. */
    def rowsOf(probed: Seq[Int]): Iterator[InternalRow] = listsOf(Some(probed)).flatMap(_.rows.iterator)

    /** The `probed` lists in probe order, or every list in id order. */
    private[Resident] def listsOf(probed: Option[Seq[Int]]): Iterator[ListRows] =
      probed.fold(ids.iterator)(_.iterator).flatMap(lists.get)

    private val keyed = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Map[Any, Array[InternalRow]]]()

    /** The rows whose column `key` (of type `dt`) equals `v`, from an index
      * of that column built the first time it is asked for. */
    def withKey(key: Int, dt: DataType, v: Any): Array[InternalRow] =
      keyed.computeIfAbsent(key, _ => {
        val m = new java.util.HashMap[Any, Array[InternalRow]]()
        rows.filterNot(_.isNullAt(key)).toArray.groupBy(_.get(key, dt)).foreach { case (kv, rs) => m.put(kv, rs) }
        m
      }).getOrDefault(v, Array.empty[InternalRow])

    /** This copy with the `changed` lists' rows replaced (an empty list is
      * dropped); every other list shares its rows and memoized norms. */
    private[Resident] def updated(changed: Map[Int, Array[InternalRow]]): Copy = {
      def bytesOf(rs: Iterator[InternalRow]) = rs.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
      val next = lists -- changed.keys ++ changed.collect { case (l, rs) if rs.nonEmpty => l -> new ListRows(rs) }
      new Copy(next, next.valuesIterator.map(_.rows.length).sum,
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

  /** A store as one relation sees it: root, own listing and schema. */
  private final class Handle(val root: String, val fs: HadoopFsRelation, val schema: StructType, val conf: Configuration) {
    lazy val files: Set[String] = fs.location.inputFiles.toSet
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
      Some(new Handle(fs.location.rootPaths.head.toString, fs, rel.schema, spark.sparkContext.hadoopConfiguration))
    case _ => None
  }

  private def cached(root: String): Option[Entry] = entries.synchronized(Option(entries.get(root)))

  /** The copy `rel` may be answered from, if one is already held. Never
    * builds: the hydration lookup and every other join use it, so a join
    * never pays for a build. */
  def lookup(spark: SparkSession, rel: LogicalRelation): Option[Copy] =
    handleOf(spark, rel).flatMap(h => h.token.flatMap(lookup(h, _)))

  /** [[lookup]] at the version `token` the caller read for this frame. */
  def lookup(spark: SparkSession, rel: LogicalRelation, token: String): Option[Copy] =
    handleOf(spark, rel).flatMap(lookup(_, token))

  private def lookup(h: Handle, token: String): Option[Copy] = cached(h.root).filter(h.serves(_, token)).flatMap(_.copy)

  /** The copy `rel` may be answered from at the version `token` the caller
    * read for this frame, built from `rel`'s files when missing. None keeps
    * today's plan: over the budget, a handle whose listing is not the
    * store's current one, or a commit during the read.
    */
  def load(spark: SparkSession, rel: LogicalRelation, token: String): Option[Copy] =
    handleOf(spark, rel).flatMap(entry(spark, _, token)).flatMap(_.copy)

  private def entry(spark: SparkSession, h: Handle, t: String): Option[Entry] =
    cached(h.root).filter(h.serves(_, t)).orElse {
      val key  = (h.root, t)
      val lock = building.computeIfAbsent(key, _ => new Object)
      // a failed build (a listing error, a file deleted mid-read) keeps
      // today's plan, which meets the same store on its own
      try lock.synchronized(cached(h.root).filter(h.serves(_, t)).orElse(
        try build(spark, h, t) catch { case NonFatal(_) => None }))
      finally building.remove(key, lock)
    }

  /** The copy an upsert of the store at `path` resolves its delta against:
    * the held one when its token and file set are the store's current
    * ones, else one built from the store as `spark.read.parquet(path)`
    * would open it ([[Store.relation]], no job). None keeps the upsert's
    * scan path: no version file, over the budget, or a failed build.
    */
  def writable(spark: SparkSession, path: String): Option[Base] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p    = new Path(path)
    val root = p.getFileSystem(conf).makeQualified(p).toString
    def fresh(e: Entry, t: String) = e.token == t && e.budget == budget && !e.sc.isStopped && e.files == listing(conf, root)
    for {
      t <- Store.token(conf, root)
      e <- cached(root).filter(fresh(_, t)).orElse(scala.util.Try(Store.relation(spark, root)).toOption.flatten
        .flatMap(fs => entry(spark, new Handle(root, fs, fs.schema, conf), t)))
      c <- e.copy
    } yield new Base(root, e.token, e.files, e.schema, c)
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

  /** `df`'s rows evaluated on the driver, with no planning, when its plan is
    * evaluable Projects and Filters over a `LocalRelation`. */
  def localRows(df: DataFrame): Option[Iterator[InternalRow]] = {
    val plan = GraftBridge.analyzed(df)
    leafOf(plan).collect { case l: LocalRelation => evaluator(plan)(l.data.iterator) }
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

  /** `h`'s store at `token` read on the driver ([[Store.readRows]]): rows
    * reach each list in the order a scan job returns them. */
  private def build(spark: SparkSession, h: Handle, token: String): Option[Entry] = {
    // copies of stopped contexts and of deleted stores serve no one
    entries.synchronized(entries.entrySet.removeIf { e =>
      val root = new Path(e.getKey)
      e.getValue.sc.isStopped || scala.util.Try(!root.getFileSystem(h.conf).exists(root)).getOrElse(false)
    })
    val sc = spark.sparkContext
    val li = h.schema.fieldNames.indexOf("list_id")
    if (li < 0) None
    else if (h.fs.location.sizeInBytes > budget) Some(put(h.root, Entry(token, h.files, h.schema, sc, budget, None)))
    else if (listing(h.conf, h.root) != h.files) None
    else {
      val rows  = Store.readRows(spark, h.fs)
      val bytes = rows.iterator.map(_.getSizeInBytes.toLong).sum
      if (!h.token.contains(token) || rows.exists(_.isNullAt(li))) None
      else Some(put(h.root, Entry(token, h.files, h.schema, sc, budget,
        if (bytes > budget) None
        else Some(new Copy(rows.groupBy(_.getInt(li)).view.mapValues(rs => new ListRows(rs.toArray[InternalRow])).toMap,
          rows.length, bytes)))))
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

  // ---- the resident request ------------------------------------------------

  /** One resident top-k — the gate, the probe, the scoring and the order of
    * every top-k answered from a copy: `Search.topK`'s frame when it is
    * built and [[DeclarativeAnn]]'s user-written shapes when they are
    * planned. `gate`, `keep` and `ties` are over the relation's `input`;
    * the result is the k relation rows and their scores, best first.
    *
    *  - the gate counts EXACTLY over the copy (the estimate scan's
    *    `count(when(pred, 1)) / count(1)`, null is not a pass) and decides
    *    through [[Probe.injected]], so width, branch and the one
    *    `gateDecisions` bump are the scan path's;
    *  - the same lists are scored (every list on the exact branch), each
    *    row that passes `keep` read straight from the held row's array.
    *    The query norm is taken once and each row's norm is memoized per
    *    list ([[ListRows]]); both are summed in
    *    [[graft.functions.CosineSimilarity]]'s order and float widens to
    *    double exactly, so the scores are bit-identical to the scan's;
    *  - a null or NaN score never surfaces (`Search.topK`'s guard), and
    *    rows order by descending score, then by `ties` (`Search.topK`'s
    *    ascending id), then in list order.
    */
  def topK(copy: Copy, model: Ivf.Model, width: Probe.Width, gate: Seq[Expression], keep: Seq[Expression],
      input: Seq[Attribute], vec: Int, q: Array[Double], k: Int, ties: Seq[SortOrder]): Seq[(InternalRow, Double)] = {
    def predicate(ps: Seq[Expression]): InternalRow => Boolean =
      if (ps.isEmpty) _ => true
      else Predicate.createInterpreted(BindReferences.bindReference(ps.reduce(And), input)).eval
    val allowed = if (gate.isEmpty) copy.size.toLong else copy.rows.count(predicate(gate)).toLong
    val sel     = if (allowed == 0L) 0d else math.min(allowed.toDouble / copy.size.toDouble, 1d)
    val lists   = Probe.injected(model, width, Probe.Filter(gate.map(GraftBridge.column), counted = Some(sel)), q.toSeq)
    val passes  = predicate(keep)
    val floats  = input(vec).dataType == ArrayType(FloatType, containsNull = true) ||
      input(vec).dataType == ArrayType(FloatType, containsNull = false)
    val qNorm   = math.sqrt(q.foldLeft(0d)((s, x) => s + x * x))
    val tie     = new InterpretedOrdering(ties, input)
    val better: Ordering[Hit] = (a, b) =>
      if (a.score != b.score) (if (a.score > b.score) -1 else 1)
      else { val t = tie.compare(a.row, b.row); if (t != 0) t else Integer.compare(a.seq, b.seq) }
    // the worst kept hit at the head
    val kept = new java.util.PriorityQueue[Hit](math.max(1, math.min(k, 1024)), better.reverse)
    var seq  = 0
    copy.listsOf(lists).foreach { lr =>
      val norms = lr.normsOf(vec, floats)
      var i = 0
      while (i < lr.rows.length) {
        val r = lr.rows(i)
        if (!r.isNullAt(vec) && passes(r)) {
          val a = r.getArray(vec)
          val s =
            if (a.numElements() == q.length) dot(a, floats, q, q.length) / (norms(i) * qNorm)
            else {
              val n = math.min(a.numElements(), q.length)
              dot(a, floats, q, n) / (math.sqrt(dot(a, floats, null, n)) * math.sqrt(q.iterator.take(n).foldLeft(0d)((s, x) => s + x * x)))
            }
          if (!s.isNaN && k > 0) {
            val h = Hit(r, s, seq)
            if (kept.size < k) kept.add(h)
            else if (better.lt(h, kept.peek())) { kept.poll(); kept.add(h) }
          }
          seq += 1
        }
        i += 1
      }
    }
    kept.toArray(new Array[Hit](0)).sorted(better).toSeq.map(h => (h.row, h.score))
  }

  private final case class Hit(row: InternalRow, score: Double, seq: Int)

  /** `Σ a(i)·q(i)` over the first `n` elements, or `Σ a(i)²` when `q` is
    * null, summed in order; float elements widen to double. */
  private def dot(a: ArrayData, floats: Boolean, q: Array[Double], n: Int): Double = {
    var s = 0d
    var i = 0
    if (floats) while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * (if (q == null) x else q(i))
      i += 1
    }
    else while (i < n) {
      val x = a.getDouble(i)
      s += x * (if (q == null) x else q(i))
      i += 1
    }
    s
  }

  /** A resident answer of at most `bound` rows, computed the first time
    * it is planned: [[DeclarativeAnn]] turns it into a `LocalRelation`.
    * So a resident frame, like any other, does no work and decides no
    * gate until it is used, and then once, however often it is planned. */
  final case class Held(output: Seq[Attribute], bound: Int, answer: Held.Answer)
      extends LeafNode with MultiInstanceRelation {
    def newInstance(): Held = copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * bound)
    def relation: LocalRelation = LocalRelation(output, answer.rows)
  }

  object Held {
    final class Answer(compute: => Seq[InternalRow]) {
      lazy val rows: Seq[InternalRow] = compute
    }
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

  /** The leaf under `plan` when `plan` is evaluable Projects and Filters
    * over it. */
  def leafOf(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case Project(list, c) => if (list.forall(evaluable)) leafOf(c) else None
    case Filter(cond, c)  => if (evaluable(cond)) leafOf(c) else None
    case l: LeafNode      => Some(l)
    case _                => None
  }

  /** `plan` is Projects and Filters over `rel` alone, all evaluable. */
  def evaluable(plan: LogicalPlan, rel: LogicalRelation): Boolean = leafOf(plan).exists(_ eq rel)

  /** `plan`'s rows, given its leaf's rows: each Filter through Catalyst's
    * interpreted `Predicate`, each Project through an interpreted
    * projection (a new row per input), all bound once. */
  def evaluator(plan: LogicalPlan): Iterator[InternalRow] => Iterator[InternalRow] = plan match {
    case Project(list, c) =>
      val (below, p) = (evaluator(c), new InterpretedProjection(list, c.output))
      below(_).map(p)
    case Filter(cond, c) =>
      val (below, p) = (evaluator(c), Predicate.createInterpreted(BindReferences.bindReference(cond, c.output)))
      below(_).filter(p.eval)
    case _ => identity
  }

  /** `plan`'s rows (Projects and Filters over one relation) for relation
    * rows whose Filters [[topK]] already applied: each Project evaluated
    * with the row's score standing in for every `isScore` expression. */
  def project(plan: LogicalPlan, top: Seq[(InternalRow, Double)], isScore: Expression => Boolean): Seq[InternalRow] = {
    val slot = AttributeReference("score", DoubleType)()
    def level(p: LogicalPlan): (InternalRow, Double) => InternalRow = p match {
      case Project(list, c) =>
        val below = level(c)
        val proj  = new InterpretedProjection(list.map(_.transformDown { case e if isScore(e) => slot }), c.output :+ slot)
        (r, s) => proj(new JoinedRow(below(r, s), InternalRow(s)))
      case Filter(_, c) => level(c)
      case _            => (r, _) => r
    }
    val row = level(plan)
    top.map { case (r, s) => row(r, s) }
  }
}

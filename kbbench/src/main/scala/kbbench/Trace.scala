package kbbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one request share `req`; `parent` is the
  * enclosing span's id (0 for a request's root).
  */
final case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Off until [[enable]]: then every [[span]] is a plain call.
  */
final class Tracer {
  @volatile private var on = false
  private val spans   = new ConcurrentLinkedQueue[Span]
  private val ids     = new AtomicLong
  private val current = new ThreadLocal[Span]

  def enable(): Unit = on = true
  def enabled: Boolean = on

  /** A request's root span; `req` tags the Spark jobs it launches, so the
    * listener can attribute them.
    */
  def request[A](name: String, req: Long, sc: org.apache.spark.SparkContext)(f: => A): A =
    if (!on) f
    else {
      sc.setLocalProperty(EngineCounters.ReqKey, req.toString)
      try open(name, 0L, req)(f) finally sc.setLocalProperty(EngineCounters.ReqKey, null)
    }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val p = current.get
      if (p == null) open(name, 0L, 0L)(f) else open(name, p.id, p.req)(f)
    }

  private def open[A](name: String, parent: Long, req: Long)(f: => A): A = {
    val saved = current.get
    val s0    = Span(ids.incrementAndGet(), parent, req, name, System.nanoTime, 0L)
    current.set(s0)
    try f
    finally {
      spans.add(s0.copy(endNs = System.nanoTime))
      current.set(saved)
    }
  }

  def all: Seq[Span] = spans.asScala.toVector

  /** Total milliseconds of every span named `name`. */
  def totalMs(name: String): Double = all.filter(_.name == name).map(_.ms).sum
  def count(name: String): Int      = all.count(_.name == name)

  /** Per span name: (count, total ms, self ms), where self time is a span's
    * duration minus the part of it its child spans cover.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = Tracer.selfTimes(all)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def selfTimes(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(_.ms).sum, ss.map(s => (s.endNs - s.startNs - covered(s)) / 1e6).sum)
    }.sortBy(-_._4)
  }
}

/** Spark scheduler counters, attributed to benchmark requests through the
  * request id the [[Tracer]] puts in each job's local properties.
  */
final class EngineCounters extends SparkListener {
  final class Req {
    val jobs, tasks, busyMs, shuffleBytes, inputBytes, outputBytes = new AtomicLong
    @volatile var firstJobMs: Long = Long.MaxValue
  }
  private val reqs       = new ConcurrentHashMap[Long, Req]
  private val stageToReq = new ConcurrentHashMap[Int, java.lang.Long]

  private def req(id: Long): Req = reqs.computeIfAbsent(id, _ => new Req)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(EngineCounters.ReqKey)))
    tag.foreach { t =>
      val r = req(t.toLong)
      r.jobs.incrementAndGet()
      r.synchronized { if (e.time < r.firstJobMs) r.firstJobMs = e.time }
      e.stageIds.foreach(s => stageToReq.put(s, java.lang.Long.valueOf(t.toLong)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageToReq.get(e.stageId)
    if (id != null) {
      val r = req(id.longValue)
      r.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        r.busyMs.addAndGet(m.executorRunTime)
        r.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        r.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  def of(id: Long): Option[Req] = Option(reqs.get(id))
}

object EngineCounters {
  val ReqKey = "kbbench.request"
}

/** Samples used heap while a window runs; [[peakMb]] is the largest sample. */
final class HeapSampler extends AutoCloseable {
  @volatile private var running = true
  @volatile private var peak    = 0L
  private val t = new Thread(() => {
    val rt = Runtime.getRuntime
    while (running) {
      val used = rt.totalMemory - rt.freeMemory
      if (used > peak) peak = used
      Thread.sleep(20)
    }
  }, "kbbench-heap")
  t.setDaemon(true)
  t.start()
  def peakMb: Double = peak / 1048576.0
  override def close(): Unit = { running = false; t.join() }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional filter: run only the named queries (dev iteration; the
    // driver always runs the full sweep)
    val only = args.drop(2).toSet
    // one shared builder (Engine.session) — a hand-rolled copy here had
    // drifted from it (it was missing AQE)
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
      catch {
        case e: Throwable =>
          // full stack: a bare class name ("NotConvergedException") is not
          // attributable to a call site when the failure is session-state
          // dependent and won't reproduce standalone
          val sw = new java.io.StringWriter(); e.printStackTrace(new java.io.PrintWriter(sw))
          Some(sw.toString.linesIterator.take(25).mkString(" | "))
      }
    // breeze/netlib LAPACK handles initialize lazily on first use; racing
    // that first use across the query pool intermittently left a broken
    // session-cached instance that failed EVERY subsequent SVD in the JVM
    // (m6's NotConvergedException on bit-identical input, ~1 in 3 sweeps,
    // never standalone — and its nudged-input fallback failed too, proving
    // the state was input-independent). One single-threaded warmup
    // initializes the instances before any concurrency exists.
    locally {
      val m = breeze.linalg.DenseMatrix((2.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 0.5))
      breeze.linalg.svd(m)
      breeze.linalg.eigSym(m)
    }
    // Queries are independent; run them through a small thread pool so the
    // Spark scheduler overlaps their jobs. A few MLlib fits aren't reliably
    // thread-safe under concurrent construction, so anything that fails in
    // the pool is retried once serially before being reported.
    val pool   = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.contains(n) }
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = if (runOne(name, fn).isDefined) failed.add(name)
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    val stillFailed = Seq.newBuilder[String]
    failed.forEach { name =>
      runOne(name, SparkEntry.queries(name)).foreach { err =>
        System.err.println(s"[verify] $name failed: $err")
        stillFailed += name
      }
    }
    // summary on STDOUT too (stderr drowns in Spark logs); exit code stays 0
    // so the driver still collects the passing queries' outputs + oracle json
    val bad = stillFailed.result()
    if (bad.nonEmpty) println(s"[verify] ${bad.size} queries failed twice: ${bad.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

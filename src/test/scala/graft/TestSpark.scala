package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate dedupes). */
object TestSpark {

  /** The `explain("formatted")` text of a DataFrame (it prints rather than
    * returns, so capture stdout) — shared by the plan-shape specs.
    */
  def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .config(Engine.LocalFsConf._1, Engine.LocalFsConf._2)
    // Engine.session's: a store of up to 2 048 lists opens with no listing job
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
    .getOrCreate()
}

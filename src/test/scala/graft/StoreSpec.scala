package graft

import graft.operators.{Embedder, Hnsw, Ivf}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The store-commit module (`operators/Store`) is the one place a store
  * changes on disk. These pin that structurally, and pin that a crash
  * inside a whole-store replace — `compact`, `refit`, `reshard` — leaves a
  * state the next call repairs into one whole store with its sidecar.
  */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus =
    (0L until 120L).map(i => (i, Embedder.default.embed(s"doc $i topic ${i % 5}")))
      .toDF("id", "vec")

  test("operators/Store.scala is the only file in src/main/scala that calls rename") {
    val offenders = Files.walk(Paths.get("src/main/scala")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("graft/operators/Store.scala")))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(".rename("))
    assert(offenders.isEmpty, s"store commits outside operators/Store: ${offenders.mkString(", ")}")
  }

  /** The two states a crash between a replace's renames leaves, built by
    * hand from a live `root` and a complete stage at `root.next`: (1) root
    * moved to `.old`, stage not yet renamed; (2) stage renamed, `.old`
    * still present.
    */
  private def crash(root: String, state: Int): Unit = {
    Files.move(Paths.get(root), Paths.get(root + ".old"))
    if (state == 2) Files.move(Paths.get(root + ".next"), Paths.get(root))
  }

  private def leftovers(root: String): Seq[String] =
    Seq(".old", ".next", ".delta").filter(s => Files.exists(Paths.get(root + s)))

  private def ivfStore(): String = {
    val dir = Files.createTempDirectory("store_crash").toString + "/store"
    val (assigned, model) = Ivf.assign(corpus, "vec", 4)
    Ivf.writeIndexed(assigned, dir, model, "vec")
    dir
  }

  test("compact crash states: the next applyDelta sees one whole store with its sidecar") {
    for (state <- Seq(1, 2)) {
      val dir   = ivfStore()
      val model = Ivf.readCentroids(dir, spark.sparkContext.hadoopConfiguration).get.model
      // compact's stage: the same rows, clustered, with the sidecar
      Ivf.writeIndexed(spark.read.parquet(dir), dir + ".next", model, "vec")
      crash(dir, state)
      val added = corpus.where(col("id") < 3).select((col("id") + 1000L).as("id"), col("vec"))
      Ivf.applyDelta(spark, dir, Seq(5L, 6L).toDF("id"), added, "id")
      val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
      assert(ids == (0L until 120L).toSet -- Seq(5L, 6L) ++ Seq(1000L, 1001L, 1002L), s"state $state")
      assert(Ivf.readCentroids(dir, spark.sparkContext.hadoopConfiguration).exists(_.column.contains("vec")))
      assert(leftovers(dir).isEmpty, s"state $state left ${leftovers(dir)}")
    }
  }

  test("refit crash states: the next maintain sees one whole store — the old fit or the new one") {
    for (state <- Seq(1, 2)) {
      val dir = ivfStore()
      // refit's stage: every row reassigned under a fresh 6-list fit
      val (assigned, model) = Ivf.assign(spark.read.parquet(dir).drop("list_id"), "vec", 6)
      Ivf.writeIndexed(assigned, dir + ".next", model, "vec")
      crash(dir, state)
      val r = Ivf.maintain(spark, dir, skewMax = 1e9).collect().head
      // state 1 rolls back to the 4-list store, state 2 keeps the refit
      assert(r.getString(0) == "noop" && r.getInt(1) == (if (state == 1) 4 else 6) && r.getLong(2) == 120L,
        s"state $state: $r")
      assert(leftovers(dir).isEmpty, s"state $state left ${leftovers(dir)}")
    }
  }

  test("reshard crash states: the next applyDelta sees one whole store with its sidecar") {
    val items = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
    for (state <- Seq(1, 2)) {
      val dir = Files.createTempDirectory("store_crash_hnsw").toString + "/store"
      Hnsw.writeIndex(items, "vec", "id", dir, nShards = 2)
      // reshard's stage: the same rows rebuilt under 5 shards, with the sidecar
      Hnsw.writeIndex(spark.read.parquet(dir).select("id", "vec"), "vec", "id", dir + ".next", nShards = 5)
      crash(dir, state)
      Hnsw.applyDelta(spark, dir, Seq(7L).toDF("id"), items.where(col("id") === 8L), "vec", "id")
      assert(Hnsw.readMeta(spark, dir).nShards == (if (state == 1) 2 else 5), s"state $state")
      val ids = Hnsw.readIndex(spark, dir).select("id").as[Long].collect()
      assert(ids.sorted.toSeq == (0L until 120L).filter(_ != 7L), s"state $state")
      assert(leftovers(dir).isEmpty, s"state $state left ${leftovers(dir)}")
    }
  }
}

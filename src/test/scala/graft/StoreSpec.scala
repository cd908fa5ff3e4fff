package graft

import graft.operators.{Embedder, Hnsw, Ivf, NioLocalFileSystem, Store}
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

  /** Files in src/main/scala, other than operators/Store.scala, whose text
    * contains any of `marks`. */
  private def outsideStore(marks: String*): Seq[java.nio.file.Path] =
    Files.walk(Paths.get("src/main/scala")).toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("graft/operators/Store.scala")))
      .filter { p => val text = new String(Files.readAllBytes(p), "UTF-8"); marks.exists(text.contains) }

  test("operators/Store.scala is the only file in src/main/scala that calls rename") {
    val offenders = outsideStore(".rename(")
    assert(offenders.isEmpty, s"store commits outside operators/Store: ${offenders.mkString(", ")}")
  }

  test("operators/Store.scala is the only file in src/main/scala that names the .delta staging directory or writes _SUCCESS") {
    val offenders = outsideStore("\".delta\"", "_SUCCESS")
    assert(offenders.isEmpty, s"partition-swap staging outside operators/Store: ${offenders.mkString(", ")}")
  }

  test("operators/Store.scala is the only file in src/main/scala that names ParquetFileFormat") {
    val offenders = outsideStore("ParquetFileFormat")
    assert(offenders.isEmpty, s"driver-side parquet I/O outside operators/Store: ${offenders.mkString(", ")}")
  }

  test("file:// is the fork-free local file system, and it sets the stock permission bits") {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    val uri  = java.net.URI.create("file:///")
    assert(Engine.LocalFsConf == ("spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName))
    assert(FileSystem.get(uri, conf).isInstanceOf[NioLocalFileSystem], FileSystem.get(uri, conf).getClass.getName)
    def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    // the default umask and a stricter one: each file system takes it from its conf
    for (umask <- Seq(None, Some("027"))) {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      val modes = Seq(new NioLocalFileSystem, new LocalFileSystem).map { fs =>
        fs.initialize(uri, c)
        val base = Files.createTempDirectory("store_perm")
        fs.mkdirs(new Path(base.toUri.toString + "/a/b/c"))
        val out = fs.create(new Path(base.toUri.toString + "/a/b/c/part-0"))
        out.write(new Array[Byte](180 << 10))
        out.close()
        Seq("a", "a/b", "a/b/c", "a/b/c/part-0", "a/b/c/.part-0.crc").map(r => r -> mode(base.resolve(r)))
      }
      assert(modes(0) == modes(1), s"umask $umask: graft ${modes(0)} vs stock ${modes(1)}")
    }
    // a sticky bit is past java.nio: the stock call sets it
    val fs  = FileSystem.get(uri, conf)
    val dir = Files.createTempDirectory("store_sticky")
    fs.setPermission(new Path(dir.toUri.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8), Integer.toOctalString(mode(dir)))
    fs.setPermission(new Path(dir.toUri.toString), new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("750", 8), Integer.toOctalString(mode(dir)))
  }

  test("the driver stage writes what the frame stage writes: schema, row metadata, codec, rows, one file per list") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf  = spark.sparkContext.hadoopConfiguration
    val store = spark.read.parquet(ivfStore()).withColumn("text", concat(lit("chunk "), col("id").cast("string")))
    val lists = graft.plans.Resident.unsafeRows(store).groupBy(_.getInt(store.schema.fieldIndex("list_id")))
    val base  = Files.createTempDirectory("store_parity")
    val (viaFrame, viaRows) = (base.resolve("frame").toString, base.resolve("rows").toString)
    Store.stageFrame(Ivf.clusterByDir(store, lists.size), "list_id")(viaFrame)
    Store.stageRows(spark, store.schema, "list_id", lists.view.mapValues(_.toSeq))(viaRows)
    assert(spark.read.parquet(viaFrame).schema == spark.read.parquet(viaRows).schema)
    def footers(dir: String): Map[String, (Set[String], Set[String])] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("list_id=")).map { d =>
        val data = d.listFiles().filter(_.getName.startsWith("part-"))
        assert(data.length == 1, s"${d.getName} holds ${data.length} data files")
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(data.head.toURI), conf))
        try {
          val f = r.getFooter
          d.getName -> (f.getFileMetaData.getKeyValueMetaData.asScala.get("org.apache.spark.sql.parquet.row.metadata").toSet,
            f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
        } finally r.close()
      }.toMap
    val (a, b) = (footers(viaFrame), footers(viaRows))
    assert(a.size == lists.size && a == b, s"frame $a\nrows $b")
    assert(a.values.forall { case (meta, codecs) => meta.size == 1 && codecs.nonEmpty })
    Seq(viaFrame, viaRows).foreach(d => assert(Files.exists(Paths.get(d, "_SUCCESS")), d))
    def rows(d: String) = spark.read.parquet(d).orderBy("id").collect().toSeq
    assert(rows(viaFrame) == rows(viaRows) && rows(viaRows).size == 120)
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

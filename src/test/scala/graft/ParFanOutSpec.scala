package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fanOut guard must decide from plan metadata alone: the old
  * `df.rdd.getNumPartitions` probe paid a physical-planning pass per call,
  * and under AQE `Dataset.rdd` executes the upstream shuffles eagerly — a
  * fanOut over a join-derived frame ran the join twice per action. These pin
  * (a) decision parity with the actual execution partition count on the
  * shapes the call sites feed it, (b) that the estimate runs ZERO jobs, and
  * (c) fanOut idempotence (a fanned frame must not re-shuffle).
  */
class ParFanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir        = "/root/testdata/sf0.001"
  private def target     = spark.sparkContext.defaultParallelism

  test("narrow scan: estimate agrees with the actual split count on the fan-out decision") {
    val df     = Tables(spark, dir).embeddings.select("vec_id", "label")
    val est    = Par.estimatedPartitions(df)
    val actual = df.rdd.getNumPartitions
    assert((est < target) === (actual < target), s"est=$est actual=$actual target=$target")
  }

  test("local relation fans out; an already-fanned frame is the identity") {
    import spark.implicits._
    val small = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    assert(Par.estimatedPartitions(small) < target)
    val fanned = Par.fanOut(small)
    assert(fanned.rdd.getNumPartitions == target)
    assert(Par.fanOut(fanned) eq fanned, "second fanOut must not add another exchange")
  }

  test("broadcast-hinted join: estimated by its stream side, so the chunk → join → embed shape adds no exchange") {
    // the ingest shape: chunks joined to their document metadata by a
    // broadcast hint run in the chunks' partitions; pricing the join as a
    // shuffle estimated 1 partition and made the embedder's fanOut add a
    // round-robin exchange after it
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"document $i has a few words", "en", s"doc-$i", i % 3))
      .toDF("doc_id", "text", "lang", "document_id", "category")
    val chunks = operators.Chunker.chunk(spark, docs).toDF()
      .join(broadcast(docs.select("doc_id", "document_id", "category")), "doc_id")
    val est    = Par.estimatedPartitions(chunks)
    val actual = chunks.rdd.getNumPartitions
    assert((est < target) === (actual < target), s"est=$est actual=$actual target=$target")
    if (actual >= target) assert(Par.fanOut(chunks) eq chunks, "an already-parallel join must not re-shuffle")
  }

  test("join-derived frame: estimate runs zero jobs (the old probe executed the join)") {
    val t = Tables(spark, dir)
    val joined = t.embeddings.join(t.documents, col("vec_id") === col("doc_id"))
      .select("label", "doc_id", "text")
    @volatile var jobs = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val est = Par.estimatedPartitions(joined)
      Thread.sleep(300) // listener bus is async; let any submitted job surface
      assert(jobs == 0, s"estimate must not run jobs, saw $jobs")
      assert(est >= 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

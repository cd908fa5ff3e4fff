package kbbench

import graft.operators.HashingEmbedder
import org.scalatest.funsuite.AnyFunSuite

class KbBenchSpec extends AnyFunSuite {

  test("tail percentile: the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(20) == Some(50.0))
    assert(Stats.tailPercentile(39) == Some(50.0))
    assert(Stats.tailPercentile(40) == Some(75.0))
    assert(Stats.tailPercentile(100) == Some(90.0))
    assert(Stats.tailPercentile(199) == Some(90.0))
    assert(Stats.tailPercentile(200) == Some(95.0))
    assert(Stats.tailPercentile(1000) == Some(99.0))
    assert(Stats.tailPercentile(10000) == Some(99.9))
  }

  test("nearest-rank percentiles and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("mix mean weighs each kind by its share, not by its sample count") {
    val shares = Map('a' -> 0.75, 'b' -> 0.25)
    assert(Stats.mixMean(Seq('a' -> 100.0, 'b' -> 300.0, 'b' -> 500.0), shares) == 0.75 * 100 + 0.25 * 400)
    assert(Stats.mixMean(Seq('b' -> 300.0), shares) == 300.0)
    assert(Stats.mixMean(Seq.empty[(Char, Double)], shares).isNaN)
    assert(Gen.MixShares == Map('N' -> 0.4, 'C' -> 0.3, 'L' -> 0.2, 'D' -> 0.1))
  }

  test("failed_share counts failed and wrong operations against attempts") {
    val o = new Outcomes
    o.record("ok", Nil)
    o.record("wrong", Seq("bad row"))
    o.error("threw", new RuntimeException("boom"))
    o.record("ok again", Nil)
    assert(o.attemptedCount == 4 && o.failedCount == 2)
    assert(o.failedShare == 0.5)
    assert(o.firstProblems.exists(_.contains("boom")))
  }

  private def oracleWith(g: Gen): Oracle = {
    val o = new Oracle(new HashingEmbedder(768))
    o.apply(Nil, o.prepare(g.corpus.take(200))._1)
    o
  }

  private def answer(o: Oracle, q: Array[Double], f: Filter): Seq[Hit] =
    o.topK(q, f, 10).map { case (id, s) =>
      val c = o.get(id).get
      Hit(id, s, c.documentId, c.category, c.lang, c.text)
    }

  test("an injected filter-violating row is counted as a failure") {
    val g = new Gen(7, nDocs = 200)
    val o = oracleWith(g)
    val q = new HashingEmbedder(768).embed(g.searchStream.head.text).map(_.toDouble)
    val f = Filter.Lang("en")
    val good = answer(o, q, f)
    assert(good.nonEmpty && o.check(q, f, 10, good).isEmpty)
    val intruder = o.ids.map(o.get(_).get).find(_.lang != "en").get
    val bad = good.init :+ Hit(intruder.chunkId, o.cosine(intruder, q, math.sqrt(q.map(x => x * x).sum)),
      intruder.documentId, intruder.category, intruder.lang, intruder.text)
    val outcomes = new Outcomes
    outcomes.record("good", o.check(q, f, 10, good))
    outcomes.record("bad", o.check(q, f, 10, bad))
    assert(outcomes.failedCount == 1 && outcomes.failedShare == 0.5)
    assert(outcomes.firstProblems.exists(_.contains("violates")))
  }

  test("deleted and replaced chunks returned are failures") {
    val g = new Gen(7, nDocs = 200)
    val o = oracleWith(g)
    val victim = o.get(o.ids.head).get
    val q = victim.vec
    val before = answer(o, q, Filter.NoFilter)
    assert(before.head.chunkId == victim.chunkId)
    o.apply(Seq(victim.documentId), Nil)
    assert(o.check(q, Filter.NoFilter, 10, before).exists(_.contains("deleted or replaced")))
    assert(o.check(q, Filter.NoFilter, 10, answer(o, q, Filter.NoFilter)).isEmpty)
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val a = new Gen(42, nDocs = 300)
    val b = new Gen(42, nDocs = 300)
    assert(a.fingerprint == b.fingerprint)
    assert(a.corpus == b.corpus && a.batches.take(5) == b.batches.take(5))
    assert(new Gen(43, nDocs = 300).fingerprint != a.fingerprint)
  }

  test("every ingest batch re-uploads 10 % and deletes 2 or 3 live documents") {
    val g = new Gen(11, nDocs = 300)
    g.batches.foreach { b =>
      assert(b.uploads.count(_.version > 0) == Gen.BatchDocs / 10)
      assert(b.deletes.length == 2 || b.deletes.length == 3)
      assert(b.uploads.length + b.deletes.length == Gen.BatchDocs)
    }
  }

  test("the query stream carries its planned mix") {
    val qs = new Gen(5, nDocs = 300).searchStream
    val fresh = qs.filter(_.repeatOf < 0)
    def share(p: Filter => Boolean) = fresh.count(q => p(q.filter)).toDouble / fresh.length
    assert(math.abs(qs.count(_.repeatOf >= 0).toDouble / qs.length - 0.2) < 0.02)
    assert(math.abs(share(_ == Filter.NoFilter) - 0.4) < 0.03)
    assert(math.abs(share(_.isInstanceOf[Filter.Category]) - 0.3) < 0.03)
    assert(math.abs(share(_.isInstanceOf[Filter.Lang]) - 0.2) < 0.03)
    assert(math.abs(share(_.isInstanceOf[Filter.Document]) - 0.1) < 0.03)
    qs.filter(_.repeatOf >= 0).take(50).foreach { q =>
      val src = qs(q.repeatOf)
      assert(src.repeatOf < 0 && src.text == q.text && src.filter == q.filter)
    }
  }
}

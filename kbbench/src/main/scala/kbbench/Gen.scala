package kbbench

import java.util.SplittableRandom

/** One uploaded document version. `uploadKey` is what the chunker sees as
  * `doc_id`; it folds the version in, so a re-upload's chunks get fresh
  * chunk ids and the replaced ones can be recognised if they ever come back.
  */
final case class Doc(documentId: Long, version: Int, category: String, lang: String, topic: Int, text: String) {
  def uploadKey: Long = documentId * Gen.VersionSpan + version
}

sealed trait Filter
object Filter {
  case object NoFilter extends Filter
  final case class Category(value: String) extends Filter
  final case class Lang(value: String) extends Filter
  final case class Document(id: Long) extends Filter
}

/** A search request. `repeatOf` is the index of the earlier query it
  * re-issues, or -1 for a fresh one.
  */
final case class Query(index: Int, text: String, filter: Filter, repeatOf: Int)

/** One ingest upload: new documents and re-uploads (version > 0) in
  * `uploads`, plus document ids to delete. `queries` are the search-mix
  * requests issued after the batch lands.
  */
final case class Batch(index: Int, uploads: Vector[Doc], deletes: Vector[Long], queries: Vector[Query])

/** Seeded generator for every input the benchmark feeds the engine.
  *
  * Documents are topic mixtures: each has a planted main topic (the label
  * `cluster_purity` is scored against), a secondary topic and a shared
  * Zipf-distributed common vocabulary. Lengths and languages follow the
  * engine's test data (`documents.parquet`: lengths uniform over 10-99
  * whitespace tokens, en/zh/es/de/fr at about 44/15/14/14/13 %), so every
  * document is one chunk under the chunker's 500-token limit. Everything derives from
  * `seed` through SplittableRandom, whose sequence is fixed by its
  * specification, so one seed gives byte-identical inputs on any JVM.
  */
final class Gen(val seed: Long, val nDocs: Int = Gen.DefaultDocs) {
  import Gen._

  private def rng(stream: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  val categories: Vector[String] = Vector.tabulate(NCategories)(i => f"cat$i%02d")

  private val (commonWords, topicWords): (Vector[String], Vector[Vector[String]]) = {
    val r    = rng(1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def word(): String = {
      var w = ""
      while (w.isEmpty || seen.contains(w)) {
        val n  = 2 + r.nextInt(3)
        val sb = new StringBuilder
        for (_ <- 0 until n) sb.append(Consonants.charAt(r.nextInt(Consonants.length))).append(Vowels.charAt(r.nextInt(Vowels.length)))
        w = sb.toString
      }
      seen += w
      w
    }
    val common = Vector.fill(CommonWords)(word())
    val topics = Vector.fill(NTopics)(Vector.fill(TopicWords)(word()))
    (common, topics)
  }

  private def zipfCdf(n: Int): Array[Double] = {
    val w   = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, 0.9))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  private val commonCdf = zipfCdf(CommonWords)
  private val topicCdf  = zipfCdf(TopicWords)

  private def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def token(topic: Int, second: Int, r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.50) topicWords(topic)(draw(topicCdf, r))
    else if (u < 0.65) topicWords(second)(draw(topicCdf, r))
    else commonWords(draw(commonCdf, r))
  }

  /** Sentences of 6-18 tokens, capitalised and full-stopped, so the
    * chunker's sentence splitter sees prose.
    */
  private def text(nTokens: Int, topic: Int, second: Int, r: SplittableRandom): String = {
    val sb   = new StringBuilder
    var left = nTokens
    while (left > 0) {
      val n = math.min(left, 6 + r.nextInt(13))
      for (i <- 0 until n) {
        val w = token(topic, second, r)
        if (i == 0) { if (sb.nonEmpty) sb.append(' '); sb.append(w.capitalize) }
        else sb.append(' ').append(w)
      }
      sb.append('.')
      left -= n
    }
    sb.toString
  }

  private def lang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.44) "en" else if (u < 0.59) "zh" else if (u < 0.73) "es" else if (u < 0.87) "de" else "fr"
  }

  private def doc(id: Long, version: Int, r: SplittableRandom): Doc = {
    val topic  = r.nextInt(NTopics)
    val second = (topic + 1 + r.nextInt(NTopics - 1)) % NTopics
    val len    = 10 + r.nextInt(90)
    // a category is a user-chosen folder: mostly the topic, sometimes not
    val cat = if (r.nextDouble() < 0.7) categories(topic % NCategories) else categories(r.nextInt(NCategories))
    Doc(id, version, cat, lang(r), topic, text(len, topic, second, r))
  }

  /** The standing knowledge base, document ids 1..nDocs. */
  lazy val corpus: Vector[Doc] = {
    val r = rng(2)
    Vector.tabulate(nDocs)(i => doc(i + 1L, 0, r))
  }

  /** Query stream over a document set: 40 % unfiltered, 30 % one category
    * (~5 %), 20 % lang = en (~44 %), 10 % one document, laid out in a fixed
    * cycle so every run issues the same mix; every fifth request re-issues
    * an earlier one verbatim (interactive sessions refine and repeat), so
    * 20 % are repeats. `liveDocs` picks the document-filter targets.
    */
  private def queries(r: SplittableRandom, n: Int, firstIndex: Int, liveDocs: IndexedSeq[Doc], earlier: IndexedSeq[Query]): Vector[Query] = {
    val out = Vector.newBuilder[Query]
    var all = earlier
    for (i <- 0 until n) {
      val idx = firstIndex + i
      val q =
        if (all.nonEmpty && math.floorMod(idx, 5) == 4) {
          val src = all(r.nextInt(all.length))
          Query(idx, src.text, src.filter, if (src.repeatOf >= 0) src.repeatOf else src.index)
        } else {
          val target = liveDocs(r.nextInt(liveDocs.length))
          val fresh  = idx - math.floorDiv(idx, 5) // position among the non-repeat requests
          val filter = FilterCycle(math.floorMod(fresh, FilterCycle.length)) match {
            case 'N' => Filter.NoFilter
            case 'C' => Filter.Category(categories(r.nextInt(NCategories)))
            case 'L' => Filter.Lang("en")
            case _   => Filter.Document(target.documentId)
          }
          val topic = target.topic
          val qt    = text(3 + r.nextInt(8), topic, (topic + 1) % NTopics, r).stripSuffix(".").toLowerCase
          Query(idx, qt, filter, -1)
        }
      out += q
      all = all :+ q
    }
    out.result()
  }

  /** The `search` workload's request stream (more than a run can issue). */
  lazy val searchStream: Vector[Query] = queries(rng(3), SearchStreamLength, 0, corpus, Vector.empty)

  /** Warm-up requests, drawn from their own stream so they never overlap
    * the measured ones.
    */
  lazy val warmup: Vector[Query] = queries(rng(4), WarmupQueries, -1000, corpus, Vector.empty)

  /** One `ingest` round: batches in upload order, each applied on top of
    * the standing store and the batches before it. The generator replays the
    * live set itself, so re-uploads and deletes always name a live document
    * and the document-filter queries after a batch target a live one.
    */
  lazy val batches: Vector[Batch] = {
    val r      = rng(5)
    val live   = scala.collection.mutable.LinkedHashMap.empty[Long, Doc]
    corpus.foreach(d => live(d.documentId) = d)
    var nextId = nDocs + 1L
    var qIndex = 0
    var asked  = Vector.empty[Query]
    Vector.tabulate(RoundBatches) { b =>
      val ids      = live.keysIterator.toIndexedSeq
      val touched  = scala.collection.mutable.HashSet.empty[Long]
      def pickLive(): Long = {
        var id = ids(r.nextInt(ids.length))
        while (touched.contains(id)) id = ids(r.nextInt(ids.length))
        touched += id
        id
      }
      // fixed counts, shuffled: 10 % re-uploads, 5 % deletes on average
      // (2 or 3 a batch), the rest new documents
      val nDel  = BatchDocs * (b + 1) / 20 - BatchDocs * b / 20
      val kinds = shuffled(Vector.fill(BatchDocs / 10)('u') ++ Vector.fill(nDel)('d') ++
        Vector.fill(BatchDocs - BatchDocs / 10 - nDel)('n'), r)
      val uploads = Vector.newBuilder[Doc]
      val deletes = Vector.newBuilder[Long]
      kinds.foreach {
        case 'u' =>
          val old = live(pickLive())
          uploads += doc(old.documentId, old.version + 1, r)
        case 'd' => deletes += pickLive()
        case _   => uploads += doc(nextId, 0, r); nextId += 1
      }
      val up  = uploads.result(); val del = deletes.result()
      del.foreach(live.remove)
      up.foreach(d => live(d.documentId) = d)
      val qs = queries(r, QueriesPerBatch, qIndex, live.valuesIterator.toIndexedSeq, asked)
      qIndex += qs.length
      asked ++= qs
      Batch(b, up, del, qs)
    }
  }

  /** Fisher-Yates shuffle driven by `r`. */
  private def shuffled[A](xs: Vector[A], r: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Chunk picks for the organize pass's batch k-NN join: `n` distinct
    * positions into a chunk list of length `nChunks`.
    */
  def joinSeeds(nChunks: Int, n: Int): Vector[Int] = {
    val r    = rng(6)
    val pick = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (pick.size < math.min(n, nChunks)) pick += r.nextInt(nChunks)
    pick.toVector
  }

  /** A digest of every generated input, for determinism checks. */
  def fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    corpus.foreach(d => put(d.toString))
    searchStream.foreach(q => put(q.toString))
    warmup.foreach(q => put(q.toString))
    batches.foreach(b => put(b.toString))
    put(joinSeeds(1 << 20, JoinQueries).mkString(","))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {
  val DefaultDocs        = 1500
  val NTopics            = 20
  val NCategories        = 20
  val TopicWords         = 80
  val CommonWords        = 300
  val VersionSpan        = 64L
  val ChunkSpan          = 1024L
  val SearchStreamLength = 20000
  val RoundBatches       = 3
  val WarmupQueries      = 16
  val BatchDocs          = 50
  val QueriesPerBatch    = 2
  val JoinQueries        = 256
  /** Filter kinds of successive fresh requests: N none, C category,
    * L lang, D one document.
    */
  private val FilterCycle = "NCLNCDNCLN"
  private val Consonants  = "bdfgklmnprstvz"
  private val Vowels      = "aeiou"

  def chunkId(uploadKey: Long, chunkIndex: Int): Long = uploadKey * ChunkSpan + chunkIndex

  /** A filter's kind, as a letter of the filter cycle. */
  def kind(f: Filter): Char = f match {
    case Filter.NoFilter    => 'N'
    case _: Filter.Category => 'C'
    case _: Filter.Lang     => 'L'
    case _: Filter.Document => 'D'
  }

  /** Each filter kind's share of the request mix. A repeat re-issues an
    * earlier request with its filter, so repeats keep these shares.
    */
  val MixShares: Map[Char, Double] =
    FilterCycle.groupBy(identity).map { case (k, v) => k -> v.length.toDouble / FilterCycle.length }
}

package kbbench

import graft.operators.{Chunker, DocRow, Embedder}

/** One stored chunk as the benchmark expects it. */
final case class ChunkRec(
    chunkId: Long, documentId: Long, category: String, lang: String, topic: Int, text: String, vec: Array[Double]) {
  val norm: Double = math.sqrt(vec.foldLeft(0.0)((a, x) => a + x * x))
}

/** A returned search row. */
final case class Hit(chunkId: Long, score: Double, documentId: Long, category: String, lang: String, text: String)

/** The expected contents of the store, kept in the benchmark process's
  * memory, and an exact filtered top-k over them: cosine with ties broken
  * by chunk id, the contract of `Search.topK`. Chunks come from the
  * engine's own chunking and embedding functions run locally, one document
  * at a time, so the expected set is independent of the distributed paths
  * under test.
  */
final class Oracle(embedder: Embedder) {
  private val chunks  = scala.collection.mutable.LinkedHashMap.empty[Long, ChunkRec]
  private val byDoc   = scala.collection.mutable.HashMap.empty[Long, Vector[Long]]
  private val deadIds = scala.collection.mutable.HashSet.empty[Long]

  def size: Int = chunks.size
  def get(id: Long): Option[ChunkRec] = chunks.get(id)
  def ids: Vector[Long] = chunks.keysIterator.toVector.sorted
  def chunkIdsOf(documentId: Long): Vector[Long] = byDoc.getOrElse(documentId, Vector.empty)

  /** Chunk + embed documents locally; returns the records and the chunker
    * and embedder time in nanoseconds.
    */
  def prepare(docs: Seq[Doc]): (Vector[ChunkRec], Long, Long) = {
    val t0    = System.nanoTime
    val split = docs.map(d => d -> Chunker.chunkDocument(DocRow(d.uploadKey, d.text, d.lang)))
    val t1    = System.nanoTime
    val texts = split.flatMap(_._2.map(_.text))
    val vecs  = embedder.embedBatch(texts).iterator
    val t2    = System.nanoTime
    val recs = split.flatMap { case (d, cs) =>
      cs.map(c => ChunkRec(Gen.chunkId(d.uploadKey, c.chunk_index), d.documentId, d.category, d.lang, d.topic, c.text,
        vecs.next().map(_.toDouble)))
    }.toVector
    (recs, t1 - t0, t2 - t1)
  }

  /** Apply an upload: the named documents lose their old chunks, `recs`
    * are added. Removed chunk ids are remembered as dead.
    */
  def apply(deletedDocs: Seq[Long], recs: Seq[ChunkRec]): Unit = {
    val replaced = recs.map(_.documentId).distinct
    (deletedDocs ++ replaced).foreach { d =>
      chunkIdsOf(d).foreach { id => chunks.remove(id); deadIds += id }
      byDoc.remove(d)
    }
    recs.foreach(r => chunks(r.chunkId) = r)
    recs.groupBy(_.documentId).foreach { case (d, rs) => byDoc(d) = rs.map(_.chunkId).toVector }
  }

  /** Back to exactly `recs`, as after a fresh copy of the standing store. */
  def reset(recs: Seq[ChunkRec]): Unit = {
    chunks.clear(); byDoc.clear(); deadIds.clear()
    apply(Nil, recs)
  }

  def cosine(c: ChunkRec, q: Array[Double], qNorm: Double): Double = {
    var dot = 0.0; var i = 0
    while (i < q.length) { dot += c.vec(i) * q(i); i += 1 }
    dot / (c.norm * qNorm)
  }

  /** Exact top-k (id, score) under `filter`, best first. */
  def topK(q: Array[Double], filter: Filter, k: Int): Vector[(Long, Double)] = {
    val qNorm = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    chunks.valuesIterator.filter(c => Oracle.matches(filter, c.documentId, c.category, c.lang))
      .map(c => (c.chunkId, cosine(c, q, qNorm)))
      .filterNot(_._2.isNaN)
      .toVector
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  /** Share of the exact top-k the answer recovered. A returned chunk whose
    * exact score ties the k-th best counts as found. None when nothing
    * passes the filter.
    */
  def recall(q: Array[Double], filter: Filter, k: Int, returned: Seq[Long]): Option[Double] = {
    val truth = topK(q, filter, k)
    if (truth.isEmpty) None
    else {
      val qNorm = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
      val cut   = truth.last._2 - 1e-9
      val found = returned.distinct.count(id => chunks.get(id).exists(c => cosine(c, q, qNorm) >= cut))
      Some(math.min(found, truth.length).toDouble / truth.length)
    }
  }

  /** Recall of a k-NN join row set for stored chunk `q`: the exact
    * neighbours are every other chunk by cosine, ties by id, as
    * `Search.knnJoin` with `excludeSelf` defines them.
    */
  def neighbourRecall(q: Long, k: Int, returned: Seq[Long]): Option[Double] = chunks.get(q).map { c =>
    val others = chunks.valuesIterator.filter(_.chunkId != q)
      .map(o => (o.chunkId, cosine(o, c.vec, c.norm))).filterNot(_._2.isNaN)
      .toVector.sortBy { case (id, s) => (-s, id) }.take(k)
    if (others.isEmpty) 1.0
    else {
      val cut = others.last._2 - 1e-9
      math.min(returned.distinct.count(id => id != q && chunks.get(id).exists(o => cosine(o, c.vec, c.norm) >= cut)),
        others.length).toDouble / others.length
    }
  }

  /** Checks one search answer: at most k rows, no duplicates, every row
    * live, satisfying its filter, with the stored payload and the exact
    * score, best first; an empty answer only when nothing passes.
    */
  def check(q: Array[Double], filter: Filter, k: Int, hits: Seq[Hit]): Seq[String] = {
    val qNorm = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val p = Seq.newBuilder[String]
    if (hits.length > k) p += s"${hits.length} rows for top-$k"
    if (hits.map(_.chunkId).distinct.length != hits.length) p += "duplicate chunk ids"
    hits.foreach { h =>
      if (!Oracle.matches(filter, h.documentId, h.category, h.lang)) p += s"chunk ${h.chunkId} violates $filter"
      chunks.get(h.chunkId) match {
        case None =>
          p += (if (deadIds.contains(h.chunkId)) s"deleted or replaced chunk ${h.chunkId} returned" else s"unknown chunk ${h.chunkId}")
        case Some(c) =>
          if (c.documentId != h.documentId || c.category != h.category || c.lang != h.lang || c.text != h.text)
            p += s"chunk ${h.chunkId} payload differs from the stored one"
          if (math.abs(cosine(c, q, qNorm) - h.score) > 1e-6) p += s"chunk ${h.chunkId} score ${h.score} is not its cosine"
      }
    }
    if (hits.map(_.score).sliding(2).exists { case Seq(a, b) => b > a + 1e-12; case _ => false }) p += "rows not best-first"
    if (hits.isEmpty && topK(q, filter, 1).nonEmpty) p += "empty answer although rows pass the filter"
    p.result()
  }
}

object Oracle {
  def matches(f: Filter, documentId: Long, category: String, lang: String): Boolean = f match {
    case Filter.NoFilter    => true
    case Filter.Category(c) => category == c
    case Filter.Lang(l)     => lang == l
    case Filter.Document(d) => documentId == d
  }
}

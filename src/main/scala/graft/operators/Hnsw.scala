package graft.operators

import graft.functions.VectorOps.asDouble
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** HNSW — a real hierarchical navigable-small-world graph index (Malkov &
  * Yashunin 2016), the same structure the reference's vector store uses
  * (reference: backend/vector_db.py:41 — Qdrant, whose index is HNSW).
  *
  * [[Ivf]] is this repo's partition-pruned scale path; this operator closes
  * the declared HNSW gap with the structure itself, distributed the way the
  * engines that run HNSW at scale actually distribute it (Qdrant/Milvus
  * shards): the corpus is hash-partitioned into shards, EACH SHARD builds an
  * independent single-memory HNSW graph inside its executor task, a query
  * beam-searches every shard's graph in parallel, and the per-shard top-k
  * candidates merge through one global `TakeOrderedAndProject` (≤ nShards·k
  * rows — never the corpus). Per-shard memory is bounded by the
  * rows-per-shard budget, so shard count — not shard size — grows with the
  * corpus: the 100 TB shape.
  *
  * Everything is DETERMINISTIC, so results are oracle-stable across runs and
  * cluster layouts that preserve the hash partitioning:
  *  - a node's level comes from a splitmix64 hash of its id (the paper's
  *    `floor(-ln(U)·mL)` with U derived from the hash, not an RNG);
  *  - nodes are inserted in ascending-id order;
  *  - every candidate ordering breaks distance ties by node ord.
  *
  * Metric: cosine, via L2-normalizing at build/query and navigating by
  * `1 − dot` (the normalized-dot trick Qdrant uses for its cosine HNSW).
  * Zero-norm vectors are excluded from the graph — the same guard
  * [[Search.topK]] applies by dropping NaN scores.
  */
object Hnsw {

  /** Rows-per-shard budget behind the derived shard count: a shard's graph
    * must build in one task's memory. 64-d doubles + M·2 level-0 links at
    * 250k rows ≈ 150 MB — comfortable under common executor budgets.
    */
  val RowsPerShard: Long = 250000L

  /** Derived shard count for an `n`-row corpus (≥ 1). */
  def shardsFor(n: Long): Int = math.max(1L, (n + RowsPerShard - 1) / RowsPerShard).toInt

  // ---------------------------------------------------------------- hashing

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic level: U = hash(id) mapped into (0,1], level =
    * floor(−ln(U)·mL) with mL = 1/ln(M) (the paper's recommended scale).
    */
  def levelOf(id: Long, m: Int): Int = {
    val bits = splitmix64(id) >>> 11 // 53 uniform bits
    val u    = (bits + 1).toDouble / (1L << 53).toDouble // (0, 1]
    val mL   = 1.0 / math.log(m.toDouble)
    math.floor(-math.log(u) * mL).toInt
  }

  // ------------------------------------------------------------- the graph

  /** One shard's graph. `links(ord)(layer)` are neighbor ords; vectors are
    * stored L2-normalized. Plain arrays → cheap to serialize and to rebuild
    * from the row-per-node parquet store.
    */
  final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Double]],
      val levels: Array[Int],
      val links: Array[Array[Array[Int]]],
      val entry: Int,
      val maxLevel: Int,
  ) extends Serializable {
    def size: Int = ids.length
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s == 0 || s.isNaN) null
    else {
      val inv = 1.0 / math.sqrt(s)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }
  }

  /** (distance, ord) ordered ascending by distance then ord — the one
    * comparator every queue below uses, so ties are deterministic.
    */
  private val nearFirst: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** Primitive binary heap of (distance, ord) pairs — the beam queues.
    * `farFirst = false` dequeues nearest-first ((d, ord) ascending: the
    * candidate queue); `farFirst = true` farthest-first (the result beam).
    * Priority is `java.lang.Double.compare` + ord tiebreak — exactly
    * [[nearFirst]] (`Ordering.Double.TotalOrdering` IS Double.compare), and
    * (d, ord) pairs are unique within a queue (the visited bitset admits
    * each ord once), so the dequeue sequence is a total order: identical to
    * the boxed `mutable.PriorityQueue[(Double, Int)]` this replaces. The
    * rewrite only removes the Tuple2 + 2 boxes allocated per visited node
    * and the megamorphic Ordering calls in the engine's hottest loop
    * (per-node, per-layer beam search in every HNSW build and probe —
    * profiled at ~2.9 s/rep of executor CPU on the v29 lifecycle).
    */
  private final class DistHeap(farFirst: Boolean, initCap: Int = 64) {
    private var ds = new Array[Double](initCap)
    private var os = new Array[Int](initCap)
    private var n  = 0
    def size: Int         = n
    def nonEmpty: Boolean = n > 0
    def headDist: Double  = ds(0)
    def headOrd: Int      = os(0)
    def clear(): Unit     = n = 0
    private def prior(d1: Double, o1: Int, d2: Double, o2: Int): Boolean = {
      val c = java.lang.Double.compare(d1, d2)
      if (c != 0) { if (farFirst) c > 0 else c < 0 }
      else { if (farFirst) o1 > o2 else o1 < o2 }
    }
    def enqueue(d: Double, o: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, n * 2)
        os = java.util.Arrays.copyOf(os, n * 2)
      }
      var i = n
      n += 1
      var sifting = true
      while (sifting && i > 0) {
        val p = (i - 1) >> 1
        if (prior(d, o, ds(p), os(p))) { ds(i) = ds(p); os(i) = os(p); i = p }
        else sifting = false
      }
      ds(i) = d; os(i) = o
    }
    /** Remove the head (callers read headDist/headOrd first). */
    def pop(): Unit = {
      n -= 1
      val d = ds(n)
      val o = os(n)
      var i = 0
      var sifting = true
      while (sifting) {
        val l = 2 * i + 1
        if (l >= n) sifting = false
        else {
          var c = l
          val r = l + 1
          if (r < n && prior(ds(r), os(r), ds(l), os(l))) c = r
          if (prior(ds(c), os(c), d, o)) { ds(i) = ds(c); os(i) = os(c); i = c }
          else sifting = false
        }
      }
      if (n > 0) { ds(i) = d; os(i) = o }
    }
    /** Contents as (distance, ord) sorted ascending by [[nearFirst]]. */
    def toSortedNearFirst: Array[(Double, Int)] = {
      val out = new Array[(Double, Int)](n)
      var i = 0
      while (i < n) { out(i) = (ds(i), os(i)); i += 1 }
      out.sorted(nearFirst)
    }
  }

  /** Beam search over one layer: returns up to `ef` nearest (distance, ord),
    * ascending. `eps` seed the beam. Classic Algorithm 2 with a visited
    * bitset, a nearest-first candidate heap and a farthest-first result heap.
    *
    * `allowed` (null = unrestricted) is the filtered-search hook (the
    * hnswlib/Qdrant shape the reference's filtered k-NN rides on —
    * reference: backend/vector_db.py:131-170): the traversal VISITS every
    * node — blocked nodes still navigate, or selective filters would
    * disconnect the beam — but only allowed nodes may enter the result
    * beam. With `allowed == null` the admission logic reduces exactly to
    * the unfiltered algorithm (both queues always move together), so the
    * unfiltered path is bit-identical to the pre-filter implementation.
    */
  private def searchLayer(
      vecs: Array[Array[Double]],
      links: Array[Array[Array[Int]]],
      layer: Int,
      q: Array[Double],
      eps: Array[Int],
      ef: Int,
      allowed: java.util.BitSet = null,
  ): Array[(Double, Int)] = {
    val visited    = new java.util.BitSet(vecs.length)
    val candidates = new DistHeap(farFirst = false)
    val results    = new DistHeap(farFirst = true)
    var i = 0
    while (i < eps.length) {
      val e = eps(i)
      if (!visited.get(e)) {
        visited.set(e)
        val d = 1.0 - dot(q, vecs(e))
        candidates.enqueue(d, e)
        if (allowed == null || allowed.get(e)) results.enqueue(d, e)
      }
      i += 1
    }
    while (candidates.nonEmpty) {
      val cd = candidates.headDist
      val c  = candidates.headOrd
      candidates.pop()
      // results is farthest-first, so head is the current worst of the beam
      if (results.size >= ef && cd > results.headDist) {
        candidates.clear()
      } else {
        val nbrs = links(c)(layer)
        var j = 0
        while (j < nbrs.length) {
          val e = nbrs(j)
          if (!visited.get(e)) {
            visited.set(e)
            val d = 1.0 - dot(q, vecs(e))
            if (results.size < ef || d < results.headDist ||
                (d == results.headDist && e < results.headOrd)) {
              candidates.enqueue(d, e)
              if (allowed == null || allowed.get(e)) {
                results.enqueue(d, e)
                if (results.size > ef) results.pop()
              }
            }
          }
          j += 1
        }
      }
    }
    results.toSortedNearFirst
  }

  /** Greedy single-step descent used on the layers above the insertion /
    * query level (Algorithm 2 with ef = 1).
    */
  private def greedyStep(
      vecs: Array[Array[Double]],
      links: Array[Array[Array[Int]]],
      layer: Int,
      q: Array[Double],
      ep: Int,
  ): Int = {
    var cur  = ep
    var curD = 1.0 - dot(q, vecs(cur))
    var improved = true
    while (improved) {
      improved = false
      val nbrs = links(cur)(layer)
      var j = 0
      while (j < nbrs.length) {
        val e = nbrs(j)
        val d = 1.0 - dot(q, vecs(e))
        if (d < curD || (d == curD && e < cur)) { cur = e; curD = d; improved = true }
        j += 1
      }
    }
    cur
  }

  /** Neighbor selection by the paper's HEURISTIC (Algorithm 4): a candidate
    * is kept only if it is closer to the query than to every already-kept
    * neighbor — this is what keeps the graph navigable on clustered data
    * (plain closest-M degenerates into intra-cluster cliques with no
    * inter-cluster edges).
    */
  private def selectHeuristic(
      vecs: Array[Array[Double]],
      candidates: Array[(Double, Int)],
      m: Int,
  ): Array[Int] = {
    val kept = new collection.mutable.ArrayBuffer[Int](m)
    var i = 0
    while (i < candidates.length && kept.length < m) {
      val (d, c) = candidates(i)
      var ok = true
      var j  = 0
      while (ok && j < kept.length) {
        if (1.0 - dot(vecs(c), vecs(kept(j))) < d) ok = false
        j += 1
      }
      if (ok) kept += c
      i += 1
    }
    // backfill with the closest rejected candidates so degree reaches m
    i = 0
    while (i < candidates.length && kept.length < m) {
      val c = candidates(i)._2
      if (!kept.contains(c)) kept += c
      i += 1
    }
    kept.toArray
  }

  /** Growable graph-under-construction: [[build]] inserts into a fresh one;
    * [[extend]] resumes insertion on a graph reconstructed from the store —
    * the classic HNSW property that construction IS a sequence of inserts,
    * which is what makes incremental maintenance natural.
    */
  private final class Builder(m: Int, efConstruction: Int) {
    val ids    = collection.mutable.ArrayBuffer.empty[Long]
    val vecs   = collection.mutable.ArrayBuffer.empty[Array[Double]]
    val levels = collection.mutable.ArrayBuffer.empty[Int]
    val links  = collection.mutable.ArrayBuffer.empty[Array[Array[Int]]]
    var entry    = -1
    var maxLevel = -1
    private val mmax0 = 2 * m

    /** Insert one (already-normalized) vector. */
    def insert(id: Long, vec: Array[Double]): Unit = {
      val ord = ids.length
      val l   = levelOf(id, m)
      ids += id; vecs += vec; levels += l
      links += Array.tabulate(l + 1)(_ => Array.empty[Int])
      if (entry < 0) {
        entry = ord; maxLevel = l
        return
      }
      val vecsA  = vecs
      val linksA = links
      // the shared search helpers take arrays; wrap the buffers — cheap
      // views would complicate the hot loops, so index directly instead
      val q  = vec
      var ep = entry
      var lc = maxLevel
      while (lc > l) { ep = greedyStepB(lc, q, ep); lc -= 1 }
      var eps = Array(ep)
      lc = math.min(l, maxLevel)
      while (lc >= 0) {
        val found  = searchLayerB(lc, q, eps, efConstruction)
        val chosen = selectHeuristicB(found, m)
        linksA(ord)(lc) = chosen
        val cap = if (lc == 0) mmax0 else m
        var j = 0
        while (j < chosen.length) {
          val e  = chosen(j)
          val el = linksA(e)(lc)
          if (el.length < cap) linksA(e)(lc) = el :+ ord
          else {
            // shrink: re-select over old neighbors + the new node
            val pool = (el :+ ord).map(x => (1.0 - dot(vecsA(e), vecsA(x)), x)).sorted(nearFirst)
            linksA(e)(lc) = selectHeuristicB(pool, cap)
          }
          j += 1
        }
        eps = found.map(_._2)
        lc -= 1
      }
      if (l > maxLevel) { entry = ord; maxLevel = l }
    }

    private def greedyStepB(layer: Int, q: Array[Double], ep: Int): Int = {
      var cur  = ep
      var curD = 1.0 - dot(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val nbrs = links(cur)(layer)
        var j = 0
        while (j < nbrs.length) {
          val e = nbrs(j)
          val d = 1.0 - dot(q, vecs(e))
          if (d < curD || (d == curD && e < cur)) { cur = e; curD = d; improved = true }
          j += 1
        }
      }
      cur
    }

    private def searchLayerB(layer: Int, q: Array[Double], eps: Array[Int], ef: Int): Array[(Double, Int)] = {
      val visited    = new java.util.BitSet(ids.length)
      val candidates = new DistHeap(farFirst = false)
      val results    = new DistHeap(farFirst = true)
      var i = 0
      while (i < eps.length) {
        val e = eps(i)
        if (!visited.get(e)) {
          visited.set(e)
          val d = 1.0 - dot(q, vecs(e))
          candidates.enqueue(d, e)
          results.enqueue(d, e)
        }
        i += 1
      }
      while (candidates.nonEmpty) {
        val cd = candidates.headDist
        val c  = candidates.headOrd
        candidates.pop()
        if (cd > results.headDist && results.size >= ef) {
          candidates.clear()
        } else {
          val nbrs = links(c)(layer)
          var j = 0
          while (j < nbrs.length) {
            val e = nbrs(j)
            if (!visited.get(e)) {
              visited.set(e)
              val d = 1.0 - dot(q, vecs(e))
              if (results.size < ef || d < results.headDist ||
                  (d == results.headDist && e < results.headOrd)) {
                candidates.enqueue(d, e)
                results.enqueue(d, e)
                if (results.size > ef) results.pop()
              }
            }
            j += 1
          }
        }
      }
      results.toSortedNearFirst
    }

    private def selectHeuristicB(candidates: Array[(Double, Int)], m: Int): Array[Int] = {
      val kept = new collection.mutable.ArrayBuffer[Int](m)
      var i = 0
      while (i < candidates.length && kept.length < m) {
        val (d, c) = candidates(i)
        var ok = true
        var j  = 0
        while (ok && j < kept.length) {
          if (1.0 - dot(vecs(c), vecs(kept(j))) < d) ok = false
          j += 1
        }
        if (ok) kept += c
        i += 1
      }
      i = 0
      while (i < candidates.length && kept.length < m) {
        val c = candidates(i)._2
        if (!kept.contains(c)) kept += c
        i += 1
      }
      kept.toArray
    }

    def toGraph: Graph =
      new Graph(ids.toArray, vecs.toArray, levels.toArray, links.toArray, entry, maxLevel)
  }

  private object Builder {
    def from(g: Graph, m: Int, efConstruction: Int): Builder = {
      val b = new Builder(m, efConstruction)
      b.ids ++= g.ids; b.vecs ++= g.vecs; b.levels ++= g.levels
      b.links ++= g.links.map(_.map(_.clone()))
      b.entry = g.entry; b.maxLevel = g.maxLevel
      b
    }
  }

  /** Build one shard's graph. `items` may arrive in any order — they are
    * sorted by id so the graph is a pure function of the shard's CONTENT,
    * not of scan order. Zero-norm vectors are dropped.
    */
  def build(items: Array[(Long, Array[Double])], m: Int, efConstruction: Int): Graph = {
    require(m >= 2, s"m must be >= 2: $m")
    val b = new Builder(m, efConstruction)
    items
      .map { case (id, v) => (id, normalize(v)) }
      .filter(_._2 != null)
      .sortBy(_._1)
      .foreach { case (id, v) => b.insert(id, v) }
    b.toGraph
  }

  /** Resume insertion on an existing graph — the incremental-maintenance
    * primitive: an HNSW build IS a sequence of inserts, so new vectors
    * simply continue it. Ids already present are skipped; zero-norm vectors
    * are dropped; new items insert in ascending-id order (deterministic
    * PER BATCH — unlike [[build]], the final graph depends on the batch
    * sequence, which is inherent to incremental ANN).
    */
  def extend(g: Graph, items: Array[(Long, Array[Double])], m: Int, efConstruction: Int): Graph = {
    require(m >= 2, s"m must be >= 2: $m")
    val existing = g.ids.toSet
    val fresh = items
      .filter(it => !existing.contains(it._1))
      .map { case (id, v) => (id, normalize(v)) }
      .filter(_._2 != null)
      .sortBy(_._1)
    if (fresh.isEmpty) g
    else {
      val b = Builder.from(g, m, efConstruction)
      fresh.foreach { case (id, v) => b.insert(id, v) }
      b.toGraph
    }
  }

  /** Query one shard's graph: greedy descent to layer 1, beam at layer 0
    * with ef = max(efSearch, k), exact top-k of the beam. Returns
    * (id, cosine) descending.
    */
  def searchGraph(g: Graph, query: Array[Double], k: Int, efSearch: Int): Array[(Long, Double)] = {
    if (g.size == 0) return Array.empty
    val q = normalize(query)
    if (q == null) return Array.empty
    var ep = g.entry
    var lc = g.maxLevel
    while (lc > 0) { ep = greedyStep(g.vecs, g.links, lc, q, ep); lc -= 1 }
    val found = searchLayer(g.vecs, g.links, 0, q, Array(ep), math.max(efSearch, k))
    found.take(k).map { case (d, ord) => (g.ids(ord), 1.0 - d) }
  }

  /** Filter-aware [[searchGraph]]: `allowedOrd` marks the ords that may
    * appear in results; the descent and the layer-0 beam still traverse
    * blocked nodes (filtering only the output would strand the beam in a
    * blocked region under selective predicates — the classic filtered-ANN
    * failure the reference's engine solves inside the traversal,
    * backend/vector_db.py:131-170). Returns up to k ALLOWED (id, cosine)
    * pairs, descending, with the same tie discipline as [[searchGraph]].
    */
  def searchGraphFiltered(
      g: Graph,
      query: Array[Double],
      k: Int,
      efSearch: Int,
      allowedOrd: java.util.BitSet,
  ): Array[(Long, Double)] = {
    if (g.size == 0 || allowedOrd.isEmpty) return Array.empty
    val q = normalize(query)
    if (q == null) return Array.empty
    var ep = g.entry
    var lc = g.maxLevel
    while (lc > 0) { ep = greedyStep(g.vecs, g.links, lc, q, ep); lc -= 1 }
    val found = searchLayer(g.vecs, g.links, 0, q, Array(ep), math.max(efSearch, k), allowedOrd)
    found.take(k).map { case (d, ord) => (g.ids(ord), 1.0 - d) }
  }

  // --------------------------------------------------------- Spark surface

  /** One-shot sharded top-k: hash-partition into shards, build + search each
    * shard inside its task, merge the ≤ nShards·k candidates with one
    * `TakeOrderedAndProject`. `nShards = 0` derives the count from a corpus
    * count (one cheap aggregate) via [[shardsFor]] — the scale-safe default;
    * pass an explicit count only to pin a fixture.
    *
    * For a standing corpus queried repeatedly, build once with [[indexFor]]
    * and query the stored graphs with [[searchIndex]] instead — which also
    * carries the FILTERED-search path (payload predicates evaluated inside
    * the traversal); for a filtered one-shot over an unindexed frame, just
    * pre-filter and call [[Search.topK]] — with no standing graph to
    * reuse, exact scan of the survivors is the cheaper plan.
    */
  def topK(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      nShards: Int = 0,
      m: Int = 16,
      efConstruction: Int = 128,
      efSearch: Int = 64,
  ): DataFrame = {
    val spark    = corpus.sparkSession
    val prepared = corpus.select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
    val shards   = if (nShards > 0) nShards else shardsFor(prepared.count())
    val q        = queryVec.toArray
    import spark.implicits._
    val candidates = prepared
      .repartition(shards, col("__id"))
      .mapPartitions { rows =>
        val items = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toArray
        if (items.isEmpty) Iterator.empty
        else {
          val g = build(items, m, efConstruction)
          searchGraph(g, q, k, efSearch).iterator
        }
      }
      .toDF(idCol, "score")
    candidates.orderBy(desc("score"), col(idCol)).limit(k)
  }

  /** Build-once store: row-per-node parquet, one directory per shard
    * (`shard=...`), each row carrying its node's ord, id, level, normalized
    * vector and per-layer adjacency — columnar and splittable, so no
    * multi-GB blob cells at large shard sizes. Cached per `cacheKey` like
    * [[Ivf.indexFor]].
    */
  def indexFor(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      cacheKey: String,
      nShards: Int = 0,
      m: Int = 16,
      efConstruction: Int = 128,
  ): DataFrame =
    indexCache.computeIfAbsent(cacheKey, _ => {
      val p = indexRoot(df) + "/" + java.lang.Long.toHexString(
        (scala.util.hashing.MurmurHash3.stringHash(cacheKey, 42).toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(cacheKey, 4242).toLong & 0xffffffffL))
      writeIndex(df, vecCol, idCol, p, nShards, m, efConstruction)
      readIndex(df.sparkSession, p)
    })

  /** Sidecar metadata a store needs for maintenance: the shard count pins
    * the id→shard routing (shard = `pmod(hash(id), nShards)`, the same
    * Murmur3 hash `repartition` uses), m/efConstruction pin the graph
    * parameters new inserts must share.
    */
  final case class StoreMeta(nShards: Int, m: Int, efConstruction: Int)

  private val MetaFile = "_hnsw_meta"

  private def writeMeta(conf: org.apache.hadoop.conf.Configuration, path: String, meta: StoreMeta): Unit =
    Store.writeSidecar(conf, path, MetaFile, Iterator(s"${meta.nShards},${meta.m},${meta.efConstruction}"))

  def readMeta(spark: org.apache.spark.sql.SparkSession, path: String): StoreMeta =
    Store.readSidecar(spark.sparkContext.hadoopConfiguration, path, MetaFile) { lines =>
      val Array(n, m, ef) = lines.mkString.trim.split(",").map(_.toInt)
      Some(StoreMeta(n, m, ef))
    }.getOrElse(throw new IllegalStateException(s"no readable $MetaFile sidecar under $path — not an HNSW store?"))

  /** Build the sharded graphs of `df` and write the row-per-node store at
    * `path` (one `shard=` directory per graph + the metadata sidecar) as
    * one [[Store.replace]]: `df` may read the store being replaced.
    * Shard label = the id-hash partition index, so new rows route to their
    * shard without reading the store.
    */
  def writeIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      nShards: Int = 0,
      m: Int = 16,
      efConstruction: Int = 128,
  ): Unit = {
    val spark    = df.sparkSession
    val prepared = df.select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
    val shards   = if (nShards > 0) nShards else shardsFor(prepared.count())
    import spark.implicits._
    val nodes = prepared
      .repartition(shards, col("__id"))
      .mapPartitions { rows =>
        val shard = org.apache.spark.TaskContext.get().partitionId().toLong
        val items = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toArray
        if (items.isEmpty) Iterator.empty
        else graphRows(shard, build(items, m, efConstruction))
      }
      .toDF("shard", "ord", "id", "level", "vec", "links", "entry", "max_level")
    val conf = spark.sparkContext.hadoopConfiguration
    Store.replace(conf, path) { stage =>
      nodes.write.mode("overwrite").partitionBy("shard").parquet(stage)
      writeMeta(conf, stage, StoreMeta(shards, m, efConstruction))
    }
  }

  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def graphRows(shard: Long, g: Graph): Iterator[(Long, Int, Long, Int, Seq[Double], Seq[Seq[Int]], Int, Int)] =
    (0 until g.size).iterator.map { ord =>
      (shard, ord, g.ids(ord), g.levels(ord), g.vecs(ord).toSeq,
        g.links(ord).map(_.toSeq).toSeq, g.entry, g.maxLevel)
    }

  /** Incremental maintenance — the [[Ivf.streamInto]] analog: route a new
    * batch to its shards (`pmod(hash(id), nShards)` — the same Murmur3
    * partitioning the build used, no store read needed for routing), read
    * ONLY the touched shard directories (partition-pruned scan), resume
    * insertion on each reconstructed graph via [[extend]], and overwrite
    * just those `shard=` directories. Untouched shards are never read or
    * written; per-batch cost is (touched shards) × (shard rebuild-free
    * insert), not a corpus rebuild. The touched shards commit through
    * [[Store.swapPartitions]].
    *
    * Duplicate ids are skipped inside [[extend]]. Returns the number of
    * shards touched.
    */
  def insertInto(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      vecCol: String,
      idCol: String,
  ): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    Store.recover(conf, path)
    val meta = readMeta(spark, path)
    import spark.implicits._
    // persisted once: the touched-shard collect and the rebuild both read
    // it, and the caller's lineage must run once, not once per action
    val prepared = batch.select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__shard", pmod(hash(col("__id")), lit(meta.nShards)).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = prepared.select("__shard").distinct().as[Long].collect().sorted
      if (touched.isEmpty) return 0
      val existing = readIndex(spark, path)
        .where(col("shard").isin(touched: _*))
        .select(col("shard").cast("long"), col("ord"), col("id"), col("level"),
          col("vec"), col("links"), col("entry"), col("max_level"))
      val m   = meta.m
      val efC = meta.efConstruction
      // one co-locating shuffle of (touched store rows + batch rows) on shard;
      // rebuilds happen where the data lands
      val unioned = existing
        .withColumn("__kind", lit(0))
        .unionByName(
          prepared.select(col("__shard").as("shard"), lit(-1).as("ord"), col("__id").as("id"),
            lit(0).as("level"), col("__v").as("vec"),
            typedLit(Seq.empty[Seq[Int]]).as("links"), lit(0).as("entry"), lit(0).as("max_level"))
            .withColumn("__kind", lit(1)))
      val rebuilt = unioned
        .repartition(col("shard"))
        .mapPartitions { rows =>
          rows.toSeq.groupBy(_.getLong(0)).iterator.flatMap { case (shard, shardRows) =>
            val (newRows, oldRows) = shardRows.partition(_.getInt(8) == 1)
            val fresh = newRows.map(r => (r.getLong(2), r.getSeq[Double](4).toArray)).toArray
            val g =
              if (oldRows.isEmpty) build(fresh, m, efC)
              else extend(graphOf(oldRows), fresh, m, efC)
            graphRows(shard, g)
          }
        }
        .toDF("shard", "ord", "id", "level", "vec", "links", "entry", "max_level")
      Store.swapPartitions(conf, path, "shard", touched.toSeq, Seq(path -> Store.stageFrame(rebuilt, "shard")))
      touched.length
    } finally prepared.unpersist()
  }

  /** Recrawl maintenance — removals AND upsert-insertions in ONE
    * selective-shard rewrite (the [[Ivf.applyDelta]] analog, completing
    * the incremental story [[insertInto]] started): route both delta sets
    * by the store's id-hash sharding (no store read for routing), read
    * ONLY the touched `shard=` directories, and per shard either
    *
    *  - fast path (nothing removed or replaced there): [[extend]] the
    *    reconstructed graph with the fresh items, or
    *  - rebuild that shard's graph from its surviving items plus the
    *    fresh ones (HNSW has no exact node removal — hnswlib-style
    *    tombstones degrade recall and leak memory until a compaction;
    *    per-shard rebuild keeps search exact and costs one
    *    bounded-by-[[RowsPerShard]] build, only where a delete landed).
    *
    * `added` rows are upserts: an existing row with an added id is
    * replaced, so re-applying a delta is idempotent and a changed doc
    * whose vector moved still lands exactly once. Untouched shards are
    * never read or written; shards the delta empties have their
    * directories removed. Returns the number of shards touched.
    *
    * Note: a rebuilt shard re-normalizes already-normalized vectors, so
    * scores can drift by an ulp vs a from-scratch build over raw vectors —
    * id-level results are unaffected.
    */
  def applyDelta(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      removedIds: DataFrame,
      added: DataFrame,
      vecCol: String,
      idCol: String,
  ): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    // repair a crashed commit BEFORE the store's file listing snapshots the
    // directory layout
    Store.recover(conf, path)
    val meta    = readMeta(spark, path)
    val shardOf = pmod(hash(col("__id")), lit(meta.nShards)).cast("long")
    // a null vector has no shard: deltaStats fails loudly on it
    val adds = added.select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__shard", when(col("__v").isNotNull, shardOf))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rems = removedIds.select(col(idCol).cast("long").as("__id")).withColumn("__shard", shardOf)
      // Ivf.applyDelta's contract: ONE aggregate, the only evaluation of
      // `added`, runs the duplicate guard and names the touched shards
      // (id-hash routing — no store read)
      val touched = Ivf.deltaStats(rems.withColumnRenamed("__id", idCol), adds.withColumnRenamed("__id", idCol),
        idCol, "__shard", "applyDelta").parts.sorted
      if (touched.isEmpty) return 0
      import spark.implicits._
      val existing = readIndex(spark, path)
        .where(col("shard").isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
        .select(col("shard").cast("long"), col("ord"), col("id"), col("level"),
          col("vec"), col("links"), col("entry"), col("max_level"))
      val m   = meta.m
      val efC = meta.efConstruction
      // kinds: 0 = store row, 1 = fresh insert, 2 = removal marker
      val unioned = existing
        .withColumn("__kind", lit(0))
        .unionByName(
          adds.select(col("__shard").as("shard"), lit(-1).as("ord"), col("__id").as("id"),
            lit(0).as("level"), col("__v").as("vec"),
            typedLit(Seq.empty[Seq[Int]]).as("links"), lit(0).as("entry"), lit(0).as("max_level"))
            .withColumn("__kind", lit(1)))
        .unionByName(
          rems.select(col("__shard").as("shard"), lit(-1).as("ord"), col("__id").as("id"),
            lit(0).as("level"), typedLit(Seq.empty[Double]).as("vec"),
            typedLit(Seq.empty[Seq[Int]]).as("links"), lit(0).as("entry"), lit(0).as("max_level"))
            .withColumn("__kind", lit(2)))
      val rebuilt = unioned
        .repartition(col("shard"))
        .mapPartitions { rows =>
          rows.toSeq.groupBy(_.getLong(0)).iterator.flatMap { case (shard, shardRows) =>
            val byKind  = shardRows.groupBy(_.getInt(8))
            val oldRows = byKind.getOrElse(0, Seq.empty)
            val fresh   = byKind.getOrElse(1, Seq.empty)
              .map(r => (r.getLong(2), r.getSeq[Double](4).toArray)).toArray
            // removals + upserted ids both vacate existing rows
            val gone = byKind.getOrElse(2, Seq.empty).map(_.getLong(2)).toSet ++ fresh.map(_._1)
            if (oldRows.isEmpty) {
              if (fresh.isEmpty) Iterator.empty else graphRows(shard, build(fresh, m, efC))
            } else {
              val g = graphOf(oldRows)
              if (!g.ids.exists(gone)) graphRows(shard, extend(g, fresh, m, efC))
              else {
                val surviving = g.ids.indices.collect {
                  case o if !gone(g.ids(o)) => (g.ids(o), g.vecs(o))
                }
                val all = (surviving ++ fresh).toArray
                if (all.isEmpty) Iterator.empty else graphRows(shard, build(all, m, efC))
              }
            }
          }
        }
        .toDF("shard", "ord", "id", "level", "vec", "links", "entry", "max_level")
      // ONE materialization (the Ivf.applyDelta discipline): the touched
      // shards' replacement data is staged BESIDE the store — no lineage
      // conflict with the files being read, so no localCheckpoint pass
      // doubling the rebuild's I/O — then each touched shard directory
      // swaps in; a shard the delta emptied stays deleted
      Store.swapPartitions(conf, path, "shard", touched.toSeq, Seq(path -> Store.stageFrame(rebuilt, "shard")))
      touched.length
    } finally {
      adds.unpersist()
    }
  }

  /** Shard-occupancy health of a store — the HNSW twin of
    * [[Ivf.driftStats]]: [[applyDelta]] routes every insert to its
    * id-hash shard but never changes the SHARD COUNT, so a corpus that
    * grows under sustained churn pushes every shard past the
    * [[RowsPerShard]] budget it was sized for (per-task build memory and
    * rebuild latency grow linearly; nothing fails, it just quietly stops
    * being the 100 TB shape). One column-pruned scan of (shard, level):
    * per-shard node count, max level, and occupancy vs the budget —
    * `over_capacity` anywhere is the signal to pay for [[reshard]].
    */
  def shardStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val meta = readMeta(spark, path)
    spark.read.parquet(path)
      .select(col("shard").cast("int").as("shard"), col("level"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("level")).as("max_level"))
      .withColumn("occupancy", col("n") / lit(RowsPerShard.toDouble))
      .withColumn("over_capacity", col("n") > lit(RowsPerShard))
      .withColumn("n_shards", lit(meta.nShards))
  }

  /** Re-shard a store IN PLACE: re-route every (id, vec) row under a new
    * shard count (default: [[shardsFor]] the current row count, i.e.
    * restore the rows-per-shard budget), rebuild each shard's graph, and
    * swap directories — the HNSW twin of [[Ivf.refit]], closing the
    * lifecycle gap where [[applyDelta]]'s selective rebuilds preserve the
    * build-time shard count forever. Cost: one full build (what the
    * store cost initially) — the operation applyDelta amortizes away
    * until [[shardStats]] says otherwise. The rebuild is [[writeIndex]]'s
    * whole-store replace: it reads the live store into a complete staged
    * store (data + sidecar), which then swaps in.
    */
  def reshard(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nShards: Int = 0): StoreMeta = {
    Store.recover(spark.sparkContext.hadoopConfiguration, path)
    val meta = readMeta(spark, path)
    val rows = spark.read.parquet(path).select(col("id"), col("vec"))
    val target = if (nShards > 0) nShards else shardsFor(rows.count())
    writeIndex(rows, "vec", "id", path, target, meta.m, meta.efConstruction)
    StoreMeta(target, meta.m, meta.efConstruction)
  }

  /** Measure → decide → act for the shard budget: closes [[shardStats]]'s
    * loop (stats REPORT "over budget" but nothing asked — the same gap
    * [[Skew.autoAggregate]] closes for shuffle keys). The decision is a
    * pure function of the TOTAL row count, so an independent engine
    * replays it: `target = ⌈total / rowsPerShard⌉`, reshard iff
    * `target != nShards` (an under-provisioned store splits — per-task
    * build memory and graph quality are what the budget bounds; an
    * over-provisioned one merges — the search-side candidate bound is
    * nShards·k, so dead shards cost merge work forever). Per-shard
    * occupancy is hash-routing-dependent and deliberately NOT part of the
    * decision: near-uniform routing makes total-count the same signal,
    * and the policy stays engine-replayable. [[shardStats]] remains the
    * detailed per-shard view for operators.
    *
    * Acts in place via [[reshard]] (one full build — the cost
    * [[applyDelta]] amortizes away until this policy says otherwise) and
    * returns a 1-row report: (decision, total_nodes, n_shards_before,
    * n_shards_after). `rowsPerShard` defaults to the global
    * [[RowsPerShard]] budget; override to tune (or to test).
    */
  def maintain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      rowsPerShard: Long = RowsPerShard): DataFrame = {
    require(rowsPerShard >= 1L, s"rowsPerShard must be positive: $rowsPerShard")
    Store.recover(spark.sparkContext.hadoopConfiguration, path)
    val meta   = readMeta(spark, path)
    val total  = spark.read.parquet(path).select(col("id")).count()
    val target = math.max(1L, (total + rowsPerShard - 1) / rowsPerShard).toInt
    val decision = if (target != meta.nShards) "reshard" else "noop"
    if (decision == "reshard") reshard(spark, path, target)
    import spark.implicits._
    Seq((decision, total, meta.nShards, if (decision == "reshard") target else meta.nShards))
      .toDF("decision", "total_nodes", "n_shards_before", "n_shards_after")
  }

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def indexRoot(df: DataFrame): String =
    df.sparkSession.conf.getOption("graft.hnsw.root")
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft-hnsw/${java.util.UUID.randomUUID.toString.take(8)}")

  /** Query a stored index: co-locate each shard's rows (one hash shuffle on
    * `shard` — a scan SPLIT does not respect shard-directory boundaries, so
    * without it a task would see half a graph), reconstruct the graphs of
    * the shards a task holds, beam-search them, and merge the ≤ nShards·k
    * candidates via `TakeOrderedAndProject`. A caller issuing MANY queries
    * against one store should persist `colocated(index)` once and pass that
    * — the cached partitioning is reused and the per-query shuffle
    * disappears.
    *
    * FILTERED search (the reference's canonical query is filtered k-NN —
    * backend/vector_db.py:131-170, where Qdrant evaluates payload filters
    * inside the HNSW traversal): pass `filters` (predicates over the
    * `payload` frame, which must carry `idCol` plus the filter columns —
    * the graph store itself holds only ids + vectors). The plan is chosen
    * by [[Search.cardinalityGate]], Qdrant's own device:
    *
    *  1. one column-pruned payload scan estimates selectivity
    *     (total vs pass count in a single aggregate);
    *  2. selective predicates — where the beam width needed to surface
    *     `efSearch` allowed rows, max(efSearch,k) widened by 1/sel,
    *     exceeds `maxEf` (the gate's cap is `maxEf + 1`) — and predicates
    *     nothing passes run EXACT: semi-join the store's (id, vec) rows
    *     against the allowed ids and brute-force top-k (cheap precisely
    *     because few rows pass; result is exact by construction, no recall
    *     cliff);
    *  3. broad predicates run the filter-aware beam: allowed ids
    *     semi-join a COLUMN-PRUNED (shard, ord, id) projection of the
    *     store (vectors and adjacency never move through the flag join),
    *     and the resulting NARROW (shard, ord) flag rows UNION with the
    *     store rows into ONE explicit `repartition(shard)` — [[knnJoin]]'s
    *     device — so every shard's nodes and flags land in one task by
    *     construction. Each shard's traversal passes THROUGH blocked
    *     nodes but admits only allowed ones to its beam
    *     ([[searchGraphFiltered]]), with the beam width oversampled to
    *     that same widened width so the expected allowed mass in the beam
    *     stays ≥ efSearch.
    *
    *     Round-14 note — why this REPLACED the round-13 formulation that
    *     LEFT-JOINED the flags onto the store on (shard, ord): under
    *     Spark's default `requireAllClusterKeysForCoPartition=true`, two
    *     sides hash-partitioned on `shard` alone do NOT count as
    *     co-partitioned for a (shard, ord)-keyed join, and
    *     EnsureRequirements REWRITES the user repartitions to
    *     hash(shard, ord) — silently spreading each shard across
    *     partitions (the graph rebuild's correctness invariant) and
    *     moving the wide rows anyway; with the defensive re-assert that
    *     kept it correct, the join formulation paid TWO wide shuffles
    *     (measured 16.1 s vs 4.5 s claimed at the 768-d/100k tier). The
    *     small-scale plan looked fine because the flags side BROADCASTS
    *     below the join threshold — the zero-exchange property was an
    *     estimate-size artifact, not a guarantee. The union device pays
    *     exactly ONE wide exchange (REPARTITION_BY_COL — never rewritten,
    *     no downstream requirement to rewrite toward; never skew-split,
    *     AQE only splits ENSURE_REQUIREMENTS shuffles), the same
    *     co-locating exchange the unfiltered path pays on an
    *     un-colocated store.
    *
    * `selectivityHint` (0, 1] skips step 1's estimate scan entirely — a
    * caller issuing many queries with a known-selectivity predicate class
    * against a standing store (THE repeated-query pattern) pays no
    * payload aggregate at construction time; the hint picks the branch
    * and the oversample factor, correctness is unaffected (the exact
    * branch is exact by construction, the beam branch's flags still come
    * from the true predicate).
    *
    * With `filters` empty the body is the pre-filter implementation
    * verbatim — no payload scan, no join, same physical plan.
    */
  def searchIndex(
      index: DataFrame,
      queryVec: Seq[Double],
      idCol: String,
      k: Int,
      efSearch: Int = 64,
      filters: Seq[Column] = Nil,
      payload: DataFrame = null,
      maxEf: Int = 4096,
      selectivityHint: Double = Double.NaN,
  ): DataFrame = {
    val spark = index.sparkSession
    val q     = queryVec.toArray
    import spark.implicits._
    if (filters.isEmpty) {
      val candidates = colocated(index)
        .mapPartitions { rows =>
          rows.toSeq.groupBy(_.getLong(0)).iterator.flatMap { case (_, nodeRows) =>
            searchGraph(graphOf(nodeRows), q, k, efSearch).iterator
          }
        }
        .toDF(idCol, "score")
      return candidates.orderBy(desc("score"), col(idCol)).limit(k)
    }
    require(payload != null,
      "filtered searchIndex needs the payload frame carrying idCol + the filter columns " +
        "(the graph store holds only ids and vectors)")
    val pred = filters.reduce(_ && _)
    val gate = Search.cardinalityGate(payload, pred, selectivityHint, math.max(efSearch, k), maxEf + 1L)
    val allowed = payload.where(pred).select(col(idCol).cast("long").as("id"))
    if (gate.isEmpty) {
      // exact branch: few rows pass, so hydrate just those and scan them
      Search.topK(
        index.select(col("id"), col("vec")).join(allowed, Seq("id"), "left_semi"),
        "vec", "id", queryVec, k)
        .select(col("id").as(idCol), col("score"))
    } else {
      val efF = gate.get
      // UNION DEVICE ([[knnJoin]]'s shape — see the scaladoc's round-14
      // note for why this replaced the flag-JOIN formulation): allowed-node
      // flags are computed on a COLUMN-PRUNED (shard, ord, id) projection
      // of the store (the id semi-join never moves vectors or adjacency),
      // then the narrow flag rows union with the store rows into ONE
      // explicit shard repartition — shard-locality of nodes AND flags is
      // guaranteed by construction, immune to join-strategy and
      // co-partitioning planning at any scale. kinds: 0 = store row,
      // 2 = allowed-flag marker (knnJoin's encoding).
      val flagRows = pinnedStore(index)
        .select(col("shard"), col("ord"), col("id"))
        .join(allowed, Seq("id"), "left_semi")
        .select(col("shard"), col("ord"), lit(0L).as("id"), lit(0).as("level"),
          typedLit(Seq.empty[Double]).as("vec"), typedLit(Seq.empty[Seq[Int]]).as("links"),
          lit(0).as("entry"), lit(0).as("max_level"), lit(2).as("__kind"))
      val unioned = pinnedStore(index).withColumn("__kind", lit(0))
        .unionByName(flagRows)
        .repartition(col("shard"))
      val candidates = unioned
        .mapPartitions { rows =>
          rows.toSeq.groupBy(_.getLong(0)).iterator.flatMap { case (_, shardRows) =>
            val byKind   = shardRows.groupBy(_.getInt(8))
            val nodeRows = byKind.getOrElse(0, Seq.empty)
            if (nodeRows.isEmpty) Iterator.empty
            else {
              val g  = graphOf(nodeRows)
              val ok = new java.util.BitSet(g.size)
              byKind.getOrElse(2, Seq.empty).foreach(r => ok.set(r.getInt(1)))
              searchGraphFiltered(g, q, k, efF, ok).iterator
            }
          }
        }
        .toDF(idCol, "score")
      candidates.orderBy(desc("score"), col(idCol)).limit(k)
    }
  }

  /** Batch ANN — the k-NN JOIN against a sharded HNSW store: every query
    * row gets its top-k from the union of all shards' beam searches. HNSW
    * shards are id-hash routed, not geometry-routed, so EVERY shard is a
    * candidate source — the per-query candidate bound stays nShards·k,
    * the single-query contract. [[Ivf.knnJoin]]'s shape with the probe
    * fan-out replaced by shard fan-out:
    *
    *  1. each query row replicates once per shard — |q|·nShards NARROW
    *     (shard, qid, qvec) rows, never a driver collect (a pipeline's
    *     query side can outgrow any broadcast);
    *  2. one co-locating exchange on shard unions them with the store
    *     rows — the same exchange the single-query path pays, amortized
    *     here across the whole batch;
    *  3. per task: rebuild each shard's graph ONCE, beam-search every
    *     query routed to it (graph reconstruction amortizes across the
    *     batch — the win over |q| separate searchIndex calls);
    *  4. per-query merge via the map-side-combined [[graft.functions
    *     .TopKScored]] aggregate — the final shuffle carries ≤ k rows
    *     per (query, shard).
    *
    * Output: (query_id, neighbor_id, score, rank), [[Search.knnJoin]]'s
    * contract (rank 1 = best; ties by id via the aggregate's ordering).
    *
    * FILTERED batch search — [[searchIndex]]'s cardinality gate applied
    * to the whole batch: `filters` over `payload` (which must carry
    * `payloadIdCol` + the filter columns). Selective predicates route to
    * the EXACT branch (allowed-id semi-join on the store, brute-force
    * [[Search.knnJoin]] over the survivors — cheap because few rows
    * pass); broad predicates ride the shard fan-out with narrow
    * (shard, ord) flag rows and per-shard [[searchGraphFiltered]] beams
    * oversampled to max(efSearch,k) widened by 1/sel. One gate decision per
    * BATCH (the predicate is shared), so the estimate scan amortizes
    * across every query — `selectivityHint` skips it entirely.
    */
  def knnJoin(
      index: DataFrame,
      queries: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      efSearch: Int = 64,
      excludeSelf: Boolean = true,
      filters: Seq[Column] = Nil,
      payload: DataFrame = null,
      payloadIdCol: String = "id",
      maxEf: Int = 4096,
      selectivityHint: Double = Double.NaN,
  ): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    var efF      = efSearch
    var flagRows: DataFrame = null
    if (filters.nonEmpty) {
      require(payload != null,
        "filtered knnJoin needs the payload frame carrying payloadIdCol + the filter columns " +
          "(the graph store holds only ids and vectors)")
      val pred = filters.reduce(_ && _)
      val allowed = payload.where(pred).select(col(payloadIdCol).cast("long").as("id"))
      Search.cardinalityGate(payload, pred, selectivityHint, math.max(efSearch, k), maxEf + 1L) match {
        case None =>
          // exact branch: few rows pass — hydrate just those and run the
          // brute-force batch join over the survivors. Query ids pre-cast to
          // long so BOTH gate branches emit one schema; Search.knnJoin drops
          // null-scored rows itself, matching the probe branch's null guard.
          return Search.knnJoin(
            queries.select(col(queryIdCol).cast("long").as(queryIdCol), col(queryVecCol)),
            index.select(col("id").cast("long").as("id"), col("vec"))
              .join(allowed, Seq("id"), "left_semi"),
            queryVecCol, queryIdCol, "vec", "id", k, excludeSelf)
        case Some(w) => efF = w
      }
      // narrow allowed-node flags, same column-pruned semi-join as
      // searchIndex's broad branch — vectors/adjacency never move here
      flagRows = pinnedStore(index)
        .select(col("shard"), col("ord"), col("id"))
        .join(allowed, Seq("id"), "left_semi")
        .select(col("shard"), col("ord"), lit(0L).as("id"), lit(0).as("level"),
          typedLit(Seq.empty[Double]).as("vec"), typedLit(Seq.empty[Seq[Int]]).as("links"),
          lit(0).as("entry"), lit(0).as("max_level"),
          lit(0L).as("__qid"), lit(2).as("__kind"))
    }
    val filtered = flagRows != null
    // bounded collect: one value per shard (the same class of collect as
    // the shard-id lists in applyDelta), never data rows
    val shardIds = pinnedStore(index).select(col("shard")).distinct().as[Long].collect().toSeq
    val fanned = queries
      .select(col(queryIdCol).cast("long").as("__qid"),
        col(queryVecCol).cast("array<double>").as("vec"))
      // null id / null vector rows drop here (the brute-force knnJoin's
      // cosine would null them out; the positional getters in the task
      // would NPE instead — same outcome, minus the crashed job)
      .where(col("__qid").isNotNull && col("vec").isNotNull)
      .withColumn("shard", explode(typedLit(shardIds)))
      .select(col("shard"), lit(0).as("ord"), lit(0L).as("id"), lit(0).as("level"),
        col("vec"), typedLit(Seq.empty[Seq[Int]]).as("links"),
        lit(0).as("entry"), lit(0).as("max_level"),
        col("__qid"), lit(1).as("__kind"))
    val store = pinnedStore(index)
      .withColumn("__qid", lit(0L)).withColumn("__kind", lit(0))
    val unioned = (if (filtered) store.unionByName(flagRows) else store)
      .unionByName(fanned)
      .repartition(col("shard"))
    val effEf = efF
    val cand = unioned
      .mapPartitions { rows =>
        rows.toSeq.groupBy(_.getLong(0)).iterator.flatMap { case (_, shardRows) =>
          val byKind   = shardRows.groupBy(_.getInt(9))
          val qRows    = byKind.getOrElse(1, Seq.empty)
          val nodeRows = byKind.getOrElse(0, Seq.empty)
          if (qRows.isEmpty) Iterator.empty
          else {
            val g = graphOf(nodeRows)
            // k+1 when self-excluding: the query's own row can occupy one
            // slot of its home shard's top-k, displacing the true #k
            val perShard = if (excludeSelf) k + 1 else k
            val ok =
              if (!filtered) null
              else {
                val bs = new java.util.BitSet(g.size)
                byKind.getOrElse(2, Seq.empty).foreach(r => bs.set(r.getInt(1)))
                bs
              }
            qRows.iterator.flatMap { qr =>
              val qid = qr.getLong(8)
              val qv  = qr.getSeq[Double](4).toArray
              val hits =
                if (filtered) searchGraphFiltered(g, qv, perShard, effEf, ok)
                else searchGraph(g, qv, perShard, effEf)
              hits.iterator.map { case (id, s) => (qid, id, s) }
            }
          }
        }
      }
      .toDF("query_id", "neighbor_id", "score")
    Search.rankedPerQuery(
      cand.where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)), k)
  }

  /** The store with every shard's rows in one partition (hash on `shard`;
    * several shards may share a partition — [[searchIndex]] groups in the
    * task). Already-colocated frames pass through unchanged, so
    * `searchIndex(colocated(idx).persist(), ...)` shuffles once across any
    * number of queries.
    */
  /** The store with its 8 columns pinned to the types [[graphOf]] reads
    * positionally (the shard partition column is type-inferred on read).
    */
  private def pinnedStore(index: DataFrame): DataFrame =
    index.select(col("shard").cast("long"), col("ord"), col("id"), col("level"),
      col("vec"), col("links"), col("entry"), col("max_level"))

  def colocated(index: DataFrame): DataFrame = {
    val pinned = pinnedStore(index)
    // sparkPlan, NOT executedPlan: with AQE on, executedPlan is an
    // AdaptiveSparkPlanExec LEAF whose outputPartitioning is
    // UnknownPartitioning(0) before execution, so the old executedPlan
    // read made this check ALWAYS false under AQE — every call silently
    // re-shuffled an already-colocated (e.g. persisted) store. The
    // pre-adaptive physical plan reports the static layout.
    val already =
      try index.queryExecution.sparkPlan.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.map(_.sql.toLowerCase(java.util.Locale.ROOT)).exists(_.contains("shard"))
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false }
    if (already) pinned else pinned.repartition(col("shard"))
  }

  /** Rebuild one shard's [[Graph]] from its store rows. */
  private def graphOf(nodeRows: Seq[Row]): Graph = {
    val sorted = nodeRows.sortBy(_.getInt(1)) // by ord
    val n      = sorted.length
    val ids    = new Array[Long](n)
    val vecs   = new Array[Array[Double]](n)
    val levels = new Array[Int](n)
    val links  = new Array[Array[Array[Int]]](n)
    var entry    = 0
    var maxLevel = 0
    var i = 0
    while (i < n) {
      val r = sorted(i)
      require(r.getInt(1) == i, s"store hole: expected ord $i, got ${r.getInt(1)}")
      ids(i) = r.getLong(2)
      levels(i) = r.getInt(3)
      vecs(i) = r.getSeq[Double](4).toArray
      links(i) = r.getSeq[scala.collection.Seq[Int]](5).map(_.toArray).toArray
      entry = r.getInt(6)
      maxLevel = r.getInt(7)
      i += 1
    }
    new Graph(ids, vecs, levels, links, entry, maxLevel)
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Scalar int8 quantization (SQ8) for embedding columns — the standard
  * memory-bound-ANN storage trick: each vector stores as one int8 code per
  * dimension (4× smaller than float32, 8× smaller than float64), and
  * queries compare against codes directly. The reference keeps full-
  * precision vectors in its store (backend/vector_db.py:41); SQ8 is the
  * scale path a 100 TB corpus needs — the difference between an embedding
  * table that fits executor memory and one that doesn't.
  *
  * Per-vector SYMMETRIC quantization on purpose:
  *  - `code_i = floor(v_i / s · 127 + 0.5)` with `s = max_i |v_i|` —
  *    pure codegen'd higher-order expressions, no fitted state, and
  *    IEEE-reproducible 1:1 in the DuckDB oracle (same ops, same order);
  *  - under COSINE the per-vector scale cancels exactly (cos(q, v/s) =
  *    cos(q, v)), so searching codes against a full-precision query
  *    (asymmetric comparison, ADC-style) loses only the ±0.5-step
  *    rounding error per component — no scale metadata needed at query
  *    time. Dot-product or L2 consumers must multiply back `sq8Scale`.
  *
  * Zero vectors code to all-zero (a 0/0 division would NaN-poison the
  * codes; cosine against a zero vector is undefined either way and
  * [[graft.functions.CosineSimilarity]] already guards it).
  */
object Quant {

  /** int8 code array ([-127, 127]) for one embedding column (the codegen'd
    * [[graft.functions.Sq8]] expression — one loop per row).
    */
  def sq8Codes(v: Column): Column =
    graft.functions.VectorExpressions.sq8(v).getField("codes")

  /** The per-vector scale (max |component|) — needed only by non-cosine
    * consumers to dequantize: `v_i ≈ code_i / 127 · scale`.
    */
  def sq8Scale(v: Column): Column =
    graft.functions.VectorExpressions.sq8(v).getField("scale")

  /** Declarative HOF reference implementation — the ScalaCheck parity
    * oracle for [[graft.functions.Sq8]] (and the 1:1 shape the DuckDB
    * oracle SQL mirrors). Two hazards make it unfit for the hot path,
    * both measured by the 768-d tier in SCALE.md: interpreted per-element
    * lambdas (3 HOFs × dim boxed closure calls per row), and — if the
    * scale expression is referenced inside the per-element lambda rather
    * than bound once — O(dim²) re-evaluation per row.
    */
  private[graft] def sq8CodesHof(v: Column): Column =
    element_at(
      transform(array(array_max(transform(v, x => abs(x)))), s =>
        when(s === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v, x => floor(x / s * 127 + 0.5).cast("int")))), 1)

  /** Driver-side query quantization — the ROUTING companion for searches
    * against an SQ8-indexed store. An IVF index fitted ON CODES has
    * centroids in code space (norms ~127·√dim·E|u|), so ranking them by L2
    * against a raw float query (norm ~1) degenerates to ranking by
    * centroid NORM: the −2·q·c term that carries the direction signal is
    * orders of magnitude under the ‖c‖² term. Measured, not hypothetical —
    * the 768-d/100k tier's 50%-filtered probe in SCALE.md (62 of 316 lists)
    * recalled 0/10 with float routing and ≥8/10 with the query mapped into
    * the same code space first. Pass this as `routeVec` to [[Ivf.search]];
    * SCORING should stay float-precision (asymmetric, the scale cancels
    * under cosine) — only the routing needs the space match.
    */
  def sq8QueryCodes(q: Seq[Double]): Seq[Double] = {
    val s = q.foldLeft(0.0)((m, x) => math.max(m, math.abs(x)))
    if (s == 0.0) q.map(_ => 0.0)
    else q.map(x => math.floor(x / s * 127 + 0.5))
  }

  /** Quantize an embedding table: adds `codes` (int8 range) and `scale`.
    * Written to parquet the codes column is the 4–8× storage win; keep the
    * original embedding column out of the projection for stores that
    * serve search from codes alone. The struct lands as ONE materialized
    * column so the single-pass quantizer runs once per row even though two
    * fields are extracted.
    */
  def sq8Table(df: DataFrame, embCol: String, codesCol: String = "codes", scaleCol: String = "scale"): DataFrame = {
    val names = df.columns.toSet
    Seq(codesCol, scaleCol, "__sq8").foreach(c => require(!names.contains(c), s"input already has a '$c' column"))
    val v = col(embCol).cast("array<double>")
    df.withColumn("__sq8", graft.functions.VectorExpressions.sq8(v))
      .withColumn(codesCol, col("__sq8.codes"))
      .withColumn(scaleCol, col("__sq8.scale"))
      .drop("__sq8")
  }

  /** Cosine top-k over a quantized table: codes compare directly against
    * the full-precision query (per-vector scale cancels). Same plan shape
    * as [[Search.topK]] — scan + codegen cosine + TakeOrderedAndProject —
    * but the scanned bytes are the int8 codes.
    */
  def topKOnCodes(
      quantized: DataFrame,
      codesCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      filters: Seq[Column] = Nil,
  ): DataFrame = {
    require(!quantized.columns.contains("__sq8_d"), "input already has a '__sq8_d' column")
    // flat scan, so filters stay EXACT (plain pushed wheres — the same
    // contract as Search.topK; the reference's filter interface,
    // backend/vector_db.py:131-170). The pruned-probe quantized paths get
    // the cardinality gate instead (Ivf.search / Pq.searchIvfPq).
    Search.topK(
      quantized.withColumn("__sq8_d", col(codesCol).cast("array<double>")),
      "__sq8_d", idCol, query, k, filters,
    ).drop("__sq8_d")
  }

  /** Binary-quantize an embedding table: adds a packed sign-bit code column
    * (array<long>, 64 dims per word — 64× smaller than float64). Stored to
    * parquet this is the candidate-generation column for
    * [[topKBinaryRerank]]; keep the float column out of the code store's
    * projection and hydrate it per-candidate instead.
    */
  def bqTable(df: DataFrame, embCol: String, bitsCol: String = "bq"): DataFrame = {
    require(!df.columns.contains(bitsCol), s"input already has a '$bitsCol' column")
    df.withColumn(bitsCol,
      graft.functions.VectorExpressions.binarySign(col(embCol).cast("array<double>")))
  }

  /** Two-stage binary-quantized search (the RaBitQ/BQ shape every
    * memory-bound vector store ships): Hamming top-`nCandidates` over the
    * packed sign bits, then exact cosine rerank of the survivors.
    *
    * Plan shape — the 100 TB story:
    *  1. candidate scan reads ONLY (id, packed codes) — 64× fewer vector
    *     bytes than a float scan; `filters` are plain `where`s so they
    *     push to parquet. Hamming is one codegen'd xor+popcount loop and
    *     the top-C plans as `TakeOrderedAndProject` (per-partition heap +
    *     driver merge, no sort, no shuffle of the corpus);
    *  2. the ≤C candidate ids broadcast back onto the full-precision table
    *     (broadcast hash join — the corpus side never shuffles) and the
    *     exact [[Search.topK]] scores just those C rows.
    *
    * Both stages tie-break on `idCol`, so the result is deterministic and
    * the DuckDB oracle replays the exact two-stage plan (not brute force —
    * a candidate-miss is a real recall regression, and the oracle would
    * catch a packing/popcount bug as a different candidate set).
    */
  def topKBinaryRerank(
      table: DataFrame,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nCandidates: Int,
      filters: Seq[org.apache.spark.sql.Column] = Nil,
  ): DataFrame = {
    require(nCandidates >= k, s"nCandidates ($nCandidates) must be >= k ($k)")
    Seq("__bq", "__ham").foreach(c =>
      require(!table.columns.contains(c), s"input already has a '$c' column"))
    val filtered = filters.foldLeft(table)((df, f) => df.where(f))
    val qBits = graft.functions.BinarySign.packQuery(query)
    val candIds = bqTable(filtered, vecCol, "__bq")
      .withColumn("__ham",
        graft.functions.VectorExpressions.hammingFast(col("__bq"), typedLit(qBits)))
      .orderBy(col("__ham"), col(idCol))
      .limit(nCandidates)
      .select(idCol)
    Search.topK(
      table.join(broadcast(candIds), Seq(idCol)), vecCol, idCol, query, k)
  }
}

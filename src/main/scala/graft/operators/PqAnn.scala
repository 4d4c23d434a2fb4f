package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import org.apache.spark.sql.GraftColumnBridge

/** Product-quantization ANN (Jégou et al., TPAMI 2011) — the
  * MEMORY-bounded scale path beside the latency-bounded ones
  * ([[Ann.lshTopK]] buckets, [[IvfAnn]] cell pruning): each corpus vector
  * compresses to `m` centroid ids (m·4 bytes here vs dim·4 floats — 8
  * ints for a 64-dim vector, and the ids fit bytes when k ≤ 256), so a
  * 100 TB embedding corpus's index fits a fraction of the footprint and
  * search never touches the original vectors. Ranking uses the
  * asymmetric distance (ADC): the query stays exact, the corpus side is
  * its reconstruction — computed straight from the codes by the native
  * [[graft.functions.expressions.PqDot]] without materializing
  * reconstructions.
  *
  * Scale shape:
  *   - TRAIN on a bounded sample (`trainRows` in id order — deterministic,
  *     no RNG), the standard PQ practice (faiss trains on ~10⁵ vectors
  *     regardless of corpus size): m independent Lloyd loops over a
  *     CACHED sample frame, never over the corpus.
  *   - ENCODE is ONE codegen'd projection pass over the corpus
  *     ([[graft.functions.expressions.PqCodes]] — the codebook is a
  *     single plan reference object); the reconstruction norm rides
  *     along, so search needs only (id, code, norm).
  *   - SEARCH is a guarded-broadcast join of the query set against the
  *     coded corpus — per pair work is m table lookups + dsub·m mults,
  *     with no shuffle of the corpus — ranked by the bounded-heap top_k
  *     aggregate. Compose with [[IvfAnn]] cells for sub-linear probing
  *     (IVF-PQ) by encoding each cell's residuals.
  *
  * Approximate by construction: ranks come from reconstructed cosines,
  * so recall < 1 (growing with m and k); [[searchTopK]]'s `rerank`
  * re-scores the ADC top `rerankDepth` against the ORIGINAL vectors and
  * returns exact-cosine order — the standard two-stage recipe.
  */
object PqAnn {

  /** `sub(s)(j)` = centroid j of subspace s (dsub floats each). */
  final case class Codebook(sub: Array[Array[Array[Float]]]) {
    def m: Int = sub.length
    def k: Int = sub(0).length
    def dsub: Int = sub(0)(0).length
  }

  private def pqCodes(vecCol: Column, cb: Codebook): Column =
    GraftColumnBridge.column(graft.functions.expressions.PqCodes(
      GraftColumnBridge.expression(vecCol), cb.sub))

  private def pqDot(qCol: Column, codeCol: Column, cb: Codebook): Column =
    GraftColumnBridge.column(graft.functions.expressions.PqDot(
      GraftColumnBridge.expression(qCol),
      GraftColumnBridge.expression(codeCol), cb.sub))

  private def pqNorm(codeCol: Column, cb: Codebook): Column =
    GraftColumnBridge.column(graft.functions.expressions.PqNorm(
      GraftColumnBridge.expression(codeCol), cb.sub))

  /** Train per-subspace codebooks with Lloyd's iterations over a bounded
    * deterministic sample (first `trainRows` ids). `maxIter = 0` keeps
    * the seed centroids (the first k sample rows' slices) — fully
    * replayable by external engines, which is what the oracle pins.
    * Requires dim % m == 0.
    */
  def train(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int = 16,
      maxIter: Int = 3,
      trainRows: Int = 10000): Codebook = {
    require(m >= 1 && k >= 1 && maxIter >= 0, "pq: m, k >= 1; maxIter >= 0")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pq: dim $dim not divisible by m $m")
    val dsub = dim / m
    val sample = corpus.orderBy(col(idCol)).limit(trainRows)
      .select(col(vecCol).as("__v")).cache()
    try {
      // element type may be float (raw vectors) or double (VecSub
      // residuals); the codebook is float either way (PQ's storage type)
      val seeds = sample.limit(k).collect()
        .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].floatValue).toArray)
      require(seeds.length == k,
        s"pq: need at least k=$k training vectors, got ${seeds.length}")
      val sub = Array.tabulate(m) { s =>
        var cents: Array[Array[Float]] =
          seeds.map(v => v.slice(s * dsub, (s + 1) * dsub))
        val sliceCol = slice(col("__v"), s * dsub + 1, dsub)
        for (_ <- 1 to maxIter) {
          // nearest centroid per sample row, then per-dimension means;
          // k × dsub doubles reach the driver
          val means = sample
            .select(element_at(
                VectorFunctions.nearestCells(sliceCol, cents, 1), 1).as("__c"),
              posexplode(sliceCol))
            .groupBy(col("__c"), col("pos"))
            .agg(avg(col("col")).as("m"))
            .collect()
          val next = cents.map(_.clone())
          means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat)
          cents = next
        }
        cents
      }
      Codebook(sub)
    } finally { sample.unpersist(); () }
  }

  /** One codegen'd pass: (idCol, pq_code array<int>, pq_norm double). */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame = {
    val codes = pqCodes(col(vecCol), cb)
    corpus.select(col(idCol), codes.as("pq_code"))
      .withColumn("pq_norm", pqNorm(col("pq_code"), cb))
  }

  /** ADC top-k per query over the CODED corpus (one row per (query,
    * rank): query_id, neighbor_id, cosine, rank — cosine is the
    * reconstructed approximation). With `rerank`, the ADC top
    * `rerankDepth` join back to `corpus` for exact re-scoring and the
    * final order/cosines are exact.
    */
  def searchTopK(
      encoded: DataFrame,
      cb: Codebook,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Option[(DataFrame, Int)] = None): DataFrame = {
    val q = Broadcasting.broadcastIfSmall(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv")))
    // zero-norm rows (zero reconstruction, or a zero query vector) have
    // no defined cosine — 0/0 = NaN would poison the heap ordering and
    // diverge from the oracle's ORDER BY, so they are excluded up front
    val c = encoded.select(col(idCol).as("neighbor_id"),
        col("pq_code").as("__code"), col("pq_norm").as("__rn"))
      .filter(col("__rn") > 0.0)
    val scored = q
      .filter(VectorFunctions.dot(col("__qv"), col("__qv")) > 0.0)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (pqDot(col("__qv"), col("__code"), cb) /
          (sqrt(VectorFunctions.dot(col("__qv"), col("__qv"))) * col("__rn")))
          .as("__cos"))
    rerank match {
      case None => Ann.rankTopK(scored, k)
      case Some((corpus, depth)) =>
        require(depth >= k, s"pq: rerankDepth $depth < k $k")
        val cand = Ann.rankTopK(scored, depth)
          .select(col("query_id"), col("neighbor_id"))
        val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        Ann.rankTopK(
          cand.join(qv, "query_id").join(cv, "neighbor_id")
            .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("__qv"), col("__cv")).as("__cos")),
          k)
    }
  }

  // ---- IVF-PQ: cell pruning × code compression ---------------------------

  /** IVF-PQ index: coarse cells from [[IvfAnn]]'s deterministic k-means,
    * PQ codebooks trained on the RESIDUALS (vector − its cell centroid —
    * residuals are smaller and more isotropic than raw vectors, so the
    * same k quantizes them better; the standard faiss `IVFx,PQy` recipe).
    * `encoded` holds (id, centroid_id, pq_code, recon_norm) — the
    * reconstruction is centroid + decoded residual, and its norm is
    * derived at encode time from ‖c‖² + 2·adot(c, code) + rnorm(code)²
    * without materializing anything.
    */
  final case class IvfPqIndex(
      cells: Array[Array[Float]], cb: Codebook, encoded: DataFrame)

  /** Coarse-quantize, compute residuals (ONE broadcast join + the native
    * [[graft.functions.expressions.VecSub]] pass), train PQ on a bounded
    * residual sample, and encode the corpus.
    */
  def buildIvfPq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      m: Int,
      k: Int = 16,
      cellIter: Int = 3,
      pqIter: Int = 3,
      trainRows: Int = 10000): IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val ivf = IvfAnn.build(corpus, idCol, vecCol, nCells, cellIter)
    val centFrame = broadcast(ivf.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("centroid_id", "__cvec"))
    val withRes = ivf.assigned.join(centFrame, "centroid_id")
      .withColumn("__res", VectorFunctions.vecSub(col(vecCol), col("__cvec")))
    val cb = train(withRes, idCol, "__res", m, k, pqIter, trainRows)
    val encoded = withRes
      .withColumn("pq_code", pqCodes(col("__res"), cb))
      .select(col(idCol), col("centroid_id"), col("pq_code"),
        // greatest(·, 0): ‖c+r‖² is mathematically ≥ 0 but the three-term
        // double sum can land at -ε when the reconstruction is ~0
        sqrt(greatest(
          VectorFunctions.dot(col("__cvec"), col("__cvec")) +
            lit(2.0) * pqDot(col("__cvec"), col("pq_code"), cb) +
            pqNorm(col("pq_code"), cb) * pqNorm(col("pq_code"), cb),
          lit(0.0))).as("recon_norm"))
    IvfPqIndex(ivf.centroids, cb, encoded)
  }

  /** Persist an IVF-PQ index as one [[graft.sources.IndexStore]]
    * version: cells and codebook as tiny parquets
    * (model-sized — nCells·dim and m·k·dsub floats), the ENCODED corpus
    * partitioned by `centroid_id` — so [[searchIvfPq]] over the loaded
    * index prunes its cell equi-join to exactly the probed cells'
    * partition directories at scan time (the [[IvfAnn.save]] layout, at
    * PQ-code footprint: m ints + a double per vector instead of dim
    * floats). Build once per corpus version; serve searches from the
    * layout.
    */
  def saveIvfPq(
      spark: org.apache.spark.sql.SparkSession, index: IvfPqIndex, dir: String): Unit = {
    import spark.implicits._
    val cbRows = for {
      s <- 0 until index.cb.m
      j <- 0 until index.cb.k
    } yield (s, j, index.cb.sub(s)(j).toSeq)
    graft.sources.IndexStore.save(spark, dir, "saveIvfPq", Map.empty)(
      IvfAnn.centroidArtifact(spark, "cells", index.cells),
      "codebook" -> (p => cbRows.toDF("sub", "cent", "vec").coalesce(1).write.parquet(p)),
      // cluster rows onto their cells first: one file per cell instead of
      // every task writing into every cell directory
      "encoded" -> (p => index.encoded.repartition(col("centroid_id"))
        .write.partitionBy("centroid_id").parquet(p)))
    ()
  }

  /** Reload a [[saveIvfPq]]-persisted index. The encoded side comes back
    * partition-pruned: [[searchIvfPq]]'s centroid_id equi-join lets Spark
    * skip every unprobed cell directory (spec-asserted via the plan's
    * partition filters).
    */
  def loadIvfPq(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqIndex = {
    val head = graft.sources.IndexStore.head(spark, dir)
    val cells = IvfAnn.readCentroids(spark, head, "cells")
    val cbRows = head.read(spark, "codebook")
      .orderBy(col("sub"), col("cent")).collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val k = cbRows.map(_.getInt(1)).max + 1
    val sub = Array.ofDim[Array[Float]](m, k)
    cbRows.foreach { r =>
      sub(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    IvfPqIndex(cells, Codebook(sub), head.read(spark, "encoded"))
  }

  /** ADC top-k probing the `nProbe` nearest cells: queries explode to
    * (query, cell) and EQUI-join the coded corpus on centroid_id — the
    * same pruning join as [[IvfAnn.topK]] (partition-prunable when the
    * encoded frame is saved partitioned by cell), with per-row work of m
    * lookups instead of a dim-float cosine. The numerator needs no query
    * residual: dot(q, c + decode(code)) = dot(q, c) + adot(q, code) —
    * dot(q, c) is computed once per (query, cell).
    */
  /** With `rerank = Some((corpus, depth))`, the ADC top `depth` per query
    * re-score against the ORIGINAL vectors and the final order/cosines
    * are exact — the same two-stage recipe as [[searchTopK]], composed
    * with cell pruning (faiss `IVFx,PQy` + refine).
    */
  def searchIvfPq(
      index: IvfPqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      rerank: Option[(DataFrame, Int)] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centFrame = broadcast(index.cells.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("centroid_id", "__cvec"))
    val q = queries.select(
        col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(VectorFunctions.nearestCells(
          col(vecCol), index.cells, nProbe)).as("centroid_id"))
      .join(centFrame, "centroid_id")
      .withColumn("__qc", VectorFunctions.dot(col("__qv"), col("__cvec")))
      .withColumn("__qn", sqrt(VectorFunctions.dot(col("__qv"), col("__qv"))))
      .drop("__cvec")
    // static cell pruning, only when it can pay: for a [[loadIvfPq]]
    // index (encoded = a bare file relation) the probed cell set — at
    // most nCells ids regardless of query batch size, so the collect is
    // model-sized — becomes an isin PARTITION FILTER and the scan reads
    // only the probed cells' directories (spec-asserted; no reliance on
    // runtime dynamic partition pruning firing). For an in-memory
    // encoded frame there are no directories to skip, and the extra
    // probe job would re-run the encode pipeline — skip it, the
    // centroid_id equi-join alone carries the restriction.
    val fileBacked = index.encoded.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    val enc0 = index.encoded.withColumnRenamed(idCol, "neighbor_id")
    val enc =
      if (!fileBacked) enc0
      else {
        val probed = q.select(col("centroid_id")).distinct()
          .collect().map(_.getInt(0)).toSeq
        enc0.filter(col("centroid_id").isin(probed: _*))
      }
    // zero norms excluded for the same reason as searchTopK: NaN cosines
    // have no defined rank
    val scored = Broadcasting
      .broadcastIfSmall(q.filter(col("__qn") > 0.0))
      .join(enc.filter(col("recon_norm") > 0.0),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ((col("__qc") + pqDot(col("__qv"), col("pq_code"), index.cb)) /
          (col("__qn") * col("recon_norm"))).as("__cos"))
    rerank match {
      case None => Ann.rankTopK(scored, k)
      case Some((corpus, depth)) =>
        require(depth >= k, s"ivfpq: rerankDepth $depth < k $k")
        val cand = Ann.rankTopK(scored, depth)
          .select(col("query_id"), col("neighbor_id"))
        val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__rqv"))
        val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__rcv"))
        Ann.rankTopK(
          cand.join(qv, "query_id").join(cv, "neighbor_id")
            .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosine(col("__rqv"), col("__rcv")).as("__cos")),
          k)
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.IndexStore

/** IVF (inverted-file) approximate nearest neighbor — the classic
  * clustered-index scale path, complementing `Ann.lshTopK`:
  *
  *   1. BUILD (amortized): Lloyd's k-means over the corpus →
  *      `nCentroids` centroids; every corpus vector is assigned to its
  *      nearest centroid. The assigned corpus is the "inverted file":
  *      partitionable and persistable by `centroid_id`.
  *   2. SEARCH: each query computes its distance to every centroid (the
  *      matrix ships to executors once, as a plan reference object),
  *      keeps the `nProbe` nearest cells, and ranks exact cosine only
  *      against corpus vectors in those cells — an equi-join on
  *      `centroid_id`, i.e. ~`nProbe`/`nCentroids` of the corpus per
  *      query instead of all of it.
  *
  * K-means is hand-rolled in DataFrame ops rather than MLlib: assignment
  * is the native `NearestCells` expression — the centroid matrix is ONE
  * codegen reference object, so plan size is O(1) in `nCentroids` and the
  * index can use the thousands of cells a real inverted file needs
  * (per-centroid literal expressions would blow Janino limits at ~10²·dim
  * nodes). The centroid update is one posexplode + per-dimension avg
  * (only `nCentroids × dim` doubles ever reach the driver).
  * Deterministic: seeded by the first `nCentroids` rows in id order, no
  * RNG. (MLlib's KMeans also drags in Kryo reflection that requires
  * `--add-opens java.base/java.nio` — a launcher fragility this library
  * should not impose.)
  *
  * Ranking uses the bounded-heap `top_k` aggregate (TopKAgg), so nothing
  * is globally sorted.
  */
object IvfAnn {

  final case class Index(centroids: Array[Array[Float]], assigned: DataFrame)

  /** column: id of the centroid nearest to `vecCol`. */
  private def nearestCentroid(vecCol: String, centroids: Array[Array[Float]]) =
    element_at(VectorFunctions.nearestCells(col(vecCol), centroids, 1), 1)

  /** Fit centroids (Lloyd's iterations) and assign every corpus row to its
    * nearest one.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      maxIter: Int = 5): Index = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    var centroids: Array[Array[Float]] = corpus
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)

    for (_ <- 1 to maxIter) {
      // per-dimension mean of each cell; cells × dim values to the driver
      val means = corpus
        .select(nearestCentroid(vecCol, centroids).as("__c"),
          posexplode(col(vecCol)))
        .groupBy(col("__c"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next
    }

    val assigned = corpus.select(col(idCol), col(vecCol),
      nearestCentroid(vecCol, centroids).as("centroid_id"))
    Index(centroids, assigned)
  }

  /** Persist the index as one [[IndexStore]] version: centroids as a
    * tiny parquet (centroid_id + vector), the assigned corpus PARTITIONED
    * BY centroid_id — so a search that probes nProbe cells prunes to
    * exactly those partition directories at scan time. This is what
    * makes the build amortizable: build once per corpus version, serve
    * searches from the layout.
    */
  def save(spark: org.apache.spark.sql.SparkSession, index: Index, dir: String): Unit = {
    IndexStore.save(spark, dir, "IvfAnn.save", Map.empty)(
      centroidArtifact(spark, "centroids", index.centroids),
      // cluster rows onto their cells first: one file per cell per shuffle
      // partition instead of every task writing into every cell directory
      "assigned" -> (p => index.assigned.repartition(col("centroid_id"))
        .write.partitionBy("centroid_id").parquet(p)))
    ()
  }

  /** `(centroid_id, centroid)` rows as one single-file artifact. */
  private[graft] def centroidArtifact(
      spark: org.apache.spark.sql.SparkSession, name: String,
      centroids: Array[Array[Float]]): IndexStore.Artifact = {
    import spark.implicits._
    name -> (p => centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid").coalesce(1).write.parquet(p))
  }

  /** Centroids of a saved index, in centroid_id order. */
  private[graft] def readCentroids(
      spark: org.apache.spark.sql.SparkSession, head: IndexStore.Head,
      name: String): Array[Array[Float]] =
    head.read(spark, name).orderBy(col("centroid_id")).collect()
      .map(_.getSeq[Float](1).toArray)

  /** Reload a saved index. The assigned side comes back partition-pruned:
    * `topK`'s centroid_id equi-join lets Spark skip every unprobed cell
    * directory.
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    val head = IndexStore.head(spark, dir)
    Index(readCentroids(spark, head, "centroids"), head.read(spark, "assigned"))
  }

  /** Top-k by cosine for each query, probing the `nProbe` nearest cells. */
  def topK(
      index: Index,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(VectorFunctions.nearestCells(col(vecCol), index.centroids, nProbe))
        .as("centroid_id"))

    // queries × nProbe rows — broadcast only while the estimate is small;
    // a big query batch falls back to a shuffle join on centroid_id
    val scored = Broadcasting.broadcastIfSmall(q)
      .join(index.assigned.withColumnRenamed(idCol, "neighbor_id")
        .withColumnRenamed(vecCol, "__cv"), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("__qv"), col("__cv")).as("__cos"))
    Ann.rankTopK(scored, k)
  }
}

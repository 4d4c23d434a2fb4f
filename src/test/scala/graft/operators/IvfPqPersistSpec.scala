package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The persisted IVF-PQ tier (PqAnn.saveIvfPq / loadIvfPq): round-trip
  * fidelity, search equivalence, and — the point of the layout — that a
  * probe-limited search over the loaded index SCANS only the probed
  * cells' partition directories.
  */
class IvfPqPersistSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  // 90 vectors in 3 tight clusters around the first 3 axes of dim 8
  private def corpus() = {
    val rnd = new scala.util.Random(11)
    frame(schema, (0 until 90).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 1.0f
      Row(i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    })
  }

  private def build(c: DataFrame) =
    PqAnn.buildIvfPq(c, "vec_id", "embedding",
      nCells = 3, m = 2, k = 4, cellIter = 2, pqIter = 1, trainRows = 90)

  private def results(df: DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq

  test("save/load round-trip: cells, codebook and codes survive exactly") {
    val c = corpus()
    val idx = build(c)
    val dir = tmpDir("ivfpq_idx") + "/index"
    PqAnn.saveIvfPq(spark, idx, dir)
    val loaded = PqAnn.loadIvfPq(spark, dir)
    assert(loaded.cells.length === 3)
    assert(loaded.cells.zip(idx.cells).forall { case (a, b) => a.sameElements(b) })
    assert(loaded.cb.m === idx.cb.m && loaded.cb.k === idx.cb.k)
    for (s <- 0 until idx.cb.m; j <- 0 until idx.cb.k)
      assert(loaded.cb.sub(s)(j).sameElements(idx.cb.sub(s)(j)), s"sub $s cent $j")
    // per-row codes and recon norms identical (order-independent compare)
    val a = idx.encoded.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Int]]("pq_code"), r.getAs[Double]("recon_norm")))
    val b = loaded.encoded.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Int]]("pq_code"), r.getAs[Double]("recon_norm")))
    assert(a.toSeq === b.toSeq)
  }

  test("loaded index serves bit-identical searches") {
    val c = corpus()
    val idx = build(c)
    val dir = tmpDir("ivfpq_same") + "/index"
    PqAnn.saveIvfPq(spark, idx, dir)
    val loaded = PqAnn.loadIvfPq(spark, dir)
    val q = c.filter("vec_id < 3")
    val mem = results(PqAnn.searchIvfPq(idx, q, "vec_id", "embedding", k = 5, nProbe = 2))
    val disk = results(PqAnn.searchIvfPq(loaded, q, "vec_id", "embedding", k = 5, nProbe = 2))
    assert(mem === disk)
    assert(mem.nonEmpty)
  }

  test("probe-1 search over the loaded index scans ONLY the probed cell's directory") {
    val c = corpus()
    val dir = tmpDir("ivfpq_prune") + "/index"
    PqAnn.saveIvfPq(spark, build(c), dir)
    // one file per cell by construction (saveIvfPq clusters before the
    // partitioned write) — so file counts map 1:1 to cell directories
    val encoded = graft.sources.IndexStore.head(spark, dir).paths("encoded")
    assert(encoded.size === 1)
    val cellDirs = new java.io.File(encoded.head).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(cellDirs.length === 3, s"expected 3 cell dirs, got ${cellDirs.mkString(",")}")
    val loaded = PqAnn.loadIvfPq(spark, dir)
    val q = c.filter("vec_id = 0") // a single cluster-0 query
    val res = PqAnn.searchIvfPq(loaded, q, "vec_id", "embedding", k = 3, nProbe = 1)
    res.collect() // execute so scan metrics materialize
    // AQE wraps materialized stages in QueryStageExec LEAVES — a plain
    // TreeNode.collect never descends into them, so unwrap recursively
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      import org.apache.spark.sql.execution._
      val self = p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      val kids = p match {
        case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: adaptive.QueryStageExec => Seq(q.plan)
        case r: exchange.ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      self ++ kids.flatMap(allScans)
    }
    val scans = allScans(res.queryExecution.executedPlan)
    val encScans = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("encoded")))
    assert(encScans.nonEmpty, "no FileSourceScanExec over the encoded layout")
    val numFiles = encScans.map(_.metrics("numFiles").value).sum
    assert(numFiles === 1L,
      s"probe-1 search read $numFiles of ${cellDirs.length} cell files — " +
        "the partition filter did not prune")
    // and the pruned search still answers correctly within its cluster
    val neighbors = res.collect().map(_.getLong(1)).toSet
    assert(neighbors.forall(_ % 3 === 0), s"cross-cluster neighbor in $neighbors")
  }

  test("rerank: IVF-PQ candidates re-scored exactly match brute force within probed cells") {
    val c = corpus()
    val idx = build(c)
    val q = c.filter("vec_id < 3")
    // full probe + deep rerank over the original vectors: the final
    // (query, neighbor, rank) set must equal exact brute-force cosine
    val reranked = PqAnn.searchIvfPq(idx, q, "vec_id", "embedding",
        k = 5, nProbe = 3, rerank = Some((c, 30)))
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Ann.bruteForceTopK(c, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(reranked === brute)
  }
}

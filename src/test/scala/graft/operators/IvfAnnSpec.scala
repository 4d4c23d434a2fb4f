package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class IvfAnnSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  private def corpus() = {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 90).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 1.0f
      Row(i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    frame(schema, rows)
  }

  test("ivf build assigns every vector to a cell; clusters align with structure") {
    val c = corpus()
    val idx = IvfAnn.build(c, "vec_id", "embedding", nCentroids = 3)
    assert(idx.centroids.length === 3)
    assert(idx.assigned.count() === 90)
    // each true cluster maps to exactly one k-means cell
    val purity = idx.assigned
      .selectExpr("vec_id % 3 AS truth", "centroid_id")
      .distinct().count()
    assert(purity === 3)
  }

  test("ivf topK with nProbe=1 matches brute force on well-separated clusters") {
    val c = corpus()
    val q = c.filter("vec_id < 3")
    val idx = IvfAnn.build(c, "vec_id", "embedding", nCentroids = 3)
    val ivf = IvfAnn.topK(idx, q, "vec_id", "embedding", k = 5, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Ann.bruteForceTopK(c, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf === exact) // neighbors live in the query's own cell here
  }

  test("nProbe=nCentroids degrades to exact search") {
    val c = corpus()
    val q = c.filter("vec_id IN (10, 20)")
    val idx = IvfAnn.build(c, "vec_id", "embedding", nCentroids = 4)
    val ivf = IvfAnn.topK(idx, q, "vec_id", "embedding", k = 7, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Ann.bruteForceTopK(c, q, "vec_id", "embedding", k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf === exact)
  }

  test("256 centroids x 64 dims: realistic cell count builds and searches") {
    // the old per-centroid-literal argmin blew codegen limits around here;
    // the NearestCells reference-object expression must not care
    val rnd = new scala.util.Random(11)
    val dim = 64
    val schema64 = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val rows = (0 until 640).map { i =>
      Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val c = frame(schema64, rows)
    val idx = IvfAnn.build(c, "vec_id", "embedding", nCentroids = 256, maxIter = 2)
    assert(idx.centroids.length === 256)
    assert(idx.assigned.count() === 640)
    // every cell id is a valid centroid index
    val ids = idx.assigned.selectExpr("min(centroid_id)", "max(centroid_id)").head()
    assert(ids.getInt(0) >= 0 && ids.getInt(1) < 256)
    // full probe = exact, even at this cell count
    val q = c.filter("vec_id < 2")
    val ivf = IvfAnn.topK(idx, q, "vec_id", "embedding", k = 5, nProbe = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Ann.bruteForceTopK(c, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf === exact)
  }

  test("save/load round-trip: persisted index serves identical searches") {
    val c = corpus()
    val idx = IvfAnn.build(c, "vec_id", "embedding", nCentroids = 3)
    val dir = tmpDir("ivf_idx") + "/index"
    IvfAnn.save(spark, idx, dir)
    val loaded = IvfAnn.load(spark, dir)
    assert(loaded.centroids.length === 3)
    assert(loaded.centroids.zip(idx.centroids).forall { case (a, b) => a.sameElements(b) })
    val q = c.filter("vec_id < 3")
    def res(i: IvfAnn.Index) =
      IvfAnn.topK(i, q, "vec_id", "embedding", k = 3, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(res(loaded) === res(idx))
    // the inverted file landed partitioned by cell → probe-time pruning
    val assigned = graft.sources.IndexStore.head(spark, dir).paths("assigned")
    assert(assigned.size === 1)
    assert(new java.io.File(s"${assigned.head}/centroid_id=0").exists())
  }
}

package graft.sources

import graft.SparkSpec
import graft.operators.{Bm25, StatsSketch}

/** Table maintenance works on an index dir unchanged ([[IndexStore]]): its
  * versions list in history, vacuum reclaims the artifact dirs replaced
  * versions referenced, fsck stays clean, and the index still answers
  * like a rebuild.
  */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def dataDirs(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("_d")).toSet

  test("BM25: build + 3 appends, vacuum(keepLast = 1) reclaims the replaced termstats") {
    val batches = Seq(
      Seq((1L, "spark tables merge fast"), (2L, "parquet footers and bloom filters")),
      Seq((3L, "spark joins shuffle tables")),
      Seq((4L, "vector search over tables"), (5L, "")),
      Seq((6L, "bloom join tables again")))
      .map(_.toDF("doc_id", "text"))
    val dir = tmpDir("bm25-maint") + "/index"
    Bm25.buildIndex(batches.head, "doc_id", "text", dir)
    batches.tail.foreach(Bm25.appendToIndex(_, "doc_id", "text", dir))
    assert(ParquetTable.history(spark, dir).count() === 4)
    val replaced = (1L to 3L).flatMap { v =>
      ParquetTable.snapshot(spark, dir, v).entries.collect { case ("termstats", d) => d }
    }.toSet
    assert(replaced.size === 3)

    ParquetTable.vacuum(spark, dir, keepLast = 1)
    assert(ParquetTable.fsck(spark, dir).collect().isEmpty)
    assert(dataDirs(dir).intersect(replaced).isEmpty, "replaced termstats dirs survived vacuum")
    assert(dataDirs(dir) === IndexStore.head(spark, dir).entries.map(_._2).toSet)

    val rebuilt = tmpDir("bm25-maint-full") + "/index"
    Bm25.buildIndex(batches.reduce(_ unionByName _), "doc_id", "text", rebuilt)
    val queries = Seq((1L, "spark tables"), (2L, "bloom join")).toDF("query_id", "qtext")
    def res(d: String) = Bm25.topKIndexed(spark, d, queries, "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(res(dir) === res(rebuilt))
  }

  test("StatsSketch: save + 3 appends + compact, vacuum(keepLast = 1) reclaims the generations") {
    def ids(from: Int, until: Int) = (from until until).map(_.toLong).toDF("id")
    val dir = tmpDir("hll-maint") + "/s"
    StatsSketch.save(ids(0, 1000), Seq("id"), dir)
    Seq((1000, 2000), (2000, 2500), (2500, 4000)).foreach { case (a, b) =>
      StatsSketch.append(ids(a, b), Seq("id"), dir)
    }
    assert(ParquetTable.history(spark, dir).count() === 4)
    val generations = IndexStore.head(spark, dir).entries.map(_._2).toSet
    assert(generations.size === 4)
    StatsSketch.compact(spark, dir)
    assert(IndexStore.head(spark, dir).paths("registers").size === 1)

    ParquetTable.vacuum(spark, dir, keepLast = 1)
    assert(ParquetTable.fsck(spark, dir).collect().isEmpty)
    assert(dataDirs(dir).intersect(generations).isEmpty, "compacted generations survived vacuum")

    val oneShot = tmpDir("hll-maint-one") + "/s"
    StatsSketch.save(ids(0, 4000), Seq("id"), oneShot)
    assert(StatsSketch.estimate(spark, dir).collect().toSeq ===
      StatsSketch.estimate(spark, oneShot).collect().toSeq)
  }
}

package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row-level DELETE / UPDATE on versioned tables: the two lakehouse verbs
  * beside MERGE — snapshot isolation, partition-scoped rewrites, CDF
  * capture, and the fail-fast contracts.
  */
class RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def mk(path: String) =
    ParquetTable.create(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "bal"),
      path)

  test("delete removes matching rows as a new version; old version time-travels") {
    val path = tmpDir("del") + "/t"
    mk(path) // v1
    val v = ParquetTable.delete(spark, path, col("bal") >= 20.0)
    assert(v === 2L)
    assert(ParquetTable.read(spark, path).as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 10.0)))
    assert(ParquetTable.readAt(spark, path, 1L).count() === 3L) // snapshot intact
  }

  test("no-match delete and update are no-ops: current version, no commit") {
    val path = tmpDir("del-nomatch") + "/t"
    mk(path)
    assert(ParquetTable.delete(spark, path, col("id") > 99L) === 1L)
    assert(ParquetTable.update(spark, path, col("id") > 99L,
      Map("bal" -> lit(0.0))) === 1L)
    assert(ParquetTable.versions(spark, path) === Seq(1L))
  }

  test("update rewrites matched rows, keeps schema (values cast to column type)") {
    val path = tmpDir("upd") + "/t"
    mk(path) // v1
    val v = ParquetTable.update(spark, path, col("id") >= 2L,
      Map("bal" -> (col("bal") * lit(10)), "name" -> upper(col("name"))))
    assert(v === 2L)
    val after = ParquetTable.read(spark, path)
    assert(after.schema === ParquetTable.readAt(spark, path, 1L).schema)
    assert(after.as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 10.0), (2L, "B", 200.0), (3L, "C", 300.0)))
  }

  test("cdf delete/update feed the per-commit change stream") {
    val path = tmpDir("del-cdf") + "/t"
    mk(path) // v1
    ParquetTable.delete(spark, path, col("id") === 3L, cdf = true) // v2
    ParquetTable.update(spark, path, col("id") === 2L,
      Map("bal" -> lit(99.0)), cdf = true) // v3
    val feed = ParquetTable.tableChanges(spark, path, 2L, 3L, Seq("id"))
      .select("id", "bal", "_change_type", "_commit_version")
      .as[(Long, Double, String, Long)].collect().toSet
    assert(feed === Set(
      (3L, 30.0, "delete", 2L),
      (2L, 20.0, "update_preimage", 3L),
      (2L, 99.0, "update_postimage", 3L)))
  }

  test("partitioned: only affected partitions rewrite; emptied partitions leave") {
    val path = tmpDir("del-part") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0), (4L, "d3", 4.0))
        .toDF("id", "day", "v"),
      path, Seq("day")) // v1
    val v = ParquetTable.delete(spark, path,
      col("day") === "d2" || (col("day") === "d1" && col("id") === 2L))
    assert(v === 2L)
    val e1 = ParquetTable.partitionEntries(spark, path, 1L).get.toMap
    val e2 = ParquetTable.partitionEntries(spark, path, 2L).get.toMap
    assert(!e2.contains("day=d2"), "fully-deleted partition still in manifest")
    assert(e2("day=d3") === e1("day=d3"), "untouched partition was rewritten")
    assert(e2("day=d1") !== e1("day=d1"), "affected partition kept its old dir")
    assert(ParquetTable.read(spark, path).select("id").as[Long].collect().toSet ===
      Set(1L, 4L))
    assert(ParquetTable.readAt(spark, path, 1L).count() === 4L)
  }

  test("partitioned cdf update captures pre/post images") {
    val path = tmpDir("upd-part-cdf") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "v"),
      path, Seq("day")) // v1
    ParquetTable.update(spark, path, col("id") === 2L,
      Map("v" -> lit(22.0)), cdf = true) // v2
    val feed = ParquetTable.tableChanges(spark, path, 2L, 2L, Seq("id"))
      .select("id", "v", "_change_type").as[(Long, Double, String)].collect().toSet
    assert(feed === Set((2L, 2.0, "update_preimage"), (2L, 22.0, "update_postimage")))
  }

  test("fail-fast contracts: partition-column SET, nondeterminism, empty table") {
    val path = tmpDir("rl-fail") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1", 1.0)).toDF("id", "day", "v"), path, Seq("day"))
    val p = intercept[IllegalArgumentException] {
      ParquetTable.update(spark, path, col("id") === 1L, Map("day" -> lit("d9")))
    }
    assert(p.getMessage.contains("partition column"))
    val nd = intercept[IllegalArgumentException] {
      ParquetTable.delete(spark, path, rand() > 0.5)
    }
    assert(nd.getMessage.contains("deterministic"))
    val all = intercept[IllegalArgumentException] {
      ParquetTable.delete(spark, path, lit(true))
    }
    assert(all.getMessage.contains("empty every partition"))
    // the refused rewrite left no data dir outside the head's entries
    val head = ParquetTable.currentVersion(spark, path).get
    val referenced = ParquetTable.partitionEntries(spark, path, head).get.map(_._2).toSet
    val dataDirs = new java.io.File(path).list().filter(_.startsWith("_d")).toSet
    assert(dataDirs === referenced)
    // unknown SET column names the schema
    val unk = intercept[IllegalArgumentException] {
      ParquetTable.update(spark, path, col("id") === 1L, Map("nope" -> lit(1)))
    }
    assert(unk.getMessage.contains("not in table schema"))
  }

  test("unpartitioned delete-to-empty keeps a readable (empty) table") {
    val path = tmpDir("del-empty") + "/t"
    ParquetTable.create(Seq((1L, 1.0)).toDF("id", "v"), path) // v1
    assert(ParquetTable.delete(spark, path, lit(true)) === 2L)
    assert(ParquetTable.read(spark, path).count() === 0L)
    assert(ParquetTable.read(spark, path).columns.toSeq === Seq("id", "v"))
  }
}

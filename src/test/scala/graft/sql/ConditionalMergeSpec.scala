package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ParquetTable

/** Conditional MERGE clauses (`WHEN MATCHED [AND cond] THEN
  * UPDATE SET * | DELETE`, `WHEN NOT MATCHED [AND cond] THEN INSERT *`)
  * — Delta's clause semantics: clauses evaluate in statement order, the
  * first satisfied clause wins, a null condition falls through; executed
  * as ONE copy-on-write commit through the same partition-scoped
  * machinery as the unconditional MERGE.
  */
class ConditionalMergeSpec extends SparkSpec {
  import spark.implicits._

  private def seed(path: String): Unit =
    ParquetTable.create(Seq(
      (1L, "keep", 10.0), (2L, "stale", 20.0), (3L, "stale", 30.0),
      (4L, "keep", 40.0)).toDF("id", "status", "bal"), path)

  test("matched DELETE + matched UPDATE + conditional INSERT, first clause wins") {
    val path = tmpDir("cmerge") + "/t"
    seed(path)
    Seq((2L, "won't matter", 0.0), (3L, "updated", 33.0),
      (9L, "new", 90.0), (10L, "new", -1.0))
      .toDF("id", "status", "bal").createOrReplaceTempView("cm_src")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND t.bal < 25.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.bal > 0.0 THEN INSERT *""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(got === Set(
      (1L, "keep", 10.0),          // untouched (not in source)
      // 2L deleted: matched, bal 20 < 25 — first clause wins
      (3L, "updated", 33.0),       // matched, bal 30 ≥ 25 → second clause
      (4L, "keep", 40.0),          // untouched
      (9L, "new", 90.0)))          // inserted; 10L filtered by insert cond
    // ONE commit for the whole statement
    assert(ParquetTable.currentVersion(spark, path) === Some(2L))
  }

  test("DELETE-only merge removes matched rows and inserts nothing") {
    val path = tmpDir("cmerge-del") + "/t"
    seed(path)
    Seq((2L, "x", 0.0), (99L, "x", 0.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_del")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_del AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val ids = ParquetTable.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 3L, 4L)) // 2 deleted; 99 NOT inserted (no clause)
  }

  test("conditions may reference both sides (s.bal vs t.bal)") {
    val path = tmpDir("cmerge-both") + "/t"
    seed(path)
    Seq((2L, "bump", 25.0), (3L, "cut", 5.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_both")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_both AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.bal > t.bal THEN UPDATE SET *""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    // id 2: 25 > 20 → updated; id 3: 5 < 30 → clause unsatisfied → kept
    assert(got.contains((2L, "bump", 25.0)) && got.contains((3L, "stale", 30.0)))
  }

  test("partitioned versioned target: clause merge stays partition-scoped") {
    val path = tmpDir("cmerge-part") + "/t"
    ParquetTable.createVersioned(Seq(
      (1L, 10.0, "d1"), (2L, 20.0, "d1"), (3L, 30.0, "d2"))
      .toDF("id", "bal", "day"), path, Seq("day"))
    val e1 = ParquetTable.partitionEntries(spark, path, 1L).get
    Seq((1L, 99.0, "d1"), (2L, 0.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_part")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_part AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.bal = 0.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set((1L, 99.0, "d1"), (3L, 30.0, "d2")))
    // the untouched d2 partition keeps its v1 data dir verbatim
    val e2 = ParquetTable.partitionEntries(spark, path, 2L).get
    assert(e2.filter(_._1 == "day=d2") === e1.filter(_._1 == "day=d2"))
  }

  test("UPDATE SET assignments: expressions over both sides, unassigned columns kept") {
    val path = tmpDir("cmerge-set") + "/t"
    seed(path)
    Seq((2L, "src", 5.0), (3L, "src", 7.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_set")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_set AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal, status = 'merged'""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(got.contains((2L, "merged", 25.0))) // 20 + 5; status overwritten
    assert(got.contains((3L, "merged", 37.0)))
    assert(got.contains((1L, "keep", 10.0)))   // unmatched target untouched
  }

  test("WHEN NOT MATCHED BY SOURCE DELETE: sync-merge removes absent rows") {
    val path = tmpDir("cmerge-sync") + "/t"
    seed(path)
    Seq((1L, "fresh", 11.0), (9L, "new", 90.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_sync")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_sync AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    // table now mirrors the source exactly
    assert(got === Set((1L, "fresh", 11.0), (9L, "new", 90.0)))
  }

  test("conditional BY SOURCE UPDATE SET flags stale rows instead of deleting") {
    val path = tmpDir("cmerge-flag") + "/t"
    seed(path)
    Seq((1L, "fresh", 11.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_flag")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_flag AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.bal < 35.0 THEN UPDATE SET status = 'orphan'""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(got === Set(
      (1L, "fresh", 11.0),
      (2L, "orphan", 20.0), (3L, "orphan", 30.0), // < 35 → flagged
      (4L, "keep", 40.0)))                        // 40 ≥ 35 → clause falls through
  }

  test("BY SOURCE on a partitioned target is refused with guidance") {
    val path = tmpDir("cmerge-sync-part") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, 10.0, "d1")).toDF("id", "bal", "day"), path, Seq("day"))
    Seq((1L, 11.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_sync_part")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"""MERGE INTO graft.`$path` AS t USING cm_sync_part AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("BY SOURCE"))
  }

  test("CHECK constraints gate the clause image; a violating merge leaves the table intact") {
    val path = tmpDir("cmerge-chk") + "/t"
    seed(path)
    graft.sources.Constraints.add(spark, path, "pos_bal", "bal > 0.0")
    Seq((2L, "neg", -5.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_chk")
    val before = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    val vBefore = ParquetTable.currentVersion(spark, path)
    intercept[Exception] {
      GraftSql.sql(spark,
        s"""MERGE INTO graft.`$path` AS t USING cm_chk AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(ParquetTable.currentVersion(spark, path) === vBefore)
    assert(ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet === before)
  }

  test("conditional DELETE that empties a whole partition: manifest drops it, " +
    "partition stays mergeable (ADVICE r7)") {
    val path = tmpDir("cmerge-empty-part") + "/t"
    ParquetTable.createVersioned(Seq(
      (1L, 10.0, "d1"), (3L, 30.0, "d2")).toDF("id", "bal", "day"),
      path, Seq("day"))
    Seq((1L, 0.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_empty")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_empty AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin)
    // d1 left the manifest entirely — no dangling entry
    val entries = ParquetTable.partitionEntries(
      spark, path, ParquetTable.currentVersion(spark, path).get).get
    assert(entries.map(_._1) === Seq("day=d2"))
    assert(ParquetTable.read(spark, path).as[(Long, Double, String)]
      .collect().toSet === Set((3L, 30.0, "d2")))
    // the emptied partition is NOT wedged: a later merge re-creates it
    Seq((7L, 70.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_empty2")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_empty2 AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(ParquetTable.read(spark, path).as[(Long, Double, String)]
      .collect().toSet === Set((3L, 30.0, "d2"), (7L, 70.0, "d1")))
  }

  test("conditional DELETE that would empty EVERY partition is refused") {
    val path = tmpDir("cmerge-empty-all") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, 10.0, "d1")).toDF("id", "bal", "day"), path, Seq("day"))
    Seq((1L, 0.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_empty_all")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"""MERGE INTO graft.`$path` AS t USING cm_empty_all AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("empty every partition"))
    // and the refusal left v1 intact and readable
    assert(ParquetTable.read(spark, path).as[(Long, Double, String)]
      .collect().toSet === Set((1L, 10.0, "d1")))
    // with no data dir outside v1's entries
    val referenced = ParquetTable.partitionEntries(spark, path, 1L).get.map(_._2).toSet
    val dataDirs = new java.io.File(path).list().filter(_.startsWith("_d")).toSet
    assert(dataDirs === referenced)
  }

  test("UPDATE SET on a partition column is refused (ADVICE r7)") {
    val path = tmpDir("cmerge-partcol-set") + "/t"
    ParquetTable.createVersioned(Seq(
      (1L, 10.0, "d1"), (2L, 20.0, "d2")).toDF("id", "bal", "day"),
      path, Seq("day"))
    Seq((1L, 10.0, "d1")).toDF("id", "bal", "day")
      .createOrReplaceTempView("cm_partcol")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"""MERGE INTO graft.`$path` AS t USING cm_partcol AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET day = 'd9'""".stripMargin)
    }
    assert(e.getMessage.contains("partition column day"))
    // nothing vanished
    assert(ParquetTable.read(spark, path).count() === 2L)
  }

  test("clause conditions and SET values may reference source-only columns (ADVICE r7)") {
    val path = tmpDir("cmerge-srconly") + "/t"
    seed(path)
    Seq((2L, "src", 5.0, true, 100.0), (3L, "src", 7.0, false, 200.0))
      .toDF("id", "status", "bal", "apply_it", "boost")
      .createOrReplaceTempView("cm_srconly")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_srconly AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.apply_it THEN UPDATE SET bal = t.bal + s.boost""".stripMargin)
    val got = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(got.contains((2L, "stale", 120.0))) // apply_it → bal += boost
    assert(got.contains((3L, "stale", 30.0)))  // apply_it false → untouched
    // the source-only columns did NOT leak into the target schema
    assert(ParquetTable.read(spark, path).columns.toSeq ===
      Seq("id", "status", "bal"))
  }

  test("source-only columns into a BRAND-NEW partition: the committed dir keeps " +
    "the table schema (review fix)") {
    val path = tmpDir("cmerge-newpart-srconly") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, 10.0, "d1")).toDF("id", "bal", "day"), path, Seq("day"))
    // all source rows land in NEW partition d9, with extra clause-only cols
    Seq((7L, 70.0, "d9", true, 5.0))
      .toDF("id", "bal", "day", "apply_it", "boost")
      .createOrReplaceTempView("cm_newpart")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_newpart AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.apply_it THEN UPDATE SET bal = t.bal + s.boost
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // a leaked clause-only column would break this multi-dir unionByName read
    val got = ParquetTable.read(spark, path)
    assert(got.columns.toSeq === Seq("id", "bal", "day"))
    assert(got.as[(Long, Double, String)].collect().toSet ===
      Set((1L, 10.0, "d1"), (7L, 70.0, "d9")))
    // and the new partition merges again without error
    Seq((7L, 0.0, "d9", true, 2.0))
      .toDF("id", "bal", "day", "apply_it", "boost")
      .createOrReplaceTempView("cm_newpart2")
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$path` AS t USING cm_newpart2 AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.apply_it THEN UPDATE SET bal = t.bal + s.boost""".stripMargin)
    assert(ParquetTable.read(spark, path).filter(col("id") === 7L)
      .select("bal").as[Double].head() === 72.0)
  }

  test("conditions without explicit aliases fail at parse time with guidance") {
    val path = tmpDir("cmerge-alias") + "/t"
    seed(path)
    Seq((2L, "x", 0.0)).toDF("id", "status", "bal")
      .createOrReplaceTempView("cm_noalias")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"""MERGE INTO graft.`$path` USING cm_noalias
           |ON graft.`$path`.id = cm_noalias.id
           |WHEN MATCHED AND bal < 25.0 THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("alias"))
  }
}

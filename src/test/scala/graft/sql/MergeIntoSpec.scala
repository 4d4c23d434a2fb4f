package graft.sql

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ParquetTable

/** The SQL MERGE INTO surface (reference: glue_etl.py:338-349 — Delta's
  * whenMatchedUpdateAll/whenNotMatchedInsertAll verb): statement-level
  * idempotency, partition recovery, fail-fast on unsupported shapes, and
  * the declarative parser injection.
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def mergeStmt(path: String, src: String) =
    s"""MERGE INTO graft.`$path` AS t USING $src AS s
       |ON t.id = s.id
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin

  test("MERGE INTO upserts and replaying the statement is a no-op") {
    val path = tmpDir("sqlmerge") + "/t"
    ParquetTable.create(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "bal"), path)
    Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("id", "name", "bal")
      .createOrReplaceTempView("merge_upd")
    GraftSql.merge(spark, mergeStmt(path, "merge_upd"))
    val after = ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet
    assert(after === Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
    GraftSql.merge(spark, mergeStmt(path, "merge_upd")) // replay
    assert(ParquetTable.read(spark, path)
      .as[(Long, String, Double)].collect().toSet === after)
  }

  test("partitioned versioned target: partition columns recovered from manifest") {
    val path = tmpDir("sqlmerge-part") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "v"),
      path, Seq("day"))
    Seq((2L, "d2", 20.0), (3L, "d2", 3.0)).toDF("id", "day", "v")
      .createOrReplaceTempView("merge_upd_part")
    GraftSql.merge(spark, mergeStmt(path, "merge_upd_part"))
    val got = ParquetTable.read(spark, path)
      .select(col("id"), col("v")).as[(Long, Double)].collect().toSet
    assert(got === Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
  }

  test("declarative path: spark.sql on a session with GraftSessionExtensions") {
    val ext = GraftColumnBridge.sessionWithExtensions(
      spark, new graft.functions.GraftSessionExtensions()(_))
    val path = tmpDir("sqlmerge-ext") + "/t"
    import ext.implicits._
    ParquetTable.create(Seq((1L, 1.0)).toDF("id", "v"), path)
    Seq((1L, 9.0), (2L, 2.0)).toDF("id", "v").createOrReplaceTempView("ext_upd")
    ext.sql(mergeStmt(path, "ext_upd")) // plain SQL, no GraftSql call
    assert(ParquetTable.read(ext, path).as[(Long, Double)].collect().toSet ===
      Set((1L, 9.0), (2L, 2.0)))
    // GraftSql.merge takes the statement the session's parser already dispatched
    Seq((2L, 5.0)).toDF("id", "v").createOrReplaceTempView("ext_upd2")
    GraftSql.merge(ext, mergeStmt(path, "ext_upd2"))
    assert(ParquetTable.read(ext, path).as[(Long, Double)].collect().toSet ===
      Set((1L, 9.0), (2L, 5.0)))
  }

  test("unsupported clause shapes fail fast, naming the clause") {
    val path = tmpDir("sqlmerge-bad") + "/t"
    ParquetTable.create(Seq((1L, 1.0)).toDF("id", "v"), path)
    Seq((1L, 2.0)).toDF("id", "v").createOrReplaceTempView("bad_upd")
    // DELETE and UPDATE SET assignments are supported clauses now
    // (ConditionalMergeSpec); a column-list INSERT still is not
    val colList = intercept[IllegalArgumentException] {
      GraftSql.merge(spark,
        s"""MERGE INTO graft.`$path` AS t USING bad_upd AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    }
    assert(colList.getMessage.contains("not-matched clause"))
    val cond = intercept[IllegalArgumentException] {
      GraftSql.merge(spark,
        s"""MERGE INTO graft.`$path` AS t USING bad_upd AS s ON t.id < s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(cond.getMessage.contains("ON condition"))
  }

  test("SELECT over graft tables, including VERSION AS OF time travel") {
    val path = tmpDir("sqlread") + "/t"
    ParquetTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path) // v1
    ParquetTable.merge(spark, path, Seq((2L, 99.0), (3L, 30.0)).toDF("id", "bal"),
      Seq("id")) // v2
    // imperative twin (no extensions): current version
    val cur = GraftSql.sql(spark, s"SELECT id, bal FROM graft.`$path` ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(cur === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    // time travel reads the v1 image
    val v1 = GraftSql.sql(spark,
      s"SELECT id, bal FROM graft.`$path` VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(v1 === Seq((1L, 10.0), (2L, 20.0)))
    // graft relations join with ordinary views; aggregates work above them
    Seq((1L, "a"), (3L, "c")).toDF("id", "tag").createOrReplaceTempView("tags")
    val joined = GraftSql.sql(spark,
      s"""SELECT t.tag, sum(g.bal) AS s FROM graft.`$path` g
         |JOIN tags t ON g.id = t.id GROUP BY t.tag ORDER BY t.tag""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(joined === Seq(("a", 10.0), ("c", 30.0)))
    // TIMESTAMP AS OF resolves against the committed #ts= headers: v1's
    // own commit instant reads the v1 image (epoch-millis literal form)
    val v1ts = ParquetTable.commitTimestamp(spark, path, 1L).get
    val v2ts = ParquetTable.commitTimestamp(spark, path, 2L).get
    if (v2ts > v1ts) { // merge landed in a later millisecond: v1 resolvable
      val atV1 = GraftSql.sql(spark,
        s"SELECT id, bal FROM graft.`$path` TIMESTAMP AS OF '$v1ts' ORDER BY id")
        .as[(Long, Double)].collect().toSeq
      assert(atV1 === Seq((1L, 10.0), (2L, 20.0)))
    }
    // a timestamp at/after the last commit reads the current image
    val atNow = GraftSql.sql(spark,
      s"SELECT id, bal FROM graft.`$path` TIMESTAMP AS OF '$v2ts' ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(atNow === cur)
    // a timestamp before the first commit fails, naming the first commit
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"SELECT * FROM graft.`$path` TIMESTAMP AS OF '2000-01-01'")
    }
    assert(e.getMessage.contains("predates the first commit"))
    // malformed literals get the documented guidance, not a raw NFE
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"SELECT * FROM graft.`$path` TIMESTAMP AS OF ''")
    }
    assert(e2.getMessage.contains("expected"))
  }

  test("RESTORE TABLE ... TO VERSION AS OF rolls the table back, metadata-only") {
    val path = tmpDir("sqlrestore") + "/t"
    ParquetTable.create(Seq((1L, 10.0)).toDF("id", "bal"), path) // v1
    ParquetTable.merge(spark, path, Seq((1L, 99.0), (2L, 20.0)).toDF("id", "bal"),
      Seq("id")) // v2
    val restored = GraftSql.sql(spark,
      s"RESTORE TABLE graft.`$path` TO VERSION AS OF 1").head().getLong(0)
    assert(restored === 3L)
    assert(GraftSql.sql(spark, s"SELECT id, bal FROM graft.`$path`")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 10.0)))
    // the rolled-back v2 stays readable via time travel
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$path` VERSION AS OF 2").head().getLong(0) === 2L)
  }

  test("RESTORE TABLE ... TO TIMESTAMP AS OF resolves through #ts= headers") {
    val path = tmpDir("sqlrestore-ts") + "/t"
    ParquetTable.create(Seq((1L, 10.0)).toDF("id", "bal"), path) // v1
    Thread.sleep(5) // distinct commit clocks
    val betweenMillis = System.currentTimeMillis()
    Thread.sleep(5)
    ParquetTable.merge(spark, path, Seq((2L, 20.0)).toDF("id", "bal"), Seq("id")) // v2
    // epoch-millis form: latest version at-or-before the instant = v1
    val restored = GraftSql.sql(spark,
      s"RESTORE TABLE graft.`$path` TO TIMESTAMP AS OF '$betweenMillis'")
      .head().getLong(0)
    assert(restored === 3L)
    assert(ParquetTable.read(spark, path).count() === 1L)
    // malformed literal fails with guidance
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"RESTORE TABLE graft.`$path` TO TIMESTAMP AS OF 'nope'")
    }
    assert(e.getMessage.contains("expected"))
  }

  test("declarative SELECT via spark.sql on an extensions session") {
    val ext = GraftColumnBridge.sessionWithExtensions(
      spark, new graft.functions.GraftSessionExtensions()(_))
    val path = tmpDir("sqlread-ext") + "/t"
    ParquetTable.create(Seq((1L, 5.0)).toDF("id", "v"), path)
    val n = ext.sql(s"SELECT count(*) AS n FROM graft.`$path`").head().getLong(0)
    assert(n === 1L)
  }

  test("DELETE FROM removes matching rows and returns the committed version") {
    val path = tmpDir("sqldel") + "/t"
    ParquetTable.create(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"), path)
    val v = GraftSql.sql(spark,
      s"DELETE FROM graft.`$path` WHERE bal >= 20.0").head().getLong(0)
    assert(v === 2L)
    assert(GraftSql.sql(spark, s"SELECT id FROM graft.`$path`")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("UPDATE applies SET expressions; no WHERE touches every row") {
    val path = tmpDir("sqlupd") + "/t"
    ParquetTable.create(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "bal"), path)
    GraftSql.sql(spark,
      s"UPDATE graft.`$path` SET bal = bal * 2, name = upper(name) WHERE id = 2")
    assert(ParquetTable.read(spark, path).as[(Long, String, Double)].collect().toSet ===
      Set((1L, "a", 10.0), (2L, "B", 40.0)))
    GraftSql.sql(spark, s"UPDATE graft.`$path` SET bal = 0.0") // all rows
    assert(ParquetTable.read(spark, path).select("bal").as[Double].collect().toSet ===
      Set(0.0))
  }

  test("declarative DELETE/UPDATE via spark.sql on an extensions session") {
    val ext = GraftColumnBridge.sessionWithExtensions(
      spark, new graft.functions.GraftSessionExtensions()(_))
    val path = tmpDir("sqldel-ext") + "/t"
    import ext.implicits._
    ParquetTable.create(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), path)
    ext.sql(s"DELETE FROM graft.`$path` WHERE id = 1")
    ext.sql(s"UPDATE graft.`$path` SET v = v + 0.5")
    assert(ParquetTable.read(ext, path).as[(Long, Double)].collect().toSet ===
      Set((2L, 2.5)))
  }

  test("subqueries in row-level conditions fail fast with the reason") {
    val path = tmpDir("sqldel-sub") + "/t"
    ParquetTable.create(Seq((1L, 1.0)).toDF("id", "v"), path)
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        s"DELETE FROM graft.`$path` WHERE id IN (SELECT id FROM other)")
    }
    assert(e.getMessage.contains("subqueries"))
  }

  test("OPTIMIZE ... ZORDER BY and VACUUM maintenance statements") {
    val path = tmpDir("sqlopt") + "/t"
    ParquetTable.create(
      spark.range(0, 1000).selectExpr("id", "id * 2 AS v"), path) // v1
    val v = GraftSql.sql(spark,
      s"OPTIMIZE graft.`$path` ZORDER BY (id, v)").head().getLong(0)
    assert(v === 2L)
    assert(ParquetTable.read(spark, path).count() === 1000L)
    // vacuum through SQL retains only the current version
    val retained = GraftSql.sql(spark,
      s"VACUUM graft.`$path` RETAIN 1 VERSIONS").head().getLong(0)
    assert(retained === 1L)
    assert(ParquetTable.versions(spark, path) === Seq(2L))
    assert(ParquetTable.read(spark, path).count() === 1000L)
  }

  test("VACUUM ... RETAIN n HOURS: time-based retention over #ts headers") {
    val path = tmpDir("sqlvac-hours") + "/t"
    ParquetTable.create(spark.range(0, 10).selectExpr("id", "id AS v"), path) // v1
    ParquetTable.atomicReplace(spark, path,
      spark.range(0, 5).selectExpr("id", "id AS v"), Nil) // v2
    // every commit is seconds old → a 1000-hour horizon keeps both
    GraftSql.sql(spark, s"VACUUM graft.`$path` RETAIN 1000 HOURS")
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L))
    // a zero horizon keeps only the current version (never less)
    GraftSql.sql(spark, s"VACUUM graft.`$path` RETAIN 0 HOURS")
    assert(ParquetTable.versions(spark, path) === Seq(2L))
    assert(ParquetTable.read(spark, path).count() === 5L)
  }

  test("MERGE INTO ... WITH SCHEMA EVOLUTION appends new source columns") {
    val path = tmpDir("sqlmerge-evolve") + "/t"
    ParquetTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path) // v1
    Seq((2L, 99.0, "gold"), (3L, 30.0, "silver")).toDF("id", "bal", "tier")
      .createOrReplaceTempView("evolve_updates")
    GraftSql.sql(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$path` AS t
         |USING evolve_updates AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = ParquetTable.read(spark, path)
    assert(out.columns.toSeq === Seq("id", "bal", "tier"))
    assert(out.as[(Long, Double, Option[String])].collect().toSet ===
      Set((1L, 10.0, None), (2L, 99.0, Some("gold")), (3L, 30.0, Some("silver"))))
    // without the clause, the same statement stays strict: the extra
    // source column is DROPPED, the schema does not drift
    val strict = tmpDir("sqlmerge-strict") + "/t"
    ParquetTable.create(Seq((1L, 1.0)).toDF("id", "bal"), strict)
    GraftSql.sql(spark,
      s"""MERGE INTO graft.`$strict` AS t
         |USING evolve_updates AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(ParquetTable.read(spark, strict).columns.toSeq === Seq("id", "bal"))
  }

  test("DESCRIBE HISTORY lists versions newest-first with commit metadata") {
    val path = tmpDir("sqlhist") + "/t"
    ParquetTable.create(Seq((1L, 10.0)).toDF("id", "bal"), path) // v1
    ParquetTable.merge(spark, path, Seq((2L, 20.0)).toDF("id", "bal"),
      Seq("id"), cdf = true) // v2, captures a change manifest
    val hist = GraftSql.sql(spark, s"DESCRIBE HISTORY graft.`$path`")
    assert(hist.columns.toSeq === Seq("version", "partitioned", "n_entries",
      "n_data_dirs", "has_change_manifest", "commit_ts", "manifest_mtime"))
    assert(hist.filter(col("commit_ts").isNull).count() === 0L)
    val rows = hist.select("version", "partitioned", "has_change_manifest")
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(rows === Seq((2L, false, true), (1L, false, false)))
    // DESC abbreviation parses to the same command
    assert(GraftSql.sql(spark, s"DESC HISTORY graft.`$path`").count() === 2L)
  }

  test("DESCRIBE DETAIL reports snapshot metadata from sidecars only") {
    val path = tmpDir("sqldetail") + "/t"
    ParquetTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path) // v1
    ParquetTable.merge(spark, path, Seq((3L, 30.0)).toDF("id", "bal"), Seq("id")) // v2
    graft.sources.Constraints.add(spark, path, "bal_pos", "bal > 0")
    val d = GraftSql.sql(spark, s"DESCRIBE DETAIL graft.`$path`").head()
    assert(d.getString(d.fieldIndex("format")) === "graft")
    assert(d.getLong(d.fieldIndex("version")) === 2L)
    assert(!d.isNullAt(d.fieldIndex("commit_ts")))
    assert(!d.getBoolean(d.fieldIndex("partitioned")))
    assert(d.getLong(d.fieldIndex("num_rows")) === 3L)
    assert(d.getInt(d.fieldIndex("n_versions")) === 2)
    assert(d.getInt(d.fieldIndex("n_constraints")) === 1)
    // partitioned variant counts partitions and referenced files
    val p2 = tmpDir("sqldetail-p") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"), p2, Seq("day"))
    val dp = GraftSql.sql(spark, s"DESC DETAIL graft.`$p2`").head()
    assert(dp.getBoolean(dp.fieldIndex("partitioned")))
    assert(dp.getSeq[String](dp.fieldIndex("partition_columns")) === Seq("day"))
    assert(dp.getInt(dp.fieldIndex("n_partitions")) === 2)
    assert(dp.getLong(dp.fieldIndex("num_rows")) === 2L)
  }

  test("graft_table_changes TVF: the per-commit CDF as a SQL relation") {
    val path = tmpDir("sqltvf") + "/t"
    ParquetTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), path) // v1
    ParquetTable.merge(spark, path, Seq((2L, 99.0), (3L, 30.0)).toDF("id", "bal"),
      Seq("id"), cdf = true) // v2
    val feed = GraftSql.sql(spark,
      s"""SELECT id, bal, _change_type, _commit_version
         |FROM graft_table_changes('$path', 2, 2, 'id')
         |ORDER BY id, _change_type""".stripMargin)
      .as[(Long, Double, String, Long)].collect().toSeq
    assert(feed === Seq(
      (2L, 99.0, "update_postimage", 2L), (2L, 20.0, "update_preimage", 2L),
      (3L, 30.0, "insert", 2L)))
    // works in join position + declaratively on an extensions session
    val ext = GraftColumnBridge.sessionWithExtensions(
      spark, new graft.functions.GraftSessionExtensions()(_))
    val n = ext.sql(
      s"""SELECT count(*) AS n FROM graft_table_changes('$path', 2, 2, 'id') c
         |JOIN graft.`$path` t ON c.id = t.id
         |WHERE c._change_type != 'update_preimage'""".stripMargin)
      .head().getLong(0)
    assert(n === 2L)
    // non-literal args fail fast with the reason
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"SELECT * FROM graft_table_changes('$path', 1 + 1, 2)")
    }
    assert(e.getMessage.contains("literals"))
  }

  test("non-graft targets are not intercepted") {
    val e = intercept[IllegalArgumentException] {
      GraftSql.merge(spark,
        """MERGE INTO some_catalog_table AS t USING bad_upd AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("not a graft-target"))
  }
}

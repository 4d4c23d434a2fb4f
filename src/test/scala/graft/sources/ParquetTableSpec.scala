package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Delta-MERGE-equivalent semantics over parquet (SURVEY §2.1-S6, §7):
  * update-all / insert-all, idempotency, partition-scoped rewrite.
  */
class ParquetTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("day", StringType, nullable = true)))

  private def df(rows: Row*) = frame(schema, rows)

  test("merge: matched rows updated, unmatched inserted") {
    val path = tmpDir("merge") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1"), Row(2, "b", "d1")), path)
    ParquetTable.merge(spark, path, df(Row(2, "B", "d1"), Row(3, "c", "d2")), Seq("id"))
    val out = ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out === Map(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  test("merge is idempotent (replaying the same batch changes nothing)") {
    val path = tmpDir("merge-idem") + "/t"
    val batch = df(Row(1, "a", "d1"), Row(2, "b", "d1"))
    ParquetTable.merge(spark, path, batch, Seq("id")) // creates
    ParquetTable.merge(spark, path, batch, Seq("id")) // replay
    ParquetTable.merge(spark, path, batch, Seq("id")) // replay again
    assert(ParquetTable.read(spark, path).count() === 2)
  }

  test("merge keeps PKs unique when the update batch has duplicate keys") {
    val path = tmpDir("merge-dup") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path)
    ParquetTable.merge(spark, path, df(Row(1, "x", "d1"), Row(1, "y", "d1")), Seq("id"))
    val rows = ParquetTable.read(spark, path).collect()
    assert(rows.length === 1)
  }

  test("partitioned merge rewrites only affected partitions") {
    val dir = tmpDir("merge-part")
    val path = dir + "/t"
    ParquetTable.create(
      df(Row(1, "a", "d1"), Row(2, "b", "d2")), path, Seq("day"))
    val d2Before = new java.io.File(s"$path/day=d2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    ParquetTable.merge(spark, path, df(Row(1, "A", "d1"), Row(3, "c", "d1")),
      Seq("id"), Seq("day"))

    val out = ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out === Map(1 -> ("A", "d1"), 2 -> ("b", "d2"), 3 -> ("c", "d1")))
    // untouched partition's files were not rewritten
    val d2After = new java.io.File(s"$path/day=d2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(d2After === d2Before)
  }

  test("partitioned merge reads a NULL partition, from its own or a supplied partition list") {
    val path = tmpDir("merge-part-null") + "/t"
    ParquetTable.create(
      df(Row(1, "a", null), Row(2, "b", "d1"), Row(3, "c", "d2")), path, Seq("day"))
    // the list collected inside the merge: the NULL partition is read and
    // rewritten with its untouched row
    ParquetTable.merge(spark, path, df(Row(4, "d", null), Row(2, "B", "d1")),
      Seq("id"), Seq("day"))
    // the list a caller already holds (the pipeline's accounting pass)
    ParquetTable.mergeWithin(spark, path, df(Row(1, "A", null)), Seq("id"), Seq("day"),
      Some(Seq(Row(null))))
    val out = ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out === Map(1 -> ("A", null), 2 -> ("B", "d1"), 3 -> ("c", "d2"),
      4 -> ("d", null)))
  }

  test("merge on empty/missing table creates it") {
    val path = tmpDir("merge-create") + "/t"
    ParquetTable.merge(spark, path, df(Row(1, "a", "d1")), Seq("id"))
    assert(ParquetTable.read(spark, path).count() === 1)
  }

  test("atomicReplace swaps content and leaves no temp/trash dirs") {
    val dir = tmpDir("swap")
    val path = dir + "/t"
    ParquetTable.create(df(Row(1, "old", "d1")), path)
    ParquetTable.atomicReplace(spark, path, df(Row(2, "new", "d1")), Nil)
    val rows = ParquetTable.read(spark, path).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(2))
    val leftovers = new java.io.File(dir).list().filter(_ != "t")
    assert(leftovers.isEmpty)
  }

  test("append accumulates rows") {
    val path = tmpDir("append") + "/t"
    ParquetTable.append(df(Row(1, "a", "d1")), path)
    ParquetTable.append(df(Row(2, "b", "d1")), path)
    assert(ParquetTable.read(spark, path).count() === 2)
  }

  // ---- versioned manifest -----------------------------------------------

  test("every full rewrite publishes a version; readAt time-travels") {
    val path = tmpDir("versions") + "/t"
    ParquetTable.create(df(Row(1, "one", "d1")), path)
    ParquetTable.merge(spark, path, df(Row(2, "two", "d1")), Seq("id"))
    ParquetTable.atomicReplace(spark, path, df(Row(9, "nine", "d1")), Nil)
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L, 3L))
    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    assert(ParquetTable.read(spark, path).collect().map(_.getInt(0)).toSeq === Seq(9))
    assert(ParquetTable.readAt(spark, path, 1).collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(ParquetTable.readAt(spark, path, 2).collect().map(_.getInt(0)).sorted
      === Seq(1, 2))
    val missing = intercept[IllegalArgumentException] {
      ParquetTable.readAt(spark, path, 7)
    }
    assert(missing.getMessage.contains("version 7"))
  }

  test("a reader resolved before a replace keeps its snapshot (no race window)") {
    val path = tmpDir("snapshot") + "/t"
    ParquetTable.create(df(Row(1, "old", "d1")), path)
    val preReplace = ParquetTable.read(spark, path) // resolves version 1's dir
    ParquetTable.atomicReplace(spark, path, df(Row(2, "new", "d1")), Nil)
    // the old double-rename moved v1's files away mid-swap; the manifest
    // layout leaves them in place, so the already-resolved plan still runs
    assert(preReplace.collect().map(_.getString(1)).toSeq === Seq("old"))
    assert(ParquetTable.read(spark, path).collect().map(_.getString(1)).toSeq === Seq("new"))
  }

  test("vacuum retires old versions but keeps the newest keepLast") {
    val path = tmpDir("vacuum") + "/t"
    (1 to 4).foreach(i =>
      ParquetTable.atomicReplace(spark, path, df(Row(i, s"v$i", "d1")), Nil))
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L, 3L, 4L))
    ParquetTable.vacuum(spark, path, keepLast = 2)
    assert(ParquetTable.versions(spark, path) === Seq(3L, 4L))
    assert(ParquetTable.read(spark, path).collect().map(_.getInt(0)).toSeq === Seq(4))
    assert(ParquetTable.readAt(spark, path, 3).count() === 1)
    intercept[IllegalArgumentException] {
      ParquetTable.readAt(spark, path, 1)
    }
  }

  test("vacuum DRY RUN lists exactly what the sweep then deletes — nothing yet") {
    val path = tmpDir("vacuum-dry") + "/t"
    (1 to 4).foreach(i =>
      ParquetTable.atomicReplace(spark, path, df(Row(i, s"v$i", "d1")), Nil))
    val plan = graft.sql.GraftSql.sql(spark,
        s"VACUUM graft.`$path` RETAIN 2 VERSIONS DRY RUN")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // nothing deleted: all four versions still read
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L, 3L, 4L))
    assert(ParquetTable.readAt(spark, path, 1).count() === 1)
    // the plan names the two retired manifests and their two data dirs
    assert(plan.count(_._1 == "manifest") === 2)
    assert(plan.count(_._1 == "data_dir") === 2)
    // the real sweep deletes exactly the listed paths
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    plan.foreach { case (_, p) =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)), s"listed but absent: $p")
    }
    ParquetTable.vacuum(spark, path, keepLast = 2)
    plan.foreach { case (_, p) =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)), s"listed but survived: $p")
    }
    assert(ParquetTable.versions(spark, path) === Seq(3L, 4L))
  }

  test("vacuumOlderThan survives one skew-stamped mid-history version") {
    val path = tmpDir("vac-skew") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path)                       // v1
    ParquetTable.merge(spark, path, df(Row(1, "b", "d1")), Seq("id"))      // v2
    ParquetTable.merge(spark, path, df(Row(1, "c", "d1")), Seq("id"))      // v3
    ParquetTable.merge(spark, path, df(Row(1, "d", "d1")), Seq("id"))      // v4
    // a skewed clock stamped v3 in the distant past; v1/v2/v4 are recent.
    // takeWhile-from-newest would stop at v3 and sweep the in-horizon v2/v1.
    val m3 = java.nio.file.Paths.get(path, "_graft_manifest", f"v${3L}%020d")
    val rewritten = new String(java.nio.file.Files.readAllBytes(m3), "UTF-8")
      .linesIterator.map(l => if (l.startsWith("#ts=")) "#ts=1" else l).mkString("\n")
    java.nio.file.Files.write(m3, rewritten.getBytes("UTF-8"))
    ParquetTable.vacuumOlderThan(spark, path, horizonMillis = 3600L * 1000)
    // keep-from-oldest-in-horizon: v1 is in horizon, so nothing is swept
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L, 3L, 4L))
    assert(ParquetTable.readAt(spark, path, 1L).head().getString(1) === "a")
  }

  test("versioned layout is invisible to plain parquet listings of the root") {
    val path = tmpDir("plain-inv") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path)
    // underscore-prefixed data dirs + manifest are filtered by Spark's file
    // index, so a naive reader of the root sees an empty-but-valid table
    // rather than double-counting versions; library readers use read()
    val names = new java.io.File(path).list().toSeq
    assert(names.forall(_.startsWith("_")))
  }

  // ---- partitioned versioned tables --------------------------------------

  private def dataDirs(path: String): Seq[String] =
    new java.io.File(path).list().toSeq.filter(_.startsWith("_d")).sorted

  private def rowsOf(frame: org.apache.spark.sql.DataFrame): Map[Int, (String, String)] =
    frame.collect().map(r => r.getInt(r.fieldIndex("id")) ->
      (r.getString(r.fieldIndex("v")), r.getString(r.fieldIndex("day")))).toMap

  test("partitioned versioned merge rewrites only affected partitions") {
    val path = tmpDir("pv-merge") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "d1"), Row(2, "b", "d2"), Row(3, "c", "d3")), path, Seq("day"))
    assert(ParquetTable.versions(spark, path) === Seq(1L))
    val dirsV1 = dataDirs(path)
    assert(dirsV1.size === 1)

    // merge touches d2 (update) and d4 (new partition) — NOT d1/d3
    ParquetTable.merge(spark, path,
      df(Row(2, "B", "d2"), Row(4, "d", "d4")), Seq("id"), Seq("day"))
    assert(ParquetTable.versions(spark, path) === Seq(1L, 2L))
    val newDirs = dataDirs(path).diff(dirsV1)
    assert(newDirs.size === 1) // exactly one fresh data dir
    // the fresh dir holds ONLY the affected partitions
    assert(new java.io.File(s"$path/${newDirs.head}").list().toSeq
      .filter(_.contains("=")).sorted === Seq("day=d2", "day=d4"))
    // untouched partitions still resolve from the ORIGINAL dir
    val entries = ParquetTable.partitionEntries(spark, path, 2L).get.toMap
    assert(entries("day=d1") === dirsV1.head)
    assert(entries("day=d2") === newDirs.head)

    assert(rowsOf(ParquetTable.read(spark, path)) === Map(
      1 -> ("a", "d1"), 2 -> ("B", "d2"), 3 -> ("c", "d3"), 4 -> ("d", "d4")))
  }

  test("partitioned versioned table time-travels across merges") {
    val path = tmpDir("pv-tt") + "/t"
    ParquetTable.createVersioned(df(Row(1, "a", "d1"), Row(2, "b", "d2")), path, Seq("day"))
    ParquetTable.mergeVersioned(spark, path, df(Row(2, "B", "d2")), Seq("id"), Seq("day"))
    ParquetTable.mergeVersioned(spark, path, df(Row(1, "A", "d1")), Seq("id"), Seq("day"))
    assert(rowsOf(ParquetTable.readAt(spark, path, 1)) ===
      Map(1 -> ("a", "d1"), 2 -> ("b", "d2")))
    assert(rowsOf(ParquetTable.readAt(spark, path, 2)) ===
      Map(1 -> ("a", "d1"), 2 -> ("B", "d2")))
    assert(rowsOf(ParquetTable.readAt(spark, path, 3)) ===
      Map(1 -> ("A", "d1"), 2 -> ("B", "d2")))
  }

  test("partitioned versioned merge is idempotent on replay") {
    val path = tmpDir("pv-idem") + "/t"
    val batch = df(Row(1, "a", "d1"), Row(2, "b", "d2"))
    ParquetTable.mergeVersioned(spark, path, batch, Seq("id"), Seq("day")) // creates
    ParquetTable.mergeVersioned(spark, path, batch, Seq("id"), Seq("day"))
    assert(ParquetTable.read(spark, path).count() === 2)
  }

  test("vacuum on a partitioned versioned table keeps referenced old dirs") {
    val path = tmpDir("pv-vacuum") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "d1"), Row(2, "b", "d2"), Row(3, "c", "d3")), path, Seq("day"))
    val origDir = dataDirs(path).head
    ParquetTable.mergeVersioned(spark, path, df(Row(2, "B", "d2")), Seq("id"), Seq("day"))
    ParquetTable.mergeVersioned(spark, path, df(Row(2, "BB", "d2")), Seq("id"), Seq("day"))
    ParquetTable.vacuum(spark, path, keepLast = 1)
    assert(ParquetTable.versions(spark, path) === Seq(3L))
    // v1's dir survives (still referenced for d1/d3) minus the stale d2
    assert(dataDirs(path).contains(origDir))
    assert(!new java.io.File(s"$path/$origDir/day=d2").exists())
    assert(new java.io.File(s"$path/$origDir/day=d1").exists())
    // v2's intermediate d2-only dir is gone (referenced by nothing kept)
    assert(dataDirs(path).size === 2)
    assert(rowsOf(ParquetTable.read(spark, path)) === Map(
      1 -> ("a", "d1"), 2 -> ("BB", "d2"), 3 -> ("c", "d3")))
  }

  test("compact folds a scattered current version into one dir") {
    val path = tmpDir("pv-compact") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "d1"), Row(2, "b", "d2")), path, Seq("day"))
    ParquetTable.mergeVersioned(spark, path, df(Row(2, "B", "d2")), Seq("id"), Seq("day"))
    ParquetTable.mergeVersioned(spark, path, df(Row(3, "c", "d3")), Seq("id"), Seq("day"))
    // current version references 3 data dirs before compaction
    assert(ParquetTable.partitionEntries(spark, path, 3L).get.map(_._2).distinct.size === 3)
    ParquetTable.compact(spark, path)
    assert(ParquetTable.partitionEntries(spark, path, 4L).get.map(_._2).distinct.size === 1)
    assert(rowsOf(ParquetTable.read(spark, path)) === Map(
      1 -> ("a", "d1"), 2 -> ("B", "d2"), 3 -> ("c", "d3")))
    ParquetTable.vacuum(spark, path, keepLast = 1)
    assert(dataDirs(path).size === 1)
    assert(rowsOf(ParquetTable.read(spark, path)) === Map(
      1 -> ("a", "d1"), 2 -> ("B", "d2"), 3 -> ("c", "d3")))
  }

  test("partition values with special characters roundtrip through escaping") {
    val path = tmpDir("pv-esc") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "d 1/x:y"), Row(2, "b", "plain")), path, Seq("day"))
    ParquetTable.mergeVersioned(spark, path,
      df(Row(1, "A", "d 1/x:y")), Seq("id"), Seq("day"))
    assert(rowsOf(ParquetTable.read(spark, path)) ===
      Map(1 -> ("A", "d 1/x:y"), 2 -> ("b", "plain")))
  }

  test("evolveSchema: new update columns join the table, old rows read NULL") {
    val path = tmpDir("evolve") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1"), Row(2, "b", "d1")), path) // v1
    // updates carry a NEW column (score) and omit an existing one (day)
    val wider = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    ParquetTable.merge(spark, path,
      frame(wider, Seq(Row(2, "B", 0.9), Row(3, "c", 0.5))),
      Seq("id"), evolveSchema = true)
    val out = ParquetTable.read(spark, path)
    assert(out.columns.toSeq === Seq("id", "v", "day", "score"))
    val rows = out.collect().map(r => r.getInt(0) ->
      (r.getString(1), Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows === Map(
      1 -> (("a", Some("d1"), None)),       // untouched row: NULL new column
      2 -> (("B", None, Some(0.9))),        // updated: NULL omitted column
      3 -> (("c", None, Some(0.5)))))       // inserted
    // time travel keeps the historical schema
    assert(ParquetTable.readAt(spark, path, 1L).columns.toSeq === Seq("id", "v", "day"))
    // strict default still refuses a missing column
    intercept[Exception] {
      ParquetTable.merge(spark, path,
        frame(wider, Seq(Row(4, "d", 1.0))), Seq("id"))
    }
    // cdf + evolution cannot share a commit
    val e = intercept[IllegalArgumentException] {
      ParquetTable.merge(spark, path,
        frame(wider, Seq(Row(4, "d", 1.0))), Seq("id"),
        cdf = true, evolveSchema = true)
    }
    assert(e.getMessage.contains("share a commit"))
  }

  test("evolveSchema on a PARTITIONED versioned table: only affected partitions widen") {
    val path = tmpDir("evolve-part") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "d1"), Row(2, "b", "d2")), path, Seq("day")) // v1
    val wider = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("day", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    // widen via d1 only; d2's data dir is untouched (old schema on disk)
    ParquetTable.merge(spark, path,
      frame(wider, Seq(Row(1, "A", "d1", 0.9), Row(3, "c", "d1", 0.5))),
      Seq("id"), Seq("day"), evolveSchema = true) // v2
    val out = ParquetTable.read(spark, path)
    assert(out.columns.contains("score"))
    val rows = out.collect().map(r => r.getAs[Int]("id") ->
      (r.getAs[String]("v"), r.getAs[String]("day"),
        Option(r.getAs[java.lang.Double]("score")).map(_.toDouble))).toMap
    assert(rows === Map(
      1 -> (("A", "d1", Some(0.9))),   // rewritten, widened
      2 -> (("b", "d2", None)),        // untouched old dir: NULL new column
      3 -> (("c", "d1", Some(0.5)))))  // inserted
    // time travel shows v1's own (pre-evolution) schema
    assert(!ParquetTable.readAt(spark, path, 1L).columns.contains("score"))
    // predicate-carrying read across mixed-schema dirs stays exact,
    // including a predicate ON the appended column
    assert(ParquetTable.readWhere(spark, path, col("score") > 0.7)
      .collect().map(_.getAs[Int]("id")).toSeq === Seq(1))
    assert(ParquetTable.readWhere(spark, path, col("v") === "b")
      .collect().map(_.getAs[Int]("id")).toSeq === Seq(2))
    // row-level verbs work across mixed dirs (slice aligned to the
    // version schema): delete by the appended column
    ParquetTable.delete(spark, path, col("score") === 0.5) // v3
    assert(ParquetTable.read(spark, path).collect()
      .map(_.getAs[Int]("id")).toSet === Set(1, 2))
    // inserting a brand-new partition under evolution aligns with the
    // table schema (missing columns → typed NULLs)
    ParquetTable.merge(spark, path,
      df(Row(4, "d", "d3")), Seq("id"), Seq("day"), evolveSchema = true) // v4
    val r4 = ParquetTable.read(spark, path).filter(col("id") === 4).head()
    assert(r4.getAs[String]("day") === "d3" && r4.isNullAt(r4.fieldIndex("score")))
  }

  test("restore republishes an old image as a new version, history intact") {
    val path = tmpDir("restore") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path) // v1
    ParquetTable.merge(spark, path, df(Row(1, "A", "d1"), Row(2, "b", "d1")),
      Seq("id"), cdf = true) // v2
    val v3 = ParquetTable.restore(spark, path, 1L)
    assert(v3 === 3L)
    // current = the v1 image, via a metadata-only commit
    assert(ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === Map(1 -> "a"))
    // rolled-back version stays readable (Delta RESTORE semantics)
    assert(ParquetTable.readAt(spark, path, 2L).count() === 2)
    // restoring a partitioned versioned table re-points partition entries
    val p2 = tmpDir("restore-part") + "/t"
    ParquetTable.createVersioned(df(Row(1, "a", "d1"), Row(2, "b", "d2")),
      p2, Seq("day")) // v1
    ParquetTable.mergeVersioned(spark, p2, df(Row(2, "B", "d2")),
      Seq("id"), Seq("day")) // v2
    ParquetTable.restore(spark, p2, 1L) // v3 = v1 image
    assert(ParquetTable.read(spark, p2).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === Map(1 -> "a", 2 -> "b"))
    val e = intercept[IllegalArgumentException] {
      ParquetTable.restore(spark, p2, 9L)
    }
    assert(e.getMessage.contains("version 9"))
  }

  test("vacuum after restore keeps the restored version's data dirs alive") {
    val path = tmpDir("restore-vacuum") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path) // v1
    ParquetTable.merge(spark, path, df(Row(1, "X", "d1")), Seq("id")) // v2
    ParquetTable.restore(spark, path, 1L) // v3 points at v1's data dir
    ParquetTable.vacuum(spark, path, keepLast = 1) // keeps only v3
    // reference-aware vacuum must NOT delete v1's dir: v3 references it
    assert(ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === Map(1 -> "a"))
    assert(ParquetTable.versions(spark, path) === Seq(3L))
  }

  test("history lists versions newest-first with manifest shape + CDF flag") {
    val path = tmpDir("history") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path) // v1, no change manifest
    ParquetTable.merge(spark, path, df(Row(1, "A", "d1")),
      Seq("id"), cdf = true) // v2, captured
    ParquetTable.merge(spark, path, df(Row(2, "b", "d1")),
      Seq("id"), mergeOnRead = Some(true)) // v3, a two-dir merge-on-read chain
    val h = ParquetTable.history(spark, path)
      .select("version", "partitioned", "n_entries", "n_data_dirs", "has_change_manifest")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4)))
    assert(h.toSeq === Seq((3L, false, 2, 2, false), (2L, false, 1, 1, true),
      (1L, false, 1, 1, false)))
    // DESCRIBE DETAIL counts the same chain
    assert(ParquetTable.detail(spark, path).select("n_data_dirs").head().getInt(0) === 2)
    // partitioned table: entry counts reflect the manifest
    val p2 = tmpDir("history-part") + "/t"
    ParquetTable.createVersioned(df(Row(1, "a", "d1"), Row(2, "b", "d2")),
      p2, Seq("day"))
    val hp = ParquetTable.history(spark, p2)
      .select("partitioned", "n_entries", "n_data_dirs").head()
    assert(hp.getBoolean(0) && hp.getInt(1) === 2 && hp.getInt(2) === 1)
  }

  test("timestamp time travel resolves through committed #ts= headers") {
    val path = tmpDir("ts-travel") + "/t"
    ParquetTable.create(df(Row(1, "a", "d1")), path) // v1
    Thread.sleep(15) // separate the commit instants by > 1 ms
    ParquetTable.merge(spark, path, df(Row(1, "A", "d1")), Seq("id")) // v2
    val t1 = ParquetTable.commitTimestamp(spark, path, 1L).get
    val t2 = ParquetTable.commitTimestamp(spark, path, 2L).get
    assert(t1 < t2)
    assert(ParquetTable.versionAtTimestamp(spark, path, t1) === 1L)
    assert(ParquetTable.versionAtTimestamp(spark, path, t2 - 1) === 1L)
    assert(ParquetTable.versionAtTimestamp(spark, path, t2) === 2L)
    assert(ParquetTable.versionAtTimestamp(spark, path, t2 + 60000) === 2L)
    assert(ParquetTable.readAtTimestamp(spark, path, t1)
      .select("v").head().getString(0) === "a")
    val e = intercept[IllegalArgumentException] {
      ParquetTable.versionAtTimestamp(spark, path, t1 - 1)
    }
    assert(e.getMessage.contains("predates the first commit"))
    // restore stamps a FRESH commit time on the re-published image
    Thread.sleep(15)
    val v3 = ParquetTable.restore(spark, path, 1L)
    val t3 = ParquetTable.commitTimestamp(spark, path, v3).get
    assert(t3 > t2)
  }

  test("every version publish flows through the injected LogCommitter") {
    val path = tmpDir("committer") + "/t"
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val counting = new LogCommitter {
      override def commit(fs: org.apache.hadoop.fs.FileSystem,
          target: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = {
        committed.add(target.getName)
        RenameCommitter.commit(fs, target, content)
      }
    }
    val prev = ParquetTable.logCommitter
    ParquetTable.logCommitter = counting
    try {
      ParquetTable.create(df(Row(1, "a", "d1")), path) // v1
      ParquetTable.merge(spark, path, df(Row(1, "A", "d1")), Seq("id")) // v2
      assert(ParquetTable.versions(spark, path) === Seq(1L, 2L))
      assert(rowsOf(ParquetTable.read(spark, path)) === Map(1 -> ("A", "d1")))
      // both manifests were published by the injected committer
      assert(committed.size === 2)
      assert(committed.asScala.forall(_.matches("v\\d+")))
    } finally ParquetTable.logCommitter = prev
  }

  /** A committer that loses its first `failures` races (returns false
    * without writing) — the retry loop must roll the version forward.
    */
  test("a committer losing races forces version-number retry, not corruption") {
    val path = tmpDir("committer-race") + "/t"
    val losses = new java.util.concurrent.atomic.AtomicInteger(2)
    val flaky = new LogCommitter {
      override def commit(fs: org.apache.hadoop.fs.FileSystem,
          target: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean =
        if (losses.getAndDecrement() > 0) {
          // simulate a racing winner: publish a manifest at that version
          RenameCommitter.commit(fs, target, content)
          false // but tell OUR writer it lost
        } else RenameCommitter.commit(fs, target, content)
    }
    val prev = ParquetTable.logCommitter
    ParquetTable.logCommitter = flaky
    try {
      ParquetTable.create(df(Row(1, "a", "d1")), path)
      // lost v1 and v2 "races", landed on v3; table reads correctly
      assert(ParquetTable.currentVersion(spark, path) === Some(3L))
      assert(rowsOf(ParquetTable.read(spark, path)) === Map(1 -> ("a", "d1")))
    } finally ParquetTable.logCommitter = prev
  }
}

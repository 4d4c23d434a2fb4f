package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifest format has one owner, [[ParquetTable.Snapshot]]: every
  * manifest the commit verbs write renders back byte for byte from its
  * parse, and the parser takes headers in any order and headerless legacy
  * manifests.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def manifests(path: String): Seq[(Long, String)] =
    ParquetTable.versions(spark, path).map { v =>
      v -> new String(Files.readAllBytes(
        Paths.get(path, "_graft_manifest", f"v$v%020d")), "UTF-8")
    }

  test("render(parse(m)) == m for every manifest the verbs write") {
    val u = tmpDir("snap-u") + "/t"
    val rows = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "k", "x")
    ParquetTable.atomicReplace(spark, u, rows, Nil, txn = Some("app.1" -> 4L))
    ParquetTable.deleteVectors(spark, u, col("id") === 1L)
    ParquetTable.mergeVectors(spark, u, Seq((2L, "B", 9.0)).toDF("id", "k", "x"), Seq("id"))
    ParquetTable.insertInto(spark, u, Seq((4L, "d", 4.0)).toDF("id", "k", "x"))
    ParquetTable.renameColumn(spark, u, "x", "amount")
    ParquetTable.dropColumn(spark, u, "k")
    val clone = tmpDir("snap-clone") + "/t"
    ParquetTable.shallowClone(spark, u, clone)

    val p = tmpDir("snap-p") + "/t"
    ParquetTable.createVersioned(
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "x"), p, Seq("day"))
    ParquetTable.insertInto(spark, p, Seq((3L, "d1", 3.0)).toDF("id", "day", "x"))
    ParquetTable.merge(spark, p, Seq((2L, "d2", 5.0)).toDF("id", "day", "x"), Seq("id"),
      Seq("day"), mergeOnRead = Some(true))
    ParquetTable.renameColumn(spark, p, "x", "amount")
    ParquetTable.compactWhere(spark, p, col("day") === "d1")

    // an index dir: artifact entries and the #props= header
    val idx = tmpDir("snap-idx") + "/index"
    val docs = Seq((1L, "spark tables"), (2L, "bloom filters")).toDF("doc_id", "text")
    graft.operators.Bm25.buildIndex(docs, "doc_id", "text", idx)
    graft.operators.Bm25.appendToIndex(Seq((3L, "tables again")).toDF("doc_id", "text"),
      "doc_id", "text", idx)

    val all = Seq(u, clone, p, idx).flatMap(manifests)
    assert(all.size === 14)
    all.foreach { case (v, m) =>
      assert(ParquetTable.Snapshot.parse(v, m).render === m)
    }
    // every header and both body shapes were exercised
    Seq("#ts=", "#txn=app.1:4", "#dv=", "#colmap=", "#props=avgdl=", "postings\t_d", "\t").foreach { s =>
      assert(all.exists(_._2.contains(s)), s)
    }
  }

  test("headers parse in any order; a headerless legacy manifest has none") {
    val shuffled = ParquetTable.Snapshot.parse(3L,
      "#colmap=a>b\tc>\n#dv=_graft_dv/x\t/src/_graft_dv/y\n#txn=app:7\n#ts=123\n_d1\n_d2")
    assert(shuffled.entries === Seq("" -> "_d1", "" -> "_d2"))
    assert(!shuffled.partitioned)
    assert(shuffled.dv === Seq("_graft_dv/x", "/src/_graft_dv/y"))
    assert(shuffled.renames === Map("a" -> "b") && shuffled.drops === Seq("c"))
    assert(shuffled.txn === Some("app" -> 7L) && shuffled.ts === Some(123L))
    assert(shuffled.version === 3L)
    assert(shuffled.render ===
      "#ts=123\n#txn=app:7\n#dv=_graft_dv/x\t/src/_graft_dv/y\n#colmap=a>b\tc>\n_d1\n_d2")

    val legacy = ParquetTable.Snapshot.parse(1L, "day=d2\t_d9\nday=d1\t_d9\n")
    assert(legacy.partitioned && legacy.partitionColumns === Seq("day"))
    assert(legacy.entries === Seq("day=d2" -> "_d9", "day=d1" -> "_d9"))
    assert(legacy.ts.isEmpty && legacy.txn.isEmpty && legacy.dv.isEmpty && !legacy.mapped)
    val legacyUnpartitioned = ParquetTable.Snapshot.parse(1L, "_v1\n")
    assert(legacyUnpartitioned.entries === Seq("" -> "_v1"))
    assert(legacyUnpartitioned.render === "_v1")
  }

  test("#props= round-trips doubles bit-identical and refuses tab, CR and LF") {
    val doubles = Seq(1.0 / 3, 2.5e-300, -0.0, Double.MaxValue, 7.0)
    val s = ParquetTable.Snapshot(Seq("postings" -> "_d1"),
      props = doubles.zipWithIndex.map { case (d, i) => s"d$i" -> java.lang.Double.toString(d) }
        .toMap + ("cols" -> "a,b=c"))
    val back = ParquetTable.Snapshot.parse(1L, s.render)
    assert(back.props("cols") === "a,b=c")
    doubles.zipWithIndex.foreach { case (d, i) =>
      assert(java.lang.Double.doubleToRawLongBits(back.props(s"d$i").toDouble) ===
        java.lang.Double.doubleToRawLongBits(d))
    }
    assert(back.render === s.render)
    Seq("k" -> "a\tb", "k" -> "a\nb", "k" -> "a\rb", "k\t" -> "v", "a=b" -> "v", "" -> "v")
      .foreach { kv =>
        intercept[IllegalArgumentException](
          ParquetTable.Snapshot(Seq("x" -> "_d1"), props = Map(kv)).render)
      }
  }
}

package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The table-DDL file format: the bytes each DDL verb writes, the writer's
  * refusals and deletes, `exists` ignoring DDL-only paths, and DDL
  * surviving a plain partitioned create.
  */
class TableDdlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = tmpDir(prefix) + "/t"

  private def bytes(table: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(table, file)), UTF_8)

  private def present(table: String, file: String): Boolean =
    Files.exists(Paths.get(table, file))

  test("each DDL kind, written through its public verb, keeps the on-disk bytes") {
    // constraints and generation rules (a rule pairs with a _gen_ CHECK)
    val g = tmp("ddl-gen")
    GeneratedColumns.add(spark, g, "doubled", "x * 2")
    Constraints.add(spark, g, "x_pos", "x > 0")
    assert(bytes(g, "_graft_generated") === "doubled\tx * 2")
    assert(bytes(g, "_graft_constraints") ===
      "_gen_doubled\tdoubled <=> (x * 2)\nx_pos\tx > 0")

    // identity rules: the watermark advances with each filled batch
    val i = tmp("ddl-id")
    IdentityColumns.add(spark, i, "id", start = 10L, step = 5L)
    IdentityColumns.add(spark, i, "seq", start = -1L, step = -1L)
    assert(bytes(i, "_graft_identity") === "id\t10\t5\t5\nseq\t-1\t-1\t0")
    ParquetTable.create(Seq("a", "b", "c").toDF("v"), i)
    assert(bytes(i, "_graft_identity") === "id\t10\t5\t20\nseq\t-1\t-1\t-3")

    // column defaults: empty default and empty droppedAt fields stay
    val d = tmp("ddl-def")
    ParquetTable.create(Seq(1L, 2L).toDF("id"), d)
    ParquetTable.addColumn(spark, d, "tier", "string", Some("'std'"))
    ParquetTable.addColumn(spark, d, "note", "int")
    assert(bytes(d, "_graft_defaults") === "tier\tstring\t'std'\t2\t\nnote\tint\t\t3\t")
    ParquetTable.dropColumn(spark, d, "tier")
    assert(bytes(d, "_graft_defaults") === "tier\tstring\t'std'\t2\t4\nnote\tint\t\t3\t")

    // table properties, insertion order, upserts replace in place of append
    val p = tmp("ddl-props")
    TableProperties.set(spark, p, Map("owner" -> "ingest"))
    TableProperties.set(spark, p, Map("tier" -> "raw"))
    assert(bytes(p, "_graft_properties") === "owner\tingest\ntier\traw")
  }

  test("a field with a control character is refused and the file stays as it was") {
    val p = tmp("ddl-ctrl")
    TableProperties.set(spark, p, Map("owner" -> "ingest"))
    for (bad <- Seq("a\tb", "a\nb", "a\rb")) {
      val e = intercept[IllegalArgumentException] {
        TableProperties.set(spark, p, Map("note" -> bad))
      }
      assert(e.getMessage.contains("must not contain newlines or tabs"))
      intercept[IllegalArgumentException] {
        TableDdl.Constraints.write(spark, p, Seq(Seq("c1", bad)))
      }
    }
    assert(bytes(p, "_graft_properties") === "owner\tingest")
    assert(!present(p, "_graft_constraints"))
  }

  test("writing no rows deletes the file") {
    val p = tmp("ddl-empty")
    TableProperties.set(spark, p, Map("owner" -> "ingest", "tier" -> "raw"))
    assert(present(p, "_graft_properties"))
    TableProperties.unset(spark, p, Seq("owner", "tier"))
    assert(!present(p, "_graft_properties"))
    TableDdl.Identity.write(spark, p, Seq(Seq("id", "1", "1", "0")))
    assert(TableDdl.Identity.read(spark, p) === Seq(Seq("id", "1", "1", "0")))
    TableDdl.Identity.write(spark, p, Nil)
    assert(!present(p, "_graft_identity"))
    assert(TableDdl.Identity.read(spark, p).isEmpty)
  }

  test("a path holding only a DDL file is not a table, for every kind") {
    for (f <- TableDdl.Files) {
      val p = tmp("ddl-exists")
      f.write(spark, p, Seq(Seq("k", "v")))
      assert(present(p, f.name))
      assert(!ParquetTable.exists(spark, p), f.name)
    }
  }

  test("a plain partitioned create keeps the constraints registered before it") {
    val p = tmp("ddl-create")
    Constraints.add(spark, p, "x_pos", "x > 0")
    ParquetTable.create(Seq((1, "d1"), (2, "d2")).toDF("x", "d"), p, Seq("d"))
    assert(Constraints.list(spark, p) === Seq("x_pos" -> "x > 0"))
    val e = intercept[IllegalArgumentException] {
      ParquetTable.append(Seq((-1, "d1")).toDF("x", "d"), p, Seq("d"))
    }
    assert(e.getMessage.contains("x_pos"))
    assert(ParquetTable.read(spark, p).count() === 2L)
  }

  test("a partitioned merge as the first write keeps generation rules for the next merge") {
    val p = tmp("ddl-merge")
    GeneratedColumns.add(spark, p, "doubled", "x * 2")
    ParquetTable.merge(spark, p, Seq((1, 1, "d1"), (2, 2, "d2")).toDF("id", "x", "d"),
      Seq("id"), partitionColumns = Seq("d"))
    assert(GeneratedColumns.list(spark, p) === Seq("doubled" -> "x * 2"))
    assert(Constraints.list(spark, p).map(_._1) === Seq("_gen_doubled"))
    ParquetTable.merge(spark, p, Seq((2, 5, "d2"), (3, 3, "d1")).toDF("id", "x", "d"),
      Seq("id"), partitionColumns = Seq("d"))
    val rows = ParquetTable.read(spark, p).select("id", "x", "doubled")
      .as[(Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1, 1, 2), (2, 5, 10), (3, 3, 6)))
  }
}

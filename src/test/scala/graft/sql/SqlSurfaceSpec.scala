package graft.sql

import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.SparkSpec
import graft.sources.{Constraints, ParquetTable, TableProperties}

/** The graft SQL surface as a caller sees it: statements whose comments or
  * quoting must not change what runs, variants Spark's grammar accepts but
  * graft refuses by name, and the result schema of every statement.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = {
    val p = tmpDir("graft_surface") + "/t"
    ParquetTable.create(
      Seq((1L, "a", 10.0), (2L, "b", 5.0)).toDF("id", "name", "x"), p)
    p
  }

  test("comments around ADD CONSTRAINT do not change the statement") {
    val p = table()
    GraftSql.sql(spark,
      s"/* ops */ ALTER TABLE graft.`$p` ADD CONSTRAINT pos CHECK (x > 0)")
    assert(Constraints.list(spark, p) == Seq("pos" -> "x > 0"))
    val q = table()
    GraftSql.sql(spark,
      s"ALTER TABLE graft.`$q` ADD CONSTRAINT pos CHECK (x > 0) -- positive")
    assert(Constraints.list(spark, q) == Seq("pos" -> "x > 0"))
  }

  test("a quoted ')' is part of a property value") {
    val p = table()
    GraftSql.sql(spark,
      s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('owner.note' = 'a)b')")
    assert(TableProperties.list(spark, p) == Seq("owner.note" -> "a)b"))
  }

  test("a comment line before DESCRIBE") {
    val p = table()
    val rows = GraftSql.sql(spark, s"-- columns\nDESCRIBE graft.`$p`").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("id", "name", "x"))
  }

  test("leading comments before a graft-only statement") {
    val p = table()
    val vacuumed = GraftSql.sql(spark, s"/* nightly */ VACUUM graft.`$p`").collect()
    assert(vacuumed.map(_.getLong(0)).toSeq == Seq(1L))
    val history = GraftSql.sql(spark, s"-- audit\nDESCRIBE HISTORY graft.`$p`").collect()
    assert(history.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("reserved Spark property keys stay free-form graft properties") {
    val p = table()
    GraftSql.sql(spark,
      s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('owner' = 'ingest', 'location' = 'eu')")
    GraftSql.sql(spark, s"ALTER TABLE graft.`$p` UNSET TBLPROPERTIES ('location')")
    assert(TableProperties.list(spark, p) == Seq("owner" -> "ingest"))
    // the same keys on a table graft does not own keep Spark's refusal
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      GraftSql.sql(spark, "ALTER TABLE some_table SET TBLPROPERTIES ('owner' = 'x')")
    }
  }

  test("variants Spark parses but graft does not run are refused by name") {
    val p = table()
    val d = tmpDir("graft_surface") + "/ctas"
    Seq(
      s"ALTER TABLE graft.`$p` ADD COLUMNS (a int, b string)" -> "ADD COLUMN",
      s"ALTER TABLE graft.`$p` DROP COLUMNS name, x" -> "DROP COLUMN",
      s"ALTER TABLE graft.`$p` DROP COLUMN IF EXISTS name" -> "DROP COLUMN",
      s"DESCRIBE EXTENDED graft.`$p`" -> "DESCRIBE",
      s"ALTER TABLE graft.`$p` ADD CHECK (x > 0)" -> "ADD CONSTRAINT",
      s"ALTER TABLE graft.`$p` ADD CONSTRAINT pos CHECK (x > 0) ENFORCED" ->
        "ADD CONSTRAINT",
      s"ALTER TABLE graft.`$p` ADD CONSTRAINT pos CHECK (x > 0) RELY" ->
        "ADD CONSTRAINT",
      s"ALTER TABLE graft.`$p` DROP CONSTRAINT IF EXISTS pos" -> "DROP CONSTRAINT",
      s"CREATE TABLE graft.`$d` USING parquet AS SELECT 1 AS id" -> "CREATE TABLE",
      s"CREATE TABLE graft.`$d` OPTIONS ('k' = 'v') AS SELECT 1 AS id" -> "CREATE TABLE",
      s"CREATE TABLE graft.`$d` LOCATION '/elsewhere' AS SELECT 1 AS id" -> "CREATE TABLE",
      s"CREATE TABLE IF NOT EXISTS graft.`$d` AS SELECT 1 AS id" -> "CREATE TABLE"
    ).foreach { case (stmt, verb) =>
      val e = intercept[IllegalArgumentException](GraftSql.sql(spark, stmt))
      assert(e.getMessage.contains(verb) && e.getMessage.contains("graft.`") &&
        e.getMessage.contains("not supported (supported: "), s"$stmt -> ${e.getMessage}")
    }
    assert(ParquetTable.read(spark, p).columns.toSeq == Seq("id", "name", "x"))
    assert(Constraints.list(spark, p).isEmpty)
    assert(!ParquetTable.exists(spark, d))
  }

  /** "name type" per column; `!` marks a non-nullable column or array element. */
  private def render(schema: StructType): String = {
    def tpe(t: DataType): String = t match {
      case ArrayType(e, containsNull) => s"array<${tpe(e)}${if (containsNull) "" else "!"}>"
      case other => other.simpleString
    }
    schema.fields.map(f => s"${f.name} ${tpe(f.dataType)}${if (f.nullable) "" else "!"}")
      .mkString(", ")
  }

  test("every statement returns the result columns it always returned") {
    val root = tmpDir("graft_surface_schema")
    val t = s"$root/t"
    val tp = s"$root/tp"
    ParquetTable.create(
      Seq((1L, "a", 10.0), (2L, "b", 5.0), (3L, "c", 7.5)).toDF("id", "name", "x"), t)
    ParquetTable.createVersioned(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "part"), tp, Seq("part"))
    Seq((4L, "d", 4.0), (1L, "a", 11.0)).toDF("id", "name", "x")
      .createOrReplaceTempView("surface_updates")
    Seq((9L, "z")).toDF("id", "v").write.parquet(s"$root/plain")
    val long = (c: String) => s"$c bigint!"
    val golden: Seq[(String, String)] = Seq(
      s"MERGE INTO graft.`$t` AS t USING surface_updates AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *" -> "",
      s"MERGE INTO graft.`$t` AS t USING surface_updates AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.x > 0 THEN UPDATE SET x = s.x " +
        "WHEN NOT MATCHED THEN INSERT *" -> "",
      s"INSERT INTO graft.`$t` VALUES (5, 'e', 1.0)" -> "",
      s"INSERT OVERWRITE graft.`$tp` SELECT * FROM graft.`$tp`" -> "",
      s"DELETE FROM graft.`$t` WHERE id = 5" -> long("committed_version"),
      s"UPDATE graft.`$t` SET x = x + 1 WHERE id = 1" -> long("committed_version"),
      s"RESTORE TABLE graft.`$t` TO VERSION AS OF 1" -> long("restored_to_version"),
      s"RESTORE TABLE graft.`$t` TO TIMESTAMP AS OF '${System.currentTimeMillis()}'" ->
        long("restored_to_version"),
      s"OPTIMIZE graft.`$t` ZORDER BY (id, x)" -> long("committed_version"),
      s"OPTIMIZE graft.`$t` BLOOM BY (id)" -> "version bigint",
      s"OPTIMIZE graft.`$tp` WHERE part = 'p1'" -> long("optimized_version"),
      s"OPTIMIZE graft.`$t` COMPACT SMALL" -> "version bigint",
      s"OPTIMIZE graft.`$t`" -> long("optimized_version"),
      s"VACUUM graft.`$t` RETAIN 100 VERSIONS DRY RUN" -> "kind string!, path string!",
      s"VACUUM graft.`$t` RETAIN 100 VERSIONS" -> long("versions_retained"),
      s"DESCRIBE HISTORY graft.`$t`" ->
        ("version bigint!, partitioned boolean!, n_entries int!, n_data_dirs int!, " +
          "has_change_manifest boolean!, commit_ts timestamp, manifest_mtime timestamp!"),
      s"DESCRIBE DETAIL graft.`$tp`" ->
        ("location string!, format string!, version bigint, commit_ts timestamp, " +
          "partitioned boolean!, partition_columns array<string!>!, n_partitions int!, " +
          "n_data_dirs int!, num_files bigint, num_rows bigint, num_deleted_rows bigint!, " +
          "n_versions int!, n_constraints int!, column_mapping string!"),
      s"FSCK graft.`$t`" -> "kind string!, version bigint!, detail string!",
      s"GENERATE symlink_format_manifest FOR TABLE graft.`$t`" ->
        "manifest string!, n_files bigint!",
      s"CREATE TABLE graft.`$root/clone` SHALLOW CLONE graft.`$t`" -> long("cloned_version"),
      s"CONVERT TO GRAFT parquet.`$root/plain`" -> long("converted_version"),
      s"ALTER TABLE graft.`$root/gen` ADD COLUMN d GENERATED ALWAYS AS (x * 2)" -> "",
      s"ALTER TABLE graft.`$root/gen` DROP GENERATED COLUMN d" -> "",
      s"ALTER TABLE graft.`$root/ident` ADD COLUMN uid GENERATED BY DEFAULT AS IDENTITY" -> "",
      s"ALTER TABLE graft.`$root/ident` DROP IDENTITY COLUMN uid" -> "",
      s"ANALYZE graft.`$t` COMPUTE STATISTICS FOR COLUMNS (id, name)" ->
        long("analyzed_version"),
      s"ANALYZE graft.`$t` COMPUTE INCREMENTAL STATISTICS USING PK (id)" ->
        long("analyzed_version"),
      s"ANALYZE graft.`$t` COMPUTE HISTOGRAM FOR COLUMNS (x)" -> "column string!, bins int!",
      s"SHOW STATISTICS graft.`$t`" ->
        ("column string!, m int!, zeros bigint!, s_scaled bigint!, ndv_est double!, " +
          "exact boolean!"),
      s"CREATE TABLE graft.`$root/ctas` PARTITIONED BY (part) AS " +
        s"SELECT * FROM graft.`$tp`" -> "version bigint",
      s"DESCRIBE graft.`$t`" -> "col_name string!, data_type string!, info string!",
      s"ALTER TABLE graft.`$t` RENAME COLUMN name TO label" -> "version bigint",
      s"ALTER TABLE graft.`$t` DROP COLUMN label" -> "version bigint",
      s"ALTER TABLE graft.`$t` ADD CONSTRAINT pos CHECK (x > 0)" -> "",
      s"ALTER TABLE graft.`$t` DROP CONSTRAINT pos" -> "",
      s"ALTER TABLE graft.`$t` ADD COLUMN tier string DEFAULT 'std'" -> "version bigint",
      s"ALTER TABLE graft.`$t` ALTER COLUMN tier SET DEFAULT 'bulk'" -> "",
      s"ALTER TABLE graft.`$t` ALTER COLUMN tier DROP DEFAULT" -> "",
      s"ALTER TABLE graft.`$t` SET TBLPROPERTIES ('k' = 'v')" -> "",
      s"ALTER TABLE graft.`$t` UNSET TBLPROPERTIES ('k')" -> "",
      s"SHOW TBLPROPERTIES graft.`$t`" -> "key string!, value string!")
    val got = golden.map { case (stmt, _) =>
      stmt -> render(GraftSql.sql(spark, stmt).schema)
    }
    golden.zip(got).foreach { case ((stmt, want), (_, have)) =>
      assert(have == want, s"result columns of: $stmt")
    }
  }
}

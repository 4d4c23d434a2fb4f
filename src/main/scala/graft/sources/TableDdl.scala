package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The table-DDL files: where a table keeps its CHECK constraints
  * ([[Constraints]]), generated and identity columns ([[GeneratedColumns]],
  * [[IdentityColumns]]), added-column defaults ([[ColumnDefaults]]) and
  * TBLPROPERTIES ([[TableProperties]]). This module owns the file format
  * and nothing else; each of those objects keeps its rules and turns its
  * rows into fields and back.
  *
  * Format: one small UTF-8 text file per kind directly under the table
  * root (`_graft_constraints`, `_graft_generated`, `_graft_identity`,
  * `_graft_defaults`, `_graft_properties`), one row per line, fields
  * separated by `\t`, lines by `\n`, no trailing newline. A missing file
  * means no rows; writing no rows deletes the file. A field may not hold
  * `\n`, `\r` or `\t` (the writer refuses it and leaves the file as it
  * was).
  *
  * Atomicity: a write goes to a `._<name>.tmp<nanos>` file that is then
  * renamed over the old one. On a local filesystem rename(2) replaces
  * atomically, so a reader sees the old or the new file, whole. HDFS
  * refuses an existing destination, so there the writer deletes and then
  * renames: for that window a reader sees no file, i.e. no rows.
  *
  * Concurrency and versioning: DDL is last-writer-wins (like any catalog
  * property update) — two concurrent DDL writes on one table do not merge,
  * and the later rename decides. DDL is NOT versioned with the table's
  * manifest: time travel reads today's rules (ColumnDefaults records its
  * own version window inside its rows), and a commit does not publish the
  * DDL atomically with its data.
  */
private[sources] object TableDdl {

  final case class File(name: String) {

    private def fs(spark: SparkSession, p: Path): FileSystem =
      p.getFileSystem(spark.sessionState.newHadoopConf())

    /** The file's rows, each split on `\t`, in file order. */
    def read(spark: SparkSession, table: String): Seq[IndexedSeq[String]] = {
      val f = new Path(table, name)
      val hfs = fs(spark, f)
      val bytes =
        try {
          val in = hfs.open(f)
          try in.readAllBytes() finally in.close()
        } catch { case _: FileNotFoundException => return Nil }
      new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty)
        .map(_.split("\t", -1).toIndexedSeq).toSeq
    }

    /** Replace the file with `rows` (delete it when there are none). */
    def write(spark: SparkSession, table: String, rows: Seq[Seq[String]]): Unit = {
      val bad = rows.flatten.find(_.exists(c => c == '\n' || c == '\r' || c == '\t'))
      require(bad.isEmpty, s"$name: field must not contain newlines or tabs: '${bad.get}'")
      val f = new Path(table, name)
      val hfs = fs(spark, f)
      if (rows.isEmpty) { hfs.delete(f, false); return }
      val tmp = new Path(table, s".$name.tmp${System.nanoTime()}")
      val out = hfs.create(tmp, true)
      try out.write(rows.map(_.mkString("\t")).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      if (!hfs.rename(tmp, f)) {
        hfs.delete(f, false)
        require(hfs.rename(tmp, f), s"table DDL: rename failed at $f")
      }
    }
  }

  val Constraints = File("_graft_constraints")
  val Generated = File("_graft_generated")
  val Identity = File("_graft_identity")
  val Defaults = File("_graft_defaults")
  val Properties = File("_graft_properties")

  val Files: Seq[File] = Seq(Constraints, Generated, Identity, Defaults, Properties)

  def isDdlFile(fileName: String): Boolean = Files.exists(_.name == fileName)

  /** Every DDL file's rows, for [[restore]] after a write that replaces
    * the whole table directory.
    */
  def snapshot(spark: SparkSession, table: String): Seq[(File, Seq[Seq[String]])] =
    Files.map(f => f -> f.read(spark, table)).filter(_._2.nonEmpty)

  def restore(spark: SparkSession, table: String, s: Seq[(File, Seq[Seq[String]])]): Unit =
    s.foreach { case (f, rows) => f.write(spark, table, rows) }

  /** Verbatim copy of `files` from one table to another (clone). */
  def copy(spark: SparkSession, from: String, to: String, files: Seq[File]): Unit =
    restore(spark, to, files.map(f => f -> f.read(spark, from)).filter(_._2.nonEmpty))
}

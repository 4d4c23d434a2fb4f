package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The CAS-loss path of every versioned verb, table-driven through an
  * injected [[LogCommitter]] that refuses manifest publishes:
  *
  *   (a) the first CAS is refused without anything being written — the
  *       verb lands exactly one version whose image equals a race-free
  *       run, and every dir it staged is referenced by the head;
  *   (b) every CAS is refused — the verb gives up with an error naming
  *       it, and nothing it staged is left on disk;
  *   (c) the first CAS is refused because a racer published the same
  *       txn marker — the verb reports the re-delivery (-1) and leaves
  *       nothing behind;
  *   (d) the first CAS publishes and then throws (a committer timing out
  *       after its write landed) — the error reaches the caller and the
  *       published head stays readable: none of its dirs is deleted.
  */
class CommitProtocolSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: Row*) = frame(schema, rows)

  private val base = Seq(Row(1, "a", "a1"), Row(2, "a", "a2"), Row(3, "b", "b3"))
  private val upserts = Seq(Row(2, "a", "A2"), Row(4, "b", "B4"))

  /** One verb under test: `setup` builds its fixture, `run` is the verb
    * call (returning the committed version where the verb reports one),
    * `name` is the verb the give-up error must name.
    */
  private case class Verb(
      label: String, name: String,
      setup: String => Unit,
      run: (String, Option[(String, Long)]) => Option[Long],
      takesTxn: Boolean = false)

  private def unpartitioned(path: String): Unit = ParquetTable.create(df(base: _*), path)
  private def partitioned(path: String): Unit =
    ParquetTable.createVersioned(df(base: _*), path, Seq("p"))
  private def insert(path: String, rows: Row*): Unit = {
    ParquetTable.insertInto(spark, path, df(rows: _*)); ()
  }

  private val verbs = Seq(
    Verb("create", "atomicReplace", _ => (),
      (p, _) => { ParquetTable.create(df(base: _*), p); None }),
    Verb("createVersioned", "createVersioned", partitioned,
      (p, txn) => { ParquetTable.createVersioned(df(upserts: _*), p, Seq("p"), txn = txn); None },
      takesTxn = true),
    Verb("atomicReplace", "atomicReplace", unpartitioned,
      (p, txn) => Some(ParquetTable.atomicReplace(spark, p, df(upserts: _*), Nil, txn)),
      takesTxn = true),
    Verb("merge (copy-on-write)", "merge", unpartitioned,
      (p, txn) => { ParquetTable.merge(spark, p, df(upserts: _*), Seq("id"), txn = txn,
        mergeOnRead = Some(false)); None }, takesTxn = true),
    Verb("merge (merge-on-read)", "mergeVectors", unpartitioned,
      (p, txn) => { ParquetTable.merge(spark, p, df(upserts: _*), Seq("id"), txn = txn,
        mergeOnRead = Some(true)); None }, takesTxn = true),
    Verb("merge (partitioned rewrite)", "mergeVersioned", partitioned,
      (p, txn) => { ParquetTable.merge(spark, p, df(upserts: _*), Seq("id"), Seq("p"),
        txn = txn, mergeOnRead = Some(false)); None }, takesTxn = true),
    Verb("merge (partitioned merge-on-read)", "mergeVersioned", partitioned,
      (p, txn) => { ParquetTable.merge(spark, p, df(upserts: _*), Seq("id"), Seq("p"),
        txn = txn, mergeOnRead = Some(true)); None }, takesTxn = true),
    Verb("update (unpartitioned)", "update", unpartitioned,
      (p, _) => Some(ParquetTable.update(spark, p, col("id") === 2, Map("v" -> lit("U"))))),
    Verb("update (partitioned)", "update", partitioned,
      (p, _) => Some(ParquetTable.update(spark, p, col("id") === 2, Map("v" -> lit("U"))))),
    Verb("delete (unpartitioned)", "delete", unpartitioned,
      (p, _) => Some(ParquetTable.delete(spark, p, col("id") === 2))),
    Verb("delete (partitioned)", "delete", partitioned,
      (p, _) => Some(ParquetTable.delete(spark, p, col("id") === 2))),
    Verb("deleteVectors", "deleteVectors", unpartitioned,
      (p, _) => Some(ParquetTable.deleteVectors(spark, p, col("id") === 2))),
    Verb("mergeVectors", "mergeVectors", unpartitioned,
      (p, txn) => Some(ParquetTable.mergeVectors(spark, p, df(upserts: _*), Seq("id"), txn = txn)),
      takesTxn = true),
    Verb("insertInto (unpartitioned)", "insertInto", unpartitioned,
      (p, txn) => Some(ParquetTable.insertInto(spark, p, df(Row(9, "c", "c9")), txn = txn)),
      takesTxn = true),
    Verb("insertInto (partitioned)", "insertInto", partitioned,
      (p, txn) => Some(ParquetTable.insertInto(spark, p, df(Row(9, "c", "c9")), txn = txn)),
      takesTxn = true),
    Verb("compact", "compact", p => { unpartitioned(p); insert(p, Row(9, "c", "c9")) },
      (p, _) => { ParquetTable.compact(spark, p); None }),
    Verb("compactWhere", "compactWhere", p => { partitioned(p); insert(p, Row(9, "a", "a9")) },
      (p, _) => Some(ParquetTable.compactWhere(spark, p, col("p") === "a"))),
    Verb("compactSmall", "compactSmall",
      p => { unpartitioned(p); insert(p, Row(8, "c", "c8")); insert(p, Row(9, "c", "c9")) },
      (p, _) => Some(ParquetTable.compactSmall(spark, p, minBytes = 1L << 30))),
    Verb("restore", "restore",
      p => { unpartitioned(p); ParquetTable.deleteVectors(spark, p, col("id") === 1); () },
      (p, _) => Some(ParquetTable.restore(spark, p, 1L))),
    Verb("renameColumn", "renameColumn", partitioned,
      (p, _) => Some(ParquetTable.renameColumn(spark, p, "v", "w"))),
    Verb("dropColumn", "dropColumn", partitioned,
      (p, _) => Some(ParquetTable.dropColumn(spark, p, "v"))),
    Verb("addColumn", "addColumn", unpartitioned,
      (p, _) => Some(ParquetTable.addColumn(spark, p, "n", "INT", Some("7")))))

  // ---- fixtures and probes ------------------------------------------------

  private def image(path: String): Seq[String] =
    ParquetTable.read(spark, path).collect().map(_.toString).sorted.toSeq

  /** Data dirs and deletion-vector dirs on disk, table-relative. */
  private def stagedDirs(path: String): Set[String] = {
    def dirsIn(d: java.io.File, prefix: String): Seq[String] =
      Option(d.listFiles).toSeq.flatten.filter(_.isDirectory).map(prefix + _.getName)
    dirsIn(new java.io.File(path), "").filter(_.startsWith("_d")).toSet ++
      dirsIn(new java.io.File(path, "_graft_dv"), "_graft_dv/").toSet
  }

  /** Every dir the head version reads: its data dirs and DV dirs. */
  private def headDirs(path: String): Set[String] = {
    val v = ParquetTable.currentVersion(spark, path).get
    val data = ParquetTable.partitionEntries(spark, path, v).map(_.map(_._2))
      .getOrElse(new String(Files.readAllBytes(Paths.get(path, "_graft_manifest",
        f"v$v%020d")), "UTF-8").linesIterator.filterNot(_.startsWith("#"))
        .map(_.trim).filter(_.nonEmpty).toSeq)
    (data ++ ParquetTable.dvDirs(spark, path, v)).toSet
  }

  private def versionCount(path: String): Int = ParquetTable.versions(spark, path).size

  /** Run `body` with a committer whose `n`-th publish (1-based) is
    * decided by `onCommit(n, fs, target, content)`: Some(result) answers
    * without delegating, None delegates to the real committer.
    */
  private def withCommitter[A](
      onCommit: (Int, FileSystem, Path, Array[Byte]) => Option[Boolean])(body: => A): A = {
    val prev = ParquetTable.logCommitter
    var n = 0
    ParquetTable.logCommitter = new LogCommitter {
      override def commit(fs: FileSystem, target: Path, content: Array[Byte]): Boolean = {
        n += 1
        onCommit(n, fs, target, content).getOrElse(prev.commit(fs, target, content))
      }
    }
    try body finally ParquetTable.logCommitter = prev
  }

  private def fixture(verb: Verb, tag: String): String = {
    val path = tmpDir(s"cas-$tag") + "/t"
    verb.setup(path)
    path
  }

  // ---- (a) first CAS refused without a winner ------------------------------

  verbs.foreach { verb =>
    test(s"(a) ${verb.label}: a refused first CAS lands one version, race-free image") {
      val clean = fixture(verb, "clean")
      verb.run(clean, None)

      val path = fixture(verb, "a")
      val versionsBefore = versionCount(path)
      val dirsBefore = stagedDirs(path)
      val out = withCommitter((n, _, _, _) => if (n == 1) Some(false) else None) {
        verb.run(path, None)
      }
      assert(image(path) === image(clean))
      assert(versionCount(path) === versionsBefore + 1)
      out.foreach(v => assert(v === ParquetTable.currentVersion(spark, path).get))
      val leftover = (stagedDirs(path) -- dirsBefore) -- headDirs(path)
      assert(leftover.isEmpty, s"staged dirs the head does not reference: $leftover")
    }
  }

  // ---- (b) every CAS refused ----------------------------------------------

  verbs.foreach { verb =>
    test(s"(b) ${verb.label}: when every CAS is refused it gives up and leaves nothing") {
      val path = fixture(verb, "b")
      val versionsBefore = versionCount(path)
      val dirsBefore = stagedDirs(path)
      val e = intercept[Exception] {
        withCommitter((_, _, _, _) => Some(false))(verb.run(path, None))
      }
      assert(e.getMessage.contains(s"${verb.name}: lost the version race"), e.getMessage)
      assert(versionCount(path) === versionsBefore)
      assert(stagedDirs(path) === dirsBefore)
    }
  }

  // ---- (c) txn re-delivery detected under a lost CAS -----------------------

  verbs.filter(_.takesTxn).foreach { verb =>
    test(s"(c) ${verb.label}: a txn replay under a lost CAS commits nothing") {
      val path = fixture(verb, "c")
      val head = ParquetTable.currentVersion(spark, path).get
      val imageBefore = image(path)
      val dirsBefore = stagedDirs(path)
      // the racer re-publishes the head's snapshot carrying the SAME txn
      // marker, then the verb's own CAS on that version is refused
      val out = withCommitter { (n, fs, target, _) =>
        if (n > 1) None
        else {
          val raw = Files.readAllBytes(Paths.get(path, "_graft_manifest", f"v$head%020d"))
          DefaultCommitter.commit(fs, target, "#txn=app:7\n".getBytes("UTF-8") ++ raw)
          Some(false)
        }
      } {
        verb.run(path, Some("app" -> 7L))
      }
      out.foreach(v => assert(v === -1L))
      assert(ParquetTable.currentVersion(spark, path) === Some(head + 1))
      assert(ParquetTable.lastTxnVersion(spark, path, "app") === Some(7L))
      assert(image(path) === imageBefore)
      assert(stagedDirs(path) === dirsBefore)
    }
  }

  // ---- (d) a CAS that publishes, then throws -------------------------------

  verbs.foreach { verb =>
    test(s"(d) ${verb.label}: a CAS that throws after publishing keeps the head readable") {
      val path = fixture(verb, "d")
      val versionsBefore = versionCount(path)
      val e = intercept[java.io.IOException] {
        withCommitter { (n, fs, target, content) =>
          if (n > 1) None
          else {
            assert(DefaultCommitter.commit(fs, target, content))
            throw new java.io.IOException("commit timed out after publishing")
          }
        } {
          verb.run(path, None)
        }
      }
      assert(e.getMessage === "commit timed out after publishing")
      assert(versionCount(path) === versionsBefore + 1)
      val missing = headDirs(path).filterNot(d => new java.io.File(path, d).isDirectory)
      assert(missing.isEmpty, s"dirs of the published head deleted: $missing")
      image(path)
    }
  }
}

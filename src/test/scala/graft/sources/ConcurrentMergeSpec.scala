package graft.sources

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Concurrent writers against one partitioned versioned table — the OCC
  * semantics [[ParquetTable.rebaseOnto]] documents (Delta
  * ConflictChecker parity):
  *
  *   - merges into DISJOINT partitions both land, and the loser lands by
  *     REBASE: it keeps the data dir it already wrote and re-publishes a
  *     manifest on top of the winner — metadata-only, no second data
  *     write (the property that makes concurrent ETL into different date
  *     partitions viable at 100 TB);
  *   - overlapping commits (same partition, or a concurrent DV delete
  *     inside an affected partition) make the loser RECOMPUTE from the
  *     winner's snapshot — both still land, rows deleted by the winner
  *     are never resurrected.
  *
  * The deterministic tests force the interleave with a gating
  * [[LogCommitter]]: the loser thread blocks at its first commit until
  * the winner has fully committed, so the loser ALWAYS loses the version
  * CAS and must rebase or recompute. The stress test races real threads.
  */
class ConcurrentMergeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("v", StringType, nullable = false)))

  private def df(rows: Row*) = frame(schema, rows)

  private def rowsOf(path: String): Map[Int, (String, String)] =
    ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(r.fieldIndex("id")) ->
        (r.getString(r.fieldIndex("p")), r.getString(r.fieldIndex("v")))).toMap

  private def dataDirs(path: String): Set[String] =
    new java.io.File(path).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_d"))
      .map(_.getName).toSet

  private def entriesOf(path: String): Map[String, Set[String]] = {
    val v = ParquetTable.currentVersion(spark, path).get
    ParquetTable.partitionEntries(spark, path, v).get
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  /** Run `loser` (a merge) on a named thread whose FIRST commit attempt
    * for `path` blocks until `winner` has run to completion on this
    * thread. Returns (loser's per-thread commit-attempt count, data dirs
    * present at the moment the loser was blocked at its commit).
    */
  private def raceLoserAgainst(
      path: String)(loser: => Unit)(winner: => Unit): (Int, Set[String]) = {
    val loserAtCommit = new CountDownLatch(1)
    val winnerDone = new CountDownLatch(1)
    val loserThread = "graft-loser-merge"
    val attempts = TrieMap.empty[String, Int]
    val prev = ParquetTable.logCommitter
    ParquetTable.logCommitter = new LogCommitter {
      override def commit(fs: FileSystem, target: Path, content: Array[Byte]): Boolean = {
        val t = Thread.currentThread().getName
        if (t == loserThread) {
          attempts.updateWith(t)(c => Some(c.getOrElse(0) + 1))
          loserAtCommit.countDown()
          assert(winnerDone.await(120, TimeUnit.SECONDS), "winner never finished")
        }
        prev.commit(fs, target, content)
      }
    }
    try {
      @volatile var loserErr: Option[Throwable] = None
      val t = new Thread(() => {
        try loser catch { case e: Throwable => loserErr = Some(e) }
      }, loserThread)
      t.start()
      assert(loserAtCommit.await(120, TimeUnit.SECONDS), "loser never reached commit")
      val dirsAtBlock = dataDirs(path)
      winner
      winnerDone.countDown()
      t.join(120000)
      assert(!t.isAlive, "loser thread hung")
      loserErr.foreach(throw _)
      (attempts.getOrElse(loserThread, 0), dirsAtBlock)
    } finally ParquetTable.logCommitter = prev
  }

  test("disjoint-partition race: loser lands by rebase, no second data write") {
    val path = tmpDir("occ-rebase") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "a1"), Row(2, "a", "a2"), Row(3, "b", "b3"), Row(4, "b", "b4")),
      path, Seq("p")) // v1
    val dirsAtV1 = dataDirs(path)

    val (loserAttempts, dirsAtBlock) = raceLoserAgainst(path) {
      ParquetTable.merge(spark, path, df(Row(1, "a", "A1"), Row(5, "a", "A5")),
        Seq("id"), Seq("p"))
    } {
      ParquetTable.merge(spark, path, df(Row(3, "b", "B3"), Row(6, "b", "B6")),
        Seq("id"), Seq("p"))
    }

    // both merges landed, serialized onto versions 2 and 3
    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    assert(rowsOf(path) === Map(
      1 -> ("a", "A1"), 2 -> ("a", "a2"), 5 -> ("a", "A5"),
      3 -> ("b", "B3"), 4 -> ("b", "b4"), 6 -> ("b", "B6")))
    // REBASE, not recompute: the loser's first (failed) CAS and the
    // rebased publish are its only commits, and the final manifest's
    // p=a entry IS the dir the loser had already written when it
    // blocked — it was never deleted and re-written
    assert(loserAttempts === 2)
    val loserDir = dirsAtBlock -- dirsAtV1
    assert(loserDir.size === 1)
    assert(entriesOf(path)("p=a") === loserDir)
    // time travel still sees the winner-only intermediate version
    assert(ParquetTable.readAt(spark, path, 2L)
      .filter(col("p") === "a").count() === 2L)
  }

  test("disjoint-partition race on the merge-on-read tier: rebase keeps appended dir + DV") {
    val path = tmpDir("occ-rebase-mor") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "a1"), Row(2, "a", "a2"), Row(3, "b", "b3"), Row(4, "b", "b4")),
      path, Seq("p")) // v1
    val dirsAtV1 = dataDirs(path)

    val (loserAttempts, dirsAtBlock) = raceLoserAgainst(path) {
      ParquetTable.merge(spark, path, df(Row(1, "a", "A1"), Row(5, "a", "A5")),
        Seq("id"), Seq("p"), mergeOnRead = Some(true))
    } {
      ParquetTable.merge(spark, path, df(Row(3, "b", "B3")),
        Seq("id"), Seq("p"), mergeOnRead = Some(true))
    }

    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    assert(rowsOf(path) === Map(
      1 -> ("a", "A1"), 2 -> ("a", "a2"), 5 -> ("a", "A5"),
      3 -> ("b", "B3"), 4 -> ("b", "b4")))
    assert(loserAttempts === 2)
    // MOR rebase appends the loser's dir BESIDE the base entry: p=a now
    // spans exactly the v1 create dir and the loser's appended dir
    val loserDir = dirsAtBlock -- dirsAtV1
    assert(loserDir.size === 1)
    assert(entriesOf(path)("p=a") === dirsAtV1 ++ loserDir)
    // the loser's DV (retiring id=1's base image) rode the rebased commit
    assert(ParquetTable.dvDirs(spark, path, 3L).nonEmpty)
  }

  test("same-partition race: loser recomputes from the winner's snapshot, both land") {
    val path = tmpDir("occ-samepart") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "a1"), Row(2, "a", "a2")), path, Seq("p")) // v1
    val dirsAtV1 = dataDirs(path)

    val (loserAttempts, dirsAtBlock) = raceLoserAgainst(path) {
      ParquetTable.merge(spark, path, df(Row(1, "a", "LOSER1")),
        Seq("id"), Seq("p"))
    } {
      ParquetTable.merge(spark, path, df(Row(2, "a", "WINNER2")),
        Seq("id"), Seq("p"))
    }

    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    // serialized last-writer-wins per pk: the loser recomputed against
    // the winner's committed image, so BOTH updates survive
    assert(rowsOf(path) === Map(1 -> ("a", "LOSER1"), 2 -> ("a", "WINNER2")))
    // recompute, not rebase: the loser's originally-written dir was
    // discarded; the final p=a dir is one written AFTER the block
    assert(loserAttempts >= 2)
    val loserFirstDir = dirsAtBlock -- dirsAtV1
    assert(entriesOf(path)("p=a").intersect(loserFirstDir).isEmpty)
    assert(loserFirstDir.forall(d => !dataDirs(path).contains(d)))
  }

  test("concurrent DV delete inside an affected partition: recompute, no resurrection") {
    val path = tmpDir("occ-dvdel") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "a1"), Row(2, "a", "a2"), Row(3, "b", "b3")),
      path, Seq("p")) // v1

    raceLoserAgainst(path) {
      ParquetTable.merge(spark, path, df(Row(1, "a", "A1")), Seq("id"), Seq("p"))
    } {
      // entries unchanged, only a #dv header lands — the one winner shape
      // the entry-diff check alone cannot see
      val v = ParquetTable.deleteVectors(spark, path, col("id") === 2)
      assert(v === 2L)
    }

    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    // the loser recomputed from the post-delete snapshot: id=2 stays
    // deleted (a rebase would have re-published id=2's base image)
    assert(rowsOf(path) === Map(1 -> ("a", "A1"), 3 -> ("b", "b3")))
  }

  test("OPTIMIZE racing a merge: the stale rearrangement recomputes, the merge survives") {
    val path = tmpDir("occ-optimize") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "a1"), Row(2, "b", "b2")), path, Seq("p")) // v1
    val dirsAtV1 = dataDirs(path)

    // the classic lakehouse lost-update: OPTIMIZE derives its image from
    // the head it read, a merge commits UNDER the (long) rewrite — the
    // stale rearrangement must recompute, never republish the pre-merge
    // snapshot onto a later version (which would silently erase the
    // merge's committed row)
    val (loserAttempts, dirsAtBlock) = raceLoserAgainst(path) {
      val v = ParquetTable.optimize(spark, path, Seq("id"))
      assert(v === 3L) // landed AFTER the winner, on the recomputed image
    } {
      ParquetTable.merge(spark, path, df(Row(1, "a", "MERGED")),
        Seq("id"), Seq("p"))
    }

    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    // the merge's row survived the raced rewrite
    assert(rowsOf(path) === Map(1 -> ("a", "MERGED"), 2 -> ("b", "b2")))
    // recompute, not replay: exactly one failed CAS + one recomputed
    // commit, and the stale dir was discarded, never referenced
    assert(loserAttempts === 2)
    val staleDir = dirsAtBlock -- dirsAtV1
    assert(staleDir.nonEmpty)
    assert(staleDir.forall(d => !dataDirs(path).contains(d)))
  }

  test("compact racing a merge (unpartitioned): recompute keeps the merged row") {
    val path = tmpDir("occ-compact") + "/t"
    ParquetTable.create(df(Row(1, "a", "a1"), Row(2, "b", "b2")), path) // v1

    val (loserAttempts, dirsAtBlock) = raceLoserAgainst(path) {
      ParquetTable.compact(spark, path)
    } {
      ParquetTable.merge(spark, path, df(Row(2, "b", "MERGED")), Seq("id"))
    }

    assert(ParquetTable.currentVersion(spark, path) === Some(3L))
    assert(rowsOf(path) === Map(1 -> ("a", "a1"), 2 -> ("b", "MERGED")))
    assert(loserAttempts === 2)
    assert((dirsAtBlock -- dataDirs(path)).nonEmpty) // stale fold discarded
  }

  // the unpartitioned rewrite verbs derive their whole image from the
  // head they read: a loser must recompute against the winner's head,
  // never re-publish its stale image onto the next version (which would
  // silently erase the winner's commit)
  private val evolvedRow = spark.createDataFrame(
    java.util.Arrays.asList(Row(2, "b", "LOSER", "x2")),
    schema.add(StructField("x", StringType, nullable = true)))

  Seq[(String, String => Any, Map[Int, (String, String)])](
    ("copy-on-write merge",
      p => ParquetTable.merge(spark, p, df(Row(2, "b", "LOSER")), Seq("id"),
        mergeOnRead = Some(false)),
      Map(1 -> ("a", "a1"), 2 -> ("b", "LOSER"))),
    ("schema-evolving merge",
      p => ParquetTable.merge(spark, p, evolvedRow, Seq("id"), evolveSchema = true),
      Map(1 -> ("a", "a1"), 2 -> ("b", "LOSER"))),
    ("update",
      p => ParquetTable.update(spark, p, col("id") === 2, Map("v" -> lit("LOSER"))),
      Map(1 -> ("a", "a1"), 2 -> ("b", "LOSER"))),
    ("delete",
      p => ParquetTable.delete(spark, p, col("id") === 2),
      Map(1 -> ("a", "a1")))
  ).foreach { case (what, loser, loserImage) =>
    test(s"unpartitioned $what racing a merge: the loser recomputes, the winner's row survives") {
      val path = tmpDir("occ-rewrite") + "/t"
      ParquetTable.create(df(Row(1, "a", "a1"), Row(2, "b", "b2")), path) // v1

      raceLoserAgainst(path) { loser(path); () } {
        ParquetTable.merge(spark, path, df(Row(3, "c", "c3")), Seq("id"))
      }

      assert(ParquetTable.currentVersion(spark, path) === Some(3L))
      // the winner's insert (v2) survives the loser's commit at v3
      assert(rowsOf(path) === loserImage + (3 -> ("c", "c3")))
    }
  }

  test("stress: racing disjoint merges over several rounds all land") {
    val path = tmpDir("occ-stress") + "/t"
    ParquetTable.createVersioned(
      df(Row(1, "a", "seed"), Row(2, "b", "seed")), path, Seq("p")) // v1
    val rounds = 4
    for (r <- 1 to rounds) {
      val barrier = new CyclicBarrier(2)
      val errs = TrieMap.empty[String, Throwable]
      val ts = Seq("a", "b").map { part =>
        new Thread(() => {
          try {
            barrier.await(120, TimeUnit.SECONDS)
            ParquetTable.merge(spark, path,
              df(Row(100 * r + (if (part == "a") 1 else 2), part, s"r$r")),
              Seq("id"), Seq("p"))
          } catch { case e: Throwable => errs.put(part, e) }
        }, s"stress-$part-$r")
      }
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $r: $errs")
    }
    // every round committed exactly two versions; every merged row landed
    assert(ParquetTable.currentVersion(spark, path) === Some(1L + 2 * rounds))
    val rows = rowsOf(path)
    for (r <- 1 to rounds) {
      assert(rows(100 * r + 1) === ("a", s"r$r"))
      assert(rows(100 * r + 2) === ("b", s"r$r"))
    }
    assert(rows(1) === ("a", "seed") && rows(2) === ("b", "seed"))
  }
}

package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Bm25, PqAnn, StatsSketch, TextDedup}

/** Crash-point spec for the index stores: each operation runs once per
  * mutating filesystem call k against a fresh copy of a built index, with
  * [[CrashFs]] failing the k-th call and every later one (the process died
  * there). At every k:
  *
  *   - the index head is version v or v + 1, and the reader returns
  *     exactly that version's clean result — never a mix of the two;
  *   - fsck reports nothing but `orphan_dir` (what the dead attempt staged);
  *   - re-running the operation converges to the clean run's result;
  *   - vacuum reclaims the orphans (fsck is empty after it).
  */
class IndexCrashSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p: JPath =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  private def findings(dir: String): Seq[String] =
    ParquetTable.fsck(spark, dir).collect().map(r => s"${r.getString(0)} ${r.getString(2)}").toSeq

  /** The crash matrix of `op` over the index `build` leaves at a fixture.
    * Crash points run four at a time, each over its own copy.
    */
  private def crashMatrix[R](name: String)(build: String => Unit)(op: String => Unit)(
      reader: String => R): Unit = {
    val previous = ParquetTable.logCommitter
    CrashFs.install(spark)
    ParquetTable.logCommitter = CrashFs.committer
    // tiny inputs: one reduce partition keeps each of the many runs short
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val root = tmpDir(s"crash-$name")
      val fixture = s"$root/fixture"
      build(CrashFs.uri(fixture))
      val v = ParquetTable.currentVersion(spark, CrashFs.uri(fixture)).get
      val before = reader(CrashFs.uri(fixture))
      copyTree(fixture, s"$root/clean")
      CrashFs.arm(s"$root/clean", Long.MaxValue)
      op(CrashFs.uri(s"$root/clean"))
      val mutations = CrashFs.disarm(s"$root/clean")
      val after = reader(CrashFs.uri(s"$root/clean"))
      assert(after != before, "the operation must change what the reader returns")
      def crashAt(k: Long): Unit = {
        val local = s"$root/k$k"
        val work = CrashFs.uri(local)
        copyTree(fixture, local)
        CrashFs.arm(local, k)
        val failed = try { op(work); false } catch { case scala.util.control.NonFatal(_) => true }
        finally CrashFs.disarm(local)
        val head = ParquetTable.currentVersion(spark, work).get
        assert(head == v || head == v + 1, s"k=$k: head $head")
        assert(failed || head == v + 1, s"k=$k: the operation neither failed nor committed")
        assert(reader(work) == (if (head == v) before else after), s"k=$k: mixed index served")
        val left = findings(work)
        assert(left.forall(_.startsWith("orphan_dir ")), s"k=$k: $left")
        if (head == v) {
          op(work)
          assert(reader(work) == after, s"k=$k: the retry did not converge")
        }
        ParquetTable.vacuum(spark, work)
        val swept = findings(work)
        assert(swept.isEmpty, s"k=$k: vacuum left $swept")
      }
      val runs = (1L to mutations).map(k => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = crashAt(k)
      }))
      runs.foreach { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdownNow()
      ParquetTable.logCommitter = previous
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }

  private val docs = Seq(
    (1L, "spark tables merge fast"), (2L, "parquet footers and bloom filters"),
    (3L, "spark joins shuffle tables"), (4L, "vector search over tables")
  ).toDF("doc_id", "text")

  test("Bm25.appendToIndex: a crash at any mutation serves v or v+1, never a torn index") {
    val queries = Seq((1L, "spark tables"), (2L, "bloom join")).toDF("query_id", "qtext")
    crashMatrix("bm25")(Bm25.buildIndex(docs, "doc_id", "text", _))(
      Bm25.appendToIndex(Seq((5L, "bloom join tables"), (6L, "")).toDF("doc_id", "text"),
        "doc_id", "text", _)) { dir =>
      Bm25.topKIndexed(spark, dir, queries, "query_id", "qtext", k = 3)
        .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    }
  }

  test("TextDedup.minHashIndexSave with new parameters: a crash never mixes two builds") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines and shuffles"),
      (3L, "parquet footers carry row counts and column statistics")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"),
      (11L, "completely different text about spark engines and joins")).toDF("doc_id", "text")
    crashMatrix("minhash")(TextDedup.minHashIndexSave(history, "doc_id", "text", _,
      n = 2, numHashes = 32, bands = 16))(
      TextDedup.minHashIndexSave(history, "doc_id", "text", _,
        n = 1, numHashes = 20, bands = 10, seed = 7L)) { dir =>
      TextDedup.minHashProbeHistory(batch, "doc_id", "text", dir, threshold = 0.3)
        .as[(Long, Long, Double)].collect().sorted.toSeq
    }
  }

  test("PqAnn.saveIvfPq over an existing index: a crash never mixes cells, codebook and codes") {
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 30).map { i =>
      val v = Array.fill(4)(0.0f); v(i % 3) = 1.0f
      (i.toLong, v.map(x => x + rnd.nextGaussian().toFloat * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    def build(cells: Int, m: Int) = PqAnn.buildIvfPq(corpus, "vec_id", "embedding",
      nCells = cells, m = m, k = 4, cellIter = 1, pqIter = 1, trainRows = 30)
    val first = build(3, 2)
    val second = build(2, 4)
    val q = corpus.filter(col("vec_id") < 3)
    crashMatrix("ivfpq")(PqAnn.saveIvfPq(spark, first, _))(PqAnn.saveIvfPq(spark, second, _)) {
      dir =>
        PqAnn.searchIvfPq(PqAnn.loadIvfPq(spark, dir), q, "vec_id", "embedding", k = 3, nProbe = 1)
          .select(col("query_id"), col("neighbor_id"), col("cosine"))
          .as[(Long, Long, Double)].collect().sorted.toSeq
    }
  }

  test("StatsSketch.analyzeIncremental: a crash never advances the version without its registers") {
    val table = tmpDir("crash-sketch-table") + "/t"
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"name_${i % 700}")).toDF("id", "name")
    ParquetTable.merge(spark, table, rows(0, 1000), Seq("id"))
    crashMatrix("sketch") { dir =>
      StatsSketch.analyze(spark, table, Seq("id", "name"), dir)
      ParquetTable.merge(spark, table, rows(1000, 1600), Seq("id"))
      ()
    }(StatsSketch.analyzeIncremental(spark, table, Seq("id"), _)) { dir =>
      (StatsSketch.estimate(spark, dir).collect().map(_.toString).sorted.toSeq,
        StatsSketch.lifecycle(spark, dir))
    }
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pipeline.CurationPipeline

/** `curation`: repeated `CurationPipeline.run` with q141's parameters
  * (near-dup Jaccard 0.5, 8 shards, exact LM cut at quantile 0) over a
  * seeded document corpus. The seed chooses the text, the doc order and
  * which docs get a shifted near-duplicate, an exact duplicate or a shared
  * boilerplate paragraph. Each run must repeat the first run's funnel and
  * survivor set exactly. How many planted near-duplicate pairs survive
  * whole is recorded, not checked: LSH candidate generation is
  * probabilistic by design.
  */
final class Curation(spark: SparkSession, seed: Long, root: String)
    extends Workload(spark, seed, root) {

  private val nDocs = 1500

  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de")
    for (a <- syl; b <- syl; c <- Seq("", "n", "r", "s")) yield a + b + c
  }.toIndexedSeq

  final class Corpus(n: Int, corpusSeed: Long) {
    private val rnd = new scala.util.Random(corpusSeed)
    private def line(): String = (1 to 6 + rnd.nextInt(9)).map(_ => vocab(rnd.nextInt(vocab.size)))
      .mkString(" ") + "."
    private val boilerplate = IndexedSeq.fill(20)(line())
    val texts = mutable.ArrayBuffer.empty[String]
    val nearPairs = mutable.ArrayBuffer.empty[(Int, Int)]
    (0 until n).foreach { i =>
      val r = rnd.nextInt(100)
      texts += {
        if (i > 10 && r < 4) texts(rnd.nextInt(i))
        else if (i > 10 && r < 8) {
          val j = rnd.nextInt(i)
          nearPairs += j -> i
          // every line shifted by one word, so paragraph dedup keeps it
          texts(j).split("\n").map(l => l.split(" ").drop(1).mkString(" ") + " " +
            vocab(rnd.nextInt(vocab.size))).mkString("\n")
        } else {
          val lines = mutable.ArrayBuffer.fill(3 + rnd.nextInt(4))(line())
          if (rnd.nextInt(10) == 0) lines += "too short here"
          if (rnd.nextInt(20) == 0) lines += "lorem ipsum dolor sit amet consectetur"
          if (rnd.nextInt(5) == 0) lines.insert(rnd.nextInt(lines.size), boilerplate(rnd.nextInt(20)))
          lines.mkString("\n")
        }
      }
    }
    /** Seeded doc order: position i gets doc id `ids(i)`. */
    val ids: IndexedSeq[Long] = rnd.shuffle((0 until n).map(_.toLong))
    val hash = new Util.InputHash
    ids.zip(texts).foreach { case (id, t) => hash.add(s"$id\u0001$t\u0002") }

    def write(path: String): Unit = {
      import spark.implicits._
      ids.zip(texts).toDF("doc_id", "text").repartition(4).write.parquet(path)
    }
  }

  private var corpus: Corpus = _
  private var docsPath: String = _
  private var first = Option.empty[(Seq[(String, Long)], Util.Digest)]
  private var pairsWhole = 0

  private def curate(docs: DataFrame): (Seq[(String, Long)], Seq[(Long, String)]) = {
    val res = CurationPipeline.run(spark, docs, lmCutQuantile = 0.0, nShards = 8,
      seed = "curation42", nearDupThreshold = Some(0.5))
    try (res.funnel, res.corpus.select(col("doc_id"), col("shard"), col("pos")).collect()
      .toSeq.map(r => r.getLong(0) -> s"${r.get(0)}|${r.get(1)}|${r.get(2)}"))
    finally res.unpersist()
  }

  override def warmup(): Unit = {
    val c = new Corpus(200, seed ^ 0x5eed)
    val path = s"$root/warmup/docs"
    c.write(path)
    curate(spark.read.parquet(path))
    Util.deleteTree(s"$root/warmup")
  }

  override def setup(dir: String): Unit = {
    corpus = new Corpus(nDocs, seed)
    docsPath = s"$dir/docs"
    corpus.write(docsPath)
  }

  /** The measured runs (a traced run's settling run is not one). */
  private def runs = samples.filter(_.unit >= 0).toSeq
  private def untraced = runs.filterNot(_.traced)

  override def enoughSamples(traceRun: Boolean): Boolean =
    if (!traceRun) runs.size >= 3 else runs.count(_.traced) >= 2 && untraced.size >= 2

  override def step(): Unit = {
    val traced = Trace.active
    measure("run") {
      Trace.span("operators.curation")(curate(spark.read.parquet(docsPath)))
    } { case (funnel, survivors) =>
      val run = (funnel, Util.Digest.of(survivors.map(_._2)))
      first match {
        case None =>
          first = Some(run)
          val kept = survivors.map(_._1).toSet
          pairsWhole = corpus.nearPairs.count { case (a, b) =>
            kept(corpus.ids(a)) && kept(corpus.ids(b))
          }
          None
        case Some(f) => Checks.sameRun(f, run)
      }
    }.foreach { case (funnel, _) =>
      if (traced) annotateLast(funnel.sliding(2).collect { case Seq((_, a), (s, b)) =>
        s"operators.curation.${s.takeWhile(_ != '(')}.keep_frac" -> b / math.max(1L, a).toDouble
      }.toMap)
    }
  }

  override def finish(): Unit = ()

  override def unitP50: Double = Util.median(untraced.map(_.wallS))
  override def workPerS: Double = untraced.size * nDocs / untraced.map(_.wallS).sum

  override def unitCpuP50: Double = Util.median(untraced.map(_.cpuS))
  override def workPerCpuS: Double = untraced.size * nDocs / untraced.map(_.cpuS).sum

  override def endToEndDetail: Map[String, Any] = {
    val walls = untraced.map(_.wallS)
    val (tl, tv, tn) = Util.tail(walls)
    Map(
      "curate.run_s.p50" -> unitP50,
      s"curate.run_s.$tl" -> tv,
      "curate.run_s.samples" -> tn,
      "curate.docs_per_s" -> workPerS,
      "curate.funnel" -> first.map(_._1.map { case (s, n) => s"$s=$n" }).getOrElse(Nil),
      "curate.survivors" -> first.map(_._2.toString).getOrElse(""),
      "curate.planted_near_dup_pairs_kept_whole" -> pairsWhole)
  }

  override def inputs: Map[String, Any] = Map(
    "docs" -> nDocs, "planted_near_dups" -> corpus.nearPairs.size,
    "text_bytes" -> corpus.hash.bytes,
    "text_bytes_over_heap" -> corpus.hash.bytes.toDouble / Runtime.getRuntime.maxMemory(),
    "sha256_16" -> corpus.hash.hex)

  override def layerMetrics: Map[String, Double] =
    spanSet("operators.curation", "s", "jobs", "task_s", "shuffle_bytes") ++
      samples.filter(_.traced).flatMap(_.extra.keys).distinct
        .flatMap(k => extraMedian(k).map(k -> _)).toMap
}

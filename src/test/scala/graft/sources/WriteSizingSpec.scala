package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r16 adaptive write-sizing contract (ParquetTable.sizedForWrite
  * and the register write policy):
  *
  *   - a SMALL unpartitioned image (analyzed-plan estimate at or under a
  *     quarter of `spark.graft.write.targetFileBytes`) packs into ONE
  *     file — the guide-§6 small-files fix on every commit;
  *   - an image estimated ABOVE the bar keeps its native reduce
  *     partitioning — the files ARE the downstream scan's split
  *     parallelism (the sf1 falsification, OPTIMIZATION_r16.md §2.4);
  *   - an explicit repartition at the ROOT of the caller's plan is a
  *     layout directive and is never overridden;
  *   - `<= 0` disables the sizing outright (the A/B kill switch);
  *   - HLL register generations always land as one file each (the
  *     register frame is ≤ m rows per column by construction).
  */
class WriteSizingSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  private def dataDirs(table: String): Seq[java.io.File] =
    new java.io.File(table).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_d"))

  test("a small shuffle-shaped commit image packs into one file") {
    val t = tmpDir("graft_wsz_small") + "/t"
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // initial merge = atomicReplace(dropDuplicates(pk)): the dedup's
    // shuffle would scatter one file per reduce partition however small
    // the image — exactly the case the packing exists for
    ParquetTable.merge(spark, t, df, Seq("id"))
    val dirs = dataDirs(t)
    assert(dirs.size == 1)
    assert(parquetFiles(dirs.head.getPath).size == 1,
      "a KB-sized image must not scatter one file per reduce partition")
  }

  test("a shuffle-free image keeps its scan layout (no packing exchange)") {
    val src = tmpDir("graft_wsz_srcdata")
    import spark.implicits._
    (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(src)
    val t = tmpDir("graft_wsz_noshuffle") + "/t"
    // scan → filter → write: file count is the scan's splits already
    // (bytes-proportional); packing would only add a pure-waste exchange
    ParquetTable.create(
      spark.read.parquet(src).filter(col("id") > 0), t)
    val files = parquetFiles(dataDirs(t).head.getPath)
    assert(files.size >= 1) // layout = the scan's, not repartition(1)'s
    // the real assertion is plan-shaped: no exchange was added
    assert(ParquetTable.sizedForWrite(
        spark.read.parquet(src).filter(col("id") > 0))
      .queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
      }.isEmpty,
      "shuffle-free plans must not gain a packing repartition")
  }

  test("an image above the bar keeps its native partitioning") {
    val t = tmpDir("graft_wsz_big") + "/t"
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // shrink the target so this tiny frame sits ABOVE est/4: the write
    // must pass through untouched (multiple files, one per partition of
    // the plan)
    spark.conf.set(ParquetTable.TargetFileBytesConf, "16")
    try {
      ParquetTable.create(df.repartition(3).filter(col("id") > 0), t)
      val files = parquetFiles(dataDirs(t).head.getPath)
      assert(files.size > 1,
        s"above-bar image must keep its native layout, got ${files.size} file")
    } finally spark.conf.unset(ParquetTable.TargetFileBytesConf)
  }

  test("an explicit root repartition is a layout directive") {
    val t = tmpDir("graft_wsz_layout") + "/t"
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    ParquetTable.create(df.repartition(5), t)
    assert(parquetFiles(dataDirs(t).head.getPath).size == 5,
      "create(df.repartition(5)) must write exactly 5 files")
  }

  test("a plan with an explode never takes the one-file path") {
    import spark.implicits._
    // 200 rows of 50 tokens each: a shuffle-shaped plan whose estimate is
    // the input's size, while the explode emits 50 rows per input row
    val df = (1 to 200).map(i => (i.toLong, (1 to 50).map(j => s"t$i-$j").toArray))
      .toDF("id", "toks")
      .select(col("id"), explode(col("toks")).as("tok"))
      .distinct()
    val target = 128L * 1024 * 1024
    assert(df.queryExecution.analyzed.stats.sizeInBytes <= target / 4)
    assert(ParquetTable.sizedForWrite(df) eq df,
      "a Generate's output is unbounded by the estimate: no repartition(1)")
    // control: the same small shuffle-shaped plan without the explode packs
    val flat = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "tok").distinct()
    assert(ParquetTable.sizedForWrite(flat) ne flat)
  }

  test("targetFileBytes <= 0 disables the sizing") {
    val t = tmpDir("graft_wsz_off") + "/t"
    import spark.implicits._
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    spark.conf.set(ParquetTable.TargetFileBytesConf, "0")
    try {
      // the filter above the repartition keeps it out of ROOT position,
      // so only the kill switch (not the directive rule) is under test
      ParquetTable.create(df.repartition(4).filter(col("id") > 0), t)
      assert(parquetFiles(dataDirs(t).head.getPath).size == 4)
    } finally spark.conf.unset(ParquetTable.TargetFileBytesConf)
  }

  test("register generations write one file each") {
    import spark.implicits._
    val dir = tmpDir("graft_wsz_reg") + "/sketch"
    val df = (1 to 5000).map(i => (i.toLong, i % 97)).toDF("k", "v")
    graft.operators.StatsSketch.save(df, Seq("k", "v"), dir)
    graft.operators.StatsSketch.append(
      (5001 to 9000).map(i => (i.toLong, i % 97)).toDF("k", "v"),
      Seq("k", "v"), dir)
    assert(IndexStore.head(spark, dir).paths("registers").flatMap(parquetFiles).size == 2,
      "save + append = exactly two single-file register generations")
  }
}

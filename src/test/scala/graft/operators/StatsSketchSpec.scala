package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental HLL NDV sketches: register determinism, replay-insensitive
  * append, merge = one-shot union, branch behavior of the estimator, and
  * pinned-meta discipline.
  */
class StatsSketchSpec extends SparkSpec {

  import spark.implicits._

  private def ids(from: Int, until: Int) =
    (from until until).map(_.toLong).toDF("id")

  test("estimate within HLL error bounds on both estimator branches") {
    val dir = tmpDir("hll_acc") + "/s"
    // 20k distinct (raw HLL branch at p=12) sketched in one shot
    StatsSketch.save(ids(0, 20000), Seq("id"), dir)
    val big = StatsSketch.estimate(spark, dir).head()
    val bigEst = big.getDouble(big.fieldIndex("ndv_est"))
    // 4096 registers → ~1.6% standard error; allow 5 sigma
    assert(math.abs(bigEst - 20000.0) / 20000.0 < 0.08, s"got $bigEst")

    // 50 distinct → linear counting branch: near-exact at this load
    val dir2 = tmpDir("hll_small") + "/s"
    StatsSketch.save(ids(0, 50), Seq("id"), dir2)
    val small = StatsSketch.estimate(spark, dir2).head()
    val smallEst = small.getDouble(small.fieldIndex("ndv_est"))
    assert(math.abs(smallEst - 50.0) < 2.0, s"got $smallEst")
    // and duplicates don't move it: registers are max-folded
    val dir3 = tmpDir("hll_dup") + "/s"
    StatsSketch.save(ids(0, 50).unionAll(ids(0, 50)), Seq("id"), dir3)
    assert(StatsSketch.estimate(spark, dir3).head()
      .getDouble(small.fieldIndex("ndv_est")) === smallEst)
  }

  test("an all-NULL column reports its zero row instead of vanishing") {
    val dir = tmpDir("hll_allnull") + "/s"
    val df = (0 until 100).map(i => (i.toLong, Option.empty[String]))
      .toDF("id", "ghost")
    StatsSketch.save(df, Seq("id", "ghost"), dir)
    val rows = StatsSketch.estimate(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("id", "ghost"), "ghost column must not vanish")
    val g = rows("ghost")
    assert(g.getLong(g.fieldIndex("zeros")) === 4096L)
    assert(g.getDouble(g.fieldIndex("ndv_est")) === 0.0)
    // and the merged() path carries the pinned set too
    val m = StatsSketch.merged(spark, Seq(dir)).collect().map(_.getString(0))
    assert(m.toSet === Set("id", "ghost"))
  }

  test("append equals one-shot build; replayed append is a no-op") {
    val dir = tmpDir("hll_app") + "/s"
    val oneShot = tmpDir("hll_one") + "/s"
    StatsSketch.save(ids(0, 3000), Seq("id"), dir)
    StatsSketch.append(ids(3000, 5000), Seq("id"), dir)
    StatsSketch.save(ids(0, 5000), Seq("id"), oneShot)
    val a = StatsSketch.estimate(spark, dir).collect().toSeq
    val b = StatsSketch.estimate(spark, oneShot).collect().toSeq
    assert(a === b)
    // at-least-once redelivery: the same delta again changes nothing
    StatsSketch.append(ids(3000, 5000), Seq("id"), dir)
    assert(StatsSketch.estimate(spark, dir).collect().toSeq === b)
    // compaction folds generations without changing answers
    StatsSketch.compact(spark, dir)
    assert(StatsSketch.estimate(spark, dir).collect().toSeq === b)
    assert(graft.sources.IndexStore.head(spark, dir).read(spark, "registers").count() <= 4096)
  }

  test("append reads (p, seed) from pinned meta, not caller defaults") {
    val dir = tmpDir("hll_pin") + "/s"
    StatsSketch.save(ids(0, 1000), Seq("id"), dir, p = 9, seed = 99L)
    StatsSketch.append(ids(1000, 2000), Seq("id"), dir)
    val reg = graft.sources.IndexStore.head(spark, dir).read(spark, "registers")
    // appended registers live in the build's 2^9 bucket space
    assert(reg.agg(max(col("bucket"))).head().getInt(0) < 512)
    val est = StatsSketch.estimate(spark, dir).head()
    assert(est.getInt(est.fieldIndex("m")) === 512)
    val e = est.getDouble(est.fieldIndex("ndv_est"))
    assert(math.abs(e - 2000.0) / 2000.0 < 0.25, s"got $e")
    // a conflicting column set is refused, not silently absorbed
    val err = intercept[IllegalArgumentException] {
      StatsSketch.append(ids(0, 10).withColumnRenamed("id", "other"),
        Seq("other"), dir)
    }
    assert(err.getMessage.contains("conflict with the pinned"))
  }

  test("merged() is the HLL union; refuses mismatched params") {
    val d1 = tmpDir("hll_m1") + "/s"
    val d2 = tmpDir("hll_m2") + "/s"
    val one = tmpDir("hll_mu") + "/s"
    // overlapping sets: union NDV 4000, naive sum 6000
    StatsSketch.save(ids(0, 3000), Seq("id"), d1)
    StatsSketch.save(ids(1000, 4000), Seq("id"), d2)
    StatsSketch.save(ids(0, 4000), Seq("id"), one)
    assert(StatsSketch.merged(spark, Seq(d1, d2)).collect().toSeq ===
      StatsSketch.estimate(spark, one).collect().toSeq)
    val odd = tmpDir("hll_odd") + "/s"
    StatsSketch.save(ids(0, 10), Seq("id"), odd, p = 10)
    val err = intercept[IllegalArgumentException] {
      StatsSketch.merged(spark, Seq(d1, odd)).collect()
    }
    assert(err.getMessage.contains("different (p, seed)"))
  }

  test("multi-column single-scan sketch skips nulls per column") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, null), (null, "c"), (2L, "a"))
      .toDF("k", "v")
    val reg = StatsSketch.sketch(df, Seq("k", "v"))
    val byCol = reg.groupBy("column").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // nulls dropped: k has 3 distinct hashes, v has 3 — bucket collisions
    // at this size are possible but cannot exceed the distinct count
    assert(byCol("k") <= 3 && byCol("v") <= 3)
    val est = StatsSketch.estimateFrom(reg, StatsSketch.DefaultPrecision)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(est("k") - 3.0) < 0.5)
    assert(math.abs(est("v") - 3.0) < 0.5)
  }

  test("incremental ANALYZE: change-feed deltas equal a full rescan on " +
      "append-only histories; updates/deletes flip the exact flag") {
    val table = tmpDir("hll_tab") + "/t"
    val sk = tmpDir("hll_sk") + "/s"
    val cols = Seq("id", "name")
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"user_$i")).toDF("id", "name")
    graft.sources.ParquetTable.merge(spark, table, rows(0, 3000), Seq("id"))
    val v1 = StatsSketch.analyze(spark, table, cols, sk)
    // append-only window → incremental == fresh one-shot, exact stays true
    graft.sources.ParquetTable.merge(spark, table, rows(3000, 5000), Seq("id"))
    val v2 = StatsSketch.analyzeIncremental(spark, table, Seq("id"), sk)
    assert(v2 > v1)
    val fresh = tmpDir("hll_fresh") + "/s"
    StatsSketch.analyze(spark, table, cols, fresh)
    assert(StatsSketch.estimate(spark, sk).collect().toSeq ===
      StatsSketch.estimate(spark, fresh).collect().toSeq)
    assert(StatsSketch.isExact(spark, sk))
    // re-running with no new commits is a no-op
    assert(StatsSketch.analyzeIncremental(spark, table, Seq("id"), sk) === v2)
    assert(StatsSketch.estimate(spark, sk).collect().toSeq ===
      StatsSketch.estimate(spark, fresh).collect().toSeq)
    // a window with an update + a delete: new value enters the sketch,
    // retired values cannot leave → exact flips false, estimate is an
    // upper bound of both the fresh NDV and never below it
    graft.sources.ParquetTable.merge(spark, table,
      Seq((5L, "renamed_5")).toDF("id", "name"), Seq("id"))
    graft.sources.ParquetTable.delete(spark, table, col("id") === 7L)
    StatsSketch.analyzeIncremental(spark, table, Seq("id"), sk)
    assert(!StatsSketch.isExact(spark, sk))
    val freshest = tmpDir("hll_freshest") + "/s"
    StatsSketch.analyze(spark, table, cols, freshest)
    val up = StatsSketch.estimate(spark, sk).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    val ex = StatsSketch.estimate(spark, freshest).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    cols.foreach(c => assert(up(c) >= ex(c), s"$c: ${up(c)} < ${ex(c)}"))
    // a full analyze resets exactness
    StatsSketch.analyze(spark, table, cols, sk)
    assert(StatsSketch.isExact(spark, sk))
  }

  test("analyzeIncremental refuses free-standing sketches and RESTOREd tables") {
    val table = tmpDir("hll_tab2") + "/t"
    val sk = tmpDir("hll_sk2") + "/s"
    graft.sources.ParquetTable.merge(spark, table, ids(0, 10), Seq("id"))
    StatsSketch.save(graft.sources.ParquetTable.read(spark, table),
      Seq("id"), sk)
    val e = intercept[IllegalArgumentException] {
      StatsSketch.analyzeIncremental(spark, table, Seq("id"), sk)
    }
    assert(e.getMessage.contains("free-standing"))
  }

  test("register ranks stay inside the declared [1, maxRank] band") {
    val reg = StatsSketch.sketch(ids(0, 5000), Seq("id"))
    val mm = reg.agg(min(col("rank")), max(col("rank"))).head()
    assert(mm.getInt(0) >= 1)
    assert(mm.getInt(1) <= StatsSketch.MaxRank)
    val buckets = reg.agg(min(col("bucket")), max(col("bucket"))).head()
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) < 4096)
  }
}

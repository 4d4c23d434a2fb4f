package perfbench

import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Notify, Pipeline}
import graft.schemas.Schemas
import graft.sources.ParquetTable

/** Seeded generator of the reference pipeline's daily CSV drops.
  *
  * Day k holds one date's orders and order items (one `date` partition
  * per day), a full `products.csv` in which ~1% of product names changed,
  * and injected defects: nulls in non-nullable columns, `total_amount <=
  * 0`, dangling order / product keys, exact in-drop duplicate rows, and
  * late corrections that re-send earlier days' orders with a new amount
  * (touching old partitions). Alongside the files it keeps the expected
  * last-writer-wins image of every curated table and the per-table counts
  * a correct run must report — computed here, without graft.
  */
final class DailyGen(seed: Long, nProducts: Int, ordersPerDay: Int, itemsPerOrder: Int) {
  private val rnd = new scala.util.Random(seed)
  private val productVersion = Array.fill(nProducts + 1)(0)
  private val nDepartments = 12
  private var nextOrder = 1
  private var nextItem = 1
  private var nextBad = 1
  private val pastOrders = mutable.ArrayBuffer.empty[Array[String]]

  /** Expected curated images: primary key → canonical row. */
  val image: Map[String, mutable.Map[Long, String]] =
    Seq("products", "orders", "order_items").map(_ -> mutable.Map.empty[Long, String]).toMap
  val hash = new Util.InputHash
  var csvRows = 0L

  /** Per table: (input rows, rejected rows) a correct run reports. */
  final case class Drop(dir: String, date: LocalDate, expect: Map[String, (Long, Long)],
      rows: Long)

  private def canonical(fields: Seq[String]): String =
    fields.map(f => if (f.isEmpty) "null" else f).mkString("|")

  private def amount(): String = {
    val cents = 100 + rnd.nextInt(50000)
    f"${cents / 100}%d.${cents % 100}%02d"
  }

  private def writeCsv(path: String, header: String, rows: Seq[Seq[String]]): Unit = {
    val text = rows.map(_.mkString(",")).mkString(header + "\n", "\n", "\n")
    hash.add(path.split('/').takeRight(2).mkString("/")); hash.add(text)
    csvRows += rows.size
    Util.write(path, text)
  }

  def day(k: Int, dir: String): Drop = {
    val date = LocalDate.of(2025, 4, 1).plusDays(k - 1L)
    val midnight = date.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    def ts(): String = java.time.LocalDateTime
      .ofEpochSecond(midnight + rnd.nextInt(86400), 0, ZoneOffset.UTC).format(TsFormat)

    // products: full catalogue, ~1% renamed, a few rows missing a name
    (1 to nProducts).foreach { id =>
      if (k == 1 || rnd.nextInt(100) == 0) productVersion(id) += 1
    }
    val products = (1 to nProducts).map { id =>
      val d = 1 + id % nDepartments
      Seq(id.toString, d.toString, s"dept_$d", s"product $id rev ${productVersion(id)}")
    }
    products.foreach(p => image("products")(p.head.toLong) = canonical(p))
    val badProducts = (1 to 1 + rnd.nextInt(2)).map { _ =>
      val id = nProducts + 100000 + { nextBad += 1; nextBad }
      Seq(id.toString, "1", "dept_1", "")
    }
    writeCsv(s"$dir/products.csv", "product_id,department_id,department,product_name",
      products ++ badProducts)

    // orders: today's, defects, in-drop duplicates, late corrections
    val orders = (1 to ordersPerDay).map { n =>
      val t = ts()
      val id = nextOrder; nextOrder += 1
      Seq(n.toString, id.toString, (1 + rnd.nextInt(20000)).toString, t, amount(), date.toString)
    }
    def badOrder(user: String, amt: String): Seq[String] = {
      val t = ts()
      Seq("0", (40000000 + { nextBad += 1; nextBad }).toString, user, t, amt, date.toString)
    }
    val nullUser = (1 to 2 + rnd.nextInt(3)).map(_ => badOrder("", amount()))
    val badAmount = (1 to 2 + rnd.nextInt(3)).map(i =>
      badOrder((1 + rnd.nextInt(20000)).toString, if (i % 2 == 0) "0.00" else "-5.00"))
    val orderDups = (1 to 5 + rnd.nextInt(5)).map(_ => orders(rnd.nextInt(orders.size)))
    val late = if (pastOrders.isEmpty) Nil else {
      val picked = mutable.LinkedHashSet.empty[Int]
      (1 to math.min(pastOrders.size, ordersPerDay / 20)).foreach(_ =>
        picked += rnd.nextInt(pastOrders.size))
      picked.toSeq.map { i =>
        val o = pastOrders(i).clone()
        o(4) = amount()
        pastOrders(i) = o
        o.toSeq
      }
    }
    val orderSchema = "order_num,order_id,user_id,order_timestamp,total_amount,date"
    writeCsv(s"$dir/orders/$date.csv", orderSchema,
      rnd.shuffle(orders ++ nullUser ++ badAmount ++ orderDups))
    if (late.nonEmpty) writeCsv(s"$dir/orders/late-$date.csv", orderSchema, late)
    (orders ++ late).foreach(o => image("orders")(o(1).toLong) = orderCanonical(o))
    pastOrders ++= orders.map(_.toArray)

    // order items for today's orders, plus defects and duplicates
    val items = orders.flatMap { o =>
      (1 to 1 + rnd.nextInt(2 * itemsPerOrder - 1)).map { n =>
        val id = nextItem; nextItem += 1
        val dsp = if (rnd.nextInt(10) == 0) "" else rnd.nextInt(30).toString
        Seq(id.toString, o(1), o(2), dsp, (1 + rnd.nextInt(nProducts)).toString,
          n.toString, rnd.nextInt(2).toString, o(3), o(5))
      }
    }
    def badItem(order: String, product: String): Seq[String] = {
      val o = orders(rnd.nextInt(orders.size))
      Seq((60000000 + { nextBad += 1; nextBad }).toString, order, o(2), "1", product,
        "1", "0", o(3), o(5))
    }
    val nullProduct = (1 to 2 + rnd.nextInt(3)).map(_ =>
      badItem(orders(rnd.nextInt(orders.size))(1), ""))
    val danglingOrder = (1 to 2 + rnd.nextInt(3)).map(_ =>
      badItem((80000000 + rnd.nextInt(1000000)).toString, (1 + rnd.nextInt(nProducts)).toString))
    val danglingProduct = (1 to 2 + rnd.nextInt(3)).map(_ =>
      badItem(orders(rnd.nextInt(orders.size))(1), (nProducts + 500000 + rnd.nextInt(1000)).toString))
    val itemDups = (1 to 5 + rnd.nextInt(5)).map(_ => items(rnd.nextInt(items.size)))
    writeCsv(s"$dir/order_items/$date.csv",
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered," +
        "order_timestamp,date",
      rnd.shuffle(items ++ nullProduct ++ danglingOrder ++ danglingProduct ++ itemDups))
    items.foreach(i => image("order_items")(i.head.toLong) = canonical(i.updated(7, epoch(i(7)))))

    val expect = Map(
      "products" -> ((products.size + badProducts.size).toLong, badProducts.size.toLong),
      "orders" -> ((orders.size + nullUser.size + badAmount.size + orderDups.size +
        late.size).toLong, (nullUser.size + badAmount.size).toLong),
      "order_items" -> ((items.size + nullProduct.size + danglingOrder.size +
        danglingProduct.size + itemDups.size).toLong,
        (nullProduct.size + danglingOrder.size + danglingProduct.size).toLong))
    Drop(dir, date, expect, expect.values.map(_._1).sum)
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def epoch(t: String): String =
    java.time.LocalDateTime.parse(t, TsFormat).toEpochSecond(ZoneOffset.UTC).toString

  private def orderCanonical(o: Seq[String]): String =
    canonical(o.updated(3, epoch(o(3))).updated(4, o(4).toDouble.toString))
}

/** `daily_load`: one `Pipeline.run` per daily drop, notify and archive on.
  * A traced day calls the same public functions as `Pipeline.run`, in the
  * same order, with a span around each (see [[tracedRun]]).
  */
final class DailyLoad(spark: SparkSession, seed: Long, root: String)
    extends Workload(spark, seed, root) {

  private val nProducts = 2000
  private val ordersPerDay = 3000
  private val itemsPerOrder = 4

  private var dir: String = _
  private var gen: DailyGen = _
  private var day = 0
  private var day1S = Double.NaN
  private var csvBytes = 0L

  private def config(base: String, k: Int) = Pipeline.Config(
    inputDir = f"$base/drops/day$k%03d",
    outputDir = s"$base/curated",
    rejectedDir = s"$base/rejected",
    archiveDir = Some(f"$base/archive/day$k%03d"),
    notifyDir = Some(s"$base/outbox"),
    runId = s"perfbench-day-$k",
    clock = () => f"2025-04-01T00:00:$k%02dZ")

  /** Day 1, the initial load that creates the curated tables, is the JIT
    * warm-up; the measured loop starts at day 2.
    */
  override def warmup(): Unit = day1S = Util.time(step())._2

  override def setup(d: String): Unit = {
    dir = d
    gen = new DailyGen(seed, nProducts, ordersPerDay, itemsPerOrder)
    day = 0
  }

  /** Two days; a traced run, one ABBA block. */
  override def enoughSamples(traceRun: Boolean): Boolean =
    if (!traceRun) days.size >= 2
    else days.count(!_.traced) >= 2 && days.count(_.traced) >= 2

  override def step(): Unit = {
    day += 1
    val cfg = config(dir, day)
    val drop = gen.day(day, cfg.inputDir)
    csvBytes += Util.bytesUnder(cfg.inputDir)
    val traced = Trace.active
    measure("day") {
      if (traced) tracedRun(cfg) else Pipeline.run(spark, cfg)
    } { results =>
      Checks.countsMatch(drop.expect,
        results.map(r => r.name -> ((r.inputRows, r.rejectedRows))).toMap).map(s"day $day: " + _)
    }
    annotateLast((if (traced) lastTraceExtras else Map.empty[String, Double]) +
      ("rows" -> drop.rows.toDouble))
  }

  private var lastTraceExtras = Map.empty[String, Double]

  override def finish(): Unit = {
    Seq("products" -> Schemas.productsSpec, "orders" -> Schemas.ordersSpec,
      "order_items" -> Schemas.orderItemsSpec).foreach { case (name, spec) =>
      val got = Checks.tableDigest(spark, s"$dir/curated/clean_$name", spec.columnNames)
      Checks.imageMatches(name, gen.image(name).values, got).foreach(problems += _)
    }
  }

  /** The measured days (a traced run's settling day is not one). */
  private def days = samples.filter(_.unit >= 0).toSeq

  private def dayWalls(traced: Boolean): Seq[Double] =
    days.filter(_.traced == traced).map(_.wallS)

  override def unitP50: Double = Util.median(dayWalls(traced = false))
  /** Input CSV rows / summed day wall. */
  override def workPerS: Double = {
    val untraced = days.filterNot(_.traced)
    untraced.map(_.extra("rows")).sum / untraced.map(_.wallS).sum
  }
  override def unitCpuP50: Double = Util.median(days.filterNot(_.traced).map(_.cpuS))
  override def workPerCpuS: Double = {
    val untraced = days.filterNot(_.traced)
    untraced.map(_.extra("rows")).sum / untraced.map(_.cpuS).sum
  }

  override def endToEndDetail: Map[String, Any] = {
    val walls = dayWalls(traced = false)
    val third = walls.size / 3
    val growth =
      if (third == 0) Double.NaN
      else Util.median(walls.takeRight(third)) / Util.median(walls.take(third))
    val (tl, tv, tn) = Util.tail(walls)
    Map(
      "load.day_s.p50" -> unitP50,
      s"load.day_s.$tl" -> tv,
      "load.day_s.samples" -> tn,
      "load.day1_s" -> day1S,
      "load.day_walls_s" -> samples.map(_.wallS),
      "load.day_cpu_s" -> samples.map(_.cpuS),
      "load.day_jit_s" -> samples.map(_.jitS),
      "load.day_gc_s" -> samples.map(_.gcS),
      "load.days_measured" -> days.size,
      "load.rows_per_s" -> workPerS,
      "load.day_cpu_s.p50" -> unitCpuP50,
      "load.rows_per_cpu_s" -> workPerCpuS,
      "load.day_growth" -> growth,
      "load.space_amp" -> Util.bytesUnder(s"$dir/curated", s"$dir/rejected") / csvBytes.toDouble)
  }

  override def inputs: Map[String, Any] = Map(
    "products" -> nProducts, "orders_per_day" -> ordersPerDay,
    "items_per_order_mean" -> itemsPerOrder, "days" -> day,
    "csv_rows" -> gen.csvRows, "csv_bytes" -> csvBytes,
    "csv_bytes_over_heap" -> csvBytes.toDouble / Runtime.getRuntime.maxMemory(),
    "sha256_16" -> gen.hash.hex)

  override def layerMetrics: Map[String, Double] =
    spanSet("operators.validate", "s", "jobs", "shuffle_bytes") ++
      spanSet("sources.merge", "s", "jobs", "shuffle_bytes", "bytes_written") ++
      spanSet("sources.recount", "s") ++
      spanSet("pipeline.rejected_write", "s") ++
      spanSet("pipeline.register", "s", "jobs") ++
      spanSet("pipeline.smoke", "s") ++
      spanSet("pipeline.archive", "s") ++
      spanSet("pipeline.notify", "s") ++
      spanMedian("operators.validate")(_.inRows.toDouble).map("sources.csv_scan.rows" -> _) ++
      spanMedian("operators.validate")(_.inBytes.toDouble).map("sources.csv_scan.bytes" -> _) ++
      Seq("operators.validate.rejected_frac", "sources.merge.files_written",
        "sources.merge.partitions_rewritten", "pipeline.rejected_write.files_written")
        .flatMap(k => extraMedian(k).map(k -> _)) ++
      tracedMedian(s => s.spans.get("sources.merge").map(m =>
        m.outRows / math.max(1.0, s.extra.getOrElse("valid_rows", 0.0))))
        .map("sources.merge.rewrite_ratio" -> _) ++
      tracedMedian(s => Some(s.wallS - s.jobWallS))
        .map("pipeline.driver_gap.s" -> _)

  /** `Pipeline.run`'s public steps in its order, each in a span:
    * `Pipeline.processDataset` per table (products → orders →
    * order_items), split into phases by call site (see [[datasetPhase]]),
    * then `registerTables`, the smoke queries, `archive` and the SUCCESS
    * event. File listings before and after each table count the files
    * the merge and the rejected write add; they run outside the spans.
    */
  private def tracedRun(cfg: Pipeline.Config): Seq[Pipeline.TableResult] = {
    val refs = mutable.Map.empty[String, DataFrame]
    var mergeFiles, mergeParts, rejectedFiles = 0L
    val results = Schemas.all.map { spec =>
      val table = Pipeline.tablePath(cfg, spec.name)
      val rejDir = s"${cfg.rejectedDir}/${spec.name}"
      val (tableBefore, rejBefore) = (Util.files(table).keySet, Util.files(rejDir).keySet)
      val res = Trace.phased("operators.validate")(datasetPhase) {
        val r = Pipeline.processDataset(spark, cfg, spec, refs.toMap)
        refs(spec.name) = ParquetTable.read(spark, table)
        r
      }
      val added = (Util.files(table).keySet -- tableBefore).filter(Util.isDataFile)
      mergeFiles += added.size
      mergeParts += added.map(p => p.split('/').filter(_.contains('=')).mkString("/")).size
      rejectedFiles += (Util.files(rejDir).keySet -- rejBefore).count(Util.isDataFile)
      res
    }
    Trace.span("pipeline.register")(Pipeline.registerTables(spark, cfg))
    Trace.span("pipeline.smoke")(Pipeline.smokeQueries(spark).foreach(_.collect()))
    cfg.archiveDir.foreach(a => Trace.span("pipeline.archive")(Pipeline.archive(cfg.inputDir, a)))
    cfg.notifyDir.foreach { d =>
      Trace.span("pipeline.notify")(Notify.publish(d,
        Notify.Event(cfg.runId, "SUCCESS", s"${cfg.jobName}: load complete",
          results.map(r => s"${r.name}: input=${r.inputRows} valid=${r.validRows} " +
            s"rejected=${r.rejectedRows} merged=${r.mergedRows}").mkString("; ")),
        cfg.clock()))
    }
    lastTraceExtras = Map(
      "operators.validate.rejected_frac" ->
        results.map(_.rejectedRows).sum / results.map(_.inputRows).sum.toDouble,
      "sources.merge.files_written" -> mergeFiles.toDouble,
      "sources.merge.partitions_rewritten" -> mergeParts.toDouble,
      "valid_rows" -> results.map(_.validRows).sum.toDouble,
      "pipeline.rejected_write.files_written" -> rejectedFiles.toDouble)
    results
  }

  /** The phase of a job `Pipeline.processDataset` launches, from the
    * frame that `processDataset` called (the one above it on the job's
    * call stack): `writeRejected` is the rejected write, `ParquetTable.merge`
    * the dedup and merge (the dedup is lazy and runs inside the merge's
    * jobs), and any other call (the CSV read, `Validator.validate`, the
    * count of the validated frame) is validation before the merge and the
    * recount after it. The re-read of the merged table that the next
    * table validates against counts as recount. A job launched from a
    * helper thread (a broadcast) carries no `processDataset` frame and
    * stays in the phase that launched it.
    */
  private def datasetPhase(current: String, stack: Seq[String]): String = {
    val at = stack.indexWhere(_.contains("graft.pipeline.Pipeline$.processDataset("))
    if (at < 0) current
    else {
      val callee = if (at == 0) "" else stack(at - 1)
      if (callee.contains("graft.pipeline.Pipeline$.writeRejected(")) "pipeline.rejected_write"
      else if (callee.contains("graft.sources.ParquetTable$.merge(")) "sources.merge"
      else if (current == "operators.validate") current
      else "sources.recount"
    }
  }
}

package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level data skipping + Z-order clustering for versioned tables —
  * the Delta/Iceberg scan-pruning tier.
  *
  * Stats come from the parquet FOOTERS the files already carry (row-group
  * min/max/null-count, aggregated per file) — collecting them costs one
  * footer read per file at commit time, never a data scan. They are
  * consolidated into `_graft_stats.json` INSIDE each versioned data dir:
  * data dirs are immutable once committed, so their stats are collected
  * exactly once, never invalidated, and live/die with the dir (vacuum
  * needs no extra bookkeeping; the `_` prefix hides the sidecar from
  * parquet listings). This is Delta's add-file-stats design with the log
  * replaced by the per-dir sidecar.
  *
  * At 100 TB the point is O(files-touched) planning: a predicate-carrying
  * read consults the consolidated sidecars (one small JSON per data dir —
  * NOT one footer round-trip per file) and hands Spark only the files
  * whose [min, max] intervals may satisfy the predicate. Z-ordering the
  * table (below) is what makes those intervals tight on MULTIPLE columns
  * at once.
  *
  * Pruning is CONSERVATIVE: any clause shape, column, or type the
  * evaluator does not understand keeps the file (`mayMatch` defaults
  * true), so skipping can never change results — only the file count.
  * The full predicate is always re-applied by Spark after the scan.
  */
object DataSkipping {

  private val StatsFileName = "_graft_stats.json"

  /** Per-column file stats. `kind` ∈ num | str; min/max are rendered as
    * strings (BigDecimal rendering for num — exact for every integral and
    * IEEE value), `nulls < 0` = unknown.
    */
  case class ColStat(kind: String, min: String, max: String, nulls: Long)

  /** Stats of one parquet file: row count + per-top-level-column stats.
    * Columns without usable footer stats are simply absent (conservative).
    * `bloom` names the columns carrying a native parquet bloom filter in
    * EVERY row group (written via [[ParquetTable.optimizeBloom]]) —
    * [[candidateFiles]] probes those for equality predicates, the
    * point-lookup tier min/max cannot serve.
    */
  case class FileStat(
      rows: Long, cols: Map[String, ColStat],
      bloom: Set[String] = Set.empty)

  /** One data dir's committed sidecar: the table schema of the commit
    * (so reads never re-infer it from footers — Delta keeps it in the
    * log for the same reason) + per-file stats.
    */
  case class Sidecar(schema: Option[StructType], files: Map[String, FileStat])

  /** Hadoop Configuration is Writable, not Serializable — this wrapper
    * ships it to executors for the parallel footer sweep.
    */
  private class SerConf(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  // ---- collection (commit time) -----------------------------------------

  /** Consolidate footer stats for every parquet file under `dir`
    * (recursive — partitioned data dirs keep their hive subpaths as
    * relative keys) into `dir/_graft_stats.json`, with the commit's
    * `schema` recorded beside them. One footer read per file, bounded by
    * the files THIS commit wrote, not by table size; small commits read
    * footers on the driver, wide ones (a clustered partitioned ingest can
    * legitimately write thousands of one-file partition dirs) fan the
    * sweep out as one Spark job.
    */
  def writeStats(spark: SparkSession, dir: String, schema: StructType = null): Unit = {
    val p = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return
    val files = listParquetFiles(spark, dir)
    val stats = census(spark, p, files)
    val out = fs.create(new Path(p, StatsFileName), true)
    try out.write(render(Option(schema), stats).getBytes("UTF-8"))
    finally out.close()
  }

  /** Footer census: consolidated [[FileStat]]s for `files` (paths
    * relative to `root`) — the metadata a catalog crawler reads: one
    * footer open per file, zero data scanned. Local thread pool under
    * 256 files (no Spark-job overhead on the commit path), cluster-wide
    * sweep above (a clustered partitioned ingest can write thousands of
    * one-file dirs).
    */
  private[sources] def census(spark: SparkSession, root: Path,
      files: Seq[String]): Map[String, FileStat] = {
    val p = root
    val conf = spark.sessionState.newHadoopConf()
    if (files.size <= 256) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(files.size, 16)))
      try files.map { rel =>
        rel -> pool.submit(new java.util.concurrent.Callable[FileStat] {
          override def call(): FileStat =
            fileStat(HadoopInputFile.fromPath(new Path(p, rel), conf))
        })
      }.map { case (rel, fut) => rel -> fut.get() }.toMap
      finally pool.shutdown()
    } else {
      val sconf = new SerConf(conf)
      val dirStr = p.toString
      spark.sparkContext
        .parallelize(files, math.min(files.size, 256))
        .map { rel =>
          rel -> fileStat(HadoopInputFile.fromPath(
            new Path(new Path(dirStr), rel), sconf.conf))
        }.collect().toMap
    }
  }

  /** The parquet files a PLAIN (non-manifest) Spark read of `dir`
    * scans, as (relative path, byte size): same recursion as
    * [[listParquetFiles]] but skipping hidden (`_`/`.`-prefixed) path
    * segments at EVERY level, mirroring Spark's own file-index
    * visibility — so a versioned table's `_…` data/manifest/stats dirs
    * stay out and a census over this listing covers exactly the rows a
    * catalog `USING parquet LOCATION` table serves.
    */
  private[sources] def visibleParquetFiles(
      spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val base = p.toUri.getPath
    val buf = mutable.ArrayBuffer[(String, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) {
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
          buf += ((rel, st.getLen))
      }
    }
    buf.toSeq.sortBy(_._1)
  }

  /** Relative paths of the parquet data files under `dir`. */
  private[sources] def listParquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val base = p.toUri.getPath
    val buf = mutable.ArrayBuffer[String]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith("."))
        buf += st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
    }
    buf.toSeq.sorted
  }

  /** One file's consolidated stats from its footer: min of row-group
    * mins, max of maxes, summed null counts. Columns are kept only when
    * every row group reports usable stats and the physical/logical type
    * maps cleanly onto `num` (integral, IEEE, date-days,
    * timestamp-micros) or `str` (UTF8) ordering — notably DECIMAL
    * (unscaled ints), INT96, and booleans are skipped.
    */
  private def fileStat(file: HadoopInputFile): FileStat = {
    val reader = ParquetFileReader.open(file)
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      val mins = mutable.Map[String, BigDecimal]()
      val maxs = mutable.Map[String, BigDecimal]()
      val minStrs = mutable.Map[String, String]()
      val maxStrs = mutable.Map[String, String]()
      val nulls = mutable.Map[String, Long]()
      val dropped = mutable.Set[String]()
      blocks.forEach { block =>
        rows += block.getRowCount
        block.getColumns.forEach { cc =>
          val pathParts = cc.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val st = cc.getStatistics
            val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
            if (st == null || st.isEmpty || !usable(st, logical)) dropped += name
            else {
              if (st.getNumNulls >= 0 && !nulls.get(name).exists(_ < 0))
                nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
              else nulls(name) = -1L
              if (st.hasNonNullValue) st match {
                case b: BinaryStatistics =>
                  val mn = UTF8String.fromBytes(b.genericGetMin.getBytes).toString
                  val mx = UTF8String.fromBytes(b.genericGetMax.getBytes).toString
                  minStrs(name) = minStrs.get(name).filter(_ <= mn).getOrElse(mn)
                  maxStrs(name) = maxStrs.get(name).filter(_ >= mx).getOrElse(mx)
                case _ =>
                  val (mn, mx) = numRange(st)
                  mins(name) = mins.get(name).filter(_ <= mn).getOrElse(mn)
                  maxs(name) = maxs.get(name).filter(_ >= mx).getOrElse(mx)
              }
            }
          }
        }
      }
      val cols =
        (mins.keySet -- dropped).map(c =>
          c -> ColStat("num", mins(c).toString, maxs(c).toString,
            nulls.getOrElse(c, -1L))).toMap ++
        (minStrs.keySet -- dropped).map(c =>
          c -> ColStat("str", minStrs(c), maxStrs(c),
            nulls.getOrElse(c, -1L))).toMap ++
        // all-null columns: no min/max but a usable null count
        (nulls.keySet -- mins.keySet -- minStrs.keySet -- dropped)
          .filter(nulls(_) >= 0)
          .map(c => c -> ColStat("num", "", "", nulls(c))).toMap
      // columns with a bloom filter in EVERY row group (the footer
      // records the offset; -1 = none) — intersection over blocks
      var bloomCols: Set[String] = null
      blocks.forEach { block =>
        val here = mutable.Set[String]()
        block.getColumns.forEach { cc =>
          val pathParts = cc.getPath.toArray
          if (pathParts.length == 1 && cc.getBloomFilterOffset >= 0)
            here += pathParts(0)
        }
        bloomCols = if (bloomCols == null) here.toSet else bloomCols & here.toSet
      }
      FileStat(rows, cols, Option(bloomCols).getOrElse(Set.empty))
    } finally reader.close()
  }

  private def usable(
      st: Statistics[_], logical: LogicalTypeAnnotation): Boolean = st match {
    case _: BooleanStatistics => false
    case _: BinaryStatistics =>
      logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    case _: IntStatistics | _: LongStatistics =>
      logical match {
        case null => true
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => false
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => true
        case _ => false
      }
    case _: FloatStatistics | _: DoubleStatistics => true
    case _ => false
  }

  private def numRange(st: Statistics[_]): (BigDecimal, BigDecimal) = st match {
    case s: IntStatistics => (BigDecimal(s.getMin), BigDecimal(s.getMax))
    case s: LongStatistics => (BigDecimal(s.getMin), BigDecimal(s.getMax))
    case s: FloatStatistics =>
      (BigDecimal(s.getMin.toDouble), BigDecimal(s.getMax.toDouble))
    case s: DoubleStatistics => (BigDecimal(s.getMin), BigDecimal(s.getMax))
    case other => throw new IllegalStateException(s"no num range for $other")
  }

  // ---- sidecar IO (minimal JSON: flat, all-string leaves + longs) -------

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def render(schema: Option[StructType], stats: Map[String, FileStat]): String = {
    val files = stats.toSeq.sortBy(_._1).map { case (f, fs) =>
      val cols = fs.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        s"${jstr(c)}:{" + s""""kind":${jstr(cs.kind)},"min":${jstr(cs.min)},""" +
          s""""max":${jstr(cs.max)},"nulls":${cs.nulls}}"""
      }.mkString(",")
      val bloom =
        if (fs.bloom.isEmpty) ""
        else s""","bloom":[${fs.bloom.toSeq.sorted.map(jstr).mkString(",")}]"""
      s"${jstr(f)}:{" + s""""rows":${fs.rows},"cols":{$cols}$bloom}"""
    }.mkString("{", ",", "}")
    // schema.json is already valid JSON — embedded as a subtree
    schema.map(s => s"""{"schema":${s.json},"files":$files}""")
      .getOrElse(s"""{"files":$files}""")
  }

  /** Parse the sidecar. Spark's own Jackson does the tree walk — no
    * hand-rolled parser, no extra dependency.
    */
  private def parse(json: String): Sidecar = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(json)
    val schema = Option(root.get("schema")).map(n =>
      org.apache.spark.sql.types.DataType.fromJson(n.toString).asInstanceOf[StructType])
    val out = mutable.Map[String, FileStat]()
    root.get("files").fields().forEachRemaining { e =>
      val fn = e.getValue
      val cols = mutable.Map[String, ColStat]()
      fn.get("cols").fields().forEachRemaining { ce =>
        val c = ce.getValue
        cols(ce.getKey) = ColStat(c.get("kind").asText(), c.get("min").asText(),
          c.get("max").asText(), c.get("nulls").asLong())
      }
      val bloom = Option(fn.get("bloom")).map { arr =>
        val b = mutable.Set[String]()
        arr.elements().forEachRemaining(n => b += n.asText())
        b.toSet
      }.getOrElse(Set.empty[String])
      out(e.getKey) = FileStat(fn.get("rows").asLong(), cols.toMap, bloom)
    }
    Sidecar(schema, out.toMap)
  }

  /** Stats sidecar of `dir`, if one was committed. */
  def readStats(spark: SparkSession, dir: String): Option[Sidecar] = {
    val f = new Path(dir, StatsFileName)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
        in.readFully(0, bytes)
        Some(parse(new String(bytes, "UTF-8")))
      } finally in.close()
    }
  }

  /** Combine per-file stats into a snapshot-wide [min, max] for
    * `column`. None when ANY file's stats are missing (file absent from
    * its sidecar, or the column unusable there — unknown values could
    * hide the true extremum); Some(kind, None) when every file is
    * all-null for the column; Some(kind, Some((min, max))) otherwise.
    */
  private[sources] def combineMinMax(
      perFile: Seq[Option[FileStat]],
      column: String): Option[(String, Option[(String, String)])] = {
    val cols = perFile.map(_.flatMap(_.cols.get(column)))
    if (cols.exists(_.isEmpty)) return None
    val present = cols.flatten
    if (present.isEmpty) return None // zero files: nothing known
    val kinds = present.map(_.kind).distinct
    if (kinds.size != 1) return None
    val valued = present.filter(c => c.min.nonEmpty && c.max.nonEmpty)
    if (valued.isEmpty) Some((kinds.head, None)) // all-null column
    else {
      val (mn, mx) = kinds.head match {
        case "num" =>
          (valued.map(c => BigDecimal(c.min)).min.toString,
            valued.map(c => BigDecimal(c.max)).max.toString)
        case _ => (valued.map(_.min).min, valued.map(_.max).max)
      }
      Some((kinds.head, Some((mn, mx))))
    }
  }

  /** Combine per-file stats into a snapshot-wide NON-NULL count for
    * `column` — the metadata answer to `COUNT(col)`. Sound for every
    * stats-carrying column including floats (counting is NaN-safe; only
    * min/max ordering is not). None when any file lacks stats for the
    * column or its null count is unknown (`nulls < 0`); an empty
    * snapshot counts 0.
    */
  private[sources] def combineNonNull(
      perFile: Seq[Option[FileStat]], column: String): Option[Long] = {
    val counts = perFile.map(_.flatMap(fs =>
      fs.cols.get(column).filter(_.nulls >= 0).map(c => fs.rows - c.nulls)))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  // ---- pruning (read time) ----------------------------------------------

  /** The files under `dir` that may hold rows matching `cond` (relative
    * paths). Files without stats, and whole dirs without a sidecar, are
    * kept — skipping never changes results.
    */
  private[sources] def candidateFiles(
      spark: SparkSession, dir: String, cond: Option[Expression]): Seq[String] = {
    val all = listParquetFiles(spark, dir)
    (cond, readStats(spark, dir)) match {
      case (Some(c), Some(sidecar)) =>
        val kept = all.filter(f => sidecar.files.get(f).forall(mayMatch(c, _)))
        bloomPrune(spark, dir, c, kept, sidecar)
      case _ => all
    }
  }

  /** Equality-shaped conjuncts usable for bloom probing — top-level ANDs
    * only, like a bloom index serves. Each conjunct carries the VALUE SET
    * a matching row must intersect: `col = lit` probes one value,
    * `col IN (lits)` / InSet probe each value and the file survives when
    * ANY may be present (the point-lookup batch a bloom index exists
    * for). STRICT on shape: bare attribute, literals of exactly the
    * column's type — a cast-wrapped attribute would hash the wrong value
    * domain and turn the probe into a false NEGATIVE (min/max pruning
    * tolerates order-preserving casts; hash identity does not).
    */
  private def eqConjuncts(cond: Expression): Seq[(String, Seq[Any], DataType)] = cond match {
    case And(l, r) => eqConjuncts(l) ++ eqConjuncts(r)
    case EqualTo(a: AttributeReference, Literal(v, t))
        if v != null && t == a.dataType => Seq((a.name, Seq(v), t))
    case EqualTo(Literal(v, t), a: AttributeReference)
        if v != null && t == a.dataType => Seq((a.name, Seq(v), t))
    case In(a: AttributeReference, list)
        if list.nonEmpty && list.forall {
          case Literal(v, t) => v != null && t == a.dataType
          case _ => false
        } =>
      Seq((a.name, list.map { case Literal(v, _) => v }, a.dataType))
    case InSet(a: AttributeReference, set)
        if set.nonEmpty && !set.contains(null) =>
      Seq((a.name, set.toSeq, a.dataType))
    case _ => Nil
  }

  /** Bloom point-lookup tier: for files whose sidecar records a native
    * parquet bloom filter on an equality-probed column, open the footer
    * and test each row group's bloom — the file survives only if SOME
    * row group may contain a value of EVERY probed conjunct (for an
    * IN-list conjunct: any of its values). Runs strictly AFTER (and
    * only on) the min/max survivors; one footer+bloom-page read per
    * probed file, no data I/O. Conservative everywhere: missing bloom,
    * unhashable type, or any read problem keeps the file.
    */
  private def bloomPrune(
      spark: SparkSession, dir: String, cond: Expression,
      files: Seq[String], sidecar: Sidecar): Seq[String] = {
    val eqs = eqConjuncts(cond)
    if (eqs.isEmpty || !sidecar.files.values.exists(_.bloom.nonEmpty)) return files
    val conf = spark.sessionState.newHadoopConf()
    files.filter { rel =>
      val bloomed = sidecar.files.get(rel).map(_.bloom).getOrElse(Set.empty)
      val probes = eqs.filter(e => bloomed.contains(e._1))
      probes.isEmpty || bloomMayContain(
        new Path(new Path(dir), rel), conf, probes)
    }
  }

  private def bloomMayContain(
      p: Path, conf: org.apache.hadoop.conf.Configuration,
      probes: Seq[(String, Seq[Any], DataType)]): Boolean =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        (0 until blocks.size()).exists { bi =>
          val block = blocks.get(bi)
          val bfr = reader.getBloomFilterDataReader(block)
          probes.forall { case (name, vs, t) =>
            val ccs = block.getColumns
            (0 until ccs.size()).find(i =>
              ccs.get(i).getPath.toArray.toSeq == Seq(name)) match {
              case None => true
              case Some(i) =>
                val bf = bfr.readBloomFilter(ccs.get(i))
                if (bf == null) true
                // a matching row holds ONE of the conjunct's values —
                // the row group survives when any value may be present
                else vs.exists(v => bloomHash(bf, v, t).forall(bf.findHash))
            }
          }
        }
      } finally reader.close()
    } catch { case _: Throwable => true } // conservative on any failure

  private def bloomHash(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      v: Any, t: DataType): Option[Long] = t match {
    case StringType => Some(bf.hash(
      org.apache.parquet.io.api.Binary.fromString(v.toString)))
    case IntegerType => Some(bf.hash(v.asInstanceOf[Int]))
    case LongType => Some(bf.hash(v.asInstanceOf[Long]))
    case DoubleType => Some(bf.hash(v.asInstanceOf[Double]))
    case FloatType => Some(bf.hash(v.asInstanceOf[Float]))
    case _ => None
  }

  /** Conservative interval check: can any row of a file with stats `f`
    * satisfy `cond`? Unknown shapes/columns/types → true.
    */
  private[sources] def mayMatch(cond: Expression, f: FileStat): Boolean = cond match {
    case And(l, r) => mayMatch(l, f) && mayMatch(r, f)
    case Or(l, r) => mayMatch(l, f) || mayMatch(r, f)
    case EqualTo(a, Literal(v, t)) => cmp(f, a, v, t)((mn, mx, x) => mn <= x && x <= mx,
      (mn, mx, x) => mn <= x && x <= mx)
    case EqualTo(Literal(v, t), a) => cmp(f, a, v, t)((mn, mx, x) => mn <= x && x <= mx,
      (mn, mx, x) => mn <= x && x <= mx)
    case GreaterThan(a, Literal(v, t)) => cmp(f, a, v, t)((_, mx, x) => mx > x,
      (_, mx, x) => mx > x)
    case GreaterThan(Literal(v, t), a) => cmp(f, a, v, t)((mn, _, x) => mn < x,
      (mn, _, x) => mn < x)
    case GreaterThanOrEqual(a, Literal(v, t)) => cmp(f, a, v, t)((_, mx, x) => mx >= x,
      (_, mx, x) => mx >= x)
    case GreaterThanOrEqual(Literal(v, t), a) => cmp(f, a, v, t)((mn, _, x) => mn <= x,
      (mn, _, x) => mn <= x)
    case LessThan(a, Literal(v, t)) => cmp(f, a, v, t)((mn, _, x) => mn < x,
      (mn, _, x) => mn < x)
    case LessThan(Literal(v, t), a) => cmp(f, a, v, t)((_, mx, x) => mx > x,
      (_, mx, x) => mx > x)
    case LessThanOrEqual(a, Literal(v, t)) => cmp(f, a, v, t)((mn, _, x) => mn <= x,
      (mn, _, x) => mn <= x)
    case LessThanOrEqual(Literal(v, t), a) => cmp(f, a, v, t)((_, mx, x) => mx >= x,
      (_, mx, x) => mx >= x)
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, t) =>
        cmp(f, a, v, t)((mn, mx, x) => mn <= x && x <= mx,
          (mn, mx, x) => mn <= x && x <= mx)
      }
    case InSet(a, set) =>
      set.exists(v => cmp(f, a, v, attrType(a).orNull)(
        (mn, mx, x) => mn <= x && x <= mx, (mn, mx, x) => mn <= x && x <= mx))
    case StartsWith(a, Literal(v, StringType)) =>
      val prefix = v.asInstanceOf[UTF8String].toString
      colOf(f, a).forall(c => c.kind != "str" || c.min.isEmpty ||
        (c.max >= prefix && c.min <= prefix + "\uFFFF"))
    case IsNull(a) if attrName(a).isDefined =>
      colOf(f, a).forall(c => c.nulls != 0)
    case IsNotNull(a) if attrName(a).isDefined =>
      colOf(f, a).forall(c => c.nulls < 0 || c.nulls < f.rows)
    case _ => true
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    // numeric-widening casts preserve order, so stats stay comparable
    case c: Cast if numericish(c.child.dataType) && numericish(c.dataType) =>
      attrName(c.child)
    case _ => None
  }

  private def attrType(e: Expression): Option[DataType] = e match {
    case a: AttributeReference => Some(a.dataType)
    case c: Cast => Some(c.dataType)
    case _ => None
  }

  private def numericish(t: DataType): Boolean = t match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
        _: FloatType | _: DoubleType => true
    case _ => false
  }

  private def colOf(f: FileStat, a: Expression): Option[ColStat] =
    attrName(a).flatMap(f.cols.get)

  /** Evaluate a comparison against the column's interval: `num` compares
    * in BigDecimal space (date-days and timestamp-micros included — the
    * literal's internal representation is the same unit the footer
    * stores), `str` in string space. Missing stats, kind/type mismatches,
    * and all-null files with equality/range predicates → conservative.
    */
  private def cmp(f: FileStat, a: Expression, v: Any, t: DataType)(
      num: (BigDecimal, BigDecimal, BigDecimal) => Boolean,
      str: (String, String, String) => Boolean): Boolean = {
    if (v == null) return true
    colOf(f, a) match {
      case None => true
      case Some(c) if c.min.isEmpty || c.max.isEmpty =>
        // stats exist but no non-null value was seen: only nulls in the
        // file, which no comparison can match
        false
      case Some(c) =>
        (c.kind, t) match {
          case ("num", _: ByteType | _: ShortType | _: IntegerType | _: LongType) =>
            num(BigDecimal(c.min), BigDecimal(c.max),
              BigDecimal(v.asInstanceOf[Number].longValue()))
          case ("num", _: FloatType | _: DoubleType) =>
            num(BigDecimal(c.min), BigDecimal(c.max),
              BigDecimal(v.asInstanceOf[Number].doubleValue()))
          case ("num", _: DateType) => // internal: days since epoch (Int)
            num(BigDecimal(c.min), BigDecimal(c.max),
              BigDecimal(v.asInstanceOf[Number].longValue()))
          case ("num", _: TimestampType) => // internal: micros (Long)
            num(BigDecimal(c.min), BigDecimal(c.max),
              BigDecimal(v.asInstanceOf[Number].longValue()))
          case ("str", _: StringType) =>
            str(c.min, c.max, v.asInstanceOf[UTF8String].toString)
          case _ => true
        }
    }
  }

  // ---- Z-order clustering (write time) ----------------------------------

  /** Cluster `df` for multi-column data skipping: each row's `cols`
    * values are bucketed into `2^bits` approximate-quantile buckets, the
    * bucket ids' bits are INTERLEAVED into one Z-value, and the frame is
    * range-partitioned into `numFiles` tasks sorted by it. Nearby rows in
    * the k-dimensional space land in the same file, so every file covers
    * a narrow [min, max] interval on EVERY clustered column at once —
    * which is exactly what the footer-stats pruning above feeds on. (A
    * lexicographic sort makes the first column's intervals tight and
    * leaves the rest table-wide; the Z-curve is why a 2nd/3rd predicate
    * column still skips.)
    *
    * Cost shape: one `approxQuantile` pass per column (driver gets
    * `2^bits` boundaries, never data), then one range shuffle — the same
    * price as a plain global sort. Columns must be numeric/date/
    * timestamp (cast to double for bucketing; the written DATA is
    * untouched). Everything is built from codegen'd built-ins — the
    * Z-value is shifts/ands/adds, no UDF.
    */
  def zorder(
      df: DataFrame, cols: Seq[String], numFiles: Int, bits: Int = 8): DataFrame = {
    require(numFiles >= 1, "zorder: numFiles must be >= 1")
    df.withColumn("__graft_z", zValue(df, cols, bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
  }

  /** The interleaved-bits Z-value column for `cols` over `df`'s value
    * distribution (one `approxQuantile` pass per column at call time) —
    * the clustering key [[zorder]] range-partitions by. Exposed so
    * partitioned tables can compose it with their partition columns:
    * range-partitioning by (partitionCols…, z) clusters WITHIN each
    * partition while the partitioned write still splits dirs.
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    require(cols.nonEmpty, "zorder: no columns")
    require(bits >= 1 && cols.size * bits <= 62,
      s"zorder: ${cols.size} cols × $bits bits exceeds the 62-bit Z-value")
    val k = cols.size
    val nb = 1 << bits
    val casted = cols.map(c => col(c).cast("double"))
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val dfc = df.select(cols.indices.map(i => casted(i).as(s"__zq$i")): _*)
    val boundaries = cols.indices.map(i =>
      dfc.stat.approxQuantile(s"__zq$i", probs, 0.001).toSeq)
    val buckets = cols.indices.map { i =>
      // bucket = #boundaries <= value, in [0, 2^bits); nulls sort first.
      // Native binary-search expression — the interpreted-HOF count
      // formulation cost ~2^bits comparisons/row/column outside codegen
      // and dominated OPTIMIZE ZORDER at scale (see QuantileBucket).
      val bucket = org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.expressions.QuantileBucket(
          org.apache.spark.sql.GraftColumnBridge.expression(casted(i)),
          boundaries(i).toArray))
      when(casted(i).isNull, lit(0L)).otherwise(bucket)
    }
    (0 until bits).flatMap(b => (0 until k).map(i =>
      shiftleft(shiftright(buckets(i), b).bitwiseAND(lit(1L)), b * k + i)
        .cast("long"))).reduce(_ + _)
  }
}

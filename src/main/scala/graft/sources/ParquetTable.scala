package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Managed Parquet tables with Delta-MERGE-equivalent observable semantics.
  *
  * The reference writes Delta tables and upserts with
  * `whenMatchedUpdateAll.whenNotMatchedInsertAll` on the primary key
  * (reference: src/glue_etl.py:335-366). No Delta jars exist in this
  * environment, so the same observable semantics are provided over plain
  * Parquet:
  *
  *   - `create`: overwrite, partitioned (glue_etl.py:360-366);
  *   - `append`: partitioned append — rejected-records sink
  *     (glue_etl.py:274-277);
  *   - `merge`: upsert-by-PK. For PARTITIONED tables this is
  *     partition-scoped: only partitions present in the update set are
  *     rewritten (dynamic partition overwrite), so merging one day of data
  *     into a 100 TB / 3-year table rewrites one day, not 100 TB. For
  *     unpartitioned tables it falls back to a full rewrite published as a
  *     new manifest version.
  *
  * Atomicity & versioning: Delta gets both from its transaction log. Here,
  * UNPARTITIONED tables use a minimal manifest: each full rewrite lands in
  * a fresh uniquely-named data dir (underscore-prefixed — invisible to
  * plain parquet listings; unique so two racing writers can never collide
  * in one staging dir) and is published by ONE atomic manifest commit
  * under `_graft_manifest/` recording that dir. `read` resolves the newest
  * manifest, so
  * a reader sees version N or N+1, never a half-written or missing dir,
  * and an already-resolved plan keeps reading its (still-present) old dir
  * to completion. `readAt` gives "query as of version N"; `vacuum` retires
  * old versions. Every publish goes through the pluggable [[LogCommitter]]
  * seam (`logCommitter`): the default dispatches to a hard-link CAS on
  * local FS and an atomic no-replace rename on HDFS; an object-store
  * deployment swaps in a conditional-PUT/CAS committer (same factoring as
  * Delta's LogStore) without touching this layer.
  * PARTITIONED tables version through the same manifest with
  * per-partition entries (`createVersioned`/`mergeVersioned`): each merge
  * writes only the affected partitions into a fresh uniquely-named data
  * dir and atomically publishes a manifest re-pointing just those
  * entries — untouched partitions get zero I/O, old manifests keep
  * resolving their old dirs (snapshot isolation + time travel), and
  * `vacuum` is reference-aware. Plain (unversioned) partitioned layouts
  * still merge via Spark's dynamic partition overwrite, which commits
  * per-partition without cross-partition atomicity. The pipeline's
  * idempotency (MERGE replay, reference README.md:102-105) additionally
  * survives because merge-by-PK is idempotent.
  */
object ParquetTable {

  final case class MergeStats(updated: Long, inserted: Long)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // DDL registered BEFORE the first write (constraints, generation or
    // identity rules) must not make the table "exist": those files are
    // rules about future data, not data — a path holding only them still
    // takes the create path
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("._graft_") && !TableDdl.isDdlFile(n)
    }
  }

  /** Current table state: the newest manifest version when `path` is a
    * versioned table, the plain parquet dir otherwise.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    currentVersion(spark, path) match {
      case Some(v) => readVersion(spark, path, snapshot(spark, path, v))
      case None => spark.read.parquet(path)
    }

  /** Time travel: the table exactly as published by manifest `version`. */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    require(versions(spark, path).contains(version),
      s"readAt: version $version not present at $path " +
        s"(have: ${versions(spark, path).mkString(", ")})")
    readVersion(spark, path, snapshot(spark, path, version))
  }

  /** Latest version whose commit time is ≤ `tsMillis` — Delta's
    * `TIMESTAMP AS OF` resolution rule. Commit times come from the
    * manifests' commit times (committed state — see [[commitTimestamp]]);
    * headerless legacy manifests fall back to manifest mtime, best
    * effort. Commit times are written by serialized CAS commits on one
    * table so they are monotone up to wall-clock skew; taking the MAX
    * eligible version makes small skew harmless (a locally-late stamp on
    * an earlier version cannot shadow a later one). Throws when
    * `tsMillis` predates the first commit, like Delta.
    */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"versionAtTimestamp: no versioned table at $path")
    val md = manifestDir(path)
    val fs = hadoopFs(spark, md)
    def ts(v: Long): Long = commitTimestamp(spark, path, v).getOrElse(
      fs.getFileStatus(new Path(md, f"v$v%020d")).getModificationTime)
    val eligible = vs.filter(ts(_) <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates the first commit of $path " +
        s"(first commit at ${ts(vs.min)})")
    eligible.max
  }

  /** Time travel by wall clock: the table as of `tsMillis`. */
  def readAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readAt(spark, path, versionAtTimestamp(spark, path, tsMillis))

  /** Predicate-carrying read with FILE-LEVEL data skipping: consults the
    * per-data-dir stats sidecars ([[DataSkipping]] — committed alongside
    * every versioned write) and scans only the files whose [min, max]
    * intervals may satisfy `predicate`; the predicate is then re-applied
    * in full, so results always equal `read(...).filter(predicate)`.
    * Planning cost is O(sidecars read), not O(files probed) — at 100 TB
    * the scan list shrinks BEFORE Spark ever opens a footer. Pair with
    * [[optimize]] (Z-order) to make intervals tight on several columns
    * at once. Plain unversioned layouts fall back to an ordinary
    * filtered read (Spark's own row-group pruning still applies).
    */
  def readWhere(spark: SparkSession, path: String, predicate: Column): DataFrame =
    currentVersion(spark, path) match {
      case None => spark.read.parquet(path).filter(predicate)
      case Some(v) =>
        val head = snapshot(spark, path, v)
        val groups = fileGroups(spark, path, head, predicate)
        if (groups.forall(_._2.isEmpty))
          readVersion(spark, path, head).filter(predicate).limit(0)
        else {
          // post-evolution, dirs can carry different (append-only) schemas;
          // align each to the version's schema so the union is exact
          val align = versionSchema(spark, path, head)
            .map(s => (df: DataFrame) => alignTo(df, s))
            .getOrElse(identity[DataFrame] _)
          // deletion vectors filter each leg BEFORE align/union (metadata
          // columns only resolve on the scan relation); file-level stats
          // pruning stays conservative — a DV only removes rows
          val dv = dvOf(spark, path, head)
          extendDefaults(spark, path, head, applyColmap(head,
            groups.filter(_._2.nonEmpty).map { case (base, rels) =>
              align(dvFilterLeg(spark.read.option("basePath", base)
                .parquet(rels.map(r => s"$base/$r"): _*), dv))
            }.reduce(_.unionByName(_, allowMissingColumns = true))))
            .filter(predicate)
        }
    }

  /** (data-dir base, kept relative files) per data dir of `version`,
    * after stats pruning — the observable core of [[readWhere]] (specs
    * assert on the kept counts). For partitioned versions, only files
    * under partition subdirs the manifest references are eligible (a
    * shared data dir may hold partitions belonging to other versions).
    */
  private[graft] def prunedFileGroups(
      spark: SparkSession, path: String, version: Long,
      predicate: Column): Seq[(String, Seq[String])] =
    fileGroups(spark, path, snapshot(spark, path, version), predicate)

  private def fileGroups(
      spark: SparkSession, path: String, head: Snapshot,
      predicate: Column): Seq[(String, Seq[String])] = {
    val analyzedCond = readVersion(spark, path, head).filter(predicate)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    // stats sidecars and bloom indexes key on PHYSICAL column names; the
    // analyzed predicate references the LOGICAL view (readVersion applies
    // the colmap last). Rewrite attributes logical→physical before any
    // probe — with a vacated name reused (rename a→x, then c→a) the raw
    // predicate would consult the OLD physical a's min/max (or bloom) and
    // silently skip files that match (ADVICE r9 high).
    val inv = head.renames.map { case (p, l) => l.toLowerCase -> p }
    val cond =
      if (inv.isEmpty) analyzedCond
      else analyzedCond.map(_.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if inv.contains(a.name.toLowerCase) =>
          a.withName(inv(a.name.toLowerCase))
      })
    byDataDir(head.entries).map { case (dataDir, parts) =>
      val base = new Path(path, dataDir).toString
      base -> DataSkipping.candidateFiles(spark, base, cond).filter(inSlice(_, parts))
    }
  }

  /** OPTIMIZE-ZORDER tier: republish the current image clustered on
    * `zorderBy` across `numFiles` write tasks (see [[DataSkipping.zorder]])
    * as the next version — old versions keep time-traveling, and the
    * fresh data dir's stats sidecar makes [[readWhere]] (and any
    * FileIndex-served plan) prune on every clustered column. PARTITIONED
    * versioned tables cluster WITHIN partitions: one job range-partitioned
    * by (partitionCols…, z), so each file covers a narrow z interval
    * inside its partition dir — Delta's per-partition OPTIMIZE ZORDER
    * shape; `zorderBy` must be data columns there.
    */
  def optimize(
      spark: SparkSession, path: String, zorderBy: Seq[String],
      numFiles: Int = 8, bits: Int = 8,
      writeOptions: Map[String, String] = Map.empty): Long = {
    val v0 = currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"optimize: no versioned table at $path"))
    val partitionColumns = snapshot(spark, path, v0).partitionColumns
    if (partitionColumns.isEmpty)
      publishMaintenance(spark, path, "optimize", Nil,
        head => DataSkipping.zorder(readVersion(spark, path, head), zorderBy,
          numFiles, bits),
        writeOptions = writeOptions)
    else {
      // partitioned: cluster WITHIN partitions in ONE job — range-
      // partition by (partitionCols…, z) so each task holds a
      // contiguous (partition, z) slab, and the partitioned write
      // splits the dirs; every file then covers a narrow z interval
      // inside its partition, which is what the sidecar pruning feeds
      // on. `numFiles` bounds total write tasks, not files-per-
      // partition (Delta OPTIMIZE ZORDER's per-partition binning).
      require(zorderBy.forall(c => !partitionColumns.exists(_.equalsIgnoreCase(c))),
        s"optimize: Z-order columns must be data columns " +
          s"(${partitionColumns.mkString(", ")} are partition columns — " +
          "constant within a dir, nothing to cluster)")
      publishMaintenance(spark, path, "optimize", partitionColumns,
        { head =>
          val cur = readVersion(spark, path, head)
          val keys = partitionColumns.map(col) :+ col("__graft_z")
          cur
            .withColumn("__graft_z", DataSkipping.zValue(cur, zorderBy, bits))
            .repartitionByRange(numFiles, keys: _*)
            .sortWithinPartitions(keys: _*)
            .drop("__graft_z")
        },
        preserveLayout = true, writeOptions = writeOptions)
    }
  }

  /** OPTIMIZE with a BLOOM FILTER index build (the Databricks
    * bloom-index recipe: declare the index, OPTIMIZE writes it): rewrite
    * the current image with NATIVE parquet bloom filters on `bloomFor`
    * columns (the standard `parquet.bloom.filter.enabled#col` writer
    * property — any parquet reader sees ordinary files), optionally
    * Z-ordered on `zorderBy`. The refreshed stats sidecar records which
    * columns carry blooms, and [[readWhere]]/[[GraftFileIndex]] pruning
    * gains a point-lookup tier: equality predicates probe the blooms of
    * min/max-surviving files and drop the ones that cannot contain the
    * value — the skipping min/max cannot provide on high-cardinality,
    * unclustered columns (uuid/fingerprint lookups at 100 TB), at one
    * footer+bloom-page read per probed file, no data I/O, false
    * positives only (never false negatives — results never change).
    */
  def optimizeBloom(
      spark: SparkSession, path: String, bloomFor: Seq[String],
      zorderBy: Seq[String] = Nil, numFiles: Int = 8): Long = {
    require(bloomFor.nonEmpty, "optimizeBloom: empty bloom column list")
    val v0 = currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"optimizeBloom: no versioned table at $path"))
    // per-write options, NOT SparkContext.hadoopConfiguration: mutating
    // the shared conf let concurrent writes in the same session pick up
    // bloom writer props, and the unconditional unset clobbered any
    // user-set values (ADVICE r9 low)
    val bloomOpts = bloomFor
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    if (zorderBy.nonEmpty)
      optimize(spark, path, zorderBy, numFiles, writeOptions = bloomOpts)
    else {
      // plain rewrite (compact-shaped, but across numFiles so the
      // bloom tier has per-file filters worth pruning between)
      val partitionColumns = snapshot(spark, path, v0).partitionColumns
      if (partitionColumns.isEmpty)
        publishMaintenance(spark, path, "optimizeBloom", Nil,
          readVersion(spark, path, _).repartition(numFiles),
          writeOptions = bloomOpts)
      else
        publishMaintenance(spark, path, "optimizeBloom", partitionColumns,
          readVersion(spark, path, _),
          filesPerPartition = math.max(1, numFiles),
          writeOptions = bloomOpts)
    }
  }

  /** Overwrite-create. Partitioned layouts stay plain (hive-style dirs at
    * `path`, catalog-registrable via LOCATION); unpartitioned tables are
    * created as manifest version 1 (or the next version if the path
    * already holds a versioned table). `filesPerPartition > 1` splits each
    * hot partition's write across that many files/tasks (see
    * clusterByPartitions). DDL registered before the create survives it.
    */
  def create(
      df: DataFrame, path: String, partitionColumns: Seq[String] = Nil,
      filesPerPartition: Int = 1): Unit = {
    val spark = df.sparkSession
    val g = fillColumns(spark, path, IdentityColumns.fill(spark, path, df))
    if (partitionColumns.nonEmpty) {
      Constraints.validateFrame(spark, path, g)
      // the plain overwrite deletes the whole directory, DDL files included:
      // carry them across it, read after the fills so an identity watermark
      // the fill just advanced is the one written back
      val ddl = TableDdl.snapshot(spark, path)
      try writePlain(g, path, partitionColumns, filesPerPartition)
      finally TableDdl.restore(spark, path, ddl)
    } else atomicReplace(spark, path, g, Nil)
  }

  /** Default-valued, then generated columns the frame does not carry —
    * row-local projections inside the write's own stage. Every ingest verb
    * fills through here; the verbs that also assign identity values fill
    * those first.
    */
  private def fillColumns(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    GeneratedColumns.fill(spark, path, ColumnDefaults.fill(spark, path, df))

  /** Cluster rows onto their target partitions before a `partitionBy`
    * write. Without this every write task opens a writer for every
    * partition value it happens to hold, so a W-task write into P
    * partitions emits up to W×P files (measured: a 150k-row
    * date-partitioned ingest at sf0.1 scattered ~19k tiny files and spent
    * ~200 s mostly opening/closing writers; clustered it is one file per
    * partition). A hot partition bigger than one task's share can ask for
    * `filesPerPartition > 1`: a deterministic row-hash salt splits it into
    * that many files (deterministic so task retries re-produce the same
    * assignment — no rand()).
    */
  private def clusterByPartitions(
      df: DataFrame, partitionColumns: Seq[String], filesPerPartition: Int): DataFrame =
    if (partitionColumns.isEmpty) df
    else {
      val keys = partitionColumns.map(col)
      val exprs =
        if (filesPerPartition <= 1) keys
        else keys :+ pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(filesPerPartition))
      df.repartition(exprs: _*)
    }

  /** Target bytes per data file for image writes — the guide-§6 band
    * (output files around 128 MB–1 GB, never one file per reduce
    * partition regardless of size). `<= 0` disables the sizing.
    */
  val TargetFileBytesConf = "spark.graft.write.targetFileBytes"

  private def targetFileBytes(spark: SparkSession): Long =
    java.lang.Long.parseLong(spark.conf.get(
      TargetFileBytesConf, String.valueOf(128L * 1024 * 1024)))

  /** Size an UNPARTITIONED image/artifact write by the byte estimate
    * instead of inheriting the plan's partitioning. Without this every
    * commit writes `spark.sql.shuffle.partitions` files however small
    * the image — the small-files tax (guide §6) is then paid on every
    * later footer census, file listing and scan of the snapshot, and at
    * cluster conf (thousands of shuffle partitions) a modest commit
    * scatters thousands of KB-sized files. The estimate is the analyzed
    * plan's sizeInBytes — for parquet scans the actual compressed input
    * bytes. It is NOT an upper bound on the output: the size-only visitor
    * scales by row width, never by row multiplicity, so a Generate
    * (explode) estimates at about its input's size however many rows it
    * emits. A plan that contains one therefore never takes the one-file
    * path. Fires only when the write would otherwise scatter tiny files,
    * and resizes with a post-compute `repartition` — see the inline
    * comments for why each of those choices is load-bearing.
    */
  private[graft] def sizedForWrite(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = targetFileBytes(df.sparkSession)
    // ONE walk of the analyzed plan collects the three facts below.
    // `directive`: a repartition/coalesce at the ROOT of the caller's plan
    // (under row-preserving wrappers only) is a layout directive — "write
    // exactly these partitions" — and the sizing must never silently
    // override it. Deeper repartitions (e.g. a reader fanning a
    // single-file scan out for compute) are NOT write-layout intent and
    // stay subject to sizing.
    // `scatters`: a SHUFFLE-FREE plan (scan → project/filter → write)
    // already writes bytes-proportional file counts — its partitioning IS
    // the scan's splits — so packing it buys nothing and the repartition
    // exchange is pure waste (measured on q57's fixture create at sf1:
    // ~27 MB of parquet re-shuffled to produce the same one file the scan
    // would have written). Only a plan with a shuffle-inducing operator
    // scatters `spark.sql.shuffle.partitions` files regardless of size.
    // `generates`: a row-multiplying Generate, whose output the estimate
    // cannot bound (see above).
    var directive, scatters, generates = false
    def walk(p: LogicalPlan, onRootChain: Boolean): Unit = {
      p match {
        case _: RepartitionOperation => directive ||= onRootChain; scatters = true
        case _: Join | _: Aggregate | _: Distinct | _: Deduplicate => scatters = true
        case _: Window | _: Sort | _: Intersect | _: Except => scatters = true
        case _: Generate => generates = true
        case _ =>
      }
      val chain = onRootChain && (p.isInstanceOf[Project] || p.isInstanceOf[SubqueryAlias])
      p.children.foreach(walk(_, chain))
    }
    val plan = df.queryExecution.analyzed
    walk(plan, onRootChain = true)
    // ANALYZED plan stats, not optimized: the size-only visitor reads
    // the same leaf bytes either way (filters/joins don't shrink the
    // estimate without CBO), and asking for the optimized plan here
    // would run the optimizer a SECOND time per commit — the write
    // itself re-plans the resized tree (measured ~0.3-0.5 s per
    // commit on merge-sized plans).
    // Fire ONLY for a genuinely SMALL artifact — estimate at or under
    // a quarter of one target file (32 MiB at the default). Such an
    // artifact gains nothing from more files (openCost packing folds
    // its sibling files into 1-2 scan splits either way) and loses a
    // footer-census open + listing entry per file on every later
    // read. Anything bigger keeps its native layout: the files ARE
    // the downstream scan's split parallelism, and resizing them was
    // measured (sf1, take 1 of this change) to serialize the next
    // merge's join and the full-scan ANALYZE for seconds per commit —
    // far more than the metadata it saved. Join-shaped plans (change
    // manifests, DV slices) estimate as size PRODUCTS under the
    // size-only visitor and therefore never fire — correct, if
    // accidental: their consumers full-scan them.
    if (target <= 0L || directive || !scatters || generates ||
        plan.stats.sizeInBytes > target / 4) df
    else
      // `repartition`, DELIBERATELY not `coalesce`: coalesce imposes
      // the file count by collapsing the plan's final stage, which
      // serializes whatever compute lives there (measured at sf1: a
      // coalesce(1)d merge ran its whole join+encode on one core —
      // q57 3.5 s → 16.2 s, q148 17.6 s → 61.4 s). The repartition
      // exchange moves only the bytes about to be written — by
      // construction at most a quarter target file.
      df.repartition(1)
  }

  // Images bigger than the [[sizedForWrite]] small-artifact bar keep
  // their native reduce partitioning: the files ARE the downstream
  // scan's split parallelism (measured at sf1 — resized images
  // serialized the next merge's join). At cluster conf the production
  // answer for image file sizing is AQE partition coalescing
  // (advisoryPartitionSizeInBytes) right-sizing the reduce stage that
  // feeds the write (SURVEY §4); the bench's AQE-off setting is a
  // local-VM workaround, not a production recommendation.
  // `keepLayout` writes `df`'s own task layout as-is — maintenance images
  // (compact's fold, ZORDER's range slabs) arrange it themselves, and
  // neither the adaptive sizing nor the per-partition clustering may
  // undo that.
  private def writePlain(
      df: DataFrame, path: String, partitionColumns: Seq[String],
      filesPerPartition: Int = 1,
      writeOptions: Map[String, String] = Map.empty,
      keepLayout: Boolean = false): Unit = {
    // writer options land in THIS job's hadoop conf only (Spark's
    // newHadoopConfWithOptions), so parquet writer properties — bloom
    // filters, per-column settings — never leak into concurrent writes
    // through the shared SparkContext configuration (ADVICE r9 low)
    val out =
      if (keepLayout) df
      else if (partitionColumns.isEmpty) sizedForWrite(df)
      else clusterByPartitions(df, partitionColumns, filesPerPartition)
    val w = out.write.mode(SaveMode.Overwrite).options(writeOptions)
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(path)
  }

  def append(
      df: DataFrame, path: String, partitionColumns: Seq[String] = Nil,
      filesPerPartition: Int = 1): Unit = {
    val spark = df.sparkSession
    val g = fillColumns(spark, path, IdentityColumns.fill(spark, path, df))
    // plain layout: no pre-publish dir to read back, so the incoming
    // frame is validated instead (one pass; no-op without constraints)
    Constraints.validateFrame(spark, path, g)
    val w = clusterByPartitions(g, partitionColumns, filesPerPartition)
      .write.mode(SaveMode.Append)
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w)
      .parquet(path)
  }

  /** `df` deduplicated on `pk` (an arbitrary row per key, like
    * `dropDuplicates`), returned as is when its analyzed plan already is a
    * `Deduplicate` on exactly those keys — a caller that deduplicated
    * upstream (the pipeline, a streaming batch) and the merge layers below
    * share ONE pk aggregate instead of stacking one per layer.
    */
  private def dedupByKey(df: DataFrame, pk: Seq[String]): DataFrame =
    if (dedupInput(df, pk).isDefined) df else df.dropDuplicates(pk)

  /** The plan of the rows `df` deduplicates, when its analyzed plan is a
    * `Deduplicate` on exactly the keys `pk`. */
  private def dedupInput(df: DataFrame, pk: Seq[String]): Option[LogicalPlan] = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    df.queryExecution.analyzed match {
      case Deduplicate(keys, child) if keys.size == pk.size &&
          pk.forall(k => keys.exists(a => resolver(a.name, k))) => Some(child)
      case _ => None
    }
  }

  /** Pure merge plan: rows of `target` whose PK appears in `updates` are
    * replaced by the update row; unmatched update rows are inserted.
    * `updates` is PK-deduplicated first (MERGE requires a unique source key),
    * unless it already is ([[dedupByKey]]).
    * One anti-join + union — AQE broadcasts the deduplicated update keys
    * when they are small.
    *
    * `evolveSchema = false` (default): updates must carry the target's
    * columns; extras are dropped (Delta's default strictness lives in the
    * select, which fails on a MISSING column). `evolveSchema = true` is
    * Delta `mergeSchema` parity: columns new in `updates` are appended to
    * the table schema (existing rows read NULL there), and update rows
    * missing target columns carry typed NULLs.
    */
  def mergeFrames(
      target: DataFrame, updates: DataFrame, pk: Seq[String],
      evolveSchema: Boolean = false,
      broadcastKeys: Option[Boolean] = None): DataFrame =
    if (!evolveSchema) {
      val cols = target.columns.toSeq
      val upd = dedupByKey(updates, pk).select(cols.map(col): _*)
      val updKeys = hintKeys(upd.select(pk.map(col): _*).distinct(), broadcastKeys)
      // a using-columns join hoists the pk columns to the front of the
      // output; re-select so merge preserves the table's column order
      // (otherwise every commit silently reorders the table pk-first)
      target.join(updKeys, pk, "left_anti").select(cols.map(col): _*)
        .unionByName(upd)
    } else {
      val extra = updates.columns
        .filterNot(c => target.columns.exists(_.equalsIgnoreCase(c)))
      val widenedTarget = extra.foldLeft(target)((df, c) =>
        df.withColumn(c, lit(null).cast(
          updates.schema.find(_.name.equalsIgnoreCase(c)).get.dataType)))
      val missing = target.columns
        .filterNot(c => updates.columns.exists(_.equalsIgnoreCase(c)))
      val upd = missing.foldLeft(dedupByKey(updates, pk))((df, c) =>
        df.withColumn(c, lit(null).cast(target.schema(c).dataType)))
        .select(widenedTarget.columns.map(col).toSeq: _*)
      val updKeys = hintKeys(upd.select(pk.map(col): _*).distinct(), broadcastKeys)
      widenedTarget.join(updKeys, pk, "left_anti")
        .select(widenedTarget.columns.map(col).toSeq: _*)
        .unionByName(upd)
    }

  // ---- stats-informed merge planning -------------------------------------

  /** Where ANALYZE pins the table's NDV sketch (the SQL verbs' convention:
    * a `_`-prefixed sibling of the data dirs, invisible to scans).
    */
  def statsDir(path: String): String = s"$path/_graft_stats"

  /** Whether the table has been ANALYZEd (a sketch version is committed
    * at [[statsDir]], see [[IndexStore]]). One metadata existence probe.
    */
  def hasStats(spark: SparkSession, path: String): Boolean =
    IndexStore.exists(spark, statsDir(path))

  /** Kill switch for stats-informed merge planning (`true` by default —
    * the real opt-in is having run ANALYZE on the table at all).
    */
  val StatsHintsConf = "spark.graft.stats.mergeHints"

  /** Estimated matched fraction (update-key NDV / table-pk NDV) at or
    * above which an auto-tiered merge takes the copy-on-write rewrite
    * even on a table big enough for merge-on-read: a bulk update
    * approaching table size makes MOR append ~the whole table AND keep
    * the DV'd old image alive — double storage until OPTIMIZE, for no
    * read benefit. The scaladoc of [[merge]] used to delegate this call
    * to the caller ("force Some(false) for bulk updates"); with an
    * ANALYZEd table the engine now makes it from statistics.
    */
  val BulkUpdateCowFraction: Double = 0.5

  /** The numerator of the bulk fraction is an HLL ESTIMATE (standard
    * error 1.04/√m ≈ 1.6% at p = 12): a workload sitting exactly ON the
    * boundary would flip MOR↔COW per run/scale on estimator noise — and
    * the two tiers' byte profiles differ by a whole table image
    * (measured: the r14 bytes gate caught exactly this on a
    * 50%-of-keys fixture). The probe must therefore clear the boundary
    * by its own 2σ before the IRREVERSIBLE tier (the full rewrite) is
    * chosen; at the boundary the reversible tier wins — MOR's extra
    * storage folds away at the next OPTIMIZE, a rewrite cannot be
    * un-written.
    */
  private def bulkDemotionBar(p: Int): Double =
    BulkUpdateCowFraction * (1.0 + 2.0 * 1.04 / math.sqrt((1 << p).toDouble))

  /** Stats-informed physical decisions for one merge. `broadcastKeys`:
    * Some(true) → broadcast the deduplicated update-key set into the
    * anti/semi joins, Some(false) → force sort-merge (the key set
    * provably exceeds the broadcast threshold — protects the driver
    * from a statically lowballed broadcast), None → no opt-in, leave
    * the choice to Catalyst/AQE. `bulkUpdate`: the update set covers ≥
    * [[BulkUpdateCowFraction]] of the table's pk NDV, so the auto tier
    * should rewrite instead of merge-on-read.
    */
  final case class MergeStatsPlan(
      broadcastKeys: Option[Boolean], bulkUpdate: Boolean)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes.
    * Plain numbers (including "-1" = disabled) don't parse as byte
    * strings — try the bare-long form first.
    */
  private[graft] def autoBroadcastThreshold(spark: SparkSession): Long = {
    val raw =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    scala.util.Try(raw.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
  }

  val NoStatsPlan: MergeStatsPlan = MergeStatsPlan(None, bulkUpdate = false)

  /** The CBO loop closed: the reference opts into cost-based planning by
    * conf (glue_etl.py:407-408 `spark.sql.cbo.enabled`); here the opt-in
    * is having ANALYZEd the table — when `_graft_stats` exists, ONE
    * register-bounded column-pruned pass sketches the update set's key
    * NDV and sizes the deduplicated key set (NDV × Catalyst defaultSize
    * key width) against `spark.sql.autoBroadcastJoinThreshold`.
    *
    * Why Catalyst/AQE don't subsume this: the updates side of a merge is
    * routinely a DERIVED frame (a CDC batch, a join, a generated feed)
    * whose static `sizeInBytes` is off by orders of magnitude in both
    * directions — a 10M-event CDC batch over 1k keys statically "can't"
    * be broadcast though its distinct-key set is a few KB, and AQE's
    * runtime rescue only converts the join AFTER the target's shuffle
    * map side has been written: at 100 TB, writing the table to shuffle
    * storage IS the cost being decided. The NDV probe costs one pass
    * over the SMALL side and moves the decision before any exchange is
    * planned.
    *
    * The bulk-update demotion sizes the TABLE side as the snapshot's
    * sidecar row count: pk is unique by merge contract, so table pk NDV
    * = row count — exact, metadata-only, and defined for COMPOSITE pks
    * (r13 gated on pk.size == 1 because the per-column sketch cannot
    * bound a composite key; the row count can — VERDICT r13 item 3).
    * MOR dirs may still carry DV-superseded rows, over-counting the
    * denominator → the fraction under-states → conservative, stays MOR.
    * Pre-sidecar single-column-pk tables fall back to the persisted
    * ANALYZE sketch (same conservatism: an upper-bound sketch after
    * delete windows over-states table NDV).
    */
  private[graft] def planMergeStats(
      spark: SparkSession, path: String, updates: DataFrame,
      pk: Seq[String]): MergeStatsPlan = {
    if (spark.conf.get(StatsHintsConf, "true") != "true") return NoStatsPlan
    if (!hasStats(spark, path)) return NoStatsPlan
    if (!pk.forall(updates.columns.contains)) return NoStatsPlan
    val threshold = autoBroadcastThreshold(spark)
    // auto-broadcast disabled by the user: planning broadcasts anyway
    // would override that choice — stay out entirely
    if (threshold <= 0) return NoStatsPlan
    val ndvU = graft.operators.StatsSketch.ndvEstimate(updates, pk)
    // key width per Catalyst's own convention (DataType.defaultSize) plus
    // 16 B/entry of hashed-relation bookkeeping
    val keyBytes = pk.map(c => updates.schema(c).dataType.defaultSize.toLong)
      .sum + 16L
    val broadcastKeys = Some(ndvU * keyBytes <= threshold)
    val bulk = {
      val ndvT: Option[Double] = currentVersion(spark, path)
        .flatMap(v => sliceRows(spark, path, snapshot(spark, path, v).entries)).map(_.toDouble)
        .orElse(if (pk.size != 1) None else try {
          graft.operators.StatsSketch.estimate(spark, statsDir(path))
            .filter(col("column") === pk.head).collect().headOption
            .map(r => r.getDouble(r.fieldIndex("ndv_est")))
        } catch { case scala.util.control.NonFatal(_) => None })
      ndvT.exists(t => t > 0 &&
        ndvU / t >= bulkDemotionBar(graft.operators.StatsSketch.DefaultPrecision))
    }
    MergeStatsPlan(broadcastKeys, bulk)
  }

  /** Rows whose `partitionColumns` values (in that order) equal one of
    * `values`, NULL matching NULL: a predicate on partition columns only,
    * which the scan evaluates against its directory listing, so only the
    * named partitions are read. No values selects no rows.
    */
  private def inPartitions(partitionColumns: Seq[String], values: Seq[Row]): Column =
    partitionColumns match {
      case Seq(c) =>
        val (nulls, vs) = values.map(_.get(0)).partition(_ == null)
        val in = if (vs.isEmpty) lit(false) else col(c).isin(vs.distinct: _*)
        if (nulls.isEmpty) in else in || col(c).isNull
      case _ =>
        def any(xs: Seq[Column]): Column =
          if (xs.isEmpty) lit(false)
          else if (xs.size == 1) xs.head
          else { val (l, r) = xs.splitAt(xs.size / 2); any(l) || any(r) }
        any(values.distinct.map(r =>
          partitionColumns.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)))
    }

  /** Apply the planner's side decision to a deduplicated key set. */
  private def hintKeys(keys: DataFrame, broadcastKeys: Option[Boolean]): DataFrame =
    broadcastKeys match {
      case Some(true)  => broadcast(keys)
      case Some(false) => keys.hint("merge")
      case None        => keys
    }

  /** Upsert `updates` into the table at `path` (creating it if absent).
    * On an unpartitioned VERSIONED table, `mergeOnRead` picks the commit
    * tier: Some(true) → [[mergeVectors]] (matched rows retired by
    * deletion vector, update rows appended — an O(update rows) commit
    * instead of a full rewrite); Some(false) → the copy-on-write
    * rewrite; None (default) → auto by table size from the sidecars
    * (metadata-only, no scan): tables above [[MorAutoRowsFloor]] rows
    * take the merge-on-read tier, smaller ones rewrite — below the
    * floor a rewrite is cheaper than MOR's extra join/probe jobs, above
    * it rewrite cost grows with the table while MOR stays O(updates).
    * Force Some(false) for bulk updates approaching table size (MOR
    * would append ~the whole table and DV the old image — double
    * storage until OPTIMIZE). Plain layouts and schema evolution always
    * rewrite.
    * `cdf = true` additionally captures this commit's change rows into a
    * per-commit change manifest (see [[tableChanges]]) — one extra join
    * over the affected slice at merge time, Delta-CDF-style opt-in.
    * `evolveSchema = true` (versioned tables; Delta `mergeSchema`
    * parity) appends columns new in `updates` to the table schema — see
    * [[mergeFrames]]; time travel keeps showing each version's own
    * schema. On PARTITIONED versioned tables only affected partitions
    * rewrite widened; untouched partitions keep their old data dirs,
    * whose files read the appended columns as typed NULLs (reads align
    * every dir to the version's superset sidecar schema — Delta's
    * read-time evolution, with the log replaced by the sidecars). Not
    * combinable with `cdf` in one call (a change feed cannot straddle
    * two schemas in one commit): evolve first, capture from the next
    * merge.
    *
    * `txn = Some(appId -> txnVersion)` makes the merge IDEMPOTENT under
    * re-delivery (Delta's `txnAppId`/`txnVersion`): the marker commits
    * atomically with the data, a batch at or below the app's committed
    * watermark is skipped entirely, and [[commitLoop]] re-checks under
    * the CAS race so two racing replays of one batch commit once. This
    * is the exactly-once primitive for streaming foreachBatch sinks
    * (txnVersion = batchId); txn versions must be monotone per app.
    */
  def merge(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
      partitionColumns: Seq[String] = Nil,
      filesPerPartition: Int = 1,
      cdf: Boolean = false,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      mergeOnRead: Option[Boolean] = None,
      combine: Option[(DataFrame, DataFrame) => DataFrame] = None): Unit =
    mergeWithin(spark, path, updates, pk, partitionColumns, None, filesPerPartition,
      cdf, evolveSchema, txn, mergeOnRead, combine)

  /** [[merge]] for a caller that already holds `partitionValues`: the
    * distinct values of `partitionColumns` (in that order) over ALL of
    * `updates`' rows, duplicates included — the rows a deduplicated
    * `updates` is taken from. `updates` must carry those columns
    * itself. Only a plain partitioned table uses the list, to prune its
    * target read; `None` collects it from `updates` there.
    */
  private[graft] def mergeWithin(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
      partitionColumns: Seq[String],
      partitionValues: Option[Seq[Row]],
      filesPerPartition: Int = 1,
      cdf: Boolean = false,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      mergeOnRead: Option[Boolean] = None,
      combine: Option[(DataFrame, DataFrame) => DataFrame] = None): Unit = {
    require(partitionValues.isEmpty || partitionColumns.forall(c =>
      updates.columns.exists(spark.sessionState.conf.resolver(_, c))),
      s"merge: partition values need the partition columns " +
        s"${partitionColumns.mkString(", ")} in the incoming rows")
    // column mapping: the COW tiers below compute in LOGICAL space and
    // publish through atomicReplace, a full-image commit that writes
    // logical names and does NOT carry the map — i.e. the merge
    // materializes the mapping as a side effect, like compact. The MOR
    // tier translates its appended dir to physical names and carries the
    // map (see mergeVectors).
    require(!(cdf && evolveSchema),
      "merge: cdf capture and schema evolution cannot share a commit; " +
        "evolve first, then capture from the next merge")
    // `combine` (the conditional-clause MERGE hook — see GraftSql's
    // WHEN MATCHED AND … THEN DELETE support) replaces the upsert image
    // builder [[mergeFrames]] with a caller-provided (targetSlice,
    // dedupedSource) => newSlice. It composes with the partition-scoped
    // and copy-on-write commit machinery but NOT with: the merge-on-read
    // tier (clause semantics need the rewrite), cdf capture (the
    // key-scoped right-outer diff assumes merge never deletes), or
    // schema evolution.
    require(!(combine.isDefined && cdf),
      "merge: conditional clauses (combine) and cdf capture cannot share a commit")
    require(!(combine.isDefined && evolveSchema),
      "merge: conditional clauses (combine) cannot evolve the schema")
    require(!(combine.isDefined && mergeOnRead.contains(true)),
      "merge: conditional clauses (combine) take the rewrite tier, not merge-on-read")
    requireTxnAppId(txn)
    // idempotent-write fast path (Delta txnAppId/txnVersion): a batch at
    // or below the app's committed watermark is a re-delivery — skip it
    // before any work. The commit loop re-checks under the CAS race.
    if (exists(spark, path) && txnAlreadyApplied(spark, path, txn)) return
    if (!exists(spark, path)) {
      require(combine.isEmpty,
        s"merge: conditional clauses need an existing target table at $path")
      if (partitionColumns.isEmpty)
        atomicReplace(spark, path, dedupByKey(updates, pk), Nil, txn)
      else {
        require(txn.isEmpty, "merge: txn markers need a versioned table; the " +
          "initial partitioned load via merge is a plain layout (use " +
          "createVersioned + mergeVersioned for versioned partitioned txn)")
        create(dedupByKey(updates, pk), path, partitionColumns, filesPerPartition)
      }
      return
    }
    TableProperties.requireNotAppendOnly(spark, path, "merge")
    // a partitioned VERSIONED table (manifest with partition entries)
    // always merges through the manifest, regardless of how it was opened
    if (currentVersion(spark, path).exists(snapshot(spark, path, _).partitioned)) {
      require(partitionColumns.nonEmpty,
        s"merge: $path is a partitioned versioned table; pass its partition columns")
      mergeVersioned(spark, path, updates, pk, partitionColumns, filesPerPartition,
        cdf, evolveSchema, txn, mergeOnRead, combine)
      return
    }
    // stats-informed planning (see [[planMergeStats]]) — lazy: the probe
    // pass over `updates` runs only on a branch that consults it
    lazy val statsPlan = planMergeStats(spark, path, updates, pk)
    if (partitionColumns.nonEmpty) {
      require(!cdf, s"merge: cdf capture needs a versioned table; $path is a " +
        "plain partitioned layout (use createVersioned/mergeVersioned)")
      require(!evolveSchema, s"merge: schema evolution needs a versioned table; " +
        s"$path is a plain partitioned layout")
      require(txn.isEmpty, s"merge: txn markers need a versioned table; " +
        s"$path is a plain partitioned layout")
      // Partition-scoped merge: read ONLY the affected partitions (a static
      // partition filter on the incoming partition values, so the scan
      // lists only those directories — the value set is small by
      // construction: one row per partition directory), merge, and
      // rewrite just those partitions.
      val incoming = fillColumns(spark, path,
        dedupInput(updates, pk).fold(updates)(GraftColumnBridge.ofRows(spark, _)))
      val upd = incoming.dropDuplicates(pk)
      // plain layout: no pre-publish dir to read back — validate the
      // incoming rows like append does (existing rows passed at their
      // own write time)
      Constraints.validateFrame(spark, path, upd)
      // the partitions of ALL incoming rows, not of the deduplicated ones:
      // the dedup keeps an arbitrary row per key, and a second evaluation
      // of it can pick a row from another partition than the write does —
      // dynamic overwrite would then replace a partition whose untouched
      // rows were never read. This superset is deterministic.
      val parts = partitionValues.getOrElse(
        incoming.select(partitionColumns.map(col): _*).distinct().collect().toSeq)
      val affected = read(spark, path).filter(inPartitions(partitionColumns, parts))
      // the upsert image of [[mergeFrames]], with the anti-join taking the
      // keys of the incoming rows as they are: the same key set as the
      // deduplicated rows', and an anti-join needs no `distinct()` — one
      // aggregate fewer per merge
      val merged = combine.map(_(affected, upd)).getOrElse {
        val cols = affected.columns.toSeq.map(col)
        affected.join(hintKeys(incoming.select(pk.map(col): _*), statsPlan.broadcastKeys),
          pk, "left_anti").select(cols: _*).unionByName(upd.select(cols: _*))
      }
      withConf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic") {
        clusterByPartitions(merged, partitionColumns, filesPerPartition)
          .write.mode(SaveMode.Overwrite)
          .partitionBy(partitionColumns: _*)
          .parquet(path)
      }
    } else if (!evolveSchema && combine.isEmpty && currentVersion(spark, path)
        // the bulk-update demotion: above the MOR floor but with the
        // update set covering most of the table's pk NDV (ANALYZEd
        // tables only), rewrite — MOR would append ~the table and DV
        // the old image (double storage until OPTIMIZE)
        .exists(v => mergeOnRead.getOrElse(
          autoMergeOnRead(spark, path, v) && !statsPlan.bulkUpdate))) {
      // merge-on-read tier: O(update rows) commit — matched rows retired
      // by deletion vector, update rows appended as one dir (CDF capture
      // and txn re-delivery handled inside)
      mergeVectors(spark, path, updates, pk, cdf, txn)
    } else {
      // copy-on-write tier: the whole image derived from the head, so a
      // lost race recomputes against the winner's head ([[commitLoop]]).
      // A plain unpartitioned dir (no manifest yet) is read as is and
      // published as version 1.
      val updG = fillColumns(spark, path, updates)
      commitLoop(spark, path, "merge", txn, missing = None) { head =>
        val target =
          if (head.version == 0) spark.read.parquet(path) else readVersion(spark, path, head)
        val merged =
          if (evolveSchema) mergeFrames(target, updates, pk, evolveSchema = true,
            broadcastKeys = statsPlan.broadcastKeys)
          else combine.map(_(target, dedupByKey(updG, pk)))
            .getOrElse(mergeFrames(target, updG, pk, broadcastKeys = statsPlan.broadcastKeys))
        val dataDir = stageImage(spark, path, merged)
        // capture is derived from the COMMITTED image, not by re-evaluating
        // the update plan: a lazy dedup could pick a different row per
        // duplicate PK on re-execution, and the feed must never disagree
        // with what the commit actually published. Scoped to the update
        // keys: merge never deletes and never changes a row outside the
        // key set, so diffing the affected slices equals the full-snapshot
        // diff at a fraction of the join size.
        Commit(Snapshot(Seq("" -> dataDir)), onWin = nv => if (cdf) {
          val updKeys = updates.select(pk.map(col): _*).distinct()
          // re-select after the semi-joins: a using-columns join HOISTS the
          // pk columns to the front, and the feed must carry table order
          val cols = target.columns.toSeq
          writeChangeManifest(spark, path, nv,
            changeRowsBetween(
              target.join(updKeys, pk, "left_semi").select(cols.map(col): _*),
              readVersion(spark, path, snapshot(spark, path, nv)).join(updKeys, pk, "left_semi")
                .select(cols.map(col): _*),
              pk, "right_outer"))
        })
      }
    }
  }

  /** Exact row count of a PLAIN table from its live files' parquet
    * footers — no scan job; `None` for a versioned table, whose live files
    * its manifest names and whose deletion vectors may mask rows.
    */
  private[graft] def plainRowCount(spark: SparkSession, path: String): Option[Long] =
    if (currentVersion(spark, path).isDefined) None
    else Some(DataSkipping.census(spark, new Path(path),
      DataSkipping.visibleParquetFiles(spark, path).map(_._1)).values.map(_.rows).sum)

  // ---- versioned manifest layout ----------------------------------------

  private val ManifestDirName = "_graft_manifest"

  private def hadoopFs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private[sources] def manifestDir(path: String) = new Path(path, ManifestDirName)

  /** Unique data-dir name for every versioned write — two racing writers
    * can never target the same directory; the manifest, not the name,
    * binds a dir into a version. Only [[mintDataDir]] and [[convert]] mint one.
    */
  private def freshDataDirName() =
    s"_d${System.currentTimeMillis()}_${System.nanoTime() % 1000000}"

  /** A fresh data-dir name for the running [[commitLoop]] attempt,
    * recorded for its orphan cleanup before anything is written there.
    */
  private[sources] def mintDataDir(): String = {
    val dataDir = freshDataDirName()
    attemptDirs.value.foreach(_ += dataDir)
    dataDir
  }

  /** Committed versions at `path`, ascending; empty for plain layouts. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val md = manifestDir(path)
    val fs = hadoopFs(spark, md)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
  }

  /** Latest committed version. Hot path of EVERY read and commit loop:
    * resolves through the `_latest` hint (O(commits since the hint)
    * existence probes, normally 1-2) instead of listing the whole
    * manifest dir; any doubt about the hint falls back to the listing.
    * Commits are always v+1-contiguous at the tail (each publish CASes
    * exactly current+1), so forward probing from a committed floor is
    * exact.
    */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val md = manifestDir(path)
    val fs = hadoopFs(spark, md)
    if (!fs.exists(md)) return None
    readLatestHint(fs, md) match {
      case Some(h) if fs.exists(new Path(md, f"v$h%020d")) =>
        var v = h
        while (fs.exists(new Path(md, f"v${v + 1}%020d"))) v += 1
        Some(v)
      case _ => versions(spark, path).lastOption
    }
  }

  /** The commit primitive every version publish goes through — pluggable
    * so an object-store deployment can swap in a CAS committer (see
    * [[LogCommitter]]). Defaults to [[DefaultCommitter]]: hard-link
    * put-if-absent on local FS, no-replace rename on HDFS.
    */
  @volatile var logCommitter: LogCommitter = DefaultCommitter

  /** Publish `manifest` as `version` through the configured
    * [[LogCommitter]], stamped with the commit wall clock and `txn`.
    * Returns false when another writer committed that version first.
    */
  private def commitVersion(
      spark: SparkSession, path: String, version: Long, manifest: Snapshot,
      txn: Option[(String, Long)] = None): Boolean = {
    val md = manifestDir(path)
    val stamped = manifest.copy(
      version = version, ts = Some(System.currentTimeMillis()), txn = txn)
    val won = logCommitter.commit(hadoopFs(spark, md), new Path(md, f"v$version%020d"),
      stamped.render.getBytes("UTF-8"))
    if (won) {
      writeLatestHint(hadoopFs(spark, md), md, version)
      maybeAutoSymlink(spark, path, stamped)
    }
    won
  }

  /** Delta's `delta.compatibility.symlinkFormatManifest.enabled` parity:
    * with `graft.symlink.autoGenerate = true` every won commit
    * regenerates the symlink export, so Presto/Trino/Athena keep reading
    * the head without a manual GENERATE after each write. Best-effort,
    * like the `_latest` hint: the commit is already PUBLISHED when this
    * runs, so ineligible snapshots (live DVs, unmaterialized column
    * mappings — the manual verb's refusal conditions) and races are
    * SKIPPED, never failed; the next eligible commit catches the export
    * up, and the manual verb stays available for a synchronous refresh.
    */
  private def maybeAutoSymlink(spark: SparkSession, path: String, committed: Snapshot): Unit =
    if (committed.dv.isEmpty && !committed.mapped) {
      try {
        if (TableProperties.get(spark, path, "graft.symlink.autoGenerate")
              .exists(_.equalsIgnoreCase("true")))
          generateSymlinkManifest(spark, path)
      } catch { case scala.util.control.NonFatal(_) => () } // advisory export
    }

  /** `_latest` version HINT (Delta's `_last_checkpoint` shape): snapshot
    * resolution on an object store otherwise pays a paginated LIST of the
    * whole manifest dir — O(versions) metadata calls per read, ~100
    * round-trips at 100k commits. The hint is best-effort and advisory:
    * written with a plain overwrite AFTER a won commit, so it can be
    * stale (crash between commit and hint, or a slow writer overwriting
    * with an older value) or torn — [[currentVersion]] therefore treats
    * it as a LOWER BOUND and probes forward with existence checks,
    * falling back to the full listing whenever the hinted manifest
    * doesn't exist (corrupt hint, or vacuumed-away version). Correctness
    * never depends on the hint: commits still CAS on the real manifest
    * file.
    */
  private val LatestHintName = "_latest"

  private def writeLatestHint(
      fs: org.apache.hadoop.fs.FileSystem, md: Path, version: Long): Unit =
    try {
      val out = fs.create(new Path(md, LatestHintName), true)
      try out.write(version.toString.getBytes("UTF-8"))
      finally out.close()
    } catch { case _: Throwable => () } // advisory — losing it costs a LIST

  private def readLatestHint(
      fs: org.apache.hadoop.fs.FileSystem, md: Path): Option[Long] =
    try {
      val p = new Path(md, LatestHintName)
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt
        if (len <= 0 || len > 32) None
        else {
          val buf = new Array[Byte](len)
          val in = fs.open(p)
          try in.readFully(0, buf)
          finally in.close()
          val s = new String(buf, "UTF-8").trim
          if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
        }
      }
    } catch { case _: Throwable => None }

  // ---- the commit protocol -----------------------------------------------

  /** Lost version races a verb absorbs before [[commitLoop]] gives up. */
  private val MaxCommitAttempts = 10

  /** What one attempt of a versioned verb decided against the head. */
  private[sources] sealed trait Attempt

  /** Nothing to commit: the verb returns `version` (the head it read). */
  private[sources] final case class NoOp(version: Long) extends Attempt

  /** A manifest to publish at head + 1 (its version, commit time and txn
    * are stamped by [[commitVersion]]), what to run once it won (CDF
    * capture, handed the committed version), and what to do when it lost
    * to a commit that moved the head ([[OnMove]]). A partial commit
    * carries the head's DVs and column mapping by copying the head
    * (`head.copy(entries = …)`); a full image starts from a fresh
    * [[Snapshot]], which materializes both.
    */
  private[sources] final case class Commit(
      manifest: Snapshot,
      onWin: Long => Unit = _ => (),
      onMove: OnMove = Recompute) extends Attempt

  /** The discipline of a staged [[Commit]] whose CAS was lost to a
    * commit that moved the head — see [[commitLoop]].
    */
  private[sources] sealed trait OnMove
  /** The image was derived from the head: recompute it. */
  private[sources] case object Recompute extends OnMove
  /** The image was supplied by the caller: publish it unchanged. */
  private[sources] case object Replay extends OnMove
  /** Try `onto(newHead)` — a manifest-only re-expression of the staged
    * data on top of the winner — and recompute when it returns None.
    */
  private final case class Rebase(onto: Snapshot => Option[Snapshot]) extends OnMove

  /** The dirs the running [[commitLoop]] attempt has staged: [[mintDataDir]]
    * and [[stageDv]] record every name they mint here, before writing it.
    */
  private val attemptDirs =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Buffer[String]]](None)

  /** THE commit protocol: every versioned verb publishes through this one
    * optimistic loop (Delta's OptimisticTransaction, re-expressed over the
    * manifest CAS). Each attempt:
    *
    *   1. txn re-delivery: when `txn` is at or below the app's committed
    *      watermark (a racer committed this very batch), returns -1 —
    *      nothing committed;
    *   2. reads the head `v` (0 when the table does not exist yet; a verb
    *      that needs one passes `missing`, the tail of its error);
    *   3. takes the staged commit while the head has not moved since it
    *      was built, else applies its [[OnMove]] discipline, else calls
    *      `attempt(head)` with the head's [[Snapshot]], parsed once, for a
    *      fresh one — which stages its data through [[stage]] and returns
    *      a [[Commit]], or a [[NoOp]] the loop returns as is;
    *   4. CASes the manifest at exactly v + 1 ([[commitVersion]]); a win
    *      runs the commit's `onWin` and returns v + 1.
    *
    * Two disciplines, chosen by where the image comes from:
    *
    *   - a CALLER-SUPPLIED image ([[atomicReplace]], [[createVersioned]],
    *     [[restore]]) is `Replay`: the staged data is re-published at
    *     whatever the next number is. Last-writer-wins is their documented
    *     contract, and race recovery costs one manifest write;
    *   - an image DERIVED from the head (every other verb) is `Recompute`:
    *     once the head moved, the stale dirs are deleted and the image is
    *     recomputed against the new head. Re-publishing it would erase the
    *     winner's commit — the classic lakehouse lost update (Delta's
    *     ConflictChecker never replays a stale rewrite either).
    *     [[mergeVersioned]] first tries a `Rebase` onto the winner, which
    *     succeeds when the two commits are disjoint ([[rebaseOnto]]).
    *
    * Orphan cleanup lives here: whatever an attempt staged is deleted when
    * a recompute replaces it, and on every exit known to commit nothing —
    * a txn re-delivery, a give-up after [[MaxCommitAttempts]] lost races
    * (an IOException naming the verb), or an attempt or `Rebase` that
    * throws (a failed CHECK constraint, a refused empty image). A CAS
    * that throws may still have published (a committer timing out after
    * its write landed), so its dirs stay on disk for [[vacuum]]. Returns
    * the committed version, the NoOp's version, or -1 for a txn
    * re-delivery.
    */
  private[sources] def commitLoop(
      spark: SparkSession, path: String, verb: String,
      txn: Option[(String, Long)] = None, missing: Option[String] = Some(""))(
      attempt: Snapshot => Attempt): Long = {
    requireTxnAppId(txn)
    val staged = scala.collection.mutable.Buffer.empty[String] // dirs of `built`
    var built: Commit = null  // the attempt whose dirs are on disk
    var pending: Snapshot = null // what it publishes as at base + 1
    var base = -1L
    var published = false // a CAS ran and did not report a loss
    def drop(): Unit = {
      staged.foreach { d =>
        val p = new Path(path, d)
        hadoopFs(spark, p).delete(p, true)
      }
      staged.clear()
      built = null
    }
    try {
      var attempts = 0
      while (attempts < MaxCommitAttempts) {
        attempts += 1
        if (txnAlreadyApplied(spark, path, txn)) return -1L
        val v = currentVersion(spark, path).getOrElse(missing.fold(0L)(why =>
          throw new IllegalStateException(s"$verb: no versioned table at $path$why")))
        lazy val head = if (v == 0) Snapshot(Nil) else snapshot(spark, path, v)
        val carried = Option(built).flatMap { c =>
          if (v == base) Some(pending)
          else c.onMove match {
            case Replay => Some(pending)
            case Rebase(onto) => onto(head)
            case Recompute => None
          }
        }
        carried match {
          case Some(m) => pending = m
          case None =>
            drop()
            attemptDirs.withValue(Some(staged))(attempt(head)) match {
              case NoOp(current) => return current
              case c: Commit => built = c; pending = c.manifest
            }
        }
        base = v
        published = true
        if (commitVersion(spark, path, v + 1, pending, txn)) {
          built.onWin(v + 1)
          return v + 1
        }
        published = false
      }
      throw new java.io.IOException(
        s"$verb: lost the version race at $path $MaxCommitAttempts times; giving up")
    } finally if (!published) drop()
  }

  /** Stage one commit's data: `df` lands in a fresh `_d*` dir with its
    * stats sidecar, then the table's CHECK constraints run against what
    * landed ([[validateCommit]]). Returns the dir name for the manifest.
    * `physicalUnder` marks a partial commit written under that head's
    * column mapping; `keepLayout` — see [[writePlain]].
    */
  private def stage(
      spark: SparkSession, path: String, df: DataFrame,
      partitionColumns: Seq[String] = Nil, filesPerPartition: Int = 1,
      writeOptions: Map[String, String] = Map.empty,
      keepLayout: Boolean = false, physicalUnder: Option[Snapshot] = None): String = {
    val dataDir = mintDataDir()
    val dir = new Path(path, dataDir).toString
    writePlain(df, dir, partitionColumns, filesPerPartition, writeOptions, keepLayout)
    DataSkipping.writeStats(spark, dir, df.schema)
    validateCommit(spark, path, dir, physicalUnder)
    dataDir
  }

  /** [[stage]] a whole unpartitioned table image, identity, default and
    * generated columns filled first — the image of a full-rewrite commit.
    */
  private def stageImage(
      spark: SparkSession, path: String, df: DataFrame,
      partitionColumns: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): String =
    stage(spark, path, fillColumns(spark, path, IdentityColumns.fill(spark, path, df)),
      partitionColumns, writeOptions = writeOptions)

  /** Stage a deletion vector: the row addresses ([[DvFileCol]],
    * [[DvIdxCol]]) of `rows` land in a fresh DV dir. Returns its
    * table-relative name.
    */
  private def stageDv(spark: SparkSession, path: String, rows: DataFrame): String = {
    val name = s"$DvDirName/dv${System.currentTimeMillis()}_${System.nanoTime() % 1000000}"
    attemptDirs.value.foreach(_ += name)
    sizedForWrite(rows.select(col(DvFileCol), col(DvIdxCol)))
      .write.mode(SaveMode.Overwrite).parquet(new Path(path, name).toString)
    name
  }

  /** [[stageDv]] when `rows` is non-empty, None (and nothing staged)
    * otherwise. ONE job computes the matches: the DV is written, then
    * what landed is probed — an isEmpty pre-check would run the match
    * twice.
    */
  private def stageDvIfAny(spark: SparkSession, path: String, rows: DataFrame): Option[String] = {
    val name = stageDv(spark, path, rows)
    val dir = new Path(path, name)
    if (!spark.read.parquet(dir.toString).isEmpty) Some(name)
    else { hadoopFs(spark, dir).delete(dir, true); None }
  }

  // ---- the manifest: one parsed snapshot per version --------------------

  /** One committed version's manifest, parsed — the single statement of
    * the manifest format. `_graft_manifest/v<version, 20 digits>` is UTF-8
    * text: `#` header lines, then body lines, joined by `\n` with no
    * trailing newline.
    *
    * Body: one line per entry. An unpartitioned version's line is a data
    * dir — one for a full-image commit; after merge-on-read commits the
    * base image first, then one dir per merge ([[mergeVectors]],
    * [[insertInto]]). A partitioned version's line is
    * `partitionDir<TAB>dataDir` (e.g. `date=2024-01-01<TAB>_d1712000000000_123`),
    * written sorted: each merge writes the changed partitions into one
    * fresh dir and re-points only those entries, so untouched partitions
    * are never rewritten and old manifests keep seeing their old dirs
    * (snapshot isolation + time travel); a partition may span several
    * dirs after append-entry INSERTs. Data dirs are table-relative names
    * (`_d…`, legacy `_v…`) or absolute paths (shallow clones). A tab is
    * the one separator names may not hold: a body with a tab is
    * partitioned. Parsed, every line is an entry `(partitionDir,
    * dataDir)`, with `partitionDir = ""` when unpartitioned.
    *
    * Headers, in any order (the renderer writes them in this one), each
    * read from its first occurrence; unknown headers are ignored:
    *   - `#ts=<epoch millis>` — the commit wall clock, what TIMESTAMP AS OF
    *     resolves against; committed state inside the atomic publish, so
    *     unlike a file mtime it survives copies of the table directory;
    *   - `#txn=<appId>:<txnVersion>` — an application transaction marker
    *     committed with the data (Delta's txnAppId/txnVersion, see
    *     [[lastTxnVersion]]);
    *   - `#dv=<dir><TAB><dir>…` — the deletion-vector dirs the version reads
    *     through ([[deleteVectors]]); table-relative or absolute (clones);
    *   - `#colmap=<physical>><logical><TAB>…` — the logical column view
    *     over unchanged physical files ([[renameColumn]]); an entry with an
    *     empty logical side (`physical>`) is a drop;
    *   - `#props=<key>=<value><TAB>…` — key/value properties committed with
    *     the version, written sorted by key: an index version's pinned
    *     parameters ([[IndexStore]]). A key holds no `=`; neither side holds
    *     a tab, CR or LF (the renderer refuses them). Numbers are written
    *     in their Java `toString` form, which parses back bit-identical.
    * The last four are written only when non-empty. A manifest from
    * before headers existed is a body alone: no commit time, txn, DVs,
    * mapping or properties.
    *
    * An index version ([[IndexStore]]) uses the partitioned body shape
    * with the artifact name in the partition slot: `postings<TAB>_d…`.
    */
  private[sources] final case class Snapshot(
      entries: Seq[(String, String)],
      dv: Seq[String] = Nil,
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Nil,
      version: Long = 0L,
      ts: Option[Long] = None,
      txn: Option[(String, Long)] = None,
      props: Map[String, String] = Map.empty) {

    def partitioned: Boolean = entries.exists(_._1.nonEmpty)

    /** Partition columns in directory order ("a=1/b=2" → a, b); Nil when
      * unpartitioned.
      */
    def partitionColumns: Seq[String] =
      if (!partitioned) Nil else entries.head._1.split('/').toSeq.map(_.split('=')(0))

    /** The data dirs the version reads, in [[byDataDir]] order. */
    def dataDirs: Seq[String] = byDataDir(entries).map(_._1)

    def mapped: Boolean = renames.nonEmpty || drops.nonEmpty

    /** The `#colmap=` value; empty when unmapped. */
    def colmapValue: String =
      (renames.toSeq.sorted.map { case (p, l) => s"$p>$l" } ++
        drops.sorted.map(_ + ">")).mkString("\t")

    /** The manifest text — what [[commitVersion]] publishes. */
    def render: String = {
      props.foreach { case (k, v) =>
        require(k.nonEmpty && !k.contains('=') && !(k + v).exists("\t\r\n".contains(_)),
          s"manifest property '$k' -> '$v': keys must be non-empty without '=', " +
            "and neither side may hold a tab, CR or LF")
      }
      val headers = ts.map(t => s"#ts=$t") ++ txn.map { case (app, tv) => s"#txn=$app:$tv" } ++
        Option.when(dv.nonEmpty)(dv.mkString("#dv=", "\t", "")) ++
        Option.when(mapped)(s"#colmap=$colmapValue") ++
        Option.when(props.nonEmpty)(
          props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("#props=", "\t", ""))
      val body = (if (partitioned) entries.sorted else entries).map {
        case ("", dataDir) => dataDir
        case (partitionDir, dataDir) => s"$partitionDir\t$dataDir"
      }
      (headers ++ body).mkString("\n")
    }
  }

  private[sources] object Snapshot {
    def parse(version: Long, text: String): Snapshot = {
      val (headers, body) = text.linesIterator.toSeq.partition(_.startsWith("#"))
      def header(prefix: String): Option[String] =
        headers.find(_.startsWith(prefix)).map(_.drop(prefix.length))
      def fields(value: String): Seq[String] =
        value.split('\t').toSeq.map(_.trim).filter(_.nonEmpty)
      val (dropped, renamed) = header("#colmap=").toSeq.flatMap(fields).partition(_.endsWith(">"))
      Snapshot(
        entries = body.map(_.trim).filter(_.nonEmpty).map(line => line.split('\t') match {
          case Array(partitionDir, dataDir) => (partitionDir, dataDir)
          case _ => ("", line)
        }),
        dv = header("#dv=").toSeq.flatMap(fields),
        renames = renamed.map { e => val (p, l) = e.span(_ != '>'); p -> l.drop(1) }.toMap,
        drops = dropped.map(_.dropRight(1)),
        version = version,
        ts = header("#ts=").flatMap(_.trim.toLongOption),
        txn = header("#txn=").flatMap(_.split(':') match {
          case Array(app, tv) => tv.trim.toLongOption.map(app -> _)
          case _ => None
        }),
        props = header("#props=").toSeq.flatMap(_.split('\t')).filter(_.contains('='))
          .map { kv => val (k, v) = kv.span(_ != '='); k -> v.drop(1) }.toMap)
    }
  }

  /** Version `version`'s manifest, read and parsed. */
  private[sources] def snapshot(spark: SparkSession, path: String, version: Long): Snapshot = {
    val f = new Path(manifestDir(path), f"v$version%020d")
    val fs = hadoopFs(spark, f)
    val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
    val in = fs.open(f)
    try in.readFully(0, buf)
    finally in.close()
    Snapshot.parse(version, new String(buf, "UTF-8"))
  }

  /** CHECK-constraint gate between a commit's parquet write and its
    * manifest publish (see [[Constraints.validateWritten]]): a violation
    * fails the commit before anything is published, and [[commitLoop]]
    * deletes the written dir, so readers never see it. No-op when the
    * table has no constraints.
    *
    * `physicalUnder = Some(head)` marks a PARTIAL commit written under
    * the head's active column mapping (files carry physical names, map
    * carried forward): constraint expressions bind against LOGICAL names
    * — a constraint added after a rename names the renamed column — so
    * the written files validate through the head's logical view. Full
    * rewrites keep the default (they write logical names and clear the
    * map; applying the view to an already-logical frame would misfire
    * under vacated-name reuse).
    */
  private def validateCommit(
      spark: SparkSession, path: String, dir: String,
      physicalUnder: Option[Snapshot]): Unit =
    physicalUnder.filter(_.mapped) match {
      case None => Constraints.validateWritten(spark, path, dir)
      case Some(head) =>
        if (Constraints.list(spark, path).nonEmpty)
          Constraints.validateFrame(spark, path, applyColmap(head, spark.read.parquet(dir)))
    }

  /** Commit wall-clock of `version` (epoch millis) — committed state
    * inside the atomically-published manifest, not filesystem mtime. None
    * for manifests written before the header existed.
    */
  def commitTimestamp(spark: SparkSession, path: String, version: Long): Option[Long] =
    snapshot(spark, path, version).ts

  /** The `txnVersion` most recently committed for `appId` (Delta's
    * `txn.lastWriteVersion` — the idempotent-write watermark): scans
    * manifests newest-first and returns the first txn marker for the
    * app, so with monotone txn versions per app (the streaming-batch-id
    * contract) this is the highest committed one. Cost is one small
    * manifest read per version until a hit — bounded by `vacuum`
    * retention, and in steady streaming the hit is within the last few
    * commits. None when the app never committed (or its commits were
    * vacuumed: retain at least one committed-txn version per app, or
    * re-deliveries older than retention will re-apply — Delta's
    * documented vacuum/txn interaction).
    */
  def lastTxnVersion(spark: SparkSession, path: String, appId: String): Option[Long] =
    versions(spark, path).reverseIterator.map(snapshot(spark, path, _).txn)
      .collectFirst { case Some((`appId`, tv)) => tv }

  private def requireTxnAppId(txn: Option[(String, Long)]): Unit =
    txn.foreach { case (app, _) =>
      require(app.matches("[A-Za-z0-9_.\\-]+"),
        s"txn appId must be [A-Za-z0-9_.-]+, got '$app'")
    }

  /** True when `txn` names a batch at or below the app's committed
    * watermark — the write is a re-delivery and must be skipped.
    */
  private def txnAlreadyApplied(
      spark: SparkSession, path: String, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, tv) =>
      lastTxnVersion(spark, path, app).exists(_ >= tv)
    }

  /** Partition entries of `version`: Some(partitionDir → dataDir) for
    * partitioned manifests, None for unpartitioned ones.
    */
  def partitionEntries(
      spark: SparkSession, path: String, version: Long): Option[Seq[(String, String)]] =
    Some(snapshot(spark, path, version)).filter(_.partitioned).map(_.entries)

  /** Partition columns of the current version, in directory order; Nil
    * for an unpartitioned or missing table.
    */
  def partitionColumns(spark: SparkSession, path: String): Seq[String] =
    currentVersion(spark, path).map(snapshot(spark, path, _).partitionColumns).getOrElse(Nil)

  /** Entries grouped by data dir: (dataDir, the partition dirs it serves
    * — `Seq("")` for an unpartitioned dir). Partitioned entries come in
    * data-dir order (a partition may span several dirs after append-entry
    * INSERTs, so every slice reader goes through here); unpartitioned ones
    * keep manifest order, the base image of a merge-on-read chain first.
    */
  private def byDataDir(entries: Seq[(String, String)]): Seq[(String, Seq[String])] =
    if (entries.forall(_._1.isEmpty)) entries.map(_._2).distinct.map(_ -> Seq(""))
    else entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (dd, es) => dd -> es.map(_._1) }

  /** Whether data-dir-relative file `rel` lies in one of `parts` (every
    * file of an unpartitioned dir does).
    */
  private def inSlice(rel: String, parts: Seq[String]): Boolean =
    parts.exists(p => p.isEmpty || rel.startsWith(p + "/"))

  /** The directory an entry names: the partition subdir of its data dir. */
  private def entryDir(path: String, entry: (String, String)): Path = entry match {
    case ("", dataDir) => new Path(path, dataDir)
    case (partitionDir, dataDir) => new Path(new Path(path, dataDir), partitionDir)
  }

  /** One plain scan leg per data dir of a slice: an unpartitioned dir
    * whole, a partitioned one rooted at exactly the entries' partition
    * subdirs (basePath recovers the partition columns).
    */
  private def sliceLegs(
      spark: SparkSession, path: String, entries: Seq[(String, String)]): Seq[DataFrame] =
    byDataDir(entries).map { case (dataDir, parts) =>
      val base = new Path(path, dataDir).toString
      if (parts == Seq("")) spark.read.parquet(base)
      else spark.read.option("basePath", base).parquet(parts.map(p => s"$base/$p"): _*)
    }

  /** The affected-slice reader: the live rows of `head`'s `entries`.
    * Each leg is DV-filtered on its scan relation, aligned to the
    * version's schema (dirs from before a schema evolution read appended
    * columns as typed NULLs) and — when `logical` — put under the
    * version's column mapping, so a verb computes in logical space and
    * writes back through [[toPhysical]].
    */
  private def readSlice(
      spark: SparkSession, path: String, head: Snapshot, entries: Seq[(String, String)],
      logical: Boolean = true): DataFrame = {
    val schema = versionSchema(spark, path, head)
    val dv = dvOf(spark, path, head)
    sliceLegs(spark, path, entries).map { leg =>
      val df = dvFilterLeg(leg, dv)
      val aligned = schema.map(alignTo(df, _)).getOrElse(df)
      if (logical) applyColmap(head, aligned) else aligned
    }.reduce(_.unionByName(_))
  }

  /** The row-address reader: the live rows of `head` — or of its
    * partitioned `entries` slice — with their row addresses
    * ([[DvFileCol]], [[DvIdxCol]]) attached and rows a prior DV retired
    * excluded, so a new DV holds only live matches. Legs stay physical
    * through the DV join (row addresses are name-agnostic); the logical
    * view goes on after it, so predicates and keys resolve under a
    * column mapping.
    */
  private def addressedRows(
      spark: SparkSession, path: String, head: Snapshot,
      entries: Option[Seq[(String, String)]] = None): DataFrame = {
    val dv = dvOf(spark, path, head)
    entries.fold(versionLegs(spark, path, head))(sliceLegs(spark, path, _))
      .map(leg => applyColmap(head, liveAddressed(leg, dv)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** What a commit staged in `dataDir`, read back — only the `parts`
    * partition dirs of a partitioned commit — under `head`'s logical
    * view: the post-image of a CDF capture, never a re-run of the plan
    * that produced it.
    */
  private def stagedRows(
      spark: SparkSession, path: String, head: Snapshot, dataDir: String,
      parts: Seq[String] = Nil): DataFrame =
    applyColmap(head,
      if (parts.isEmpty) spark.read.parquet(new Path(path, dataDir).toString)
      else sliceLegs(spark, path, parts.map(_ -> dataDir)).head)

  /** The widest (superset) schema among `schemas` — well-defined under
    * append-only evolution, where every dir's schema is a prefix-superset
    * or -subset of every other's. Incomparable drift keeps the first
    * (the pre-evolution arbitrary-but-stable choice).
    *
    * A field ABSENT from any dir must come out NULLABLE regardless of how
    * the dirs that carry it declared it: those dirs' files physically
    * lack the column, and the vectorized parquet reader REFUSES a file
    * missing a required (non-nullable) column (`Required column is
    * missing in data file`) — the evolution semantics are "missing reads
    * as NULL", which only an optional field can deliver.
    */
  private def supersetSchema(schemas: Seq[StructType]): Option[StructType] =
    schemas.reduceOption { (a, b) =>
      val wide =
        if (b.fieldNames.forall(n => a.fieldNames.exists(_.equalsIgnoreCase(n)))) a
        else if (a.fieldNames.forall(n => b.fieldNames.exists(_.equalsIgnoreCase(n)))) b
        else a
      val narrow = if (wide eq a) b else a
      StructType(wide.fields.map { f =>
        if (narrow.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          f.copy(nullable = f.nullable ||
            narrow.fields.find(_.name.equalsIgnoreCase(f.name)).exists(_.nullable))
        else f.copy(nullable = true)
      })
    }

  /** The table schema `head` publishes, from sidecars ALONE — one
    * small JSON read per referenced data dir, no file listing, no data
    * I/O (partitioned versions take the superset across dirs: after a
    * schema-evolving merge, untouched partitions keep their old dirs).
    * None when no referenced dir carries a schema (pre-sidecar commits).
    * Partition columns are included (commit-time schemas carry them).
    */
  private def versionSchema(
      spark: SparkSession, path: String, head: Snapshot): Option[StructType] =
    supersetSchema(head.dataDirs.flatMap(dd =>
      DataSkipping.readStats(spark, new Path(path, dd).toString).flatMap(_.schema)))

  /** Align one data dir's frame to the version's table schema: columns
    * the dir predates read as typed NULLs (the parquet-reader
    * schema-evolution semantics Delta relies on), column order follows
    * the table. Extra frame columns beyond the schema are dropped.
    */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val missing = schema.fields.filterNot(f =>
      df.columns.exists(_.equalsIgnoreCase(f.name)))
    missing.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The table as `head` publishes it, deletion vectors applied. When
    * the version carries no DVs this is exactly the single-relation
    * plan [[versionLegs]] builds (FileIndex pruning, metadata-agg
    * folding); with DVs the legs each gain the anti-join of
    * [[dvFilterLeg]] — a join plan, which is also what keeps the
    * metadata-aggregate rule from folding stale sidecar counts.
    */
  private def readVersion(spark: SparkSession, path: String, head: Snapshot): DataFrame = {
    val dv = dvOf(spark, path, head)
    // colmap LAST: DV filtering and union happen on the physical frame.
    // allowMissingColumns = the typed-NULL schema-evolution semantics the
    // partitioned path already gets from its superset sidecar schema —
    // after an ADD COLUMN, a merge-on-read dir can legitimately carry
    // more columns than the base dir it amends.
    val base = applyColmap(head,
      versionLegs(spark, path, head).map(dvFilterLeg(_, dv))
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    extendDefaults(spark, path, head, base)
  }

  /** Append ADD-COLUMN'd columns the physical frame predates (typed
    * NULLs — see [[ColumnDefaults]]); versions outside a rule's
    * [addedAt, droppedAt) window are untouched, and a column whose name
    * was later colmap-DROPPED stays dropped.
    */
  private def extendDefaults(
      spark: SparkSession, path: String, head: Snapshot, df: DataFrame): DataFrame = {
    val rules = ColumnDefaults.list(spark, path)
    if (rules.isEmpty) df
    else ColumnDefaults.extendSchema(rules, head.version, df, head.drops)
  }

  /** The version's scan legs — each a SINGLE file-source relation (so
    * `_metadata` columns resolve on it), pre-DV. One leg in the sidecar-
    * served paths; one per data dir only in the legacy no-sidecar
    * fallback. Callers must apply [[dvFilterLeg]] per leg BEFORE any
    * projection or union.
    */
  private def versionLegs(spark: SparkSession, path: String, head: Snapshot): Seq[DataFrame] =
    if (!head.partitioned) {
      // unpartitioned: the manifest body lists the version's data dirs
      // (one for full-image commits; base + one per merge after
      // merge-on-read commits), each served through a snapshot
      // FileIndex so ANY plan over the table (SQL, joins, aggregates)
      // prunes files from the stats sidecar at planning time — see
      // GraftFileIndex. The sidecar also carries the commit's schema,
      // so the common path never re-infers it from footers
      // (pre-sidecar dirs fall back to inference).
      val dirs = head.dataDirs
      dirs.map { dd =>
        val dir = new Path(path, dd)
        val sidecar = DataSkipping.readStats(spark, dir.toString)
        val schema = sidecar.flatMap(_.schema)
          .getOrElse(spark.read.parquet(dir.toString).schema)
        val index = new GraftFileIndex(spark, dir, sidecar.map(_.files))
        // ANALYZEd tables feed Spark's CBO their real statistics —
        // full column statistics on single-leg snapshots (the common
        // published/compacted state); a merge-on-read chain still
        // gets each leg's EXACT sidecar row count (the union sums
        // them), but no NDV/min-max — a table-wide sketch says
        // nothing about one leg, and the chain folds back to one leg
        // at the MorMaxDataDirs cap anyway. DV'd rows are not
        // subtracted: estimates stay high → conservative broadcasts.
        // See PlanStats for the opt-in chain.
        val cs = if (dirs.size == 1)
          PlanStats.forSnapshot(spark, path, head, index.sizeInBytes,
            index.metadataRowCount, index.metadataNonNullCount,
            index.metadataMinMax,
            schema.fields.map(f => f.name -> f.dataType).toMap)
        else PlanStats.rowCountOnly(spark, path,
          index.sizeInBytes, index.metadataRowCount)
        GraftColumnBridge.ofFileIndex(spark, index, schema, cs)
      }
    } else {
      // partitioned: one inner InMemoryFileIndex per data dir, rooted
      // at EXACTLY the partition subdirs this version references
      // (basePath recovers the partition columns), composed into a
      // GraftPartitionedFileIndex so any plan gets partition-filter
      // pruning AND sidecar file skipping at planning time. Dirs
      // without a schema-bearing sidecar (pre-feature) fall back to
      // the legacy unioned basePath read.
      val groups = byDataDir(head.entries).map { case (dataDir, parts) =>
        val base = new Path(path, dataDir)
        (base, parts, DataSkipping.readStats(spark, base.toString))
      }
      // the version's table schema is the SUPERSET across dirs: after a
      // schema-evolving merge, untouched partitions keep old dirs whose
      // files simply lack the appended columns (the parquet reader
      // fills typed NULLs — Delta's read-time evolution semantics)
      val sidecarSchema = supersetSchema(groups.flatMap(_._3.flatMap(_.schema)))
      sidecarSchema match {
        case Some(schema) =>
          val parts = groups.map { case (base, partDirs, sidecar) =>
            val inner: org.apache.spark.sql.execution.datasources.FileIndex =
              new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
                spark, partDirs.map(p => new Path(base, p)),
                Map("basePath" -> base.toString), None)
            val absStats = sidecar.map(_.files.map { case (rel, st) =>
              new Path(base, rel).toUri.getPath -> st
            }).getOrElse(Map.empty[String, DataSkipping.FileStat])
            (inner, absStats)
          }
          val index = new GraftPartitionedFileIndex(parts)
          val partCols = index.partitionSchema.fieldNames
            .map(_.toLowerCase).toSet
          val dataSchema = org.apache.spark.sql.types.StructType(
            schema.fields.filterNot(f => partCols.contains(f.name.toLowerCase)))
          // the partitioned layout is always ONE relation, so the
          // ANALYZE statistics attach unconditionally when present;
          // partition columns are non-null by construction but their
          // null counts aren't in file stats — omitted, not guessed
          val cs = PlanStats.forSnapshot(spark, path, head,
            index.sizeInBytes, index.metadataRowCount,
            index.metadataNonNullCount, index.metadataMinMax,
            (dataSchema.fields ++ index.partitionSchema.fields)
              .map(f => f.name -> f.dataType).toMap)
          Seq(GraftColumnBridge.ofFileIndex(spark, index, dataSchema, cs))
        case None => sliceLegs(spark, path, head.entries)
      }
    }

  /** Hive-style partition dir for one row of partition values (already
    * rendered as strings) — same escaping as Spark's own partitioned
    * writer, so manifest entries match the dirs `partitionBy` lays down.
    */
  private def partitionDir(cols: Seq[String], values: Seq[String]): String =
    cols.zip(values).map { case (c, v) =>
      require(v != null, s"versioned tables need non-null partition values ($c)")
      s"$c=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"
    }.mkString("/")

  /** Leaf partition dirs (depth = |partitionColumns|) actually present
    * under a freshly-written data dir — the ground truth for which
    * partitions SURVIVED a rewrite. A conditional-clause DELETE can empty
    * a whole partition; the parquet writer then creates no subdir for it,
    * and a manifest entry pointing at the missing subdir wedges the
    * partition (PATH_NOT_FOUND on every later read/merge). Metadata-only:
    * one listStatus per level, no data read.
    */
  private def writtenPartitionDirs(
      spark: SparkSession, path: String, dataDir: String,
      partitionColumns: Seq[String]): Seq[String] = {
    val dd = new Path(path, dataDir)
    val fs = hadoopFs(spark, dd)
    def leaves(dir: Path, depth: Int): Seq[String] =
      if (depth == 0)
        Seq(dir.toUri.getPath.stripPrefix(dd.toUri.getPath).stripPrefix("/"))
      else if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isDirectory)
        .filter(_.getPath.getName.contains('='))
        .flatMap(st => leaves(st.getPath, depth - 1)).toSeq
    leaves(dd, partitionColumns.length).sorted
  }

  /** Distinct partition dirs present in `df`, rendered exactly as the
    * parquet writer will name them. Bounded collect: one row per partition
    * in the WRITE SET (not the table).
    */
  private def partitionDirsOf(df: DataFrame, partitionColumns: Seq[String]): Seq[String] =
    df.select(partitionColumns.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partitionDir(partitionColumns, partitionColumns.indices.map(r.getString)))
      .toSeq.sorted

  /** Create (or fully replace) a PARTITIONED versioned table: the image
    * lands in one fresh data dir; the manifest maps every partition to it.
    * A caller-supplied image — see [[commitLoop]] for the race contract.
    */
  def createVersioned(
      df: DataFrame, path: String, partitionColumns: Seq[String],
      filesPerPartition: Int = 1, txn: Option[(String, Long)] = None,
      writeOptions: Map[String, String] = Map.empty): Unit = {
    require(partitionColumns.nonEmpty,
      "createVersioned is for partitioned tables; use create for unpartitioned")
    val spark = df.sparkSession
    val image = fillColumns(spark, path, df)
    commitLoop(spark, path, "createVersioned", txn, missing = None) { _ =>
      val dataDir = stage(spark, path, image, partitionColumns, filesPerPartition,
        writeOptions)
      Commit(Snapshot(partitionDirsOf(image, partitionColumns).map(_ -> dataDir)),
        onMove = Replay)
    }
    ()
  }

  /** The [[Rebase]] of a partitioned merge that lost the version CAS:
    * land its already-written data dir on top of the winner `head`
    * WITHOUT recomputing — the manifest-entry re-expression of Delta's
    * ConflictChecker (`OptimisticTransaction.checkForConflicts`, which
    * rebases a lost commit onto winning transactions when their
    * read/write sets are disjoint). The merge computed against `base`
    * rebases iff every commit since is DISJOINT from it:
    *
    *   - none re-pointed, consolidated, or appended an entry of any
    *     `affected` partition (Delta: `ConcurrentAppendException` /
    *     `ConcurrentWriteException` — the winner changed files this merge
    *     read or replaces);
    *   - none changed the column mapping (the dir was written under the
    *     base map's physical names);
    *   - none removed a DV this merge's rewrite folded in (a concurrent
    *     restore/OPTIMIZE materialized state out from under it);
    *   - none added a DV targeting an affected partition's data dirs
    *     (Delta: `ConcurrentDeleteReadException` — the winner deleted
    *     rows inside the slice this merge read; rebasing would resurrect
    *     them).
    *
    * On disjointness the commit re-publishes against the WINNER's
    * manifest: untouched entries come from the winner, the `mapped`
    * partitions point at `dataDir` (beside their old entries when
    * `appendBesideOld` — the merge-on-read tier), and `newDv` rides the
    * winner's DV header — a manifest-only retry with zero data I/O, which
    * is what makes concurrent ETL into different date partitions of a
    * 100 TB table scale. `affected` is the full set the merge read (for
    * conflict detection); `mapped` can be smaller when a conditional
    * DELETE emptied a partition (no subdir exists for it). A winner that
    * only EVOLVED the schema elsewhere is not a conflict: reads align
    * every dir to the version's superset sidecar schema.
    */
  private def rebaseOnto(
      spark: SparkSession, path: String, base: Snapshot, head: Snapshot,
      affected: Seq[String], mapped: Seq[String], dataDir: String,
      appendBesideOld: Boolean, newDv: Option[String]): Option[Snapshot] = {
    val affectedSet = affected.toSet
    def affectedOf(s: Snapshot) = s.entries.filter(e => affectedSet(e._1)).sorted
    val addedDvs = head.dv.filterNot(base.dv.contains)
    // DV file keys are `dataDir/partitionDir/file` (see [[dvFileKey]]), so
    // the overlap check runs at (dataDir, partition) granularity — a
    // winner's DV inside a SHARED data dir (the create dir holds every
    // partition) conflicts only when it targets one of THIS merge's
    // partitions. One distinct-key scan of the added DVs (small by
    // construction: 16 B/deleted row, distinct keys = files touched).
    def dvTouchesSlice = {
      val prefixes = affectedOf(base).map { case (p, dd) => s"$dd/$p/" }
      dvFrame(spark, path, addedDvs).select(col(DvFileCol)).distinct().collect()
        .exists(r => prefixes.exists(r.getString(0).startsWith))
    }
    val disjoint = head.partitioned && affectedOf(head) == affectedOf(base) &&
      (head.renames, head.drops) == (base.renames, base.drops) &&
      base.dv.forall(head.dv.contains) && (addedDvs.isEmpty || !dvTouchesSlice)
    val rebased =
      (if (appendBesideOld) head.entries else head.entries.filterNot(e => affectedSet(e._1))) ++
        mapped.map(_ -> dataDir)
    if (!disjoint || rebased.isEmpty) None
    else Some(head.copy(entries = rebased, dv = head.dv ++ newDv))
  }

  /** Upsert into a partitioned VERSIONED table: reads only the affected
    * partitions (through the current manifest), writes the merged rows of
    * those partitions into one fresh data dir, and publishes a manifest
    * that re-points just those entries. Untouched partitions: zero I/O.
    *
    * Concurrency: a derived image with a [[Rebase]] ([[commitLoop]]).
    * Concurrent merges into DISJOINT partitions both land, the loser by
    * a manifest-only rebase onto the winner ([[rebaseOnto]]).
    * Overlapping commits (same partition touched, or a concurrent DV
    * delete inside an affected partition) make the loser RECOMPUTE from
    * the winner's snapshot, so same-partition races serialize
    * last-writer-wins per pk, concurrent row-deletes are never
    * resurrected, and both writers land (no `ConcurrentAppendException`
    * surfaced to the caller).
    */
  def mergeVersioned(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      pk: Seq[String],
      partitionColumns: Seq[String],
      filesPerPartition: Int = 1,
      cdf: Boolean = false,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      mergeOnRead: Option[Boolean] = None,
      combine: Option[(DataFrame, DataFrame) => DataFrame] = None): Unit = {
    require(partitionColumns.nonEmpty, "mergeVersioned needs partition columns")
    require(!(cdf && evolveSchema),
      "mergeVersioned: cdf capture and schema evolution cannot share a commit")
    require(!(combine.isDefined && (cdf || evolveSchema)),
      "mergeVersioned: conditional clauses (combine) compose with neither " +
        "cdf capture nor schema evolution")
    require(!(combine.isDefined && mergeOnRead.contains(true)),
      "mergeVersioned: conditional clauses (combine) take the rewrite tier")
    TableProperties.requireNotAppendOnly(spark, path, "mergeVersioned")
    val upd = dedupByKey(fillColumns(spark, path, updates), pk)
    if (currentVersion(spark, path).isEmpty) {
      require(combine.isEmpty,
        s"mergeVersioned: conditional clauses need an existing target at $path")
      createVersioned(upd, path, partitionColumns, filesPerPartition, txn)
      return
    }
    // stats-informed planning — lazy: the probe runs only when a branch
    // below consults it (ANALYZEd tables only; see [[planMergeStats]])
    lazy val statsPlan = planMergeStats(spark, path, updates, pk)
    lazy val affected = partitionDirsOf(upd, partitionColumns)
    commitLoop(spark, path, "mergeVersioned", txn) { head =>
      if (!head.partitioned) throw new IllegalStateException(
        s"mergeVersioned: $path holds an UNPARTITIONED versioned table")
      val entries = head.entries
      val affectedSet = affected.toSet
      val affectedEntries = entries.filter(e => affectedSet(e._1))
      // the affected slice in LOGICAL space; the merge computes there and
      // the write translates back (toPhysical), so every committed file
      // stays physical-named and the map carries forward — Delta's
      // mutate-under-mapping model. Deletion vectors apply per leg, so a
      // merge never resurrects vector-deleted rows; the DV header is
      // carried into the commit, keeping deletes on UNTOUCHED partitions
      val target =
        if (affectedEntries.isEmpty) None
        else Some(readSlice(spark, path, head, affectedEntries))
      // merge-on-read tier for HOT partitions (the partitioned twin of
      // [[mergeVectors]]): matched rows in the affected slice retire by
      // deletion vector, the update set appends as ONE new dir with
      // entries beside the old ones — O(update rows) instead of rewriting
      // the whole affected partition. Auto-tiered like the unpartitioned
      // path: affected-slice rows (from sidecars, metadata-only) above
      // [[MorAutoRowsFloor]] AND every affected partition still under the
      // [[MorMaxDataDirs]] dir cap (at the cap the rewrite runs and
      // consolidates). Schema evolution always rewrites.
      val useMor = combine.isEmpty && !evolveSchema && target.isDefined &&
        mergeOnRead.getOrElse {
          val rows = sliceRows(spark, path, affectedEntries)
          val maxDirs = affectedEntries.groupBy(_._1).values
            .map(_.size).maxOption.getOrElse(0)
          rows.exists(_ > MorAutoRowsFloor) && maxDirs < MorMaxDataDirs &&
            !statsPlan.bulkUpdate // bulk updates rewrite (ANALYZEd tables)
        }
      if (useMor) {
        val t = target.get
        val cols = t.columns.toSeq
        val updAligned = upd.select(cols.map(col): _*)
        val updKeys = hintKeys(
          updAligned.select(pk.map(col): _*).distinct(), statsPlan.broadcastKeys)
        val dataDir = stage(spark, path, toPhysical(spark, path, head, updAligned),
          partitionColumns, filesPerPartition, physicalUnder = Some(head))
        // (file, row_index) of affected-slice rows whose pk is replaced
        val dvName = stageDvIfAny(spark, path,
          addressedRows(spark, path, head, Some(affectedEntries)).join(updKeys, pk, "left_semi"))
        Commit(head.copy(entries = entries ++ affected.map(_ -> dataDir), dv = head.dv ++ dvName),
          // committed appended dir = the post-images; pre side = the
          // affected slice's replaced keys (re-selected: the semi join
          // hoists pk columns) — valid under rebase too: disjointness
          // proved no winner touched the slice
          onWin = committedV => if (cdf) writeChangeManifest(spark, path, committedV,
            changeRowsBetween(
              t.join(updKeys, pk, "left_semi").select(cols.map(col): _*),
              stagedRows(spark, path, head, dataDir, affected).select(cols.map(col): _*),
              pk, "right_outer")),
          // entries unchanged means the DV's (file, row_index) targets
          // are still the live base files
          onMove = Rebase(rebaseOnto(spark, path, head, _, affected, affected, dataDir,
            appendBesideOld = true, dvName)))
      } else {
        // the version's LOGICAL table schema, from sidecars alone: the
        // anchor for images of partitions the table does not hold yet
        lazy val logicalSchema = versionSchema(spark, path, head).map(colmapSchema(head, _))
        val merged = target match {
          case Some(t) =>
            combine.map(_(t, upd)).getOrElse(mergeFrames(t, upd, pk,
              evolveSchema, broadcastKeys = statsPlan.broadcastKeys))
          case None if combine.isDefined =>
            // all affected partitions are NEW: every source row is
            // unmatched — the clause image against an empty frame of the
            // TABLE schema (its LOGICAL view under a mapping), never
            // upd.schema: the source may carry extra clause-only columns,
            // and a committed dir with those columns would break every
            // later multi-dir unionByName read
            combine.get(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              logicalSchema.getOrElse(readVersion(spark, path, head).schema)), upd)
          case None =>
            if (!evolveSchema) upd
            else logicalSchema match {
              // only NEW partitions touched: inserts still align with the
              // table — missing table columns carry typed NULLs, genuinely
              // new columns append after them
              case Some(ts) =>
                val missing = ts.fields.filterNot(f =>
                  upd.columns.exists(_.equalsIgnoreCase(f.name)))
                val extras = upd.columns.filterNot(c =>
                  ts.fieldNames.exists(_.equalsIgnoreCase(c)))
                missing.foldLeft(upd)((d, f) =>
                  d.withColumn(f.name, lit(null).cast(f.dataType)))
                  .select((ts.fieldNames.toSeq ++ extras).map(col): _*)
              case None => upd
            }
        }
        val dataDir = stage(spark, path, toPhysical(spark, path, head, merged),
          partitionColumns, filesPerPartition, physicalUnder = Some(head))
        // every affected partition consolidates onto the new dir (its old
        // entries — possibly several — drop out). Survivors come from the
        // WRITTEN layout, not a re-run of the merge plan: a conditional
        // DELETE clause can empty a whole partition, and mapping it anyway
        // would publish a dangling manifest entry (ADVICE r7 high).
        val survivors = writtenPartitionDirs(spark, path, dataDir, partitionColumns).toSet
        require(survivors.subsetOf(affectedSet),
          s"mergeVersioned: merged rows landed outside the affected " +
            s"partitions at $path (${(survivors -- affectedSet).mkString(", ")})")
        val kept = entries.filterNot(e => affectedSet(e._1)) ++
          affected.filter(survivors).map(_ -> dataDir)
        require(kept.nonEmpty,
          s"mergeVersioned: merge would empty every partition of $path; " +
            "an empty partitioned manifest is unreadable — drop the table instead")
        Commit(head.copy(entries = kept),
          // capture from the COMMITTED slice, never by re-evaluating the
          // update plan; the v-snapshot dirs the before side reads remain
          // on disk (vacuum hasn't run)
          onWin = committedV => if (cdf) {
            val newSlice = stagedRows(spark, path, head, dataDir, affected)
            writeChangeManifest(spark, path, committedV, changeRowsBetween(
              target.getOrElse(newSlice.filter(lit(false))), newSlice, pk, "right_outer"))
          },
          // the consolidated dir already folded in the base DVs, which the
          // disjointness check proves still stand; conflicts are judged on
          // the FULL affected set, only survivors re-map
          onMove = Rebase(rebaseOnto(spark, path, head, _, affected,
            affected.filter(survivors), dataDir, appendBesideOld = false, None)))
      }
    }
    ()
  }

  /** Row-level DELETE on a versioned table: rows matching `condition`
    * leave the table as the next committed version. The other two
    * lakehouse verbs beside MERGE (Delta `DELETE FROM`/`UPDATE`).
    *
    * Scale shape: partitioned versioned tables rewrite ONLY the
    * partitions that hold matching rows (affected set discovered by one
    * pruned scan; untouched partitions keep their data dirs — zero I/O),
    * exactly like [[mergeVersioned]]. A partition whose rows are all
    * deleted leaves the manifest. `condition` must be deterministic: the
    * rewrite and the `cdf` capture evaluate it independently over the
    * same immutable snapshot, which only agree when it is.
    *
    * `cdf = true` captures the deleted rows (`_change_type = "delete"`)
    * into this commit's change manifest for [[tableChanges]].
    * A no-match delete is a no-op: returns the current version, commits
    * nothing. Returns the committed (or current) version.
    */
  def delete(
      spark: SparkSession, path: String, condition: Column,
      cdf: Boolean = false): Long =
    rewriteRows(spark, path, condition, None, cdf)

  /** Row-level UPDATE on a versioned table: rows matching `condition` get
    * `set` applied (column → new-value expression; values are cast to the
    * column's existing type, so the table schema never drifts); other
    * rows are untouched. Same scale shape, determinism contract, no-op
    * and return semantics as [[delete]]. Partition columns cannot be
    * updated (that is a row MOVE between partitions — delete + re-insert
    * expresses it honestly). `cdf = true` captures every matched row as
    * `update_preimage`/`update_postimage` (matched-but-unchanged rows
    * included, as in Delta).
    */
  def update(
      spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column], cdf: Boolean = false): Long = {
    require(set.nonEmpty, "update: empty SET")
    rewriteRows(spark, path, condition, Some(set), cdf)
  }

  /** Shared core of [[delete]] (`set = None`) and [[update]]: an image
    * derived from the head ([[commitLoop]]'s recompute discipline — a
    * raced rewrite recomputes, it never re-publishes its stale image).
    */
  private def rewriteRows(
      spark: SparkSession, path: String, condition: Column,
      set: Option[Map[String, Column]], cdf: Boolean): Long = {
    val verb = if (set.isEmpty) "delete" else "update"
    TableProperties.requireNotAppendOnly(spark, path, verb)
    // the matched slice is captured BEFORE the commit: both it and the
    // rewrite evaluate the (deterministic) predicate over the same
    // immutable snapshot dirs, so they are exact complements. Persisted
    // ONLY when cdf capture will re-read it: without cdf the no-op probe
    // is a limit-1 job (unpartitioned) or a partition-column-pruned scan
    // (partitioned), and caching the full matched slice for either would
    // put a table-sized fraction on executor memory/disk (ADVICE r15)
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def matchedIn(target: DataFrame): DataFrame = {
      val m = target.filter(condition)
      if (cdf) persisted += m.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m
    }
    def rewrite(df: DataFrame, resolvedSet: Option[Map[String, Column]]): DataFrame =
      resolvedSet.fold(df.filter(!condition))(applySet(df, condition, _))
    try commitLoop(spark, path, verb, missing = Some(" (row-level rewrites need " +
        "manifest isolation; plain layouts have no safe in-place path)")) { head =>
      val target = readVersion(spark, path, head)
      requireDeterministic(target, condition, set, verb)
      val partitionColumns = head.partitionColumns
      val matched = matchedIn(target)
      val resolvedSet = set.map(resolveSet(target, _, partitionColumns, verb))
      def capture(nv: Long): Unit =
        if (cdf) writeChangeManifest(spark, path, nv, captureRewrite(matched, resolvedSet))
      if (!head.partitioned) {
        if (matched.isEmpty) NoOp(head.version)
        else Commit(Snapshot(Seq("" -> stageImage(spark, path, rewrite(target, resolvedSet)))),
          onWin = capture)
      } else {
        val affected = partitionDirsOf(matched, partitionColumns).toSet
        if (affected.isEmpty) NoOp(head.version)
        else {
          // rewrite ONLY the affected partitions' slice, in logical
          // space, physical names back on the way out — the partial-
          // rewrite discipline of mergeVersioned
          val newSlice = rewrite(
            readSlice(spark, path, head, head.entries.filter(e => affected(e._1))), resolvedSet)
          val dataDir = stage(spark, path, toPhysical(spark, path, head, newSlice),
            partitionColumns, physicalUnder = Some(head))
          // a fully-deleted partition leaves the manifest; every
          // affected partition's old entries drop out wholesale
          val newEntries = head.entries.filterNot(e => affected(e._1)) ++
            partitionDirsOf(newSlice, partitionColumns).map(_ -> dataDir)
          require(newEntries.nonEmpty,
            s"$verb would empty every partition of $path; an empty " +
              "partitioned manifest is unreadable — drop the table instead")
          Commit(head.copy(entries = newEntries), onWin = capture)
        }
      }
    } finally persisted.foreach(_.unpersist())
  }

  /** Determinism must be checked on the ANALYZED expressions — an
    * unresolved function (e.g. a bare `rand()` Column) reports
    * deterministic until resolution — so probe-select the condition and
    * SET values against the target and inspect the analyzed projection.
    */
  private def requireDeterministic(
      target: DataFrame, condition: Column,
      set: Option[Map[String, Column]], verb: String): Unit = {
    val probe = condition +: set.toSeq.flatMap(_.values)
    require(target.select(probe: _*).queryExecution.analyzed.expressions
      .forall(_.deterministic),
      s"$verb: condition and SET expressions must be deterministic (the " +
        "rewrite and the cdf capture each evaluate them independently; " +
        "nondeterminism would let them disagree)")
  }

  /** Resolve SET keys case-insensitively against the table's columns;
    * reject unknown and partition columns.
    */
  private def resolveSet(
      target: DataFrame, set: Map[String, Column],
      partitionColumns: Seq[String], verb: String): Map[String, Column] =
    set.map { case (k, expr) =>
      val c = target.columns.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"$verb: SET column $k not in table schema " +
            s"(${target.columns.mkString(", ")})"))
      require(!partitionColumns.exists(_.equalsIgnoreCase(c)),
        s"$verb: cannot SET partition column $c (a row move between " +
          "partitions is a delete + re-insert, not an update)")
      c -> expr
    }

  /** `set` applied to the rows of `df` matching `condition`; values cast
    * to the column's existing type so the schema never drifts.
    */
  private def applySet(
      df: DataFrame, condition: Column, set: Map[String, Column]): DataFrame =
    df.select(df.columns.map { c =>
      set.get(c) match {
        case Some(e) =>
          when(condition, e.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toSeq: _*)

  /** Change rows of a delete (matched rows as `delete`) or an update
    * (matched rows as `update_preimage` + `update_postimage`).
    */
  private def captureRewrite(
      matched: DataFrame, set: Option[Map[String, Column]]): DataFrame =
    set match {
      case None => matched.withColumn("_change_type", lit("delete"))
      case Some(s) =>
        // pre+post images in ONE pass over the matched slice — the
        // unionByName formulation re-executed the filtered table scan
        // once per image side (same duplication class as the
        // changeRowsBetween fix above)
        val cols = matched.columns.toSeq
        def img(post: Boolean) = struct(cols.map { c =>
          (if (post) s.get(c).map(_.cast(matched.schema(c).dataType))
           else None).getOrElse(col(c)).as(c)
        } :+ lit(if (post) "update_postimage" else "update_preimage")
          .as("_change_type"): _*)
        matched.select(explode(array(img(post = false), img(post = true)))
          .as("__e")).select(col("__e.*"))
    }

  /** Write the full new table image as the NEXT manifest version: data
    * lands ONCE in a fresh uniquely-named dir, then one atomic manifest
    * commit publishes it. A caller-supplied image: a lost race re-publishes
    * the same dir at the next number, last-writer-wins ([[commitLoop]]).
    * Old versions stay intact (and readable via `readAt`) until `vacuum`.
    * Returns the committed version number.
    *
    * `txn` (appId → txnVersion) records an idempotent-write marker in the
    * same atomic commit; a re-delivery returns -1 — the caller must treat
    * -1 as "already applied, nothing committed".
    */
  def atomicReplace(
      spark: SparkSession,
      path: String,
      df0: DataFrame,
      partitionColumns: Seq[String],
      txn: Option[(String, Long)] = None,
      writeOptions: Map[String, String] = Map.empty): Long =
    commitLoop(spark, path, "atomicReplace", txn, missing = None) { _ =>
      Commit(Snapshot(Seq("" -> stageImage(spark, path, df0, partitionColumns, writeOptions))),
        onMove = Replay)
    }

  /** SNAPSHOT-DIFF change feed between two committed versions — the NET
    * tier; [[tableChanges]] is the per-commit Delta-`table_changes` tier.
    * The deviations from Delta CDF, explicitly:
    *
    *   - NET diff only: a range spanning several commits collapses them —
    *     a row changed in v2 and reverted in v3 does NOT appear in
    *     changes(1, 3); use [[tableChanges]] for per-commit history.
    *   - No `update_preimage`: an update emits ONE row with the NEW image
    *     (deletes carry the old image). [[tableChanges]] emits pre+post.
    *   - No `_commit_version`/`_commit_timestamp` columns — the caller
    *     already names both endpoints.
    *   - PK uniqueness is a PRECONDITION: duplicate keys would fan out the
    *     full-outer join into spurious change rows, so the call fails fast
    *     (one linear key-count job) naming a duplicated key rather than
    *     returning wrong data. Dedup the table (e.g. dropDuplicates(pk))
    *     before versioning if keys can repeat.
    *
    * Emits one row per changed key with `_change_type` ∈
    * insert | update | delete. Cost is a scan of both snapshots + one
    * shuffle on the PK — at scale, partition pruning inside each snapshot
    * read still applies, and unchanged rows never leave the join.
    */
  def changes(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Long,
      pk: Seq[String]): DataFrame = {
    // a window straddling a RENAME/DROP commit compares snapshots that
    // disagree on what a column is CALLED. PHYSICAL identity reconciles
    // them (Delta diffs CDF through its column ids the same way): the
    // FROM snapshot's logical names translate logical→physical (its own
    // inverse map) →TO-logical (the TO map), columns the TO version
    // DROPPED leave the diff, and both sides then speak TO's schema.
    // What physical identity cannot reconcile is a MATERIALIZATION in
    // the window (compact/OPTIMIZE/full rewrite): the files' names
    // changed underneath, a renamed column looks like drop-one-add-
    // another, and the diff would report every row changed — that
    // window is refused with the real explanation.
    val (rFrom, dFrom) = columnMapping(spark, path, fromVersion)
    val (rTo, dTo) = columnMapping(spark, path, toVersion)
    val beforeRaw0 = readAt(spark, path, fromVersion)
    val afterRaw = readAt(spark, path, toVersion)
    val beforeRaw =
      if ((rFrom, dFrom) == (rTo, dTo)) beforeRaw0
      else {
        val invFrom = rFrom.map { case (p, l) => l.toLowerCase -> p }
        beforeRaw0.select(beforeRaw0.columns.toSeq.flatMap { c =>
          val p = invFrom.getOrElse(c.toLowerCase, c)
          if (dTo.exists(_.equalsIgnoreCase(p))) None // dropped in window
          else Some(col(c).as(rTo.collectFirst {
            case (pp, l) if pp.equalsIgnoreCase(p) => l
          }.getOrElse(p)))
        }: _*)
      }
    // translation done, one guard covers the remaining hazard: columns
    // unique to EACH side simultaneously is the rename-materialization
    // shape (compact after RENAME: v_from says `amount`, v_to says
    // `total`, physical identity lost — this arises with equal-EMPTY
    // maps too, which is why the check runs unconditionally) and the
    // superset-align below would misread it as drop-one-add-another,
    // reporting every row changed. One-sided asymmetry stays legal:
    // after-only = schema evolution (before reads NULLs), before-only
    // alone = a reversed (wide→narrow) window, where "the column
    // vanished" is the honest diff.
    val beforeOnly = beforeRaw.columns.filterNot(c =>
      afterRaw.columns.exists(_.equalsIgnoreCase(c)))
    val afterOnly = afterRaw.columns.filterNot(c =>
      beforeRaw.columns.exists(_.equalsIgnoreCase(c)))
    require(beforeOnly.isEmpty || afterOnly.isEmpty,
      s"changes($fromVersion, $toVersion) at $path: v$fromVersion-only " +
        s"column(s) ${beforeOnly.mkString(", ")} face v$toVersion-only " +
        s"column(s) ${afterOnly.mkString(", ")} — the window straddles a " +
        "column-mapping MATERIALIZATION (or an equivalent full rewrite " +
        "that renamed physical columns), so the row diff is not " +
        "well-defined. Split the window at that commit (pure RENAME/" +
        "DROP windows reconcile automatically).")
    // across a schema-evolution boundary the snapshots disagree: align
    // both to the superset, so the older side reads appended columns as
    // NULL and a value set there reports as a genuine update
    val schema = supersetSchema(Seq(beforeRaw.schema, afterRaw.schema))
      .getOrElse(beforeRaw.schema)
    val before = alignTo(beforeRaw, schema)
    val after = alignTo(afterRaw, schema)
    requireUniquePk(
      Seq(s"v$fromVersion" -> before, s"v$toVersion" -> after), pk,
      s"changes($fromVersion, $toVersion) at $path")
    val cols = before.columns.toSeq
    def packed(df: DataFrame, alias: String) =
      df.select(pk.map(col) :+ struct(cols.map(col): _*).as(alias): _*)
    val j = packed(before, "__old")
      .join(packed(after, "__new"), pk, "full_outer")
    val img = when(col("__new").isNull, col("__old")).otherwise(col("__new"))
    j.filter(col("__old").isNull || col("__new").isNull ||
        !(col("__old") <=> col("__new")))
      .select(cols.map(c => img.getField(c).as(c)) :+
        when(col("__old").isNull, lit("insert"))
          .when(col("__new").isNull, lit("delete"))
          .otherwise(lit("update")).as("_change_type"): _*)
  }

  // ---- deletion vectors (merge-on-read DELETE) ----------------------------

  private val DvDirName = "_graft_dv"
  private[sources] val DvFileCol = "__graft_dv_file"
  private[sources] val DvIdxCol = "__graft_dv_idx"

  /** Deletion-vector dirs of `version` (table-relative names, or
    * absolute paths for shallow clones). Empty for versions without
    * deletes-by-vector.
    */
  def dvDirs(spark: SparkSession, path: String, version: Long): Seq[String] =
    snapshot(spark, path, version).dv

  // ---- column mapping: RENAME/DROP COLUMN without rewrite -----------------

  /** `version`'s column mapping: (physical → logical renames, dropped
    * physical columns). Empty maps for unmapped versions.
    */
  def columnMapping(
      spark: SparkSession, path: String, version: Long): (Map[String, String], Seq[String]) = {
    val s = snapshot(spark, path, version)
    (s.renames, s.drops)
  }

  /** Put a frame under `head`'s logical column view: dropped physical
    * columns projected away, renamed ones aliased; columns outside the
    * mapping (including reader metadata like [[DvFileCol]]) pass through
    * — so mutation verbs can put a PHYSICAL leg under the logical names
    * while keeping their row-address columns. Identity for unmapped
    * versions (the overwhelmingly common case — no plan change).
    */
  private def applyColmap(head: Snapshot, df: DataFrame): DataFrame =
    if (!head.mapped) df
    else df.select(df.columns
      .filterNot(c => head.drops.exists(_.equalsIgnoreCase(c)))
      .map(c => col(c).as(
        head.renames.collectFirst { case (p, l) if p.equalsIgnoreCase(c) => l }
          .getOrElse(c))).toIndexedSeq: _*)

  /** Inverse of [[applyColmap]] for OUTGOING writes under an active
    * column mapping — what lets mutation verbs commit PARTIAL rewrites
    * without materializing the map (Delta's model: files keep physical
    * names for the table's whole life): logical names translate back to
    * physical, dropped physical columns are re-added as typed NULLs (new
    * files must stay union-compatible with the version's old files; the
    * null values never surface — the read view projects them away), and
    * columns take the physical schema's order with genuinely new columns
    * (schema evolution) appended. Identity when the version is unmapped.
    */
  private def toPhysical(
      spark: SparkSession, path: String, head: Snapshot, df: DataFrame): DataFrame = {
    if (!head.mapped) return df
    val phys = versionSchema(spark, path, head)
      .orElse(supersetSchema(versionLegs(spark, path, head).map(_.schema)))
      .getOrElse(return df)
    val inv = head.renames.map { case (p, l) => l.toLowerCase -> p }
    val renamed = df.select(df.columns.map(c =>
      col(c).as(inv.getOrElse(c.toLowerCase, c))).toIndexedSeq: _*)
    val withDropped = head.drops.foldLeft(renamed)((d, p) =>
      phys.fields.find(_.name.equalsIgnoreCase(p)) match {
        case Some(f) if !d.columns.exists(_.equalsIgnoreCase(p)) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))
        case _ => d
      })
    val physOrder = phys.fieldNames.filter(n =>
      withDropped.columns.exists(_.equalsIgnoreCase(n))).toSeq
    val extras = withDropped.columns.filterNot(c =>
      phys.fieldNames.exists(_.equalsIgnoreCase(c))).toSeq
    withDropped.select((physOrder ++ extras).map(col): _*)
  }

  /** The logical view of a PHYSICAL schema under `head`'s mapping — the
    * schema twin of [[applyColmap]].
    */
  private def colmapSchema(head: Snapshot, s: StructType): StructType =
    if (!head.mapped) s
    else StructType(s.fields
      .filterNot(f => head.drops.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(name = head.renames.collectFirst {
        case (p, l) if p.equalsIgnoreCase(f.name) => l
      }.getOrElse(f.name))))

  /** Delta-parity `ALTER TABLE … RENAME COLUMN` WITHOUT rewriting data:
    * an O(1) metadata-only commit republishing the current version's
    * data dirs under an updated column mapping. Reads and time travel
    * serve every version under its own mapping; old versions keep their
    * old names. Data-mutating verbs keep working under the mapping
    * (Delta's mutate-under-mapping model): partial commits translate
    * their outgoing files to PHYSICAL names ([[toPhysical]]) and carry
    * the map forward, while full-image rewrites ([[compact]],
    * [[optimize]], unpartitioned merge/update/delete) write logical
    * names and clear it — the materialization. Stats/bloom pruning stays
    * exact throughout ([[prunedFileGroups]] rewrites predicate names
    * logical→physical). Caveats, each refused up front: partition
    * columns (dir layout embeds them), CHECK-constrained columns
    * (constraint expressions hold raw names), identity-ruled columns
    * (the rule file is keyed by name), name collisions, and `>`/tab in
    * names (header syntax). `changes`/CDF windows must not straddle a
    * rename commit — snapshots on the two sides disagree on names — and
    * symlink export stays refused while mapped (external readers see raw
    * physical names). Like every column commit, the checks run against
    * each attempt's head ([[commitLoop]]'s recompute discipline).
    */
  def renameColumn(
      spark: SparkSession, path: String, from: String, to: String): Long = {
    require(!(from.contains('>') || from.contains('\t') ||
      to.contains('>') || to.contains('\t')),
      s"renameColumn: '>' and tab are reserved by the mapping header")
    commitLoop(spark, path, "renameColumn") { head =>
      val logical = readVersion(spark, path, head).columns.toSeq
      require(logical.exists(_.equalsIgnoreCase(from)),
        s"renameColumn: no column '$from' at $path (have ${logical.mkString(",")})")
      require(!logical.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column '$to' already exists at $path")
      require(!head.partitionColumns.exists(_.equalsIgnoreCase(from)),
        s"renameColumn: '$from' is a partition column — the directory " +
          "layout embeds it; rewrite via createVersioned with new names")
      require(!Constraints.list(spark, path).exists(_._2.toLowerCase
          .contains(from.toLowerCase)),
        s"renameColumn: a CHECK constraint references '$from' — drop and " +
          "re-add the constraint around the rename")
      // identity rules are keyed by column NAME (the identity DDL rows);
      // renaming the column would leave the rule pointing at the vacated
      // name, and later ingest would fill a spurious column under it
      // (ADVICE r9 medium) — mirror the partition-column refusal
      require(!IdentityColumns.list(spark, path).exists(_._1.equalsIgnoreCase(from)),
        s"renameColumn: '$from' carries an identity rule keyed by name — " +
          "drop the rule first, or keep the name")
      // ADD COLUMN rules are keyed by name too (fill + read-side extension
      // + time-travel windows would all chase the vacated name)
      require(!ColumnDefaults.list(spark, path).exists(r =>
          r.live && r.name.equalsIgnoreCase(from)),
        s"renameColumn: '$from' was ADD COLUMN'd and its rule is keyed by " +
          "name — drop the column instead, or keep the name")
      // the new entry maps the PHYSICAL name (the inverse image of `from`
      // under the current mapping) to the new logical name
      val physical = head.renames.collectFirst {
        case (p, l) if l.equalsIgnoreCase(from) => p
      }.getOrElse(from)
      // a rename back to the physical name clears its entry
      Commit(head.copy(renames = (head.renames - physical + (physical -> to))
        .filterNot { case (p, l) => p.equalsIgnoreCase(l) }))
    }
  }

  /** Delta-parity `ALTER TABLE … DROP COLUMN` without rewrite — the
    * column disappears from reads of the new version (history still
    * shows it); bytes are reclaimed at materialization. Same caveats and
    * mutate-under-mapping rules as [[renameColumn]] (partial commits
    * keep writing the dropped column as typed NULLs so every dir of the
    * version stays union-compatible).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    commitLoop(spark, path, "dropColumn") { head =>
      val logical = readVersion(spark, path, head).columns.toSeq
      require(logical.exists(_.equalsIgnoreCase(name)),
        s"dropColumn: no column '$name' at $path (have ${logical.mkString(",")})")
      require(logical.length > 1, s"dropColumn: cannot drop the only column")
      require(!head.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"dropColumn: '$name' is a partition column")
      require(!Constraints.list(spark, path).exists(_._2.toLowerCase
          .contains(name.toLowerCase)),
        s"dropColumn: a CHECK constraint references '$name' — drop it first")
      // see renameColumn: a dropped identity column's rule would re-fill
      // the column on the next ingest as if it were never dropped
      require(!IdentityColumns.list(spark, path).exists(_._1.equalsIgnoreCase(name)),
        s"dropColumn: '$name' carries an identity rule — drop the rule first")
      val defRule = ColumnDefaults.list(spark, path)
        .find(r => r.live && r.name.equalsIgnoreCase(name))
      val next =
        if (defRule.isDefined && !versionSchema(spark, path, head).exists(
            _.fieldNames.exists(_.equalsIgnoreCase(name))))
          // an ADD COLUMN'd column no write ever materialized: nothing
          // physical to unmap — closing the rule's version window IS the
          // drop (the metadata commit marks where history stops serving it)
          head
        else {
          val physical = head.renames.collectFirst {
            case (p, l) if l.equalsIgnoreCase(name) => p
          }.getOrElse(name)
          head.copy(renames = head.renames - physical, drops = head.drops :+ physical)
        }
      // an added column, materialized or not, also closes its rule window,
      // so ingest stops re-filling it and the extension stops re-adding it
      Commit(next, onWin = v =>
        if (defRule.isDefined) ColumnDefaults.markDropped(spark, path, name, v))
    }

  /** Delta-parity `ALTER TABLE … ADD COLUMN name type [DEFAULT expr]`
    * WITHOUT rewriting data: an O(1) metadata commit (the current
    * version's dirs republished as v+1) plus a [[ColumnDefaults]] rule,
    * registered once the commit won. Reads of v+1 onward serve the
    * column — EXISTING rows as typed NULLs (an ADD COLUMN never invents
    * history); the DEFAULT applies to FUTURE writes that omit the column
    * (ingest materializes it physically, the SQL CURRENT_DEFAULT model —
    * change it later with [[ColumnDefaults.setDefault]]). Time travel
    * below v+1 never shows the column. Refused names: existing logical
    * columns, and physical names vacated by RENAME/DROP COLUMN while the
    * mapping is unmaterialized (stats/bloom sidecars still key the old
    * physical data — the readWhere hazard ADVICE r9 flagged;
    * compact/optimize first). A crash between the commit and the rule
    * write leaves a version without the rule.
    */
  def addColumn(
      spark: SparkSession, path: String, name: String, typeSql: String,
      default: Option[String] = None): Long =
    commitLoop(spark, path, "addColumn") { head =>
      val rule = ColumnDefaults.Rule(name, typeSql, default, addedAt = 0L)
      ColumnDefaults.validateSyntax(spark, rule)
      val logical = readVersion(spark, path, head).columns.toSeq
      require(!logical.exists(_.equalsIgnoreCase(name)),
        s"addColumn: column '$name' already exists at $path")
      require(!head.drops.exists(_.equalsIgnoreCase(name)) &&
        !head.renames.keys.exists(_.equalsIgnoreCase(name)),
        s"addColumn: '$name' is still a PHYSICAL column name under the " +
          "active column mapping — data files and their stats/bloom " +
          "sidecars key it; compact/optimize to materialize the mapping " +
          "first")
      require(!ColumnDefaults.list(spark, path).exists(r =>
          r.live && r.name.equalsIgnoreCase(name)),
        s"addColumn: column '$name' already added at $path")
      Commit(head, onWin = v => ColumnDefaults.register(spark, path, rule.copy(addedAt = v)))
    }

  /** The union of `dirs`' DV parquet — rows of (file URI, row index)
    * marking deleted rows. Small by construction (16 B/deleted row), so
    * the read-side anti-join broadcasts it in the common case.
    */
  private def dvFrame(spark: SparkSession, path: String, dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs.map(d => new Path(path, d).toString): _*)

  /** The file key a DV entry stores: `_metadata.file_path` cut down to
    * start at the data-dir segment (`_d…/…` or legacy `_v…/…`). Relative
    * keys survive URI-rendering differences between readers and table
    * moves/clones, and make partition-prefix math on DV entries exact
    * (see [[detail]]); data-dir names embed millis+nanos, so keys never
    * collide across dirs.
    */
  private def dvFileKey(filePath: Column): Column =
    regexp_extract(filePath, "/((?:_d|_v)[^/]*/.*)$", 1)

  /** Apply a deletion vector to ONE scan leg: anti-join on the parquet
    * reader's (`_metadata.file_path` → [[dvFileKey]],
    * `_metadata.row_index`) — Delta's DV read path re-expressed as a
    * plan. Must run directly on the scan relation (metadata columns
    * don't survive an alignTo projection), so every caller wraps legs
    * BEFORE aligning or unioning them. Stale DV entries (files a later
    * rewrite replaced) match nothing and are harmless; full-image
    * commits (optimize / compact / atomicReplace) drop the header
    * entirely, materializing the deletes.
    */
  private def dvFilterLeg(leg: DataFrame, dv: Option[DataFrame]): DataFrame =
    dv.fold(leg)(d => liveAddressed(leg, Some(d)).drop(DvFileCol, DvIdxCol))

  /** ONE scan leg with the reader's row addresses attached
    * ([[DvFileCol]] via [[dvFileKey]], [[DvIdxCol]]), rows `dv` retired
    * anti-joined away — the same scan-relation rule as [[dvFilterLeg]].
    */
  private def liveAddressed(leg: DataFrame, dv: Option[DataFrame]): DataFrame = {
    val withMeta = leg.withColumn(DvFileCol, dvFileKey(col("_metadata.file_path")))
      .withColumn(DvIdxCol, col("_metadata.row_index"))
    dv.fold(withMeta)(d => withMeta.join(d, Seq(DvFileCol, DvIdxCol), "left_anti"))
  }

  /** `head`'s DV as Some(frame) when it has one — the one object read
    * paths thread through [[dvFilterLeg]]. */
  private def dvOf(spark: SparkSession, path: String, head: Snapshot): Option[DataFrame] =
    Option.when(head.dv.nonEmpty)(dvFrame(spark, path, head.dv))

  /** Auto-tier floor for [[merge]]'s merge-on-read decision: below this
    * many rows (summed from the version's sidecars — metadata-only), a
    * full rewrite is cheaper than MOR's extra join/probe jobs; above it,
    * rewrite cost keeps growing with the table while MOR stays
    * O(update rows). Dirs without sidecars (pre-stats commits) count as
    * unknown → rewrite (conservative).
    */
  val MorAutoRowsFloor: Long = 10000000L

  /** Auto-tier cap on merge-on-read CHAIN length: once a version lists
    * this many data dirs, the next auto-tiered merge takes the rewrite
    * path, which materializes DVs and folds the dirs back to one — so
    * read fan-out (one relation per dir + the DV anti-join) is bounded
    * by construction, Delta's auto-compaction discipline without a
    * separate maintenance job. Forcing `mergeOnRead = Some(true)`
    * bypasses the cap (run [[optimize]]/[[compact]] yourself).
    */
  val MorMaxDataDirs: Int = 64

  /** Sidecar-only row count of `entries` (per dir, the files under the
    * entries' partition prefixes — the same math DETAIL uses; a whole
    * snapshot's entries give the table's). None when any dir lacks a
    * sidecar (pre-stats commits); callers treat unknown as "rewrite".
    * DV'd rows are NOT subtracted, so on a merge-on-read chain this
    * over-counts live rows — a fraction denominator built from it gives
    * a conservative (smaller) fraction.
    */
  private def sliceRows(
      spark: SparkSession, path: String, entries: Seq[(String, String)]): Option[Long] = {
    val perDir = byDataDir(entries).map { case (dd, parts) =>
      DataSkipping.readStats(spark, new Path(path, dd).toString).map(sc =>
        sc.files.filter { case (rel, _) => inSlice(rel, parts) }.values.map(_.rows).sum)
    }
    if (perDir.forall(_.isDefined)) Some(perDir.flatten.sum) else None
  }

  /** The auto tier of an unpartitioned merge: merge-on-read when the
    * version's chain is under `maxDirs` dirs and its sidecars count more
    * than `rowsFloor` rows.
    */
  private[sources] def autoMergeOnRead(
      spark: SparkSession, path: String, version: Long,
      rowsFloor: Long = MorAutoRowsFloor,
      maxDirs: Int = MorMaxDataDirs): Boolean = {
    val head = snapshot(spark, path, version)
    !head.partitioned && head.entries.size < maxDirs &&
      sliceRows(spark, path, head.entries).exists(_ > rowsFloor)
  }

  /** Merge-on-read UPSERT (the MERGE twin of [[deleteVectors]]): commit
    * cost is O(update rows), not O(table). Matched target rows are
    * retired by deletion vector (one (file, row_index) pair each — no
    * data file rewritten); the update rows land in ONE fresh appended
    * data dir; the manifest body grows by that dir's line. At 100 TB an
    * upsert touching 0.1% of a table costs 0.1% of a rewrite — the same
    * commit shape Delta's DV-enabled MERGE writes. The copy-on-write
    * tier ([[merge]] with `mergeOnRead = false`) stays the right call
    * when updates approach table size.
    *
    * Reads pay the per-leg DV anti-join plus a union over the appended
    * dirs; both are bounded by running [[optimize]] (or
    * [[atomicReplace]]) periodically, which materializes DVs and folds
    * the dirs back to one — the Delta OPTIMIZE discipline.
    *
    * Matches [[mergeFrames]] semantics exactly: duplicate-pk update rows
    * keep one arbitrary row, table column order is preserved, and a
    * replayed merge re-commits the same image (its appended rows DV the
    * previous merge's). Unpartitioned versioned tables only; schema
    * evolution goes through the rewrite tier. Returns the committed
    * version (-1 = txn re-delivery, nothing committed).
    */
  def mergeVectors(
      spark: SparkSession, path: String, updates: DataFrame, pk: Seq[String],
      cdf: Boolean = false, txn: Option[(String, Long)] = None): Long = {
    TableProperties.requireNotAppendOnly(spark, path, "mergeVectors")
    // MOR's update set is small by contract, so the NDV probe can cost
    // more than the decision saves (ADVICE r13): when even the STATIC
    // estimate of the updates plan already sits under the broadcast
    // threshold, Catalyst broadcasts the derived key set unaided — skip
    // the probe. Lazy besides: a txn re-delivery returns before any
    // probe runs.
    lazy val keysHint = {
      val threshold = autoBroadcastThreshold(spark)
      val static = updates.queryExecution.optimizedPlan.stats.sizeInBytes
      if (threshold > 0 && static <= threshold) None
      else planMergeStats(spark, path, updates, pk).broadcastKeys
    }
    commitLoop(spark, path, "mergeVectors", txn, missing = Some(" (merge-on-read " +
        "needs manifest isolation; create the table first)")) { head =>
      require(!head.partitioned,
        s"mergeVectors: $path is partitioned — partitioned merges are " +
          "already partition-scoped (mergeVersioned)")
      val target = readVersion(spark, path, head)
      val cols = target.columns.toSeq
      val upd = dedupByKey(fillColumns(spark, path, updates), pk).select(cols.map(col): _*)
      val updKeys = hintKeys(upd.select(pk.map(col): _*).distinct(), keysHint)
      // the append dir carries the full update set (matched rows'
      // replacements AND inserts) in PHYSICAL names under an active
      // mapping; matched target rows retire by DV
      val dataDir = stage(spark, path, toPhysical(spark, path, head, upd),
        physicalUnder = Some(head))
      val dvName = stageDvIfAny(spark, path,
        addressedRows(spark, path, head).join(updKeys, pk, "left_semi"))
      Commit(head.copy(entries = head.entries :+ ("" -> dataDir), dv = head.dv ++ dvName),
        // CDF capture scoped to the affected keys: rows outside the
        // update-key set are byte-identical across the commit (same
        // files), so diffing the pre-snapshot's affected slice against
        // the COMMITTED appended dir equals the full-snapshot diff at a
        // fraction of the cost (re-selected after the semi-join: a
        // using-columns join HOISTS the pk columns to the front)
        onWin = nv => if (cdf) writeChangeManifest(spark, path, nv,
          changeRowsBetween(
            target.join(updKeys, pk, "left_semi").select(cols.map(col): _*),
            stagedRows(spark, path, head, dataDir), pk, "right_outer")))
    }
  }

  /** CONVERT a plain parquet layout into a versioned table in place —
    * Delta's `CONVERT TO DELTA` parity verb, no data rewritten: the
    * existing parquet files (or hive partition dirs) are RENAMED into a
    * fresh `_d*` data dir (metadata-only on any real filesystem), a
    * stats+schema sidecar is swept from their footers, and v1 publishes
    * through the usual atomic commit. From then on the path is a normal
    * versioned table (time travel, MERGE, DV, skipping).
    *
    * Like Delta's CONVERT, the table must be QUIESCED: concurrent plain
    * writers during the rename sweep lose their in-flight files'
    * placement guarantees. The sweep itself is not atomic, but is safe
    * against readers at every instant — `_`-prefixed dirs are invisible
    * to plain parquet readers (a plain reader sees a shrinking but valid
    * table until the manifest lands), and the graft manifest only
    * publishes after every file has moved. Partitioned layouts pass
    * their partition columns; nested partitioning (a=…/b=…) is
    * supported. Fails if the path already has a manifest.
    *
    * Failure atomicity: losing the creation race (a concurrent create or
    * convert committed v1 first) RESTORES every moved file/dir to its
    * original location and removes the staging dir before throwing, so
    * the loser leaves the plain layout exactly as it found it — no
    * stranded-but-unreferenced files for [[vacuum]] to destroy. The one
    * non-atomic window that remains is a hard process death mid-sweep:
    * recover by moving the `_d*` dir's contents back to the root BEFORE
    * any vacuum runs (vacuum deletes unreferenced dirs).
    */
  def convert(
      spark: SparkSession, path: String,
      partitionColumns: Seq[String] = Nil): Long = {
    require(currentVersion(spark, path).isEmpty,
      s"convert: $path already holds a versioned table")
    val root = new Path(path)
    val fs = hadoopFs(spark, root)
    require(fs.exists(root), s"convert: no parquet layout at $path")
    val dataDir = freshDataDirName()
    val dd = new Path(path, dataDir)
    fs.mkdirs(dd)
    // every rename is journaled so a lost creation race can be unwound
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    def sweepInto(sources: Seq[Path]): Unit = sources.foreach { src =>
      val dst = new Path(dd, src.getName)
      require(fs.rename(src, dst), s"convert: rename failed for $src")
      moved += ((src, dst))
    }
    if (partitionColumns.isEmpty) {
      val files = fs.listStatus(root).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      require(files.nonEmpty, s"convert: no parquet files at the root of $path " +
        "(for a partitioned layout pass its partition columns)")
      sweepInto(files.map(_.getPath).toSeq)
    } else {
      // top-level hive dirs ("col=value") move wholesale, preserving any
      // nested partition structure beneath them
      val tops = fs.listStatus(root).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partitionColumns.head + "="))
      require(tops.nonEmpty,
        s"convert: no ${partitionColumns.head}=* partition dirs at $path")
      sweepInto(tops.map(_.getPath).toSeq)
    }
    DataSkipping.writeStats(spark, dd.toString,
      spark.read.parquet(dd.toString).schema)
    // leaf partition dirs (depth = |partitionColumns|) become entries; an
    // unpartitioned layout is the one entry ("", dataDir)
    val leaves = writtenPartitionDirs(spark, path, dataDir, partitionColumns)
    require(leaves.nonEmpty, s"convert: no leaf partition dirs of depth " +
      s"${partitionColumns.length} under $path")
    if (!commitVersion(spark, path, 1L, Snapshot(leaves.map(_ -> dataDir)))) {
      moved.reverseIterator.foreach { case (orig, dst) => fs.rename(dst, orig) }
      fs.delete(dd, true)
      throw new IllegalStateException(
        s"convert: lost the creation race at $path — a concurrent " +
        "create/convert committed first; all moved files were restored " +
        "to their original locations")
    }
    1L
  }

  /** Align an INSERT source to the table schema: by NAME when the row
    * columns are exactly the table's (any order, case-insensitive) —
    * the DataFrame-API shape; otherwise by POSITION with casts — SQL
    * `INSERT INTO … VALUES` semantics, where a VALUES list arrives as
    * col1/col2/… (same rule Spark applies to non-byName inserts).
    */
  private[graft] def alignInsert(rows: DataFrame, table: StructType): DataFrame = {
    val tNames = table.fieldNames.map(_.toLowerCase).toSet
    val byName = rows.columns.length == table.fields.length &&
      rows.columns.map(_.toLowerCase).toSet == tNames
    if (byName)
      rows.select(table.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    else {
      require(rows.columns.length == table.fields.length,
        s"insert: source has ${rows.columns.length} columns, table has " +
          s"${table.fields.length} (${table.fieldNames.mkString(", ")})")
      rows.select(rows.columns.zip(table.fields).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    }
  }

  /** Versioned INSERT INTO (Delta's AddFile append): on an UNPARTITIONED
    * versioned table the commit is O(appended rows) — the new rows land
    * in one fresh data dir and the manifest body grows by that line
    * (existing dirs and deletion vectors untouched, exactly the
    * [[mergeVectors]] commit shape minus the DV). Duplicates are NOT
    * deduplicated — INSERT is append, [[merge]] is the upsert verb.
    *
    * On a PARTITIONED versioned table the append is ALSO O(appended
    * rows): the new rows land in one fresh dir and the manifest gains
    * `(partition → newDir)` entries beside the existing ones — a
    * partition may span several dirs until the next merge or row-level
    * rewrite of that partition consolidates it (every slice reader
    * groups the full entry list by dir). Untouched partitions: zero
    * entries added, zero I/O.
    *
    * `cdf = true` captures the appended rows as inserts. Returns the
    * committed version (-1 = txn re-delivery, nothing committed).
    */
  def insertInto(
      spark: SparkSession, path: String, rows0: DataFrame,
      cdf: Boolean = false, txn: Option[(String, Long)] = None): Long = {
    val rows = fillColumns(spark, path, IdentityColumns.fill(spark, path, rows0))
    commitLoop(spark, path, "insertInto", txn, missing = Some(" (plain layouts " +
        "append through ParquetTable.append)")) { head =>
      // the insert aligns to the LOGICAL schema; the appended dir is
      // written physical under an active mapping, which carries
      val aligned = alignInsert(rows, readVersion(spark, path, head).schema)
      val partitionColumns = head.partitionColumns
      val affected =
        if (head.partitioned) partitionDirsOf(aligned, partitionColumns) else Seq("")
      val dataDir = stage(spark, path, toPhysical(spark, path, head, aligned),
        partitionColumns, physicalUnder = Some(head))
      // an APPEND-ENTRY commit: the new dir's entries land BESIDE the old
      // ones — unpartitioned, one more dir in the chain; partitioned,
      // (partition → newDir) entries (a partition may now span several
      // dirs; every slice reader groups the full entry list by dir), and
      // the next merge or row-level rewrite of the partition consolidates it
      Commit(head.copy(entries = head.entries ++ affected.map(_ -> dataDir)),
        // capture from the COMMITTED dir, never the row plan: the
        // appended dir IS exactly the inserted multiset
        onWin = nv => if (cdf) writeChangeManifest(spark, path, nv,
          stagedRows(spark, path, head, dataDir, affected)
            .select(aligned.columns.map(col).toSeq: _*)
            .withColumn("_change_type", lit("insert"))))
    }
  }

  /** Merge-on-read DELETE (Delta deletion vectors): rows matching
    * `condition` leave the table as the next version WITHOUT rewriting a
    * single data file — the commit writes only a deletion-vector dir
    * (one (file, row_index) pair per deleted row) and re-publishes the
    * same manifest body with the DV appended to its DV list. At
    * 100 TB this is the difference between an O(deleted rows) commit and
    * rewriting whole partitions to drop a handful of rows
    * ([[delete]] — the copy-on-write tier — rewrites; this tier marks).
    *
    * Reads pay one anti-join against the DV (broadcast while the DV is
    * small — the operating regime; a DV that has grown large means it is
    * time to [[optimize]] or [[compact]], either of which materializes
    * the deletes and resets the header). DVs accumulate across commits
    * and survive merges/updates of OTHER partitions (carried forward in
    * the commit header); entries for files a rewrite replaced go stale
    * and match nothing.
    *
    * `condition` must be deterministic (same contract as [[delete]]).
    * `cdf = true` captures the deleted rows into this commit's change
    * manifest for [[tableChanges]]. A no-match delete is a no-op.
    * Returns the committed (or current) version.
    */
  def deleteVectors(
      spark: SparkSession, path: String, condition: Column,
      cdf: Boolean = false): Long = {
    TableProperties.requireNotAppendOnly(spark, path, "deleteVectors")
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try commitLoop(spark, path, "deleteVectors", missing = Some(" (deletion " +
        "vectors need manifest isolation)")) { head =>
      // previous DVs already excluded — re-deleting an already-deleted
      // row is a no-op and the new DV holds only live matches
      val live = addressedRows(spark, path, head)
      requireDeterministic(live.drop(DvFileCol, DvIdxCol), condition, None, "deleteVectors")
      // matched is DELETE-SIZED (O(matched rows) is this verb's whole
      // contract) — persist it so the no-op probe, the DV write and the
      // cdf capture share ONE snapshot scan instead of three (guide §2.4;
      // at 100 TB each re-evaluation was a full table scan)
      val matched = live.filter(condition)
      persisted += matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (matched.isEmpty) NoOp(head.version)
      else {
        val dvName = stageDv(spark, path, matched)
        Commit(head.copy(dv = head.dv :+ dvName),
          onWin = nv => if (cdf) writeChangeManifest(spark, path, nv,
            matched.drop(DvFileCol, DvIdxCol).withColumn("_change_type", lit("delete"))))
      }
    } finally persisted.foreach(_.unpersist())
  }

  // ---- per-commit change data feed ---------------------------------------

  private def changesDir(path: String) = new Path(path, "_graft_changes")

  private def changeManifestPath(path: String, version: Long) =
    new Path(changesDir(path), f"v$version%020d")

  /** Change rows between two keyed images of a table: `_change_type` ∈
    * insert | delete | update_preimage | update_postimage, one row per
    * image. `joinType = "right_outer"` is the MERGE-capture shape (keys
    * absent from `after` are unchanged, not deleted — merge never
    * deletes); `"full_outer"` is the snapshot-diff shape (absent keys ARE
    * deletes). Identical rows never leave the join, so the result is
    * changed-rows-sized, not table-sized.
    */
  private[sources] def changeRowsBetween(
      before: DataFrame, after: DataFrame, pk: Seq[String],
      joinType: String): DataFrame = {
    // across a schema-evolution boundary, widen BOTH sides to the
    // superset first (the narrower side reads appended columns as NULL),
    // so a value appearing in a new column reports as an update instead
    // of being invisible to the diff
    val schema = supersetSchema(Seq(before.schema, after.schema))
      .getOrElse(before.schema)
    val beforeW = alignTo(before, schema)
    val cols = beforeW.columns.toSeq
    // then align the update side to the table's column order AND types
    // (a partitioned read infers partition-column types, e.g. day →
    // DATE, that an update batch may still carry as strings)
    val aligned = alignTo(after, schema).select(
      cols.map(c => col(c).cast(beforeW.schema(c).dataType).as(c)): _*)
    def packed(df: DataFrame, a: String) =
      df.select(pk.map(col) :+ struct(cols.map(col): _*).as(a): _*)
    val j = packed(beforeW, "__old").join(packed(aligned, "__new"), pk, joinType)
    // ONE evaluation of the join: each joined row contributes its 1–2
    // change images through a single generate. The previous
    // union-of-filtered-branches formulation duplicated the join subtree
    // per branch — Spark has no cross-branch common-subplan sharing, so
    // the join AND both snapshot scans under it executed once per change
    // type (measured: 6 parquet scans for a right_outer capture, 2 after;
    // guide §2.4 "remove shuffles outright" applied to whole subtrees).
    def tagged(side: String, changeType: String) =
      struct(cols.map(c => col(side).getField(c).as(c)) :+
        lit(changeType).as("_change_type"): _*)
    val changed = j.filter(col("__old").isNull || col("__new").isNull ||
      !(col("__old") <=> col("__new")))
    val entries = when(col("__old").isNull, array(tagged("__new", "insert")))
      .when(col("__new").isNull, array(tagged("__old", "delete")))
      .otherwise(array(tagged("__old", "update_preimage"),
        tagged("__new", "update_postimage")))
    changed.select(explode(entries).as("__e")).select(col("__e.*"))
  }

  /** Persist one commit's change rows (written by the commit WINNER only,
    * after the manifest commit — the pre-commit snapshot dirs the change
    * plan reads are still on disk, and a crash in between just means this
    * commit falls back to the snapshot-diff path of [[tableChanges]]).
    */
  private def writeChangeManifest(
      spark: SparkSession, path: String, version: Long, changeRows: DataFrame): Unit =
    sizedForWrite(changeRows).write.mode(SaveMode.Overwrite)
      .parquet(changeManifestPath(path, version).toString)

  /** Whether EVERY commit in [fromVersion, toVersion] captured a change
    * manifest (merged/updated/deleted with `cdf = true`) — i.e. whether
    * [[tableChanges]] over that window is guaranteed change-sized (reads
    * only the captured manifests, never a table snapshot). Metadata-only:
    * one existence probe per commit.
    */
  def hasChangeManifests(
      spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): Boolean =
    (fromVersion to toVersion).forall { v =>
      val cf = changeManifestPath(path, v)
      hadoopFs(spark, cf).exists(cf)
    }

  /** Per-commit change data feed — the Delta `table_changes` tier that the
    * net snapshot-diff [[changes]] deliberately is not. Emits each commit
    * in `[fromVersion, toVersion]` separately with `_commit_version` and
    * `_change_type` ∈ insert | delete | update_preimage | update_postimage,
    * so a key changed in one commit and reverted in a later one appears in
    * BOTH (nothing collapses), and updates carry pre- AND post-images.
    *
    * Per commit, the source is (in order):
    *   1. the change manifest captured at merge time (`cdf = true` — only
    *      changed rows are read, never the table); else
    *   2. a snapshot diff of `v-1 → v` (both snapshots must still exist;
    *      cost: one scan of each + a PK shuffle, plus the duplicate-PK
    *      fail-fast probe of [[changes]]); else
    *   3. for the initial commit (v = 1), every row is an insert.
    * A commit with neither a change manifest nor surviving snapshots
    * (vacuumed) fails fast — capture with `cdf = true` if the feed must
    * outlive snapshot retention (`vacuum` never deletes change manifests).
    *
    * No `_commit_timestamp` column: manifest file mtimes are not part of
    * the committed state (they don't survive a copy), so rather than emit
    * an unstable column the timestamp is left to the caller.
    */
  def tableChanges(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Long,
      pk: Seq[String]): DataFrame = {
    require(fromVersion >= 1 && fromVersion <= toVersion,
      s"tableChanges: bad version range [$fromVersion, $toVersion]")
    val have = versions(spark, path).toSet
    require(have.nonEmpty, s"tableChanges: no versioned table at $path")
    require(toVersion <= have.max,
      s"tableChanges: version $toVersion not committed yet at $path")
    val perCommit = (fromVersion to toVersion).map { v =>
      val cf = changeManifestPath(path, v)
      val base =
        if (hadoopFs(spark, cf).exists(cf)) spark.read.parquet(cf.toString)
        else if (v == 1L && have.contains(1L))
          readVersion(spark, path, snapshot(spark, path, 1L))
            .withColumn("_change_type", lit("insert"))
        else if (have.contains(v) && have.contains(v - 1)) {
          val before = readVersion(spark, path, snapshot(spark, path, v - 1))
          val after = readVersion(spark, path, snapshot(spark, path, v))
          requireUniquePk(
            Seq(s"v${v - 1}" -> before, s"v$v" -> after), pk,
            s"tableChanges commit $v at $path")
          changeRowsBetween(before, after, pk, "full_outer")
        } else throw new IllegalStateException(
          s"tableChanges: commit $v at $path has no change manifest and its " +
            "snapshots are gone (vacuumed); merge with cdf = true to keep a " +
            "change feed beyond snapshot retention")
      base.withColumn("_commit_version", lit(v))
    }
    perCommit.reduce(_.unionByName(_))
  }

  /** DESCRIBE-HISTORY tier: one row per committed version, newest first —
    * version, whether the manifest is partitioned, how many partition
    * entries and distinct data dirs it references, whether a per-commit
    * change manifest was captured, and the manifest file's modification
    * time (surfaced as `manifest_mtime` for operators; NOT part of the
    * committed state — see `tableChanges` — which is why no oracle query
    * depends on it). Driver-side listing of the manifest dir only: one
    * tiny file stat per version, no data I/O.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = hadoopFs(spark, manifestDir(path))
    versions(spark, path).sorted(Ordering[Long].reverse).map { v =>
      val s = snapshot(spark, path, v)
      val mtime = fs.getFileStatus(new Path(manifestDir(path), f"v$v%020d"))
        .getModificationTime
      val cf = changeManifestPath(path, v)
      (v, s.partitioned, s.entries.size, s.dataDirs.size,
        hadoopFs(spark, cf).exists(cf),
        s.ts.map(new java.sql.Timestamp(_)),
        new java.sql.Timestamp(mtime))
    }.toDF("version", "partitioned", "n_entries", "n_data_dirs",
      "has_change_manifest", "commit_ts", "manifest_mtime")
  }

  /** DESCRIBE-DETAIL tier (Delta `DESCRIBE DETAIL`): one metadata-only
    * row for the CURRENT snapshot — version, commit instant, partition
    * shape, file/row counts from the stats sidecars (no data I/O; counts
    * are None when some dir predates sidecars), history depth, the
    * CHECK-constraint count, and the active column mapping (its
    * manifest form, see [[Snapshot]]; empty when unmapped). Plain parquet dirs report
    * format "parquet" with only the location filled.
    */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val row = currentVersion(spark, path) match {
      case None =>
        Seq((path, "parquet", Option.empty[Long],
          Option.empty[java.sql.Timestamp], false, Seq.empty[String],
          0, 0, Option.empty[Long], Option.empty[Long], 0L, 0, 0, ""))
      case Some(v) =>
        val head = snapshot(spark, path, v)
        val partCols = head.partitionColumns
        // (dataDir, referenced partition prefixes — "" = whole dir)
        val dirRefs = byDataDir(head.entries)
        val perDir = dirRefs.map { case (dd, parts) =>
          DataSkipping.readStats(spark, new Path(path, dd).toString).map { sc =>
            val files = sc.files.filter { case (rel, _) => inSlice(rel, parts) }
            (files.size.toLong, files.values.map(_.rows).sum)
          }
        }
        val (nf, nrRaw) =
          if (perDir.forall(_.isDefined))
            (Some(perDir.flatMap(_.map(_._1)).sum), Some(perDir.flatMap(_.map(_._2)).sum))
          else (None, None)
        // LIVE deletion-vector entries: DV keys are data-dir-relative
        // (dvFileKey), so an entry is live iff its (dataDir[, partition])
        // prefix is still referenced by this version's manifest — an
        // equi-join on the extracted prefix, never a data scan. Stale
        // entries (from rewritten partitions) are excluded exactly.
        val nDel = head.dv match {
          case Nil => 0L
          case dirs =>
            import spark.implicits._
            val prefixes = dirRefs.flatMap { case (dd, parts) =>
              val dirName = new Path(path, dd).getName
              parts.map(p => if (p.isEmpty) dirName else s"$dirName/$p")
            }.distinct.toDF("__graft_prefix")
            val depth = if (partCols.isEmpty) 1 else 1 + partCols.size
            val keyPrefix = regexp_extract(col(DvFileCol),
              s"^((?:[^/]+/){${depth - 1}}[^/]+)", 1)
            dvFrame(spark, path, dirs)
              .withColumn("__graft_prefix", keyPrefix)
              .join(prefixes, Seq("__graft_prefix"), "left_semi").count()
        }
        val nr = nrRaw.map(_ - nDel)
        Seq((path, "graft", Some(v), head.ts.map(new java.sql.Timestamp(_)),
          head.partitioned, partCols,
          if (head.partitioned) head.entries.size else 0, dirRefs.size, nf, nr, nDel,
          versions(spark, path).size,
          Constraints.list(spark, path).size,
          head.colmapValue))
    }
    row.toDF("location", "format", "version", "commit_ts", "partitioned",
      "partition_columns", "n_partitions", "n_data_dirs", "num_files",
      "num_rows", "num_deleted_rows", "n_versions", "n_constraints",
      "column_mapping")
  }

  /** RESTORE-TABLE tier: republish the image of `version` as the NEXT
    * version — a metadata-only commit (the manifest body is re-pointed at
    * the old version's data dirs; zero data I/O, any table size). History
    * is untouched: the rolled-back versions stay readable via `readAt`
    * until `vacuum`, exactly Delta's RESTORE semantics. The restored
    * version's dirs must still exist, so restore what `vacuum` has kept.
    * A caller-supplied image ([[commitLoop]]'s replay discipline).
    * Returns the new version number.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    require(versions(spark, path).contains(version),
      s"restore: version $version not present at $path " +
        s"(have: ${versions(spark, path).mkString(", ")})")
    // the restored version's deletion vectors AND column mapping are part
    // of its snapshot — restoring without them would resurrect
    // vector-deleted rows / revert logical names
    val restored = snapshot(spark, path, version)
    commitLoop(spark, path, "restore", missing = None)(_ => Commit(restored, onMove = Replay))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE t SHALLOW CLONE s`): publish
    * `targetPath` as a new versioned table whose v1 manifest references
    * the SOURCE's data dirs by absolute path — a metadata-only commit,
    * zero data I/O at any table size. Dir references in manifests resolve
    * via `new Path(tablePath, dir)`, which passes absolute dirs through
    * untouched, so every read tier (snapshot, time travel, data skipping,
    * partition pruning) serves the clone from the source's files.
    *
    * Divergence semantics match Delta: writes to the clone lay fresh data
    * dirs under the CLONE's path and re-point only what changed (a
    * partitioned merge keeps untouched partitions on source dirs), while
    * the source never sees clone commits. `vacuum` on the clone only ever
    * deletes dirs under the clone's own path — it cannot reclaim source
    * files. The one shared hazard is Delta's too: `vacuum` on the SOURCE
    * can delete dirs a clone still references (the source does not know
    * its clones); keep source history for as long as clones of it live.
    *
    * `version` clones a historical snapshot (defaults to the current
    * one). Returns the clone's first version number (always 1).
    */
  def shallowClone(
      spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(currentVersion(spark, sourcePath).getOrElse(
      throw new IllegalStateException(
        s"shallowClone: no versioned table at $sourcePath")))
    require(versions(spark, sourcePath).contains(v),
      s"shallowClone: version $v not present at $sourcePath " +
        s"(have: ${versions(spark, sourcePath).mkString(", ")})")
    require(!exists(spark, targetPath),
      s"shallowClone: $targetPath already holds data (clone targets must " +
        "not exist — a manifest over a plain layout would shadow it and " +
        "vacuum would then delete it)")
    // every data dir the snapshot lists (several after merge-on-read
    // commits) and its deletion vectors, absolutized (DV rows already hold
    // absolute URIs); the column mapping travels with the view
    val source = snapshot(spark, sourcePath, v)
    def abs(dir: String) = new Path(sourcePath, dir).toString
    require(commitVersion(spark, targetPath, 1L, source.copy(
      entries = source.entries.map { case (p, dd) => (p, abs(dd)) }, dv = source.dv.map(abs))),
      s"shallowClone: lost the creation race at $targetPath")
    // clones carry the source's DDL verbatim (Delta clones table
    // properties): constraints, generation rules, properties and identity
    // rules WITH their watermark (a reset one would re-issue the values
    // the clone's data holds); drop them on the clone independently if
    // unwanted. Column defaults are clamped to the cloned version.
    TableDdl.copy(spark, sourcePath, targetPath, TableDdl.Files.filter(_ != TableDdl.Defaults))
    ColumnDefaults.copy(spark, sourcePath, targetPath, v)
    1L
  }

  /** Rewrite the CURRENT version of a partitioned versioned table into a
    * single fresh data dir and publish it as the next version. Two jobs at
    * 100 TB scale: (a) bounds the union fan-out of `read` (a long merge
    * history otherwise leaves the current version scattered over many data
    * dirs — one relation each), and (b) re-buckets the many small files
    * that per-batch merges of hot partitions accumulate. History is
    * untouched — run `vacuum` afterwards to reclaim it.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    // unpartitioned: fold a merge-on-read chain (N appended dirs + DVs)
    // back to one full-image dir; a no-chain table republishes its single
    // dir — still useful to materialize DVs
    publishMaintenance(spark, path, "compact", partitionColumns(spark, path),
      readVersion(spark, path, _))
    ()
  }

  /** Publish a MAINTENANCE rewrite — a full-image derivation of the head
    * ([[compact]]'s fold, [[optimize]]'s ZORDER cluster, [[optimizeBloom]]'s
    * bloom rewrite) whose only payload IS the head it read: `image(v)`
    * lands in a fresh dir and commits as v + 1 only while v is the head
    * ([[commitLoop]]'s recompute discipline — a rearrangement has no
    * payload to rebase). Cost of losing is one wasted rewrite.
    */
  private def publishMaintenance(
      spark: SparkSession, path: String, what: String,
      partitionColumns: Seq[String],
      image: Snapshot => DataFrame,
      preserveLayout: Boolean = false,
      filesPerPartition: Int = 1,
      writeOptions: Map[String, String] = Map.empty): Long =
    commitLoop(spark, path, what) { head =>
      // maintenance images arrange their OWN layout (compact's fold,
      // ZORDER's range slabs) — the adaptive sizing must not refuse it
      val dataDir = stage(spark, path, image(head), partitionColumns, filesPerPartition,
        writeOptions, keepLayout = preserveLayout || partitionColumns.isEmpty)
      // metadata-only entry derivation (lists the dirs the write produced)
      // — partitionDirsOf would re-execute the whole rewrite plan. A full
      // rewrite of the logical head image: DVs and an active column
      // mapping are materialized (a fresh snapshot) — the full-image
      // commit rules
      Commit(Snapshot(writtenPartitionDirs(spark, path, dataDir, partitionColumns)
        .map(_ -> dataDir)))
    }

  /** Delta-parity `GENERATE symlink_format_manifest`: export the CURRENT
    * version's live data files as plain text manifests readable by
    * Presto/Trino/Athena's SymlinkTextInputFormat — the interop tier the
    * reference leans on when Athena queries its lakehouse tables
    * (reference: README.md Athena section; Delta requires the same
    * manifest generation for Athena/Presto reads). Layout matches Delta:
    * `_symlink_format_manifest/manifest` for unpartitioned tables, one
    * `_symlink_format_manifest/<partition-dir>/manifest` per partition
    * otherwise, each listing fully-qualified file URIs one per line.
    *
    * Refused when the current version carries deletion vectors: a path
    * list cannot express row-level deletes, and exporting the raw files
    * would resurrect deleted rows (Delta refuses identically). Run
    * [[compact]]/[[compactWhere]] first to materialize the DVs.
    *
    * The export is a snapshot, not a subscription: later commits +
    * [[vacuum]] can remove files a stale manifest still lists —
    * regenerate after write batches (Delta's auto-generate table
    * property is this call in a commit hook). Stale partition manifests
    * from earlier exports are removed wholesale (the whole export dir is
    * rewritten), so dropped partitions do not linger as ghost listings.
    *
    * Returns (manifest file path, file count) per manifest written.
    * Metadata-only: one listing per referenced data dir, no data I/O.
    */
  def generateSymlinkManifest(
      spark: SparkSession, path: String): Seq[(String, Long)] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"generateSymlinkManifest: no versioned table at $path"))
    val head = snapshot(spark, path, v)
    // a symlink consumer reads raw files — it would see PHYSICAL column
    // names, silently diverging from this table's logical view
    if (head.mapped) throw new IllegalStateException(
      s"generateSymlinkManifest: table at $path carries an unmaterialized column mapping " +
        s"(renames: ${head.renames.map { case (p, l) => s"$p->$l" }.mkString(",")}; " +
        s"drops: ${head.drops.mkString(",")}). Run compact/optimize to " +
        "materialize the logical schema into the data files first — " +
        "reads and time travel work throughout.")
    if (head.dv.nonEmpty) {
      throw new IllegalStateException(
        s"generateSymlinkManifest: version $v of $path carries deletion " +
          "vectors; a symlink manifest lists whole files and would " +
          "resurrect deleted rows. Run compact()/compactWhere() first.")
    }
    val root = new Path(path, "_symlink_format_manifest")
    val fs = hadoopFs(spark, root)
    fs.delete(root, true)
    def dataFiles(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => fs.makeQualified(s.getPath).toUri.toString).sorted
    def write(rel: String, files: Seq[String]): (String, Long) = {
      val mf = new Path(root, rel)
      val out = fs.create(mf, true)
      try out.write(files.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      (mf.toString, files.size.toLong)
    }
    // one manifest per partition dir; an unpartitioned table's one
    // "partition" is the root, its dirs in chain order
    head.entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (partDir, es) =>
      val files = es.map(_._2).distinct.flatMap(dd => dataFiles(entryDir(path, partDir -> dd)))
      write(if (partDir.isEmpty) "manifest" else s"$partDir/manifest", files)
    }
  }

  /** Incremental small-dir compaction: fold ONLY the sub-`minBytes`
    * footprints into one fresh dir and republish the manifest with the
    * large ones untouched — the 100 TB shape for absorbing a stream of
    * small [[insertInto]] appends without [[compact]]'s O(table)
    * full-image rewrite (Delta OPTIMIZE's bin-packing contract: files
    * already at target size are never rewritten).
    *
    * UNPARTITIONED tables fold whole data dirs. PARTITIONED tables fold
    * per-(partition, dir) SLICES — the unit a daily-partitioned ingest
    * actually accumulates (reference: glue_etl.py:275 writes
    * date-partitioned batches): a hot partition's chain of small insert
    * slices folds into one dir entry while every settled partition —
    * and the big slices of the hot one (e.g. its original bulk load) —
    * keeps its entries untouched, zero I/O. A partition folds only when
    * it holds at least TWO sub-threshold slices.
    *
    * Refused while the version carries deletion vectors: DV'd dirs are
    * not independent row sets, so subset folding could separate a DV
    * from its leg — [[compact]]/[[compactWhere]] materialize them
    * first. No-op (returns the current version) when nothing qualifies.
    * Sizing is one metadata summary per dir (or per partition slice);
    * data I/O is O(small slices) only.
    */
  def compactSmall(
      spark: SparkSession, path: String,
      minBytes: Long = 32L * 1024 * 1024): Long =
    commitLoop(spark, path, "compactSmall") { head =>
      require(head.dv.isEmpty,
        s"compactSmall: version ${head.version} carries deletion vectors — run compact() " +
          "to materialize them first (subset folding could orphan a DV)")
      val fs = hadoopFs(spark, new Path(path))
      // per-(partition, dir) slice footprint — a dir may hold a big slice
      // of one partition and a tiny slice of another; an unpartitioned
      // table's dirs are slices of its one partition ""
      val foldable = head.entries
        .filter(e => fs.getContentSummary(entryDir(path, e)).getLength < minBytes)
        .groupBy(_._1).filter(_._2.size >= 2)
      if (foldable.isEmpty) NoOp(head.version)
      else {
        // physical in, physical out: the fold unions raw dirs and rewrites
        // them byte-compatible, so an active column mapping simply carries
        val folded = foldable.values.flatten.toSeq
        val partitionColumns = head.partitionColumns
        val dataDir = stage(spark, path, readSlice(spark, path, head, folded, logical = false),
          partitionColumns, physicalUnder = Some(head))
        val survivors = writtenPartitionDirs(spark, path, dataDir, partitionColumns).toSet
        require(survivors == foldable.keySet,
          s"compactSmall: folded rows landed outside their partitions at " +
            s"$path (${(survivors diff foldable.keySet).mkString(", ")})")
        Commit(head.copy(entries = head.entries.filterNot(folded.contains) ++
          foldable.keys.map(_ -> dataDir)))
      }
    }

  /** Partition-scoped compaction — Delta's `OPTIMIZE … WHERE` tier:
    * rewrite ONLY the partitions matching `predicate`, consolidating
    * their append-entry dir chains and materializing their deletion
    * vectors into one fresh dir; every other partition keeps its entries
    * untouched. This is the verb [[compact]] is missing at scale: after
    * a month of MOR merges into a hot partition, compacting it costs
    * O(hot partition), not O(table) — a 3-year table never rewrites cold
    * history to fold one day's chain.
    *
    * `predicate` must reference partition columns only (checked on the
    * unresolved attribute names): partition membership is decided per
    * PARTITION, and a data-column predicate would tear rows out of
    * partitions it matches partially. Carried deletion vectors stay in
    * the commit — their (file, row-index) keys no longer match the
    * compacted partitions' fresh files (their deletes are already
    * materialized) but keep deletes on untouched partitions in force,
    * the same carry rule as the merge rewrite path. Returns the
    * committed version (or the current one when nothing matches).
    */

  def compactWhere(
      spark: SparkSession, path: String, predicate: Column,
      filesPerPartition: Int = 1): Long =
    commitLoop(spark, path, "compactWhere") { head =>
      if (!head.partitioned) throw new IllegalStateException(
        s"compactWhere: $path holds an UNPARTITIONED versioned table — " +
          "use compact() (one dir chain, nothing to scope)")
      val partitionColumns = head.partitionColumns
      val filtered = readVersion(spark, path, head).filter(predicate)
      // reference check on the ANALYZED filter (Spark 4 Columns are lazy
      // ColumnNode trees — unresolvable without a plan)
      val refs = filtered.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSeq
      }.flatten
      val nonPartition = refs.filterNot(r =>
        partitionColumns.exists(_.equalsIgnoreCase(r))).distinct
      require(nonPartition.isEmpty,
        s"compactWhere: predicate references non-partition column(s) " +
          s"${nonPartition.mkString(", ")} — partition columns are " +
          s"${partitionColumns.mkString(", ")}")
      val affected = partitionDirsOf(filtered, partitionColumns).toSet
      if (affected.isEmpty) NoOp(head.version)
      else {
        // partition-scoped fold of raw physical dirs: the mapping carries
        // (predicates reference partition columns, which are never renamed)
        val dataDir = stage(spark, path,
          readSlice(spark, path, head, head.entries.filter(e => affected(e._1)), logical = false),
          partitionColumns, filesPerPartition, physicalUnder = Some(head))
        Commit(head.copy(entries = head.entries.filterNot(e => affected(e._1)) ++
          affected.toSeq.map(_ -> dataDir)))
      }
    }

  /** Time-based retention (Delta's `VACUUM … RETAIN n HOURS` semantics
    * mapped onto version retention): keep every version whose commit
    * time is at or after `now − horizonMillis` — always at
    * least the current version — then run the same reference-aware
    * sweep as [[vacuum]]. Pre-header manifests (no commit time) count as old.
    * A plain table keeps only its current state, so only its statistics
    * store has anything to sweep.
    */
  def vacuumOlderThan(spark: SparkSession, path: String, horizonMillis: Long): Unit =
    vacuum(spark, path, keepCountForHorizon(spark, path, horizonMillis))

  /** Retire history: keep the newest `keepLast` versions, delete older
    * manifests and every data dir (or partition subdir) no kept manifest
    * references, and — once a manifest exists — any parquet files still
    * sitting at the path ROOT (the pre-manifest plain layout a migrated
    * table leaves behind for its legacy readers).
    *
    * Reference-aware: a partitioned manifest may point untouched
    * partitions at data dirs written MANY versions ago, so "older than
    * keepLast" alone can't justify deletion — only unreferenced dirs go.
    *
    * The table's statistics store ([[statsDir]], an [[IndexStore]] dir of
    * ANALYZE sketches and histograms) is swept with the same retention:
    * it keeps its newest `keepLast` versions — at least its current one,
    * the only one its readers read — and every register or histogram dir
    * a re-ANALYZE replaced goes with the rest.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 2): Unit = {
    val fs = hadoopFs(spark, new Path(path))
    vacuumPlan(spark, path, keepLast).foreach { case (kind, p) =>
      fs.delete(new Path(p), kind != "manifest" && kind != "stray_file")
    }
  }

  /** What [[vacuum]] would delete, WITHOUT deleting — Delta's
    * `VACUUM … DRY RUN`: `(kind, path)` rows, kind ∈ `manifest` |
    * `data_dir` | `partition_dir` | `dv_dir` | `stray_file`. The listing
    * IS the sweep's work list ([[vacuum]] executes exactly these rows),
    * so the dry run is authoritative, not an approximation. Pure
    * metadata walk — one manifest-dir listing plus one listing per
    * top-level dir; no data I/O, no Spark job. The statistics store's rows
    * (see [[vacuum]]) follow the table's.
    */
  def vacuumPlan(
      spark: SparkSession, path: String, keepLast: Int = 2): Seq[(String, String)] = {
    require(keepLast >= 1, "vacuum must keep at least the current version")
    val stats = statsDir(path)
    sweepPlan(spark, path, keepLast) ++
      (if (IndexStore.exists(spark, stats)) sweepPlan(spark, stats, keepLast) else Nil)
  }

  /** [[vacuumPlan]]'s rows for one versioned dir: a table or an index. */
  private def sweepPlan(
      spark: SparkSession, path: String, keepLast: Int): Seq[(String, String)] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) return Nil
    val fs = hadoopFs(spark, new Path(path))
    val kept = vs.takeRight(keepLast).map(snapshot(spark, path, _))
    val out = Seq.newBuilder[(String, String)]
    // (partDir, dataDir) entries; partDir "" references the whole dir
    val refs = kept.flatMap(_.entries)
    val referencedDirs = refs.map(_._2).toSet
    // deletion-vector dirs still referenced by a kept version (resolved
    // names only — absolute entries point into a clone's SOURCE, which
    // this table does not own and must not touch)
    val keptDvNames = kept.flatMap(_.dv)
      .map(d => new Path(path, d))
      .filter(_.getParent == new Path(path, DvDirName))
      .map(_.getName).toSet
    vs.dropRight(keepLast).foreach { v =>
      out += ("manifest" -> new Path(manifestDir(path), f"v$v%020d").toString)
    }
    val dvRoot = new Path(path, DvDirName)
    if (fs.exists(dvRoot)) fs.listStatus(dvRoot).foreach { st =>
      if (st.isDirectory && !keptDvNames.contains(st.getPath.getName))
        out += ("dv_dir" -> st.getPath.toString)
    }
    fs.listStatus(new Path(path)).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && (name.startsWith("_v") || name.startsWith("_d"))) {
        if (!referencedDirs.contains(name)) out += ("data_dir" -> st.getPath.toString)
        else {
          // partially-referenced partitioned dir: drop stale partition
          // subdirs no kept manifest points at (full refs keep everything)
          val keptParts = refs.collect { case (p, `name`) if p.nonEmpty => p }.toSet
          val fullyRef = refs.contains("" -> name)
          if (!fullyRef && keptParts.nonEmpty)
            fs.listStatus(st.getPath).foreach { sub =>
              val subName = sub.getPath.getName
              if (sub.isDirectory && subName.contains("=") &&
                  !keptParts.exists(p => p == subName || p.startsWith(s"$subName/")))
                out += ("partition_dir" -> sub.getPath.toString)
            }
        }
      } else if (st.isFile && !name.startsWith("_"))
        out += ("stray_file" -> st.getPath.toString)
    }
    out.result()
  }

  /** The keepLast count [[vacuumOlderThan]]'s horizon resolves to — the
    * shared translation for the sweep and its DRY RUN.
    */
  private[graft] def keepCountForHorizon(
      spark: SparkSession, path: String, horizonMillis: Long): Int = {
    require(horizonMillis >= 0, "vacuumOlderThan: horizon must be >= 0")
    val vs = versions(spark, path)
    if (vs.isEmpty) return 1
    val cutoff = System.currentTimeMillis() - horizonMillis
    // keep from the OLDEST in-horizon version onward — not takeWhile from
    // the newest, which a single skew-stamped mid-history version would
    // stop early, sweeping newer-than-horizon versions behind it
    math.max(vs.indexWhere(v =>
      commitTimestamp(spark, path, v).getOrElse(Long.MinValue) >= cutoff) match {
      case -1 => 1                 // nothing in horizon: current version only
      case i  => vs.length - i     // oldest in-horizon version and everything after
    }, 1)
  }

  /** Table integrity report — the `fsck` verb. One row per finding,
    * `(kind, version, detail)`; ZERO rows = every live version is fully
    * servable from the bytes on disk and no unreferenced bytes linger.
    *
    * Kinds:
    *   - `dangling_entry` — a partitioned manifest maps a partition to a
    *     data dir that lacks that partition subdir: reads and merges of
    *     the partition fail with PATH_NOT_FOUND (the bug class the
    *     conditional-DELETE rewrite tier once had; fsck is its field
    *     detector and regression tripwire)
    *   - `missing_data_dir` — an unpartitioned version's data dir is gone
    *   - `missing_dv` — a version names a deletion-vector dir that
    *     is gone: vector-deleted rows would resurrect on read
    *   - `orphan_dir` / `orphan_dv` (version -1) — bytes NO live version
    *     references: a crashed writer or lost CAS racer left them; wasted
    *     storage, reclaimed by the next [[vacuum]]
    *
    * Pure metadata walk at Delta-log scale (one existence probe per
    * manifest entry + one listing per top-level dir); no data files are
    * read, no Spark job runs. All live (non-vacuumed) versions are
    * checked — a finding on an OLD version breaks time travel, not
    * current reads; `detail` names the version so the operator can decide
    * between repair and vacuum.
    */
  def fsck(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs = hadoopFs(spark, root)
    val findings = scala.collection.mutable.ArrayBuffer[(String, Long, String)]()
    val referenced = scala.collection.mutable.Set[String]()
    val referencedDv = scala.collection.mutable.Set[String]()
    versions(spark, path).foreach { v =>
      val s = snapshot(spark, path, v)
      s.entries.foreach { case entry @ (p, dd) =>
        referenced += dd
        if (!fs.exists(entryDir(path, entry)))
          findings += (if (p.isEmpty) ("missing_data_dir", v, dd)
            else ("dangling_entry", v, s"$p -> $dd"))
      }
      s.dv.foreach { d =>
        val dp = new Path(path, d)
        if (dp.getParent == new Path(path, DvDirName)) referencedDv += dp.getName
        if (!fs.exists(dp)) findings += (("missing_dv", v, d))
      }
    }
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && (name.startsWith("_d") || name.startsWith("_v")) &&
          !referenced.contains(name))
        findings += (("orphan_dir", -1L, name))
    }
    val dvRoot = new Path(path, DvDirName)
    if (fs.exists(dvRoot)) fs.listStatus(dvRoot).foreach { st =>
      if (st.isDirectory && !referencedDv.contains(st.getPath.getName))
        findings += (("orphan_dv", -1L, s"$DvDirName/${st.getPath.getName}"))
    }
    findings.toSeq.toDF("kind", "version", "detail")
  }

  /** Right-to-be-forgotten purge (the GDPR verb): make every row matching
    * `condition` irrecoverable from the table DIRECTORY, not merely
    * absent from the current snapshot. The lakehouse's own guarantees
    * work AGAINST erasure — time travel keeps old images readable, DVs
    * mask rows without removing their bytes, and the change feed is a
    * literal record of deleted rows — so purge composes the verbs:
    *
    *   1. copy-on-write [[delete]] (never the DV tier: matching bytes
    *      must leave the data files, not hide behind a mask);
    *   2. if the current version still reads through DVs, [[compact]] —
    *      previously-DV-deleted rows' bytes (which may also match) leave
    *      the kept files;
    *   3. [[vacuum]](keepLast = 1): every pre-purge version's manifests
    *      and data dirs are deleted — time travel to any pre-purge image
    *      is gone by construction;
    *   4. the change feed, if present, must be explicitly surrendered:
    *      purge REFUSES when `_graft_changes` manifests exist unless
    *      `dropChangeFeed = true` (then the whole feed is deleted) —
    *      destroying a consumer-visible feed silently is worse than
    *      making the caller say so;
    *   5. VERIFY, don't trust: [[fsck]] must report clean and the
    *      condition must match ZERO rows at every remaining version —
    *      an erasure verb does not report success on faith.
    *
    * Returns the number of live rows erased. Scale shape: one pruned
    * count + the delete's partition-scoped rewrite + (only if DVs exist)
    * one compaction; verification is one metadata walk plus a pruned
    * count per REMAINING version (exactly one after vacuum keepLast=1,
    * plus any the purge itself committed).
    */
  def purge(
      spark: SparkSession, path: String, condition: Column,
      dropChangeFeed: Boolean = false): Long = {
    currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"purge: no versioned table at $path"))
    // a column mapping needs no special-casing here: the condition
    // evaluates against each version's LOGICAL view (delete and the
    // readAt verification both apply the map), matching bytes leave via
    // delete's physical rewrite, and vacuum/fsck are name-agnostic
    TableProperties.requireNotAppendOnly(spark, path, "purge")
    val fs = hadoopFs(spark, new Path(path))
    // a shallow clone's CURRENT version reads the SOURCE's data dirs by
    // absolute path — deleting/vacuuming here cannot touch those bytes,
    // so a "successful" purge of such a clone would be a false erasure
    // claim. Refuse: purge the SOURCE (and re-clone), or compact the
    // clone first (compact materializes a local full image). Only the
    // CURRENT version gates — older absolute-ref manifests are deleted
    // wholesale by the vacuum(keepLast = 1) below, so nothing that
    // SURVIVES this purge can reference foreign bytes.
    currentVersion(spark, path).foreach { v =>
      val foreign = snapshot(spark, path, v).dataDirs.filter(d => new Path(d).isAbsolute)
      require(foreign.isEmpty,
        s"purge: the current version of $path references data OUTSIDE " +
          s"the table dir (shallow clone): ${foreign.head} — purging here " +
          "cannot erase the source's bytes. Purge the source table, or " +
          "compact this clone first to localize its data.")
    }
    val hasChanges = fs.exists(changesDir(path)) &&
      fs.listStatus(changesDir(path)).nonEmpty
    require(!hasChanges || dropChangeFeed,
      s"purge: $path has a change feed (_graft_changes) — it records the " +
        "very rows purge must erase. Pass dropChangeFeed = true to delete " +
        "it with the history, or drain the feed first.")
    val matched = read(spark, path).filter(condition).count()
    if (matched > 0) delete(spark, path, condition)
    if (dvDirs(spark, path, currentVersion(spark, path).get).nonEmpty)
      compact(spark, path)
    vacuum(spark, path, keepLast = 1)
    if (hasChanges) { fs.delete(changesDir(path), true); () }
    // orphan_dir/orphan_dv are bytes NO live version references — an
    // in-flight concurrent writer's uncommitted staging dirs show up as
    // exactly that kind. They cannot hold rows any reader reaches, so
    // they do not affect erasure; failing on them would report failure
    // for a purge that actually succeeded (after destructively deleting
    // history). Gate only on findings that break live-version integrity.
    val findings = fsck(spark, path)
      .filter(!col("kind").isin("orphan_dir", "orphan_dv")).collect()
    require(findings.isEmpty,
      s"purge: post-purge fsck reports ${findings.length} finding(s): " +
        findings.take(3).mkString("; "))
    versions(spark, path).foreach { v =>
      val still = readAt(spark, path, v).filter(condition).count()
      require(still == 0,
        s"purge: version $v still matches $still row(s) after purge")
    }
    matched
  }

  /** Fail fast (one linear key-count job across all snapshots) when any
    * snapshot holds a duplicated PK — see `changes` for why spurious
    * fan-out is worse than the probe's cost.
    */
  private def requireUniquePk(
      snapshots: Seq[(String, DataFrame)], pk: Seq[String], ctx: String): Unit = {
    val dup = snapshots.map { case (tag, df) =>
      df.groupBy(pk.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .select((lit(tag).as("__snap") +: pk.map(c => col(c).cast("string"))): _*)
    }.reduce(_.unionByName(_)).limit(1).collect()
    if (dup.nonEmpty) {
      val r = dup.head
      val key = pk.zipWithIndex.map { case (c, i) => s"$c=${r.get(i + 1)}" }
        .mkString(", ")
      throw new IllegalArgumentException(
        s"$ctx: snapshot ${r.getString(0)} holds duplicate primary key ($key); " +
          "a PK-duplicated snapshot fans the full-outer join into spurious " +
          "change rows. Deduplicate (dropDuplicates) before versioning.")
    }
  }

  private def withConf[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    // the explicitly set value only: `getOption` answers a registered
    // key's default too, and restoring that would leave the key set
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

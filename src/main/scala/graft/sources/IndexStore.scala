package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every persisted index (BM25, the MinHash
  * and winnowing history stores, the bigram LM, DSIR, IVF, IVF-PQ and the
  * ANALYZE sketch under a table's `_graft_stats`) — and the single
  * statement of the index layout.
  *
  * An index dir is a versioned table whose versions are [[ParquetTable.Snapshot]]s:
  *
  *   - each entry is `(artifactName, dataDir)`, and the artifact's files
  *     live at `dir/<dataDir>/<artifactName>` — the shape of a partitioned
  *     entry, so [[ParquetTable.fsck]], [[ParquetTable.vacuum]],
  *     [[ParquetTable.history]] and time travel work on an index dir
  *     unchanged. Every staged artifact gets its own data dir from the one
  *     minting path ([[ParquetTable.mintDataDir]]), so a replaced artifact
  *     leaves a whole unreferenced dir for vacuum to reclaim;
  *   - the index's pinned scalar parameters (BM25's `n`/`avgdl`, MinHash's
  *     `n`/`num_hashes`/`bands`/`seed`/`base_hash`, …) ride the version's
  *     `#props=` header: reading them is one small text read, no Spark job;
  *   - a reader resolves an artifact through the head manifest: the union
  *     of that artifact's entry dirs ([[Head.read]]).
  *
  * Two write verbs, both through [[ParquetTable.commitLoop]], so a version
  * is published by ONE manifest CAS after every artifact it names has
  * landed. A crash at any filesystem step before the CAS leaves the
  * previous version intact and the staged dirs as `orphan_dir` findings
  * for vacuum; there is no per-store write order or torn-index marker.
  *
  *   - [[save]] — a full build: every artifact and parameter is replaced.
  *     The image does not depend on the head, so a lost race `Replay`s it
  *     at the next version (last writer wins, like `atomicReplace`);
  *   - [[update]] — anything derived from the head (BM25's `termstats`
  *     re-aggregate, an append that reads the pinned parameters, a
  *     sketch's register append plus its version advance). A **replace**
  *     re-points an artifact's entries at one fresh dir; an **append**
  *     adds an entry beside the old ones, as a merge-on-read partition
  *     does. Parameters not named keep the head's values. A lost race
  *     `Recompute`s the update against the winner's head.
  *
  * Artifacts skip the table-only staging steps: no fills, no CHECK
  * constraints, no stats sidecar.
  *
  * Indexes are derived and rebuildable, so a dir written before indexes
  * were versioned (artifact dirs directly under `dir`, parameters in
  * 1-row parquet dirs) is not read: readers fail with a "rebuild" message,
  * and a `_graft_stats` of that shape reads as "not analyzed" (statistics
  * are advisory).
  */
private[graft] object IndexStore {

  /** One artifact to stage: its name, and how to write it into the fresh
    * (not yet existing) directory it is handed.
    */
  type Artifact = (String, String => Unit)

  /** An artifact written as byte-sized parquet ([[ParquetTable.sizedForWrite]]). */
  def parquet(name: String, df: DataFrame): Artifact =
    name -> (p => ParquetTable.sizedForWrite(df).write.parquet(p))

  /** One committed index version: its pinned parameters and artifact entries. */
  final case class Head(
      dir: String, version: Long, props: Map[String, String], entries: Seq[(String, String)]) {

    /** The pinned parameter `key`. */
    def apply(key: String): String = props.getOrElse(key, throw new IllegalStateException(
      s"index at $dir (version $version) pins no '$key' — rebuild the index"))

    def has(artifact: String): Boolean = entries.exists(_._1 == artifact)

    /** The directories holding `artifact`'s files, in commit order. */
    def paths(artifact: String): Seq[String] =
      entries.collect { case (`artifact`, d) => new Path(new Path(dir, d), artifact).toString }

    /** `artifact` as one frame: the union of its entry dirs. */
    def read(spark: SparkSession, artifact: String): DataFrame = {
      val ps = paths(artifact)
      require(ps.nonEmpty, s"index at $dir (version $version) has no '$artifact' — rebuild the index")
      spark.read.parquet(ps: _*)
    }
  }

  /** What an [[update]] publishes beside the head: artifacts that replace
    * the head's entries of their name, artifacts appended beside them, and
    * parameters that override the head's. `cached` frames are unpersisted
    * once the artifacts are staged.
    */
  final case class Update(
      replace: Seq[Artifact] = Nil,
      append: Seq[Artifact] = Nil,
      props: Map[String, String] = Map.empty,
      cached: Seq[DataFrame] = Nil)

  /** Whether an index version is committed at `dir` — one existence probe. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val md = ParquetTable.manifestDir(dir)
    md.getFileSystem(spark.sessionState.newHadoopConf()).exists(md)
  }

  def headOption(spark: SparkSession, dir: String): Option[Head] =
    ParquetTable.currentVersion(spark, dir).map { v =>
      val s = ParquetTable.snapshot(spark, dir, v)
      Head(dir, v, s.props, s.entries)
    }

  def head(spark: SparkSession, dir: String): Head =
    headOption(spark, dir).getOrElse(throw new IllegalStateException(s"no index at $dir$Missing"))

  private val Missing =
    " — build it first (a dir written before indexes were versioned must be rebuilt)"

  /** Publish a full build: `artifacts` and `props` are the whole version. */
  def save(spark: SparkSession, dir: String, verb: String, props: Map[String, String])(
      artifacts: Artifact*): Long =
    ParquetTable.commitLoop(spark, dir, verb, missing = None) { _ =>
      ParquetTable.Commit(ParquetTable.Snapshot(stage(dir, artifacts), props = props),
        onMove = ParquetTable.Replay)
    }

  /** Publish `f(head)` over the head (see [[Update]]); an update that
    * stages nothing and changes no parameter commits nothing. `create`
    * lets the first version of the dir be an update of an empty head.
    * Returns the committed (or unchanged head) version.
    */
  def update(spark: SparkSession, dir: String, verb: String, create: Boolean = false)(
      f: Head => Update): Long =
    ParquetTable.commitLoop(spark, dir, verb, missing = Option.unless(create)(Missing)) { s =>
      val u = f(Head(dir, s.version, s.props, s.entries))
      if (u.replace.isEmpty && u.append.isEmpty && u.props.toSet.subsetOf(s.props.toSet))
        ParquetTable.NoOp(s.version)
      else {
        val staged = try stage(dir, u.replace ++ u.append) finally u.cached.foreach(_.unpersist())
        val replaced = u.replace.map(_._1).toSet
        ParquetTable.Commit(s.copy(
          entries = s.entries.filterNot(e => replaced(e._1)) ++ staged,
          props = s.props ++ u.props))
      }
    }

  private def stage(dir: String, artifacts: Seq[Artifact]): Seq[(String, String)] =
    artifacts.map { case (name, write) =>
      val dataDir = ParquetTable.mintDataDir()
      write(new Path(new Path(dir, dataDir), name).toString)
      name -> dataDir
    }
}

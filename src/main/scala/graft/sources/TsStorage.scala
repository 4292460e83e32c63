package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Physical layout + write path for the TS table at cluster scale — the
  * Spark replacement for the reference's shard files + hand-built range
  * index (`/root/reference/src/timeseries/shard.re`,
  * `/root/reference/src/timeseries/index.re`).
  *
  * Layout: parquet partitioned by `(series_id, day)`. Partition pruning on
  * those directories plus parquet row-group min/max stats on `t` give
  * the same two-level skip as the reference's index (SURVEY §4 row 1) with
  * zero custom code — and it keeps working at 100 TB where the reference's
  * in-memory index cannot.
  *
  * Write path (S1): the reference absorbs writes in an in-memory buffer,
  * flushes it to a shard and merges shards later (`timeseries.re:133-148`
  * flush, `:57-111` merge). Here the engine's write-behind buffer is the
  * membuf, and [[append]] is the flush: the batch lands as ONE parquet
  * file — a *flush run* in `<root>_runs/` — written on the driver from
  * the engine's serialized rows through Spark's `ParquetWriteSupport`,
  * with no Spark job, no plan and no process fork ([[LocalWrite]]). Every
  * read sees the table root and the runs together (T7), so read-your-
  * writes holds from the flush on; the root is read with an explicit
  * schema, so `series_id` and `day` stay the directory strings
  * ([[rootSchema]]). A bounded *fold* ([[foldRuns]]) is the
  * shard merge: once the runs reach [[FoldRuns]] files or [[FoldBytes]]
  * bytes, it moves them into the `(series_id, day)` layout with the
  * clustered partitioned write. Out-of-order/late data simply lands in
  * its (old) day partition at fold time. [[delete]] and [[compact]] fold
  * first; [[write]] drops the runs. The engine keeps the unfolded rows
  * in memory too (`graft.TsTail`) and answers the reads they cover from
  * there; [[unfolded]] and [[foldedSeries]] rebuild that state on a
  * restart.
  *
  * Delete (S6): one path, the reference's shard rewrite
  * (`timeseries.re:431-487`): [[delete]] rewrites only the `(series_id,
  * day)` partitions holding doomed rows.
  *
  * Compaction (S2): the reference merges overlapping shards on flush
  * (`timeseries.re:57-111`); here overlap cannot happen (a row belongs to
  * exactly one partition), so compaction degenerates to coalescing small
  * files per partition. [[compact]] is the OPTIMIZE analogue and is
  * PARTITION-SCOPED: only partitions over the file bound are rewritten,
  * so a nightly compact costs the touched fraction, never a full-table
  * pass.
  *
  * Crash model: a flush run is written under a hidden `.inprogress` name
  * and committed by its rename; a kill before that leaves a hidden file no
  * reader lists. The fold, [[delete]] and [[compact]] each replace
  * committed files through the one [[Commit]] protocol: new files staged
  * aside, one manifest committed by rename, then applied. Every entry
  * point — [[exists]], [[read]], [[maxEventId]], [[append]], [[delete]],
  * [[compact]] — first applies a committed manifest ([[Commit.repair]]),
  * so no reader or writer ever acts on a half-applied commit. Single
  * writer assumed (like the reference's single store process). A commit
  * retires files, so it must not overlap a scan that listed them: the
  * engine facade flushes (and so folds) under its flush lock before it
  * reads, and the wire server takes its write lock for every POST.
  */
object TsStorage {

  /** `ts` with its partition column `day` (`yyyy-MM-dd` of `t`). */
  private[graft] def withDay(ts: DataFrame): DataFrame =
    ts.withColumn("day", date_format(timestamp_millis(col("t")), "yyyy-MM-dd"))

  // the fold bound, in run files or bytes (WriteLayout's 64 MB bucket): a
  // fold costs about one partitioned Spark write, so 64 runs spread it
  // thin over the flushes, and a read opens at most 64 small run files
  private val FoldRuns = 64
  private val FoldBytes = 64L * 1024 * 1024

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def runsDir(root: String): Path = new Path(root + "_runs")

  /** The committed flush runs, oldest name first. Hidden `.inprogress`
    * files (a run killed before its commit rename) never count.
    */
  private def listRuns(fs: FileSystem, root: String): Seq[FileStatus] = {
    val dir = runsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.getPath.getName)
  }

  private def hasPartitions(fs: FileSystem, root: String): Boolean = {
    val rootP = new Path(root)
    fs.exists(rootP) &&
      fs.listStatus(rootP).exists(_.getPath.getName.startsWith("series_id="))
  }

  /** True when the table has data partitions or committed flush runs — a
    * root holding just `_SUCCESS` (every series deleted) is no table.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    hasPartitions(fs, root) || listRuns(fs, root).nonEmpty
  }

  /** The raw table: the root's partitions ∪ the flush runs, unioned by
    * name, `day` as its `yyyy-MM-dd` string on both sides (a run row gets
    * it from [[withDay]], the expression the partitioned write uses).
    * With neither present this is the plain root read, and fails as a
    * missing table does.
    */
  private def scan(spark: SparkSession, fs: FileSystem, root: String): DataFrame =
    (rootSchema(spark, fs, root).map(spark.read.schema(_).parquet(root)) ++
      runsFrame(spark, fs, root).map(withDay))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.read.parquet(root))

  /** The read schema of the root's layout, None without a data file: one
    * data file's footer schema plus `series_id` and `day` as strings.
    * Partition inference would type an all-digit id as a number (`007`
    * reads back as `7`) and `day` as a DATE; the explicit types keep the
    * directory strings, and the read infers nothing.
    */
  private def rootSchema(spark: SparkSession, fs: FileSystem, root: String): Option[StructType] = {
    def dirs(p: Path, prefix: String) =
      fs.listStatus(p).iterator.filter(_.getPath.getName.startsWith(prefix)).map(_.getPath)
    val rootP = new Path(root)
    if (!fs.exists(rootP)) None
    else dirs(rootP, "series_id=").flatMap(dirs(_, "day="))
      .flatMap(fs.listStatus(_).iterator.map(_.getPath).filter(_.getName.endsWith(".parquet")))
      .nextOption()
      .map(f => LocalWrite.footerSchema(spark, f)
        .add("series_id", StringType).add("day", StringType))
  }

  /** The committed flush runs as one frame in their own schema (no
    * `day`), None without runs. The schema is one run's footer, read on
    * the driver, so this adds no schema-inference job.
    */
  private def runsFrame(spark: SparkSession, fs: FileSystem, root: String): Option[DataFrame] =
    listRuns(fs, root).headOption.map(r =>
      spark.read.schema(LocalWrite.footerSchema(spark, r.getPath)).parquet(runsDir(root).toString))

  /** Resolve the filesystem OF THE TABLE PATH — `FileSystem.get(conf)`
    * resolves `fs.defaultFS`, which silently targets the wrong filesystem
    * when the table lives on s3a/hdfs while the default differs.
    */
  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Full (re)write of the TS table in the partitioned layout. Settles
    * any committed change first — a manifest applied after the overwrite
    * would move stale files into the new table.
    */
  def write(ts: DataFrame, path: String): Unit = {
    val root = path.stripSuffix("/")
    val fs = fsFor(ts.sparkSession, root)
    Commit.settle(fs, root)
    // a full rewrite replaces the table, pending flush runs included
    fs.delete(runsDir(root), true)
    // cluster by target partition before the partitioned write: without
    // this every one of the P input tasks opens a file in every touched
    // (series, day) dir — P × dirs small files per write, the classic
    // lake small-files explosion. A size-adaptive time-hash salt
    // ([[WriteLayout.saltBuckets]]) bounds each dir's file count while
    // keeping a hot (series, day) off a single task; compact() still
    // squeezes to 1 when asked.
    WriteLayout.clusterForWrite(withDay(ts), Seq("series_id", "day"), col("t"))
      .write.partitionBy("series_id", "day")
      .mode(SaveMode.Overwrite).parquet(path)
  }

  /** S1 ingest, the engine's write-behind flush: commit driver-side rows
    * as ONE flush run — one parquet file in `<root>_runs/`, written with
    * no Spark job, no plan and no process fork ([[LocalWrite]]) — then
    * [[foldRuns]] once the runs reach the bound; returns whether it
    * folded. `rows` are laid out as `schema`, which the run keeps: numeric
    * `(series_id, t, value, tags, event_id)` or blob `(series_id, t, blob,
    * event_id)`, no `day` column. The engine hands in its buffered rows
    * through one serializer per table, built once.
    *
    * Appending is an entry point like any other: it applies a committed
    * manifest first, so a run never lands beside a half-applied commit.
    */
  def append(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow],
             path: String): Boolean = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    val run = LocalWrite.commit(spark, schema, rows, runsDir(root))
    log.info(f"flush run $root: ${run.rows} rows, ${run.bytes} bytes, 1 file, ${run.ms}%.1f ms")
    val runs = listRuns(fs, root)
    val fold = runs.size >= FoldRuns || runs.map(_.getLen).sum >= FoldBytes
    if (fold) foldRuns(spark, fs, root)
    fold
  }

  /** [[append]] of a driver-local frame's rows: its optimized plan must be
    * a `LocalRelation`, else IllegalArgumentException before any file is
    * touched.
    */
  def append(ts: DataFrame, path: String): Boolean = {
    val rel = LocalWrite.localRelation(ts)
    append(ts.sparkSession, rel.schema, rel.data.iterator, path)
  }

  /** The shard merge (`timeseries.re:57-111`): one [[Commit]] that
    * stages the runs' rows with the clustered partitioned write and
    * retires exactly the run files that write read.
    */
  private def foldRuns(spark: SparkSession, fs: FileSystem, root: String): Unit =
    runsFrame(spark, fs, root).foreach { fromRuns =>
      Commit.commit(fs, root, "fold") { stage =>
        // same clustering as [[write]]: without it every scan task opens a
        // file in every touched (series, day) dir
        WriteLayout.clusterForWrite(withDay(fromRuns), Seq("series_id", "day"), col("t"))
          .write.partitionBy("series_id", "day")
          .mode(SaveMode.Overwrite).parquet(stage.toString)
        fromRuns.inputFiles.toSeq
      }
    }

  /** Read back as the canonical TS frame: root and flush runs together.
    * `ts_raw` is optional (facade-ingested frames carry only epoch-ms
    * `t`); `blob` covers the blob-series layout, which shares this
    * storage. A committed change a crash left half-applied is rolled
    * forward first ([[Commit.repair]]; one existence check on a settled
    * table).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    val raw = scan(spark, fs, root)
    val cols = Seq("series_id", "t", "value", "tags", "blob", "event_id", "ts_raw")
      .filter(raw.columns.contains)
    raw.select(cols.map(col): _*)
  }

  /** The rows of the committed flush runs, None without runs — what the
    * engine's unfolded tail reloads on a restart.
    */
  def unfolded(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    runsFrame(spark, fs, root)
  }

  /** The series the layout holds rows of, off its `series_id=`
    * directory names (the ids as written, not as partition inference
    * would type them). Reads no data.
    */
  def foldedSeries(spark: SparkSession, path: String): Seq[String] = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    if (!hasPartitions(fs, root)) Nil
    else fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("series_id="))
      .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix("series_id=")))
  }

  /** The event-id high-water mark over root and runs — what a restarted
    * writer must resume PAST, including ids held only in flush runs.
    * None on a table with no `event_id` column.
    */
  def maxEventId(spark: SparkSession, path: String): Option[Long] = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.repair(fs, root)
    val raw = scan(spark, fs, root)
    if (!raw.columns.contains("event_id")) None
    else Option(raw.agg(max("event_id")).head().get(0)).map(_.asInstanceOf[Long])
  }

  /** S6 delete at scale: durable delete-by-query as a PARTITION-scoped
    * anti-join rewrite — the Spark analogue of the reference's shard
    * rewrite (`timeseries.re:431-487`), replacing the facade's
    * collect+rebuild (which is correct for a membuf but a scale-killer on
    * a real table).
    *
    * Bystander semantics match [[graft.operators.TsOps.deleteByQuery]]:
    * every record of the QUERIED series sharing a matched timestamp dies,
    * including same-timestamp bystanders that don't match the tag filter.
    *
    * Only partitions that actually contain doomed rows are rewritten;
    * untouched partitions — the vast majority under a time-bounded delete —
    * are never read twice nor rewritten. The affected-partition collect is
    * partition METADATA (two strings per `(series, day)`), not data. The
    * rewrite is one [[Commit]], so the whole call is atomic; a partition
    * left without survivors is removed.
    */
  def delete(spark: SparkSession, path: String,
             ids: Seq[String], sel: graft.operators.Selector,
             pred: Option[graft.operators.TagPred]): Unit = {
    import graft.operators.TsOps
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.settle(fs, root)
    // the rewrite is partition-scoped: pending runs join the layout first
    foldRuns(spark, fs, root)
    val raw = scan(spark, fs, root)
    val matchedTs = pred.foldLeft(TsOps.select(raw, ids, sel))(TsOps.tagFilter)
      .select(col("t").as("del_t")).distinct()
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val affected = TsOps.selectSeries(raw, ids)
      .join(matchedTs, col("t") === col("del_t"), "left_semi")
      .select("series_id", "day").distinct().collect()
      .map(r => s"series_id=${esc(r.getString(0))}/day=${r.getString(1)}")
    rewrite(spark, fs, root, "delete", affected.toSeq)(
      _.join(matchedTs, col("t") === col("del_t"), "left_anti"))
  }

  /** Rewrite the partitions `rels` (`series_id=<escaped>/day=<day>`) in
    * one [[Commit]]: their rows, through `f`, land in the stage, and every
    * data file the scoped read consumed retires. No-op without partitions.
    */
  private def rewrite(spark: SparkSession, fs: FileSystem, root: String, kind: String,
                      rels: Seq[String])(f: DataFrame => DataFrame): Unit =
    if (rels.nonEmpty) Commit.commit(fs, root, kind) { stage =>
      val scoped = spark.read.schema(rootSchema(spark, fs, root).get).option("basePath", root)
        .parquet(rels.map(rel => s"$root/$rel"): _*)
      f(scoped).write.partitionBy("series_id", "day")
        .mode(SaveMode.Overwrite).parquet(stage.toString)
      scoped.inputFiles.toSeq
    }

  /** Within-partition file salt for a compaction rewrite: `event_id` when
    * the table carries it (the clustered-write invariant, [[write]]), else
    * `xxhash64(t)` — [[read]] treats `event_id` as optional and
    * [[write]]/[[append]] accept arbitrary frames, so compacting an
    * id-less table must degrade to a timestamp salt, not throw
    * AnalysisException (r11 verdict, What's wrong #3).
    */
  private def saltFor(df: DataFrame, maxFilesPerPartition: Int) =
    pmod(
      if (df.columns.contains("event_id")) col("event_id")
      else xxhash64(col("t")),
      lit(maxFilesPerPartition.toLong))

  /** S2 compaction, PARTITION-SCOPED (the reference's shard merge,
    * `timeseries.re:57-111`, done right at scale): rewrite ONLY the
    * `(series_id, day)` partitions holding more data files than
    * `maxFilesPerPartition`, and never touch the rest. At 100 TB a nightly
    * compact over a table whose appends and deletes land in a handful of
    * recent partitions costs the touched fraction, not a full-table pass;
    * untouched partitions' files are byte-identical afterwards
    * (spec-pinned). Pending flush runs are folded first.
    *
    * The target census is FILESYSTEM METADATA (directory listings, never
    * data). The file-count bound is honored via an event-id salt in the
    * repartition key — repartitioning by the partition columns alone
    * would hash each whole partition to ONE task regardless of the
    * requested count ("at most" because distinct salts can still hash to
    * the same task). The rewrite is one [[Commit]], the delete's.
    */
  def compact(spark: SparkSession, path: String, maxFilesPerPartition: Int = 1): Unit = {
    val root = path.stripSuffix("/")
    val fs = fsFor(spark, root)
    Commit.settle(fs, root)
    foldRuns(spark, fs, root)
    val rootP = new Path(root)
    if (!fs.exists(rootP)) return
    // the target census: metadata only
    val targets: Seq[String] = for {
      sd <- fs.listStatus(rootP).toSeq if sd.getPath.getName.startsWith("series_id=")
      dd <- fs.listStatus(sd.getPath).toSeq if dd.getPath.getName.startsWith("day=")
      if fs.listStatus(dd.getPath).count(_.getPath.getName.endsWith(".parquet")) >
        maxFilesPerPartition
    } yield s"${sd.getPath.getName}/${dd.getPath.getName}"
    rewrite(spark, fs, root, "compact", targets) { scoped =>
      scoped
        .withColumn("__salt", saltFor(scoped, maxFilesPerPartition))
        .repartition(col("series_id"), col("day"), col("__salt"))
        .drop("__salt")
    }
  }
}

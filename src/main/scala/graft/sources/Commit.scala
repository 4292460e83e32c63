package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol of the durable stores: every change that
  * replaces committed files runs through it — the TS fold, delete and
  * compact ([[TsStorage]]) and the KV compact ([[KvStorage]]). The
  * reference gets this from Irmin: every write is a commit, and its flush
  * merge and its delete share one shard-rewrite routine
  * (`timeseries.re:57-111,431-487`). The unit is the file, so a commit
  * touches only the partitions it rewrites.
  *
  * A commit stages its new files in `<root>_stage`, then commits one
  * manifest, `<root>_commit`, written aside and renamed into place — THAT
  * rename is the commit point. Each manifest line is `A <rel>`, a staged
  * file to move into the table at `<rel>`, or `D <rel>`, a committed file
  * to retire; `rel` is relative to the root's parent, so a fold can
  * retire the flush runs in `<root>_runs`. [[apply]] then:
  *  1. renames each staged file whose target is absent into place;
  *  2. deletes each retired file;
  *  3. removes the `day=` and `series_id=` dirs those retires emptied;
  *  4. deletes the manifest.
  *
  * Each step can be repeated: a rename into an absent name, a delete of a
  * retired file and the removal of an empty dir end in the same state
  * however often, and by whoever, they run; a rename that loses a race
  * checks that end state ([[recoveredRename]]). So every entry point of
  * both stores, reader or writer, runs [[repair]] first, and concurrent
  * appliers end alike. A kill before the commit rename leaves the table as
  * it was; a kill at or after it is rolled forward by the next entry
  * point. Adds run before retires, so no crash state shows a table that
  * holds rows as absent, and a KV root never moves.
  *
  * Single writer assumed, like the reference's single store process:
  * only a writer stages, and only a writer clears the stage ([[settle]]);
  * [[apply]] never touches it, since it may belong to a live writer.
  */
private[graft] object Commit {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Test seam: called at each step of a commit — "staged" (new files
    * written aside), "committed" (manifest in place), "added" (after each
    * staged file's move), "applied" (files moved and retired, manifest not
    * yet removed). Specs throw from it to inject a crash; production
    * leaves it a no-op.
    */
  @volatile private[graft] var onStep: String => Unit = _ => ()

  private def stageDir(root: String): Path = new Path(root + "_stage")
  private def manifest(root: String): Path = new Path(root + "_commit")

  /** Apply a committed manifest, if there is one — one existence check on
    * a settled table. Safe for readers and writers alike.
    */
  def repair(fs: FileSystem, root: String): Unit =
    if (fs.exists(manifest(root))) apply(fs, root)

  /** A writer's repair: also drops what a commit killed before its commit
    * point staged.
    */
  def settle(fs: FileSystem, root: String): Unit = {
    repair(fs, root)
    fs.delete(stageDir(root), true)
  }

  /** Stage, commit and apply one change of `kind` to the table at `root`.
    * `write` writes the new files under the stage dir it is handed, laid
    * out as they are to sit under the root, and returns the committed
    * files they replace: exactly the files its read consumed, as
    * `Dataset.inputFiles` names them. Callers have [[settle]]d the table.
    */
  def commit(fs: FileSystem, root: String, kind: String)(write: Path => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val stage = stageDir(root)
    fs.delete(stage, true)
    val retired = write(stage).map(f => new Path(new java.net.URI(f)))
    val added = stagedFiles(fs, stage)
    val stageQ = fs.makeQualified(stage)
    val name = new Path(root).getName
    val base = fs.makeQualified(new Path(root)).getParent
    onStep("staged")
    writeManifest(fs, manifest(root),
      added.map(f => s"A $name/${relative(stageQ, f)}") ++ retired.map(f => s"D ${relative(base, f)}"))
    onStep("committed")
    apply(fs, root)
    fs.delete(stage, true)
    log.info(f"commit $root: $kind, +${added.size} files, -${retired.size} files, " +
      f"${(System.nanoTime() - t0) / 1e6}%.1f ms")
  }

  /** Execute a committed manifest to its end state (see the object doc).
    * A manifest a racing applier already removed is a no-op.
    */
  private def apply(fs: FileSystem, root: String): Unit = {
    val lines = readLines(fs, manifest(root))
    val base = fs.makeQualified(new Path(root)).getParent
    val prefix = new Path(root).getName + "/"
    val entries = lines.map(l => (l.take(1), l.drop(2)))
    entries.collect { case ("A", rel) => rel }.foreach { rel =>
      val to = new Path(base, rel)
      if (!fs.exists(to)) {
        fs.mkdirs(to.getParent)
        recoveredRename(fs, new Path(stageDir(root), rel.stripPrefix(prefix)), to, "commit (add)")
      }
      onStep("added")
    }
    val retired = entries.collect { case ("D", rel) => new Path(base, rel) }
    retired.foreach(fs.delete(_, false))
    val days = retired.map(_.getParent).distinct.filter(_.getName.startsWith("day="))
    (days ++ days.map(_.getParent).distinct.filter(_.getName.startsWith("series_id=")))
      .foreach { d => if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false) }
    onStep("applied")
    fs.delete(manifest(root), false)
  }

  /** The staged data files, hidden and marker files (`.crc`, `_SUCCESS`)
    * excluded.
    */
  private def stagedFiles(fs: FileSystem, stage: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    if (fs.exists(stage)) {
      val it = fs.listFiles(stage, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet") && !p.getName.startsWith(".") &&
          !p.getName.startsWith("_")) out += p
      }
    }
    out.result()
  }

  /** `f`'s path below the qualified dir `base`. */
  private def relative(base: Path, f: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/") + "/"
    val p = f.toUri.getPath
    require(p.startsWith(b), s"$f is not under $base")
    p.substring(b.length)
  }

  /** Write a manifest aside, then rename it into place. */
  private def writeManifest(fs: FileSystem, manifest: Path, lines: Seq[String]): Unit = {
    val tmp = manifest.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    renamed(fs, tmp, manifest, s"${manifest.getName} commit")
  }

  private def readLines(fs: FileSystem, manifest: Path): Seq[String] = {
    val bytes =
      try {
        val in = fs.open(manifest)
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      } catch {
        // a racing applier completed the commit and dropped the manifest
        // between our existence check and the open: nothing to do
        case _: java.io.FileNotFoundException => return Seq.empty
      }
    new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  def renamed(fs: FileSystem, from: Path, to: Path, what: String): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"$what rename failed: $from -> $to")

  /** A rename tolerant of benign races: two appliers of one manifest can
    * attempt the same rename — the loser's returns false (or, on some
    * FileSystems, local included, throws FileNotFound for the vanished
    * source), but if the desired end state holds (source gone, target
    * present) the step is done, not failed. Genuine errors still throw.
    */
  private def recoveredRename(fs: FileSystem, from: Path, to: Path, what: String): Unit = {
    val ok = try fs.rename(from, to) catch {
      case _: java.io.FileNotFoundException => false
    }
    if (!ok && !(fs.exists(to) && !fs.exists(from)))
      throw new java.io.IOException(s"$what rename failed: $from -> $to")
  }

  /** Refuse a store that a build with the previous crash protocols left
    * mid-commit: the TS fold manifest, the TS delete manifest and its
    * parked partitions, and the KV compact's twin and park. This build
    * applies none of them, so reading past one could silently drop a
    * parked partition's rows; finish or undo it with that build.
    */
  def refuseLegacy(spark: SparkSession, tsRoots: Seq[String], kvRoots: Seq[String]): Unit = {
    val leftovers =
      tsRoots.flatMap(r => Seq("_fold_manifest", "_delete_manifest", "_delete_old").map(r.stripSuffix("/") + _)) ++
        kvRoots.flatMap(r => Seq("_compacting", "_old").map(r.stripSuffix("/") + _))
    leftovers.map(new Path(_))
      .find(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      .foreach(p => throw new java.io.IOException(
        s"$p: a store left mid-commit by the previous crash protocol, which this build does not apply"))
  }
}

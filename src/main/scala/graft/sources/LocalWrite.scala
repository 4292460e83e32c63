package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions,
  ParquetToSparkSchemaConverter, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** One parquet file from driver-side rows, with no Spark job, no plan and
  * no process fork — the write-behind flush unit of the durable tables
  * ([[TsStorage.append]]'s flush runs, [[KvStorage.append]]'s change-log
  * files).
  *
  * A flush buffer is already on the driver, so a Spark write of it pays a
  * job, its tasks and one file per (task, partition) for rows that never
  * needed a cluster. Here the engine's own serializer turns the buffered
  * rows into `InternalRow`s, and one parquet `ParquetWriter` over Spark's
  * `ParquetWriteSupport` writes them, configured from the Hadoop conf that
  * `ParquetUtils.prepareWrite` sets up for a Spark write (codec, page and
  * dictionary settings, the row schema). So the file — schema, codec,
  * encodings, the footer's Spark row metadata — is the one a Spark write
  * task would produce, and every Spark reader reads it unchanged.
  *
  * One writer, two `OutputFile`s: a root on the `file` scheme is written
  * through parquet's `LocalOutputFile` (java.nio), any other scheme (s3a,
  * HDFS) through `HadoopOutputFile`. Without libhadoop, Hadoop's local
  * file system sets each new file's permission by forking `chmod`, once
  * for the file and once for its `.crc` sidecar. java.nio forks nothing
  * and writes no sidecar: on a 4-vCPU host, `Soak flush 64` counted 130
  * `chmod` process starts in this writer over 64 flushes through Hadoop
  * (JFR `jdk.ProcessStart`) and 0 through java.nio, and its median run
  * write fell from 18.3 to 6.6 ms (that change also dropped the frame's
  * optimizer pass).
  *
  * Commit model: the file is written under a hidden `.<name>.inprogress`
  * name (Spark's file listing skips names starting with `.`), then a
  * rename gives it its visible name — THAT rename is the commit. A kill
  * before it leaves only a hidden file no reader lists.
  */
private[graft] object LocalWrite {

  final case class Committed(rows: Long, bytes: Long, ms: Double)

  /** The frame's rows, when its optimized plan is a `LocalRelation` (a
    * `Seq.toDF()` and any projection or filter Catalyst folds into it).
    * Any other frame fails and is never collected: a distributed frame
    * belongs to a Spark write, not to this one.
    */
  def localRelation(df: DataFrame): LocalRelation =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l
      case p => throw new IllegalArgumentException(
        "expected a driver-local frame (optimized plan LocalRelation), got " +
          p.nodeName)
    }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    protected def self(): Builder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows`, laid out as `schema`, as one parquet file in `dir`,
    * committed by rename. The rows are consumed one at a time, so a
    * serializer that reuses its output row is fine. `hadoopOutput` is a
    * test seam: it writes through `HadoopOutputFile` on a local root too.
    */
  def commit(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow], dir: Path,
             hadoopOutput: Boolean = false): Committed = {
    val t0 = System.nanoTime()
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val conf = job.getConfiguration
    ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val codec = ParquetOutputFormat.getCompression(job)
    val name = s"part-${java.util.UUID.randomUUID}${codec.getExtension}.parquet"
    val fs = dir.getFileSystem(conf)
    val tmp = new Path(dir, s".$name.inprogress")
    val dst = new Path(dir, name)
    val local = fs.getScheme == "file" && !hadoopOutput
    def nio(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
    if (local) java.nio.file.Files.createDirectories(nio(dir)) else fs.mkdirs(dir)
    val out = if (local) new LocalOutputFile(nio(tmp)) else HadoopOutputFile.fromPath(tmp, conf)
    var n = 0L
    try {
      val w = new Builder(out).withConf(conf)
        .withCompressionCodec(codec)
        .withPageSize(ParquetOutputFormat.getPageSize(job))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(job))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(job))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .build()
      try rows.foreach { r => w.write(r); n += 1 } finally w.close()
      Commit.renamed(fs, tmp, dst, "local file commit")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
    Committed(n, fs.getFileStatus(dst).getLen, (System.nanoTime() - t0) / 1e6)
  }

  /** Open a parquet file's footer on the driver. The read options come
    * from the session's already-loaded Hadoop conf: parquet's no-conf
    * default builds a fresh `Configuration` per open, about 10 ms each.
    */
  private def withFooter[A](spark: SparkSession, file: Path)(f: ParquetFileReader => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try f(r) finally r.close()
  }

  /** The schema Spark's parquet inference derives from one file's footer
    * — an explicit read schema with no schema-inference job. It is Spark's
    * own per-footer step (`ParquetFileFormat.readSchemaFromFooter`, with a
    * converter built from the session's conf): the footer's Spark row
    * metadata when the file has it, else the parquet schema converted, as
    * for a file written by Arrow or DuckDB.
    */
  def footerSchema(spark: SparkSession, file: Path): StructType =
    withFooter(spark, file)(r => ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, r.getFooter), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
}

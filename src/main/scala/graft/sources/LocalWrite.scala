package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetUtils}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parquet file from a driver-local frame, with no Spark job — the
  * write-behind flush unit of the durable tables ([[TsStorage.append]]'s
  * flush runs, [[KvStorage.append]]'s change-log files).
  *
  * A flush buffer is already on the driver, so a Spark write of it pays a
  * job, its tasks and one file per (task, partition) for rows that never
  * needed a cluster. Here the rows come straight off the frame's
  * `LocalRelation` and go through Spark's own Parquet writer
  * (`ParquetUtils.prepareWrite` → `OutputWriterFactory.newInstance`), so
  * the file — schema, encodings, the footer's Spark row metadata — is the
  * one a Spark write task would produce, and every Spark reader reads it
  * unchanged.
  *
  * Commit model: the file is written under a hidden `.<name>.inprogress`
  * name (Spark's file listing skips names starting with `.`), then a
  * rename gives it its visible name — THAT rename is the commit. A kill
  * before it leaves only a hidden file no reader lists.
  */
private[sources] object LocalWrite {

  final case class Committed(rows: Long, bytes: Long, ms: Double)

  /** The frame's rows, when its optimized plan is a `LocalRelation` (a
    * `Seq.toDF()` and any projection or filter Catalyst folds into it).
    * Any other frame fails and is never collected: a distributed frame
    * belongs to a Spark write, not to this one.
    */
  private def localRelation(df: DataFrame): LocalRelation =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l
      case p => throw new IllegalArgumentException(
        "expected a driver-local frame (optimized plan LocalRelation), got " +
          p.nodeName)
    }

  /** Write `df`'s rows as one parquet file in `dir`, committed by rename.
    * A frame that is not driver-local fails before any file is touched.
    */
  def commit(df: DataFrame, dir: Path): Committed = {
    val t0 = System.nanoTime()
    val rel = localRelation(df)
    val spark = df.sparkSession
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val schema = rel.schema
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft-local", 0), TaskType.MAP, 0), 0))
    val name = s"part-${java.util.UUID.randomUUID}${factory.getFileExtension(ctx)}"
    val fs = dir.getFileSystem(job.getConfiguration)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.inprogress")
    val dst = new Path(dir, name)
    try {
      val w = factory.newInstance(tmp.toString, schema, ctx)
      try rel.data.foreach(w.write) finally w.close()
      TsStorage.renamed(fs, tmp, dst, "local file commit")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
    Committed(rel.data.size.toLong, fs.getFileStatus(dst).getLen,
      (System.nanoTime() - t0) / 1e6)
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

  /** The Spark schema a parquet file's footer carries (Spark's row
    * metadata) — an explicit read schema with no schema-inference job.
    */
  def footerSchema(spark: SparkSession, file: Path): StructType =
    withFooter(spark, file)(r => DataType.fromJson(r.getFooter.getFileMetaData
      .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType])

  /** A parquet file's row count, off its footer. */
  def footerRows(spark: SparkSession, file: Path): Long =
    withFooter(spark, file)(_.getRecordCount)
}

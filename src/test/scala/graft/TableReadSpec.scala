package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalWrite

/** [[Tables.parquet]] is `spark.read.parquet` with the schema taken from
  * one footer on the driver: the same schema, the same errors, and no
  * Spark job to build the frame.
  */
class TableReadSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private lazy val fixture: String = {
    val d = tempDir("graft-tableread").getAbsolutePath
    BenchPinned.writeFixture(spark, d)
    d
  }

  private def sparkMetadata(file: String): Option[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY))
    finally r.close()
  }

  /** The schema of the frame `read` builds, and the Spark jobs building it ran. */
  private def readCounted(read: => DataFrame): (StructType, Int) = {
    var schema: StructType = null
    val jobs = jobsDuring { schema = read.schema }
    (schema, jobs)
  }

  test("footerSchema reads a file without Spark's row metadata (an Arrow-written table)") {
    for (n <- names) {
      val f = s"${sfs.head}/$n.parquet"
      assert(sparkMetadata(f).isEmpty, f)
      val explicit = spark.read.schema(LocalWrite.footerSchema(spark, new Path(f))).parquet(f)
      assert(explicit.schema === spark.read.parquet(f).schema, f)
    }
  }

  test("Tables.table: every testdata table reads Spark's inferred schema and runs no Spark job") {
    for (d <- sfs; n <- names) {
      val (schema, jobs) = readCounted(Tables.table(spark, d, n))
      assert(schema === spark.read.parquet(s"$d/$n.parquet").schema, s"$d/$n")
      assert(jobs === 0, s"$d/$n")
    }
  }

  test("a multi-file Spark-written directory reads Spark's inferred schema with no job") {
    for (n <- Seq("events", "documents", "embeddings")) {
      val p = s"$fixture/$n.parquet"
      val files = new java.io.File(p).list().filter(_.endsWith(".parquet"))
      assert(files.length > 1, p)
      assert(sparkMetadata(s"$p/${files.head}").nonEmpty, p)
      val (schema, jobs) = readCounted(Tables.parquet(spark, p))
      assert(schema === spark.read.parquet(p).schema, p)
      assert(jobs === 0, p)
      assert(Tables.parquet(spark, p).count() === spark.read.parquet(p).count(), p)
    }
  }

  test("a missing path and an empty directory fail with Spark's own AnalysisException") {
    val empty = tempDir("graft-tableread-empty").getAbsolutePath
    for (p <- Seq(s"$empty/absent.parquet", empty)) {
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Tables.parquet(spark, p))
      assert(got.getCondition === want.getCondition, p)
      assert(got.getMessage === want.getMessage, p)
    }
  }

  test("with spark.sql.parquet.mergeSchema on, the read falls back to Spark's merging inference") {
    val p = new java.io.File(tempDir("graft-tableread-merge"), "t").getAbsolutePath
    spark.range(3).selectExpr("id", "id * 2 AS a").write.parquet(p)
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS b")
      .write.mode(SaveMode.Append).parquet(p)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val (schema, jobs) = readCounted(Tables.parquet(spark, p))
      assert(schema.fieldNames.toSet === Set("id", "a", "b"))
      assert(schema === spark.read.parquet(p).schema)
      assert(jobs > 0, "the merge reads every footer in a Spark job")
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}

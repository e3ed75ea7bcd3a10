package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `Tables.fanOutSmallScan`'s size gate: a small local scan fans out, and a
  * file whose length cannot be read — here an `s3a://` path, for which no
  * filesystem is on the classpath — fails the gate instead of counting as
  * zero bytes. */
class TablesSpec extends SparkSpec {

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.logical.collect { case r: Repartition => r }.nonEmpty

  /** A frame over one remote parquet file: the index only names it, so
    * building the frame and its plan touches no filesystem. */
  private def remoteFrame(uri: String): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType)))
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = Seq(new Path(uri))
      override def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] = Seq.empty
      override def inputFiles: Array[String] = Array(uri)
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = 1L << 40
      override def partitionSchema: StructType = StructType(Nil)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, StructType(Nil),
      schema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  test("fanOutSmallScan fans out a small local scan") {
    val dir = java.nio.file.Files.createTempDirectory("fanout").resolve("t")
    spark.range(100).coalesce(1).write.parquet(dir.toString)
    val df = spark.read.parquet(dir.toString)
    assert(repartitioned(Tables.fanOutSmallScan(df)))
  }

  test("fanOutSmallScan leaves a scan of unknown size alone (s3a://)") {
    val df = remoteFrame("s3a://graft-absent-bucket/big/part-0.parquet")
    assert(df.inputFiles.toSeq == Seq("s3a://graft-absent-bucket/big/part-0.parquet"))
    assert(!repartitioned(Tables.fanOutSmallScan(df)))
  }
}

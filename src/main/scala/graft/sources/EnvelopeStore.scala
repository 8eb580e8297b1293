package graft.sources

import graft.pings.Envelope
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Partitioned envelope store — the batch-mode replacement for the
  * reference's heka S3 store (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/ErrorAggregatorBase.scala:181-197,
  * which manually prunes S3 files by partition dimension before reading).
  *
  * Layout: parquet partitioned by (submission_date_s3, doc_type,
  * app_name) with a single binary `value` column. A day is read from
  * its own directory, so a day slice of a 100 TB store lists only that
  * day; doc_type/app_name filters reach Catalyst's
  * PruneFileSourcePartitions rule, so only the matching directories of
  * the day are read (SURVEY.md §4).
  */
object EnvelopeStore {

  val PartitionColumns: Seq[String] = Seq("submission_date_s3", "doc_type", "app_name")

  /** Persist raw envelopes, partitioned for pruned reads. */
  def write(spark: SparkSession, envelopes: Seq[Envelope], path: String,
            mode: SaveMode = SaveMode.Append): Unit = {
    import spark.implicits._
    val rows = envelopes.map { env =>
      (env.fieldString("submissionDate").getOrElse("unknown"),
        env.fieldString("docType").getOrElse("unknown"),
        env.fieldString("appName").getOrElse("unknown"),
        env.toBytes)
    }
    spark.createDataset(rows)
      .toDF("submission_date_s3", "doc_type", "app_name", "value")
      .write.mode(mode).partitionBy(PartitionColumns: _*).parquet(path)
  }

  /** Pruned scan: every filter lands on a partition column, so only the
    * matching directories are read. Returns the 1-binary-column frame the
    * pipelines consume.
    *
    * A day is read from its own directory (with `basePath`, so the
    * partition columns stay), not by filtering the whole store: Spark
    * lists every file under the paths it is given before it prunes, so
    * a filter on `submission_date_s3` alone would still list every day
    * of the store. A day with no directory reads as zero rows; a store
    * root that does not exist still fails the read.
    */
  def read(spark: SparkSession, path: String,
           submissionDate: Option[String] = None,
           docTypes: Seq[String] = Seq.empty,
           appNames: Seq[String] = Seq.empty): DataFrame = {
    var df = submissionDate match {
      case None => spark.read.parquet(path)
      case Some(day) =>
        val root = new Path(path)
        val dayDir = new Path(root, s"${PartitionColumns.head}=${ExternalCatalogUtils.escapePathName(day)}")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a missing root falls through to Spark's path-not-found error
        if (!fs.exists(dayDir) && fs.exists(root))
          return spark.createDataFrame(java.util.Collections.emptyList[Row](), ValueSchema)
        spark.read.option("basePath", path).parquet(dayDir.toString)
    }
    if (docTypes.nonEmpty) df = df.filter(col("doc_type").isin(docTypes.map(x => x: Any): _*))
    if (appNames.nonEmpty) df = df.filter(col("app_name").isin(appNames.map(x => x: Any): _*))
    df.select("value")
  }

  private val ValueSchema = StructType(Seq(StructField("value", BinaryType)))
}

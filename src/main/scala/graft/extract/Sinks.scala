package graft.extract

import java.nio.file.{Files, Paths}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}

import graft.functions.GraftFunctions.normalizeStr

/** Extract sinks: compressed-JSON table dumps with a BigQuery
  * `schema.json` sidecar — the reference's output contract
  * (pipeline.py:455-468 writes json+gzip with a fixed
  * timestampFormat; _save_schema pipeline.py:517-526).
  *
  * The writer itself is just Spark's distributed JSON sink: each
  * partition streams one `part-*.json.gz`; partition count (and so
  * output file size) is governed upstream by PartitionPlanner /
  * AdaptiveSizer, matching dumpty's target_partition_size_bytes
  * feedback loop.
  */
object Sinks {

  val TimestampFormat = "yyyy-MM-dd HH:mm:ss"

  /** What an extract write produced: the part-file glob (the
    * reference's final_uri) and the rows the writer observed.
    */
  final case class Written(uri: String, rows: Long)

  /** Longest wait for a write's observed row count. The count reaches
    * the driver through the session's query listener shortly after the
    * write job ends; a missing count is an error, never a silent 0.
    */
  private val ObservationWait = Duration(5, "min")

  /** Runs `write` over `df` with a row count attached to the frame it
    * writes (`Dataset.observe`) and returns that count: the rows the
    * write job saw, with no second job that reads the output back.
    * The count rides the write's result stage, where Spark merges each
    * partition's accumulator once, so a retried task is not counted
    * twice; callers pass the frame after any repartition or sort.
    */
  def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    Await.result(obs.future, ObservationWait).getAs[Long]("rows")
  }

  /** Writes `df` under `uri`/`table` (normalized name) as gzip JSON
    * (the reference's contract, pipeline.py:455-468, with its fixed
    * timestampFormat), gzip CSV with a header, or parquet (reference
    * config `spark.format` + gcp.py source_format switch), always with
    * the schema.json sidecar; returns the part glob and the rows
    * written.
    */
  def write(df: DataFrame, uri: String, table: String, format: String,
            partitions: Option[Int] = None,
            normalizeNames: Boolean = true): Written = {
    val ext = format match {
      case "json" => "json.gz"
      case "csv" => "csv.gz"
      case "parquet" => "parquet"
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }
    val dir = s"$uri/${normalizeStr(table)}"
    val out = if (normalizeNames) SchemaNormalizer(df) else df
    val sized = partitions.map(out.repartition(_)).getOrElse(out)
    val rows = countedWrite(sized) { d =>
      val w = d.write.mode(SaveMode.Overwrite)
      format match {
        case "json" => w.option("timestampFormat", TimestampFormat)
            .option("compression", "gzip").json(dir)
        case "csv" => w.option("header", "true").option("timestampFormat", TimestampFormat)
            .option("compression", "gzip").csv(dir)
        case _ => w.parquet(dir)
      }
    }
    Files.writeString(Paths.get(s"$dir/schema.json"), BqSchema.toJson(df.schema))
    Written(s"$dir/part-*.$ext", rows)
  }

  /** Reader for data this sink wrote (the warehouse load's input). */
  def read(spark: org.apache.spark.sql.SparkSession, uri: String, format: String,
           schema: org.apache.spark.sql.types.StructType): DataFrame = format match {
    case "json" => spark.read.schema(schema).json(uri)
    case "parquet" => spark.read.parquet(uri)
    case "csv" => spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", TimestampFormat)
      .csv(uri)
    case other => throw new IllegalArgumentException(s"unknown format $other")
  }

  /** Hive-partitioned parquet sink — the 100 TB LAYOUT primitive:
    * `partitionBy` writes one directory per partition-column value,
    * so any later read filtered on those columns prunes whole
    * directories at PLANNING time (PartitionFilters in the scan, zero
    * I/O for pruned values) instead of relying on row-group stats.
    * Partition columns should be low-cardinality (source, date,
    * lang); high-cardinality keys belong in z-order or bucketing.
    * The sidecar-free contract matches writeParquet; SinksSpec pins
    * the pruning (selected partitions < total) on read-back.
    */
  def writePartitioned(df: DataFrame, uri: String, table: String,
                       partitionCols: Seq[String]): String = {
    val name = normalizeStr(table)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(s"$uri/$name")
    s"$uri/$name"
  }

  /** Total bytes of an extract's output files (drives AdaptiveSizer,
    * reference gcp.get_size_bytes).
    */
  def sizeBytes(uri: String, table: String): Long = {
    val dir = Paths.get(uri, normalizeStr(table))
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.filter(p => p.getFileName.toString.startsWith("part-"))
        .mapToLong(Files.size).sum
      finally s.close()
    }
  }
}

package graft.extract

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

/** The reference's load stage (gcp.py:66-183) as a structured,
  * cloud-free warehouse model: datasets with description / location /
  * labels / access entries, tables loaded from extract URIs under
  * create/write dispositions, and `rows_loaded` returned for the
  * reconcile gate (extract.py:36 `consistent`).
  *
  * Data lands as parquet under `<root>/<project>/<dataset>/<table>`;
  * metadata in a `_dataset.json` sidecar. The disposition semantics
  * (TRUNCATE / APPEND / EMPTY, CREATE_IF_NEEDED / CREATE_NEVER,
  * create-or-update with access-entry merge, drop-and-recreate) are
  * the BigQuery load-job model; only the terminal storage differs,
  * so swapping a real warehouse client back in is a sink change, not
  * a semantics change.
  */
object Warehouse {

  sealed trait WriteDisposition
  case object WriteTruncate extends WriteDisposition
  case object WriteAppend extends WriteDisposition
  case object WriteEmpty extends WriteDisposition

  sealed trait CreateDisposition
  case object CreateIfNeeded extends CreateDisposition
  case object CreateNever extends CreateDisposition

  final case class DatasetRef(project: String, dataset: String) {
    override def toString = s"$project.$dataset"
  }
  object DatasetRef {
    /** gcp.py DatasetReference.from_string: "project.dataset". */
    def fromString(s: String): DatasetRef = s.split('.') match {
      case Array(p, d) => DatasetRef(p, d)
      case _ => throw new IllegalArgumentException(
        s"Dataset must be in format project.dataset (got '$s')")
    }
  }

  final case class DatasetMeta(
      description: Option[String] = None,
      location: String = "US",
      labels: Map[String, String] = Map.empty,
      accessEntries: Seq[String] = Nil)

  /** What one write call put into a table, as a BigQuery load job
    * reports it (`output_rows`, `output_bytes`): the rows the writer
    * observed on the frame it wrote — no job reads the table back —
    * and the bytes of the part files the call added. An append
    * reports the rows appended, not the table's new total.
    */
  final case class LoadResult(outputRows: Long, outputBytes: Long)

  final case class LoadJob(
      create: CreateDisposition = CreateIfNeeded,
      write: WriteDisposition = WriteTruncate,
      description: Option[String] = None)
}

/** The warehouse seam: everything operators and streams need from a
  * load-stage backend. The local parquet [[Warehouse]] below is one
  * implementation; a GCS/BigQuery backend (the reference's gcp.py:28-183
  * surface — datasets with labels/access, load jobs with dispositions,
  * table reads/writes) would implement this same trait, so swapping
  * storage is a constructor change for callers, never an operator
  * change. Deliberately interface-only here: the sandbox has no
  * network or cloud SDKs, and the contract is what matters.
  */
trait WarehouseBackend {
  import Warehouse._
  def datasetExists(ref: DatasetRef): Boolean
  def tableExists(ref: DatasetRef, table: String): Boolean
  def getDataset(ref: DatasetRef): Option[DatasetMeta]
  def createDataset(ref: DatasetRef, meta: DatasetMeta, drop: Boolean = false): DatasetMeta
  def deleteDataset(ref: DatasetRef): Unit
  def applyLabels(ref: DatasetRef, labels: Map[String, String]): Unit
  def appendAccessEntries(ref: DatasetRef, entries: Seq[String]): Unit
  def load(uri: String, schema: org.apache.spark.sql.types.StructType,
           ref: DatasetRef, table: String,
           job: LoadJob = LoadJob(), format: String = "json"): LoadResult
  def readTable(ref: DatasetRef, table: String): org.apache.spark.sql.DataFrame

  /** Read with format-level options (e.g. parquet filter knobs for an
    * index lookup). Storage-less backends have no format layer, so the
    * default ignores the options — semantics never depend on them.
    */
  def readTable(ref: DatasetRef, table: String,
                options: Map[String, String]): org.apache.spark.sql.DataFrame =
    readTable(ref, table)

  def writeTable(df: org.apache.spark.sql.DataFrame, ref: DatasetRef, table: String): Unit
  def appendTable(df: org.apache.spark.sql.DataFrame, ref: DatasetRef, table: String): LoadResult

  /** Hive-partitioned full rewrite: like [[writeTable]] but the table
    * keeps a `partitionBy` layout so later reads filtered on the
    * partition columns prune whole directories at planning time. The
    * streaming indexes' compaction path (the one deliberate rewrite).
    */
  def writeTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                            table: String, partitionCols: Seq[String]): Unit

  /** Rewrite with format-level write options (see the append twin). */
  def writeTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                            table: String, partitionCols: Seq[String],
                            options: Map[String, String]): Unit =
    writeTablePartitioned(df, ref, table, partitionCols)

  /** Hive-partitioned append — [[appendTable]]'s layout-preserving
    * twin: new rows land as fresh part files INSIDE their partition
    * directories, so per-call I/O stays O(appended) AND the table
    * stays prunable on the partition columns.
    */
  def appendTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                             table: String, partitionCols: Seq[String]): LoadResult

  /** Append with format-level write options (e.g. per-column parquet
    * bloom filters on an index's lookup key). Storage-less backends
    * ignore them — layout hints, never semantics.
    */
  def appendTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                             table: String, partitionCols: Seq[String],
                             options: Map[String, String]): LoadResult =
    appendTablePartitioned(df, ref, table, partitionCols)

  /** Partition-scoped rewrite (dynamic-overwrite semantics): replaces
    * ONLY the partitions whose values appear in `df`, leaving every
    * other partition's files untouched — the keyed-upsert primitive
    * whose per-call I/O is O(touched partitions), never O(table).
    * Partitions absent from `df` (including emptied ones) survive
    * unchanged, so callers that delete rows need
    * [[writeTablePartitioned]] instead.
    */
  def overwritePartitions(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                          table: String, partitionCols: Seq[String]): LoadResult

  /** Partition directory names of a file-backed partitioned table —
    * None when the backend is storage-less or the table is absent.
    * Lets callers (and specs) ratio partitions-read / partitions-total
    * without knowing the storage layout.
    */
  def listPartitions(ref: DatasetRef, table: String): Option[Seq[String]] = None

  /** Rows of one hive partition `column=value` of a table; 0 when the
    * table or the partition is absent. Sizes a partition without a
    * Spark job: the parquet backend sums its part files' footer counts.
    */
  def partitionRows(ref: DatasetRef, table: String, column: String, value: Int): Long

  /** Deletes one hive partition `column=value` of a table, rows and
    * all; a no-op when the table or the partition is absent. Every
    * other partition is left untouched.
    */
  def dropPartition(ref: DatasetRef, table: String, column: String, value: Int): Unit
}

class Warehouse(root: String, spark: SparkSession) extends WarehouseBackend {
  import Warehouse._

  private val mapper = new ObjectMapper()

  private def dsPath(ref: DatasetRef): Path = Paths.get(root, ref.project, ref.dataset)
  private def metaPath(ref: DatasetRef): Path = dsPath(ref).resolve("_dataset.json")
  private def tablePath(ref: DatasetRef, table: String): Path = dsPath(ref).resolve(table)

  def datasetExists(ref: DatasetRef): Boolean = Files.exists(metaPath(ref))
  def tableExists(ref: DatasetRef, table: String): Boolean =
    Files.exists(tablePath(ref, table))

  def getDataset(ref: DatasetRef): Option[DatasetMeta] =
    if (!datasetExists(ref)) None
    else {
      val node = mapper.readTree(Files.readString(metaPath(ref)))
      Some(DatasetMeta(
        description = Option(node.get("description")).filter(!_.isNull).map(_.asText()),
        location = node.get("location").asText(),
        labels = node.get("labels").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap,
        accessEntries = node.get("accessEntries").elements().asScala
          .map(_.asText()).toSeq))
    }

  private def putDataset(ref: DatasetRef, meta: DatasetMeta): DatasetMeta = {
    Files.createDirectories(dsPath(ref))
    val node = mapper.createObjectNode()
    meta.description.foreach(node.put("description", _))
    node.put("location", meta.location)
    val lbl = node.putObject("labels")
    meta.labels.foreach { case (k, v) => lbl.put(k, v) }
    val acc = node.putArray("accessEntries")
    meta.accessEntries.foreach(acc.add)
    val tmp = metaPath(ref).resolveSibling("_dataset.json.tmp")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    Files.move(tmp, metaPath(ref), StandardCopyOption.REPLACE_EXISTING)
    meta
  }

  /** Create-or-update with the reference's exists/drop logic
    * (gcp.py:66-105): drop deletes contents; update overwrites
    * description/location/labels and MERGES access entries.
    */
  def createDataset(ref: DatasetRef, meta: DatasetMeta, drop: Boolean = false): DatasetMeta = {
    val existing = getDataset(ref)
    if (drop && existing.isDefined) deleteDataset(ref)
    val merged = existing match {
      case Some(old) if !drop =>
        meta.copy(accessEntries =
          (old.accessEntries ++ meta.accessEntries.filterNot(old.accessEntries.contains)))
      case _ => meta
    }
    putDataset(ref, merged)
  }

  def deleteDataset(ref: DatasetRef): Unit = deleteTree(dsPath(ref))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** gcp.py bigquery_apply_labels: replace the label map. */
  def applyLabels(ref: DatasetRef, labels: Map[String, String]): Unit = {
    val meta = getDataset(ref).getOrElse(
      throw new IllegalStateException(s"dataset $ref not found"))
    putDataset(ref, meta.copy(labels = labels))
  }

  /** gcp.py bigquery_append_access_entries: append-if-absent. */
  def appendAccessEntries(ref: DatasetRef, entries: Seq[String]): Unit = {
    val meta = getDataset(ref).getOrElse(
      throw new IllegalStateException(s"dataset $ref not found"))
    putDataset(ref, meta.copy(accessEntries =
      meta.accessEntries ++ entries.filterNot(meta.accessEntries.contains)))
  }

  /** Load an extracted table into the warehouse (gcp.py:149-183
    * bigquery_load): newline-JSON read with the extract's schema,
    * dispositions enforced, the rows the load wrote and their bytes
    * returned for reconciliation.
    */
  def load(uri: String, schema: org.apache.spark.sql.types.StructType,
           ref: DatasetRef, table: String,
           job: LoadJob = LoadJob(),
           format: String = "json"): LoadResult = {
    requireDataset(ref)
    val exists = tableExists(ref, table)
    job.create match {
      case CreateNever if !exists =>
        throw new IllegalStateException(
          s"table $ref.$table not found and createDisposition=CREATE_NEVER")
      case _ => ()
    }
    val mode = job.write match {
      case WriteTruncate => SaveMode.Overwrite
      case WriteAppend => SaveMode.Append
      case WriteEmpty =>
        if (exists) throw new IllegalStateException(
          s"table $ref.$table exists and writeDisposition=WRITE_EMPTY")
        SaveMode.ErrorIfExists
    }
    countedWrite(Sinks.read(spark, uri, format, schema), ref, table)(_.mode(mode))
  }

  private def requireDataset(ref: DatasetRef): Unit =
    if (!datasetExists(ref))
      throw new IllegalStateException(s"dataset $ref not found")

  /** The one counted table write behind [[load]], [[appendTable]],
    * [[appendTablePartitioned]] and [[overwritePartitions]]: `df`
    * written as parquet at the table's path under the writer settings
    * of `configure`, its rows counted by an observation on the write
    * job ([[Sinks.countedWrite]]) and its bytes summed over the part
    * files the write added, listed on the driver.
    */
  private def countedWrite(df: DataFrame, ref: DatasetRef, table: String)(
      configure: DataFrameWriter[Row] => DataFrameWriter[Row]): LoadResult = {
    requireDataset(ref)
    val target = tablePath(ref, table)
    val before = walkPartFiles(target)
    val rows = Sinks.countedWrite(df)(d => configure(d.write).parquet(target.toString))
    // the session's file-status cache still lists the pre-write files
    spark.catalog.refreshByPath(target.toString)
    LoadResult(rows, (walkPartFiles(target) -- before.keys).values.sum)
  }

  def readTable(ref: DatasetRef, table: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(tablePath(ref, table).toString)

  override def readTable(ref: DatasetRef, table: String,
                         options: Map[String, String]): org.apache.spark.sql.DataFrame =
    spark.read.options(options).parquet(tablePath(ref, table).toString)

  /** Direct DataFrame write into a warehouse table (the streaming
    * foreachBatch path). Writes land in a staging directory first
    * and swap in atomically — overwriting a parquet dir that the
    * same plan is reading (merge-into-self) corrupts it otherwise.
    */
  def writeTable(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                 table: String): Unit = swapWrite(df, ref, table, Nil)

  def writeTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                            table: String, partitionCols: Seq[String]): Unit =
    swapWrite(df, ref, table, partitionCols)

  override def writeTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                                     table: String, partitionCols: Seq[String],
                                     options: Map[String, String]): Unit =
    swapWrite(df, ref, table, partitionCols, options)

  private def swapWrite(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                        table: String, partitionCols: Seq[String],
                        options: Map[String, String] = Map.empty): Unit = {
    requireDataset(ref)
    val target = tablePath(ref, table)
    val staging = target.resolveSibling(s"$table.staging")
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    val old = target.resolveSibling(s"$table.old")
    if (Files.exists(target)) Files.move(target, old)
    Files.move(staging, target)
    deleteTree(old)
    // the session's file-status cache still lists the pre-swap part
    // files; a later read of this path would fail FILE_NOT_EXIST
    spark.catalog.refreshByPath(target.toString)
  }

  /** Append-only write into a warehouse table — the streaming-index
    * primitive. Unlike [[writeTable]] (a full rewrite, O(table) I/O
    * per call), this lands ONLY the new rows as fresh part files:
    * per-batch I/O is O(appended), never O(table), which is the
    * difference between a dedup index that survives 100 TB and one
    * that rewrites billions of rows per micro-batch. Row uniqueness
    * must be guaranteed upstream (the dedup stream's left-anti on
    * already-indexed doc_ids does this); Spark's job-commit protocol
    * makes the append all-or-nothing, so a crashed batch leaves no
    * partial files. Returns the appended rows/bytes so callers — and
    * StreamingSpec's scaling assertion — can verify per-batch write
    * volume tracks the batch, not the table.
    */
  def appendTable(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                  table: String): LoadResult =
    countedWrite(df, ref, table)(_.mode(SaveMode.Append))

  /** Part files keyed by path RELATIVE to the table root — the
    * partitioned layouts nest them under `col=value` directories, so
    * the append/overwrite ledgers must walk, not list.
    */
  private def walkPartFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def appendTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                             table: String, partitionCols: Seq[String]): LoadResult =
    appendTablePartitioned(df, ref, table, partitionCols, Map.empty[String, String])

  override def appendTablePartitioned(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                                      table: String, partitionCols: Seq[String],
                                      options: Map[String, String]): LoadResult =
    countedWrite(df, ref, table)(
      _.mode(SaveMode.Append).options(options).partitionBy(partitionCols: _*))

  /** Dynamic partition overwrite: Spark replaces only the partition
    * directories present in `df` at commit time; every other
    * partition's files are never touched. Callers upserting INTO the
    * same table must break lineage (MemoRegistry.cut) first — the
    * standard read-merge-overwrite discipline.
    */
  def overwritePartitions(df: org.apache.spark.sql.DataFrame, ref: DatasetRef,
                          table: String, partitionCols: Seq[String]): LoadResult =
    countedWrite(df, ref, table)(_.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").partitionBy(partitionCols: _*))

  override def listPartitions(ref: DatasetRef, table: String): Option[Seq[String]] = {
    val p = tablePath(ref, table)
    if (!Files.exists(p)) None
    else {
      val s = Files.list(p)
      try Some(s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains("=")).toSeq)
      finally s.close()
    }
  }

  def partitionRows(ref: DatasetRef, table: String, column: String, value: Int): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = tablePath(ref, table).resolve(s"$column=$value")
    val conf = spark.sparkContext.hadoopConfiguration
    walkPartFiles(dir).keys.toSeq.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(f).toUri), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  def dropPartition(ref: DatasetRef, table: String, column: String, value: Int): Unit = {
    deleteTree(tablePath(ref, table).resolve(s"$column=$value"))
    // the session's file-status cache still lists the deleted files
    spark.catalog.refreshByPath(tablePath(ref, table).toString)
  }
}

/** A second [[WarehouseBackend]] implementation — the seam proof:
  * every operator and streaming sink that runs against the parquet
  * [[Warehouse]] runs against this storage-less backend unchanged
  * (a constructor swap, never an operator change), which is exactly
  * the property a GCS/BigQuery client implementation needs. Rows
  * materialize on the driver per write, so this is a TEST/dev
  * backend by design, not a 100 TB path; `outputBytes` is the UTF-8
  * size of the rows' rendered form — a deterministic logical
  * volume, not storage bytes.
  */
class InMemoryWarehouse(spark: SparkSession) extends WarehouseBackend {
  import Warehouse._
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types.StructType

  private val datasets = scala.collection.concurrent.TrieMap.empty[String, DatasetMeta]
  private val tables =
    scala.collection.concurrent.TrieMap.empty[(String, String), (StructType, Vector[Row])]

  private def key(ref: DatasetRef) = s"${ref.project}.${ref.dataset}"
  private def logicalBytes(rows: Seq[Row]): Long =
    rows.map(_.mkString(",").getBytes("UTF-8").length.toLong).sum

  def datasetExists(ref: DatasetRef): Boolean = datasets.contains(key(ref))
  def tableExists(ref: DatasetRef, table: String): Boolean =
    tables.contains((key(ref), table))
  def getDataset(ref: DatasetRef): Option[DatasetMeta] = datasets.get(key(ref))

  def createDataset(ref: DatasetRef, meta: DatasetMeta, drop: Boolean = false): DatasetMeta = {
    val existing = getDataset(ref)
    if (drop && existing.isDefined) deleteDataset(ref)
    val merged = existing match {
      case Some(old) if !drop =>
        meta.copy(accessEntries =
          old.accessEntries ++ meta.accessEntries.filterNot(old.accessEntries.contains))
      case _ => meta
    }
    datasets.put(key(ref), merged)
    merged
  }

  def deleteDataset(ref: DatasetRef): Unit = {
    datasets.remove(key(ref))
    tables.keys.filter(_._1 == key(ref)).foreach(tables.remove)
  }

  def applyLabels(ref: DatasetRef, labels: Map[String, String]): Unit = {
    val meta = getDataset(ref).getOrElse(
      throw new IllegalStateException(s"dataset $ref not found"))
    datasets.put(key(ref), meta.copy(labels = labels))
  }

  def appendAccessEntries(ref: DatasetRef, entries: Seq[String]): Unit = {
    val meta = getDataset(ref).getOrElse(
      throw new IllegalStateException(s"dataset $ref not found"))
    datasets.put(key(ref), meta.copy(accessEntries =
      meta.accessEntries ++ entries.filterNot(meta.accessEntries.contains)))
  }

  def load(uri: String, schema: StructType, ref: DatasetRef, table: String,
           job: LoadJob = LoadJob(), format: String = "json"): LoadResult = {
    if (!datasetExists(ref))
      throw new IllegalStateException(s"dataset $ref not found")
    val exists = tableExists(ref, table)
    job.create match {
      case CreateNever if !exists =>
        throw new IllegalStateException(
          s"table $ref.$table not found and createDisposition=CREATE_NEVER")
      case _ => ()
    }
    if (job.write == WriteEmpty && exists)
      throw new IllegalStateException(
        s"table $ref.$table exists and writeDisposition=WRITE_EMPTY")
    val rows = Sinks.read(spark, uri, format, schema).collect().toVector
    val merged = job.write match {
      case WriteAppend if exists => tables((key(ref), table))._2 ++ rows
      case _ => rows
    }
    tables.put((key(ref), table), (schema, merged))
    LoadResult(rows.length.toLong, logicalBytes(rows))
  }

  def readTable(ref: DatasetRef, table: String): DataFrame = {
    val (schema, rows) = tables.getOrElse((key(ref), table),
      throw new IllegalStateException(s"table $ref.$table not found"))
    spark.createDataFrame(rows.asJava, schema)
  }

  def writeTable(df: DataFrame, ref: DatasetRef, table: String): Unit = {
    if (!datasetExists(ref))
      throw new IllegalStateException(s"dataset $ref not found")
    tables.put((key(ref), table), (df.schema, df.collect().toVector))
  }

  def appendTable(df: DataFrame, ref: DatasetRef, table: String): LoadResult = {
    if (!datasetExists(ref))
      throw new IllegalStateException(s"dataset $ref not found")
    val fresh = df.collect().toVector
    val prev = tables.get((key(ref), table)).map(_._2).getOrElse(Vector.empty)
    tables.put((key(ref), table), (df.schema, prev ++ fresh))
    LoadResult(fresh.length.toLong, logicalBytes(fresh))
  }

  // the storage-less twins: layout is a no-op here, but the SEMANTICS
  // (what rows survive each call) must match the parquet backend
  // exactly — that is the seam property the constructor-swap tests pin
  def writeTablePartitioned(df: DataFrame, ref: DatasetRef, table: String,
                            partitionCols: Seq[String]): Unit =
    writeTable(df, ref, table)

  def appendTablePartitioned(df: DataFrame, ref: DatasetRef, table: String,
                             partitionCols: Seq[String]): LoadResult =
    appendTable(df, ref, table)

  def overwritePartitions(df: DataFrame, ref: DatasetRef, table: String,
                          partitionCols: Seq[String]): LoadResult = {
    if (!datasetExists(ref))
      throw new IllegalStateException(s"dataset $ref not found")
    val fresh = df.collect().toVector
    val freshIdx = partitionCols.map(df.schema.fieldIndex)
    val touched = fresh.map(r => freshIdx.map(r.get)).toSet
    val kept = tables.get((key(ref), table)) match {
      case Some((prevSchema, prev)) =>
        val prevIdx = partitionCols.map(prevSchema.fieldIndex)
        prev.filterNot(r => touched.contains(prevIdx.map(r.get)))
      case None => Vector.empty
    }
    tables.put((key(ref), table), (df.schema, kept ++ fresh))
    LoadResult(fresh.length.toLong, logicalBytes(fresh))
  }

  private def inPartition(schema: StructType, column: String, value: Int): Row => Boolean = {
    val i = schema.fieldIndex(column)
    r => r.get(i) == value
  }

  def partitionRows(ref: DatasetRef, table: String, column: String, value: Int): Long =
    tables.get((key(ref), table)).fold(0L) { case (schema, rows) =>
      rows.count(inPartition(schema, column, value)).toLong }

  def dropPartition(ref: DatasetRef, table: String, column: String, value: Int): Unit =
    tables.get((key(ref), table)).foreach { case (schema, rows) =>
      tables.put((key(ref), table), (schema, rows.filterNot(inPartition(schema, column, value)))) }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Warehouse
import graft.extract.Warehouse._
import graft.extract.Sinks
import graft.sources.Tables

/** Load-stage semantics from gcp.py:66-183: dataset create / update /
  * drop with access-entry merge, label application, and table loads
  * under every create/write disposition with rows_loaded returned.
  */
class WarehouseSpec extends AnyFunSuite {
  import SparkSuite._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft-wh").toString
  private val ref = DatasetRef.fromString("proj.ds")

  private lazy val extractUri: String = {
    val out = java.nio.file.Files.createTempDirectory("graft-wh-src").toString
    Sinks.write(Tables.nation(spark, sf), out, "nation", "json").uri
  }
  private def nationSchema = Tables.nation(spark, sf).schema
  private def nationRows = Tables.nation(spark, sf).count()

  test("dataset ref parsing rejects malformed strings") {
    assert(DatasetRef.fromString("a.b") == DatasetRef("a", "b"))
    intercept[IllegalArgumentException](DatasetRef.fromString("nodot"))
    intercept[IllegalArgumentException](DatasetRef.fromString("a.b.c"))
  }

  test("create-or-update merges access entries, drop recreates clean") {
    val wh = new Warehouse(freshRoot(), spark)
    wh.createDataset(ref, DatasetMeta(Some("d1"), "US",
      Map("stage" -> "pre"), Seq("userByEmail:a@x")))
    // update: new description/labels, merged entries (no dup of a@x)
    wh.createDataset(ref, DatasetMeta(Some("d2"), "US",
      Map("stage" -> "pre2"), Seq("userByEmail:a@x", "groupByEmail:g@x")))
    val meta = wh.getDataset(ref).get
    assert(meta.description.contains("d2"))
    assert(meta.labels == Map("stage" -> "pre2"))
    assert(meta.accessEntries == Seq("userByEmail:a@x", "groupByEmail:g@x"))
    // drop: entries from before must NOT survive
    wh.createDataset(ref, DatasetMeta(Some("d3")), drop = true)
    assert(wh.getDataset(ref).get.accessEntries.isEmpty)
  }

  test("applyLabels replaces, appendAccessEntries appends-if-absent") {
    val wh = new Warehouse(freshRoot(), spark)
    wh.createDataset(ref, DatasetMeta(labels = Map("a" -> "1", "b" -> "2")))
    wh.applyLabels(ref, Map("done" -> "true"))
    assert(wh.getDataset(ref).get.labels == Map("done" -> "true"))
    wh.appendAccessEntries(ref, Seq("e1", "e2"))
    wh.appendAccessEntries(ref, Seq("e2", "e3"))
    assert(wh.getDataset(ref).get.accessEntries == Seq("e1", "e2", "e3"))
  }

  test("load dispositions: truncate replaces, append doubles, empty refuses") {
    val wh = new Warehouse(freshRoot(), spark)
    wh.createDataset(ref, DatasetMeta())
    val first = wh.load(extractUri, nationSchema, ref, "nation")
    assert(first.outputRows == nationRows)
    assert(first.outputBytes > 0)
    // WRITE_TRUNCATE on an existing table replaces
    val again = wh.load(extractUri, nationSchema, ref, "nation",
      LoadJob(write = WriteTruncate))
    assert(again.outputRows == nationRows)
    // WRITE_APPEND doubles the table; the load reports the rows it
    // appended, as a BigQuery load job's output_rows does
    val appended = wh.load(extractUri, nationSchema, ref, "nation",
      LoadJob(write = WriteAppend))
    assert(appended.outputRows == nationRows)
    // WRITE_EMPTY refuses when the table exists
    intercept[IllegalStateException](
      wh.load(extractUri, nationSchema, ref, "nation", LoadJob(write = WriteEmpty)))
    // loaded content round-trips
    assert(wh.readTable(ref, "nation").count() == 2 * nationRows)
  }

  test("create dispositions: CREATE_NEVER refuses a missing table") {
    val wh = new Warehouse(freshRoot(), spark)
    wh.createDataset(ref, DatasetMeta())
    intercept[IllegalStateException](
      wh.load(extractUri, nationSchema, ref, "nation", LoadJob(create = CreateNever)))
    // but succeeds once the table exists
    wh.load(extractUri, nationSchema, ref, "nation")
    val ok = wh.load(extractUri, nationSchema, ref, "nation",
      LoadJob(create = CreateNever, write = WriteAppend))
    assert(ok.outputRows == nationRows)
    assert(wh.readTable(ref, "nation").count() == 2 * nationRows)
  }

  test("backend seam: both backends report the same rows for truncate, append and empty loads") {
    import graft.extract.InMemoryWarehouse
    val emptyUri = {
      val out = java.nio.file.Files.createTempDirectory("graft-wh-empty").toString
      Sinks.write(Tables.nation(spark, sf).filter("n_nationkey < 0"), out, "nation", "json").uri
    }
    def loads(wh: graft.extract.WarehouseBackend): Seq[Long] = {
      wh.createDataset(ref, DatasetMeta())
      Seq(
        wh.load(extractUri, nationSchema, ref, "nation", LoadJob(write = WriteEmpty)),
        wh.load(extractUri, nationSchema, ref, "nation", LoadJob(write = WriteTruncate)),
        wh.load(extractUri, nationSchema, ref, "nation", LoadJob(write = WriteAppend)),
        wh.load(emptyUri, nationSchema, ref, "nation", LoadJob(write = WriteAppend)),
        wh.load(emptyUri, nationSchema, ref, "void", LoadJob(write = WriteEmpty)))
        .map(_.outputRows)
    }
    val parquet = loads(new Warehouse(freshRoot(), spark))
    assert(parquet == Seq(nationRows, nationRows, nationRows, 0L, 0L))
    assert(parquet == loads(new InMemoryWarehouse(spark)))
  }

  test("observed counts: zero-row writes report 0 and do not wait for a count") {
    import org.apache.spark.sql.functions._
    val wh = new Warehouse(freshRoot(), spark)
    wh.createDataset(ref, DatasetMeta())
    val nation = Tables.nation(spark, sf)
    // folded to an empty relation by the optimizer, cut to no rows by a
    // limit, and emptied only at run time behind a shuffle
    val empties = Seq(
      nation.filter(lit(false)),
      nation.limit(0),
      nation.groupBy(col("n_regionkey")).count().filter(col("count") > 1000))
    empties.zipWithIndex.foreach { case (df, i) =>
      assert(wh.appendTable(df, ref, s"plain_$i").outputRows == 0, s"appendTable #$i")
      assert(wh.appendTablePartitioned(df.withColumn("b", lit(1)), ref, s"parted_$i",
        Seq("b")).outputRows == 0, s"appendTablePartitioned #$i")
      assert(wh.overwritePartitions(df.withColumn("b", lit(1)), ref, s"parted_$i",
        Seq("b")).outputRows == 0, s"overwritePartitions #$i")
    }
  }

  test("partition-scoped upsert rewrites ONLY touched partitions, byte-identically elsewhere") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import graft.streaming.DocStreams
    val root = freshRoot()
    val wh = new Warehouse(root, spark)
    wh.createDataset(ref, DatasetMeta())
    // seed a 1000-key verdict table across all hash buckets
    val base = spark.range(0, 1000)
      .select(col("id").as("k"), lit("v0").as("v"))
    val seeded = DocStreams.upsertPartitioned(wh, ref, "verdicts", base, "k")
    assert(seeded.outputRows == 1000)
    def fileState(): Map[String, (Long, Long)] = {
      val dir = java.nio.file.Paths.get(root, ref.project, ref.dataset, "verdicts")
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => dir.relativize(p).toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
    val before = fileState()
    // a 3-key update batch: only its buckets' partitions may change
    val updates = spark.range(0, 3)
      .select(col("id").as("k"), lit("v1").as("v"))
    val touched = updates
      .withColumn("pb", pmod(xxhash64(col("k")), lit(32L)).cast("int"))
      .select("pb").distinct().collect().map(_.getInt(0)).toSet
    val up = DocStreams.upsertPartitioned(wh, ref, "verdicts", updates, "k")
    val after = fileState()
    // untouched partitions: the very same files, byte-identical
    val untouchedBefore = before.filterNot { case (f, _) =>
      touched.exists(b => f.startsWith(s"pbucket=$b/")) }
    val untouchedAfter = after.filterNot { case (f, _) =>
      touched.exists(b => f.startsWith(s"pbucket=$b/")) }
    assert(untouchedBefore == untouchedAfter,
      "an untouched partition's files changed: the upsert is not partition-scoped")
    // touched partitions were rewritten (fresh files), values merged
    assert(up.outputRows < 1000 && up.outputRows >= 3,
      s"rewrite covered ${up.outputRows} rows — expected only the touched buckets")
    val readBack = wh.readTable(ref, "verdicts")
    assert(readBack.count() == 1000)
    assert(readBack.filter(col("v") === "v1").count() == 3)
    assert(readBack.filter(col("k") < 3 && col("v") === "v0").count() == 0)
  }

  test("backend seam: in-memory backend runs the streaming dedup identically") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.InMemoryWarehouse
    import graft.operators.Similarity
    import graft.streaming.DocStreams
    val sf = SparkSuite.sf
    // identical staged stream: raw embeddings, then shifted clones
    val staged = Files.createTempDirectory("graft-seam")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      staged.resolve("a_embeddings.parquet"))
    val shifted = Tables.embeddings(spark, sf)
      .select((col("vec_id") + Similarity.Shift).as("vec_id"),
        col("embedding"), col("label"))
    val tmpOut = Files.createTempDirectory("graft-seam-w")
    shifted.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = Files.list(tmpOut)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
    Files.copy(part, staged.resolve("b_copies.parquet"))
    val cents = Similarity.seedCentroids(
      Similarity.quantized(Tables.embeddings(spark, sf))).localCheckpoint()
    // SAME streaming code, two backends — only the constructor differs
    val whP = new Warehouse(freshRoot(), spark)
    val whM = new InMemoryWarehouse(spark)
    val r = DatasetRef.fromString("proj.seam")
    whP.createDataset(r, DatasetMeta())
    whM.createDataset(r, DatasetMeta())
    val appendsP = DocStreams.runSemDedupToWarehouse(
      spark, staged.toString, cents, whP, r, "vec_index", "dupes")
    val appendsM = DocStreams.runSemDedupToWarehouse(
      spark, staged.toString, cents, whM, r, "vec_index", "dupes")
    assert(appendsP.map(_.indexAppend.outputRows)
        == appendsM.map(_.indexAppend.outputRows),
      "per-batch appended row counts diverge across backends")
    assert(appendsP.map(_.idsAppend.outputRows)
        == appendsM.map(_.idsAppend.outputRows),
      "per-batch sidecar row counts diverge across backends")
    assert(appendsP.map(_.verdictWrite.outputRows)
        == appendsM.map(_.verdictWrite.outputRows),
      "per-batch verdict rewrite row counts diverge across backends")
    def state(wh: graft.extract.WarehouseBackend) = (
      wh.readTable(r, "vec_index").select("vec_id")
        .collect().map(_.getLong(0)).toSet,
      wh.readTable(r, "dupes").select("new_vec", "matched_vec")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet)
    assert(state(whP) == state(whM),
      "final index/verdict state diverges across backends")
  }

  test("backend seam: both backends count and drop one partition the same way") {
    import org.apache.spark.sql.functions._
    import graft.extract.{InMemoryWarehouse, WarehouseBackend}
    // two appends into partition b=-1 (several part files), one into b=0
    def run(wh: WarehouseBackend): Seq[Any] = {
      wh.createDataset(ref, DatasetMeta())
      def rows(lo: Long, hi: Long, b: Int) =
        spark.range(lo, hi).select(col("id").as("k"), lit(b).as("b"))
      val before = wh.partitionRows(ref, "t", "b", -1)
      wh.appendTablePartitioned(rows(0, 3, -1), ref, "t", Seq("b"))
      wh.appendTablePartitioned(rows(3, 5, -1), ref, "t", Seq("b"))
      wh.appendTablePartitioned(rows(5, 7, 0), ref, "t", Seq("b"))
      val counted = Seq(-1, 0, 7).map(wh.partitionRows(ref, "t", "b", _))
      wh.dropPartition(ref, "t", "b", -1)
      wh.dropPartition(ref, "t", "b", 7)
      wh.dropPartition(ref, "absent", "b", -1)
      Seq(before, counted, wh.partitionRows(ref, "t", "b", -1),
        wh.readTable(ref, "t").collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    }
    val parquet = run(new Warehouse(freshRoot(), spark))
    assert(parquet == Seq(0L, Seq(5L, 2L, 0L), 0L, Set(5L -> 0, 6L -> 0)))
    assert(parquet == run(new InMemoryWarehouse(spark)))
  }

  test("load into an unknown dataset fails") {
    val wh = new Warehouse(freshRoot(), spark)
    intercept[IllegalStateException](
      wh.load(extractUri, nationSchema, DatasetRef("no", "ds"), "nation"))
  }
}

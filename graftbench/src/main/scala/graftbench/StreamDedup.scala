package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import graft.extract.Warehouse
import graft.streaming.DocStreams

import Main.{jstr, Ctx, Round}

/** Streaming near-duplicate detection into the warehouse. One round is
  * one `DocStreams.runIncrementalDedupToWarehouse` over a staged
  * directory of two micro-batch files, into a fresh dataset: fresh
  * documents, then exact and near copies of them under shifted ids.
  * Each round starts from an empty index, so every round does the same
  * work.
  */
final class StreamDedup extends Main.Workload {
  import StreamDedup._

  private var wh: Warehouse = _
  private val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[DocStreams.DedupBatchStats])]
  private var lastRound = -1

  private def staged(c: Ctx, r: Int): Path = Paths.get(c.opts.data, "stream", f"round-$r%03d")
  private def ref(r: Int) = Warehouse.DatasetRef("bench", s"dedup_$r")

  def setup(c: Ctx): Unit = wh = new Warehouse(c.work("warehouse").toString, c.spark)

  def warmup(c: Ctx): Unit = runRound(c, Warmup, batchesOf(c, Warmup), 0L)

  def round(c: Ctx, r: Int): Round = {
    val rr = r + 1
    val (batches, docs) = (batchesOf(c, rr), docsOf(c, rr))
    val rnd = Main.timed(runRound(c, rr, batches, docs))
    lastRound = rr
    rnd
  }

  private def stagedFiles(c: Ctx, r: Int): Seq[Path] = {
    val files = Files.list(staged(c, r))
    try files.filter(_.toString.endsWith(".parquet")).toArray.toSeq.map(_.asInstanceOf[Path])
    finally files.close()
  }

  private def batchesOf(c: Ctx, r: Int): Int = stagedFiles(c, r).size

  /** Documents are counted from the staged files: the query progress
    * counts each batch once per action that reads it.
    */
  private def docsOf(c: Ctx, r: Int): Long = stagedFiles(c, r).map(Main.parquetRows).sum

  /** (attempted, failed, documents committed, index bytes) of one round. */
  private def runRound(c: Ctx, r: Int, batches: Int, docs: Long): (Int, Int, Long, Long) = {
    val dir = staged(c, r)
    wh.createDataset(ref(r), Warehouse.DatasetMeta())
    try {
      val st = c.trace.span("streaming.run")(DocStreams.runIncrementalDedupToWarehouse(
        c.spark, dir.toString, wh, ref(r), IndexTable, DupTable))
      stats += ((r, st))
      val failed = if (st.size == batches) 0 else batches
      (batches, failed, if (failed == 0) docs else 0L, indexBytes(c, r))
    } catch { case NonFatal(e) => e.printStackTrace(); (batches, batches, 0L, 0L) }
  }

  private def tableDir(c: Ctx, r: Int, t: String): Path =
    Paths.get(c.opts.work, "warehouse", "bench", s"dedup_$r", t)

  private def indexBytes(c: Ctx, r: Int): Long = Tables.map(t => Main.sizeOf(tableDir(c, r, t))).sum

  def checks(c: Ctx): Seq[(String, String)] = {
    val appended = stats.find(_._1 == lastRound).map(_._2.map(_.indexAppend.outputRows).sum).getOrElse(-1L)
    Seq(
      "round" -> lastRound.toString,
      "index_dir" -> jstr(tableDir(c, lastRound, IndexTable).toString),
      "ids_dir" -> jstr(tableDir(c, lastRound, s"${IndexTable}_ids").toString),
      "dup_dir" -> jstr(tableDir(c, lastRound, DupTable).toString),
      "index_rows_appended" -> appended.toString)
  }

  def layers(c: Ctx, ws: Seq[(Long, Long)], rounds: Int): Map[String, Double] = {
    val t = c.trace
    val bs = t.batchesIn(ws)
    val nb = math.max(1, bs.size).toDouble
    def p50(k: String) = Main.median(bs.map(_.durations.getOrElse(k, 0L) / 1e3))
    // every job of the stream runs under the query's start call site, so
    // warehouse jobs are told apart by the files their tasks write
    val (whJobs, dsJobs) = t.jobsIn(ws).partition(j => t.outputBytes(j) > 0)
    val traced = stats.filter { case (r, _) => r > lastRound - rounds }.flatMap(_._2)
    val files = (lastRound - rounds + 1 to lastRound).flatMap(r => Tables.map(tb =>
      Main.countFiles(tableDir(c, r, tb), _.endsWith(".parquet")))).sum
    Map(
      "streaming.batch_p50_s" -> p50("triggerExecution"),
      "streaming.add_batch_s" -> p50("addBatch"),
      "streaming.query_planning_s" -> p50("queryPlanning"),
      "streaming.wal_commit_s" -> p50("walCommit"),
      "streaming.jobs_per_batch" -> t.jobsIn(ws).size / nb,
      "streaming.docstreams_job_s" -> t.jobSeconds(dsJobs) / nb,
      "streaming.warehouse_job_s" -> t.jobSeconds(whJobs) / nb,
      "streaming.files_written_per_batch" -> files / nb,
      "streaming.index_partitions_read" ->
        traced.flatMap(_.indexScan).map(_.partitionsRead).sum / nb,
      "streaming.index_partitions_total" ->
        traced.flatMap(_.indexScan).map(_.partitionsTotal).sum / nb,
      "streaming.index_bytes_appended" -> traced.map(_.indexAppend.outputBytes).sum / nb,
      "streaming.verdict_bytes_written" -> traced.map(_.verdictWrite.outputBytes).sum / nb)
  }
}

object StreamDedup {
  val IndexTable = "band_index"
  val DupTable = "dup_verdicts"
  /** The band index, its id sidecar and the verdict table. */
  val Tables: Seq[String] = Seq(IndexTable, s"${IndexTable}_ids", DupTable)
  /** Staged round used to warm up; timed rounds use the ones after it. */
  val Warmup = 0
}

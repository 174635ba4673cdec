package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  import SparkSuite._

  test("streaming dedup by id preserves the distinct event set") {
    val deduped = EventStreams.runDedupToMemory(spark, sf)
    val batch = graft.sources.Tables.events(spark, sf)
    assert(deduped.count() == batch.dropDuplicates("event_id").count())
    assert(deduped.select("event_id").distinct().count() == deduped.count())
  }

  test("stateful sessionization matches the batch sessionizer") {
    val streamed = EventStreams.runStatefulToMemory(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Relational.qSessionize(spark, sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"divergence: stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("native session_window aggregation matches the batch sessionizer") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{col, max}
    val events = graft.sources.Tables.events(spark, sf)
    val schema = EventStreams.rawSchema(
      org.apache.spark.sql.types.TimestampType)
    val staged = java.nio.file.Files.createTempDirectory("graft-sesswin")
    def writeChunk(df: org.apache.spark.sql.DataFrame, name: String,
                   mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sesswin-tmp")
      df.coalesce(1).write.parquet(tmp.resolve("d").toString)
      val part = java.nio.file.Files.list(tmp.resolve("d")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    writeChunk(events.select(schema.fieldNames.map(col): _*), "data", t0)
    val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0).getTime
    writeChunk(spark.createDataFrame(Seq(org.apache.spark.sql.Row(
      10000001L, new java.sql.Timestamp(maxTs + 30L * 86400000L),
      -1L, "noop", 0.0, "{}")).asJava, schema), "sentinel", t0 + 2000)
    val streamed = EventStreams.runSessionWindowToMemory(spark, staged.toString)
      .filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
    val batch = graft.operators.Relational.qSessionize(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[Long]("n_events"))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"divergence: stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
  }

  test("stream-stream interval join matches the batch join") {
    val streamed = EventStreams.runIntervalJoinToMemory(spark, sf)
      .collect().map(_.toString).sorted
    val batch = EventStreams.intervalJoinBatch(
        graft.sources.Tables.events(spark, sf))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty, "interval join produced no rows")
    assert(streamed.sameElements(batch),
      s"stream/batch divergence: ${streamed.length} vs ${batch.length} rows")
  }

  test("streaming warehouse sink upserts idempotently by event id") {
    import graft.extract.Warehouse
    val root = java.nio.file.Files.createTempDirectory("graft-stream-wh").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.stream")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    EventStreams.runStreamToWarehouse(spark, sf, wh, ref, "events")
    val distinct = graft.sources.Tables.events(spark, sf)
      .dropDuplicates("event_id").count()
    assert(wh.readTable(ref, "events").count() == distinct)
    // replay the same source: the keyed merge keeps the table
    // exactly-once under at-least-once delivery
    EventStreams.runStreamToWarehouse(spark, sf, wh, ref, "events")
    assert(wh.readTable(ref, "events").count() == distinct)
  }

  test("streaming curation equals batch scrub∘rule-filter and replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    val root = java.nio.file.Files.createTempDirectory("graft-wh-cur").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.curated")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runCurationToWarehouse(spark, sf, wh, ref, "corpus", "audit")
    // counts/sets captured EAGERLY: the replay below swaps the table
    // directories, so a lazily-held DataFrame would read deleted files
    val keptCount = wh.readTable(ref, "corpus").count()
    val auditCount = wh.readTable(ref, "audit").count()
    // batch equivalence: same keep set and same verdicts
    val batch = DocStreams.curateBatch(graft.sources.Tables.documents(spark, sf))
    assert(keptCount == batch.filter(col("keep")).count())
    assert(auditCount == batch.count())
    val streamVerdicts = wh.readTable(ref, "audit").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchVerdicts = batch.select(col("doc_id"),
        coalesce(col("drop_reason"), lit("kept"))).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamVerdicts == batchVerdicts)
    // drop-reason counts derive from the audit table
    val counts = DocStreams.dropCounts(wh, ref, "audit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == batch.count())
    assert(counts.getOrElse("kept", 0L) == keptCount)
    // replay: running the whole stream again converges to the same tables
    DocStreams.runCurationToWarehouse(spark, sf, wh, ref, "corpus", "audit")
    assert(wh.readTable(ref, "corpus").count() == keptCount)
    assert(wh.readTable(ref, "audit").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == streamVerdicts)
  }

  test("foreachBatch lineage cuts run in reliable-checkpoint mode too (r6 verdict #5)") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    // with a checkpoint dir configured, every cut() inside the
    // streaming sinks becomes a RELIABLE (disk-durable) checkpoint —
    // same results, and the checkpoint dir actually receives state
    val ckpt = java.nio.file.Files.createTempDirectory("graft-reliable-ck")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-wh-relck").toString
      val wh = new Warehouse(root, spark)
      val ref = Warehouse.DatasetRef.fromString("proj.relck")
      wh.createDataset(ref, Warehouse.DatasetMeta())
      DocStreams.runCurationToWarehouse(spark, sf, wh, ref, "corpus", "audit")
      val batch = DocStreams.curateBatch(graft.sources.Tables.documents(spark, sf))
      assert(wh.readTable(ref, "corpus").count() == batch.filter(col("keep")).count())
      assert(wh.readTable(ref, "audit").count() == batch.count())
      val ckFiles = {
        val s = java.nio.file.Files.walk(ckpt)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(ckFiles > 0, "reliable mode must write checkpoint state to the configured dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "checkpoint dir must clear so later suites stay in local mode")
    }
  }

  test("streaming incremental dedup indexes uniques, flags copies cross-batch") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.Warehouse
    import graft.operators.Dedup
    import graft.streaming.DocStreams
    // batch 1: the raw documents; batch 2: exact copies under shifted
    // ids — every copy must be caught against the PERSISTED index
    val staged = Files.createTempDirectory("graft-incdedup")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      staged.resolve("a_documents.parquet"))
    val shifted = graft.sources.Tables.documents(spark, sf)
      .select((col("doc_id") + Dedup.Shift).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val tmpOut = Files.createTempDirectory("graft-incdedup-w")
    shifted.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = Files.list(tmpOut).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst.get
    Files.copy(part, staged.resolve("b_copies.parquet"))
    val root = Files.createTempDirectory("graft-wh-inc").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.dedup")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val stats = DocStreams.runIncrementalDedupToWarehouse(
      spark, staged.toString, wh, ref, "band_index", "dupes")
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    // APPEND-SHAPED writes (r4 verdict #1): per-batch written rows
    // must track the batch, never the index. Batch 1 (all unique)
    // appends its own bands; batch 2 (all copies) appends NOTHING —
    // under the old rewrite it would have rewritten the whole
    // O(index) table. Sum-of-appends == final index is the "no row
    // was ever written twice" ledger property.
    assert(stats.length == 2, s"expected 2 micro-batches, got ${stats.length}")
    assert(stats(1).indexAppend.outputRows == 0,
      s"all-duplicate batch appended ${stats(1).indexAppend.outputRows} index rows")
    assert(stats(1).idsAppend.outputRows == 0,
      "all-duplicate batch appended id-sidecar rows")
    assert(stats(1).indexAppend.outputBytes < stats(0).indexAppend.outputBytes / 4,
      "all-duplicate batch wrote index-scale bytes: the append is a rewrite")
    assert(stats.map(_.indexAppend.outputRows).sum
      == wh.readTable(ref, "band_index").count())
    // the id sidecar mirrors the index's doc set exactly
    assert(wh.readTable(ref, "band_index_ids").select("doc_id").distinct().count()
      == wh.readTable(ref, "band_index").select("doc_id").distinct().count())
    // PRUNED reads (r5 verdict #1): batch 2's index read selected
    // hive partitions (planning-time), bounded by the table total
    assert(stats(1).indexScan.isDefined && stats(1).idScan.isDefined,
      "parquet-backed run must report pruned-scan stats")
    assert(stats(1).indexScan.get.partitionsRead
      <= stats(1).indexScan.get.partitionsTotal)
    val indexed = wh.readTable(ref, "band_index")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val dupNew = wh.readTable(ref, "dupes")
      .select("new_doc").distinct().collect().map(_.getLong(0)).toSet
    // every shifted copy was flagged, none entered the index
    (0L until nDocs).foreach { i =>
      assert(dupNew.contains(i + Dedup.Shift), s"copy of $i not flagged")
      assert(!indexed.contains(i + Dedup.Shift), s"copy of $i entered the index")
    }
    // every doc is exactly one of: indexed unique or flagged dup
    assert((indexed ++ dupNew).size == indexed.size + dupNew.size)
    assert(indexed.size + dupNew.size == 2 * nDocs)
    // replay converges — and appends nothing (every doc is already
    // indexed or re-flagged as a dup; the index never re-writes)
    val idxCount = wh.readTable(ref, "band_index").count()
    val dupCount = wh.readTable(ref, "dupes").count()
    val replayStats = DocStreams.runIncrementalDedupToWarehouse(
      spark, staged.toString, wh, ref, "band_index", "dupes")
    assert(replayStats.map(_.indexAppend.outputRows).sum == 0,
      s"replay appended ${replayStats.map(_.indexAppend.outputRows).sum} index rows")
    assert(replayStats.map(_.idsAppend.outputRows).sum == 0)
    assert(wh.readTable(ref, "band_index").count() == idxCount)
    assert(wh.readTable(ref, "dupes").count() == dupCount)
    // PRUNING scales with the BATCH (r5 verdict #1): a one-doc batch
    // of fresh text must read at most its own bands' buckets of the
    // band index and exactly its one id bucket of the sidecar —
    // never the whole index — and write only its own rows
    val tiny = java.nio.file.Files.createTempDirectory("graft-incdedup-tiny")
    import spark.implicits._
    Seq((777000L,
        "zvqx wembl kforp snagle dworp quiblet xanthor prevost " +
        "glimmer yonder crestfall ombric".*(3), "en", "tiny", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(tiny.resolve("d.parquet").toString)
    val flatTiny = java.nio.file.Files.createTempDirectory("graft-incdedup-tiny2")
    java.nio.file.Files.list(tiny.resolve("d.parquet")).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(java.nio.file.Paths.get(f),
        flatTiny.resolve("tiny.parquet")))
    val tinyStats = DocStreams.runIncrementalDedupToWarehouse(
      spark, flatTiny.toString, wh, ref, "band_index", "dupes")
    assert(tinyStats.length == 1)
    val ts = tinyStats.head
    assert(ts.indexScan.get.partitionsRead <= Dedup.Bands,
      s"one doc has ${Dedup.Bands} bands but read " +
        s"${ts.indexScan.get.partitionsRead} index partitions")
    assert(ts.indexScan.get.partitionsRead < ts.indexScan.get.partitionsTotal,
      "one-doc batch scanned the whole band index: the read is unpruned")
    assert(ts.idScan.get.partitionsRead == 1
      && ts.idScan.get.partitionsRead < ts.idScan.get.partitionsTotal,
      "one-doc batch must read exactly its own id bucket")
    assert(ts.indexAppend.outputRows == Dedup.Bands
      && ts.idsAppend.outputRows == 1)
    assert(ts.verdictWrite.outputRows == 0,
      "a unique doc must not rewrite any verdict partition")
    // compaction: deleting doc 0 upstream frees its content — a
    // re-arriving copy (its shifted twin re-staged alone) now
    // indexes as new instead of matching a ghost
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    DocStreams.compactIndex(wh, ref, "band_index",
      Seq(0L).toDF("doc_id"))
    assert(wh.readTable(ref, "band_index")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0L).count() == 0)
    val resub = Files.createTempDirectory("graft-incdedup-resub")
    Files.copy(part, resub.resolve("c_resubmit.parquet"))
    // every other copy still matches its indexed original; 0+Shift's
    // only content-mates (doc 0, and any of 0's band-colliders —
    // all flagged, never indexed) are gone from the index
    DocStreams.runIncrementalDedupToWarehouse(
      spark, resub.toString, wh, ref, "band_index", "dupes")
    assert(wh.readTable(ref, "band_index")
      .filter(org.apache.spark.sql.functions.col("doc_id") === Dedup.Shift).count() > 0,
      "re-submitted copy of the deleted doc was not admitted as new")
  }

  test("streaming graph-ANN index: insert via serving plan, replay-safe, takedown") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    import graft.extract.Warehouse
    import graft.operators.Similarity
    import graft.streaming.DocStreams
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val staged = Files.createTempDirectory("graft-gidx")
    def stageAt(dir: java.nio.file.Path,
                df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-gidx-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        dir.resolve(s"$name.parquet"))
    }
    // batch 1 bootstraps the graph; batch 2 = exact clones of every
    // 70th vector under Shift-ed ids, admitted purely via insert
    val clones = emb.filter(col("vec_id") % 70 === 0)
      .withColumn("vec_id", col("vec_id") + Similarity.Shift)
    stageAt(staged, emb, "a_base")
    stageAt(staged, clones, "b_clones")
    val root = Files.createTempDirectory("graft-wh-gidx").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.gidx")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runGraphIndexStream(spark, staged.toString, wh, ref, "gedges")
    val nBase = emb.count()
    val nClones = clones.count()
    assert(wh.readTable(ref, "gedges_vecs").count() == nBase + nClones,
      "vector table must hold every unique vector")
    // bootstrap edges = NN-descent serving edges of batch 1 (the
    // default bulk build — deterministic, so replay-safe); clone
    // edges = k beam-found partners each, sourced at clone ids only
    val edges = wh.readTable(ref, "gedges")
    val cloneEdges = edges.filter(col("vec_a") >= Similarity.Shift)
    assert(cloneEdges.count() == nClones * Similarity.TopK)
    // each clone's edge set contains its original (cos 1.0 is
    // unbeatable, so insert-time search must rank it first wherever
    // the walk reaches the region at all — and majority must)
    val withOrig = cloneEdges
      .filter(col("vec_b") === col("vec_a") - Similarity.Shift).count()
    assert(withOrig * 10 >= nClones * 7,
      s"only $withOrig/$nClones clones linked to their original")
    // replay: redeliver batch 1 — nothing appends, serving unchanged
    def serveIds(): Seq[(Long, Long)] =
      DocStreams.graphServeFromIndex(spark, wh, ref, "gedges",
          Similarity.defaultQueries(emb)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val before = serveIds()
    stageAt(staged, emb, "c_replay")
    DocStreams.runGraphIndexStream(spark, staged.toString, wh, ref, "gedges")
    assert(wh.readTable(ref, "gedges_vecs").count() == nBase + nClones,
      "replay grew the vector table")
    assert(wh.readTable(ref, "gedges").count() == edges.count(),
      "replay grew the edge table")
    assert(serveIds() == before, "replay changed the served results")
    // takedown: remove the clones — edge table returns to a set with
    // no clone endpoints, vectors gone, serving never returns them
    DocStreams.compactGraphIndex(wh, ref, "gedges",
      clones.select(col("vec_id")))
    assert(wh.readTable(ref, "gedges_vecs")
      .filter(col("vec_id") >= Similarity.Shift).count() == 0)
    val after = wh.readTable(ref, "gedges")
    assert(after.filter(col("vec_a") >= Similarity.Shift ||
      col("vec_b") >= Similarity.Shift).count() == 0)
    assert(serveIds().forall(_._2 < Similarity.Shift),
      "post-takedown serving surfaced a removed vector")
  }

  test("streaming IVF index serves exactly the batch search; replay + takedown") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.Warehouse
    import graft.operators.Similarity
    import graft.streaming.DocStreams
    val emb = graft.sources.Tables.embeddings(spark, sf)
    // two micro-batches split by id parity; pinned seeded centroids
    val staged = Files.createTempDirectory("graft-ivfidx")
    def stageAt(dir: java.nio.file.Path,
                df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-ivfidx-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        dir.resolve(s"$name.parquet"))
    }
    stageAt(staged, emb.filter(col("vec_id") % 2 === 0), "a_even")
    stageAt(staged, emb.filter(col("vec_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-ivfidx").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.ivfidx")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val cents = Similarity.seedCentroids(Similarity.quantized(emb))
      .localCheckpoint()
    DocStreams.runIvfIndexStream(spark, staged.toString, cents, wh, ref, "ivfpost")
    assert(wh.readTable(ref, "ivfpost").count() == emb.count(),
      "index must hold every unique vector")
    val queries = Similarity.defaultQueries(emb)
    def serve(): Seq[(Long, Long, Int, Double)] =
      DocStreams.ivfServeFromIndex(spark, wh, ref, "ivfpost", cents, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq.sorted
    val batchTwin = Similarity.ivfTopKForCents(emb, cents, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq.sorted
    assert(serve() == batchTwin,
      "warehouse-served IVF differs from the batch operator")
    // replay: full redelivery appends nothing, serving unchanged
    stageAt(staged, emb.filter(col("vec_id") % 2 === 0), "c_replay_even")
    DocStreams.runIvfIndexStream(spark, staged.toString, cents, wh, ref, "ivfpost")
    assert(wh.readTable(ref, "ivfpost").count() == emb.count(),
      "replay grew the posting index")
    assert(serve() == batchTwin, "replay changed the served results")
    // takedown: drop a quarter of the vectors; serving must equal a
    // batch IVF over the SURVIVING corpus under the same pinned cents
    val deleted = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    DocStreams.compactIvfIndex(wh, ref, "ivfpost", deleted)
    val survivors = emb.filter(col("vec_id") % 4 =!= 0)
    val afterTwin = Similarity.ivfTopKForCents(survivors, cents, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq.sorted
    assert(serve() == afterTwin,
      "post-takedown serving differs from batch IVF over the survivors")
  }

  test("streaming BQ index serves exactly the batch search; replay + takedown") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    import graft.extract.Warehouse
    import graft.operators.Similarity
    import graft.streaming.DocStreams
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val staged = Files.createTempDirectory("graft-bqidx")
    def stageAt(dir: java.nio.file.Path,
                df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-bqidx-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        dir.resolve(s"$name.parquet"))
    }
    stageAt(staged, emb.filter(col("vec_id") % 2 === 0), "a_even")
    stageAt(staged, emb.filter(col("vec_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-bqidx").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.bqidx")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    // means pinned at creation time, from the full reference corpus
    val means = Similarity.dimMeans(Similarity.quantized(emb)).localCheckpoint()
    DocStreams.runBqIndexStream(spark, staged.toString, means, wh, ref, "bqbits")
    assert(wh.readTable(ref, "bqbits").count() == emb.count(),
      "index must hold every unique vector")
    val queries = Similarity.defaultQueries(emb)
    def serve(): Seq[(Long, Long, Int, Double)] =
      DocStreams.bqServeFromIndex(spark, wh, ref, "bqbits", means, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq.sorted
    def batchTwin(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bqTopKForMeans(corpus, means, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSeq.sorted
    assert(serve() == batchTwin(emb),
      "warehouse-served BQ differs from the batch operator")
    // replay: full redelivery appends nothing, serving unchanged
    stageAt(staged, emb.filter(col("vec_id") % 2 === 1), "c_replay_odd")
    DocStreams.runBqIndexStream(spark, staged.toString, means, wh, ref, "bqbits")
    assert(wh.readTable(ref, "bqbits").count() == emb.count(),
      "replay grew the bits index")
    assert(serve() == batchTwin(emb), "replay changed the served results")
    // takedown: serving must equal batch BQ over the SURVIVORS under
    // the same pinned means
    val deleted = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    DocStreams.compactBqIndex(wh, ref, "bqbits", deleted)
    assert(serve() == batchTwin(emb.filter(col("vec_id") % 4 =!= 0)),
      "post-takedown serving differs from batch BQ over the survivors")
  }

  test("streaming semantic dedup: append-shaped index, clones flagged cross-batch") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.Warehouse
    import graft.operators.Similarity
    import graft.streaming.DocStreams
    // batch 1: the raw embeddings; batch 2: exact copies under
    // shifted ids — every copy must be caught against the PERSISTED
    // posting index under the PINNED centroid set
    val staged = Files.createTempDirectory("graft-semdedup")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      staged.resolve("a_embeddings.parquet"))
    val shifted = graft.sources.Tables.embeddings(spark, sf)
      .select((col("vec_id") + Similarity.Shift).as("vec_id"),
        col("embedding"), col("label"))
    val tmpOut = Files.createTempDirectory("graft-semdedup-w")
    shifted.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = Files.list(tmpOut).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst.get
    Files.copy(part, staged.resolve("b_copies.parquet"))
    val root = Files.createTempDirectory("graft-wh-sem").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.semdedup")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val cents = Similarity.seedCentroids(
      Similarity.quantized(graft.sources.Tables.embeddings(spark, sf)))
      .localCheckpoint()
    val stats = DocStreams.runSemDedupToWarehouse(
      spark, staged.toString, cents, wh, ref, "vec_index", "sem_dupes")
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    // batch 1 has no natural pairs at the 0.95 threshold (measured
    // in-cluster max ~0.47), so all vectors survive; batch 2 is all
    // clones and must append NOTHING — the r4 verdict #1 shape
    assert(stats.length == 2, s"expected 2 micro-batches, got ${stats.length}")
    assert(stats(0).indexAppend.outputRows == nVecs)
    assert(stats(1).indexAppend.outputRows == 0,
      s"all-clone batch appended ${stats(1).indexAppend.outputRows} index rows")
    assert(stats(1).idsAppend.outputRows == 0)
    assert(stats.map(_.indexAppend.outputRows).sum
      == wh.readTable(ref, "vec_index").count())
    // pruned posting read (r5 verdict #1): batch 2's cid join
    // reported planning-time partition stats on the parquet backend
    assert(stats(1).indexScan.isDefined && stats(1).idScan.isDefined)
    assert(stats(1).indexScan.get.partitionsRead
      <= stats(1).indexScan.get.partitionsTotal)
    val flagged = wh.readTable(ref, "sem_dupes")
      .select("new_vec").distinct().collect().map(_.getLong(0)).toSet
    (0L until nVecs).foreach { i =>
      assert(flagged.contains(i + Similarity.Shift), s"clone of $i not flagged")
    }
    // replay converges and appends nothing
    val dupCount = wh.readTable(ref, "sem_dupes").count()
    val replay = DocStreams.runSemDedupToWarehouse(
      spark, staged.toString, cents, wh, ref, "vec_index", "sem_dupes")
    assert(replay.map(_.indexAppend.outputRows).sum == 0)
    assert(wh.readTable(ref, "vec_index").count() == nVecs)
    assert(wh.readTable(ref, "sem_dupes").count() == dupCount)
    // one-vector batch: reads ONE cid-bucket partition of the
    // posting index and ONE id bucket of the sidecar — the per-batch
    // scan tracks the batch, not the corpus-sized index
    import spark.implicits._
    val one = graft.sources.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select((org.apache.spark.sql.functions.col("vec_id") + 2L * Similarity.Shift)
        .as("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("label"))
    val tinyDir = Files.createTempDirectory("graft-semdedup-tiny")
    val tinyOut = Files.createTempDirectory("graft-semdedup-tiny-w")
    one.coalesce(1).write.mode("overwrite").parquet(tinyOut.toString)
    Files.copy(
      Files.list(tinyOut).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst.get,
      tinyDir.resolve("one.parquet"))
    val tinyStats = DocStreams.runSemDedupToWarehouse(
      spark, tinyDir.toString, cents, wh, ref, "vec_index", "sem_dupes")
    val ts = tinyStats.head
    assert(ts.indexScan.get.partitionsRead == 1
      && ts.indexScan.get.partitionsRead < ts.indexScan.get.partitionsTotal,
      s"one-vec batch read ${ts.indexScan.get.partitionsRead}/" +
        s"${ts.indexScan.get.partitionsTotal} posting partitions")
    assert(ts.idScan.get.partitionsRead == 1
      && ts.idScan.get.partitionsRead < ts.idScan.get.partitionsTotal)
  }

  test("stateful streaming packing equals batch packing, state spans batches") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    // two micro-batches split at the doc_id median, delivered in
    // order — the packing state (per-stream token offset) must carry
    // across the batch boundary for the result to equal batch mode
    val docs = graft.sources.Tables.documents(spark, sf)
    val mid = docs.agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id)"))
      .head.getDouble(0).toLong
    val staged = java.nio.file.Files.createTempDirectory("graft-packstream")
    docs.filter(col("doc_id") <= mid).coalesce(1)
      .write.parquet(staged.resolve("batch_a").toString)
    docs.filter(col("doc_id") > mid).coalesce(1)
      .write.parquet(staged.resolve("batch_b").toString)
    val flat = java.nio.file.Files.createTempDirectory("graft-packstream-flat")
    // FileStreamSource orders by MODIFICATION TIME: pin strictly
    // increasing mtimes so batch_a is always delivered before
    // batch_b (same-millisecond copies would make arrival order —
    // and therefore the packing — nondeterministic)
    var mtime = java.nio.file.Files.getLastModifiedTime(staged).toMillis
    for (d <- Seq("batch_a", "batch_b");
         f <- java.nio.file.Files.list(staged.resolve(d)).toArray.map(_.toString)
           if f.endsWith(".parquet")) {
      val p = java.nio.file.Paths.get(f)
      val dst = flat.resolve(s"${d}_${p.getFileName}")
      java.nio.file.Files.copy(p, dst)
      mtime += 2000
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val streamed = DocStreams.runPackStream(spark, flat.toString, "packed_t1")
    // every doc packed exactly once
    assert(streamed.count() == docs.count())
    // the per-(stream, seq) manifest equals the batch operator's
    val manifest = streamed.groupBy(col("stream"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val batch = graft.operators.Sampling.packSequences(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(manifest == batch,
      "streamed packing diverged from batch packing under in-order delivery")
    // state really spans batches: at least one sequence must contain
    // docs from BOTH micro-batches (the boundary window), which can
    // only happen if the offset survived the batch hop
    val spanning = streamed.groupBy(col("stream"), col("seq_id"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") <= mid && col("hi") > mid).count()
    assert(spanning > 0, "no sequence spans the micro-batch boundary")
  }

  test("streaming domain cap equals batch cap under rank-ordered replay, state spans batches") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    val docs = graft.sources.Tables.documents(spark, sf)
    // replay the corpus in hash-rank order split over three
    // micro-batches: per-domain arrival order then matches the batch
    // operator's rank order, so kept sets must coincide — and only
    // if the per-domain admission counter survives the batch hops
    val ranked = docs.withColumn("rk", pmod(col("doc_id") * 7919L, lit(104729L)))
    val n = ranked.count()
    val cuts = ranked.orderBy(col("rk"), col("doc_id")).select("doc_id", "rk")
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    val (c1, c2) = (cuts((n / 3).toInt), cuts((2 * n / 3).toInt))
    val staged = java.nio.file.Files.createTempDirectory("graft-domcap")
    def below(lim: (Long, Long)) =
      col("rk") < lim._1 || (col("rk") === lim._1 && col("doc_id") < lim._2)
    val parts = Seq(
      ranked.filter(below(c1)),
      ranked.filter(!below(c1) && below(c2)),
      ranked.filter(!below(c2)))
    // write each batch's parquet into a SEPARATE temp dir and copy
    // only the staged file into the streamed directory (r6 advice:
    // nested write dirs inside the monitored path relied on
    // FileStreamSource never listing them)
    val work = java.nio.file.Files.createTempDirectory("graft-domcap-w")
    var mtime = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, i) =>
      val d = work.resolve(s"part_$i")
      p.select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(d.toString)
      for (f <- java.nio.file.Files.list(d).toArray.map(_.toString)
             if f.endsWith(".parquet")) {
        mtime += 2000
        val src = java.nio.file.Paths.get(f)
        val dst = staged.resolve(s"b${i}_${src.getFileName}")
        java.nio.file.Files.copy(src, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
    }
    val streamed = DocStreams.runDomainCapStream(spark, staged.toString, "domcap_t1")
    assert(streamed.count() == n, "every doc receives a verdict")
    val streamKept = streamed.filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batchKept = graft.operators.Curation.qDomainCap(spark, sf)
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept,
      "rank-ordered replay must reproduce the batch hash-rank selection")
    // per-domain admission never exceeds the cap even across batches
    val over = streamed.filter(col("kept"))
      .groupBy(col("domain")).agg(count(lit(1)).as("k"))
      .filter(col("k") > graft.operators.Curation.DomainCap).count()
    assert(over == 0, "cap enforced across micro-batch boundaries")
  }

  test("watermark-ordered packing equals batch packing under bounded disorder, state stays windowed") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    import scala.jdk.CollectionConverters._
    val docs = graft.sources.Tables.documents(spark, sf)
    val n = docs.count()
    // event time = doc_id seconds; delivery order jittered by up to
    // 15 positions (= 15 s of disorder), well inside the 45 s
    // watermark the operator is told to expect
    val withTs = docs.withColumn("ts",
      expr("timestamp_seconds(1700000000 + doc_id)"))
    val schema = withTs.schema
    val jittered = withTs.withColumn("jrank",
        col("doc_id") + (col("doc_id") % 7 - lit(3)) * lit(5))
      .orderBy("jrank").drop("jrank").collect()
    val staged = java.nio.file.Files.createTempDirectory("graft-packorder")
    var mtime = System.currentTimeMillis()
    def writeChunk(rows: Seq[org.apache.spark.sql.Row], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-packorder-tmp")
      spark.createDataFrame(rows.asJava, schema)
        .coalesce(1).write.parquet(tmp.resolve("d").toString)
      val part = java.nio.file.Files.list(tmp.resolve("d")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = staged.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      mtime += 2000
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    for ((chunk, i) <- jittered.grouped(50).zipWithIndex)
      writeChunk(chunk.toSeq, f"chunk$i%03d")
    // two watermark-advancing sentinels: the first pushes the
    // watermark past every real doc, the second's micro-batch fires
    // the event-time timeouts that flush the remaining buffers; the
    // sentinels themselves stay inside the watermark and never emit
    for (j <- 0 until 2)
      writeChunk(Seq(org.apache.spark.sql.Row(1000001L + j, "x", "en", "sentinel",
        1L, new java.sql.Timestamp((1700000000L + 200000 + j) * 1000L))),
        s"sentinel$j")
    val gauge = spark.sparkContext.collectionAccumulator[java.lang.Long]("packbuf")
    val out = DocStreams.runPackStreamOrdered(spark, staged.toString,
      "packed_ordered_t1", "45 seconds", Some(gauge)).localCheckpoint()
    // every real doc emitted exactly once, sentinels never
    assert(out.count() == n, s"emitted ${out.count()} of $n docs")
    assert(out.select("doc_id").distinct().count() == n)
    assert(out.filter(col("doc_id") >= 1000000L).count() == 0)
    // the packed manifest equals the batch operator's despite the
    // out-of-order delivery — the watermark buffer restored event
    // order before any offset was assigned
    val manifest = out.groupBy(col("stream"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val batch = graft.operators.Sampling.packSequences(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(manifest == batch,
      "ordered streaming packing diverged from batch packing under bounded disorder")
    // state pin: per-key buffers track the disorder window (delay +
    // one micro-batch + jitter), never the corpus — every sampled
    // buffer stays under corpus/streams, the scaling signature of a
    // windowed buffer rather than an accumulating one
    val maxBuf = gauge.value.asScala.map(_.longValue).max
    assert(maxBuf > 0, "gauge never sampled a non-empty buffer")
    assert(maxBuf < n / graft.operators.Sampling.PackStreams,
      s"per-key buffer $maxBuf reached corpus scale (${n / graft.operators.Sampling.PackStreams})")
  }

  test("streaming decontamination equals the batch screen, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.functions.GraftFunctions._
    import graft.streaming.DocStreams
    val root = java.nio.file.Files.createTempDirectory("graft-wh-decon").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.decon")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val docs = graft.sources.Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 100 === 0)
      .select(explode(shingleHashes(tokens(col("text")), 5)).as("h")).distinct()
    DocStreams.runDecontaminationToWarehouse(spark, sf, bench, wh, ref, "leaks")
    val streamed = wh.readTable(ref, "leaks").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.TextAnalysis.qDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    DocStreams.runDecontaminationToWarehouse(spark, sf, bench, wh, ref, "leaks")
    assert(wh.readTable(ref, "leaks").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == streamed)
  }

  test("streaming fuzzy decontamination equals the batch screen, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    val root = java.nio.file.Files.createTempDirectory("graft-wh-fdecon").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.fdecon")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val docs = graft.sources.Tables.documents(spark, sf)
    // benchmark = every 100th doc under EXTERNAL ids (shifted), so
    // each leaked doc must flag against its benchmark twin at 8/8
    val bench = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + graft.operators.Dedup.Shift).as("doc_id"), col("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("train_doc_id"), col("bench_doc_id"),
        col("n_matching_perms"), col("flagged"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    DocStreams.runFuzzyDecontaminationToWarehouse(spark, sf, bench, wh, ref, "fuzzy")
    val streamed = pairs(wh.readTable(ref, "fuzzy"))
    // signatures are content-local, so the union over micro-batches
    // must equal the one-shot batch screen exactly
    val batch = pairs(graft.operators.Dedup.fuzzyDecontaminate(docs, bench))
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    val leaked = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    leaked.foreach { d =>
      assert(streamed.contains((d, d + graft.operators.Dedup.Shift, 8L, 1L)),
        s"leaked doc $d must flag against its benchmark twin")
    }
    DocStreams.runFuzzyDecontaminationToWarehouse(spark, sf, bench, wh, ref, "fuzzy")
    assert(pairs(wh.readTable(ref, "fuzzy")) == streamed, "replay must converge")
  }

  test("streaming mixture application equals the batch sample, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    val root = java.nio.file.Files.createTempDirectory("graft-wh-mix").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.mixed")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val docs = graft.sources.Tables.documents(spark, sf)
    val factors = graft.operators.Curation.mixtureFactors(docs)
    DocStreams.runMixtureToWarehouse(spark, sf, factors, wh, ref, "sample")
    val streamed = wh.readTable(ref, "sample").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("copy_idx"))).toSet
    val batch = graft.operators.Curation.qMixtureSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    // replay converges: same sample_id keys, same row count
    DocStreams.runMixtureToWarehouse(spark, sf, factors, wh, ref, "sample")
    assert(wh.readTable(ref, "sample").count() == streamed.size)
  }

  test("streaming heavy hitters: merged sketch covers the exact frequent set, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.operators.CorpusOps
    import graft.streaming.DocStreams
    import graft.functions.GraftFunctions.tokens
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-hh")
    val docs = graft.sources.Tables.documents(spark, sf)
    // staging: the file stream lists top-level FILES, so write each
    // batch to a scratch dir and copy its part file in (the
    // incremental-dedup staging idiom)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-hh-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      Files.copy(part, staged.resolve(s"$name.parquet"))
    }
    // two disjoint halves -> two micro-batches; then a full replay file
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-hh").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.hh")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runHeavyHitterStream(spark, staged.toString, wh, ref, "sketch")
    val exact = docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(CorpusOps.bigrams(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    // lossBound parameterizes the undercount: the merged union-sum
    // loses <= n/MgK; ONE compaction (compressMg) subtracts the
    // (k+1)-th largest counter and so loses up to an ADDITIONAL
    // n/(MgK+1) per item — asserting the single-compression bound
    // after compactSketches would be spuriously strict at larger SFs
    // (r7 advice)
    def checkCandidates(lossBound: Long): Unit = {
      val cand = DocStreams.heavyHitterCandidates(wh, ref, "sketch").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(cand.nonEmpty)
      assert(cand.forall(_._3 == n), "sentinel stream length != exact bigram count")
      val est = cand.map(c => c._1 -> c._2).toMap
      // sketch guarantees: underestimates, bounded undercount, and
      // coverage of everything above the loss-bound share line
      assert(est.forall { case (t, e) => e <= exact(t) })
      assert(exact.forall { case (t, c) =>
        c - est.getOrElse(t, 0L) <= lossBound
      })
      assert(exact.forall { case (t, c) =>
        c <= lossBound || est.getOrElse(t, 0L) > 0L
      })
    }
    val mergeLoss = n / CorpusOps.MgK
    checkCandidates(mergeLoss)
    // full replay: every doc screens at the sidecar; state unchanged
    val before = wh.readTable(ref, "sketch").count()
    stage(docs, "c_replay")
    DocStreams.runHeavyHitterStream(spark, staged.toString, wh, ref, "sketch")
    assert(wh.readTable(ref, "sketch").count() == before, "replay grew the sketch table")
    checkCandidates(mergeLoss)
    // compaction folds batches into one summary; error grows by the
    // compression's own additive loss (the two-compression bound)
    DocStreams.compactSketches(wh, ref, "sketch")
    assert(wh.readTable(ref, "sketch").count() <= CorpusOps.MgK + 1)
    checkCandidates(mergeLoss + n / (CorpusOps.MgK + 1))
  }

  test("streaming search index serves BM25 equal to the batch scorer, pruned, idempotent") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-si")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-si-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      Files.copy(part, staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-si").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.search")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runSearchIndexStream(spark, staged.toString, wh, ref, "postings")
    val batch = graft.operators.CorpusOps.qBm25Search(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    def served(): (Set[(Int, Long, Long, Int)], Option[DocStreams.ScanStats]) = {
      val (df, scan) = DocStreams.bm25FromIndex(wh, ref, "postings")
      (df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet,
        scan)
    }
    val (got, scan) = served()
    assert(got == batch,
      s"index-only=${(got -- batch).take(3)} batch-only=${(batch -- got).take(3)}")
    // the lookup pruned: query terms touch a strict subset of the
    // term-hash partitions (32-bucket layout, 12 distinct terms)
    assert(scan.exists(s => s.partitionsRead < s.partitionsTotal),
      s"postings lookup did not prune: $scan")
    // replay: both halves re-staged together; the id screen makes the
    // whole batch a no-op and serving is unchanged
    val postingsBefore = wh.readTable(ref, "postings").count()
    stage(docs, "c_replay")
    DocStreams.runSearchIndexStream(spark, staged.toString, wh, ref, "postings")
    assert(wh.readTable(ref, "postings").count() == postingsBefore)
    assert(served()._1 == batch)
    // partial-batch failure: a crash between the postings append and
    // the ids append double-appends the batch's postings on
    // redelivery — simulate the artifact by re-appending the odd
    // docs' posting rows verbatim; serving must stay EXACT (the
    // (term, doc_id) read-side screen)
    // (duplicating BOTH halves also exercises compaction's physical
    // dedupe below: the surviving even docs' duplicates must vanish)
    // localCheckpoint: materialize BEFORE appending to the same path
    val dupPostings = wh.readTable(ref, "postings").localCheckpoint()
    wh.appendTablePartitioned(dupPostings, ref, "postings", Seq("bucket"),
      DocStreams.bloomWriteOptions("term", 64))
    assert(wh.readTable(ref, "postings").count() == 2 * postingsBefore,
      "double-append rung did not actually duplicate rows")
    assert(served()._1 == batch,
      "redelivered duplicate postings corrupted BM25 serving")
    // takedown compaction: deleting the odd docs must serve exactly
    // like an index that never ingested them (df/N/avgdl all track)
    DocStreams.compactSearchIndex(wh, ref, "postings",
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id")))
    val evenStaged = Files.createTempDirectory("graft-si-even")
    val tmp2 = Files.createTempDirectory("graft-si-even-w")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(tmp2.toString)
    Files.copy(Files.list(tmp2)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
      evenStaged.resolve("evens.parquet"))
    val ref2 = Warehouse.DatasetRef.fromString("proj.searcheven")
    wh.createDataset(ref2, Warehouse.DatasetMeta())
    DocStreams.runSearchIndexStream(spark, evenStaged.toString, wh, ref2, "postings")
    val compacted = served()._1
    val fresh = DocStreams.bm25FromIndex(wh, ref2, "postings")._1.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(compacted == fresh,
      s"compacted-only=${(compacted -- fresh).take(3)} fresh-only=${(fresh -- compacted).take(3)}")
    assert(compacted.nonEmpty)
  }

  test("streaming shard manifest equals batch exactly, replays idempotently, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-shm")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-shm-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-shm").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.shm")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runShardManifestStream(spark, staged.toString, wh, ref, "manifest")
    val batch = graft.operators.CorpusOps.qShardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def served(): Set[(Long, Long, Long, Long)] =
      DocStreams.shardManifestFromState(wh, ref, "manifest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(served() == batch,
      "streamed manifest must fold to the batch manifest exactly (xor included)")
    // replay: everything screens at the id sidecar — state unchanged
    val before = wh.readTable(ref, "manifest").count()
    stage(docs, "c_replay")
    DocStreams.runShardManifestStream(spark, staged.toString, wh, ref, "manifest")
    assert(wh.readTable(ref, "manifest").count() == before, "replay grew the state")
    assert(served() == batch)
    // compaction folds to one row per shard, serving unchanged
    DocStreams.compactManifest(wh, ref, "manifest")
    assert(wh.readTable(ref, "manifest").count() <=
      graft.operators.CorpusOps.NShards)
    assert(served() == batch)
  }

  test("streaming covariance equals the batch matrix cell-for-cell, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-cov")
    val embs = graft.sources.Tables.embeddings(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-cov-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(embs.filter(col("vec_id") % 2 === 0), "a_even")
    stage(embs.filter(col("vec_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-cov").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.cov")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runCovStream(spark, staged.toString, wh, ref, "covstate")
    val batch = graft.operators.CorpusOps.qEmbedCov(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    def served(): Set[(Int, Int, Double)] =
      DocStreams.covFromState(wh, ref, "covstate").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(served() == batch)
    // replay: everything screens at the vec-id sidecar
    val before = wh.readTable(ref, "covstate").count()
    stage(embs, "c_replay")
    DocStreams.runCovStream(spark, staged.toString, wh, ref, "covstate")
    assert(wh.readTable(ref, "covstate").count() == before)
    assert(served() == batch)
  }

  /** Actual bytes read from storage by one action over `df`, via the
    * metered `cfs://` scheme ([[CountingFileSystem]]). This is the
    * number parquet row-group skipping changes; planning-time
    * ScanStats can't see inside a file.
    */
  private def measuredBytes(df: org.apache.spark.sql.DataFrame): Long = {
    CountingFileSystem.bytesRead.set(0L)
    df.write.format("noop").mode("overwrite").save()
    CountingFileSystem.bytesRead.get
  }

  test("index lookup bounds bytes read past bucket-prune saturation (r6 verdict #1)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.Warehouse
    import graft.operators.Dedup
    import graft.streaming.DocStreams
    // the saturation regime: bucket count dialed down to 2, so any
    // real batch's band spread exceeds it and PARTITION pruning
    // degrades to a full-index read — the r6 verdict failure mode.
    // The key-set pushdown level must bound the BYTES read anyway.
    val prevBuckets = spark.conf.get(DocStreams.IndexBucketsConf)
    spark.conf.set(DocStreams.IndexBucketsConf, "2")
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
      val staged = Files.createTempDirectory("graft-satdedup")
      var mtime = System.currentTimeMillis()
      // 6 micro-batches of UNIQUE docs (id-shifted, every WORD salted
      // with the copy tag so no shingle survives across copies and
      // nothing dedups away) -> 6 append files per bucket: enough
      // row groups that skipping is measurable
      for (i <- 0 until 6) {
        val copy = docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\w+)", s"c$i" + "$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
        val tmp = Files.createTempDirectory(s"graft-satdedup-w$i")
        copy.coalesce(1).write.parquet(tmp.resolve("d").toString)
        val part = Files.list(tmp.resolve("d")).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = staged.resolve(f"c$i%02d.parquet")
        Files.copy(Paths.get(part), dst)
        mtime += 2000
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val root = Files.createTempDirectory("graft-wh-sat").toString
      val wh = new Warehouse(root, spark)
      val ref = Warehouse.DatasetRef.fromString("proj.satdedup")
      wh.createDataset(ref, Warehouse.DatasetMeta())
      DocStreams.runIncrementalDedupToWarehouse(
        spark, staged.toString, wh, ref, "band_index", "dupes")
      // every copy indexes independently (a few docs are natural
      // near-dups WITHIN each copy — same fraction per batch)
      val nDocs = docs.count()
      val indexed = wh.readTable(ref, "band_index").select("doc_id").distinct().count()
      assert(indexed > 5 * nDocs,
        s"salted copies collapsed: only $indexed of ${6 * nDocs} docs indexed")
      // probe batch: 20 fresh docs, 80 distinct band hashes — spread
      // >> 2 buckets, so both hive partitions are touched w.h.p.
      import spark.implicits._
      val probe = (0 until 20).map(i => (900000000L + i,
        s"probe$i qwerzap$i flumix$i drandle$i vopril$i skentor$i " +
          s"blarnok$i twizzle$i graphem$i ostrunkel$i",
        "en", "probe", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val probeHashes = Dedup.minhashBands(Dedup.minhashSignatures(probe))
        .select("band_hash").distinct().collect().map(_.getString(0)).toSeq
      val buckets = Seq(0, 1)
      val (_, scan) = DocStreams.indexLookup(wh, ref, "band_index",
        "bucket", buckets, "band_hash", probeHashes, DocStreams.HashIndexReadOptions)
      // level 1 IS saturated: every partition selected, every byte
      // selected at planning time — partition pruning alone would
      // re-read the whole index per batch
      assert(scan.get.partitionsRead == scan.get.partitionsTotal,
        "probe spread must saturate the bucket count for this rung")
      val indexBytes = scan.get.bytesSelected
      assert(indexBytes > 0 && scan.get.filesSelected >= 12,
        s"expected >=12 append files, got ${scan.get.filesSelected}")
      // metered reads: same files, same options, same production
      // filter construction (lookupFilters), through cfs://
      val idxPath = java.nio.file.Paths.get(root, "proj", "satdedup", "band_index")
      def metered = spark.read.options(DocStreams.HashIndexReadOptions)
        .parquet(CountingFileSystem.route(spark, idxPath.toString))
      // measurement sanity: an unfiltered read really costs ~the index
      val fullBytes = measuredBytes(metered)
      assert(fullBytes > indexBytes / 2,
        s"byte-metering harness broken: full read measured $fullBytes of $indexBytes")
      // level 2 holds: the pushed band-hash set lets parquet's
      // row-group filters (bloom; dictionary read-off) skip the data
      // pages, so a fresh batch reads a small fraction of the index
      val lookup = DocStreams.lookupFilters(metered,
        "bucket", buckets, "band_hash", probeHashes)
      val lookupBytes = measuredBytes(lookup)
      info(s"index=$indexBytes B, full read=$fullBytes B, " +
        s"saturated fresh lookup=$lookupBytes B")
      assert(lookupBytes < indexBytes / 3,
        s"saturated lookup read $lookupBytes of $indexBytes index bytes — " +
          "row-group skipping is not engaging")
      assert(lookup.count() == 0, "fresh probe hashes must match nothing")
      // and a lookup for ONE indexed doc reads its matching row
      // groups, not the index: correct rows back, bounded bytes
      val oneDoc = wh.readTable(ref, "band_index")
        .filter(col("doc_id") === lit(7L)).select("band_hash")
        .collect().map(_.getString(0)).toSeq
      val hitLookup = DocStreams.lookupFilters(metered,
        "bucket", buckets, "band_hash", oneDoc)
      val hitBytes = measuredBytes(hitLookup)
      info(s"single-doc hit lookup=$hitBytes B")
      assert(hitBytes < indexBytes / 3,
        s"single-doc lookup read $hitBytes of $indexBytes index bytes")
      assert(hitLookup.filter(col("doc_id") === 7L).count() == Dedup.Bands)
    } finally spark.conf.set(DocStreams.IndexBucketsConf, prevBuckets)
  }

  test("index lookup falls back to bucket pruning past the key-set cap, same results") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    // the key-set pushdown is an OPTIMIZATION level: with the cap
    // dialed to 1 every batch exceeds it, the In filter is skipped,
    // and the dedup outcome must be byte-identical to the pushed run
    val prevMax = spark.conf.getOption(DocStreams.LookupPushdownConf)
    val staged = Files.createTempDirectory("graft-capdedup")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      staged.resolve("a_documents.parquet"))
    def run(tag: String): (Long, Long) = {
      val root = Files.createTempDirectory(s"graft-wh-cap$tag").toString
      val wh = new Warehouse(root, spark)
      val ref = Warehouse.DatasetRef.fromString("proj.capdedup")
      wh.createDataset(ref, Warehouse.DatasetMeta())
      DocStreams.runIncrementalDedupToWarehouse(
        spark, staged.toString, wh, ref, "band_index", "dupes")
      // replay immediately: the second pass exercises the pruned
      // index READ path (table exists now)
      DocStreams.runIncrementalDedupToWarehouse(
        spark, staged.toString, wh, ref, "band_index", "dupes")
      (wh.readTable(ref, "band_index").count(),
        wh.readTable(ref, "dupes").count())
    }
    val pushed = run("a")
    spark.conf.set(DocStreams.LookupPushdownConf, "1")
    try {
      val fallback = run("b")
      assert(pushed == fallback,
        s"pushdown cap changed the dedup outcome: $pushed vs $fallback")
    } finally prevMax match {
      case Some(v) => spark.conf.set(DocStreams.LookupPushdownConf, v)
      case None => spark.conf.unset(DocStreams.LookupPushdownConf)
    }
  }

  /** Two staged micro-batches for the leveled-index specs, in arrival
    * order: 30 fresh docs; then 100 fresh docs with exact copies of 20
    * docs of the first batch and of 20 of its own. At 128 index
    * buckets the first batch's bands and ids stay in L0, and the
    * second batch folds both tables with a non-empty L0.
    */
  private lazy val leveledStaged: java.nio.file.Path = {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf)
    def range(lo: Long, hi: Long) = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def copies(lo: Long, hi: Long) = range(lo, hi).withColumn("doc_id", col("doc_id") + Dedup.Shift)
    val staged = Files.createTempDirectory("graft-leveled")
    val t0 = System.currentTimeMillis()
    Seq(range(0, 30), range(30, 130).unionByName(copies(0, 20)).unionByName(copies(30, 50)))
      .zipWithIndex.foreach { case (b, i) =>
        val tmp = Files.createTempDirectory(s"graft-leveled-w$i")
        b.coalesce(1).write.parquet(tmp.resolve("d").toString)
        val part = Files.list(tmp.resolve("d")).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = staged.resolve(s"b$i.parquet")
        Files.copy(java.nio.file.Paths.get(part), dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L * i))
      }
    staged
  }

  private val leveledRef = graft.extract.Warehouse.DatasetRef.fromString("proj.leveled")

  /** Runs the incremental dedup over [[leveledStaged]] at `buckets`
    * index buckets into `wh`. */
  private def leveledRun(wh: graft.extract.WarehouseBackend, buckets: Int)
      : Seq[graft.streaming.DocStreams.DedupBatchStats] = {
    import graft.streaming.DocStreams
    val prev = spark.conf.get(DocStreams.IndexBucketsConf)
    spark.conf.set(DocStreams.IndexBucketsConf, buckets.toString)
    try DocStreams.runIncrementalDedupToWarehouse(spark, leveledStaged.toString, wh,
      leveledRef, "band_index", "dupes")
    finally spark.conf.set(DocStreams.IndexBucketsConf, prev)
  }

  /** A parquet warehouse with the leveled dataset that calls
    * `onDrop(table, rows of the partition)` before each partition drop.
    */
  private def leveledWarehouse(onDrop: (String, Long) => Unit = (_, _) => ())
      : graft.extract.Warehouse = {
    import graft.extract.Warehouse
    val wh = new Warehouse(java.nio.file.Files.createTempDirectory("graft-wh-lvl").toString, spark) {
      override def dropPartition(ref: Warehouse.DatasetRef, table: String, column: String,
                                 value: Int): Unit = {
        onDrop(table, partitionRows(ref, table, column, value))
        super.dropPartition(ref, table, column, value)
      }
    }
    wh.createDataset(leveledRef, Warehouse.DatasetMeta())
    wh
  }

  /** (flagged pairs, indexed docs, id-sidecar docs) of a leveled run. */
  private def leveledState(wh: graft.extract.WarehouseBackend)
      : (Set[(Long, Long)], Set[Long], Set[Long]) = (
    wh.readTable(leveledRef, "dupes").select("new_doc", "matched_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
    wh.readTable(leveledRef, "band_index").select("doc_id").collect().map(_.getLong(0)).toSet,
    wh.readTable(leveledRef, "band_index_ids").select("doc_id").collect().map(_.getLong(0)).toSet)

  /** One clean leveled run: its stats, warehouse and final state, and
    * the (table, L0 rows) of every fold. */
  private final case class LeveledRun(
      stats: Seq[graft.streaming.DocStreams.DedupBatchStats], wh: graft.extract.Warehouse,
      state: (Set[(Long, Long)], Set[Long], Set[Long]), folds: Seq[(String, Long)])

  private lazy val leveled128: LeveledRun = {
    val folds = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val wh = leveledWarehouse((t, rows) => folds += (t -> rows))
    val stats = leveledRun(wh, 128)
    LeveledRun(stats, wh, leveledState(wh), folds.toSeq)
  }

  test("leveled dedup index: all-L0, all-folded and threshold-crossing runs agree") {
    import graft.operators.Dedup
    val runs = Seq(2, 128, 1 << 20).map { n =>
      val (stats, wh) =
        if (n == 128) (leveled128.stats, leveled128.wh)
        else { val w = leveledWarehouse(); (leveledRun(w, n), w) }
      assert(stats.length == 2, s"$n buckets: ${stats.length} micro-batches")
      // outputRows counts each batch's own rows, also across folds
      assert(stats.map(_.indexAppend.outputRows).sum
        == wh.readTable(leveledRef, "band_index").count(), s"$n buckets: index ledger")
      assert(stats.map(_.idsAppend.outputRows).sum
        == wh.readTable(leveledRef, "band_index_ids").count(), s"$n buckets: sidecar ledger")
      val l0 = wh.partitionRows(leveledRef, "band_index", "bucket", -1)
      if (n == 2) assert(l0 == 0, "every batch folds at 2 buckets")
      if (n == 1 << 20)
        assert(l0 == wh.readTable(leveledRef, "band_index").count(), "everything stays in L0")
      n -> leveledState(wh)
    }
    // the 128-bucket run folded the index and the sidecar while their
    // L0 held the first batch's rows
    Seq("band_index", "band_index_ids").foreach { t =>
      assert(leveled128.folds.exists { case (ft, rows) => ft == t && rows > 0 },
        s"$t never folded a non-empty L0: ${leveled128.folds}")
    }
    val (flagged, indexed, ids) = runs.head._2
    assert(flagged.map(_._1).contains(Dedup.Shift) && flagged.map(_._1).contains(Dedup.Shift + 30))
    assert(indexed.size > 100 && ids == indexed)
    runs.tail.foreach { case (n, st) =>
      assert(st == runs.head._2, s"$n buckets diverge from 2 buckets")
    }
  }

  test("leveled dedup index: an interrupted fold converges on replay, compaction folds L0") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    // the band index folds first, the sidecar after it: a replay after
    // the sidecar's failure finds the batch's uniques already indexed
    Seq("band_index", "band_index_ids").foreach { failing =>
      var armed = true
      val wh = leveledWarehouse { (table, rows) =>
        // the first drop of this table's non-empty L0 fails after its L1 append
        if (armed && table == failing && rows > 0) {
          armed = false; throw new RuntimeException(s"injected: $table")
        }
      }
      intercept[Exception](leveledRun(wh, 128))
      assert(!armed, s"$failing: the injected failure did not fire")
      leveledRun(wh, 128)
      assert(leveledState(wh) == leveled128.state, s"$failing: replayed tables differ from a clean run")
      def dupKeys(table: String, key: String*): Long =
        wh.readTable(leveledRef, table).count() -
          wh.readTable(leveledRef, table).select(key.map(col): _*).distinct().count()
      assert(dupKeys("band_index", "doc_id", "band_id") == 0, s"$failing: duplicate index rows")
      assert(dupKeys("band_index_ids", "doc_id") == 0, s"$failing: duplicate sidecar rows")
      assert(dupKeys("dupes", "dup_key") == 0, s"$failing: duplicate verdicts")
    }
    // compaction of a run that left every row in L0
    val wh = leveledWarehouse()
    leveledRun(wh, 1 << 20)
    import spark.implicits._
    val prev = spark.conf.get(DocStreams.IndexBucketsConf)
    spark.conf.set(DocStreams.IndexBucketsConf, "128")
    try DocStreams.compactIndex(wh, leveledRef, "band_index", Seq.empty[Long].toDF("doc_id"))
    finally spark.conf.set(DocStreams.IndexBucketsConf, prev)
    assert(leveledState(wh) == leveled128.state, "compaction changed the tables' rows")
    Seq("band_index" -> ("bucket", "band_hash"), "band_index_ids" -> ("id_bucket", "doc_id"))
      .foreach { case (t, (b, k)) =>
        assert(!wh.listPartitions(leveledRef, t).get.exists(_.endsWith("=-1")), s"$t kept L0")
        assert(wh.readTable(leveledRef, t)
          .filter(col(b) =!= DocStreams.bucketOf(col(k), 128)).count() == 0,
          s"$t has rows outside their bucket")
      }
  }

  test("streaming windowed agg matches the batch plan") {
    val streamed = EventStreams.runToMemory(spark, sf)
      .collect().map(_.toString).sorted
    val batch = EventStreams.batchEquivalent(spark, sf)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch),
      s"stream/batch divergence: ${streamed.take(2).mkString} vs ${batch.take(2).mkString}")
  }

  test("streaming count-min grid equals batch cell-for-cell, replays idempotently, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Sketches
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-cms")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-cms-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-cms").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.cms")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runCountMinStream(spark, staged.toString, wh, ref, "cmgrid")
    val batch = Sketches.countMinSketch(docs.select(
        explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def served(): Map[(Long, Long), Long] =
      DocStreams.countMinFromState(wh, ref, "cmgrid").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(served() == batch,
      "streamed grid must sum to the batch grid exactly")
    // replay: counts are linear, so the doc-id sidecar must screen
    // every redelivered doc or the grid would double-count
    val before = wh.readTable(ref, "cmgrid").count()
    stage(docs, "c_replay")
    DocStreams.runCountMinStream(spark, staged.toString, wh, ref, "cmgrid")
    assert(wh.readTable(ref, "cmgrid").count() == before, "replay grew the state")
    assert(served() == batch)
    // compaction folds to one row per touched cell, serving unchanged
    DocStreams.compactCountMin(wh, ref, "cmgrid")
    assert(wh.readTable(ref, "cmgrid").count() <=
      Sketches.CmDepth * Sketches.CmWidth)
    assert(served() == batch)
  }

  test("streaming exact dedup finds every cross-batch pair at tau, replays idempotently") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Dedup
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-xd")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val twins = docs.select((col("doc_id") + Dedup.Shift).as("doc_id"),
      col("text"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-xd-$name")
      df.select(col("doc_id"), lit("x").as("source"), lit("en").as("lang"),
          col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs, "a_originals")
    stage(twins, "b_twins")
    val root = Files.createTempDirectory("graft-wh-xd").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.xd")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runExactDedupStream(spark, staged.toString, wh, ref,
      "xpost", "xdup")
    def verdicts(): Set[(Long, Long, Long)] =
      wh.readTable(ref, "xdup").select(col("new_doc"), col("matched_doc"),
          col("jaccard_ppm")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = verdicts()
    // batch-A internal pairs: exactly the batch exact join over A
    val aPairs = Dedup.prefixJoinPairs(docs).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(3))).toSet
    assert(aPairs.subsetOf(got), "every batch-A internal pair flagged")
    // indexed A docs = A minus A-side dup docs (kept out of the index)
    val aDups = aPairs.map(_._1)
    val indexed = docs.collect().map(_.getLong(0)).toSet -- aDups
    // completeness: every (twin, INDEXED original) pair at tau found
    val crossTruth = Dedup.prefixIncrementalPairs(docs, twins).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .filter(p => indexed(p._2)).toSet
    assert(crossTruth.subsetOf(got),
      s"missing cross pairs: ${(crossTruth -- got).take(3)}")
    // every twin doc is flagged (its original is indexed at J=1, or
    // the original's own matcher is indexed at the same J >= tau)
    val flagged = got.map(_._1)
    val twinIds = twins.collect().map(_.getLong(0))
    assert(twinIds.forall(flagged), "every twin must be flagged as dup")
    // replay: full redelivery is a no-op
    val postsBefore = wh.readTable(ref, "xpost").count()
    stage(docs, "c_replay_a"); stage(twins, "d_replay_b")
    DocStreams.runExactDedupStream(spark, staged.toString, wh, ref,
      "xpost", "xdup")
    assert(wh.readTable(ref, "xpost").count() == postsBefore,
      "replay grew the posting index")
    assert(verdicts() == got, "replay changed the verdicts")
    // takedown compaction (the 45g pin): delete a quarter of the
    // docs; the compacted postings + sidecar must equal a FRESH
    // survivors-only index, and serving a new batch against the
    // compacted index must equal serving it against the fresh one
    val delIds = docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    DocStreams.compactExactIndex(wh, ref, "xpost",
      docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")))
    def postsOf(w: Warehouse, r: Warehouse.DatasetRef, t: String): Set[(Long, Long)] =
      w.readTable(r, t).select(col("doc_id"), col("h")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    def szOf(w: Warehouse, r: Warehouse.DatasetRef, t: String): Set[(Long, Long)] =
      w.readTable(r, t).select(col("doc_id"), col("sz")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(postsOf(wh, ref, "xpost").forall(p => !delIds(p._1)),
      "compaction left postings of deleted docs")
    assert(szOf(wh, ref, "xpost_sz").forall(p => !delIds(p._1)),
      "compaction left sidecar rows of deleted docs")
    // fresh survivors-only index in a separate warehouse
    val survivorIds = indexed -- delIds
    val survivors = docs.filter(col("doc_id").isin(survivorIds.toSeq: _*))
    val root2 = Files.createTempDirectory("graft-wh-xd2").toString
    val wh2 = new Warehouse(root2, spark)
    val ref2 = Warehouse.DatasetRef.fromString("proj.xd2")
    wh2.createDataset(ref2, Warehouse.DatasetMeta())
    val staged2 = Files.createTempDirectory("graft-xd2")
    def stageAt(dir: java.nio.file.Path,
                df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-xd2-$name")
      df.select(col("doc_id"), lit("x").as("source"), lit("en").as("lang"),
          col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        dir.resolve(s"$name.parquet"))
    }
    stageAt(staged2, survivors, "a_survivors")
    DocStreams.runExactDedupStream(spark, staged2.toString, wh2, ref2,
      "ypost", "ydup")
    assert(postsOf(wh, ref, "xpost") == postsOf(wh2, ref2, "ypost"),
      "compacted postings differ from a fresh survivors-only index")
    assert(szOf(wh, ref, "xpost_sz") == szOf(wh2, ref2, "ypost_sz"),
      "compacted sidecar differs from a fresh survivors-only index")
    // serving equality: the same new batch probes both indexes
    val twins2 = docs.select((col("doc_id") + 2 * Dedup.Shift).as("doc_id"),
      col("text"))
    val stagedNewA = Files.createTempDirectory("graft-xd-newa")
    val stagedNewB = Files.createTempDirectory("graft-xd-newb")
    stageAt(stagedNewA, twins2, "e_twins2")
    stageAt(stagedNewB, twins2, "e_twins2")
    DocStreams.runExactDedupStream(spark, stagedNewA.toString, wh, ref,
      "xpost", "xdup")
    DocStreams.runExactDedupStream(spark, stagedNewB.toString, wh2, ref2,
      "ypost", "ydup")
    def newVerdicts(w: Warehouse, r: Warehouse.DatasetRef, t: String): Set[(Long, Long, Long)] =
      w.readTable(r, t).select(col("new_doc"), col("matched_doc"),
          col("jaccard_ppm"))
        .filter(col("new_doc") >= 2 * Dedup.Shift).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(newVerdicts(wh, ref, "xdup") == newVerdicts(wh2, ref2, "ydup"),
      "post-takedown serving differs from the fresh survivors-only index")
  }

  test("streaming length histogram equals batch row-for-row, replays idempotently, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Sketches
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-lh")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-lh-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-lh").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.lh")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runLenHistStream(spark, staged.toString, wh, ref, "lhist")
    val batch = Sketches.qLenHist(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getLong(4)).toMap
    def served(): Map[(String, Long, Long, Long), Long] =
      DocStreams.lenHistFromState(wh, ref, "lhist").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
          r.getLong(4)).toMap
    assert(served() == batch,
      "streamed histogram must equal the batch histogram row-for-row")
    // replay: doc counts are linear — the sidecar must screen every
    // redelivered doc or bins double-count
    val before = wh.readTable(ref, "lhist").count()
    stage(docs, "c_replay")
    DocStreams.runLenHistStream(spark, staged.toString, wh, ref, "lhist")
    assert(wh.readTable(ref, "lhist").count() == before, "replay grew the state")
    assert(served() == batch)
    // compaction folds to one row per (source, bin), serving unchanged
    DocStreams.compactLenHist(wh, ref, "lhist")
    val nSrcBins = Sketches.lenHistPartial(docs).count()
    assert(wh.readTable(ref, "lhist").count() == nSrcBins)
    assert(served() == batch)
  }

  test("streaming hll registers equal batch, replay-safe WITHOUT a screen, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-hll")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-hll-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-hll").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.hll")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runHllStream(spark, staged.toString, wh, ref, "hllreg")
    val batch = graft.operators.Sketches.qHllSketch(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def served(): Map[(String, Long), Long] =
      DocStreams.hllFromState(wh, ref, "hllreg").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(served() == batch,
      "streamed registers must max-fold to the batch sketch exactly")
    // replay with NO screen: the whole corpus redelivered as ONE file
    // (a batch slicing the state never saw) appends rows, but max is
    // idempotent — the SERVED sketch cannot move
    stage(docs, "c_replay")
    DocStreams.runHllStream(spark, staged.toString, wh, ref, "hllreg")
    assert(served() == batch,
      "idempotent max must absorb arbitrary redelivery without a screen")
    // compaction folds to one row per (source, bucket), serving unchanged
    DocStreams.compactHll(wh, ref, "hllreg")
    val nSources = docs.select(col("source")).distinct().count()
    assert(wh.readTable(ref, "hllreg").count() <=
      nSources * graft.operators.Sketches.HllM)
    assert(served() == batch)
  }

  test("streaming edit-join index serves the batch pairs, replay-safe") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-ej")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-ej-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    // split so at least one near-pair straddles the two batches: the
    // second batch must find it by probing the index built by the first
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-ej").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.ej")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runEditJoinStream(spark, staged.toString, wh, ref, "eseg", "epairs")
    val batch = graft.operators.Dedup.editJoinPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def served(): Set[(Long, Long, Long)] =
      DocStreams.editPairsFromState(wh, ref, "epairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served() == batch,
      s"served pairs must equal the batch join: missing=${(batch -- served()).take(3)}")
    assert(batch.exists(p => p._1 % 2 != p._2 % 2),
      "fixture must contain at least one cross-batch pair (else the probe path is untested)")
    // replay: whole corpus redelivered as ONE file — keyed upserts
    // absorb it (segments cannot duplicate, pairs re-assert)
    stage(docs, "c_replay")
    DocStreams.runEditJoinStream(spark, staged.toString, wh, ref, "eseg", "epairs")
    assert(served() == batch, "replay must not move the served pairs")
    val nKeys = graft.operators.Dedup.editKeys(docs).count()
    assert(wh.readTable(ref, "eseg").count() ==
      nKeys * (graft.operators.Dedup.EditMaxK + 1),
      "segment index must hold exactly k+1 rows per valid key, no replay bloat")
  }

  test("streaming wj index: serve equals batch, cross-batch flags, replay, takedown") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Dedup
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-wj")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val copies = docs.select((col("doc_id") + Dedup.Shift).as("doc_id"),
      col("text"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-wj-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    // originals first, exact copies a batch later: every copy pair
    // must be FLAGGED at arrival by the index probe
    stage(docs, "a_docs")
    stage(copies, "b_copies")
    val root = Files.createTempDirectory("graft-wh-wj").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.wj")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runWjIndexStream(spark, staged.toString, wh, ref,
      "wjpost", "wjcnt", "wjpairs")
    // serve ≡ the batch operator over everything delivered (the
    // full-corpus df — blocking recomputes from persisted postings)
    val batch = Dedup.weightedJaccardPairs(Dedup.corpus(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    def served(): Set[(Long, Long, Double)] =
      DocStreams.wjPairsFromIndex(wh, ref, "wjpost", "wjcnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(served() == batch,
      s"served must equal batch: missing=${(batch -- served()).take(3)} " +
        s"extra=${(served() -- batch).take(3)}")
    // arrival-time audit caught every cross-batch copy pair at 1.0
    val flagged = wh.readTable(ref, "wjpairs")
      .select(col("doc_a"), col("doc_b"), col("wjaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nDocs = docs.count()
    val copyFlags = flagged.filter(p => p._2 == p._1 + Dedup.Shift)
    assert(copyFlags.size == nDocs && copyFlags.forall(_._3 == 1.0),
      s"only ${copyFlags.size}/$nDocs copy pairs flagged at arrival")
    // replay: whole corpus redelivered as one file — the posting-id
    // screen drops it; index row count and serving unchanged
    val postRows = wh.readTable(ref, "wjpost").count()
    stage(docs.unionAll(copies), "c_replay")
    DocStreams.runWjIndexStream(spark, staged.toString, wh, ref,
      "wjpost", "wjcnt", "wjpairs")
    assert(wh.readTable(ref, "wjpost").count() == postRows,
      "replay must not grow the posting index")
    assert(served() == batch, "replay must not move the served pairs")
    // takedown: remove the copies — serving equals a fresh batch run
    // over the survivors
    DocStreams.compactWjIndex(wh, ref, "wjpost", "wjcnt", "wjpairs",
      copies.select(col("doc_id")))
    val survivors = Dedup.weightedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(served() == survivors,
      "post-takedown serving must equal batch over the survivors")
    val remaining = wh.readTable(ref, "wjpairs").select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(remaining.forall(p => p._1 < Dedup.Shift && p._2 < Dedup.Shift),
      "no audited pair may touch a removed doc")
  }

  test("streaming kmv synopsis equals batch bit-exactly, replay-safe, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-kmv")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-kmv-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-kmv").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.kmv")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runKmvStream(spark, staged.toString, wh, ref, "kmv")
    val batchSk = graft.operators.Sketches.kmvSourceSketch(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    def served(): Map[String, Seq[Long]] =
      DocStreams.kmvFromState(wh, ref, "kmv").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(served() == batchSk,
      "streamed synopses must re-trim to the batch arrays bit-exactly")
    // the full pair-stage output through the served synopses must
    // equal the batch q_kmv_setops
    val batchOps = graft.operators.Sketches.kmvSetOps(docs).collect()
      .map(_.toSeq).toSet
    val servedOps = graft.operators.Sketches
      .kmvSetOpsFromSketch(DocStreams.kmvFromState(wh, ref, "kmv"))
      .collect().map(_.toSeq).toSet
    assert(servedOps == batchOps, "set-op serving must equal the batch rung")
    // replay with NO screen: whole corpus redelivered as one file
    stage(docs, "c_replay")
    DocStreams.runKmvStream(spark, staged.toString, wh, ref, "kmv")
    assert(served() == batchSk,
      "idempotent min-k union must absorb redelivery without a screen")
    // compaction folds to <= k rows per source, serving unchanged
    DocStreams.compactKmv(wh, ref, "kmv")
    val nSources = docs.select(col("source")).distinct().count()
    assert(wh.readTable(ref, "kmv").count() <=
      nSources * graft.operators.Sketches.KmvK)
    assert(served() == batchSk)
  }

  test("streaming bottom-k sample equals batch, replay-safe WITHOUT a screen, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Sketches
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-qs")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-qs-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    // three uneven slices — each batch's own bottom-k over-collects
    // relative to its share, the union re-trims to the corpus sample
    stage(docs.filter(col("doc_id") % 3 === 0), "a_mod0")
    stage(docs.filter(col("doc_id") % 3 === 1), "b_mod1")
    stage(docs.filter(col("doc_id") % 3 === 2), "c_mod2")
    val root = Files.createTempDirectory("graft-wh-qs").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.qs")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runBottomKStream(spark, staged.toString, wh, ref, "qsamp")
    val batch = Sketches.bottomKSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def served(): Seq[(Long, Long, Long)] =
      DocStreams.bottomKFromState(wh, ref, "qsamp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(served() == batch,
      "streamed partials must re-trim to the batch bottom-k exactly")
    // replay with NO screen: the whole corpus as ONE unseen batch
    // shape re-asserts rows the distinct-then-retrim fold absorbs
    stage(docs, "d_replay")
    DocStreams.runBottomKStream(spark, staged.toString, wh, ref, "qsamp")
    assert(served() == batch,
      "min-union idempotence must absorb arbitrary redelivery")
    // compaction folds the state to exactly the served k rows
    DocStreams.compactBottomK(wh, ref, "qsamp")
    assert(wh.readTable(ref, "qsamp").count() <= Sketches.QsK.toLong)
    assert(served() == batch)
  }

  test("streaming priority sample equals batch incl. tau, replay-safe, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.Sampling
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-prs")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-prs-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-prs").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.prs")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runPrioritySampleStream(spark, staged.toString, wh, ref, "prsamp")
    def six(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long, Long)] =
      df.select(col("doc_id"), col("weight"), col("priority").cast("long"),
          col("tau").cast("long"), col("w_hat").cast("long"), col("p_ppm").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
    val batch = six(Sampling.qPrioritySample(spark, sf))
    def served(): Seq[(Long, Long, Long, Long, Long, Long)] =
      six(DocStreams.prioritySampleFromState(wh, ref, "prsamp"))
    assert(batch.nonEmpty && served() == batch,
      "streamed candidates must re-trim to the batch sample incl. tau/w_hat")
    // replay with NO screen: redelivery upserts the same keyed rows
    stage(docs, "d_replay")
    DocStreams.runPrioritySampleStream(spark, staged.toString, wh, ref, "prsamp")
    assert(served() == batch, "redelivery changed the served sample")
    // compaction folds to the global top-(k+1), serving unchanged
    DocStreams.compactPrioritySample(wh, ref, "prsamp")
    assert(wh.readTable(ref, "prsamp").count() <= Sampling.PriorityK + 1L)
    assert(served() == batch)
  }

  test("streaming bloom bits equal batch, replay-safe WITHOUT a screen, compacts") {
    import org.apache.spark.sql.functions._
    import graft.extract.Warehouse
    import graft.streaming.DocStreams
    import graft.operators.{CorpusOps, Sketches}
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft-blm")
    val docs = graft.sources.Tables.documents(spark, sf)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-blm-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.copy(Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get,
        staged.resolve(s"$name.parquet"))
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "a_even")
    stage(docs.filter(col("doc_id") % 2 === 1), "b_odd")
    val root = Files.createTempDirectory("graft-wh-blm").toString
    val wh = new Warehouse(root, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.blm")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    DocStreams.runBloomStream(spark, staged.toString, wh, ref, "bloombits")
    val batch = Sketches.bloomBits(docs
        .select(explode(CorpusOps.bigrams(
          graft.functions.GraftFunctions.tokens(col("text")))).as("w"))
        .distinct())
      .collect().map(_.getLong(0)).toSet
    def served(): Set[Long] =
      DocStreams.bloomFromState(wh, ref, "bloombits").collect()
        .map(_.getLong(0)).toSet
    assert(served() == batch,
      "streamed bits must union to the batch bloom exactly")
    // replay with NO screen: bit-set union is idempotent — the whole
    // corpus redelivered as one unseen batch shape cannot move the bits
    stage(docs, "c_replay")
    DocStreams.runBloomStream(spark, staged.toString, wh, ref, "bloombits")
    assert(served() == batch,
      "idempotent union must absorb arbitrary redelivery without a screen")
    DocStreams.compactBloom(wh, ref, "bloombits")
    assert(wh.readTable(ref, "bloombits").count() <= Sketches.BloomBits)
    assert(served() == batch)
  }
}

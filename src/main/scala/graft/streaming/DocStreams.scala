package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MemoRegistry.{cut, named}
import graft.extract.{Merge, Warehouse, WarehouseBackend}
import graft.operators.Curation

/** Streaming corpus curation (SURVEY §7 r4): documents arrive as
  * files, every micro-batch is scrubbed (PII/URL redaction) and run
  * through the quality-rule cascade, and the results land in the
  * warehouse via foreachBatch — kept docs in a corpus table, every
  * doc's verdict in an audit table whose drop-reason counts are a
  * derived aggregate.
  *
  * Idempotence: both writes are keyed upserts by doc_id, so an
  * at-least-once replay of a micro-batch converges to the same
  * tables (the EventStreams.runStreamToWarehouse property, composed
  * with curation). Counting drops per REASON as its own state would
  * double-count on replay; deriving counts from the keyed audit
  * table makes the aggregate replay-proof by construction.
  */
object DocStreams {

  /** Schema of the raw documents parquet. */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File stream over a staged directory (one parquet per table in
    * the test data; production is a directory of arriving files).
    */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = java.nio.file.Files.createTempDirectory("graft-docstream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    spark.readStream.schema(rawSchema).parquet(staged.toString)
  }

  /** Batch curation core: scrub text, apply the rule cascade to the
    * SCRUBBED text, return one row per input doc with the verdict.
    */
  def curateBatch(docs: DataFrame): DataFrame =
    Curation.ruleFilter(
      docs.withColumn("text", Curation.scrub(col("text"))))
      .join(docs.select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("drop_reason"), col("keep"))

  /** Bucket count for every hash-partitioned streaming table: band
    * and posting indexes partition on a key-hash bucket so per-batch
    * reads prune to the buckets the batch touches, and verdict
    * tables partition the same way so upserts rewrite only touched
    * partitions.
    *
    * CONFIG-DRIVEN (r6 verdict #1): `graft.streaming.indexBuckets`,
    * default 1024. The bucket count caps the partition-prune factor —
    * a micro-batch whose key spread exceeds the bucket count touches
    * every bucket and partition pruning alone degrades to O(index) —
    * so production sizes it well above the per-batch key spread
    * (one bucket ≈ one comfortable task). Pruning's second level,
    * the key-set pushdown in [[indexLookup]], bounds the read even
    * PAST saturation. Like Spark bucketing, a table's bucket count
    * is fixed at creation: changing the conf across an existing
    * table's lifetime mis-routes lookups — compact/rebuild instead.
    * It also sizes level 0 of the leveled dedup tables
    * ([[runIncrementalDedupToWarehouse]]): L0 folds into the buckets
    * before it would reach this many rows.
    */
  val IndexBucketsConf = "graft.streaming.indexBuckets"
  val DefaultIndexBuckets = 1024
  def indexBuckets(spark: SparkSession): Int =
    spark.conf.get(IndexBucketsConf, DefaultIndexBuckets.toString).toInt

  /** Cap on the per-batch distinct-key set collected to the driver
    * and pushed into the index scan as an In filter. Below the cap,
    * parquet row-group filters (bloom + dictionary + stats) skip
    * non-matching row groups, so per-batch read bytes track the
    * MATCHED row groups even when the batch's bucket spread
    * saturates partition pruning; past it, the lookup falls back to
    * bucket pruning alone (the key set itself would bloat the plan).
    */
  val LookupPushdownConf = "graft.streaming.lookupPushdownMax"
  val DefaultLookupPushdownMax = 100000
  def lookupPushdownMax(spark: SparkSession): Int =
    spark.conf.get(LookupPushdownConf, DefaultLookupPushdownMax.toString).toInt

  /** Key-hash partition column for [[upsertPartitioned]] /
    * the streaming indexes: int-typed (hive partition-value
    * inference reads directory names back as ints) and always LAST
    * (parquet appends partition columns at the end on read-back, so
    * building them last keeps both warehouse backends' column order
    * identical — the seam property).
    */
  private[graft] def bucketOf(c: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(n.toLong)).cast("int")

  /** Parquet write options for an index append: a bloom filter on
    * the lookup-key column sized to the rows actually landing per
    * file, so later lookups skip row groups without reading them.
    * Min/max stats can't help a uniformly-hashed key (every row
    * group spans the whole domain) and dictionaries fall back to
    * plain encoding at production chunk sizes — the bloom filter is
    * the mechanism that still works at 100 TB. Explicit NDV rather
    * than parquet's adaptive mode: adaptive candidates bottom out at
    * maxBytes/16 (64 KB), which would dwarf a small append file.
    */
  def bloomWriteOptions(keyCol: String, expectedNdv: Long): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$keyCol" -> "true",
    s"parquet.bloom.filter.expected.ndv#$keyCol" -> math.max(64L, expectedNdv).toString)

  /** Read options for a hash-keyed index lookup: dictionary-page
    * row-group filtering off. The bloom filter answers the same
    * membership question from a far smaller structure; leaving
    * dictionary filtering on would read the key column's dictionary
    * page (the bulk of a dictionary-encoded chunk) for every
    * candidate row group just to skip it.
    */
  val HashIndexReadOptions: Map[String, String] =
    Map("parquet.filter.dictionary.enabled" -> "false")

  /** Planning-time scan accounting for one pruned read: how many
    * hive partitions — and how many files / bytes — the filtered
    * scan actually selects vs the table's total — the SinksSpec
    * plan-inspection trick, exposed so StreamingSpec can assert
    * per-batch reads scale with the BATCH's touched buckets, not the
    * index size. `filesSelected`/`bytesSelected` are the post-
    * partition-pruning planning numbers; row-group skipping inside
    * them is runtime behavior, measured by the specs via task input
    * metrics. None when the backend is storage-less (nothing to
    * prune) or the plan has no file scan.
    */
  final case class ScanStats(partitionsRead: Int, partitionsTotal: Int,
                             filesSelected: Long, bytesSelected: Long)

  private def prunedScan(df: DataFrame, total: Option[Int]): Option[ScanStats] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    for {
      t <- total
      s <- scans(df.queryExecution.executedPlan).headOption
    } yield ScanStats(s.selectedPartitions.partitionCount, t,
      s.selectedPartitions.totalNumberOfFiles,
      s.selectedPartitions.totalFileSize)
  }

  /** One pruned index lookup — the streaming indexes' read primitive,
    * two pruning levels deep:
    *
    *  1. PARTITION pruning: `bucketCol isin touchedBuckets` prunes
    *     hive partitions at planning time — prune factor up to the
    *     table's bucket count.
    *  2. KEY-SET pushdown: the batch's distinct lookup keys go down
    *     as an In filter that reaches parquet's row-group filters
    *     (bloom/stats — written by [[bloomWriteOptions]]), so when
    *     the batch's bucket spread SATURATES level 1 (key spread ≥
    *     bucket count — routine for a production micro-batch), the
    *     bytes actually read still track the matched row groups,
    *     not the index. Skipped past [[lookupPushdownMax]] keys.
    *
    * Returns the filtered frame plus planning-time [[ScanStats]]
    * (None on storage-less backends).
    */
  def indexLookup(wh: WarehouseBackend, ref: Warehouse.DatasetRef, table: String,
                  bucketCol: String, touchedBuckets: Seq[Int],
                  keyCol: String, keys: Seq[Any],
                  readOptions: Map[String, String] = Map.empty)
      : (DataFrame, Option[ScanStats]) = {
    val pruned = lookupFilters(wh.readTable(ref, table, readOptions),
      bucketCol, touchedBuckets, keyCol, keys)
    (pruned, prunedScan(pruned, wh.listPartitions(ref, table).map(_.length)))
  }

  /** The two [[indexLookup]] pruning filters on an already-opened
    * frame — split out so the byte-accounting spec can apply the
    * EXACT production filter construction to a read it can meter.
    *
    * NOTE on spark.sql.parquet.pushdown.inFilterThreshold (default
    * 10): key sets BELOW it push as an OR-of-equals chain, ABOVE it
    * as a parquet-native In predicate — the form the row-group
    * bloom/dictionary/stats evaluators handle at any set size. A
    * real batch's key set is always above it; never raise the
    * threshold (a thousands-deep OR chain overflows the stack).
    */
  def lookupFilters(base: DataFrame, bucketCol: String, touchedBuckets: Seq[Int],
                    keyCol: String, keys: Seq[Any]): DataFrame = {
    val max = lookupPushdownMax(base.sparkSession)
    val bucketPruned = base.filter(col(bucketCol).isin(touchedBuckets: _*))
    if (keys.nonEmpty && keys.size <= max)
      bucketPruned.filter(col(keyCol).isin(keys: _*))
    else bucketPruned
  }

  /** Partition-scoped keyed upsert — the streaming verdict-table
    * primitive (r5 verdict #2): the table lives hive-partitioned on
    * `pbucket = hash(key) mod IndexBuckets`, each batch merges
    * against ONLY the partitions its keys touch (pruned read), and
    * the rewrite is a dynamic partition overwrite of exactly those
    * partitions — per-batch I/O is O(touched partitions), never
    * O(table), while verdict REDELIVERY still merges instead of
    * duplicating (the reason these tables can't be blind appends).
    * A key's bucket is a pure function of the key, so its prior row
    * always lives inside the touched set — the merge misses nothing.
    * Returns the rows/bytes actually rewritten for the specs' ∝batch
    * scaling gates.
    */
  def upsertPartitioned(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        table: String, updates: DataFrame,
                        key: String): Warehouse.LoadResult = {
    val up = updates.withColumn("pbucket",
      bucketOf(col(key), indexBuckets(updates.sparkSession))).transform(cut)
    val touched = up.select("pbucket").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) Warehouse.LoadResult(0L, 0L)
    else {
      val merged =
        if (wh.tableExists(ref, table))
          Merge.upsert(
            wh.readTable(ref, table).filter(col("pbucket").isin(touched: _*)),
            up, key)
        else up.dropDuplicates(key)
      wh.overwritePartitions(merged.transform(cut), ref, table, Seq("pbucket"))
    }
  }

  /** Runs the curation stream into warehouse tables `corpusTable`
    * (kept docs) and `auditTable` (per-doc verdicts).
    *
    * Scale note: both tables are keyed upserts — the correct
    * primitive here because curation verdicts can CHANGE for a
    * re-delivered doc (a rule-config bump between deliveries), so
    * append-only would keep stale verdicts. The upserts are
    * PARTITION-SCOPED ([[upsertPartitioned]]): each batch rewrites
    * only the doc_id-hash partitions it touches, so per-batch I/O
    * tracks the batch even as the audited corpus grows.
    */
  def runCurationToWarehouse(spark: SparkSession, dir: String,
                             wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                             corpusTable: String, auditTable: String): Unit = {
    val q = readStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val curated = curateBatch(batch.toDF()).transform(cut)
        upsertPartitioned(wh, ref, corpusTable,
          curated.filter(col("keep"))
            .select(col("doc_id"), col("source"), col("lang"), col("n_tokens")),
          "doc_id")
        upsertPartitioned(wh, ref, auditTable,
          curated.select(col("doc_id"),
            coalesce(col("drop_reason"), lit("kept")).as("verdict")),
          "doc_id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Drop-reason counts derived from the audit table — replay-proof
    * because the audit rows are keyed by doc. */
  def dropCounts(wh: WarehouseBackend, ref: Warehouse.DatasetRef, auditTable: String): DataFrame =
    wh.readTable(ref, auditTable)
      .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))

  /** Per-micro-batch ledger of one streaming dedup run: what the
    * batch added to the band index, its id sidecar and the verdict
    * table, and how many hive partitions each pruned read actually
    * scanned (None on storage-less backends). Each `outputRows` counts
    * the batch's own rows only, also when the batch folds the L0 rows
    * of earlier batches into L1 (see [[runIncrementalDedupToWarehouse]]);
    * `outputBytes` is the size of the files the call wrote. The specs'
    * scaling gates assert appends AND scans track the batch.
    */
  final case class DedupBatchStats(
      indexAppend: Warehouse.LoadResult,
      idsAppend: Warehouse.LoadResult,
      verdictWrite: Warehouse.LoadResult,
      indexScan: Option[ScanStats],
      idScan: Option[ScanStats])

  /** Bucket value of level 0 (L0) of a leveled streaming table: a
    * sentinel hive partition (`bucket=-1`) in the table's own
    * directory, so every reader of the table sees its rows. See
    * [[runIncrementalDedupToWarehouse]] for the two levels.
    */
  val L0: Int = -1

  /** One batch's lookup keys for a table: the buckets they touch, the
    * distinct keys capped at [[lookupPushdownMax]] + 1 (one past the
    * cap makes [[lookupFilters]] fall back to bucket pruning) and the
    * row count.
    */
  private final case class KeySet(buckets: Seq[Int], keys: Seq[Any], rows: Long)

  /** The [[KeySet]] of `df` from one aggregation and one collect. The
    * key list is a [[graft.functions.CappedSet]], so no buffer of the
    * aggregation holds more than the cap's keys, however many the
    * batch has.
    */
  private def keySet[K: scala.reflect.runtime.universe.TypeTag](
      df: DataFrame, bucketCol: String, keyCol: String): KeySet = {
    val cap = math.min(lookupPushdownMax(df.sparkSession).toLong + 1, Int.MaxValue).toInt
    val keys = udaf(graft.functions.CappedSet[K](cap))
    val r = df.agg(collect_set(col(bucketCol)), keys(col(keyCol)), count(lit(1))).head()
    KeySet(r.getSeq[Int](0), r.getSeq[Any](1), r.getLong(2))
  }

  /** [[indexLookup]] of a leveled table: its L0 partition plus the L1
    * buckets `ks` touches, with the key set pushed down. While the
    * table does not exist: no rows, in the columns of `shape`.
    */
  private def leveledLookup(wh: WarehouseBackend, ref: Warehouse.DatasetRef, table: String,
                            bucketCol: String, keyCol: String, ks: KeySet,
                            shape: DataFrame): (DataFrame, Option[ScanStats]) =
    if (wh.tableExists(ref, table))
      indexLookup(wh, ref, table, bucketCol, ks.buckets :+ L0, keyCol, ks.keys,
        HashIndexReadOptions)
    else (shape.limit(0), None)

  /** Adds one batch's `rows` (bucket column already computed from
    * `keyCol`, last) to a leveled table. `offered` is an upper bound
    * of `rows` that a replay of the batch reproduces exactly, however
    * far the interrupted attempt got: the replay then takes the same
    * branch below, so an interrupted fold is folded again.
    *
    *  - While `L0 rows + offered < indexBuckets`, the rows land in L0
    *    as ONE file sorted on the key, with a bloom filter on it.
    *  - Otherwise the batch FOLDS: the L0 rows and the batch's rows are
    *    appended to their real buckets (one file per touched bucket),
    *    then the L0 partition is dropped. A fold writes at most
    *    min(rows, indexBuckets) files, once per indexBuckets rows, and
    *    costs more than an L0 append: on a long-lived index a fold
    *    batch takes about twice as long as the others.
    *
    * A fold interrupted between its append and its drop leaves the L0
    * rows in both levels; the next fold appends only the L0 rows that
    * L1 lacks (`rowKey` is the table's row identity), so a replay of
    * the batch converges. Returns the rows the batch itself added.
    */
  private def leveledAppend[K: scala.reflect.runtime.universe.TypeTag](
      wh: WarehouseBackend, ref: Warehouse.DatasetRef, table: String,
      bucketCol: String, keyCol: String, rowKey: Seq[String],
      rows: DataFrame, offered: Long): Warehouse.LoadResult = {
    val n = indexBuckets(rows.sparkSession)
    lazy val l0Rows = wh.partitionRows(ref, table, bucketCol, L0)
    if (offered == 0) Warehouse.LoadResult(0L, 0L)
    else if (l0Rows + offered < n)
      wh.appendTablePartitioned(
        rows.withColumn(bucketCol, lit(L0)).coalesce(1).sortWithinPartitions(col(keyCol)),
        ref, table, Seq(bucketCol), bloomWriteOptions(keyCol, offered))
    else {
      val (l0, l0Folded) =
        if (l0Rows == 0) (rows.limit(0), 0L)
        else {
          val old = wh.readTable(ref, table, HashIndexReadOptions)
            .filter(col(bucketCol) === L0).withColumn(bucketCol, bucketOf(col(keyCol), n))
          val ok = keySet[K](old, bucketCol, keyCol)
          val (inL1, _) = indexLookup(wh, ref, table, bucketCol, ok.buckets, keyCol, ok.keys,
            HashIndexReadOptions)
          val missing = old.join(inL1.select(rowKey.map(col): _*), rowKey, "left_anti")
            .select(rows.columns.map(col).toIndexedSeq: _*).transform(cut)
          (missing, missing.count())
        }
      val total = l0Rows + offered
      // an explicit task count: AQE would coalesce the small shuffle
      // into one task that writes every bucket's file in turn
      val tasks = rows.sparkSession.sparkContext.defaultParallelism
      val written = wh.appendTablePartitioned(
        rows.unionAll(l0).repartition(tasks, col(bucketCol))
          .sortWithinPartitions(col(bucketCol), col(keyCol)),
        ref, table, Seq(bucketCol), bloomWriteOptions(keyCol, total / math.min(total, n)))
      if (l0Rows > 0) wh.dropPartition(ref, table, bucketCol, L0)
      written.copy(outputRows = written.outputRows - l0Folded)
    }
  }

  /** Streaming incremental near-dup dedup — the production index
    * pattern: the warehouse keeps the MinHash BAND INDEX
    * (doc_id, band_id, band_hash) of every unique doc seen so far,
    * and each micro-batch (a) skips docs already indexed (replay),
    * (b) matches fresh docs against the stored index by band
    * equi-join — the index is never recomputed from text —
    * (c) matches fresh docs among themselves, (d) appends only the
    * UNIQUE docs' bands to the index and inserts the dup verdicts
    * ((new, matched) keyed) it does not hold yet. Per batch the work
    * is O(batch × bands) plus one equi-join against the TOUCHED SLICE
    * of the index.
    *
    * LEVELS (LSM-style, two of them): the band index, its doc_id
    * sidecar (`<indexTable>_ids`) and the verdict table are each
    * hive-partitioned on a key-hash bucket — `bucket =
    * hash(band_hash)`, `id_bucket = hash(doc_id)`, `pbucket =
    * hash(dup_key)`, mod IndexBuckets — which is level 1 (L1), plus
    * the sentinel partition `=-1`, level 0 (L0). [[leveledAppend]]
    * holds the fold rule: a batch's rows go to L0 as one file while
    * L0 stays under IndexBuckets rows; the batch that would fill it
    * writes L0 and itself into their real buckets and drops L0.
    *
    * WRITE shape: every table is INSERT-ONLY — per-batch write I/O is
    * O(batch), never O(index), and a small batch writes one file per
    * table. Insert-only is safe because a doc's bands never change
    * once indexed, the replay left-anti keeps a doc from appending
    * twice, and a verdict row is a pure function of its key, so a
    * verdict inserts only if its `dup_key` is absent (the replay-safe
    * equivalent of a keyed upsert). A fresh doc that matches its OWN
    * index rows (a batch replayed after its index write but before
    * its sidecar write) is neither re-appended nor flagged. Deletions
    * go through [[compactIndex]], the one deliberate rewrite.
    *
    * READ shape: each lookup reads L0 plus ONLY the L1 buckets the
    * batch's keys hash to — planning-time pruning, so per-batch read
    * I/O is bounded by IndexBuckets L0 rows plus
    * O(index / IndexBuckets × touched buckets) — with the key set
    * pushed to parquet's row-group filters ([[indexLookup]]). The
    * replay left-anti is served the same way by the sidecar instead
    * of the band index's doc_id column.
    *
    * Each step's jobs carry the step's name as their job description:
    * ids, fresh, bands, lookup, dupes, append index, append ids,
    * verdicts.
    *
    * Returns per-batch append AND pruned-scan stats so the spec's
    * scaling gates can assert both write and read volume track the
    * batch, not the index.
    */
  def runIncrementalDedupToWarehouse(spark: SparkSession, stagedDir: String,
                                     wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                                     indexTable: String, dupTable: String): Seq[DedupBatchStats] = {
    import graft.operators.Dedup
    val idsTable = s"${indexTable}_ids"
    val stats = scala.collection.mutable.ArrayBuffer.empty[DedupBatchStats]
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val docs = batch.toDF()
        // replay skip: which of the batch's doc_ids are already
        // indexed? Served by the id sidecar pruned to the batch's id
        // buckets — never by scanning the band index
        val batchIds = docs.select(col("doc_id"),
          bucketOf(col("doc_id"), nBuckets).as("id_bucket"))
        val ik = named(spark, "ids")(keySet[Long](batchIds, "id_bucket", "doc_id"))
        val (seen, idScan) = named(spark, "fresh")(
          leveledLookup(wh, ref, idsTable, "id_bucket", "doc_id", ik, batchIds))
        val fresh = docs.select(col("doc_id"), col("text"))
          .join(seen.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val bands = named(spark, "bands")(Dedup.minhashBands(Dedup.minhashSignatures(fresh))
          .withColumn("bucket", bucketOf(col("band_hash"), nBuckets))
          .transform(cut))
        // band match vs the persisted index: L0 plus the L1 buckets
        // this batch's bands hash to, with the band-hash set pushed
        // down to parquet's row-group filters — the level that still
        // bounds the read when the band spread saturates the buckets
        val (bk, (idx, idxScan)) = named(spark, "lookup") {
          val bk = keySet[String](bands, "bucket", "band_hash")
          (bk, leveledLookup(wh, ref, indexTable, "bucket", "band_hash", bk, bands))
        }
        // every (new, matched) pair, a fresh doc's match with its own
        // index rows included (see the WRITE shape above)
        val pairs = named(spark, "dupes") {
          val vsOld = bands.toDF("new_doc", "band_n", "hash_n", "bucket_n")
            .join(idx.toDF("old_doc", "band_o", "hash_o", "bucket_o"),
              col("band_n") === col("band_o") && col("hash_n") === col("hash_o"))
            .select(col("new_doc"), col("old_doc").as("matched_doc"))
          val a = bands.toDF("doc_a", "band_a", "hash_a", "bucket_a")
          val b = bands.toDF("doc_b", "band_b", "hash_b", "bucket_b")
          val vsNew = a.join(b,
              col("band_a") === col("band_b") && col("hash_a") === col("hash_b")
                && col("doc_a") < col("doc_b"))
            .select(col("doc_b").as("new_doc"), col("doc_a").as("matched_doc"))
          vsOld.unionAll(vsNew).distinct().transform(cut)
        }
        val dupes = pairs.filter(col("new_doc") =!= col("matched_doc"))
        val newDups = dupes.select(col("new_doc").as("doc_id"))
        // minhash keys bands by doc, so (doc_id, band_id) is unique
        // here; the matched doc ids number at most the batch's docs,
        // so both anti-joins broadcast them instead of shuffling bands.
        // Both appends offer a count of the batch's own docs, which a
        // replay reproduces (fresh docs shrink once the sidecar holds
        // them)
        val idxAppend = named(spark, "append index")(leveledAppend[String](wh, ref, indexTable,
          "bucket", "band_hash", Seq("doc_id", "band_id"),
          bands.join(broadcast(pairs.select(col("new_doc").as("doc_id"))), Seq("doc_id"), "left_anti"),
          ik.rows * Dedup.Bands))
        // the sidecar mirrors the index's doc set exactly: fresh
        // uniques only (dup docs stay unindexed so replays re-flag);
        // band 0 is one row per fresh doc
        val idsAppend = named(spark, "append ids")(leveledAppend[Long](wh, ref, idsTable,
          "id_bucket", "doc_id", Seq("doc_id"),
          bands.filter(col("band_id") === 0)
            .select(col("doc_id"), bucketOf(col("doc_id"), nBuckets).as("id_bucket"))
            .join(broadcast(newDups), Seq("doc_id"), "left_anti"),
          ik.rows))
        val verdictWrite = named(spark, "verdicts") {
          val key = concat(col("new_doc").cast("string"), lit("#"), col("matched_doc").cast("string"))
          val verdicts = dupes.withColumn("dup_key", key)
            .withColumn("pbucket", bucketOf(col("dup_key"), nBuckets))
          // the pairs, and so their count, are the same on a replay:
          // a pair whose matched doc the first attempt indexed is
          // found in the index instead of among the fresh docs
          val vk = keySet[String](verdicts, "pbucket", "dup_key")
          if (vk.rows == 0) Warehouse.LoadResult(0L, 0L)
          else {
            val (held, _) = leveledLookup(wh, ref, dupTable, "pbucket", "dup_key", vk, verdicts)
            leveledAppend[String](wh, ref, dupTable, "pbucket", "dup_key", Seq("dup_key"),
              verdicts.join(held.select(col("dup_key")), Seq("dup_key"), "left_anti")
                .select(verdicts.columns.map(col).toIndexedSeq: _*),
              vk.rows)
          }
        }
        stats += DedupBatchStats(idxAppend, idsAppend, verdictWrite, idxScan, idScan)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    stats.toSeq
  }

  /** STREAMING EXACT dedup index — the exact twin of
    * [[runIncrementalDedupToWarehouse]] (which is banded/
    * probabilistic): the warehouse keeps the full 5-gram POSTING
    * LISTS (doc_id, h) of every unique doc seen so far plus a
    * (doc_id, sz) size sidecar (which doubles as the replay
    * screen), and each micro-batch probes its docs' shingle-set
    * PREFIXES against the stored postings — every (new, indexed)
    * pair at exact Jaccard ≥ τ is found, no banding recall dial.
    *
    * Exactness under hash order: the stream prefixes each doc's set
    * in plain h order, not the batch operator's df order — one-sided
    * prefix filtering is sound under ANY consistent ordering of the
    * probing doc's own set (the [[graft.operators.Dedup.prefixIncrementalPairs]]
    * pigeonhole), and the df ordering is purely a posting-length
    * optimization the 5-gram domain barely needs (sf1: hottest
    * prefix posting 4). The h-order prefix is computed per doc as
    * slice(array_sort(collect_set)) — one agg, no window.
    *
    * READ shape: ONE pruned posting read per batch — partitions
    * pruned to the buckets the batch's shingles hash to, shingle set
    * pushed to row-group blooms — serves BOTH candidate generation
    * (prefix rows) and exact verification (all rows; any shared
    * element's h is in the batch's set by definition), so read I/O
    * rides the batch's shingle spread, never the corpus. The
    * one-sided suffix bound (shared + ⌈τ·sz⌉ − 1 < α prunes) gates
    * the per-pair verify work. Size lookups for candidates ride the
    * id-bucketed sz sidecar. WRITE shape: append-only postings +
    * sidecar for unique docs (dup docs stay unindexed so replays
    * re-flag); verdicts upsert (new, matched)-keyed.
    */
  def runExactDedupStream(spark: SparkSession, stagedDir: String,
                          wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                          postTable: String, dupTable: String,
                          tauPpm: Long = graft.operators.Dedup.PrefixTauPpm): Unit = {
    import graft.operators.Dedup
    import graft.functions.GraftFunctions.{tokens, shingleHashes}
    val szTable = s"${postTable}_sz"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, szTable))
            indexLookup(wh, ref, szTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          // per-doc shingle SET as a sorted array: sz, h-order prefix
          val sets = fresh.select(col("doc_id"),
              array_sort(array_distinct(
                shingleHashes(tokens(col("text")), Dedup.SpanShingle))).as("hs"))
            .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("sz"))
            .transform(cut)
          val tok = sets.select(col("doc_id"), explode(col("hs")).as("h"))
          val prefix = sets.select(col("doc_id"), col("sz"),
              explode(expr(s"slice(hs, 1, cast(sz - ($tauPpm * sz + 999999) div 1000000 + 1 as int))"))
                .as("h"))
          // ONE pruned posting read serves probe + verify
          val touchedB = tok.select(bucketOf(col("h"), nBuckets).as("bucket"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val batchHs = tok.select("h").distinct().limit(pushMax + 1)
            .collect().map(_.getLong(0)).toSeq
          val idx =
            if (wh.tableExists(ref, postTable))
              indexLookup(wh, ref, postTable, "bucket", touchedB,
                "h", batchHs, HashIndexReadOptions)._1
                .select(col("doc_id").as("old_doc"), col("h"))
            else
              spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
                StructType(Seq(StructField("old_doc", LongType),
                  StructField("h", LongType))))
          val idxC = idx.transform(cut)
          // candidates: batch prefix ⋈ stored postings, then sz
          // lookup + size filter + one-sided suffix bound
          val candRaw = prefix.toDF("new_doc", "sz_n", "h")
            .join(idxC, Seq("h"))
            .groupBy(col("new_doc"), col("old_doc"), col("sz_n"))
            .agg(count(lit(1)).as("shared"))
          val candDocs = candRaw.select(col("old_doc")).distinct()
            .withColumn("id_bucket", bucketOf(col("old_doc"), nBuckets))
          val candIdB = candDocs.select("id_bucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          val candIds = candDocs.select("old_doc").limit(pushMax + 1)
            .collect().map(_.getLong(0)).toSeq
          val szOld =
            if (wh.tableExists(ref, szTable))
              indexLookup(wh, ref, szTable, "id_bucket", candIdB,
                "doc_id", candIds, HashIndexReadOptions)._1
                .select(col("doc_id").as("old_doc"), col("sz").as("sz_o"))
            else candDocs.limit(0).select(col("old_doc"), lit(0L).as("sz_o"))
          val cand = candRaw.join(szOld, Seq("old_doc"))
            .filter(lit(tauPpm) * greatest(col("sz_n"), col("sz_o")) <=
              lit(1000000L) * least(col("sz_n"), col("sz_o")))
            .filter(col("shared") + expr(s"($tauPpm * sz_n + 999999) div 1000000") - 1 >=
              expr(s"($tauPpm * (sz_n + sz_o) + ${1000000L + tauPpm - 1}) div ${1000000L + tauPpm}"))
            .select(col("new_doc"), col("old_doc"), col("sz_n"), col("sz_o"))
            .transform(cut)
          // verify against the SAME pruned read
          val inter = cand.select(col("new_doc"), col("old_doc"))
            .join(tok.toDF("new_doc", "h"), Seq("new_doc"))
            .join(idxC, Seq("old_doc", "h"))
            .groupBy(col("new_doc"), col("old_doc"))
            .agg(count(lit(1)).as("n_common"))
          val vsOld = cand.join(inter, Seq("new_doc", "old_doc"))
            .select(col("new_doc"), col("old_doc").as("matched_doc"),
              col("n_common"),
              expr("n_common * 1000000 div (sz_n + sz_o - n_common)")
                .as("jaccard_ppm"))
            .filter(col("jaccard_ppm") >= tauPpm)
          // batch-internal pairs: the batch-local exact join (df
          // order local to the batch — exact either way)
          val vsNew = Dedup.prefixJoinPairs(fresh, tauPpm)
            .select(col("doc_b").as("new_doc"), col("doc_a").as("matched_doc"),
              col("n_common"), col("jaccard_ppm"))
          val dupes = vsOld.unionAll(vsNew).transform(cut)
          val newDups = dupes.select(col("new_doc").as("doc_id")).distinct()
          val uniquePosts = tok
            .join(newDups, Seq("doc_id"), "left_anti")
            .withColumn("bucket", bucketOf(col("h"), nBuckets))
            .repartition(col("bucket"))
            .sortWithinPartitions(col("bucket"), col("h"))
          wh.appendTablePartitioned(uniquePosts, ref, postTable, Seq("bucket"),
            bloomWriteOptions("h", math.max(1L,
              tok.count() / math.max(1, touchedB.size))))
          val uniqueSz = sets.select(col("doc_id"), col("sz"))
            .join(newDups, Seq("doc_id"), "left_anti")
            .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(uniqueSz, ref, szTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          val verdicts = dupes.withColumn("dup_key",
            concat(col("new_doc").cast("string"), lit("#"),
              col("matched_doc").cast("string")))
          upsertPartitioned(wh, ref, dupTable, verdicts, "dup_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Takedown compaction for the EXACT-dedup posting index (r10
    * verdict #5): [[runExactDedupStream]]'s postings + sz sidecar
    * are append-only (dup docs stay unindexed so replays re-flag);
    * when docs are DELETED (takedown / retention), this rewrites
    * both tables survivors-only — same LSM-style re-cluster as
    * [[compactIndex]] (band index) and [[compactSearchIndex]]
    * (BM25): range-partition + sort on (partition key, probe key)
    * so post-compaction min/max stats are sharp again, fresh blooms
    * on the probe key. Post-compaction serving must equal a fresh
    * survivors-only index (spec-pinned, the 45g discipline).
    */
  def compactExactIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        postTable: String, deletedDocs: DataFrame): Unit = {
    val del = deletedDocs.select(col("doc_id"))
    val kept = wh.readTable(ref, postTable)
      .join(del, Seq("doc_id"), "left_anti")
      .transform(cut)
      .repartitionByRange(col("bucket"), col("h"))
      .sortWithinPartitions(col("bucket"), col("h"))
    wh.writeTablePartitioned(kept, ref, postTable, Seq("bucket"),
      bloomWriteOptions("h",
        math.max(1L, kept.count() / math.max(1, kept.rdd.getNumPartitions))))
    val szTable = s"${postTable}_sz"
    if (wh.tableExists(ref, szTable)) {
      val keptSz = wh.readTable(ref, szTable)
        .join(del, Seq("doc_id"), "left_anti")
        .transform(cut)
        .repartitionByRange(col("id_bucket"), col("doc_id"))
        .sortWithinPartitions(col("id_bucket"), col("doc_id"))
      wh.writeTablePartitioned(keptSz, ref, szTable, Seq("id_bucket"),
        bloomWriteOptions("doc_id",
          math.max(1L, keptSz.count() / math.max(1, keptSz.rdd.getNumPartitions))))
    }
  }

  /** One packed doc: where it landed in its stream's running
    * concatenation. */
  final case class PackedDoc(stream: Long, doc_id: Long, n_tok: Long,
                             start_off: Long, seq_id: Long)

  /** STATEFUL streaming sequence packing — the running token offset
    * per stream is the ONLY state carried across micro-batches
    * (`flatMapGroupsWithState`, one Long per stream key): each
    * arriving doc is assigned the training-sequence window its first
    * token lands in, exactly [[graft.operators.Sampling.packSequences]]'
    * concat-and-chunk rule, but over an unbounded arrival stream.
    * State is O(streams) — bounded and tiny regardless of corpus
    * size; per-batch work is one narrow pass + the keyed state
    * exchange on the stream hash.
    *
    * ORDER CONTRACT (inherent to packing, stated honestly): packing
    * is order-sensitive by definition — the stream packs in ARRIVAL
    * order within each stream key (docs sorted by doc_id inside a
    * micro-batch for determinism). When arrival order matches batch
    * order the result EQUALS the batch operator (spec-pinned);
    * out-of-order delivery packs in delivered order, which is the
    * correct streaming semantics for an append-only training
    * manifest.
    */
  def packStream(docs: DataFrame, budget: Long = graft.operators.Sampling.SeqBudget,
                 streams: Int = graft.operators.Sampling.PackStreams): org.apache.spark.sql.Dataset[PackedDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.tokens(col("text"))).cast("long").as("n_tok"),
        graft.operators.Sampling.hashBucket(col("doc_id"), streams).as("stream"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (docId, nTok, _) =>
            val p = PackedDoc(stream, docId, nTok, off, off / budget)
            off += nTok
            p
          }
          state.update(off)
          out.iterator
      }
  }

  final case class DomainCapped(domain: String, doc_id: Long,
                                arrival_rank: Long, kept: Boolean)

  /** STREAMING per-domain caps — the arrival-order twin of
    * [[graft.operators.Curation.domainCap]]: one admission counter
    * per domain carried across micro-batches
    * (`flatMapGroupsWithState`, one Long per domain key — state is
    * O(domains), never O(docs)); the first `cap` docs a domain
    * delivers keep, every later arrival drops. Per-batch work is one
    * narrow pass plus the keyed state exchange on domain.
    *
    * SELECTION CONTRACT (stated honestly, like packStream's order
    * contract): the batch operator selects by deterministic hash
    * rank over the WHOLE corpus; an unbounded stream cannot rank
    * globally, so the streaming form admits FIRST-K-BY-ARRIVAL —
    * the published throttling semantics for live ingestion. Docs
    * sort by the same hash-rank key within each micro-batch, so
    * when cross-batch arrival respects the rank order (a replayed
    * rank-sorted corpus) the kept set EQUALS the batch operator's
    * (spec-pinned).
    */
  def domainCapStream(docs: DataFrame,
                      cap: Int = graft.operators.Curation.DomainCap): org.apache.spark.sql.Dataset[DomainCapped] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("domain"), col("doc_id"),
        pmod(col("doc_id") * 7919L, lit(104729L)).as("rk"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (domain: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(t => (t._3, t._2)).map { case (_, docId, _) =>
            n += 1
            DomainCapped(domain, docId, n, n <= cap)
          }
          state.update(n)
          out.iterator
      }
  }

  /** Memory-sink runner for [[domainCapStream]] over a staged
    * documents dir (file-per-trigger micro-batches), deriving the
    * harness domain the same way Curation.qDomainCap does.
    */
  def runDomainCapStream(spark: SparkSession, stagedDir: String,
                         queryName: String): DataFrame = {
    val q = domainCapStream(
        spark.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", 1).parquet(stagedDir).toDF()
          .withColumn("domain", concat(col("source"), lit("-"),
            pmod(col("doc_id"), lit(graft.operators.Curation.DomainMod)).cast("string"))))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** State of one packing stream under watermark delay: the running
    * token offset plus the docs still inside the disorder window —
    * (doc_id, n_tok, event-time millis) triples awaiting the
    * watermark. */
  final case class OrderedPackState(off: Long, buf: Seq[(Long, Long, Long)])

  /** WATERMARK-ORDERED streaming packing (r5 verdict next-#7) — the
    * published-pipeline shape: instead of packing in arrival order
    * like [[packStream]], docs buffer inside the watermark window
    * and emit in EVENT-TIME order, so bounded out-of-order delivery
    * produces the exact batch packing. `docs` must carry an
    * event-time `ts` column; `maxDisorder` is the watermark delay =
    * the disorder bound the caller guarantees.
    *
    * Mechanics: a doc whose event time has passed the watermark is
    * FINAL — Spark drops any later arrival older than the watermark
    * before the state function sees it — so each invocation emits
    * the buffered docs with ts <= watermark in (ts, doc_id) order
    * and re-buffers the rest, arming an event-time timeout so a
    * quiet key still flushes when the watermark advances past its
    * buffer.
    *
    * State is O(streams + in-flight window): one offset per stream
    * key plus only the docs younger than the watermark — at an
    * arrival rate r and delay d, ~r*d/streams triples per key,
    * independent of corpus size (spec-pinned via `bufferGauge`,
    * which records every invocation's retained-buffer size).
    * Equality with [[graft.operators.Sampling.packSequences]] under
    * disorder <= maxDisorder is spec-pinned; disorder beyond the
    * bound drops the too-late doc (watermark semantics) rather than
    * corrupting every later offset.
    */
  def packStreamOrdered(docs: DataFrame,
                        budget: Long = graft.operators.Sampling.SeqBudget,
                        streams: Int = graft.operators.Sampling.PackStreams,
                        maxDisorder: String = "60 seconds",
                        bufferGauge: Option[org.apache.spark.util.CollectionAccumulator[java.lang.Long]] = None)
      : org.apache.spark.sql.Dataset[PackedDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark("ts", maxDisorder)
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.tokens(col("text"))).cast("long").as("n_tok"),
        graft.operators.Sampling.hashBucket(col("doc_id"), streams).as("stream"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (stream: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[OrderedPackState]) =>
          val prev = state.getOption.getOrElse(OrderedPackState(0L, Nil))
          val all = prev.buf ++ rows.map(r => (r._1, r._2, r._4.getTime))
          val wm = state.getCurrentWatermarkMs()
          val (ready, still) = all.partition(_._3 <= wm)
          var off = prev.off
          val out = ready.sortBy(d => (d._3, d._1)).map { case (docId, nTok, _) =>
            val p = PackedDoc(stream, docId, nTok, off, off / budget)
            off += nTok
            p
          }
          bufferGauge.foreach(_.add(still.size.toLong))
          state.update(OrderedPackState(off, still))
          // wake this key on the next watermark advance even if no
          // new data arrives, so buffered docs can't strand
          if (still.nonEmpty) state.setTimeoutTimestamp(wm + 1L)
          out.iterator
      }
  }

  /** Runs the ordered packing stream over a staged directory and
    * returns the packed manifest (memory sink — the spec's harness).
    * The caller's staged files end with watermark-advancing sentinel
    * docs (future ts) so the final buffers flush; sentinels
    * themselves stay buffered and never emit.
    */
  def runPackStreamOrdered(spark: SparkSession, stagedDir: String, queryName: String,
                           maxDisorder: String,
                           bufferGauge: Option[org.apache.spark.util.CollectionAccumulator[java.lang.Long]] = None)
      : DataFrame = {
    val schema = StructType(rawSchema.fields :+ StructField("ts", TimestampType))
    val q = packStreamOrdered(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stagedDir).toDF(),
        maxDisorder = maxDisorder, bufferGauge = bufferGauge)
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Runs the packing stream over a staged directory and returns the
    * full packed manifest (memory sink — the spec's harness; a
    * production caller writes the PackedDoc stream to the warehouse
    * keyed by doc_id).
    */
  def runPackStream(spark: SparkSession, stagedDir: String,
                    queryName: String): DataFrame = {
    val q = packStream(
        spark.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", 1).parquet(stagedDir).toDF())
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Band-index compaction: docs deleted upstream (takedowns,
    * retention expiry) must leave the dedup index, or future
    * arrivals keep matching ghosts — a re-submitted copy of a
    * deleted doc should be admitted as new. One left-anti join +
    * rewrite of index and id sidecar; the ONE deliberate full
    * rewrite (deletions can empty a partition, which a dynamic
    * overwrite would leave stale), preserving the bucket layout so
    * per-batch pruning keeps working. `bucket`/`id_bucket` are
    * recomputed from the key, so the rewrite also folds L0 (see
    * [[runIncrementalDedupToWarehouse]]): afterwards every row is in
    * its L1 bucket. The index shrinks, it is never rebuilt from text.
    */
  def compactIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef, indexTable: String,
                   deletedDocs: DataFrame): Unit = {
    val n = indexBuckets(deletedDocs.sparkSession)
    // LSM-style re-cluster on rewrite: range-partition on
    // (bucket, key) then sort, so each post-compaction file covers a
    // NARROW contiguous key subrange of its bucket — per-append
    // files necessarily span their bucket's whole key domain
    // (uniform hashes), which is why fresh appends lean on bloom
    // filters; compaction is where min/max stats become sharp again
    val kept = wh.readTable(ref, indexTable)
      .withColumn("bucket", bucketOf(col("band_hash"), n))
      .join(deletedDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .transform(cut)
      .repartitionByRange(col("bucket"), col("band_hash"))
      .sortWithinPartitions(col("bucket"), col("band_hash"))
    wh.writeTablePartitioned(kept, ref, indexTable, Seq("bucket"),
      bloomWriteOptions("band_hash",
        kept.count() / math.max(1, kept.rdd.getNumPartitions)))
    val idsTable = s"${indexTable}_ids"
    if (wh.tableExists(ref, idsTable)) {
      val keptIds = wh.readTable(ref, idsTable)
        .withColumn("id_bucket", bucketOf(col("doc_id"), n))
        .join(deletedDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .transform(cut)
        .repartitionByRange(col("id_bucket"), col("doc_id"))
        .sortWithinPartitions(col("id_bucket"), col("doc_id"))
      wh.writeTablePartitioned(keptIds, ref, idsTable, Seq("id_bucket"),
        bloomWriteOptions("doc_id",
          keptIds.count() / math.max(1, keptIds.rdd.getNumPartitions)))
    }
  }

  /** Schema of the raw embeddings parquet. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming semantic dedup — [[graft.operators.Similarity.semDedup]]
    * incrementalized. The warehouse keeps the KEPT-VECTOR posting
    * index (vec_id, cid, q, nq) per coarse centroid; the centroid
    * set is PINNED by the caller (seeded from a reference corpus —
    * the same pinned-model discipline as streaming
    * decontamination's shingle set: a model that drifted with the
    * stream would re-assign history). Each micro-batch:
    * (a) skips vec_ids already indexed (replay) — served by a
    *     vec_id-bucketed sidecar pruned to the batch's id buckets,
    * (b) assigns fresh vectors to centroids (broadcast + argmax),
    * (c) matches them against the stored posting lists by cid
    *     equi-join at cos ≥ threshold — O(batch × list occupancy),
    *     never O(index²) — reading ONLY the cid-bucket partitions
    *     the batch's assignments touch (r5 verdict #1 read shape:
    *     the posting index is hive-partitioned on cid mod
    *     IndexBuckets, so the per-batch scan prunes at planning
    *     time instead of re-reading the whole corpus-sized index),
    * (d) applies batch semDedup's rank-dominance rule among the
    *     fresh vectors themselves,
    * (e) APPENDS only the survivors to the index (r4 verdict #1
    *     write shape: per-batch I/O tracks the batch, the index
    *     never rewrites) and upserts (dup, matched) verdicts via
    *     [[upsertPartitioned]] — redeliveries merge, only touched
    *     partitions rewrite — so replay converges.
    */
  def runSemDedupToWarehouse(spark: SparkSession, stagedDir: String,
                             cents: DataFrame,
                             wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                             indexTable: String, dupTable: String,
                             threshold: Double = graft.operators.Similarity.SemDedupThreshold
                            ): Seq[DedupBatchStats] = {
    import graft.operators.Similarity
    import graft.functions.GraftFunctions.dotQ
    val idsTable = s"${indexTable}_ids"
    val stats = scala.collection.mutable.ArrayBuffer.empty[DedupBatchStats]
    val q = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("vec_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("vec_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchVecIds = batchIds.select("vec_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val (seen, idScan) =
          if (wh.tableExists(ref, idsTable)) {
            val (pruned, scan) = indexLookup(wh, ref, idsTable,
              "id_bucket", touchedIdB, "vec_id", batchVecIds, HashIndexReadOptions)
            (pruned.select(col("vec_id")), scan)
          } else
            (spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType)))), None)
        val fresh = batch.toDF().join(seen, Seq("vec_id"), "left_anti")
        val assigned = Similarity.assignClusters(Similarity.quantized(fresh), cents)
          .withColumn("bucket",
            pmod(col("cid"), lit(nBuckets.toLong)).cast("int"))
          .transform(cut)
        val touchedB = assigned.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        // posting-list lookup key is the cid itself: the batch's cid
        // set is O(centroids), and appends sort on cid, so min/max +
        // dictionary row-group filters prune inside touched buckets
        // (no bloom needed for a low-cardinality clustered key)
        val batchCids = assigned.select("cid").distinct().limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val (idx, idxScan) =
          if (wh.tableExists(ref, indexTable)) {
            indexLookup(wh, ref, indexTable,
              "bucket", touchedB, "cid", batchCids)
          } else
            (spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType),
                StructField("cid", LongType),
                StructField("q", ArrayType(LongType)), StructField("nq", LongType),
                StructField("bucket", IntegerType)))), None)
        // vs the persisted keepers: posting-list equi-join on cid;
        // the threshold filter runs in the join, only bare id pairs
        // shuffle onward
        val vsOld = assigned.toDF("new_vec", "cid", "ccos_n", "q_n", "nq_n", "bucket_n")
          .join(idx.toDF("old_vec", "cid", "q_o", "nq_o", "bucket_o"), Seq("cid"))
          .withColumn("cos", Similarity.cosine(
            dotQ(col("q_n"), col("q_o")), col("nq_n"), col("nq_o")))
          .filter(col("cos") >= threshold)
          .select(col("new_vec"), col("old_vec").as("matched_vec"))
        // among the fresh vectors: batch semDedup's one-shot
        // rank-dominance rule
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cid")).orderBy(col("ccos").desc, col("vec_id"))
        val ranked = assigned.withColumn("rn", row_number().over(w))
        val vsNew = ranked
          .toDF("hi_vec", "cid", "ccos_a", "q_a", "nq_a", "bucket_a", "rn_a")
          .join(ranked
            .toDF("lo_vec", "cid", "ccos_b", "q_b", "nq_b", "bucket_b", "rn_b"), Seq("cid"))
          .filter(col("rn_a") < col("rn_b"))
          .withColumn("cos", Similarity.cosine(
            dotQ(col("q_a"), col("q_b")), col("nq_a"), col("nq_b")))
          .filter(col("cos") >= threshold)
          .select(col("lo_vec").as("new_vec"), col("hi_vec").as("matched_vec"))
        val dupes = vsOld.unionAll(vsNew).distinct().transform(cut)
        val newDups = dupes.select(col("new_vec").as("vec_id")).distinct()
        val survivors = assigned
          .join(newDups, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cid"), col("q"), col("nq"), col("bucket"))
          .repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("cid"))
        val idxAppend =
          wh.appendTablePartitioned(survivors, ref, indexTable, Seq("bucket"))
        // sidecar mirrors the index's vec set: survivors only
        val uniqueIds = batchIds
          .join(fresh.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .join(newDups, Seq("vec_id"), "left_anti")
          .repartition(col("id_bucket"))
          .sortWithinPartitions(col("id_bucket"), col("vec_id"))
        val idsAppend =
          wh.appendTablePartitioned(uniqueIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("vec_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
        val verdicts = dupes.withColumn("dup_key",
          concat(col("new_vec").cast("string"), lit("#"), col("matched_vec").cast("string")))
        val verdictWrite = upsertPartitioned(wh, ref, dupTable, verdicts, "dup_key")
        stats += DedupBatchStats(idxAppend, idsAppend, verdictWrite, idxScan, idScan)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    stats.toSeq
  }

  /** STREAMING IVF ANN INDEX — the search twin of
    * [[runSemDedupToWarehouse]] (which keeps dedup survivors): every
    * UNIQUE arriving vector is assigned map-side to its nearest
    * pinned centroid ([[graft.operators.Similarity.assignClusters]],
    * zero exchanges) and APPENDED to cid-bucketed posting lists —
    * the warehouse-resident IVF index a production retrieval stack
    * maintains incrementally instead of rebuilding per corpus drop.
    * Centroids are CALLER-PINNED (the streaming-decon pinned-model
    * discipline: a quantizer that drifted with the stream would
    * re-assign history). The vec_id sidecar is the replay screen —
    * redelivered files append nothing. Per-batch I/O: one pruned
    * sidecar read (id buckets + bloom) + one append; the index is
    * never rewritten outside [[compactIvfIndex]].
    */
  def runIvfIndexStream(spark: SparkSession, stagedDir: String,
                        cents: DataFrame,
                        wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        indexTable: String): Unit = {
    import graft.operators.Similarity
    val idsTable = s"${indexTable}_ids"
    val pinned = cut(cents)
    val q = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("vec_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("vec_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchVecIds = batchIds.select("vec_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "vec_id", batchVecIds, HashIndexReadOptions)._1.select(col("vec_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType))))
        val fresh = batch.toDF().join(seen, Seq("vec_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val assigned = Similarity.assignClusters(Similarity.quantized(fresh), pinned)
            .withColumn("bucket",
              pmod(col("cid"), lit(nBuckets.toLong)).cast("int"))
            .select(col("vec_id"), col("cid"), col("q"), col("nq"), col("bucket"))
            .repartition(col("bucket"))
            .sortWithinPartitions(col("bucket"), col("cid"))
          wh.appendTablePartitioned(assigned, ref, indexTable, Seq("bucket"))
          val ids = batchIds
            .join(fresh.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("vec_id"))
          wh.appendTablePartitioned(ids, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("vec_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Serve external queries FROM the warehouse IVF postings: probe
    * selection runs map-side over the SAME pinned centroids, the
    * posting read prunes to exactly the probed cid buckets (cid
    * keyset pushed to row groups — the r5 read-shape discipline:
    * per-query-batch I/O rides nprobe × list occupancy, never the
    * index), and candidates rank through the IDENTICAL
    * [[graft.operators.Similarity.ivfCandidatesFromPostings]] /
    * rankCandidates plan as batch IVF — so the streamed index
    * serves EXACTLY what [[graft.operators.Similarity.ivfTopKForCents]]
    * computes over the same corpus (spec-pinned).
    */
  def ivfServeFromIndex(spark: SparkSession,
                        wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        indexTable: String, cents: DataFrame,
                        queries: DataFrame,
                        k: Int = graft.operators.Similarity.TopK,
                        nprobe: Int = graft.operators.Similarity.NProbe): DataFrame = {
    import graft.operators.Similarity
    val nBuckets = indexBuckets(spark)
    val pushMax = lookupPushdownMax(spark)
    val qsQuant = Similarity.quantized(queries)
    val probed = qsQuant.crossJoin(Similarity.centsArray(cents))
      .select(explode(graft.functions.VecExpressions.nearestCentroidsK(
        col("q"), col("nq"), col("carr"), nprobe)).as("probe"))
      .select(col("probe").getField("cid").as("cid")).distinct()
      .transform(cut)
    val touchedB = probed
      .select(pmod(col("cid"), lit(nBuckets.toLong)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probeCids = probed.limit(pushMax + 1).collect().map(_.getLong(0)).toSeq
    val postings = indexLookup(wh, ref, indexTable,
      "bucket", touchedB, "cid", probeCids)._1
      .select(col("vec_id"), col("cid"), col("q"), col("nq"))
    Similarity.rankCandidates(
      Similarity.ivfCandidatesFromPostings(postings, cents, qsQuant,
        broadcastQueries = true, excludeSelf = false, nprobe), k)
  }

  /** Takedown compaction for the streaming IVF index: survivors-only
    * rewrite of postings + sidecar, re-clustered on (bucket, cid) —
    * the [[compactIndex]] discipline; post-takedown serving must
    * equal a batch IVF over the surviving corpus (spec-pinned).
    */
  def compactIvfIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                      indexTable: String, deletedVecs: DataFrame): Unit = {
    val del = deletedVecs.select(col("vec_id"))
    val kept = wh.readTable(ref, indexTable)
      .join(del, Seq("vec_id"), "left_anti")
      .transform(cut)
      .repartitionByRange(col("bucket"), col("cid"))
      .sortWithinPartitions(col("bucket"), col("cid"))
    wh.writeTablePartitioned(kept, ref, indexTable, Seq("bucket"))
    val idsTable = s"${indexTable}_ids"
    if (wh.tableExists(ref, idsTable)) {
      val keptIds = wh.readTable(ref, idsTable)
        .join(del, Seq("vec_id"), "left_anti")
        .transform(cut)
        .repartitionByRange(col("id_bucket"), col("vec_id"))
        .sortWithinPartitions(col("id_bucket"), col("vec_id"))
      wh.writeTablePartitioned(keptIds, ref, idsTable, Seq("id_bucket"),
        bloomWriteOptions("vec_id",
          math.max(1L, keptIds.count() / math.max(1, keptIds.rdd.getNumPartitions))))
    }
  }

  /** STREAMING binary-quantization serving index — the BQ twin of
    * [[runIvfIndexStream]]: per batch, fresh vectors (replay-screened
    * by the vec_id sidecar) are sign-packed under the PINNED
    * centering means and appended as (vec_id, b_lo, b_hi, q, nq)
    * rows bucketed by vec_id. The means are pinned at index creation
    * (the pinned-centroid discipline): recomputing them per batch
    * would silently re-encode NOTHING already written, so old and
    * new bits would disagree about the threshold — pinning is
    * correctness, not just cost. Serving reads ONLY the
    * (vec_id, b_lo, b_hi) columns of the index — parquet column
    * pruning makes the hamming pass the 16-bytes-per-vector scan the
    * operator promises — and the refine re-reads just the pool ids'
    * vector columns through the pruned two-level lookup.
    */
  def runBqIndexStream(spark: SparkSession, stagedDir: String,
                       means: DataFrame,
                       wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       indexTable: String): Unit = {
    import graft.operators.Similarity
    val idsTable = s"${indexTable}_ids"
    val pinned = cut(means)
    val q = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("vec_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("vec_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchVecIds = batchIds.select("vec_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "vec_id", batchVecIds, HashIndexReadOptions)._1.select(col("vec_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType))))
        // batch-INTERNAL dedup too (r12 ADVICE): duplicate vec_ids in
        // one staged file both survive the cross-batch sidecar screen
        // and would append twice — after which serving could return
        // the same neighbor at two ranks in one query's top-k.
        // Deterministic tie-break (r13 ADVICE): when one file carries
        // CONFLICTING payloads for a vec_id, keep the row minimizing
        // xxhash64 over the payload columns — dropDuplicates picked
        // an arbitrary row, at odds with the replay/bit-exactness
        // contract.
        val fresh = batch.toDF()
          .groupBy(col("vec_id"))
          .agg(min_by(struct(col("embedding"), col("label")),
            xxhash64(col("embedding"), col("label"))).as("p"))
          .select(col("vec_id"),
            col("p.embedding").as("embedding"), col("p.label").as("label"))
          .join(seen, Seq("vec_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val packed = Similarity
            .withSignBits(Similarity.quantized(fresh), pinned)
            .withColumn("bucket", bucketOf(col("vec_id"), nBuckets))
            .select(col("vec_id"), col("b_lo"), col("b_hi"),
              col("q"), col("nq"), col("bucket"))
            .repartition(col("bucket"))
            .sortWithinPartitions(col("bucket"), col("vec_id"))
          wh.appendTablePartitioned(packed, ref, indexTable, Seq("bucket"),
            bloomWriteOptions("vec_id",
              math.max(1L, batchIds.count() / math.max(1, touchedIdB.size))))
          val ids = batchIds
            .join(fresh.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("vec_id"))
          wh.appendTablePartitioned(ids, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("vec_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Serve external queries FROM the warehouse BQ index: the hamming
    * pool ranks over the index's (vec_id, b_lo, b_hi) columns only
    * (scalars through the pool window — the arrexch discipline holds
    * on the serving path too), then the bounded pool's vectors are
    * re-read through the pruned lookup (bucket partitions + vec_id
    * row-group blooms) and ranked through the IDENTICAL refine as
    * batch BQ — so the streamed index serves EXACTLY what
    * [[graft.operators.Similarity.bqTopKForMeans]] computes over the
    * same corpus under the same pinned means (spec-pinned).
    */
  def bqServeFromIndex(spark: SparkSession,
                       wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       indexTable: String, means: DataFrame,
                       queries: DataFrame,
                       k: Int = graft.operators.Similarity.TopK,
                       pool: Int = graft.operators.Similarity.BqPool): DataFrame = {
    import graft.operators.Similarity
    val nBuckets = indexBuckets(spark)
    val pushMax = lookupPushdownMax(spark)
    val qq = Similarity.quantized(queries)
    val qbits = Similarity.withSignBits(qq, means)
      .select(col("vec_id").as("query_id"), col("b_lo").as("qlo"),
        col("b_hi").as("qhi"))
    val bits = wh.readTable(ref, indexTable)
      .select(col("vec_id"), col("b_lo"), col("b_hi"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ham").asc, col("vec_id"))
    val poolIds = bits.crossJoin(broadcast(qbits))
      .withColumn("ham",
        expr("bit_count(b_lo ^ qlo) + bit_count(b_hi ^ qhi)").cast("long"))
      .select(col("query_id"), col("vec_id"), col("ham"))
      .withColumn("hrnk", row_number().over(wp))
      .filter(col("hrnk") <= pool)
      .select(col("query_id"), col("vec_id"))
      .transform(cut)
    val touchedB = poolIds
      .select(bucketOf(col("vec_id"), nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val poolVecIds = poolIds.select("vec_id").distinct().limit(pushMax + 1)
      .collect().map(_.getLong(0)).toSeq
    val vecs = indexLookup(wh, ref, indexTable,
      "bucket", touchedB, "vec_id", poolVecIds)._1
      .select(col("vec_id"), col("q"), col("nq"))
    val qs = qq.select(col("vec_id").as("query_id"),
      col("q").as("q_q"), col("nq").as("nq_q"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    vecs.join(broadcast(poolIds), Seq("vec_id"))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("cos", Similarity.cosine(
        graft.functions.GraftFunctions.dotQ(col("q"), col("q_q")),
        col("nq"), col("nq_q")))
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rnk", row_number().over(wc))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Takedown compaction for the streaming BQ index: survivors-only
    * rewrite of bits+vectors and the sidecar — the
    * [[compactIvfIndex]] discipline; post-takedown serving must equal
    * batch BQ over the surviving corpus under the pinned means
    * (spec-pinned).
    */
  def compactBqIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     indexTable: String, deletedVecs: DataFrame): Unit = {
    val del = deletedVecs.select(col("vec_id"))
    val kept = wh.readTable(ref, indexTable)
      .join(del, Seq("vec_id"), "left_anti")
      .transform(cut)
      .repartitionByRange(col("bucket"), col("vec_id"))
      .sortWithinPartitions(col("bucket"), col("vec_id"))
    wh.writeTablePartitioned(kept, ref, indexTable, Seq("bucket"),
      bloomWriteOptions("vec_id",
        math.max(1L, kept.count() / math.max(1, kept.rdd.getNumPartitions))))
    val idsTable = s"${indexTable}_ids"
    if (wh.tableExists(ref, idsTable)) {
      val keptIds = wh.readTable(ref, idsTable)
        .join(del, Seq("vec_id"), "left_anti")
        .transform(cut)
        .repartitionByRange(col("id_bucket"), col("vec_id"))
        .sortWithinPartitions(col("id_bucket"), col("vec_id"))
      wh.writeTablePartitioned(keptIds, ref, idsTable, Seq("id_bucket"),
        bloomWriteOptions("vec_id",
          math.max(1L, keptIds.count() / math.max(1, keptIds.rdd.getNumPartitions))))
    }
  }

  /** STREAMING graph-ANN serving index — the serving twin of
    * [[runIvfIndexStream]] for the graph tier: the warehouse holds
    * the directed serving-edge table plus the raw vector table it
    * serves from, and every arriving batch of UNIQUE vectors is
    * INSERTED the HNSW way ([[graft.operators.Similarity
    * .graphAnnInsert]] — beam-search each new vector's top-k over
    * the EXISTING graph through the identical serving plan, append
    * new→found edges; new nodes are findable through the reverse
    * direction the adjacency walks). The first batch bootstraps with
    * the exact-rung edge build (batch-sized, brute within itself —
    * there is no graph to search yet); later batches pay batch × beam
    * work, never a rebuild. Micro-batch granularity is the
    * documented approximation: same-batch vectors link to the prior
    * corpus, not to each other (HNSW's sequential insert, batched).
    * The vec_id sidecar is the replay screen — redelivered files
    * append nothing, so the edge table is a pure function of the
    * first-delivery batch sequence.
    */
  def runGraphIndexStream(spark: SparkSession, stagedDir: String,
                          wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                          edgeTable: String,
                          beam: Int = 16): Unit = {
    import graft.operators.Similarity
    val vecTable = s"${edgeTable}_vecs"
    val idsTable = s"${edgeTable}_ids"
    val q = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("vec_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("vec_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchVecIds = batchIds.select("vec_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "vec_id", batchVecIds, HashIndexReadOptions)._1.select(col("vec_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType))))
        val fresh = batch.toDF().join(seen, Seq("vec_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          // insert = the graphAnnInsert move, delta-only (the union
          // half is the already-persisted table): beam-search each
          // fresh vector over the EXISTING graph, keep new→found.
          // Bootstrap (first batch) builds via NN-DESCENT — the
          // default bulk build (r13 verdict #2): linear in the batch
          // where the exact build is batch², so an arbitrarily large
          // first delivery stays safe; deterministic, so the replay
          // contract is unchanged
          val newEdges =
            if (!wh.tableExists(ref, vecTable))
              Similarity.knnServingEdgesDescent(fresh)
            else Similarity.graphAnnTopKFor(
                wh.readTable(ref, vecTable)
                  .select(col("vec_id"), col("label"), col("embedding")),
                wh.readTable(ref, edgeTable).select(col("vec_a"), col("vec_b")),
                fresh, beam = beam)
              .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"))
          wh.appendTable(newEdges
            .withColumn("edge_bucket", bucketOf(col("vec_a"), nBuckets))
            .repartition(col("edge_bucket"))
            .sortWithinPartitions(col("edge_bucket"), col("vec_a")),
            ref, edgeTable)
          wh.appendTable(fresh, ref, vecTable)
          val ids = batchIds
            .join(fresh.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("vec_id"))
          wh.appendTablePartitioned(ids, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("vec_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Serve external queries FROM the warehouse graph index — the
    * IDENTICAL [[graft.operators.Similarity.graphAnnTopKFor]] plan
    * over the persisted vector + edge tables.
    */
  def graphServeFromIndex(spark: SparkSession,
                          wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                          edgeTable: String, queries: DataFrame,
                          k: Int = graft.operators.Similarity.TopK,
                          beam: Int = 16): DataFrame =
    graft.operators.Similarity.graphAnnTopKFor(
      wh.readTable(ref, s"${edgeTable}_vecs")
        .select(col("vec_id"), col("label"), col("embedding")),
      wh.readTable(ref, edgeTable).select(col("vec_a"), col("vec_b")),
      queries, k, beam)

  /** Takedown compaction for the streaming graph index: survivors-
    * only rewrite — [[graft.operators.Similarity.graphAnnTakedown]]
    * on the edges (drop both endpoints), plus the vector table and
    * sidecar, the [[compactIvfIndex]] discipline. Post-takedown
    * serving never returns a removed vector (spec-pinned).
    */
  def compactGraphIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        edgeTable: String, deletedVecs: DataFrame): Unit = {
    val del = deletedVecs.select(col("vec_id"))
    val existing = wh.readTable(ref, edgeTable)
    val nBuckets = indexBuckets(existing.sparkSession)
    val keptEdges = graft.operators.Similarity.graphAnnTakedown(
        existing.select(col("vec_a"), col("vec_b")), del)
      .withColumn("edge_bucket", bucketOf(col("vec_a"), nBuckets))
      .transform(cut)
    wh.writeTable(keptEdges, ref, edgeTable)
    val vecTable = s"${edgeTable}_vecs"
    val keptVecs = wh.readTable(ref, vecTable)
      .join(del, Seq("vec_id"), "left_anti").transform(cut)
    wh.writeTable(keptVecs, ref, vecTable)
    val idsTable = s"${edgeTable}_ids"
    if (wh.tableExists(ref, idsTable)) {
      val keptIds = wh.readTable(ref, idsTable)
        .join(del, Seq("vec_id"), "left_anti")
        .transform(cut)
        .repartitionByRange(col("id_bucket"), col("vec_id"))
        .sortWithinPartitions(col("id_bucket"), col("vec_id"))
      wh.writeTablePartitioned(keptIds, ref, idsTable, Seq("id_bucket"),
        bloomWriteOptions("vec_id",
          math.max(1L, keptIds.count() / math.max(1, keptIds.rdd.getNumPartitions))))
    }
  }

  /** Streaming benchmark decontamination: the benchmark's distinct
    * 5-gram shingle set is computed ONCE (it is small by
    * construction and broadcasts), and every arriving micro-batch is
    * screened against it — flagged docs land keyed by doc_id, so the
    * audit converges under replay. The per-batch cost is one narrow
    * shingle pass over the batch plus a broadcast join: the
    * streaming twin of TextAnalysis.qDecontaminate, with the same
    * scale shape (corpus never shuffles on the benchmark).
    */
  def runDecontaminationToWarehouse(spark: SparkSession, dir: String,
                                    benchShingles: DataFrame,
                                    wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                                    auditTable: String): Unit = {
    import graft.functions.GraftFunctions._
    val bench = benchShingles.transform(cut) // pin across batches
    val q = readStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val flagged = batch.toDF()
          .select(col("doc_id"), explode(shingleHashes(tokens(col("text")), 5)).as("h"))
          .distinct()
          .join(broadcast(bench), "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_shingles"))
          .transform(cut)
        upsertPartitioned(wh, ref, auditTable, flagged, "doc_id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming FUZZY decontamination: the GPT-3-style fuzzy
    * benchmark screen ([[graft.operators.Dedup.fuzzyDecontaminate]])
    * over an arriving corpus. The benchmark's MinHash SIGNATURES are
    * pinned once (benchmarks are small by definition — signatures
    * and bands broadcast); each micro-batch computes its own
    * signatures (content-local, so the union over batches equals the
    * batch screen exactly), candidates come from the banded
    * equi-join against the pinned side, and candidate pairs land
    * keyed by (train, bench) — replay converges. Per-batch cost is
    * one signature pass over the batch plus broadcast joins; the
    * stream never shuffles on the benchmark.
    */
  def runFuzzyDecontaminationToWarehouse(spark: SparkSession, dir: String,
                                         bench: DataFrame,
                                         wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                                         auditTable: String): Unit = {
    val bSig = graft.operators.Dedup.minhashSignatures(bench)
      .transform(cut) // pin across batches
    val q = readStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val pairs = graft.operators.Dedup
          .fuzzyDecontaminateAgainst(batch.toDF(), bSig)
          .withColumn("pair_id",
            concat(col("train_doc_id").cast("string"), lit("#"),
              col("bench_doc_id").cast("string")))
          .transform(cut)
        upsertPartitioned(wh, ref, auditTable, pairs, "pair_id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming mixture application: factors PLANNED ONCE on a
    * reference corpus snapshot (Curation.mixtureFactors — the
    * realistic shape: plan on yesterday's corpus, apply to arriving
    * docs) are applied to every micro-batch, and sampled copies land
    * in the warehouse keyed by (doc_id, copy_idx) — so replays
    * converge and a doc's copies never duplicate. The factor table
    * is O(sources) and broadcasts inside applyMixture.
    */
  def runMixtureToWarehouse(spark: SparkSession, dir: String, factors: DataFrame,
                            wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                            table: String): Unit = {
    val local = factors.transform(cut) // pin the plan across batches
    val q = readStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sampled = graft.operators.Curation.applyMixture(batch.toDF(), local)
          .withColumn("sample_id",
            concat(col("doc_id").cast("string"), lit("#"), col("copy_idx").cast("string")))
          .transform(cut)
        upsertPartitioned(wh, ref, table, sampled, "sample_id")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** STREAMING heavy hitters — the incremental twin of
    * [[graft.operators.CorpusOps.qHeavyHitters]]: the warehouse
    * holds per-batch Misra-Gries sketch rows (batch_key, term, est)
    * plus the same doc-id sidecar replay screen the dedup indexes
    * use. Each micro-batch sketches only its FRESH docs (doc-level
    * left-anti against the pruned sidecar), upserts its sketch rows
    * under a CONTENT-derived batch key — redelivery of the same doc
    * set replaces rather than double-counts, whatever batch boundary
    * it arrives under — and appends the fresh ids.
    *
    * The union-sum over per-batch sketches is itself a valid
    * Misra-Gries summary of the whole stream (mergeable-summaries
    * property, ScalaCheck-pinned): summed estimates undercount by at
    * most N/MgK, so candidates(est > 0) cover every term with share
    * > 1/MgK. State = O(batches × MgK) rows, bounded again by
    * [[compactSketches]]; the exact-confirm pass stays a batch job
    * over the archived corpus (sketches locate candidates — they
    * never replace the recount).
    */
  def runHeavyHitterStream(spark: SparkSession, stagedDir: String,
                           wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                           sketchTable: String): Unit = {
    import graft.operators.CorpusOps
    import graft.functions.GraftFunctions.tokens
    val idsTable = s"${sketchTable}_ids"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import batch.sparkSession.implicits._
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          // content-derived batch identity: any redelivery of the
          // same fresh-doc set lands on the same key and the upsert
          // replaces its own rows
          val keyRow = fresh.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val sketch = fresh
            .select(tokens(col("text")).as("toks"))
            .select(explode(CorpusOps.bigrams(col("toks"))).as("term"))
            .as[String].mapPartitions { it =>
              var np = 0L
              val m = CorpusOps.misraGries(it.map { t => np += 1; t }, CorpusOps.MgK)
              m.iterator ++ Iterator("" -> np)
            }.toDF("term", "est")
            .groupBy("term").agg(sum("est").as("est"))
            .select(concat(lit(batchKey), lit("#"), col("term")).as("sk_key"),
              lit(batchKey).as("batch_key"), col("term"), col("est"))
          upsertPartitioned(wh, ref, sketchTable, sketch, "sk_key")
          val freshIds = batchIds
            .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Merged heavy-hitter candidates from the sketch table: per-term
    * union-sum estimate, the exact stream length (sentinel rows),
    * and the worst-case undercount bound N/MgK. A tiny read —
    * O(batches × MgK) rows — feeding either a report or the exact
    * confirm join over the archived corpus.
    */
  def heavyHitterCandidates(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                            sketchTable: String): DataFrame = {
    val all = wh.readTable(ref, sketchTable)
      .groupBy(col("term")).agg(sum(col("est")).as("est"))
    val n = all.filter(col("term") === "")
      .select(col("est").as("n_total"))
    all.filter(col("term") =!= "").crossJoin(broadcast(n))
      .select(col("term"), col("est"), col("n_total"),
        (col("n_total") / graft.operators.CorpusOps.MgK).cast("long").as("err_bound"))
  }

  /** STREAMING search index — incremental inverted-index maintenance
    * (the retrieval twin of [[graft.operators.CorpusOps.qBm25Search]]):
    * the warehouse keeps
    *
    *  - `<t>`         postings (term, doc_id, tf), hive-partitioned
    *                  on hash(term) buckets, term-sorted + term-bloom
    *                  per append file — the layout query-time lookups
    *                  prune on (the dedup indexes' read discipline,
    *                  keyed by term instead of band hash);
    *  - `<t>_docstats` (doc_id, dl) keyed upserts — corpus size and
    *                  length normalization derive from it exactly;
    *  - `<t>_ids`     the doc-id replay screen.
    *
    * A doc's postings never change once written (append-only, like
    * bands); the screen guarantees each doc contributes exactly once,
    * so df/cf/N/dl read from the index are EXACT — bm25FromIndex is
    * gate-pinned equal to the batch scorer, not approximately so.
    *
    * Partial-batch failure (r7 advice): a crash BETWEEN the postings
    * append and the ids append redelivers the batch as wholly fresh
    * and double-appends its postings. Because those rows are exact
    * copies (postings are immutable per doc), serving stays exact:
    * bm25FromIndex dedupes its term-pruned read on (term, doc_id)
    * and compactSearchIndex drops the duplicates physically —
    * spec-pinned by a deliberate double-append rung.
    */
  def runSearchIndexStream(spark: SparkSession, stagedDir: String,
                           wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                           indexTable: String): Unit = {
    import graft.functions.GraftFunctions.tokens
    val idsTable = s"${indexTable}_ids"
    val statsTable = s"${indexTable}_docstats"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val tf = fresh
            .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
            .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
            .transform(cut)
          val postings = tf
            .withColumn("bucket", bucketOf(col("term"), nBuckets))
            .repartition(col("bucket"))
            .sortWithinPartitions(col("bucket"), col("term"))
          val touched = tf.select(bucketOf(col("term"), nBuckets)).distinct().count()
          wh.appendTablePartitioned(postings, ref, indexTable, Seq("bucket"),
            bloomWriteOptions("term", tf.count() / math.max(1L, touched)))
          val docStats = tf.groupBy(col("doc_id")).agg(sum("tf").as("dl"))
          upsertPartitioned(wh, ref, statsTable, docStats, "doc_id")
          val freshIds = batchIds
            .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Query-time BM25 over the streamed index: the query terms prune
    * the postings read (term-hash partition pruning + the term set
    * pushed to the per-file blooms — only the query terms' posting
    * lists are touched, never the corpus); df derives from the pruned
    * postings, N/avgdl from the docstats table (metadata-sized), and
    * the scoring expression is IDENTICAL to the batch scorer — exact
    * equality, spec-gated. Returns the scores plus the postings-read
    * [[ScanStats]] so the spec can assert the lookup pruned.
    */
  def bm25FromIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                    indexTable: String,
                    queries: Seq[(Int, String)] = graft.operators.CorpusOps.Bm25Queries,
                    topK: Int = graft.operators.CorpusOps.Bm25TopK)
      : (DataFrame, Option[ScanStats]) = {
    val spark = wh.readTable(ref, s"${indexTable}_docstats").sparkSession
    import spark.implicits._
    import graft.functions.GraftFunctions.tokens
    val nBuckets = indexBuckets(spark)
    val qterms = queries.toDF("qid", "qtext")
      .select(col("qid"), explode(tokens(col("qtext"))).as("term"))
    val termList = queries.flatMap(_._2.split(" ")).distinct
    val touched = termList
      .map(t => Math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), nBuckets.toLong).toInt)
      .distinct
    // redelivery screen (r7 advice): a batch that failed BETWEEN the
    // postings append and the ids append redelivers wholesale and
    // double-appends its postings. A doc's postings are immutable
    // once written, so redelivered rows are EXACT copies — deduping
    // the (tiny, term-pruned) read on (term, doc_id) restores exact
    // df/tf/cf under any partial-batch failure; compaction heals the
    // physical table the same way.
    val (postingsRaw, scan) = indexLookup(wh, ref, indexTable,
      "bucket", touched, "term", termList, HashIndexReadOptions)
    val postings = postingsRaw.dropDuplicates("term", "doc_id")
    val docStats = wh.readTable(ref, s"${indexTable}_docstats")
    val stats = docStats.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("tot_dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val sat = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val idf = (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))
    val scored = postings
      .join(broadcast(qterms), Seq("term"))
      .join(docStats.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl") / col("n_docs"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(round(idf * sat * lit(1000000.0), 0).cast("long")).as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_ppm").desc, col("doc_id"))
    (scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("qid"), col("doc_id"), col("score_ppm"), col("rnk")), scan)
  }

  /** Search-index deletion compaction (takedowns/retention — the
    * [[compactIndex]] discipline on the retrieval tables): postings,
    * doc stats, and the id sidecar all drop the deleted docs in one
    * left-anti rewrite; the postings rewrite re-clusters on
    * (bucket, term) so post-compaction files cover narrow term
    * ranges again. Deleting via the index keeps serving EXACT: df,
    * N, and avgdl all derive from the surviving rows, so a compacted
    * index serves identically to one that never ingested the deleted
    * docs (spec-pinned against a fresh index of the survivors).
    */
  def compactSearchIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                         indexTable: String, deletedDocs: DataFrame): Unit = {
    val del = deletedDocs.select(col("doc_id"))
    // the rewrite also physically drops any redelivery duplicates
    // (see bm25FromIndex's read-side screen)
    val kept = wh.readTable(ref, indexTable)
      .join(del, Seq("doc_id"), "left_anti")
      .dropDuplicates("term", "doc_id")
      .transform(cut)
      .repartitionByRange(col("bucket"), col("term"))
      .sortWithinPartitions(col("bucket"), col("term"))
    wh.writeTablePartitioned(kept, ref, indexTable, Seq("bucket"),
      bloomWriteOptions("term",
        kept.count() / math.max(1, kept.rdd.getNumPartitions)))
    val statsTable = s"${indexTable}_docstats"
    val keptStats = wh.readTable(ref, statsTable)
      .join(del, Seq("doc_id"), "left_anti").transform(cut)
    wh.writeTablePartitioned(keptStats, ref, statsTable, Seq("pbucket"))
    val idsTable = s"${indexTable}_ids"
    val keptIds = wh.readTable(ref, idsTable)
      .join(del, Seq("doc_id"), "left_anti")
      .transform(cut)
      .repartitionByRange(col("id_bucket"), col("doc_id"))
      .sortWithinPartitions(col("id_bucket"), col("doc_id"))
    wh.writeTablePartitioned(keptIds, ref, idsTable, Seq("id_bucket"),
      bloomWriteOptions("doc_id",
        keptIds.count() / math.max(1, keptIds.rdd.getNumPartitions)))
  }

  /** STREAMING exact covariance — the incremental twin of
    * [[graft.operators.CorpusOps.qEmbedCov]]: each micro-batch's
    * FRESH vectors (vec-id sidecar screen) fold into the integer
    * triangle (quantized sums are associative and exact), persisted
    * as per-batch partial rows keyed by a content-derived batch key
    * — the heavy-hitter state discipline, but the merge here is
    * plain addition, so the served matrix is EXACTLY the batch
    * operator's, not a sketch. State = O(batches × d²/2) scalar
    * rows, foldable to one batch's worth by rewriting summed rows.
    */
  def runCovStream(spark: SparkSession, stagedDir: String,
                   wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   covTable: String): Unit = {
    import graft.functions.GraftFunctions.quantize
    import graft.operators.CorpusOps
    val idsTable = s"${covTable}_ids"
    val q = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import batch.sparkSession.implicits._
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("vec_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("vec_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchVecIds = batchIds.select("vec_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "vec_id", batchVecIds, HashIndexReadOptions)._1.select(col("vec_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("vec_id", LongType))))
        val fresh = batch.toDF().select(col("vec_id"), col("embedding"))
          .join(seen, Seq("vec_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val keyRow = fresh.agg(min(col("vec_id")), max(col("vec_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = fresh.select(quantize(col("embedding")).as("q"))
            .as[Seq[Long]]
            .mapPartitions(it => Iterator.single(
              CorpusOps.covAccumulate(it, CorpusOps.Dim)))
            .collect().transpose.map(_.sum)
          val rows = partial.toSeq.zipWithIndex
            .map { case (v, pos) => (s"$batchKey#$pos", batchKey, pos, v) }
            .toDF("cov_key", "batch_key", "pos", "v")
          upsertPartitioned(wh, ref, covTable, rows, "cov_key")
          val freshIds = batchIds
            .join(fresh.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("vec_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("vec_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Covariance matrix served from the streamed partial-sum state:
    * sum the per-batch triangles (exact integer addition) and apply
    * the IDENTICAL final expression the batch operator uses — the
    * spec pins cell-for-cell equality with qEmbedCov.
    */
  def covFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   covTable: String): DataFrame = {
    import graft.operators.CorpusOps
    val summed = wh.readTable(ref, covTable)
      .groupBy(col("pos")).agg(sum(col("v")).as("v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tri = Array.tabulate(summed.size)(summed)
    CorpusOps.covFromTriangle(wh.readTable(ref, covTable).sparkSession, tri)
  }

  /** STREAMING shard manifest — the incremental twin of
    * [[graft.operators.CorpusOps.qShardManifest]]: per-batch partial
    * manifests (shard, n_docs, n_tokens, content_xor) persisted
    * under content-derived batch keys + the id-sidecar replay
    * screen. All three aggregates fold EXACTLY (counts and token
    * sums add; the XOR fingerprint is associative, commutative and
    * self-merging), so the served manifest is cell-for-cell the
    * batch operator's — never an approximation. State =
    * O(batches × NShards) rows, folded back to NShards by
    * [[compactManifest]].
    */
  def runShardManifestStream(spark: SparkSession, stagedDir: String,
                             wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                             manifestTable: String): Unit = {
    import graft.operators.CorpusOps
    import graft.functions.GraftFunctions.{tokenHash, tokens}
    val idsTable = s"${manifestTable}_ids"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val keyRow = fresh.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = fresh
            .select(tokenHash(col("text")).as("h"),
              size(tokens(col("text"))).cast("long").as("nt"))
            .withColumn("shard", col("h") % CorpusOps.NShards)
            .groupBy(col("shard"))
            .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
              expr("bit_xor(h)").as("content_xor"))
            .select(concat(lit(batchKey), lit("#"), col("shard")).as("m_key"),
              lit(batchKey).as("batch_key"), col("shard"),
              col("n_docs"), col("n_tokens"), col("content_xor"))
          upsertPartitioned(wh, ref, manifestTable, partial, "m_key")
          val freshIds = batchIds
            .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The manifest served from streamed partial rows — exact fold
    * (sum/sum/xor), identical columns to the batch operator.
    */
  def shardManifestFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                             manifestTable: String): DataFrame =
    wh.readTable(ref, manifestTable)
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(content_xor)").as("content_xor"))

  /** Fold the per-batch manifest partials to one row per shard (the
    * compactSketches discipline; the fold is exact, so serving is
    * unchanged).
    */
  def compactManifest(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                      manifestTable: String): Unit = {
    val spark = wh.readTable(ref, manifestTable).sparkSession
    val folded = shardManifestFromState(wh, ref, manifestTable)
      .select(concat(lit("compact#"), col("shard")).as("m_key"),
        lit("compact").as("batch_key"), col("shard"),
        col("n_docs"), col("n_tokens"), col("content_xor"))
      .withColumn("pbucket",
        pmod(xxhash64(col("m_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, manifestTable, Seq("pbucket"))
  }

  /** Sketch-table compaction (the LSM discipline, sketch edition):
    * fold every per-batch sketch into ONE summary of at most k
    * terms via the mergeable-summaries compression — subtract the
    * (k+1)-th largest summed estimate, drop the non-positive
    * (CorpusOps.compressMg). Each compaction ADDS its own additive
    * loss of up to n/(k+1) on top of the merge's n/k undercount —
    * the total after one compaction is bounded by n/k + n/(k+1)
    * (≈ 2n/(k+1)), and by n/k + c·n/(k+1) after c compactions; size
    * k (or compact with a larger k) so the accumulated bound stays
    * under the report threshold. The sentinel stream-length row is
    * preserved exactly. The one deliberate full rewrite of the table.
    */
  /** STREAMING count-min sketch — the incremental twin of
    * [[graft.operators.Sketches.qCountMin]]'s grid: per-batch grid
    * partials (row, bucket, cnt) persisted under content-derived
    * batch keys behind the doc-id sidecar replay screen (counts are
    * linear, so redelivery WOULD double-count — this family needs
    * the screen, unlike [[runHllStream]]). The served grid is the
    * elementwise SUM of the batch partials — cell-for-cell the batch
    * grid over every ingested doc, never an approximation. State =
    * O(batches × CmDepth × CmWidth) rows, folded back to one grid by
    * [[compactCountMin]].
    */
  def runCountMinStream(spark: SparkSession, stagedDir: String,
                        wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        gridTable: String): Unit = {
    import graft.functions.GraftFunctions.tokens
    import graft.operators.Sketches
    val idsTable = s"${gridTable}_ids"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val keyRow = fresh.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sketches.countMinSketch(
              fresh.select(explode(tokens(col("text"))).as("w")))
            .select(concat(lit(batchKey), lit("#"), col("r"), lit("#"),
                col("bucket")).as("cm_key"),
              lit(batchKey).as("batch_key"), col("r"), col("bucket"), col("cnt"))
          upsertPartitioned(wh, ref, gridTable, partial, "cm_key")
          val freshIds = batchIds
            .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The grid served from streamed partials — exact elementwise sum,
    * identical columns to [[graft.operators.Sketches.countMinSketch]].
    */
  def countMinFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        gridTable: String): DataFrame =
    wh.readTable(ref, gridTable)
      .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Fold the per-batch grid partials to one row per cell (exact —
    * sums — so serving is unchanged).
    */
  def compactCountMin(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                      gridTable: String): Unit = {
    val spark = wh.readTable(ref, gridTable).sparkSession
    val folded = countMinFromState(wh, ref, gridTable)
      .select(concat(lit("compact#"), col("r"), lit("#"), col("bucket"))
          .as("cm_key"),
        lit("compact").as("batch_key"), col("r"), col("bucket"), col("cnt"))
      .withColumn("pbucket",
        pmod(xxhash64(col("cm_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, gridTable, Seq("pbucket"))
  }

  /** STREAMING log2 length histogram — the incremental twin of
    * [[graft.operators.Sketches.qLenHist]]: per-batch (source, bin)
    * count partials persisted under content-derived batch keys
    * behind the doc-id sidecar replay screen (doc COUNTS are linear,
    * so redelivery would double-count — the count-min posture, not
    * the HLL one). Serving folds the partials through the SAME
    * [[graft.operators.Sketches.lenHistServe]] the batch query uses,
    * so the served histogram (bounds, ALL rollup and all) is
    * row-for-row the batch q_len_hist over every ingested doc.
    * State = O(batches × sources × 64) rows, folded back to one row
    * per (source, bin) by [[compactLenHist]].
    */
  def runLenHistStream(spark: SparkSession, stagedDir: String,
                       wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       histTable: String): Unit = {
    import graft.operators.Sketches
    val idsTable = s"${histTable}_ids"
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val nBuckets = indexBuckets(spark)
        val pushMax = lookupPushdownMax(spark)
        val batchIds = batch.toDF().select(col("doc_id")).distinct()
          .withColumn("id_bucket", bucketOf(col("doc_id"), nBuckets))
          .transform(cut)
        val touchedIdB = batchIds.select("id_bucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        val batchDocIds = batchIds.select("doc_id").limit(pushMax + 1)
          .collect().map(_.getLong(0)).toSeq
        val seen =
          if (wh.tableExists(ref, idsTable))
            indexLookup(wh, ref, idsTable, "id_bucket", touchedIdB,
              "doc_id", batchDocIds, HashIndexReadOptions)._1.select(col("doc_id"))
          else
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
              StructType(Seq(StructField("doc_id", LongType))))
        val fresh = batch.toDF().select(col("doc_id"), col("source"), col("text"))
          .join(seen, Seq("doc_id"), "left_anti")
          .transform(cut)
        if (fresh.isEmpty) ()
        else {
          val keyRow = fresh.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sketches.lenHistPartial(
              fresh.select(col("source"), col("text")))
            .select(concat(lit(batchKey), lit("#"), col("source"), lit("#"),
                col("bin")).as("lh_key"),
              lit(batchKey).as("batch_key"), col("source"), col("bin"),
              col("n_docs"))
          upsertPartitioned(wh, ref, histTable, partial, "lh_key")
          val freshIds = batchIds
            .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .repartition(col("id_bucket"))
            .sortWithinPartitions(col("id_bucket"), col("doc_id"))
          wh.appendTablePartitioned(freshIds, ref, idsTable, Seq("id_bucket"),
            bloomWriteOptions("doc_id",
              batchIds.count() / math.max(1, touchedIdB.size)))
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The histogram served from streamed partials — the batch
    * lenHistServe fold over the state table's (source, bin, n_docs)
    * rows; identical columns and values to qLenHist.
    */
  def lenHistFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       histTable: String): DataFrame =
    graft.operators.Sketches.lenHistServe(
      wh.readTable(ref, histTable).select(col("source"), col("bin"),
        col("n_docs")))

  /** Fold the per-batch partials to one row per (source, bin) —
    * sums, so serving is unchanged.
    */
  def compactLenHist(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     histTable: String): Unit = {
    val spark = wh.readTable(ref, histTable).sparkSession
    val folded = wh.readTable(ref, histTable)
      .groupBy(col("source"), col("bin")).agg(sum(col("n_docs")).as("n_docs"))
      .select(concat(lit("compact#"), col("source"), lit("#"), col("bin"))
          .as("lh_key"),
        lit("compact").as("batch_key"), col("source"), col("bin"),
        col("n_docs"))
      .withColumn("pbucket",
        pmod(xxhash64(col("lh_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, histTable, Seq("pbucket"))
  }

  /** STREAMING HLL distinct sketch — the incremental twin of
    * [[graft.operators.Sketches.qHllSketch]], and the one state
    * family in the streaming surface that needs NO replay screen at
    * all: the register update (max) is idempotent, commutative and
    * associative, so a redelivered batch — or the whole corpus
    * re-sliced into different batches — can only re-assert register
    * values the fold already dominates. Per-batch registers append
    * under content-derived batch keys; the served sketch is the
    * elementwise max, exactly the batch operator's registers. State
    * = O(batches × sources × HllM) rows, folded by [[compactHll]].
    */
  def runHllStream(spark: SparkSession, stagedDir: String,
                   wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   regTable: String): Unit = {
    import graft.functions.GraftFunctions.tokens
    import graft.operators.Sketches
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (b.isEmpty) ()
        else {
          val keyRow = b.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sketches.hllRegisters(
              b.select(col("source"), explode(tokens(col("text"))).as("w")))
            .select(concat(lit(batchKey), lit("#"), col("source"), lit("#"),
                col("bucket")).as("hll_key"),
              lit(batchKey).as("batch_key"), col("source"), col("bucket"),
              col("max_rank"))
          upsertPartitioned(wh, ref, regTable, partial, "hll_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The sketch served from streamed registers: elementwise max per
    * (source, bucket) plus the merged 'ALL' rows — identical columns
    * and values to [[graft.operators.Sketches.qHllSketch]].
    */
  def hllFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   regTable: String): DataFrame = {
    val per = wh.readTable(ref, regTable)
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("max_rank")).as("max_rank"))
    per.unionAll(
      per.groupBy(col("bucket"))
        .agg(max(col("max_rank")).as("max_rank"))
        .select(lit("ALL").as("source"), col("bucket"), col("max_rank")))
  }

  /** STREAMING edit-distance join index — the PassJoin twin of the
    * 29o exact-dedup posting index. Per batch: (1) probe the batch
    * against the ACCUMULATED segment index (old↔new pairs),
    * (2) run the batch-local join (new↔new pairs), (3) upsert both
    * into the pairs table under canonical least#greatest keys,
    * (4) upsert the batch's own segments (content-derived keys).
    * Every write is a keyed upsert, so redelivered batches re-assert
    * rows they already wrote — replay-safe with no screen; the
    * segment index never duplicates, so candidate mass cannot
    * inflate under replay. Served pairs are EXACTLY the batch
    * [[graft.operators.Dedup.editJoinPairs]] over all docs seen so
    * far (completeness: a pair lands in whichever batch arrives
    * second, via that batch's probe of the index already holding the
    * first side). Per-batch cost = batch probes × matched postings,
    * the [[graft.operators.Dedup.editIncrementalPairs]] contract.
    */
  def runEditJoinStream(spark: SparkSession, stagedDir: String,
                        wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                        segTable: String, pairsTable: String): Unit = {
    import graft.operators.Dedup
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().select(col("doc_id"), col("text"))
        if (b.isEmpty) ()
        else {
          val cross =
            if (wh.tableExists(ref, segTable))
              Dedup.editProbePairs(
                  wh.readTable(ref, segTable)
                    .select(col("doc_id"), col("key"), col("len"),
                      col("i"), col("seg")),
                  b)
                .filter(col("old_doc") =!= col("new_doc"))
                .select(least(col("old_doc"), col("new_doc")).as("doc_a"),
                  greatest(col("old_doc"), col("new_doc")).as("doc_b"),
                  col("dist"))
            else b.sparkSession.emptyDataFrame
                .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"),
                  lit(0L).as("dist")).limit(0)
          val intra = Dedup.editJoinPairs(b)
          val pairs = cross.unionAll(intra).distinct()
            .withColumn("pair_key",
              concat(col("doc_a"), lit("#"), col("doc_b")))
          upsertPartitioned(wh, ref, pairsTable, pairs, "pair_key")
          val segs = Dedup.editSegmentIndex(b)
            .withColumn("seg_key", concat(col("doc_id"), lit("#"), col("i")))
          upsertPartitioned(wh, ref, segTable, segs, "seg_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Pairs served from the streamed index — identical columns and
    * values to the batch join over everything delivered.
    */
  def editPairsFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                         pairsTable: String): DataFrame =
    wh.readTable(ref, pairsTable)
      .select(col("doc_a"), col("doc_b"), col("dist"))

  /** STREAMING weighted-Jaccard index — the warehouse twin of the
    * 31h/31j family, the 29u discipline: the warehouse persists the
    * family's OWN index frames — distinct 5-gram shingle postings
    * ([[graft.operators.Dedup.wjPostings]]) and per-doc token counts
    * ([[graft.operators.Dedup.wjCounts]]) — as partition-scoped keyed
    * upserts (redelivery re-asserts rows; the index never
    * duplicates), plus an arrival-time pair AUDIT: each batch of
    * unseen docs probes the accumulated index through
    * [[graft.operators.Dedup.weightedJaccardIncrementalFrom]]
    * (old↔new and new↔new, tokenization rides the batch) and upserts
    * canonical (least, greatest) pairs. Serving
    * ([[wjPairsFromIndex]]) recomputes blocking over the persisted
    * postings because df-rarest prefix keys are corpus-df-dependent:
    * the arrival flags are exact at each batch's df state, while the
    * served pairs are pinned EQUAL to the batch operator over
    * everything delivered (full-corpus df) — the honest contract for
    * a df-dependent blocking family. Replay screen: a redelivered
    * doc is dropped by the posting-id anti-join (its postings are
    * already indexed), so it can neither pair with itself nor shift
    * the df ranks.
    */
  def runWjIndexStream(spark: SparkSession, stagedDir: String,
                       wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       postTable: String, countTable: String,
                       pairsTable: String): Unit = {
    import graft.operators.Dedup
    import graft.functions.GraftFunctions.{tokenHash => ghash}
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().select(col("doc_id"), col("text"))
          .dropDuplicates("doc_id")
        if (b.isEmpty) ()
        else {
          val hasIdx = wh.tableExists(ref, postTable)
          val oldPost =
            if (hasIdx) wh.readTable(ref, postTable)
              .select(col("doc_id"), col("h")).transform(cut)
            else b.select(col("doc_id"), ghash(col("text")).as("h")).limit(0)
          val oldCounts =
            if (hasIdx) wh.readTable(ref, countTable)
              .select(col("doc_id"), col("h"), col("c"))
            else b.select(col("doc_id"), ghash(col("text")).as("h"),
              lit(0L).as("c")).limit(0)
          val fresh = b.join(oldPost.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti").transform(cut)
          if (fresh.isEmpty) ()
          else {
            val pairs = Dedup
              .weightedJaccardIncrementalFrom(oldPost, oldCounts, fresh)
              .select(least(col("new_doc"), col("matched_doc")).as("doc_a"),
                greatest(col("new_doc"), col("matched_doc")).as("doc_b"),
                col("wjaccard"))
              .withColumn("pair_key",
                concat(col("doc_a"), lit("#"), col("doc_b")))
            upsertPartitioned(wh, ref, pairsTable, pairs, "pair_key")
            val post = Dedup.wjPostings(fresh)
              .withColumn("post_key", concat(col("doc_id"), lit("#"), col("h")))
            upsertPartitioned(wh, ref, postTable, post, "post_key")
            val cnts = Dedup.wjCounts(fresh)
              .withColumn("cnt_key", concat(col("doc_id"), lit("#"), col("h")))
            upsertPartitioned(wh, ref, countTable, cnts, "cnt_key")
            ()
          }
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Serve the weighted-Jaccard pairs FROM the warehouse index:
    * [[graft.operators.Dedup.weightedJaccardPairsFrom]] over the
    * persisted posting/count frames — equal to the batch operator
    * over everything delivered (spec-pinned), no text pass.
    */
  def wjPairsFromIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       postTable: String, countTable: String,
                       threshold: Double = 0.5): DataFrame =
    graft.operators.Dedup.weightedJaccardPairsFrom(
      wh.readTable(ref, postTable).select(col("doc_id"), col("h")),
      wh.readTable(ref, countTable).select(col("doc_id"), col("h"), col("c")),
      threshold)

  /** Takedown compaction for the streaming wj index: survivors-only
    * rewrite of postings, counts, and every audited pair touching a
    * removed doc — post-takedown serving equals the batch operator
    * over the survivors (spec-pinned, the 29w discipline).
    */
  def compactWjIndex(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     postTable: String, countTable: String,
                     pairsTable: String, deletedDocs: DataFrame): Unit = {
    val del = deletedDocs.select(col("doc_id")).transform(cut)
    Seq(postTable, countTable).foreach { t =>
      if (wh.tableExists(ref, t)) {
        val kept = wh.readTable(ref, t)
          .join(del, Seq("doc_id"), "left_anti").transform(cut)
        wh.writeTablePartitioned(kept, ref, t, Seq("pbucket"))
        ()
      }
    }
    if (wh.tableExists(ref, pairsTable)) {
      val kept = wh.readTable(ref, pairsTable)
        .join(del.toDF("doc_a"), Seq("doc_a"), "left_anti")
        .join(del.toDF("doc_b"), Seq("doc_b"), "left_anti")
        .transform(cut)
      wh.writeTablePartitioned(kept, ref, pairsTable, Seq("pbucket"))
      ()
    }
  }

  /** STREAMING KMV synopsis — the incremental twin of
    * [[graft.operators.Sketches.kmvSourceSketch]], screen-free by
    * the same algebra as the HLL registers: keep-k-smallest-distinct
    * commutes with union and re-inserting a seen hash is a no-op, so
    * redelivered batches (or the corpus re-sliced arbitrarily) can
    * only re-assert values the fold already keeps. Per batch the
    * BOUNDED synopsis (≤ k hashes per source, long format) appends
    * under content-derived batch keys; serving re-trims with the
    * same [[graft.functions.BottomKSet]] fold, so the served arrays
    * are bit-equal to the batch operator's. State = O(batches ×
    * sources × k) rows, folded back to ≤ sources × k by
    * [[compactKmv]].
    */
  def runKmvStream(spark: SparkSession, stagedDir: String,
                   wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   kmvTable: String): Unit = {
    import graft.operators.Sketches
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (b.isEmpty) ()
        else {
          val keyRow = b.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sketches.kmvSourceSketch(b)
            .select(col("source"), explode(col("kmv")).as("h"))
            .select(concat(lit(batchKey), lit("#"), col("source"), lit("#"),
                col("h")).as("kmv_key"),
              lit(batchKey).as("batch_key"), col("source"), col("h"))
          upsertPartitioned(wh, ref, kmvTable, partial, "kmv_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The synopsis served from streamed partials: one bounded
    * [[graft.functions.BottomKSet]] re-trim per source — identical
    * arrays to [[graft.operators.Sketches.kmvSourceSketch]] run over
    * the whole corpus, so
    * [[graft.operators.Sketches.kmvSetOpsFromSketch]] over this
    * frame IS the batch `q_kmv_setops`.
    */
  def kmvFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   kmvTable: String): DataFrame = {
    import graft.operators.Sketches
    val bk = udaf(new graft.functions.BottomKSet(Sketches.KmvK))
    wh.readTable(ref, kmvTable)
      .groupBy(col("source")).agg(bk(col("h")).as("kmv"))
  }

  /** Fold the appended per-batch synopsis rows back to ≤ k per
    * source (the trim commutes, so serving is unchanged).
    */
  def compactKmv(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                 kmvTable: String): Unit = {
    val spark = wh.readTable(ref, kmvTable).sparkSession
    val folded = kmvFromState(wh, ref, kmvTable)
      .select(col("source"), explode(col("kmv")).as("h"))
      .select(concat(lit("compact#"), col("source"), lit("#"), col("h"))
          .as("kmv_key"),
        lit("compact").as("batch_key"), col("source"), col("h"))
      .withColumn("pbucket",
        pmod(xxhash64(col("kmv_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, kmvTable, Seq("pbucket"))
  }

  /** STREAMING bloom build — the incremental twin of
    * [[graft.operators.Sketches.bloomBits]], and like [[runHllStream]]
    * screen-free by algebra: bit-set union (distinct) is idempotent,
    * so redelivered batches only re-assert set bits. Per-batch
    * distinct positions append under content-derived batch keys; the
    * served filter is the distinct position set — exactly the batch
    * artifact. State = O(batches × BloomBits) rows worst case,
    * folded to ≤ BloomBits by [[compactBloom]].
    */
  def runBloomStream(spark: SparkSession, stagedDir: String,
                     wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     bitsTable: String): Unit = {
    import graft.functions.GraftFunctions.tokens
    import graft.operators.{CorpusOps, Sketches}
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (b.isEmpty) ()
        else {
          val keyRow = b.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sketches.bloomBits(
              b.select(explode(CorpusOps.bigrams(tokens(col("text")))).as("w"))
                .distinct())
            .select(concat(lit(batchKey), lit("#"), col("pos")).as("bl_key"),
              lit(batchKey).as("batch_key"), col("pos"))
          upsertPartitioned(wh, ref, bitsTable, partial, "bl_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The filter served from streamed positions: the distinct set-bit
    * relation — identical to the batch [[graft.operators.Sketches.bloomBits]].
    */
  def bloomFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     bitsTable: String): DataFrame =
    wh.readTable(ref, bitsTable).select(col("pos")).distinct()

  /** Fold the per-batch positions to one row per set bit (exact —
    * distinct — so serving is unchanged).
    */
  def compactBloom(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                   bitsTable: String): Unit = {
    val spark = wh.readTable(ref, bitsTable).sparkSession
    val folded = bloomFromState(wh, ref, bitsTable)
      .select(concat(lit("compact#"), col("pos")).as("bl_key"),
        lit("compact").as("batch_key"), col("pos"))
      .withColumn("pbucket",
        pmod(xxhash64(col("bl_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, bitsTable, Seq("pbucket"))
  }

  /** STREAMING bottom-k quantile sample — the incremental twin of
    * [[graft.operators.Sketches.bottomKSample]], and the third
    * screen-free-by-algebra family after HLL and bloom: "keep the k
    * smallest hashes" commutes with union, and a redelivered doc
    * re-asserts a (hash, value) row the distinct-then-retrim serving
    * fold already absorbs — arbitrary redelivery or re-slicing
    * cannot move the served sample. Per batch: the BATCH's own
    * bottom-k (a TakeOrdered over the batch, never the corpus)
    * appends under content-derived batch keys; state = O(batches×k)
    * rows, folded to exactly the served k by [[compactBottomK]].
    */
  def runBottomKStream(spark: SparkSession, stagedDir: String,
                       wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       sampTable: String): Unit = {
    import graft.functions.GraftFunctions.{tokenHash, tokens}
    import graft.operators.Sketches
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (b.isEmpty) ()
        else {
          val keyRow = b.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = b
            .select(col("doc_id"),
              size(tokens(col("text"))).cast("long").as("v"),
              tokenHash(col("doc_id").cast("string")).as("h"))
            .orderBy(col("h").asc, col("doc_id").asc).limit(Sketches.QsK)
            .select(concat(lit(batchKey), lit("#"), col("doc_id")).as("qs_key"),
              lit(batchKey).as("batch_key"), col("doc_id"), col("v"), col("h"))
          upsertPartitioned(wh, ref, sampTable, partial, "qs_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The sample served from streamed partials: distinct rows (the
    * idempotence fold), then one global re-trim to k — identical
    * rows to the batch [[graft.operators.Sketches.bottomKSample]].
    */
  def bottomKFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                       sampTable: String): DataFrame =
    wh.readTable(ref, sampTable)
      .select(col("doc_id"), col("v"), col("h")).distinct()
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(graft.operators.Sketches.QsK)
      .select(col("doc_id"), col("v"), col("h"))

  /** Fold the per-batch samples to exactly the served k rows
    * (serving unchanged — retrim of a retrim is a no-op).
    */
  def compactBottomK(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                     sampTable: String): Unit = {
    val spark = wh.readTable(ref, sampTable).sparkSession
    val folded = bottomKFromState(wh, ref, sampTable)
      .select(concat(lit("compact#"), col("doc_id")).as("qs_key"),
        lit("compact").as("batch_key"), col("doc_id"), col("v"), col("h"))
      .withColumn("pbucket",
        pmod(xxhash64(col("qs_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, sampTable, Seq("pbucket"))
  }

  /** STREAMING priority sample (Duffield-Lund-Thorup weighted
    * sampling without replacement) — the weighted mirror of
    * [[runBottomKStream]]: priorities are PURE functions of
    * (doc_id, weight) ([[graft.operators.Sampling.prioritized]]), so
    * each micro-batch appends its own top-(k+1) candidates keyed by
    * a content-derived batch key (redelivery upserts the same rows)
    * and serving re-trims the union — the top-(k+1) merge law makes
    * the served sample EXACTLY the batch operator's, including the
    * τ threshold and the unbiased ŵ estimator (spec-pinned). State
    * is O(batches × (k+1)) tiny scalar rows, foldable to one
    * top-(k+1) by [[compactPrioritySample]].
    */
  def runPrioritySampleStream(spark: SparkSession, stagedDir: String,
                              wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                              sampTable: String): Unit = {
    import graft.operators.Sampling
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (b.isEmpty) ()
        else {
          val keyRow = b.agg(min(col("doc_id")), max(col("doc_id")),
            count(lit(1))).head
          val batchKey = s"${keyRow.getLong(0)}-${keyRow.getLong(1)}-${keyRow.getLong(2)}"
          val partial = Sampling.prioritized(b)
            .orderBy(col("priority").desc, col("doc_id").asc)
            .limit(Sampling.PriorityK + 1)
            .select(concat(lit(batchKey), lit("#"), col("doc_id")).as("pr_key"),
              lit(batchKey).as("batch_key"),
              col("doc_id"), col("weight"), col("priority"))
          upsertPartitioned(wh, ref, sampTable, partial, "pr_key")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** The sample + τ estimator served from streamed candidates:
    * distinct rows (idempotence fold) through the SAME
    * [[graft.operators.Sampling.prioritySampleFrom]] tail as the
    * batch operator.
    */
  def prioritySampleFromState(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                              sampTable: String): DataFrame =
    graft.operators.Sampling.prioritySampleFrom(
      wh.readTable(ref, sampTable)
        .select(col("doc_id"), col("weight"), col("priority")).distinct())

  /** Fold stored candidates to the global top-(k+1) — NOT the final
    * k-sample: the boundary row defines τ and must survive the fold
    * (retrim of a retrim is a no-op, so serving is unchanged).
    */
  def compactPrioritySample(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                            sampTable: String): Unit = {
    val spark = wh.readTable(ref, sampTable).sparkSession
    val folded = wh.readTable(ref, sampTable)
      .select(col("doc_id"), col("weight"), col("priority")).distinct()
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(graft.operators.Sampling.PriorityK + 1)
      .select(concat(lit("compact#"), col("doc_id")).as("pr_key"),
        lit("compact").as("batch_key"),
        col("doc_id"), col("weight"), col("priority"))
      .withColumn("pbucket",
        pmod(xxhash64(col("pr_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, sampTable, Seq("pbucket"))
  }

  /** Fold the per-batch registers to one row per (source, bucket)
    * (exact — max — so serving is unchanged).
    */
  def compactHll(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                 regTable: String): Unit = {
    val spark = wh.readTable(ref, regTable).sparkSession
    val folded = wh.readTable(ref, regTable)
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("max_rank")).as("max_rank"))
      .select(concat(lit("compact#"), col("source"), lit("#"), col("bucket"))
          .as("hll_key"),
        lit("compact").as("batch_key"), col("source"), col("bucket"),
        col("max_rank"))
      .withColumn("pbucket",
        pmod(xxhash64(col("hll_key")), lit(indexBuckets(spark).toLong)).cast("int"))
      .transform(cut)
    wh.writeTablePartitioned(folded, ref, regTable, Seq("pbucket"))
  }

  def compactSketches(wh: WarehouseBackend, ref: Warehouse.DatasetRef,
                      sketchTable: String,
                      k: Int = graft.operators.CorpusOps.MgK): Unit = {
    val merged = wh.readTable(ref, sketchTable)
      .groupBy(col("term")).agg(sum(col("est")).as("est"))
    val nTotal = merged.filter(col("term") === "").head.getLong(1)
    // the merged table is O(batches × k) — small enough to compress
    // driver-side (a distributed top-(k+1) threshold works the same
    // way if batches × k ever outgrows the driver)
    val counts = merged.filter(col("term") =!= "").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = graft.operators.CorpusOps.compressMg(counts, k).toSeq
    val spark = merged.sparkSession
    import spark.implicits._
    val compacted = (kept :+ ("" -> nTotal)).toDF("term", "est")
      .select(concat(lit("compact#"), col("term")).as("sk_key"),
        lit("compact").as("batch_key"), col("term"), col("est"))
      .withColumn("pbucket",
        pmod(xxhash64(col("sk_key")), lit(indexBuckets(spark).toLong)).cast("int"))
    wh.writeTablePartitioned(compacted, ref, sketchTable, Seq("pbucket"))
  }
}

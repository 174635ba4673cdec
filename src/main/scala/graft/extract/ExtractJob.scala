package graft.extract

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The complete dumpty ELT flow, end to end: introspect → plan
  * partitions → extract (compressed JSON + schema.json) → load →
  * reconcile counts → persist state for the next run (reference
  * main.py + pipeline.py orchestration).
  *
  * Each table's source is read once, at introspection, and that frame
  * is carried through all three stages. The load stage IS the
  * warehouse load: given a [[LoadTarget]], a table loads on the
  * load-worker pool as soon as its own extract finishes, and
  * `rowsLoaded` is the row count the warehouse writer observed on the
  * frame it wrote (a BigQuery load job's `output_rows`, reference
  * pipeline.py:528-560); with no target it is the count observed on
  * the extract write. Nothing is read back to be counted.
  *
  * Differences from the reference are Spark-idiomatic, not
  * semantic: stats come from a one-pass aggregate instead of
  * hand-written SQL; the output partition count (which controls
  * part-file size) is applied by `repartition` on the write;
  * per-table concurrency comes from ExtractPipeline's staged
  * thread pools; state lives in StateStore's JSON file (TinyDB
  * stand-in) including the adaptive partition recommendation
  * (reference pipeline.py:488-512) and introspection expiry.
  */
object ExtractJob {

  final case class TableSpec(name: String, key: String)

  final case class Config(
      rowsPerPartition: Long = 1000000L,
      targetPartitionBytes: Long = 50L * 1024 * 1024,
      introspectionExpireS: Long = 0L,
      introspectWorkers: Int = 4,
      extractWorkers: Int = 4,
      loadWorkers: Int = 4,
      format: String = "json")

  /** The dataset every table loads into; it must exist before the run. */
  final case class LoadTarget(warehouse: WarehouseBackend, dataset: Warehouse.DatasetRef)

  /** A table between stages: its state, the source frame read at
    * introspection, and the rows the extract write observed.
    */
  private final case class InFlight(state: ExtractState, source: DataFrame,
                                    extractedRows: Long = 0L)

  /** Every table through the three stages; returns the final states. */
  def run(spark: SparkSession, srcDir: String, outDir: String,
          tables: Seq[TableSpec], store: StateStore,
          cfg: Config = Config(),
          nowEpochS: () => Long = () => Instant.now.getEpochSecond,
          target: Option[LoadTarget] = None): Seq[ExtractPipeline.Result[ExtractState]] = {

    val specs = tables.map(t => t.name -> t).toMap

    def introspect(name: String): InFlight = {
      val spec = specs(name)
      val prior = store.get(name)
      val df = Tables(spark, srcDir, name)
      if (!prior.introspectionExpired(cfg.introspectionExpireS, nowEpochS())) InFlight(prior, df)
      else {
        // only the fields read below, so the optimizer prunes the
        // stats' distinct-key count and its shuffle
        val row = Introspector.stats(df, name, spec.key)
          .select("row_cnt", "min_key", "max_key", "dense").collect()(0)
        val rows = row.getAs[Long]("row_cnt")
        val dense = row.getAs[Boolean]("dense")
        val raw = math.round(rows.toDouble / cfg.rowsPerPartition)
        val partitions = math.max(1L, raw).toInt
        val state = prior.copy(
          rows = Some(rows),
          minKey = Some(row.getAs[Long]("min_key")),
          maxKey = Some(row.getAs[Long]("max_key")),
          partitionColumn = if (raw > 1) Some(spec.key) else None,
          partitions = Some(partitions),
          introspectEpochS = Some(nowEpochS()),
          predicates =
            if (raw > 1 && !dense)
              // sketch boundaries: planning only needs coverage, and
              // the approx path reads once with no shuffle (the exact
              // rank is reserved for the oracle-checked queries)
              PartitionPlanner.juliennePredicates(
                PartitionPlanner.julienneBoundariesApprox(df, spec.key, cfg.rowsPerPartition), spec.key)
                .orderBy(col("pred_id"))
                .collect().map(_.getAs[String]("predicate")).toSeq
            else Nil)
        InFlight(state, df)
      }
    }

    def extract(t: InFlight): InFlight = {
      val state = t.state
      val written = Sinks.write(t.source, outDir, state.name, cfg.format, state.partitions)
      val bytes = Sinks.sizeBytes(outDir, state.name)
      // adaptive sizing for the next run (reference pipeline.py:488)
      val recommended = math.max(1L, math.round(bytes.toDouble / cfg.targetPartitionBytes)).toInt
      t.copy(
        state = state.copy(
          extractUri = Some(written.uri),
          extractBytes = Some(bytes),
          partitions = Some(recommended),
          // partition count changed enough to matter → re-introspect next run
          introspectEpochS =
            if (state.partitions.contains(recommended)) state.introspectEpochS else None),
        extractedRows = written.rows)
    }

    def load(t: InFlight): ExtractState = {
      val loaded = target.fold(t.extractedRows) { case LoadTarget(wh, ref) =>
        // the extract carries Sinks.write's normalized column names
        wh.load(t.state.extractUri.get, SchemaNormalizer(t.source).schema, ref, t.state.name,
          format = cfg.format).outputRows
      }
      val finalState = t.state.copy(rowsLoaded = Some(loaded))
      store.put(finalState)
      finalState
    }

    ExtractPipeline.run(
      tables.map(_.name),
      ExtractPipeline.Stages(introspect, extract, load),
      cfg.introspectWorkers, cfg.extractWorkers, cfg.loadWorkers)
  }
}

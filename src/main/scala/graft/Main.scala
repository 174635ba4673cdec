package graft

import org.apache.spark.sql.SparkSession

import graft.conf.GraftConfig
import graft.core.GraftSession
import graft.extract._

/** Config-driven CLI entry point — the reference's operational
  * surface (main.py:28-140 + config.yaml.example): a YAML file names
  * the source, tables, sizing knobs, target URI and dataset; this
  * main creates the target dataset and wires it into ExtractJob
  * (introspect → plan → extract json.gz → warehouse load →
  * reconcile on rows_loaded → state), then applies the post-labels.
  *
  * Usage:
  *   graft.Main --config graft.yaml [uri] [dataset] [--drop] [--parse]
  *
  * Positional uri/dataset and --drop override the config file, as in
  * the reference CLI.
  */
object Main {

  final case class CliArgs(
      config: String = "graft.yaml",
      uri: Option[String] = None,
      dataset: Option[String] = None,
      drop: Option[Boolean] = None,
      parse: Boolean = false)

  def parseArgs(argv: Seq[String]): CliArgs = {
    def loop(rest: List[String], acc: CliArgs): CliArgs = rest match {
      case Nil => acc
      case "--config" :: v :: t => loop(t, acc.copy(config = v))
      case "--drop" :: t => loop(t, acc.copy(drop = Some(true)))
      case "--parse" :: t => loop(t, acc.copy(parse = true))
      case v :: t if !v.startsWith("--") =>
        if (acc.uri.isEmpty) loop(t, acc.copy(uri = Some(v)))
        else if (acc.dataset.isEmpty) loop(t, acc.copy(dataset = Some(v)))
        else throw new IllegalArgumentException(s"unexpected argument $v")
      case v :: _ => throw new IllegalArgumentException(s"unknown flag $v")
    }
    loop(argv.toList, CliArgs())
  }

  def withOverrides(cfg: GraftConfig, a: CliArgs): GraftConfig = {
    var c = cfg
    a.uri.foreach(u => c = c.copy(targetUri = Some(u)))
    a.dataset.foreach(d => c = c.copy(targetDataset = Some(d)))
    a.drop.foreach(d => c = c.copy(dropDataset = d))
    c.targetDataset.foreach(Warehouse.DatasetRef.fromString) // validate early
    c
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toIndexedSeq)
    val cfg = withOverrides(GraftConfig.fromYamlFile(args.config), args)
    if (args.parse) { println(cfg); return }
    val spark = GraftSession.fromConfig(cfg.spark)
    try {
      val results = run(cfg, spark)
      val failed = results.filter(_.result.isLeft)
      results.foreach {
        case ExtractPipeline.Result(name, Right(st)) =>
          println(s"""{"table":"$name","rows":${st.rows.getOrElse(-1L)},""" +
            s""""partitions":${st.partitions.getOrElse(1)},""" +
            s""""bytes":${st.extractBytes.getOrElse(0L)},""" +
            s""""rows_loaded":${st.rowsLoaded.getOrElse(-1L)},""" +
            s""""consistent":${st.consistent}}""")
        case ExtractPipeline.Result(name, Left(e)) =>
          System.err.println(s"""{"table":"$name","error":"${e.getMessage}"}""")
      }
      if (failed.nonEmpty) sys.exit(1)
    } finally spark.stop()
  }

  /** The full ELT flow for a parsed config; returns per-table state.
    * Separated from `main` so tests can drive it with an existing
    * session. As in the reference (main.py:170-250 + gcp.py), the
    * dataset is created with its pre-labels before any table is
    * extracted; each table then loads inside ExtractJob's pipeline as
    * soon as its own extract is done, and reconciles on the rows the
    * warehouse writer observed. A table whose `rows_loaded` differs
    * from its introspected rows comes back as a failure, and the
    * post-labels are applied only once every table has loaded and
    * reconciled. `warehouse` builds the load backend from
    * `warehouse_root`.
    */
  def run(cfg: GraftConfig, spark: SparkSession,
          warehouse: (String, SparkSession) => WarehouseBackend = new Warehouse(_, _))
      : Seq[ExtractPipeline.Result[ExtractState]] = {
    val srcDir = cfg.sourceDir.getOrElse(
      throw new IllegalArgumentException("config needs source_dir"))
    val outUri = cfg.targetUri.getOrElse(
      throw new IllegalArgumentException("config needs target_uri (or pass uri on the CLI)"))
    val target = for (ds <- cfg.targetDataset; root <- cfg.warehouseRoot) yield {
      val t = ExtractJob.LoadTarget(warehouse(root, spark), Warehouse.DatasetRef.fromString(ds))
      t.warehouse.createDataset(t.dataset, Warehouse.DatasetMeta(
        description = cfg.targetDatasetDescription,
        location = cfg.targetDatasetLocation,
        labels = cfg.targetDatasetPreLabels,
        accessEntries = cfg.targetDatasetAccessEntries),
        drop = cfg.dropDataset)
      t
    }
    val jobCfg = ExtractJob.Config(
      rowsPerPartition = cfg.defaultRowsPerPartition,
      targetPartitionBytes = cfg.targetPartitionSizeBytes,
      introspectionExpireS = cfg.introspectionExpireS,
      introspectWorkers = cfg.introspectWorkers,
      extractWorkers = cfg.extractWorkers,
      loadWorkers = cfg.loadWorkers,
      format = cfg.spark.format)
    val specs = cfg.tables.map(t => ExtractJob.TableSpec(t.name, t.key))
    val results = ExtractJob.run(spark, srcDir, outUri, specs, new StateStore(cfg.stateFile),
      jobCfg, target = target).map {
      case ExtractPipeline.Result(name, Right(st)) if !st.consistent =>
        ExtractPipeline.Result[ExtractState](name, Left(new IllegalStateException(
          s"$name rows_loaded=${st.rowsLoaded.getOrElse(-1L)} != rows=${st.rows.getOrElse(-1L)}")))
      case done => done
    }
    target.foreach { t =>
      if (results.forall(_.result.isRight) && cfg.targetDatasetPostLabels.nonEmpty)
        t.warehouse.applyLabels(t.dataset, cfg.targetDatasetPreLabels ++ cfg.targetDatasetPostLabels)
    }
    results
  }
}

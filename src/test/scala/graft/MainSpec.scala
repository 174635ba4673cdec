package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.conf.GraftConfig
import graft.extract.{StateStore, Warehouse}

/** The reference's operational surface (main.py + config.yaml):
  * YAML parse with env interpolation, CLI overrides, and the full
  * config-driven ELT (extract json.gz → warehouse load → labels →
  * state) end to end.
  */
class MainSpec extends AnyFunSuite {
  import SparkSuite._

  private def yaml(out: String, wh: String, state: String): String =
    s"""spark:
       |  master: "local[4]"
       |  threads: 4
       |  log_level: ERROR
       |  properties:
       |    spark.sql.session.timeZone: UTC
       |source_dir: "$sf"
       |tables:
       |  - name: nation
       |    key: n_nationkey
       |  - name: orders
       |    key: o_orderkey
       |target_uri: "$out"
       |warehouse_root: "$wh"
       |target_dataset: "proj.extracts"
       |target_dataset_description: "graft CI extract"
       |target_dataset_pre_labels: {stage: extracting}
       |target_dataset_post_labels: {stage: done}
       |target_dataset_access_entries: ["userByEmail:ci@local"]
       |target_partition_size_bytes: $${GRAFT_TEST_TPB:16384}
       |default_rows_per_partition: 500
       |state_file: "$state"
       |""".stripMargin

  test("yaml parses with env interpolation and defaults") {
    val cfg = GraftConfig.fromYaml(yaml("/t/out", "/t/wh", "/t/s.json"),
      env = Map.empty)
    assert(cfg.spark.master == "local[4]")
    assert(cfg.spark.threads == 4)
    assert(cfg.tables == Seq(conf.TableConf("nation", "n_nationkey"),
      conf.TableConf("orders", "o_orderkey")))
    assert(cfg.targetPartitionSizeBytes == 16384L) // default used
    assert(GraftConfig.fromYaml(yaml("/t/o", "/t/w", "/t/s"),
      env = Map("GRAFT_TEST_TPB" -> "99")).targetPartitionSizeBytes == 99L)
    assert(cfg.introspectWorkers == 8) // case-class default
    intercept[IllegalArgumentException](
      GraftConfig.fromYaml("a: ${UNDEFINED_VAR}", env = Map.empty))
  }

  test("cli overrides beat the config file") {
    val a = Main.parseArgs(Seq("--config", "c.yaml", "gs-out", "p.d", "--drop"))
    assert(a == Main.CliArgs("c.yaml", Some("gs-out"), Some("p.d"), Some(true), false))
    val cfg = Main.withOverrides(GraftConfig(), a)
    assert(cfg.targetUri.contains("gs-out"))
    assert(cfg.targetDataset.contains("p.d"))
    assert(cfg.dropDataset)
    intercept[IllegalArgumentException](
      Main.withOverrides(GraftConfig(), a.copy(dataset = Some("nodot"))))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--bogus")))
  }

  test("config-driven ELT runs end to end: json.gz, warehouse, labels, state") {
    val dir = Files.createTempDirectory("graft-main").toString
    val cfg = GraftConfig.fromYaml(
      yaml(s"$dir/out", s"$dir/wh", s"$dir/state.json"), env = Map.empty)
    val results = Main.run(cfg, spark)
    assert(results.forall(_.result.isRight),
      results.filter(_.result.isLeft).toString)

    // extracted json.gz + sidecar
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/out/nation/schema.json")))
    // warehouse tables loaded and reconciled
    val wh = new Warehouse(s"$dir/wh", spark)
    val ref = Warehouse.DatasetRef.fromString("proj.extracts")
    assert(wh.readTable(ref, "orders").count() == 1500L)
    assert(wh.readTable(ref, "nation").count() == 25L)
    // post-labels applied only after all loads succeeded
    val meta = wh.getDataset(ref).get
    assert(meta.labels == Map("stage" -> "done"))
    assert(meta.accessEntries == Seq("userByEmail:ci@local"))
    // state persisted with rows_loaded consistency
    val store = new StateStore(s"$dir/state.json")
    assert(store.get("orders").consistent)
    assert(store.get("nation").consistent)
    assert(store.get("orders").rowsLoaded.contains(1500L))
  }

  test("reconcile catches rows lost between extract and load") {
    import java.nio.file.Paths
    import org.apache.spark.sql.types.StructType
    import Warehouse._
    val dir = Files.createTempDirectory("graft-main-lost").toString
    val cfg = GraftConfig.fromYaml(
      yaml(s"$dir/out", s"$dir/wh", s"$dir/state.json"), env = Map.empty)
    // the load stage's backend drops one part file of the orders
    // extract just before loading it
    val lossy = (root: String, s: org.apache.spark.sql.SparkSession) =>
      new Warehouse(root, s) {
        override def load(uri: String, schema: StructType, ref: DatasetRef, table: String,
                          job: LoadJob, format: String): LoadResult = {
          if (table == "orders") {
            val parts = Files.list(Paths.get(uri).getParent)
            try {
              val all = parts.filter(_.getFileName.toString.startsWith("part-")).toList
              assert(all.size > 1, s"orders extract has ${all.size} part file(s)")
              Files.delete(all.get(0))
            } finally parts.close()
          }
          super.load(uri, schema, ref, table, job, format)
        }
      }
    val results = Main.run(cfg, spark, lossy).map(r => r.name -> r.result).toMap
    assert(results("nation").isRight, results("nation").toString)
    assert(results("orders").isLeft, "lost rows passed reconcile")
    val store = new StateStore(s"$dir/state.json")
    assert(!store.get("orders").consistent)
    assert(store.get("orders").rowsLoaded.exists(_ < 1500L))
    val ref = DatasetRef.fromString("proj.extracts")
    assert(new Warehouse(s"$dir/wh", spark).getDataset(ref).get.labels ==
      Map("stage" -> "extracting"), "post-labels applied despite a failed reconcile")
  }
}

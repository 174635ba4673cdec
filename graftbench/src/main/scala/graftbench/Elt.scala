package graftbench

import java.math.BigInteger
import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, Timestamp}

import scala.util.control.NonFatal

import org.apache.spark.sql.functions.col

import graft.extract.{PartitionPlanner, SchemaNormalizer, Sinks, Warehouse}
import graft.sources.{JdbcPartitionedSource => J}

import Main.{jstr, Ctx, Round}

/** dumpty's nightly job. One round is `graft.Main.run` over the seven
  * TPC-H tables with a fresh state file (introspect → plan → json.gz +
  * schema.json → warehouse load → reconcile → state), then the same
  * extract and load from an embedded Derby database in each of the
  * three JDBC modes: a dense-key table by `Range`, a skewed-key table
  * by the `Predicates` the sketch julienne plans, two small tables by
  * `Single`.
  */
final class Elt extends Main.Workload {
  import Elt._

  private var conn: Connection = _
  private val derbyDigests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, BigInteger)]
  private var lastRound: Path = _
  private var lastPredicates: Seq[String] = Nil

  def setup(c: Ctx): Unit = {
    conn = DriverManager.getConnection(s"$Url;create=true")
    val rnd = new java.util.SplittableRandom(c.opts.seed)
    DerbyTables.foreach(t => load(t, rnd))
    // the source side of the checks, over plain JDBC
    DerbyTables.foreach(t => derbyDigests(t.name) = digest(t))
  }

  def warmup(c: Ctx): Unit = {
    val dir = c.work("warmup")
    runRound(c, dir, s"${c.opts.data}/tpch_warm")
    deleteTree(dir)
  }

  def round(c: Ctx, r: Int): Round = {
    if (lastRound != null) deleteTree(lastRound)
    val dir = c.work(s"round-$r")
    lastRound = dir
    Main.timed(runRound(c, dir, s"${c.opts.data}/tpch"))
  }

  /** (attempted, failed, rows, json.gz bytes) of one round. */
  private def runRound(c: Ctx, dir: Path, srcDir: String): (Int, Int, Long, Long) = {
    val spark = c.spark
    val cfgPath = dir.resolve("graft.yaml")
    Files.writeString(cfgPath, yaml(dir, srcDir, c.opts.cpus))
    val cli = graft.Main.parseArgs(Seq("--config", cfgPath.toString))
    val cfg = graft.Main.withOverrides(graft.conf.GraftConfig.fromYamlFile(cli.config), cli)
    val results = c.trace.span("main.run")(graft.Main.run(cfg, spark))
    var failed = results.count(_.result.isLeft)
    var rows = results.flatMap(_.result.toOption).flatMap(_.rows).sum

    val extract = dir.resolve("extract").toString
    val wh = new Warehouse(dir.resolve("warehouse").toString, spark)
    wh.createDataset(DerbyDataset, Warehouse.DatasetMeta())
    def jdbc(t: DerbyTable) = J.JdbcTable(Url, t.name)
    def extractAndLoad(t: DerbyTable, span: String)(read: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val df = c.trace.span(span) {
          val df = read
          Sinks.write(df, extract, t.name, "json")
          df
        }
        val loaded = wh.load(s"$extract/${t.name}/part-*.json.gz",
          SchemaNormalizer(df).schema, DerbyDataset, t.name)
        if (loaded.outputRows != t.rows) failed += 1 else rows += t.rows
      } catch { case NonFatal(e) => e.printStackTrace(); failed += 1 }

    val dense = DerbyTables(0)
    extractAndLoad(dense, "sources.range_extract") {
      val st = c.trace.span("sources.introspect")(
        J.introspect(spark, jdbc(dense), dense.key).collect()(0))
      val lo = st.getAs[Number]("min_key").longValue
      val hi = st.getAs[Number]("max_key").longValue
      J.read(spark, jdbc(dense), J.Range(dense.key, lo, hi, partitionsOf(dense)))
    }
    val skew = DerbyTables(1)
    val preds = c.trace.span("extract.julienne_plan") {
      val keys = J.read(spark, jdbc(skew), J.Single).select(col(skew.key))
      PartitionPlanner.juliennePredicates(
        PartitionPlanner.julienneBoundariesApprox(keys, skew.key, RowsPerPartition), skew.key)
        .orderBy(col("pred_id")).collect().map(_.getAs[String]("predicate")).toSeq
    }
    lastPredicates = preds
    extractAndLoad(skew, "sources.predicates_extract")(
      J.read(spark, jdbc(skew), J.Predicates(preds)))
    DerbyTables.drop(2).foreach(t =>
      extractAndLoad(t, "sources.single_extract")(J.read(spark, jdbc(t), J.Single)))

    val bytes = (results.flatMap(_.result.toOption).map(_.name) ++ DerbyTables.map(_.name))
      .map(Sinks.sizeBytes(extract, _)).sum
    (results.size + DerbyTables.size, failed, rows, bytes)
  }

  def checks(c: Ctx): Seq[(String, String)] = {
    val tables = DerbyTables.map { t =>
      val (n, d) = derbyDigests(t.name)
      s"""{"name":${jstr(t.name)},"rows":$n,"digest":"$d","columns":""" +
        t.columns.map { case (k, ty) => s"[${jstr(k)},${jstr(ty)}]" }.mkString("[", ",", "]") + "}"
    }
    Seq(
      "round_dir" -> jstr(lastRound.toString),
      "derby_tables" -> tables.mkString("[", ",", "]"),
      "julienne_each_row_once" -> eachRowOnce(DerbyTables(1), lastPredicates).toString)
  }

  def layers(c: Ctx, ws: Seq[(Long, Long)], rounds: Int): Map[String, Double] = {
    val t = c.trace
    val n = rounds.toDouble
    val js = t.jobsIn(ws)
    def frame(j: t.Job) = t.frameOf(j)
    val readback = js.filter(j => j.site.startsWith("count at") &&
      (frame(j).startsWith("graft.extract.ExtractJob") || frame(j).startsWith("graft.extract.Warehouse")))
    val introspect = js.filter(j => j.stack.contains("introspect"))
    def spanS(name: String) = t.spansIn(ws, name).map(_.seconds).sum / n
    def jobsOfSpan(name: String) = {
      val sw = t.spansIn(ws, name).map(s => (s.startMs, s.endMs))
      t.jobsIn(sw).filter(j => frame(j).startsWith("graft.sources") || frame(j).startsWith("graft.extract.Sinks"))
    }
    Map(
      "main.run_s" -> spanS("main.run"),
      "extract.sinks_job_s" -> t.jobSeconds(js.filter(j => frame(j).startsWith("graft.extract.Sinks"))) / n,
      "extract.warehouse_load_job_s" ->
        t.jobSeconds(js.filter(j => frame(j).startsWith("graft.extract.Warehouse") && !readback.contains(j))) / n,
      "extract.introspect_job_s" -> t.jobSeconds(introspect) / n,
      "extract.readback_jobs" -> readback.size / n,
      "extract.readback_job_s" -> t.jobSeconds(readback) / n,
      "extract.part_files" -> Main.countFiles(lastRound.resolve("extract"), _.startsWith("part-")).toDouble,
      "extract.julienne_plan_s" -> spanS("extract.julienne_plan"),
      "sources.introspect_s" -> spanS("sources.introspect"),
      "sources.range_extract_s" -> spanS("sources.range_extract"),
      "sources.predicates_extract_s" -> spanS("sources.predicates_extract"),
      "sources.single_extract_s" -> spanS("sources.single_extract"),
      "sources.range_task_skew" -> t.taskSkew(jobsOfSpan("sources.range_extract")),
      "sources.predicates_task_skew" -> t.taskSkew(jobsOfSpan("sources.predicates_extract")))
  }

  // -- Derby source ------------------------------------------------------

  private def load(t: DerbyTable, rnd: java.util.SplittableRandom): Unit = {
    conn.createStatement().execute(t.ddl)
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(
      s"INSERT INTO ${t.name} VALUES (${t.columns.map(_ => "?").mkString(",")})")
    (0L until t.rows).foreach { i =>
      t.row(i, rnd).zipWithIndex.foreach { case (v, k) => ps.setObject(k + 1, v) }
      ps.addBatch()
      if (i % 5000 == 4999) ps.executeBatch()
    }
    ps.executeBatch()
    conn.commit()
    conn.setAutoCommit(true)
  }

  /** Row count and order-independent digest: the sum over rows of the
    * first 48 bits of md5 of the '|'-joined canonical column strings
    * (the checks compute the same over the extract and the warehouse).
    */
  private def digest(t: DerbyTable): (Long, BigInteger) = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT ${t.columns.map(_._1).mkString(",")} FROM ${t.name}")
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = BigInteger.ZERO
    while (rs.next()) {
      val s = t.columns.indices.map { k =>
        rs.getObject(k + 1) match {
          case ts: Timestamp => ts.toLocalDateTime.format(TsFormat)
          case d: java.math.BigDecimal => d.toPlainString
          case v => v.toString
        }
      }.mkString("|")
      val h = md.digest(s.getBytes("UTF-8")).take(6).map(b => f"${b & 0xff}%02x").mkString
      sum = sum.add(BigInteger.valueOf(java.lang.Long.parseLong(h, 16)))
      n += 1
    }
    rs.close()
    (n, sum)
  }

  /** Inside Derby: no row of the skewed table satisfies other than
    * exactly one of the julienne predicates.
    */
  private def eachRowOnce(t: DerbyTable, preds: Seq[String]): Boolean = preds.nonEmpty && {
    val hits = preds.map(p => s"CASE WHEN $p THEN 1 ELSE 0 END").mkString(" + ")
    val rs = conn.createStatement().executeQuery(
      s"SELECT COUNT(*) FROM ${t.name} WHERE ($hits) <> 1")
    rs.next()
    try rs.getLong(1) == 0L finally rs.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}

object Elt {
  val Url = "jdbc:derby:memory:graftbench"
  val RowsPerPartition = 6250L
  val DerbyDataset: Warehouse.DatasetRef = Warehouse.DatasetRef("bench", "derby")
  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Day0 = java.time.LocalDateTime.of(2020, 1, 1, 0, 0)

  final case class DerbyTable(name: String, key: String, rows: Long,
                              columns: Seq[(String, String)],
                              row: (Long, java.util.SplittableRandom) => Seq[AnyRef]) {
    def ddl: String = s"CREATE TABLE $name (" +
      columns.map { case (k, ty) => s"$k $ty" }.mkString(", ") + ")"
  }

  def partitionsOf(t: DerbyTable): Int = math.max(1, math.round(t.rows.toDouble / RowsPerPartition).toInt)

  private def ts(rnd: java.util.SplittableRandom): Timestamp =
    Timestamp.valueOf(Day0.plusSeconds(rnd.nextLong(3L * 365 * 86400)))
  private def money(rnd: java.util.SplittableRandom): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(rnd.nextLong(-100000, 10000000), 2)
  private def long(v: Long): AnyRef = java.lang.Long.valueOf(v)

  /** Dense key, skewed key, and two small tables. The skewed key is
    * u^4 scaled to a million: a quarter of the rows share keys below 4,
    * so equal-row slices come out uneven.
    */
  val DerbyTables: Seq[DerbyTable] = Seq(
    DerbyTable("dense_t", "id", 25000L,
      Seq("id" -> "BIGINT", "cust" -> "BIGINT", "amount" -> "DECIMAL(12,2)",
        "status" -> "VARCHAR(8)", "created" -> "TIMESTAMP"),
      (i, r) => Seq(long(i), long(r.nextLong(15000)), money(r),
        Seq("open", "shipped", "closed", "held")(r.nextInt(4)), ts(r))),
    DerbyTable("skew_t", "k", 25000L,
      Seq("k" -> "BIGINT", "id" -> "BIGINT", "note" -> "VARCHAR(24)", "updated" -> "TIMESTAMP"),
      (i, r) => Seq(long((math.pow(r.nextDouble(), 4) * 1e6).toLong), long(i),
        s"note-${r.nextInt(1000)}", ts(r))),
    DerbyTable("small_a", "id", 3000L,
      Seq("id" -> "BIGINT", "name" -> "VARCHAR(32)", "created" -> "TIMESTAMP"),
      (i, r) => Seq(long(i), s"name-${r.nextInt(100000)}", ts(r))),
    DerbyTable("small_b", "id", 500L,
      Seq("id" -> "BIGINT", "code" -> "VARCHAR(8)", "amount" -> "DECIMAL(12,2)"),
      (i, r) => Seq(long(i), f"c${r.nextInt(10000)}%05d", money(r))))

  /** The job's config: the seven TPC-H tables, worker pools no larger
    * than the core count, and a fresh state file per round.
    */
  def yaml(dir: Path, srcDir: String, cpus: Int): String =
    s"""source_dir: "$srcDir"
       |target_uri: "${dir.resolve("extract")}"
       |warehouse_root: "${dir.resolve("warehouse")}"
       |target_dataset: "bench.nightly"
       |state_file: "${dir.resolve("state.json")}"
       |default_rows_per_partition: 150000
       |introspect_workers: $cpus
       |extract_workers: $cpus
       |load_workers: $cpus
       |spark:
       |  format: json
       |tables:
       |  - {name: region, key: r_regionkey}
       |  - {name: nation, key: n_nationkey}
       |  - {name: customer, key: c_custkey}
       |  - {name: supplier, key: s_suppkey}
       |  - {name: part, key: p_partkey}
       |  - {name: orders, key: o_orderkey}
       |  - {name: lineitem, key: l_orderkey}
       |""".stripMargin
}

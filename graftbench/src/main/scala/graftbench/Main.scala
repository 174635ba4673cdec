package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run of one workload in this JVM.
  *
  * Usage: graftbench.Main --workload <elt_nightly|stream_dedup|corpus_ops>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *   --cpus <n> --out <result.json>
  *
  * The run sets up (session, inputs, one untimed warm-up round), then
  * repeats whole rounds of the workload until `--seconds` of round time
  * have passed, and writes its metrics plus the facts the correctness
  * checks need to `--out`. Metrics are written by name with their value
  * only; units and the full per-layer list come from BENCHMARK.json. With
  * `--trace 1` one untimed-by-tracing round is timed first, the listeners
  * are attached, and the per-layer counters are taken from the traced
  * rounds only.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, cpus: Int, out: String)

  /** What one round did, as the workload measured it. */
  final case class Round(wall: Double, cpu: Double, attempted: Int, failed: Int,
                         rows: Long, outBytes: Long, window: (Long, Long))

  final case class Ctx(spark: SparkSession, opts: Opts, trace: Trace) {
    def work(parts: String*): Path = {
      val p = Paths.get(opts.work, parts: _*)
      Files.createDirectories(p)
      p
    }
  }

  trait Workload {
    /** Timed rounds a run makes at least, whatever `--seconds` says. */
    def minRounds: Int = 1
    def setup(c: Ctx): Unit
    def warmup(c: Ctx): Unit
    def round(c: Ctx, r: Int): Round
    /** Facts for the correctness checks, as JSON object members. */
    def checks(c: Ctx): Seq[(String, String)]
    /** The workload's own per-layer metrics over the traced rounds. */
    def layers(c: Ctx, ws: Seq[(Long, Long)], rounds: Int): Map[String, Double]
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("cpus").toInt, need("out"))
  }

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Times one round's body: wall and process CPU seconds. */
  def timed(f: => (Int, Int, Long, Long)): Round = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val c0 = cpuSeconds()
    val (att, fail, rows, bytes) = f
    Round((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, att, fail, rows, bytes,
      (s, System.currentTimeMillis()))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }

  def sizeOf(p: Path): Long = filesUnder(p).map(Files.size).sum

  def countFiles(p: Path, name: String => Boolean): Int =
    filesUnder(p).count(f => name(f.getFileName.toString))

  /** Row count of a parquet file, from its footer: no Spark job. */
  def parquetRows(file: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val workload: Workload = opts.workload match {
      case "elt_nightly" => new Elt
      case "stream_dedup" => new StreamDedup
      case "corpus_ops" => new Corpus
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = GraftSession.builder(s"local[${opts.cpus}]", opts.cpus)
      .config("spark.local.dir", Paths.get(opts.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(opts.work, "spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", Paths.get(opts.work, "tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace
    val c = Ctx(spark, opts, trace)
    var exit = 1
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val s1 = System.nanoTime()
      workload.setup(c)
      val inputsS = (System.nanoTime() - s1) / 1e9
      val s2 = System.nanoTime()
      graft.MemoRegistry.reset()
      workload.warmup(c)
      val warmS = (System.nanoTime() - s2) / 1e9

      val untraced = scala.collection.mutable.ArrayBuffer.empty[Round]
      if (opts.trace) {
        graft.MemoRegistry.reset()
        untraced += workload.round(c, 0)
        trace.attach(spark)
      }
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
      while (rounds.size < workload.minRounds || rounds.map(_.wall).sum < opts.seconds) {
        graft.MemoRegistry.reset()
        rounds += workload.round(c, untraced.size + rounds.size)
      }
      trace.drain(spark)

      val metrics: Map[String, Double] =
        if (!opts.trace) {
          Map(
            "setup_s" -> (jvmStartS + sessionS + inputsS + warmS),
            "wall_s" -> median(rounds.map(_.wall)),
            "cpu_s" -> median(rounds.map(_.cpu)),
            "rss_peak_mb" -> peakRssMb(),
            "rows_per_s" -> median(rounds.map(r => r.rows / r.wall)),
            "out_mb" -> median(rounds.map(_.outBytes / 1e6)))
        } else {
          val ws = rounds.map(_.window).toSeq
          val n = rounds.size.toDouble
          val js = trace.jobsIn(ws)
          val ts = trace.tasksIn(ws)
          def mb(f: trace.TaskRec => Long) = ts.map(f).sum / 1e6 / n
          val common = Map(
            "spark.jobs" -> js.size / n,
            "spark.stages" -> trace.stagesIn(ws) / n,
            "spark.tasks" -> ts.size / n,
            "spark.driver_gap_s" -> trace.driverGap(ws) / n,
            "spark.planning_s" -> trace.planningIn(ws) / n,
            "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3 / n,
            "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
            "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
            "spark.input_mb" -> mb(_.inBytes),
            "spark.shuffle_read_mb" -> mb(_.shReadBytes),
            "spark.shuffle_write_mb" -> mb(_.shWriteBytes),
            "spark.shuffle_records" -> ts.map(_.shRecords).sum / n,
            "spark.spill_mb" -> mb(_.spillBytes),
            "spark.output_mb" -> mb(_.outBytes),
            "trace.overhead_pct" ->
              100.0 * (median(rounds.map(_.wall)) / median(untraced.map(_.wall).toSeq) - 1))
          common ++ workload.layers(c, ws, rounds.size)
        }

      val all = (untraced ++ rounds).toSeq
      val body = Seq(
        "attempted" -> all.map(_.attempted).sum.toString,
        "failed" -> all.map(_.failed).sum.toString,
        "rounds" -> all.size.toString,
        "setup_parts" -> s"""{"jvm_s":$jvmStartS,"session_s":$sessionS,"inputs_s":$inputsS,"warmup_s":$warmS}""",
        "round_wall_s" -> rounds.map(_.wall).mkString("[", ",", "]"),
        "metrics" -> metrics.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")) ++
        workload.checks(c)
      if (opts.trace)
        Files.writeString(Paths.get(opts.out).resolveSibling("trace.json"), trace.toJson)
      Files.writeString(Paths.get(opts.out),
        body.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}"))
      exit = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      spark.stop()
      sys.exit(exit)
    }
  }
}

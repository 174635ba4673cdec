package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SaveMode

import graft.SparkEntry

import Main.{jstr, Ctx, Round}

/** A fixed set of `SparkEntry.queries` over the generated tables. One
  * round materializes every query in full through Spark's `noop` sink
  * (a `.count()` lets Spark skip columns and whole stages). The untimed
  * warm-up writes each result as parquet instead, next to an
  * `oracle_sql.json` of the queries' DuckDB oracles, in the layout that
  * `tools/check.py` compares.
  */
final class Corpus extends Main.Workload {
  import Corpus._

  /** A round is short and its CPU time still varies with JIT state after
    * one warm-up pass; the median of two rounds keeps the run steady.
    */
  override def minRounds: Int = 2

  private var resultBytes = 0L
  private var inputRows = 0L

  /** Rows of the input tables the queries read, once per query. */
  def setup(c: Ctx): Unit = inputRows = QueryTables.map { case (_, ts) =>
    ts.map(t => Main.parquetRows(java.nio.file.Paths.get(tables(c), s"$t.parquet"))).sum
  }.sum

  def warmup(c: Ctx): Unit = {
    Queries.foreach { q =>
      val out = c.work("results").resolve(q)
      try SparkEntry.queries(q)(c.spark, tables(c)).write.mode(SaveMode.Overwrite).parquet(out.toString)
      catch { case NonFatal(e) => e.printStackTrace() }
      resultBytes += Main.sizeOf(out)
    }
    java.nio.file.Files.writeString(c.work("results").resolve("oracle_sql.json"),
      Queries.map(q => s"${jstr(q)}:${jstr(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
  }

  def round(c: Ctx, r: Int): Round = Main.timed {
    val failed = Queries.count { q =>
      try {
        c.trace.span(s"operators.$q")(SparkEntry.queries(q)(c.spark, tables(c))
          .write.format("noop").mode(SaveMode.Overwrite).save())
        false
      } catch { case NonFatal(e) => e.printStackTrace(); true }
    }
    (Queries.size, failed, inputRows, resultBytes)
  }

  private def tables(c: Ctx): String = s"${c.opts.data}/tpch"

  def checks(c: Ctx): Seq[(String, String)] = Seq("results_dir" -> jstr(c.work("results").toString))

  def layers(c: Ctx, ws: Seq[(Long, Long)], rounds: Int): Map[String, Double] = {
    val t = c.trace
    Queries.flatMap { q =>
      val sp = t.spansIn(ws, s"operators.$q")
      val ts = t.tasksIn(sp.map(s => (s.startMs, s.endMs)))
      Seq(s"operators.${q}_s" -> sp.map(_.seconds).sum / rounds,
        s"operators.${q}_shuffle_mb" -> ts.map(_.shWriteBytes).sum / 1e6 / rounds)
    }.toMap
  }
}

object Corpus {
  /** Each query with the tables it reads: operators bound by executor CPU
    * and shuffle, then the sub-second extract rungs bound by planning and
    * scheduling.
    */
  val QueryTables: Seq[(String, Seq[String])] = Seq(
    "q_ann_brute" -> Seq("embeddings"),
    "q_chunk_dedup" -> Seq("documents"),
    "q_heavy_hitters" -> Seq("documents"),
    "q_rep_chars" -> Seq("documents"),
    "q_introspect" -> Seq("orders", "lineitem", "customer"),
    "q_reconcile" -> Seq("orders", "lineitem"),
    "q_bq_schema" -> Seq())

  val Queries: Seq[String] = QueryTables.map(_._1)
}

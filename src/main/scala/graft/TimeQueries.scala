package graft
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Optimization-round measurement aid: time a NAMED SUBSET of
  * SparkEntry.queries with the Bench protocol (same session conf,
  * same warm sweep + pointwise-min-of-3), without paying a full
  * 236-query sweep per iteration. The committed evidence epochs stay
  * graft.Bench runs; this is the inner-loop stopwatch only. Like
  * Bench, it clears the one shared-stage map ([[MemoRegistry.reset]])
  * before each sweep.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <names-csv> [sweeps]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val sweeps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = names.map(n => n -> SparkEntry.queries(n))
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Memo reset per sweep mirrors the Bench protocol (r16): each
    // sweep pays each shared family stage exactly once. NOTE: unlike
    // Bench, a SUBSET run bills a family's shared build to the first
    // family member IN THE SUBSET — compare like-for-like subsets.
    MemoRegistry.reset()
    qs.foreach { case (_, fn) => time(fn) } // warm sweep, discarded
    val samples = (1 to sweeps).map { _ =>
      MemoRegistry.reset()
      qs.map { case (_, fn) => time(fn) }
    }
    qs.zipWithIndex.foreach { case ((n, _), i) =>
      val v = samples.map(_(i)).filter(_ >= 0)
      val best = if (v.isEmpty) -1.0 else v.min
      println(f"[time] $n%-28s $best%8.3f  (${v.map(x => f"$x%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}

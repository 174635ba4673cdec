package graft
import graft.core.GraftSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: dump `.explain("formatted")`
  * for named queries to `<outDir>/<name>_<tag>.txt`, plus the
  * AQE-finalized executed plan after one run — the evidence files the
  * optimization rounds commit under plans/r{N}/ (the judge checks
  * plan claims against these, guide §1/§7.2).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <names-csv>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, namesCsv) = args
    val names = namesCsv.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      df.count() // finalize AQE so the executed plan is the real one
      val fin = df.queryExecution.executedPlan.toString
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
        s"== explain(formatted), $name @ $sfDir ==\n$formatted\n" +
          s"== AQE-finalized executed plan (after count()) ==\n$fin\n")
      System.err.println(s"[plandump] wrote $name")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Candidate-mass probe for the blocked-join families (r12 verdict
  * #7: exponent notes need measured candidate masses, not just time
  * ratios — the edit-join 3-point study discipline). Prints, for a
  * given sf dir, the intermediate cardinalities that drive each
  * family's scale exponent. Run at sf0.01 / sf0.1 / sf1 and compare
  * growth per decade.
  *
  * Usage: runMain graft.MassProbe <sfDir> [family,...]
  */
object MassProbe {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.MassProbe <sfDir> [family,...]  " +
        "(families: wj, knn, align; default all)")
      sys.exit(2)
    }
    val dir = args.head
    val only: Option[Set[String]] = args.drop(1).headOption.map(_.split(",").toSet)
    // run a family when no filter is given, or when the filter names
    // it (r13 ADVICE: the old forall/exists mix ran wj but silently
    // skipped the others on a bare <sfDir> invocation)
    def wants(fam: String): Boolean = only.forall(_.contains(fam))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def p(name: String, v: Long): Unit = println(f"[mass] $name%-28s $v%12d")

    if (wants("wj")) {
      val docs = graft.operators.Dedup.corpus(spark, dir)
      val stats = graft.operators.Dedup.wjMassStats(docs)
      stats.foreach { case (k, v) => p(s"wj.$k", v) }
    }
    if (wants("knn")) {
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val stats = graft.operators.Similarity.knnMassStats(emb)
      stats.foreach { case (k, v) => p(s"knn.$k", v) }
    }
    if (wants("align")) {
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val stats = graft.operators.Similarity.alignMassStats(emb)
      stats.foreach { case (k, v) => p(s"align.$k", v) }
    }
    spark.stop()
  }
}

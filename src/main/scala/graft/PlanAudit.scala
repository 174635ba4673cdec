package graft

import graft.core.GraftSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan audit across every SparkEntry query: one summary
  * line per query with the plan facts that matter at 100 TB — join
  * strategies chosen, exchange count, scan pushdown, codegen, and
  * any cartesian products (which should never appear).
  *
  * Usage: runMain graft.PlanAudit [sfDir] — prints a table; exits
  * nonzero if a cartesian product sneaks into any plan.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var cartesian = List.empty[String]
    var unpartWin = List.empty[String]
    println(f"${"query"}%-22s exch  bhj  smj  bnlj  pushed  codegen  arrexch  globalwin  cartesian")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.count() // finalize AQE so the audited plan is the executed one
        val p = df.queryExecution.executedPlan.toString
        def n(s: String) = p.sliding(s.length).count(_ == s)
        val hasCart = p.contains("CartesianProduct")
        // walk the tree through AQE wrappers: node-typed counts beat
        // string heuristics (the "*(" codegen marker was AQE-blind,
        // and "Exchange" matched inside "ReusedExchange")
        def flatten(pl: SparkPlan): Seq[SparkPlan] = pl match {
          case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
          case q: QueryStageExec => q +: flatten(q.plan)
          case _ => pl +: pl.children.flatMap(flatten)
        }
        val nodes = flatten(df.queryExecution.executedPlan)
        // an unpartitioned WindowExec moves the world through one
        // task — the same scale-killer the r1 julienne had
        val hasGlobalWin = nodes.exists {
          case w: WindowExec => w.partitionSpec.isEmpty
          case _ => false
        }
        val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
        val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
        val codegen = nodes.count(_.isInstanceOf[WholeStageCodegenExec])
        // exchanges whose payload still carries an array column —
        // at 100 TB these shuffle vectors/collections instead of
        // scalars; the r5 payload work drove them out of the ANN
        // dedup/window exchanges, this column keeps them visible
        val arrExch = nodes.collect { case s: ShuffleExchangeExec => s }
          .count(_.output.exists(_.dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]))
        if (hasCart) cartesian ::= name
        if (hasGlobalWin) unpartWin ::= name
        println(f"$name%-22s $shuffles%4d+$reused%-2dr ${n("BroadcastHashJoin")}%4d " +
          f"${n("SortMergeJoin")}%4d ${n("BroadcastNestedLoopJoin")}%5d " +
          f"${p.contains("PushedFilters: [")}%7s $codegen%8d $arrExch%8d $hasGlobalWin%10s $hasCart%9s")
      } catch {
        case e: Throwable => println(f"$name%-22s FAILED: ${e.getMessage.take(60)}")
      }
    }
    if (unpartWin.nonEmpty)
      System.err.println(s"WARNING unpartitioned windows in: ${unpartWin.mkString(", ")}")
    spark.stop()
    if (cartesian.nonEmpty) {
      System.err.println(s"Cartesian products in: ${cartesian.mkString(", ")}")
      sys.exit(1)
    }
  }
}

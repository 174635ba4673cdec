package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** The one place that decides how a frame is cut, shared, named and
  * reset.
  *
  *  - [[cut]] breaks lineage: a reliable checkpoint whenever the
  *    context has a checkpoint dir (HDFS-durable, so a lost executor
  *    replays one step, not the whole chain — the cluster policy),
  *    an executor-memory localCheckpoint otherwise.
  *  - [[shared]] computes a stage once per (name, session, dir) and
  *    hands the same value to every query that consumes it (the r15
  *    family memoization: louvainBase, minhashPairsBase, tfBase, ...).
  *    It does not cut by itself; each build cuts what it needs.
  *  - [[named]] labels the Spark jobs a body starts, so listeners and
  *    the UI bill them to a step; every shared build runs under its
  *    name.
  *  - [[reset]] drops every shared value. [[graft.Bench]] calls it at
  *    every sweep boundary so each sweep pays each shared stage
  *    exactly once (a warm sweep would otherwise time checkpoint
  *    reads instead of the operators); oracle/verify runs never reset.
  */
object MemoRegistry {
  private val memo = TrieMap.empty[(String, SparkSession, String), Any]

  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  def shared[T](name: String, s: SparkSession, dir: String)(build: => T): T =
    memo.getOrElseUpdate((name, s, dir), named(s, name)(build)).asInstanceOf[T]

  /** Runs `body` with `name` as the Spark job description of every job
    * it starts; the previous description is restored afterwards.
    */
  def named[T](s: SparkSession, name: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(prev)
  }

  /** Drop every shared value. Checkpoint blocks behind the dropped
    * references are reclaimed by Spark's ContextCleaner once GC'd.
    */
  def reset(): Unit = memo.clear()
}

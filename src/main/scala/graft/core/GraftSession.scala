package graft.core

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory.
  *
  * Settings chosen for the `local[32]` CI box but documented for a
  * 1000-executor cluster: AQE handles runtime skew-join splitting and
  * post-shuffle partition coalescing; `shuffle.partitions` tracks core
  * count locally (on a cluster: 2-3x total cores); UTC session time
  * zone so results are reproducible against any SQL oracle.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Session from YAML config (reference config.py:15-24 SparkConfig):
    * master may be any cluster URL — spark://, yarn, k8s:// — with
    * executor sizing and arbitrary properties passed through, so the
    * same job config drives local CI and a real cluster.
    */
  def fromConfig(conf: graft.conf.SparkConf): SparkSession = {
    val base = builder(master = conf.master,
      shufflePartitions = math.max(1, conf.threads))
    val spark = conf.properties
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(conf.logLevel)
    spark
  }
}

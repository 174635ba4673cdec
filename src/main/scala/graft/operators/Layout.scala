package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Z-order (Morton curve) data layout for multi-dimensional data
  * skipping: interleaving the low bits of two keys makes rows that
  * are close in EITHER dimension land in the same parquet files, so
  * min/max row-group stats prune scans for predicates on either
  * column — the standard layout trick for a 100 TB table queried by
  * more than one key. The z-value itself is pure integer bit math
  * (codegen'd, oracle-checkable); the layout step is just
  * repartitionByRange + sortWithinPartitions on it.
  */
object Layout {

  val Bits = 16

  /** Interleave the low `Bits` bits: a in even positions, b in odd. */
  def zValue(a: Column, b: Column): Column =
    (0 until Bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** Rows laid out along the z-curve of (a, b): range-partitioned and
    * sorted by z, ready for a stats-pruned parquet write.
    */
  def zOrdered(df: DataFrame, a: Column, b: Column, partitions: Int): DataFrame =
    df.withColumn("__z", zValue(a, b))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Rank-bucket a column into 2^`bits` equi-depth buckets via an
    * approxQuantile sketch (one scan, driver-side bounds, then a
    * narrow comparison against the broadcast bound array) — the
    * normalization z-order needs so both dims contribute comparable
    * bit widths to the curve; raw values with mismatched ranges put
    * all high curve bits on one dimension.
    */
  def rankBucket(df: DataFrame, c: Column, bits: Int): Column = {
    val n = 1 << bits
    val bounds = df.select(c.cast("double").as("__rb")).stat
      .approxQuantile("__rb", (1 until n).map(_.toDouble / n).toArray, 0.001)
      .distinct.sorted
    aggregate(typedlit(bounds.toSeq), lit(0L),
      (acc, bound) => acc + when(c.cast("double") > bound, 1L).otherwise(0L))
  }

  /** zOrdered with both dims rank-normalized to `bits` each. */
  def zOrderedRanked(df: DataFrame, a: Column, b: Column,
                     partitions: Int, bits: Int = 8): DataFrame =
    zOrdered(df, rankBucket(df, a, bits), rankBucket(df, b, bits), partitions)

  /** events keyed by (user_id, hour-of-epoch), both masked to 16
    * bits — the z-values a layout job would range-partition on.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.select(col("event_id"),
      zValue(
        col("user_id").bitwiseAND(lit(65535L)),
        expr("unix_micros(ts) div 3600000000").bitwiseAND(lit(65535L)))
        .as("z_value"))
  }

  // --- Hilbert curve ------------------------------------------------------

  /** Hilbert curve index of (a, b) over a 2^bits × 2^bits grid — the
    * strictly-better-locality alternative to [[zValue]] (the Morton
    * curve takes long diagonal jumps at quadrant boundaries; the
    * Hilbert curve is continuous — CONSECUTIVE indices are always
    * Manhattan-adjacent cells, spec-pinned on a full grid — so range
    * partitions cut along it produce tighter per-file min/max boxes
    * and better scan pruning; what Delta/Iceberg clustering offers
    * beside Z-ORDER). The classic xy2d rotation loop, unrolled
    * `bits` levels as pure integer CASE/XOR arithmetic — codegen'd,
    * and replicated level-by-level by the oracle.
    */
  def hilbertCols(df: DataFrame, a: Column, b: Column, bits: Int = Bits,
                  out: String = "h_value"): DataFrame = {
    var cur = df.withColumn("__hx", a.cast("long"))
      .withColumn("__hy", b.cast("long"))
      .withColumn("__hd", lit(0L))
    for (lvl <- (0 until bits).reverse) {
      val s = 1L << lvl
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__hd", col("__hd") +
          lit(s) * lit(s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx",
          when(col("__ry") === 0L,
            when(col("__rx") === 1L, lit(s - 1) - col("__hy"))
              .otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__ny",
          when(col("__ry") === 0L,
            when(col("__rx") === 1L, lit(s - 1) - col("__hx"))
              .otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx")).withColumn("__hy", col("__ny"))
    }
    cur.withColumn(out, col("__hd"))
      .drop("__hx", "__hy", "__hd", "__rx", "__ry", "__nx", "__ny")
  }

  /** events keyed the same way as [[qZorder]], Hilbert-indexed. */
  def qHilbert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    hilbertCols(
      ev.select(col("event_id"),
        col("user_id").bitwiseAND(lit(65535L)).as("__a"),
        expr("unix_micros(ts) div 3600000000").bitwiseAND(lit(65535L)).as("__b")),
      col("__a"), col("__b"))
      .select(col("event_id"), col("h_value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder" -> qZorder _,
    "q_hilbert" -> qHilbert _)

  private val zSql = {
    val terms = (0 until Bits).map { i =>
      s"((((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" + ")
    s"($terms)"
  }

  /** Level-by-level CTE chain mirroring [[hilbertCols]]: each level
    * first names rx/ry, then applies the accumulate + rotate.
    */
  private val hilbertSql = {
    val levels = (0 until Bits).reverse.zipWithIndex.map { case (lvl, k) =>
      val s = 1L << lvl
      s"""r$k AS (SELECT event_id, x, y, d,
        |    (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)::BIGINT AS rx,
        |    (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)::BIGINT AS ry
        |  FROM h$k),
        |h${k + 1} AS (SELECT event_id,
        |    (CASE WHEN ry = 0 THEN
        |      (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END)
        |      ELSE x END)::BIGINT AS x,
        |    (CASE WHEN ry = 0 THEN
        |      (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END)
        |      ELSE y END)::BIGINT AS y,
        |    (d + ${s * s} * xor(3 * rx, ry))::BIGINT AS d
        |  FROM r$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
      |  SELECT event_id, user_id & 65535 AS x,
      |    (epoch_us(ts) // 3600000000) & 65535 AS y, 0::BIGINT AS d
      |  FROM events),
      |$levels
      |SELECT event_id, d AS h_value FROM h$Bits""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_zorder" ->
      s"""SELECT event_id, $zSql AS z_value FROM (
        |  SELECT event_id, user_id & 65535 AS a,
        |    (epoch_us(ts) // 3600000000) & 65535 AS b
        |  FROM events)""".stripMargin,
    "q_hilbert" -> hilbertSql)
}

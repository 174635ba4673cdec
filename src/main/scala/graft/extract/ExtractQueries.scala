package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoRegistry.{cut, shared}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** §2a extract-pipeline operators as oracle-checkable queries.
  *
  * Each query exercises one reference behavior (introspect /
  * strategy / julienne / predicates / range bounds / normalize /
  * bq-schema / adaptive sizing / reconcile / incremental) against
  * the test tables, producing deterministic output the DuckDB
  * oracle reproduces.
  */
object ExtractQueries {

  /** Tables introspected with their PK-ish keys. */
  private def statTables(s: SparkSession, dir: String) = Seq(
    ("orders", Tables.orders(s, dir), "o_orderkey"),
    ("lineitem", Tables.lineitem(s, dir), "l_orderkey"),
    ("customer", Tables.customer(s, dir), "c_custkey"))

  val RowsPerPartition = 1000L
  val TargetBytes = 51200L

  def qIntrospect(s: SparkSession, dir: String): DataFrame =
    Introspector.statsAll(statTables(s, dir))

  def qStrategy(s: SparkSession, dir: String): DataFrame =
    PartitionPlanner.strategy(Introspector.statsAll(statTables(s, dir)), RowsPerPartition)

  /** Memoized julienne boundary table per (session, dir) —
    * [[qPredicates]] re-ran the whole boundary computation (the
    * approxQuantile pass + bucketed rank) [[qJulienne]] had already
    * run (r15 optimization; the extract pipeline computes boundaries
    * once and renders predicates from the table). O(partitions) rows,
    * lineage-cut; both oracle outputs are byte-identical.
    */
  def qJulienne(s: SparkSession, dir: String): DataFrame =
    shared("qJulienne", s, dir)(cut(PartitionPlanner.julienneBoundaries(
      Tables.orders(s, dir), "o_orderkey", RowsPerPartition)))

  def qPredicates(s: SparkSession, dir: String): DataFrame =
    PartitionPlanner.juliennePredicates(qJulienne(s, dir), "o_orderkey")

  /** Coverage proof for the sketch julienne (ExtractJob's default
    * planner): every orders row must match EXACTLY ONE generated
    * predicate. Output is the histogram of per-row match counts — a
    * single row (1, N) iff the predicates partition the key domain.
    * The boundary VALUES are sketch-dependent, but the partition
    * property is not, so the oracle states the invariant directly:
    * SELECT 1, count(*) FROM orders. Any gap or overlap in the
    * generated predicates produces extra histogram rows and fails
    * the row/hash compare.
    */
  def qJulienneApprox(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val bounds = PartitionPlanner.julienneBoundariesApprox(orders, "o_orderkey", RowsPerPartition)
    val preds = PartitionPlanner.juliennePredicates(bounds, "o_orderkey")
      .orderBy(col("pred_id")).collect().map(_.getAs[String]("predicate"))
    // Evaluate the ~N/1000 generated predicates per row through ONE
    // codegen'd constant-size loop over the parsed interval bounds
    // (VecExpressions.intervalMatchCount), not a sum of N separate
    // when(expr(p)) terms: the N-term form generates O(N) Java source
    // PER FRESH PLAN and its Janino compile dominated the query
    // (~2.9 s codegen vs 0.07 s execution at sf0.1, and it stops
    // compiling at all once N reaches real-table predicate counts);
    // the aggregate(typedlit(...)) HOF fold is CodegenFallback and
    // paid ~3.4 s of interpreted eval instead (both measured, r15).
    // The intervals are parsed back from the RENDERED predicate
    // strings (parse = inverse of juliennePredicates' renderer, which
    // q_predicates pins against the oracle verbatim), so the audit
    // still covers the generated SQL text; per-pred match semantics
    // incl. NULL keys are identical to when(expr(p),1,0).
    val pairs = parseJuliennePreds(preds.toSeq, "o_orderkey")
    val matches = graft.functions.VecExpressions.intervalMatchCount(
      col("o_orderkey").cast("long"),
      typedlit(pairs.map(_._1)), typedlit(pairs.map(_._2)))
    orders.select(matches.cast("long").as("match_count"))
      .groupBy(col("match_count")).agg(count(lit(1)).as("n_rows"))
  }

  /** Inverse of [[PartitionPlanner.juliennePredicates]]' renderer —
    * (lo, hi] interval bounds parsed back from the rendered SQL text
    * (None lo ⇒ the NULL-admitting first slice, None hi ⇒ the open
    * last slice). ExtractSpec round-trips the renderer through this,
    * so any drift in the rendered format fails in CI instead of as a
    * runtime sys.error in the query path (r16, ADVICE pin).
    */
  private[graft] def parseJuliennePreds(preds: Seq[String], key: String)
      : Seq[(Option[Long], Option[Long])] = {
    val Mid = raw"$key > (-?\d+) AND $key <= (-?\d+)".r
    val First = raw"$key <= (-?\d+) OR $key IS NULL".r
    val Last = raw"$key > (-?\d+)".r
    preds.map {
      case First(hi) => (None, Some(hi.toLong))
      case Mid(lo, hi) => (Some(lo.toLong), Some(hi.toLong))
      case Last(lo) => (Some(lo.toLong), None)
      case other => sys.error(s"unparseable julienne predicate: $other")
    }
  }

  def qRangeBounds(s: SparkSession, dir: String): DataFrame =
    PartitionPlanner.rangeBounds(s,
      Introspector.stats(Tables.orders(s, dir), "orders", "o_orderkey"),
      "o_orderkey", RowsPerPartition)

  /** normalize_str applied as a codegen'd expression over data. */
  def qNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_type").as("raw"), normalize(col("p_type")).as("normalized"))
      .distinct()

  /** BigQuery schema mapping of the five interesting tables. */
  def qBqSchema(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Seq("lineitem", "orders", "events", "documents", "embeddings").flatMap { t =>
      BqSchema.fields(Tables(s, dir, t).schema).map(f => (t, f.name, f.bqType, f.mode))
    }
    rows.toDF("table_name", "column_name", "bq_type", "mode")
  }

  /** Adaptive partition sizing: estimated serialized bytes (string
    * columns + int keys only — double/timestamp rendering is engine-
    * specific) → recommended partition count for the next run
    * (reference pipeline.py:488-512).
    */
  def qAdaptiveSize(s: SparkSession, dir: String): DataFrame = {
    def strLen(c: String) = octet_length(col(c).cast("string"))
    val o = Tables.orders(s, dir).agg(
      sum((strLen("o_orderkey") + strLen("o_custkey") + strLen("o_orderstatus")
        + strLen("o_orderpriority") + lit(60)).cast("long")).as("est_bytes"))
      .select(lit("orders").as("table_name"), col("est_bytes"))
    val l = Tables.lineitem(s, dir).agg(
      sum((strLen("l_orderkey") + strLen("l_partkey") + strLen("l_suppkey")
        + strLen("l_linenumber") + strLen("l_returnflag") + strLen("l_linestatus")
        + lit(80)).cast("long")).as("est_bytes"))
      .select(lit("lineitem").as("table_name"), col("est_bytes"))
    val c = Tables.customer(s, dir).agg(
      sum((strLen("c_custkey") + strLen("c_name") + strLen("c_mktsegment")
        + lit(40)).cast("long")).as("est_bytes"))
      .select(lit("customer").as("table_name"), col("est_bytes"))
    o.unionAll(l).unionAll(c)
      .select(col("table_name"), col("est_bytes"),
        greatest(lit(1.0), round(col("est_bytes") / lit(TargetBytes.toDouble), 0))
          .cast("long").as("recommended_partitions"),
        when(col("est_bytes") < TargetBytes, "departition").otherwise("partitioned")
          .as("action"))
  }

  /** Row-count reconcile: source count vs re-derived loaded count. */
  def qReconcile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).agg(
      count(lit(1)).as("src_rows"), countDistinct(col("o_orderkey")).as("loaded_rows"))
      .select(lit("orders").as("table_name"), col("src_rows"), col("loaded_rows"))
    val l0 = Tables.lineitem(s, dir)
    val perOrder = l0.groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
    val l = l0.agg(count(lit(1)).as("src_rows"))
      .crossJoin(perOrder.agg(sum(col("c")).as("loaded_rows")))
      .select(lit("lineitem").as("table_name"), col("src_rows"), col("loaded_rows"))
    o.unionAll(l)
      .withColumn("consistent", col("src_rows") === col("loaded_rows"))
  }

  /** Incremental selection: partitions of the workload changed since
    * the last successful run watermark (reference main.py:214-250,
    * modeled over the events table).
    */
  def qIncremental(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("ts") > lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
      .groupBy(col("event_type").as("table_name"))
      .agg(count(lit(1)).as("changed_rows"), max(col("ts")).as("last_change"))

  /** Upsert demo: orders with every 10th key repriced +100.00.
    * (An exact 2-decimal addition: round(x*1.1, 2) would land on
    * .005 ties where Spark — shortest-decimal BigDecimal — and
    * DuckDB — raw binary double — round differently.)
    */
  def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      .select(base.columns.map(col).toIndexedSeq: _*)
    Merge.upsert(base, updates, "o_orderkey")
  }

  /** SCD-2 (CDC-style) history: orders as version 1, a +30-day
    * re-extract of every 10th key as version 2; history chained per
    * key with valid_to / is_current.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate").as("valid_from"))
    val v2 = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
        (col("valid_from") + expr("INTERVAL 30 DAYS")).as("valid_from"))
    Merge.scd2(base.unionByName(v2), "o_orderkey", "valid_from")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_upsert" -> qUpsert _,
    "q_scd2" -> qScd2 _,
    "q_introspect" -> qIntrospect _,
    "q_strategy" -> qStrategy _,
    "q_julienne" -> qJulienne _,
    "q_julienne_approx" -> qJulienneApprox _,
    "q_predicates" -> qPredicates _,
    "q_range_bounds" -> qRangeBounds _,
    "q_normalize" -> qNormalize _,
    "q_bq_schema" -> qBqSchema _,
    "q_adaptive_size" -> qAdaptiveSize _,
    "q_reconcile" -> qReconcile _,
    "q_incremental" -> qIncremental _)

  private val statsSql =
    """SELECT 'orders' AS table_name, count(*) AS row_cnt,
      |    min(o_orderkey)::BIGINT AS min_key, max(o_orderkey)::BIGINT AS max_key,
      |    count(DISTINCT o_orderkey) AS distinct_keys FROM orders
      |  UNION ALL
      |  SELECT 'lineitem', count(*), min(l_orderkey)::BIGINT, max(l_orderkey)::BIGINT,
      |    count(DISTINCT l_orderkey) FROM lineitem
      |  UNION ALL
      |  SELECT 'customer', count(*), min(c_custkey)::BIGINT, max(c_custkey)::BIGINT,
      |    count(DISTINCT c_custkey) FROM customer""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_julienne_approx" ->
      "SELECT 1::BIGINT AS match_count, count(*)::BIGINT AS n_rows FROM orders",
    "q_scd2" ->
      """WITH versions AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate AS valid_from FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 100.0::DOUBLE,
        |    o_orderdate + INTERVAL 30 DAY
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, o_totalprice, valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  (lead(valid_from) OVER w IS NULL) AS is_current
        |FROM versions
        |WINDOW w AS (PARTITION BY o_orderkey ORDER BY valid_from)""".stripMargin,
    "q_upsert" ->
      """WITH updates AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 100.0::DOUBLE AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY __prio)
        |    AS __rn
        |  FROM (SELECT *, 1 AS __prio FROM orders
        |        UNION ALL SELECT *, 0 AS __prio FROM updates))
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM merged WHERE __rn = 1""".stripMargin,
    "q_introspect" ->
      s"""SELECT table_name, row_cnt, min_key, max_key, distinct_keys,
        |  (row_cnt = max_key OR row_cnt = max_key - 1
        |   OR abs(row_cnt - (max_key - min_key)) <= 1) AS dense
        |FROM ($statsSql)""".stripMargin,
    "q_strategy" ->
      s"""WITH stats AS (
        |  SELECT *, (row_cnt = max_key OR row_cnt = max_key - 1
        |    OR abs(row_cnt - (max_key - min_key)) <= 1) AS dense,
        |    round(row_cnt / 1000.0)::BIGINT AS raw
        |  FROM ($statsSql))
        |SELECT table_name, row_cnt, greatest(1, raw) AS partitions,
        |  CASE WHEN raw <= 1 THEN 'single' WHEN dense THEN 'range'
        |       ELSE 'julienne' END AS strategy
        |FROM stats""".stripMargin,
    "q_julienne" ->
      """WITH c AS (SELECT count(*) AS c,
        |    greatest(1, round(count(*) / 1000.0)::BIGINT) AS p FROM orders),
        |cw AS (SELECT c, p, ceil(c / p::DOUBLE)::BIGINT AS w FROM c),
        |rn AS (SELECT o_orderkey::BIGINT AS k,
        |    row_number() OVER (ORDER BY o_orderkey)::BIGINT AS rn FROM orders)
        |SELECT rn // w AS slice_id, k AS boundary_key
        |FROM rn CROSS JOIN cw WHERE rn % w = 0""".stripMargin,
    "q_predicates" ->
      """WITH c AS (SELECT count(*) AS c,
        |    greatest(1, round(count(*) / 1000.0)::BIGINT) AS p FROM orders),
        |cw AS (SELECT c, p, ceil(c / p::DOUBLE)::BIGINT AS w FROM c),
        |rn AS (SELECT o_orderkey::BIGINT AS k,
        |    row_number() OVER (ORDER BY o_orderkey)::BIGINT AS rn FROM orders),
        |bnd AS (SELECT rn // w AS slice_id, k AS boundary_key
        |  FROM rn CROSS JOIN cw WHERE rn % w = 0),
        |lagged AS (SELECT slice_id, boundary_key,
        |    lag(boundary_key) OVER (ORDER BY slice_id) AS prev FROM bnd)
        |SELECT slice_id - 1 AS pred_id,
        |  CASE WHEN prev IS NULL
        |    THEN concat('o_orderkey <= ', boundary_key, ' OR o_orderkey IS NULL')
        |    ELSE concat('o_orderkey > ', prev, ' AND o_orderkey <= ', boundary_key)
        |  END AS predicate
        |FROM lagged
        |UNION ALL
        |SELECT max(slice_id) AS pred_id,
        |  concat('o_orderkey > ', max(boundary_key)) AS predicate FROM bnd""".stripMargin,
    "q_range_bounds" ->
      """WITH s AS (SELECT count(*) AS row_cnt, min(o_orderkey)::BIGINT AS min_key,
        |    max(o_orderkey)::BIGINT AS max_key,
        |    greatest(1, round(count(*) / 1000.0)::BIGINT) AS p FROM orders),
        |b AS (SELECT min_key, p, (max_key // p - min_key // p) AS stride FROM s)
        |SELECT i AS partition_id,
        |  CASE WHEN p = 1 THEN '1=1'
        |    WHEN i = 0 THEN concat('o_orderkey < ', min_key + stride,
        |                           ' OR o_orderkey IS NULL')
        |    WHEN i = p - 1 THEN concat('o_orderkey >= ', min_key + i * stride)
        |    ELSE concat('o_orderkey >= ', min_key + i * stride,
        |                ' AND o_orderkey < ', min_key + (i + 1) * stride)
        |  END AS where_clause
        |FROM b CROSS JOIN (SELECT unnest(generate_series(0, (SELECT p - 1 FROM s))) AS i)""".stripMargin,
    "q_normalize" ->
      """SELECT DISTINCT p_type AS raw,
        |  lower(regexp_replace(p_type, '[^a-zA-Z0-9]', '_', 'g')) AS normalized
        |FROM part""".stripMargin,
    "q_bq_schema" -> BqSchemaOracle.sql,
    "q_adaptive_size" ->
      """WITH sizes AS (
        |  SELECT 'orders' AS table_name,
        |    sum(strlen(o_orderkey::VARCHAR) + strlen(o_custkey::VARCHAR)
        |      + strlen(o_orderstatus) + strlen(o_orderpriority) + 60)::BIGINT
        |      AS est_bytes FROM orders
        |  UNION ALL
        |  SELECT 'lineitem',
        |    sum(strlen(l_orderkey::VARCHAR) + strlen(l_partkey::VARCHAR)
        |      + strlen(l_suppkey::VARCHAR) + strlen(l_linenumber::VARCHAR)
        |      + strlen(l_returnflag) + strlen(l_linestatus) + 80)::BIGINT
        |      FROM lineitem
        |  UNION ALL
        |  SELECT 'customer',
        |    sum(strlen(c_custkey::VARCHAR) + strlen(c_name)
        |      + strlen(c_mktsegment) + 40)::BIGINT FROM customer)
        |SELECT table_name, est_bytes,
        |  greatest(1.0, round(est_bytes / 51200.0))::BIGINT AS recommended_partitions,
        |  CASE WHEN est_bytes < 51200 THEN 'departition' ELSE 'partitioned' END AS action
        |FROM sizes""".stripMargin,
    "q_reconcile" ->
      """WITH src AS (
        |  SELECT 'orders' AS table_name, count(*) AS src_rows,
        |    count(DISTINCT o_orderkey) AS loaded_rows FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
        |    (SELECT sum(c)::BIGINT FROM
        |      (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)))
        |SELECT table_name, src_rows, loaded_rows,
        |  src_rows = loaded_rows AS consistent FROM src""".stripMargin,
    "q_incremental" ->
      """SELECT event_type AS table_name, count(*) AS changed_rows,
        |  max(ts) AS last_change
        |FROM events WHERE ts > TIMESTAMP '2024-01-16'
        |GROUP BY event_type""".stripMargin)
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract._
import graft.sources.Tables

class ExtractJobSpec extends AnyFunSuite {
  import SparkSuite._

  private def specs = Seq(
    ExtractJob.TableSpec("nation", "n_nationkey"),
    ExtractJob.TableSpec("orders", "o_orderkey"),
    ExtractJob.TableSpec("lineitem", "l_orderkey"))

  test("full ELT flow: introspect, extract json.gz, reconcile, persist state") {
    val out = java.nio.file.Files.createTempDirectory("graft-elt").toString
    val store = new StateStore(s"$out/state.json")
    val cfg = ExtractJob.Config(rowsPerPartition = 500,
      targetPartitionBytes = 16 * 1024, introspectionExpireS = 3600)

    var now = 1000L
    val results = ExtractJob.run(spark, sf, out, specs, store, cfg, () => now)
    assert(results.forall(_.result.isRight), results.filter(_.result.isLeft).toString)

    val states = results.map(_.result.toOption.get)
    states.foreach { s =>
      assert(s.consistent, s"$s not consistent")
      assert(s.extractBytes.exists(_ > 0))
    }
    val orders = store.get("orders")
    assert(orders.rows.contains(Tables.orders(spark, sf).count()))
    // orders is dense (0..n-1 keys) => range partitioning, no predicates
    assert(orders.predicates.isEmpty)
    // lineitem keys repeat => julienne predicates were planned
    val li = store.get("lineitem")
    assert(li.predicates.nonEmpty)
    assert(li.predicates.head.contains("IS NULL"), li.predicates.head)
    assert(li.predicates.last.startsWith("l_orderkey > "))

    // schema sidecar written next to parts
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/orders/schema.json")))

    // second run inside expiry window: reuses introspection (fast path)
    now = 2000L
    val again = ExtractJob.run(spark, sf, out, specs, store, cfg, () => now)
    assert(again.forall(_.result.isRight))

    // after expiry: re-introspects (introspectEpochS advances)
    now = 10000L
    ExtractJob.run(spark, sf, out, Seq(specs.head), store, cfg, () => now)
    assert(store.get("nation").introspectEpochS.exists(_ >= 10000L))
  }

  test("load uses the extract's normalized column names: upper-case columns keep their values") {
    import org.apache.spark.sql.functions._
    val src = java.nio.file.Files.createTempDirectory("graft-elt-upper")
    val nation = Tables.nation(spark, sf)
    nation.select(col("n_nationkey").as("N_NATIONKEY"), col("n_name").as("N_NAME"))
      .write.parquet(src.resolve("upper.parquet").toString)
    val out = java.nio.file.Files.createTempDirectory("graft-elt-upper-out").toString
    val wh = new Warehouse(java.nio.file.Files.createTempDirectory("graft-elt-upper-wh").toString, spark)
    val ref = Warehouse.DatasetRef.fromString("proj.upper")
    wh.createDataset(ref, Warehouse.DatasetMeta())
    val results = ExtractJob.run(spark, src.toString, out,
      Seq(ExtractJob.TableSpec("upper", "N_NATIONKEY")), new StateStore(s"$out/state.json"),
      ExtractJob.Config(), () => 1000L, Some(ExtractJob.LoadTarget(wh, ref)))
    assert(results.forall(_.result.isRight), results.toString)
    val loaded = wh.readTable(ref, "upper")
    assert(loaded.filter(col("n_name").isNull || col("n_nationkey").isNull).count() == 0,
      "loaded columns are null")
    assert(loaded.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(loaded.collect().map(r => (r.get(0), r.getString(1))).toSet ==
      nation.select("n_nationkey", "n_name").collect().map(r => (r.get(0), r.getString(1))).toSet)
  }

  test("ELT round-trips in csv and parquet formats too") {
    import org.apache.spark.sql.functions._
    for (fmt <- Seq("csv", "parquet")) {
      val out = java.nio.file.Files.createTempDirectory(s"graft-elt-$fmt").toString
      val store = new StateStore(s"$out/state.json")
      val cfg = ExtractJob.Config(rowsPerPartition = 500, format = fmt)
      val results = ExtractJob.run(spark, sf, out,
        Seq(ExtractJob.TableSpec("orders", "o_orderkey")), store, cfg, () => 1000L)
      assert(results.forall(_.result.isRight), s"$fmt: $results")
      val st = store.get("orders")
      assert(st.consistent, s"$fmt: $st")
      assert(st.extractUri.get.endsWith(
        if (fmt == "parquet") "part-*.parquet" else "part-*.csv.gz"))
      // content survives the format round-trip, not just counts
      val back = Sinks.read(spark, st.extractUri.get, fmt,
        Tables.orders(spark, sf).schema)
      val sums = back.agg(
        sum(col("o_orderkey")).as("k"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 4).as("p")).collect()(0)
      val want = Tables.orders(spark, sf).agg(
        sum(col("o_orderkey")).as("k"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 4).as("p")).collect()(0)
      assert(sums == want, s"$fmt content drift: $sums vs $want")
    }
  }

  test("approx julienne boundaries land near equi-depth positions") {
    val df = Tables.orders(spark, sf)
    val rows = df.count()
    val rpp = 300L
    val p = math.max(1L, math.round(rows.toDouble / rpp))
    val bounds = PartitionPlanner.julienneBoundariesApprox(df, "o_orderkey", rpp)
      .collect().map(_.getAs[Long]("boundary_key")).sorted
    assert(bounds.length == p - 1)
    // keys are 0..rows-1, so ideal boundary i sits at i*rows/p
    bounds.zipWithIndex.foreach { case (b, i) =>
      val ideal = (i + 1).toDouble * rows / p
      assert(math.abs(b - ideal) <= rows * 0.05,
        s"boundary $b too far from ideal $ideal")
    }
  }

  test("sketch julienne predicates partition the key domain exactly") {
    // q_julienne_approx returns the histogram of per-row predicate
    // match counts: a single (1, N) row == every row covered once.
    val rows = Tables.orders(spark, sf).count()
    val hist = ExtractQueries.qJulienneApprox(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(1L -> rows), s"coverage histogram $hist")
  }

  test("exact julienne boundaries match a reference global sort") {
    import org.apache.spark.sql.functions._
    // lineitem's key repeats (julienne's actual use case); the
    // distributed rank must reproduce the naive single-sort result.
    val df = Tables.lineitem(spark, sf)
    val rpp = 700L
    val got = PartitionPlanner.julienneBoundaries(df, "l_orderkey", rpp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val keys = df.select(col("l_orderkey").cast("long")).collect()
      .map(_.getLong(0)).sorted
    val p = math.max(1L, math.round(keys.length.toDouble / rpp))
    val w = math.ceil(keys.length.toDouble / p).toLong
    val want = (1 to (keys.length / w.toInt))
      .map(i => (i.toLong, keys(i * w.toInt - 1)))
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
  }

  test("salted join returns identical results to the plain join") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(o, Seq("l_orderkey"), "inner")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = operators.Skew.saltedJoin(li, o, "l_orderkey", salts = 7)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("SQL functions register and evaluate") {
    core.GraftExtensions.registerFunctions(spark)
    val dot = spark.sql(
      "SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(dot == 32L)
    val sh = spark.sql(
      "SELECT shingle_hash48(array('a', 'b', 'c', 'd'), 3) AS h")
      .collect()(0).getSeq[Long](0)
    assert(sh.length == 2)
    // equals the md5-prefix of 'abc' and 'bcd'
    import graft.functions.GraftFunctions.tokenHashLong
    assert(sh == Seq(tokenHashLong("abc"), tokenHashLong("bcd")))
  }

  test("julienne predicate renderer round-trips through the approx-audit " +
    "parser") {
    // qJulienneApprox parses the RENDERED predicate strings back into
    // (lo, hi] bounds (ExtractQueries.parseJuliennePreds); this pins
    // renderer ↔ parser so any drift in juliennePredicates' text
    // format (spacing, >=, key quoting) fails here in CI instead of
    // as a runtime sys.error in the query path (r16 ADVICE pin).
    // Negative boundaries included — keys are arbitrary longs.
    import spark.implicits._
    val bounds = Seq((1L, -50L), (2L, 7L), (3L, 999L))
      .toDF("slice_id", "boundary_key")
    val preds = PartitionPlanner.juliennePredicates(bounds, "k")
      .orderBy(org.apache.spark.sql.functions.col("pred_id"))
      .collect().map(_.getAs[String]("predicate")).toSeq
    val parsed = ExtractQueries.parseJuliennePreds(preds, "k")
    assert(parsed == Seq(
      (None, Some(-50L)), (Some(-50L), Some(7L)), (Some(7L), Some(999L)),
      (Some(999L), None)), s"parsed=$parsed preds=$preds")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Sketches}
import graft.functions.GraftFunctions.tokenHashLong

/** Structural laws for the mergeable-sketch tier (value-level parity
  * is the DuckDB oracle gate; these pin what the oracles can't —
  * merge laws, deterministic error bounds, estimator accuracy).
  */
class SketchesSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  test("pmi phrases: scores match a driver-side word2phrase replay") {
    val out = Sketches.qPmiPhrases(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // independent replay: plain-Scala token stream, exact integer math
    val texts = sources.Tables.documents(spark, sf)
      .select(col("text")).as[String].collect()
    val streams = texts.map(_.trim.toLowerCase.split("\\s+").toSeq)
    val uni = streams.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = streams.map(_.size.toLong).sum
    val pairCnt = streams.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = pairCnt.collect {
      case ((a, b), c) if c > Sketches.PmiDiscount &&
        (BigInt(c - Sketches.PmiDiscount) * 1000000 * n) / (BigInt(uni(a)) * uni(b)) >=
          Sketches.PmiMinScorePpm =>
        (a, b) -> (c, ((BigInt(c - Sketches.PmiDiscount) * 1000000 * n) /
          (BigInt(uni(a)) * uni(b))).toLong)
    }
    assert(out == expected, s"out=$out expected=$expected")
    assert(out.nonEmpty, "fixture must surface at least one collocation")
  }

  test("phrase apply: greedy left-to-right join semantics on crafted overlaps") {
    val docs = Seq(
      (1L, "a b c d"),   // (a,b) and (b,c) both flagged: greedy takes (a,b)
      (2L, "x a b a b"), // two disjoint (a,b) occurrences both join
      (3L, "b c b c c"), // (b,c) twice, trailing c alone
      (4L, "a b c b c"), // run {0,1} joins at 0; run {3} joins
      (5L, ""))          // empty text survives as an empty rewrite
      .toDF("doc_id", "text")
    val phrases = Seq(("a", "b"), ("b", "c")).toDF("term_a", "term_b")
    val out = Sketches.phraseApply(docs, phrases).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (1L, "a_b c d"))
    assert(out(2L) == (2L, "x a_b a_b"))
    assert(out(3L) == (2L, "b_c b_c c"))
    assert(out(4L) == (2L, "a_b c b_c"))
    assert(out(5L) == (0L, ""))
  }

  test("count-min: est >= exact everywhere, grid rows partition the stream") {
    val out = Sketches.qCountMin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // CM structural guarantee: every cell a term hashes to holds AT
    // LEAST its count, so the min over rows can never undercount
    out.foreach { case (t, exact, est, over) =>
      assert(est >= exact, s"count-min undercounted $t: $est < $exact")
      assert(over == est - exact)
    }
    val n = out.map(_._2).sum
    // each grid row is a partition of the stream: its cells sum to N
    val grid = Sketches.countMinSketch(
      sources.Tables.documents(spark, sf)
        .select(explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    (0 until Sketches.CmDepth).foreach { i =>
      assert(grid.filter(_._1 == i.toLong).map(_._3).sum == n,
        s"grid row $i does not partition the stream")
    }
  }

  test("count-min: grids merge by elementwise addition (split corpus)") {
    val docs = sources.Tables.documents(spark, sf)
    val terms = (d: org.apache.spark.sql.DataFrame) =>
      d.select(explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w"))
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val whole = Sketches.countMinSketch(terms(docs)).collect()
      .map(r => key(r) -> r.getLong(2)).toMap
    val left = Sketches.countMinSketch(terms(docs.filter(col("doc_id") % 2 === 0)))
      .collect().map(r => key(r) -> r.getLong(2)).toMap
    val right = Sketches.countMinSketch(terms(docs.filter(col("doc_id") % 2 === 1)))
      .collect().map(r => key(r) -> r.getLong(2)).toMap
    val merged = (left.keySet ++ right.keySet).map(k =>
      k -> (left.getOrElse(k, 0L) + right.getOrElse(k, 0L))).toMap
    assert(merged == whole, "sum-merge of split grids must equal the whole grid")
  }

  test("bloom audit: zero false negatives, measurable FPR, bits merge by union") {
    val out = Sketches.qBloomAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    // structural law: a member's bits are all set by construction
    out.foreach { case (t, member, hit, fp) =>
      if (member) assert(hit, s"false negative on member '$t'")
      assert(fp == (hit && !member))
    }
    // the audit must be non-trivial in BOTH directions on the fixture:
    // real members, real non-members, and a measurable FP count (the
    // geometry is sized for load ~0.6 ⇒ expected FPR ~11%)
    assert(out.exists(_._2), "fixture benchmark set is empty")
    assert(out.exists(!_._2), "fixture has no non-members to audit")
    assert(out.count(_._4) > 0, "audit found no false positives to measure")
    // merge law: bits of a union == distinct union of the halves' bits
    val grams = sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(operators.CorpusOps.bigrams(
          graft.functions.GraftFunctions.tokens(col("text")))).as("w"))
    val bitsOf = (d: org.apache.spark.sql.DataFrame) =>
      Sketches.bloomBits(d.select(col("w")).distinct())
        .collect().map(_.getLong(0)).toSet
    val whole = bitsOf(grams)
    val leftB = bitsOf(grams.filter(col("doc_id") % 2 === 0))
    val rightB = bitsOf(grams.filter(col("doc_id") % 2 === 1))
    assert((leftB ++ rightB) == whole, "bloom OR-merge must be distinct union")
  }

  test("length histogram: bins partition the corpus, bounds law, ALL = sum") {
    val rows = Sketches.qLenHist(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (all, per) = rows.partition(_._1 == "ALL")
    val nDocs = sources.Tables.documents(spark, sf).count()
    assert(per.map(_._5).sum == nDocs, "per-source bins must partition the corpus")
    assert(all.map(_._5).sum == nDocs)
    rows.foreach { case (_, bin, lo, hi, n) =>
      assert(n > 0)
      if (bin == 0) assert(lo == 0 && hi == 0)
      else {
        assert(lo == (1L << (bin - 1)) && hi == (1L << bin) - 1,
          s"bin $bin bounds $lo..$hi")
      }
    }
    // ALL is the exact sum of the per-source rows, bin by bin
    val sums = per.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    assert(all.map(r => r._2 -> r._5).toMap == sums)
  }

  test("F2 sketch: equals a driver replay, merges by addition, tracks true skew") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def toks(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def sign(w: String, i: Int): Long =
      if (tokenHashLong(s"$w#f2$i") % 2 == 0) 1L else -1L
    // per-source replay: sketch sums, exact F2, estimate
    val bySrc = docs.groupBy(_._1).map { case (src, ds) =>
      val ws = ds.flatMap(d => toks(d._2))
      val sums = (0 until Sketches.F2Sketches)
        .map(i => ws.map(sign(_, i)).sum)
      val exact = ws.groupBy(identity)
        .map { case (_, o) => o.size.toLong * o.size }.sum
      val est = sums.map(s => s * s).sum / Sketches.F2Sketches
      src -> ((ws.size.toLong, exact, est, sums))
    }
    // exact_f2/est_f2 compute in decimal(38,0) (int64-overflow
    // headroom) and EMIT as canonical decimal strings (driver-hash
    // canonicalization — r16)
    val got = Sketches.qF2Sketch(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), BigInt(r.getString(2)).toLong,
          BigInt(r.getString(3)).toLong))).toMap
    assert(got == bySrc.map { case (s, (n, ex, e, _)) => s -> ((n, ex, e)) },
      "F2 replay mismatch")
    // merge law: the corpus-wide sketch sums are EXACTLY the per-
    // source sums added (linearity — the property that makes the
    // sketch a sketch), via the operator's own sum frame
    val whole = graft.operators.Sketches.f2SketchSums(
        Tables.documents(spark, sf).select(lit("ALL").as("gk"),
          explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w")))
      .collect()(0)
    (0 until Sketches.F2Sketches).foreach { i =>
      val merged = bySrc.values.map(_._4(i)).sum
      assert(whole.getLong(whole.fieldIndex(s"s$i")) == merged,
        s"sketch $i does not merge by addition")
    }
    // estimator quality on the fixture (measured: ratios 0.96-1.32,
    // median 1.08 at sf0.001 — the derandomized signs estimate well)
    got.foreach { case (src, (_, exact, est)) =>
      assert(est >= exact / 2 && est <= exact * 2,
        s"$src estimate $est outside [0.5x, 2x] of exact $exact")
    }
  }

  test("F2 sketch: decimal(38,0) headroom survives past 2^63 and emits " +
    "the exact canonical string") {
    // The exact expressions qF2Sketch applies, on forged sketch sums
    // big enough that s_i² ≈ 2^66 — int64 silently wraps here; the
    // decimal path must produce the exact integer, and the string
    // canonicalization must be its plain decimal form (no exponent,
    // no trailing zeros — what DuckDB's ::VARCHAR prints too).
    import spark.implicits._
    val s = (0 until Sketches.F2Sketches).map(i => 10000000000L + i)
    val df = Seq(1).toDF("one").select(
      s.zipWithIndex.map { case (v, i) => lit(v).as(s"s$i") }: _*)
    val s2sum = "(" + (0 until Sketches.F2Sketches)
      .map(i => s"CAST(s$i AS DECIMAL(38,0)) * s$i").mkString(" + ") + ")"
    val est = df.withColumn("s2", expr(s2sum))
      .withColumn("est_f2", expr(
        s"CAST((s2 - s2 % ${Sketches.F2Sketches}) / ${Sketches.F2Sketches}" +
          " AS DECIMAL(38,0))"))
      .select(col("est_f2").cast("string")).collect()(0).getString(0)
    val wantS2 = s.map(v => BigInt(v) * v).sum
    val want = wantS2 / Sketches.F2Sketches
    assert(want > BigInt(Long.MaxValue), "fixture must exceed int64")
    assert(est == want.toString, s"headroom string $est != $want")
  }

  test("hll: ALL rows are the elementwise max of per-source registers") {
    val rows = Sketches.qHllSketch(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (all, per) = rows.partition(_._1 == "ALL")
    assert(all.nonEmpty && per.nonEmpty)
    val expected = per.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    assert(all.map(r => r._2 -> r._3).toMap == expected)
    // and the merged registers dominate every per-source register
    per.foreach { case (_, b, r) => assert(expected(b) >= r) }
  }

  test("hll: estimator lands near exact distinct counts, merge is union") {
    // synthetic stream large enough to exercise the raw-estimate path:
    // two overlapping sources, 6000 / 4000 distinct terms, 50% overlap
    val terms = spark.range(0, 8000)
      .select(when(col("id") < 6000, "a").otherwise("b").as("source"),
        concat(lit("t"), (col("id") % 7000)).as("w"))
      .unionAll(spark.range(0, 3000).select(lit("b").as("source"),
        concat(lit("t"), col("id") + 4000).as("w")))
    val reg = Sketches.hllRegisters(terms).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySource = reg.groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val exact = Map("a" -> 6000.0, "b" -> 4000.0)
    exact.foreach { case (s, n) =>
      val est = Sketches.hllEstimate(bySource(s))
      assert(math.abs(est - n) / n < 0.35,
        s"source $s estimate $est too far from $n")
    }
    // union law: registers of the union == elementwise max of the
    // per-source registers (exact, not approximate)
    val unionReg = Sketches.hllRegisters(
        terms.select(lit("u").as("source"), col("w")))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val maxMerge = (bySource("a").keySet ++ bySource("b").keySet).map(b =>
      b -> math.max(bySource("a").getOrElse(b, 0L),
        bySource("b").getOrElse(b, 0L))).toMap
    assert(unionReg == maxMerge, "HLL merge must be elementwise max")
    // merged estimate tracks the true union cardinality (7000+... =
    // t0..t6999 from a/b mod-wrap plus t4000..t6999 re-adds = 7000)
    val est = Sketches.hllEstimate(maxMerge)
    assert(math.abs(est - 7000.0) / 7000.0 < 0.35, s"union estimate $est")
  }

  test("fast-path twins (xxhash64) obey the same laws as the oracle rungs") {
    val docs = sources.Tables.documents(spark, sf)
    val terms = docs.select(
      explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w"))
    val n = terms.count()
    // count-min fast: every grid row still partitions the stream,
    // and split grids still merge by elementwise sum
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val grid = Sketches.countMinSketchFast(terms).collect()
      .map(r => key(r) -> r.getLong(2)).toMap
    (0 until Sketches.CmDepth).foreach { i =>
      assert(grid.collect { case ((r, _), c) if r == i.toLong => c }.sum == n)
    }
    val half = (m: Int) => Sketches.countMinSketchFast(
        docs.filter(col("doc_id") % 2 === m).select(
          explode(graft.functions.GraftFunctions.tokens(col("text"))).as("w")))
      .collect().map(r => key(r) -> r.getLong(2)).toMap
    val (l, r2) = (half(0), half(1))
    assert((l.keySet ++ r2.keySet).map(k =>
      k -> (l.getOrElse(k, 0L) + r2.getOrElse(k, 0L))).toMap == grid)
    // hll fast: estimator lands near the synthetic stream's exact
    // cardinality, registers bounded by the fast rank cap
    val syn = spark.range(0, 7000)
      .select(lit("s").as("source"), concat(lit("t"), col("id")).as("w"))
    val reg = Sketches.hllRegistersFast(syn).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(reg.values.forall(v => v >= 1 && v <= Sketches.HllZeroRankFast))
    val est = Sketches.hllEstimate(reg)
    assert(math.abs(est - 7000.0) / 7000.0 < 0.35, s"fast estimate $est")
    // bloom fast: a member's probes are all set (no false negatives),
    // and split bit sets merge by union
    val members = terms.distinct()
    val bits = Sketches.bloomBitsFast(members).collect().map(_.getLong(0)).toSet
    assert(bits.nonEmpty && bits.size <= Sketches.BloomBits)
    val probed = members.select(col("w"),
        explode(array((0 until Sketches.BloomK).map(i =>
          pmod(xxhash64(col("w"), lit(i)), lit(Sketches.BloomBits))): _*)).as("pos"))
      .collect().map(_.getLong(1))
    assert(probed.forall(bits.contains), "fast bloom false negative")
  }

  test("hll rank law: rank r occurs iff hash remainder has r-1 trailing zeros") {
    // driver-side replay of the rank arithmetic on real token hashes
    val words = Seq("alpha", "beta", "gamma", "delta", "row", "scan")
    words.foreach { w =>
      val h = tokenHashLong(w)
      val rest = h >> 6
      val expected =
        if (rest == 0L) Sketches.HllZeroRank
        else java.lang.Long.numberOfTrailingZeros(rest) + 1L
      val got = Sketches.hllRegisters(
          Seq(("s", w)).toDF("source", "w"))
        .collect().head.getLong(2)
      assert(got == expected, s"rank mismatch for '$w': $got != $expected")
    }
  }

  test("quantile sketch: exact replay, bounded rank error, bottom-k merge law") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val vals = docs.map { case (id, t) =>
      (id, t.trim.toLowerCase.split("\\s+").length.toLong,
        tokenHashLong(id.toString))
    }
    val n = vals.length.toLong
    val sampR = vals.sortBy(v => (v._3, v._1)).take(Sketches.QsK)
    val sCount = sampR.length.toLong
    val sampSorted = sampR.sortBy(v => (v._2, v._1)).map(_._2)
    val exactSorted = vals.sortBy(v => (v._2, v._1)).map(_._2)
    val got = Sketches.qQuantileSketch(spark, sf).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(6), r.getLong(7))).toMap
    assert(got.keySet == Sketches.QsPhis.toSet)
    Sketches.QsPhis.foreach { phi =>
      val (estV, exactV, errV, nC, nS) = got(phi)
      val expEst = sampSorted(((phi * sCount + 99) / 100).toInt - 1)
      val expExact = exactSorted(((phi * n + 99) / 100).toInt - 1)
      assert(estV == expEst, s"estimate mismatch at phi=$phi")
      assert(exactV == expExact, s"exact quantile mismatch at phi=$phi")
      assert(errV == estV - exactV && nC == n && nS == sCount)
      // deterministic rank-error bound: the estimate's true CDF
      // position stays inside the O(1/sqrt(k)) class of phi
      val rankOfEst = exactSorted.count(_ <= estV).toDouble / n
      assert(math.abs(rankOfEst - phi / 100.0) <= 0.15,
        s"phi=$phi est=$estV lands at CDF $rankOfEst")
    }
    // merge law: bottom-k commutes with union — retrimming the union
    // of per-shard bottom-k samples IS the corpus bottom-k sample
    val shardA = vals.filter(_._1 % 2 == 0).sortBy(v => (v._3, v._1)).take(Sketches.QsK)
    val shardB = vals.filter(_._1 % 2 == 1).sortBy(v => (v._3, v._1)).take(Sketches.QsK)
    val merged = (shardA ++ shardB).sortBy(v => (v._3, v._1)).take(Sketches.QsK)
    assert(merged.map(_._1).toSeq == sampR.map(_._1).toSeq,
      "union-then-retrim must equal the whole-corpus bottom-k")
  }

  test("count-min join estimate brackets the exact self-join size") {
    val keys = graft.sources.Tables.events(spark, sf)
      .select(col("user_id").cast("string").as("w"))
    val est = Sketches.cmJoinEstimate(keys, keys)
      .head.getAs[Long]("est_pairs")
    val exact = Relational.qJoinEstimate(spark, sf)
      .head.getAs[Long]("est_pairs")
    assert(est >= exact, "CM inner product never underestimates")
    val n = keys.count()
    // CM05 §4.2: overshoot <= (e/width)·|A|·|B| w.p. 1 - e^-depth;
    // deterministic fixture, so assert the bound outright
    assert(est - exact <= math.ceil(math.E / Sketches.CmWidth * n * n).toLong,
      s"overshoot ${est - exact} beyond the CM05 bound")
    // disjoint key sets: with CmWidth buckets and a handful of keys
    // per side, some depth row has zero overlapping non-empty buckets
    // — its inner product is 0 and must drive the min to 0 (the r10
    // inner-join shape dropped the row and overestimated; fully
    // disjoint sketches even returned NULL)
    import spark.implicits._
    val left = Seq("a1", "a2", "a3").toDF("w")
    val right = Seq("zz7", "zz8", "zz9").toDF("w")
    val dis = Sketches.cmJoinEstimate(left, right).head
    assert(!dis.isNullAt(0), "disjoint estimate must be 0, not NULL")
    assert(dis.getAs[Long]("est_pairs") == 0L,
      s"disjoint keys estimated ${dis.getAs[Long]("est_pairs")} pairs")
  }

  test("kmv synopsis: bounded aggregator equals exact bottom-k distinct") {
    import graft.functions.GraftFunctions.{shingleHashes, tokens}
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = Sketches.kmvSourceSketch(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    // exact replay: distinct shingle hashes per source, sorted, take k
    val exact = docs.select(col("source"),
        explode(shingleHashes(tokens(col("text")), 3)).as("h"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(Sketches.KmvK).toSeq).toMap
    assert(got == exact, "aggregator must produce the exact bottom-k set")
    assert(got.values.exists(_.size == Sketches.KmvK),
      "fixture must exercise the trimmed (k-full) path")
  }

  test("kmv merge law: shard-synopsis union retrims to the whole, idempotent") {
    val agg = new graft.functions.BottomKSet(8)
    val vals = (1 to 40).map(i => tokenHashLong(s"kmv_$i"))
    def fold(vs: Seq[Long]) = vs.foldLeft(agg.zero)(agg.reduce)
    val whole = fold(vals)
    val (a, b) = vals.splitAt(17)
    assert(agg.merge(fold(a), fold(b)).toSeq == whole.toSeq,
      "merge of shard synopses must equal the whole-stream synopsis")
    assert(agg.merge(whole, whole).toSeq == whole.toSeq, "self-merge is identity")
    // replay-idempotence: re-reducing every seen value changes nothing
    assert(vals.foldLeft(whole)(agg.reduce).toSeq == whole.toSeq)
    assert(whole.toSeq == vals.distinct.sorted.take(8),
      "synopsis IS the bottom-k distinct set")
  }

  test("capped set: every distinct value below the cap, exactly cap values past it") {
    // 600 distinct keys, each twice, over 8 partitions: partial
    // buffers fill up before they merge
    val keys = (0 until 1200).map(i => s"k${i % 600}")
    val df = keys.toDF("k").repartition(8)
    def run(d: org.apache.spark.sql.DataFrame, cap: Int): Seq[String] = {
      val capped = udaf(graft.functions.CappedSet[String](cap))
      d.agg(capped(col("k"))).head().getSeq[String](0)
    }
    assert(run(df, 601).sorted == keys.distinct.sorted)
    Seq(1, 7, 599, 600).foreach { cap =>
      val got = run(df, cap)
      assert(got.size == cap && got.distinct.size == cap && got.toSet.subsetOf(keys.toSet),
        s"cap $cap: ${got.size} values")
    }
    assert(run(df.limit(0), 5).isEmpty)
  }

  test("kmv set ops: trimmed estimates near exact, untrimmed pairs exact") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{shingleHashes, tokens}
    val docs = graft.sources.Tables.documents(spark, sf)
    // exact per-source distinct shingle sets for the whole fixture
    val sets = docs.select(col("source"),
        explode(shingleHashes(tokens(col("text")), 3)).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = Sketches.kmvSetOps(docs).collect()
    assert(rows.length > 1)
    rows.foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      val (ea, eu) = (sets(sa).size.toLong, (sets(sa) | sets(sb)).size.toLong)
      val ei = (sets(sa) & sets(sb)).size.toLong
      // k=256 ⇒ σ ≈ 1/√(k−2) ≈ 6.3%; deterministic fixture, assert 4σ
      def near(est: Long, exact: Long, what: String): Unit =
        assert(math.abs(est - exact) <= math.max(4, exact / 4),
          s"$sa/$sb $what: est=$est exact=$exact")
      near(r.getAs[Long]("est_a"), ea, "distinct A")
      near(r.getAs[Long]("est_union"), eu, "union")
      // intersections are sparse in the fixture: ρ·D̂ is only a few
      // synopsis slots, so pin the sign/scale, not a tight band
      assert(r.getAs[Long]("est_inter") >= 0 &&
        r.getAs[Long]("est_inter") <= r.getAs[Long]("est_union"))
      if (ei == 0)
        assert(r.getAs[Long]("n_inter") <= 2,
          s"$sa/$sb: disjoint sources must not fill intersection slots")
    }
    // engineered untrimmed pair: < k distinct shingles per source ⇒
    // every column collapses to the EXACT set cardinality
    val tiny = Seq(
      ("s1", "alpha beta gamma delta epsilon zeta"),
      ("s1", "eta theta iota kappa"),
      ("s2", "alpha beta gamma delta epsilon zeta lambda"))
      .toDF("source", "text")
    val t = Sketches.kmvSetOps(tiny).collect().head
    val ts = Seq("s1", "s2").map(s => tiny.filter(col("source") === s)
      .select(explode(shingleHashes(tokens(col("text")), 3)).as("h"))
      .distinct().as[Long].collect().toSet)
    assert(t.getAs[Long]("est_a") == ts(0).size.toLong)
    assert(t.getAs[Long]("est_b") == ts(1).size.toLong)
    assert(t.getAs[Long]("est_union") == (ts(0) | ts(1)).size.toLong)
    assert(t.getAs[Long]("n_inter") == (ts(0) & ts(1)).size.toLong)
    assert(t.getAs[Long]("est_inter") == (ts(0) & ts(1)).size.toLong,
      "untrimmed ρ·D̂ must collapse to the exact intersection")
  }
}

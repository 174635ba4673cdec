package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.MemoRegistry.{cut, shared}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Corpus-scale statistics and retrieval primitives for
  * training-data pipelines: sketch-then-confirm heavy hitters,
  * BM25 query-time retrieval, URL canonicalization (the first stage
  * of every published web-corpus pipeline), and exact embedding
  * covariance (the PCA input).
  *
  * Scale postures, per operator:
  *  - heavy hitters: one narrow sketch pass (Misra-Gries, bounded
  *    memory per partition) + one exact recount restricted to the
  *    sketch's candidates — never a full-vocabulary shuffle.
  *  - BM25: corpus-side stats are partial-agg shuffles on term; the
  *    query set is the broadcast side everywhere.
  *  - URL ops: pure per-row string transforms (narrow, codegen'd)
  *    plus one window partitioned by canonical URL for dup ranking.
  *  - covariance: per-partition integer accumulation into a d(d+1)/2
  *    triangle, merged on the driver — O(d^2) state, zero shuffles
  *    of per-row data.
  */
object CorpusOps {

  // --- heavy hitters ----------------------------------------------------

  /** Misra-Gries counter budget. The merged union of per-partition
    * sketches retains every item with global count > N/MgK (summed
    * estimates undercount by at most N/MgK), so with the report
    * threshold at share >= 1/HhShare and MgK > HhShare the candidate
    * set provably covers the exact frequent set.
    */
  val MgK = 2048
  val HhShare = 1024

  /** One Misra-Gries pass over an iterator: at most k live counters;
    * admitting an item with all k slots full decrements every
    * counter instead (evicting zeros) — the classic frequent-items
    * summary (Misra & Gries 1982).
    */
  def misraGries(items: Iterator[String], k: Int): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    items.foreach { t =>
      if (m.contains(t)) m(t) += 1L
      else if (m.size < k) m(t) = 1L
      else {
        val dead = m.iterator.collect { case (key, c) if c == 1L => key }.toList
        m.mapValuesInPlace((_, c) => c - 1L)
        dead.foreach(m.remove)
      }
    }
    m.toMap
  }

  /** Merge-compression for summed sketch tables (the mergeable-
    * summaries result, Agarwal et al. 2012): subtract the (k+1)-th
    * largest counter from all and drop the non-positive — at most k
    * survivors, each still an UNDERestimate, and one compression of
    * exact counts loses at most N/(k+1) per item (k+1 counters are
    * >= the subtracted value, so it cannot exceed N/(k+1)). Keeps
    * the streaming sketch table's compaction bound honest.
    */
  def compressMg(counts: Map[String, Long], k: Int): Map[String, Long] =
    if (counts.size <= k) counts
    else {
      val t = counts.values.toSeq.sortBy(-_).apply(k)
      counts.collect { case (key, c) if c - t > 0 => key -> (c - t) }
    }

  /** Word bigrams joined with a single space (the heavy-hitter item
    * domain — large enough that the sketch actually evicts).
    */
  def bigrams(toks: Column): Column =
    filter(
      transform(toks, (_, i) =>
        when(i <= size(toks) - 2,
          concat_ws(" ", slice(toks, i + lit(1), lit(2))))),
      _.isNotNull)

  /** Exact frequent bigrams (share >= 1/HhShare) via sketch-then-
    * confirm: (1) per-partition Misra-Gries sketches, merged by
    * summing estimates — a guaranteed SUPERSET of the frequent set;
    * (2) an exact recount restricted to those candidates (broadcast
    * semi-join), thresholded against the exact stream length. The
    * output is EXACT — the sketch only prices candidate generation —
    * which is what makes the two-pass form the scalable exact
    * top-share algorithm at 100 TB (a full groupBy on a web-scale
    * n-gram vocabulary shuffles billions of groups; the candidate
    * set stays tiny regardless of corpus size).
    *
    * The broadcast candidate set is BOUNDED independently of the
    * partition count (r7 verdict #1): the merged estimates are
    * thresholded against the MG undercount bound before broadcasting.
    * A term with true count >= N/HhShare has merged est >= true -
    * N/MgK >= N/HhShare - N/MgK, so filtering to
    * est >= floor(N/HhShare) - floor(N/MgK) - 1 (the -1 absorbs the
    * floors) keeps a provable superset of the frequent set; and since
    * the merged estimates sum to <= N, at most N/bound ≈
    * MgK·HhShare/(MgK-HhShare) = MgK terms survive (exactly MgK up to
    * a floor-rounding epsilon of O(MgK²/N)) — regardless of how many
    * partitions contributed sketch rows. See [[candidateBound]];
    * PropertySpec pins coverage, CorpusOpsSpec pins the cap on a
    * skewed 64-partition stream.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tokenize into a BOUND column first: a HOF lambda re-evaluates
    // unbound subtrees (the split) per ELEMENT — O(tokens^2) per doc
    // if bigrams() is applied to the split expression directly
    val terms = Tables.documents(s, dir)
      .select(tokens(col("text")).as("toks"))
      .select(explode(bigrams(col("toks"))).as("term"))
    // Sentinel row "" carries the partition's exact stream length out
    // of the same pass (bigrams always contain a space, so the empty
    // key cannot collide); the sketch table is <= partitions*(MgK+1)
    // rows, persisted only long enough to materialize the two scalar-
    // sized extracts below (then unpersisted — no cached blocks leak
    // past the operator).
    val sketches = terms.as[String].mapPartitions { it =>
      var np = 0L
      val m = misraGries(it.map { t => np += 1; t }, MgK)
      m.iterator ++ Iterator("" -> np)
    }.toDF("term", "est")
      .groupBy("term").agg(sum("est").as("est"))
      .persist()
    val (nTotal, candidates) = try {
      // headOption, not head(): zero input partitions emit no
      // sentinel row at all, and an empty corpus must yield an empty
      // frame, not a NoSuchElementException (the downstream joins
      // are naturally empty once candidates is empty)
      val n = sketches.where(col("term") === "")
        .select(col("est")).as[Long].collect().headOption.getOrElse(0L)
      val cands = sketches
        .where(col("term") =!= "" && col("est") >= candidateBound(n))
        .select(col("term")).as[String].collect().toSeq
      (n, cands)
    } finally { sketches.unpersist(); () }
    terms.join(broadcast(candidates.toDF("term")), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * HhShare >= nTotal)
      .select(col("term"), col("cnt"),
        expr(s"cnt * 1000000 div ${nTotal}L").as("share_ppm"))
  }

  /** Candidate-broadcast threshold for a merged MG sketch over a
    * stream of length n: every term with true count >= n/HhShare has
    * merged estimate >= this value, and at most MgK estimates can
    * reach it (their sum is <= n). Integer floors are absorbed by the
    * trailing -1, so the filter is a provable frequent-set superset.
    */
  def candidateBound(n: Long): Long =
    math.max(1L, n / HhShare - n / MgK - 1L)

  // --- BM25 retrieval ---------------------------------------------------

  /** Fixed query workload (query-time retrieval is parameterized by
    * an external query set; these exercise the corpus vocabulary).
    */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark join filter",
    2 -> "window sort merge",
    3 -> "customer table scan",
    4 -> "vector batch stream")
  val Bm25TopK = 10

  /** BM25 top-k retrieval: rational idf ((N - df + 0.5)/(df + 0.5),
    * the same Robertson form q_tfidf uses — no transcendental ln, so
    * both engines agree bit-for-bit) and the standard saturation
    * tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)) with k1 = 1.2,
    * b = 0.75. The query set broadcasts; corpus stats (tf, dl, df)
    * are term/doc partial-agg shuffles; top-k is a window partitioned
    * by query id — parallelism = number of queries on the final
    * ranking only, with the scored candidate set already restricted
    * to docs containing at least one query term.
    */
  /** Memoized shared retrieval stages per (session, dir) — the
    * louvainBase discipline on the retrieval family (r15
    * optimization): the per-(doc, term) tf table (one corpus
    * tokenize + partial agg) is the shared index of BOTH scorers and
    * every retrieval rung, and the fixture-query BM25 ranking is
    * consumed verbatim by [[qBm25Search]] AND [[qRrfFusion]]'s
    * a-side — a production retrieval stack builds the index and runs
    * each ranking once. Lineage-cut with the reliable-checkpoint
    * discipline; every process invocation still computes from the
    * parquet inputs, and all consumer oracle outputs are
    * byte-identical. [[tfBase]] is (doc_id, term, tf), the retrieval
    * index table.
    */
  private[graft] def tfBase(s: SparkSession, dir: String): DataFrame =
    shared("tfBase", s, dir)(cut(
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))))

  private def bm25FixtureBase(s: SparkSession, dir: String): DataFrame =
    shared("bm25FixtureBase", s, dir) {
      import s.implicits._
      val qterms = Bm25Queries.toDF("qid", "qtext")
        .select(col("qid"), explode(tokens(col("qtext"))).as("term"))
      cut(bm25TopKFor(s, dir, qterms))
    }

  def qBm25Search(s: SparkSession, dir: String): DataFrame =
    bm25FixtureBase(s, dir)

  /** BM25 scoring core against an external (qid, term) query frame —
    * the seam [[qBm25Search]] and [[qRetrievalEval]] share.
    * Cardinality contract: the query set broadcasts (a bounded
    * workload / eval set, hundreds to thousands); the corpus side
    * never does.
    */
  def bm25TopKFor(s: SparkSession, dir: String, qterms: DataFrame,
                  topK: Int = Bm25TopK): DataFrame = {
    val tf = tfBase(s, dir)
    // dl and df both derive from tf — one shuffle of the raw token
    // stream total (shared across every retrieval rung via tfBase);
    // everything downstream aggregates the (much
    // smaller) per-doc term table
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val stats = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs")).crossJoin(
        dl.agg(sum("dl").cast("double").as("tot_dl")))
    val sat = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val idf = (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))
    // Per-term contributions quantize to integer ppm BEFORE the
    // per-(query, doc) sum — the q_lm_bigram idiom: the distributed
    // aggregate is then order-independent and cross-engine exact.
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfreq.join(broadcast(qterms.select("term").distinct), Seq("term"))),
        Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl") / col("n_docs"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(round(idf * sat * lit(1000000.0), 0).cast("long")).as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_ppm").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("qid"), col("doc_id"), col("score_ppm"), col("rnk"))
  }

  /** RRF dampening constant (Cormack et al. SIGIR'09's k=60). */
  val RrfK = 60L

  /** Second retrieval ranking for the fusion: idf-weighted term
    * overlap Σ_t idf_ppm(t)·min(qtf, tf) — no saturation, no length
    * norm, so it genuinely disagrees with BM25 on tails (that
    * disagreement is what fusion exploits). Same candidate
    * generation and broadcast contract as [[bm25TopKFor]]; pure
    * int64 (per-term idf quantized to ppm BEFORE the weighted sum).
    */
  def overlapTopKFor(s: SparkSession, dir: String, qterms: DataFrame,
                     topK: Int = Bm25TopK): DataFrame = {
    val tf = tfBase(s, dir)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val qtf = qterms.groupBy(col("qid"), col("term"))
      .agg(count(lit(1)).as("qtf"))
    val idf = (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))
    val scored = tf
      .join(broadcast(qtf), Seq("term"))
      .join(broadcast(dfreq.join(
        broadcast(qtf.select("term").distinct), Seq("term"))), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(round(idf * lit(1000000.0), 0).cast("long") *
        least(col("qtf"), col("tf"))).as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_ppm").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("qid"), col("doc_id"), col("score_ppm"), col("rnk"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    * 2009): fuse the BM25 and overlap top-k lists per query with
    * rrf = Σ_lists 1e6 div (60 + rank), absent lists contributing 0
    * — the standard way to combine heterogeneous retrievers
    * (lexical + semantic in production; two lexical scorers here,
    * where both sides stay oracle-exact) without score calibration.
    * Both input lists are ≤ topK per query, so the fusion stage is
    * queries×2k rows: one full-outer equi-join + one window
    * partitioned by qid over a ≤2k pool — nothing
    * corpus-proportional past the two retrieval plans themselves.
    */
  def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterms = Bm25Queries.toDF("qid", "qtext")
      .select(col("qid"), explode(tokens(col("qtext"))).as("term"))
    val a = bm25FixtureBase(s, dir)
      .select(col("qid"), col("doc_id"), col("rnk").cast("long").as("rnk_bm25"))
    val b = overlapTopKFor(s, dir, qterms)
      .select(col("qid"), col("doc_id"), col("rnk").cast("long").as("rnk_overlap"))
    val fused = a.join(b, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        coalesce(col("rnk_bm25"), lit(0L)).as("rnk_bm25"),
        coalesce(col("rnk_overlap"), lit(0L)).as("rnk_overlap"))
      .withColumn("rrf_ppm", expr(
        s"(case when rnk_bm25 > 0 then 1000000 div ($RrfK + rnk_bm25) else 0 end)" +
          s" + (case when rnk_overlap > 0 then 1000000 div ($RrfK + rnk_overlap) else 0 end)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf_ppm").desc, col("doc_id"))
    fused.withColumn("fused_rnk", row_number().over(w).cast("long"))
      .where(col("fused_rnk") <= Bm25TopK)
  }

  /** Retrieval-quality eval harness (MRR@k): a gold query set run
    * through the SAME BM25 plan as production retrieval, emitting
    * each gold document's rank and reciprocal rank (integer ppm; 0
    * when the gold misses the top-k). This is the regression gate a
    * retrieval stack runs per index build.
    */
  val EvalQueryMod = 50L
  val EvalPrefixTokens = 5

  /** Bounded default gold-set size (r10 verdict #2): the eval set
    * must honor [[bm25TopKFor]]'s broadcast contract, so the default
    * picks a FIXED number of documents, never a corpus share.
    */
  val EvalGoldK = 64

  /** PRODUCTION retrieval-eval API: score an external gold frame
    * (qid, qtoks: array&lt;string&gt;, gold_doc) through
    * [[bm25TopKFor]]. Cardinality contract (inherited): the gold
    * frame is a bounded eval set (hundreds to thousands) and
    * broadcasts; the corpus side never does. Mirrors
    * `contrastivePairsFor`'s external-anchor pattern.
    */
  def retrievalEvalFor(s: SparkSession, dir: String, gold: DataFrame,
                       topK: Int = Bm25TopK): DataFrame = {
    val qterms = gold.select(col("qid"), explode(col("qtoks")).as("term"))
    val hit = bm25TopKFor(s, dir, qterms, topK)
      .select(col("qid"), col("doc_id").as("gold_doc"), col("rnk"))
    gold.select(col("qid"), col("gold_doc"))
      .join(hit, Seq("qid", "gold_doc"), "left")
      .select(col("qid"),
        coalesce(col("rnk").cast("long"), lit(0L)).as("gold_rank"),
        coalesce(expr("1000000 div cast(rnk AS bigint)"), lit(0L)).as("rr_ppm"))
  }

  /** Default gold set: [[EvalGoldK]] documents hash-picked by
    * tokenHash(doc_id) (TakeOrdered — O(n) scan, O(K) driver state,
    * no global sort), each querying its own
    * first-[[EvalPrefixTokens]]-token prefix — the standard
    * no-labels-needed pseudo-query trick, now at a FIXED size so the
    * broadcast side cannot grow with the corpus.
    */
  def defaultEvalGold(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .orderBy(tokenHash(col("doc_id").cast("string")), col("doc_id"))
      .limit(EvalGoldK)
      .select(col("doc_id").as("qid"),
        array_distinct(slice(tokens(col("text")), 1, EvalPrefixTokens)).as("qtoks"),
        col("doc_id").as("gold_doc"))

  def qRetrievalEval(s: SparkSession, dir: String): DataFrame =
    retrievalEvalFor(s, dir, defaultEvalGold(s, dir))

  /** The ∝n rung: every [[EvalQueryMod]]-th document as a pseudo
    * query — the documented EXACT-baseline form (evaluates 1/50th of
    * the whole corpus; useful for one-off full-corpus audits, NOT
    * for the per-build gate — its query side grows linearly with the
    * corpus and violates the broadcast contract the default honors).
    */
  def retrievalEvalExhaustive(s: SparkSession, dir: String): DataFrame = {
    val gold = Tables.documents(s, dir)
      .filter(col("doc_id") % EvalQueryMod === 0)
      .select(col("doc_id").as("qid"),
        array_distinct(slice(tokens(col("text")), 1, EvalPrefixTokens)).as("qtoks"),
        col("doc_id").as("gold_doc"))
    retrievalEvalFor(s, dir, gold)
  }

  // --- URL canonicalization --------------------------------------------

  /** Hosts dropped by the blocklist filter (the curation-pipeline
    * domain blocklist stage; real pipelines broadcast a list of
    * millions — the comparison stays a broadcast hash lookup).
    */
  val HostBlocklist: Seq[String] = Seq("src3.example.com", "src5.example.com")

  /** Synthetic raw URL per document (the documents fixture carries no
    * URL column): deliberately messy — mixed-case scheme/host,
    * explicit default port, www prefix, tracking params, fragment,
    * plus a `pref=` param whose name merely ENDS in "ref" (it must
    * survive canonicalization — the boundary-anchoring case) — and
    * many-to-one on the canonical form (path keyed by doc_id % 64,
    * so mirror fetches of the same page exist at every SF). Pure
    * arithmetic, replicated verbatim by the oracle.
    */
  def rawUrl: Column =
    concat(lit("HttpS://WwW."), col("source"), lit(".ExAmple.COM:443/"),
      col("lang"), lit("/doc/"), col("doc_id") % 64,
      lit("?utm_source=feed&ref=r"), col("doc_id") % 7,
      lit("&pref=keep"),
            lit("&page="), col("doc_id") % 64, lit("#s"), col("doc_id") % 5)

  /** URL canonicalization + host extraction + blocklist verdict +
    * canonical-URL dup ranking — stage one of RefinedWeb/FineWeb-
    * style web curation. Canonical form: lowercase scheme and host,
    * strip the https default port and the www prefix, drop the
    * fragment, drop tracking query params (utm_*, ref), keep the
    * rest of the path+query verbatim. The strip anchors the param
    * NAME to a `?`/`&` boundary (re-emitted via the backreference)
    * so names that merely end in "ref" (pref=, href=) survive; a
    * delimiter-collapse pass then heals the `?&&`/`&&` runs the
    * re-emitted delimiters leave. Every step is a per-row regexp
    * (narrow, codegen'd); the only shuffle is the dup-rank window
    * keyed by canonical URL — exactly the URL-dedup shuffle, on the
    * key it must use.
    */
  def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val hostport = lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1))
    val host = regexp_replace(regexp_replace(hostport, ":443$", ""), "^www\\.", "")
    val pathq = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1)
    val cleanPathq = regexp_replace(regexp_replace(
      regexp_replace(pathq, "([?&])(?:utm_[a-z_]+|ref)=[^&#]*", "$1"),
      "([?&])&+", "$1"), "[?&]$", "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), rawUrl.as("url"))
      .withColumn("host", host)
      .withColumn("canon_url",
        concat(lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)),
          lit("://"), col("host"), cleanPathq))
      .withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("blocked", col("host").isin(HostBlocklist: _*))
      .withColumn("dup_rank", row_number().over(w))
      .select(col("doc_id"), col("url"), col("canon_url"), col("host"),
        col("domain"), col("blocked"), col("dup_rank"))
  }

  // --- domain-level quality rollup ---------------------------------------

  /** Mean-quality floor for a healthy domain, ppm. */
  val DomainQFloor = 650000L
  /** Canonical-URL duplicate-fraction cap for a healthy domain, ppm. */
  val DomainDupCap = 500000L

  /** Domain-level quality rollup + verdict, applied back per document
    * — the FineWeb/RefinedWeb observation that spam concentrates by
    * HOST: a page's own quality score is noisy, but a host whose mean
    * quality is poor or whose fetches are mostly mirror-duplicates is
    * bad evidence about every page it serves. Rolls the per-doc
    * quality ppm and the canonical-URL dup rank up to the host,
    * flags hosts crossing either threshold ([[DomainQFloor]] mean
    * quality, [[DomainDupCap]] dup fraction), and lands the verdict
    * back on each document next to the per-doc evidence
    * (kept = host unflagged AND host not blocklisted).
    *
    * Shape: the url/dup frame reuses [[qUrlNormalize]]'s shuffles
    * (the canon_url dup window), the quality frame is narrow, they
    * join once on doc_id; the rollup is one host-keyed partial agg to
    * an O(hosts) frame, and the verdict lands via a host-keyed
    * SHUFFLE equi-join — unlike the constant-size blocklist, hosts
    * number in the millions at web scale, so a forced broadcast here
    * would grow with the web graph (r10 advice). AQE still elects a
    * broadcast when the rollup happens to be small.
    */
  def qDomainFlags(s: SparkSession, dir: String): DataFrame = {
    val url = qUrlNormalize(s, dir)
      .select(col("doc_id"), col("host"), col("blocked"), col("dup_rank"))
    val q = TextAnalysis.qQuality(s, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 1000000).cast("long").as("q_ppm"))
    val dq = url.join(q, Seq("doc_id"))
    val dom = dq.groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_ppm")).as("sum_q"),
        sum((col("dup_rank") > 1).cast("long")).as("n_dups"))
      .select(col("host").as("dhost"), col("n_docs"),
        expr("sum_q div n_docs").as("mean_q_ppm"),
        expr("n_dups * 1000000 div n_docs").as("dup_ppm"))
      .withColumn("domain_flagged",
        col("mean_q_ppm") < DomainQFloor || col("dup_ppm") > DomainDupCap)
    dq.join(dom, col("host") === col("dhost"))
      .select(col("doc_id"), col("host"), col("q_ppm"), col("n_docs"),
        col("mean_q_ppm"), col("dup_ppm"), col("domain_flagged"),
        (!col("domain_flagged") && !col("blocked")).as("kept"))
  }

  // --- banned-word filter ----------------------------------------------

  /** Word blocklist (C4-style banned-word stage: a document with ANY
    * hit is dropped outright). Production lists hold thousands of
    * entries and still broadcast; matching stays a per-row set probe.
    */
  val BannedWords: Seq[String] = Seq("dup", "stale", "zzznope")

  /** Per-doc banned-word audit: hit count, first offending token in
    * document order, and the keep/drop verdict. A narrow codegen'd
    * scan — no shuffle at all; the verdict column composes with the
    * rule-filter report the same way Gopher rules do.
    */
  def qWordBlocklist(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t.isin(BannedWords: _*)).as("hits"))
      .select(
        col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        try_element_at(col("hits"), lit(1)).as("first_bad"),
        (size(col("hits")) === 0).as("kept"))

  // --- C4-style line rules + global line dedup ---------------------------

  /** Line synthesis: the fixture's documents carry no newlines, so a
    * "line" is a fixed window of LineWords tokens (the qSftRender
    * synthesize-structure convention); the last line keeps the
    * remainder and is the one the min-words rule can drop.
    */
  val LineWords = 8
  val LineMinWords = 3

  /** C4-style line-level cleaning + GLOBAL line dedup — the
    * sentence/line discipline of the C4/mC4 pipelines (Raffel et al.
    * 2020): per-line rules (minimum word count, banned-word hit)
    * plus corpus-wide exact dedup that keeps only the FIRST
    * occurrence (by (doc_id, line_no)) of every distinct surviving
    * line. Output: one verdict row per line with the drop reason.
    *
    * Scale posture: line explode is narrow; the dedup is ONE shuffle
    * keyed by the 48-bit line hash, and first-occurrence resolution
    * is a `min(struct(doc_id, line_no))` partial aggregate + hash
    * equi-join back — map-side combinable, never a window sort over
    * a hot line's occurrence list (the q_argmin idiom), so a
    * boilerplate line repeated a billion times costs its count, not
    * a single-task sort.
    */
  /** The fixed-window line table shared by qC4Lines and
    * qBoilerplate: (doc_id, line_no, line). Narrow explode + slice.
    */
  def docLines(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(0),
          greatest(lit(0), expr(s"(size(toks) + ${LineWords - 1}) div $LineWords - 1"))))
          .as("line_no"),
        col("toks"))
      .select(col("doc_id"), col("line_no"),
        concat_ws(" ",
          slice(col("toks"), col("line_no") * LineWords + 1, lit(LineWords)))
          .as("line"))

  def qC4Lines(s: SparkSession, dir: String): DataFrame = {
    val lines = docLines(Tables.documents(s, dir))
      .withColumn("n_words", size(split(col("line"), " ")))
      .withColumn("banned",
        exists(split(col("line"), " "), t => t.isin(BannedWords: _*)))
      .withColumn("rule_ok",
        col("n_words") >= LineMinWords && !col("banned"))
      .withColumn("h", tokenHash(col("line")))
    val firsts = lines.filter(col("rule_ok"))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("f"))
      .select(col("h"), col("f.doc_id").as("f_doc"), col("f.line_no").as("f_line"))
    lines.join(firsts, Seq("h"), "left")
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        col("n_words").cast("long").as("n_words"),
        when(col("n_words") < LineMinWords, "short")
          .when(col("banned"), "banned")
          .when(col("doc_id") =!= col("f_doc")
            || col("line_no") =!= col("f_line"), "dup")
          .otherwise("kept").as("verdict"))
  }

  /** Line document-frequency threshold: a line seen in MORE THAN
    * this many distinct docs is boilerplate (nav chrome, footers).
    */
  val BoilerDf = 3

  /** Boilerplate detection by line document frequency — the
    * content-extraction complement of [[qC4Lines]]' first-occurrence
    * dedup: per doc, how many of its lines are corpus-wide
    * boilerplate (df > BoilerDf) and the boilerplate ppm share. One
    * line-hash distinct-doc agg (partial-agg friendly: the
    * countDistinct key is (h, doc) — never a hot-line occurrence
    * list) + a hash equi-join back + one per-doc fold.
    */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lines = docLines(Tables.documents(s, dir))
      .withColumn("h", tokenHash(col("line")))
    val dfreq = lines.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("docs_with"))
    lines.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("docs_with") > BoilerDf, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        expr("n_boiler * 1000000 div n_lines").as("boiler_ppm"))
  }

  // --- fixed-stride chunk windows ----------------------------------------

  /** Overlapping-window chunking parameters: W-token windows every S
    * tokens — the RAG/embedding-pipeline pre-chunking shape (overlap
    * = W - S tokens of context carried across chunk boundaries).
    */
  val ChunkW = 32
  val ChunkS = 24

  /** Fixed-size overlapping token windows — the chunking stage every
    * embedding/RAG ingestion pipeline runs before vectorizing:
    * chunk i of a doc covers tokens [i·S, i·S + W); a doc shorter
    * than W is one chunk; the LAST chunk keeps the (possibly short)
    * tail. Emits (doc_id, chunk_id, start_tok, n_tok, chunk_hash) —
    * the manifest a downstream embed step consumes. Pure per-row
    * codegen'd arithmetic, ZERO shuffles; the companion exact-dedup
    * on chunk_hash composes through q_dedup_exact's shape.
    */
  def qChunkWindows(s: SparkSession, dir: String): DataFrame = {
    val nChunks = expr(
      s"CASE WHEN size(toks) <= $ChunkW THEN 1 " +
        s"ELSE 1 + (size(toks) - $ChunkW + ${ChunkS - 1}) div $ChunkS END")
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * ChunkS).cast("long").as("start_tok"),
        least(lit(ChunkW), size(col("toks")) - col("chunk_id") * ChunkS)
          .cast("long").as("n_tok"),
        tokenHash(concat_ws(" ",
          slice(col("toks"), col("chunk_id") * ChunkS + 1, lit(ChunkW))))
          .as("chunk_hash"))
  }

  // --- SFT template rendering ------------------------------------------

  /** SFT chat-template rendering + loss-mask offsets — the
    * supervised-fine-tuning data-prep step: each doc becomes a
    * (system, user, assistant) conversation (deterministic token
    * split at n/5 and 3n/5 — the fixture carries no turn structure),
    * rendered through a fixed role-marker template, with the
    * assistant span's character offsets emitted for the trainer's
    * loss mask. Narrow, codegen'd, zero shuffles; offsets are pure
    * integer arithmetic over piece lengths so both engines agree
    * exactly, and the render hash certifies the full rendered string
    * without shipping it.
    */
  def qSftRender(s: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    val n5 = expr("size(toks) div 5")
    val sys = concat_ws(" ", slice(col("toks"), lit(1), n5))
    val usr = concat_ws(" ", slice(col("toks"), n5 + lit(1), n5 * 2))
    val asst = concat_ws(" ", slice(col("toks"), n5 * 3 + lit(1), n - n5 * 3))
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), n.cast("long").as("n_tokens"),
        sys.as("sys"), usr.as("usr"), asst.as("asst"))
      .select(col("doc_id"), col("n_tokens"),
        tokenHash(concat(lit("<|system|>"), col("sys"), lit("<|user|>"),
          col("usr"), lit("<|assistant|>"), col("asst"), lit("<|end|>")))
          .as("render_hash"),
        (length(col("sys")) + length(col("usr")) + lit(31L))
          .cast("long").as("mask_start"),
        (length(col("sys")) + length(col("usr")) + length(col("asst")) + lit(31L))
          .cast("long").as("mask_end"))
  }

  // --- epoch shuffle ----------------------------------------------------

  val ShuffleEpochs = 2

  /** Bucket sizing for the epoch-shuffle rank windows — the julienne
    * discipline applied to the training-order problem (r7 verdict
    * #2): the bucket count SCALES WITH THE DATA, so no rank window
    * ever sorts more than ~ShuffleTargetRows rows in one task. The
    * floor keeps the fixture exercising a production-shaped bucket
    * count; both constants are config-only inputs to the
    * deterministic permutation (same (config, content) → same order).
    */
  val ShuffleMinBuckets = 256L
  val ShuffleTargetRows = 4000000L

  /** Deterministic per-epoch training order — the dataloader
    * primitive: every epoch is a reproducible pseudo-random
    * permutation of the corpus (key = content hash of (epoch, doc)),
    * assigned a GLOBAL position with no global sort: hash-bucket
    * blocks laid consecutively, rank windows partitioned by
    * (epoch, bucket), and block offsets from a bucket-count prefix
    * sum over the O(epochs × buckets) counts table (the julienne
    * distributed-rank discipline applied to the training-order
    * problem). Reruns, resumes, and late-added docs keep every
    * other doc's position stable within its (epoch, bucket) block.
    *
    * The bucket count derives from the corpus row count
    * (max(ShuffleMinBuckets, ceil(rows/ShuffleTargetRows))) and rides
    * in as a broadcast scalar — the plan stays fully lazy and the
    * biggest per-task sort is bounded at any corpus size.
    */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(s, dir).select(col("doc_id")), None)

  def epochShuffle(docs: DataFrame, bucketsOverride: Option[Long]): DataFrame = {
    val bucketsDf = broadcast(bucketsOverride match {
      case Some(b) => docs.sparkSession.range(1).select(lit(b).as("buckets"))
      case None => docs.agg(
        greatest(lit(ShuffleMinBuckets),
          expr(s"(count(1) + ${ShuffleTargetRows - 1}) div $ShuffleTargetRows"))
          .as("buckets"))
    })
    val epochs = explode(array((0 until ShuffleEpochs).map(lit): _*)).as("epoch")
    val keyed = docs.select(col("doc_id"), epochs)
      .crossJoin(bucketsDf)
      .withColumn("k", tokenHash(
        concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("bkt", col("k") % col("buckets"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("bkt")).orderBy(col("k"), col("doc_id"))
    val ranked = keyed.withColumn("rnk", row_number().over(w))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch")).orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = keyed.groupBy(col("epoch"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("epoch"), col("bkt"), col("off"))
    ranked.join(broadcast(offs), Seq("epoch", "bkt"))
      .select(col("epoch"), col("doc_id"),
        (col("off") + col("rnk") - 1).as("position"))
  }

  // --- shard manifest ----------------------------------------------------

  val NShards = 16

  /** Release shard manifest — the dataset-integrity artifact a corpus
    * ships per shard: content-hash-routed shard assignment, doc and
    * token counts, and an order-independent XOR fingerprint of the
    * content hashes (sum would overflow int64 at corpus scale; XOR is
    * associative, commutative, and overflow-free, so any engine can
    * re-derive and diff a shard without ordering guarantees). One
    * narrow hash pass + one NShards-group partial agg.
    */
  def qShardManifest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(tokenHash(col("text")).as("h"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .withColumn("shard", col("h") % NShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        expr("bit_xor(h)").as("content_xor"))

  // --- dataset card -----------------------------------------------------

  /** Dataset card — the release-artifact summary table (long format:
    * metric, value) a corpus ships with: volume, token counts,
    * vocabulary shape, duplication rate, dominant language/source.
    * Every metric is integer or ppm-rational (cross-engine exact);
    * each is one partial-agg pass over the corpus or the token
    * stream, unioned into one frame — no metric needs more than one
    * shuffle, and the unions are tiny scalar frames.
    */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val docStats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"))
    val tokStats = tok.agg(count(lit(1)).as("n_tokens"))
    val vocabStats = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val dupStats = docs.select(tokenHash(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("n_dup_docs"))
    val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("lang")).limit(1)
      .select(col("c").as("top_lang_docs"))
    def metric(name: String, value: Column): DataFrame => DataFrame =
      _.select(lit(name).as("metric"), value.cast("long").as("value"))
    docStats.transform(metric("n_docs", col("n_docs")))
      .unionAll(docStats.transform(metric("n_chars", col("n_chars"))))
      .unionAll(tokStats.transform(metric("n_tokens", col("n_tokens"))))
      .unionAll(vocabStats.transform(metric("n_vocab", col("n_vocab"))))
      .unionAll(vocabStats.transform(metric("n_hapax", col("n_hapax"))))
      .unionAll(dupStats.transform(metric("n_exact_dup_docs", col("n_dup_docs"))))
      .unionAll(topLang.transform(metric("top_lang_docs", col("top_lang_docs"))))
      .unionAll(docStats.crossJoin(tokStats).transform(
        metric("mean_doc_tokens_ppm",
          expr("n_tokens * 1000000 div n_docs"))))
  }

  // --- corpus snapshot diff --------------------------------------------

  /** Snapshot-to-snapshot corpus diff — the dataset-versioning
    * primitive behind release notes and incremental re-processing:
    * old = docs with doc_id % 10 != 0, new = docs with
    * doc_id % 10 != 1, and docs with doc_id % 7 == 0 carry edited
    * content in the new snapshot (deterministic token append — the
    * oracle synthesizes the same two versions). One full-outer join
    * on doc_id comparing 48-bit content hashes; per-verdict counts
    * ride the same pass. At scale both sides are doc_id-partitioned
    * snapshots, so the join co-locates.
    */
  def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val old = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), tokenHash(col("text")).as("old_hash"))
    val neu = docs.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), tokenHash(
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("new_hash"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("same").as("verdict"))
  }

  /** Delta-release planning — the incremental complement of the full
    * shard manifest (45s) over a snapshot diff (45i): a changed doc
    * is a TOMBSTONE for its old content in the shard its OLD hash
    * routes to plus a SHIP of its new content in the shard its NEW
    * hash routes to (content-hash routing means an edit can move a
    * doc across shards — the two-event model handles that exactly);
    * added docs ship, removed docs tombstone, unchanged docs count
    * as resident. Per shard: ship/tombstone counts with
    * order-independent XOR fingerprints (the 45s discipline — any
    * engine re-derives and diffs a delta without ordering
    * guarantees) plus the resident count. One full-outer doc_id
    * join (snapshots co-partition on doc_id at scale) + one
    * NShards-group partial agg over the event union. THE artifact an
    * incremental dataset release publishes instead of re-shipping
    * every shard.
    */
  def qDeltaRelease(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val old = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), tokenHash(col("text")).as("old_hash"))
    val neu = docs.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), tokenHash(
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text"))).as("new_hash"))
    val d = old.join(neu, Seq("doc_id"), "full_outer")
    val ship = d.filter(col("new_hash").isNotNull &&
        (col("old_hash").isNull || col("old_hash") =!= col("new_hash")))
      .select((col("new_hash") % NShards).as("shard"),
        col("new_hash").as("ship_h"), lit(null).cast("long").as("tomb_h"),
        lit(0L).as("same"))
    val tomb = d.filter(col("old_hash").isNotNull &&
        (col("new_hash").isNull || col("old_hash") =!= col("new_hash")))
      .select((col("old_hash") % NShards).as("shard"),
        lit(null).cast("long").as("ship_h"), col("old_hash").as("tomb_h"),
        lit(0L).as("same"))
    val same = d.filter(col("old_hash") === col("new_hash"))
      .select((col("new_hash") % NShards).as("shard"),
        lit(null).cast("long").as("ship_h"), lit(null).cast("long").as("tomb_h"),
        lit(1L).as("same"))
    ship.unionAll(tomb).unionAll(same)
      .groupBy(col("shard"))
      .agg(count(col("ship_h")).as("n_ship"),
        coalesce(expr("bit_xor(ship_h)"), lit(0L)).as("ship_xor"),
        count(col("tomb_h")).as("n_tombstone"),
        coalesce(expr("bit_xor(tomb_h)"), lit(0L)).as("tomb_xor"),
        sum(col("same")).as("n_resident"))
  }

  // --- embedding covariance / PCA --------------------------------------

  val Dim = 64

  /** Exact covariance accumulation state: upper triangle of sum
    * q_i*q_j, the per-dim sums, and the row count, all int64 —
    * order-independent exact integer arithmetic (the established
    * quantize idiom), so the result is bit-stable across partition
    * schedules AND engines. At the 1e6 quantize scale the triangle
    * sums stay in int64 up to ~1e5 unit-norm rows per stat; larger
    * corpora lower the quantize scale (the dial trades 3 decimal
    * digits per 1000x rows).
    */
  def covAccumulate(rows: Iterator[Seq[Long]], d: Int): Array[Long] =
    covAccumulate(rows, d, Array.ofDim[Long](d * (d + 1) / 2 + d + 1))

  def covAccumulate(rows: Iterator[Seq[Long]], d: Int,
                    tri: Array[Long]): Array[Long] = {
    rows.foreach { q =>
      var i = 0
      var off = 0
      while (i < d) {
        val qi = q(i)
        var j = i
        while (j < d) { tri(off + j - i) += qi * q(j); j += 1 }
        off += d - i
        tri(d * (d + 1) / 2 + i) += qi
        i += 1
      }
      tri(tri.length - 1) += 1L
    }
    tri
  }

  /** Add two integer triangles elementwise (the covariance merge —
    * plain exact addition, associative and commutative).
    */
  def covMerge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Exact embedding covariance matrix (the PCA/whitening input) —
    * quantized integer accumulation per partition, merged on the
    * EXECUTORS by a depth-2 treeAggregate (r7 verdict #3: the old
    * per-partition collect shipped O(partitions × d²) to the driver;
    * now the driver receives exactly ONE triangle regardless of
    * partition count), zero per-row shuffles. Output: one row per
    * (i <= j) with the covariance at the ORIGINAL float scale,
    * computed from the exact integer sums by a fixed IEEE expression
    * both engines evaluate identically.
    */
  def qEmbedCov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val zero = Array.ofDim[Long](Dim * (Dim + 1) / 2 + Dim + 1)
    val tri = Tables.embeddings(s, dir)
      .select(quantize(col("embedding")).as("q")).as[Seq[Long]]
      .rdd
      .treeAggregate(zero)(
        (acc, q) => { covAccumulate(Iterator.single(q), Dim, acc); acc },
        covMerge, depth = 2)
    covFromTriangle(s, tri)
  }

  /** The covariance DataFrame from a merged integer triangle — one
    * fixed IEEE expression shared by the batch operator and the
    * streaming state reader, so both serve identical cells.
    */
  def covFromTriangle(s: SparkSession, tri: Array[Long]): DataFrame = {
    val nTri = Dim * (Dim + 1) / 2
    val n = tri.last
    val rows = for {
      i <- 0 until Dim
      j <- i until Dim
    } yield Row(i, j, tri(offset(i, j)), tri(nTri + i), tri(nTri + j), n)
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("j", IntegerType),
      StructField("s_ij", LongType), StructField("s_i", LongType),
      StructField("s_j", LongType), StructField("n", LongType)))
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), schema)
      .select(col("i"), col("j"),
        // + 0.0 canonicalizes IEEE signed zero (DuckDB's round keeps
        // -0.0 for tiny negatives; BigDecimal HALF_UP does not).
        (round((col("s_ij").cast("double") / col("n")
          - (col("s_i").cast("double") / col("n"))
            * (col("s_j").cast("double") / col("n"))) / lit(1e12), 6)
          + lit(0.0)).as("cov"))
  }

  private def offset(i: Int, j: Int): Int =
    i * Dim - i * (i - 1) / 2 + (j - i)

  /** Deterministic power iteration for the top principal component
    * of a d x d covariance matrix (driver-side — the matrix is
    * O(d^2) regardless of corpus size). Fixed start vector and
    * iteration count; normalization by max-abs entry avoids a
    * driver-side sqrt until the final unit scaling.
    */
  def powerIteration(cov: Array[Array[Double]], iters: Int = 200): Array[Double] = {
    val d = cov.length
    var v = Array.tabulate(d)(i => 1.0 / (i + 1))
    for (_ <- 0 until iters) {
      val nv = Array.tabulate(d)(i => cov(i).indices.map(j => cov(i)(j) * v(j)).sum)
      val m = nv.map(math.abs).max
      v = if (m == 0.0) nv else nv.map(_ / m)
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  /** Rayleigh quotient v'Cv / v'v — the eigenvalue estimate the
    * power-iteration spec pins against the projection variance.
    */
  def rayleigh(cov: Array[Array[Double]], v: Array[Double]): Double = {
    val cv = cov.indices.map(i => cov(i).indices.map(j => cov(i)(j) * v(j)).sum)
    cov.indices.map(i => v(i) * cv(i)).sum / v.map(x => x * x).sum
  }

  /** Covariance matrix as a dense driver-side array (spec/PCA input). */
  def covMatrix(s: SparkSession, dir: String): Array[Array[Double]] = {
    val m = Array.ofDim[Double](Dim, Dim)
    qEmbedCov(s, dir).collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c
      m(j)(i) = c
    }
    m
  }

  // --- token-balanced shard assignment -----------------------------------

  /** Token-balanced release shards: docs ranked by (token count
    * DESC, doc_id) and dealt round-robin across [[NShards]] — the
    * sorted-greedy bin packing whose per-shard token totals differ
    * by at most one doc per dealing round (the classic LPT bound),
    * versus hash routing's √n-scale luck. The global rank rides the
    * two-level prefix discipline: fine rank windows partition on the
    * token-count VALUE, offsets come from a broadcast self-join over
    * the tiny (nt, count) histogram — no corpus-wide sort or global
    * window. (Fine partitions are per distinct length; a corpus
    * whose lengths concentrate on one value — e.g. everything
    * truncated to one cap — would need a sub-bucket level, the
    * epochShuffle structure.) Output per shard: docs, tokens, and
    * token share as ppm of perfect balance (1e6 = exact; int64
    * headroom: tokens·NShards·1e6 < 2^63 ⇒ corpora under ~5.7e11
    * tokens per balance run — shard the run above that).
    */
  def shardBalance(docs: DataFrame, nShards: Int = NShards): DataFrame = {
    val t = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val hist = t.groupBy(col("nt")).agg(count(lit(1)).as("c"))
    val pref = hist.select(col("nt"))
      .join(broadcast(hist.select(col("nt").as("hn"), col("c").as("hc"))),
        col("hn") > col("nt"), "left")
      .groupBy(col("nt")).agg(coalesce(sum(col("hc")), lit(0L)).as("off"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nt")).orderBy(col("doc_id"))
    val agg = t.withColumn("fr", row_number().over(wf))
      .join(broadcast(pref), Seq("nt"))
      .withColumn("shard", (col("off") + col("fr") - 1) % nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
    agg.crossJoin(broadcast(agg.agg(sum(col("tokens")).as("tt"))))
      .select(col("shard"), col("n_docs"), col("tokens"),
        expr(s"tokens * $nShards * 1000000 div tt").as("balance_ppm"))
  }

  def qShardBalance(s: SparkSession, dir: String): DataFrame =
    shardBalance(Tables.documents(s, dir))

  // --- exact per-group quantiles + robust outlier fences ----------------

  /** Exact per-group discrete quantiles over an integer value column
    * WITHOUT any per-group sort: collapse to a (g, v) HISTOGRAM (one
    * partial-agg shuffle over ~n rows), then run a two-level
    * distributed prefix sum — fine prefixes via a window PARTITIONED
    * by (g, v div [[QuantCoarseDiv]]) so no task ever sorts more
    * than one coarse bucket's distinct values, coarse-bucket
    * prefixes via a broadcast self-join over the tiny (g, coarse)
    * totals (the juliennePredicates pattern, same as pplBuckets).
    * The quantile at percentile p is the MIN value whose cumulative
    * count reaches ceil(p·n/100) — discrete lower-quantile
    * semantics, pure integers, cross-engine exact.
    *
    * Cardinality contract: the broadcast sides are (groups) and
    * (groups × coarse buckets) — corpus-level group tags (sources,
    * languages: tens to thousands). For per-domain groups swap the
    * broadcasts for shuffle joins; the histogram stage is unchanged.
    *
    * Output: one row per group with n and p`p` for each requested
    * percentile.
    */
  val QuantCoarseDiv = 64L
  def groupQuantiles(rows: DataFrame, g: String, v: String,
                     ps: Seq[Int]): DataFrame = {
    val hist = rows.groupBy(col(g), col(v).as("__v"))
      .agg(count(lit(1)).as("__freq"))
      .withColumn("__coarse", expr(s"__v div $QuantCoarseDiv"))
    val coarseTot = hist.groupBy(col(g), col("__coarse"))
      .agg(sum(col("__freq")).as("__ccnt"))
    val cPrefix = coarseTot.select(col(g), col("__coarse"))
      .join(broadcast(coarseTot.select(col(g).as("__hg"),
        col("__coarse").as("__hc"), col("__ccnt").as("__hn"))),
        col("__hg") === col(g) && col("__hc") < col("__coarse"), "left")
      .groupBy(col(g), col("__coarse"))
      .agg(coalesce(sum(col("__hn")), lit(0L)).as("__cprefix"))
    val wFine = org.apache.spark.sql.expressions.Window
      .partitionBy(col(g), col("__coarse")).orderBy(col("__v"))
      .rowsBetween(Long.MinValue, 0)
    val ranked = hist.withColumn("__fprefix", sum(col("__freq")).over(wFine))
      .join(broadcast(cPrefix), Seq(g, "__coarse"))
      .withColumn("__cum", col("__cprefix") + col("__fprefix"))
    val ns = rows.groupBy(col(g)).agg(count(lit(1)).as("n"))
    val sel = ps.map { p =>
      // k_p = ceil(p·n/100) in pure integer math (Spark div == DuckDB //
      // for the non-negative operands here)
      val k = expr(s"($p * n + 99) div 100")
      min(when(col("__cum") >= k && k >= lit(1L), col("__v"))).as(s"p$p")
    }
    ranked.join(broadcast(ns), Seq(g))
      .groupBy(col(g))
      .agg(max(col("n")).as("n"), sel: _*)
  }

  def qGroupQuantiles(s: SparkSession, dir: String): DataFrame =
    groupQuantiles(Tables.documents(s, dir), "source", "n_chars",
      Seq(50, 90, 99))

  /** Robust per-group outlier fences: median absolute deviation
    * (MAD) of the value within each group, computed by running the
    * [[groupQuantiles]] selection twice (median of v, then median of
    * |v − median|) — the distribution-free outlier rule that, unlike
    * mean ± k·σ, a single crawler bug can't drag. A row is an
    * outlier when |v − med| > [[MadK]] · MAD. Output is per GROUP
    * (n, med, mad, n_outliers, outlier_ppm) — bounded by the group
    * count, never per-row; two histogram passes + one broadcast of
    * the per-group fences. Pure integer arithmetic throughout.
    */
  val MadK = 3L
  def madOutliers(rows: DataFrame, g: String, v: String): DataFrame = {
    val meds = groupQuantiles(rows, g, v, Seq(50))
      .select(col(g), col("p50").as("med"))
    val devs = rows.join(broadcast(meds), Seq(g))
      .withColumn("__dev", abs(col(v) - col("med")))
    val mads = groupQuantiles(devs, g, "__dev", Seq(50))
      .select(col(g), col("p50").as("mad"))
    devs.join(broadcast(mads), Seq(g))
      .groupBy(col(g))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("__dev") > lit(MadK) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("n_outliers * 1000000 div n"))
  }

  def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    madOutliers(Tables.documents(s, dir), "source", "n_chars")

  // --- registry ---------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_bm25_search" -> qBm25Search _,
    "q_rrf_fusion" -> qRrfFusion _,
    "q_url_normalize" -> qUrlNormalize _,
    "q_domain_flags" -> qDomainFlags _,
    "q_word_blocklist" -> qWordBlocklist _,
    "q_corpus_diff" -> qCorpusDiff _,
    "q_delta_release" -> qDeltaRelease _,
    "q_dataset_card" -> qDatasetCard _,
    "q_epoch_shuffle" -> qEpochShuffle _,
    "q_sft_render" -> qSftRender _,
    "q_c4_lines" -> qC4Lines _,
    "q_boilerplate" -> qBoilerplate _,
    "q_chunk_windows" -> qChunkWindows _,
    "q_shard_manifest" -> qShardManifest _,
    "q_embed_cov" -> qEmbedCov _,
    "q_group_quantiles" -> qGroupQuantiles _,
    "q_mad_outliers" -> qMadOutliers _,
    "q_retrieval_eval" -> qRetrievalEval _,
    "q_shard_balance" -> qShardBalance _)

  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** Shared per-group rank-selection CTE: cumulative counts over the
    * (g, v) histogram of `src`, plus group sizes — the SQL twin of
    * [[groupQuantiles]]'s two-level prefix (DuckDB's window runs the
    * same CDF in one level; the VALUES are what must match).
    */
  private def rankCdfSqlFor(src: String, g: String, v: String): String =
    s"""h AS (SELECT $g, $v AS qv, count(*) AS freq FROM ($src) GROUP BY 1, 2),
      |r AS (SELECT $g, qv,
      |    sum(freq) OVER (PARTITION BY $g ORDER BY qv)::BIGINT AS cum FROM h),
      |ns AS (SELECT $g, count(*)::BIGINT AS n FROM ($src) GROUP BY 1)""".stripMargin

  private val groupQuantilesSql =
    s"""WITH ${rankCdfSqlFor("SELECT source, n_chars FROM documents", "source", "n_chars")}
      |SELECT r.source, max(ns.n) AS n,
      |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN qv END) AS p50,
      |  min(CASE WHEN cum >= (90 * n + 99) // 100 THEN qv END) AS p90,
      |  min(CASE WHEN cum >= (99 * n + 99) // 100 THEN qv END) AS p99
      |FROM r JOIN ns ON r.source = ns.source GROUP BY 1""".stripMargin

  private val madOutliersSql =
    s"""WITH ${rankCdfSqlFor("SELECT source, n_chars FROM documents", "source", "n_chars")},
      |meds AS (SELECT r.source,
      |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN qv END) AS med
      |  FROM r JOIN ns ON r.source = ns.source GROUP BY 1),
      |d AS (SELECT doc.source, abs(n_chars - med) AS dev
      |  FROM documents doc JOIN meds ON doc.source = meds.source),
      |h2 AS (SELECT source, dev, count(*) AS freq FROM d GROUP BY 1, 2),
      |r2 AS (SELECT source, dev,
      |    sum(freq) OVER (PARTITION BY source ORDER BY dev)::BIGINT AS cum FROM h2),
      |mads AS (SELECT r2.source,
      |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN dev END) AS mad
      |  FROM r2 JOIN ns ON r2.source = ns.source GROUP BY 1)
      |SELECT d.source, count(*) AS n, max(meds.med) AS med, max(mads.mad) AS mad,
      |  sum(CASE WHEN d.dev > 3 * mads.mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  (sum(CASE WHEN d.dev > 3 * mads.mad THEN 1 ELSE 0 END)::BIGINT * 1000000)
      |    // count(*) AS outlier_ppm
      |FROM d JOIN meds ON d.source = meds.source
      |  JOIN mads ON d.source = mads.source
      |GROUP BY 1""".stripMargin

  private val retrievalEvalSql =
    s"""WITH q AS (SELECT doc_id AS qid,
      |    list_distinct(($toksSql)[1:$EvalPrefixTokens]) AS qtoks
      |  FROM documents
      |  ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT, doc_id
      |  LIMIT $EvalGoldK),
      |qt AS (SELECT qid, unnest(qtoks) AS term FROM q),
      |tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf GROUP BY 1),
      |st AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
      |  (SELECT sum(dl)::DOUBLE FROM dl) AS tot_dl),
      |scored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    sum(round(((st.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
      |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
      |          / (st.tot_dl / st.n_docs)))) * 1000000.0, 0)::BIGINT)::BIGINT
      |      AS score_ppm
      |  FROM tf JOIN qt ON tf.term = qt.term
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  JOIN dfreq df ON tf.term = df.term
      |  CROSS JOIN st
      |  GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score_ppm,
      |  row_number() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id) AS rnk
      |  FROM scored)
      |SELECT q.qid, coalesce(r.rnk, 0)::BIGINT AS gold_rank,
      |  coalesce(1000000 // r.rnk, 0)::BIGINT AS rr_ppm
      |FROM q LEFT JOIN r
      |  ON r.qid = q.qid AND r.doc_id = q.qid AND r.rnk <= $Bm25TopK""".stripMargin

  private val shardBalanceSql =
    s"""WITH t AS (SELECT doc_id, len($toksSql)::BIGINT AS nt FROM documents),
      |r AS (SELECT doc_id, nt,
      |    row_number() OVER (ORDER BY nt DESC, doc_id) AS rnk FROM t),
      |a AS (SELECT (rnk - 1) % $NShards AS shard, count(*) AS n_docs,
      |    sum(nt)::BIGINT AS tokens FROM r GROUP BY 1),
      |tot AS (SELECT sum(tokens)::BIGINT AS tt FROM a)
      |SELECT shard, n_docs, tokens,
      |  (tokens * $NShards * 1000000) // tt AS balance_ppm
      |FROM a, tot""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_retrieval_eval" -> retrievalEvalSql,
    "q_shard_balance" -> shardBalanceSql,
    "q_group_quantiles" -> groupQuantilesSql,
    "q_mad_outliers" -> madOutliersSql,
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT $toksSql AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS term FROM tok),
        |n AS (SELECT count(*) AS n FROM bg),
        |c AS (SELECT term, count(*)::BIGINT AS cnt FROM bg GROUP BY term)
        |SELECT c.term, c.cnt, (c.cnt * 1000000) // n.n AS share_ppm
        |FROM c CROSS JOIN n WHERE c.cnt * $HhShare >= n.n""".stripMargin,
    "q_bm25_search" -> {
      val qvals = Bm25Queries
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"""WITH q AS (SELECT * FROM (VALUES $qvals) AS v(qid, qtext)),
        |qt AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
        |tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
        |  (SELECT sum(dl)::DOUBLE FROM dl) AS tot_dl),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    sum(round(((st.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
        |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
        |          / (st.tot_dl / st.n_docs)))) * 1000000.0, 0)::BIGINT)::BIGINT
        |      AS score_ppm
        |  FROM tf JOIN qt ON tf.term = qt.term
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfreq df ON tf.term = df.term
        |  CROSS JOIN st
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score_ppm,
        |  row_number() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id) AS rnk
        |  FROM scored)
        |SELECT qid, doc_id, score_ppm, rnk
        |FROM r WHERE rnk <= $Bm25TopK""".stripMargin
    },
    "q_rrf_fusion" -> {
      val qvals = Bm25Queries
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"""WITH q AS (SELECT * FROM (VALUES $qvals) AS v(qid, qtext)),
        |qt0 AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
        |qt AS (SELECT qid, term, count(*)::BIGINT AS qtf FROM qt0 GROUP BY 1, 2),
        |tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
        |  (SELECT sum(dl)::DOUBLE FROM dl) AS tot_dl),
        |bm_scored AS (
        |  SELECT qt0.qid, tf.doc_id,
        |    sum(round(((st.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
        |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
        |          / (st.tot_dl / st.n_docs)))) * 1000000.0, 0)::BIGINT)::BIGINT
        |      AS score_ppm
        |  FROM tf JOIN qt0 ON tf.term = qt0.term
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfreq df ON tf.term = df.term
        |  CROSS JOIN st
        |  GROUP BY 1, 2),
        |bm AS (SELECT qid, doc_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id)
        |    AS rnk FROM bm_scored),
        |ov_scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    sum(round(((st.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
        |      * 1000000.0, 0)::BIGINT * least(qt.qtf, tf.tf))::BIGINT
        |      AS score_ppm
        |  FROM tf JOIN qt ON tf.term = qt.term
        |  JOIN dfreq df ON tf.term = df.term
        |  CROSS JOIN st
        |  GROUP BY 1, 2),
        |ov AS (SELECT qid, doc_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id)
        |    AS rnk FROM ov_scored),
        |fused AS (
        |  SELECT coalesce(a.qid, b.qid) AS qid,
        |    coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    coalesce(a.rnk, 0)::BIGINT AS rnk_bm25,
        |    coalesce(b.rnk, 0)::BIGINT AS rnk_overlap
        |  FROM (SELECT * FROM bm WHERE rnk <= $Bm25TopK) a
        |  FULL OUTER JOIN (SELECT * FROM ov WHERE rnk <= $Bm25TopK) b
        |    ON a.qid = b.qid AND a.doc_id = b.doc_id),
        |sc AS (SELECT qid, doc_id, rnk_bm25, rnk_overlap,
        |  ((CASE WHEN rnk_bm25 > 0 THEN 1000000 // ($RrfK + rnk_bm25)
        |     ELSE 0 END)
        |   + (CASE WHEN rnk_overlap > 0 THEN 1000000 // ($RrfK + rnk_overlap)
        |     ELSE 0 END))::BIGINT AS rrf_ppm
        |  FROM fused)
        |SELECT qid, doc_id, rnk_bm25, rnk_overlap, rrf_ppm,
        |  row_number() OVER (PARTITION BY qid ORDER BY rrf_ppm DESC, doc_id)::BIGINT
        |    AS fused_rnk
        |FROM sc QUALIFY fused_rnk <= $Bm25TopK""".stripMargin
    },
    "q_url_normalize" -> {
      val blocked = HostBlocklist.map(h => s"'$h'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
        |    'HttpS://WwW.' || source || '.ExAmple.COM:443/' || lang || '/doc/'
        |      || (doc_id % 64) || '?utm_source=feed&ref=r' || (doc_id % 7)
        |      || '&pref=keep'
        |      || '&page=' || (doc_id % 64) || '#s' || (doc_id % 5) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |      ':443$$', ''), '^www\\.', '') AS host
        |  FROM u),
        |c AS (SELECT doc_id, url, host,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' || host ||
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
        |        '([?&])(?:utm_[a-z_]+|ref)=[^&#]*', '\\1', 'g'),
        |        '([?&])&+', '\\1', 'g'), '[?&]$$', '') AS canon_url
        |  FROM h)
        |SELECT doc_id, url, canon_url, host,
        |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
        |  host IN ($blocked) AS blocked,
        |  row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) AS dup_rank
        |FROM c""".stripMargin
    },
    "q_domain_flags" -> {
      val blocked = HostBlocklist.map(h => s"'$h'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
        |    'HttpS://WwW.' || source || '.ExAmple.COM:443/' || lang || '/doc/'
        |      || (doc_id % 64) || '?utm_source=feed&ref=r' || (doc_id % 7)
        |      || '&pref=keep'
        |      || '&page=' || (doc_id % 64) || '#s' || (doc_id % 5) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |      ':443$$', ''), '^www\\.', '') AS host
        |  FROM u),
        |c AS (SELECT doc_id, host,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' || host ||
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
        |        '([?&])(?:utm_[a-z_]+|ref)=[^&#]*', '\\1', 'g'),
        |        '([?&])&+', '\\1', 'g'), '[?&]$$', '') AS canon_url
        |  FROM h),
        |r AS (SELECT doc_id, host, host IN ($blocked) AS blocked,
        |    row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
        |      AS dup_rank
        |  FROM c),
        |qs AS (${TextAnalysis.qualityScoreSql}),
        |dq AS (SELECT r.doc_id, r.host, r.blocked, r.dup_rank,
        |    round(qs.quality_score * 1000000)::BIGINT AS q_ppm
        |  FROM r JOIN qs ON r.doc_id = qs.doc_id),
        |dom AS (SELECT host, count(*)::BIGINT AS n_docs,
        |    (sum(q_ppm) // count(*))::BIGINT AS mean_q_ppm,
        |    (sum(CASE WHEN dup_rank > 1 THEN 1 ELSE 0 END) * 1000000
        |      // count(*))::BIGINT AS dup_ppm
        |  FROM dq GROUP BY 1),
        |f AS (SELECT *, (mean_q_ppm < $DomainQFloor
        |    OR dup_ppm > $DomainDupCap) AS domain_flagged FROM dom)
        |SELECT dq.doc_id, dq.host, dq.q_ppm, f.n_docs, f.mean_q_ppm,
        |  f.dup_ppm, f.domain_flagged,
        |  (NOT f.domain_flagged AND NOT dq.blocked) AS kept
        |FROM dq JOIN f ON dq.host = f.host""".stripMargin
    },
    "q_word_blocklist" -> {
      val banned = BannedWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id,
        |    list_filter($toksSql, t -> t IN ($banned)) AS hits
        |  FROM documents)
        |SELECT doc_id, len(hits)::BIGINT AS n_hits, hits[1] AS first_bad,
        |  len(hits) = 0 AS kept
        |FROM t""".stripMargin
    },
    "q_sft_render" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
        |p AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |    array_to_string(t[1 : len(t) // 5], ' ') AS sys,
        |    array_to_string(t[len(t) // 5 + 1 : 3 * (len(t) // 5)], ' ') AS usr,
        |    array_to_string(t[3 * (len(t) // 5) + 1 : len(t)], ' ') AS asst
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  ('0x' || substr(md5('<|system|>' || sys || '<|user|>' || usr
        |    || '<|assistant|>' || asst || '<|end|>'), 1, 12))::BIGINT
        |    AS render_hash,
        |  (length(sys) + length(usr) + 31)::BIGINT AS mask_start,
        |  (length(sys) + length(usr) + length(asst) + 31)::BIGINT AS mask_end
        |FROM p""".stripMargin,
    "q_epoch_shuffle" ->
      s"""WITH b AS (SELECT greatest($ShuffleMinBuckets,
        |    (count(*) + ${ShuffleTargetRows - 1}) // $ShuffleTargetRows)
        |    AS buckets FROM documents),
        |e AS (SELECT doc_id, epoch FROM documents
        |  CROSS JOIN (SELECT unnest([${(0 until ShuffleEpochs).mkString(", ")}]) AS epoch)),
        |k AS (SELECT epoch, doc_id, buckets,
        |    ('0x' || substr(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
        |      1, 12))::BIGINT AS k
        |  FROM e CROSS JOIN b)
        |SELECT epoch, doc_id,
        |  row_number() OVER (PARTITION BY epoch
        |    ORDER BY k % buckets, k, doc_id) - 1 AS position
        |FROM k""".stripMargin,
    "q_dataset_card" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |vc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
        |hashes AS (SELECT ('0x' || substr(md5(text), 1, 12))::BIGINT AS h
        |  FROM documents),
        |dup AS (SELECT sum(c - 1)::BIGINT AS n FROM
        |  (SELECT h, count(*) AS c FROM hashes GROUP BY 1)),
        |lang AS (SELECT count(*)::BIGINT AS c FROM documents GROUP BY lang
        |  ORDER BY c DESC, lang LIMIT 1)
        |SELECT 'n_docs' AS metric, count(*)::BIGINT AS value FROM documents
        |UNION ALL SELECT 'n_chars', sum(n_chars)::BIGINT FROM documents
        |UNION ALL SELECT 'n_tokens', count(*)::BIGINT FROM tok
        |UNION ALL SELECT 'n_vocab', count(*)::BIGINT FROM vc
        |UNION ALL SELECT 'n_hapax',
        |  sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT FROM vc
        |UNION ALL SELECT 'n_exact_dup_docs', n FROM dup
        |UNION ALL SELECT 'top_lang_docs', c FROM lang
        |UNION ALL SELECT 'mean_doc_tokens_ppm',
        |  ((SELECT count(*) FROM tok) * 1000000)
        |    // (SELECT count(*) FROM documents)""".stripMargin,
    "q_corpus_diff" ->
      """WITH old AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS old_hash
        |  FROM documents WHERE doc_id % 10 != 0),
        |neu AS (SELECT doc_id,
        |    ('0x' || substr(md5(CASE WHEN doc_id % 7 = 0
        |        THEN text || ' edited' ELSE text END), 1, 12))::BIGINT AS new_hash
        |  FROM documents WHERE doc_id % 10 != 1)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN old.old_hash IS NULL THEN 'added'
        |       WHEN neu.new_hash IS NULL THEN 'removed'
        |       WHEN old.old_hash != neu.new_hash THEN 'changed'
        |       ELSE 'same' END AS verdict
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id""".stripMargin,
    "q_delta_release" ->
      s"""WITH old AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS old_hash
        |  FROM documents WHERE doc_id % 10 != 0),
        |neu AS (SELECT doc_id,
        |    ('0x' || substr(md5(CASE WHEN doc_id % 7 = 0
        |        THEN text || ' edited' ELSE text END), 1, 12))::BIGINT AS new_hash
        |  FROM documents WHERE doc_id % 10 != 1),
        |d AS (SELECT old.old_hash, neu.new_hash
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id),
        |ev AS (
        |  SELECT new_hash % $NShards AS shard, new_hash AS ship_h,
        |    NULL::BIGINT AS tomb_h, 0::BIGINT AS same
        |  FROM d WHERE new_hash IS NOT NULL
        |    AND (old_hash IS NULL OR old_hash != new_hash)
        |  UNION ALL
        |  SELECT old_hash % $NShards, NULL, old_hash, 0
        |  FROM d WHERE old_hash IS NOT NULL
        |    AND (new_hash IS NULL OR old_hash != new_hash)
        |  UNION ALL
        |  SELECT new_hash % $NShards, NULL, NULL, 1
        |  FROM d WHERE old_hash = new_hash)
        |SELECT shard, count(ship_h)::BIGINT AS n_ship,
        |  coalesce(bit_xor(ship_h), 0)::BIGINT AS ship_xor,
        |  count(tomb_h)::BIGINT AS n_tombstone,
        |  coalesce(bit_xor(tomb_h), 0)::BIGINT AS tomb_xor,
        |  sum(same)::BIGINT AS n_resident
        |FROM ev GROUP BY 1""".stripMargin,
    "q_c4_lines" -> {
      val banned = BannedWords.map(w => s"'$w'").mkString(", ")
      s"""WITH tt AS (SELECT doc_id, $toksSql AS t FROM documents),
        |l0 AS (SELECT doc_id, t,
        |    unnest(range(0, greatest(1, (len(t) + ${LineWords - 1}) // $LineWords)))
        |      AS line_no
        |  FROM tt),
        |l AS (SELECT doc_id, line_no,
        |    array_to_string(
        |      t[line_no * $LineWords + 1 :
        |        least(line_no * $LineWords + $LineWords, len(t))], ' ') AS line
        |  FROM l0),
        |v AS (SELECT doc_id, line_no, line,
        |    len(string_split(line, ' '))::BIGINT AS n_words,
        |    len(list_filter(string_split(line, ' '),
        |      w -> w IN ($banned))) > 0 AS banned
        |  FROM l),
        |r AS (SELECT *, n_words >= $LineMinWords AND NOT banned AS rule_ok,
        |    ('0x' || substr(md5(line), 1, 12))::BIGINT AS h FROM v),
        |f AS (SELECT h, doc_id AS f_doc, line_no AS f_line FROM
        |    (SELECT h, doc_id, line_no, row_number()
        |        OVER (PARTITION BY h ORDER BY doc_id, line_no) AS rn
        |      FROM r WHERE rule_ok) WHERE rn = 1)
        |SELECT r.doc_id, r.line_no::BIGINT AS line_no, r.n_words,
        |  CASE WHEN r.n_words < $LineMinWords THEN 'short'
        |       WHEN r.banned THEN 'banned'
        |       WHEN r.doc_id != f.f_doc OR r.line_no != f.f_line THEN 'dup'
        |       ELSE 'kept' END AS verdict
        |FROM r LEFT JOIN f ON r.h = f.h""".stripMargin
    },
    "q_boilerplate" ->
      s"""WITH tt AS (SELECT doc_id, $toksSql AS t FROM documents),
        |l0 AS (SELECT doc_id, t,
        |    unnest(range(0, greatest(1, (len(t) + ${LineWords - 1}) // $LineWords)))
        |      AS line_no
        |  FROM tt),
        |l AS (SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(
        |      t[line_no * $LineWords + 1 :
        |        least(line_no * $LineWords + $LineWords, len(t))], ' ')),
        |      1, 12))::BIGINT AS h
        |  FROM l0),
        |dfreq AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS docs_with
        |  FROM l GROUP BY h)
        |SELECT doc_id, count(*)::BIGINT AS n_lines,
        |  sum(CASE WHEN docs_with > $BoilerDf THEN 1 ELSE 0 END)::BIGINT
        |    AS n_boiler,
        |  ((sum(CASE WHEN docs_with > $BoilerDf THEN 1 ELSE 0 END)::BIGINT
        |    * 1000000) // count(*))::BIGINT AS boiler_ppm
        |FROM l JOIN dfreq USING (h) GROUP BY doc_id""".stripMargin,
    "q_chunk_windows" ->
      s"""WITH tt AS (SELECT doc_id, $toksSql AS t FROM documents),
        |c0 AS (SELECT doc_id, t,
        |    unnest(range(0, CASE WHEN len(t) <= $ChunkW THEN 1
        |      ELSE 1 + (len(t) - $ChunkW + ${ChunkS - 1}) // $ChunkS END))
        |      AS chunk_id
        |  FROM tt)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  (chunk_id * $ChunkS)::BIGINT AS start_tok,
        |  least($ChunkW, len(t) - chunk_id * $ChunkS)::BIGINT AS n_tok,
        |  ('0x' || substr(md5(array_to_string(
        |    t[chunk_id * $ChunkS + 1 :
        |      least(chunk_id * $ChunkS + $ChunkW, len(t))], ' ')),
        |    1, 12))::BIGINT AS chunk_hash
        |FROM c0""".stripMargin,
    "q_shard_manifest" ->
      s"""WITH h AS (SELECT ('0x' || substr(md5(text), 1, 12))::BIGINT AS h,
        |    len($toksSql)::BIGINT AS nt
        |  FROM documents)
        |SELECT h % $NShards AS shard, count(*)::BIGINT AS n_docs,
        |  sum(nt)::BIGINT AS n_tokens, bit_xor(h)::BIGINT AS content_xor
        |FROM h GROUP BY 1""".stripMargin,
    "q_embed_cov" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      e -> round(e::DOUBLE * 1000000.0, 0)::BIGINT) AS q
        |  FROM embeddings),
        |ex AS (SELECT vec_id, i, q[i + 1] AS qi
        |  FROM q CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
        |s AS (SELECT a.i AS i, b.i AS j,
        |    sum(a.qi * b.qi)::BIGINT AS s_ij
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2),
        |m AS (SELECT i, sum(qi)::BIGINT AS s_i, count(*)::BIGINT AS n
        |  FROM ex GROUP BY i)
        |SELECT s.i::INT AS i, s.j::INT AS j,
        |  round((s.s_ij::DOUBLE / mi.n
        |    - (mi.s_i::DOUBLE / mi.n) * (mj.s_i::DOUBLE / mj.n)) / 1e12, 6)
        |    + 0.0 AS cov
        |FROM s JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i""".stripMargin)
}

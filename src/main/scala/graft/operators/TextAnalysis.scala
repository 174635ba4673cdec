package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoRegistry.{cut, shared}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Text analysis for training-data curation: language-ID, quality
  * scoring, token counting, document fingerprinting, multimodal
  * metadata. All narrow single-pass transforms — no shuffle, fully
  * codegen'd, trivially horizontal at 100 TB.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword
    * language-ID heuristic.
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "es" -> Seq("el", "y", "de", "que", "los", "en", "se", "una", "por", "con"))

  private def hitRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))) / size(toks)

  /** Stopword-ratio heuristic language ID over any documents frame
    * (extracted from [[qLangid]] so the NB upgrade's spec can race
    * both classifiers on the same augmented fixture).
    */
  def langidHeuristic(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("en_score", hitRatio(toks, Stopwords(0)._2))
      .withColumn("fr_score", hitRatio(toks, Stopwords(1)._2))
      .withColumn("de_score", hitRatio(toks, Stopwords(2)._2))
      .withColumn("es_score", hitRatio(toks, Stopwords(3)._2))
    scored.select(col("doc_id"), col("lang").as("labeled_lang"), col("n_tokens"),
      round(col("en_score"), 6).as("en_score"),
      round(col("fr_score"), 6).as("fr_score"),
      round(col("de_score"), 6).as("de_score"),
      round(col("es_score"), 6).as("es_score"),
      when(col("en_score") >= col("fr_score") && col("en_score") >= col("de_score")
        && col("en_score") >= col("es_score"), "en")
        .when(col("fr_score") >= col("de_score") && col("fr_score") >= col("es_score"), "fr")
        .when(col("de_score") >= col("es_score"), "de")
        .otherwise("es").as("pred_lang"))
  }

  def qLangid(s: SparkSession, dir: String): DataFrame =
    langidHeuristic(Tables.documents(s, dir))

  // --- NB-trained language ID (char trigrams) ---------------------------

  /** Feature-hash buckets / scored-prefix chars / every-3rd-doc-is-a-
    * training-seed for the NB language classifier.
    */
  val LangIdBuckets = 4096L
  val LangIdMaxChars = 240
  val LangIdSeedMod = 3L

  /** Alphabetical label set (argmax tie-break order). */
  val LangIdLangs = Seq("de", "en", "es", "fr", "zh")

  /** Per-language marker prose for the harness fixture — the
    * augment-in-the-harness pattern (qDsir/qQualityClassifier): the
    * synthetic corpus draws every doc from one shared English-ish
    * token pool regardless of its `lang` label, so the fixture
    * prepends a short passage of language-distinctive words. None of
    * these words appear in [[Stopwords]] — a stopword-ratio
    * heuristic gains NOTHING from them (it keeps predicting from the
    * shared base text, i.e. mostly 'en'), while char-trigram NB
    * learns their orthography from the seed docs; that asymmetry is
    * what the beats-the-heuristic spec measures.
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "de" -> "dieses gebäude wurde häufig gemütlich zwischen größeren straßen gebaut",
    "en" -> "quick committee working through notable research findings overall quarterly",
    "es" -> "aquí señalamos varias cuestiones añadidas según aquellos años mejores",
    "fr" -> "ceci présente déjà quelques réponses générales après plusieurs années précises",
    "zh" -> "shuju xitong chaxun fenxi jieguo moxing fangfa zhengli shiyong bianhua")

  /** floor(2·log2 x)+1 — the integer bit-length logarithm shared with
    * the NB quality classifier (Curation.nbQualityScores): both
    * engines evaluate it bit-identically, no transcendentals.
    */
  private def bitLog(x: Column): Column = length(bin(x * x)).cast("long")

  /** Prepend each doc's language marker (prepend, not append, so the
    * scored [[LangIdMaxChars]] prefix always contains it).
    */
  def langAugment(docs: DataFrame): DataFrame = {
    val marker = LangMarkers.foldLeft(lit("")) { case (acc, (l, m)) =>
      when(col("lang") === l, lit(m)).otherwise(acc)
    }
    docs.withColumn("text", concat(marker, lit(" "), col("text")))
  }

  /** Multinomial Naive Bayes language ID over hashed char trigrams —
    * the trained upgrade of the [[qLangid]] stopword heuristic
    * (fastText-style features on the NB quality-classifier
    * machinery; no external model). Features: trigram 48-bit hashes
    * of the lowercased first [[LangIdMaxChars]] chars, via the
    * native ShingleHash48 loop over a char split (the Spark 4.1
    * HOF-md5 workaround, and ~10× faster than a lambda chain).
    * Training: per-(lang, bucket) counts from the seed docs
    * (doc_id % [[LangIdSeedMod]] = 0) → ONE ≤[[LangIdBuckets]]-row
    * table pivoted to a column per language → broadcast. Scoring:
    * with flat priors, score_l = Σ_f L(c_lf + 1) − n_tri·L(tot_l +
    * V) in the integer bit-length log L(x) = floor(2·log2 x)+1; one
    * (doc_id)-keyed partial agg computes all five sums in a single
    * pass; argmax breaks ties toward the alphabetically first
    * language. Every doc is scored (seeds included, as sanity
    * anchors); `is_seed` marks the held-out split. Scale shape:
    * linear scan + one bounded broadcast + one partial agg — the
    * same plan at 100 TB.
    */
  def langIdNb(docs: DataFrame): DataFrame = {
    val tx = substring(lower(col("text")), 1, LangIdMaxChars)
    val chars = filter(split(tx, ""), c => c =!= "")
    val tok = docs.select(col("doc_id"), col("lang"),
        (col("doc_id") % LangIdSeedMod === 0).as("is_seed"),
        explode(shingleHashes(chars, 3)).as("h"))
      .withColumn("f", col("h") % LangIdBuckets).drop("h")
    val cntAggs = LangIdLangs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
    val cnt = tok.filter(col("is_seed"))
      .groupBy(col("f")).agg(cntAggs.head, cntAggs.tail: _*)
      .transform(cut)
    val totAggs = LangIdLangs.map(l =>
      bitLog(coalesce(sum(col(s"c_$l")), lit(0L)) + LangIdBuckets).as(s"n_$l"))
    val tot = cnt.agg(totAggs.head, totAggs.tail: _*)
    val scored = tok.join(broadcast(cnt), Seq("f"), "left")
      .na.fill(0L, LangIdLangs.map(l => s"c_$l"))
      .groupBy(col("doc_id"), col("lang"), col("is_seed"))
      .agg(count(lit(1)).as("n_tri"),
        LangIdLangs.map(l => sum(bitLog(col(s"c_$l") + 1)).as(s"s_$l")): _*)
      .crossJoin(broadcast(tot))
    val withScores = scored.select(
      Seq(col("doc_id"), col("lang").as("labeled_lang"), col("is_seed"),
        col("n_tri")) ++
        LangIdLangs.map(l =>
          (col(s"s_$l") - col("n_tri") * col(s"n_$l")).as(s"score_$l")): _*)
    val pred = LangIdLangs.init.zipWithIndex.foldRight(
        lit(LangIdLangs.last): Column) { case ((l, i), rest) =>
      val dominates = LangIdLangs.drop(i + 1)
        .map(r => col(s"score_$l") >= col(s"score_$r"))
        .reduce(_ && _)
      when(dominates, lit(l)).otherwise(rest)
    }
    withScores.withColumn("pred_lang", pred)
  }

  def qLangidNb(s: SparkSession, dir: String): DataFrame =
    langIdNb(langAugment(Tables.documents(s, dir)))

  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val punctRaw = (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))) /
      length(col("text"))
    val stopRaw = hitRatio(toks, Stopwords(0)._2)
    val meanLen = aggregate(transform(toks, t => length(t)), lit(0), _ + _) / nTok
    val tokScore = least(lit(1.0), nTok / lit(100.0))
    Tables.documents(s, dir).select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(meanLen, 6).as("mean_token_len"),
      round(punctRaw, 6).as("punct_ratio"),
      round(stopRaw, 6).as("stopword_ratio"),
      round(lit(0.3) * stopRaw + lit(0.3) * (lit(1.0) - punctRaw) + lit(0.4) * tokScore, 6)
        .as("quality_score"))
  }

  def qTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      expr("size(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0))")
        .cast("long").as("n_regex_tokens"),
      ceil(length(col("text")) / lit(4.0)).cast("long").as("est_bpe_tokens"))

  /** Polynomial rolling hash (base 31 mod 1e9+7) over the first 64
    * chars — the classic Rabin-Karp document fingerprint.
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr("""aggregate(
        filter(split(substring(lower(text), 1, 64), ''), c -> c <> ''),
        cast(0 as bigint),
        (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""").as("fingerprint"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): from each window of WinnowW consecutive
    * WinnowK-gram hashes, select the minimum (rightmost on ties) —
    * giving the classic guarantees [[qFingerprint]]'s single prefix
    * hash lacks: any shared run of WinnowK+WinnowW−1 tokens yields a
    * shared fingerprint (detection), and selected density is ~2/(w+1)
    * (compression). The argmin-with-tie-break rides ONE window-min
    * over a composite integer key `h·2¹⁵ + (2¹⁵−1−lpos)` (h is 48-bit
    * so the product stays inside int64).
    *
    * LONG DOCS — chunk-and-rekey, never truncate (r6 verdict #3):
    * the 2¹⁵ position budget is per SEGMENT, not per document. Docs
    * segment at stride = PosField − (WinnowW−1) with an overlap of
    * WinnowW−1 shingles, so every window of WinnowW consecutive
    * shingles lies wholly inside EXACTLY ONE segment (ownership is
    * contiguous and disjoint: segment i owns windows ending at
    * global positions [i·stride + W−1, (i+1)·stride + W−1) — the
    * arithmetic PropertySpec pins; precondition PosField ≥ 2·W−1 so
    * a segment overlaps only its immediate successor). Per-segment
    * selection with local
    * positions therefore equals unbounded-budget winnowing of the
    * whole doc (CurationSpec pins the equality on a >2¹⁵-shingle
    * doc), and the MOSS detection guarantee holds corpus-wide with
    * the same key arithmetic. Per-(doc, segment) windows only —
    * bounded by PosField, horizontal at 100 TB. Docs too short for a
    * full window fall back to their global minimum, so every
    * document carries at least one fingerprint.
    */
  val WinnowK = 3
  val WinnowW = 4
  val PosField = 32768L
  val WinnowStride = PosField - (WinnowW - 1)

  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val s = WinnowStride
    val base = docs.select(col("doc_id"),
      posexplode(shingleHashes(tokens(col("text")), WinnowK)).as(Seq("pos", "h")))
    // primary residence + the segment-overlap copies: the last W−1
    // positions of each segment re-appear at the head of the next
    // segment's window context (local positions ≥ stride)
    val primary = base.select(col("doc_id"),
      expr(s"pos div $s").cast("long").as("seg"),
      (col("pos") % s).cast("long").as("lpos"), col("h"))
    val overlap = base.filter(col("pos") % s < WinnowW - 1 && col("pos") >= s)
      .select(col("doc_id"),
        (expr(s"pos div $s") - 1).cast("long").as("seg"),
        (col("pos") % s + s).cast("long").as("lpos"), col("h"))
    val keyed = primary.unionAll(overlap)
      .withColumn("key", col("h") * PosField + (lit(PosField - 1) - col("lpos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("seg")).orderBy(col("lpos"))
      .rowsBetween(-(WinnowW - 1), 0)
    val sel = keyed
      .withColumn("mk", min(col("key")).over(w))
      .withColumn("wsz", count(lit(1)).over(w))
      .filter(col("wsz") === WinnowW)
      .select(col("doc_id"),
        (col("seg") * s + lit(PosField - 1) - col("mk") % PosField).as("sel_pos"),
        expr(s"mk div $PosField").as("sel_h"))
      .distinct()
    val short = keyed.groupBy(col("doc_id"))
      .agg(min(col("key")).as("mk"), count(lit(1)).as("n"))
      .filter(col("n") < WinnowW)
      .select(col("doc_id"),
        (lit(PosField - 1) - col("mk") % PosField).as("sel_pos"),
        expr(s"mk div $PosField").as("sel_h"))
    sel.unionAll(short)
  }

  /** Memoized winnow fingerprint table per (session, dir) —
    * [[qWinnowPairs]] re-ran the whole selection pass [[qWinnow]] had
    * already run (r15 optimization; a MOSS-style pipeline fingerprints
    * once and every overlap report reads the table). Lineage-cut with
    * the reliable-checkpoint discipline; both oracle outputs are
    * byte-identical.
    */
  private[graft] def winnowBase(s: SparkSession, dir: String): DataFrame =
    shared("winnowBase", s, dir)(cut(winnowFingerprints(Tables.documents(s, dir))))

  def qWinnow(s: SparkSession, dir: String): DataFrame =
    winnowBase(s, dir)

  /** Winnowing's payoff: document-overlap pairs ranked by how many
    * selected fingerprints they share — the MOSS report. Fingerprints
    * selected in more than WinnowHashCap documents are dropped before
    * pairing (boilerplate/stopword shingles carry no overlap signal
    * and would make the self-join quadratic in the hot hash —
    * the same cap discipline as the LSH/simhash buckets); surviving
    * hashes bound every bucket at WinnowHashCap², and the pair
    * aggregate shuffles bare (doc_a, doc_b) ids.
    */
  val WinnowHashCap = 32
  val WinnowMinShared = 2

  def winnowOverlapPairs(docs: DataFrame): DataFrame =
    winnowOverlapPairsFrom(winnowFingerprints(docs))

  /** [[winnowOverlapPairs]] over a PRECOMPUTED fingerprint table —
    * the serving form ([[qWinnowPairs]] rides [[winnowBase]]).
    */
  private[graft] def winnowOverlapPairsFrom(fps: DataFrame): DataFrame = {
    val fp = fps
      .select(col("doc_id"), col("sel_h")).distinct()
    val rare = fp.groupBy(col("sel_h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= WinnowHashCap).select(col("sel_h"))
    val small = fp.join(rare, "sel_h")
    small.toDF("sel_h", "doc_a")
      .join(small.toDF("sel_h", "doc_b"), "sel_h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowOverlapPairsFrom(winnowBase(s, dir))

  /** Long-doc winnow fixture (r6 verdict #3): a synthetic
    * 40 000-token doc (39 998 shingles > PosField = 32 768) rides
    * with a corpus slice, so selection spans two segments. Output is
    * a compact exact summary per doc: max_sel_pos > PosField for the
    * long doc is the tail-coverage proof (the pre-chunking code
    * dropped every shingle past the budget), and the checksum pins
    * the full selected set value-exactly against the oracle.
    */
  val WinnowLongId = 4000001L
  val WinnowLongPattern =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
  val WinnowLongReps = 4000

  def qWinnowLong(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
    val long = s.range(1).select(lit(WinnowLongId).as("doc_id"),
      repeat(lit(WinnowLongPattern), WinnowLongReps).as("text"))
    winnowFingerprints(base.unionAll(long))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        max(col("sel_pos")).as("max_sel_pos"),
        sum((col("sel_h") % 1000003L) * 131L + col("sel_pos")).as("fp_checksum"))
  }

  /** Multimodal metadata projection: the SQL-checkable face of
    * graft.operators.Multimodal (binary payloads + stubbed decode).
    */
  def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val h = tokenHash(col("text"))
    Tables.documents(s, dir)
      .withColumn("n_bytes", octet_length(col("text").cast("binary")).cast("long"))
      .select(
        col("doc_id"), col("n_bytes"),
        when(col("n_bytes") % 3 === 0, "image")
          .when(col("n_bytes") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        (h % 640 + 1).as("width"),
        (h % 480 + 1).as("height"),
        (col("n_bytes") % 30 + 1).as("frames"))
  }

  /** BM25-flavored tf-idf, top 3 terms per doc. The idf weight is
    * the rational BM25 form (N-df+0.5)/(df+0.5) rather than a log —
    * bit-reproducible across engines (log implementations may differ
    * in the last ulp between libm and the JVM).
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    // doc length = Σ cnt via a per-doc window: avoids re-exploding
    // the corpus and a second join (audited: 9 → 6 exchanges)
    val wLen = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("raw").desc, col("term"))
    tf.withColumn("len", sum(col("cnt")).over(wLen))
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("raw",
        (col("cnt") / col("len")) * ((col("n") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), round(col("raw"), 6).as("tfidf"), col("rnk"))
  }

  /** Repetition/diversity QC (Gopher-style repetition filters):
    * unique-word fraction (narrow), plus top-bigram share and
    * distinct-bigram fraction via the tf-idf explode+agg shape over
    * 48-bit bigram hashes (hashing stays inside the native shingle
    * expression — see GraftFunctions.shingleHashes). Docs with no
    * bigram (single token) drop out in both engines identically.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val uniq = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      round(size(array_distinct(tokens(col("text")))) / size(tokens(col("text"))), 6)
        .as("frac_unique_words"))
    val bi = docs.select(col("doc_id"),
      explode(shingleHashes(tokens(col("text")), 2)).as("h"))
    val top = bi.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("top_c") / col("n_bigrams"), 6).as("top_bigram_frac"),
        round(col("n_distinct") / col("n_bigrams"), 6).as("frac_unique_bigrams"))
    uniq.join(top, "doc_id")
  }

  /** Corpus-level vocabulary statistics: total/distinct token
    * counts, hapax legomena, and the modal term — the Zipf sanity
    * numbers a curation pipeline reports per corpus snapshot. Two
    * partial-aggregated shuffles on term; the top term rides a
    * TakeOrdered, never a global window.
    */
  def qVocab(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val stats = tf.agg(
      sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("vocab_size"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_count"))
    val top = tf.orderBy(col("cnt").desc, col("term")).limit(1)
      .select(col("term").as("top_term"), col("cnt").as("top_term_cnt"))
    stats.crossJoin(broadcast(top))
  }

  /** Benchmark decontamination: training docs sharing any word
    * 5-gram with the benchmark set, with overlap counts — the
    * standard train/test leakage screen. The benchmark's distinct
    * shingle set is small by construction and BROADCASTS; the
    * training corpus never shuffles on anything but its own doc_id
    * aggregate, so the screen scales with the corpus. Here every
    * 100th doc stands in as "benchmark" (it is trivially leaked into
    * the corpus, so the screen provably fires).
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchSh = docs.filter(col("doc_id") % 100 === 0)
      .select(explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .distinct()
    // no (doc_id, h) distinct before the broadcast semi-join (r16):
    // it exchanged the whole exploded corpus; countDistinct over the
    // broadcast-filtered matches computes the same number with only
    // matching rows crossing the aggregation exchange
    val trainSh = docs
      .select(col("doc_id"), explode(shingleHashes(tokens(col("text")), 5)).as("h"))
    trainSh.join(broadcast(benchSh), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_shingles"))
  }

  /** Contamination attribution BY BENCHMARK DOC — the report the
    * evaluation owner reads: for each benchmark document, how many
    * training docs share 5-gram shingles with it, how many of its
    * own distinct shingles are hit, and the hit share in ppm — the
    * decision input for "is this benchmark still usable, or is it
    * compromised corpus-wide?" (the reverse direction of
    * qDecontaminate, which attributes per TRAINING doc). Scale
    * shape: identical to the forward screen — the benchmark shingle
    * table (now keyed by bench doc) is bounded and BROADCASTS; the
    * training corpus scans once, and the rollup keys on bench_id,
    * so cost scales with the corpus, never corpus × benchmark.
    */
  def deconByBench(docs: DataFrame, bench: DataFrame): DataFrame = {
    val benchSh = bench
      .select(col("doc_id").as("bench_id"),
        explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .distinct()
    val benchSize = benchSh.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_shingles"))
    // no pre-join distinct (r16): the rollup already countDistincts,
    // so deduping the exploded corpus first was a redundant full
    // exchange before the broadcast filter
    val trainSh = docs
      .select(col("doc_id"), explode(shingleHashes(tokens(col("text")), 5)).as("h"))
    val hits = trainSh.join(broadcast(benchSh), "h")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_leaking_docs"),
        countDistinct(col("h")).as("n_hit_shingles"))
    benchSize.join(hits, Seq("bench_id"), "left")
      .na.fill(0L, Seq("n_leaking_docs", "n_hit_shingles"))
      .select(col("bench_id"), col("n_bench_shingles"),
        col("n_leaking_docs"), col("n_hit_shingles"),
        divFloor(col("n_hit_shingles") * 1000000L, col("n_bench_shingles"))
          .as("hit_frac_ppm"))
  }

  /** Harness: same split as qDecontaminate — every 100th doc is the
    * benchmark, trivially leaked into the corpus, so every benchmark
    * row provably reports full coverage (its own copy hits all its
    * shingles).
    */
  def qDeconByBench(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    deconByBench(docs, docs.filter(col("doc_id") % 100 === 0))
  }

  /** Thresholded contamination VERDICT — the PaLM/GPT-4-style
    * decision rule on top of [[qDecontaminate]]'s evidence: a doc is
    * `contaminated` when the share of its distinct 5-gram shingles
    * that also appear in the benchmark reaches ContamTauPpm
    * (published screens use 50–70% n-gram overlap; 50% here). The
    * overlap fraction stays INTEGER (ppm via `div`) so the verdict is
    * bit-reproducible cross-engine. Unlike the inner-join evidence
    * query, every document gets a row (left join), so the output is a
    * complete keep/drop manifest. Same scale shape as the screen: the
    * benchmark shingle set broadcasts, the corpus shuffles only on
    * its own doc_id rollup.
    */
  val ContamTauPpm = 500000L

  def qDecontaminateVerdict(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchSh = docs.filter(col("doc_id") % 100 === 0)
      .select(explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .distinct()
      .withColumn("hit", lit(1L))
    val trainSh = docs
      .select(col("doc_id"), explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .distinct()
    trainSh.join(broadcast(benchSh), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        expr("(1000000 * n_shared) div n_shingles").as("overlap_ppm"),
        when(expr("(1000000 * n_shared) div n_shingles") >= ContamTauPpm,
          "contaminated").otherwise("clean").as("verdict"))
  }

  /** Top-N vocabulary coverage per source — the tokenizer-sizing
    * number: what share of a source's token OCCURRENCES the top
    * VocabTopN corpus terms cover (1 − OOV rate under a truncated
    * vocab). Scale shape: one corpus-wide term count, a TakeOrdered
    * top-N (never a global window), the tiny vocab BROADCAST back
    * against the exploded corpus, one per-source rollup — the
    * corpus shuffles once, on the term key.
    */
  val VocabTopN = 10

  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val topN = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(VocabTopN)
      .select(col("term"), lit(1L).as("in_vocab"))
    tok.join(broadcast(topN), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in_vocab"))
      .select(col("source"), col("n_tokens"), col("n_in_vocab"),
        round(col("n_in_vocab").cast("double") / col("n_tokens").cast("double"), 6)
          .as("coverage"),
        round((col("n_tokens") - col("n_in_vocab")).cast("double")
          / col("n_tokens").cast("double"), 6).as("oov_rate"))
  }

  /** Bloom-prefiltered decontamination — [[qDecontaminate]]'s scale
    * path for when the "benchmark" side is itself corpus-sized
    * (corpus-vs-corpus leakage screens), so its exact distinct
    * shingle set can no longer broadcast. A Bloom filter over the
    * benchmark shingles (a few BITS per element — ~1.2 GB for 10⁹
    * shingles at 1% fpp, still broadcastable) prefilters the
    * training side MAP-SIDE, so the confirming equi-join shuffles
    * only the ~fpp·misses + true hits instead of every training
    * shingle. Bloom filters have no false negatives and the join
    * removes the false positives, so the output is IDENTICAL to the
    * exact screen — the spec pins it (the every-100th-doc "benchmark"
    * split lives in the HARNESS, not here — callers pass any
    * benchmark corpus). The membership test is the native
    * [[graft.functions.BloomExpressions.bloomMightContainLong]]
    * expression (r6 verdict #4): it runs inside whole-stage codegen
    * on the full-corpus-scan side — no per-row boxing, no UDF.
    */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    val benchSh = bench
      .select(explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .distinct()
    val bf = benchSh.stat.bloomFilter("h", expectedItems, fpp)
    // the prefilter sits ABOVE the distinct in source order so its
    // map-side position never depends on Catalyst choosing to push
    // the predicate below the Aggregate (it does today, but that
    // pushdown must not be load-bearing — r5 verdict finding #3)
    docs.select(col("doc_id"), explode(shingleHashes(tokens(col("text")), 5)).as("h"))
      .filter(graft.functions.BloomExpressions.bloomMightContainLong(col("h"), bf))
      .distinct()
      .join(benchSh, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Unigram language-model typicality score — the cheap stand-in
    * for perplexity filtering (CCNet-style): train the unigram model
    * on the corpus itself (term → count), then score each document
    * by the mean corpus frequency of its tokens. Atypical docs (rare
    * junk tokens, boilerplate alphabets, non-language noise) score
    * near zero; middle-of-the-distribution prose scores high. All
    * arithmetic stays exact until one final division per doc (sum of
    * long counts / (n_tokens · corpus_total)), so the number is
    * bit-reproducible. Scale shape: one corpus-wide term count
    * (partial-aggregated), one equi-join of exploded tokens against
    * it, one per-doc rollup — three shuffles, all content-keyed,
    * linear in corpus tokens. The rare-token fraction (share of
    * occurrences whose corpus count is 1) rides the same pass.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // cut the term-count model ONCE (r16): tf is consumed by the
    // corpus-total aggregate AND the scoring join — without the cut
    // the corpus token explode + count re-executed for each (the
    // model table is vocab-sized, the cheapest thing to pin here)
    val tf = cut(tok.groupBy(col("term")).agg(count(lit(1)).as("cnt")))
    val total = tf.agg(sum(col("cnt")).as("total"))
    tok.join(tf, "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_freq"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_rare"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
        round(col("sum_freq").cast("double") * lit(1000000.0)
          / col("n_tokens").cast("double") / col("total").cast("double"), 6)
          .as("typicality_ppm"),
        round(col("n_rare").cast("double") / col("n_tokens").cast("double"), 6)
          .as("rare_token_frac"))
  }

  def qLmScore(s: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(s, dir))

  /** CCNet-style perplexity bucketing: split the corpus into
    * head / middle / tail thirds by LM score (here [[lmScore]]'s
    * typicality — higher = more typical = head), the published recipe
    * for turning a quality score into training-mixture tiers. Cutoffs
    * are the exact n/3-th and 2n/3-th largest scores, computed WITHOUT
    * a corpus-wide sort or global window: one content-keyed aggregate
    * collapses the corpus to a (score → freq) HISTOGRAM, whose
    * cumulative counts ride a two-level distributed prefix sum — fine
    * prefixes via a window PARTITIONED by the integer-ppm coarse
    * bucket, coarse-bucket prefixes via a broadcast self-join over the
    * tiny coarse-total table (the juliennePredicates pattern). Every
    * downstream step is histogram-sized, not corpus-sized; the
    * per-doc bucket label is one broadcast of the 1-row cutoffs. Ties
    * at a cutoff all land in the higher bucket (value-threshold
    * semantics, as CCNet applies them), so bucket sizes are n/3 only
    * up to ties — the thresholds, not the counts, are the contract.
    * The score sub-plan feeds both the histogram and the final
    * labeling; a production pipeline materializes [[lmScore]] once
    * and runs everything after it histogram-sized.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    // cut the score frame ONCE (r16): it feeds the histogram, the
    // corpus count and the final labeling — three consumers, each of
    // which re-ran the whole lmScore train+score pipeline without it
    // (the "materialize lmScore once" posture the scaladoc promises)
    val scores = cut(lmScore(docs).select(col("doc_id"), col("typicality_ppm").as("t")))
    val hist = scores.groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .withColumn("coarse", floor(col("t")).cast("long"))
    val coarseTot = hist.groupBy(col("coarse")).agg(sum(col("freq")).as("ccnt"))
    val cPrefix = coarseTot.select(col("coarse"), col("ccnt"))
      .join(broadcast(coarseTot.select(col("coarse").as("hc"), col("ccnt").as("hn"))),
        col("hc") > col("coarse"), "left")
      .groupBy(col("coarse"))
      .agg(coalesce(sum(col("hn")), lit(0L)).as("cprefix"))
    val wFine = org.apache.spark.sql.expressions.Window
      .partitionBy(col("coarse")).orderBy(col("t").desc)
      .rowsBetween(Long.MinValue, 0)
    val ranked = hist
      .withColumn("fprefix", sum(col("freq")).over(wFine))
      .join(broadcast(cPrefix), "coarse")
      // rank_end(v) = exact count of docs with score >= v
      .withColumn("rank_end", col("cprefix") + col("fprefix"))
    val ks = scores.agg(count(lit(1)).as("n"))
      .select(expr("n div 3").as("k1"), expr("(2 * n) div 3").as("k2"))
    // k >= 1 guard: an under-3-doc corpus has k1 = 0 — no cutoff
    // exists, cuts stay null and every doc lands in "tail"
    val cuts = ranked.crossJoin(broadcast(ks))
      .agg(max(when(col("rank_end") >= col("k1") && col("k1") >= 1, col("t")))
        .as("head_cut"),
        max(when(col("rank_end") >= col("k2") && col("k2") >= 1, col("t")))
          .as("tail_cut"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("t").as("typicality_ppm"),
        col("head_cut"), col("tail_cut"),
        when(col("t") >= col("head_cut"), "head")
          .when(col("t") >= col("tail_cut"), "middle")
          .otherwise("tail").as("bucket"))
  }

  def qPplBuckets(s: SparkSession, dir: String): DataFrame =
    pplBuckets(Tables.documents(s, dir))

  /** Quality-tiered training mixture — the published compose of
    * [[pplBuckets]] with mixture planning (CCNet serves the head
    * preferentially; quality-tiered sampling in the LLaMA/FineWeb
    * lineage): per (source, quality-tier) cell, re-weight the
    * natural token share by a tier multiplier (head ×3, middle ×2,
    * tail ×1) and emit the target mixture share plus the boost each
    * cell gets over its natural share. All shares are integer ppm
    * over exact token counts — no float accumulates anywhere. Scale
    * shape: the bucketing's histogram machinery plus ONE extra
    * (source, bucket)-keyed aggregate over the corpus; the cell
    * table is O(sources × 3) and every join against it broadcasts.
    */
  val TierMult: Map[String, Long] = Map("head" -> 3L, "middle" -> 2L, "tail" -> 1L)

  def qTieredMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val buckets = pplBuckets(docs).select(col("doc_id"), col("bucket"))
    val cells = docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(buckets, Seq("doc_id"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("mult",
        when(col("bucket") === "head", TierMult("head"))
          .when(col("bucket") === "middle", TierMult("middle"))
          .otherwise(TierMult("tail")))
      .withColumn("wt", col("n_tokens") * col("mult"))
    // cells is consumed by the total and the final projection — cut
    // the (sources × 3)-sized frame so the corpus join + bucket
    // labeling run once (r16)
    val cellsC = cut(cells)
    val tot = cellsC.agg(sum(col("wt")).as("tot_wt"),
      sum(col("n_tokens")).as("tot_tokens"))
    cellsC.crossJoin(broadcast(tot))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_tokens"),
        col("mult"),
        expr("(1000000 * wt) div tot_wt").as("target_ppm"),
        expr("(1000000 * n_tokens) div tot_tokens").as("natural_ppm"))
      .withColumn("boost_ppm", expr("(1000000 * target_ppm) div natural_ppm"))
  }

  /** Bigram (conditional) LM typicality — the KenLM-shaped upgrade of
    * [[lmScore]]: score each document by the mean MLE transition
    * probability P(b|a) = cnt(a,b)/ctx(a) of its adjacent token
    * pairs, where ctx(a) counts bigrams STARTING with a (so the
    * conditional sums to 1 per context). Each per-pair ratio is
    * quantized to integer ppm BEFORE the per-doc sum — integer sums
    * are order-independent, so the distributed aggregate is
    * bit-reproducible where a float sum would depend on partition
    * order. Also emits the doc's weakest transition (min ppm — the
    * most surprising token join, a strong junk signal). Scale shape:
    * pair enumeration is a per-doc window (bounded by doc length),
    * then two content-keyed count aggregates and two equi-joins back
    * — linear in corpus tokens, no global ordering anywhere. Docs
    * under 2 tokens carry no bigram and drop out (both engines
    * agree).
    */
  def lmBigramScore(docs: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "a")))
      .withColumn("b", lead(col("a"), 1).over(wDoc))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("a"), col("b"))
    val bi = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ctx = bi.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    pairs.join(bi, Seq("a", "b")).join(ctx, Seq("a"))
      .withColumn("r", expr("(1000000 * cab) div ca"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r")).as("sum_ppm"),
        min(col("r")).as("min_transition_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("bigram_typicality_ppm"),
        col("min_transition_ppm"))
  }

  def qLmBigram(s: SparkSession, dir: String): DataFrame =
    lmBigramScore(Tables.documents(s, dir))

  /** Kneser-Ney-smoothed bigram typicality — the production
    * smoothing on [[lmBigramScore]]'s raw MLE (the standard KenLM
    * recipe): absolute discount D = 3/4 on every seen count, with
    * the freed mass re-spent on the CONTINUATION probability
    * P_cont(b) = N1+(·b)/|distinct bigrams| (how many contexts b
    * completes — the "San Francisco" fix: a word frequent only in
    * one collocation stops looking globally probable). Fixed-order
    * integer arithmetic so both engines agree bit-for-bit (D = 3/4
    * multiplied through):
    *   p_ppm(b|a) = (1e6·max(4·cab − 3, 0)) div (4·ca)
    *              + (3·N1+(a·)·pcont_ppm(b)) div (4·ca),
    *   pcont_ppm(b) = (1e6·N1+(·b)) div |bigram types|.
    * Every doc bigram is in the corpus counts (the corpus contains
    * the doc), so cab ≥ 1 and all operands stay positive — floor
    * and truncating integer division coincide. Scale shape: the
    * lmBigramScore plan plus one more content-keyed count (N1+(·b))
    * and a scalar broadcast (|bigram types|) — linear in corpus
    * tokens, no global ordering.
    */
  def lmKneserNeyScore(docs: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "a")))
      .withColumn("b", lead(col("a"), 1).over(wDoc))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("a"), col("b"))
    val bi = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ctx = bi.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1a"))
    val cont = bi.groupBy(col("b")).agg(count(lit(1)).as("n1b"))
    val nd = bi.agg(count(lit(1)).as("ndistinct"))
    pairs.join(bi, Seq("a", "b")).join(ctx, Seq("a")).join(cont, Seq("b"))
      .crossJoin(broadcast(nd))
      .withColumn("p", expr(
        "(1000000 * greatest(4 * cab - 3, 0)) div (4 * ca)" +
          " + (3 * n1a * ((1000000 * n1b) div ndistinct)) div (4 * ca)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p")).as("sum_ppm"),
        min(col("p")).as("min_transition_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("kn_typicality_ppm"),
        col("min_transition_ppm"))
  }

  def qLmKneserNey(s: SparkSession, dir: String): DataFrame =
    lmKneserNeyScore(Tables.documents(s, dir))

  /** Gopher-style character-repetition signals (Rae et al. Table A1
    * as reproduced in the open filtering stacks): per document, the
    * fraction of characters covered by (a) the most frequent token
    * n-gram and (b) all n-grams occurring more than once, for
    * n = 2 and 3. Conventions, stated because the published
    * description underspecifies them: character mass of an
    * occurrence = sum of its tokens' lengths (separators excluded);
    * overlapping occurrences are each counted (no positional union —
    * matching the common open implementations); the denominator is
    * the document's total token characters; the "top" n-gram is the
    * max count with ties broken toward the longer gram. All ratios
    * are integer ppm. Scale shape per n (r16): grams come off the
    * native [[graft.functions.NgramStrings]] row loop — a pure
    * function of the row, so the old posexplode + n-way
    * lead().over(partitionBy(doc_id)) pass (an Exchange + Sort per n
    * just to pair ADJACENT array elements, guide §2.1) is gone; one
    * (doc, gram)-keyed count and ONE per-doc rollup remain. With a
    * ''-joined gram, an occurrence's character mass is just
    * length(gram) (the sum of member token lengths — the separator
    * contributes nothing), so the gram's own length replaces the
    * carried clen; and the "top" gram's (count, length) is the
    * lexicographic max of (cnt, clen) — one max(struct) in the SAME
    * rollup instead of a counts⋈perDoc join-back + re-aggregation.
    */
  private def gramCharStats(docs: DataFrame, n: Int): DataFrame = {
    val counts = docs
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.ngramStrings(
          tokens(col("text")), n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        length(col("g")).cast("long").as("clen"))
    counts.groupBy(col("doc_id"))
      .agg(sum(when(col("cnt") >= 2, col("cnt") * col("clen")).otherwise(0L))
        .as(s"dup${n}_chars"),
        max(struct(col("cnt"), col("clen"))).as("top"))
      .select(col("doc_id"), col(s"dup${n}_chars"),
        (col("top.cnt") * col("top.clen")).as(s"top${n}_chars"))
  }

  def qRepChars(s: SparkSession, dir: String): DataFrame =
    qRepCharsOf(Tables.documents(s, dir))

  def qRepCharsOf(docs: DataFrame): DataFrame = {
    // total token chars = length of the ''-joined token array (the
    // separators the tokenizer removed contribute nothing): a scalar
    // projection instead of an explode + per-doc re-aggregation (r16)
    val docChars = docs
      .select(col("doc_id"),
        length(concat_ws("", tokens(col("text")))).cast("long").as("doc_chars"))
    docChars
      .join(gramCharStats(docs, 2), Seq("doc_id"))
      .join(gramCharStats(docs, 3), Seq("doc_id"))
      .select(col("doc_id"), col("doc_chars"),
        expr("(1000000 * top2_chars) div doc_chars").as("top2_frac_ppm"),
        expr("(1000000 * dup2_chars) div doc_chars").as("dup2_frac_ppm"),
        expr("(1000000 * top3_chars) div doc_chars").as("top3_frac_ppm"),
        expr("(1000000 * dup3_chars) div doc_chars").as("dup3_frac_ppm"))
  }

  /** One BPE (byte-pair-encoding) training step — the tokenizer-
    * training primitive: corpus-wide adjacent-symbol-pair counts, the
    * most frequent pair chosen as the merge, the merge applied, and
    * the pair counts re-derived. Works on the DISTINCT word vocabulary
    * weighted by word frequency (the classic BPE-training trick: the
    * corpus explodes once into a Zipf-small vocab table and every
    * subsequent pass is vocab-sized, not corpus-sized — at 100 TB the
    * only corpus-wide shuffle is the word count).
    *
    * Symbol sequences are space-separated strings built by a pure
    * regex (no HOF chains — Spark 4.1 mis-binds lambdas over chained
    * HOF string output, see GraftFunctions.shingleHashes); pair
    * enumeration is posexplode + a per-word lead() window (vocab
    * words are tiny window partitions). The merge applies via
    * leftmost non-overlapping string replace, which IS greedy BPE
    * merge order when all symbols are single characters ("a a a a"
    * -> "aa aa"), identical in Spark and DuckDB. Output: top
    * BpeTopPairs pairs by (cnt desc, lhs, rhs) before and after the
    * merge — both stages ride TakeOrdered, never a global window.
    */
  val BpeTopPairs = 20
  private def wordVocab(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  private def pairCounts(sym: DataFrame): DataFrame = {
    val wLead = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("pos"))
    sym.select(col("w"), col("n"), posexplode(split(col("s"), " ")).as(Seq("pos", "c")))
      .withColumn("nx", lead(col("c"), 1).over(wLead))
      .filter(col("nx").isNotNull)
      .groupBy(col("c").as("lhs"), col("nx").as("rhs"))
      .agg(sum(col("n")).as("cnt"))
  }

  private def topPairs(pairs: DataFrame, stage: String): DataFrame =
    pairs.orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(BpeTopPairs)
      .select(lit(stage).as("stage"), col("lhs"), col("rhs"), col("cnt"))

  def qBpeMerge(s: SparkSession, dir: String): DataFrame = {
    val sym = wordVocab(Tables.documents(s, dir))
      .withColumn("s", trim(regexp_replace(col("w"), "(.)", "$1 ")))
    val pre = pairCounts(sym)
    val top1 = pre.orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
      .select(col("lhs").as("m_lhs"), col("rhs").as("m_rhs"))
    val merged = sym.crossJoin(broadcast(top1))
      .withColumn("s",
        org.apache.spark.sql.functions.replace(col("s"),
          concat(col("m_lhs"), lit(" "), col("m_rhs")),
          concat(col("m_lhs"), col("m_rhs"))))
      .select(col("w"), col("n"), col("s"))
    topPairs(pre, "pre").unionAll(topPairs(pairCounts(merged), "post"))
  }

  /** Multi-merge BPE TRAINING (SURVEY §7 r5 pulled forward): learn
    * BpeTrainSteps merge rules in sequence. Once symbols are
    * multi-character, plain space-separated strings are unsafe — the
    * pair ("b","c") would substring-match inside "...ab c..." — and
    * RE2 (the oracle's regex engine) has no lookbehind to anchor on.
    * So every symbol is wrapped in U+0001 markers: an occurrence of
    * "<m>l<m> <m>r<m>" can only align on symbol
    * boundaries (inner text never contains the marker), leftmost
    * non-overlapping replace remains exactly greedy merge order, and
    * both engines agree byte for byte. Each round is vocab-sized
    * work; the symbol table is checkpointed per round so the loop's
    * lineage stays flat. Output: the learned rules
    * (step, lhs, rhs, cnt) — counts provably non-increasing, since a
    * merge-created symbol's pair counts never exceed its parent's.
    */
  val BpeTrainSteps = 8
  private val Mk = "\u0001"

  private def pairCountsMarked(sym: DataFrame): DataFrame =
    // Adjacent pairs by POSITION over the split array — not
    // lead().over(Window.partitionBy(w)): the window form shuffled
    // and per-word sorted the exploded symbol stream EVERY training
    // round (8 rounds × both trainers = 16 needless Exchange+Sort
    // pairs; guide §2.4 "remove shuffles outright"). sequence/
    // element_at stay inside whole-stage codegen and the pair
    // multiset is identical, so the partial agg is now the round's
    // only exchange.
    sym.select(col("n"), split(col("s"), " ").as("a"))
      .filter(size(col("a")) > 1)
      .select(col("n"), col("a"),
        explode(sequence(lit(1), size(col("a")) - 1)).as("i"))
      .groupBy(translate(element_at(col("a"), col("i")), Mk, "").as("lhs"),
        translate(element_at(col("a"), col("i") + 1), Mk, "").as("rhs"))
      .agg(sum(col("n")).as("cnt"))

  /** The training loop, also returning the FINAL symbol table (the
    * trained tokenizer applied to the vocabulary) — encode reuses it.
    */
  private def bpeTrainLoop(docs: DataFrame): (Seq[DataFrame], DataFrame) = {
    var sym = cut(wordVocab(docs)
      .withColumn("s", rtrim(regexp_replace(col("w"), "(.)", s"$Mk$$1$Mk "))))
    var steps: Seq[DataFrame] = Nil
    for (i <- 1 to BpeTrainSteps) {
      // the 1-row argmax is pinned: it is consumed TWICE (the next
      // round's broadcast AND the rules union), and unpinned each
      // consumer re-ran the round's whole pair-count pass (r16,
      // guide §5 lineage discipline)
      val top1 = cut(pairCountsMarked(sym)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1))
      steps = steps :+ top1.select(lit(i).as("step"), col("lhs"), col("rhs"), col("cnt"))
      sym = cut(sym
        .crossJoin(broadcast(top1.select(col("lhs").as("m_lhs"), col("rhs").as("m_rhs"))))
        .withColumn("s", org.apache.spark.sql.functions.replace(col("s"),
          concat(lit(Mk), col("m_lhs"), lit(Mk + " " + Mk), col("m_rhs"), lit(Mk)),
          concat(lit(Mk), col("m_lhs"), col("m_rhs"), lit(Mk))))
        .select(col("w"), col("n"), col("s")))
    }
    (steps, sym)
  }

  /** Memoized BPE training per (session, dir) — the louvainBase
    * discipline on the tokenizer family (r15 optimization):
    * [[qBpeTrain]], [[qBpeEncode]], [[qFertility]] and (through
    * fertility) [[qTokenizerRace]] all consume the SAME
    * [[BpeTrainSteps]]-round training loop over the same corpus, and
    * each was re-running it — a production tokenizer is trained once
    * and applied everywhere. The merge-step union is lineage-cut (each
    * step frame otherwise re-executes its round's pair-count pass per
    * consumer); the final symbol table is already pinned by the loop.
    * Every process invocation still trains from the parquet inputs;
    * all consumer oracle outputs are byte-identical.
    */
  private def bpeBase(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    shared("bpeBase", s, dir) {
      val (steps, sym) = bpeTrainLoop(Tables.documents(s, dir))
      (cut(steps.reduce(_ unionAll _)), sym)
    }

  def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeBase(s, dir)._1

  /** BPE ENCODE — apply the trained tokenizer to the corpus and
    * measure what it bought: per-doc symbol counts and the
    * chars-per-symbol compression ratio (1.0 = no merges applied,
    * higher = fewer symbols per character — the number a tokenizer
    * team actually tracks). Scale shape: the merge rules are applied
    * to the VOCABULARY (distinct words — vocab-sized work, exactly
    * the training loop's final symbol table), and per-doc stats come
    * from one equi-join of exploded doc tokens against that encoded
    * vocab plus one partial-aggregated rollup — the corpus is never
    * re-tokenized per rule.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sym = bpeBase(s, dir)._2
    val vocabEnc = sym.select(col("w"),
      size(split(col("s"), " ")).cast("long").as("n_sym"),
      length(col("w")).cast("long").as("n_chars"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(vocabEnc, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_sym")).as("n_symbols"),
        sum(col("n_chars")).as("n_chars"),
        round(sum(col("n_chars")).cast("double")
          / sum(col("n_sym")).cast("double"), 6).as("chars_per_symbol"))
  }

  /** Integer floor division for nonnegative operands (both engines
    * floor identically; the ppm discipline of qDsir/qLmScore).
    */
  private def divFloor(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  // --- WordPiece greedy encode ------------------------------------------

  /** WordPiece knobs: word-length cap (bounds the greedy rounds —
    * every round consumes ≥ 1 char because every single char of the
    * word set is in the vocab), max piece length, and the trained
    * n-gram budget.
    */
  val WpMaxWordLen = 16
  val WpMaxPiece = 4
  val WpVocabN = 512

  /** WordPiece-style vocabulary over a (w, n) distinct-word frame:
    * ALL single characters of the word set (totality — greedy encode
    * can never strand) plus the [[WpVocabN]] highest-occurrence-mass
    * character n-grams of length 2..[[WpMaxPiece]] (ties by string,
    * the deterministic TakeOrdered). Substrings are produced by a
    * two-step explode + `substring(w, i, L)` — NOT a string-building
    * HOF (the Spark 4.1 corrupted-UTF8String pitfall
    * GraftFunctions.shingleHashes documents).
    */
  private[graft] def wordpieceVocab(words: DataFrame,
                                        budget: Int = WpVocabN): DataFrame = {
    val chars = words
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(expr("substring(w, i, 1)").as("piece")).distinct()
    val grams = words
      .select(col("w"), col("n"),
        explode(sequence(lit(2), lit(WpMaxPiece))).as("L"))
      .filter(length(col("w")) >= col("L"))
      .select(col("w"), col("n"), col("L"),
        explode(sequence(lit(1), length(col("w")) - col("L") + 1)).as("i"))
      .select(expr("substring(w, i, L)").as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(budget)
    chars.unionAll(grams.select(col("piece"))).distinct()
  }

  /** Held-out fertility (pieces per word occurrence, ppm) of a vocab
    * over a (w, n) word frame — the race metric for
    * trained-vs-frequency vocabularies.
    */
  private[graft] def wpFertilityOf(words: DataFrame, vocab: DataFrame,
                                       maxPiece: Int): Long = {
    val enc = wordpieceEncodeWith(words, vocab, maxPiece)
    val r = words.join(enc, Seq("w"))
      .agg(sum(col("n") * col("n_pieces")).as("p"), sum(col("n")).as("o"))
      .head
    r.getLong(0) * 1000000L / r.getLong(1)
  }

  /** Greedy longest-prefix-match segmentation (WordPiece INFERENCE,
    * Devlin et al. 2019 / the MaxMatch algorithm) of every distinct
    * word under [[wordpieceVocab]]: per round, each unfinished word
    * proposes its ≤ [[WpMaxPiece]] prefixes at the cursor (bounded
    * explode), a broadcast equi-join against the vocab keeps the
    * matches, and max(L) advances the cursor — [[WpMaxWordLen]]
    * synchronous rounds, so the unrolled oracle agrees exactly.
    * State is one row per DISTINCT word (vocabulary-sized, the
    * qBpeEncode discipline: per-doc costs are one equi-join against
    * the encoded vocab, never per-occurrence segmentation).
    */
  private def wordpieceEncode(words: DataFrame): DataFrame =
    wordpieceEncodeWith(words, wordpieceVocab(words), WpMaxPiece)

  /** [[wordpieceEncode]] under a CALLER-SUPPLIED vocabulary (the seam
    * the trained-vs-frequency fertility race runs through; maxPiece
    * bounds the per-round prefix explode — trained pieces compound
    * past [[WpMaxPiece]], so the caller passes its vocab's cap).
    */
  private[graft] def wordpieceEncodeWith(words: DataFrame,
                                             vocabIn: DataFrame,
                                             maxPiece: Int): DataFrame = {
    // the trained vocab is pinned ONCE — every round's broadcast join
    // would otherwise re-run the gram-count + TakeOrdered ladder
    val vocab = cut(vocabIn.withColumnRenamed("piece", "vp"))
    var state = cut(words.select(col("w"), length(col("w")).as("len"),
      lit(0).as("pos"), lit(0L).as("np")))
    var r = 0
    var done = false
    // early exit once every word is consumed: the remaining rounds
    // are no-ops, so the output equals the oracle's full unroll
    while (r < WpMaxWordLen && !done) {
      r += 1
      val cand = state.filter(col("pos") < col("len"))
        .select(col("w"), col("pos"),
          explode(sequence(lit(1), lit(maxPiece))).as("L"))
        .filter(col("pos") + col("L") <= col("len"))
        .select(col("w"), col("L"), expr("substring(w, pos + 1, L)").as("piece"))
      val adv = cand.join(broadcast(vocab), col("piece") === col("vp"))
        .groupBy(col("w")).agg(max(col("L")).as("adv"))
      state = cut(state.join(adv, Seq("w"), "left")
        .select(col("w"), col("len"),
          when(col("pos") < col("len"),
            col("pos") + coalesce(col("adv"), lit(1))).otherwise(col("pos")).as("pos"),
          when(col("pos") < col("len"), col("np") + 1L)
            .otherwise(col("np")).as("np")))
      done = state.filter(col("pos") < col("len")).limit(1).count() == 0
    }
    state.select(col("w"), col("np").as("n_pieces"),
      col("len").cast("long").as("n_chars"))
  }

  // --- WordPiece vocabulary TRAINING (r12 verdict #5) ---------------------

  /** Likelihood-training knobs: merge count (the oracle unrolls this
    * many CTE rounds) and the pair-count support floor — the raw
    * WordPiece score cnt(ab)/(cnt(a)·cnt(b)) is MAXIMIZED by
    * rare-exclusive junk (a hapax bigram of two hapax symbols scores
    * 1.0), so merges must be supported as well as associated (the
    * published mitigation).
    */
  val WpTrainSteps = 8
  val WpMinPairCnt = 2L

  /** Current-segmentation symbol counts (marked symbols, markers
    * stripped) — the denominators of the WordPiece merge score.
    */
  private def symCountsMarked(sym: DataFrame): DataFrame =
    sym.select(col("n"), explode(split(col("s"), " ")).as("c"))
      .groupBy(translate(col("c"), Mk, "").as("sym"))
      .agg(sum(col("n")).as("scnt"))

  /** WordPiece vocabulary TRAINING (Schuster & Nakajima 2012, the
    * rule Devlin et al. 2019 trains BERT's vocab with): iteratively
    * merge the adjacent symbol pair maximizing the LIKELIHOOD score
    * cnt(ab) / (cnt(a)·cnt(b)) — "merge what co-occurs more than its
    * parts predict" — where BPE ([[bpeTrainLoop]]) merges the raw
    * count argmax. Identical machinery (marked symbol strings,
    * vocab-sized state, one pair-count pass + one symbol-count pass
    * per round); the score is quantized to integer parts-per-trillion
    * through decimal(38,0) products (cnt·1e12 div (cl·cr) — the
    * assortativity headroom move) so the argmax and the unrolled
    * oracle agree bit-for-bit, ties by (lhs, rhs).
    */
  private def wpTrainLoop(docs: DataFrame, steps: Int = WpTrainSteps)
      : Seq[DataFrame] = {
    var sym = cut(wordVocab(docs)
      .withColumn("s", rtrim(regexp_replace(col("w"), "(.)", s"$Mk$$1$Mk "))))
    var rules: Seq[DataFrame] = Nil
    for (i <- 1 to steps) {
      // r16 (verdict #4 — this was the slowest untouched plan, 44
      // exchanges, ~2.5 s at 32c): the symbol-count table is pinned
      // once (it feeds BOTH score denominators — unpinned, the lhs
      // and rhs joins each re-ran the aggregation) and BROADCAST
      // into the score joins (vocab-sized; its post-agg size
      // estimate planned sort-merge, shuffling the pair table twice
      // per round — guide §3.1). The 1-row argmax is pinned for the
      // same two-consumer reason as bpeTrainLoop's.
      val sc = cut(symCountsMarked(sym))
      val scored = pairCountsMarked(sym)
        .filter(col("cnt") >= WpMinPairCnt)
        .join(broadcast(sc.toDF("lhs", "cl")), Seq("lhs"))
        .join(broadcast(sc.toDF("rhs", "cr")), Seq("rhs"))
        .withColumn("score_ppt", expr(
          "cast((cast(cnt as decimal(38,0)) * 1000000000000) div " +
            "(cast(cl as decimal(38,0)) * cast(cr as decimal(38,0))) as long)"))
      val top1 = cut(scored
        .orderBy(col("score_ppt").desc, col("lhs"), col("rhs")).limit(1))
      rules = rules :+ top1.select(lit(i).as("step"), col("lhs"), col("rhs"),
        col("cnt"), col("score_ppt"))
      // the final round's symbol table has NO consumer (unlike
      // bpeTrainLoop's, which encode reuses) — eagerly pinning it
      // was a whole wasted replace+checkpoint pass (r16)
      if (i < steps)
        sym = cut(sym
          .crossJoin(broadcast(top1.select(col("lhs").as("m_lhs"),
            col("rhs").as("m_rhs"))))
          .withColumn("s", org.apache.spark.sql.functions.replace(col("s"),
            concat(lit(Mk), col("m_lhs"), lit(Mk + " " + Mk), col("m_rhs"), lit(Mk)),
            concat(lit(Mk), col("m_lhs"), col("m_rhs"), lit(Mk))))
          .select(col("w"), col("n"), col("s")))
    }
    rules
  }

  def qWpTrain(s: SparkSession, dir: String): DataFrame =
    qWpTrainOn(Tables.documents(s, dir))

  /** Training seam over an arbitrary (doc_id, text) frame — the spec
    * races a held-out split through it.
    */
  def qWpTrainOn(docs: DataFrame): DataFrame =
    wpTrainLoop(docs).reduce(_ unionAll _)

  /** Rule frame at an arbitrary merge budget (race harness). */
  private[graft] def wpTrainRules(docs: DataFrame, steps: Int): DataFrame =
    wpTrainLoop(docs, steps).reduce(_ unionAll _)

  /** The trained pieces as a MaxMatch vocabulary: every single char
    * of the word set (totality) plus each rule's merged string —
    * successive merges compound, so trained pieces can exceed
    * [[WpMaxPiece]] chars (the frequency picker can't).
    */
  private[graft] def wpTrainedVocab(words: DataFrame,
                                        rules: DataFrame): DataFrame = {
    val chars = words
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(expr("substring(w, i, 1)").as("piece")).distinct()
    chars.unionAll(rules.select(concat(col("lhs"), col("rhs")).as("piece")))
      .distinct()
  }

  // --- Unigram-LM (SentencePiece) segmentation --------------------------

  /** Unigram-LM knobs: seed substring budget, non-char pieces kept
    * per M-step, and EM round count (each round = one Viterbi E-step
    * + one usage-ranked M-step; a final E-step under the trained
    * inventory produces the output segmentation).
    */
  val UlmSeedN = 64
  val UlmKeepN = 48
  val UlmIters = 2

  /** Integer bit-length log (the 41l NB-classifier discipline):
    * L(x) = bits(x²) ≈ 2·log2(x) + 1 — monotone, integer-exact,
    * deterministic. Headroom: x² needs x < 3·10⁹; at or beyond that
    * BOTH forms auto-switch to the half-bit-coarser 2·bits(x)
    * (r13 ADVICE: unigram_lm rides ScaleRehearsal, so the corpus
    * token total crosses the headroom at large SFs — a hard require
    * would crash the rehearsal). The piecewise function stays
    * monotone: bits(x²) ≤ 63 for every x below the cut, and
    * 2·bits(x) ≥ 64 at or above it.
    */
  private def biLog(c: Column): Column =
    when(c < lit(3000000000L), length(bin(c * c)))
      .otherwise(length(bin(c)) * lit(2)).cast("long")
  private def biLogScalar(x: Long): Long =
    if (x < 3000000000L) java.lang.Long.toBinaryString(x * x).length.toLong
    else 2L * java.lang.Long.toBinaryString(x).length

  /** Seed inventory: every single char of the word set (totality —
    * Viterbi can always finish) with its occurrence mass, plus the
    * [[UlmSeedN]] highest-mass 2..[[WpMaxPiece]]-grams.
    */
  private def ulmSeedInventory(words: DataFrame): DataFrame = {
    val chars = words
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(expr("substring(w, i, 1)").as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
    val grams = words
      .select(col("w"), col("n"),
        explode(sequence(lit(2), lit(WpMaxPiece))).as("L"))
      .filter(length(col("w")) >= col("L"))
      .select(col("w"), col("n"), col("L"),
        explode(sequence(lit(1), length(col("w")) - col("L") + 1)).as("i"))
      .select(expr("substring(w, i, L)").as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(UlmSeedN)
    chars.unionAll(grams)
  }

  /** Piece costs from an inventory's counts: cost = L(total) −
    * L(cnt+1) — the integer-log form of −log p with add-one
    * smoothing, so pieces that fell off every Viterbi path stay
    * finite (and expensive). One scalar agg for the total (the
    * dangling-mass discipline).
    */
  private def ulmCosts(inv: DataFrame): DataFrame = {
    val tot = inv.agg(sum(col("cnt") + lit(1L))).head.getLong(0)
    inv.select(col("piece"),
      (lit(biLogScalar(tot)) - biLog(col("cnt") + lit(1L))).as("pcost"))
  }

  /** Viterbi E-step (Kudo 2018's decoding half): the MINIMUM-cost
    * segmentation of every distinct word under the inventory costs,
    * by Bellman-Ford relaxation over the word-position DAG — per
    * round each reached (w, pos) proposes its ≤ [[WpMaxPiece]]
    * outgoing pieces (bounded substring explode + broadcast
    * inventory join) and a (w, pos)-keyed struct-min fold keeps the
    * cheapest arrival (ties prefer the LONGER final piece — the
    * deterministic tie-break the replay mirrors); after k rounds the
    * frame is exact for all paths of ≤ k pieces, and a left-anti
    * fixpoint check early-exits (≤ [[WpMaxWordLen]] rounds since
    * every piece consumes ≥ 1 char). The backtrace walks the stored
    * back-pointers — ≤ [[WpMaxWordLen]] more rounds over a
    * words-sized frame — emitting one row per piece OCCURRENCE on
    * the optimal path. State is vocabulary-sized throughout (the
    * 37j/37ac discipline: occurrences never segment).
    *
    * Returns (end-state (w, len, cost), path pieces (w, piece)).
    */
  private def ulmViterbi(words: DataFrame, costs: DataFrame)
      : (DataFrame, DataFrame) = {
    val pieces = cut(costs.withColumnRenamed("piece", "vp"))
    val base = words.select(col("w"), length(col("w")).as("len"))
    var dp = cut(base.select(col("w"), col("len"), lit(0).as("pos"),
      lit(0L).as("cost"), lit(0).as("bp")))
    var r = 0
    var done = false
    while (r < WpMaxWordLen && !done) {
      r += 1
      val cand = dp.filter(col("pos") < col("len"))
        .select(col("w"), col("len"), col("pos"), col("cost"),
          explode(sequence(lit(1), lit(WpMaxPiece))).as("L"))
        .filter(col("pos") + col("L") <= col("len"))
        .select(col("w"), col("len"), (col("pos") + col("L")).as("pos"),
          col("cost"), col("L"),
          expr("substring(w, pos + 1, L)").as("piece"))
        .join(broadcast(pieces), col("piece") === col("vp"))
        .select(col("w"), col("len"), col("pos"),
          (col("cost") + col("pcost")).as("cost"), col("L").cast("int").as("bp"))
      val next = cut(dp.unionAll(cand)
        .groupBy(col("w"), col("len"), col("pos"))
        .agg(min(struct(col("cost"),
          (lit(WpMaxPiece) - col("bp")).as("nb"), col("bp"))).as("m"))
        .select(col("w"), col("len"), col("pos"),
          col("m.cost").as("cost"), col("m.bp").as("bp")))
      done = next.join(dp, Seq("w", "pos", "cost", "bp"), "left_anti")
        .limit(1).count() == 0
      dp = next
    }
    val end = dp.filter(col("pos") === col("len"))
      .select(col("w"), col("len"), col("cost"))
    var used = dp.select(col("w"), expr("substring(w, 1, 0)").as("piece"))
      .limit(0)
    var bt = cut(dp.filter(col("pos") === col("len"))
      .select(col("w"), col("pos"), col("bp")))
    var r2 = 0
    var btDone = false
    while (r2 < WpMaxWordLen && !btDone) {
      r2 += 1
      val act = bt.filter(col("pos") > 0)
      if (act.limit(1).count() == 0) btDone = true
      else {
        used = cut(used.unionAll(act.select(col("w"),
          expr("substring(w, pos - bp + 1, bp)").as("piece"))))
        bt = cut(act.select(col("w"), (col("pos") - col("bp")).as("pos"))
          .join(dp.select(col("w"), col("pos"), col("bp")), Seq("w", "pos")))
      }
    }
    (end, used)
  }

  /** M-step: piece "probabilities" re-estimated from Viterbi-path
    * usage (hard-EM — Kudo's E-step marginalizes over all
    * segmentations; the Viterbi point estimate is the standard
    * hard-assignment simplification and keeps every quantity an
    * integer count), then the inventory PRUNES to the [[UlmKeepN]]
    * highest-usage multi-char pieces (usage ranking in place of
    * Kudo's per-piece likelihood-loss ranking — the loss of a piece
    * whose removal matters is dominated by its path usage). Single
    * chars always survive with their (possibly zero) usage —
    * totality.
    */
  private def ulmMStep(words: DataFrame, used: DataFrame): DataFrame = {
    val usage = used.join(words.select(col("w"), col("n")), Seq("w"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
    val chars = words
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(expr("substring(w, i, 1)").as("piece")).distinct()
      .join(usage, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val kept = usage.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(UlmKeepN)
    chars.unionAll(kept)
  }

  /** Unigram-LM tokenizer (Kudo 2018, ACL — the SentencePiece
    * default; the third published subword family beside BPE (37h)
    * and WordPiece (37ac/37ad)): EM-train piece scores — Viterbi
    * E-step, usage M-step with pruning — then segment by
    * minimum-cost Viterbi decode instead of BPE's merge replay or
    * WordPiece's greedy MaxMatch. All arithmetic is the integer
    * bit-length log, so every EM round and the final decode are
    * bit-deterministic (spec replays the WHOLE pipeline driver-side,
    * including tie-breaks). Output: the per-source fertility table
    * of [[qWordpiece]]/[[qFertility]] for the third family — the
    * three are directly comparable on the same corpus. Scale shape:
    * every EM stage is vocabulary-sized (distinct words); the corpus
    * is touched once for the word count and once for the per-source
    * rollup join. Spec-only posture (37ab): the ~70-CTE triple-
    * Viterbi unroll has no reasonable SQL twin; the driver replay is
    * the gate.
    */
  def unigramLmFertility(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 1)
      .select(col("source"), expr(s"substring(t, 1, $WpMaxWordLen)").as("w"))
    val words = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
    var inv = ulmSeedInventory(words)
    for (_ <- 1 to UlmIters) {
      val (_, used) = ulmViterbi(words, ulmCosts(inv))
      inv = ulmMStep(words, used)
    }
    val (endF, usedF) = ulmViterbi(words, ulmCosts(inv))
    val perWord = usedF.groupBy(col("w")).agg(count(lit(1)).as("n_pieces"))
      .join(endF.select(col("w"), col("len").cast("long").as("n_chars")),
        Seq("w"))
    tok.join(perWord, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_pieces"), col("n_chars"),
        divFloor(col("n_pieces") * 1000000L, col("n_words")).as("fertility_ppm"),
        divFloor(col("n_chars") * 1000000L, col("n_pieces")).as("chars_per_piece_ppm"))
  }

  /** Final trained inventory + per-word Viterbi cost (the spec's
    * optimality-pin seam).
    */
  private[graft] def ulmTrainedDecode(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val words = docs
      .select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 1)
      .select(expr(s"substring(t, 1, $WpMaxWordLen)").as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    var inv = ulmSeedInventory(words)
    for (_ <- 1 to UlmIters) {
      val (_, used) = ulmViterbi(words, ulmCosts(inv))
      inv = ulmMStep(words, used)
    }
    val costs = ulmCosts(inv)
    (costs, ulmViterbi(words, costs)._1)
  }

  /** WordPiece fertility audit — the [[qFertility]] table for the
    * OTHER major published tokenizer family (greedy longest-match
    * inference over a frequency-trained subword vocab, vs BPE's
    * merge rules): per source, whitespace words, emitted pieces,
    * chars, and the ppm fertility / compression ratios — directly
    * comparable against q_fertility's BPE numbers on the same
    * corpus. Same scale shape: vocab-sized training + encode state,
    * per-source stats are one equi-join of exploded tokens against
    * the encoded word table + one partial-agg rollup.
    */
  def qWordpiece(s: SparkSession, dir: String): DataFrame =
    shared("qWordpiece", s, dir)(cut(qWordpiecePlan(s, dir)))

  private def qWordpiecePlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 1)
      .select(col("source"), expr(s"substring(t, 1, $WpMaxWordLen)").as("w"))
    val words = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val enc = wordpieceEncode(words)
    tok.join(enc, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_pieces"), col("n_chars"),
        divFloor(col("n_pieces") * 1000000L, col("n_words")).as("fertility_ppm"),
        divFloor(col("n_chars") * 1000000L, col("n_pieces")).as("chars_per_piece_ppm"))
  }

  /** Tokenizer fertility audit — the per-source table a tokenizer
    * team tracks when validating a vocabulary against a corpus mix:
    * FERTILITY (BPE symbols emitted per whitespace word, ppm) and
    * the chars-per-symbol compression it buys. High-fertility
    * sources (symbol-hungry scripts, noisy text) inflate training
    * cost per effective token and skew mixture math that was planned
    * in document counts. Scale shape: identical to qBpeEncode —
    * the trained symbol table is VOCAB-sized work, per-source stats
    * are one equi-join of exploded tokens against the encoded vocab
    * plus one partial-aggregated rollup on source; ratios stay in
    * exact integer ppm.
    */
  def qFertility(s: SparkSession, dir: String): DataFrame =
    shared("qFertility", s, dir)(cut(qFertilityPlan(s, dir)))

  /** Memoized final frames of the fertility / wordpiece rungs — both
    * are re-consumed verbatim by [[qTokenizerRace]] (tiny per-source
    * tables; the cut stops the race re-running the encode joins and,
    * for wordpiece, the greedy MaxMatch loop).
    */
  private def qFertilityPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sym = bpeBase(s, dir)._2
    val vocabEnc = sym.select(col("w"),
      size(split(col("s"), " ")).cast("long").as("n_sym"),
      length(col("w")).cast("long").as("n_chars"))
    docs.select(col("source"), explode(tokens(col("text"))).as("w"))
      .join(vocabEnc, "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_symbols"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_symbols"), col("n_chars"),
        divFloor(col("n_symbols") * 1000000L, col("n_words")).as("fertility_ppm"),
        divFloor(col("n_chars") * 1000000L, col("n_symbols")).as("chars_per_symbol_ppm"))
  }

  /** The tokenizer-family RACE (r13 verdict #7): the "which tokenizer
    * for this corpus" decision as ONE gated artifact instead of three
    * separate reads — family × source × words/pieces/chars and the
    * ppm fertility + compression ratios, all on the same corpus.
    * [[qTokenizerRace]] is the ORACLE-CHECKED projection over the two
    * SQL-expressible families (BPE merges / greedy WordPiece — the
    * q_fertility and q_wordpiece rungs, unioned with identical column
    * names); [[tokenizerRace]] is the FULL three-way artifact adding
    * the unigram-LM rows, whose EM training keeps its documented
    * 37ae spec-only posture (no reasonable SQL twin) — the spec pins
    * the full artifact equal to the three family tables row-for-row.
    */
  def qTokenizerRace(s: SparkSession, dir: String): DataFrame = {
    val bpe = qFertility(s, dir).select(lit("bpe").as("family"),
      col("source"), col("n_words"), col("n_symbols").as("n_pieces"),
      col("n_chars"), col("fertility_ppm"),
      col("chars_per_symbol_ppm").as("chars_per_piece_ppm"))
    val wp = qWordpiece(s, dir).select(lit("wordpiece").as("family"),
      col("source"), col("n_words"), col("n_pieces"), col("n_chars"),
      col("fertility_ppm"), col("chars_per_piece_ppm"))
    bpe.unionAll(wp)
  }

  /** Full three-way race (see [[qTokenizerRace]]). */
  def tokenizerRace(s: SparkSession, dir: String): DataFrame =
    qTokenizerRace(s, dir).unionAll(
      unigramLmFertility(Tables.documents(s, dir))
        .select(lit("unigram_lm").as("family"), col("source"),
          col("n_words"), col("n_pieces"), col("n_chars"),
          col("fertility_ppm"), col("chars_per_piece_ppm")))

  /** N-gram diversity audit — the templated-text / mode-collapse
    * detector corpus reports publish per source: type-token ratio
    * and distinct-bigram ratio (the bigram side over 48-bit shingle
    * hashes, so the distinct count is a hash-set size both engines
    * agree on exactly). Low TTR at normal length flags boilerplate
    * farms; low bigram diversity with normal TTR flags template
    * text that permutes a fixed vocabulary. Scale shape: two
    * partial-aggregated count-distinct shuffles keyed on source —
    * Spark plans count(DISTINCT) as a two-stage partial dedup, so
    * no per-source token list ever materializes.
    */
  def qDiversity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("w"))
    val uni = tok.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
    val bi = docs.select(col("source"),
        explode(shingleHashes(tokens(col("text")), 2)).as("b"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_bigrams"), countDistinct(col("b")).as("n_bigram_types"))
    uni.join(bi, Seq("source"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        divFloor(col("n_types") * 1000000L, col("n_tokens")).as("ttr_ppm"),
        col("n_bigrams"), col("n_bigram_types"),
        divFloor(col("n_bigram_types") * 1000000L, col("n_bigrams")).as("bigram_ttr_ppm"))
  }

  /** Per-document lexical concentration — the exact (rational)
    * per-doc complement of [[qDiversity]]'s per-source TTR: the
    * Simpson index Σc²/n² (the probability two uniformly drawn
    * tokens of the doc coincide), its Gini–Simpson diversity
    * complement, and the inverse-Simpson EFFECTIVE vocabulary size.
    * All three stay on the integer ppm grid — Σc² and n² are exact
    * longs, so no transcendental entropy enters (the q_tfidf
    * rational-idf discipline) and the distributed aggregate is
    * bit-reproducible. High concentration at normal length flags
    * keyword-stuffed or looping text that source-level TTR averages
    * away. Scale shape: one (doc_id, token) partial-agg shuffle +
    * one doc_id rollup — linear in corpus tokens, nothing global.
    * Contract: doc length ≲ 3M tokens keeps n²·10⁶ inside a long
    * (the qC4Lines grid class of invariant).
    */
  def qSimpson(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val n2 = col("n_tokens") * col("n_tokens")
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        divFloor(col("s2") * 1000000L, n2).as("simpson_ppm"),
        (lit(1000000L) - divFloor(col("s2") * 1000000L, n2)).as("gini_ppm"),
        divFloor(n2 * 1000000L, col("s2")).as("inv_simpson_ppm"))
  }

  /** Cross-corpus n-gram novelty — the memorization-risk profile a
    * corpus report tracks per document: the fraction of a doc's
    * 3-gram shingles that are COMMON corpus-wide (document frequency
    * above CommonDf). A high common fraction marks boilerplate-heavy
    * text the model will see many times (memorization risk, low
    * marginal value); a low fraction marks novel content. This is
    * the cross-document complement of qRepetition (within-doc) and
    * qChunkDedup (passage granularity). Scale shape: the shingle
    * document-frequency table comes from one distinct + partial agg
    * keyed on the 48-bit shingle hash; the join back is a
    * shingle-keyed equi-join (never broadcast — the DF table is
    * corpus-sized); the per-doc rollup is one partial-agg shuffle.
    * Fractions in exact integer ppm.
    */
  val NoveltyShingleN = 3
  val CommonDf = 3L

  def ngramNovelty(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(shingleHashes(tokens(col("text")), NoveltyShingleN)).as("h"))
    val dfTab = sh.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfTab, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > CommonDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        divFloor(col("n_common") * 1000000L, col("n_shingles")).as("common_frac_ppm"))
  }

  def qNgramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(s, dir))

  // --- cross-source quality calibration ------------------------------

  /** Cross-source quality-score calibration — the fix for the
    * FineWeb-class problem that a raw quality score is not
    * comparable ACROSS sources (each source has its own score
    * distribution, so one global threshold over- or under-prunes
    * per source): emit each doc's per-source percentile (share of
    * same-source docs scoring strictly below, ppm) next to its
    * global percentile, so tiering can cut at "bottom 20% of each
    * source" instead of "bottom 20% of the blend".
    *
    * Exact and window-free at doc level: scores quantize to the ppm
    * grid, percentiles derive from the (source, score) HISTOGRAM —
    * one partial-agg count, one prefix-sum window over the
    * aggregated histogram (size = distinct scores per source,
    * bounded by the grid — never a per-doc sort), one equi-join
    * back on (source, score). Ties share a percentile by
    * construction (strictly-below semantics).
    */
  def qualityCalibrate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val punctRaw = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))) / length(col("text"))
    val stopRaw = hitRatio(toks, Stopwords(0)._2)
    val tokScore = least(lit(1.0), nTok / lit(100.0))
    val scored = docs.select(col("doc_id"), col("source"),
      round(round(lit(0.3) * stopRaw + lit(0.3) * (lit(1.0) - punctRaw) +
        lit(0.4) * tokScore, 6) * 1000000).cast("long").as("q_ppm"))
    val hist = scored.groupBy(col("source"), col("q_ppm"))
      .agg(count(lit(1)).as("freq"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("q_ppm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nSrc = scored.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val srcPct = hist
      .withColumn("below", coalesce(sum(col("freq")).over(wSrc), lit(0L)))
      .join(broadcast(nSrc), Seq("source"))
      .select(col("source"), col("q_ppm"),
        expr("below * 1000000 div n_s").as("pct_src_ppm"))
    // global percentile via the pplBuckets coarse/fine two-level
    // prefix sum: coarse offsets by broadcast self-join (≤100 cells),
    // fine prefix windows PARTITIONED by coarse cell — no
    // unpartitioned WindowExec anywhere (the julienne discipline)
    val ghist = scored.groupBy(col("q_ppm")).agg(count(lit(1)).as("freq"))
      .withColumn("coarse", expr("q_ppm div 10000"))
    val coarseTot = ghist.groupBy(col("coarse")).agg(sum(col("freq")).as("ccnt"))
    val cPrefix = coarseTot.select(col("coarse"))
      .join(broadcast(coarseTot.select(col("coarse").as("hc"), col("ccnt").as("hn"))),
        col("hc") < col("coarse"), "left")
      .groupBy(col("coarse")).agg(coalesce(sum(col("hn")), lit(0L)).as("cprefix"))
    val wFine = Window.partitionBy(col("coarse")).orderBy(col("q_ppm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = scored.count()
    val gPct = ghist
      .withColumn("fbelow", coalesce(sum(col("freq")).over(wFine), lit(0L)))
      .join(broadcast(cPrefix), Seq("coarse"))
      .select(col("q_ppm"),
        expr(s"(cprefix + fbelow) * 1000000 div ${n}L").as("pct_global_ppm"))
    scored.join(srcPct, Seq("source", "q_ppm"))
      .join(broadcast(gPct), Seq("q_ppm"))
      .select(col("doc_id"), col("source"), col("q_ppm"),
        col("pct_src_ppm"), col("pct_global_ppm"))
  }

  def qQualityCalibrate(s: SparkSession, dir: String): DataFrame =
    qualityCalibrate(Tables.documents(s, dir))

  // --- per-source distribution drift ---------------------------------

  /** Per-source unigram-distribution drift vs the whole corpus — the
    * mixture-health monitor a multi-source pipeline tracks per
    * snapshot (is one source's language shifting away from the blend
    * the mixture was planned on?). Two exact, order-independent
    * integer statistics per source:
    *
    *  - `l1_ppb`: total-variation-style L1 distance between the
    *    source's and the corpus's unigram frequencies, both
    *    quantized to parts-per-billion BEFORE the sum (the
    *    ppm-before-sum discipline). Terms the source never emits
    *    contribute their full corpus mass via one scalar
    *    (total corpus ppb − the source's covered ppb) — no
    *    per-(source, term) full-outer join needed.
    *  - `kl_log2_ppb`: a KL-divergence signal with log2 quantized to
    *    the INTEGER bit-length grid (length(bin(x)), the established
    *    Curation idiom): Σ p_s·(bitlen(c_sh·N) − bitlen(c_h·N_s)).
    *    Coarse (floor-log2) but bit-identical cross-engine and
    *    monotone in genuine drift — a monitoring signal, not nats.
    *
    * Shuffle shape: one (source, term) partial-agg count + one
    * term-keyed count, joined on the term hash — vocab grows with
    * the corpus so the join SHUFFLES both sides (the PMI-phrases
    * discipline, never broadcast); the per-source totals table is
    * O(sources) and broadcasts. Int64 headroom: c·N < 2^63 holds to
    * ~3·10⁹ occurrences of a term in a 10¹³-token corpus — the
    * documented quantize-dial contract.
    */
  def sourceDrift(docs: DataFrame): DataFrame = {
    // the hashed token stream feeds FOUR consumers (per-source
    // counts, corpus counts, the total scalar, per-source totals) —
    // cut once (r16 §8); uncut, each re-ran the scan + explode +
    // tokenHash. corpCnt feeds the coverage scalar AND the join.
    val tok = docs
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .select(col("source"), tokenHash(col("t")).as("h"))
      .transform(cut)
    val srcCnt = tok.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("c_sh"))
    val corpCnt = cut(tok.groupBy(col("h")).agg(count(lit(1)).as("c_h")))
    val nTotal = tok.count()
    val totalPcPpb = corpCnt
      .agg(sum(expr(s"c_h * 1000000000 div ${nTotal}L"))).head.getLong(0)
    val nSrc = tok.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    srcCnt.join(corpCnt, Seq("h"))
      .join(broadcast(nSrc), Seq("source"))
      .select(col("source"), col("n_s"),
        expr("c_sh * 1000000000 div n_s").as("ps_ppb"),
        expr(s"c_h * 1000000000 div ${nTotal}L").as("pc_ppb"),
        (length(bin(col("c_sh") * nTotal)) -
          length(bin(col("c_h") * col("n_s")))).cast("long").as("bldiff"))
      .groupBy(col("source"), col("n_s"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("ps_ppb") * col("bldiff")).as("kl_log2_ppb"),
        sum(abs(col("ps_ppb") - col("pc_ppb"))).as("l1_cov"),
        sum(col("pc_ppb")).as("pc_cov"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_terms"),
        col("kl_log2_ppb"),
        (col("l1_cov") + lit(totalPcPpb) - col("pc_cov")).as("l1_ppb"))
  }

  def qSourceDrift(s: SparkSession, dir: String): DataFrame =
    sourceDrift(Tables.documents(s, dir))

  /** Cross-source n-gram containment matrix — the synthetic-data
    * provenance monitor: when one source is generated FROM another
    * (rephrasings, distillations, seeded generations), the share of
    * its distinct bigrams already present in the seed source spikes
    * long before a per-document decontamination screen fires.
    * containment_ppm(a→b) = |bigrams(a) ∩ bigrams(b)| / |bigrams(a)|,
    * exact over distinct 48-bit bigram hashes; the diagonal is 1e6
    * by construction (a built-in sanity row).
    *
    * Shape: one distinct over (source, hash) pairs, then ONE
    * hash-keyed self-equi-join — both sides SHUFFLE on the hash (the
    * PMI/source-drift vocabulary discipline, never broadcast) with
    * per-hash fan-out bounded by sources² (source tags are
    * corpus-level, tens — the qSourceInterleave cardinality
    * contract), then an O(sources²) partial agg and an O(sources)
    * broadcast join for the denominators.
    */
  def qSourceContainment(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r16): cutting this frame for its three consumers was
    // A/B-measured slightly SLOWER — the post-distinct exchange is
    // already reused across consumers, so the checkpoint write is
    // pure overhead here.
    val db = Tables.documents(s, dir)
      .select(col("source"),
        explode(shingleHashes(tokens(col("text")), 2)).as("h"))
      .distinct()
    val na = db.groupBy(col("source")).agg(count(lit(1)).as("n_a"))
    db.toDF("src_a", "h")
      .join(db.toDF("src_b", "h2"), col("h") === col("h2"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(na.toDF("src_a", "n_a")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_shared"),
        expr("n_shared * 1000000 div n_a").as("containment_ppm"))
  }

  // --- deflate compression ratio (entropy proxy) -------------------------

  /** Ratio floor below which a document is flagged as repetitive
    * (compresses to under 25% of its UTF-8 size — natural text lands
    * well above this; looped spans, boilerplate grids, and
    * keyboard-mash land below).
    */
  val CompressRatioFloorPpm = 250000L

  /** Deflate-compression ratio per document — the cheap
    * entropy-proxy quality signal large-corpus pipelines run beside
    * the rule ladder (a generalized repetition detector: it catches
    * ANY low-entropy structure, not just the exact n-gram repeats
    * `q_repetition` counts). ratio_ppm = deflated·1e6 div raw over
    * UTF-8 bytes, level-6 zlib from the JDK (no external libs).
    * Narrow batched mapPartitions, one Deflater REUSED per partition
    * (reset between docs — allocation-free on the hot path), no
    * shuffle. Deterministic: zlib level-6 output is a pure function
    * of the input bytes, so the spec can pin exact replay equality.
    * No SQL twin exists (DuckDB has no deflate), so this is a
    * spec-verified component, the 25e posture.
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        // Deflater holds native zlib memory until end() — releasing on
        // iterator exhaustion (not GC finalization) keeps many-partition
        // executors from accumulating off-heap state.
        new Iterator[(Long, Long, Long, Long, Boolean)] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) d.end()
            h
          }
          def next(): (Long, Long, Long, Long, Boolean) = {
            val (id, text) = it.next()
            val raw = text.getBytes("UTF-8")
            d.reset(); d.setInput(raw); d.finish()
            var n = 0L
            while (!d.finished()) n += d.deflate(buf)
            val ratio = if (raw.length == 0) 1000000L
              else n * 1000000L / raw.length
            (id, raw.length.toLong, n, ratio, ratio < CompressRatioFloorPpm)
          }
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate", "ratio_ppm", "repetitive")
  }

  // --- corpus-law audit: Zipf rank-frequency + Heaps vocab growth -------

  /** Integer least-squares slope over (x, y) points in ppm, exact
    * rational with the sign-split floor division both engines share
    * (num can be negative — Zipf slopes are): slope = (nΣxy − ΣxΣy)
    * / (nΣx² − (Σx)²). Point counts and coordinates are tiny
    * (≤ ~60 log2 anchors), so the arithmetic stays comfortably in
    * int64; the div is the modularity sign-split.
    */
  private def lsqSlopePpm(pts: DataFrame, x: Column, y: Column): DataFrame =
    pts.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .select(expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("den"))
      .select(expr("CASE WHEN num >= 0 THEN (num * 1000000) div den" +
        " ELSE -(((- num) * 1000000) div den) END").as("slope_ppm"))

  /** Corpus-law audit — the two classical regularities a healthy
    * text corpus obeys, as one oracle-gated artifact (corpus-QA
    * monitors: a synthetic, templated, or collapsed corpus bends
    * them, and a 100 TB ingest wants the check as a standing gate):
    *
    *  - ZIPF (Zipf 1949): freq(rank) ∝ rank^(−s), s ≈ 1. Points are
    *    (log2 rank, biLog cnt) at rank anchors 2^b. NO vocab-wide
    *    sort: the frequency spectrum (cnt → n_terms, ≤ O(√tokens)
    *    rows) gets exclusive rank prefixes via the pplBuckets
    *    two-level prefix (fine window PARTITIONED by the biLog
    *    coarse bucket + a ≤128-row broadcast coarse self-join —
    *    never an unpartitioned window), and each anchor lands in
    *    exactly one spectrum interval via a broadcast ≤63-row
    *    condition join. x_b = biLog(2^b) = 2b+1 exactly, so only y
    *    carries the half-bit grid.
    *  - HEAPS (Heaps 1978): vocab(N) ∝ N^β, β ≈ 0.4-0.6. Anchors are
    *    doc-id prefixes 2^j (doc_id IS the arrival order of the
    *    synthetic corpus): V_j = terms whose min(doc_id) < 2^j,
    *    N_j = tokens in docs < 2^j — each ONE broadcast condition
    *    join of a linear frame against the ≤63 anchors, no window
    *    at all. Points (biLog N_j, biLog V_j).
    *
    * Both axes ride the established integer bit-length log
    * ([[biLog]], the 41l/unigram-LM discipline — L(x) = bits(x²) ≈
    * 2·log2(x)+1, monotone, cross-engine exact), so the fitted
    * slope_ppm ≈ −s·1e6 (zipf) / β·1e6 (heaps) on matching grids and
    * the whole artifact hash-compares. Output: one row per (law,
    * anchor) with the fit coordinates and the law's slope_ppm.
    */
  def corpusLaws(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // ---- zipf: spectrum + two-level exclusive rank prefix
    val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val spectrum = tf.groupBy(col("cnt")).agg(count(lit(1)).as("n_terms"))
      .withColumn("coarse", biLog(col("cnt")))
    val coarseTot = spectrum.groupBy(col("coarse"))
      .agg(sum(col("n_terms")).as("ctot"))
    val cPrefix = coarseTot.select(col("coarse"))
      .join(broadcast(coarseTot.select(col("coarse").as("hc"),
        col("ctot").as("hn"))), col("hc") > col("coarse"), "left")
      .groupBy(col("coarse"))
      .agg(coalesce(sum(col("hn")), lit(0L)).as("cprefix"))
    val wFine = org.apache.spark.sql.expressions.Window
      .partitionBy(col("coarse")).orderBy(col("cnt").desc)
      .rowsBetween(Long.MinValue, 0)
    val ranked = spectrum
      .withColumn("fprefix", sum(col("n_terms")).over(wFine))
      .join(cPrefix, Seq("coarse"))
      // ranks (rank_lo, rank_hi] hold terms of this cnt
      .withColumn("rank_hi", col("cprefix") + col("fprefix"))
      .withColumn("rank_lo", col("rank_hi") - col("n_terms"))
      .select(col("cnt"), col("rank_lo"), col("rank_hi"))
    val vocabN = tf.count()
    val zAnchorSeq = (0 until 63).map(b => (b.toLong, 1L << b))
      .filter(_._2 <= vocabN)
    val zAnchors = broadcast(
      docs.sparkSession.createDataFrame(zAnchorSeq).toDF("b", "anchor"))
    val zPts = ranked.join(zAnchors,
        col("rank_lo") < col("anchor") && col("anchor") <= col("rank_hi"))
      .select(lit("zipf").as("law"), col("b"), col("anchor"),
        (col("b") * 2 + 1).as("x"), biLog(col("cnt")).as("y"))
    // ---- heaps: anchor prefixes by condition join, no windows
    val firstSeen = tok.groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_new"))
    val docTok = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val nDocs = docs.count()
    val hAnchorSeq = (0 until 63).map(j => (j.toLong, 1L << j))
      .filter(_._2 <= nDocs)
    val hAnchors = broadcast(
      docs.sparkSession.createDataFrame(hAnchorSeq).toDF("b", "anchor"))
    val vj = firstSeen.join(hAnchors, col("first_doc") < col("anchor"))
      .groupBy(col("b"), col("anchor")).agg(sum(col("n_new")).as("v"))
    val nj = docTok.join(hAnchors, col("doc_id") < col("anchor"))
      .groupBy(col("b"), col("anchor")).agg(sum(col("n_tok")).as("ntok"))
    val hPts = vj.join(nj, Seq("b", "anchor"))
      .select(lit("heaps").as("law"), col("b"), col("anchor"),
        biLog(col("ntok")).as("x"), biLog(col("v")).as("y"))
    // ---- fits (per law), slope broadcast back onto the points
    val zSlope = lsqSlopePpm(zPts, col("x"), col("y"))
      .withColumn("law", lit("zipf"))
    val hSlope = lsqSlopePpm(hPts, col("x"), col("y"))
      .withColumn("law", lit("heaps"))
    zPts.unionByName(hPts)
      .join(broadcast(zSlope.unionByName(hSlope)), Seq("law"))
      .select(col("law"), col("b"), col("anchor"), col("x"), col("y"),
        col("slope_ppm"))
  }

  def qCorpusLaws(s: SparkSession, dir: String): DataFrame =
    corpusLaws(Tables.documents(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_containment" -> qSourceContainment _,
    "q_quality_calibrate" -> qQualityCalibrate _,
    "q_source_drift" -> qSourceDrift _,
    "q_ngram_novelty" -> qNgramNovelty _,
    "q_bpe_train" -> qBpeTrain _,
    "q_wp_train" -> qWpTrain _,
    "q_bpe_encode" -> qBpeEncode _,
    "q_fertility" -> qFertility _,
    "q_wordpiece" -> qWordpiece _,
    "q_tokenizer_race" -> qTokenizerRace _,
    "q_diversity" -> qDiversity _,
    "q_simpson" -> qSimpson _,
    "q_bpe_merge" -> qBpeMerge _,
    "q_vocab" -> qVocab _,
    "q_vocab_coverage" -> qVocabCoverage _,
    "q_corpus_laws" -> qCorpusLaws _,
    "q_lm_score" -> qLmScore _,
    "q_lm_bigram" -> qLmBigram _,
    "q_lm_kn" -> qLmKneserNey _,
    "q_ppl_buckets" -> qPplBuckets _,
    "q_tiered_mixture" -> qTieredMixture _,
    "q_rep_chars" -> qRepChars _,
    "q_decontaminate" -> qDecontaminate _,
    "q_decontaminate_verdict" -> qDecontaminateVerdict _,
    "q_decon_by_bench" -> qDeconByBench _,
    "q_tfidf" -> qTfidf _,
    "q_langid" -> qLangid _,
    "q_langid_nb" -> qLangidNb _,
    "q_quality" -> qQuality _,
    "q_tokens" -> qTokens _,
    "q_fingerprint" -> qFingerprint _,
    "q_winnow" -> qWinnow _,
    "q_winnow_long" -> qWinnowLong _,
    "q_winnow_pairs" -> qWinnowPairs _,
    "q_repetition" -> qRepetition _,
    "q_multimodal" -> qMultimodal _)

  private def hitSql(list: Seq[String]) =
    s"len(list_filter(toks, t -> t IN (${list.map(w => s"'$w'").mkString(", ")}))) / len(toks)"

  /** Flat (nestable) SELECT computing the q_quality composite score —
    * (doc_id, quality_score) over `documents`; the snippet downstream
    * oracles (q_curriculum) compose as a subquery. Same arithmetic,
    * same rounding as the q_quality oracle.
    */
  private[operators] lazy val qualityScoreSql: String =
    s"""SELECT doc_id,
      |  round(0.3::DOUBLE * stop_raw + 0.3::DOUBLE * (1.0::DOUBLE - punct_raw)
      |    + 0.4::DOUBLE * tok_score, 6) AS quality_score
      |FROM (
      |  SELECT doc_id,
      |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
      |      / length(text) AS punct_raw,
      |    ${hitSql(Stopwords(0)._2)} AS stop_raw,
      |    least(1.0::DOUBLE, len(toks) / 100.0) AS tok_score
      |  FROM (SELECT doc_id, text,
      |      string_split_regex(lower(trim(text)), '\\s+') AS toks
      |    FROM documents))""".stripMargin

  /** Adjacent-pair counts of space-separated symbol strings in CTE
    * `src` (DuckDB twin of `pairCounts`; lists are 1-based, so
    * range(1, len) enumerates the len-1 adjacent pairs).
    */
  private def bpePairSql(src: String): String =
    s"""SELECT p.l AS lhs, p.r AS rhs, sum(n)::BIGINT AS cnt FROM (
      |    SELECT n, unnest(list_transform(range(1, len(sl)),
      |      i -> {'l': sl[i], 'r': sl[i+1]})) AS p
      |    FROM (SELECT n, string_split(s, ' ') AS sl FROM $src))
      |  GROUP BY 1, 2""".stripMargin

  private val bpeMergeSql =
    s"""WITH words AS (
      |  SELECT t AS w, count(*) AS n FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |    FROM documents)
      |  GROUP BY t),
      |sym AS (SELECT w, n, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s
      |  FROM words),
      |pre AS (${bpePairSql("sym")}),
      |top1 AS (SELECT lhs, rhs FROM pre ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |merged AS (SELECT w, n, replace(s, t.lhs || ' ' || t.rhs, t.lhs || t.rhs) AS s
      |  FROM sym, top1 t),
      |post AS (${bpePairSql("merged")})
      |SELECT 'pre' AS stage, lhs, rhs, cnt FROM
      |  (SELECT *, row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rn FROM pre)
      |  WHERE rn <= $BpeTopPairs
      |UNION ALL
      |SELECT 'post' AS stage, lhs, rhs, cnt FROM
      |  (SELECT *, row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rn FROM post)
      |  WHERE rn <= $BpeTopPairs""".stripMargin

  /** Marker-delimited pair counts of CTE `src` (DuckDB twin of
    * `pairCountsMarked`): symbols carry chr(1) wrappers in the data,
    * stripped for the (lhs, rhs) output.
    */
  private def bpePairMarkedSql(src: String): String =
    s"""SELECT p.l AS lhs, p.r AS rhs, sum(n)::BIGINT AS cnt FROM (
      |    SELECT n, unnest(list_transform(range(1, len(sl)),
      |      i -> {'l': replace(sl[i], chr(1), ''), 'r': replace(sl[i+1], chr(1), '')})) AS p
      |    FROM (SELECT n, string_split(s, ' ') AS sl FROM $src))
      |  GROUP BY 1, 2""".stripMargin

  /** words → sym0 → (pc_i, top_i, sym_i)* CTE chain, shared by the
    * train and encode oracles. */
  private val bpeRoundsCtes: String = {
    val rounds = (1 to BpeTrainSteps).flatMap { i =>
      Seq(
        s"pc$i AS (${bpePairMarkedSql(s"sym${i - 1}")})",
        s"top$i AS (SELECT lhs, rhs, cnt FROM pc$i ORDER BY cnt DESC, lhs, rhs LIMIT 1)",
        s"""sym$i AS (
          |  SELECT w, n, replace(s,
          |    chr(1) || t.lhs || chr(1) || ' ' || chr(1) || t.rhs || chr(1),
          |    chr(1) || t.lhs || t.rhs || chr(1)) AS s
          |  FROM sym${i - 1}, top$i t)""".stripMargin)
    }.mkString(",\n")
    s"""WITH words AS (
      |  SELECT t AS w, count(*) AS n FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |    FROM documents)
      |  GROUP BY t),
      |sym0 AS (SELECT w, n,
      |  rtrim(regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1) || ' ', 'g')) AS s
      |  FROM words),
      |$rounds""".stripMargin
  }

  /** Unrolled WordPiece-likelihood training oracle: per round, the
    * marked pair counts, the symbol counts, the score argmax
    * (cnt·1e12 // (cl·cr) in HUGEINT, ties by (lhs, rhs)), and the
    * marker-anchored merge replace. wsym CTEs are MATERIALIZED —
    * three consumers each would otherwise inline 3^steps copies.
    */
  private val wpTrainSql = {
    val rounds = (1 to WpTrainSteps).flatMap { i =>
      Seq(
        s"wpc$i AS (${bpePairMarkedSql(s"wsym${i - 1}")})",
        s"""wsc$i AS (SELECT replace(c, chr(1), '') AS sym,
          |    sum(n)::BIGINT AS scnt FROM (
          |    SELECT n, unnest(string_split(s, ' ')) AS c FROM wsym${i - 1})
          |  GROUP BY 1)""".stripMargin,
        s"""wtop$i AS (SELECT p.lhs, p.rhs, p.cnt,
          |    (p.cnt::HUGEINT * 1000000000000
          |      // (l.scnt::HUGEINT * r.scnt::HUGEINT))::BIGINT AS score_ppt
          |  FROM wpc$i p JOIN wsc$i l ON l.sym = p.lhs
          |  JOIN wsc$i r ON r.sym = p.rhs
          |  WHERE p.cnt >= $WpMinPairCnt
          |  ORDER BY score_ppt DESC, p.lhs, p.rhs LIMIT 1)""".stripMargin,
        s"""wsym$i AS MATERIALIZED (SELECT w, n, replace(s,
          |    chr(1) || t.lhs || chr(1) || ' ' || chr(1) || t.rhs || chr(1),
          |    chr(1) || t.lhs || t.rhs || chr(1)) AS s
          |  FROM wsym${i - 1}, wtop$i t)""".stripMargin)
    }.mkString(",\n")
    val sel = (1 to WpTrainSteps)
      .map(i => s"SELECT $i AS step, lhs, rhs, cnt, score_ppt FROM wtop$i")
      .mkString("\nUNION ALL ")
    s"""WITH words AS (
      |  SELECT t AS w, count(*) AS n FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |    FROM documents)
      |  GROUP BY t),
      |wsym0 AS (SELECT w, n,
      |  rtrim(regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1) || ' ', 'g')) AS s
      |  FROM words),
      |$rounds
      |$sel""".stripMargin
  }

  private val bpeTrainSql = {
    val sel = (1 to BpeTrainSteps)
      .map(i => s"SELECT $i AS step, lhs, rhs, cnt FROM top$i")
      .mkString("\nUNION ALL ")
    s"$bpeRoundsCtes\n$sel"
  }

  private val bpeEncodeSql =
    s"""$bpeRoundsCtes,
      |enc AS (SELECT w, len(string_split(s, ' '))::BIGINT AS n_sym,
      |  strlen(w)::BIGINT AS n_chars FROM sym$BpeTrainSteps),
      |tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |  FROM documents)
      |SELECT doc_id, count(*) AS n_tokens, sum(e.n_sym)::BIGINT AS n_symbols,
      |  sum(e.n_chars)::BIGINT AS n_chars,
      |  round(sum(e.n_chars)::DOUBLE / sum(e.n_sym)::DOUBLE, 6) AS chars_per_symbol
      |FROM tok t JOIN enc e USING (w)
      |GROUP BY doc_id""".stripMargin

  /** Winnowing selection CTE chain, shared by the fingerprint dump
    * and the overlap-pair report (`sel` = full-window picks,
    * `short` = short-doc global-min fallback).
    */
  private lazy val winnowCtes: String =
    winnowCtesFor("SELECT doc_id, text FROM documents")

  /** Same chunk-and-rekey segmentation as [[winnowFingerprints]]:
    * stride-overlap duplication, per-(doc, seg) window min on local
    * positions, global positions restored on decode.
    */
  private def winnowCtesFor(src: String): String =
    s"""t AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM ($src)),
      |shl AS (SELECT doc_id, list_transform(
      |    range(1, greatest(len(toks) - ${WinnowK - 2}, 1)),
      |    i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1], toks[i+2])),
      |      1, 12))::BIGINT) AS hs FROM t),
      |sh AS (SELECT doc_id, unnest(hs) AS h,
      |    unnest(range(1, len(hs) + 1)) - 1 AS pos FROM shl),
      |segd AS (SELECT doc_id, pos // $WinnowStride AS seg,
      |    pos % $WinnowStride AS lpos, h FROM sh
      |  UNION ALL
      |  SELECT doc_id, pos // $WinnowStride - 1 AS seg,
      |    pos % $WinnowStride + $WinnowStride AS lpos, h FROM sh
      |  WHERE pos % $WinnowStride < ${WinnowW - 1} AND pos >= $WinnowStride),
      |keyed AS (SELECT doc_id, seg, lpos, h,
      |    h * $PosField + (${PosField - 1} - lpos) AS key FROM segd),
      |wmin AS (SELECT doc_id, seg, lpos,
      |    min(key) OVER (PARTITION BY doc_id, seg ORDER BY lpos
      |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS mk,
      |    count(*) OVER (PARTITION BY doc_id, seg ORDER BY lpos
      |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wsz
      |  FROM keyed),
      |sel AS (SELECT DISTINCT doc_id,
      |    (seg * $WinnowStride + ${PosField - 1} - (mk % $PosField))::BIGINT AS sel_pos,
      |    (mk // $PosField)::BIGINT AS sel_h
      |  FROM wmin WHERE wsz = $WinnowW),
      |short AS (SELECT doc_id,
      |    (${PosField - 1} - (min(key) % $PosField))::BIGINT AS sel_pos,
      |    (min(key) // $PosField)::BIGINT AS sel_h
      |  FROM keyed GROUP BY doc_id HAVING count(*) < $WinnowW)""".stripMargin

  /** Shared CTE chain for the unigram LM score (typicality `t` is
    * the round-6 ppm double — proven bit-identical cross-engine by
    * q_lm_score's hash gate, so thresholds on it compare exactly).
    */
  private val lmScoreCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      |tot AS (SELECT sum(cnt)::BIGINT AS total FROM tf),
      |per AS (
      |  SELECT t.doc_id, count(*) AS n_tokens, sum(f.cnt)::BIGINT AS sum_freq,
      |    sum(CASE WHEN f.cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS n_rare
      |  FROM tok t JOIN tf f USING (term) GROUP BY t.doc_id),
      |scored AS (SELECT doc_id, n_tokens, sum_freq, n_rare,
      |    round(sum_freq::DOUBLE * 1000000.0 / n_tokens::DOUBLE / total::DOUBLE, 6)
      |      AS t
      |  FROM per CROSS JOIN tot)""".stripMargin

  /** [[lmScoreCtes]] extended to the head/middle/tail assignment —
    * shared by the bucketing query and the tiered-mixture plan.
    */
  private val pplBucketCtes =
    s"""$lmScoreCtes,
      |n AS (SELECT count(*) AS n FROM scored),
      |rn AS (SELECT t, row_number() OVER (ORDER BY t DESC) AS rn FROM scored),
      |cuts AS (SELECT
      |    max(CASE WHEN r.rn = n.n // 3 THEN r.t END) AS head_cut,
      |    max(CASE WHEN r.rn = (2 * n.n) // 3 THEN r.t END) AS tail_cut
      |  FROM rn r CROSS JOIN n),
      |bucketed AS (SELECT s.doc_id, s.n_tokens, s.t, c.head_cut, c.tail_cut,
      |    CASE WHEN s.t >= c.head_cut THEN 'head'
      |      WHEN s.t >= c.tail_cut THEN 'middle' ELSE 'tail' END AS bucket
      |  FROM scored s CROSS JOIN cuts c)""".stripMargin

  private val sourceDriftSql =
    s"""WITH tok AS (
      |  SELECT source, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h
      |  FROM (SELECT source,
      |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |        FROM documents)),
      |sc AS (SELECT source, h, count(*)::BIGINT AS c_sh FROM tok GROUP BY 1, 2),
      |cc AS (SELECT h, count(*)::BIGINT AS c_h FROM tok GROUP BY 1),
      |nt AS (SELECT count(*)::BIGINT AS n FROM tok),
      |tot AS (SELECT sum(c_h * 1000000000 // nt.n)::BIGINT AS total_pc
      |  FROM cc CROSS JOIN nt),
      |ns AS (SELECT source, count(*)::BIGINT AS n_s FROM tok GROUP BY 1),
      |j AS (SELECT sc.source, ns.n_s,
      |    (sc.c_sh * 1000000000 // ns.n_s)::BIGINT AS ps_ppb,
      |    (cc.c_h * 1000000000 // nt.n)::BIGINT AS pc_ppb,
      |    (strlen(bin(sc.c_sh * nt.n))
      |      - strlen(bin(cc.c_h * ns.n_s)))::BIGINT AS bldiff
      |  FROM sc JOIN cc USING (h) JOIN ns USING (source) CROSS JOIN nt)
      |SELECT source, n_s AS n_tokens, count(*)::BIGINT AS n_terms,
      |  sum(ps_ppb * bldiff)::BIGINT AS kl_log2_ppb,
      |  (sum(abs(ps_ppb - pc_ppb)) + (SELECT total_pc FROM tot)
      |    - sum(pc_ppb))::BIGINT AS l1_ppb
      |FROM j GROUP BY 1, 2""".stripMargin

  private val qualityCalibrateSql =
    s"""WITH qs AS ($qualityScoreSql),
      |sc AS (SELECT q.doc_id, d.source,
      |    round(q.quality_score * 1000000)::BIGINT AS q_ppm
      |  FROM qs q JOIN documents d ON q.doc_id = d.doc_id),
      |hist AS (SELECT source, q_ppm, count(*)::BIGINT AS freq
      |  FROM sc GROUP BY 1, 2),
      |ns AS (SELECT source, count(*)::BIGINT AS n_s FROM sc GROUP BY 1),
      |sp AS (SELECT source, q_ppm,
      |    coalesce(sum(freq) OVER (PARTITION BY source ORDER BY q_ppm
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS below
      |  FROM hist),
      |gh AS (SELECT q_ppm, count(*)::BIGINT AS freq FROM sc GROUP BY 1),
      |gp AS (SELECT q_ppm,
      |    coalesce(sum(freq) OVER (ORDER BY q_ppm
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS below
      |  FROM gh)
      |SELECT sc.doc_id, sc.source, sc.q_ppm,
      |  (sp.below * 1000000 // ns.n_s)::BIGINT AS pct_src_ppm,
      |  (gp.below * 1000000 // (SELECT count(*) FROM sc))::BIGINT
      |    AS pct_global_ppm
      |FROM sc JOIN sp ON sc.source = sp.source AND sc.q_ppm = sp.q_ppm
      |JOIN ns ON sc.source = ns.source
      |JOIN gp ON sc.q_ppm = gp.q_ppm""".stripMargin

  /** q_langid_nb oracle: the identical NB arithmetic over the same
    * md5-prefix trigram hashes, replayed in DuckDB.
    */
  private def langidNbSql: String = {
    val markerCase = LangMarkers
      .map { case (l, m) => s"WHEN '$l' THEN '$m'" }
      .mkString("CASE lang ", " ", " END")
    val cntCols = LangIdLangs.map(l =>
      s"count(*) FILTER (WHERE lang = '$l')::BIGINT AS c_$l").mkString(",\n    ")
    val totCols = LangIdLangs.map(l =>
      s"strlen(bin((coalesce(sum(c_$l), 0) + $LangIdBuckets)" +
        s" * (coalesce(sum(c_$l), 0) + $LangIdBuckets)))::BIGINT AS n_$l")
      .mkString(",\n    ")
    val sumCols = LangIdLangs.map(l =>
      s"sum(strlen(bin((coalesce(c.c_$l, 0) + 1)" +
        s" * (coalesce(c.c_$l, 0) + 1))))::BIGINT AS s_$l").mkString(",\n    ")
    val scoreCols = LangIdLangs.map(l =>
      s"(s_$l - n_tri * n_$l)::BIGINT AS score_$l").mkString(",\n    ")
    val pred = LangIdLangs.init.zipWithIndex.map { case (l, i) =>
      val dom = LangIdLangs.drop(i + 1)
        .map(r => s"score_$l >= score_$r").mkString(" AND ")
      s"WHEN $dom THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${LangIdLangs.last}' END")
    s"""WITH aug AS (SELECT doc_id, lang, doc_id % $LangIdSeedMod = 0 AS is_seed,
      |    substr(lower(($markerCase) || ' ' || text), 1, $LangIdMaxChars) AS tx
      |  FROM documents),
      |tok AS (SELECT doc_id, lang, is_seed,
      |    -- length() (chars), NOT strlen() (bytes): the markers are
      |    -- accented and substr indexes characters
      |    unnest(list_transform(range(1, greatest(length(tx) - 1, 1)),
      |      i -> ('0x' || substr(md5(substr(tx, i, 3)), 1, 12))::BIGINT
      |        % $LangIdBuckets)) AS f
      |  FROM aug),
      |cnt AS (SELECT f,
      |    $cntCols
      |  FROM tok WHERE is_seed GROUP BY f),
      |tot AS (SELECT
      |    $totCols
      |  FROM cnt),
      |sc AS (SELECT t.doc_id, t.lang AS labeled_lang, t.is_seed,
      |    count(*)::BIGINT AS n_tri,
      |    $sumCols
      |  FROM tok t LEFT JOIN cnt c ON t.f = c.f
      |  GROUP BY t.doc_id, t.lang, t.is_seed)
      |SELECT doc_id, labeled_lang, is_seed, n_tri,
      |    $scoreCols,
      |    $pred AS pred_lang
      |FROM sc, tot""".stripMargin
  }

  /** [[qFertility]]'s oracle (BPE fertility per source) — shared with
    * the q_tokenizer_race union.
    */
  private def bpeFertilitySql: String =
    s"""$bpeRoundsCtes,
      |enc AS (SELECT w, len(string_split(s, ' '))::BIGINT AS n_sym,
      |  strlen(w)::BIGINT AS n_chars FROM sym$BpeTrainSteps),
      |tok AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |  FROM documents),
      |per AS (SELECT source, count(*)::BIGINT AS n_words,
      |    sum(e.n_sym)::BIGINT AS n_symbols, sum(e.n_chars)::BIGINT AS n_chars
      |  FROM tok t JOIN enc e USING (w)
      |  GROUP BY source)
      |SELECT source, n_words, n_symbols, n_chars,
      |  (n_symbols * 1000000) // n_words AS fertility_ppm,
      |  (n_chars * 1000000) // n_symbols AS chars_per_symbol_ppm
      |FROM per""".stripMargin

  /** [[qWordpiece]]'s oracle (greedy longest-match WordPiece fertility
    * per source) — shared with the q_tokenizer_race union.
    */
  private def wordpieceFertilitySql: String = {
    val rounds = (1 to WpMaxWordLen).map { r =>
      s"""a$r AS MATERIALIZED (SELECT c.w, max(c.L)::BIGINT AS adv FROM (
        |    SELECT s.w, l.L, substr(s.w, (s.pos + 1)::INT, l.L::INT) AS piece
        |    FROM s${r - 1} s CROSS JOIN
        |      (SELECT unnest(range(1, ${WpMaxPiece + 1})) AS L) l
        |    WHERE s.pos < s.len AND s.pos + l.L <= s.len) c
        |  JOIN vocab v ON v.piece = c.piece GROUP BY c.w),
        |s$r AS MATERIALIZED (SELECT s.w, s.len,
        |    (CASE WHEN s.pos < s.len THEN s.pos + coalesce(a.adv, 1)
        |      ELSE s.pos END)::BIGINT AS pos,
        |    (CASE WHEN s.pos < s.len THEN s.np + 1 ELSE s.np END)::BIGINT AS np
        |  FROM s${r - 1} s LEFT JOIN a$r a ON s.w = a.w)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (
      |  SELECT source, substr(t, 1, $WpMaxWordLen) AS w FROM (
      |    SELECT source,
      |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      |    FROM documents)
      |  WHERE length(t) >= 1),
      |words AS MATERIALIZED (
      |  SELECT w, count(*)::BIGINT AS n FROM tok GROUP BY 1),
      |chars AS (SELECT DISTINCT substr(w, i::INT, 1) AS piece FROM (
      |  SELECT w, unnest(range(1, length(w) + 1)) AS i FROM words)),
      |grams AS (SELECT piece FROM (
      |  SELECT substr(w, i::INT, L::INT) AS piece, sum(n) AS cnt FROM (
      |    SELECT w, n, L, unnest(range(1, length(w) - L + 2)) AS i
      |    FROM (SELECT w, n, unnest(range(2, ${WpMaxPiece + 1})) AS L
      |          FROM words)
      |    WHERE length(w) >= L)
      |  GROUP BY 1 ORDER BY cnt DESC, piece LIMIT $WpVocabN)),
      |vocab AS MATERIALIZED (SELECT DISTINCT piece FROM (
      |  SELECT piece FROM chars UNION ALL SELECT piece FROM grams)),
      |s0 AS MATERIALIZED (SELECT w, length(w)::BIGINT AS len,
      |  0::BIGINT AS pos, 0::BIGINT AS np FROM words),
      |$rounds,
      |enc AS (SELECT w, np AS n_pieces, len AS n_chars
      |  FROM s$WpMaxWordLen),
      |per AS (SELECT source, count(*)::BIGINT AS n_words,
      |    sum(e.n_pieces)::BIGINT AS n_pieces,
      |    sum(e.n_chars)::BIGINT AS n_chars
      |  FROM tok t JOIN enc e USING (w)
      |  GROUP BY source)
      |SELECT source, n_words, n_pieces, n_chars,
      |  (n_pieces * 1000000) // n_words AS fertility_ppm,
      |  (n_chars * 1000000) // n_pieces AS chars_per_piece_ppm
      |FROM per""".stripMargin
  }

  /** q_corpus_laws oracle: identical integer arithmetic in DuckDB —
    * strlen(bin(·)) is the biLog mirror, the spectrum prefix rides a
    * plain window (oracle side carries no scale posture), anchors
    * come from range(0, 63), and the least-squares fit is the exact
    * sign-split rational.
    */
  private def corpusLawsSql: String = {
    def biLogSql(v: String): String =
      s"(CASE WHEN $v < 3000000000 THEN strlen(bin(($v) * ($v)))" +
        s" ELSE 2 * strlen(bin($v)) END)::BIGINT"
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
      |spectrum AS (SELECT cnt, count(*)::BIGINT AS n_terms FROM tf GROUP BY 1),
      |rk AS (SELECT cnt, n_terms,
      |    (sum(n_terms) OVER (ORDER BY cnt DESC))::BIGINT AS rank_hi
      |  FROM spectrum),
      |vn AS (SELECT count(*)::BIGINT AS v FROM tf),
      |zanch AS (SELECT b::BIGINT AS b, (1::BIGINT << b)::BIGINT AS anchor
      |  FROM range(0, 63) t(b)
      |  WHERE (1::BIGINT << b) <= (SELECT v FROM vn)),
      |zpts AS (SELECT 'zipf' AS law, za.b, za.anchor,
      |    (2 * za.b + 1)::BIGINT AS x, ${biLogSql("rk.cnt")} AS y
      |  FROM rk JOIN zanch za
      |    ON rk.rank_hi - rk.n_terms < za.anchor AND za.anchor <= rk.rank_hi),
      |fs AS (SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY 1),
      |fsh AS (SELECT first_doc, count(*)::BIGINT AS n_new FROM fs GROUP BY 1),
      |dt AS (SELECT doc_id, count(*)::BIGINT AS n_tok FROM tok GROUP BY 1),
      |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
      |hanch AS (SELECT b::BIGINT AS b, (1::BIGINT << b)::BIGINT AS anchor
      |  FROM range(0, 63) t(b)
      |  WHERE (1::BIGINT << b) <= (SELECT n FROM nd)),
      |vj AS (SELECT ha.b, ha.anchor, sum(fsh.n_new)::BIGINT AS v
      |  FROM fsh JOIN hanch ha ON fsh.first_doc < ha.anchor GROUP BY 1, 2),
      |nj AS (SELECT ha.b, ha.anchor, sum(dt.n_tok)::BIGINT AS ntok
      |  FROM dt JOIN hanch ha ON dt.doc_id < ha.anchor GROUP BY 1, 2),
      |hpts AS (SELECT 'heaps' AS law, vj.b, vj.anchor,
      |    ${biLogSql("nj.ntok")} AS x, ${biLogSql("vj.v")} AS y
      |  FROM vj JOIN nj USING (b, anchor)),
      |pts AS (SELECT * FROM zpts UNION ALL SELECT * FROM hpts),
      |fit AS (SELECT law,
      |    (count(*)::BIGINT * sum(x * y) - sum(x) * sum(y))::BIGINT AS num,
      |    (count(*)::BIGINT * sum(x * x) - sum(x) * sum(x))::BIGINT AS den
      |  FROM pts GROUP BY 1),
      |sl AS (SELECT law,
      |    (CASE WHEN num >= 0 THEN (num * 1000000) // den
      |          ELSE -(((0 - num) * 1000000) // den) END)::BIGINT AS slope_ppm
      |  FROM fit)
      |SELECT p.law, p.b, p.anchor, p.x, p.y, sl.slope_ppm
      |FROM pts p JOIN sl USING (law)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_corpus_laws" -> corpusLawsSql,
    "q_langid_nb" -> langidNbSql,
    "q_quality_calibrate" -> qualityCalibrateSql,
    "q_source_drift" -> sourceDriftSql,
    "q_bpe_train" -> bpeTrainSql,
    "q_wp_train" -> wpTrainSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_bpe_merge" -> bpeMergeSql,
    "q_ngram_novelty" ->
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(hs) AS h FROM (
        |    SELECT doc_id,
        |      list_transform(range(1, greatest(len(toks) - 1, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1], toks[i+2])), 1, 12))::BIGINT)
        |        AS hs
        |    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        |          FROM documents))),
        |dft AS (SELECT h, count(*)::BIGINT AS df FROM (SELECT DISTINCT doc_id, h FROM sh)
        |  GROUP BY h),
        |per AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |    sum(CASE WHEN d.df > $CommonDf THEN 1 ELSE 0 END)::BIGINT AS n_common
        |  FROM sh s JOIN dft d USING (h)
        |  GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_common,
        |  (n_common * 1000000) // n_shingles AS common_frac_ppm
        |FROM per""".stripMargin,
    "q_wordpiece" -> wordpieceFertilitySql,
    "q_tokenizer_race" ->
      s"""SELECT 'bpe' AS family, source, n_words, n_symbols AS n_pieces,
        |  n_chars, fertility_ppm, chars_per_symbol_ppm AS chars_per_piece_ppm
        |FROM ($bpeFertilitySql)
        |UNION ALL
        |SELECT 'wordpiece' AS family, source, n_words, n_pieces, n_chars,
        |  fertility_ppm, chars_per_piece_ppm
        |FROM ($wordpieceFertilitySql)""".stripMargin,
    "q_fertility" -> bpeFertilitySql,
    "q_source_containment" ->
      """WITH t AS (SELECT source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |db AS (SELECT DISTINCT source, b FROM (
        |  SELECT source, unnest(list_transform(range(1, len(toks)),
        |    i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1])), 1, 12))::BIGINT)) AS b
        |  FROM t)),
        |na AS (SELECT source, count(*)::BIGINT AS n_a FROM db GROUP BY 1),
        |pr AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM db a JOIN db b ON a.b = b.b GROUP BY 1, 2)
        |SELECT pr.src_a, pr.src_b, na.n_a, pr.n_shared,
        |  (pr.n_shared * 1000000 // na.n_a)::BIGINT AS containment_ppm
        |FROM pr JOIN na ON pr.src_a = na.source""".stripMargin,
    "q_diversity" ->
      """WITH t AS (SELECT source,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |tok AS (SELECT source, unnest(toks) AS w FROM t),
        |uni AS (SELECT source, count(*)::BIGINT AS n_tokens,
        |    count(DISTINCT w)::BIGINT AS n_types FROM tok GROUP BY source),
        |bi AS (SELECT source, count(*)::BIGINT AS n_bigrams,
        |    count(DISTINCT b)::BIGINT AS n_bigram_types FROM (
        |    SELECT source, unnest(list_transform(range(1, len(toks)),
        |      i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1])), 1, 12))::BIGINT)) AS b
        |    FROM t) GROUP BY source)
        |SELECT source, n_tokens, n_types,
        |  (n_types * 1000000) // n_tokens AS ttr_ppm,
        |  n_bigrams, n_bigram_types,
        |  (n_bigram_types * 1000000) // n_bigrams AS bigram_ttr_ppm
        |FROM uni JOIN bi USING (source)""".stripMargin,
    "q_simpson" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM tok GROUP BY doc_id, w),
        |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_types, sum(c * c)::BIGINT AS s2
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  (s2 * 1000000) // (n_tokens * n_tokens) AS simpson_ppm,
        |  1000000 - (s2 * 1000000) // (n_tokens * n_tokens) AS gini_ppm,
        |  (n_tokens * n_tokens * 1000000) // s2 AS inv_simpson_ppm
        |FROM agg""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(hs) AS h FROM (
        |    SELECT doc_id,
        |      list_transform(range(1, greatest(len(toks) - 3, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
        |               toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT) AS hs
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents))),
        |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 100 = 0),
        |train AS (SELECT DISTINCT doc_id, h FROM sh)
        |SELECT t.doc_id, count(*) AS n_shared_shingles
        |FROM train t JOIN bench b ON t.h = b.h
        |GROUP BY t.doc_id""".stripMargin,
    "q_decon_by_bench" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(hs) AS h FROM (
        |    SELECT doc_id,
        |      list_transform(range(1, greatest(len(toks) - 3, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
        |               toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT) AS hs
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\s+') AS toks
        |          FROM documents))),
        |bsh AS (SELECT DISTINCT doc_id AS bench_id, h FROM sh WHERE doc_id % 100 = 0),
        |bsz AS (SELECT bench_id, count(*)::BIGINT AS n_bench_shingles
        |  FROM bsh GROUP BY bench_id),
        |train AS (SELECT DISTINCT doc_id, h FROM sh),
        |hits AS (SELECT b.bench_id,
        |    count(DISTINCT t.doc_id)::BIGINT AS n_leaking_docs,
        |    count(DISTINCT t.h)::BIGINT AS n_hit_shingles
        |  FROM train t JOIN bsh b ON t.h = b.h
        |  GROUP BY b.bench_id)
        |SELECT bench_id, n_bench_shingles,
        |  coalesce(n_leaking_docs, 0) AS n_leaking_docs,
        |  coalesce(n_hit_shingles, 0) AS n_hit_shingles,
        |  (coalesce(n_hit_shingles, 0) * 1000000) // n_bench_shingles AS hit_frac_ppm
        |FROM bsz LEFT JOIN hits USING (bench_id)""".stripMargin,
    "q_decontaminate_verdict" ->
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(hs) AS h FROM (
        |    SELECT doc_id,
        |      list_transform(range(1, greatest(len(toks) - 3, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
        |               toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT) AS hs
        |    FROM (SELECT doc_id,
        |            string_split_regex(lower(trim(text)), '\\s+') AS toks
        |          FROM documents))),
        |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 100 = 0),
        |train AS (SELECT DISTINCT doc_id, h FROM sh),
        |per AS (SELECT t.doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_shared
        |  FROM train t LEFT JOIN bench b ON t.h = b.h
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_shingles, n_shared,
        |  (1000000 * n_shared) // n_shingles AS overlap_ppm,
        |  CASE WHEN (1000000 * n_shared) // n_shingles >= $ContamTauPpm
        |    THEN 'contaminated' ELSE 'clean' END AS verdict
        |FROM per""".stripMargin,
    "q_winnow" ->
      s"""WITH $winnowCtes
        |SELECT * FROM sel UNION ALL SELECT * FROM short""".stripMargin,
    "q_winnow_long" ->
      s"""WITH ${winnowCtesFor(
             s"SELECT doc_id, text FROM documents WHERE doc_id < 10 " +
             s"UNION ALL SELECT $WinnowLongId AS doc_id, " +
             s"repeat('$WinnowLongPattern', $WinnowLongReps) AS text")},
        |u AS (SELECT * FROM sel UNION ALL SELECT * FROM short)
        |SELECT doc_id, count(*) AS n_fp, max(sel_pos) AS max_sel_pos,
        |  sum((sel_h % 1000003) * 131 + sel_pos)::BIGINT AS fp_checksum
        |FROM u GROUP BY doc_id""".stripMargin,
    "q_winnow_pairs" ->
      s"""WITH $winnowCtes,
        |fps AS (SELECT DISTINCT doc_id, sel_h FROM (
        |  SELECT * FROM sel UNION ALL SELECT * FROM short)),
        |rare AS (SELECT sel_h FROM fps GROUP BY sel_h
        |  HAVING count(*) <= $WinnowHashCap),
        |small AS (SELECT f.doc_id, f.sel_h FROM fps f JOIN rare USING (sel_h))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM small a JOIN small b
        |  ON a.sel_h = b.sel_h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= $WinnowMinShared""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH tok AS (
        |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |  FROM documents),
        |topn AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |  ORDER BY cnt DESC, term LIMIT $VocabTopN),
        |m AS (SELECT t.source,
        |    CASE WHEN n.term IS NULL THEN 0 ELSE 1 END AS iv
        |  FROM tok t LEFT JOIN topn n ON t.term = n.term)
        |SELECT source, count(*) AS n_tokens, sum(iv)::BIGINT AS n_in_vocab,
        |  round(sum(iv)::BIGINT::DOUBLE / count(*)::DOUBLE, 6) AS coverage,
        |  round((count(*) - sum(iv)::BIGINT)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS oov_rate
        |FROM m GROUP BY source""".stripMargin,
    "q_lm_score" ->
      s"""WITH $lmScoreCtes
        |SELECT doc_id, n_tokens, sum_freq, t AS typicality_ppm,
        |  round(n_rare::DOUBLE / n_tokens::DOUBLE, 6) AS rare_token_frac
        |FROM scored""".stripMargin,
    "q_lm_bigram" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |pp AS (SELECT doc_id, p.a AS a, p.b AS b FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'a': toks[i], 'b': toks[i+1]})) AS p
        |  FROM t)),
        |bi AS (SELECT a, b, count(*) AS cab FROM pp GROUP BY 1, 2),
        |ctx AS (SELECT a, sum(cab)::BIGINT AS ca FROM bi GROUP BY 1),
        |sc AS (SELECT pp.doc_id, (1000000 * bi.cab) // ctx.ca AS r
        |  FROM pp JOIN bi USING (a, b) JOIN ctx USING (a))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  (sum(r)::BIGINT) // count(*) AS bigram_typicality_ppm,
        |  min(r) AS min_transition_ppm
        |FROM sc GROUP BY doc_id""".stripMargin,
    "q_lm_kn" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |pp AS (SELECT doc_id, p.a AS a, p.b AS b FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'a': toks[i], 'b': toks[i+1]})) AS p
        |  FROM t)),
        |bi AS (SELECT a, b, count(*) AS cab FROM pp GROUP BY 1, 2),
        |ctx AS (SELECT a, sum(cab)::BIGINT AS ca, count(*)::BIGINT AS n1a
        |  FROM bi GROUP BY 1),
        |cont AS (SELECT b, count(*)::BIGINT AS n1b FROM bi GROUP BY 1),
        |nd AS (SELECT count(*)::BIGINT AS ndistinct FROM bi),
        |sc AS (SELECT pp.doc_id,
        |    ((1000000 * greatest(4 * bi.cab - 3, 0)) // (4 * ctx.ca)
        |      + (3 * ctx.n1a * ((1000000 * cont.n1b) // nd.ndistinct))
        |        // (4 * ctx.ca))::BIGINT AS p
        |  FROM pp JOIN bi USING (a, b) JOIN ctx USING (a)
        |    JOIN cont USING (b) CROSS JOIN nd)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  (sum(p)::BIGINT) // count(*) AS kn_typicality_ppm,
        |  min(p)::BIGINT AS min_transition_ppm
        |FROM sc GROUP BY doc_id""".stripMargin,
    "q_rep_chars" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |dc AS (SELECT doc_id, sum(strlen(tk))::BIGINT AS doc_chars FROM (
        |  SELECT doc_id, unnest(toks) AS tk FROM t) GROUP BY doc_id),
        |g2 AS (SELECT doc_id, p.g AS g, p.c AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'g': toks[i] || toks[i+1],
        |            'c': strlen(toks[i]) + strlen(toks[i+1])})) AS p FROM t)),
        |c2 AS (SELECT doc_id, g, count(*) AS cnt, min(c)::BIGINT AS clen
        |  FROM g2 GROUP BY 1, 2),
        |d2 AS (SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * clen ELSE 0 END)::BIGINT AS dup2_chars,
        |    max(cnt) AS top_cnt FROM c2 GROUP BY 1),
        |t2 AS (SELECT c.doc_id, (max(c.clen) * max(d.top_cnt))::BIGINT AS top2_chars
        |  FROM c2 c JOIN d2 d ON c.doc_id = d.doc_id AND c.cnt = d.top_cnt
        |  GROUP BY c.doc_id),
        |g3 AS (SELECT doc_id, p.g AS g, p.c AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> {'g': toks[i] || toks[i+1] || toks[i+2],
        |            'c': strlen(toks[i]) + strlen(toks[i+1]) + strlen(toks[i+2])})) AS p
        |  FROM t)),
        |c3 AS (SELECT doc_id, g, count(*) AS cnt, min(c)::BIGINT AS clen
        |  FROM g3 GROUP BY 1, 2),
        |d3 AS (SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * clen ELSE 0 END)::BIGINT AS dup3_chars,
        |    max(cnt) AS top_cnt FROM c3 GROUP BY 1),
        |t3 AS (SELECT c.doc_id, (max(c.clen) * max(d.top_cnt))::BIGINT AS top3_chars
        |  FROM c3 c JOIN d3 d ON c.doc_id = d.doc_id AND c.cnt = d.top_cnt
        |  GROUP BY c.doc_id)
        |SELECT dc.doc_id, dc.doc_chars,
        |  (1000000 * t2.top2_chars) // dc.doc_chars AS top2_frac_ppm,
        |  (1000000 * d2.dup2_chars) // dc.doc_chars AS dup2_frac_ppm,
        |  (1000000 * t3.top3_chars) // dc.doc_chars AS top3_frac_ppm,
        |  (1000000 * d3.dup3_chars) // dc.doc_chars AS dup3_frac_ppm
        |FROM dc JOIN d2 ON dc.doc_id = d2.doc_id
        |  JOIN t2 ON dc.doc_id = t2.doc_id
        |  JOIN d3 ON dc.doc_id = d3.doc_id
        |  JOIN t3 ON dc.doc_id = t3.doc_id""".stripMargin,
    "q_ppl_buckets" ->
      s"""WITH $pplBucketCtes
        |SELECT doc_id, t AS typicality_ppm, head_cut, tail_cut, bucket
        |FROM bucketed""".stripMargin,
    "q_tiered_mixture" ->
      s"""WITH $pplBucketCtes,
        |cells AS (SELECT d.source, b.bucket, count(*) AS n_docs,
        |    sum(b.n_tokens)::BIGINT AS n_tokens
        |  FROM bucketed b JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |w AS (SELECT source, bucket, n_docs, n_tokens,
        |    (CASE bucket WHEN 'head' THEN 3 WHEN 'middle' THEN 2 ELSE 1 END)::BIGINT
        |      AS mult,
        |    n_tokens * (CASE bucket WHEN 'head' THEN 3 WHEN 'middle' THEN 2 ELSE 1 END)
        |      AS wt
        |  FROM cells),
        |mtot AS (SELECT sum(wt)::BIGINT AS tot_wt,
        |    sum(n_tokens)::BIGINT AS tot_tokens FROM w)
        |SELECT source, bucket, n_docs, n_tokens, mult,
        |  (1000000 * wt) // tot_wt AS target_ppm,
        |  (1000000 * n_tokens) // tot_tokens AS natural_ppm,
        |  (1000000 * ((1000000 * wt) // tot_wt))
        |    // ((1000000 * n_tokens) // tot_tokens) AS boost_ppm
        |FROM w CROSS JOIN mtot""".stripMargin,
    "q_vocab" ->
      """WITH tf AS (
        |  SELECT t AS term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |    FROM documents) GROUP BY t),
        |stats AS (SELECT sum(cnt)::BIGINT AS total_tokens,
        |    count(*) AS vocab_size,
        |    sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count
        |  FROM tf),
        |top AS (SELECT term AS top_term, cnt AS top_term_cnt FROM tf
        |  ORDER BY cnt DESC, term LIMIT 1)
        |SELECT * FROM stats CROSS JOIN top""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    round(len(list_distinct(toks)) / len(toks), 6) AS frac_unique_words
        |  FROM t),
        |bi AS (SELECT doc_id, unnest(hs) AS h FROM (
        |  SELECT doc_id, list_transform(range(1, len(toks)),
        |      i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1])), 1, 12))::BIGINT) AS hs
        |  FROM t)),
        |c AS (SELECT doc_id, h, count(*) AS c FROM bi GROUP BY 1, 2),
        |tp AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
        |    round(max(c) / sum(c), 6) AS top_bigram_frac,
        |    round(count(*) / sum(c), 6) AS frac_unique_bigrams
        |  FROM c GROUP BY doc_id)
        |SELECT u.doc_id, u.n_tokens, u.frac_unique_words,
        |  tp.n_bigrams, tp.top_bigram_frac, tp.frac_unique_bigrams
        |FROM u JOIN tp ON u.doc_id = tp.doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    (t.cnt / d.len) * ((n.n - f.dfreq + 0.5) / (f.dfreq + 0.5)) AS raw
        |  FROM tf t JOIN dl d ON t.doc_id = d.doc_id
        |  JOIN dfreq f ON t.term = f.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, raw,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, round(raw, 6) AS tfidf, rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin,
    "q_langid" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, lang AS labeled_lang, len(toks)::BIGINT AS n_tokens,
        |    ${hitSql(Stopwords(0)._2)} AS en_score,
        |    ${hitSql(Stopwords(1)._2)} AS fr_score,
        |    ${hitSql(Stopwords(2)._2)} AS de_score,
        |    ${hitSql(Stopwords(3)._2)} AS es_score
        |  FROM t)
        |SELECT doc_id, labeled_lang, n_tokens,
        |  round(en_score, 6) AS en_score, round(fr_score, 6) AS fr_score,
        |  round(de_score, 6) AS de_score, round(es_score, 6) AS es_score,
        |  CASE WHEN en_score >= fr_score AND en_score >= de_score
        |         AND en_score >= es_score THEN 'en'
        |       WHEN fr_score >= de_score AND fr_score >= es_score THEN 'fr'
        |       WHEN de_score >= es_score THEN 'de'
        |       ELSE 'es' END AS pred_lang
        |FROM s""".stripMargin,
    "q_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents),
        |r AS (SELECT doc_id, len(toks) AS n_tokens,
        |    list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_len,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        |      / length(text) AS punct_raw,
        |    ${hitSql(Stopwords(0)._2)} AS stop_raw,
        |    least(1.0::DOUBLE, len(toks) / 100.0) AS tok_score
        |  FROM t)
        |SELECT doc_id, n_tokens::BIGINT AS n_tokens,
        |  round(mean_len, 6) AS mean_token_len,
        |  round(punct_raw, 6) AS punct_ratio,
        |  round(stop_raw, 6) AS stopword_ratio,
        |  round(0.3::DOUBLE * stop_raw + 0.3::DOUBLE * (1.0::DOUBLE - punct_raw)
        |    + 0.4::DOUBLE * tok_score, 6) AS quality_score
        |FROM r""".stripMargin,
    "q_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT
        |    AS n_regex_tokens,
        |  ceil(length(text) / 4.0)::BIGINT AS est_bpe_tokens
        |FROM documents""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(
        |        list_filter(string_split(substr(lower(text), 1, 64), ''), c -> c <> ''),
        |        c -> ascii(c)::BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "q_multimodal" ->
      """WITH b AS (SELECT doc_id, text,
        |    octet_length(encode(text))::BIGINT AS n_bytes,
        |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, n_bytes,
        |  CASE WHEN n_bytes % 3 = 0 THEN 'image'
        |       WHEN n_bytes % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  h % 640 + 1 AS width,
        |  h % 480 + 1 AS height,
        |  n_bytes % 30 + 1 AS frames
        |FROM b""".stripMargin)
}

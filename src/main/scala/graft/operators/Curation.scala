package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoRegistry.{cut, shared}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Corpus-curation operators a large-scale training-data pipeline
  * runs before tokenization: PII/URL scrubbing, passage chunking
  * with chunk-level dedup stats, and training-mixture (temperature
  * sampling) planning. All either narrow per-row transforms or
  * 1-2 partial-aggregated shuffles — no all-pairs joins, nothing
  * driver-resident; horizontal at 100 TB.
  */
object Curation {

  // --- PII / URL scrubbing -------------------------------------------

  /** Redaction patterns: kept to the regex subset with identical
    * semantics in Java (Spark) and RE2 (DuckDB) — character classes,
    * greedy counted repeats, alternation-free.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[^ ]+"
  val NumRe = "\\+?[0-9][0-9-]{3,}"

  /** Scrub emails, then URLs, then digit runs (order matters: the
    * e-mail/URL bodies contain digit runs of their own).
    */
  def scrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      NumRe, "<NUM>")

  /** The synthetic corpus is PII-free word soup, so the query seeds
    * each document with deterministic contact/URL facts derived from
    * its own key columns — both engines build the identical string —
    * and then proves the scrubber removes them. Counts are measured
    * on the pre-scrub text; the scrubbed text ships as a 48-bit md5
    * hash (md5-prefix parity per the oracle rules).
    */
  /** The deterministic PII augmentation (shared by qScrub and the
    * full curation run): every doc gets contact/URL facts derived
    * from its own key columns, identically in both engines.
    */
  private def augText: Column = concat(col("text"),
    lit(" reach user"), col("doc_id").cast("string"),
    lit("@mail.example.net ref +1-555-"),
    lpad((col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
    lit(" see https://data.example.org/"), col("source"),
    lit("/p"), col("doc_id").cast("string"))

  def qScrub(s: SparkSession, dir: String): DataFrame = {
    // regexes go through functions/lit (Java regex verbatim), never
    // through expr() SQL string literals, whose escape processing
    // would strip the backslashes
    Tables.documents(s, dir)
      .withColumn("aug", augText)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("aug"), lit(NumRe), lit(0))).cast("long").as("n_nums"),
        length(col("aug")).cast("long").as("n_chars_raw"),
        length(scrub(col("aug"))).cast("long").as("n_chars_scrubbed"),
        tokenHash(scrub(col("aug"))).as("scrub_hash"))
  }

  // --- HTML boilerplate strip (content extraction) -------------------

  /** Deterministic HTML chrome wrapped around each document's text
    * (the augment-in-the-harness pattern, like [[augText]]): title,
    * one script and one style block, a nav div with entities, the
    * body text in a <p>, and an entity-bearing footer — both engines
    * build the identical markup from the doc's own key columns.
    */
  private def htmlAug: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p{margin:0}</style><script>var id="),
    col("doc_id").cast("string"),
    lit(";</script></head><body><div class=\"nav\">Home &amp; About</div><p>"),
    col("text"),
    lit("</p><p>Contact &lt;"), col("source"),
    lit("&gt; &quot;here&quot;</p></body></html>"))

  /** HTML → clean text (the web-corpus content-extraction stage that
    * precedes every quality/dedup pass — trafilatura's job, reduced
    * to its deterministic core): drop script/style ELEMENTS with
    * their contents, strip the remaining tags, decode the five
    * standard entities (&amp; LAST, so literal "&amp;lt;" in a page
    * never double-decodes), collapse whitespace. All narrow
    * codegen'd regexp/replace chains — zero shuffles, the q_scrub
    * posture. Script/style bodies match `[^<]*` (the injected blocks
    * never contain '<'), keeping the pattern single-line-safe and
    * identical across Java regex and RE2.
    */
  def htmlStrip(h: Column): Column = {
    val noScript = regexp_replace(
      regexp_replace(h, "<script[^>]*>[^<]*</script>", " "),
      "<style[^>]*>[^<]*</style>", " ")
    val noTags = regexp_replace(noScript, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Per-doc extraction audit: tag count, cleaned length, an exact
    * containment proof that the body text survived (instr > 0), and
    * the 48-bit hash of the cleaned text as the cross-engine
    * certificate.
    */
  def qHtmlStrip(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir).withColumn("h", htmlAug)
    a.select(col("doc_id"),
      size(regexp_extract_all(col("h"), lit("<[^>]*>"), lit(0)))
        .cast("long").as("n_tags"),
      length(htmlStrip(col("h"))).cast("long").as("clean_len"),
      (instr(htmlStrip(col("h")), trim(col("text"))) > 0)
        .cast("long").as("body_ok"),
      tokenHash(htmlStrip(col("h"))).as("clean_hash"))
  }

  /** Unicode NFC normalization audit — the cleaning pass that runs
    * BEFORE any hash-keyed stage (exact dedup, shingles, URL canon):
    * byte-distinct encodings of identical rendered text ("e"+U+0301
    * vs U+00E9) split content hashes and token statistics. The
    * harness augments each doc with a composed-or-decomposed accent
    * (by id parity) so both branches of the normalizer are exercised
    * at every SF; `already_nfc` is the falsifiable signal (odd ids
    * arrive composed, even ids do not), `norm_hash` certifies the
    * normalized BYTES against DuckDB's utf8proc nfc_normalize.
    * Per-row codegen'd expression ([[graft.functions.UnicodeNfc]]);
    * narrow, no shuffle.
    */
  def qUnicodeNorm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExpressions.unicodeNfc
    val raw = concat(col("text"),
      when(col("doc_id") % 2 === 0, lit("e\u0301")).otherwise(lit("\u00e9")))
    Tables.documents(s, dir)
      .withColumn("raw", raw)
      .withColumn("norm", unicodeNfc(col("raw")))
      .select(col("doc_id"),
        (col("raw") === col("norm")).as("already_nfc"),
        tokenHash(col("norm")).as("norm_hash"),
        length(col("norm")).cast("long").as("n_chars"))
  }

  // --- semi-structured (JSON) ingest ---------------------------------

  /** Every JsonCorruptMod-th record is truncated — the malformed-
    * record rate a real crawl sidecar feed always carries.
    */
  val JsonCorruptMod = 10L

  /** Deterministic JSON sidecar per doc (augment-in-the-harness):
    * nested metadata built from the doc's own key columns, with
    * every JsonCorruptMod-th record truncated mid-value so the
    * parse path's failure handling is exercised at every SF.
    */
  private def jsonAug: Column = {
    val valid = concat(
      lit("{\"id\": "), col("doc_id").cast("string"),
      lit(", \"meta\": {\"source\": \""), col("source"),
      lit("\", \"lang\": \""), col("lang"),
      lit("\"}, \"n\": "), col("n_chars").cast("string"), lit("}"))
    when(col("doc_id") % JsonCorruptMod === 0,
      substring(valid, 1, 20)).otherwise(valid)
  }

  /** Semi-structured ingest — schema-on-read over a JSON sidecar
    * column (the CommonCrawl-metadata shape: every web-scale
    * pipeline starts by parsing crawl records): `from_json` with an
    * explicit nested schema, per-field extraction, and an explicit
    * malformed verdict instead of a silent null (Spark PERMISSIVE
    * mode nulls the fields; `is_valid` derives from the
    * never-null-in-valid-records id). Narrow, codegen'd, zero
    * shuffles — the html-strip posture. The DuckDB oracle parses
    * the identical strings with json_valid + json_extract.
    */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("j", jsonAug)
      .withColumn("p", expr(
        "from_json(j, 'id BIGINT, meta STRUCT<source: STRING, lang: STRING>, n BIGINT')"))
      .select(col("doc_id"),
        col("p.id").isNotNull.cast("long").as("is_valid"),
        col("p.id").as("j_id"),
        col("p.meta.source").as("j_source"),
        col("p.meta.lang").as("j_lang"),
        col("p.n").as("j_n"))

  // --- passage chunking + chunk-level dedup --------------------------

  val ChunkWords = 10

  /** Non-overlapping ChunkWords-word passage hashes per document.
    * The md5 hash is applied INSIDE the producing transform lambda —
    * consuming a HOF's string output from a second lambda mis-binds
    * on Spark 4.1 (see GraftFunctions.shingleHashes).
    */
  def chunkHashes(textCol: String): Column =
    // escaping: s-interpolator halves \\\\ to \\, Spark's SQL literal
    // unescape halves again — the regex engine sees \s+
    expr(s"""transform(
      sequence(0, greatest(0, cast(ceil(size(split(lower(trim($textCol)), '\\\\s+')) / $ChunkWords.0) as int) - 1)),
      i -> cast(conv(substring(md5(concat_ws(' ',
        slice(split(lower(trim($textCol)), '\\\\s+'), i * $ChunkWords + 1, $ChunkWords))), 1, 12), 16, 10) as bigint))""")

  /** Chunk-granularity dedup stats (the RefinedWeb/Gopher-style
    * "duplicated passage fraction" signal): explode chunk hashes,
    * count global occurrences per hash (one partial-aggregated
    * shuffle), re-aggregate per document. At 100 TB both shuffles
    * key on the 48-bit hash — uniform by construction, no hot keys.
    */
  def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    // the exploded chunk table feeds the occurrence count AND the
    // join back — cut once (r16 §8); uncut, the scan + chunk-hash
    // explode ran per consumer
    val exploded = Tables.documents(s, dir)
      .select(col("doc_id"), explode(chunkHashes("text")).as("ch"))
      .transform(cut)
    val counts = exploded.groupBy(col("ch")).agg(count(lit(1)).as("n_occ"))
    exploded.join(counts, "ch")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("n_unique_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  // --- content-defined chunking --------------------------------------

  /** Content-defined chunking (the FastCDC/rsync boundary trick at
    * token granularity): a token is a cut point when its content
    * hash ≡ 0 (mod CdcDivisor), so chunk boundaries re-synchronize
    * after an insertion — unlike [[chunkHashes]]' fixed windows,
    * where one added word shifts every later chunk and kills their
    * dedup. The boundary token ENDS its chunk; expected chunk length
    * is CdcDivisor tokens. Stages: position explode (narrow), a
    * per-document prefix-sum window for chunk ids (bounded by doc
    * length), chunk reassembly as one per-(doc, chunk) aggregate,
    * and a corpus-wide occurrence count keyed on the 48-bit chunk
    * hash — all linear, no hot keys.
    */
  val CdcDivisor = 16

  def cdcChunks(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("f", (tokenHash(col("t")) % CdcDivisor === 0).cast("long"))
      .withColumn("cid", sum(col("f")).over(w) - col("f"))
    tok.groupBy(col("doc_id"), col("cid"))
      .agg(count(lit(1)).as("chunk_tokens"),
        tokenHash(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")))).as("ch"))
  }

  /** Per-document CDC dedup rollup — [[qChunkDedup]]'s statistics
    * over content-defined boundaries.
    */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame = {
    // the chunk table (position explode + prefix-sum window + the
    // collect_list reassembly) feeds the occurrence count AND the
    // join back — cut once (r16 §8)
    val chunks = cut(cdcChunks(Tables.documents(s, dir)))
    val occ = chunks.groupBy(col("ch")).agg(count(lit(1)).as("n_occ"))
    chunks.join(occ, "ch")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("n_unique_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("chunk_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("n_chunks"), col("n_unique_chunks"),
        col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 6)
          .as("dup_frac"),
        round(col("n_tokens").cast("double") / col("n_chunks").cast("double"), 6)
          .as("mean_chunk_tokens"))
  }

  // --- quality rule filter -------------------------------------------

  /** Gopher-style keep/drop rule cascade with the FIRST failing rule
    * recorded as the drop reason — the auditable form every corpus
    * filter ships with. Thresholds are plain rational comparisons on
    * exact counts (no float accumulation), narrow and codegen'd.
    */
  val MinTokens = 15L
  val MaxTokens = 100000L
  val MinMeanTokenLen = 2.0
  val MaxMeanTokenLen = 12.0
  val MaxTopWordShare = 0.20

  def qFilterRules(s: SparkSession, dir: String): DataFrame =
    ruleFilter(Tables.documents(s, dir))

  /** The rule cascade over an arbitrary documents DataFrame
    * (doc_id, text, ...) — shared by the batch query and the
    * streaming curation pass (DocStreams).
    */
  def ruleFilter(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val charSum = aggregate(transform(toks, t => length(t)),
      lit(0L), (acc, x) => acc + x)
    // modal word count per doc: explode + two partial aggs keyed by
    // doc — the only shuffled piece, and it shuffles (doc_id, term)
    // counts, not text
    val top = docs
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_cnt"))
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("mean_len", charSum.cast("double") / nTok)
      .join(top, "doc_id")
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("mean_len"), 6).as("mean_token_len"),
        col("top_word_cnt"),
        when(col("n_tokens") < MinTokens, "too_few_tokens")
          .when(col("n_tokens") > MaxTokens, "too_many_tokens")
          .when(col("mean_len") < MinMeanTokenLen, "mean_token_too_short")
          .when(col("mean_len") > MaxMeanTokenLen, "mean_token_too_long")
          .when(col("top_word_cnt").cast("double")
            > col("n_tokens").cast("double") * MaxTopWordShare, "repetitive_top_word")
          .otherwise(lit(null).cast("string")).as("drop_reason"))
      .withColumn("keep", col("drop_reason").isNull)
  }

  /** Per-source corpus report card — the table a curation run ships
    * to its operators: document/token volume, rule-filter survival,
    * and the dominant drop reason per source. Rides [[ruleFilter]]'s
    * per-doc verdicts (already one explode + two partial aggs) plus
    * one O(sources) rollup and an O(sources × reasons) window — at
    * 100 TB the report costs the same pass the filter itself does.
    */
  def qSourceReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rf = ruleFilter(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val base = rf.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("drop_rate",
        round((col("n_docs") - col("n_kept")).cast("double")
          / col("n_docs").cast("double"), 6))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("rc").desc, col("drop_reason"))
    val topReason = rf.filter(!col("keep"))
      .groupBy(col("source"), col("drop_reason")).agg(count(lit(1)).as("rc"))
      .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("source"), col("drop_reason").as("top_drop_reason"),
        col("rc").as("top_drop_count"))
    base.join(topReason, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_kept"),
        col("drop_rate"),
        coalesce(col("top_drop_reason"), lit("none")).as("top_drop_reason"),
        coalesce(col("top_drop_count"), lit(0L)).as("top_drop_count"))
  }

  // --- training-mixture planning -------------------------------------

  /** Temperature-sampled mixture weights per source (the standard
    * multilingual/multi-source recipe: w_i ∝ share_i^alpha with
    * alpha = 1/2). sqrt is correctly rounded in IEEE 754 so both
    * engines produce the identical double; the weight is then
    * FLOOR-quantized to a 1e6 grid so the normalizing sum is an
    * exact integer sum (floor of a double is representation-stable;
    * round() is not — oracle rule). Two tiny aggregates + two
    * broadcast joins; the per-source table is O(sources).
    */
  private def mixtureRaw(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
      .withColumn("wq", floor(sqrt(col("share")) * 1e6).cast("long"))
    val wtot = shared.agg(sum(col("wq")).as("wq_tot"))
    shared.crossJoin(broadcast(wtot))
  }

  def qMixture(s: SparkSession, dir: String): DataFrame =
    mixtureRaw(Tables.documents(s, dir))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("share"), 6).as("token_share"),
        round(col("wq").cast("double") / col("wq_tot").cast("double"), 6).as("weight"),
        round(col("wq").cast("double") / col("wq_tot").cast("double") / col("share"), 6)
          .as("sample_factor"))

  /** Doc-level mixture APPLICATION (SURVEY §7 r4): the per-source
    * sample_factor materialized deterministically per document.
    * floor(factor) copies always; one extra iff the doc's salted
    * hash fraction (on the same 1e6 grid the weights quantize to)
    * falls below the factor's fractional part — a pure function of
    * the row and the O(sources) factor table, so reruns and late
    * data reproduce the sample with no RNG or coordination (the
    * q_split philosophy). Upsampling (factor > 1) materializes via
    * explode(sequence); downsampling drops the row when no copy is
    * due. The factor table broadcasts; the corpus never shuffles.
    * Thresholds stay integer (floor on the 1e6 grid — floor of a
    * double is representation-stable, round is not).
    */
  /** The per-source sampling factors as integer (base, thr) pairs on
    * the 1e6 grid — the O(sources) table a sampler applies. Planned
    * ONCE on a reference corpus snapshot, then applicable to any doc
    * set (the batch query below, or arriving micro-batches in
    * streaming.DocStreams).
    */
  def mixtureFactors(docs: DataFrame): DataFrame =
    mixtureRaw(docs)
      .withColumn("f",
        col("wq").cast("double") / col("wq_tot").cast("double") / col("share"))
      .select(col("source"),
        floor(col("f")).cast("long").as("base"),
        floor((col("f") - floor(col("f"))) * 1e6).cast("long").as("thr"))

  /** Apply planned factors to a doc set: deterministic per-doc copy
    * counts, upsampling exploded as copy_idx rows.
    */
  def applyMixture(docs: DataFrame, factors: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(factors), "source")
      .withColumn("n_copies",
        col("base") + when(
          tokenHash(concat(lit("mix_"), col("doc_id").cast("string"))) % 1000000L
            < col("thr"), 1L).otherwise(0L))
      .withColumn("copy_idx",
        explode(when(col("n_copies") >= 1, sequence(lit(1L), col("n_copies")))))
      .select(col("doc_id"), col("source"), col("n_copies"), col("copy_idx"))

  def qMixtureSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    applyMixture(docs, mixtureFactors(docs))
  }

  // --- DoReMi-style domain reweighting (multiplicative weights) ---------

  /** Hedge epochs: with a STATIC per-domain signal the multiplicative
    * recursion w ← w·(1 + η·g) telescopes to the closed form
    * (1 + η·g)^R with one final normalization — computed that way so
    * no per-round integer floors accumulate (the BigInt-exact
    * posture). A production DoReMi re-measures the excess signal
    * between rounds (proxy-model training); the seam is the excess
    * column, the update law is unchanged.
    */
  val DwRounds = 4
  /** η = 0.25 on the ppm grid (the Hedge step; |η·g| ≤ 1/4 keeps the
    * linearized update inside the regime where it tracks the
    * exponentiated form).
    */
  val DwEtaPpm = 250000L
  /** DoReMi's uniform smoothing: final α = (1−ε)·w + ε·u, ε = 0.1. */
  val DwSmoothPpm = 100000L

  /** DoReMi-style domain weights (Xie et al. 2023) in the repo's
    * exact-integer discipline: the published recipe trains a proxy
    * model and upweights domains with EXCESS loss via exponentiated
    * gradient; here the proxy signal is the 37k unigram-LM
    * typicality lifted to the domain grain (the same perplexity
    * stand-in the CCNet bucketing rides — an ATYPICAL domain is the
    * high-excess-loss one a proxy would upweight), and the update is
    * the linearized Hedge / multiplicative-weights rule (Freund &
    * Schapire; Arora-Hazan-Kale survey) so every step is integer:
    * gain_ppm = excess normalized by the max |excess| (losses-in-
    * [0,1], the MW precondition; sign-split floor division), factor
    * f = 1e6 + η·gain (sign-split), raw weight f^R in decimal(38,0),
    * one normalization to the 1e6 grid, then the ε-uniform smooth.
    * Output is O(sources) rows; the only corpus-sized work is the
    * token-stats shuffle the typicality already pays. Weights feed
    * [[applyMixture]] via [[qDoremiSample]].
    */
  def domainWeights(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val per = tok.join(tf, "term").groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_freq"))
    val nDocsPer = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tok"),
      sum(col("sum_freq")).as("tot_freq"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("typ_ppb", expr(
        "CAST(sum_freq AS DECIMAL(38,0)) * 1000000000" +
          " div (CAST(n_tokens AS DECIMAL(38,0)) * tot_tok)"))
      .withColumn("corp_ppb", expr(
        "CAST(tot_freq AS DECIMAL(38,0)) * 1000000000" +
          " div (CAST(tot_tok AS DECIMAL(38,0)) * tot_tok)"))
      .withColumn("excess_ppb", col("typ_ppb") - col("corp_ppb"))
    val mx = scored.agg(max(abs(col("excess_ppb"))).as("mx"))
    val raw = scored.crossJoin(broadcast(mx))
      // sign-split floor division throughout: Spark's div truncates
      // toward zero, DuckDB's // floors — they agree only on
      // non-negative operands (the modularity discipline)
      .withColumn("gain_ppm", expr(
        "CASE WHEN mx = 0 THEN 0" +
          " WHEN excess_ppb >= 0 THEN (excess_ppb * 1000000) div mx" +
          " ELSE -(((- excess_ppb) * 1000000) div mx) END"))
      .withColumn("f", expr(
        s"1000000 + (CASE WHEN gain_ppm >= 0" +
          s" THEN ($DwEtaPpm * gain_ppm) div 1000000" +
          s" ELSE -(($DwEtaPpm * (- gain_ppm)) div 1000000) END)"))
      .withColumn("wraw",
        expr("CAST(f AS DECIMAL(38,0))" + " * f" * (DwRounds - 1)))
    val norm = raw.agg(sum(col("wraw")).as("wtot"), count(lit(1)).as("k"))
    raw.crossJoin(broadcast(norm))
      .withColumn("wn_ppm", expr("(wraw * 1000000) div wtot"))
      .withColumn("weight_ppm", expr(
        s"((1000000 - $DwSmoothPpm) * wn_ppm" +
          s" + $DwSmoothPpm * (1000000 div k)) div 1000000"))
      .join(nDocsPer, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("typ_ppb"),
        col("excess_ppb"), col("gain_ppm"), col("weight_ppm"))
  }

  def qDomainWeights(s: SparkSession, dir: String): DataFrame =
    domainWeights(Tables.documents(s, dir))

  /** The DoReMi weights applied as a deterministic sampler: factors
    * f_i = α_i / token_share_i on the integer (base, thr) grid —
    * exact decimal arithmetic, no doubles — then [[applyMixture]]'s
    * hash-threshold materialization unchanged (same output contract
    * as q_mixture_sample; the two rungs differ exactly by the
    * weight-planning law: temperature sqrt vs MW excess).
    */
  def doremiFactors(docs: DataFrame): DataFrame = {
    val w = domainWeights(docs)
    val tot = w.agg(sum(col("n_tokens")).as("tot_tok"))
    w.crossJoin(broadcast(tot))
      .withColumn("fnum", expr(
        "CAST(weight_ppm AS DECIMAL(38,0)) * tot_tok"))
      .withColumn("fden", expr(
        "CAST(n_tokens AS DECIMAL(38,0)) * 1000000"))
      .select(col("source"),
        expr("CAST(fnum div fden AS LONG)").as("base"),
        expr("CAST((fnum * 1000000 div fden) % 1000000 AS LONG)").as("thr"))
  }

  def qDoremiSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    applyMixture(docs, doremiFactors(docs))
  }

  /** Mixture REPLANNING drift: recompute the temperature weights
    * after a (biased) batch of arrivals lands and report the
    * per-source weight shift — the monitoring signal that tells a
    * pipeline when its sampling plan has gone stale. Arrivals here
    * are the deterministic biased subset doc_id % 3 = 0 re-keyed
    * past the id space (both engines build the identical union).
    * Two O(sources) aggregate chains + one tiny join.
    */
  def mixtureWeights(docs: DataFrame): DataFrame =
    mixtureRaw(docs).select(col("source"), col("n_docs"),
      (col("wq").cast("double") / col("wq_tot").cast("double")).as("weight"))

  def qMixtureDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val arrivals = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val before = mixtureWeights(docs)
      .toDF("source", "n_docs_before", "w_before")
    val after = mixtureWeights(docs.unionByName(arrivals))
      .toDF("source", "n_docs_after", "w_after")
    before.join(after, "source")
      .select(col("source"), col("n_docs_before"), col("n_docs_after"),
        round(col("w_before"), 6).as("weight_before"),
        round(col("w_after"), 6).as("weight_after"),
        round(col("w_after") - col("w_before"), 6).as("drift"))
  }

  // --- cross-source contamination matrix -----------------------------

  /** Pairwise source overlap: for every source pair, the count of
    * distinct shared 5-token shingle hashes and the Jaccard of the
    * two shingle sets — the "is my crawl re-ingesting another
    * source" audit. Volume discipline: everything reduces to
    * DISTINCT (source, h) FIRST (bounded by distinct corpus
    * shingles, not occurrences), and the hash join fans out each
    * hash only to the sources containing it — ≤ S rows per hash
    * with S the (small, fixed) source count — so pair volume is
    * O(shingles × S), never corpus². One agg shuffle on the pair
    * key; the per-source sizes are S rows, broadcast back.
    */
  val OverlapShingleN = 5

  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("source"),
        explode(shingleHashes(tokens(col("text")), OverlapShingleN)).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.toDF("source_a", "h").join(sh.toDF("source_b", "h"), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.toDF("source_a", "na")), Seq("source_a"))
      .join(broadcast(sizes.toDF("source_b", "nb")), Seq("source_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double")
        / (col("na") + col("nb") - col("n_shared")).cast("double"), 6))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("jaccard"))
  }

  def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(s, dir))

  // --- DSIR-style importance weighting --------------------------------

  /** Data selection by importance resampling, hashed-n-gram flavor:
    * score every document by how target-like its tokens are, where
    * the TARGET distribution is the `isTarget` docs (the
    * high-quality corpus you want more of) and the reference is the
    * full RAW corpus, over hashed unigram features. The published
    * form sums ln p_t(f)/p_r(f) per token; transcendental log is
    * not bit-reproducible across engines (same reason qTfidf keeps
    * BM25 in rational form), so the per-token statistic here is the
    * exact integer TARGET SHARE of the feature in parts-per-million
    * — ((ct+1)·1e6) div (cr+1), add-one smoothed — summed over the
    * doc's tokens (mean- instead of geometric-mean pooling of the
    * per-feature ratios: per-feature monotone in the true
    * likelihood ratio, integer-exact in both engines). selected ⇔
    * the doc's summed share exceeds n_tokens × the corpus-wide
    * expected share — "more target-affine than the average token".
    * Scale shape: the count table is ≤ DsirBuckets rows →
    * broadcast; the totals are one scalar row crossed back in; the
    * per-doc score is one partial-aggregated shuffle on doc_id.
    * Integer division is (a - a mod b) / b with both operands
    * nonnegative, so Spark and the oracle floor identically; the
    * numerator stays < 2^53.
    */
  val DsirBuckets = 1024L

  private def divFloor(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  def dsirScores(docs: DataFrame, isTarget: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), isTarget.as("is_t"),
        explode(tokens(col("text"))).as("w"))
      .withColumn("f", tokenHash(col("w")) % DsirBuckets)
    val raw = tok.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("is_t")).groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val dist = raw.join(tgt, Seq("f"), "left").na.fill(0L, Seq("ct"))
      .withColumn("share_ppm",
        divFloor((col("ct") + 1) * lit(1000000L), col("cr") + 1))
    val totals = dist.agg(sum(col("cr")).as("r_tot"), sum(col("ct")).as("t_tot"))
      .withColumn("expected_ppm",
        divFloor((col("t_tot") + 1) * lit(1000000L), col("r_tot") + 1))
    tok.join(broadcast(dist), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("share_ppm")).as("dsir_score"))
      .crossJoin(broadcast(totals.select(col("expected_ppm"))))
      .select(col("doc_id"), col("n_tokens"), col("dsir_score"),
        (col("dsir_score") > col("n_tokens") * col("expected_ppm")).as("selected"))
  }

  /** Harness fixture: the target subset (every 10th doc) gets four
    * marker tokens appended — a stand-in for the distinctive
    * vocabulary of a real curated corpus (the synthetic tables draw
    * all docs from one token distribution, so a metadata-only
    * target is statistically indistinguishable from raw). Same
    * augment-in-the-harness pattern as q_scrub's augSql; the oracle
    * models the identical augmented corpus.
    */
  val DsirMarkers = " curated prose reference corpus"

  def qDsir(s: SparkSession, dir: String): DataFrame = {
    val aug = Tables.documents(s, dir).withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(DsirMarkers)))
        .otherwise(col("text")))
    dsirScores(aug, col("doc_id") % 10 === 0)
  }

  // --- classifier quality gate ----------------------------------------

  /** GPT-3-style classifier quality filtering (reference lineage:
    * the published pipelines train a linear classifier on curated-
    * vs-crawl seeds and keep crawl docs the classifier scores
    * curated-like): a multinomial Naive Bayes over hashed unigram
    * features, trained on labeled seed documents and applied to the
    * whole corpus. Log-likelihoods use the integer bit-length log
    * L(x) = strlen(bin(x²)) = floor(2·log2 x)+1 — a half-bit-
    * resolution logarithm both engines evaluate bit-identically
    * (no transcendentals; same cross-engine-exactness discipline as
    * qDsir's ppm shares). With flat class priors the NB decision
    * rule becomes: keep ⇔ Σ_w [L(ct+1) − L(cb+1)] >
    * n_tokens·(L(t_tot+V) − L(b_tot+V)), where ct/cb are the
    * feature's counts in the hq/lq seed sets, t_tot/b_tot the seed
    * token totals, and V = QcClassBuckets smoothing mass.
    * Scale shape: the count table is ≤ QcClassBuckets rows →
    * broadcast; the totals are one scalar row crossed back in; the
    * per-doc score is one partial-aggregated shuffle on
    * (doc_id, role). x² keeps the argument ≤ (corpus tokens)² —
    * inside int64 up to ~3e9 seed tokens per class; shard classes
    * beyond that.
    */
  val QcClassBuckets = 4096L
  val HqMarkers = " encyclopedia citation reference archive"
  val LqMarkers = " click subscribe winner prize"

  /** floor(2·log2 x)+1 for x ≥ 1, as an integer both engines agree on. */
  private def bitLog(x: Column): Column =
    length(bin(x * x)).cast("long")

  def nbQualityScores(docs: DataFrame, role: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), role.as("role"),
        explode(tokens(col("text"))).as("w"))
      .withColumn("f", tokenHash(col("w")) % QcClassBuckets)
    val seed = tok.filter(col("role") =!= "unlabeled")
    val cnt = seed.groupBy(col("f")).agg(
      sum(when(col("role") === "hq", 1L).otherwise(0L)).as("ct"),
      sum(when(col("role") === "lq", 1L).otherwise(0L)).as("cb"))
      .transform(cut)
    // seed totals derive from the ≤QcClassBuckets-row count table —
    // NOT by re-tokenizing the seed docs (r6 advice: `tot` was a
    // third full tokenize pass; now tokenization runs twice — once
    // into cnt, once in the scoring join — and cnt materializes once)
    val tot = cnt.agg(
      bitLog(coalesce(sum(col("ct")), lit(0L)) + QcClassBuckets).as("nt"),
      bitLog(coalesce(sum(col("cb")), lit(0L)) + QcClassBuckets).as("nb"))
    tok.join(broadcast(cnt), Seq("f"), "left")
      .na.fill(0L, Seq("ct", "cb"))
      .groupBy(col("doc_id"), col("role"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(bitLog(col("ct") + 1) - bitLog(col("cb") + 1)).as("tok_score"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("role"), col("n_tokens"),
        (col("tok_score") - col("n_tokens") * (col("nt") - col("nb")))
          .as("nb_score"))
      .withColumn("keep", col("nb_score") > 0)
  }

  /** Harness fixture: every 7th doc is an hq seed (curated-corpus
    * marker vocabulary appended), the next residue an lq seed
    * (boilerplate-spam markers) — the augment-in-the-harness pattern
    * of qDsir/qScrub, because the synthetic tables draw every doc
    * from one token distribution. The classifier trains on the seeds
    * and scores ALL docs, seeds included (their markers make them
    * sanity anchors: hq seeds must score positive, lq negative).
    */
  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val aug = Tables.documents(s, dir).withColumn("text",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(HqMarkers)))
        .when(col("doc_id") % 7 === 1, concat(col("text"), lit(LqMarkers)))
        .otherwise(col("text")))
    val role = when(col("doc_id") % 7 === 0, lit("hq"))
      .when(col("doc_id") % 7 === 1, lit("lq"))
      .otherwise(lit("unlabeled"))
    nbQualityScores(aug, role)
  }

  /** Stochastic classifier acceptance — the published web-corpus
    * filtering rule keeps a document when a Pareto noise draw beats
    * the classifier's deficit (`pareto(α) > 1 − score`), so strong
    * scorers are near-certain keeps while a slice of weak scorers
    * still survives (a soft boundary instead of a cliff, preserving
    * tail diversity). Deterministic twin: the per-doc draw is a
    * hash-derived integer threshold t ∈ [−SampleSpread,
    * +SampleSpread]; accept ⇔ nb_score > t. Acceptance probability
    * stays monotone in the score with the same soft-boundary shape,
    * and is bit-reproducible across engines and re-runs (the same
    * derandomization discipline as the LSH planes and MinHash
    * permutation constants). One narrow projection over
    * [[nbQualityScores]].
    */
  val SampleSpread = 64L

  def classifierSample(scored: DataFrame): DataFrame =
    scored.withColumn("t_doc",
        pmod(tokenHash(concat(lit("cs_"), col("doc_id").cast("string"))),
          lit(2 * SampleSpread + 1)) - SampleSpread)
      .select(col("doc_id"), col("role"), col("nb_score"), col("t_doc"),
        (col("nb_score") > col("t_doc")).as("accepted"))

  def qClassifierSample(s: SparkSession, dir: String): DataFrame =
    classifierSample(qQualityClassifier(s, dir))

  // --- per-domain caps -------------------------------------------------

  /** RefinedWeb-style per-domain document cap: at web scale a few
    * hosts contribute millions of near-boilerplate pages, so corpus
    * builders cap the documents any one domain may contribute.
    * Selection within a domain is by a deterministic hash rank (a
    * fixed permutation of doc_ids), so the kept subset is stable
    * under re-runs and independent of input order — the published
    * pipelines' "random but reproducible" sample. The window is
    * PARTITIONED BY domain: per-partition state is one counter, and
    * a pathological mega-domain degrades to one partition's sort of
    * its own rows, never a global sort. Output: every doc with its
    * domain, hash rank, and kept verdict.
    */
  val DomainMod = 7L
  val DomainCap = 3

  def domainCap(docs: DataFrame, domain: Column, cap: Int = DomainCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("rk"), col("doc_id"))
    docs.select(col("doc_id"), domain.as("domain"))
      .withColumn("rk", pmod(col("doc_id") * 7919L, lit(104729L)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("domain"), col("rn"),
        (col("rn") <= cap).as("kept"))
  }

  /** Harness: the synthetic corpus has no URL column, so the domain
    * is derived deterministically as source × (doc_id mod DomainMod)
    * — ~DomainMod pseudo-hosts per source, a few docs over the cap
    * in each at every test scale.
    */
  def qDomainCap(s: SparkSession, dir: String): DataFrame =
    domainCap(Tables.documents(s, dir),
      concat(col("source"), lit("-"), (col("doc_id") % DomainMod).cast("string")))

  // --- end-to-end curation run ----------------------------------------

  /** The composed pipeline verdict — what one corpus-curation run
    * actually decides per document, with the stage order a real
    * pipeline uses and first-fail attribution: exact dedup (keep the
    * min-doc_id copy of identical text) → quality rules (first
    * failing rule names the verdict) → benchmark decontamination
    * (any shared 5-gram shingle with the benchmark set) → kept.
    * Every stage is a shape already proven at scale on its own
    * query: one hash agg for the dedup keeper, ruleFilter's explode
    * + two partial aggs, and the decontamination broadcast
    * semi-join — composing them adds joins on doc_id, nothing
    * quadratic and nothing driver-resident.
    */
  def curationRun(docs: DataFrame, bench: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"), tokenHash(col("text")).as("th"))
    val keeper = th.groupBy(col("th")).agg(min(col("doc_id")).as("keeper_id"))
    val dup = th.join(keeper, "th")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper_id")).as("is_dup"))
    val rules = ruleFilter(docs).select(col("doc_id"), col("drop_reason"))
    val benchSh = bench.select(
      explode(shingleHashes(tokens(col("text")), OverlapShingleN)).as("h")).distinct()
    // no (doc_id, h) distinct before the broadcast semi-join (r16):
    // it cost a full exchange of the exploded shingle set and the
    // trailing distinct(doc_id) already dedups — the broadcast join
    // filters map-side, so the only exchange carries matching doc_ids
    val cont = docs.select(col("doc_id"),
        explode(shingleHashes(tokens(col("text")), OverlapShingleN)).as("h"))
      .join(broadcast(benchSh), "h").select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))
    val verdict = when(col("is_dup"), lit("exact_dup"))
      .when(col("drop_reason").isNotNull, col("drop_reason"))
      .when(coalesce(col("is_cont"), lit(false)), lit("contaminated"))
      .otherwise(lit("kept"))
    dup.join(rules, "doc_id").join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), verdict.as("verdict"),
        (verdict === "kept").as("keep"))
  }

  /** Harness: the doubled corpus (known-true exact dups, as in
    * Dedup.corpus) against the every-100th-doc benchmark split.
    */
  def qCurationRun(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + Dedup.Shift).as("doc_id"), col("text")))
    curationRun(doubled, docs.filter(col("doc_id") % 100 === 0))
  }

  /** Typicality floor for the full run's LM-filter stage: docs whose
    * unigram typicality (TextAnalysis.lmScore, ppm) falls below this
    * are "atypical" — the cheap stand-in for a perplexity ceiling.
    * 32 000 ppm sits just under the synthetic corpus's 1st
    * percentile with >10 ppm of margin at both test scales, so the
    * gate fires on a deterministic handful of docs and the
    * cross-engine hash can never straddle the threshold.
    */
  val LmMinTypicalityPpm = 32000L

  /** The FULL published-pipeline composition (r5 verdict next-#4):
    * exact dedup → NEAR-DUP CLUSTERS (MinHash pairs over the exact
    * survivors, resolved to connected components, each cluster's
    * min-id doc survives) → quality rules → LM typicality floor →
    * benchmark decontamination — first failing stage names the
    * verdict — plus PII scrub ACCOUNTING (scrubbing transforms
    * rather than drops, so it rides along as audit columns: PII hits
    * found and the scrubbed-text hash). Every stage is a shape
    * already oracle-proven on its own query (q_dedup_exact,
    * q_dedup_apply, q_filter_rules, q_lm_score, q_decontaminate,
    * q_scrub); the composition adds only doc_id equi-joins — nothing
    * quadratic, nothing driver-resident. Near-dup clustering runs on
    * exact SURVIVORS so copy-pairs don't inflate components; the LM
    * model trains on the full arriving corpus (dups included), the
    * realistic order when the filter model predates dedup.
    */
  def curationRunFull(docs: DataFrame, bench: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"), tokenHash(col("text")).as("th"))
    val keeper = th.groupBy(col("th")).agg(min(col("doc_id")).as("keeper_id"))
    val dup = th.join(keeper, "th")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper_id")).as("is_dup"))
    val survivors = docs.select(col("doc_id"), col("text"))
      .join(dup.filter(!col("is_dup")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val near = Dedup.connectedComponents(Dedup.minhashPairs(survivors))
      .filter(col("component_id") =!= col("doc_id"))
      .select(col("doc_id")).withColumn("is_near", lit(true))
    val rules = ruleFilter(docs).select(col("doc_id"), col("drop_reason"))
    val lm = TextAnalysis.lmScore(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        (col("typicality_ppm") < LmMinTypicalityPpm.toDouble).as("is_atyp"))
    val benchSh = bench.select(
      explode(shingleHashes(tokens(col("text")), OverlapShingleN)).as("h")).distinct()
    // no (doc_id, h) distinct before the broadcast semi-join (r16):
    // it cost a full exchange of the exploded shingle set and the
    // trailing distinct(doc_id) already dedups — the broadcast join
    // filters map-side, so the only exchange carries matching doc_ids
    val cont = docs.select(col("doc_id"),
        explode(shingleHashes(tokens(col("text")), OverlapShingleN)).as("h"))
      .join(broadcast(benchSh), "h").select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))
    val pii = docs.withColumn("aug", augText).select(col("doc_id"),
      (size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0)))
        + size(regexp_extract_all(col("aug"), lit(UrlRe), lit(0)))
        + size(regexp_extract_all(col("aug"), lit(NumRe), lit(0))))
        .cast("long").as("n_pii"),
      tokenHash(scrub(col("aug"))).as("scrub_hash"))
    val isNear = coalesce(col("is_near"), lit(false))
    val isCont = coalesce(col("is_cont"), lit(false))
    val verdict = when(col("is_dup"), lit("exact_dup"))
      .when(isNear, lit("near_dup"))
      .when(col("drop_reason").isNotNull, col("drop_reason"))
      .when(col("is_atyp"), lit("atypical"))
      .when(isCont, lit("contaminated"))
      .otherwise(lit("kept"))
    val stage = when(col("is_dup"), lit(1))
      .when(isNear, lit(2))
      .when(col("drop_reason").isNotNull, lit(3))
      .when(col("is_atyp"), lit(4))
      .when(isCont, lit(5))
      .otherwise(lit(0))
    dup.join(rules, "doc_id").join(lm, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .join(pii, "doc_id")
      .select(col("doc_id"), verdict.as("verdict"),
        stage.cast("int").as("stage"), (verdict === "kept").as("keep"),
        col("n_pii"), col("scrub_hash"))
  }

  /** Harness: the doubled corpus (with source carried through for
    * the scrub augmentation) against the every-100th-doc benchmark
    * split — q_curation_run's fixture, full-pipeline verdicts.
    */
  /** Memoized full-run verdict frame per (session, dir) — the
    * louvainBase discipline applied to the curation family (r15
    * optimization): [[qCurationRunFull]], [[qCurationReport]] and
    * [[qReleaseManifest]] all consume the SAME deterministic
    * doubled-corpus run (exact dup → near-dup CC → rules → LM →
    * decon + PII audit), and each was re-executing the whole
    * pipeline — exactly what a production curation run never does
    * (the verdict ledger is computed once; the report and the
    * release manifest read it). Lineage-cut with the reliable-
    * checkpoint discipline shared with Dedup.connectedComponents;
    * every process invocation still computes it from the parquet
    * inputs, and all three oracle outputs are byte-identical.
    */
  private def runFullBase(s: SparkSession, dir: String): DataFrame =
    shared("runFullBase", s, dir) {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val doubled = docs.unionByName(docs.select(
        (col("doc_id") + Dedup.Shift).as("doc_id"), col("source"), col("text")))
      cut(curationRunFull(doubled,
        docs.filter(col("doc_id") % 100 === 0).select(col("doc_id"), col("text"))))
    }

  def qCurationRunFull(s: SparkSession, dir: String): DataFrame =
    runFullBase(s, dir)

  /** Per-stage drop accounting of the full run — the report a
    * curation pipeline publishes: docs and PII hits per verdict in
    * stage order. One partial agg over [[qCurationRunFull]].
    */
  def qCurationReport(s: SparkSession, dir: String): DataFrame =
    runFullBase(s, dir)
      .groupBy(col("stage"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_pii")).as("pii_total"))

  /** RELEASE MANIFEST — the end-to-end provenance ledger a shipped
    * corpus needs, composed entirely from oracle-proven stages: the
    * full curation verdict (exact dup → near-dup → rules → LM →
    * decontamination), then for the KEPT docs the train/val/test
    * split (Sampling.split's hash buckets), the release shard
    * (q_shard_manifest's content-hash routing), and the epoch-0
    * training position over exactly the kept set (the epoch-shuffle
    * distributed rank, buckets sized from the KEPT count). One row
    * per arriving doc; dropped docs carry the verdict and NULL
    * release columns. The composition adds only doc_id equi-joins on
    * top of the member operators — nothing new shuffles wide.
    */
  def qReleaseManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val doubled = docs.unionByName(docs.select(
      (col("doc_id") + Dedup.Shift).as("doc_id"), col("source"), col("text")))
    val run = runFullBase(s, dir)
      .select(col("doc_id"), col("verdict"), col("keep"))
    val kept = run.filter(col("keep")).select(col("doc_id"))
    val pos = graft.operators.CorpusOps.epochShuffle(kept, None)
      .filter(col("epoch") === 0)
      .select(col("doc_id"), col("position"))
    val splitB = Sampling.hashBucket(col("doc_id"))
    doubled.join(run, "doc_id")
      .join(pos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("verdict"), col("keep"),
        when(col("keep"),
          when(splitB < 80, "train").when(splitB < 90, "val").otherwise("test"))
          .as("split"),
        when(col("keep"), tokenHash(col("text")) % CorpusOps.NShards).as("shard"),
        col("position"))
  }

  // --- driver contract -----------------------------------------------

  // --- release-side privacy / annotation QC --------------------------

  /** k-anonymity release gate: every quasi-identifier group
    * (nation × market segment on the customer dimension) with fewer
    * than k members is suppressed from the release — the standard
    * pre-publication check for any dataset that carries
    * user-attributable rows. One partial-agg shuffle on the
    * quasi-identifier; the verdict is per GROUP (bounded output),
    * never per row, so the gate costs the same whether the table is
    * 1 GB or 100 TB.
    */
  val KAnonK = 10
  def kAnonGroups(rows: DataFrame, quasi: Seq[String], k: Int): DataFrame =
    rows.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("released", col("n") >= lit(k))

  def qKanon(s: SparkSession, dir: String): DataFrame =
    kAnonGroups(Tables.customer(s, dir),
      Seq("c_nationkey", "c_mktsegment"), KAnonK)

  /** Cohen's kappa between two rule raters over the corpus — the
    * agreement audit run before trusting any pair of automatic
    * labelers (or a labeler against a human sample) on preference /
    * quality data. Rater A passes docs of ≥ [[KappaMinChars]] chars;
    * rater B passes docs of ≥ [[KappaMinTokens]] whitespace tokens.
    * Emitted as EXACT integer tallies plus kappa as an integer
    * fraction (num/den): kappa = (n·po − pe) / (n² − pe) with
    * po = both_pos + both_neg and pe = a_pos·b_pos + a_neg·b_neg,
    * so the oracle compare is bit-exact and the caller divides.
    * One partial-agg pass, one output row.
    */
  val KappaMinChars = 120
  val KappaMinTokens = 25
  def qRaterKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(
      (col("n_chars") >= lit(KappaMinChars)).as("a"),
      (size(tokens(col("text"))) >= lit(KappaMinTokens)).as("b"))
    d.agg(count(lit(1)).as("n"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a_pos"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b_pos"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("both_pos"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("both_neg"))
      .withColumn("pe_num",
        col("a_pos") * col("b_pos") +
          (col("n") - col("a_pos")) * (col("n") - col("b_pos")))
      .select(col("n"), col("a_pos"), col("b_pos"),
        col("both_pos"), col("both_neg"),
        ((col("both_pos") + col("both_neg")) * col("n") - col("pe_num"))
          .as("kappa_num"),
        (col("n") * col("n") - col("pe_num")).as("kappa_den"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kanon" -> qKanon _,
    "q_rater_kappa" -> qRaterKappa _,
    "q_json_extract" -> qJsonExtract _,
    "q_html_strip" -> qHtmlStrip _,
    "q_unicode_norm" -> qUnicodeNorm _,
    "q_scrub" -> qScrub _,
    "q_chunk_dedup" -> qChunkDedup _,
    "q_cdc_chunks" -> qCdcChunks _,
    "q_filter_rules" -> qFilterRules _,
    "q_source_report" -> qSourceReport _,
    "q_mixture" -> qMixture _,
    "q_mixture_sample" -> qMixtureSample _,
    "q_domain_weights" -> qDomainWeights _,
    "q_doremi_sample" -> qDoremiSample _,
    "q_mixture_drift" -> qMixtureDrift _,
    "q_source_overlap" -> qSourceOverlap _,
    "q_dsir" -> qDsir _,
    "q_quality_classifier" -> qQualityClassifier _,
    "q_classifier_sample" -> qClassifierSample _,
    "q_domain_cap" -> qDomainCap _,
    "q_curation_run" -> qCurationRun _,
    "q_curation_run_full" -> qCurationRunFull _,
    "q_curation_report" -> qCurationReport _,
    "q_release_manifest" -> qReleaseManifest _)

  /** Shared NB-classifier CTE chain (fixture + counts + totals +
    * per-doc scores) — q_quality_classifier and q_classifier_sample
    * read identical `sc, tot` relations so the two can never drift.
    */
  private val nbClassifierCtes =
    s"""aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'hq'
      |         WHEN doc_id % 7 = 1 THEN 'lq'
      |         ELSE 'unlabeled' END AS role,
      |    CASE WHEN doc_id % 7 = 0 THEN text || '$HqMarkers'
      |         WHEN doc_id % 7 = 1 THEN text || '$LqMarkers'
      |         ELSE text END AS text
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, role,
      |    ('0x' || substr(md5(w), 1, 12))::BIGINT % $QcClassBuckets AS f
      |  FROM (SELECT doc_id, role,
      |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |        FROM aug)),
      |cnt AS (
      |  SELECT f,
      |    count(*) FILTER (WHERE role = 'hq')::BIGINT AS ct,
      |    count(*) FILTER (WHERE role = 'lq')::BIGINT AS cb
      |  FROM tok WHERE role <> 'unlabeled' GROUP BY f),
      |tot AS (
      |  SELECT
      |    strlen(bin((count(*) FILTER (WHERE role = 'hq')::BIGINT + $QcClassBuckets)
      |      * (count(*) FILTER (WHERE role = 'hq')::BIGINT + $QcClassBuckets)))::BIGINT AS nt,
      |    strlen(bin((count(*) FILTER (WHERE role = 'lq')::BIGINT + $QcClassBuckets)
      |      * (count(*) FILTER (WHERE role = 'lq')::BIGINT + $QcClassBuckets)))::BIGINT AS nb
      |  FROM tok WHERE role <> 'unlabeled'),
      |sc AS (
      |  SELECT t.doc_id, t.role, count(*)::BIGINT AS n_tokens,
      |    sum(strlen(bin((coalesce(c.ct, 0) + 1) * (coalesce(c.ct, 0) + 1)))::BIGINT
      |      - strlen(bin((coalesce(c.cb, 0) + 1) * (coalesce(c.cb, 0) + 1)))::BIGINT
      |      )::BIGINT AS tok_score
      |  FROM tok t LEFT JOIN cnt c USING (f)
      |  GROUP BY t.doc_id, t.role)""".stripMargin

  // single line: interpolating multi-line SQL into a stripMargin
  // string would let the outer stripMargin eat the first | of a ||
  private val augSql =
    "text || ' reach user' || doc_id::VARCHAR || '@mail.example.net ref +1-555-' || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') || ' see https://data.example.org/' || source || '/p' || doc_id::VARCHAR"

  private val chunkSql =
    s"""SELECT doc_id,
      |  unnest(list_transform(
      |    range(0, greatest(1, ceil(len(t) / $ChunkWords.0)::INT)),
      |    i -> ('0x' || substr(md5(array_to_string(
      |      list_slice(t, i * $ChunkWords + 1, i * $ChunkWords + $ChunkWords), ' ')), 1, 12))::BIGINT)) AS ch
      |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |      FROM documents)""".stripMargin

  // shared rule-filter CTE chain + verdict CASE (q_filter_rules and
  // q_source_report build on the same per-doc verdicts)
  private val ruleCtes =
    s"""t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
      |    (list_sum(list_transform(toks, x -> strlen(x)))::BIGINT)::DOUBLE
      |      / len(toks)::BIGINT AS mean_len
      |  FROM t),
      |tw AS (
      |  SELECT doc_id, max(c) AS top_word_cnt FROM (
      |    SELECT doc_id, t2, count(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS t2 FROM t)
      |    GROUP BY doc_id, t2)
      |  GROUP BY doc_id),
      |j AS (SELECT * FROM base JOIN tw USING (doc_id))""".stripMargin

  private val ruleCaseSql =
    s"""CASE
      |    WHEN n_tokens < $MinTokens THEN 'too_few_tokens'
      |    WHEN n_tokens > $MaxTokens THEN 'too_many_tokens'
      |    WHEN mean_len < $MinMeanTokenLen THEN 'mean_token_too_short'
      |    WHEN mean_len > $MaxMeanTokenLen THEN 'mean_token_too_long'
      |    WHEN top_word_cnt::DOUBLE > n_tokens::DOUBLE * $MaxTopWordShare
      |      THEN 'repetitive_top_word'
      |    ELSE NULL
      |  END""".stripMargin

  // single line (the augSql discipline): '||' at a line start would
  // collide with stripMargin's '|'
  private val htmlAugSql =
    "'<html><head><title>Doc ' || doc_id::VARCHAR || '</title><style>p{margin:0}</style><script>var id=' || doc_id::VARCHAR || ';</script></head><body><div class=\"nav\">Home &amp; About</div><p>' || text || '</p><p>Contact &lt;' || source || '&gt; &quot;here&quot;</p></body></html>'"

  private val htmlStripOracle =
    s"""WITH a AS (SELECT doc_id, text, ($htmlAugSql) AS h FROM documents),
      |c AS (SELECT doc_id, text, h,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(h, '<script[^>]*>[^<]*</script>', ' ', 'g'),
      |          '<style[^>]*>[^<]*</style>', ' ', 'g'),
      |        '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&amp;', '&'),
      |    '\\s+', ' ', 'g')) AS clean
      |  FROM a)
      |SELECT doc_id,
      |  len(regexp_extract_all(h, '<[^>]*>'))::BIGINT AS n_tags,
      |  strlen(clean)::BIGINT AS clean_len,
      |  (CASE WHEN strpos(clean, trim(text)) > 0 THEN 1 ELSE 0 END)::BIGINT
      |    AS body_ok,
      |  ('0x' || substr(md5(clean), 1, 12))::BIGINT AS clean_hash
      |FROM c""".stripMargin

  // single line (the augSql discipline)
  private val jsonAugSql =
    "'{\"id\": ' || doc_id::VARCHAR || ', \"meta\": {\"source\": \"' || source || '\", \"lang\": \"' || lang || '\"}, \"n\": ' || n_chars::VARCHAR || '}'"

  private val jsonExtractOracle =
    s"""WITH a AS (SELECT doc_id,
      |  (CASE WHEN doc_id % $JsonCorruptMod = 0 THEN substr(v, 1, 20)
      |        ELSE v END) AS j
      |  FROM (SELECT doc_id, ($jsonAugSql) AS v FROM documents))
      |SELECT doc_id,
      |  (CASE WHEN json_valid(j) THEN 1 ELSE 0 END)::BIGINT AS is_valid,
      |  CASE WHEN json_valid(j) THEN json_extract(j, '$$.id')::BIGINT END AS j_id,
      |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$$.meta.source') END
      |    AS j_source,
      |  CASE WHEN json_valid(j) THEN json_extract_string(j, '$$.meta.lang') END
      |    AS j_lang,
      |  CASE WHEN json_valid(j) THEN json_extract(j, '$$.n')::BIGINT END AS j_n
      |FROM a""".stripMargin

  /** Shared CTE chain of the DoReMi oracles: token stats → integer
    * typicality/excess → sign-split gain → closed-form Hedge weight
    * → normalized + ε-smoothed ppm. Mirrors [[domainWeights]] op for
    * op (HUGEINT for the decimal(38,0) products, // on non-negative
    * operands only).
    */
  private def domainWeightsSql: String = {
    val wrawSql = "f::HUGEINT" + " * f" * (DwRounds - 1)
    s"""WITH tok AS (SELECT source,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
      |per AS (SELECT t.source, count(*)::BIGINT AS n_tokens,
      |    sum(f.cnt)::BIGINT AS sum_freq
      |  FROM tok t JOIN tf f USING (term) GROUP BY 1),
      |ndp AS (SELECT source, count(*)::BIGINT AS n_docs
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_tokens)::BIGINT AS tot_tok,
      |    sum(sum_freq)::BIGINT AS tot_freq FROM per),
      |sc AS (SELECT per.*,
      |    ((sum_freq::HUGEINT * 1000000000)
      |      // (n_tokens::HUGEINT * (SELECT tot_tok FROM tot)))::BIGINT
      |      AS typ_ppb,
      |    (((SELECT tot_freq FROM tot)::HUGEINT * 1000000000)
      |      // ((SELECT tot_tok FROM tot)::HUGEINT
      |         * (SELECT tot_tok FROM tot)))::BIGINT AS corp_ppb
      |  FROM per),
      |ex AS (SELECT *, (typ_ppb - corp_ppb)::BIGINT AS excess_ppb FROM sc),
      |mx AS (SELECT max(abs(excess_ppb))::BIGINT AS mx FROM ex),
      |g AS (SELECT *,
      |    (CASE WHEN (SELECT mx FROM mx) = 0 THEN 0
      |          WHEN excess_ppb >= 0
      |            THEN (excess_ppb * 1000000) // (SELECT mx FROM mx)
      |          ELSE -(((0 - excess_ppb) * 1000000)
      |            // (SELECT mx FROM mx)) END)::BIGINT AS gain_ppm
      |  FROM ex),
      |ff AS (SELECT *,
      |    (1000000 + (CASE WHEN gain_ppm >= 0
      |      THEN ($DwEtaPpm * gain_ppm) // 1000000
      |      ELSE -(($DwEtaPpm * (0 - gain_ppm)) // 1000000) END))::BIGINT AS f
      |  FROM g),
      |wr AS (SELECT *, ($wrawSql) AS wraw FROM ff),
      |t2 AS (SELECT sum(wraw)::HUGEINT AS wtot, count(*)::BIGINT AS k FROM wr),
      |wn AS (SELECT *,
      |    ((wraw * 1000000) // (SELECT wtot FROM t2))::BIGINT AS wn_ppm
      |  FROM wr),
      |fin AS (SELECT source, n_tokens, typ_ppb, excess_ppb, gain_ppm,
      |    (((1000000 - $DwSmoothPpm) * wn_ppm
      |      + $DwSmoothPpm * (1000000 // (SELECT k FROM t2)))
      |      // 1000000)::BIGINT AS weight_ppm
      |  FROM wn)""".stripMargin
  }

  private def domainWeightsTail: String =
    """
      |SELECT f.source, ndp.n_docs, f.n_tokens, f.typ_ppb, f.excess_ppb,
      |  f.gain_ppm, f.weight_ppm
      |FROM fin f JOIN ndp USING (source)""".stripMargin

  private def doremiSampleSql: String =
    s"""$domainWeightsSql,
      |wt AS (SELECT sum(n_tokens)::HUGEINT AS tt FROM fin),
      |fac AS (SELECT source,
      |    ((weight_ppm::HUGEINT * (SELECT tt FROM wt))
      |      // (n_tokens::HUGEINT * 1000000))::BIGINT AS base,
      |    (((weight_ppm::HUGEINT * (SELECT tt FROM wt) * 1000000)
      |      // (n_tokens::HUGEINT * 1000000)) % 1000000)::BIGINT AS thr
      |  FROM fin),
      |cp AS (SELECT d.doc_id, d.source,
      |    base + (CASE WHEN
      |      ('0x' || substr(md5('mix_' || d.doc_id::VARCHAR), 1, 12))::BIGINT
      |        % 1000000 < thr THEN 1 ELSE 0 END) AS n_copies
      |  FROM documents d JOIN fac USING (source))
      |SELECT doc_id, source, n_copies,
      |  unnest(range(1, n_copies + 1)) AS copy_idx
      |FROM cp""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_kanon" ->
      s"""SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(*) >= $KAnonK AS released
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "q_rater_kappa" ->
      s"""WITH r AS (SELECT
        |    n_chars >= $KappaMinChars AS a,
        |    len(string_split_regex(lower(trim(text)), '\\s+'))
        |      >= $KappaMinTokens AS b
        |  FROM documents),
        |t AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS a_pos,
        |    sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS b_pos,
        |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS both_pos,
        |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS both_neg
        |  FROM r)
        |SELECT n, a_pos, b_pos, both_pos, both_neg,
        |  (both_pos + both_neg) * n
        |    - (a_pos * b_pos + (n - a_pos) * (n - b_pos)) AS kappa_num,
        |  n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos)) AS kappa_den
        |FROM t""".stripMargin,
    "q_json_extract" -> jsonExtractOracle,
    "q_html_strip" -> htmlStripOracle,
    "q_unicode_norm" ->
      s"""WITH r AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) ELSE chr(233) END
        |    AS raw FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
        |SELECT doc_id, (raw = norm) AS already_nfc,
        |  ('0x' || substr(md5(norm), 1, 12))::BIGINT AS norm_hash,
        |  length(norm)::BIGINT AS n_chars
        |FROM n""".stripMargin,
    "q_scrub" ->
      s"""WITH a AS (SELECT doc_id, ($augSql) AS aug FROM documents),
        |s AS (SELECT doc_id, aug,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$UrlRe', '<URL>', 'g'),
        |    '$NumRe', '<NUM>', 'g') AS scrubbed
        |  FROM a)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '$EmailRe'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(aug, '$UrlRe'))::BIGINT AS n_urls,
        |  len(regexp_extract_all(aug, '$NumRe'))::BIGINT AS n_nums,
        |  strlen(aug)::BIGINT AS n_chars_raw,
        |  strlen(scrubbed)::BIGINT AS n_chars_scrubbed,
        |  ('0x' || substr(md5(scrubbed), 1, 12))::BIGINT AS scrub_hash
        |FROM s""".stripMargin,
    "q_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM t),
        |f AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tk,
        |    CASE WHEN ('0x' || substr(md5(toks[i]), 1, 12))::BIGINT
        |      % $CdcDivisor = 0 THEN 1 ELSE 0 END AS fl
        |  FROM tok),
        |c AS (SELECT doc_id, pos, tk,
        |    sum(fl) OVER (PARTITION BY doc_id ORDER BY pos) - fl AS cid
        |  FROM f),
        |ch AS (SELECT doc_id, cid, count(*) AS chunk_tokens,
        |    ('0x' || substr(md5(string_agg(tk, ' ' ORDER BY pos)), 1, 12))::BIGINT
        |      AS ch
        |  FROM c GROUP BY doc_id, cid),
        |occ AS (SELECT ch, count(*) AS n_occ FROM ch GROUP BY ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  count(DISTINCT ch.ch) AS n_unique_chunks,
        |  sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
        |  round(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
        |    / count(*)::DOUBLE, 6) AS dup_frac,
        |  round(sum(chunk_tokens)::BIGINT::DOUBLE / count(*)::DOUBLE, 6)
        |    AS mean_chunk_tokens
        |FROM ch JOIN occ USING (ch)
        |GROUP BY doc_id""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH ch AS ($chunkSql),
        |cc AS (SELECT ch, count(*) AS n_occ FROM ch GROUP BY ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  count(DISTINCT ch.ch) AS n_unique_chunks,
        |  sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
        |  round(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
        |    / count(*), 6) AS dup_frac
        |FROM ch JOIN cc USING (ch)
        |GROUP BY doc_id""".stripMargin,
    "q_filter_rules" ->
      s"""WITH $ruleCtes
        |SELECT doc_id, n_tokens, round(mean_len, 6) AS mean_token_len,
        |  top_word_cnt,
        |  $ruleCaseSql AS drop_reason,
        |  ($ruleCaseSql IS NULL) AS keep
        |FROM j""".stripMargin,
    "q_source_report" ->
      s"""WITH $ruleCtes,
        |rf AS (SELECT j.doc_id, d.source, j.n_tokens,
        |    $ruleCaseSql AS drop_reason
        |  FROM j JOIN documents d ON j.doc_id = d.doc_id),
        |agg AS (SELECT source, count(*) AS n_docs,
        |    sum(n_tokens)::BIGINT AS n_tokens,
        |    sum(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |  FROM rf GROUP BY source),
        |tr AS (SELECT source, drop_reason AS top_drop_reason,
        |    rc AS top_drop_count FROM (
        |    SELECT source, drop_reason, count(*) AS rc,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY count(*) DESC, drop_reason) AS rn
        |    FROM rf WHERE drop_reason IS NOT NULL
        |    GROUP BY source, drop_reason)
        |  WHERE rn = 1)
        |SELECT b.source, b.n_docs, b.n_tokens, b.n_kept,
        |  round((b.n_docs - b.n_kept)::DOUBLE / b.n_docs::DOUBLE, 6) AS drop_rate,
        |  coalesce(t.top_drop_reason, 'none') AS top_drop_reason,
        |  coalesce(t.top_drop_count, 0)::BIGINT AS top_drop_count
        |FROM agg b LEFT JOIN tr t USING (source)""".stripMargin,
    "q_mixture" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |sh AS (
        |  SELECT *, n_tokens::DOUBLE / (sum(n_tokens) OVER ())::BIGINT::DOUBLE AS share
        |  FROM per),
        |wq AS (
        |  SELECT *, floor(sqrt(share) * 1e6)::BIGINT AS w FROM sh),
        |n AS (SELECT *, (sum(w) OVER ())::BIGINT AS w_tot FROM wq)
        |SELECT source, n_docs, n_tokens,
        |  round(share, 6) AS token_share,
        |  round(w::DOUBLE / w_tot::DOUBLE, 6) AS weight,
        |  round(w::DOUBLE / w_tot::DOUBLE / share, 6) AS sample_factor
        |FROM n""".stripMargin,
    "q_domain_weights" -> (domainWeightsSql + domainWeightsTail),
    "q_doremi_sample" -> doremiSampleSql,
    "q_mixture_sample" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |sh AS (
        |  SELECT *, n_tokens::DOUBLE / (sum(n_tokens) OVER ())::BIGINT::DOUBLE AS share
        |  FROM per),
        |wq AS (
        |  SELECT *, floor(sqrt(share) * 1e6)::BIGINT AS w FROM sh),
        |n AS (SELECT *, (sum(w) OVER ())::BIGINT AS w_tot FROM wq),
        |ff AS (
        |  SELECT source,
        |    floor(w::DOUBLE / w_tot::DOUBLE / share)::BIGINT AS base,
        |    floor((w::DOUBLE / w_tot::DOUBLE / share
        |      - floor(w::DOUBLE / w_tot::DOUBLE / share)) * 1e6)::BIGINT AS thr
        |  FROM n),
        |cp AS (
        |  SELECT d.doc_id, d.source,
        |    base + (CASE WHEN
        |      ('0x' || substr(md5('mix_' || d.doc_id::VARCHAR), 1, 12))::BIGINT
        |        % 1000000 < thr THEN 1 ELSE 0 END) AS n_copies
        |  FROM documents d JOIN ff USING (source))
        |SELECT doc_id, source, n_copies,
        |  unnest(range(1, n_copies + 1)) AS copy_idx
        |FROM cp""".stripMargin,
    "q_mixture_drift" -> {
      def weights(src: String) =
        s"""SELECT source, n_docs, w::DOUBLE / w_tot::DOUBLE AS weight FROM (
          |  SELECT *, (sum(w) OVER ())::BIGINT AS w_tot FROM (
          |    SELECT *, floor(sqrt(share) * 1e6)::BIGINT AS w FROM (
          |      SELECT *, n_tokens::DOUBLE
          |          / (sum(n_tokens) OVER ())::BIGINT::DOUBLE AS share
          |      FROM (
          |        SELECT source, count(*) AS n_docs,
          |          sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT AS n_tokens
          |        FROM ($src) GROUP BY source))))""".stripMargin
      s"""WITH before AS (${weights("SELECT * FROM documents")}),
        |after AS (${weights(
          """SELECT * FROM documents
            |        UNION ALL
            |        SELECT doc_id + 200000, text, lang, source, n_chars
            |        FROM documents WHERE doc_id % 3 = 0""".stripMargin)})
        |SELECT b.source, b.n_docs AS n_docs_before, a.n_docs AS n_docs_after,
        |  round(b.weight, 6) AS weight_before,
        |  round(a.weight, 6) AS weight_after,
        |  round(a.weight - b.weight, 6) AS drift
        |FROM before b JOIN after a USING (source)""".stripMargin
    },
    "q_source_overlap" ->
      s"""WITH sh AS (
        |  SELECT DISTINCT source, h FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, greatest(len(toks) - ${OverlapShingleN - 2}, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
        |               toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT)) AS h
        |    FROM (SELECT source,
        |            string_split_regex(lower(trim(text)), '\\s+') AS toks
        |          FROM documents))),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |  round(p.n_shared::DOUBLE
        |    / (sa.n + sb.n - p.n_shared)::DOUBLE, 6) AS jaccard
        |FROM p JOIN sizes sa ON sa.source = p.source_a
        |       JOIN sizes sb ON sb.source = p.source_b""".stripMargin,
    "q_dsir" ->
      s"""WITH aug AS (
        |  SELECT doc_id, doc_id % 10 = 0 AS is_t,
        |    CASE WHEN doc_id % 10 = 0 THEN text || '$DsirMarkers'
        |         ELSE text END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, is_t,
        |    ('0x' || substr(md5(w), 1, 12))::BIGINT % $DsirBuckets AS f
        |  FROM (SELECT doc_id, is_t,
        |          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        |        FROM aug)),
        |raw AS (SELECT f, count(*) AS cr FROM tok GROUP BY f),
        |tgt AS (SELECT f, count(*) AS ct FROM tok WHERE is_t GROUP BY f),
        |dist AS (SELECT raw.f, raw.cr, coalesce(tgt.ct, 0) AS ct,
        |    ((coalesce(tgt.ct, 0) + 1) * 1000000) // (raw.cr + 1) AS share_ppm
        |  FROM raw LEFT JOIN tgt USING (f)),
        |tot AS (SELECT ((sum(ct)::BIGINT + 1) * 1000000)
        |    // (sum(cr)::BIGINT + 1) AS expected_ppm FROM dist),
        |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(share_ppm)::BIGINT AS dsir_score
        |  FROM tok JOIN dist USING (f) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, dsir_score,
        |  dsir_score > n_tokens * expected_ppm AS selected
        |FROM per, tot""".stripMargin,
    "q_quality_classifier" ->
      s"""WITH $nbClassifierCtes
        |SELECT doc_id, role, n_tokens,
        |  tok_score - n_tokens * (nt - nb) AS nb_score,
        |  tok_score - n_tokens * (nt - nb) > 0 AS keep
        |FROM sc, tot""".stripMargin,
    "q_classifier_sample" ->
      s"""WITH $nbClassifierCtes
        |SELECT doc_id, role, nb_score, t_doc, nb_score > t_doc AS accepted FROM (
        |  SELECT doc_id, role,
        |    tok_score - n_tokens * (nt - nb) AS nb_score,
        |    ('0x' || substr(md5('cs_' || doc_id::VARCHAR), 1, 12))::BIGINT
        |      % ${2 * SampleSpread + 1} - $SampleSpread AS t_doc
        |  FROM sc, tot) z""".stripMargin,
    "q_domain_cap" ->
      s"""SELECT doc_id, domain, rn, rn <= $DomainCap AS kept FROM (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY (doc_id * 7919) % 104729, doc_id)::BIGINT AS rn
        |  FROM (SELECT doc_id,
        |          source || '-' || (doc_id % $DomainMod)::VARCHAR AS domain
        |        FROM documents))""".stripMargin,
    "q_curation_run" ->
      s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + ${Dedup.Shift}, text FROM documents),
        |th AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS h FROM base),
        |keeper AS (SELECT h, min(doc_id) AS keeper_id FROM th GROUP BY h),
        |dup AS (SELECT th.doc_id, th.doc_id <> k.keeper_id AS is_dup
        |  FROM th JOIN keeper k USING (h)),
        |t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM base),
        |b AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    (list_sum(list_transform(toks, x -> strlen(x)))::BIGINT)::DOUBLE
        |      / len(toks)::BIGINT AS mean_len
        |  FROM t),
        |tw AS (SELECT doc_id, max(c) AS top_word_cnt FROM (
        |    SELECT doc_id, t2, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS t2 FROM t)
        |    GROUP BY doc_id, t2)
        |  GROUP BY doc_id),
        |rules AS (SELECT b.doc_id, CASE
        |    WHEN n_tokens < $MinTokens THEN 'too_few_tokens'
        |    WHEN n_tokens > $MaxTokens THEN 'too_many_tokens'
        |    WHEN mean_len < $MinMeanTokenLen THEN 'mean_token_too_short'
        |    WHEN mean_len > $MaxMeanTokenLen THEN 'mean_token_too_long'
        |    WHEN top_word_cnt::DOUBLE > n_tokens::DOUBLE * $MaxTopWordShare
        |      THEN 'repetitive_top_word'
        |    ELSE NULL
        |  END AS drop_reason
        |  FROM b JOIN tw USING (doc_id)),
        |sh AS (SELECT DISTINCT doc_id, h FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks) - ${OverlapShingleN - 2}, 1)),
        |      i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
        |             toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT)) AS h
        |  FROM t)),
        |benchsh AS (SELECT DISTINCT h FROM sh
        |  WHERE doc_id % 100 = 0 AND doc_id < ${Dedup.Shift}),
        |cont AS (SELECT DISTINCT doc_id FROM sh JOIN benchsh USING (h)),
        |v AS (SELECT d.doc_id, CASE
        |    WHEN d.is_dup THEN 'exact_dup'
        |    WHEN r.drop_reason IS NOT NULL THEN r.drop_reason
        |    WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |    ELSE 'kept'
        |  END AS verdict
        |  FROM dup d JOIN rules r USING (doc_id)
        |    LEFT JOIN cont c ON c.doc_id = d.doc_id)
        |SELECT doc_id, verdict, verdict = 'kept' AS keep FROM v""".stripMargin,
    "q_curation_run_full" -> curationFullSql(
      """SELECT doc_id, verdict, stage, verdict = 'kept' AS keep, n_pii, scrub_hash
        |FROM v""".stripMargin),
    "q_curation_report" -> curationFullSql(
      """SELECT stage, verdict, count(*) AS n_docs, sum(n_pii)::BIGINT AS pii_total
        |FROM v GROUP BY stage, verdict""".stripMargin),
    "q_release_manifest" -> curationFullSql(
      s""", kept AS (SELECT doc_id FROM v WHERE verdict = 'kept'),
        |kb AS (SELECT greatest(${CorpusOps.ShuffleMinBuckets},
        |    (count(*) + ${CorpusOps.ShuffleTargetRows - 1})
        |      // ${CorpusOps.ShuffleTargetRows}) AS buckets FROM kept),
        |kk AS (SELECT doc_id, buckets,
        |    ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 12))::BIGINT AS k
        |  FROM kept CROSS JOIN kb),
        |pos AS (SELECT doc_id,
        |    (row_number() OVER (ORDER BY k % buckets, k, doc_id) - 1)::BIGINT
        |      AS position
        |  FROM kk),
        |sb AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS bucket
        |  FROM base),
        |sh AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 12))::BIGINT % ${CorpusOps.NShards}
        |      AS shard
        |  FROM base)
        |SELECT v.doc_id, v.verdict, v.verdict = 'kept' AS keep,
        |  CASE WHEN v.verdict = 'kept' THEN
        |    CASE WHEN sb.bucket < 80 THEN 'train'
        |         WHEN sb.bucket < 90 THEN 'val' ELSE 'test' END END AS split,
        |  CASE WHEN v.verdict = 'kept' THEN sh.shard END AS shard,
        |  p.position
        |FROM v JOIN sb USING (doc_id) JOIN sh USING (doc_id)
        |LEFT JOIN pos p ON p.doc_id = v.doc_id""".stripMargin))

  /** The full-pipeline oracle chain shared by q_curation_run_full and
    * q_curation_report: the minhash components chain over the exact
    * survivors (Dedup.componentsCtesFor — the same CTEs the
    * q_dedup_components oracle uses), then exact-dup / rules / LM /
    * contamination / PII CTEs over the doubled corpus, ending at the
    * per-doc verdict table `v`; `finalSelect` picks the projection.
    */
  private def curationFullSql(finalSelect: String): String = {
    val survivorSrc =
      s"""SELECT doc_id, text FROM (
         |      SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |      FROM (SELECT doc_id, text FROM documents
         |            UNION ALL SELECT doc_id + ${Dedup.Shift}, text FROM documents))
         |    WHERE doc_id = keeper""".stripMargin
    s"""${Dedup.componentsCtesFor(survivorSrc)},
      |base AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL SELECT doc_id + ${Dedup.Shift}, source, text FROM documents),
      |th AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 12))::BIGINT AS h FROM base),
      |keeper AS (SELECT h, min(doc_id) AS keeper_id FROM th GROUP BY h),
      |dup AS (SELECT th.doc_id, th.doc_id <> k.keeper_id AS is_dup
      |  FROM th JOIN keeper k USING (h)),
      |near AS (SELECT v AS doc_id FROM comps WHERE component_id <> v),
      |t AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM base),
      |b AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
      |    (list_sum(list_transform(toks, x -> strlen(x)))::BIGINT)::DOUBLE
      |      / len(toks)::BIGINT AS mean_len
      |  FROM t),
      |tw AS (SELECT doc_id, max(c) AS top_word_cnt FROM (
      |    SELECT doc_id, t2, count(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS t2 FROM t)
      |    GROUP BY doc_id, t2)
      |  GROUP BY doc_id),
      |rules AS (SELECT b.doc_id, $ruleCaseSql AS drop_reason
      |  FROM b JOIN tw USING (doc_id)),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
      |tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      |tot AS (SELECT sum(cnt)::BIGINT AS total FROM tf),
      |lmper AS (SELECT t2.doc_id, count(*) AS n_tokens, sum(f.cnt)::BIGINT AS sum_freq
      |  FROM tok t2 JOIN tf f USING (term) GROUP BY t2.doc_id),
      |lmx AS (SELECT doc_id,
      |    round(sum_freq::DOUBLE * 1000000.0 / n_tokens::DOUBLE / total::DOUBLE, 6)
      |      AS typ
      |  FROM lmper CROSS JOIN tot),
      |shing AS (SELECT DISTINCT doc_id, h FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(toks) - ${OverlapShingleN - 2}, 1)),
      |      i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1],
      |             toks[i+2], toks[i+3], toks[i+4])), 1, 12))::BIGINT)) AS h
      |  FROM t)),
      |benchsh AS (SELECT DISTINCT h FROM shing
      |  WHERE doc_id % 100 = 0 AND doc_id < ${Dedup.Shift}),
      |cont AS (SELECT DISTINCT doc_id FROM shing JOIN benchsh USING (h)),
      |piia AS (SELECT doc_id, ($augSql) AS aug FROM base),
      |pii AS (SELECT doc_id,
      |  (len(regexp_extract_all(aug, '$EmailRe'))
      |   + len(regexp_extract_all(aug, '$UrlRe'))
      |   + len(regexp_extract_all(aug, '$NumRe')))::BIGINT AS n_pii,
      |  ('0x' || substr(md5(
      |    regexp_replace(regexp_replace(regexp_replace(aug,
      |      '$EmailRe', '<EMAIL>', 'g'),
      |      '$UrlRe', '<URL>', 'g'),
      |      '$NumRe', '<NUM>', 'g')), 1, 12))::BIGINT AS scrub_hash
      |  FROM piia),
      |v AS (SELECT d.doc_id,
      |    CASE
      |      WHEN d.is_dup THEN 'exact_dup'
      |      WHEN n.doc_id IS NOT NULL THEN 'near_dup'
      |      WHEN r.drop_reason IS NOT NULL THEN r.drop_reason
      |      WHEN l.typ < $LmMinTypicalityPpm.0 THEN 'atypical'
      |      WHEN c.doc_id IS NOT NULL THEN 'contaminated'
      |      ELSE 'kept'
      |    END AS verdict,
      |    CASE
      |      WHEN d.is_dup THEN 1
      |      WHEN n.doc_id IS NOT NULL THEN 2
      |      WHEN r.drop_reason IS NOT NULL THEN 3
      |      WHEN l.typ < $LmMinTypicalityPpm.0 THEN 4
      |      WHEN c.doc_id IS NOT NULL THEN 5
      |      ELSE 0
      |    END AS stage,
      |    p.n_pii, p.scrub_hash
      |  FROM dup d
      |  JOIN rules r USING (doc_id)
      |  JOIN lmx l USING (doc_id)
      |  LEFT JOIN near n ON n.doc_id = d.doc_id
      |  LEFT JOIN cont c ON c.doc_id = d.doc_id
      |  JOIN pii p ON p.doc_id = d.doc_id)
      |$finalSelect""".stripMargin
  }
}

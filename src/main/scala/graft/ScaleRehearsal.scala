package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftSession

/** One-off sf1 scale rehearsal (r7 verdict #7): time the top-cost
  * operator families once at sf0.1 and once at a 10x generated sf1
  * (tools/gen_sf1.py), and record per-query ratios. A family whose
  * plan is linear-ish lands near the 10x data ratio (modulo fixed
  * overheads, which push ratios BELOW 10x on sub-second queries); a
  * superlinear step — the class r7's four `weak` marks belong to —
  * shows up as a ratio well past it. Not a per-round gate: run by
  * hand, results land in bench/SCALE_r8.json + ROUND_NOTES.md.
  *
  * Usage: runMain graft.ScaleRehearsal <baseDir> <bigDir> <outJson>
  */
object ScaleRehearsal {

  /** The rehearsed families: dedup, components, curation-full, ANN,
    * epoch shuffle, plus every operator this round's scale fixes
    * touched (heavy hitters, covariance, bitext, pagerank). Two
    * non-oracle entries ride along: the ANN-composed bitext
    * alignment (the at-scale path whose exact twin is known
    * quadratic) for direct comparison, and brute ANN as the
    * known-linear-in-corpus baseline.
    */
  def workload: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_components",
    "q_dedup_apply", "q_dedup_simhash", "q_split_safe", "q_semdedup",
    "q_curation_run_full", "q_curation_report",
    "q_ann_brute", "q_ann_lsh", "q_ann_ivf", "q_ann_ivf_converged",
    "q_ann_pq", "q_ann_ivfpq",
    "q_epoch_shuffle", "q_heavy_hitters", "q_embed_cov",
    "q_bitext_align", "q_pagerank", "q_winnow",
    // r8 verdict #3: the centroid consumers and batch families the
    // first rehearsal never measured
    "q_cluster_sample", "q_bm25_search", "q_source_interleave",
    "q_token_budget_sample", "q_int8_quant", "q_contrastive_pairs",
    // r10: the sketch/phrase tier — all expected ~linear (partial-agg
    // shuffles to fixed-size or vocab-size state; per-doc windows)
    "q_pmi_phrases", "q_phrase_apply", "q_count_min", "q_hll_sketch",
    "q_f2_sketch",
    "q_bloom_audit", "q_len_hist",
    // r10 late additions: prefix join (candidate growth is the
    // question), graph family (iteration-dominated, expect ~linear),
    // drift (vocab-join), matryoshka (3× the known-linear brute),
    // html strip (narrow)
    "q_prefix_join", "q_label_prop", "q_random_walks", "q_node2vec_walks",
    "q_triangles",
    "q_source_drift", "q_matryoshka", "q_html_strip", "q_walk_pairs",
    "q_preference_pairs", "q_json_extract", "q_prefix_incremental",
    "q_delta_release", "q_quality_calibrate",
    // r10 session 2: iterative peel (O(E)/round, expect ~linear),
    // TakeOrdered family (expect flat — O(n) scan, O(k) state),
    // vocab self-join containment, host rollup
    "q_kcore", "q_priority_sample", "q_quantile_sketch",
    "q_source_containment", "q_domain_flags",
    // r10 session 3: grouped selection (histogram-sized after one
    // partial agg — expect ~linear), robust fences (two passes of
    // same), best-survivor dedup (components + join), link
    // prediction (wedge join, Σdeg² with capped hubs), rater kappa
    // (one pass), silhouette oracle rung (n·C at fixed SeedMod — the
    // documented fixture-pinned quadratic; the scaled twin below is
    // the production path). q_skew_diag / q_join_estimate / q_kanon
    // are omitted only because /tmp/sf1 carries documents+embeddings;
    // each is a single partial-agg count shuffle (+ TakeOrdered for
    // skew) — the exact shape q_dedup_exact measures at ~1x
    "q_group_quantiles", "q_mad_outliers", "q_dedup_best",
    "q_link_predict", "q_rater_kappa", "q_silhouette",
    // r11: the r10-verdict fixes — bounded-gold MRR eval (expect
    // ~linear: BM25 corpus stats dominate, gold set fixed),
    // domain flags (host shuffle join replacing the forced broadcast)
    "q_retrieval_eval",
    // r11 session 4: PassJoin edit join (constant per-row candidate
    // fan-out — the question is segment-collision noise growth), KMV
    // set ops (one bounded partial agg + sources² broadcast-NL —
    // expect ~linear scan cost), hop plot + HyperBall (per-round
    // frontier/register equi-joins; exact rung carries the pair
    // mass, HyperBall must stay near-linear)
    "q_edit_join", "q_kmv_setops", "q_hopplot", "q_hyperball",
    // r11 session 4 cont.: incremental PassJoin (cost rides the
    // batch), harmonic (hop plot + n-row count joins), label
    // spreading (PageRank plan shape — expect ~linear)
    "q_edit_incremental", "q_harmonic", "q_label_spread",
    // r11 session 4 cont.: RRF fusion (two bounded-query retrieval
    // plans + a queries×2k fusion — expect bm25-like), real resample
    // (narrow per-row pixel work — expect ~linear)
    "q_rrf_fusion", "q_resize_real",
    // r12: SCC (trim + FW-BW peel rides a bounded-reach fixture —
    // round count is fixture-pinned, expect ~linear), packed
    // HyperBall rides the existing q_hyperball/q_harmonic entries
    "q_scc", "q_bowtie", "q_langid_nb",
    // r12 session 2: k-truss (per-round wedge mass is Σdeg² with
    // bounded fixture degrees — expect ~linear), assortativity /
    // reciprocity (one-pass joins + scalar aggs), weighted jaccard
    // (blocked pair term-join — cost rides pair mass like 29m),
    // wminhash (capped expansion ≤ 8× distinct terms), binary
    // quantization (popcount scan over corpus×queries, then bounded
    // pool refine — the brute posture at 1/64th the bytes)
    "q_ktruss", "q_assortativity", "q_reciprocity",
    "q_weighted_jaccard", "q_wminhash", "q_ann_bq", "q_ngram_jaccard",
    // r12 session 2: WordPiece encode (vocab-sized state, 16 bounded
    // rounds — expect ~linear in the distinct-word count, sublinear
    // in rows); TrustRank (the PageRank plan with seed-restricted
    // teleport — expect the q_pagerank ratio)
    "q_wordpiece", "q_trustrank",
    // hop-bounded betweenness: state O(sources·|B(s,4)|) — sources
    // grow with n, ball size is fixture-bounded; expect ~linear-ish
    "q_betweenness",
    // incremental weighted jaccard: cost rides the batch (both sides
    // 10x here, so expect the q_weighted_jaccard candidate exponent)
    "q_wj_incremental",
    // modularity: one LPA run + community aggs — expect ~q_label_prop
    "q_modularity",
    // r14: Louvain — per round one neighbor-label join + community
    // partial aggs (the LPA shape at 2x rounds); expect ~q_label_prop;
    // the multilevel form adds a communities-sized coarse phase on
    // top — expect ~q_louvain plus a small constant
    "q_louvain", "q_louvain_multilevel",
    // connectivity audit / refinement = louvain + intra-edge CC
    // (both measured shapes); expect ~q_louvain plus the CC rounds
    "q_louvain_connectivity", "q_louvain_refined",
    // r13: HITS (two PageRank-shaped joins per iteration — expect the
    // q_pagerank ratio) and per-seed PPR (sparse (seed, node) state,
    // seeds ∝ n with fixture-bounded balls — expect ~linear)
    "q_hits", "q_ppr",
    // WordPiece-likelihood training: vocab-sized state per round —
    // expect sublinear in rows (tracks distinct-word growth)
    "q_wp_train",
    // r15: full Leiden (refine → aggregate-refined → coarse moves →
    // project → final refine; expect ~q_louvain_multilevel plus the
    // CC rounds) and the biased-corpus pair expansion (the
    // q_walk_pairs self-join shape over the node2vec corpus)
    "q_leiden", "q_walk_pairs_n2v")
    .map(n => n -> SparkEntry.queries(n)) ++ Seq(
    // r12 (r11 verdict #2): the packed-register HyperBall at DOUBLE
    // the audited hop count — the scaled rung the 64-rows-per-node
    // format could not afford; per-node estimates consumed through
    // the shuffle-free packed map
    "hyperball_packed_t8" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.sources.Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      graft.operators.Graph.hyperBallEstimatePacked(
        graft.operators.Graph.hyperBallPacked(docs,
          graft.operators.Graph.edges(docs, n), 2 * graft.operators.Graph.HopT))
    }),
    // r14: forward-push PPR — the ACL serving form beside q_ppr's
    // power iteration; frontier shrinks as residuals drain, expect
    // at-or-below the q_ppr ratio
    "ppr_push" -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.pprPush(s, dir)),
    "align_via_ann" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.alignViaAnn(
        graft.sources.Tables.embeddings(s, dir))),
    // the data-driven configs the first rehearsal epoch motivated:
    // same machinery, corpus-sized centroid count / plane count
    "align_via_ann_scaled" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.alignViaAnnScaled(
        graft.sources.Tables.embeddings(s, dir))),
    "q_ann_ivf_scaled" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopKForScaled(emb,
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true)
    }),
    // r9 (r8 verdict #1): scaledSeedStride threaded through every
    // centroid consumer — each scaled twin next to its measured
    // disease so SCALE_r9.json records the before/after directly
    "ivf_trained_scaled" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopKForScaled(emb,
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true,
        quantizer = graft.operators.Similarity.Trained)
    }),
    "ivf_converged_scaled" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfTopKForScaled(emb,
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true,
        quantizer = graft.operators.Similarity.Converged)
    }),
    "semdedup_scaled" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.semDedupScaled(
        graft.operators.Similarity.corpus(
          graft.sources.Tables.embeddings(s, dir)))),
    "cluster_sample_scaled" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.clusterBalancedSampleScaled(
        graft.sources.Tables.embeddings(s, dir))),
    "ivfpq_scaled" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.ivfPqTopKForScaled(emb,
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true)
    }),
    "knn_graph_scaled" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.knnGraphScaled(
        graft.sources.Tables.embeddings(s, dir))),
    // r13 (r12 verdict #2): the NN-descent bulk build — the linear
    // successor rung to knn_graph_scaled's n²/ProbeDiv posting join;
    // same mutual-kNN output contract, bounded neighbor-of-neighbor
    // candidate waves
    "knn_graph_descent" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.knnGraphDescent(
        graft.sources.Tables.embeddings(s, dir))),
    // the composed production serve over descent-built edges (the
    // graph_ann_serve_scaled successor: edge build no longer rides
    // the quadratic IVF join)
    "graph_ann_serve_descent" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.graphAnnTopKFor(emb,
        graft.operators.Similarity.knnServingEdgesDescent(emb),
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true)
    }),
    // r12: the composed production graph-ANN serve — √n-IVF-built
    // directed serving edges + beam search; per-query search work is
    // corpus-independent, the edge build is the knn_graph_scaled cost
    "graph_ann_serve_scaled" -> ((s: SparkSession, dir: String) => {
      val emb = graft.sources.Tables.embeddings(s, dir)
      graft.operators.Similarity.graphAnnTopKFor(emb,
        graft.operators.Similarity.knnServingEdgesScaled(emb),
        graft.operators.Similarity.defaultQueries(emb), excludeSelf = true)
    }),
    "silhouette_scaled" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.silhouetteScaled(
        graft.sources.Tables.embeddings(s, dir))),
    // r11: large-star/small-star CC on a deliberately CHAINED pair
    // graph (every doc linked to the next — diameter = corpus size,
    // the shape that makes min-label propagation need ∝n rounds;
    // LS must stay O(log n) rounds so the ratio stays near-linear)
    "cc_ls_chain" -> ((s: SparkSession, dir: String) => {
      val ids = graft.sources.Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"))
      val chain = ids.select(
        org.apache.spark.sql.functions.col("doc_id").as("doc_a"),
        (org.apache.spark.sql.functions.col("doc_id") + 1).as("doc_b"))
        .join(ids.select(org.apache.spark.sql.functions.col("doc_id").as("doc_b")),
          Seq("doc_b"), "left_semi")
      graft.operators.Dedup.connectedComponentsLS(chain)
    }),
    // r13: unigram-LM tokenizer — 3 Viterbi E-steps over the
    // distinct-word DP frame; expect vocab-tracking, sublinear in rows
    "unigram_lm" -> ((s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.unigramLmFertility(
        graft.sources.Tables.documents(s, dir))),
    "pq_train" -> ((s: SparkSession, dir: String) => {
      val norm = graft.operators.Similarity.normalizedQ(
        graft.sources.Tables.embeddings(s, dir))
      graft.operators.Similarity.pqTrainCodebook(norm,
        graft.operators.Similarity.pqCodebook(norm))
    }))

  def main(args: Array[String]): Unit = {
    val Array(baseDir, bigDir, outPath, rest @ _*) = args
    // Optional 4th arg: comma-separated name filter (targeted reruns
    // merged via tools/scale_merge.py — the Verify filter discipline).
    val only: Option[Set[String]] = rest.headOption.map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      try fn(spark, dir).count() catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // warm codegen/JIT at the small SF so the timed pairs compare
    // steady-state execution
    val selected = workload.filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => }
    }
    val rows = selected.map { case (name, fn) =>
      val tb = time(fn, baseDir)
      val tg = time(fn, bigDir)
      val ratio = if (tb > 0 && tg > 0) tg / tb else -1.0
      System.err.println(f"[scale] $name%-22s base=$tb%8.2fs big=$tg%8.2fs ratio=$ratio%6.2fx")
      (name, tb, tg, ratio)
    }
    val json = rows.map { case (n, tb, tg, r) =>
      f""""$n": {"base_sec": $tb%.3f, "big_sec": $tg%.3f, "ratio": $r%.3f}"""
    }.mkString(
      s"""{"base": "$baseDir", "big": "$bigDir", "rows_ratio": 10, "queries": {""",
      ", ", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}

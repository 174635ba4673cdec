package graft

import graft.MemoRegistry.cut
import graft.core.GraftSession
import graft.operators.Similarity

/** ANN quality audit: the recall/candidate numbers for the LSH
  * config ladder and the IVF probe depths at SPARK_GRAFT_SF_DIR —
  * one JSON line + file, mirroring Bench's contract so
  * tools/recall_compare.py can gate quality regressions per round
  * exactly the way bench_compare.py gates time regressions.
  * (Everything here is deterministic — md5-derived planes, seeded
  * centroids — so any recall change is a CODE change, not noise:
  * the gate can be exact.)
  */
object QualityAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val lshPoints = Similarity.lshSweep(emb, Similarity.DefaultLshLadder)
    val lsh = lshPoints
      .map(p => s""""${p.config.key}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    def ivfLine(points: Seq[Similarity.IvfSweepPoint]): String = points
      .map(p => s""""p${p.nprobe}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    val ivf = ivfLine(Similarity.ivfSweep(emb, Seq(1, 2, 4)))
    // PQ family: raw ADC top-k and the production ADC-pool + exact-
    // rerank recipe. "candidates" = pairs the (cheap ADC / exact
    // rerank) stage scores: corpus x queries for the compressed scan,
    // pool x queries for the refine.
    import org.apache.spark.sql.functions.col
    val exact = Similarity.bruteTopK(emb)
      .select(col("query_id"), col("neighbor_id")).transform(cut)
    val exactN = exact.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id")).count() / exactN
    val nCorpus = emb.count()
    val nQueries = Similarity.defaultQueries(emb).count()
    val pqSweep = Similarity.pqPoolSweep(emb, Seq(50, 100, 200, 400))
    val pq =
      (s"""{"adc_m${Similarity.PqM}k${Similarity.PqK}":{"recall":${recallOf(Similarity.pqTopK(emb))},"candidates":${nCorpus * nQueries}}""" +:
        pqSweep.map(p =>
          s""""rerank_p${p.pool}":{"recall":${p.recall},"candidates":${p.pool * nQueries}}"""))
        .mkString("", ",", "}")
    // Lloyd-trained codebook (1 pass) at the same pool rungs, plus
    // the composed IVF-PQ path (sublinear candidates x compressed
    // payload) — candidates for ivfpq = the refined pool per query
    val pqTrained = Similarity.pqPoolSweep(emb, Seq(50, 100, 200, 400), trainIters = 1)
      .map(p => s""""rerank_p${p.pool}":{"recall":${p.recall},"candidates":${p.pool * nQueries}}""")
      .mkString("{", ",", "}")
    // pool 50 hides ADC-ordering quality behind the probe ceiling
    // (the refine recovers everything the probes admit), so both
    // IVF-PQ families also report a TIGHT pool and the raw ADC
    // ordering (refine off) — the rungs where codebook quality shows
    def ivfpqLine(fn: (org.apache.spark.sql.DataFrame, Int, Boolean, Int) => org.apache.spark.sql.DataFrame): String = {
      val qdef = Similarity.defaultQueries(emb)
      Seq(
        s""""adc":{"recall":${recallOf(fn(qdef, Similarity.PqPool, false, 0))},"candidates":${Similarity.TopK * nQueries}}""",
        s""""pool10":{"recall":${recallOf(fn(qdef, 10, true, 0))},"candidates":${10 * nQueries}}""",
        s""""pool10_trained":{"recall":${recallOf(fn(qdef, 10, true, 1))},"candidates":${10 * nQueries}}""",
        s""""p${Similarity.NProbe}pool${Similarity.PqPool}":{"recall":${recallOf(fn(qdef, Similarity.PqPool, true, 0))},"candidates":${Similarity.PqPool * nQueries}}""")
        .mkString("{", ",", "}")
    }
    val ivfpq = ivfpqLine((q, pool, refine, ti) =>
      Similarity.ivfPqTopKFor(emb, q, excludeSelf = true, pool = pool,
        refine = refine, pqTrainIters = ti))
    // residual IVFADC at the same rungs — the lift residual encoding
    // buys over raw-vector codes, measured not assumed
    val ivfpqRes = ivfpqLine((q, pool, refine, ti) =>
      Similarity.ivfPqResTopKFor(emb, q, excludeSelf = true, pool = pool,
        refine = refine, pqTrainIters = ti))
    val ivfTrained = ivfLine(Similarity.ivfSweepWith(emb, Seq(1, 2, 4),
      all => Similarity.trainCentroids(all)))
    val ivfConverged = ivfLine(Similarity.ivfSweepWith(emb, Seq(1, 2, 4),
      all => Similarity.trainCentroidsConverged(all)))
    // near-dup blocking recall per probe rung vs the exact
    // label-blocked truth on the doubled-corpus fixture (audit
    // threshold 0.4 — where plane disagreement actually bites)
    val neardup = Similarity.nearDupSweep(emb, Seq(0, 1, 2))
      .map(p => s""""pb${p.probeBits}":{"recall":${p.recall},"candidates":${p.nPairs}}""")
      .mkString("{", ",", "}")
    // what autoConfigLsh(0.8) would return: first ladder rung meeting
    // the floor (computed from the sweep above — same semantics,
    // without re-measuring every rung)
    val auto = lshPoints.find(_.recall >= 0.8)
      .map(p => s""""${p.config.key}"""").getOrElse("null")
    // r8 scaled configs (the sf1-rehearsal sizing fixes): sqrt-n
    // centroids + C-scaled probe depth, and the corpus-sized LSH
    // plane count driving bitext alignment — tracked like every
    // other dial (deterministic; any change is a code change)
    val ivfScaled = s"""{"recall":${recallOf(Similarity.ivfTopKForScaled(emb,
      Similarity.defaultQueries(emb), excludeSelf = true))},"candidates":${Similarity.TopK * nQueries}}"""
    // r9: the scaled-IVF recall DIAL (r8 verdict #2) — the full
    // cheapest-first ladder autoConfigIvfScaled walks, measured in
    // one sweep (shared ground truth), plus the config the dial
    // would pick at floor 0.8. pd1 probes every list, so the ladder
    // has a guaranteed 1.0 ceiling — the dial can always deliver.
    val ladderPts = Similarity.ivfScaledSweep(emb, Similarity.DefaultIvfScaledLadder)
    val ivfScaledLadder = ladderPts
      .map(p => s""""${p.config.key}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    val autoIvf = ladderPts.find(_.recall >= 0.8)
      .map(p => s""""${p.config.key}"""").getOrElse("null")
    // r9: the measured MinHash banding ladder (constructed
    // subset-mutant truth with exact-by-arithmetic Jaccard) and the
    // config autoConfigMinhash picks at floor 0.8 — the dedup
    // family's dial, tracked like the ANN ones
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val mhPts = graft.operators.Dedup.minhashSweep(
      docs, graft.operators.Dedup.DefaultMinhashLadder)
    val mh = mhPts
      .map(p => s""""${p.config.key}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    val autoMh = mhPts.find(_.recall >= 0.8)
      .map(p => s""""${p.config.key}"""").getOrElse("null")
    val exactAlign = Similarity.qBitextAlign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val scaledAlign = Similarity.alignViaAnnScaled(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val alignAgree = scaledAlign.count { case (q, m) =>
      exactAlign.get(q).contains(m) }.toDouble / math.max(1, exactAlign.size)
    val alignScaled = s"""{"recall":$alignAgree,"candidates":${scaledAlign.size}}"""
    // r12: graph-ANN serving (beam search over the directed top-k
    // serving edges) — the beam-width dial, gated like every other
    val gaPts = Similarity.graphAnnSweep(emb, Seq(2, 4, 8, 16))
    val graphAnn = gaPts
      .map(p => s""""b${p.beam}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    val autoGa = gaPts.find(_.recall >= 0.8)
      .map(p => s""""b${p.beam}"""").getOrElse("null")
    // r12: binary-quantization pool ladder (sign-bit hamming scan +
    // exact refine) — the pool dial, gated like every other
    val bqPts = Similarity.bqSweep(emb, Seq(10, 25, 50, 100, 200, 400))
    val bq = bqPts
      .map(p => s""""p${p.pool}":{"recall":${p.recall},"candidates":${p.nCandidates}}""")
      .mkString("{", ",", "}")
    val autoBq = bqPts.find(_.recall >= 0.8)
      .map(p => s""""p${p.pool}"""").getOrElse("null")
    // r12: IVF-BQ — probes prune, hamming ranks in-list, pool
    // refines; candidates = pool x queries for the refine stage
    val ivfBq = Seq(10, 25, 50).map { p =>
      val r = recallOf(Similarity.ivfBqTopKFor(emb,
        Similarity.defaultQueries(emb), pool = p, excludeSelf = true))
      s""""pool$p":{"recall":$r,"candidates":${p * nQueries}}"""
    }.mkString("{", ",", "}")
    // r13: NN-descent bulk serving-graph build — directed-edge
    // agreement vs the exact top-k build, plus end-to-end beam
    // serving recall over the descent edges (the production path
    // replacing the n²/ProbeDiv IVF posting join)
    // nndEdges is consumed by three actions (agreement join, edge
    // count, beam serve) — pin it like exactEdges so the descent
    // build's final top-k window runs once (r13 ADVICE)
    val nndEdges = cut(Similarity.knnServingEdgesDescent(emb))
    val nndEdgeCount = nndEdges.count()
    val exactEdges = cut(Similarity.knnServingEdges(emb))
    val exactEdgeN = exactEdges.count().toDouble
    val edgeAgree =
      nndEdges.join(exactEdges, Seq("vec_a", "vec_b")).count() / exactEdgeN
    val nndServe = recallOf(Similarity.graphAnnTopKFor(emb, nndEdges,
      Similarity.defaultQueries(emb), excludeSelf = true))
    val nnd = s"""{"edges":{"recall":$edgeAgree,"candidates":$nndEdgeCount},"serve_b${Similarity.BeamWidth}":{"recall":$nndServe,"candidates":${Similarity.TopK * nQueries}}}"""
    // r14: the descent-dial ladder (waves/sample/buildK) measured
    // against the same pinned exact edges, and the config
    // autoConfigNnd picks at the 0.85 edge-agreement floor — the
    // default rung (w8s24 since r15) is the build already measured
    // above, reused; the remaining rungs sweep in ladder order
    val nndPts = (Similarity.NndSweepPoint(
        Similarity.NndConfig(), nndEdgeCount, edgeAgree) +:
      Similarity.nndSweepAgainst(emb, exactEdges,
        Similarity.DefaultNndLadder.filterNot(_ == Similarity.NndConfig())))
      .sortBy(p => Similarity.DefaultNndLadder.indexOf(p.config))
    val nndLadder = nndPts
      .map(p => s""""${p.config.key}":{"recall":${p.agreement},"candidates":${p.nEdges}}""")
      .mkString("{", ",", "}")
    val autoNnd = nndPts.find(_.agreement >= 0.85)
      .map(p => s""""${p.config.key}"""").getOrElse("null")
    val line = s"""{"lsh":$lsh,"ivf":$ivf,"ivf_trained":$ivfTrained,"ivf_converged":$ivfConverged,"pq":$pq,"pq_trained":$pqTrained,"ivfpq":$ivfpq,"ivfpq_res":$ivfpqRes,"neardup":$neardup,"ivf_scaled":$ivfScaled,"ivf_scaled_ladder":$ivfScaledLadder,"align_scaled":$alignScaled,"minhash_bands":$mh,"graph_ann":$graphAnn,"bq":$bq,"ivf_bq":$ivfBq,"nnd":$nnd,"nnd_ladder":$nndLadder,"autoconfig_nnd_0.85":$autoNnd,"autoconfig_bq_0.8":$autoBq,"autoconfig_lsh_0.8":$auto,"autoconfig_ivf_scaled_0.8":$autoIvf,"autoconfig_minhash_0.8":$autoMh,"autoconfig_graph_ann_0.8":$autoGa,"sf":"$sfDir"}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "RECALL_LAST.json")), line)
    spark.stop()
  }
}

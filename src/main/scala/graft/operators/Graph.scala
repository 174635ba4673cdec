package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoRegistry.{cut, shared}
import graft.functions.GraftFunctions.tokenHash
import graft.sources.Tables

/** Graph analytics over the document corpus (link-graph shape:
  * connected components live in Dedup; this adds iterative rank).
  *
  * PageRank is the canonical iterate-until-stable Spark workload:
  * each iteration is one edge⋈score equi-join + one partial-agg sum
  * keyed by destination — O(E) shuffled per iteration, no global
  * state beyond one scalar (the dangling mass), the same plan at
  * 100 TB with edges pre-partitioned on src.
  *
  * Determinism discipline: scores are integer PARTS-PER-BILLION and
  * every per-iteration operation is integer arithmetic (div for
  * share splitting, *85 div 100 for damping) — the distributed sum
  * is order-independent and the DuckDB oracle (the same five
  * iterations unrolled as CTEs) agrees bit-for-bit, the established
  * quantize-before-aggregate idiom.
  *
  * Fault posture (r7 verdict #5): each iteration's frame is cut by
  * [[graft.MemoRegistry.cut]] — a durable checkpoint whenever the
  * context has a checkpoint dir, so a lost executor replays one
  * iteration, not the whole chain; an executor-memory checkpoint is
  * the single-box fallback. The per-iteration edge⋈deg frame is
  * persisted for the loop and unpersisted before returning.
  */
object Graph {

  val PrIters = 5

  /** Deterministic synthetic link graph over doc ids 0..n-1 (the
    * documents fixture carries no links): u → (7u+3) mod n and
    * u → (13u+5) mod n, deduplicated — EXCEPT every 17th node, which
    * gets no outlinks at all. Real link graphs always contain such
    * dangling (sink) nodes, so the fixture forces the operator to
    * model dangling-mass redistribution rather than assume it away.
    * Replicated arithmetically by the oracle.
    */
  val SinkMod = 17L

  def edges(docs: DataFrame, n: Long): DataFrame =
    docs.filter(col("doc_id") % SinkMod =!= 0)
      .select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % n).as("dst"))
      .unionAll(docs.filter(col("doc_id") % SinkMod =!= 0)
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % n).as("dst")))
      .distinct()

  /** PageRank with dangling-mass redistribution: per iteration, the
    * rank mass sitting on sink nodes is collected by ONE scalar
    * aggregate (a driver long — O(1) regardless of graph size), split
    * into integer per-node shares (D div n), and added to every
    * node's inflow before damping — the standard treatment (Page et
    * al. 1999) in the integer-ppb discipline. x_{k+1}(v) = teleport +
    * 85·(inflow(v) + D_k div n) div 100.
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, Seq("src")).persist()
    try {
      val teleport = 15L * (1000000000L / n) / 100L
      var x = docs.select(col("doc_id"), lit(1000000000L / n).as("x"))
      for (_ <- 1 to PrIters) {
        // dangling mass rides the DATAFLOW as a broadcast 1-row frame
        // (r16, verdict #6): as a driver `.head` scalar it was a whole
        // separate job + pass over x per round — per-round driver
        // actions dominated the rung at fixture scale. Same integer
        // arithmetic (sum div n), same result bit-for-bit; the
        // per-round action count halves and the remaining cut() job
        // subsumes the dangling agg.
        val share = x.join(deg, x("doc_id") === deg("src"), "left_anti")
          .agg(expr(s"coalesce(sum(x), 0L) div ${n}L").as("share"))
        val inflow = ed.join(x, ed("src") === x("doc_id"))
          .select(col("dst"), expr("x div deg").as("share"))
          .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
        x = cut(docs.join(inflow, docs("doc_id") === inflow("dst"), "left")
          .crossJoin(broadcast(share))
          .select(col("doc_id"),
            (lit(teleport) +
              expr("85 * (coalesce(inflow, 0L) + share) div 100")).as("x")))
      }
      x.select(col("doc_id"), col("x").as("pr_ppb"))
    } finally { ed.unpersist(); () }
  }

  /** TrustRank seed selection: every [[TrustSeedMod]]-th doc plays
    * the hand-vetted trusted set.
    */
  val TrustSeedMod = 23L

  /** Betweenness knobs: source sample stride and the hop bound. */
  val BetwSrcMod = 25L
  val BetwHops = 4

  /** Hop-bounded sampled-source betweenness centrality — Brandes'
    * dependency accumulation (Brandes 2001) with BOTH of the
    * truncations a 100 TB graph actually runs: a SOURCE SAMPLE
    * (Brandes & Pich 2007 — every [[BetwSrcMod]]-th node) and a HOP
    * BOUND (k-betweenness / bounded-radius betweenness — only
    * shortest paths of ≤ [[BetwHops]] hops count), because exact
    * betweenness is O(V·E) and nothing at web scale computes it.
    * Forward phase: [[BetwHops]] synchronous multi-source BFS rounds
    * over (source, node) state carrying shortest-path counts σ
    * (frontier ⋈ edges equi-join + (s, dst) partial-agg sum + one
    * anti-join against the visited set per round). Backward phase:
    * [[BetwHops]] dependency rounds — δ_ppm(v) = Σ over shortest-
    * path successors w of (σ_v · (1e6 + δ_ppm(w))) div σ_w, pure
    * integer arithmetic so the distributed sums are order-free and
    * the unrolled oracle agrees bit-for-bit. Output: per node, the
    * summed dependency over sampled sources (source's own row
    * excluded, the Brandes convention). State is O(sources ·
    * |B(s, hops)|) scalar rows — the hop-plot pair-mass posture,
    * priced by the hop bound, never corpus-quadratic.
    */
  def qBetweenness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).persist()
    try {
      // forward: levels(d) = (s, v, sig); visited prevents re-entry
      var levels = Vector(
        docs.filter(col("doc_id") % BetwSrcMod === 0)
          .select(col("doc_id").as("s"), col("doc_id").as("v"),
            lit(1L).as("sig")))
      var visited = levels(0).select(col("s"), col("v"))
      for (_ <- 1 to BetwHops) {
        val next = cut(levels.last.join(e, levels.last("v") === e("src"))
          .groupBy(col("s"), col("dst").as("v"))
          .agg(sum(col("sig")).as("sig"))
          .join(visited.withColumnRenamed("v", "v"), Seq("s", "v"), "left_anti"))
        levels = levels :+ next
        visited = cut(visited.unionAll(next.select(col("s"), col("v"))))
      }
      // backward: dependency of level-d nodes from level-(d+1) ones —
      // in unweighted BFS an edge sits on a shortest path iff it
      // crosses exactly one level down, so the successor join is the
      // (s, w)-keyed equi-join against the next level only
      var delta = levels(BetwHops)
        .select(col("s"), col("v"), lit(0L).as("delta"))
      var acc = delta
      for (d <- (0 until BetwHops).reverse) {
        val deeper = levels(d + 1).toDF("s", "w", "sig_w")
          .join(delta.toDF("s", "w", "delta_w"), Seq("s", "w"))
        val contrib = levels(d).toDF("s", "v", "sig_v")
          .join(e.toDF("v", "w"), Seq("v"))
          .join(deeper, Seq("s", "w"))
          .groupBy(col("s"), col("v"))
          .agg(sum(expr("(sig_v * (1000000 + delta_w)) div sig_w")).as("delta"))
        delta = cut(levels(d).select(col("s"), col("v"))
          .join(contrib, Seq("s", "v"), "left")
          .select(col("s"), col("v"),
            coalesce(col("delta"), lit(0L)).as("delta")))
        acc = acc.unionAll(delta)
      }
      val summed = acc.filter(col("v") =!= col("s"))
        .groupBy(col("v")).agg(sum(col("delta")).as("betw_ppm"))
      docs.join(summed.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("betw_ppm"), lit(0L)).as("betw_ppm"))
    } finally { e.unpersist(); () }
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04) — the
    * link-spam curation move: PageRank with BOTH the teleport AND
    * the dangling-mass redistribution restricted to a trusted seed
    * set, so trust flows only along links out of vetted pages and a
    * page unreachable from every seed scores EXACTLY zero
    * (spec-pinned) — the complement of [[qLabelSpread]]'s
    * degree-share diffusion (trust splits out-degree-normalized
    * shares like rank mass; label spreading spreads per-edge).
    * Identical plan shape and integer-ppb discipline to
    * [[qPagerank]]: one edge⋈score equi-join + one dst-keyed
    * partial-agg sum + one O(1) dangling scalar per iteration,
    * cut() lineage — the same plan at 100 TB.
    */
  def qTrustrank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, Seq("src")).persist()
    try {
      val nSeeds = docs.filter(col("doc_id") % TrustSeedMod === 0).count()
      val isSeed = col("doc_id") % TrustSeedMod === 0
      val teleport = 15L * (1000000000L / nSeeds) / 100L
      var x = docs.select(col("doc_id"),
        when(isSeed, lit(1000000000L / nSeeds)).otherwise(lit(0L)).as("x"))
      for (_ <- 1 to PrIters) {
        // dangling mass as a broadcast 1-row frame, not a driver
        // scalar — the qPagerank r16 move (verdict #6); arithmetic
        // and result unchanged bit-for-bit
        val share = x.join(deg, x("doc_id") === deg("src"), "left_anti")
          .agg(expr(s"coalesce(sum(x), 0L) div ${nSeeds}L").as("sshare"))
        val inflow = ed.join(x, ed("src") === x("doc_id"))
          .select(col("dst"), expr("x div deg").as("share"))
          .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
        x = cut(docs.join(inflow, docs("doc_id") === inflow("dst"), "left")
          .crossJoin(broadcast(share))
          .select(col("doc_id"),
            (when(isSeed, lit(teleport)).otherwise(lit(0L)) +
              expr(s"85 * (coalesce(inflow, 0L) + " +
                s"IF(doc_id % $TrustSeedMod = 0, sshare, 0L)) div 100")
              ).as("x")))
      }
      x.select(col("doc_id"), col("x").as("trust_ppb"))
    } finally { ed.unpersist(); () }
  }

  /** HITS iteration count: each iteration is two edge⋈score
    * equi-joins + two keyed partial-agg sums + two O(1) scalar
    * normalizers — the oracle unrolls 6 CTE pairs.
    */
  val HitsIters = 3

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the Kleinberg
    * companion to PageRank over the same link fixture: a good HUB
    * points at good authorities (h = E·a), a good AUTHORITY is
    * pointed at by good hubs (a = Eᵀ·h), iterated with L1
    * normalization. Same plan discipline as [[qPagerank]]: per
    * iteration ONE edge⋈score equi-join + one keyed partial-agg sum
    * per direction (dst-keyed for authorities, src-keyed for hubs),
    * O(E) shuffled, cut() lineage; normalization is one scalar
    * aggregate per direction (the dangling-mass discipline) with the
    * raw sums carried in decimal(38,0) so in-degree · 1e6 · 1e6
    * never overflows (the assortativity headroom move), then
    * floor-divided back onto the integer ppm grid — order-free sums,
    * the unrolled oracle agrees bit-for-bit. The [[edges]] fixture's
    * sinks (every 17th node) are natural pure-authorities (hub score
    * exactly 0, spec-pinned).
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).persist()
    try {
      def normalize(raw: DataFrame, key: String, out: String): DataFrame = {
        // the L1 normalizer rides the dataflow as a broadcast 1-row
        // decimal frame (r16, verdict #6) — as a driver `.head`
        // scalar it was 2 extra jobs + 2 extra passes per iteration
        // (one per direction); the zero guard and the decimal(38,0)
        // grid are unchanged, so the ppm scores are bit-identical
        val tot = raw.agg(coalesce(sum(col("raw").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("t"))
          .select(when(col("t") === 0, lit(1).cast("decimal(38,0)"))
            .otherwise(col("t")).as("tot"))
        docs.join(raw.withColumnRenamed(key, "doc_id"), Seq("doc_id"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            expr(s"cast((cast(coalesce(raw, 0) as decimal(38,0)) * 1000000)" +
              s" div tot as long)").as(out))
      }
      var h = docs.select(col("doc_id"), lit(1000000L).as("h"))
      var a = docs.select(col("doc_id"), lit(0L).as("a"))
      for (_ <- 1 to HitsIters) {
        val aRaw = e.join(h.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
        a = cut(normalize(aRaw, "dst", "a"))
        val hRaw = e.join(a.withColumnRenamed("doc_id", "dst"), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("a")).as("raw"))
        h = cut(normalize(hRaw, "src", "h"))
      }
      h.join(a, Seq("doc_id"))
        .select(col("doc_id"), col("h").as("hub_ppm"), col("a").as("auth_ppm"))
    } finally { e.unpersist(); () }
  }

  /** PPR knobs: seed stride (every 31st doc is a personalization
    * seed) and iteration count.
    */
  val PprSeedMod = 31L
  val PprIters = 4
  val PprTeleport = 15L * 1000000000L / 100L

  /** Personalized PageRank (Page et al. 1999 §6 / Haveliwala WWW'02)
    * — the graph-retrieval and recommendation move: a PageRank walk
    * whose teleport AND dangling mass return to ONE seed, computed
    * for every sampled seed at once. State is the SPARSE (seed, node,
    * score) frame — after t iterations exactly the seeds' t-hop
    * out-neighborhoods ∪ the seed rows (the hop-plot pair-mass
    * posture: O(seeds · |B(s, t)|) scalar rows, never nodes ×
    * seeds). Per iteration: one per-seed dangling partial agg (a
    * KEYED frame, not a driver scalar — seeds are many), one
    * edge⋈score equi-join + (seed, dst) partial-agg sum, one
    * candidate left-join — all equi-joins, integer-ppb arithmetic
    * throughout (div shares, *85 div 100 damping) so the unrolled
    * oracle agrees bit-for-bit. TrustRank ([[qTrustrank]]) is the
    * one-seed-SET variant of the same machinery; this is the
    * per-seed form retrieval actually queries.
    */
  def qPpr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, Seq("src")).persist()
    try {
      val seeds = docs.filter(col("doc_id") % PprSeedMod === 0)
        .select(col("doc_id").as("s"))
      var x = seeds.select(col("s"), col("s").as("v"),
        lit(1000000000L).as("x"))
      for (_ <- 1 to PprIters) {
        val dang = x.join(deg, x("v") === deg("src"), "left_anti")
          .groupBy(col("s")).agg(sum(col("x")).as("dang"))
        // state support = inflow keys ∪ (s, s) seed rows. Build it by
        // unioning a ZERO-share seed row into the pre-agg share
        // stream (r16): the old distinct()+left-join-back shape
        // consumed the inflow subtree (edge⋈state join + partial agg)
        // TWICE per round and paid an extra distinct exchange — the
        // groupBy produces the identical key set (seed rows add 0 to
        // the sum, keys with only the seed row get inflow = 0, the
        // old coalesce).
        val inflow = ed.join(x, ed("src") === x("v"))
          .select(x("s"), col("dst").as("v"), expr("x div deg").as("share"))
          .unionAll(seeds.select(col("s"), col("s").as("v"),
            lit(0L).as("share")))
          .groupBy(col("s"), col("v")).agg(sum(col("share")).as("inflow"))
        x = cut(inflow
          .join(dang, Seq("s"), "left")
          .select(col("s"), col("v"),
            (when(col("v") === col("s"), lit(PprTeleport)).otherwise(lit(0L)) +
              expr("85 * (inflow + " +
                "IF(v = s, coalesce(dang, 0L), 0L)) div 100")).as("x")))
      }
      x.select(col("s").as("seed_id"), col("v").as("doc_id"),
        col("x").as("ppr_ppb"))
    } finally { ed.unpersist(); () }
  }

  /** Push threshold for the production [[pprPush]] rung: residuals
    * below this many ppb hold (aren't propagated) — the ACL ε dial.
    */
  val PprPushEpsPpb = 1000000L
  /** Round bound for the thresholded push (it also early-exits when
    * no residual clears the threshold).
    */
  val PprPushRounds = 2 * PprIters

  /** Forward-push personalized PageRank (Andersen, Chung & Lang,
    * FOCS'06 — the published SERVING form of [[qPpr]]): per-seed
    * state is (p, r) — banked estimate and residual. Each round,
    * every (seed, node) whose residual clears the ε threshold PUSHES:
    * it banks α·r into p and sends (1−α)·r out along its edges
    * (div deg shares; sink nodes return the mass to their seed, the
    * qPpr dangling discipline); sub-threshold residuals just hold.
    * The whole point at 100 TB: a small ε caps total pushed mass at
    * O(1/ε) per seed instead of materializing every seed's full
    * t-hop ball every round — frontier work shrinks as residuals
    * drain, where power iteration re-propagates ALL mass each round.
    *
    * ACL certificate (the spec pin): ppr = p + Σ_v r(v)·ppr_v, and
    * each ppr_v is a (sub-)distribution, so for every node
    * |ppr − p| ≤ Σ_v r(v) — the REMAINING RESIDUAL MASS is a
    * computable per-seed error bound, returned as `residual_ppb`.
    * With ε = 0 and [[PprIters]] rounds, p + r telescopes to exactly
    * the power iterate (α·Σ_j ((1−α)W)^j + ((1−α)W)^t — the same
    * series), so the spec also pins |x − (p + r)| against qPpr up to
    * integer-floor drift.
    *
    * Scale shape per round: one threshold split, one per-seed pushed-
    * dangling partial agg (keyed, never a driver scalar), one
    * edge⋈pushed equi-join + (s, v) partial sum, one (s, v) full
    * outer merge of banked p with the new residuals; all integer ppb,
    * lineage cut per round, empty-frontier early exit (one bounded
    * driver scalar).
    */
  def pprPush(s: SparkSession, dir: String,
              epsPpb: Long = PprPushEpsPpb,
              rounds: Int = PprPushRounds): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, Seq("src")).persist()
    try {
      val thr = math.max(1L, epsPpb)
      val seeds = docs.filter(col("doc_id") % PprSeedMod === 0)
        .select(col("doc_id").as("s"))
      var st = seeds.select(col("s"), col("s").as("v"),
        lit(0L).as("p"), lit(1000000000L).as("r"))
      var round = 0
      var converged = false
      while (round < rounds && !converged) {
        round += 1
        val pushed = st.filter(col("r") >= thr)
        if (pushed.limit(1).count() == 0) converged = true
        else {
          val held = st.filter(col("r") < thr)
          val dangP = pushed.join(deg, pushed("v") === deg("src"), "left_anti")
            .groupBy(col("s")).agg(sum(col("r")).as("dang"))
          val inflow = ed.join(pushed, ed("src") === pushed("v"))
            .select(pushed("s"), col("dst").as("v"), expr("r div deg").as("share"))
            .groupBy(col("s"), col("v")).agg(sum(col("share")).as("inflow"))
          val cand = inflow.select(col("s"), col("v"))
            .unionAll(held.select(col("s"), col("v")))
            .unionAll(dangP.select(col("s"), col("s").as("v")))
            .distinct()
          val newR = cand
            .join(inflow, Seq("s", "v"), "left")
            .join(dangP, Seq("s"), "left")
            .join(held.select(col("s"), col("v"), col("r").as("held_r")),
              Seq("s", "v"), "left")
            .select(col("s"), col("v"),
              (coalesce(col("held_r"), lit(0L)) +
                expr("85 * (coalesce(inflow, 0L) + " +
                  "IF(v = s, coalesce(dang, 0L), 0L)) div 100")).as("r"))
          val newP = st.select(col("s"), col("v"),
            (col("p") + when(col("r") >= thr, expr("15 * r div 100"))
              .otherwise(lit(0L))).as("p"))
            .filter(col("p") =!= 0)
          st = cut(newP.join(newR, Seq("s", "v"), "full")
            .select(col("s"), col("v"),
              coalesce(col("p"), lit(0L)).as("p"),
              coalesce(col("r"), lit(0L)).as("r"))
            .filter(col("p") =!= 0 || col("r") =!= 0))
        }
      }
      st.select(col("s").as("seed_id"), col("v").as("doc_id"),
        col("p").as("ppr_push_ppb"), col("r").as("residual_ppb"))
    } finally { ed.unpersist(); () }
  }

  /** Triangle count + local clustering coefficient over the
    * undirected closure of the link fixture — the degree-ordered
    * ("compact-forward") formulation: orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher, enumerate
    * wedges by self-joining oriented edges on their shared source,
    * and close each wedge with one equi-join back on the oriented
    * edge set. Degree ordering is what makes this scale-safe: a
    * skewed hub emits NO wedges (its edges all point into it), so
    * the wedge set is O(E^1.5) regardless of degree skew, where
    * orienting by id alone would be O(Σ deg²) and a hot node would
    * explode the self-join. Each triangle materializes exactly once
    * (its corners are totally ordered), then attributes to its three
    * corners via one 3-way union + partial-agg count — no triangle
    * list ever groups on a single key. Clustering coefficient =
    * 2·tri / (deg·(deg−1)) on the integer ppm grid. All joins are
    * equi-joins (the (deg,id) tuple comparison rides the wedge
    * join's a=a key as a post-filter); nothing global, nothing
    * broadcast except nothing — both sides are corpus-sized.
    */
  /** Triangle fixture: the ring-chord graph u→u+1, u→u+2 (mod n) —
    * every consecutive triple closes a triangle — plus the 7u+3
    * linear map for irregular long-range chords (the [[edges]]
    * fixture alone is triangle-free: compositions of two linear
    * maps rarely commute back). Replicated arithmetically by the
    * oracle.
    */
  def triEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"), ((col("doc_id") + 1) % n).as("dst"))
      .unionAll(docs.select(col("doc_id").as("src"),
        ((col("doc_id") + 2) % n).as("dst")))
      .unionAll(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % n).as("dst")))
      .distinct()

  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = triEdges(docs, n).filter(col("src") =!= col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg, Seq("u"))
      .join(deg.toDF("v", "deg_v"), Seq("v"))
      .filter(struct(col("deg"), col("u")) < struct(col("deg_v"), col("v")))
      .select(col("u").as("a"), col("v").as("b"),
        struct(col("deg_v"), col("v")).as("kb"))
    val tri = oriented
      .join(oriented.toDF("a2", "c", "kc"),
        col("a") === col("a2") && col("kb") < col("kc"))
      .select(col("a"), col("b"), col("c"))
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    val perNode = tri.select(col("a").as("u"))
      .unionAll(tri.select(col("b")))
      .unionAll(tri.select(col("c")))
      .groupBy(col("u")).agg(count(lit(1)).as("n_tri"))
    docs.join(deg, docs("doc_id") === deg("u"), "left")
      .join(perNode, docs("doc_id") === perNode("u"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("2 * coalesce(n_tri, 0L) * 1000000 div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** Common-neighbor link prediction over an undirected graph — the
    * candidate generator for graph-augmented retrieval / entity
    * resolution: for every non-adjacent pair (a, b) sharing at least
    * [[LinkMinCommon]] neighbors, emit the common-neighbor count and
    * the neighbor-set Jaccard (integer ppm). The pair space is
    * generated by a wedge self-join CENTERED on each shared
    * neighbor, so cost is Σ deg(c)² over centers — and centers with
    * degree > [[LinkHubCap]] are excluded (a super-hub contributes
    * deg² pairs and no signal; the standard production cap, which
    * makes `common` a documented lower bound on the true
    * intersection). Everything is equi-joins + one (a, b) partial
    * agg; degrees for the Jaccard denominator stay UNCAPPED.
    */
  val LinkHubCap = 64L
  val LinkMinCommon = 2L
  def linkPredict(und0: DataFrame): DataFrame = {
    // three consumers of the edge frame (deg, half, existing), three
    // of the degree table (centers + both final joins), two of the
    // filtered half-edges (the common-neighbor self-join) — cut each
    // once (r16 §8); uncut, every consumer re-ran the caller's
    // distinct-union subtree / the degree aggregation
    val und = cut(und0)
    val deg = cut(und.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val centers = deg.filter(col("deg") <= lit(LinkHubCap)).select(col("u").as("c"))
    val half = cut(und.join(centers, col("v") === col("c"))
      .select(col("u"), col("v")))
    val cn = half.select(col("v"), col("u").as("a"))
      .join(half.select(col("v"), col("u").as("b")), Seq("v"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val existing = und.filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    cn.join(existing, Seq("a", "b"), "left_anti")
      .filter(col("common") >= lit(LinkMinCommon))
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        expr("common * 1000000 div (deg_a + deg_b - common)").as("jaccard_ppm"))
  }

  def qLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = triEdges(docs, n).filter(col("src") =!= col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    linkPredict(und)
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, the deterministic synchronous variant) over the
    * undirected closure of the triangle fixture — the cheap
    * community/cluster-structure pass the mutual-kNN graph (45y) and
    * near-dup pair graphs feed: labels init to node id, and each of
    * the [[LpIters]] rounds every node adopts its neighborhood's
    * MODE label (tie → smallest label, the deterministic rule — the
    * randomized tie-break of the paper is replaced by min so the
    * unrolled oracle agrees bit-for-bit).
    *
    * Per iteration: one edge⋈label equi-join + one (node, label)
    * partial-agg count + one per-node min(struct(−cnt, label)) fold —
    * the argmax-by-struct idiom, all map-side combinable, O(E)
    * shuffled per round like PageRank, with the same reliable-cut
    * lineage discipline. No window, no global sort; at 100 TB the
    * edge frame pre-partitions on v and every round reuses that
    * partitioning. Output: final community per node + community size
    * (one extra partial-agg + equi-join).
    */
  val LpIters = 3

  // --- seeded label spreading -------------------------------------------

  /** Rounds of label spreading; α = [[SpreadAlphaPct]]% neighbor
    * mass, the rest re-asserted from the seed each round (Zhou et
    * al. NeurIPS 2004). Seeds: every [[SpreadSeedMod]]-th doc
    * carries a positive quality label.
    */
  val SpreadIters = 3
  val SpreadAlphaPct = 80L
  val SpreadSeedMod = 10L

  /** Semi-supervised label spreading over the link graph — the
    * curation move that turns a FEW trusted/blocked seed labels into
    * corpus-wide quality scores (propagate known-good domains along
    * links; the same iteration smooths classifier scores over a
    * mutual-kNN doc graph). Integer-ppm arithmetic end-to-end:
    * y_{t+1}(v) = α·(Σ_{u→v} y_t(u) div deg(u) … averaged over
    * inbound mass) is deliberately formulated as the PageRank-style
    * out-degree share split so the distributed sum is
    * order-independent: y_{t+1}(v) = α·(inflow(v)) div 100 +
    * (100−α)·seed(v) div 100, inflow(v) = Σ_{u→v} y_t(u) div
    * deg(u). Per round: one edge⋈score equi-join + one dst-keyed
    * partial-agg sum — O(E) shuffled per round, the qPagerank plan
    * shape, cut() lineage. Nodes unreachable from any seed score 0;
    * seeds saturate toward 1e6·(100−α)/(100−α·share). */
  def qLabelSpread(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seed = docs.select(col("doc_id").as("v"),
      when(col("doc_id") % SpreadSeedMod === 0, lit(1000000L))
        .otherwise(lit(0L)).as("s"))
    var y = seed.select(col("v"), col("s").as("y"))
    for (_ <- 1 to SpreadIters) {
      val inflow = e.join(y.toDF("src", "y"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("y div deg").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
      y = cut(seed.join(inflow.toDF("v", "inflow"), Seq("v"), "left")
        .select(col("v"),
          expr(s"($SpreadAlphaPct * coalesce(inflow, 0L) div 100) + " +
            s"((100 - $SpreadAlphaPct) * s div 100)").as("y")))
    }
    y.select(col("v").as("doc_id"), col("y").as("score_ppm"))
  }

  /** The synchronous-LPA label frame (lv, lab) over an undirected
    * edge frame — shared by [[qLabelProp]] and the modularity audit.
    */
  private def lpaLabels(docs: DataFrame, und: DataFrame): DataFrame = {
    var lab = docs.select(col("doc_id").as("lv"), col("doc_id").as("lab"))
    for (_ <- 1 to LpIters) {
      val cnt = und.join(lab, und("v") === lab("lv"))
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("cnt"))
      val pick = cnt.groupBy(col("u"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lab").as("l"))).as("m"))
        .select(col("u"), col("m.l").as("newlab"))
      lab = cut(docs.select(col("doc_id").as("lv"))
        .join(pick, col("lv") === pick("u"), "left")
        .select(col("lv"), coalesce(col("newlab"), col("lv")).as("lab")))
    }
    lab
  }

  /** Memoized LPA labels per (session, dir) — [[qModularity]] audits
    * the SAME partition [[qLabelProp]] publishes, and each was
    * re-running the full [[LpIters]]-round propagation (r15
    * optimization; the per-round frames are already lineage-cut, so
    * the memoized final labels frame re-executes for free). Both
    * oracle outputs are byte-identical.
    */
  private[graft] def lpaBase(s: SparkSession, dir: String): DataFrame =
    shared("lpaBase", s, dir) {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = triEdges(docs, n).filter(col("src") =!= col("dst"))
      val und = e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
        .distinct().persist()
      try lpaLabels(docs, und) finally { und.unpersist(); () }
    }

  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val lab = lpaBase(s, dir)
    val sz = lab.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    lab.join(sz, Seq("lab"))
      .select(col("lv").as("doc_id"), col("lab").as("community"),
        col("comm_size"))
  }

  /** Newman modularity of the LPA communities (Newman & Girvan 2004,
    * eq. Q = Σ_c [e_c/m − (d_c/2m)²]) — the community-QUALITY audit
    * for 26k's label propagation: did the partition concentrate more
    * edge mass inside communities than a degree-preserving random
    * graph would (Q > 0 per community ⇒ real structure; the number a
    * clustering consumer gates on before trusting the labels). In
    * directed-row units (each undirected edge appears twice in the
    * closure, m2 = 2m) every per-community contribution is the EXACT
    * RATIONAL (intra_rows·m2 − d_c²) / m2² — integer ppm via
    * sign-split abs-division, products in decimal(38,0) (the 26aa
    * headroom discipline: d_c² passes int64 on web-scale graphs).
    * One LPA run + one degree agg + two label equi-joins + one
    * community partial agg — community count is bounded by the node
    * count, output one row per community.
    */
  /** Per-community exact-rational modularity contributions in
    * integer ppm over an undirected closure `und` and a (u, c)
    * partition frame — the scoring half shared by [[qModularity]]
    * (LPA partition) and [[qLouvain]]'s spec comparisons.
    */
  private[graft] def modularityContrib(und: DataFrame,
                                       nodeC: DataFrame): DataFrame = {
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val m2 = und.count()
    val den = (BigInt(m2) * BigInt(m2)).toString
    val comm = nodeC.join(deg, Seq("u"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_members"),
        sum(col("deg")).as("deg_sum"))
    val intra = und.join(nodeC, Seq("u"))
      .join(nodeC.toDF("v", "c2"), Seq("v"))
      .filter(col("c") === col("c2"))
      .groupBy(col("c")).agg(count(lit(1)).as("intra_rows"))
    comm.join(intra, Seq("c"), "left")
      .withColumn("intra_rows", coalesce(col("intra_rows"), lit(0L)))
      .withColumn("num",
        col("intra_rows").cast("decimal(38,0)")
          * lit(m2).cast("decimal(38,0)")
          - col("deg_sum").cast("decimal(38,0)")
          * col("deg_sum").cast("decimal(38,0)"))
      .select(col("c").as("community"), col("n_members"), col("deg_sum"),
        col("intra_rows"),
        when(col("num") >= 0,
          expr(s"(num * 1000000) div cast('$den' as decimal(38,0))"))
          .otherwise(-expr(
            s"((- num) * 1000000) div cast('$den' as decimal(38,0))"))
          .cast("long").as("contrib_ppm"))
  }

  def qModularity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = triEdges(docs, n).filter(col("src") =!= col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct().persist()
    try {
      // the SAME partition qLabelProp publishes — shared via lpaBase
      modularityContrib(und, lpaBase(s, dir).toDF("u", "c"))
    } finally { und.unpersist(); () }
  }

  /** Louvain local-move rounds (synchronous; see [[louvainLabels]]).
    * Six rounds measured on the ring-chord fixture: Q climbs 14.6k →
    * 140.4k ppm (crossing LPA's 84.9k at round 4) with a mild
    * non-monotone wobble later (synchronous moves can oscillate) —
    * the spec pins Q(louvain) ≥ Q(LPA) at this setting.
    */
  val LouvainIters = 6

  /** Synchronous Louvain-style local moves (Blondel et al. 2008, the
    * local-move phase, synchronous variant — the modularity-ASCENT
    * algorithm the 26ag audit measures FOR): starting from singleton
    * communities, each round every node adopts the candidate
    * community (its neighbors' communities ∪ its own) maximizing the
    * EXACT-RATIONAL modularity gain. In directed-row units
    * (m2 = |und|), moving v into community c changes Q by
    * 2·(m2·k(v,c) − d_v·d_c^{¬v})/m2² relative to v isolated, so the
    * argmax of score(v,c) = m2·k(v,c) − d_v·d_c^{¬v} (products in
    * decimal(38,0) — the 26ag headroom discipline) IS the argmax of
    * ΔQ; ties break to the MINIMUM community label (deterministic,
    * oracle-mirrored by row_number ORDER BY score DESC, c ASC).
    * d_c^{¬v} excludes v's own degree when scoring its current
    * community, so "stay" competes on equal footing.
    *
    * Scale shape per round: one neighbor-label equi-join + (u, c)
    * partial-agg count (the LPA shape), one community-degree partial
    * agg (communities ≤ nodes), two label-sized equi-joins, one
    * (u)-keyed struct-min fold. All state is node- or edge-sized;
    * lineage cut per round. Synchronous moves can oscillate like LPA
    * (bounded rounds, not convergence-guaranteed); the 26ag audit
    * scores any resulting partition, and the spec pins
    * Q(louvain) ≥ Q(LPA) on the ring-chord fixture.
    */
  /** The synchronous ΔQ move rounds over a WEIGHTED adjacency — the
    * shared engine of both Louvain levels: `init` is the starting
    * (lv, lab) partition, `undW` the (u, v, w) closure (level 1 feeds
    * w = 1, level 2 the inter-community row weights), `strength` the
    * (u, s) node strengths (level 1: degrees; level 2: community
    * degree sums — conserving m2 across levels, so the SAME score
    * arithmetic maximizes the SAME global Q at every level).
    */
  private[graft] def louvainMoveRounds(init: DataFrame, undW: DataFrame,
                                       strength: DataFrame, m2: Long,
                                       rounds: Int): DataFrame = {
    // cut the loop-invariant frames ONCE (r16): both are consumed
    // every round (undW by the neighbor-label join, strength by dC
    // and the candidate join), and the level-2 callers pass LAZY
    // coarsen() outputs — without the cut each round re-ran the
    // whole community aggregation of the parent graph.
    val undWC = cut(undW)
    val strengthC = cut(strength)
    // init is consumed three times in round 1 (nodeC, own, the final
    // label join) — for the level-2 callers it is a lazy projection
    // of the coarse node set, so cut it with the other invariants
    var lab = cut(init)
    for (_ <- 1 to rounds) {
      val nodeC = lab.toDF("u", "c")
      val dC = nodeC.join(strengthC, Seq("u"))
        .groupBy(col("c")).agg(sum(col("s")).as("dc"))
      val own = lab.select(col("lv").as("u"), col("lab").as("own_c"))
      // candidate set = neighbor communities ∪ own community with
      // k(v, c) attached in ONE aggregation (r16): union the
      // ZERO-weight own rows into the pre-agg share stream, so the
      // (u, c) groupBy emits the identical key set and sums (own
      // rows add 0; own-only keys sum to 0) — the earlier
      // k-agg + union + max re-agg shape paid a second (u, c)
      // exchange per round for the same table.
      val cand = undWC.join(nodeC.toDF("v", "c"), Seq("v"))
        .select(col("u"), col("c"), col("w"))
        .unionAll(own.select(col("u"), col("own_c").as("c"),
          lit(0L).as("w")))
        .groupBy(col("u"), col("c")).agg(sum(col("w")).as("k"))
        .join(own, Seq("u"))
        .join(strengthC, Seq("u"))
        .join(dC, Seq("c"))
        .withColumn("dc_adj", col("dc") -
          when(col("c") === col("own_c"), col("s")).otherwise(lit(0L)))
        .withColumn("score",
          col("k").cast("decimal(38,0)") * lit(m2).cast("decimal(38,0)")
            - col("s").cast("decimal(38,0)") * col("dc_adj").cast("decimal(38,0)"))
      val pick = cand.groupBy(col("u"))
        .agg(min(struct((-col("score")).as("ns"), col("c").as("l"))).as("m"))
        .select(col("u"), col("m.l").as("newlab"))
      lab = cut(lab
        .join(pick, col("lv") === pick("u"), "left")
        .select(col("lv"), coalesce(col("newlab"), col("lab")).as("lab")))
    }
    lab
  }

  private[graft] def louvainLabels(docs: DataFrame, und: DataFrame,
                                   rounds: Int = LouvainIters): DataFrame =
    louvainMoveRounds(
      docs.select(col("doc_id").as("lv"), col("doc_id").as("lab")),
      und.withColumn("w", lit(1L)),
      und.groupBy(col("u")).agg(count(lit(1)).as("s")),
      und.count(), rounds)

  /** Memoized Louvain base state per (session, dir): the undirected
    * ring-chord closure (lineage-cut), its directed-row count m2,
    * and the level-1 ascent labels. The five audit/refinement rungs
    * plus the Leiden composition all consume ONE ascent — r14
    * verdict #3: 37.6 s of BENCH_r14 was the identical 6-round
    * ascent recomputed five times, exactly what a production
    * consumer would never do (labels are computed once and fed to
    * every audit). Keyed by SparkSession reference so a fresh
    * session never sees another session's checkpointed blocks; the
    * per-rung oracle outputs are byte-identical to the unshared
    * form (same deterministic ascent, same frames).
    */
  private[graft] def louvainBase(s: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame) =
    shared("louvainBase", s, dir) {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = triEdges(docs, n).filter(col("src") =!= col("dst"))
      val und = cut(e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
        .distinct())
      (und, und.count(), cut(louvainLabels(docs, und)))
    }

  /** Louvain communities over the ring-chord fixture — the same
    * output contract as [[qLabelProp]] (doc_id, community,
    * comm_size); quality measured by [[modularityContrib]].
    */
  def qLouvain(s: SparkSession, dir: String): DataFrame = {
    val (_, _, lab) = louvainBase(s, dir)
    val sz = lab.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    lab.join(sz, Seq("lab"))
      .select(col("lv").as("doc_id"), col("lab").as("community"),
        col("comm_size"))
  }

  /** Level-2 move rounds of the multilevel form (see
    * [[qLouvainMultilevel]]): measured on the ring-chord fixture the
    * coarse-graph ascent climbs 140.4k → 158.5k ppm, monotone through
    * round 3 and 2-cycling after — 3 is the honest setting.
    */
  val LouvainL2Iters = 3

  /** MULTILEVEL Louvain (Blondel et al. 2008, the full two-phase
    * structure): after the level-1 local moves, AGGREGATE the graph —
    * each community becomes one super-node carrying its total degree
    * as strength, inter-community directed-row counts become weighted
    * edges — and run the SAME synchronous ΔQ move rounds on the
    * coarse weighted graph, then project labels back (final(v) =
    * L2(L1(v))). m2 is conserved across levels, so the identical
    * integer score arithmetic maximizes the identical global Q; the
    * coarse self-loop mass (intra rows) is constant across a node's
    * choices and drops out of the argmax, the standard weighted-
    * Louvain treatment. Scale shape: the coarse graph is communities-
    * sized (≤ nodes, usually ≪), its edges bounded by the distinct
    * community pairs sharing an edge — every stage is the level-1
    * plan on a smaller frame. Spec pins Q(multilevel) ≥ Q(one-level)
    * ≥ Q(LPA), all exact BigInt, plus the full two-level replay.
    */
  /** Coarse weighted graph over a (u, c) node→community assignment:
    * inter-community directed-row counts as edge weights and
    * community degree sums as super-node strengths (m2-conserving —
    * the shared aggregation stage of [[qLouvainMultilevel]] and
    * [[qLeiden]]).
    */
  private def coarsen(und: DataFrame, nodeC: DataFrame)
      : (DataFrame, DataFrame) = {
    val cw = und.join(nodeC, Seq("u"))
      .join(nodeC.toDF("v", "c2"), Seq("v"))
      .filter(col("c") =!= col("c2"))
      .groupBy(col("c"), col("c2")).agg(count(lit(1)).as("w"))
      .select(col("c").as("u"), col("c2").as("v"), col("w"))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val cs = nodeC.join(deg, Seq("u"))
      .groupBy(col("c")).agg(sum(col("deg")).as("s"))
      .select(col("c").as("u"), col("s"))
    (cw, cs)
  }

  def qLouvainMultilevel(s: SparkSession, dir: String): DataFrame = {
    val (und, m2, l1) = louvainBase(s, dir)
    val nodeC = l1.toDF("u", "c")
    val (cw, cs) = coarsen(und, nodeC)
    val l2 = louvainMoveRounds(
      cs.select(col("u").as("lv"), col("u").as("lab")),
      cw, cs, m2, LouvainL2Iters)
    // LEFT join + coalesce (r14 ADVICE): the coarse node set carries
    // only communities whose members have degree — an all-isolated
    // community never aggregates, and an inner join would silently
    // drop its members from the projection (latent off-fixture);
    // unaggregated communities pass their level-1 label through.
    val fin = l1.select(col("lv"), col("lab"))
      .join(l2.toDF("lab", "lab2"), Seq("lab"), "left")
      .select(col("lv"), coalesce(col("lab2"), col("lab")).as("lab"))
    val sz = fin.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    fin.join(sz, Seq("lab"))
      .select(col("lv").as("doc_id"), col("lab").as("community"),
        col("comm_size"))
  }

  /** Community CONNECTIVITY audit of the Louvain partition — the
    * statistic motivating Leiden (Traag, Waltman & van Eck 2019):
    * Louvain's local moves can strand a community's members with no
    * internal path (a "badly connected" community — the labels lie
    * about cohesion). Per community: members, the number of INTERNAL
    * connected components over intra-community edges (isolated
    * members count as their own), and the is_connected flag a
    * clustering consumer gates on. Plan: one louvain run + two label
    * equi-joins selecting intra edges + the O(log n)
    * large-star/small-star CC (the dedup-cluster machinery) + one
    * community partial agg — component ids are min-reachable ids, so
    * the recursive-closure oracle agrees exactly.
    */
  /** Internal-component relabel of a (lv, lab) partition over `und`:
    * each member's refined label is the minimum id of its
    * intra-community connected component (isolated members keep
    * their own id) — the shared refinement stage of the
    * connectivity audit, [[qLouvainRefined]] and [[qLeiden]].
    */
  private def refineByComponents(und: DataFrame, lab: DataFrame): DataFrame = {
    val nodeC = lab.toDF("u", "c")
    val intra = und.join(nodeC, Seq("u"))
      .join(nodeC.toDF("v", "c2"), Seq("v"))
      .filter(col("c") === col("c2") && col("u") < col("v"))
      .select(col("u").as("doc_a"), col("v").as("doc_b"))
    val cc = Dedup.connectedComponentsLS(intra)
    lab.join(cc.toDF("lv", "comp"), Seq("lv"), "left")
      .select(col("lv"), col("lab"),
        coalesce(col("comp"), col("lv")).as("comp"))
  }

  /** Memoized refinement of the level-1 partition per (session, dir)
    * — the louvainBase discipline one stage later: the connectivity
    * audit, the Leiden-style refinement and full Leiden all consume
    * the SAME internal-component relabel of the SAME shared ascent
    * (r15 optimization; the three rungs each reran the intra-edge
    * selection + the large-star/small-star CC on identical input).
    * Outputs are byte-identical: the relabel is deterministic.
    */
  private[graft] def refinedBase(s: SparkSession, dir: String): DataFrame =
    shared("refinedBase", s, dir) {
      val (und, _, lab) = louvainBase(s, dir)
      cut(refineByComponents(und, lab))
    }

  def qLouvainConnectivity(s: SparkSession, dir: String): DataFrame = {
    refinedBase(s, dir)
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("comp")).as("n_internal_components"))
      .select(col("lab").as("community"), col("n_members"),
        col("n_internal_components"),
        when(col("n_internal_components") === 1, 1L).otherwise(0L)
          .as("is_connected"))
  }

  /** Leiden-style connectivity REFINEMENT of the Louvain partition
    * (Traag et al. 2019's fix for what [[qLouvainConnectivity]]
    * measures): split every community into its internal connected
    * components — each member relabels to its component's minimum id.
    * This is a THEOREM, not a heuristic: parts of a disconnected
    * community share no internal edge, so every community's intra
    * row count is unchanged by the split while the degree penalty
    * strictly improves (−(d₁+d₂)² < −d₁² − d₂² whenever both parts
    * carry degree) — Q(refined) ≥ Q(louvain) exactly, with equality
    * iff every community was already connected; and every refined
    * community is connected BY CONSTRUCTION. Same plan as the
    * connectivity audit plus one relabel join; output contract =
    * [[qLouvain]] (doc_id, community, comm_size) with communities
    * keyed by component-min ids.
    */
  def qLouvainRefined(s: SparkSession, dir: String): DataFrame = {
    // refined label = internal-component min id (isolated members
    // become their own singleton community)
    val fin = refinedBase(s, dir)
      .select(col("lv"), col("comp").as("lab"))
    val sz = fin.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    fin.join(sz, Seq("lab"))
      .select(col("lv").as("doc_id"), col("lab").as("community"),
        col("comm_size"))
  }

  /** [[qModularity]]'s audit applied to the LOUVAIN partition — the
    * closed loop: 26ag scores LPA, 26ah ascends, and this rung makes
    * the ascent's output an oracle-gated number too (one row per
    * louvain community, exact-rational contribution in ppm). Same
    * plan as qModularity with [[louvainLabels]] swapped in.
    */
  def qModularityLouvain(s: SparkSession, dir: String): DataFrame = {
    val (und, _, lab) = louvainBase(s, dir)
    modularityContrib(und, lab.toDF("u", "c"))
  }

  /** Full LEIDEN (Traag, Waltman & van Eck 2019) — the r14
    * composition closed: where [[qLouvainMultilevel]] aggregates the
    * RAW level-1 partition, Leiden refines FIRST and aggregates the
    * REFINED partition, seeding each refined super-node with its
    * parent community — so the coarse move phase starts from the
    * level-1 partition's Q (grouping refined parts by parent
    * reconstitutes it exactly) but moves connectivity-safe units: a
    * badly-connected community's stranded part can leave on its own
    * instead of being welded to members it cannot reach. Stages, all
    * machinery r14 already shipped: (1) level-1 local moves
    * ([[louvainBase]]'s shared ascent); (2) connectivity refinement
    * ([[refineByComponents]] — the paper's γ-connectivity guarantee
    * in its deterministic component form); (3) aggregation of the
    * refined partition ([[coarsen]]) with init = parent labels;
    * (4) the same weighted ΔQ move rounds on the coarse graph;
    * (5) projection final(v) = L2(refined(v)) (left + coalesce — the
    * multilevel isolated-community discipline); (6) a final
    * component refinement, so every output community is connected BY
    * CONSTRUCTION at every level and Q only gains (the r14 theorem
    * pin, applied per level; spec pins Q(leiden) ≥ Q(multilevel) on
    * the fixture in exact BigInt). Scale shape: every stage is
    * either the level-1 LPA plan, the O(log n) large-star/small-star
    * CC, or the same plan on the communities-sized coarse frame.
    */
  def qLeiden(s: SparkSession, dir: String): DataFrame = {
    val (und, m2, _) = louvainBase(s, dir)
    // (2) refined partition: (lv, parent lab, refined comp label) —
    // the memoized shared stage (checkpointed, so the four consumers
    // below read it instead of re-deriving the CC relabel lineage)
    val ref = refinedBase(s, dir)
    val r1 = ref.select(col("lv"), col("comp").as("lab"))
    // (3) aggregate the REFINED partition; init = parent community.
    // cw is consumed by the move rounds AND the final coarse
    // refinement below — cut it once here (coarsen is lazy)
    val (cw0, cs) = coarsen(und, r1.toDF("u", "c"))
    val cw = cut(cw0)
    val init = ref.select(col("comp").as("lv"), col("lab")).distinct()
    // (4) coarse move rounds (m2 conserved — same score arithmetic)
    val l2 = louvainMoveRounds(init, cw, cs, m2, LouvainL2Iters)
    // (5) comp-level final labels — one row per REFINED COMPONENT:
    // l2 IS the (comp → final coarse label) map, and its lv set is
    // exactly init's (each move round left-joins the pick back onto
    // the full label frame), which covers every r1 lab
    val compFin = cut(l2.toDF("cid", "flab"))
    // (6) final refinement ON THE COARSE GRAPH (r16): every refined
    // component is internally connected BY CONSTRUCTION, and every
    // node-level intra edge of the final partition between two
    // DIFFERENT refined components is a cw edge whose endpoints share
    // a final label — so the node-level internal components of a
    // final community are exactly the same-final-label coarse
    // components, expanded back through the refined ids. Labels agree
    // too: a refined component's id IS its minimum node id, so the
    // min comp id over a coarse component equals the min node id over
    // the expanded node set — the node-level CC ran the identical
    // large-star/small-star loop over an edge set ~|V| larger for the
    // same answer (guide §1.2: shrink the data before the iterative
    // part). The oracle still computes the node-level form; outputs
    // are byte-identical (GraphSpec's BigInt replay pins it).
    val intraC = cw
      .join(compFin.toDF("u", "flab_u"), Seq("u"))
      .join(compFin.toDF("v", "flab_v"), Seq("v"))
      .filter(col("flab_u") === col("flab_v"))
      .select(col("u").as("doc_a"), col("v").as("doc_b"))
    val ccC = Dedup.connectedComponentsLS(intraC)
    val fin = r1
      .join(ccC.toDF("lab", "lab2"), Seq("lab"), "left")
      .select(col("lv"), coalesce(col("lab2"), col("lab")).as("lab"))
    val sz = fin.groupBy(col("lab")).agg(count(lit(1)).as("comm_size"))
    fin.join(sz, Seq("lab"))
      .select(col("lv").as("doc_id"), col("lab").as("community"),
        col("comm_size"))
  }

  /** Steps per walk (positions 0..WalkSteps; walks END early at
    * dangling nodes — the fixture's sinks exercise exactly that).
    */
  val WalkSteps = 4

  /** Deterministic random-walk corpus generation (the DeepWalk /
    * node2vec sampling stage — walks ARE training data: feed them to
    * the skip-gram pipeline like sentences; context pairs are one
    * walk_id self-join with |step delta| ≤ window away). The
    * randomized neighbor choice is derandomized the established way
    * (md5-derived, like LSH planes and MinHash permutations): from
    * node u at step k, walk w moves to the outgoing neighbor
    * minimizing tokenHash(w ":" k ":" dst) — per-walk decorrelated,
    * bit-reproducible, and replayed exactly by the oracle's unrolled
    * row_number picks.
    *
    * Shape per step: one frontier⋈edges equi-join on the current
    * node + one per-walk min(struct(hash, dst)) partial-agg fold —
    * O(frontier · out-degree) shuffled, bounded iterations, the
    * PageRank lineage-cut discipline. Never a per-node window over
    * the whole edge list; a hub's edges fan out to its visitors'
    * reducers. Walks at sink nodes end via the inner join (emitted
    * rows just stop), so the output is a ragged (walk_id, step,
    * node) long table — exactly the shape sequence packing consumes.
    */
  def walks(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).persist()
    try {
      var cur = docs.select(col("doc_id").as("walk_id"),
        col("doc_id").as("node"))
      var out = cur.withColumn("step", lit(0L))
      for (k <- 1 to WalkSteps) {
        cur = cut(cur.join(e, cur("node") === e("src"))
          .select(col("walk_id"),
            graft.functions.GraftFunctions.tokenHash(
              concat_ws(":", col("walk_id"), lit(k), col("dst"))).as("hk"),
            col("dst"))
          .groupBy(col("walk_id"))
          .agg(min(struct(col("hk"), col("dst"))).as("m"))
          .select(col("walk_id"), col("m.dst").as("node")))
        out = out.unionAll(cur.withColumn("step", lit(k.toLong)))
      }
      out.select(col("walk_id"), col("step"), col("node"))
    } finally { e.unpersist(); () }
  }

  /** Memoized walk corpora per (session, dir) — the louvainBase
    * discipline on the walk family (r15 optimization): [[qWalkPairs]]
    * re-ran the whole DeepWalk loop [[qRandomWalks]] had already run,
    * and [[qWalkPairsN2v]] the whole biased loop of
    * [[qNode2vecWalks]] — a production embedding pipeline generates
    * each walk corpus once and feeds the pair extraction from it.
    * The loops' per-step frames are already lineage-cut; the memo
    * shares the composed corpus. Outputs byte-identical.
    */
  private[graft] def walksBase(s: SparkSession, dir: String): DataFrame =
    shared("walksBase", s, dir)(walks(s, dir))

  def qRandomWalks(s: SparkSession, dir: String): DataFrame =
    walksBase(s, dir)

  /** node2vec bias weights in lcm units (Grover & Leskovec 2016's
    * p = q = 2 setting scaled by 2): a candidate step back to the
    * PREVIOUS node weighs 1/p, a step to a common out-neighbor of the
    * previous node (graph distance ≤ 1) weighs 1, an outward step
    * weighs 1/q — the dial between BFS-like (community-structure) and
    * DFS-like (role-structure) walk corpora.
    */
  val N2vWReturn = 1L
  val N2vWMid = 2L
  val N2vWOut = 1L

  /** node2vec biased walks (Grover & Leskovec, KDD'16) — the biased
    * twin of [[walks]], completing the published walk-corpus pair
    * (DeepWalk's uniform walks + node2vec's 2nd-order biased walks;
    * both feed [[qWalkPairs]]' skip-gram extraction unchanged). The
    * 2nd-order state is (walk, prev, cur); each step classifies every
    * out-neighbor dst of cur into return (dst = prev), mid (dst an
    * out-neighbor of prev — the directed form of "distance ≤ 1"), or
    * outward, and picks the dst minimizing hash div w — the
    * derandomized integer race: like the LSH planes and the 26l walk
    * picks, the randomness is md5-derived and the weight enters as a
    * floor-divisor, so higher-weight classes win more often while
    * both engines replay the choice bit-exactly (a documented
    * deterministic approximation of the exponential race; the 26l
    * derandomization posture, now weighted). Step 1 has no previous
    * node and uses the unbiased 26l rule.
    *
    * Shape per step: one frontier⋈edges equi-join + ONE classification
    * LEFT equi-join against the edge set on (prev, dst) + one per-walk
    * min(struct) partial fold — O(frontier·degree) shuffled, bounded
    * steps, cut() lineage; walks end at dangling nodes via the inner
    * join exactly like [[walks]]. Output (walk_id, step, node).
    *
    * Fixture: the RING-CHORD graph ([[triEdges]]) rather than the
    * sink fixture — measured, not assumed: under the sink fixture's
    * two linear maps a candidate is essentially never the previous
    * node or one of its out-neighbors, so the 2nd-order classes never
    * engage and the biased corpus degenerates to the uniform one; the
    * ring edges make "common neighbor of prev" a frequent class
    * (cur = u+1's candidate u+2 ∈ outN(u)) and the spec pins the
    * corpus genuinely diverges from the unbiased walk on the SAME
    * graph.
    */
  def qNode2vecWalks(s: SparkSession, dir: String): DataFrame =
    shared("qNode2vecWalks", s, dir)(node2vecWalksPlan(s, dir))

  private def node2vecWalksPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = triEdges(docs, n).filter(col("src") =!= col("dst")).persist()
    try {
      var out = docs.select(col("doc_id").as("walk_id"), lit(0L).as("step"),
        col("doc_id").as("node"))
      // step 1: unbiased md5 pick; prev = the start node
      var st = cut(docs.select(col("doc_id").as("walk_id"),
          col("doc_id").as("prev"))
        .join(e, col("prev") === e("src"))
        .select(col("walk_id"), col("prev"),
          tokenHash(concat_ws(":", col("walk_id"), lit(1), col("dst"))).as("hk"),
          col("dst"))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("hk"), col("dst"))).as("m"),
          max(col("prev")).as("prev"))
        .select(col("walk_id"), col("prev"), col("m.dst").as("cur")))
      out = out.unionAll(st.select(col("walk_id"), lit(1L).as("step"),
        col("cur").as("node")))
      for (k <- 2 to WalkSteps) {
        val cand = st.join(e, st("cur") === e("src"))
          .select(col("walk_id"), col("prev"), col("cur"), col("dst"))
        val classified = cand
          .join(e.toDF("prev", "dst").withColumn("mid", lit(1)),
            Seq("prev", "dst"), "left")
          .withColumn("w",
            when(col("dst") === col("prev"), lit(N2vWReturn))
              .otherwise(when(col("mid") === 1, lit(N2vWMid))
                .otherwise(lit(N2vWOut))))
          .withColumn("hk",
            tokenHash(concat_ws(":", col("walk_id"), lit(k), col("dst"))))
          .withColumn("key", expr("hk div w"))
        st = cut(classified.groupBy(col("walk_id"))
          .agg(min(struct(col("key"), col("dst"))).as("m"),
            max(col("cur")).as("prev"))
          .select(col("walk_id"), col("prev"), col("m.dst").as("cur")))
        out = out.unionAll(st.select(col("walk_id"), lit(k.toLong).as("step"),
          col("cur").as("node")))
      }
      out.select(col("walk_id"), col("step"), col("node"))
    } finally { e.unpersist(); () }
  }

  /** Skip-gram window for walk-pair extraction. */
  val WalkWindow = 2

  /** Skip-gram (center, context) pair counts from the walk corpus —
    * the DeepWalk training-pair extraction: within each walk, every
    * ordered node pair at step distance 1..WalkWindow becomes a
    * training example, aggregated corpus-wide. ONE walk_id self-
    * equi-join (fan-out bounded by walk length², ≤ (WalkSteps+1)²
    * per walk — never corpus-quadratic) + one (center, context)
    * partial-agg count. The output is exactly the pair table a
    * skip-gram embedding trainer consumes.
    */
  /** The window expansion itself, shared by both corpora: `w` is a
    * (walk_id, step, node) walk table.
    */
  private def skipGramPairs(w: DataFrame): DataFrame =
    w.toDF("walk_id", "step_a", "center")
      .join(w.toDF("walk_id", "step_b", "context"), Seq("walk_id"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= WalkWindow)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))

  def qWalkPairs(s: SparkSession, dir: String): DataFrame =
    skipGramPairs(walksBase(s, dir))

  /** Skip-gram pairs over the node2vec BIASED corpus (r14 verdict
    * #5: the biased walks existed but nothing consumed them — the
    * walk-corpus PAIR table is the artifact 26l2 exists to feed).
    * Identical window/self-join shape as [[qWalkPairs]]; the spec
    * pins that on the ring-chord fixture this pair table genuinely
    * differs from the UNBIASED pick rule's pairs on the SAME graph
    * (the bias reaches the training data, not just the walks).
    */
  def qWalkPairsN2v(s: SparkSession, dir: String): DataFrame =
    skipGramPairs(qNode2vecWalks(s, dir))

  /** k-core threshold and the synchronous-peel round bound. The
    * PageRank fixture converges in ≤ 8 rounds at every test SF
    * (spec-pinned: the cascade ends strictly before the bound); on a
    * real graph the bound is the knob that trades residual
    * not-yet-peeled nodes for iterations, exactly like PrIters.
    */
  val KcoreK = 3L
  val KcoreRounds = 10

  /** k-core decomposition (Seidman 1983) by synchronous peeling over
    * the undirected closure of the PageRank link fixture — the graph
    * WITH dangling sinks, so degree heterogeneity drives a real
    * multi-round cascade (sinks and their support peel first, the
    * removals propagate). The k-core is the classic "dense,
    * well-linked center" selector a link-graph curation pass uses to
    * separate hub/spam periphery from the connected core.
    *
    * Semantics: round r removes every node whose degree AMONG
    * SURVIVORS is < k (all removals in a round are simultaneous —
    * the deterministic synchronous variant, so the unrolled oracle
    * agrees bit-for-bit). `peel_round` records the removal round
    * (1-based); 0 means the node survived all [[KcoreRounds]] rounds
    * and `core_deg` is its degree inside the final core (≥ k once
    * the cascade has converged, which the spec pins on the fixture).
    *
    * Shape per round: two alive-list equi-joins against the edge
    * frame (u-side, v-side) + one per-node partial-agg count + one
    * left join back to the state — O(E) shuffled per round, bounded
    * rounds, reliable-`cut()` lineage, the PageRank discipline. At
    * 100 TB the edge frame pre-partitions on u and every round
    * reuses that partitioning; no window, no global sort, state is
    * one row per node.
    */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).filter(col("src") =!= col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct().persist()
    try {
      // Incremental degree maintenance (r16): the old loop recomputed
      // the alive-degree per round with TWO joins of the full edge
      // set against the alive set (10 fixed rounds = 20 edge-set
      // passes). Peeling only ever REMOVES nodes, so the alive-degree
      // is maintained exactly by decrementing each survivor by its
      // just-peeled neighbor count — one edge-set pass per round,
      // against the (small, shrinking) peeled set. Early exit once a
      // round peels nothing: degrees among an unchanged alive set are
      // unchanged, so every later round is a no-op and the output
      // equals the oracle's full KcoreRounds unroll (same fixpoint).
      // state: one row per node; peel_round 0 = still alive; deg =
      // degree among currently-alive nodes (frozen once peeled)
      val deg0 = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      var state = cut(docs
        .join(deg0.toDF("dv", "deg"), col("doc_id") === col("dv"), "left")
        .select(col("doc_id").as("v"), lit(0L).as("peel_round"),
          coalesce(col("deg"), lit(0L)).as("deg")))
      var r = 0
      var converged = false
      while (r < KcoreRounds && !converged) {
        r += 1
        val marked = state.select(col("v"),
          when(col("peel_round") =!= 0L, col("peel_round"))
            .when(col("deg") < KcoreK, lit(r.toLong))
            .otherwise(lit(0L)).as("peel_round"),
          col("deg"))
        val peeled = marked.filter(col("peel_round") === r)
          .select(col("v").as("pv"))
        val dec = und.join(peeled, col("v") === col("pv"))
          .groupBy(col("u")).agg(count(lit(1)).as("dcnt"))
        state = cut(marked
          .join(dec.toDF("du", "dcnt"), marked("v") === col("du"), "left")
          .select(col("v"), col("peel_round"),
            when(col("peel_round") === 0L,
              col("deg") - coalesce(col("dcnt"), lit(0L)))
              .otherwise(col("deg")).as("deg")))
        converged = state.filter(col("peel_round") === r).limit(1).count() == 0
      }
      // survivors' maintained deg IS the degree inside the final core
      // (every decrement from dead neighbors has been applied) — the
      // old final aliveDeg recompute is dead work
      state.select(col("v").as("doc_id"), col("peel_round"),
        (col("peel_round") === 0L).cast("long").as("in_core"),
        when(col("peel_round") === 0L, col("deg"))
          .otherwise(lit(0L)).as("core_deg"))
    } finally { und.unpersist(); () }
  }

  // --- neighborhood function (hop plot) ---------------------------------

  /** Hops audited by the exact rung and rehearsed by HyperBall. */
  val HopT = 4

  /** Exact t-hop reachability pairs (v, u): u ∈ B(v, t) under
    * directed edges — t rounds of frontier equi-join on the edge
    * source + distinct, the PageRank round discipline with `cut()`
    * lineage truncation. EXACT rung: pair mass is Σ|B(v,t)| by
    * definition, which is precisely the cost HyperBall exists to
    * avoid — [[hyperBallRegisters]] is the production form whose
    * registers this rung certifies (GraphSpec pins bit-equality).
    */
  def reachPairs(docs: DataFrame, e: DataFrame, hops: Int): DataFrame = {
    var reach = docs.select(col("doc_id").as("v"), col("doc_id").as("u"))
    for (_ <- 1 to hops) {
      reach = cut(reach.join(e, reach("u") === e("src"))
        .select(col("v"), col("dst").as("u"))
        .unionAll(reach).distinct())
    }
    reach
  }

  /** Hop plot / neighborhood function N(t) = Σ_v |B(v,t)| for
    * t = 0..[[HopT]] (Palmer et al. KDD'02's statistic): the
    * effective-diameter / connectivity-growth curve of the link
    * graph. Output is HopT+1 rows built from bounded driver scalars
    * (one count per hop — the k-center O(K)-collect posture).
    */
  /** Memoized hop-plot table per (session, dir) — [[qEffDiameter]]
    * re-consumed [[qHopPlot]] verbatim, paying the whole per-hop
    * reach loop a second time (r15 optimization; the memoized frame
    * is HopT+1 driver-local rows, re-execution is free by
    * construction). Both oracle outputs are byte-identical.
    */
  def qHopPlot(s: SparkSession, dir: String): DataFrame =
    shared("qHopPlot", s, dir) {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      // frontier iteration (r16, guide §1.2): the ball set only ever
      // GROWS, so only pairs discovered LAST hop can reach anything
      // new — join the frontier shell against the edges instead of
      // the whole accumulated reach set, anti-join out known pairs,
      // and keep a running total (N(t) = N(t-1) + |Δ_t| because the
      // delta is disjoint from the reach set by construction). The
      // loop-invariant edge frame is cut once; a saturated graph
      // costs nothing past its diameter.
      val e = cut(edges(docs, n))
      var reach = cut(docs.select(col("doc_id").as("v"), col("doc_id").as("u")))
      var frontier = reach
      var total = reach.count()
      val counts = scala.collection.mutable.ArrayBuffer((0L, total))
      for (t <- 1 to HopT) {
        if (frontier != null) {
          val delta = cut(frontier.join(e, frontier("u") === e("src"))
            .select(col("v"), col("dst").as("u"))
            .distinct()
            .join(reach, Seq("v", "u"), "left_anti"))
          val dc = delta.count()
          if (dc == 0L) frontier = null
          else { total += dc; reach = cut(reach.unionAll(delta)); frontier = delta }
        }
        counts += ((t.toLong, total))
      }
      counts.toSeq.toDF("t", "n_pairs")
    }

  /** Effective-diameter percentile (90). */
  val EffDiamPct = 90L

  /** Effective diameter from the hop plot: the smallest t with
    * N(t) ≥ ⌈0.9·N(HopT)⌉ (Palmer et al.'s 90%-connectivity
    * diameter), plus the coverage fraction at that hop in exact ppm.
    * One row from the same bounded per-hop counts as [[qHopPlot]];
    * at 100 TB the production path feeds HyperBall's N̂(t) into the
    * identical selection. int64 headroom: the percentile threshold
    * and coverage ppm go through BigInt so a pair mass past ~9.2e12
    * (where n_pairs·1e6 would overflow a long) still computes exactly
    * — the production N̂(t) feed is float-valued and never near the
    * edge, but the exact rung should not silently wrap either.
    */
  def qEffDiameter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hp = qHopPlot(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val nT = hp.last._2
    val need = ((BigInt(EffDiamPct) * nT + 99) / 100).toLong
    val (tEff, nEff) = hp.find(_._2 >= need).get
    Seq((tEff, nEff, nT, (BigInt(nEff) * 1000000 / nT).toLong))
      .toDF("t_eff", "n_pairs_at_t", "n_pairs_max", "coverage_ppm")
  }

  /** HyperBall (Boldi & Vigna, WebGraph 2013): per-node HLL
    * registers of B(v, t), iterated as regs_t(v) = elementwise-max
    * over {regs_{t-1}(v)} ∪ {regs_{t-1}(w) : (v,w) ∈ E}. Because
    * HLL registers of a union are the elementwise max, the iterated
    * registers EQUAL the registers of the exact ball membership at
    * every t — propagation loses nothing (the law GraphSpec pins
    * bit-exactly against [[reachPairs]]); only the final estimate
    * carries the 1.04/√m HLL error. State is ≤ m sparse rows per
    * node, each round one edge equi-join + one (v, bucket) max fold
    * — O(E·m̃) per round with NO per-node ball materialization, which
    * is what makes N(t) computable on a 100 TB web graph where
    * Σ|B(v,t)| pairs would dwarf the corpus. Same register/rank
    * arithmetic as [[Sketches.hllRegisters]] (m=64, 48-bit md5-prefix
    * hash). The PRODUCTION iteration is [[hyperBallPacked]]: the 64
    * registers packed into one 64-byte binary column, one row per
    * node (64× fewer rows per round), folded by the
    * [[graft.functions.MaxRegs]] elementwise-max aggregator; the
    * long format here is the law anchor GraphSpec pins the packed
    * form against, and [[qHyperBall]] RUNS the packed iteration and
    * unpacks at the end, so the oracle certifies the production path.
    */
  private def hbInit(docs: DataFrame): DataFrame = {
    val h = tokenHash(col("u").cast("string"))
    docs.select(col("doc_id").as("v"), col("doc_id").as("u"))
      .select(col("v"), (h % Sketches.HllM).as("bucket"),
        Sketches.hllRank(h).as("rank"))
  }

  private def hbRound(regs: DataFrame, e: DataFrame): DataFrame = {
    val upd = e.join(regs, e("dst") === regs("v"))
      .select(e("src").as("v"), col("bucket"), col("rank"))
    cut(regs.unionAll(upd)
      .groupBy(col("v"), col("bucket")).agg(max(col("rank")).as("rank")))
  }

  def hyperBallRegisters(docs: DataFrame, e: DataFrame, hops: Int): DataFrame = {
    var regs = hbInit(docs)
    for (_ <- 1 to hops) regs = hbRound(regs, e)
    regs
  }

  // --- packed HyperBall (production form: 1 binary row per node) --------

  /** Packed init: the single-element ball {v} is one nonzero byte in
    * a 64-byte register array. Bucket/rank come from the SAME column
    * arithmetic as [[hbInit]] (the typed map only moves the byte into
    * place), so the packed iteration starts bit-equal by construction.
    */
  private def hbInitPacked(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    hbInit(docs).as[(Long, Long, Long)].map { case (v, bucket, rank) =>
      val a = new Array[Byte](Sketches.HllM.toInt)
      a(bucket.toInt) = rank.toByte
      (v, a)
    }.toDF("v", "regs")
  }

  /** One packed round: edge equi-join + (v)-keyed elementwise-max
    * fold over 64-byte binaries. Exactly [[hbRound]]'s plan shape but
    * 64× fewer rows cross the exchange and the per-key state is one
    * fixed 64-byte buffer (no per-bucket hash-map entries).
    */
  private def hbRoundPacked(regs: DataFrame, e: DataFrame): DataFrame = {
    val mx = udaf(graft.functions.MaxRegs)
    val upd = e.join(regs, e("dst") === regs("v"))
      .select(e("src").as("v"), col("regs"))
    cut(regs.unionAll(upd)
      .groupBy(col("v")).agg(mx(col("regs")).as("regs")))
  }

  /** HyperBall over packed registers — the form a 1e10-node graph
    * runs (the r11 verdict's named fix). One (v, binary) row per node
    * per round.
    */
  def hyperBallPacked(docs: DataFrame, e: DataFrame, hops: Int): DataFrame = {
    var regs = hbInitPacked(docs)
    for (_ <- 1 to hops) regs = hbRoundPacked(regs, e)
    regs
  }

  /** Unpack (v, regs binary) → long-format (v, bucket, rank) rows for
    * touched buckets only — the [[hyperBallRegisters]] schema. Used
    * once at the end of [[qHyperBall]] (never inside the loop), so
    * the oracle hash certifies the packed propagation end-to-end.
    */
  def unpackRegs(packed: DataFrame): DataFrame = {
    import packed.sparkSession.implicits._
    packed.as[(Long, Array[Byte])].flatMap { case (v, a) =>
      a.iterator.zipWithIndex.collect {
        case (r, b) if r != 0 => (v, b.toLong, r.toLong)
      }
    }.toDF("v", "bucket", "rank")
  }

  /** Ball-size estimate straight off the packed bytes — a narrow
    * per-row map over the one-row-per-node frame (NO shuffle at all,
    * where the long-format estimate needs a (v)-keyed agg). Same
    * Flajolet raw + linear-counting arithmetic as
    * [[hyperBallEstimate]]; zpart sums in fixed bucket order so the
    * value is a pure deterministic function of the registers.
    */
  def hyperBallEstimatePacked(packed: DataFrame): DataFrame = {
    import packed.sparkSession.implicits._
    val m = Sketches.HllM.toDouble
    packed.as[(Long, Array[Byte])].map { case (v, a) =>
      var zpart = 0.0
      var nb = 0
      var i = 0
      while (i < a.length) {
        if (a(i) != 0) { zpart += math.pow(2.0, -a(i).toDouble); nb += 1 }
        i += 1
      }
      val zeros = m - nb
      val raw = 0.709 * m * m / (zpart + zeros)
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
      (v, est)
    }.toDF("v", "est_ball")
  }

  /** Per-node ball-size estimates from HyperBall registers — the
    * Flajolet raw estimator with linear-counting correction
    * (the [[Sketches.hllEstimate]] arithmetic, distributed: one
    * (v)-keyed partial agg, no driver state).
    */
  def hyperBallEstimate(regs: DataFrame): DataFrame = {
    val m = Sketches.HllM.toDouble
    val zeros = lit(m) - col("nb")
    val raw = lit(0.709 * m * m) / (col("zpart") + zeros)
    regs.groupBy(col("v"))
      .agg(sum(pow(lit(2.0), -col("rank"))).as("zpart"),
        count(lit(1)).as("nb"))
      .select(col("v"),
        when(raw <= 2.5 * m && zeros > 0,
          lit(m) * log(lit(m) / zeros)).otherwise(raw).as("est_ball"))
  }

  /** Oracle rung for HyperBall: the full register table after
    * [[HopT]] rounds — computed by the PACKED production iteration
    * ([[hyperBallPacked]], one binary row per node) and unpacked once
    * at the end. Because propagation is lossless (registers of a
    * union are the elementwise max), the DuckDB twin can compute the
    * same integers DIRECTLY from the exact reachability sets — so
    * the oracle certifies the packed distributed computation, not a
    * reimplementation of it.
    */
  def qHyperBall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    unpackRegs(hyperBallPacked(docs, edges(docs, n), HopT))
  }

  /** Exact harmonic centrality over ≤[[HopT]] hops: hc(v) =
    * Σ_{t=1..T} (|B(v,t)| − |B(v,t−1)|) / t, in exact ppm integers
    * (each hop's shell weighted by 1/t — Boldi & Vigna's preferred
    * centrality, finite on disconnected graphs where closeness is
    * not). Per hop: the [[reachPairs]] frontier round + one (v)
    * count fold + one n-row equi-join into the accumulator — the
    * exact rung; [[hyperBallHarmonic]] is the production estimate
    * whose whole point is skipping the Σ|B| pair mass. int64
    * headroom: the per-node shell (|B(v,t)| − |B(v,t−1)| ≤ n) is
    * multiplied by 1e6, which wraps only past a SINGLE ball of
    * ~9.2e12 nodes — beyond any graph the exact rung could enumerate
    * anyway (its Σ|B| pair mass explodes first); the production
    * estimate is float-valued and unaffected.
    */
  def qHarmonic(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    // frontier iteration (r16, the qHopPlot rewrite): the shell
    // |B(v,t)| − |B(v,t−1)| IS the per-node delta count (the delta is
    // disjoint from the reach set by construction), so each hop joins
    // only the frontier against the edges and aggregates only the
    // delta — the full-ball re-count and the carried prev-size column
    // both go away; hc_ppm accumulates dc·1e6 div t, the identical
    // telescoping integers.
    val e = cut(edges(docs, n))
    var reach = cut(docs.select(col("doc_id").as("v"), col("doc_id").as("u")))
    var frontier = reach
    var acc = docs.select(col("doc_id").as("v"), lit(0L).as("hc_ppm"))
    for (t <- 1 to HopT) if (frontier != null) {
      val delta = cut(frontier.join(e, frontier("u") === e("src"))
        .select(col("v"), col("dst").as("u"))
        .distinct()
        .join(reach, Seq("v", "u"), "left_anti"))
      if (delta.isEmpty) frontier = null
      else {
        acc = cut(acc.join(
            delta.groupBy(col("v")).agg(count(lit(1)).as("dc")),
            Seq("v"), "left")
          .select(col("v"),
            expr(s"hc_ppm + (coalesce(dc, 0L) * 1000000L div $t)").as("hc_ppm")))
        reach = cut(reach.unionAll(delta))
        frontier = delta
      }
    }
    acc.select(col("v"), col("hc_ppm"))
  }

  /** HyperBall harmonic-centrality estimate: the same telescoping
    * shell sum over per-round HLL ball estimates — registers iterate
    * PACKED ([[hbRoundPacked]], one binary row per node) and each
    * round's estimate is a shuffle-free per-row map
    * ([[hyperBallEstimatePacked]]); never a reachability pair.
    * Float-valued (the estimator is), so spec-gated against
    * [[qHarmonic]] rather than oracle-hashed. Sinks stay exactly 0.0:
    * their registers never change, the per-round estimate is a pure
    * function of the bytes, and the telescoping terms cancel.
    */
  def hyperBallHarmonic(docs: DataFrame, e: DataFrame, hops: Int): DataFrame = {
    var regs = hbInitPacked(docs)
    var prev = hyperBallEstimatePacked(regs).toDF("v", "ep")
    var acc = docs.select(col("doc_id").as("v"), lit(0.0).as("hc_est"))
    for (t <- 1 to hops) {
      regs = hbRoundPacked(regs, e)
      val cur = hyperBallEstimatePacked(regs).toDF("v", "ec")
      acc = cut(acc.join(prev, Seq("v")).join(cur, Seq("v"))
        .select(col("v"),
          (col("hc_est") + (col("ec") - col("ep")) / t).as("hc_est")))
      prev = cur.toDF("v", "ep")
    }
    acc
  }

  // --- strongly connected components (directed) --------------------------

  /** SCC fixture block width / every-5th-block-is-a-chain / DAG link
    * stride. The [[edges]] fixture's two linear maps tangle most of
    * the graph into one giant SCC whose transitive closure is Θ(n²) —
    * unusable as an oracle — so SCC gets its own arithmetic fixture
    * with BOUNDED reach: blocks of [[SccB]] ids form an internal
    * cycle (one SCC of size B) except every [[SccChainMod]]-th block,
    * which drops the wrap edge and decomposes into singletons; every
    * block EXCEPT the last of each [[SccDagMod]]-group additionally
    * links position-wise into the next block (u → u+B), a pure DAG
    * edge joining blocks into [[SccDagMod]]-chains. Every reach set
    * is ≤ SccDagMod blocks, mixing multi-node SCCs, singleton SCCs,
    * and cross-SCC DAG structure — and the giant-SCC tie-break (min
    * id) lands on a block with BOTH an upstream and a downstream
    * neighbor, so the bow-tie fixture exercises core/in/out/other.
    * Replicated arithmetically by the oracle.
    */
  val SccB = 8L
  val SccChainMod = 5L
  val SccDagMod = 3L

  def sccEdges(docs: DataFrame, n: Long): DataFrame = {
    val within = docs
      .filter(not(col("doc_id") % SccB === SccB - 1 &&
        expr(s"(doc_id div $SccB) % $SccChainMod") === 0))
      .select(col("doc_id").as("src"),
        expr(s"doc_id - (doc_id % $SccB) + ((doc_id % $SccB + 1) % $SccB)")
          .as("dst"))
      .filter(col("dst") < n && col("dst") =!= col("src"))
    val cross = docs
      .filter(expr(s"(doc_id div $SccB) % $SccDagMod") =!= SccDagMod - 1 &&
        col("doc_id") + SccB < n)
      .select(col("doc_id").as("src"), (col("doc_id") + SccB).as("dst"))
    within.unionAll(cross)
  }

  /** Transitive closure by repeated squaring — reach_{k+1} =
    * reach_k ∪ (reach_k ∘ reach_k), so paths of length ≤ 2^k arrive
    * in k rounds (log(diameter) joins, vs diameter rounds for
    * one-step frontier expansion); fixpoint detected by one bounded
    * driver count per round. EXACT-rung shape: the pair mass is
    * Σ|Reach(v)| by definition, fine wherever reach sets are bounded
    * (the audit fixture; per-domain link subgraphs) — on an
    * unbounded 100 TB web graph the production SCC path is
    * [[sccColoring]], which keeps ONE label per vertex instead.
    */
  def transitiveClosure(e: DataFrame): DataFrame = {
    // NOTE (r16): a delta-squaring variant (compose only last
    // round's additions, Δ∘R ∪ R∘Δ) was implemented and A/B-measured
    // 1.9× SLOWER on the bench fixture — the SCC fixture bounds
    // every reach set, so the squaring join is small and the
    // variant's extra per-round materializations (branch cuts +
    // anti-join) dominate. On a closure whose pair mass grows, the
    // delta form wins; at this rung's contract scale it does not.
    var reach = cut(e.select(col("src").as("v"), col("dst").as("u")).distinct())
    var cnt = reach.count()
    var grown = true
    while (grown) {
      val next = cut(reach.unionAll(
        reach.as("a").join(reach.as("b"), col("a.u") === col("b.v"))
          .select(col("a.v").as("v"), col("b.u").as("u")))
        .distinct())
      val c2 = next.count()
      if (c2 == cnt) grown = false else { reach = next; cnt = c2 }
    }
    reach
  }

  /** SCC ids from a reach closure: scc_id(v) = min({v} ∪ {u : v→u ∧
    * u→v}) — the least vertex mutually reachable with v, which is
    * exactly min(SCC(v)) (mutual reachability IS the SCC relation),
    * so the labeling is canonical regardless of how the closure was
    * obtained.
    */
  private def sccFromClosure(docs: DataFrame, reach: DataFrame): DataFrame = {
    // Mutual reachability via ONE canonical-pair aggregation (r16):
    // (v,u) is mutual iff BOTH orientations appear in the closure, so
    // group on (least, greatest) and check both were seen — instead
    // of self-joining the closure on the swapped key, which exchanged
    // the full pair mass twice and sort-merged it against itself.
    // Self-pairs (v,v) are mutual by definition (lo = hi).
    val mut = reach
      .select(least(col("v"), col("u")).as("lo"),
        greatest(col("v"), col("u")).as("hi"),
        (col("v") <= col("u")).as("fwd"))
      .groupBy(col("lo"), col("hi"))
      .agg(max(col("fwd")).as("f"), min(col("fwd")).as("b"))
      .filter(col("lo") === col("hi") || (col("f") && !col("b")))
      .select(col("lo"), col("hi"))
    // both orientations in one explode (a self-union of the same
    // subtree trips Catalyst's union constraint rewrite)
    val mutMin = mut
      .select(explode(when(col("lo") === col("hi"),
          array(struct(col("lo").as("v"), col("hi").as("u"))))
        .otherwise(array(struct(col("lo").as("v"), col("hi").as("u")),
          struct(col("hi").as("v"), col("lo").as("u"))))).as("p"))
      .select(col("p.v").as("v"), col("p.u").as("u"))
      .groupBy(col("v")).agg(min(col("u")).as("mu"))
    // the labeled frame feeds the size aggregation AND the final
    // join — cut once (r16 §8), the whole mutual pipeline re-ran per
    // consumer otherwise
    val scc = cut(docs.join(mutMin, docs("doc_id") === mutMin("v"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mu"), col("doc_id"))).as("scc_id")))
    val sz = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    scc.join(sz, Seq("scc_id"))
      .select(col("doc_id"), col("scc_id"), col("scc_size"))
  }

  /** Directed strongly-connected components — the web-graph bow-tie
    * statistic next to the hop plot (Broder et al. WWW'00). Exact
    * rung for the oracle: squared closure + mutual-min. Output is
    * (doc_id, scc_id = min member, scc_size).
    */
  /** Memoized reach closure per (session, dir) — the louvainBase
    * discipline applied to the SCC family: [[qScc]] and [[qBowtie]]
    * consume the SAME repeated-squaring closure of the SAME fixture
    * edges (r15 optimization — each rung paid the full closure loop
    * independently; a production consumer computes reach once and
    * feeds both the SCC labeling and the bow-tie classification).
    * The closure loop's output is already lineage-cut per round.
    */
  private[graft] def sccReach(s: SparkSession, dir: String): DataFrame =
    shared("sccReach", s, dir) {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      transitiveClosure(sccEdges(docs, docs.count()))
    }

  def qScc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    sccFromClosure(docs, sccReach(s, dir))
  }

  /** Bow-tie decomposition (Broder et al. WWW'00): classify every
    * node relative to the giant SCC — the structure statistic crawl
    * triage reads next to the hop plot (a page's bow-tie class
    * predicts whether crawling it grows the frontier). CORE = the
    * largest SCC (ties: smallest scc_id — deterministic); IN =
    * reaches the core; OUT = reachable from it; OTHER = tendrils +
    * disconnected. Rides the SCC closure: two semi-joins of the
    * reach frame against the one-row core id. Output (doc_id,
    * scc_id, bowtie_class).
    */
  def qBowtie(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val reach = sccReach(s, dir)
    val scc = cut(sccFromClosure(docs, reach))
    // the giant SCC's id: one bounded driver scalar
    val coreId = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc, col("scc_id")).limit(1)
      .head.getLong(0)
    val inCore = scc.filter(col("scc_id") === coreId)
      .select(col("doc_id").as("core_v"))
    val reachesCore = reach.join(inCore, reach("u") === col("core_v"), "left_semi")
      .select(col("v")).distinct()
    val fromCore = reach.join(inCore, reach("v") === col("core_v"), "left_semi")
      .select(col("u")).distinct()
    scc.join(reachesCore.withColumnRenamed("v", "doc_id")
        .withColumn("reaches", lit(1L)), Seq("doc_id"), "left")
      .join(fromCore.withColumnRenamed("u", "doc_id")
        .withColumn("reached", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("scc_id"),
        when(col("scc_id") === coreId, "core")
          .when(col("reaches") === 1L, "in")
          .when(col("reached") === 1L, "out")
          .otherwise("other").as("bowtie_class"))
  }

  /** Degree distribution of the link graph — the first statistic a
    * web-graph characterization reports (Broder et al. WWW'00 fig 2:
    * in/out-degree frequency curves; the power-law exponent is read
    * off this table). One row per observed degree value with the
    * node counts at that in-/out-degree (nodes missing from a side
    * count at degree 0). Two partial-agg shuffles (edge → per-node
    * degree → per-degree count) — the histogram is vocabulary-sized,
    * never corpus-sized, so this is the same plan at 100 TB.
    */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n)
    def side(key: String): DataFrame =
      docs.join(e.groupBy(col(key).as("doc_id"))
          .agg(count(lit(1)).as("deg")), Seq("doc_id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n"))
    side("src").toDF("degree", "n_out")
      .join(side("dst").toDF("degree", "n_in"), Seq("degree"), "full_outer")
      .select(col("degree"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"))
  }

  // --- k-truss decomposition --------------------------------------------

  /** Truss threshold (k=4: every surviving edge sits in ≥ 2 triangles
    * among survivors) and the synchronous-peel round bound — the
    * KcoreRounds discipline one level up the density ladder.
    */
  val TrussK = 4L
  val TrussRounds = 6
  /** Clique-block fixture knobs: every [[CliqueMod]]-th block of
    * [[CliqueBlock]] consecutive doc ids is completed into a clique,
    * so the peel has a genuinely dense survivor set (a pure
    * ring-chord graph is truss-fragile: the whole graph collapses,
    * which exercises the cascade but not the "dense core survives"
    * half of the contract).
    */
  val CliqueBlock = 8L
  val CliqueMod = 4L

  /** Canonical (u < v) undirected edge fixture for the truss peel:
    * the triangle-rich ring-chord graph ([[triEdges]]) plus K8
    * cliques on every 4th block of 8 consecutive ids. Replicated
    * arithmetically by the oracle (ring CTE + one documents
    * self-join on the block id).
    */
  def trussEdges(docs: DataFrame, n: Long): DataFrame = {
    val ring = triEdges(docs, n).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
    val blk = docs.filter(expr(s"(doc_id div $CliqueBlock) % $CliqueMod") === 0)
      .select(col("doc_id"), expr(s"doc_id div $CliqueBlock").as("b"))
    val cliq = blk.toDF("u", "b").join(blk.toDF("v", "b2"),
        col("b") === col("b2") && col("u") < col("v"))
      .select(col("u"), col("v"))
    ring.unionAll(cliq).distinct()
  }

  /** Triangle list of a canonical (u < v) edge set via the
    * degree-ordered ("compact-forward") enumeration shared with
    * [[qTriangles]]: orient each edge from its lower-(deg, id)
    * endpoint, self-join oriented edges on the shared source to emit
    * each wedge once, close with one semi-join against the canonical
    * set — one (x, y, z) row per triangle. Degree ordering keeps the
    * wedge set O(E^1.5) under skew (a hub emits no wedges); every
    * join is an equi-join. The oracle computes support with the naive
    * common-neighbor count — support is enumeration-independent, so
    * this pins the oriented plan against a brute formulation. CUT
    * before returning: every consumer reads it more than once.
    */
  private def triangleList(canon: DataFrame): DataFrame = {
    val adj = canon.select(col("u").as("a"), col("v").as("b"))
      .unionAll(canon.select(col("v").as("a"), col("u").as("b")))
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val ort = adj.join(deg.toDF("a", "deg_a"), Seq("a"))
      .join(deg.toDF("b", "deg_b"), Seq("b"))
      .filter(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")))
      .select(col("a"), col("b"))
    val wedges = ort.toDF("x", "y")
      .join(ort.toDF("x2", "z"), col("x") === col("x2") && col("y") < col("z"))
      .select(col("x"), col("y"), col("z"))
    // the triangle list is consumed THREE times by the corner union —
    // cut it once or the wedge join re-executes per branch
    cut(wedges.join(canon.toDF("y", "z"), Seq("y", "z"), "left_semi"))
  }

  /** Per-edge triangle support from a (CUT) triangle list: attribute
    * every triangle to its three corner edges by a 3-way union +
    * partial-agg count.
    */
  private def supportFromTris(tri: DataFrame): DataFrame = {
    val corners = tri
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .unionAll(tri.select(least(col("x"), col("z")).as("u"),
        greatest(col("x"), col("z")).as("v")))
      .unionAll(tri.select(col("y").as("u"), col("z").as("v")))
    corners.groupBy(col("u"), col("v")).agg(count(lit(1)).as("supp"))
  }

  /** k-truss decomposition (Cohen 2008) by synchronous support
    * peeling — the edge-level sharpening of the k-core: the k-truss
    * keeps every edge participating in ≥ k−2 triangles AMONG
    * SURVIVING EDGES, the community-detection / spam-fringe filter
    * that k-core cannot express (a star hub has high core number but
    * zero truss support). Round r removes every edge whose surviving
    * support is < [[TrussK]]−2, all removals simultaneous (the
    * synchronous variant, so the unrolled oracle agrees
    * bit-for-bit); `peel_round` 0 = survived all [[TrussRounds]]
    * rounds, with `support` its triangle count inside the final
    * truss. On the fixture the cascade converges strictly before the
    * bound (spec-pinned): the ring chords peel in round 1, the bare
    * ring follows in round 2, the K8 clique blocks survive with
    * support ≥ TrussK−2.
    *
    * Shape per round: one triangle enumeration over survivors
    * (degree-ordered, O(E^1.5)) + one left join back to edge state —
    * bounded rounds, reliable-`cut()` lineage, state one row per
    * EDGE (the truss analogue of k-core's per-node row). At 100 TB
    * the edge frame pre-partitions on u and the wedge self-join
    * reuses it; nothing global, no windows.
    */
  def qKtruss(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val canon0 = trussEdges(docs, n).persist()
    try {
      var state = canon0.select(col("u"), col("v"), lit(0L).as("peel_round"))
      var r = 0
      var converged = false
      var lastSupp: DataFrame = null
      // Incremental triangle maintenance (r16): the O(E^1.5) wedge
      // enumeration runs ONCE, on the full edge set; each peel round
      // then DELETES the triangles that lost a corner edge (three
      // equi anti-joins against the just-peeled edges — a set that
      // only shrinks round over round) instead of re-enumerating
      // wedges over the survivors. A triangle survives iff all three
      // corner edges survive, so subtracting the newly-dead corners
      // round by round reproduces edgeSupport(alive) exactly.
      var tri = triangleList(canon0.select(col("u"), col("v")))
      // early exit once a round peels nothing: all later rounds are
      // provably no-ops (support among an unchanged survivor set is
      // unchanged), so the output equals the full TrussRounds unroll
      // the oracle runs — same fixpoint, fewer triangle enumerations
      while (r < TrussRounds && !converged) {
        r += 1
        // cut: consumed by the state join below AND, on the converged
        // round, reused verbatim as the final support (r15
        // optimization — a no-peel round's support IS the final
        // truss's support, the fixpoint argument above; the old code
        // paid one extra full triangle enumeration to recompute it)
        val supp = cut(supportFromTris(tri))
        state = cut(state.join(supp.toDF("su", "sv", "supp"),
            state("u") === col("su") && state("v") === col("sv"), "left")
          .select(col("u"), col("v"),
            when(col("peel_round") =!= 0L, col("peel_round"))
              .when(coalesce(col("supp"), lit(0L)) < TrussK - 2, lit(r.toLong))
              .otherwise(lit(0L)).as("peel_round")))
        val peeled = state.filter(col("peel_round") === r)
          .select(col("u").as("pu"), col("v").as("pv"))
        converged = peeled.limit(1).count() == 0
        if (converged) lastSupp = supp
        else tri = cut(tri
          .join(peeled, least(col("x"), col("y")) === col("pu") &&
            greatest(col("x"), col("y")) === col("pv"), "left_anti")
          .join(peeled, least(col("x"), col("z")) === col("pu") &&
            greatest(col("x"), col("z")) === col("pv"), "left_anti")
          .join(peeled, col("y") === col("pu") && col("z") === col("pv"),
            "left_anti"))
      }
      // converged ⇒ the last round's survivor set equals the final
      // one, so its support table is the final support; only a
      // round-budget exit reaggregates the (already-maintained)
      // surviving triangle list — no re-enumeration either way
      val fs = if (lastSupp != null) lastSupp else supportFromTris(tri)
      state.join(fs.toDF("su", "sv", "supp"),
          state("u") === col("su") && state("v") === col("sv"), "left")
        .select(col("u"), col("v"), col("peel_round"),
          (col("peel_round") === 0L).cast("long").as("in_truss"),
          when(col("peel_round") === 0L, coalesce(col("supp"), lit(0L)))
            .otherwise(lit(0L)).as("support"))
    } finally { canon0.unpersist(); () }
  }

  // --- degree assortativity + reciprocity ---------------------------------

  /** Degree assortativity (Newman 2002) over the undirected closure
    * of the link fixture — the "do hubs link to hubs" coefficient a
    * web-graph characterization reports next to the degree
    * distribution (social graphs ≈ +0.2, web/crawl graphs ≈ −0.05).
    * Because the endpoint list contains both orientations of every
    * edge, the x/y marginals coincide and Pearson's r collapses to
    * the EXACT RATIONAL (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — no
    * square root, so the ppm output is exact integer arithmetic and
    * the oracle agrees bit-for-bit (sign-split abs-division, since
    * `div` truncation differs across engines on negatives). Products
    * accumulate in decimal(38,0): at web scale m·Σx² passes int64
    * (the qEffDiameter headroom discipline). One degree agg + two
    * broadcast-free equi-joins + one global agg of 4 scalars.
    */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).filter(col("src") =!= col("dst"))
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ends = und.join(deg.toDF("u", "x"), Seq("u"))
      .join(deg.toDF("v", "y"), Seq("v"))
    ends.agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"))
      .withColumn("num", col("m") * col("sxy") - col("sx") * col("sx"))
      .withColumn("den", col("m") * col("sx2") - col("sx") * col("sx"))
      .select(col("m").cast("long").as("n_ends"),
        col("sx").cast("long").as("sum_x"),
        col("sxy").cast("long").as("sum_xy"),
        col("sx2").cast("long").as("sum_x2"),
        when(col("den") === 0, lit(0L))
          .when(col("num") >= 0, expr("(num * 1000000) div den"))
          .otherwise(-expr("((- num) * 1000000) div den"))
          .cast("long").as("r_ppm"))
  }

  /** Directed-edge reciprocity — the fraction of links whose reverse
    * link also exists (Broder et al.'s mutual-link share; near zero
    * on crawl graphs, high on social graphs — a cheap structure
    * fingerprint next to [[qDegreeDist]]). One self-equi-join on the
    * reversed key + one global agg; the fixture's linear maps
    * produce a small genuine reciprocal set (u → 7u+3 → u whenever
    * the maps compose to identity mod n), so both branches of the
    * left join are exercised.
    */
  def qReciprocity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.count()
    val e = edges(docs, n).filter(col("src") =!= col("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("has_rev", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("has_rev"), lit(0L))).as("n_recip"))
      .select(col("n_edges"), col("n_recip").cast("long").as("n_recip"),
        expr("(1000000 * n_recip) div n_edges").as("recip_ppm"))
  }

  /** Production SCC: forward-backward min-label coloring (the
    * FW-BW-MIN peel of Slota et al. / Orzan's coloring step) — NO
    * closure pairs, state is one long label per vertex per
    * direction. Per peel: fwd(v) = min id that can REACH v and
    * bwd(v) = min id v can reach, each by min-label propagation to
    * fixpoint (labels only decrease, so ONE scalar sum per round
    * detects convergence — no per-round diff join); vertices with
    * fwd(v) == bwd(v) = w are mutually reachable with w and peel off
    * with scc_id = w = min(SCC(v)) (reach-in/reach-out sets are
    * SCC-invariant, so whole SCCs peel together and every peel
    * removes at least the SCC of the minimum active id — guaranteed
    * progress). Identical labeling to [[qScc]], pinned by GraphSpec
    * against both the closure rung and a driver-side Tarjan replay.
    */
  def sccColoring(docs: DataFrame, e: DataFrame,
                  maxPeels: Int = 64): DataFrame = {
    // BOTH directions iterate in ONE (v, f, b) frame — one union +
    // one keyed min fold + one convergence scalar per round instead
    // of two independent fixpoint loops (the round count becomes the
    // max of the two propagation depths, not their sum).
    // decimal(38,0) sum: id sums can pass int64 on web-scale graphs,
    // and a wrapped sum could fake convergence. A side that is
    // already converged keeps folding its fixed labels — min is
    // idempotent, so the extra folds cannot perturb it.
    def minLabels2(verts: DataFrame, sube: DataFrame): DataFrame = {
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg((sum(col("f").cast("decimal(38,0)")) +
          sum(col("b").cast("decimal(38,0)"))).as("t")).head.getDecimal(0)
      val Inf = Long.MaxValue
      var x = verts.select(col("v"), col("v").as("f"), col("v").as("b"))
      var tot = lblSum(x)
      var converged = false
      while (!converged) {
        // f(v) = min id reaching v: flows ALONG edges (src → dst);
        // b(v) = min id v reaches: flows AGAINST them (dst → src).
        // The missing side rides an identity sentinel through the fold.
        val pf = sube.join(x, sube("src") === x("v"))
          .select(sube("dst").as("v"), col("f"), lit(Inf).as("b"))
        val pb = sube.join(x, sube("dst") === x("v"))
          .select(sube("src").as("v"), lit(Inf).as("f"), col("b"))
        x = cut(x.unionAll(pf).unionAll(pb).groupBy(col("v"))
          .agg(min(col("f")).as("f"), min(col("b")).as("b")))
        val t2 = lblSum(x)
        if (t2 == tot) converged = true else tot = t2
      }
      x
    }
    var remaining = cut(docs.select(col("doc_id").as("v")))
    var out: DataFrame = null
    var peels = 0
    while (peels < maxPeels && remaining.limit(1).count() > 0) {
      peels += 1
      var sube = cut(e
        .join(remaining.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("v").as("dst")), Seq("dst"), "left_semi"))
      // TRIM (Slota et al.'s Multistep step 1): a vertex with no
      // in-edge or no out-edge in the active subgraph can sit on no
      // cycle — it is a singleton SCC. Looping trim to fixpoint
      // disposes of DAG-shaped regions (chains, trees, the bow-tie
      // tendrils that dominate real web graphs) in one cheap
      // degree-join per round, leaving the label-propagation peel —
      // whose fixpoint costs diameter rounds — only the genuinely
      // cyclic cores.
      var trimming = true
      while (trimming) {
        val keep = remaining
          .join(sube.select(col("src").as("v")), Seq("v"), "left_semi")
          .join(sube.select(col("dst").as("v")), Seq("v"), "left_semi")
        val trimmed = cut(remaining.join(keep, Seq("v"), "left_anti")
          .select(col("v"), col("v").as("scc_id")))
        if (trimmed.limit(1).count() == 0) trimming = false
        else {
          out = if (out == null) trimmed else out.unionAll(trimmed)
          remaining = cut(keep)
          sube = cut(sube
            .join(remaining.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(remaining.select(col("v").as("dst")), Seq("dst"), "left_semi"))
        }
      }
      if (remaining.limit(1).count() > 0) {
        val labels = minLabels2(remaining, sube)
        val done = cut(labels.filter(col("f") === col("b"))
          .select(col("v"), col("f").as("scc_id")))
        out = if (out == null) done else out.unionAll(done)
        remaining = cut(remaining.join(done, Seq("v"), "left_anti"))
      }
    }
    require(peels < maxPeels, s"sccColoring did not converge in $maxPeels peels")
    val scc = out.select(col("v").as("doc_id"), col("scc_id"))
    val sz = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    scc.join(sz, Seq("scc_id"))
      .select(col("doc_id"), col("scc_id"), col("scc_size"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ktruss" -> qKtruss _,
    "q_assortativity" -> qAssortativity _,
    "q_reciprocity" -> qReciprocity _,
    "q_degree_dist" -> qDegreeDist _,
    "q_bowtie" -> qBowtie _,
    "q_scc" -> qScc _,
    "q_eff_diameter" -> qEffDiameter _,
    "q_label_spread" -> qLabelSpread _,
    "q_harmonic" -> qHarmonic _,
    "q_hyperball" -> qHyperBall _,
    "q_hopplot" -> qHopPlot _,
    "q_pagerank" -> qPagerank _,
    "q_trustrank" -> qTrustrank _,
    "q_hits" -> qHits _,
    "q_ppr" -> qPpr _,
    "q_betweenness" -> qBetweenness _,
    "q_label_prop" -> qLabelProp _,
    "q_modularity" -> qModularity _,
    "q_louvain" -> qLouvain _,
    "q_louvain_multilevel" -> qLouvainMultilevel _,
    "q_louvain_connectivity" -> qLouvainConnectivity _,
    "q_louvain_refined" -> qLouvainRefined _,
    "q_leiden" -> qLeiden _,
    "q_modularity_louvain" -> qModularityLouvain _,
    "q_random_walks" -> qRandomWalks _,
    "q_node2vec_walks" -> qNode2vecWalks _,
    "q_walk_pairs" -> qWalkPairs _,
    "q_walk_pairs_n2v" -> qWalkPairsN2v _,
    "q_kcore" -> qKcore _,
    "q_triangles" -> qTriangles _,
    "q_link_predict" -> qLinkPredict _)

  private def oracleSql: String = {
    val prCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |x0 AS (SELECT doc_id, (1000000000 // nn.n)::BIGINT AS x
        |  FROM documents CROSS JOIN nn)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""d$k AS (SELECT coalesce(sum(x), 0)::BIGINT
        |      // (SELECT n FROM nn) AS share
        |  FROM x${k - 1} p WHERE p.doc_id NOT IN (SELECT src FROM deg)),
        |x$k AS (
        |  SELECT d.doc_id,
        |    ((15 * (1000000000 // (SELECT n FROM nn)) // 100)
        |      + 85 * (coalesce(i.inflow, 0) + (SELECT share FROM d$k))
        |        // 100)::BIGINT AS x
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst, sum(p.x // dg.deg)::BIGINT AS inflow
        |    FROM e JOIN x${k - 1} p ON e.src = p.doc_id
        |    JOIN deg dg ON e.src = dg.src
        |    GROUP BY e.dst) i ON d.doc_id = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $prCte,
      |$iters
      |SELECT doc_id, x AS pr_ppb FROM x$PrIters""".stripMargin
  }

  private def betweennessSql: String = {
    val fwd = (1 to BetwHops).map { d =>
      s"""v$d AS MATERIALIZED (
        |  SELECT f.s, f.v, f.sig FROM (
        |    SELECT p.s, e.dst AS v, sum(p.sig)::BIGINT AS sig
        |    FROM v${d - 1} p JOIN e ON p.v = e.src GROUP BY 1, 2) f
        |  LEFT JOIN vis${d - 1} x ON f.s = x.s AND f.v = x.v
        |  WHERE x.s IS NULL),
        |vis$d AS MATERIALIZED (SELECT s, v FROM vis${d - 1}
        |  UNION ALL SELECT s, v FROM v$d)""".stripMargin
    }.mkString(",\n")
    val bwd = (0 until BetwHops).reverse.map { d =>
      s"""c$d AS (SELECT l.s, l.v,
        |    sum((l.sig * (1000000 + dd.delta)) // w.sig)::BIGINT AS delta
        |  FROM v$d l JOIN e ON l.v = e.src
        |  JOIN v${d + 1} w ON w.s = l.s AND w.v = e.dst
        |  JOIN d${d + 1} dd ON dd.s = l.s AND dd.v = e.dst
        |  GROUP BY 1, 2),
        |d$d AS MATERIALIZED (SELECT l.s, l.v,
        |    coalesce(c.delta, 0)::BIGINT AS delta
        |  FROM v$d l LEFT JOIN c$d c ON l.s = c.s AND l.v = c.v)""".stripMargin
    }.mkString(",\n")
    val accUnion = (0 to BetwHops)
      .map(d => s"SELECT s, v, delta FROM d$d").mkString("\n  UNION ALL ")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |v0 AS MATERIALIZED (SELECT doc_id AS s, doc_id AS v, 1::BIGINT AS sig
      |  FROM documents WHERE doc_id % $BetwSrcMod = 0),
      |vis0 AS MATERIALIZED (SELECT s, v FROM v0),
      |$fwd,
      |d$BetwHops AS (SELECT s, v, 0::BIGINT AS delta FROM v$BetwHops),
      |$bwd,
      |acc AS ($accUnion),
      |t AS (SELECT v, sum(delta)::BIGINT AS b FROM acc WHERE v != s
      |  GROUP BY v)
      |SELECT d.doc_id, coalesce(t.b, 0)::BIGINT AS betw_ppm
      |FROM documents d LEFT JOIN t ON d.doc_id = t.v""".stripMargin
  }

  private def trustrankSql: String = {
    val base =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |ss AS (SELECT count(*)::BIGINT AS s FROM documents
        |  WHERE doc_id % $TrustSeedMod = 0),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |x0 AS (SELECT doc_id,
        |  (CASE WHEN doc_id % $TrustSeedMod = 0
        |    THEN 1000000000 // ss.s ELSE 0 END)::BIGINT AS x
        |  FROM documents CROSS JOIN ss)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""d$k AS (SELECT coalesce(sum(x), 0)::BIGINT
        |      // (SELECT s FROM ss) AS share
        |  FROM x${k - 1} p WHERE p.doc_id NOT IN (SELECT src FROM deg)),
        |x$k AS (
        |  SELECT d.doc_id,
        |    ((CASE WHEN d.doc_id % $TrustSeedMod = 0
        |        THEN 15 * (1000000000 // (SELECT s FROM ss)) // 100
        |        ELSE 0 END)
        |      + 85 * (coalesce(i.inflow, 0)
        |        + (CASE WHEN d.doc_id % $TrustSeedMod = 0
        |            THEN (SELECT share FROM d$k) ELSE 0 END))
        |        // 100)::BIGINT AS x
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst, sum(p.x // dg.deg)::BIGINT AS inflow
        |    FROM e JOIN x${k - 1} p ON e.src = p.doc_id
        |    JOIN deg dg ON e.src = dg.src
        |    GROUP BY e.dst) i ON d.doc_id = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
      |$iters
      |SELECT doc_id, x AS trust_ppb FROM x$PrIters""".stripMargin
  }

  private def hitsSql: String = {
    val base =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |h0 AS (SELECT doc_id, 1000000::BIGINT AS h FROM documents)""".stripMargin
    val iters = (1 to HitsIters).map { k =>
      s"""ar$k AS (SELECT e.dst, sum(p.h)::BIGINT AS raw
        |  FROM e JOIN h${k - 1} p ON e.src = p.doc_id GROUP BY 1),
        |at$k AS (SELECT greatest(coalesce(sum(raw::HUGEINT), 0), 1) AS t
        |  FROM ar$k),
        |a$k AS (SELECT d.doc_id,
        |    (coalesce(r.raw, 0)::HUGEINT * 1000000
        |      // (SELECT t FROM at$k))::BIGINT AS a
        |  FROM documents d LEFT JOIN ar$k r ON d.doc_id = r.dst),
        |hr$k AS (SELECT e.src, sum(p.a)::BIGINT AS raw
        |  FROM e JOIN a$k p ON e.dst = p.doc_id GROUP BY 1),
        |ht$k AS (SELECT greatest(coalesce(sum(raw::HUGEINT), 0), 1) AS t
        |  FROM hr$k),
        |h$k AS (SELECT d.doc_id,
        |    (coalesce(r.raw, 0)::HUGEINT * 1000000
        |      // (SELECT t FROM ht$k))::BIGINT AS h
        |  FROM documents d LEFT JOIN hr$k r ON d.doc_id = r.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
      |$iters
      |SELECT h.doc_id, h.h AS hub_ppm, a.a AS auth_ppm
      |FROM h$HitsIters h JOIN a$HitsIters a ON h.doc_id = a.doc_id""".stripMargin
  }

  private def pprSql: String = {
    val base =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        |seeds AS (SELECT doc_id AS s FROM documents
        |  WHERE doc_id % $PprSeedMod = 0),
        |x0 AS (SELECT s, s AS v, 1000000000::BIGINT AS x FROM seeds)""".stripMargin
    val iters = (1 to PprIters).map { k =>
      s"""dg$k AS (SELECT s, coalesce(sum(x), 0)::BIGINT AS dang
        |  FROM x${k - 1} p WHERE p.v NOT IN (SELECT src FROM deg)
        |  GROUP BY s),
        |i$k AS (SELECT p.s, e.dst AS v, sum(p.x // dg.deg)::BIGINT AS inflow
        |  FROM x${k - 1} p JOIN e ON p.v = e.src
        |  JOIN deg dg ON dg.src = e.src GROUP BY 1, 2),
        |x$k AS (SELECT c.s, c.v,
        |    ((CASE WHEN c.v = c.s THEN $PprTeleport ELSE 0 END)
        |      + 85 * (coalesce(i.inflow, 0)
        |        + CASE WHEN c.v = c.s THEN coalesce(d.dang, 0) ELSE 0 END)
        |        // 100)::BIGINT AS x
        |  FROM (SELECT s, v FROM i$k UNION SELECT s, s FROM seeds) c
        |  LEFT JOIN i$k i ON i.s = c.s AND i.v = c.v
        |  LEFT JOIN dg$k d ON d.s = c.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
      |$iters
      |SELECT s AS seed_id, v AS doc_id, x AS ppr_ppb FROM x$PprIters""".stripMargin
  }

  private def trianglesSql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
      |    FROM documents CROSS JOIN nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
      |und AS (SELECT DISTINCT u, v FROM (
      |  SELECT src AS u, dst AS v FROM e WHERE src != dst
      |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
      |udeg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY 1),
      |ori AS (SELECT und.u AS a, und.v AS b, dv.deg AS degb
      |  FROM und JOIN udeg du ON und.u = du.u JOIN udeg dv ON und.v = dv.u
      |  WHERE (du.deg, und.u) < (dv.deg, und.v)),
      |tri AS (SELECT w1.a, w1.b, w2.b AS c
      |  FROM ori w1 JOIN ori w2 ON w1.a = w2.a
      |    AND (w1.degb, w1.b) < (w2.degb, w2.b)
      |  JOIN ori cl ON cl.a = w1.b AND cl.b = w2.b),
      |per AS (SELECT u, count(*)::BIGINT AS n_tri FROM (
      |    SELECT a AS u FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(dg.deg, 0)::BIGINT AS degree,
      |  coalesce(p.n_tri, 0)::BIGINT AS n_triangles,
      |  (CASE WHEN coalesce(dg.deg, 0) >= 2
      |    THEN (2 * coalesce(p.n_tri, 0) * 1000000) // (dg.deg * (dg.deg - 1))
      |    ELSE 0 END)::BIGINT AS clustering_ppm
      |FROM documents d LEFT JOIN udeg dg ON d.doc_id = dg.u
      |LEFT JOIN per p ON d.doc_id = p.u""".stripMargin

  private def labelPropSql: String = {
    val undCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |    FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
        |und AS (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e WHERE src != dst
        |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
        |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents)""".stripMargin
    val iters = (1 to LpIters).map { k =>
      s"""c$k AS (SELECT und.u AS v, l.lab, count(*)::BIGINT AS cnt
        |  FROM und JOIN l${k - 1} l ON und.v = l.v GROUP BY 1, 2),
        |p$k AS (SELECT v, lab FROM (
        |    SELECT v, lab,
        |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lab ASC) AS rn
        |    FROM c$k) WHERE rn = 1),
        |l$k AS (SELECT d.doc_id AS v, coalesce(p.lab, d.doc_id) AS lab
        |  FROM documents d LEFT JOIN p$k p ON d.doc_id = p.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCte,
      |$iters,
      |sz AS (SELECT lab, count(*)::BIGINT AS comm_size
      |  FROM l$LpIters GROUP BY 1)
      |SELECT l.v AS doc_id, l.lab AS community, sz.comm_size
      |FROM l$LpIters l JOIN sz USING (lab)""".stripMargin
  }

  private def modularitySql: String = {
    val undCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |    FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
        |und AS (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e WHERE src != dst
        |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
        |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents)""".stripMargin
    val iters = (1 to LpIters).map { k =>
      s"""c$k AS (SELECT und.u AS v, l.lab, count(*)::BIGINT AS cnt
        |  FROM und JOIN l${k - 1} l ON und.v = l.v GROUP BY 1, 2),
        |p$k AS (SELECT v, lab FROM (
        |    SELECT v, lab,
        |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lab ASC) AS rn
        |    FROM c$k) WHERE rn = 1),
        |l$k AS (SELECT d.doc_id AS v, coalesce(p.lab, d.doc_id) AS lab
        |  FROM documents d LEFT JOIN p$k p ON d.doc_id = p.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCte,
      |$iters,
      |nc AS (SELECT v AS u, lab AS c FROM l$LpIters),
      |deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY 1),
      |m2 AS (SELECT count(*)::HUGEINT AS m2 FROM und),
      |comm AS (SELECT nc.c, count(*)::BIGINT AS n_members,
      |    sum(deg.deg)::BIGINT AS deg_sum
      |  FROM nc JOIN deg ON deg.u = nc.u GROUP BY 1),
      |intra AS (SELECT a.c, count(*)::BIGINT AS intra_rows
      |  FROM und JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c = b.c GROUP BY 1),
      |scored AS (SELECT comm.c, comm.n_members, comm.deg_sum,
      |    coalesce(i.intra_rows, 0)::BIGINT AS intra_rows,
      |    (coalesce(i.intra_rows, 0)::HUGEINT * (SELECT m2 FROM m2)
      |      - comm.deg_sum::HUGEINT * comm.deg_sum::HUGEINT) AS num,
      |    ((SELECT m2 FROM m2) * (SELECT m2 FROM m2)) AS den
      |  FROM comm LEFT JOIN intra i ON i.c = comm.c)
      |SELECT c AS community, n_members, deg_sum, intra_rows,
      |  (CASE WHEN num >= 0 THEN (num * 1000000) // den
      |        ELSE -(((0 - num) * 1000000) // den) END)::BIGINT AS contrib_ppm
      |FROM scored""".stripMargin
  }

  /** Shared CTE chain of the Louvain oracles: undirected closure +
    * degrees + m2 + the [[LouvainIters]] unrolled move rounds, ending
    * at l$LouvainIters.
    */
  private def louvainCtes: String = {
    val undCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |    FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
        |und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e WHERE src != dst
        |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
        |deg AS MATERIALIZED (SELECT u, count(*)::BIGINT AS deg
        |  FROM und GROUP BY 1),
        |mm AS (SELECT count(*)::HUGEINT AS m2 FROM und),
        |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents)""".stripMargin
    val iters = (1 to LouvainIters).map { k =>
      s"""dc$k AS MATERIALIZED (SELECT l.lab AS c, sum(deg.deg)::BIGINT AS dc
        |  FROM l${k - 1} l JOIN deg ON deg.u = l.v GROUP BY 1),
        |kk$k AS MATERIALIZED (SELECT und.u, l.lab AS c, count(*)::BIGINT AS k
        |  FROM und JOIN l${k - 1} l ON und.v = l.v GROUP BY 1, 2),
        |cd$k AS (SELECT u, c FROM kk$k UNION SELECT v, lab FROM l${k - 1}),
        |sc$k AS (SELECT cd.u, cd.c,
        |    (coalesce(kk.k, 0)::HUGEINT * (SELECT m2 FROM mm)
        |     - deg.deg::HUGEINT * (dc.dc - CASE WHEN cd.c = ow.lab
        |         THEN deg.deg ELSE 0 END)::HUGEINT) AS score
        |  FROM cd$k cd
        |  JOIN l${k - 1} ow ON ow.v = cd.u
        |  JOIN deg ON deg.u = cd.u
        |  JOIN dc$k dc ON dc.c = cd.c
        |  LEFT JOIN kk$k kk ON kk.u = cd.u AND kk.c = cd.c),
        |p$k AS (SELECT u, c FROM (
        |    SELECT u, c, row_number() OVER (PARTITION BY u
        |      ORDER BY score DESC, c ASC) AS rn FROM sc$k) WHERE rn = 1),
        |l$k AS MATERIALIZED (SELECT l.v, coalesce(p.c, l.lab) AS lab
        |  FROM l${k - 1} l LEFT JOIN p$k p ON l.v = p.u)""".stripMargin
    }.mkString(",\n")
    s"$undCte,\n$iters"
  }

  private def louvainSql: String =
    s"""WITH $louvainCtes,
      |sz AS (SELECT lab, count(*)::BIGINT AS comm_size
      |  FROM l$LouvainIters GROUP BY 1)
      |SELECT l.v AS doc_id, l.lab AS community, sz.comm_size
      |FROM l$LouvainIters l JOIN sz USING (lab)""".stripMargin

  /** The coarse-graph move-round CTE chain shared by the multilevel
    * and Leiden oracles: g0 → g[[LouvainL2Iters]] over super-node
    * frames `cw` (weighted edges), `cs` (strengths) and `mm` (m2).
    */
  private def coarseMoveCtes: String =
    (1 to LouvainL2Iters).map { k =>
      s"""gdc$k AS (SELECT g.lab AS c, sum(cs.s)::BIGINT AS dc
        |  FROM g${k - 1} g JOIN cs ON cs.u = g.v GROUP BY 1),
        |gkk$k AS MATERIALIZED (SELECT cw.u, g.lab AS c, sum(cw.w)::BIGINT AS k
        |  FROM cw JOIN g${k - 1} g ON cw.v = g.v GROUP BY 1, 2),
        |gcd$k AS (SELECT u, c FROM gkk$k UNION SELECT v, lab FROM g${k - 1}),
        |gsc$k AS (SELECT cd.u, cd.c,
        |    (coalesce(kk.k, 0)::HUGEINT * (SELECT m2 FROM mm)
        |     - cs.s::HUGEINT * (dc.dc - CASE WHEN cd.c = ow.lab
        |         THEN cs.s ELSE 0 END)::HUGEINT) AS score
        |  FROM gcd$k cd
        |  JOIN g${k - 1} ow ON ow.v = cd.u
        |  JOIN cs ON cs.u = cd.u
        |  JOIN gdc$k dc ON dc.c = cd.c
        |  LEFT JOIN gkk$k kk ON kk.u = cd.u AND kk.c = cd.c),
        |gp$k AS (SELECT u, c FROM (
        |    SELECT u, c, row_number() OVER (PARTITION BY u
        |      ORDER BY score DESC, c ASC) AS rn FROM gsc$k) WHERE rn = 1),
        |g$k AS MATERIALIZED (SELECT g.v, coalesce(p.c, g.lab) AS lab
        |  FROM g${k - 1} g LEFT JOIN gp$k p ON g.v = p.u)""".stripMargin
    }.mkString(",\n")

  private def louvainMultilevelSql: String = {
    val l2iters = coarseMoveCtes
    s"""WITH $louvainCtes,
      |nc AS MATERIALIZED (SELECT v AS u, lab AS c FROM l$LouvainIters),
      |cw AS MATERIALIZED (SELECT a.c AS u, b.c AS v, count(*)::BIGINT AS w
      |  FROM und JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c != b.c GROUP BY 1, 2),
      |cs AS MATERIALIZED (SELECT nc.c AS u, sum(deg.deg)::BIGINT AS s
      |  FROM nc JOIN deg ON deg.u = nc.u GROUP BY 1),
      |g0 AS (SELECT u AS v, u AS lab FROM cs),
      |$l2iters,
      |fin AS (SELECT nc.u AS v, coalesce(g.lab, nc.c) AS lab
      |  FROM nc LEFT JOIN g$LouvainL2Iters g ON g.v = nc.c),
      |sz AS (SELECT lab, count(*)::BIGINT AS comm_size FROM fin GROUP BY 1)
      |SELECT f.v AS doc_id, f.lab AS community, sz.comm_size
      |FROM fin f JOIN sz USING (lab)""".stripMargin
  }

  private def louvainConnectivitySql: String =
    s"""WITH RECURSIVE $louvainCtes,
      |nc AS MATERIALIZED (SELECT v AS u, lab AS c FROM l$LouvainIters),
      |intra AS MATERIALIZED (SELECT und.u AS src, und.v AS dst FROM und
      |  JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c = b.c),
      |verts AS (SELECT DISTINCT src AS v FROM intra),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, r.r FROM intra e JOIN reach r ON e.src = r.v),
      |comps AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
      |fl AS (SELECT l.v, l.lab, coalesce(c.comp, l.v) AS comp
      |  FROM l$LouvainIters l LEFT JOIN comps c ON c.v = l.v),
      |ag AS (SELECT lab, count(*)::BIGINT AS n_members,
      |    count(DISTINCT comp)::BIGINT AS n_internal_components
      |  FROM fl GROUP BY 1)
      |SELECT lab AS community, n_members, n_internal_components,
      |  (CASE WHEN n_internal_components = 1 THEN 1 ELSE 0 END)::BIGINT
      |    AS is_connected
      |FROM ag""".stripMargin

  private def louvainRefinedSql: String =
    s"""WITH RECURSIVE $louvainCtes,
      |nc AS MATERIALIZED (SELECT v AS u, lab AS c FROM l$LouvainIters),
      |intra AS MATERIALIZED (SELECT und.u AS src, und.v AS dst FROM und
      |  JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c = b.c),
      |verts AS (SELECT DISTINCT src AS v FROM intra),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, r.r FROM intra e JOIN reach r ON e.src = r.v),
      |comps AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
      |fin AS (SELECT l.v, coalesce(c.comp, l.v) AS lab
      |  FROM l$LouvainIters l LEFT JOIN comps c ON c.v = l.v),
      |sz AS (SELECT lab, count(*)::BIGINT AS comm_size FROM fin GROUP BY 1)
      |SELECT f.v AS doc_id, f.lab AS community, sz.comm_size
      |FROM fin f JOIN sz USING (lab)""".stripMargin

  private def leidenSql: String =
    s"""WITH RECURSIVE $louvainCtes,
      |nc AS MATERIALIZED (SELECT v AS u, lab AS c FROM l$LouvainIters),
      |intra AS MATERIALIZED (SELECT und.u AS src, und.v AS dst FROM und
      |  JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c = b.c),
      |verts AS (SELECT DISTINCT src AS v FROM intra),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.dst, r.r FROM intra e JOIN reach r ON e.src = r.v),
      |comps AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
      |r1 AS MATERIALIZED (SELECT l.v AS u, l.lab AS parent,
      |    coalesce(c.comp, l.v) AS c
      |  FROM l$LouvainIters l LEFT JOIN comps c ON c.v = l.v),
      |cw AS MATERIALIZED (SELECT a.c AS u, b.c AS v, count(*)::BIGINT AS w
      |  FROM und JOIN r1 a ON und.u = a.u JOIN r1 b ON und.v = b.u
      |  WHERE a.c != b.c GROUP BY 1, 2),
      |cs AS MATERIALIZED (SELECT r1.c AS u, sum(deg.deg)::BIGINT AS s
      |  FROM r1 JOIN deg ON deg.u = r1.u GROUP BY 1),
      |g0 AS (SELECT DISTINCT c AS v, parent AS lab FROM r1),
      |$coarseMoveCtes,
      |proj AS MATERIALIZED (SELECT r1.u AS v, coalesce(g.lab, r1.c) AS lab
      |  FROM r1 LEFT JOIN g$LouvainL2Iters g ON g.v = r1.c),
      |intra2 AS MATERIALIZED (SELECT und.u AS src, und.v AS dst FROM und
      |  JOIN proj a ON und.u = a.v JOIN proj b ON und.v = b.v
      |  WHERE a.lab = b.lab),
      |verts2 AS (SELECT DISTINCT src AS v FROM intra2),
      |reach2(v, r) AS (
      |  SELECT v, v FROM verts2
      |  UNION
      |  SELECT e.dst, r.r FROM intra2 e JOIN reach2 r ON e.src = r.v),
      |comps2 AS (SELECT v, min(r) AS comp FROM reach2 GROUP BY v),
      |fin AS (SELECT p.v, coalesce(c.comp, p.v) AS lab
      |  FROM proj p LEFT JOIN comps2 c ON c.v = p.v),
      |sz AS (SELECT lab, count(*)::BIGINT AS comm_size FROM fin GROUP BY 1)
      |SELECT f.v AS doc_id, f.lab AS community, sz.comm_size
      |FROM fin f JOIN sz USING (lab)""".stripMargin

  private def modularityLouvainSql: String =
    s"""WITH $louvainCtes,
      |nc AS (SELECT v AS u, lab AS c FROM l$LouvainIters),
      |comm AS (SELECT nc.c, count(*)::BIGINT AS n_members,
      |    sum(deg.deg)::BIGINT AS deg_sum
      |  FROM nc JOIN deg ON deg.u = nc.u GROUP BY 1),
      |intra AS (SELECT a.c, count(*)::BIGINT AS intra_rows
      |  FROM und JOIN nc a ON und.u = a.u JOIN nc b ON und.v = b.u
      |  WHERE a.c = b.c GROUP BY 1),
      |scored AS (SELECT comm.c, comm.n_members, comm.deg_sum,
      |    coalesce(i.intra_rows, 0)::BIGINT AS intra_rows,
      |    (coalesce(i.intra_rows, 0)::HUGEINT * (SELECT m2 FROM mm)
      |      - comm.deg_sum::HUGEINT * comm.deg_sum::HUGEINT) AS num,
      |    ((SELECT m2 FROM mm) * (SELECT m2 FROM mm)) AS den
      |  FROM comm LEFT JOIN intra i ON i.c = comm.c)
      |SELECT c AS community, n_members, deg_sum, intra_rows,
      |  (CASE WHEN num >= 0 THEN (num * 1000000) // den
      |        ELSE -(((0 - num) * 1000000) // den) END)::BIGINT AS contrib_ppm
      |FROM scored""".stripMargin

  private def node2vecWalksSql: String = {
    val eCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |    FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)
        |  WHERE src != dst),
        |w0 AS (SELECT doc_id AS walk_id, doc_id AS node FROM documents),
        |w1 AS MATERIALIZED (SELECT walk_id, prev, node FROM (
        |  SELECT s.walk_id, s.node AS prev, e.dst AS node,
        |    row_number() OVER (PARTITION BY s.walk_id ORDER BY
        |      ('0x' || substr(md5(concat_ws(':', s.walk_id, 1, e.dst)), 1, 12))::BIGINT,
        |      e.dst) AS rn
        |  FROM w0 s JOIN e ON s.node = e.src) WHERE rn = 1)""".stripMargin
    val steps = (2 to WalkSteps).map { k =>
      s"""w$k AS MATERIALIZED (SELECT walk_id, prev, node FROM (
        |  SELECT s.walk_id, s.node AS prev, e.dst AS node,
        |    row_number() OVER (PARTITION BY s.walk_id ORDER BY
        |      ('0x' || substr(md5(concat_ws(':', s.walk_id, $k, e.dst)), 1, 12))::BIGINT
        |        // (CASE WHEN e.dst = s.prev THEN $N2vWReturn
        |               WHEN m.dst IS NOT NULL THEN $N2vWMid
        |               ELSE $N2vWOut END),
        |      e.dst) AS rn
        |  FROM w${k - 1} s JOIN e ON s.node = e.src
        |  LEFT JOIN e m ON m.src = s.prev AND m.dst = e.dst) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (Seq("SELECT walk_id, 0::BIGINT AS step, node FROM w0") ++
      (1 to WalkSteps).map(k =>
        s"SELECT walk_id, $k::BIGINT AS step, node FROM w$k"))
      .mkString("\nUNION ALL ")
    s"""WITH $eCte,
      |$steps
      |$union""".stripMargin
  }

  private def randomWalksSql: String = {
    val eCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |w0 AS (SELECT doc_id AS walk_id, doc_id AS node FROM documents)""".stripMargin
    val steps = (1 to WalkSteps).map { k =>
      s"""w$k AS (SELECT walk_id, node FROM (
        |  SELECT w.walk_id, e.dst AS node,
        |    row_number() OVER (PARTITION BY w.walk_id ORDER BY
        |      ('0x' || substr(md5(concat_ws(':', w.walk_id, $k, e.dst)), 1, 12))::BIGINT,
        |      e.dst) AS rn
        |  FROM w${k - 1} w JOIN e ON w.node = e.src) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to WalkSteps).map(k =>
      s"SELECT walk_id, $k::BIGINT AS step, node FROM w$k")
      .mkString("\nUNION ALL ")
    s"""WITH $eCte,
      |$steps
      |$union""".stripMargin
  }

  private def walkPairsSql: String =
    s"""WITH wk AS ($randomWalksSql)
      |SELECT a.node AS center, b.node AS context,
      |  count(*)::BIGINT AS n_pairs
      |FROM wk a JOIN wk b
      |  ON a.walk_id = b.walk_id AND a.step != b.step
      |  AND abs(a.step - b.step) <= $WalkWindow
      |GROUP BY 1, 2""".stripMargin

  private def walkPairsN2vSql: String =
    s"""WITH wk AS ($node2vecWalksSql)
      |SELECT a.node AS center, b.node AS context,
      |  count(*)::BIGINT AS n_pairs
      |FROM wk a JOIN wk b
      |  ON a.walk_id = b.walk_id AND a.step != b.step
      |  AND abs(a.step - b.step) <= $WalkWindow
      |GROUP BY 1, 2""".stripMargin

  private def kcoreSql: String = {
    val undCte =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
        |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
        |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
        |und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        |  SELECT src AS u, dst AS v FROM e WHERE src != dst
        |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
        |s0 AS MATERIALIZED (SELECT doc_id AS v, 0::BIGINT AS pr FROM documents)""".stripMargin
    // every round CTE is MATERIALIZED: each level references the
    // previous one 4×, so default CTE inlining would expand the
    // 10-round chain exponentially (it ran the base scan out of
    // file descriptors before it ran out of time)
    val rounds = (1 to KcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT und.u AS v, count(*)::BIGINT AS deg
        |  FROM und JOIN s${r - 1} a ON und.u = a.v AND a.pr = 0
        |  JOIN s${r - 1} b ON und.v = b.v AND b.pr = 0
        |  GROUP BY 1),
        |s$r AS MATERIALIZED (SELECT s.v,
        |    (CASE WHEN s.pr != 0 THEN s.pr
        |      WHEN coalesce(d.deg, 0) < $KcoreK THEN $r
        |      ELSE 0 END)::BIGINT AS pr
        |  FROM s${r - 1} s LEFT JOIN d$r d ON s.v = d.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $undCte,
      |$rounds,
      |fd AS (SELECT und.u AS v, count(*)::BIGINT AS deg
      |  FROM und JOIN s$KcoreRounds a ON und.u = a.v AND a.pr = 0
      |  JOIN s$KcoreRounds b ON und.v = b.v AND b.pr = 0
      |  GROUP BY 1)
      |SELECT s.v AS doc_id, s.pr AS peel_round,
      |  (CASE WHEN s.pr = 0 THEN 1 ELSE 0 END)::BIGINT AS in_core,
      |  (CASE WHEN s.pr = 0 THEN coalesce(fd.deg, 0) ELSE 0 END)::BIGINT
      |    AS core_deg
      |FROM s$KcoreRounds s LEFT JOIN fd ON s.v = fd.v""".stripMargin
  }

  private def hopPlotSql: String = {
    val rounds = (1 to HopT).map { t =>
      s"""r$t AS (SELECT DISTINCT v, u FROM (
        |  SELECT v, u FROM r${t - 1}
        |  UNION ALL
        |  SELECT r.v, e.dst FROM r${t - 1} r JOIN e ON r.u = e.src))""".stripMargin
    }.mkString(",\n")
    val sel = (0 to HopT)
      .map(t => s"SELECT $t::BIGINT AS t, (SELECT count(*) FROM r$t)::BIGINT AS n_pairs")
      .mkString("\nUNION ALL ")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |r0 AS (SELECT doc_id AS v, doc_id AS u FROM documents),
      |$rounds
      |$sel""".stripMargin
  }

  private def hyperBallSql: String = {
    import Sketches.{HllM, HllZeroRank}
    val rounds = (1 to HopT).map { t =>
      s"""r$t AS (SELECT DISTINCT v, u FROM (
        |  SELECT v, u FROM r${t - 1}
        |  UNION ALL
        |  SELECT r.v, e.dst FROM r${t - 1} r JOIN e ON r.u = e.src))""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |r0 AS (SELECT doc_id AS v, doc_id AS u FROM documents),
      |$rounds,
      |hh AS (SELECT v,
      |    ('0x' || substr(md5(u::VARCHAR), 1, 12))::BIGINT AS h FROM r$HopT)
      |SELECT v, h % $HllM AS bucket,
      |  max(CASE WHEN h // $HllM = 0 THEN $HllZeroRank
      |    ELSE length(bin((h // $HllM) & -(h // $HllM)))::BIGINT END)::BIGINT
      |    AS rank
      |FROM hh GROUP BY v, h % $HllM""".stripMargin
  }

  private def harmonicSql: String = {
    val rounds = (1 to HopT).map { t =>
      s"""r$t AS (SELECT DISTINCT v, u FROM (
        |  SELECT v, u FROM r${t - 1}
        |  UNION ALL
        |  SELECT r.v, e.dst FROM r${t - 1} r JOIN e ON r.u = e.src))""".stripMargin
    }.mkString(",\n")
    val cnts = (0 to HopT)
      .map(t => s"c$t AS (SELECT v, count(*)::BIGINT AS c FROM r$t GROUP BY v)")
      .mkString(",\n")
    val terms = (1 to HopT)
      .map(t => s"(c$t.c - c${t - 1}.c) * 1000000 // $t")
      .mkString(" + ")
    val joins = (1 to HopT).map(t => s"JOIN c$t ON c$t.v = c0.v").mkString(" ")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |r0 AS (SELECT doc_id AS v, doc_id AS u FROM documents),
      |$rounds,
      |$cnts
      |SELECT c0.v, ($terms)::BIGINT AS hc_ppm
      |FROM c0 $joins""".stripMargin
  }

  private def labelSpreadSql: String = {
    val a = SpreadAlphaPct
    val iters = (1 to SpreadIters).map { t =>
      s"""y$t AS (SELECT seed.v,
        |    ($a * coalesce(i.inflow, 0) // 100
        |      + ${100 - a} * seed.s // 100)::BIGINT AS y
        |  FROM seed LEFT JOIN (
        |    SELECT e.dst, sum(p.y // d.deg)::BIGINT AS inflow
        |    FROM e JOIN y${t - 1} p ON e.src = p.v
        |    JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) i ON seed.v = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
      |seed AS (SELECT doc_id AS v,
      |    (CASE WHEN doc_id % $SpreadSeedMod = 0 THEN 1000000
      |      ELSE 0 END)::BIGINT AS s FROM documents),
      |y0 AS (SELECT v, s AS y FROM seed),
      |$iters
      |SELECT v AS doc_id, y AS score_ppm FROM y$SpreadIters""".stripMargin
  }

  private def effDiameterSql: String = {
    val rounds = (1 to HopT).map { t =>
      s"""r$t AS (SELECT DISTINCT v, u FROM (
        |  SELECT v, u FROM r${t - 1}
        |  UNION ALL
        |  SELECT r.v, e.dst FROM r${t - 1} r JOIN e ON r.u = e.src))""".stripMargin
    }.mkString(",\n")
    val cnts = (0 to HopT)
      .map(t => s"SELECT $t::BIGINT AS t, (SELECT count(*) FROM r$t)::BIGINT AS np")
      .mkString("\nUNION ALL ")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |r0 AS (SELECT doc_id AS v, doc_id AS u FROM documents),
      |$rounds,
      |hp AS ($cnts),
      |mx AS (SELECT np AS nt FROM hp WHERE t = $HopT)
      |SELECT t AS t_eff, np AS n_pairs_at_t, nt AS n_pairs_max,
      |  (np * 1000000 // nt)::BIGINT AS coverage_ppm
      |FROM hp CROSS JOIN mx
      |WHERE np >= ($EffDiamPct * nt + 99) // 100
      |ORDER BY t LIMIT 1""".stripMargin
  }

  /** SCC oracle: DuckDB's recursive CTE computes the reach closure
    * to ITS OWN fixpoint (no round-count coupling to the Spark side),
    * then the same mutual-min selection — so the oracle certifies
    * the SCC definition, not a replay of the squaring schedule.
    * Shared by [[qScc]]'s and [[qBowtie]]'s oracles.
    */
  private def sccCtes: String =
    s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (
      |  SELECT doc_id AS src,
      |    (doc_id - (doc_id % $SccB) + ((doc_id % $SccB + 1) % $SccB))::BIGINT AS dst
      |  FROM documents CROSS JOIN nn
      |  WHERE NOT (doc_id % $SccB = ${SccB - 1}
      |      AND (doc_id // $SccB) % $SccChainMod = 0)
      |    AND doc_id - (doc_id % $SccB) + ((doc_id % $SccB + 1) % $SccB) < nn.n
      |    AND doc_id - (doc_id % $SccB) + ((doc_id % $SccB + 1) % $SccB) != doc_id
      |  UNION ALL
      |  SELECT doc_id, (doc_id + $SccB)::BIGINT FROM documents CROSS JOIN nn
      |  WHERE (doc_id // $SccB) % $SccDagMod != ${SccDagMod - 1}
      |    AND doc_id + $SccB < nn.n),
      |reach AS (
      |  SELECT src AS v, dst AS u FROM e
      |  UNION
      |  SELECT r.v, e.dst FROM reach r JOIN e ON r.u = e.src),
      |mut AS (SELECT a.v, min(a.u)::BIGINT AS mu
      |  FROM reach a JOIN reach b ON a.v = b.u AND a.u = b.v GROUP BY a.v),
      |scc AS (SELECT d.doc_id,
      |    least(d.doc_id, coalesce(m.mu, d.doc_id))::BIGINT AS scc_id
      |  FROM documents d LEFT JOIN mut m ON d.doc_id = m.v),
      |sz AS (SELECT scc_id, count(*)::BIGINT AS scc_size FROM scc GROUP BY 1)""".stripMargin

  private def sccSql: String =
    s"""WITH RECURSIVE $sccCtes
      |SELECT s.doc_id, s.scc_id, z.scc_size
      |FROM scc s JOIN sz z ON s.scc_id = z.scc_id""".stripMargin

  private def bowtieSql: String =
    s"""WITH RECURSIVE $sccCtes,
      |core AS (SELECT scc_id FROM sz
      |  ORDER BY scc_size DESC, scc_id LIMIT 1),
      |corev AS (SELECT doc_id AS cv FROM scc, core
      |  WHERE scc.scc_id = core.scc_id),
      |rin AS (SELECT DISTINCT r.v FROM reach r JOIN corev ON r.u = corev.cv),
      |rout AS (SELECT DISTINCT r.u FROM reach r JOIN corev ON r.v = corev.cv)
      |SELECT s.doc_id, s.scc_id,
      |  CASE WHEN s.scc_id = (SELECT scc_id FROM core) THEN 'core'
      |    WHEN s.doc_id IN (SELECT v FROM rin) THEN 'in'
      |    WHEN s.doc_id IN (SELECT u FROM rout) THEN 'out'
      |    ELSE 'other' END AS bowtie_class
      |FROM scc s""".stripMargin

  private def degreeDistSql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |outd AS (SELECT coalesce(g.deg, 0)::BIGINT AS deg FROM documents d
      |  LEFT JOIN (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1) g
      |    ON d.doc_id = g.src),
      |ind AS (SELECT coalesce(g.deg, 0)::BIGINT AS deg FROM documents d
      |  LEFT JOIN (SELECT dst, count(*)::BIGINT AS deg FROM e GROUP BY 1) g
      |    ON d.doc_id = g.dst),
      |oh AS (SELECT deg AS degree, count(*)::BIGINT AS n_out FROM outd GROUP BY 1),
      |ih AS (SELECT deg AS degree, count(*)::BIGINT AS n_in FROM ind GROUP BY 1)
      |SELECT coalesce(oh.degree, ih.degree) AS degree,
      |  coalesce(ih.n_in, 0)::BIGINT AS n_in,
      |  coalesce(oh.n_out, 0)::BIGINT AS n_out
      |FROM oh FULL OUTER JOIN ih ON oh.degree = ih.degree""".stripMargin

  /** Unrolled synchronous truss peel — every round CTE MATERIALIZED
    * (the kcoreSql lesson: each level is referenced multiple times,
    * so default CTE inlining expands the chain exponentially).
    * Support here is the NAIVE common-neighbor count — a different
    * algorithm than the Spark side's degree-ordered enumeration,
    * same value by definition.
    */
  private def ktrussSql: String = {
    val base =
      s"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
        |    FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
        |ring AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src != dst),
        |cl AS (SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM documents a JOIN documents b
        |    ON a.doc_id // $CliqueBlock = b.doc_id // $CliqueBlock
        |    AND a.doc_id < b.doc_id
        |  WHERE (a.doc_id // $CliqueBlock) % $CliqueMod = 0),
        |ce AS MATERIALIZED (SELECT DISTINCT u, v FROM (
        |  SELECT u, v FROM ring UNION ALL SELECT u, v FROM cl)),
        |s0 AS MATERIALIZED (SELECT u, v, 0::BIGINT AS pr FROM ce)""".stripMargin
    val rounds = (1 to TrussRounds).map { r =>
      s"""a$r AS MATERIALIZED (
        |  SELECT u AS a, v AS b FROM s${r - 1} WHERE pr = 0
        |  UNION ALL SELECT v, u FROM s${r - 1} WHERE pr = 0),
        |t$r AS MATERIALIZED (SELECT g.u, g.v, count(*)::BIGINT AS supp
        |  FROM s${r - 1} g JOIN a$r x ON x.a = g.u
        |  JOIN a$r y ON y.a = g.v AND y.b = x.b
        |  WHERE g.pr = 0 GROUP BY 1, 2),
        |s$r AS MATERIALIZED (SELECT s.u, s.v,
        |    (CASE WHEN s.pr != 0 THEN s.pr
        |      WHEN coalesce(t.supp, 0) < ${TrussK - 2} THEN $r
        |      ELSE 0 END)::BIGINT AS pr
        |  FROM s${r - 1} s LEFT JOIN t$r t ON s.u = t.u AND s.v = t.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
      |$rounds,
      |af AS (SELECT u AS a, v AS b FROM s$TrussRounds WHERE pr = 0
      |  UNION ALL SELECT v, u FROM s$TrussRounds WHERE pr = 0),
      |tf AS (SELECT g.u, g.v, count(*)::BIGINT AS supp
      |  FROM s$TrussRounds g JOIN af x ON x.a = g.u
      |  JOIN af y ON y.a = g.v AND y.b = x.b
      |  WHERE g.pr = 0 GROUP BY 1, 2)
      |SELECT s.u, s.v, s.pr AS peel_round,
      |  (CASE WHEN s.pr = 0 THEN 1 ELSE 0 END)::BIGINT AS in_truss,
      |  (CASE WHEN s.pr = 0 THEN coalesce(tf.supp, 0) ELSE 0 END)::BIGINT
      |    AS support
      |FROM s$TrussRounds s LEFT JOIN tf ON s.u = tf.u AND s.v = tf.v""".stripMargin
  }

  private def assortativitySql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)),
      |und AS (SELECT DISTINCT u, v FROM (
      |  SELECT src AS u, dst AS v FROM e WHERE src != dst
      |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
      |deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY 1),
      |ends AS (SELECT da.deg AS x, db.deg AS y FROM und
      |  JOIN deg da ON und.u = da.u JOIN deg db ON und.v = db.u),
      |sums AS (SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
      |  sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sx2 FROM ends),
      |d AS (SELECT m, sx, sxy, sx2,
      |  m * sxy - sx * sx AS num, m * sx2 - sx * sx AS den FROM sums)
      |SELECT m AS n_ends, sx AS sum_x, sxy AS sum_xy, sx2 AS sum_x2,
      |  (CASE WHEN den = 0 THEN 0
      |    WHEN num >= 0 THEN (num * 1000000) // den
      |    ELSE -(((- num) * 1000000) // den) END)::BIGINT AS r_ppm
      |FROM d""".stripMargin

  private def reciprocitySql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |    FROM documents CROSS JOIN nn WHERE doc_id % $SinkMod != 0
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents
      |    CROSS JOIN nn WHERE doc_id % $SinkMod != 0)
      |  WHERE src != dst)
      |SELECT count(*)::BIGINT AS n_edges,
      |  sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_recip,
      |  ((1000000 * sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END))
      |    // count(*))::BIGINT AS recip_ppm
      |FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_ktruss" -> ktrussSql,
    "q_assortativity" -> assortativitySql,
    "q_reciprocity" -> reciprocitySql,
    "q_degree_dist" -> degreeDistSql,
    "q_bowtie" -> bowtieSql,
    "q_scc" -> sccSql,
    "q_eff_diameter" -> effDiameterSql,
    "q_label_spread" -> labelSpreadSql,
    "q_harmonic" -> harmonicSql,
    "q_hyperball" -> hyperBallSql,
    "q_hopplot" -> hopPlotSql,
    "q_pagerank" -> oracleSql,
    "q_trustrank" -> trustrankSql,
    "q_hits" -> hitsSql,
    "q_ppr" -> pprSql,
    "q_betweenness" -> betweennessSql,
    "q_label_prop" -> labelPropSql,
    "q_modularity" -> modularitySql,
    "q_louvain" -> louvainSql,
    "q_louvain_multilevel" -> louvainMultilevelSql,
    "q_louvain_connectivity" -> louvainConnectivitySql,
    "q_louvain_refined" -> louvainRefinedSql,
    "q_leiden" -> leidenSql,
    "q_modularity_louvain" -> modularityLouvainSql,
    "q_random_walks" -> randomWalksSql,
    "q_node2vec_walks" -> node2vecWalksSql,
    "q_walk_pairs" -> walkPairsSql,
    "q_walk_pairs_n2v" -> walkPairsN2vSql,
    "q_kcore" -> kcoreSql,
    "q_triangles" -> trianglesSql,
    "q_link_predict" -> linkPredictSql)

  private def linkPredictSql: String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM (
      |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
      |    FROM documents CROSS JOIN nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id + 2) % nn.n FROM documents CROSS JOIN nn
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents CROSS JOIN nn)),
      |und AS (SELECT DISTINCT u, v FROM (
      |  SELECT src AS u, dst AS v FROM e WHERE src != dst
      |  UNION ALL SELECT dst, src FROM e WHERE src != dst)),
      |udeg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY 1),
      |half AS (SELECT und.u, und.v FROM und
      |  JOIN udeg d ON und.v = d.u WHERE d.deg <= $LinkHubCap),
      |cn AS (SELECT h1.u AS a, h2.u AS b, count(*)::BIGINT AS common
      |  FROM half h1 JOIN half h2 ON h1.v = h2.v AND h1.u < h2.u
      |  GROUP BY 1, 2),
      |ex AS (SELECT u AS a, v AS b FROM und WHERE u < v)
      |SELECT cn.a, cn.b, common, da.deg AS deg_a, db.deg AS deg_b,
      |  (common * 1000000) // (da.deg + db.deg - common) AS jaccard_ppm
      |FROM cn JOIN udeg da ON cn.a = da.u JOIN udeg db ON cn.b = db.u
      |WHERE common >= $LinkMinCommon
      |  AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.a = cn.a AND ex.b = cn.b)
      |""".stripMargin
}

package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{LocalStore, Superstep}

/** Community detection by synchronous local-moving modularity optimization —
  * the distributed form of Louvain's phase 1 (Blondel et al. 2008,
  * arXiv:0803.0476). Classic Louvain moves vertices one at a time; a
  * distributed engine moves them in parallel rounds, which can oscillate
  * (two neighbors swapping communities forever), so rounds alternate by
  * vertex-id parity — only half the vertices may move per round, a standard
  * determinization (e.g. Spark-Louvain implementations and the synchronous
  * variant analyzed in the literature) that also makes the result
  * partitioning- and engine-independent.
  *
  * All gain comparisons are EXACT 64-bit integer arithmetic: moving v into
  * community c is better than into c' iff
  * `2m·w(v,c) − k_v·Σ_tot(c\v)  >  2m·w(v,c') − k_v·Σ_tot(c'\v)` — the
  * γ=1 modularity gain with the constant positive factor 2m multiplied
  * through. Unit/integer edge weights keep every term a long (at 176 M
  * edges the largest product is ~2m·k_max ≈ 7e8·1e6 ≪ 2^63), so there is
  * no float tie to break differently on another engine — the grid-Lloyd
  * design principle applied to modularity.
  *
  * Scale shape per round: ONE corpus-sized equi-join (undirected edges ⋈
  * community labels on dst, the PageRank-superstep shape) + a map-side
  * combinable groupBy(v, community); community totals are a
  * community-count-sized aggregate and the 2m scalar rides as a broadcast
  * 1-row frame. Rounds run on [[Superstep.run]] with delta = "moved", so
  * the convergence read is the driver's one aggregate per round.
  */
object Louvain {

  /** Local-moving fixpoint. `edges`: undirected (src, dst, w) with each
    * edge once, integer weights. Self-loops (src == dst) are allowed and
    * carry contracted-graph semantics: a self-loop of weight w contributes
    * 2w to its vertex's degree k (it is internal wherever the vertex goes)
    * but never to any candidate community's w(v,c) — exactly Blondel et
    * al.'s phase-2 convention, so a contracted level optimizes the SAME
    * flat modularity. Returns (id, community) with each community
    * relabeled to its minimum member id (label-choice independent, like
    * the CC convention). Fails loudly on a round budget overrun rather
    * than returning a half-converged partition.
    */
  def localMoving(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val und = edges
      .select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a self-loop is doubled by the union above, so deg's sum gives it the
    // required 2w; the no-self view feeds w(v,c) scoring and MIS adjacency
    // (a vertex must never block its own move)
    val undNS = und.filter(col("src") =!= col("dst"))
    val deg = und.groupBy(col("src").as("id"))
      .agg(sum(col("w")).as("k"))
    val m2 = deg.agg(sum(col("k")).as("m2")) // = 2m, broadcast 1-row

    // state (id, c, k, delta): delta = 1.0 when the vertex moved last
    // round. comm is inner-joined several times per round (nbrW, scored,
    // totals), so its checkpoint must be stats-REBASED — LocalStore's is
    // (Dataflow scaladoc; measured: the 22 M-edge probe stalled at round 14
    // when plain localCheckpoint compounded the size estimate)
    val init = deg.select(col("id"), col("id").as("c"), col("k"),
      lit(1.0).as("delta"))
    // a zero-move round is the fixpoint: a winner exists whenever any
    // vertex strictly gains (the globally max-priority gainer always wins
    // its neighborhood), so no move means no strict gainer remains
    def step(comm: DataFrame, iter: Int): DataFrame = {
      val totals = comm.groupBy(col("c")).agg(sum(col("k")).as("s"))
      // weight from every vertex to each adjacent community (+ its own
      // community as a 0-weight candidate so "stay" is always scored)
      val nbrW = undNS
        .join(comm.select(col("id").as("dst"), col("c").as("cv")), Seq("dst"))
        .groupBy(col("src").as("id"), col("cv"))
        .agg(sum(col("w")).as("wvc"))
        .unionAll(comm.select(col("id"), col("c").as("cv"),
          lit(0L).as("wvc")))
        .groupBy(col("id"), col("cv")).agg(sum(col("wvc")).as("wvc"))
      val scored = nbrW
        .join(comm.select(col("id"), col("c"), col("k")), Seq("id"))
        .join(totals.withColumnRenamed("c", "cv"), Seq("cv"))
        .crossJoin(broadcast(m2))
        .select(col("id"), col("c"), col("cv"),
          (col("m2") * col("wvc") - col("k") *
            (col("s") - when(col("cv") === col("c"), col("k"))
              .otherwise(lit(0L)))).as("score"))
      val stay = scored.filter(col("cv") === col("c"))
        .select(col("id"), col("score").as("stay_score"))
      val best = scored.filter(col("cv") =!= col("c"))
        .groupBy(col("id"))
        .agg(max(struct(col("score"), (-col("cv")).as("negcv"))).as("b"))
        .select(col("id"), (-col("b.negcv")).as("nc"),
          col("b.score").as("bscore"))
      // strict improvement only (ties stay put), then Luby/MIS move
      // scheduling: a gainer moves only if its round-salted priority beats
      // every ADJACENT gainer's — no two neighbors move together, so the
      // synchronous herding that splits a clique into two flip-flopping
      // halves cannot form. Priority = (Lehmer hash << 32 | id): unique,
      // engine-portable, re-salted each round (salt = 0-based round) so
      // every gainer eventually wins its neighborhood.
      val want = best.join(stay, Seq("id"))
        .filter(col("bscore") > col("stay_score"))
        .select(col("id"), col("nc"),
          (GraphOps.lehmerHash(col("id"), lit(iter - 1), 77L) * 4294967296L +
            (col("id") % 4294967296L)).as("pri"))
      val nbrPri = undNS
        .join(want.select(col("id").as("dst"), col("pri").as("np")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(max(col("np")).as("maxnp"))
      val winners = want.join(nbrPri, Seq("id"), "left")
        .filter(col("maxnp").isNull || col("pri") > col("maxnp"))
        .select(col("id"), col("nc"))
      comm.join(winners, Seq("id"), "left")
        .select(col("id"), coalesce(col("nc"), col("c")).as("c"), col("k"),
          when(col("nc").isNotNull, 1.0).otherwise(0.0).as("delta"))
    }
    val res =
      try Superstep.run(init, step, tol = 0.0, maxIters = maxRounds,
        new LocalStore)
      finally und.unpersist(false)
    require(res.converged, s"louvain: no fixpoint after $maxRounds rounds")
    val comm = res.state
    val minLabel = comm.groupBy(col("c")).agg(min(col("id")).as("community"))
    comm.join(minLabel, Seq("c")).select(col("id"), col("community"))
  }

  /** Louvain phase 2: contract each community to one super-vertex. Every
    * edge is re-keyed to its endpoints' community labels and the weights
    * summed — intra-community mass becomes a self-loop (src == dst), which
    * [[localMoving]] folds into the super-vertex's degree, preserving the
    * flat modularity objective across levels. One edges-sized equi-join
    * per endpoint + one map-side-combinable groupBy: the contracted output
    * is community-count-sized, so each level's graph shrinks
    * geometrically (the property that makes multi-level Louvain near-
    * linear on web graphs).
    */
  def contract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("community").as("cs")),
        Seq("src"))
      .join(labels.select(col("id").as("dst"), col("community").as("cd")),
        Seq("dst"))
      .select(least(col("cs"), col("cd")).as("src"),
        greatest(col("cs"), col("cd")).as("dst"), col("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))

  /** Newman modularity Q of a partition, integer-exact until one final
    * division: Q = (2m·2W_in − Σ_c Σ_tot(c)²) / (2m)², where W_in(c) sums
    * intra-community edge weights once and Σ_tot sums member degrees
    * (self-loops counted 2w, as everywhere here). Numerator and
    * denominator are exact 64-bit sums (safe while (2m)² < 2^63, i.e.
    * 2m < 3·10⁹ — beyond the 176 M-edge probe); the single division and
    * q6 floor run on identical IEEE doubles in both engines. Returns one
    * row (q_q6, m2).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("community"))
    val e = edges
      .join(lab.select(col("id").as("src"), col("community").as("cs")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("community").as("cd")),
        Seq("dst"))
    val win = e.filter(col("cs") === col("cd"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("win"))
    val und = edges.select(col("src"), col("w"))
      .unionAll(edges.select(col("dst").as("src"), col("w")))
    val deg = und.groupBy(col("src").as("id")).agg(sum(col("w")).as("k"))
    val tot = deg.join(lab, Seq("id"))
      .groupBy(col("community")).agg(sum(col("k")).as("s"))
      .agg(sum(col("s") * col("s")).as("ss"), sum(col("s")).as("m2"))
    win.crossJoin(tot)
      .select(floor((col("m2") * 2 * col("win") - col("ss"))
          .cast("double") / (col("m2") * col("m2")).cast("double") * 1e6
          + 0.5).cast("long").as("q_q6"),
        col("m2"))
  }

  /** Full multi-level Louvain (Blondel et al. 2008): alternate
    * [[localMoving]] and [[contract]] until a level merges nothing, then
    * map every ORIGINAL vertex to its top-level community. Labels stay
    * min-member ids at every level, so the composed mapping is itself a
    * min-member labeling of the final partition — closed-form-testable and
    * engine/partitioning independent like the single level.
    *
    * Each level's label table is super-vertex-sized and the composition
    * join is original-vertex-sized — no state ever exceeds the input, and
    * the contracted graphs shrink geometrically, so the level loop is a
    * bounded driver gate exactly like every other delta iteration here.
    */
  def louvain(edges: DataFrame, maxLevels: Int = 12,
      maxRounds: Int = 40): DataFrame = {
    var g = edges.select(col("src"), col("dst"), col("w"))
    var mapping: DataFrame = null // original id -> current super-vertex
    var level = 0
    var done = false
    while (!done) {
      require(level < maxLevels,
        s"louvain: still contracting after $maxLevels levels")
      // labels and g are each referenced more than once downstream —
      // stats-rebased checkpoints (see Dataflow.checkpointRebased)
      val labels = graft.core.Dataflow.checkpointRebased(
        localMoving(g, maxRounds))
      val merged = labels.filter(col("id") =!= col("community")).count()
      mapping =
        if (mapping == null) labels
        else graft.core.Dataflow.checkpointRebased(
          mapping.select(col("id"), col("community").as("sv"))
            .join(labels.select(col("id").as("sv"),
              col("community")), Seq("sv"))
            .select(col("id"), col("community")))
      // a level where every vertex stays its own singleton community is
      // the global fixpoint — no coarser partition improves modularity
      if (merged == 0L) done = true
      else {
        g = graft.core.Dataflow.checkpointRebased(contract(g, labels))
        level += 1
      }
    }
    mapping
  }
}

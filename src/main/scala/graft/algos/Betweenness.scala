package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.LinkGraph
import graft.engine.{LocalStore, Superstep}

/** Distance-bounded Brandes betweenness centrality from a landmark set —
  * the standard sampled approximation (Brandes & Pich 2007) with the
  * radius additionally capped (k-betweenness), the same bounded-radius
  * discipline the harmonic-centrality query uses.
  *
  * Forward phase: level-synchronized BFS over the undirected simple graph
  * tracking σ(s,v), the number of shortest s→v paths — σ of a vertex
  * first reached at level t is the SUM of σ over its level-(t−1)
  * neighbors (the shortest-path DAG of an unweighted graph only has
  * edges between consecutive levels). Same delta-iteration shape as
  * [[Neighborhood.landmarkBalls]]: per-round shuffle volume tracks the
  * wavefront, not |seeds|·V.
  *
  * Backward phase: dependency accumulation δ(v) = Σ_{w ∈ succ(v)}
  * σ(v)/σ(w) · (1 + δ(w)), processed by DESCENDING level — exactly
  * maxT bounded rounds. All arithmetic is 64-bit integer: δ is kept in
  * q6 fixed point and every edge term is floored once,
  * `(σ_v · (1e6 + δ_w)) DIV σ_w`, so per-vertex sums are order- and
  * engine-free (the lmPerplexity per-term rule, in integers). The floor
  * makes this a deterministic fixed-point variant of Brandes' real-valued
  * recursion; each term's error is < 1e-6.
  *
  * Overflow: terms need σ_v·(1e6 + δ_w) < 2^63; with the radius capped at
  * small maxT, σ is degree^maxT-bounded — far below 2^43 on real link
  * graphs at maxT = 3 (asserted by the spec on the gate graph).
  *
  * Returns (id, bc_q6): Σ over landmarks s ≠ v of δ_s(v), vertices with a
  * nonzero total only.
  */
object Betweenness {

  def bounded(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxT: Int): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val und = LinkGraph.undirected(edges).select("src", "dst").distinct()
      .repartition(parts, col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- forward: per-level frontiers with path counts ------------------
      // state (seed, id, dist, sigma, delta): delta = 1.0 for the pairs first
      // reached last round — the level being expanded
      val init = seeds.select(col("id").as("seed"), col("id"),
        lit(0).as("dist"), lit(1L).as("sigma"), lit(1.0).as("delta"))
      def step(state: DataFrame, t: Int): DataFrame = {
        val frontier = state.filter(col("delta") > 0)
        val cand = frontier.join(und, frontier("id") === und("src"))
          .groupBy(col("seed"), und("dst").as("id"))
          .agg(sum(col("sigma")).as("nsigma"))
        state.join(cand, Seq("seed", "id"), "full_outer")
          .select(col("seed"), col("id"),
            coalesce(col("dist"), lit(t)).as("dist"),
            coalesce(col("sigma"), col("nsigma")).as("sigma"),
            when(col("dist").isNull, 1.0).otherwise(0.0).as("delta"))
      }
      val res = Superstep.run(init, step, tol = 0.0, maxIters = maxT,
        new LocalStore)
      // the last round reached nothing iff the BFS exhausted before maxT
      val depth = if (res.converged) res.supersteps - 1 else res.supersteps
      val levels = (0 to depth).map(t => res.state.filter(col("dist") === t)
        .select("seed", "id", "dist", "sigma"))

      // ---- backward: dependency accumulation, deepest level first ---------
      // δ starts at 0 on the deepest frontier; level t−1 vertices collect
      // one floored integer term per shortest-path-DAG edge into level t.
      var acc: DataFrame = null // (seed, id, delta) for levels processed
      var deltaAtT = levels.last.select(col("seed"), col("id"),
        col("sigma"), lit(0L).as("delta"))
      for (lvl <- levels.size - 1 to 1 by -1) {
        val prev = levels(lvl - 1)
        val contrib = deltaAtT.as("w")
          .join(und, col("w.id") === und("dst"))
          .select(col("w.seed").as("seed"), und("src").as("id"),
            col("w.sigma").as("ws"), col("w.delta").as("wd"))
          .join(prev.select(col("seed"), col("id"),
            col("sigma").as("vs")), Seq("seed", "id"))
          .groupBy(col("seed"), col("id"))
          .agg(sum(expr("(vs * (1000000 + wd)) DIV ws")).as("delta"))
        val prevDelta = prev.select(col("seed"), col("id"), col("sigma"))
          .join(contrib, Seq("seed", "id"), "left")
          .select(col("seed"), col("id"), col("sigma"),
            coalesce(col("delta"), lit(0L)).as("delta"))
          .localCheckpoint(true)
        acc = if (acc == null) deltaAtT.select("seed", "id", "delta")
          else acc.unionByName(deltaAtT.select("seed", "id", "delta"))
        deltaAtT = prevDelta
      }
      // deltaAtT now holds the level-0 (seed) rows — Brandes discards δ(s,s)
      if (acc == null) // maxT reached nothing: no betweenness mass
        seeds.select(col("id"), lit(0L).as("bc_q6")).limit(0)
      else acc.filter(col("seed") =!= col("id"))
        .groupBy(col("id")).agg(sum(col("delta")).as("bc_q6"))
        .filter(col("bc_q6") > 0)
    } finally und.unpersist(false)
  }
}

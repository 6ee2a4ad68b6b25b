package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{LocalStore, Superstep}

/** Luby's maximal-independent-set algorithm (Luby 1986), the third member
  * of the fixed-random-priority family next to [[Coloring]] (Jones–
  * Plassmann is "Luby + mex"; Louvain's singleton seeding uses the same
  * contest): each round, every still-active vertex whose priority beats
  * all of its still-active neighbors' joins the MIS, then it AND its
  * neighbors leave the active set. O(log n) rounds expected; the result
  * is independent (two winners are never adjacent — one would out-rank
  * the other) and maximal (a vertex only leaves the active set when it
  * or a neighbor is selected).
  *
  * Determinism is the Coloring contract: priority = (Lehmer hash << 32 |
  * id), unique and engine-portable, fixed across rounds, so the selected
  * set and each member's selection round are bit-identical across
  * engines and partitionings — the DuckDB oracle replays the loop as
  * unrolled CTEs, rounds past the fixpoint idempotent (empty winner
  * frontier, unchanged active set).
  *
  * Scale shape per round: one edges ⋈ active join for the neighborhood
  * priority max (map-side combinable), one frontier-sized neighbor
  * expansion for the removal set, one left join that deactivates it in
  * the [[graft.engine.Superstep.run]] state — and unlike
  * coloring, each round removes winners PLUS their whole neighborhoods,
  * so the active set collapses geometrically even on hub-heavy graphs
  * (a hub leaves the moment any neighbor wins; it never waits out its
  * degree the way JP's random-priority contest makes it wait).
  *
  * Output: (id, mis_round) for MIS members only, mis_round ≥ 1.
  */
object Mis {

  def luby(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): DataFrame = run(edges, maxRounds, seed).state

  /** Luby's rounds on [[Superstep.run]]; the result's state is
    * (id, mis_round) for MIS members and its metrics count the still-active
    * vertices per round. Fails loudly when `maxRounds` rounds leave a
    * vertex active.
    */
  def run(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): Superstep.RunResult = {
    val und = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pri = (GraphOps.lehmerHash(col("id"), lit(0L), seed) *
      4294967296L + (col("id") % 4294967296L)).as("pri")
    // state (id, pri, mis_round, delta): mis_round is set when the vertex
    // joins the MIS; delta = 1.0 while it is still active
    val init = und.select(col("src").as("id")).distinct()
      .select(col("id"), pri, lit(null).cast("long").as("mis_round"),
        lit(1.0).as("delta"))

    def step(state: DataFrame, round: Int): DataFrame = {
      val active = state.filter(col("delta") > 0)
      val nbrMax = und
        .join(active.select(col("id").as("dst"), col("pri").as("np")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(max(col("np")).as("maxnp"))
      val winners = active.join(nbrMax, Seq("id"), "left")
        .filter(col("maxnp").isNull || col("pri") > col("maxnp"))
        .select(col("id"))
      // neighbors of winners, probed on dst like nbrMax (und is symmetric)
      // so both joins share one plan of the edge side
      val removed = winners
        .unionAll(und
          .join(winners.select(col("id").as("dst")), Seq("dst"))
          .select(col("src").as("id")))
        .distinct()
        .select(col("id"), lit(true).as("gone"))
      state
        .join(winners.select(col("id"), lit(round.toLong).as("won")),
          Seq("id"), "left")
        .join(removed, Seq("id"), "left")
        .select(col("id"), col("pri"),
          coalesce(col("mis_round"), col("won")).as("mis_round"),
          when(col("delta") > 0 && col("gone").isNull, 1.0)
            .otherwise(0.0).as("delta"))
    }

    val res =
      try Superstep.run(init, step, tol = 0.0, maxIters = maxRounds,
        new LocalStore)
      finally und.unpersist(false)
    require(res.converged, s"luby: not done after $maxRounds rounds")
    res.copy(state = res.state.filter(col("mis_round").isNotNull)
      .select("id", "mis_round"))
  }
}

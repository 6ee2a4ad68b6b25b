package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{LocalStore, Superstep}

/** Jones–Plassmann greedy graph coloring (Jones & Plassmann 1993): each
  * round, every uncolored vertex whose FIXED random priority beats all of
  * its uncolored neighbors' takes the smallest color unused by its
  * already-colored neighbors. Independent winners per round (a priority
  * local maximum has no winning neighbor), so the coloring is proper by
  * construction and uses ≤ Δ+1 colors; expected O(log n / log log n)
  * rounds on bounded-degree graphs.
  *
  * Determinized the Louvain-MIS way: priority = (Lehmer hash << 32 | id)
  * — unique, engine-portable, FIXED across rounds (JP uses one random
  * permutation, unlike Louvain's per-round re-salt). The mex is computed
  * on the collected colored-neighbor color set (bounded by degree), so
  * every step is exact integer arithmetic and the full coloring is
  * bit-identical across engines and partitionings.
  *
  * Scale shape per round: one edges⋈uncolored join for the neighborhood
  * priority max, one edges⋈colored join for the used-color sets (both
  * map-side combinable aggregates), one left join folding the winners'
  * colors into the state — the PageRank-superstep family on
  * [[graft.engine.Superstep.run]].
  *
  * [[jonesPlassmannLdf]] is the largest-degree-first variant (Hasenplaugh
  * et al., SPAA'14 "Ordering heuristics for parallel graph coloring"): the
  * round count of random-priority JP on hub-heavy power-law graphs scales
  * with the hub degree spread (a hub wins its contest only after nearly
  * every neighbor is colored — measured 12.4 K edges/s at 22 M edges,
  * BENCH.md). LDF priority = (degree, hash, id) lexicographic, encoded as
  * one exact decimal(38,0) ≤ 2^98 so the winner max/compare stays a plain
  * numeric aggregate in both engines (the long would overflow): hubs color
  * in the first rounds and the million-vertex low-degree classes — whose
  * neighbors are mostly those hubs — finish right behind them. Same
  * properness/≤Δ+1 guarantees, same determinism (the hash and id break
  * within-degree ties, unique because id is).
  */
object Coloring {

  def jonesPlassmann(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): DataFrame =
    run(edges, maxRounds, seed, largestFirst = false).state

  def jonesPlassmannLdf(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): DataFrame =
    run(edges, maxRounds, seed, largestFirst = true).state

  /** The coloring on [[Superstep.run]]; the result's state is (id, color)
    * and its metrics count the still-uncolored vertices per round. Fails
    * loudly when `maxRounds` rounds leave a vertex uncolored.
    */
  def run(edges: DataFrame, maxRounds: Int, seed: Long,
      largestFirst: Boolean): Superstep.RunResult = {
    val und = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hashPri = GraphOps.lehmerHash(col("id"), lit(0L), seed) *
      4294967296L + (col("id") % 4294967296L)
    val dec = "decimal(38,0)"
    val pri =
      if (largestFirst) und.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .select(col("id"),
          (col("deg").cast(dec) *
            lit(new java.math.BigDecimal("9223372036854775808")) +
            hashPri.cast(dec)).as("pri"))
      else und.select(col("src").as("id")).distinct()
        .select(col("id"), hashPri.as("pri"))
    // state (id, pri, color, delta): color is null and delta = 1.0 while
    // the vertex is still uncolored
    val init = pri.select(col("id"), col("pri"),
      lit(null).cast("long").as("color"), lit(1.0).as("delta"))

    def step(state: DataFrame, iter: Int): DataFrame = {
      val uncol = state.filter(col("delta") > 0)
      val nbrMax = und
        .join(uncol.select(col("id").as("dst"), col("pri").as("np")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(max(col("np")).as("maxnp"))
      val winners = uncol.join(nbrMax, Seq("id"), "left")
        .filter(col("maxnp").isNull || col("pri") > col("maxnp"))
        .select(col("id"))
      val used = und
        .join(state.filter(col("color").isNotNull)
          .select(col("id").as("dst"), col("color")), Seq("dst"))
        .join(winners.select(col("id").as("src")), Seq("src"))
        .groupBy(col("src").as("id"))
        .agg(collect_set(col("color")).as("used"))
      // mex: the smallest value in 0..|used| missing from used — exact,
      // tiny per-vertex arrays (bounded by degree), identical in DuckDB
      val emptyU = expr("CAST(array() AS ARRAY<BIGINT>)")
      val newly = winners.join(used, Seq("id"), "left")
        .select(col("id"), coalesce(
          array_min(filter(
            sequence(lit(0L),
              size(coalesce(col("used"), emptyU)).cast("long")),
            x => !array_contains(coalesce(col("used"), emptyU), x))),
          lit(0L)).as("ncolor"))
      state.join(newly, Seq("id"), "left")
        .select(col("id"), col("pri"),
          coalesce(col("color"), col("ncolor")).as("color"))
        .withColumn("delta", when(col("color").isNull, 1.0).otherwise(0.0))
    }

    val res =
      try Superstep.run(init, step, tol = 0.0, maxIters = maxRounds,
        new LocalStore)
      finally und.unpersist(false)
    require(res.converged,
      s"jonesPlassmann: not done after $maxRounds rounds")
    res.copy(state = res.state.select("id", "color"))
  }
}

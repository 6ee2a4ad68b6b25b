package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Dataflow
import graft.engine.{LocalStore, Superstep}

/** k-truss — the edge-centric cohesion analog of k-cores (beyond the
  * reference's app set, which peels vertices but not edges): the maximal
  * subgraph in which every edge closes at least k−2 triangles *within the
  * subgraph*. Computed by support peeling: count each edge's triangles,
  * drop edges below k−2, recount on the survivors, repeat to fixpoint.
  *
  * Scale shape: each round is [[TriangleCount]]'s degree-oriented adjacency
  * intersection (work Σ min-degree, degeneracy-bounded arrays — the plan
  * already measured linear at 176 M edges) over a monotonically SHRINKING
  * edge set, plus one left-join filter; support attribution is a 3×union +
  * map-side-combinable count. Rounds are data-dependent (each removes ≥ 1
  * edge or stops), so like SCC's peel the loop fails loudly on a round
  * budget instead of spinning silently. State is lineage-truncated per
  * round (constant-size plan).
  */
object Truss {

  /** Per-edge triangle support over canonical (u < v) edges.
    * Returns ((u, v, supp), orientedHandleToUnpersist).
    */
  private def support(und: DataFrame): (DataFrame, DataFrame) = {
    val oriented = TriangleCount.orientByDegree(und)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val adj = oriented.groupBy(col("a").as("id"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val tris = oriented
      .join(adj.select(col("id").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("id").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a").as("x"), col("b").as("y"),
        explode(array_intersect(col("na"), col("nb"))).as("z"))
    def pair(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      tris.select(least(p, q).as("u"), greatest(p, q).as("v"))
    val supp = pair(col("x"), col("y"))
      .unionAll(pair(col("x"), col("z")))
      .unionAll(pair(col("y"), col("z")))
      .groupBy("u", "v").agg(count(lit(1)).as("supp"))
    (supp, oriented)
  }

  /** One peel round over canonical (u < v) edges: recount support, keep
    * edges with supp >= k−2. Returns a materialized (lineage-truncated)
    * frame; the round's persisted orientation is released before returning.
    */
  def kTrussRound(cur: DataFrame, k: Int): DataFrame = {
    val (supp, oriented) = support(cur)
    val next = Dataflow.checkpointRebased(
      cur.join(supp, Seq("u", "v"), "left")
        .filter(coalesce(col("supp"), lit(0L)) >= k - 2)
        .select("u", "v"))
    oriented.unpersist(false)
    next
  }

  /** Decremental k-truss (VERDICT r4 #5): support is counted ONCE (the
    * same degree-oriented pass as [[kTruss]]'s first round), then each
    * peel round lists ONLY the triangles touching that round's removed
    * edges and subtracts them from the survivors' supports, maintaining
    * the invariant supp(e) = triangles of e within the current edge set —
    * so the fixpoint is identical to the recount plan's (MoreAlgosSpec
    * asserts set equality; the shared unrolled oracle pins both).
    *
    * Scale shape per round: a map-side-combinable degree count, then each
    * removed edge expands from its LOWER-degree endpoint (Σ min-deg rows —
    * the oriented-intersection work bound, as relational joins: no
    * adjacency arrays, so hubs never build giant collect_lists) and the
    * wedge closes against the current edge set with one hash join. Work is
    * proportional to the REMOVED edges' triangle neighborhoods + an O(E)
    * scan, where the recount plan pays the full Σ_E min-deg intersection
    * every round. Small removal batches broadcast (the batch size is the
    * previous superstep's active count, so round 1's batch — its size
    * unknown without an extra job — never does). BENCH.md records the
    * measured A/B at 22 M edges.
    */
  def kTrussDecremental(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 200): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val e0 = TriangleCount.canonicalEdges(edges).localCheckpoint(true)
    val (supp0, o0) = support(e0)
    // state (u, v, supp, delta): delta = 1.0 marks the edges below k−2 —
    // this round's removal batch
    def weak(supp: Column): Column = when(supp < k - 2, 1.0).otherwise(0.0)
    val init = e0.join(supp0, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("supp"), lit(0L)).as("supp"))
      .withColumn("delta", weak(col("supp")))
    val store = new LocalStore
    def step(cur: DataFrame, iter: Int): DataFrame = {
      // the previous round's active count is this round's batch size
      val nRemoved = store.metrics.lastOption.fold(Long.MaxValue)(_.active)
      val removed = cur.filter(col("delta") > 0).select("u", "v")
      val und = cur.select(col("u").as("a"), col("v").as("b"))
        .unionAll(cur.select(col("v").as("a"), col("u").as("b")))
      val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      // expand each removed edge from its lower-(degree, id) endpoint
      val lower = struct(col("du"), col("u")) <= struct(col("dv"), col("v"))
      val rdeg = removed
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"),
          when(lower, col("u")).otherwise(col("v")).as("lo"),
          when(lower, col("v")).otherwise(col("u")).as("hi"))
      val rdegH = if (nRemoved <= 1000000L) broadcast(rdeg) else rdeg
      val tris = rdegH
        .join(und.select(col("a").as("lo"), col("b").as("w")), "lo")
        .filter(col("w") =!= col("hi"))
        .join(und.select(col("a").as("hi"), col("b").as("w")), Seq("hi", "w"))
        .select(col("u"), col("v"), col("w"))
      // canonical triangle id, deduping triangles hit by 2-3 removed edges
      // (mid = sum − min − max: exact while ids stay below ~2^62/3, far
      // above any vertex-id space this engine derives)
      val tri = tris.select(
          least(col("u"), col("v"), col("w")).as("x"),
          (col("u") + col("v") + col("w")
            - least(col("u"), col("v"), col("w"))
            - greatest(col("u"), col("v"), col("w"))).as("y"),
          greatest(col("u"), col("v"), col("w")).as("z"))
        .distinct()
      val dec = tri.select(col("x").as("u"), col("y").as("v"))
        .unionAll(tri.select(col("x").as("u"), col("z").as("v")))
        .unionAll(tri.select(col("y").as("u"), col("z").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("dec"))
      cur.filter(col("delta") === 0)
        .join(dec, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("supp") - coalesce(col("dec"), lit(0L))).as("supp"))
        .withColumn("delta", weak(col("supp")))
    }
    val res =
      try Superstep.run(init, step, tol = 0.0, maxIters = maxRounds, store)
      finally o0.unpersist(false)
    if (!res.converged) throw new IllegalStateException(
      s"k-truss did not converge in $maxRounds peel rounds")
    res.state.select("u", "v")
  }

  /** Edges (u, v) of the k-truss of the undirected view of `edges`. */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var cur = TriangleCount.canonicalEdges(edges).localCheckpoint(true)
    var n = cur.count()
    var round = 0
    var done = n == 0L
    while (!done) {
      if (round >= maxRounds) throw new IllegalStateException(
        s"k-truss did not converge in $maxRounds peel rounds")
      val next = kTrussRound(cur, k)
      val m = next.count()
      done = m == n
      cur = next
      n = m
      round += 1
    }
    cur
  }

  /** Unrolled ANSI-SQL oracle for [[kTruss]] (DuckDB-runnable): `rounds`
    * peel rounds — enough to cover the engine's measured fixpoint; peeling
    * is idempotent after convergence, so extra rounds are harmless (and the
    * engine's own `maxRounds` fails loudly if data drift ever needs more).
    */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""t$r AS MATERIALIZED (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e${r - 1} e1
         |  JOIN e${r - 1} e2 ON e2.u = e1.v
         |  JOIN e${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
         |s$r AS MATERIALIZED (
         |  SELECT u, v, COUNT(*) AS supp FROM (
         |    SELECT x AS u, y AS v FROM t$r
         |    UNION ALL SELECT x, z FROM t$r
         |    UNION ALL SELECT y, z FROM t$r)
         |  GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v
         |  WHERE COALESCE(s.supp, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |$edgesSql
       |),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |$roundCtes
       |SELECT u, v FROM e$rounds ORDER BY u, v""".stripMargin
  }
}

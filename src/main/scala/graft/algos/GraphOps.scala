package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.engine.{LocalStore, Superstep}

/** Smaller reference apps: bond percolation, k-hop subgraph extraction,
  * degree distribution, weighted/seeded label propagation
  * (/root/reference/toolkits/graph_analytics/{bond_percolation.cpp,
  * subgraph.cpp, label_propagation.cpp}).
  */
object GraphOps {

  /** Bond percolation (bond_percolation.cpp:72-160): keep each undirected
    * edge "open" independently with probability p (deterministic seeded
    * hash), then find connected components over open edges. Returns
    * (id, label) over ALL vertices (closed-off vertices keep own id).
    */
  /** Deterministic per-edge keep decision: two-round Lehmer hash of
    * (src, dst, seed) — pure 64-bit integer arithmetic so the DuckDB oracle
    * computes the identical open-edge set (xxhash64 is Spark-only).
    * Ids are reduced mod P before the multiplies, so every intermediate stays
    * below 2^63 for ANY non-negative long id (ADVICE r2: the unreduced form
    * silently wrapped negative above src ≈ 3.5e9, biasing the keep decision
    * in Spark while DuckDB errored).
    */
  /** The integer Lehmer core of [[edgeKeepFrac]] — also the deterministic
    * ranking key for the sampling operators ([[Sampling]]): uniform in
    * [0, P), identical arithmetic in Spark and DuckDB.
    */
  def lehmerHash(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column = {
    val P = 2147483647L
    ((a % P) * lit(2654435761L) + (b % P) * lit(40503L) + lit(seed % P)) %
      P * 48271L % P
  }

  def edgeKeepFrac(src: org.apache.spark.sql.Column,
      dst: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    lehmerHash(src, dst, seed).cast("double") / 2147483647L.toDouble

  def bondPercolation(spark: SparkSession, edges: DataFrame, p: Double,
      seed: Long = 42L): DataFrame = {
    val open = edges.filter(edgeKeepFrac(col("src"), col("dst"), seed) < p)
    val allVerts = LinkGraph.vertices(edges)
    // percolation can leave long thin components — give the fixpoint room
    val res = ConnectedComponents.run(spark,
      open.select(col("src"), col("dst"), lit(1.0).as("weight")),
      maxIters = 500)
    require(res.converged, "bond percolation CC did not converge")
    val labels = res.state.select("id", "label")
    allVerts.join(labels.withColumnRenamed("id", "lid"),
      allVerts("id") === col("lid"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Self-terminating DuckDB oracle for [[bondPercolation]]: same arithmetic
    * keep rule, then hash-min CC to fixpoint via a recursive CTE.
    */
  def bondPercolationOracleSql(edgesSql: String, p: Double,
      seed: Long = 42L): String =
    s"""WITH RECURSIVE edges AS MATERIALIZED (
       |$edgesSql
       |),
       |open AS MATERIALIZED (
       |  SELECT src, dst FROM edges
       |  WHERE CAST(((src % 2147483647) * 2654435761
       |              + (dst % 2147483647) * 40503 + (${seed % 2147483647L}))
       |          % 2147483647 * 48271 % 2147483647 AS DOUBLE)
       |        / 2147483647.0 < $p),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM open UNION ALL SELECT dst, src FROM open)),
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |cc AS (
       |  SELECT id, id AS label, CAST(1 AS BIGINT) AS chg, 0 AS iter FROM verts
       |  UNION ALL
       |  SELECT id, label, chg, iter FROM (
       |    SELECT s.id, LEAST(s.label, COALESCE(m.ml, s.label)) AS label,
       |           CASE WHEN COALESCE(m.ml, s.label) < s.label
       |                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS chg,
       |           s.iter + 1 AS iter,
       |           MAX(s.chg) OVER () AS anychg
       |    FROM cc s LEFT JOIN (
       |      SELECT u.dst AS id, MIN(l.label) AS ml
       |      FROM und u JOIN cc l ON l.id = u.src GROUP BY 1) m ON m.id = s.id
       |  ) WHERE anychg = 1)
       |SELECT id, label FROM cc
       |WHERE iter = (SELECT MAX(iter) FROM cc) ORDER BY id""".stripMargin

  /** k-hop undirected subgraph extraction from a seed set (subgraph.cpp):
    * BFS frontier for at most `hops` supersteps (stopping early once no new
    * vertex is reached); returns the induced edge set.
    */
  def kHopSubgraph(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame = {
    val und = LinkGraph.undirected(edges).select("src", "dst").distinct()
      .localCheckpoint(true)
    // state (id, delta): delta = 1.0 for vertices first reached last round
    val init = seeds.select(col("id")).distinct().withColumn("delta", lit(1.0))
    def step(state: DataFrame, iter: Int): DataFrame = {
      val frontier = state.filter(col("delta") > 0).select(col("id").as("src"))
      val hit = und.join(frontier, Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
      state.join(hit, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("delta").isNull, 1.0).otherwise(0.0).as("delta"))
    }
    val reached = Superstep.run(init, step, tol = 0.0, maxIters = hops,
      new LocalStore).state.select("id")
    edges
      .join(reached.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(reached.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
  }

  /** Degree distribution: (deg, n_vertices) — the degree-histogram report. */
  /** Single-source shortest paths over the weighted DIRECTED edges —
    * Bellman-Ford as a delta iteration: each round relaxes only the
    * out-edges of vertices whose distance improved last round (the
    * frontier), merges candidate distances with a min, and stops when no
    * vertex improves. Positive weights guarantee termination; like SCC's
    * peel, the loop fails loudly on a round budget instead of spinning.
    *
    * Scale shape: per-round work = frontier out-degree sum (a semi-join-
    * sized relax, shrinking with the frontier exactly as CC's delta
    * iteration — the measured collapse pattern at 176 M edges), one
    * min-groupBy shuffle per round, state lineage-truncated. Distance
    * arithmetic is IEEE-exact relative to the oracle: both engines add the
    * same weights along the same relaxation paths.
    *
    * @return (id, dist) for vertices reachable from `source`
    */
  def sssp(spark: SparkSession, edges: DataFrame, source: Long,
      maxRounds: Int = 50): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("weight"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // state (id, dist, delta): delta = 1.0 when dist improved last round
      val init = Seq((source, 0.0, 1.0)).toDF("id", "dist", "delta")
      def step(state: DataFrame, iter: Int): DataFrame = {
        val frontier = state.filter(col("delta") > 0)
        val cand = frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id"), (col("dist") + col("weight")).as("nd"))
          .groupBy("id").agg(min("nd").as("nd"))
        // least() skips nulls: vertices without a candidate keep their dist
        state.join(cand, Seq("id"), "full_outer")
          .select(col("id"), least(col("dist"), col("nd")).as("dist"),
            when(col("dist").isNull || col("nd") < col("dist"), 1.0)
              .otherwise(0.0).as("delta"))
      }
      val res = Superstep.run(init, step, tol = 0.0, maxIters = maxRounds,
        new LocalStore)
      if (!res.converged) throw new IllegalStateException(
        s"sssp did not converge in $maxRounds rounds")
      res.state.select("id", "dist")
    } finally e.unpersist(false)
  }

  /** Unrolled DuckDB oracle for [[sssp]]: `rounds` synchronous relaxation
    * rounds (enough to cover the graph's max shortest-path hop count;
    * relaxation is idempotent at the fixpoint, extra rounds are harmless).
    */
  def ssspOracleSql(edgesSql: String, source: Long, rounds: Int,
      roundTo: Int): String = {
    val iter = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, p.dist + e.weight AS dist
         |    FROM edges e JOIN d${k - 1} p ON p.id = e.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |$edgesSql
       |),
       |d0 AS (SELECT CAST($source AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS dist),
       |$iter
       |SELECT id, CAST(FLOOR(dist * 1e$roundTo + 0.5) AS BIGINT)
       |  AS dist_q$roundTo
       |FROM d$rounds ORDER BY id""".stripMargin
  }

  def degreeDistribution(edges: DataFrame): DataFrame =
    LinkGraph.degrees(edges)
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("deg"))

  /** Degree assortativity coefficient (Newman 2002, Eq. 4) over the simple
    * undirected graph: the Pearson correlation of end-vertex degrees over
    * every DIRECTED edge instance. The moment sums are exact 64-bit
    * integers (order-free); the final combination casts each SUM to
    * double BEFORE multiplying — no 64-bit wraparound at any scale, and
    * since both engines combine the same exact integers with the same
    * IEEE operations, the q6 result stays bit-identical. Returns one row
    * (m_directed, r_q6).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val both = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = both.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
    val pairs = both
      .join(deg.select(col("id").as("u"), col("d").as("dj")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dk")), Seq("v"))
    val s = pairs.agg(count(lit(1)).as("m"),
      sum(col("dj") * col("dk")).as("sjk"),
      sum(col("dj")).as("sj"),
      sum(col("dj") * col("dj")).as("sjj"))
    // r = (M·Sjk − Sj²) / (M·Sjj − Sj²); the symmetric doubling makes the
    // j- and k-moments equal, so only the j side is summed
    val (m, sjk, sj, sjj) = (col("m").cast("double"),
      col("sjk").cast("double"), col("sj").cast("double"),
      col("sjj").cast("double"))
    s.select(col("m").as("m_directed"),
      floor((m * sjk - sj * sj) / (m * sjj - sj * sj) * 1e6 + 0.5)
        .cast("long").as("r_q6"))
  }

  /** Weighted, seeded label propagation — the toolkit's label_propagation
    * (label_propagation.cpp:73-103): seed vertices carry frozen one-hot
    * label distributions; every round a non-seed vertex's distribution
    * becomes the weight-normalized mix of its in-neighbors':
    *   pvec(v) = α·pvec(v) + (1−α)·Σ_u w(u,v)·pvec(u) / Σ_u w(u,v)
    * Labels are tracked sparsely as (id, label, p) rows (the dataflow form
    * of the reference's dense per-vertex probability vector).
    *
    * @param seeds (id, label) frozen assignments
    */
  def seededLabelPropagation(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, iters: Int, alpha: Double = 0.0): DataFrame = {
    val seedDist = seeds.select(col("id"), col("label"), lit(1.0).as("p"))
      .localCheckpoint(true)
    val inW = edges.groupBy(col("dst")).agg(sum("weight").as("wsum"))
      .localCheckpoint(true)
    var dist = seedDist
    for (_ <- 1 to iters) {
      val msgs = dist.join(edges, dist("id") === edges("src"))
        .select(col("dst"), col("label"), (col("p") * col("weight")).as("wp"))
        .groupBy(col("dst"), col("label")).agg(sum("wp").as("wp"))
        .join(inW, "dst")
        .select(col("dst").as("id"), col("label"),
          (col("wp") / col("wsum")).as("p"))
      val mixed =
        if (alpha == 0.0) msgs
        else dist.select(col("id"), col("label"), (col("p") * alpha).as("p"))
          .unionAll(msgs.select(col("id"), col("label"),
            (col("p") * (1 - alpha)).as("p")))
          .groupBy("id", "label").agg(sum("p").as("p"))
      // seeds stay frozen; non-seeds adopt the mixed distribution
      dist = seedDist.unionAll(
        mixed.join(seedDist.select(col("id")), Seq("id"), "left_anti"))
        .localCheckpoint(true)
    }
    // hard assignment: most probable label, tie -> larger label
    dist.groupBy("id").agg(
      max_by(col("label"), struct(col("p"), col("label"))).as("label"),
      max("p").as("p"))
  }
}

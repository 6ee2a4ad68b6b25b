package graft.algos

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.LinkGraph
import graft.engine.{LocalStore, Superstep}

/** Neighborhood-function analysis over the link graph — "how many vertices
  * are within t hops?" — the primitive behind effective-diameter and
  * centrality reports on web-scale graphs.
  *
  * Two paths, mirroring the repo's ANN pattern (exact baseline + verified
  * approximate scale path):
  *
  *   - [[landmarkBalls]]: EXACT per-landmark ball sizes via delta-iterated
  *     multi-source BFS. Cost is O(|seeds| · V) state — the right tool for a
  *     bounded landmark set (and the oracle-checkable gate query).
  *   - [[hyperBall]]: the HyperBall algorithm (Boldi & Vigna, "In-Core
  *     Computation of Geometric Centralities with HyperBall", 2013; the
  *     HADI/ANF family): every vertex carries a fixed m-register HyperLogLog
  *     sketch of its ball; a superstep is "take the elementwise max of your
  *     neighbors' registers". State is O(V · m) REGARDLESS of ball sizes, so
  *     the full-graph neighborhood function costs what one CC run costs —
  *     the only shape that works when balls approach V at 100 TB scale.
  *
  * The register merge is an elementwise array max — no Catalyst builtin
  * aggregate does that, so it is a typed JVM [[Aggregator]] (registered via
  * `functions.udaf`): it supports map-side partial aggregation (the shuffle
  * carries one m-int buffer per (partition, dst), not per edge), which is
  * precisely what the explode-to-(id, j, r) pure-builtin form also achieves
  * but with m× the shuffle rows. NeighborhoodSpec proves the Aggregator
  * path row-identical to the explode path ([[mergeViaExplode]]) and the
  * estimates within HLL error of [[landmarkBalls]] ground truth.
  */
object Neighborhood {

  /** Exact ball sizes from a landmark set: (seed, t, n_reached) for every
    * t in 0..maxT, n_reached = |{v : dist(seed, v) <= t}| over the
    * undirected view. Delta iteration on [[Superstep.run]]: the frontier is
    * only the pairs first reached last round, so per-round shuffle volume
    * tracks the BFS wavefront, not |seeds| × V.
    */
  def landmarkBalls(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxT: Int): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val und = LinkGraph.undirected(edges).select("src", "dst").distinct()
      .repartition(parts, col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // state (seed, id, dist, delta): delta = 1.0 for the pairs first reached
    // last round — the BFS wavefront
    val init = seeds.select(col("id").as("seed"), col("id"),
      lit(0).as("dist"), lit(1.0).as("delta"))
    def step(state: DataFrame, t: Int): DataFrame = {
      val frontier = state.filter(col("delta") > 0)
      val cand = frontier.join(und, frontier("id") === und("src"))
        .select(col("seed"), und("dst").as("id")).distinct()
      state.join(cand, Seq("seed", "id"), "full_outer")
        .select(col("seed"), col("id"),
          coalesce(col("dist"), lit(t)).as("dist"),
          when(col("dist").isNull, 1.0).otherwise(0.0).as("delta"))
    }
    val reached =
      try Superstep.run(init, step, tol = 0.0, maxIters = maxT, new LocalStore)
        .state
      finally und.unpersist(false)
    // cumulative counts for EVERY t in 0..maxT (BFS may exhaust early); the
    // per-(seed, dist) table is <= |seeds|·(maxT+1) rows — broadcastable.
    val perDist = reached.groupBy(col("seed"), col("dist"))
      .agg(count(lit(1)).as("c"))
      .select(col("seed").as("pseed"), col("dist"), col("c"))
    val grid = seeds.select(col("id").as("seed"),
      explode(sequence(lit(0L), lit(maxT.toLong))).as("t"))
    grid.join(broadcast(perDist),
        grid("seed") === col("pseed") && col("dist") <= col("t"))
      .groupBy(col("seed"), col("t"))
      .agg(sum("c").as("n_reached"))
  }

  /** SplitMix64 finalizer (Vigna, public domain) — the per-vertex hash
    * feeding the HLL registers; engine-portable pure integer arithmetic.
    */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Elementwise-max of m-register arrays as a typed Aggregator (map-side
    * combinable; buffers mutate in place — Spark owns the buffer instance).
    */
  def regMaxUdaf(spark: SparkSession, m: Int): UserDefinedFunction = {
    import spark.implicits._
    val enc = implicitly[org.apache.spark.sql.Encoder[Array[Int]]]
    val agg = new Aggregator[Array[Int], Array[Int], Array[Int]] {
      def zero: Array[Int] = new Array[Int](m)
      def reduce(b: Array[Int], a: Array[Int]): Array[Int] = {
        var i = 0
        while (i < m) { if (a(i) > b(i)) b(i) = a(i); i += 1 }
        b
      }
      def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = reduce(b1, b2)
      def finish(r: Array[Int]): Array[Int] = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] = enc
      def outputEncoder: org.apache.spark.sql.Encoder[Array[Int]] = enc
    }
    udaf(agg)
  }

  /** The HLL cardinality estimate of a `regs` column (array<int>, length m):
    * raw = alpha_m · m² / Σ 2^-r, with the standard linear-counting
    * small-range correction. Pure column expressions — stays in codegen.
    */
  def estimateCol(regs: Column, m: Int): Column = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    val sumInv = aggregate(regs, lit(0.0),
      (a, r) => a + pow(lit(2.0), -r.cast("double")))
    val zeros = size(filter(regs, r => r === 0))
    val raw = lit(alpha * m * m) / sumInv
    when(raw <= 2.5 * m && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
  }

  /** One register-merge superstep written with builtins only (posexplode →
    * per-register max → re-assemble): m× the shuffle rows of the Aggregator
    * path, used as its correctness oracle in NeighborhoodSpec.
    */
  def mergeViaExplode(withMsgs: DataFrame): DataFrame =
    withMsgs.select(col("id"), posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy("id", "j").agg(max("r").as("r"))
      .groupBy("id").agg(
        transform(array_sort(collect_list(struct(col("j"), col("r")))),
          s => s.getField("r")).as("regs"))

  /** HyperBall: (t, nf_est) for t in 0..maxT, where nf_est estimates
    * N(t) = Σ_v |ball(v, t)| (the neighborhood function) over the undirected
    * view. logM register bits → m = 2^logM registers/vertex → relative
    * standard error ≈ 1.04/√m per ball. Delta-iterated: once a vertex's
    * registers stop changing it leaves the frontier and sends nothing.
    */
  def hyperBall(spark: SparkSession, edges: DataFrame, logM: Int,
      maxT: Int): DataFrame = {
    val m = 1 << logM
    registerStates(spark, edges, logM, maxT).map { case (tt, st) =>
      st.agg(sum(estimateCol(col("regs"), m)).as("nf_est"))
        .select(lit(tt).as("t"), col("nf_est"))
    }.reduce(_ unionAll _)
  }

  /** Per-vertex ball-size estimates (id, t, est) for t in 0..maxT — the
    * series behind [[harmonicEstimate]] (and centrality families generally:
    * closeness/Lin need exactly this table).
    */
  def hyperBallSeries(spark: SparkSession, edges: DataFrame, logM: Int,
      maxT: Int): DataFrame = {
    val m = 1 << logM
    registerStates(spark, edges, logM, maxT).map { case (tt, st) =>
      st.select(col("id"), lit(tt.toLong).as("t"),
        estimateCol(col("regs"), m).as("est"))
    }.reduce(_ unionAll _)
  }

  private def registerStates(spark: SparkSession, edges: DataFrame,
      logM: Int, maxT: Int): Seq[(Int, DataFrame)] = {
    import spark.implicits._
    require(logM >= 4 && logM <= 16, s"logM=$logM out of range")
    val m = 1 << logM
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val und = LinkGraph.undirected(edges).select("src", "dst").distinct()
      .repartition(parts, col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    val init = LinkGraph.vertices(edges).as[Long].map { id =>
      val regs = new Array[Int](m)
      val h = splitmix64(id)
      val j = (h & (m - 1)).toInt
      val w = h >>> logM
      val rho = if (w == 0L) 65 - logM
        else java.lang.Long.numberOfTrailingZeros(w) + 1
      regs(j) = rho
      (id, regs)
    }.toDF("id", "regs")

    val rm = regMaxUdaf(spark, m)
    var state = init.repartition(parts, col("id")).localCheckpoint(true)
    var frontier = state
    val snaps = ArrayBuffer[(Int, DataFrame)]((0, state))
    var t = 1
    while (t <= maxT) {
      if (!frontier.isEmpty) {
        val msgs = frontier.join(und, frontier("id") === und("src"))
          .select(und("dst").as("id"), frontier("regs"))
        val merged = state.unionByName(msgs)
          .groupBy("id").agg(rm(col("regs")).as("regs"))
          .localCheckpoint(true)
        frontier = merged.join(
            state.select(col("id"), col("regs").as("old")), "id")
          .filter(not(col("regs") === col("old")))
          .select("id", "regs").localCheckpoint(true)
        state = merged
      }
      snaps += ((t, state)) // stable state repeats once the frontier empties
      t += 1
    }
    snaps.toSeq
  }

  /** Effective diameter at quantile `alpha` from a neighborhood-function
    * table (t, nf_est): the smallest t whose N(t) reaches alpha of the
    * plateau (non-interpolated integer variant; Boldi-Vigna interpolate
    * between t-1 and t). Returns one row (eff_diameter).
    */
  def effectiveDiameter(nf: DataFrame, alpha: Double = 0.9): DataFrame = {
    val mx = nf.agg(max("nf_est").as("mx"))
    nf.crossJoin(broadcast(mx))
      .filter(col("nf_est") >= col("mx") * alpha)
      .agg(min("t").as("eff_diameter"))
  }

  /** lcm(1..n) — the integer weight base that makes bounded-radius harmonic
    * centrality exactly representable (c·lcm is a sum of integer products).
    */
  def lcmTo(n: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to n.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** EXACT bounded-radius harmonic centrality of the landmark set, scaled
    * by lcm(1..maxT) so every value is an integer both engines compute
    * identically: harmonic_x(seed) = Σ_{t=1..maxT} cnt_t · lcm/t, where
    * cnt_t = |{v : dist(seed,v) = t}| comes from differencing the
    * cumulative [[landmarkBalls]] output. (Unscaled harmonic = x / lcm.)
    */
  def harmonicExactX(balls: DataFrame, maxT: Int): DataFrame = {
    val lcm = lcmTo(maxT)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seed").orderBy("t")
    balls.withColumn("prev", lag("n_reached", 1).over(w))
      .filter(col("t") > 0)
      .groupBy("seed")
      .agg(sum((col("n_reached") - col("prev")) * (lit(lcm) / col("t"))
        .cast("long")).as(s"harmonic_x$lcm"))
  }

  /** Estimated harmonic centrality per vertex from a [[hyperBallSeries]]
    * table: c(v) ≈ Σ_t (est_t - est_{t-1})/t. Ball estimates are clamped
    * monotone (the raw/linear-counting branch switch can dip slightly).
    */
  def harmonicEstimate(series: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("t")
    series.withColumn("prev", lag("est", 1).over(w))
      .filter(col("t") > 0)
      .groupBy("id")
      .agg(sum(greatest(col("est") - col("prev"), lit(0.0)) / col("t"))
        .as("harmonic"))
  }

  /** Lin's index estimate per vertex (the closeness variant that is
    * well-defined on disconnected graphs): reach² / Σ_u dist(v,u), where
    * reach = |ball(v, maxT)| and Σ dist = Σ_t t·(est_t − est_{t−1}) —
    * both read off the same [[hyperBallSeries]] table. Vertices with no
    * within-radius neighbors get the conventional value 1.
    */
  def linIndexEstimate(series: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("t")
    series.withColumn("prev", lag("est", 1).over(w))
      .filter(col("t") > 0)
      .groupBy("id")
      .agg(max("est").as("reach"),
        sum(greatest(col("est") - col("prev"), lit(0.0)) * col("t"))
          .as("sumdist"))
      .select(col("id"),
        when(col("sumdist") > 0, col("reach") * col("reach") / col("sumdist"))
          .otherwise(lit(1.0)).as("lin"))
  }
}

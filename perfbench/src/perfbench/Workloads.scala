package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.algos._
import graft.cf.SvdPlusPlus
import graft.derive.{CodeLakehouse, EdgeDerive}
import graft.engine.Superstep
import graft.frap.{Frap, FrapPipeline, Kernels, ProvGen, WLRelabel}

/** One check of a job's output against an independent computation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: input generation (set-up), the timed job from input
  * parquet to result parquet, and the untimed output checks.
  */
trait Workload {
  def name: String
  /** AQE stays off for the iterative graph jobs, as `graft.jobs.Jobs` runs
    * them, and is on for FRAP and CF.
    */
  def aqe: Boolean
  def generate(spark: SparkSession, seed: Long, in: String): Unit
  /** The timed job. Returns named figures of this repetition. */
  def job(spark: SparkSession, tr: Tracer, in: String, out: String): Map[String, Double]
  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check]
}

object Workload {
  /** Input sizes; `smoke` sizes keep the benchmark's own tests short. */
  def apply(name: String, smoke: Boolean): Workload = name match {
    case "linkgraph" => new LinkGraphJob(if (smoke) 500 else 2000)
    case "loops_frap_cf" =>
      if (smoke) new Sequence("loops_frap_cf", new GraphLoopsJob(200),
        new FrapJob(40, 4, 10), new CfJob(100, 30, 1000))
      else new Sequence("loops_frap_cf", new GraphLoopsJob(2000),
        new FrapJob(100, 10, 12), new CfJob(200, 50, 1000))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private[perfbench] def sink(tr: Tracer, df: DataFrame, path: String): Unit =
    tr.span("sink") { df.write.mode("overwrite").parquet(path) }

  private[perfbench] def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private[perfbench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private[perfbench] def loopStats(algo: String,
      r: Superstep.RunResult): Map[String, Double] = Map(
    s"$algo.rounds" -> r.supersteps.toDouble,
    s"$algo.converged" -> (if (r.converged) 1.0 else 0.0),
    s"$algo.median_round_s" -> median(r.metrics.map(_.wallSec)),
    s"$algo.active_frac" ->
      r.metrics.map(_.active).sum.toDouble / math.max(1L, r.metrics.map(_.rows).sum))

  private[perfbench] def allClose(name: String, got: Map[Long, Double],
      want: Map[Long, Double], atol: Double): Check = {
    val worst = want.map { case (k, v) =>
      got.get(k).map(g => math.abs(g - v)).getOrElse(Double.PositiveInfinity)
    }.maxOption.getOrElse(0.0)
    Check(name, got.size == want.size && worst <= atol,
      s"rows=${got.size}/${want.size} max_abs_diff=$worst")
  }

  private[perfbench] def exact[V](name: String, got: Map[Long, V],
      want: Map[Long, V]): Check = {
    val wrong = want.count { case (k, v) => !got.get(k).contains(v) }
    Check(name, got.size == want.size && wrong == 0,
      s"rows=${got.size}/${want.size} mismatched=$wrong")
  }

  private[perfbench] def longMap[V](df: DataFrame, f: org.apache.spark.sql.Row => V)
      : Map[Long, V] = df.collect().map(r => r.getLong(0) -> f(r)).toMap
}

import Workload._

/** Runs several workloads one after another in one job, each with its own
  * AQE setting, and reports each one's seconds as `<name>.job_s`.
  */
final class Sequence(val name: String, parts: Workload*) extends Workload {
  val aqe = parts.head.aqe
  def generate(spark: SparkSession, seed: Long, in: String): Unit =
    parts.foreach(_.generate(spark, seed, in))
  def job(spark: SparkSession, tr: Tracer, in: String, out: String)
      : Map[String, Double] =
    parts.map { p =>
      spark.conf.set("spark.sql.adaptive.enabled", p.aqe.toString)
      val (stats, sec) = seconds(p.job(spark, tr, in, out))
      stats + (s"${p.name}.job_s" -> sec)
    }.reduce(_ ++ _)
  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check] =
    parts.flatMap(_.check(spark, in, out, stats))
}

/** CodeLakehouse files → EdgeDerive → PageRank to 1e-6 → CC → LPA(5) →
  * triangle total, each result written as parquet.
  */
final class LinkGraphJob(files: Long) extends Workload {
  val name = "linkgraph"
  val aqe = false
  private var oracle: Option[Oracle] = None

  private final class Oracle(val g: Oracles.Graph) {
    val ranks = Oracles.pageRank(g, 1e-6, 200)
    val components = Oracles.components(g)
    val labels = Oracles.labelPropagation(g, 5)
    val triangles = Oracles.triangles(g)
  }

  def generate(spark: SparkSession, seed: Long, in: String): Unit =
    CodeLakehouse.table(spark, files, seed).write.mode("overwrite")
      .parquet(s"$in/lake")

  def job(spark: SparkSession, tr: Tracer, in: String, out: String)
      : Map[String, Double] = {
    import spark.implicits._
    val (edges, nEdges) = tr.span("derive") {
      val e = EdgeDerive.derive(spark.read.parquet(s"$in/lake"))._1
        .persist(StorageLevel.MEMORY_AND_DISK)
      (e, e.count())
    }
    val (pr, prSec) = seconds(tr.superstepLoop("pagerank")(st =>
      PageRank.run(spark, edges, tol = 1e-6, maxIters = 200, store = st)))
    sink(tr, pr.state.select("id", "rank"), s"$out/pagerank")
    val cc = tr.superstepLoop("cc")(st =>
      ConnectedComponents.run(spark, edges, store = st))
    sink(tr, cc.state.select("id", "label"), s"$out/cc")
    val lpa = tr.superstepLoop("lpa")(st =>
      LabelPropagation.run(spark, edges, iters = 5, store = st))
    sink(tr, lpa.state.select("id", "label"), s"$out/lpa")
    val tri = tr.span("triangles") {
      TriangleCount.total(spark, edges).head().getLong(0)
    }
    sink(tr, Seq(tri).toDF("triangles"), s"$out/triangles")
    Map("edges" -> nEdges.toDouble,
      "pagerank.eps" -> nEdges.toDouble * pr.supersteps / prSec) ++
      loopStats("pagerank", pr) ++ loopStats("cc", cc) ++ loopStats("lpa", lpa)
  }

  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check] = {
    val o = oracle.getOrElse {
      val rows = spark.read.parquet(s"$in/lake").select("repo", "path", "content")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val fresh = new Oracle(Oracles.derive(rows.toSeq))
      oracle = Some(fresh)
      fresh
    }
    val read = (p: String) => spark.read.parquet(s"$out/$p")
    val pr = allClose("pagerank", longMap(read("pagerank"), _.getDouble(1)),
      o.ranks, 1e-6)
    val tri = read("triangles").head().getLong(0)
    Seq(
      Check("derive", stats("edges") == o.g.size,
        s"edges=${stats("edges").toLong}/${o.g.size}"),
      pr.copy(ok = pr.ok && stats("pagerank.converged") == 1.0,
        detail = s"${pr.detail} supersteps=${stats("pagerank.rounds").toInt}"),
      exact("cc", longMap(read("cc"), _.getLong(1)), o.components),
      exact("lpa", longMap(read("lpa"), _.getLong(1)), o.labels),
      Check("triangles", tri == o.triangles, s"triangles=$tri/${o.triangles}"))
  }
}

/** Hand-rolled loops on a lakehouse edge table derived in set-up: k-cores,
  * SSSP from a seeded source, minimum spanning forest.
  */
final class GraphLoopsJob(files: Long) extends Workload {
  val name = "graph_loops"
  val aqe = false
  private var source = 0L
  private var oracle: Option[(Map[Long, Int], Map[Long, Double], (Int, Double))] = None

  def generate(spark: SparkSession, seed: Long, in: String): Unit = {
    EdgeDerive.derive(CodeLakehouse.table(spark, files, seed))._1
      .write.mode("overwrite").parquet(s"$in/edges")
    source = Math.floorMod(seed * 0x9E3779B97F4A7C15L, files)
  }

  def job(spark: SparkSession, tr: Tracer, in: String, out: String)
      : Map[String, Double] = {
    val edges = spark.read.parquet(s"$in/edges")
    sink(tr, tr.span("kcores") { KCores.coreness(spark, edges) }, s"$out/kcores")
    sink(tr, tr.span("sssp") { GraphOps.sssp(spark, edges, source) }, s"$out/sssp")
    sink(tr, tr.span("msf") { MinimumSpanningForest.run(spark, edges) }, s"$out/msf")
    Map.empty
  }

  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check] = {
    val (cores, dist, forest) = oracle.getOrElse {
      val rows = spark.read.parquet(s"$in/edges").select("src", "dst", "weight").collect()
      val g = Oracles.Graph(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
        rows.map(_.getDouble(2)))
      val o = (Oracles.coreness(g), Oracles.shortestPaths(g, source),
        Oracles.spanningForest(g))
      oracle = Some(o)
      o
    }
    val read = (p: String) => spark.read.parquet(s"$out/$p")
    val msf = read("msf").select("weight").collect().map(_.getDouble(0))
    Seq(
      exact("kcores", longMap(read("kcores"), _.getLong(1).toInt), cores),
      allClose("sssp", longMap(read("sssp"), _.getDouble(1)), dist, 1e-9),
      Check("msf", msf.length == forest._1 && math.abs(msf.sum - forest._2) <= 1e-6,
        s"edges=${msf.length}/${forest._1} weight=${msf.sum}/${forest._2}"))
  }
}

/** FRAP on a ProvGen corpus: 4 WL rounds, a profile learnt from the first
  * `learn` normal graphs, then the radius test on every graph.
  */
final class FrapJob(normal: Int, abnormal: Int, learn: Int) extends Workload {
  val name = "frap"
  val aqe = true
  private val learnIds = (0 until learn).map(i => f"normal-$i%03d")

  def generate(spark: SparkSession, seed: Long, in: String): Unit =
    ProvGen.corpus(spark, normal, abnormal, seed).write.mode("overwrite")
      .parquet(s"$in/prov")

  def job(spark: SparkSession, tr: Tracer, in: String, out: String)
      : Map[String, Double] = {
    val edges = spark.read.parquet(s"$in/prov")
    val isLearn = col("graph_id").isInCollection(learnIds)
    val (counts, dict, dictSize) = tr.span("frap.wl") {
      val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, 4))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dict = Kernels.dictionary(counts.filter(isLearn))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (counts, dict, dict.count().toInt)
    }
    // the learning half of FrapPipeline.run, distances quantized as there
    val profile = tr.span("frap.learn") {
      val inDict = counts.join(dict.select("label"), "label")
      val dm = Kernels.klMatrix(inDict.filter(isLearn), dictSize).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      def d(a: String, b: String) =
        math.rint((if (a < b) dm((a, b)) else dm((b, a))) * 1e9) / 1e9
      val flat = (for (i <- learnIds.indices; j <- 1 until learnIds.size - i)
        yield d(learnIds(i), learnIds(i + j))).toVector
      val arr = Kernels.countArrays(counts.filter(isLearn), dict, dictSize)
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
      Frap.learnProfileFromDistances(learnIds.map(arr).toVector, flat)
    }
    val (verdicts, monSec) = seconds(tr.span("frap.monitor") {
      FrapPipeline.monitorAtScale(spark, counts, profile, dict, dictSize)
        .localCheckpoint(true)
    })
    sink(tr, verdicts, s"$out/verdicts")
    Map("frap.monitor.graphs_per_s" -> (normal + abnormal) / monSec)
  }

  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check] = {
    val v = spark.read.parquet(s"$out/verdicts").select("graph_id", "within_radius")
      .collect().map(r => r.getString(0) -> r.getBoolean(1))
    val wrong = v.count { case (g, within) => within == g.startsWith("bad-") }
    Seq(Check("frap_verdicts", v.length == normal + abnormal && wrong == 0,
      s"graphs=${v.length}/${normal + abnormal} wrong=$wrong"))
  }
}

/** SVD++ (rank 8, two sweeps) training and prediction on hash-seeded ratings. */
final class CfJob(users: Int, items: Int, ratings: Long) extends Workload {
  val name = "cf"
  val aqe = true
  val rank = 8
  val sweeps = 2
  private var oracle: Option[Map[(Long, Long), Double]] = None

  private def frac(seed: Long, tag: String, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: lit(tag) +: cols): _*), lit(1000003L))
      .cast("double") / 1000003.0

  /** Each user rates `ratings / users` hashed items; a rating is 1..5 from a
    * user bias, an item bias and a pair term.
    */
  def generate(spark: SparkSession, seed: Long, in: String): Unit =
    spark.range(ratings)
      .select((col("id") % users).as("user"),
        pmod(xxhash64(lit(seed), lit("item"), col("id")), lit(items.toLong)).as("item"))
      .dropDuplicates("user", "item")
      .select(col("user"), col("item"),
        (lit(1.0) + floor(lit(4.999) * (lit(0.4) * frac(seed, "u", col("user")) +
          lit(0.4) * frac(seed, "i", col("item")) +
          lit(0.2) * frac(seed, "ui", col("user"), col("item"))))).as("rating"))
      .write.mode("overwrite").parquet(s"$in/ratings")

  def job(spark: SparkSession, tr: Tracer, in: String, out: String)
      : Map[String, Double] = {
    val r = spark.read.parquet(s"$in/ratings")
    val (model, trainSec) = seconds(tr.span("cf.svdpp_train") {
      SvdPlusPlus.train(r, rank = rank, iters = sweeps)
    })
    val preds = tr.span("cf.predict") {
      SvdPlusPlus.predict(model, r.select("user", "item"), r).localCheckpoint(true)
    }
    sink(tr, preds, s"$out/predictions")
    Map("cf.svdpp_train.sweep_s" -> trainSec / sweeps)
  }

  def check(spark: SparkSession, in: String, out: String,
      stats: Map[String, Double]): Seq[Check] = {
    val want = oracle.getOrElse {
      val rows = spark.read.parquet(s"$in/ratings").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      val o = Oracles.svdpp(rows.toSeq, rank, sweeps, lr = 0.1, reg = 0.02)
      oracle = Some(o)
      o
    }
    val got = spark.read.parquet(s"$out/predictions").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val worst = want.map { case (k, v) =>
      got.get(k).map(g => math.abs(g - v) / (1.0 + math.abs(v)))
        .getOrElse(Double.PositiveInfinity)
    }.maxOption.getOrElse(0.0)
    Seq(Check("svdpp_predictions", got.size == want.size && worst <= 1e-6,
      s"rows=${got.size}/${want.size} max_rel_diff=$worst"))
  }
}

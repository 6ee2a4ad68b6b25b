package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: round-5 operators at scale over a parked parquet edge set —
  * clustering coefficient, degree assortativity, bounded betweenness
  * (landmarks = id % 599 == 0, maxT = 3), and Jones-Plassmann coloring.
  * Prints one timing line per operator. Not part of the gate.
  *
  * Usage: dev/run.sh graft.DevRound5Probe parquet:<dir> [ops-csv]
  */
object DevRound5Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args(0).startsWith("parquet:"), "need input")
    val ops = if (args.length > 1) args(1).split(",").toSet
      else Set("assort", "cc", "betweenness", "coloring")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toInt)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/tmp/graft-spark"))
      .config("spark.ui.enabled", false)
      .appName("round5-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.parquet(args(0).drop(8))
      .withColumn("weight", lit(1.0))
    val n = raw.count()
    def timed[T](name: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[round5] $name edges=$n sec=$sec%.1f " +
        f"edges_per_sec=${n / sec}%.0f result=$r")
    }
    if (ops("assort"))
      timed("assortativity") {
        graft.algos.GraphOps.degreeAssortativity(raw).collect().toSeq
      }
    if (ops("cc"))
      timed("clustering_coefficient") {
        graft.algos.TriangleCount.clusteringCoefficient(spark, raw)
          .agg(count(lit(1)), max(col("lcc_q6"))).collect().toSeq
      }
    if (ops("betweenness")) {
      // landmark thinning scales with |V| (Brandes-Pich sampling): the
      // per-landmark cost is one bounded BFS tree, so #landmarks is the
      // budget knob, orthogonal to engine scaling
      val mod = sys.env.getOrElse("SPARK_GRAFT_BC_MOD", "59999").toLong
      timed(s"betweenness_maxT3_mod$mod") {
        val seeds = graft.core.LinkGraph.vertices(raw)
          .filter(col("id") % mod === 0)
        graft.algos.Betweenness.bounded(spark, raw, seeds, maxT = 3)
          .agg(count(lit(1)), max(col("bc_q6"))).collect().toSeq
      }
    }
    if (ops("coloring"))
      timed("jones_plassmann") {
        graft.algos.Coloring.jonesPlassmann(raw, maxRounds = 256)
          .groupBy(col("color")).count().orderBy(col("color"))
          .collect().length
      }
    if (ops("coloring_ldf"))
      timed("jones_plassmann_ldf") {
        val res = graft.algos.Coloring.run(raw, 256, 42L,
          largestFirst = true)
        val colors = res.state.groupBy(col("color")).count()
          .orderBy(col("color")).collect().length
        s"colors=$colors rounds=${res.supersteps}"
      }
    if (ops("mis"))
      timed("luby_mis") {
        val res = graft.algos.Mis.run(raw)
        s"mis_size=${res.state.count()} rounds=${res.supersteps}"
      }
    if (ops("linkpred"))
      // the gate query's cap-64 semantics at scale: candidate volume is
      // the claim under test (bounded by |apexes| * C(cap,2), never
      // degree-squared on the hubs)
      timed("link_prediction_cap64") {
        val sc = graft.algos.LinkPrediction.scores(raw, 64L, 2L)
        s"candidates=${sc.count()}"
      }
    if (ops("pq")) {
      // PQ at vector-corpus scale: 2M synthetic 64-dim vectors (Lehmer
      // grid coordinates), train m=8 x ks=16 codebooks (2 joint Lloyd
      // iterations), encode all, ADC-scan 10 queries for top-5
      val vecs = spark.range(0, 2000000L, 1, 32)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0L), lit(63L)), i =>
            (graft.algos.GraphOps.lehmerHash(col("id"), i, 3L) % 2000L)
              .cast("double") / 1000.0).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val nv = vecs.count()
      timed("pq_adc_2m_vectors") {
        val top = graft.vectors.Pq.adcTopK(vecs,
          vecs.filter(col("vec_id") < 10), scale = 1000, m = 8, ks = 16,
          iters = 2, k = 5).collect()
        s"vectors=$nv topk_rows=${top.length}"
      }
      vecs.unpersist(false)
    }
    if (ops("ivfpq")) {
      // the composed IVFADC path at the same 2M-vector scale: 64 trained
      // coarse cells (2 Lloyd iterations), residual PQ m=8 x ks=16,
      // nprobe=8 (~12.5% of a uniform corpus probed)
      val vecs = spark.range(0, 2000000L, 1, 32)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0L), lit(63L)), i =>
            (graft.algos.GraphOps.lehmerHash(col("id"), i, 3L) % 2000L)
              .cast("double") / 1000.0).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val nv = vecs.count()
      timed("ivfpq_adc_2m_vectors") {
        val top = graft.vectors.Pq.ivfAdcTopK(vecs,
          vecs.filter(col("vec_id") < 10), k = 5, cells = 64,
          cellIters = 2, m = 8, ks = 16, pqIters = 2, nprobe = 8).collect()
        s"vectors=$nv topk_rows=${top.length}"
      }
      vecs.unpersist(false)
    }
    if (ops("nb")) {
      // classifier at corpus scale: synthesize a 2M-doc two-domain
      // corpus (~80M tokens), train on the 80% split, score everything
      val docs = graft.core.Planted.twoDomainDocs(spark, nDocs = 2000000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val nd = docs.count()
      timed("nb_classifier_2m_docs") {
        val feats = graft.text.Classifier.hashedCounts(
          docs.select("doc_id", "text"), 1 << 20)
        val trainL = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("label").as("y"))
        val (w, b) = graft.text.Classifier.trainNb(feats, trainL, 1 << 20)
        val out = graft.text.Classifier.classify(feats, w, b)
          .join(docs.select(col("doc_id"), col("label")), "doc_id")
        val wrong = out.filter(col("pred") =!= col("label")).count()
        s"docs=$nd wrong=$wrong"
      }
      docs.unpersist(false)
    }
    spark.stop()
  }
}

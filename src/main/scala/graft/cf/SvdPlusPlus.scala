package graft.cf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SVD++ — the implicit-feedback factor model of the reference toolkit
  * (/root/reference/toolkits/collaborative_filtering/svdpp.cpp:1-308):
  *
  *   r̂(u,i) = μ + b_u + b_i + q_i · (p_u + |N(u)|^(-1/2) · Σ_{j∈N(u)} y_j)
  *
  * — a genuinely different model from ALS/NMF (the y_j item-implicit
  * factors make every user's representation depend on WHICH items they
  * touched, not just the ratings), and one spark.ml does not ship.
  *
  * Optimizer deviation (documented): the reference runs sequential SGD over
  * ratings (svdpp.cpp:175-215, one update per edge per sweep); a sequential
  * pass does not distribute, so this implementation uses *normalized
  * full-batch gradient descent* — each sweep computes every prediction
  * error with joins, then updates each parameter with the MEAN of its
  * per-rating gradient contributions (mean, not sum, so step size is
  * degree-independent and hot users/items cannot blow up the step). Same
  * objective, same stationary points under the shared regularizer; planted
  * recovery (MlSpec) is the test contract, not SGD bit-parity.
  *
  * All state lives in ONE long-format table (kind, id, f, v) — kind ∈
  * {bu, bi, p, q, y}, bias rows at f = −1 — and each sweep materializes the
  * next state with a SINGLE action: the five update branches share the
  * error subplan, which Spark's exchange reuse computes once. (An earlier
  * shape with seven eager checkpoints per sweep spent minutes per model in
  * Catalyst analysis alone; one action per sweep keeps the same dataflow at
  * ~1 s per sweep.) Updates are equi-join + groupBy aggregations keyed on
  * bounded dimensions — no driver arrays, so user/item/factor counts are
  * bounded by cluster memory only. The implicit term z_u = c_u·Σ y_j is
  * pre-aggregated per sweep from the ratings table (one join + groupBy),
  * as the reference does with its per-vertex neighborhood cache.
  */
object SvdPlusPlus {

  final case class Model(mu: Double, rank: Int, state: DataFrame) {
    def bu: DataFrame = state.filter(col("kind") === "bu")
      .select(col("id").as("user"), col("v").as("b"))
    def bi: DataFrame = state.filter(col("kind") === "bi")
      .select(col("id").as("item"), col("v").as("b"))
    def p: DataFrame = state.filter(col("kind") === "p")
      .select(col("id").as("user"), col("f"), col("v"))
    def q: DataFrame = state.filter(col("kind") === "q")
      .select(col("id").as("item"), col("f"), col("v"))
    def y: DataFrame = state.filter(col("kind") === "y")
      .select(col("id").as("item"), col("f"), col("v"))
  }

  /** Deterministic init in (−0.25, 0.25) from a seeded hash — large enough
    * that the multiplicative q·p warm-up phase (factors must grow from the
    * init scale to O(1) before the interaction term trains) doesn't eat the
    * whole iteration budget (svdpp.cpp:166 uses rand in [0,1) for the same
    * reason).
    */
  private def hinit(tag: String, id: Column, f: Column): Column =
    (pmod(xxhash64(lit(tag), id, f), lit(1000L)).cast("double") / 1000.0
      - 0.5) * 0.5

  /** The state leaf is referenced ~7× multiplicatively per sweep — see
    * [[graft.core.Dataflow.checkpointRebased]] for why plain localCheckpoint
    * melts down here (exponential stats BigIntegers by sweep ~7).
    */
  private def checkpointRebased(df: DataFrame): DataFrame =
    graft.core.Dataflow.checkpointRebased(df)

  /** Train on (user, item, rating). */
  def train(ratings: DataFrame, rank: Int = 4, iters: Int = 30,
      lr: Double = 0.1, reg: Double = 0.02): Model = {
    val spark = ratings.sparkSession
    val r = ratings.select(col("user").cast("long").as("user"),
      col("item").cast("long").as("item"),
      col("rating").cast("double").as("rating"))
      .localCheckpoint(true)
    val mu = r.agg(avg("rating")).head().getDouble(0)
    val fs = spark.range(rank).select(col("id").cast("int").as("f"))
    val users = r.select("user").distinct()
    val items = r.select("item").distinct()
    // implicit-feedback normalizer c_u = |N(u)|^(-1/2) (svdpp.cpp:186)
    val cu = r.groupBy("user").agg(
      (lit(1.0) / sqrt(count(lit(1)))).as("c")).localCheckpoint(true)

    def rows(kind: String, ids: DataFrame, idCol: String,
        v: Column, withF: Boolean) = {
      val base = if (withF) ids.crossJoin(fs) else ids.select(col(idCol),
        lit(-1).as("f"))
      base.select(lit(kind).as("kind"), col(idCol).as("id"), col("f"),
        v.as("v"))
    }
    var state = rows("bu", users, "user", lit(0.0), withF = false)
      .unionAll(rows("bi", items, "item", lit(0.0), withF = false))
      .unionAll(rows("p", users, "user",
        hinit("p", col("user"), col("f")), withF = true))
      .unionAll(rows("q", items, "item",
        hinit("q", col("item"), col("f")), withF = true))
      .unionAll(rows("y", items, "item", lit(0.0), withF = true))
      .localCheckpoint(true)

    for (_ <- 1 to iters) {
      val bu = state.filter(col("kind") === "bu")
        .select(col("id").as("user"), col("v").as("bub"))
      val bi = state.filter(col("kind") === "bi")
        .select(col("id").as("item"), col("v").as("bib"))
      val p = state.filter(col("kind") === "p")
        .select(col("id").as("user"), col("f"), col("v"))
      val q = state.filter(col("kind") === "q")
        .select(col("id").as("item"), col("f"), col("v").as("qv"))
      val y = state.filter(col("kind") === "y")
        .select(col("id").as("item"), col("f"), col("v").as("yv"))

      // z_u = c_u · Σ_{j∈N(u)} y_j, then pz = p + z (the reference's cached
      // neighborhood sum, svdpp.cpp:181-190)
      val zu = r.select("user", "item").join(y, "item")
        .groupBy("user", "f").agg(sum("yv").as("sy"))
        .join(cu, "user")
        .select(col("user"), col("f"), (col("sy") * col("c")).as("z"))
      val pz = p.join(zu, Seq("user", "f"), "left")
        .select(col("user"), col("f"),
          (col("v") + coalesce(col("z"), lit(0.0))).as("pz"))
      // e(u,i) = r − (μ + b_u + b_i + q_i·(p_u+z_u))
      val dot = r.select("user", "item").join(q, "item")
        .join(pz, Seq("user", "f"))
        .groupBy("user", "item").agg(sum(col("qv") * col("pz")).as("dot"))
      val e = r.join(dot, Seq("user", "item"))
        .join(bu, "user").join(bi, "item")
        .select(col("user"), col("item"),
          (col("rating") - lit(mu) - col("bub") - col("bib") - col("dot"))
            .as("e"))

      def upd(kind: String, grads: DataFrame): DataFrame =
        state.filter(col("kind") === kind)
          .join(grads, Seq("id", "f"), "left")
          .select(col("kind"), col("id"), col("f"),
            (col("v") + lit(lr) * (coalesce(col("g"), lit(0.0))
              - lit(reg) * col("v"))).as("v"))

      val gbu = e.groupBy(col("user").as("id")).agg(avg("e").as("g"))
        .select(col("id"), lit(-1).as("f"), col("g"))
      val gbi = e.groupBy(col("item").as("id")).agg(avg("e").as("g"))
        .select(col("id"), lit(-1).as("f"), col("g"))
      val gp = e.join(q, "item")
        .groupBy(col("user").as("id"), col("f"))
        .agg(avg(col("e") * col("qv")).as("g"))
      val gq = e.join(pz, Seq("user"))
        .groupBy(col("item").as("id"), col("f"))
        .agg(avg(col("e") * col("pz")).as("g"))
      // y gradient: per-user G_u = c_u·mean_i(e·q_i), scattered to every
      // j ∈ N(u) (svdpp.cpp:205-211 does the same scatter per rating)
      val gu = e.join(q, "item")
        .groupBy("user", "f").agg(avg(col("e") * col("qv")).as("gq"))
        .join(cu, "user")
        .select(col("user"), col("f"), (col("gq") * col("c")).as("gy"))
      val gy = r.select("user", "item").join(gu, "user")
        .groupBy(col("item").as("id"), col("f")).agg(avg("gy").as("g"))

      val next = upd("bu", gbu).unionAll(upd("bi", gbi)).unionAll(upd("p", gp))
        .unionAll(upd("q", gq)).unionAll(upd("y", gy))
      state = checkpointRebased(next) // ONE action per sweep
    }
    Model(mu, rank, state)
  }

  /** Predict ratings for (user, item) pairs with a trained model; users or
    * items unseen in training fall back to the known parts of the sum.
    */
  def predict(model: Model, pairs: DataFrame, ratings: DataFrame): DataFrame = {
    val r = ratings.select(col("user").cast("long").as("user"),
      col("item").cast("long").as("item"))
    val cu = r.groupBy("user").agg((lit(1.0) / sqrt(count(lit(1)))).as("c"))
    val y = model.y.select(col("item"), col("f"), col("v").as("yv"))
    val zu = r.join(y, "item")
      .groupBy("user", "f").agg(sum("yv").as("sy"))
      .join(cu, "user")
      .select(col("user"), col("f"), (col("sy") * col("c")).as("z"))
    val pz = model.p.join(zu, Seq("user", "f"), "left")
      .select(col("user"), col("f"),
        (col("v") + coalesce(col("z"), lit(0.0))).as("pz"))
    val pr = pairs.select(col("user").cast("long").as("user"),
      col("item").cast("long").as("item"))
    val dot = pr
      .join(model.q.select(col("item"), col("f"), col("v").as("qv")), "item")
      .join(pz, Seq("user", "f"))
      .groupBy("user", "item").agg(sum(col("qv") * col("pz")).as("dot"))
    pr.join(dot, Seq("user", "item"), "left")
      .join(model.bu.select(col("user"), col("b").as("bub")), Seq("user"), "left")
      .join(model.bi.select(col("item"), col("b").as("bib")), Seq("item"), "left")
      .select(col("user"), col("item"),
        (lit(model.mu) + coalesce(col("bub"), lit(0.0))
          + coalesce(col("bib"), lit(0.0))
          + coalesce(col("dot"), lit(0.0))).as("pred"))
  }
}

package perfbench

import scala.collection.mutable

/** Driver-side reference computations the benchmark checks the program's
  * outputs against. Plain Scala over collected inputs: no Spark, and none
  * of the program's code.
  */
object Oracles {

  /** A directed edge list with weights, as derived from the lakehouse. */
  final case class Graph(src: Array[Long], dst: Array[Long], w: Array[Double]) {
    def size: Int = src.length
    def vertices: Array[Long] = (src ++ dst).distinct.sorted
    /** Distinct undirected neighbour pairs without self-loops, both ways. */
    def undirected: Array[(Long, Long)] =
      (src.indices.iterator.flatMap(k =>
        Iterator((src(k), dst(k)), (dst(k), src(k))))
        .filter(p => p._1 != p._2)).toArray.distinct
  }

  private val ImportRe = "(?m)^import (.+)$".r

  /** Edge derivation from lakehouse rows (repo, path, content): file ids are
    * ranks of `repo/path` in sorted order; each resolved `import` line is an
    * edge, self-imports dropped, duplicates counted into the weight.
    */
  def derive(files: Seq[(String, String, String)]): Graph = {
    val keys = files.map(f => s"${f._1}/${f._2}").distinct.sorted
    val id = keys.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    val counts = mutable.HashMap.empty[(Long, Long), Int]
    for ((repo, path, content) <- files) {
      val s = id(s"$repo/$path")
      for (m <- ImportRe.findAllMatchIn(content); d <- id.get(m.group(1))
           if d != s)
        counts((s, d)) = counts.getOrElse((s, d), 0) + 1
    }
    val es = counts.toArray.sortBy(_._1)
    Graph(es.map(_._1._1), es.map(_._1._2), es.map(_._2.toDouble))
  }

  /** Power iteration rank(v) = 0.15 + 0.85 Σ rank(u)/outdeg(u), from rank 1,
    * until the largest per-vertex change is at most `tol`.
    */
  def pageRank(g: Graph, tol: Double, maxIters: Int): Map[Long, Double] = {
    val vs = g.vertices
    val ix = vs.zipWithIndex.toMap
    val s = g.src.map(ix); val d = g.dst.map(ix)
    val od = new Array[Int](vs.length)
    s.foreach(i => od(i) += 1)
    var rank = Array.fill(vs.length)(1.0)
    var iters = 0
    var delta = Double.MaxValue
    while (delta > tol && iters < maxIters) {
      val in = new Array[Double](vs.length)
      for (k <- s.indices) in(d(k)) += rank(s(k)) / od(s(k))
      val next = in.map(x => 0.15 + 0.85 * x)
      delta = next.indices.map(i => math.abs(next(i) - rank(i))).max
      rank = next
      iters += 1
    }
    vs.indices.map(i => vs(i) -> rank(i)).toMap
  }

  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    /** Joins the sets of a and b; false when they were already one set. */
    def union(a: Int, b: Int): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }
  }

  /** Weakly connected components labelled by their smallest vertex id. */
  def components(g: Graph): Map[Long, Long] = {
    val vs = g.vertices
    val ix = vs.zipWithIndex.toMap
    val uf = new UnionFind(vs.length)
    for (k <- 0 until g.size) uf.union(ix(g.src(k)), ix(g.dst(k)))
    // vs is sorted, so the smallest index of a set is its smallest id
    vs.indices.map(i => vs(i) -> vs(uf.find(i))).toMap
  }

  /** `iters` synchronous label-propagation rounds over the undirected graph:
    * each vertex takes its neighbours' most frequent label, the larger label
    * on a tie, and keeps its own when it has no neighbour.
    */
  def labelPropagation(g: Graph, iters: Int): Map[Long, Long] = {
    val adj = g.undirected.groupMap(_._2)(_._1)
    var label = g.vertices.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      label = label.map { case (v, own) =>
        adj.get(v) match {
          case Some(ns) =>
            val best = ns.groupMapReduce(label)(_ => 1)(_ + _)
              .maxBy { case (l, c) => (c, l) }._1
            v -> best
          case None => v -> own
        }
      }
    }
    label
  }

  private def adjacency(g: Graph): Map[Long, Array[Long]] =
    g.undirected.groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.sorted }

  /** Triangles of the simple undirected graph, each counted once, by
    * intersecting degree-ordered out-lists.
    */
  def triangles(g: Graph): Long = {
    val adj = adjacency(g)
    def before(a: Long, b: Long) = {
      val (da, db) = (adj(a).length, adj(b).length)
      da < db || (da == db && a < b)
    }
    val out = adj.map { case (v, ns) => v -> ns.filter(before(v, _)) }
    var total = 0L
    for ((a, as) <- out; b <- as) {
      val bs = out(b)
      var (i, j) = (0, 0)
      while (i < as.length && j < bs.length) {
        if (as(i) == bs(j)) { total += 1; i += 1; j += 1 }
        else if (as(i) < bs(j)) i += 1
        else j += 1
      }
    }
    total
  }

  /** Coreness of every vertex of the simple undirected graph, by peeling
    * minimum-degree vertices (Batagelj–Zaversnik).
    */
  def coreness(g: Graph): Map[Long, Int] = {
    val adj = adjacency(g)
    val deg = mutable.HashMap.from(adj.map { case (v, ns) => v -> ns.length })
    val maxDeg = if (deg.isEmpty) 0 else deg.values.max
    val buckets = Array.fill(maxDeg + 1)(mutable.LinkedHashSet.empty[Long])
    deg.foreach { case (v, d) => buckets(d) += v }
    val core = mutable.HashMap.empty[Long, Int]
    var k = 0
    while (core.size < adj.size) {
      var d = 0
      while (buckets(d).isEmpty) d += 1
      k = math.max(k, d)
      val v = buckets(d).head
      buckets(d) -= v
      core(v) = k
      for (u <- adj(v) if !core.contains(u)) {
        val du = deg(u)
        if (du > d) {
          buckets(du) -= u; buckets(du - 1) += u; deg(u) = du - 1
        }
      }
    }
    core.toMap
  }

  /** Dijkstra over the weighted directed edges: distance of every vertex
    * reachable from `source`.
    */
  def shortestPaths(g: Graph, source: Long): Map[Long, Double] = {
    val out = g.src.indices.groupMap(g.src)(k => (g.dst(k), g.w(k)))
    val dist = mutable.HashMap(source -> 0.0)
    val done = mutable.HashSet.empty[Long]
    val pq = mutable.PriorityQueue((0.0, source))(Ordering.by[(Double, Long), Double](-_._1))
    while (pq.nonEmpty) {
      val (dv, v) = pq.dequeue()
      if (done.add(v)) for ((u, w) <- out.getOrElse(v, Nil)) {
        val nd = dv + w
        if (dist.get(u).forall(nd < _)) { dist(u) = nd; pq.enqueue((nd, u)) }
      }
    }
    dist.toMap
  }

  /** Kruskal over the undirected edges (lightest weight per vertex pair):
    * (number of forest edges, total forest weight).
    */
  def spanningForest(g: Graph): (Int, Double) = {
    val light = mutable.HashMap.empty[(Long, Long), Double]
    for (k <- 0 until g.size if g.src(k) != g.dst(k)) {
      val key = (math.min(g.src(k), g.dst(k)), math.max(g.src(k), g.dst(k)))
      light(key) = math.min(light.getOrElse(key, Double.MaxValue), g.w(k))
    }
    val vs = g.vertices
    val ix = vs.zipWithIndex.toMap
    val uf = new UnionFind(vs.length)
    var (n, total) = (0, 0.0)
    for (((a, b), w) <- light.toSeq.sortBy(_._2) if uf.union(ix(a), ix(b))) {
      n += 1; total += w
    }
    (n, total)
  }

  /** Spark's `xxhash64` (seed 42) of (string, long, int) column values. */
  def xxhash64(tag: String, id: Long, f: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h0 = XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(tag), 42L)
    XXH64.hashInt(f, XXH64.hashLong(id, h0))
  }

  /** Replay of SVD++ full-batch gradient sweeps (mean gradient per
    * parameter, shared error, updates from the previous sweep's state),
    * then predictions for every rated pair: ((user, item) -> prediction).
    */
  def svdpp(ratings: Seq[(Long, Long, Double)], rank: Int, sweeps: Int,
      lr: Double, reg: Double): Map[(Long, Long), Double] = {
    val users = ratings.map(_._1).distinct.sorted.toArray
    val items = ratings.map(_._2).distinct.sorted.toArray
    val ui = users.zipWithIndex.toMap; val ii = items.zipWithIndex.toMap
    val ru = ratings.map(r => ui(r._1)).toArray
    val ri = ratings.map(r => ii(r._2)).toArray
    val rv = ratings.map(_._3).toArray
    val n = rv.length
    val mu = rv.sum / n
    val nu = new Array[Int](users.length); ru.foreach(nu(_) += 1)
    val ni = new Array[Int](items.length); ri.foreach(ni(_) += 1)
    val cu = nu.map(c => 1.0 / math.sqrt(c.toDouble))
    def init(tag: String, id: Long, f: Int) =
      (math.floorMod(xxhash64(tag, id, f), 1000L).toDouble / 1000.0 - 0.5) * 0.5
    var bu = new Array[Double](users.length)
    var bi = new Array[Double](items.length)
    var p = Array.tabulate(users.length, rank)((u, f) => init("p", users(u), f))
    var q = Array.tabulate(items.length, rank)((i, f) => init("q", items(i), f))
    var y = Array.ofDim[Double](items.length, rank)

    def pz(yv: Array[Array[Double]], pv: Array[Array[Double]]) = {
      val z = Array.ofDim[Double](users.length, rank)
      for (k <- 0 until n; f <- 0 until rank) z(ru(k))(f) += yv(ri(k))(f)
      Array.tabulate(users.length, rank)((u, f) => pv(u)(f) + z(u)(f) * cu(u))
    }
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(f => a(f) * b(f)).sum

    for (_ <- 1 to sweeps) {
      val pzv = pz(y, p)
      val e = Array.tabulate(n)(k =>
        rv(k) - mu - bu(ru(k)) - bi(ri(k)) - dot(q(ri(k)), pzv(ru(k))))
      val gbu = new Array[Double](users.length)
      val gbi = new Array[Double](items.length)
      val gp = Array.ofDim[Double](users.length, rank)
      val gq = Array.ofDim[Double](items.length, rank)
      for (k <- 0 until n) {
        val (u, i) = (ru(k), ri(k))
        gbu(u) += e(k) / nu(u); gbi(i) += e(k) / ni(i)
        for (f <- 0 until rank) {
          gp(u)(f) += e(k) * q(i)(f) / nu(u)
          gq(i)(f) += e(k) * pzv(u)(f) / ni(i)
        }
      }
      val gy = Array.ofDim[Double](items.length, rank)
      for (k <- 0 until n; f <- 0 until rank)
        gy(ri(k))(f) += gp(ru(k))(f) * cu(ru(k)) / ni(ri(k))
      def step(v: Double, g: Double) = v + lr * (g - reg * v)
      bu = bu.indices.map(u => step(bu(u), gbu(u))).toArray
      bi = bi.indices.map(i => step(bi(i), gbi(i))).toArray
      p = Array.tabulate(users.length, rank)((u, f) => step(p(u)(f), gp(u)(f)))
      q = Array.tabulate(items.length, rank)((i, f) => step(q(i)(f), gq(i)(f)))
      y = Array.tabulate(items.length, rank)((i, f) => step(y(i)(f), gy(i)(f)))
    }
    val pzv = pz(y, p)
    (0 until n).map { k =>
      (users(ru(k)), items(ri(k))) ->
        (mu + bu(ru(k)) + bi(ri(k)) + dot(q(ri(k)), pzv(ru(k))))
    }.toMap
  }
}

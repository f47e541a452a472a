package graftbench

import scala.collection.mutable

/** Reference answers the harness checks the engine against, computed in
  * the harness's own JVM over plain edge arrays, independently of the
  * engine's small-graph fallbacks.
  */
final class Reference(src: Array[Long], dst: Array[Long]) {
  /** Sorted distinct endpoint ids: the vertex set of `GraphFrame.fromEdges`. */
  val ids: Array[Long] = (src ++ dst).distinct.sorted
  private val index: Map[Long, Int] = ids.iterator.zipWithIndex.toMap
  val n: Int = ids.length
  private val s = src.map(index)
  private val d = dst.map(index)

  /** Simple undirected adjacency: no self-loops, no parallel edges. */
  lazy val adj: Array[Array[Int]] = {
    val sets = Array.fill(n)(mutable.HashSet.empty[Int])
    for (i <- s.indices if s(i) != d(i)) { sets(s(i)) += d(i); sets(d(i)) += s(i) }
    sets.map(_.toArray)
  }

  /** Weakly connected components labelled by their minimum vertex id. */
  lazy val wcc: Map[Long, Long] = Reference.minLabels(ids, s.indices.map(i => (s(i), d(i))))

  /** Coreness by Matula–Beck peeling (bucket queue by current degree). */
  lazy val coreness: Map[Long, Long] = {
    val deg = adj.map(_.length)
    val maxDeg = if (n == 0) 0 else deg.max
    val buckets = Array.fill(maxDeg + 1)(mutable.HashSet.empty[Int])
    for (v <- 0 until n) buckets(deg(v)) += v
    val core = new Array[Int](n)
    val removed = new Array[Boolean](n)
    var k = 0
    var left = n
    var b = 0
    while (left > 0) {
      while (buckets(b).isEmpty) b += 1
      val v = buckets(b).head
      buckets(b) -= v
      k = math.max(k, b)
      core(v) = k
      removed(v) = true
      left -= 1
      for (u <- adj(v) if !removed(u) && deg(u) > 0) {
        buckets(deg(u)) -= u
        deg(u) -= 1
        buckets(deg(u)) += u
        if (deg(u) < b) b = deg(u)
      }
    }
    (0 until n).map(v => ids(v) -> core(v).toLong).toMap
  }

  /** Directed BFS hop counts from every vertex to `to`. */
  def bfsTo(to: Long): Map[Long, Int] = {
    val in = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    for (i <- s.indices) in(d(i)) += s(i)
    val dist = Array.fill(n)(Int.MaxValue)
    val q = mutable.Queue(index(to))
    dist(index(to)) = 0
    while (q.nonEmpty) {
      val v = q.dequeue()
      for (u <- in(v) if dist(u) == Int.MaxValue) { dist(u) = dist(v) + 1; q += u }
    }
    (0 until n).map(v => ids(v) -> dist(v)).toMap
  }

  /** Null when `members` is an independent and maximal set, else the reason. */
  def misViolation(members: Set[Long]): String = {
    val in = Array.tabulate(n)(v => members.contains(ids(v)))
    if (members.exists(m => !index.contains(m))) return "member outside the vertex set"
    for (v <- 0 until n) {
      if (in(v) && adj(v).exists(in(_))) return s"adjacent members at ${ids(v)}"
      if (!in(v) && !adj(v).exists(in(_))) return s"${ids(v)} could join the set"
    }
    null
  }

  /** `iters` rounds of the delta PageRank recurrence, normalized to sum 1:
    * r = reset · Σ_{k=0..iters} (α Pᵀ)^k 1, messages split by out-degree
    * (parallel edges count), sinks keep their mass.
    */
  def pageRank(iters: Int, reset: Double = 0.15): Map[Long, Double] = {
    val alpha = 1 - reset
    val outDeg = new Array[Long](n)
    for (v <- s) outDeg(v) += 1
    val pr = Array.fill(n)(reset)
    var delta = Array.fill(n)(reset)
    for (_ <- 1 to iters) {
      val next = new Array[Double](n)
      for (i <- s.indices) next(d(i)) += delta(s(i)) / outDeg(s(i))
      delta = next.map(_ * alpha)
      for (v <- 0 until n) pr(v) += delta(v)
    }
    val total = pr.sum
    (0 until n).map(v => ids(v) -> pr(v) / total).toMap
  }

  /** XOR over edges of the GF(2^64) affine hash of `src`. */
  def axpbXor(a: Long, b: Long): Long = src.foldLeft(0L)((acc, x) => acc ^ Reference.axpb(a, x, b))

  /** Per-source H-index of `dst % mod`. */
  def hIndexBySrc(mod: Long): Map[Long, Long] =
    src.indices.groupBy(src(_)).map { case (v, es) =>
      val vals = es.map(i => dst(i) % mod).sorted(Ordering[Long].reverse)
      v -> vals.indices.map(r => math.min(r + 1L, vals(r))).max
    }
}

object Reference {
  /** (a ⊗ x) ⊕ b in GF(2^64) modulo x^64 + x^4 + x^3 + x + 1. */
  def axpb(a: Long, x: Long, b: Long): Long = {
    var r = 0L
    var p = a
    var k = x
    while (k != 0L) {
      if ((k & 1L) != 0L) r ^= p
      k >>>= 1
      p = if (p < 0L) (p << 1) ^ 0x1bL else p << 1
    }
    r ^ b
  }

  /** Union-find over `edges` (index pairs into `ids`); min-id labels. */
  def minLabels(ids: Array[Long], edges: Iterable[(Int, Int)]): Map[Long, Long] = {
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      // ids are sorted, so the smaller index is the smaller id.
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.indices.map(v => ids(v) -> ids(find(v))).toMap
  }

  /** Relative closeness for floating results computed in another order. */
  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) + 1e-15
}

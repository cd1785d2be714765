package graft.perfbench

import scala.collection.mutable

/** Independent driver-side references the benchmark checks graft's
  * results against. Each is a plain sequential algorithm over the
  * generated inputs, sharing no code with the engine. */
object Refs {

  /** Out-adjacency, neighbours ascending. */
  def adjacency(edges: Iterable[(Long, Long)]): Map[Long, Array[Long]] =
    edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toArray.distinct.sorted }

  /** Directed BFS levels from `start`: vertex -> min hop count. */
  def bfs(adj: Map[Long, Array[Long]], start: Long): Map[Long, Int] = {
    val level = mutable.HashMap(start -> 0)
    var frontier = Array(start)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      val next = mutable.ArrayBuffer.empty[Long]
      for (u <- frontier; v <- adj.getOrElse(u, Array.empty[Long]))
        if (!level.contains(v)) { level(v) = d; next += v }
      frontier = next.toArray
    }
    level.toMap
  }

  /** Union-find components of the undirected graph, labelled by min id. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Per-vertex triangle counts of the simple undirected graph (vertices
    * on no triangle omitted), by ordered neighbour-set intersection. */
  def triangles(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val und = edges.collect { case (s, d) if s != d => (math.min(s, d), math.max(s, d)) }.toSet
    val higher = und.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val count = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- und; hb <- higher.get(b); ha <- higher.get(a); c <- hb if ha(c)) {
      count(a) += 1; count(b) += 1; count(c) += 1
    }
    count.toMap
  }

  /** Static PageRank with graft's documented contract: distinct edges,
    * r0 = 1, r' = 0.15 + 0.85 · Σ r(u)/outdeg(u), dangling mass dropped. */
  def pageRank(edges: Iterable[(Long, Long)], iters: Int): Map[Long, Double] = {
    val e = edges.toSet.toArray
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.length }
    var r = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val m = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      for ((s, d) <- e) m(d) += r(s) / outdeg(s)
      r = verts.map(v => v -> (0.15 + 0.85 * m(v))).toMap
    }
    r
  }

  /** Exact top-`k` by cosine over `live` (id -> vector), ties by id. */
  def topK(q: Array[Double], live: collection.Map[Long, Array[Double]], k: Int): Seq[Long] = {
    val qn = math.sqrt(dot(q, q))
    live.iterator.map { case (id, v) => (id, dot(q, v) / (qn * math.sqrt(dot(v, v)))) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Distinct word 3-gram shingles under graft's tokenizer contract
    * (lowercase, split on non-alphanumerics). */
  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  /** Jaccard in integer thousandths, `inter * 1000 div union`. */
  def jaccard1000(a: Set[String], b: Set[String]): Long = {
    val inter = a.count(b).toLong
    inter * 1000 / (a.size + b.size - inter)
  }
}

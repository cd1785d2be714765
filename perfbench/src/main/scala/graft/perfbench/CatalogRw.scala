package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.graph.{GraphCatalog, SequentialModel}

/** `catalog_rw`: the reference's four operations (add, modify, DFS, BFS)
  * from one closed-loop client over a catalog of small power-law graphs.
  * Every op costs far more in fixed per-call work (planning, job count,
  * scheduling gaps) than in data work, and writes land beside reads on
  * the same catalog. */
final class CatalogRw(ctx: Ctx) {
  import CatalogRw._

  private val graphs = mutable.LinkedHashMap.empty[String, Array[(Long, Long)]]
  private var added = 0
  private var cat: GraphCatalog = _
  private var root: String = _
  private val reads = mutable.ArrayBuffer.empty[Double]
  private val writes = mutable.ArrayBuffer.empty[Double]

  private def edgesOf(n: Int): Array[(Long, Long)] = Gen.rmat(ctx.rng, Scale, n, base = 1L, symmetric = true)
  private def frame(es: Array[(Long, Long)]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    es.toSeq.toDF("src", "dst")
  }

  def run(): Outcome = {
    val t0 = System.nanoTime()
    ctx.startSession()
    root = ctx.dir("catalog")
    cat = new GraphCatalog(ctx.spark, root)
    val digest = new Gen.Digest
    for (i <- 0 until NumGraphs) {
      val es = edgesOf(EdgesPerGraph)
      es.foreach { case (s, d) => digest.long(s).long(d) }
      graphs(f"g$i%02d") = es
    }
    ctx.span("load") {
      for ((name, es) <- graphs) ctx.span("graph.GraphCatalog.addGraph")(cat.addGraph(name, frame(es)))
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val selfCheck = CatalogRw.digestSelfCheck(ctx.seed, digest.hex)

    Warmup.foreach(step(_, timed = false))
    val timedFrom = System.nanoTime()
    var timedNs = 0.0
    while (timedNs < ctx.seconds * 1e9) {
      for (kind <- Cycle) {
        val t = System.nanoTime()
        step(kind, timed = true)
        timedNs += System.nanoTime() - t
      }
    }

    var layers = Option.empty[Layers]
    val metrics = if (!ctx.trace) Seq(
      "setup_s" -> Metric(setupS, "s"),
      "read_p50_ms" -> Metric(Stats.median(reads.toSeq), "ms"),
      "read_p90_ms" -> Metric(Stats.quantile(reads.toSeq, 0.9), "ms"),
      "write_p50_ms" -> Metric(Stats.median(writes.toSeq), "ms"))
    else {
      val l = new Layers(ctx, timedFrom)
      l.common(reads = ReadSpans, writes = WriteSpans, storeRoots = Seq(root))
      l.span("graph.GraphCatalog.bfs", "ms", "jobs", "gap_ms")
      l.span("graph.GraphCatalog.dfsLeaves", "ms", "jobs")
      l.span("plans.GraphTvfs.graph_bfs", "jobs")
      l.putDetail("plans.GraphTvfs.graph_bfs.analyze_ms", l.median("plans.GraphTvfs.graph_bfs.analyze")(_.ms), "ms")
      l.putDetail("plans.GraphTvfs.graph_bfs.exec_ms", l.median("plans.GraphTvfs.graph_bfs.exec")(_.ms), "ms")
      l.span("graph.GraphCatalog.addGraph", "ms", "jobs")
      l.span("graph.GraphCatalog.modifyGraph", "ms", "jobs")
      layers = Some(l)
      l.out.toSeq
    }
    Outcome(metrics, layers.map(_.detailFacts).toSeq ++ Seq(
      "input_digest" -> digest.hex, "digest_self_check" -> selfCheck,
      "graphs_initial" -> NumGraphs, "edges_per_graph" -> EdgesPerGraph,
      "graphs_final" -> graphs.size, "timed_reads" -> reads.size, "timed_writes" -> writes.size,
      "timed_s" -> timedNs / 1e9))
  }

  /** One op of kind `kind`, on a seeded graph and start vertex. */
  private def step(kind: String, timed: Boolean): Unit = {
    val names = graphs.keys.toIndexedSeq
    val name = names(ctx.rng.nextInt(names.size))
    val es = graphs(name)
    val start = es(ctx.rng.nextInt(es.length))._1
    if (kind == "bfs") {
      val lat = ctx.op("bfs")(ctx.readSpan("graph.GraphCatalog.bfs")(cat.bfs(name, start).collect())) { rows =>
        checkLevels(rows.map(r => r.getLong(0) -> r.getInt(1)).toMap, es, start)
      }
      if (timed) reads ++= lat
    } else if (kind == "graph_bfs") {
      val sql = s"SELECT * FROM graph_bfs('$root', '$name', $start, ${Int.MaxValue})"
      val lat = ctx.op("graph_bfs")(ctx.readSpan("plans.GraphTvfs.graph_bfs") {
        val df = ctx.span("plans.GraphTvfs.graph_bfs.analyze")(ctx.spark.sql(sql))
        ctx.span("plans.GraphTvfs.graph_bfs.exec")(df.collect())
      }) { rows =>
        checkLevels(rows.map(r => r.getLong(0) -> r.getInt(1)).toMap, es, start)
      }
      if (timed) reads ++= lat
    } else if (kind == "dfsLeaves") {
      val lat = ctx.op("dfsLeaves")(ctx.readSpan("graph.GraphCatalog.dfsLeaves")(
        cat.dfsLeaves(name, start).collect())) { rows =>
        val want = SequentialModel.dfsLeaves(es.toSeq, start)
        ctx.expect(rows.map(_.getLong(0)).toSeq == want,
          s"dfsLeaves($name, $start): ${rows.length} leaves, expected ${want.size}")
      }
      if (timed) reads ++= lat
    } else if (kind == "modifyGraph") {
      val fresh = edgesOf(EdgesPerGraph)
      val lat = ctx.op("modifyGraph")(ctx.span("graph.GraphCatalog.modifyGraph")(
        cat.modifyGraph(name, frame(fresh))))(_ => checkStored(name, fresh))
      graphs(name) = fresh
      if (timed) writes ++= lat
    } else {
      val fresh = edgesOf(EdgesPerGraph)
      val newName = f"n$added%03d"
      added += 1
      val lat = ctx.op("addGraph")(ctx.span("graph.GraphCatalog.addGraph")(
        cat.addGraph(newName, frame(fresh))))(_ => checkStored(newName, fresh))
      graphs(newName) = fresh
      if (timed) writes ++= lat
    }
  }

  private def checkLevels(got: Map[Long, Int], es: Array[(Long, Long)], start: Long): Unit = {
    val want = Refs.bfs(Refs.adjacency(es), start)
    ctx.expect(got == want, s"BFS from $start: ${got.size} vertices, expected ${want.size}")
  }

  /** Reads the stored edge list back (outside the timed call). */
  private def checkStored(name: String, es: Array[(Long, Long)]): Unit = {
    val got = cat.graph(name).select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    ctx.expect(got.sorted.sameElements(es.sorted), s"$name stored ${got.length} edges, wrote ${es.length}")
  }
}

object CatalogRw {
  val NumGraphs = 8
  val EdgesPerGraph = 3000
  /** R-MAT scale: vertex ids 1 .. 2^Scale. */
  val Scale = 11
  /** The spans of one read op and of one write op. */
  val ReadSpans = Seq("graph.GraphCatalog.bfs", "plans.GraphTvfs.graph_bfs", "graph.GraphCatalog.dfsLeaves")
  val WriteSpans = Seq("graph.GraphCatalog.addGraph", "graph.GraphCatalog.modifyGraph")
  /** The op mix per 20 ops: 35% BFS, 15% the same BFS as SQL
    * `graph_bfs(...)`, 20% `dfsLeaves`, 20% `modifyGraph`, 10% `addGraph`. */
  val Mix = Seq("bfs" -> 7, "graph_bfs" -> 3, "dfsLeaves" -> 4, "modifyGraph" -> 4, "addGraph" -> 2)

  /** Mix as a fixed cycle, spread by smooth weighted round-robin so that
    * the kinds are interleaved. The timed phase runs whole cycles, 14 reads
    * and 6 writes each, so every run measures the same mix however fast
    * the host is. */
  val Cycle: IndexedSeq[String] = {
    val total = Mix.map(_._2).sum
    val credit = mutable.LinkedHashMap(Mix.map { case (k, _) => k -> 0 }: _*)
    (1 to total).map { _ =>
      Mix.foreach { case (k, w) => credit(k) += w }
      val (pick, _) = credit.maxBy(_._2)
      credit(pick) -= total
      pick
    }
  }

  /** Untimed ops that warm the JIT: the first half of `Cycle`, which holds
    * every op kind. Op latencies keep falling over the first ops after the
    * initial load while the planning paths are compiled; with a shorter
    * warm-up that fall lands in the timed phase, and how fast it goes
    * depends on how busy the host is. */
  val Warmup: Seq[String] = Cycle.take(Cycle.size / 2)

  /** Regenerates the initial graphs for `seed` (must match `digest`) and
    * for `seed + 1` (must differ). */
  def digestSelfCheck(seed: Long, digest: String): Boolean = {
    def gen(s: Long) = {
      val rng = new java.util.SplittableRandom(s)
      val d = new Gen.Digest
      for (_ <- 0 until NumGraphs)
        Gen.rmat(rng, Scale, EdgesPerGraph, base = 1L, symmetric = true).foreach { case (a, b) => d.long(a).long(b) }
      d.hex
    }
    val ok = gen(seed) == digest && gen(seed + 1) != digest
    require(ok, "input generator is not a function of the seed")
    ok
  }
}

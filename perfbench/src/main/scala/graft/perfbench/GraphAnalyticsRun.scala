package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.graph.{Analytics, SequentialModel, Traversals}

/** `graph_analytics`: the GraphX/Pregel north star. One seeded R-MAT
  * graph; each pass runs BFS, connected components, PageRank(10),
  * triangle counts, coreness and greedy colouring over it, so shuffles
  * and per-round fixpoint work dominate. The catalog is never used. */
final class GraphAnalyticsRun(ctx: Ctx) {
  import GraphAnalyticsRun._

  private final class Operator(val name: String, val run: (DataFrame, Long) => DataFrame,
                               val check: (Array[Row], Long) => Unit)

  private var edges: Array[(Long, Long)] = _
  private lazy val adj = Refs.adjacency(edges)
  private lazy val cc = Refs.components(edges)
  private lazy val pr = Refs.pageRank(edges, 10)
  private lazy val tri = Refs.triangles(edges)
  private lazy val core = SequentialModel.coreness(edges.toSeq)
  private lazy val colors = SequentialModel.greedyColoring(edges.toSeq)

  private def pairs(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap

  private def same(what: String, got: Map[Long, Long], want: Map[Long, Long]): Unit = {
    val bad = want.count { case (v, x) => !got.get(v).contains(x) }
    ctx.expect(got.size == want.size && bad == 0,
      s"$what: ${got.size} rows (expected ${want.size}), $bad mismatched")
  }

  private val operators = Seq(
    new Operator("graph.Traversals.bfs", (e, root) => Traversals.bfs(e, root), (rows, root) =>
      same("bfs", pairs(rows), Refs.bfs(adj, root).map { case (v, l) => v -> l.toLong })),
    new Operator("graph.Analytics.connectedComponents", (e, _) => Analytics.connectedComponents(e),
      (rows, _) => same("connectedComponents", pairs(rows), cc)),
    new Operator("graph.Analytics.pageRank", (e, _) => Analytics.pageRank(e, 10), (rows, _) => {
      val bad = rows.count(r => !pr.get(r.getLong(0)).exists(x => math.abs(x - r.getDouble(1)) <= 1.01e-6))
      ctx.expect(rows.length == pr.size && bad == 0,
        s"pageRank: ${rows.length} rows (expected ${pr.size}), $bad off by more than 1e-6")
    }),
    new Operator("graph.Analytics.triangleCounts", (e, _) => Analytics.triangleCounts(e),
      (rows, _) => same("triangleCounts", pairs(rows), tri)),
    new Operator("graph.Analytics.coreness", (e, _) => Analytics.coreness(e),
      (rows, _) => same("coreness", pairs(rows), core)),
    new Operator("graph.Analytics.greedyColoring", (e, _) => Analytics.greedyColoring(e),
      (rows, _) => same("greedyColoring", pairs(rows), colors)))

  def run(): Outcome = {
    val t0 = System.nanoTime()
    ctx.startSession()
    val spark = ctx.spark
    import spark.implicits._
    edges = Gen.rmat(ctx.rng, Scale, NumEdges)
    val digest = new Gen.Digest
    edges.foreach { case (s, d) => digest.long(s).long(d) }
    val frame = spark.sparkContext.parallelize(edges.toSeq, ctx.cores).toDF("src", "dst")
      .persist(StorageLevel.MEMORY_ONLY)
    frame.count()
    val setupS = (System.nanoTime() - t0) / 1e9
    val selfCheck = GraphAnalyticsRun.digestSelfCheck(ctx.seed, digest.hex)
    val roots = edges.map(_._1).distinct

    // JIT warm-up: one untimed pass over a small graph from another stream
    val small = Gen.rmat(new java.util.SplittableRandom(ctx.seed ^ 0x5eedL), 9, 1500)
    val smallFrame = small.toSeq.toDF("src", "dst")
    operators.foreach(o => o.run(smallFrame, small.head._1).collect())

    val timedFrom = System.nanoTime()
    val passMs = mutable.ArrayBuffer.empty[Double]
    var opsRun = 0L
    var timedNs = 0.0
    while (timedNs < ctx.seconds * 1e9) {
      val root = roots(ctx.rng.nextInt(roots.length))
      val t = System.nanoTime()
      var ran = 0
      for (o <- operators) {
        val ok = ctx.op(o.name)(ctx.span(o.name)(o.run(frame, root).collect()))(rows => o.check(rows, root))
        if (ok.isDefined) ran += 1
      }
      val dt = System.nanoTime() - t
      timedNs += dt
      passMs += dt / 1e6
      opsRun += ran
    }

    val metrics = if (!ctx.trace) Seq(
      "setup_s" -> Metric(setupS, "s"),
      "analytics_edges_per_s" -> Metric(NumEdges.toDouble * opsRun / (timedNs / 1e9), "edges/s"))
    else {
      val l = new Layers(ctx, timedFrom)
      l.basics()
      operators.foreach(o => l.span(o.name, "ms", "jobs", "gap_ms", "shuffle_mb"))
      (l.out ++ l.detail).toSeq
    }
    Outcome(metrics, Seq(
      "input_digest" -> digest.hex, "digest_self_check" -> selfCheck,
      "rmat_scale" -> Scale, "edges" -> NumEdges, "vertices" -> (edges.map(_._1) ++ edges.map(_._2)).distinct.length,
      "passes" -> passMs.size, "pass_ms" -> passMs.toSeq, "timed_s" -> timedNs / 1e9))
  }
}

object GraphAnalyticsRun {
  val Scale = 13
  val NumEdges = 30000

  def digestSelfCheck(seed: Long, digest: String): Boolean = {
    def gen(s: Long) = {
      val d = new Gen.Digest
      Gen.rmat(new java.util.SplittableRandom(s), Scale, NumEdges).foreach { case (a, b) => d.long(a).long(b) }
      d.hex
    }
    val ok = gen(seed) == digest && gen(seed + 1) != digest
    require(ok, "input generator is not a function of the seed")
    ok
  }
}

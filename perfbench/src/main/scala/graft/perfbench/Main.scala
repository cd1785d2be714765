package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftSession

/** A named metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back: its metrics (end-to-end when untraced,
  * per-layer when traced) and facts for the run record. */
final case class Outcome(metrics: Seq[(String, Metric)], facts: Seq[(String, Any)])

/** State shared by one run: the session, the tracer, the seeded RNG, the
  * scratch directory, and the op counters. */
final class Ctx(val seed: Long, val seconds: Double, val trace: Boolean, val work: Path, val out: Path) {
  val rng = new SplittableRandom(seed)
  val tracer = new Tracer(trace)
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private var heapPeakMb = 0.0

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Rows returned by a traced read call, by span id. */
  val rowsReturned = mutable.HashMap.empty[Int, Long]

  /** `span` for a call that returns rows, remembering how many. */
  def readSpan(name: String)(body: => Array[Row]): Array[Row] = {
    val rows = span(name)(body)
    if (trace) tracer.spans.reverseIterator.find(_.name == name)
      .foreach(s => rowsReturned(s.id) = rows.length.toLong)
    rows
  }

  private val born = System.nanoTime()
  /** Marks a phase boundary in the run log (stderr). */
  def phase(name: String): Unit =
    System.err.println(f"perfbench phase $name%s at ${(System.nanoTime() - born) / 1e9}%.2f s")

  /** Starts the session the way an application does. */
  def startSession(): Unit = {
    spark = span("GraftSession.create")(GraftSession.create(s"local[$cores]", cores.toString))
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark.sparkContext)
  }

  /** Runs one op: the call and the collection of its result are timed;
    * the check runs after the clock stops. An exception or a failed check
    * counts the op as failed. Returns the latency of a correct op. */
  def op[T](kind: String)(call: => T)(check: T => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(call) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = result.flatMap(r => try { check(r); Right(ms) } catch { case NonFatal(e) => Left(e) })
    sampleHeap()
    System.err.println(f"perfbench op $kind%s $ms%.1f ms ${if (verdict.isRight) "ok" else "FAILED"}%s")
    verdict match {
      case Right(v) => Some(v)
      case Left(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** A check helper: throws with `what` when `ok` is false. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(what)

  /** Heap occupancy right after the most recent collection, summed over
    * the heap pools; the run keeps its peak. */
  def sampleHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
  }
  def heapAfterGcPeakMb: Double = { sampleHeap(); heapPeakMb }

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Per-layer metrics from the traced run's spans. Spans count from
  * `timedFromNs` on, so warm-up calls are left out; `setup = true` counts
  * every span, for calls made only during set-up.
  *
  * Two sets come out. `out` holds the metrics every workload reports,
  * split by the layer each op passes through (session, driver, Spark
  * jobs, storage, JVM): these are the manifest's per-layer metrics.
  * `detail` holds the per-function metrics of the workload's own modules
  * (`graph.GraphCatalog.bfs.ms`, ...), which go to the run record. */
final class Layers(ctx: Ctx, timedFromNs: Long) {
  private lazy val work = ctx.tracer.attribute(ctx.spark.sparkContext)
  private lazy val byName = ctx.tracer.spans.groupBy(_.name)
  val out = mutable.ArrayBuffer.empty[(String, Metric)]
  val detail = mutable.ArrayBuffer.empty[(String, Metric)]

  def spans(name: String, setup: Boolean = false): Seq[Span] =
    byName.getOrElse(name, Nil).filter(s => setup || s.startNs >= timedFromNs)
  def work(s: Span): SpanWork = work(s.id)
  def children(s: Span): Seq[Span] = ctx.tracer.spans.filter(_.parent == s.id)

  /** Median of `f` over the spans named `name`. */
  def median(name: String, setup: Boolean = false)(f: Span => Double): Double = {
    val ss = spans(name, setup)
    require(ss.nonEmpty, s"traced run recorded no '$name' span")
    Stats.median(ss.map(f))
  }

  def put(name: String, value: Double, unit: String): Unit = out += name -> Metric(value, unit)
  def putDetail(name: String, value: Double, unit: String): Unit = detail += name -> Metric(value, unit)

  /** `<span>.<field>` medians per call for the requested fields, as detail. */
  def span(name: String, fields: String*): Unit = spanOf(name, setup = false, fields)
  def setupSpan(name: String, fields: String*): Unit = spanOf(name, setup = true, fields)

  private def spanOf(name: String, setup: Boolean, fields: Seq[String]): Unit = fields.foreach {
    case "ms" => putDetail(s"$name.ms", median(name, setup)(_.ms), "ms")
    case "jobs" => putDetail(s"$name.jobs", median(name, setup)(s => work(s).jobs.toDouble), "count")
    case "gap_ms" => putDetail(s"$name.gap_ms", median(name, setup)(s => work(s).gapMs), "ms")
    case "shuffle_mb" =>
      putDetail(s"$name.shuffle_mb", median(name, setup)(s => work(s).shuffleBytes / 1048576.0), "MB")
    case "self_ms" =>
      putDetail(s"$name.self_ms", median(name, setup)(s => s.ms - children(s).map(_.ms).sum), "ms")
    case "rows_read_per_result" =>
      putDetail(s"$name.rows_read_per_result", median(name, setup)(rowsReadPerResult), "ratio")
    case f => throw new IllegalArgumentException(s"unknown span field $f")
  }

  /** Input records the span's stages read per row it returned. */
  private def rowsReadPerResult(s: Span): Double =
    work(s).recordsRead.toDouble / math.max(1L, ctx.rowsReturned.getOrElse(s.id, 0L))

  /** Metrics every traced run reports. `reads` and `writes` name the
    * spans of one timed read or write op; the initial load runs under a
    * span named `load`; `storeRoots` are the directories the workload's
    * data lives in.
    * - `read.*` / `write.*`: per-call medians of wall time, Spark jobs, and
    *   the time no stage was running (driver planning and scheduling).
    * - `read.rows_read_per_result`: input records read per row returned.
    * - `load.*`: the initial load's wall time, jobs and scheduling gap.
    * - `store.*`: data files and megabytes under the store at run end. */
  def common(reads: Seq[String], writes: Seq[String], storeRoots: Seq[String]): Unit = {
    for ((role, names) <- Seq("read" -> reads, "write" -> writes)) {
      val ss = names.flatMap(spans(_))
      require(ss.nonEmpty, s"traced run recorded no $role span")
      put(s"$role.ms", Stats.median(ss.map(_.ms)), "ms")
      put(s"$role.jobs", Stats.median(ss.map(work(_).jobs.toDouble)), "count")
      put(s"$role.gap_ms", Stats.median(ss.map(work(_).gapMs)), "ms")
      if (role == "read") put("read.rows_read_per_result", Stats.median(ss.map(rowsReadPerResult)), "ratio")
    }
    put("load.ms", median("load", setup = true)(_.ms), "ms")
    put("load.jobs", median("load", setup = true)(s => work(s).jobs.toDouble), "count")
    put("load.gap_ms", median("load", setup = true)(s => work(s).gapMs), "ms")
    val (files, bytes) = Disk.dataFiles(storeRoots)
    put("store.files", files.toDouble, "count")
    put("store.mb", bytes / 1048576.0, "MB")
    basics()
  }

  /** Session start, peak heap, and the tracer's own cost as a share of
    * the wall time of the traced calls. */
  def basics(): Unit = {
    put("GraftSession.create.ms", median("GraftSession.create", setup = true)(_.ms), "ms")
    put("jvm.heap_after_gc_peak_mb", ctx.heapAfterGcPeakMb, "MB")
    val tracedMs = ctx.tracer.spans.filter(_.parent < 0).map(_.ms).sum
    put("trace.overhead_pct", 100.0 * ctx.tracer.overheadNs / 1e6 / tracedMs, "%")
  }

  /** The run record's view of the per-function metrics. */
  def detailFacts: (String, Any) =
    "layers" -> ListMap(detail.toSeq.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*)
}

object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "catalog_rw" -> (c => new CatalogRw(c).run()),
    "graph_analytics" -> (c => new GraphAnalyticsRun(c).run()),
    "index_serve_ingest" -> (c => new IndexServeIngest(c).run()))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <" + workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <scratch dir> --out <dir for the spans file>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val name = arg("workload")
    val body = workloads.getOrElse(name, usage(s"unknown workload $name"))
    val trace = arg("trace") match { case "0" => false; case "1" => true; case t => usage(s"bad --trace $t") }
    val ctx = new Ctx(arg("seed").toLong, arg("seconds").toDouble, trace, Paths.get(arg("work")), Paths.get(arg("out")))
    val load0 = loadAvg()
    val cpu0 = cpuTicks()
    // an escaped exception must end the JVM, which Spark's threads keep alive
    val outcome = try body(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    ctx.phase("measured")
    val spansFile = if (trace) Some(writeSpans(ctx, name)) else None
    val record = ListMap[String, Any](
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> trace,
      "nproc" -> ctx.cores, "loadavg_before" -> load0, "loadavg_after" -> loadAvg(),
      "cpu_steal_pct" -> stealPct(cpu0, cpuTicks()),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> ctx.spark.version, "java_version" -> sys.props("java.version"),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq) ++
      spansFile.map(f => "spans_file" -> f.toString) ++ outcome.facts
    println("perfbench record " + Json(record))
    ctx.spark.stop()
    ctx.phase("stopped")
    val result = ListMap[String, Any](
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> ListMap(outcome.metrics.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*))
    println(Json(result))
    System.out.flush()
    // Spark's non-daemon threads must not hold the JVM open
    sys.exit(0)
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The host's aggregate CPU tick counters (Linux `/proc/stat`); empty
    * elsewhere. */
  private def cpuTicks(): Array[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Array.empty
    else Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  }

  /** Share of CPU time the hypervisor took from this host during the run:
    * a noisy host shows here before it shows in the metrics. */
  private def stealPct(before: Array[Long], after: Array[Long]): Option[Double] =
    if (before.length < 8 || after.length < 8) None
    else {
      val d = after.zip(before).map { case (a, b) => a - b }
      val total = d.take(8).sum
      if (total <= 0) None else Some(100.0 * d(7) / total)
    }

  private def writeSpans(ctx: Ctx, workload: String): Path = {
    val work = ctx.tracer.attribute(ctx.spark.sparkContext)
    val rows = ctx.tracer.spans.map { s =>
      val w = work(s.id)
      ListMap[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms, "jobs" -> w.jobs,
        "gap_ms" -> w.gapMs, "shuffle_bytes" -> w.shuffleBytes, "records_read" -> w.recordsRead)
    }
    val f = ctx.out.resolve(s"spans-$workload-${ctx.seed}.json")
    Files.write(f, Json(rows).getBytes("UTF-8"))
    f
  }
}

/** JSON through the Jackson that ships with Spark; `ListMap`s keep key order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, KnnGraph, Retrieval, Similarity}
import graft.operators.CommitTable
import graft.streaming.CommitLogStream

/** `index_serve_ingest`: IVF, k-NN-graph, MinHash-dedup and BM25 indexes
  * over a seeded corpus, then a closed loop that interleaves probe
  * batches with ingest batches. An ingest batch appends docs to a
  * commit-log corpus table and follows its change feed; the callback
  * drops near-duplicates of indexed docs and appends the survivors to all
  * four indexes, so commit-log writes land beside the probes' file-pruned
  * reads of the same tables. */
final class IndexServeIngest(ctx: Ctx) {
  import IndexServeIngest._

  private val gen = new Corpus(ctx.rng)
  private val live = mutable.LinkedHashMap.empty[Long, Doc] // what the indexes hold

  private var corpus: CommitTable = _
  private var corpusPath: String = _
  private var root: String = _
  private def ivf = s"$root/ivf"
  private def knn = s"$root/knn"
  private def dedup = s"$root/dedup"
  private def bm25 = s"$root/bm25"

  private val probeMs = mutable.ArrayBuffer.empty[Double]
  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private var ingestedDocs = 0L
  private val recalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]] // by index
  private val commitsPerBatch = mutable.ArrayBuffer.empty[Double]
  private val knnAppendMs = mutable.ArrayBuffer.empty[Double] // by batch number

  private def frame(docs: Iterable[Doc]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.text, d.vec.toSeq)).toDF("doc_id", "text", "embedding")
  }
  private def embOf(df: DataFrame) = df.select(col("doc_id").as("vec_id"), col("embedding"))
  private def textOf(df: DataFrame) = df.select("doc_id", "text")

  def run(): Outcome = {
    val t0 = System.nanoTime()
    ctx.startSession()
    root = ctx.dir("indexes")
    corpusPath = ctx.dir("corpus")
    val initial = gen.initial()
    corpus = new CommitTable(ctx.spark, corpusPath, "doc_id")
    val initialDf = frame(initial)
    ctx.span("operators.CommitTable.overwrite")(corpus.overwrite(initialDf))
    ctx.phase("corpus")

    ctx.op("buildIndexes")(ctx.span("load") {
      ctx.span("llm.Similarity.buildIvfIndex")(Similarity.buildIvfIndex(embOf(initialDf), ivf, nlist = NList))
      ctx.span("llm.KnnGraph.buildKnnGraphIndex")(KnnGraph.buildKnnGraphIndex(embOf(initialDf), knn))
      ctx.span("llm.Dedup.buildDedupIndex")(Dedup.buildDedupIndex(textOf(initialDf), dedup))
      ctx.span("llm.Retrieval.buildBm25Index")(Retrieval.buildBm25Index(textOf(initialDf), bm25))
    })(_ => ())
    val setupS = (System.nanoTime() - t0) / 1e9
    initial.foreach(d => live(d.id) = d)
    ctx.phase("built")
    val inputDigest = gen.digest.hex
    val selfCheck = digestSelfCheck(ctx.seed, inputDigest)

    // warm each probe path (its plans' generated code included) with one
    // untimed probe, and the ingest path with one untimed batch; the
    // per-batch series start after it
    ivfProbe(timed = false)
    knnProbe(timed = false)
    bm25Probe(queries = 1, timed = false)
    ingest(timed = false)
    knnAppendMs.clear()
    commitsPerBatch.clear()
    ctx.phase("warm")
    val timedFrom = System.nanoTime()
    var timedNs = 0.0
    while (timedNs < ctx.seconds * 1e9) {
      val t = System.nanoTime()
      ivfProbe(timed = true)
      knnProbe(timed = true)
      bm25Probe(Bm25Queries, timed = true)
      ingest(timed = true)
      timedNs += System.nanoTime() - t
    }
    ctx.phase("timed")
    // the traced run follows up with untimed batches, so that the
    // appendKnnGraphIndex series has the points `growth` compares
    while (ctx.trace && knnAppendMs.size < GrowthBatches) ingest(timed = false)
    val (files, indexBytes) = Disk.dataFiles(Seq(ivf, knn, dedup, bm25))
    val inputBytes = Disk.dataFiles(Seq(corpusPath))._2

    var layers = Option.empty[Layers]
    val metrics = if (!ctx.trace) Seq(
      "setup_s" -> Metric(setupS, "s"),
      "read_p50_ms" -> Metric(Stats.median(probeMs.toSeq), "ms"),
      "read_p90_ms" -> Metric(Stats.quantile(probeMs.toSeq, 0.9), "ms"),
      "write_p50_ms" -> Metric(Stats.median(ingestMs.toSeq), "ms"))
    else {
      val l = new Layers(ctx, timedFrom)
      l.common(reads = ProbeSpans, writes = Seq("ingest.batch"),
        storeRoots = Seq(corpusPath, ivf, knn, dedup, bm25))
      ProbeSpans.foreach(l.span(_, "ms", "jobs", "gap_ms", "rows_read_per_result"))
      l.span("operators.CommitTable.append", "ms")
      l.span("streaming.CommitLogStream.followChanges", "self_ms")
      for (a <- Seq("llm.Dedup.dedupAgainstIndex", "llm.Dedup.appendDedupIndex",
                    "llm.Similarity.appendIvfIndex", "llm.Retrieval.appendBm25Index",
                    "llm.KnnGraph.appendKnnGraphIndex")) l.span(a, "ms")
      l.putDetail("llm.KnnGraph.appendKnnGraphIndex.growth", knnAppendMs.last / knnAppendMs.head, "ratio")
      l.putDetail("ingest.jobs", l.median("ingest.batch")(s => l.work(s).jobs.toDouble), "count")
      l.putDetail("ingest.commits", Stats.median(commitsPerBatch.toSeq), "count")
      l.putDetail("index.files", files.toDouble, "count")
      l.putDetail("index.bytes_per_input_byte", indexBytes.toDouble / inputBytes, "ratio")
      for (b <- Seq("llm.Similarity.buildIvfIndex", "llm.KnnGraph.buildKnnGraphIndex",
                    "llm.Dedup.buildDedupIndex", "llm.Retrieval.buildBm25Index")) l.setupSpan(b, "ms")
      layers = Some(l)
      l.out.toSeq
    }
    Outcome(metrics, layers.map(_.detailFacts).toSeq ++ Seq(
      "ann_recall_at_5" -> mean(recalls.values.flatten),
      "ingest_docs_per_s" -> ingestedDocs / (ingestMs.sum / 1e3),
      "input_digest" -> inputDigest, "digest_self_check" -> selfCheck,
      "corpus_docs" -> CorpusDocs, "dim" -> Dim, "clusters" -> Clusters,
      "ingest_batch_docs" -> BatchDocs, "ann_probe_queries" -> AnnQueries,
      "bm25_probe_queries" -> Bm25Queries, "live_docs_final" -> live.size,
      "timed_probes" -> probeMs.size, "timed_ingests" -> ingestMs.size,
      "recall_at_5_by_index" -> recalls.map { case (k, rs) => k -> mean(rs) },
      "knn_append_ms_by_batch" -> knnAppendMs.toSeq,
      "commits_by_batch" -> commitsPerBatch.toSeq, "index_files" -> files,
      "index_bytes" -> indexBytes, "input_bytes" -> inputBytes, "timed_s" -> timedNs / 1e9))
  }

  private def mean(xs: Iterable[Double]): Double = xs.sum / xs.size

  /** A batch of external ANN queries (negative ids, disjoint from the
    * corpus) against one index; checks every returned neighbour and its
    * score, and scores recall@K against exact top-K over the live set. */
  private def annProbe(name: String, search: DataFrame => DataFrame, timed: Boolean): Unit = {
    val qs = (1 to AnnQueries).map(i => (-i.toLong, gen.vector()))
    val spark = ctx.spark
    import spark.implicits._
    val qf = qs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val lat = ctx.op(name)(ctx.readSpan(name)(search(qf).collect())) { rows =>
      val vecs = live.view.mapValues(_.vec).toMap
      val byQuery = rows.groupBy(_.getLong(0))
      for ((qid, q) <- qs) {
        val got = byQuery.getOrElse(qid, Array.empty[Row]).sortBy(_.getLong(2))
        ctx.expect(got.map(_.getLong(2)).toSeq == (1L to K),
          s"$name query $qid: ranks ${got.map(_.getLong(2)).mkString(",")}")
        for (r <- got) {
          val v = vecs.getOrElse(r.getLong(1),
            throw new IllegalStateException(s"$name returned unknown id ${r.getLong(1)}"))
          val cos = Refs.dot(q, v) / math.sqrt(Refs.dot(q, q) * Refs.dot(v, v))
          ctx.expect(math.abs(math.floor(cos * 1e6) - r.getLong(3)) <= 1,
            s"$name query $qid: id ${r.getLong(1)} scored ${r.getLong(3)}, cosine is $cos")
        }
        val exact = Refs.topK(q, vecs, K).toSet
        if (timed) recalls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          got.count(r => exact(r.getLong(1))).toDouble / K
      }
    }
    if (timed) probeMs ++= lat
  }

  private def ivfProbe(timed: Boolean): Unit = annProbe("llm.Similarity.ivfSearchFor",
    qf => Similarity.ivfSearchFor(ctx.spark, ivf, qf, k = K, nprobe = NProbe), timed)

  private def knnProbe(timed: Boolean): Unit = annProbe("llm.KnnGraph.knnGraphSearchFor",
    qf => KnnGraph.knnGraphSearchFor(ctx.spark, knn, qf, k = K), timed)

  /** BM25 takes one query per call, so a batch is `queries` calls. The
    * batch's first query is checked against the un-indexed scorer over
    * the live docs. */
  private def bm25Probe(queries: Int, timed: Boolean): Unit = {
    val qs = (1 to queries).map(_ => gen.terms())
    val lat = ctx.op("bm25Probe")(qs.map(terms => ctx.readSpan("llm.Retrieval.bm25TopKIndexed")(
      Retrieval.bm25TopKIndexed(ctx.spark, bm25, terms, k = 10).collect()))) { results =>
      val want = Retrieval.bm25TopK(textOf(frame(live.values)), qs.head, k = 10).collect()
      ctx.expect(results.head.toSeq == want.toSeq,
        s"bm25 '${qs.head.mkString(" ")}': indexed ${results.head.mkString(",")} vs scan ${want.mkString(",")}")
    }
    if (timed) probeMs ++= lat
  }

  private def ingest(timed: Boolean): Unit = {
    val indexed = live.values.toIndexedSeq
    val batch = Seq.fill(BatchDocs)(gen.ingestDoc(indexed))
    val exactDups = batch.filter(_.exactCopy).map(_.id).toSet
    val roots = Seq(corpusPath, ivf, knn, dedup, bm25)
    val logsBefore = Disk.logVersions(roots)
    var applied = Seq.empty[Long]
    var flagged = Array.empty[Row]
    val lat = ctx.op("ingest")(ctx.span("ingest.batch") {
      val v = ctx.span("operators.CommitTable.append")(corpus.append(frame(batch)))
      ctx.span("streaming.CommitLogStream.followChanges")(
        CommitLogStream.followChanges(ctx.spark, corpus, corpusPath, (ver, cdf) => {
          applied :+= ver
          val ins = cdf.filter(col("change_type") === "insert").drop("change_type")
          flagged = ctx.span("llm.Dedup.dedupAgainstIndex")(
            Dedup.dedupAgainstIndex(textOf(ins), dedup).collect())
          val dupIds = flagged.map(_.getLong(0)).distinct.toSeq
          val survivors = ins.filter(!col("doc_id").isin(dupIds: _*)).localCheckpoint()
          ctx.span("llm.Dedup.appendDedupIndex")(Dedup.appendDedupIndex(textOf(survivors), dedup))
          ctx.span("llm.Similarity.appendIvfIndex")(Similarity.appendIvfIndex(embOf(survivors), ivf))
          val tk = System.nanoTime()
          ctx.span("llm.KnnGraph.appendKnnGraphIndex")(KnnGraph.appendKnnGraphIndex(embOf(survivors), knn))
          knnAppendMs += (System.nanoTime() - tk) / 1e6
          ctx.span("llm.Retrieval.appendBm25Index")(Retrieval.appendBm25Index(textOf(survivors), bm25))
        }, startingVersion = v))
      v
    }) { v =>
      ctx.expect(applied == Seq(v), s"change feed applied versions $applied, expected $v")
      val byId = batch.map(d => d.id -> d).toMap
      val missed = exactDups -- flagged.map(_.getLong(0))
      ctx.expect(missed.isEmpty, s"dedup missed planted exact duplicates ${missed.mkString(",")}")
      for (r <- flagged) {
        val (dNew, dOld, j) = (r.getLong(0), r.getLong(1), r.getLong(4))
        val old = live.getOrElse(dOld, throw new IllegalStateException(s"dedup matched unindexed doc $dOld"))
        val want = Refs.jaccard1000(byId(dNew).shingles, old.shingles)
        ctx.expect(j == want && j >= 500, s"dedup pair ($dNew, $dOld): jaccard_1000 $j, exact $want")
      }
    }
    if (lat.isDefined) {
      val dupIds = flagged.map(_.getLong(0)).toSet
      batch.filterNot(d => dupIds(d.id)).foreach(d => live(d.id) = d)
    }
    commitsPerBatch += (Disk.logVersions(roots) - logsBefore).toDouble
    if (timed) { ingestMs ++= lat; ingestedDocs += batch.size }
  }
}

object IndexServeIngest {
  /** The spans of one probe call, per index. */
  val ProbeSpans = Seq("llm.Similarity.ivfSearchFor", "llm.KnnGraph.knnGraphSearchFor",
    "llm.Retrieval.bm25TopKIndexed")
  val CorpusDocs = 2000
  val Dim = 64
  val Clusters = 16
  val VocabSize = 2000
  val MinWords = 24
  val MaxWords = 48
  /** Share of near-duplicates (a few word edits of an earlier doc) in the
    * initial corpus and in ingest batches. */
  val NearDupShare = 0.1
  /** Share of exact copies of indexed docs in ingest batches. */
  val ExactDupShare = 0.05
  val BatchDocs = 200
  val AnnQueries = 16
  val Bm25Queries = 4
  val K = 5
  val NList = 16
  val NProbe = 4
  /** Ingest batches after the warm-up one in a traced run, the timed ones
    * included. */
  val GrowthBatches = 3

  final class Doc(val id: Long, val words: Array[String], val vec: Array[Double], val exactCopy: Boolean) {
    val text: String = words.mkString(" ")
    lazy val shingles: Set[String] = Refs.shingles(text)
  }

  /** The seeded corpus: Zipf-worded docs, each with a 64-d embedding drawn
    * around one of `Clusters` centres. Per-dimension noise decays
    * geometrically, so each cluster has a low intrinsic dimension and
    * nearest neighbours are well defined. Every doc drawn feeds `digest`. */
  final class Corpus(rng: SplittableRandom) {
    private val vocab = new Gen.Vocab(VocabSize)
    private val gauss = new Gen.Gaussian(rng)
    private val centres = Array.fill(Clusters)(gauss.vector(Dim))
    private val scales = Array.tabulate(Dim)(i => 0.6 * math.pow(0.92, i))
    private var nextId = 0L
    val digest = new Gen.Digest
    centres.flatten.foreach(digest.double)

    def vector(): Array[Double] = {
      val c = centres(rng.nextInt(Clusters))
      val z = gauss.vector(Dim)
      Array.tabulate(Dim)(i => c(i) + scales(i) * z(i))
    }

    def terms(): Seq[String] = Seq.fill(2 + rng.nextInt(2))(vocab.word(rng)).distinct

    private def doc(words: Array[String], vec: Array[Double], exactCopy: Boolean = false): Doc = {
      val d = new Doc(nextId, words, vec, exactCopy)
      nextId += 1
      digest.long(d.id).string(d.text)
      vec.foreach(digest.double)
      d
    }
    private def fresh(): Doc =
      doc(Gen.doc(rng, vocab, MinWords + rng.nextInt(MaxWords - MinWords + 1)), vector())
    private def near(src: Doc, edits: Int): Doc =
      doc(Gen.nearCopy(rng, vocab, src.words, edits), vector())

    def initial(): Seq[Doc] = {
      val out = mutable.ArrayBuffer.empty[Doc]
      while (out.size < CorpusDocs)
        out += (if (out.nonEmpty && rng.nextDouble() < NearDupShare) near(out(rng.nextInt(out.size)), 2)
                else fresh())
      out.toSeq
    }

    def ingestDoc(indexed: IndexedSeq[Doc]): Doc = {
      val p = rng.nextDouble()
      if (p < ExactDupShare) {
        val src = indexed(rng.nextInt(indexed.size))
        doc(src.words, src.vec, exactCopy = true)
      } else if (p < ExactDupShare + NearDupShare) near(indexed(rng.nextInt(indexed.size)), 3)
      else fresh()
    }
  }

  def digestSelfCheck(seed: Long, digest: String): Boolean = {
    def gen(s: Long) = { val c = new Corpus(new SplittableRandom(s)); c.initial(); c.digest.hex }
    val ok = gen(seed) == digest && gen(seed + 1) != digest
    require(ok, "input generator is not a function of the seed")
    ok
  }
}

package graft.perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded in-process input generators. Everything a workload feeds graft
  * is derived from one `SplittableRandom(seed)`, so the same seed gives the
  * same inputs on every host; graft receives only the generated frames. */
object Gen {

  /** R-MAT edge list over `2^scale` vertex ids (skewed, power-law degrees):
    * each edge descends `scale` quadrant choices with probabilities
    * (a, b, c, d) = (0.57, 0.19, 0.19, 0.05). Self-loops and duplicate
    * edges are dropped, so the result is a simple directed graph with
    * exactly `numEdges` edges. Vertex ids start at `base`. `symmetric`
    * draws `numEdges / 2` distinct unordered pairs and stores each in
    * both directions, the reference's undirected-by-convention matrices. */
  def rmat(rng: SplittableRandom, scale: Int, numEdges: Int, base: Long = 0L,
           symmetric: Boolean = false): Array[(Long, Long)] = {
    require(!symmetric || numEdges % 2 == 0, "a symmetric edge list has an even edge count")
    require(numEdges.toLong < (1L << scale) * ((1L << scale) - 1) / 4, "R-MAT too dense for its scale")
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = Array.newBuilder[(Long, Long)]
    var n = 0
    val draws = if (symmetric) numEdges / 2 else numEdges
    while (n < draws) {
      var s = 0L
      var d = 0L
      var bit = 0
      while (bit < scale) {
        val p = rng.nextDouble()
        s <<= 1; d <<= 1
        if (p < 0.57) ()
        else if (p < 0.76) d |= 1
        else if (p < 0.95) s |= 1
        else { s |= 1; d |= 1 }
        bit += 1
      }
      val e = if (symmetric) (math.min(s, d) + base, math.max(s, d) + base) else (s + base, d + base)
      if (s != d && seen.add(e)) {
        out += e
        if (symmetric) out += e.swap
        n += 1
      }
    }
    out.result()
  }

  /** A Zipf-weighted vocabulary `w0 .. w{size-1}` of lowercase
    * alphanumeric tokens (the BM25 and shingle tokenizers' alphabet). */
  final class Vocab(size: Int) {
    private val cdf = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def word(rng: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      "w" + (if (i >= 0) i else math.min(-i - 1, size - 1))
    }
  }

  /** A document of `len` Zipf-drawn words. */
  def doc(rng: SplittableRandom, vocab: Vocab, len: Int): Array[String] =
    Array.fill(len)(vocab.word(rng))

  /** A near-duplicate: `edits` single-word substitutions of `src`. */
  def nearCopy(rng: SplittableRandom, vocab: Vocab, src: Array[String], edits: Int): Array[String] = {
    val out = src.clone()
    for (_ <- 0 until edits) out(rng.nextInt(out.length)) = vocab.word(rng)
    out
  }

  /** SHA-256 over a stream of inputs — the input digest a run records. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = ByteBuffer.allocate(8)
    def long(x: Long): Digest = { buf.clear(); buf.putLong(x); md.update(buf.array()); this }
    def double(x: Double): Digest = long(java.lang.Double.doubleToLongBits(x))
    def string(s: String): Digest = { val b = s.getBytes(UTF_8); long(b.length); md.update(b); this }
    /** The digest; the stream is closed once this is read. */
    lazy val hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Standard normal draws (Marsaglia's polar method). */
  final class Gaussian(rng: SplittableRandom) {
    private var spare = Double.NaN
    def next(): Double =
      if (!spare.isNaN) { val s = spare; spare = Double.NaN; s }
      else {
        var u, v, s = 0.0
        while ({ u = 2 * rng.nextDouble() - 1; v = 2 * rng.nextDouble() - 1; s = u * u + v * v
                 s >= 1 || s == 0 }) ()
        val m = math.sqrt(-2 * math.log(s) / s)
        spare = v * m
        u * m
      }
    def vector(dim: Int): Array[Double] = Array.fill(dim)(next())
  }
}

package perfbench

import java.util.SplittableRandom
import scala.util.hashing.MurmurHash3

/** Seeded input generators. Every generated row is a pure function of
  * (seed, stream, row index), so Spark tasks and the driver-side
  * reference checks produce identical data without shipping it, and the
  * result does not depend on partitioning or on the order rows are made.
  */
object Gen {
  // one independent stream per kind of generated value
  val SVocab = 1L; val SCenter = 2L; val SVec = 3L; val SPassage = 4L
  val SQueryText = 5L; val SBase = 6L; val SMut = 7L; val SSingle = 8L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ i))

  /** Zipf(s) vocabulary of random lowercase words: rank r is drawn with
    * probability ∝ 1/r^s, so a few words dominate as in natural text.
    * Every rank is a different word, so the word frequencies follow the
    * same law for every seed; only the spellings change.
    */
  final class Vocab(seed: Long, size: Int = 20000, s: Double = 1.1) extends Serializable {
    val words: Array[String] = {
      val seen = new java.util.HashSet[String]()
      Array.tabulate(size) { i =>
        val r = rng(seed, SVocab, i)
        def word(): String = {
          val n = 2 + r.nextInt(8)
          val sb = new java.lang.StringBuilder(n)
          var k = 0
          while (k < n) { sb.append(('a' + r.nextInt(26)).toChar); k += 1 }
          sb.toString
        }
        var w = word()
        while (!seen.add(w)) w = word()
        w
      }
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
    /** Words drawn until the space-joined text reaches `minChars`. */
    def wordsUpTo(r: SplittableRandom, minChars: Int): Array[String] = {
      val out = Array.newBuilder[String]
      var len = -1
      while (len < minChars) { val w = draw(r); out += w; len += w.length + 1 }
      out.result()
    }
  }

  /** `retrieve`: documents of 250-350 chars of Zipf words, and an
    * embedding model stand-in that maps any text to a point of a Gaussian
    * mixture of `nComp` components in `dim` dimensions: the text's 64-bit
    * hash picks a component and seeds N(0, sigma²) noise per dimension.
    * Queries are texts embedded by the same function.
    */
  final class Mixture(seed: Long, val dim: Int, nComp: Int, sigma: Double) extends Serializable {
    val vocab = new Vocab(seed)
    private val centers: Array[Array[Double]] = Array.tabulate(nComp) { c =>
      val r = rng(seed, SCenter, c)
      Array.fill(dim)(r.nextGaussian())
    }
    def vector(text: String): Array[Double] = {
      val h = (MurmurHash3.stringHash(text, 1).toLong << 32) ^
        (MurmurHash3.stringHash(text, 2) & 0xffffffffL)
      val r = rng(seed, SVec, h)
      val c = centers(r.nextInt(nComp))
      Array.tabulate(dim)(d => c(d) + sigma * r.nextGaussian())
    }
    def docText(i: Long): String = {
      val r = rng(seed, SPassage, i)
      s"doc $i: " + vocab.wordsUpTo(r, 250 + r.nextInt(101)).mkString(" ")
    }
    def queryText(j: Int): String =
      s"question $j: " + vocab.wordsUpTo(rng(seed, SQueryText, j), 40).mkString(" ")
  }

  /** `dedup`: planted near-duplicate clusters with Zipf sizes
    * (size of the r-th cluster = max(2, ⌊top / r^a⌋)) followed by
    * singleton documents. Every member is its cluster's base text with
    * `subs` single-word substitutions, which keeps the word-3-shingle
    * Jaccard of any two members of a cluster above 0.5.
    */
  final class DedupCorpus(seed: Long, val nDocs: Int, top: Int, a: Double,
                          nClusters: Int, subs: Int = 2) extends Serializable {
    val vocab = new Vocab(seed)
    val sizes: Array[Int] =
      Array.tabulate(nClusters)(r => math.max(2, (top / math.pow(r + 1, a)).toInt))
    /** offsets(c) = first doc id of cluster c; offsets.last = clustered docs. */
    val offsets: Array[Int] = sizes.scanLeft(0)(_ + _)
    val clustered: Int = offsets.last
    require(clustered < nDocs, s"$clustered clustered docs do not fit in $nDocs")
    val plantedPairs: Long = sizes.map(s => s.toLong * (s - 1) / 2).sum

    /** Cluster of doc i, or -1 for a singleton. */
    def clusterOf(i: Long): Int =
      if (i >= clustered) -1
      else {
        val k = java.util.Arrays.binarySearch(offsets, i.toInt)
        if (k >= 0) k else -k - 2
      }

    def text(i: Long): String = {
      val c = clusterOf(i)
      if (c < 0) vocab.wordsUpTo(rng(seed, SSingle, i), 300).mkString(" ")
      else {
        val words = vocab.wordsUpTo(rng(seed, SBase, c), 320)
        val r = rng(seed, SMut, i)
        var k = 0
        while (k < subs) { words(r.nextInt(words.length)) = vocab.draw(r); k += 1 }
        words.mkString(" ")
      }
    }
  }

  /** Order-independent 64-bit digest of generated rows 0..n-1. */
  def digest(n: Int)(row: Int => String): Long = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += mix(row(i).hashCode.toLong * 31 + i); i += 1 }
    acc
  }
}

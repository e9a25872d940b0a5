package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every row is a pure function of
  * (seed, stream, row id), so the same seed gives the same rows at any
  * partition count and a different seed gives different rows. The
  * engine only ever sees the DataFrames built here. */
object Gen {

  /** SplitMix64 finaliser: decorrelates nearby (seed, id) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  // Streams: each independent draw family gets its own salt.
  val Base = 1L
  val Query = 2L
  val Model = 3L
  val Doc = 4L
  val Mutation = 5L

  /** Clustered vectors on a curved low-rank manifold, after the
    * reference's SyntheticDataset (contrib/datasets.py): Gaussian points
    * in an intrinsic space of D1 dimensions, a random projection to d,
    * a per-dimension frequency scale and sin(). Points are drawn around
    * `clusters` intrinsic centres whose weights fall as 1/(c+1), so the
    * IVF lists the engine builds are uneven, as on real embeddings. */
  final class VectorModel(val d: Int, val clusters: Int, val seed: Long)
      extends Serializable {
    val D1 = 10
    private val (centers, proj, freq) = {
      val r = rng(seed, Model, 0L)
      (Array.fill(clusters, D1)(r.nextGaussian() * 1.5),
        Array.fill(D1, d)(r.nextDouble()),
        Array.fill(d)(r.nextDouble() * 4 + 0.1))
    }
    private val cumWeight = {
      val w = Array.tabulate(clusters)(c => 1.0 / (c + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }

    def cluster(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cumWeight, u)
      math.min(clusters - 1, if (i >= 0) i else -i - 1)
    }

    def vector(stream: Long, id: Long): Array[Float] = {
      val g = rng(seed, stream, id)
      val c = centers(cluster(g.nextDouble()))
      val x1 = Array.tabulate(D1)(j => c(j) + 0.35 * g.nextGaussian())
      Array.tabulate(d) { j =>
        var s = 0.0
        var i = 0
        while (i < D1) { s += x1(i) * proj(i)(j); i += 1 }
        math.sin(s * freq(j)).toFloat
      }
    }
  }

  /** (id: long, vec: array<float>) rows 0 until n of `stream`. */
  def vectors(spark: SparkSession, m: VectorModel, stream: Long, n: Long,
      parts: Int, idName: String = "id", vecName: String = "vec"): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => (i.longValue, m.vector(stream, i)))
      .toDF(idName, vecName)
  }

  /** Synthetic text corpus: words are drawn uniformly from a large
    * vocabulary, so unrelated documents share almost no word 3-grams,
    * and lengths are log-normal (median ~45 words, long tail to 1000).
    * Documents 2i and 2i+1 for i < pairs are a planted near-duplicate
    * pair: 2i+1 is 2i with words replaced until the pair's word-3-gram
    * Jaccard reaches a drawn target. Even i aims at or above
    * `threshold`, odd i just below it. */
  final class TextModel(val seed: Long, val pairs: Int, val threshold: Double)
      extends Serializable {
    val Vocab = 50000
    val Ngram = 3

    private def word(w: Int): String = "w" + Integer.toString(w, 36)

    private def baseWords(id: Long): Array[String] = {
      val g = rng(seed, Doc, id)
      val raw = math.exp(3.8 + 0.8 * g.nextGaussian()).toInt
      val minLen = if (id < 2L * pairs) 60 else 8
      val len = math.min(1000, math.max(minLen, raw))
      Array.fill(len)(word(g.nextInt(Vocab)))
    }

    def isPlantedCopy(id: Long): Boolean = id < 2L * pairs && (id & 1L) == 1L

    /** The words of document `id`. */
    def words(id: Long): Array[String] =
      if (!isPlantedCopy(id)) baseWords(id)
      else {
        val orig = baseWords(id - 1)
        val copy = orig.clone()
        val g = rng(seed, Mutation, id)
        val pair = id / 2
        val above = pair % 2 == 0
        val target =
          if (above) threshold + g.nextDouble() * (0.97 - threshold)
          else threshold - 0.02 - g.nextDouble() * 0.08
        val a = Shingles.of(orig, Ngram)
        var fresh = 0
        var done = false
        while (!done) {
          val pos = g.nextInt(copy.length)
          val prev = copy(pos)
          copy(pos) = s"x${pair}_$fresh"
          fresh += 1
          val j = Shingles.jaccard(a, Shingles.of(copy, Ngram))
          if (above && j < target) { copy(pos) = prev; done = true }
          else if (!above && j < target) done = true
        }
        copy
      }

    def text(id: Long): String = words(id).mkString(" ")

    /** Exact word-3-gram Jaccard of planted pair i. */
    def plantedJaccard(pair: Int): Double =
      Shingles.jaccard(Shingles.of(words(2L * pair), Ngram),
        Shingles.of(words(2L * pair + 1), Ngram))
  }

  /** (doc_id: long, text: string) rows 0 until n. */
  def documents(spark: SparkSession, m: TextModel, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => (i.longValue, m.text(i)))
      .toDF("doc_id", "text")
  }
}

/** Word n-gram shingle sets and their Jaccard, in plain Scala: the
  * benchmark's own definition, independent of the engine's kernels
  * (word n-grams of the single-space tokenisation; documents shorter
  * than n words have no shingles). */
object Shingles {
  def of(words: Array[String], n: Int): Set[String] =
    if (words.length < n) Set.empty
    else words.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

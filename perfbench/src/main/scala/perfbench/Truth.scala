package perfbench

/** Reference answers computed in plain JVM code, sharing no kernel with
  * the engine: brute-force squared-L2 top-k with ties broken on
  * (dist, id), the nearest-centroid probe lists an IVF search scans,
  * and the result-shape checks every search output must pass. */
object Truth {

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val t = a(i).toDouble - b(i); s += t * t; i += 1 }
    s
  }

  /** The k nearest of `base` to `q`, best first: (id, dist). */
  def topK(q: Array[Float], ids: Array[Long], base: Array[Array[Float]],
      k: Int): Array[(Long, Double)] = {
    val ord = Ordering.by[(Long, Double), (Double, Long)](p => (p._2, p._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)
    var i = 0
    while (i < base.length) {
      val p = (ids(i), l2sq(q, base(i)))
      if (heap.size < k) heap.enqueue(p)
      else if (ord.lt(p, heap.head)) { heap.dequeue(); heap.enqueue(p) }
      i += 1
    }
    heap.dequeueAll.reverse.toArray
  }

  /** The `nprobe` nearest centroids of `q` (the lists IVF scans). */
  def probes(q: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Array[Int] =
    centroids.indices.map(c => (l2sq(q, centroids(c)), c)).sorted
      .take(nprobe).map(_._2).toArray

  /** Plain Lloyd k-means: `k` centroids of `xs`, seeded from k distinct
    * rows chosen by `seed`. */
  def kmeans(xs: Array[Array[Float]], k: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    val r = new java.util.SplittableRandom(seed)
    var cents = Iterator.continually(r.nextInt(xs.length)).distinct.take(k).map(xs(_).clone()).toArray
    for (_ <- 0 until iters) {
      val d = cents.head.length
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      xs.foreach { x =>
        val c = cents.indices.minBy(i => l2sq(x, cents(i)))
        counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += x(j); j += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(v => (v / counts(c)).toFloat))
    }
    cents
  }

  /** Tie-aware equality of two best-first top-k lists (the reference's
    * knn-with-draws rule): same length, distances equal rank by rank
    * within a relative tolerance, and the same ids except inside a
    * group of equal distances. */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-4 * (1.0 + math.abs(b))
    got.length == want.length &&
      got.zip(want).forall { case (g, w) => close(g._2, w._2) } && {
        val last = want.lastOption.map(_._2).getOrElse(0.0)
        val strictG = got.filter(p => !close(p._2, last)).map(_._1).toSet
        val strictW = want.filter(p => !close(p._2, last)).map(_._1).toSet
        strictG == strictW
      }
  }

  /** |got ∩ want| / |want| over ids. */
  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}

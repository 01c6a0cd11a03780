package graft.operators

/** The nearest-centroid kernel of every vector index: IVF cell choice
  * for a query, cell assignment of a row, PQ coarse cells and subspace
  * codes.
  *
  * A distance is `Σ(c−q)²` over the common prefix of the two vectors,
  * summed in index order, and ties go to the lower index. Every caller
  * therefore picks the same cells to the bit, whatever side it calls
  * the centroid.
  */
object Centroids {

  /** Squared L2 distance over the common prefix of `c` and `q`. */
  def l2sq(c: Array[Double], q: Array[Double]): Double = {
    val n = math.min(c.length, q.length)
    var s = 0.0
    var j = 0
    while (j < n) { val d = c(j) - q(j); s += d * d; j += 1 }
    s
  }

  /** Cosine distance `1 − cos(c, q)`; 2.0 when either side is zero. */
  def cosine(c: Array[Double], q: Array[Double]): Double = {
    val n = math.min(c.length, q.length)
    var dot = 0.0; var nc = 0.0; var nq = 0.0
    var j = 0
    while (j < n) { dot += c(j) * q(j); nc += c(j) * c(j); nq += q(j) * q(j); j += 1 }
    if (nc == 0 || nq == 0) 2.0 else 1.0 - dot / math.sqrt(nc * nq)
  }

  /** Index of the L2-nearest centroid (argmin; the first on ties). */
  def nearest(cents: Array[Array[Double]], q: Array[Double]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      val s = l2sq(cents(i), q)
      if (s < bd) { bd = s; best = i }
      i += 1
    }
    best
  }

  /** The `n` nearest centroids under `metric` ("cosine", else L2),
    * nearest first. Cosine ranks by angular distance to the centroid.
    */
  def rank(cents: Array[Array[Double]], q: Array[Double], n: Int,
      metric: String = "l2"): Seq[Int] = {
    val d = cents.map(c => if (metric == "cosine") cosine(c, q) else l2sq(c, q))
    // a stable sort: equal distances keep index order
    d.indices.sortBy(d(_)).take(n)
  }
}

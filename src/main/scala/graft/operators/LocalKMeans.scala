package graft.operators

/** Deterministic driver-local k-means (k-means++ seeding + Lloyd's) for
  * fits whose INPUT is already driver-bounded by contract — the IVF
  * coarse quantizer both index families share and the IVF-PQ codebook
  * fits, where the sample is a few-hundred-k rows at most and the output
  * is a handful of centroids.
  *
  * Why not MLlib: each `KMeans.fit` is a multi-stage distributed job with
  * seconds of fixed scheduling overhead, and IVF-PQ needs 1 + m of them
  * (coarse + one per subspace) over the SAME tiny single-partition
  * sample — measured 18 s of pure overhead per index build on a 2 k-row
  * fixture. The sample is collected once and every fit is an in-memory
  * loop: the same 9 fits take milliseconds, and at the documented
  * 100 TB shape (`maxFitRows` caps the fit input) the sample is
  * driver-scale by construction, so nothing is lost vs the coalesce(1)
  * single-partition fit this replaces.
  *
  * Determinism (the property the persisted-index contract needs): seeded
  * RNG for k-means++ draws, strict-`<` argmin so distance ties break
  * toward the LOWER centroid index, empty clusters reseed to the point
  * farthest from its centroid (lowest index on ties). Same points +
  * seed → bit-identical centroids on any JVM, independent of upstream
  * partitioning (the caller sorts the sample).
  */
object LocalKMeans {

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Fit `k` centroids (fewer when `points.length < k`). `points` order
    * matters for determinism — callers pass a sorted sample.
    *
    * Runs `restarts` independent seeded inits and keeps the lowest-
    * inertia run (ties → lower restart index): Lloyd's lands in local
    * optima, and with the fit driver-local the extra runs cost
    * milliseconds where one MLlib job cost seconds. */
  def fit(
      points: Array[Array[Double]],
      k: Int,
      seed: Long,
      maxIter: Int = 25,
      restarts: Int = 3): Array[Array[Double]] = {
    require(restarts >= 1)
    var best: Array[Array[Double]] = null
    var bestInertia = Double.MaxValue
    var r = 0
    while (r < restarts) {
      val cs = fitOnce(points, k, seed + 7919L * r, maxIter)
      val in = inertia(points, cs)
      if (in < bestInertia) { bestInertia = in; best = cs }
      r += 1
    }
    best
  }

  private def inertia(
      points: Array[Array[Double]],
      centers: Array[Array[Double]]): Double = {
    var s = 0.0; var i = 0
    while (i < points.length) {
      var bd = Double.MaxValue; var j = 0
      while (j < centers.length) {
        val d = dist2(points(i), centers(j)); if (d < bd) bd = d
        j += 1
      }
      s += bd; i += 1
    }
    s
  }

  private def fitOnce(
      points: Array[Array[Double]],
      k: Int,
      seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "cannot fit k-means on an empty sample")
    val kk = math.min(k, n)
    val dim = points(0).length
    val rng = new scala.util.Random(seed)

    // k-means++: first center uniform, then D²-weighted draws
    val centers = Array.ofDim[Array[Double]](kk)
    centers(0) = points(rng.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 0
    while (c + 1 < kk) {
      var i = 0
      while (i < n) {
        val d = dist2(points(i), centers(c)); if (d < d2(i)) d2(i) = d
        i += 1
      }
      val total = d2.sum
      val next =
        if (total <= 0) rng.nextInt(n) // degenerate: all mass on centers
        else {
          var r = rng.nextDouble() * total
          var j = 0
          while (j < n - 1 && r > d2(j)) { r -= d2(j); j += 1 }
          j
        }
      c += 1
      centers(c) = points(next).clone()
    }

    // Lloyd's until assignments stabilize
    val assign = Array.fill(n)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kk) {
          val d = dist2(points(i), centers(j))
          if (d < bd) { bd = d; best = j } // strict < : ties → lower index
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.fill(kk, dim)(0.0)
        val counts = Array.fill(kk)(0)
        i = 0
        while (i < n) {
          val a = assign(i); counts(a) += 1
          var dd = 0
          while (dd < dim) { sums(a)(dd) += points(i)(dd); dd += 1 }
          i += 1
        }
        var j = 0
        while (j < kk) {
          if (counts(j) > 0) {
            var dd = 0
            while (dd < dim) { centers(j)(dd) = sums(j)(dd) / counts(j); dd += 1 }
          } else {
            // empty cluster: reseed to the worst-fit point, deterministically
            var far = 0; var fd = -1.0; var i3 = 0
            while (i3 < n) {
              val d = dist2(points(i3), centers(assign(i3)))
              if (d > fd) { fd = d; far = i3 }
              i3 += 1
            }
            centers(j) = points(far).clone()
          }
          j += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** Nearest-center index with the same strict-`<` tie-break as [[fit]]. */
  def assign(point: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var j = 0
    while (j < centers.length) {
      val d = dist2(point, centers(j))
      if (d < bd) { bd = d; best = j }
      j += 1
    }
    best
  }
}

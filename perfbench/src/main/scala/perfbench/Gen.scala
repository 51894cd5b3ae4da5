package perfbench

import java.util.SplittableRandom

/** Counter-based randomness: every value is a pure function of
  * (seed, stream, index, slot), so the driver and Spark's executors
  * compute identical inputs with no data shipped between them.
  */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def u01(seed: Long, stream: Long, i: Long, slot: Int): Double =
    (mix(mix(mix(seed) ^ stream) + i * 0x632BE59BD9B4E019L + slot) >>> 11) / 9007199254740992.0

  /** Standard normal (Box–Muller over two slots). */
  def gauss(seed: Long, stream: Long, i: Long, slot: Int): Double = {
    val u1 = math.max(u01(seed, stream, i, slot), 1e-300)
    val u2 = u01(seed, stream, i, slot + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Fractional part in [0, 1), also for negative x. */
  def frac(x: Double): Double = x - math.floor(x)

  def logUniform(u: Double, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))
}

final case class Box(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

/** Clustered points: `clusterShare` of them in Gaussian clusters whose
  * sizes fall off Zipf-like (hot cells), the rest uniform over the world.
  * The seed places the clusters; each cluster's size and spread depend
  * only on its rank, so every seed has the same amount of skew.
  */
final case class PointGen(seed: Long, n: Int) {
  private val PointStream = 1L
  private val clusters = 200
  private val clusterShare = 0.8

  val (cx, cy, sigma, cdf) = {
    val r = new SplittableRandom(seed ^ 0x5EEDL)
    // one cluster per cell of a 20 x 10 grid over lon ±150, lat ±60, at a
    // seeded spot inside its cell and with a seeded size rank: clusters
    // never pile onto each other, so every seed has the same spacing
    val cell = (0 until clusters).map(i => (i, r.nextDouble())).sortBy(_._2).map(_._1).toArray
    val cx = cell.map(k => -150 + 15.0 * (k % 20) + 15.0 * r.nextDouble())
    val cy = cell.map(k => -60 + 12.0 * (k / 20 % 10) + 12.0 * r.nextDouble())
    val sigma = Array.tabulate(clusters)(i => Rng.logUniform((i * 0.6180339887 + 0.5) % 1.0, 1.0, 4.0))
    val w = Array.tabulate(clusters)(i => 1.0 / math.pow(i + 1, 0.8))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    (cx, cy, sigma, cdf)
  }

  def cluster(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, clusters - 1)
  }

  private def clampLon(x: Double) = math.max(-179.999, math.min(179.999, x))
  private def clampLat(y: Double) = math.max(-89.999, math.min(89.999, y))

  def lon(i: Long): Double =
    if (Rng.u01(seed, PointStream, i, 0) >= clusterShare) -180 + 360 * Rng.u01(seed, PointStream, i, 1)
    else {
      val c = cluster(Rng.u01(seed, PointStream, i, 3))
      clampLon(cx(c) + sigma(c) * Rng.gauss(seed, PointStream, i, 4))
    }

  def lat(i: Long): Double =
    if (Rng.u01(seed, PointStream, i, 0) >= clusterShare) -90 + 180 * Rng.u01(seed, PointStream, i, 2)
    else {
      val c = cluster(Rng.u01(seed, PointStream, i, 3))
      clampLat(cy(c) + sigma(c) * Rng.gauss(seed, PointStream, i, 6))
    }

  /** Box j of a stream: `lo`–`hi` degrees wide (log-uniform), half to
    * fully as tall, centred near a cluster with probability `onCluster`,
    * else uniform. The width quantile and the cluster step through
    * golden-ratio sequences in j, so every seed draws the same mix of
    * sizes and clusters; the seed places the boxes.
    */
  def box(stream: Long, j: Long, lo: Double, hi: Double, onCluster: Double): Box = {
    val w = Rng.logUniform(Rng.frac(j * 0.6180339887 + 0.5), lo, hi)
    val h = w * (0.5 + 0.5 * Rng.u01(seed, stream, j, 1))
    val (x, y) =
      if (Rng.u01(seed, stream, j, 2) < onCluster) {
        val c = cluster(Rng.frac(j * 0.7548776662 + 0.25))
        (cx(c) + sigma(c) * Rng.gauss(seed, stream, j, 4), cy(c) + sigma(c) * Rng.gauss(seed, stream, j, 6))
      } else (-180 + 360 * Rng.u01(seed, stream, j, 8), -90 + 180 * Rng.u01(seed, stream, j, 9))
    Box(clampLon(x - w / 2), clampLat(y - h / 2), clampLon(x + w / 2), clampLat(y + h / 2))
  }

  def points(): (Array[Double], Array[Double]) = {
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = lon(i); ys(i) = lat(i); i += 1 }
    (xs, ys)
  }
}

/** Documents of 40–160 Zipf-distributed words with planted duplicates.
  * Document i (i >= 1) is, with probability `exactShare`, a verbatim copy
  * of an earlier original; with probability `nearShare` an earlier
  * original with 1–3 words substituted; otherwise a fresh original.
  * Every document is a pure function of (seed, i).
  */
final case class DocGen(seed: Long, n: Int, vocab: Int = 4000,
                        exactShare: Double = 0.10, nearShare: Double = 0.15) {
  private val DocStream = 2L
  private val wcdf = {
    val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private def word(u: Double): String = {
    val i = java.util.Arrays.binarySearch(wcdf, u)
    "w" + Integer.toString(math.min(if (i >= 0) i else -i - 1, vocab - 1), 36)
  }

  /** 0 original, 1 exact copy, 2 near copy. */
  def kind(i: Long): Int = {
    val u = Rng.u01(seed, DocStream, i, 0)
    if (i == 0 || u >= exactShare + nearShare) 0 else if (u < exactShare) 1 else 2
  }

  /** The original a planted copy came from; -1 for originals. */
  def source(i: Long): Long =
    if (kind(i) == 0) -1
    else {
      val j = (Rng.u01(seed, DocStream, i, 1) * i).toLong
      if (kind(j) == 0) j else source(j)
    }

  private def originalWords(i: Long): Array[String] =
    Array.tabulate(40 + (Rng.u01(seed, DocStream, i, 2) * 121).toInt)(k =>
      word(Rng.u01(seed, DocStream, i, 16 + k)))

  def text(i: Long): String = kind(i) match {
    case 0 => originalWords(i).mkString(" ")
    case 1 => originalWords(source(i)).mkString(" ")
    case _ =>
      val ws = originalWords(source(i))
      for (m <- 0 until 1 + ws.length / 60)
        ws((Rng.u01(seed, DocStream, i, 3 + 2 * m) * ws.length).toInt) =
          word(Rng.u01(seed, DocStream, i, 4 + 2 * m))
      ws.mkString(" ")
  }
}

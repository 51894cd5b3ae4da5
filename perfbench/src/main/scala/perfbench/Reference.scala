package perfbench

/** Plain driver-side answers the benchmark checks graft against: no
  * layout, no pushdown, no Spark — loops over the generated arrays.
  */

/** Points bucketed into a 1° grid for range counts. */
final class PointGrid(xs: Array[Double], ys: Array[Double]) {
  private val W = 360; private val H = 180
  private def cx(x: Double) = math.min(W - 1, math.max(0, math.floor(x + 180).toInt))
  private def cy(y: Double) = math.min(H - 1, math.max(0, math.floor(y + 90).toInt))

  private val (start, order) = {
    val n = xs.length
    val cell = Array.tabulate(n)(i => cy(ys(i)) * W + cx(xs(i)))
    val start = new Array[Int](W * H + 1)
    cell.foreach(c => start(c + 1) += 1)
    for (c <- 1 to W * H) start(c) += start(c - 1)
    val fill = start.clone()
    val order = new Array[Int](n)
    for (i <- 0 until n) { order(fill(cell(i))) = i; fill(cell(i)) += 1 }
    (start, order)
  }

  private def foreachIn(b: Box)(f: Int => Unit): Unit =
    for (gy <- cy(b.ymin) to cy(b.ymax); gx <- cx(b.xmin) to cx(b.xmax)) {
      val c = gy * W + gx
      var k = start(c)
      while (k < start(c + 1)) { f(order(k)); k += 1 }
    }

  /** Points with xmin <= x <= xmax and ymin <= y <= ymax. */
  def rangeCount(b: Box): Long = {
    var n = 0L
    foreachIn(b) { i =>
      if (xs(i) >= b.xmin && xs(i) <= b.xmax && ys(i) >= b.ymin && ys(i) <= b.ymax) n += 1
    }
    n
  }
}

object Reference {

  /** Distinct word k-shingles, as graft's `word_shingles` defines them. */
  def shingles(text: String, k: Int): Set[String] = {
    val ws = text.split(' ')
    if (ws.length <= k) Set(ws.mkString(" "))
    else (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** Minimum-id component label of every node in `pairs`. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}

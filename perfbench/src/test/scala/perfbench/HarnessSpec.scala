package perfbench

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The harness's own arithmetic and generators, checked without Spark. */
class HarnessSpec extends AnyFunSuite with Matchers {

  test("percentiles interpolate linearly between closest ranks") {
    Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) shouldBe 2.5
    Stats.percentile((1 to 11).map(_.toDouble), 90) shouldBe 10.0
    Stats.percentile(Seq(5.0, 1.0, 3.0), 0) shouldBe 1.0
    Stats.percentile(Seq(5.0, 1.0, 3.0), 100) shouldBe 5.0
    Stats.percentile(Seq(7.0), 90) shouldBe 7.0
    Stats.median(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    an[IllegalArgumentException] should be thrownBy Stats.percentile(Nil, 50)
  }

  test("interval union counts overlaps once and clips to the window") {
    Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) shouldBe 25
    Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) shouldBe 10
    Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0, 100) shouldBe 20
    Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) shouldBe 10
    Stats.unionLength(Seq((200L, 300L)), 0, 100) shouldBe 0
    Stats.unionLength(Nil, 0, 100) shouldBe 0
  }

  test("driver gap is op wall minus the union of its stage intervals") {
    // op [0, 100); stages [10, 40) and [30, 60) overlap, [80, 90) apart:
    // 60 covered, 40 between and around the stages
    val stages = Seq((10L, 40L), (30L, 60L), (80L, 90L))
    100 - Stats.unionLength(stages, 0, 100) shouldBe 40
  }

  test("span self time subtracts the union of its children, per layer") {
    Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) shouldBe 60
    val spans = Seq(
      Span(1, "bench.window", 0, 1, 0, 100),
      Span(2, "sources.readWindow", 1, 1, 0, 40),
      Span(3, "exec.job", 2, 1, 10, 30),
      Span(4, "exec.collect", 1, 1, 50, 95),
      Span(5, "exec.job", 4, 1, 60, 90),
      Span(6, "exec.stage", 5, 1, 60, 70))
    val self = Span.selfByLayer(spans)
    self("bench") shouldBe 100 - 40 - 45
    self("sources") shouldBe 40 - 20
    // collect 45 - 30 covered by its job; job 20 + 30 - 10 covered by its stage; stage 10
    self("exec") shouldBe (45 - 30) + 20 + (30 - 10) + 10
    self.values.sum shouldBe 100
  }

  test("skew is the heaviest stage's slowest task over its median") {
    ExecListener.maxOverMedian(Map(1 -> Seq(10L, 10L, 40L), 2 -> Seq(5L, 5L))) shouldBe 4.0
    ExecListener.maxOverMedian(Map(1 -> Seq(10L))) shouldBe 1.0
  }

  test("the same seed gives the same points, windows and documents") {
    val (a, b) = (PointGen(7, 5000), PointGen(7, 5000))
    a.points()._1.toSeq shouldBe b.points()._1.toSeq
    a.points()._2.toSeq shouldBe b.points()._2.toSeq
    (0 until 50).map(a.box(11, _, 0.5, 30, 0.8)) shouldBe (0 until 50).map(b.box(11, _, 0.5, 30, 0.8))
    (0 until 50).map(a.box(11, _, 0.5, 30, 0.8)) should not be (0 until 50).map(PointGen(8, 5000).box(11, _, 0.5, 30, 0.8))
    val (d1, d2) = (DocGen(7, 500), DocGen(7, 500))
    (0 until 500).map(d1.text(_)) shouldBe (0 until 500).map(d2.text(_))
    PointGen(8, 5000).points()._1.toSeq should not be a.points()._1.toSeq
    (0 until 500).map(DocGen(8, 500).text(_)) should not be (0 until 500).map(d1.text(_))
  }

  test("generated inputs stay in range and plant the stated duplicate shares") {
    val g = PointGen(3, 20000)
    val (xs, ys) = g.points()
    xs.forall(x => x > -180 && x < 180) shouldBe true
    ys.forall(y => y > -90 && y < 90) shouldBe true
    (0 until 200).map(g.box(11, _, 0.5, 30, 0.8)).foreach { b =>
      b.xmin should be < b.xmax
      b.ymin should be < b.ymax
    }
    val d = DocGen(3, 20000)
    val kinds = (0 until 20000).map(d.kind(_))
    kinds.count(_ == 1) / 20000.0 shouldBe 0.10 +- 0.01
    kinds.count(_ == 2) / 20000.0 shouldBe 0.15 +- 0.01
    (0 until 20000).filter(kinds(_) != 0).foreach { i =>
      d.kind(d.source(i)) shouldBe 0
      d.source(i) should be < i.toLong
    }
    (0 until 20000).filter(kinds(_) == 1).foreach(i => d.text(i) shouldBe d.text(d.source(i)))
  }

  test("plain references: range counts, shingles and components") {
    val xs = Array(0.0, 1.0, 1.0, 5.0, -3.0)
    val ys = Array(0.0, 1.0, 2.0, 5.0, 0.5)
    val grid = new PointGrid(xs, ys)
    grid.rangeCount(Box(0, 0, 1, 1)) shouldBe 2
    grid.rangeCount(Box(-10, -10, 10, 10)) shouldBe 5
    Reference.shingles("a b c d", 3) shouldBe Set("a b c", "b c d")
    Reference.shingles("a b", 3) shouldBe Set("a b")
    Reference.jaccard(Set("x", "y"), Set("y", "z")) shouldBe 1.0 / 3
    Reference.components(Seq((5L, 3L), (3L, 9L), (1L, 2L))) shouldBe
      Map(5L -> 3L, 3L -> 3L, 9L -> 3L, 1L -> 1L, 2L -> 1L)
  }
}

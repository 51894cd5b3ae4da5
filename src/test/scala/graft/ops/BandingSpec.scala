package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one-core rule of [[Banding]]: the signature-dedup operators
  * generate candidate pairs only through it, so no other main code
  * plans its own shuffle-hash self-join.
  */
class BandingSpec extends AnyFunSuite with Matchers {

  test("no main code outside Banding hints a shuffle-hash join") {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala")
    root.isDirectory shouldBe true
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = for {
      f <- files(root)
      path = f.getPath.replace('\\', '/')
      if path.endsWith(".scala") && !path.endsWith("graft/ops/Banding.scala")
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("hint(\"shuffle_hash\")")
    } yield s"$path:${n + 1}: ${line.trim}"
    offenders shouldBe empty
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** graft caches and checkpoints frames only through
  * [[graft.operators.Staging]], so every stage has one owner and one
  * lifetime. A direct call elsewhere in the main sources is a stage no
  * scope frees. */
class StagingDisciplineSpec extends AnyFunSuite {

  private val direct =
    """(?<!Staging)\.(persist|checkpoint)\(|\.cache\(\)|localCheckpoint\(""".r

  test("no persist, cache, localCheckpoint or checkpoint call outside " +
       "Staging.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Staging.scala").toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if direct.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}

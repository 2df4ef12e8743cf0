package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables configure the mains only. Library code reads
  * none, so no debug switch hides a code path inside a library loop. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val mains = Seq("graft/Bench.scala", "graft/Verify.scala", "graft/tools/")

  test("no env read in src/main/scala outside the mains") {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10)
    val envRead = """sys\.env|System\.getenv""".r
    val hits = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if !mains.exists(m => rel == m || (m.endsWith("/") && rel.startsWith(m)))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

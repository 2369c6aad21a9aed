package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library code never writes to (or reads from) a hard-coded path inside
  * the checkout: no string literal in graft.{core, spark, llm, streaming}
  * may start with the checkout's absolute path. Tests run with the
  * checkout as working directory. */
class NoRepoPathSpec extends AnyFunSuite {
  test("no string literal rooted at the checkout in core, spark, llm or streaming") {
    val root = new java.io.File(".").getCanonicalFile
    assert(root.getParentFile != null, s"tests must run inside the checkout, not at $root")
    val needle = "\"" + root.getPath + "/"
    val dirs = Seq("core", "spark", "llm", "streaming")
      .map(d => new java.io.File(root, s"src/main/scala/graft/$d").toPath)
    assert(dirs.forall(Files.isDirectory(_)), s"library sources not found under $root")
    val sources = dirs.flatMap(d => Files.walk(d).iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
    assert(sources.nonEmpty)
    val hits = for {
      f: Path <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains(needle)
    } yield s"${root.toPath.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("hard-coded checkout paths:\n", "\n", ""))
  }
}

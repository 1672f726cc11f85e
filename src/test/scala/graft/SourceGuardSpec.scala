package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Parallel driver-side builds go through Materialize.par and session
  * memos through Materialize.SessionMemo. This scans the main sources so
  * a per-site copy of either cannot come back by copy-paste.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val forbidden = Seq(
    // any scala.concurrent import or reference (Future, Await, an
    // ExecutionContext, brace imports included): use Materialize.par
    "scala.concurrent" -> """\bscala\.concurrent\b""".r,
    "ExecutionContext" -> """\bExecutionContext\b""".r,
    "Future/Await" -> """\b(Future|Await)\s*[.(\[]""".r,
    // key memos with Materialize.SessionMemo
    "System.identityHashCode" -> """System\.identityHashCode""".r)

  test("main sources hold no per-site futures or identity-keyed memos") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (name, re) <- forbidden if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $name"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

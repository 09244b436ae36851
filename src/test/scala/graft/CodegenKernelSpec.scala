package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each native expression in `graft.plans` writes its per-row loop once,
  * as a Scala method on the expression that `eval` runs; its `doGenCode`
  * only calls that method through the expression held as a codegen
  * reference object. A loop in the generated Java is a second copy of
  * the kernel, which must then agree with the first bit for bit.
  */
class CodegenKernelSpec extends AnyFunSuite {

  /** (file, body) of every `doGenCode` in `src/main/scala/graft/plans`:
    * the lines from its `def` up to the next line at member indentation.
    */
  private lazy val bodies: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft/plans"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    files.sortBy(_.toString).flatMap { p =>
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toSeq
      lines.indices.filter(i => lines(i).contains("def doGenCode(")).map { start =>
        val indent = lines(start).takeWhile(_ == ' ').length
        val end = lines.indexWhere(l => l.trim.nonEmpty && l.takeWhile(_ == ' ').length <= indent &&
          !l.trim.startsWith("}"), start + 1)
        p -> lines.slice(start, if (end < 0) lines.length else end).mkString("\n")
      }
    }
  }

  test("no doGenCode in graft.plans emits a Java loop") {
    assert(bodies.nonEmpty, "no doGenCode found under src/main/scala/graft/plans")
    val loops = bodies.collect { case (p, b) if b.contains("for (") || b.contains("while (") => p }
    assert(loops.isEmpty, s"doGenCode emits a loop (call the expression's kernel instead): ${loops.mkString(", ")}")
  }

  test("every doGenCode reaches its kernel through the expression as a reference object") {
    val other = bodies.collect {
      case (p, b) if !b.contains("addReferenceObj(") || !b.contains(", this, ") || b.contains("MODULE$") => p
    }
    assert(other.isEmpty, s"doGenCode not calling its kernel through `this`: ${other.mkString(", ")}")
  }
}

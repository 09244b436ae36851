package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session memos go through the bounded maps in `graft.operators.Caches`
  * (`Caches.lru`, `LayoutCache`): a raw ConcurrentHashMap memo never lets
  * an entry die in a long-lived driver, and its temp layouts are never
  * reaped. Operator-internal DataFrame caches follow one rule too: per
  * call, through `Dedup.saltedCached`, never a slot shared across calls.
  */
class MemoMapSpec extends AnyFunSuite {

  /** (file, 1-based line number, line) for every line of `src/main/scala`. */
  private def mainLines: List[(Path, Int, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.map { case (line, i) => (p, i + 1, line) }
      }.toList
    finally walk.close()
  }

  test("no raw ConcurrentHashMap in src/main/scala outside Caches.scala") {
    val raw = "new\\s+(java\\.util\\.concurrent\\.)?ConcurrentHashMap\\b".r
    val hits = mainLines.collect {
      case (p, n, line) if p.getFileName.toString != "Caches.scala" && raw.findFirstIn(line).isDefined =>
        s"$p:$n"
    }
    assert(hits.isEmpty, s"raw memo maps (use Caches.lru or LayoutCache): ${hits.mkString(", ")}")
  }

  test("no cross-call DataFrame slot; each Dedup cache goes through saltedCached or says why") {
    val slot = "AtomicReference\\[(org\\.apache\\.spark\\.sql\\.)?DataFrame\\]".r
    val slots = mainLines.collect { case (p, n, line) if slot.findFirstIn(line).isDefined => s"$p:$n" }
    assert(slots.isEmpty, s"cross-call DataFrame slots (cache per call via saltedCached): ${slots.mkString(", ")}")

    val dedup = mainLines.filter(_._1.endsWith(Paths.get("graft/operators/Dedup.scala")))
    val start = dedup.indexWhere(_._3.contains("def saltedCached("))
    val end = dedup.indexWhere(_._3.startsWith("  }"), start)
    assert(start >= 0 && end > start, "Dedup.saltedCached not found")
    val persist = "\\.(cache\\(\\)|persist\\()".r
    val reason = "^.*?//\\s*\\S".r
    val bare = dedup.zipWithIndex.collect {
      case ((p, n, line), i) if (i < start || i > end) && !line.trim.startsWith("*") &&
          !line.trim.startsWith("//") && persist.findFirstMatchIn(line).exists(m =>
            reason.findFirstIn(line.substring(m.end)).isEmpty) =>
        s"$p:$n"
    }
    assert(bare.isEmpty,
      s"caches outside saltedCached without a same-line reason comment: ${bare.mkString(", ")}")
  }
}

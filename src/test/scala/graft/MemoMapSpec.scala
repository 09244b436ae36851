package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session memos go through the bounded maps in `graft.operators.Caches`
  * (`Caches.lru`, `LayoutCache`): a raw ConcurrentHashMap memo never lets
  * an entry die in a long-lived driver, and its temp layouts are never
  * reaped.
  */
class MemoMapSpec extends AnyFunSuite {

  test("no raw ConcurrentHashMap in src/main/scala outside Caches.scala") {
    val raw = "new\\s+(java\\.util\\.concurrent\\.)?ConcurrentHashMap\\b".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Caches.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if raw.findFirstIn(line).isDefined => s"$p:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty, s"raw memo maps (use Caches.lru or LayoutCache): ${hits.mkString(", ")}")
  }
}

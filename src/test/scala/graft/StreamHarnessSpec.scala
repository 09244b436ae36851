package graft

import graft.streaming.StreamPipeline

/** Session and JVM state the stream harness leaves behind stays bounded:
  * a drained memory sink drops its `stream_*` view, and temp roots
  * registered for deletion at exit share one shutdown hook.
  */
class StreamHarnessSpec extends SparkSpec {

  test("memory-sink keys leave no stream_* view and repeat their results") {
    val keys = Seq("stream_funnel", "stream_retention", "stream_paths",
      "stream_interval_join", "stream_token_budget")
    def run(key: String) = SparkEntry.queries(key)(spark, sf).collect().toSeq
    keys.foreach { key =>
      val first = run(key)
      assert(first.nonEmpty, s"$key drained no rows")
      assert(run(key) == first, s"$key: the second run differs from the first")
    }
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("stream_"))
    assert(views.isEmpty, s"memory-sink views left in the session: ${views.mkString(", ")}")
  }

  test("deleteRecursivelyOnExit registers at most one shutdown hook") {
    // the JDK's registry of application shutdown hooks (build.sbt opens java.lang)
    val field = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
    field.setAccessible(true)
    def hooks: Int = field.getDeclaringClass.synchronized {
      field.get(null).asInstanceOf[java.util.IdentityHashMap[_, _]].size
    }
    val before = hooks
    val root = tempDir("graft_hooks_") // the first registration
    (1 until 100).foreach(i => StreamPipeline.deleteRecursivelyOnExit(root.resolve(s"r$i")))
    val added = hooks - before
    assert(added <= 1, s"100 registrations added $added shutdown hooks")
  }
}

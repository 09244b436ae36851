package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The input generator's own test: the same seed gives byte-identical
  * inputs, different seeds give different ones, and every planted
  * defect is present at its stated rate with the property it claims.
  * Prints one line per check and `GENCHECK OK` last when all hold.
  *
  *   python3 perfbench/run.py --check-generator
  */
object GenCheck {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += name
  }

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Digest of everything one seed generates, except the vectors. */
  private def digest(seed: Long, n: Int, dir: Path): String = {
    val v = new Gen.Vocab(seed)
    val c = Gen.corpus(seed, v, n)
    Gen.writeFolder(seed, c.docs, dir)
    val files = {
      val s = Files.list(dir)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sortBy(_.toString) }
      finally s.close()
    }
    val parts = Seq(
      v.words.mkString(" "),
      c.docs.map(d => s"${d.id}\t${d.url}\t${d.source}\t${d.lang}\t${d.text}").mkString("\n"),
      c.benchmark.mkString("\n"),
      c.exactDups.toSeq.sorted.mkString(","), c.nearDups.mkString(","),
      c.urlDups.toSeq.sorted.mkString(","), c.contaminated.toSeq.sorted.mkString(","),
      c.lowQuality.toSeq.sorted.mkString(","),
      Gen.textQueries(seed, v, 64).map(_.mkString(" ")).mkString("\n")
    ) ++ files.map(f => f.getFileName.toString + ":" + sha(Files.readAllBytes(f)))
    sha(parts.mkString("\u0001").getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val n = 2000
    val seed = 17L

    val a = digest(seed, n, work.resolve("a"))
    val b = digest(seed, n, work.resolve("b"))
    val c = digest(seed + 1, n, work.resolve("c"))
    check("same seed gives byte-identical corpus, folder and queries", a == b, s"$a vs $b")
    check("different seeds give different inputs", a != c)

    val spark = Bench.session(2, work)
    try {
      def vecBytes(s: Long): String = {
        val (vs, qs) = Gen.vectors(spark, s, 500, Hybrid.Dim, 16)
        val bb = java.nio.ByteBuffer.allocate((vs.size + qs.size) * Hybrid.Dim * 4)
        (vs ++ qs).foreach(_.foreach(bb.putFloat))
        sha(bb.array())
      }
      val va = vecBytes(seed)
      check("same seed gives byte-identical vectors and query vectors", va == vecBytes(seed))
      check("different seeds give different vectors", va != vecBytes(seed + 1))
    } finally spark.stop()

    // planted counts and what each plant claims
    val v = new Gen.Vocab(seed)
    val r = Gen.Rates()
    val corpus = Gen.corpus(seed, v, n, r)
    val byId = corpus.docs.map(d => d.id -> d).toMap
    def rate(x: Double) = (n * x).round.toInt
    check("exact duplicates at the stated rate", corpus.exactDups.size == rate(r.exactDup),
      s"${corpus.exactDups.size} vs ${rate(r.exactDup)}")
    check("near duplicates at the stated rate", corpus.nearDups.size == rate(r.nearDup))
    check("URL duplicates at the stated rate", corpus.urlDups.size == rate(r.urlDup))
    check("contaminated docs at the stated rate", corpus.contaminated.size == rate(r.contaminated))
    check("low-quality docs at the stated rate", corpus.lowQuality.size == rate(r.lowQuality))
    check("exact duplicates copy their original's text under a larger id",
      corpus.exactDups.forall { case (d, o) => byId(d).text == byId(o).text && d > o })
    def words(s: String) = s.split("\\s+").toSeq
    check("near duplicates drop a few words of their original, under a larger id",
      corpus.nearDups.forall { case (o, d) =>
        val (wo, wd) = (words(byId(o).text), words(byId(d).text))
        d > o && wd.size < wo.size && wd.size >= 0.9 * wo.size && wd.diff(wo).isEmpty
      })
    check("URL duplicates are tracking/www/slash variants of their original's URL",
      corpus.urlDups.forall { case (d, o) =>
        byId(d).url == byId(o).url.replace("https://", "https://www.") + "/?utm_source=feed" && d > o
      })
    check("contaminated docs carry a benchmark span of the stated length",
      corpus.contaminated.forall { case (id, len) =>
        val toks = words(byId(id).text.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")).filter(_.nonEmpty)
        corpus.benchmark.exists { p =>
          val pt = words(p.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")).filter(_.nonEmpty)
          pt.sliding(len).exists(span => toks.containsSlice(span))
        }
      })
    check("low-quality docs carry boilerplate or symbol lines",
      corpus.lowQuality.forall(id => byId(id).text.contains("Lorem ipsum") || byId(id).text.startsWith("# ")))
    val lens = corpus.docs.map(d => words(d.text).size).sorted
    check("document lengths spread (p10 < p50 < p90)",
      lens(n / 10) < lens(n / 2) && lens(n / 2) < lens(9 * n / 10), s"${lens(n / 10)} ${lens(n / 2)} ${lens(9 * n / 10)}")
    val counts = corpus.docs.flatMap(d => words(d.text.toLowerCase)).groupBy(identity).map(_._2.size)
      .toSeq.sorted(Ordering[Int].reverse)
    check("vocabulary is skewed and realistic in size (top word > 50x the 1000th, > 5000 distinct)",
      counts.size > 5000 && counts.head > 50 * counts(999), s"${counts.size} distinct, top ${counts.head}")
    check("every source and lang group is populated",
      Gen.Sources.forall(s => corpus.docs.exists(_.source == s)) &&
        Gen.Langs.distinct.forall(l => corpus.docs.exists(_.lang == l)))

    if (failures.isEmpty) println("GENCHECK OK")
    else {
      println(s"GENCHECK FAILED: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}

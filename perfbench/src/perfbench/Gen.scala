package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generator. Every byte the benchmark feeds graft derives
  * from one seed: the vocabulary, the documents, the planted defects,
  * the queries and the file folder. Nothing here calls graft except
  * [[vectors]], which uses graft's own structured-corpus generator so
  * the IVF index sees clustered data.
  */
object Gen {

  /** Planted-defect rates, as a share of all generated documents. */
  final case class Rates(
      exactDup: Double = 0.03,
      nearDup: Double = 0.03,
      urlDup: Double = 0.02,
      contaminated: Double = 0.02,
      lowQuality: Double = 0.04)

  final case class Doc(id: Long, url: String, source: String, lang: String, text: String)

  /** A generated corpus with the ground truth of what was planted.
    *  - `exactDups`: dup id -> original id (identical text)
    *  - `nearDups`: (original id, near-dup id), the near-dup drops tokens
    *  - `urlDups`: dup id -> original id (same page under a URL variant)
    *  - `contaminated`: doc id -> planted benchmark-span length in tokens
    *  - `lowQuality`: ids of docs built to fail the C4/Gopher filters
    */
  final case class Corpus(
      docs: IndexedSeq[Doc],
      benchmark: IndexedSeq[String],
      exactDups: Map[Long, Long],
      nearDups: IndexedSeq[(Long, Long)],
      urlDups: Map[Long, Long],
      contaminated: Map[Long, Int],
      lowQuality: Set[Long])

  val Sources: IndexedSeq[String] =
    IndexedSeq("news", "forum", "wiki", "blog", "docs", "shop", "papers", "qa")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr", "es")

  private val Stopwords =
    IndexedSeq("the", "of", "and", "to", "that", "with", "have", "be")
  private val Onsets = IndexedSeq("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl", "pr", "sh",
    "sl", "st", "th", "tr")
  private val Nuclei = IndexedSeq("a", "e", "i", "o", "u", "ai", "ea", "io", "ou", "ee")
  private val Codas = IndexedSeq("", "", "n", "r", "s", "t", "l", "m", "nd", "rt", "st", "ck")

  /** Zipf-skewed vocabulary: `size` distinct lowercase words, the
    * Gopher stopwords at the head, pseudo-words of 1-3 syllables after.
    */
  final class Vocab(seed: Long, val size: Int = 50000, exponent: Double = 1.0) {
    val words: Array[String] = {
      val rnd = new java.util.SplittableRandom(seed ^ 0x5EEDL)
      val seen = new java.util.LinkedHashSet[String]()
      Stopwords.foreach(seen.add)
      while (seen.size < size) {
        val syl = 1 + rnd.nextInt(3)
        val sb = new StringBuilder
        var i = 0
        while (i < syl) {
          sb ++= Onsets(rnd.nextInt(Onsets.size)) ++= Nuclei(rnd.nextInt(Nuclei.size)) ++=
            Codas(rnd.nextInt(Codas.size))
          i += 1
        }
        if (sb.length >= 3) seen.add(sb.toString)
      }
      seen.toArray(new Array[String](0))
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1.0, exponent))
      val s = w.sum
      var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    def sample(rnd: java.util.SplittableRandom): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, size - 1))
    }
    /** A word from the mid-frequency band (ranks 100-3000): selective
      * enough that term pruning matters, common enough to match docs.
      */
    def midFrequency(rnd: java.util.SplittableRandom): String =
      words(100 + rnd.nextInt(2900))
  }

  private def sentence(v: Vocab, rnd: java.util.SplittableRandom, nWords: Int): String = {
    val ws = Array.fill(nWords)(v.sample(rnd))
    ws(0) = ws(0).capitalize
    ws.mkString(" ") + "."
  }

  /** Body text of about `nTokens` words: sentences of 5-14 words, one
    * to three sentences per line.
    */
  private def body(v: Vocab, rnd: java.util.SplittableRandom, nTokens: Int): String = {
    val lines = new StringBuilder
    var left = nTokens
    while (left > 0) {
      val perLine = 1 + rnd.nextInt(3)
      var s = 0
      while (s < perLine && left > 0) {
        val n = math.max(5, math.min(left, 5 + rnd.nextInt(10)))
        if (s > 0) lines += ' '
        lines ++= sentence(v, rnd, n)
        left -= n
        s += 1
      }
      lines += '\n'
    }
    lines.toString.trim
  }

  /** Document length in tokens: 50 plus a log-normal part, median 75,
    * at most 400. Every document clears Gopher's 50-word minimum, so the
    * quality filters drop only what was planted to fail them.
    */
  private def docLength(rnd: java.util.SplittableRandom): Int =
    math.min(400, 50 + math.exp(math.log(25) + 0.7 * gaussian(rnd)).toInt)

  private def gaussian(rnd: java.util.SplittableRandom): Double = {
    // Box-Muller on the splittable stream (java.util.Random's gaussian
    // would need a second generator)
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** `n` documents with defects planted at `rates`. Ids are
    * `idBase until idBase + n`, so corpora for separate repetitions or
    * micro-batches never share an id.
    */
  def corpus(seed: Long, v: Vocab, n: Int, rates: Rates = Rates(), idBase: Long = 0L): Corpus = {
    val rnd = new java.util.SplittableRandom(seed)
    val benchmark = IndexedSeq.fill(40)(body(v, rnd, 30).replace('\n', ' '))
    val nExact = (n * rates.exactDup).round.toInt
    val nNear = (n * rates.nearDup).round.toInt
    val nUrl = (n * rates.urlDup).round.toInt
    val nCont = (n * rates.contaminated).round.toInt
    val nLow = (n * rates.lowQuality).round.toInt
    // roles: duplicates take the highest slots (so every copy has a
    // larger id than its original and keep-the-min-id dedup removes the
    // copy), the other roles are spread over the rest by a seeded shuffle
    val nDup = nExact + nNear + nUrl
    val roles = new Array[Int](n) // 0 clean, 1 exact, 2 near, 3 url, 4 contaminated, 5 low
    def shuffled(lo: Int, hi: Int): Array[Int] = {
      val a = (lo until hi).toArray
      var i = a.length - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val head = shuffled(0, n - nDup)
    (0 until nCont).foreach(k => roles(head(k)) = 4)
    (nCont until nCont + nLow).foreach(k => roles(head(k)) = 5)
    val tail = shuffled(n - nDup, n)
    (0 until nExact).foreach(k => roles(tail(k)) = 1)
    (nExact until nExact + nNear).foreach(k => roles(tail(k)) = 2)
    (nExact + nNear until nDup).foreach(k => roles(tail(k)) = 3)
    val cleanSlots = (0 until n).filter(roles(_) == 0).toArray
    val docs = new Array[Doc](n)
    // originals first so every duplicate can copy a finished one
    def url(slot: Int) = {
      val src = Sources(slot % Sources.size)
      s"https://$src.example.com/p/${idBase + slot}"
    }
    for (s <- 0 until n if roles(s) == 0 || roles(s) == 4 || roles(s) == 5) {
      val lang = Langs(rnd.nextInt(Langs.size))
      val src = Sources(s % Sources.size)
      val text = roles(s) match {
        case 5 if s % 2 == 0 =>
          body(v, rnd, docLength(rnd)) + "\nLorem ipsum dolor sit amet, consectetur adipiscing elit."
        case 5 => (0 until 30).map(_ => "# " + v.sample(rnd)).mkString("\n")
        case _ => body(v, rnd, docLength(rnd))
      }
      docs(s) = Doc(idBase + s, url(s), src, lang, text)
    }
    val contaminated = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    for (s <- 0 until n if roles(s) == 4) {
      val passage = benchmark(rnd.nextInt(benchmark.size)).split(' ')
      val len = 15 + rnd.nextInt(passage.length - 15 + 1)
      val start = rnd.nextInt(passage.length - len + 1)
      val span = passage.slice(start, start + len).mkString(" ")
      val lines = docs(s).text.split('\n')
      val at = rnd.nextInt(lines.length)
      lines(at) = lines(at) + " " + span + "."
      docs(s) = docs(s).copy(text = lines.mkString("\n"))
      contaminated(idBase + s) = len
    }
    val exact = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    val near = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val urlD = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    for (s <- 0 until n if roles(s) == 1 || roles(s) == 2 || roles(s) == 3) {
      val o = cleanSlots(rnd.nextInt(cleanSlots.length))
      val orig = docs(o)
      docs(s) = roles(s) match {
        case 1 =>
          exact(idBase + s) = orig.id
          orig.copy(id = idBase + s, url = url(s))
        case 2 =>
          near += (orig.id -> (idBase + s))
          // drop ~6% of the words, at least two
          val lines = orig.text.split('\n').map(_.split(' ').toBuffer)
          val total = lines.map(_.size).sum
          var drops = math.max(2, (total * 0.06).toInt)
          while (drops > 0) {
            val l = lines(rnd.nextInt(lines.length))
            if (l.size > 3) { l.remove(1 + rnd.nextInt(l.size - 2)); drops -= 1 }
          }
          orig.copy(id = idBase + s, url = url(s), text = lines.map(_.mkString(" ")).mkString("\n"))
        case _ =>
          urlD(idBase + s) = orig.id
          // a different page at the same canonical URL: tracking
          // parameter, www prefix, trailing slash
          val variant = orig.url.replace("https://", "https://www.") + "/?utm_source=feed"
          Doc(idBase + s, variant, orig.source, orig.lang, body(v, rnd, docLength(rnd)))
      }
    }
    Corpus(docs.toIndexedSeq, benchmark, exact.toMap, near.toIndexedSeq, urlD.toMap,
      contaminated.toMap, (0 until n).filter(roles(_) == 5).map(idBase + _).toSet)
  }

  /** `n` text queries of two or three mid-frequency terms. */
  def textQueries(seed: Long, v: Vocab, n: Int): IndexedSeq[Seq[String]] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x7E47L)
    IndexedSeq.fill(n)(Seq.fill(2 + rnd.nextInt(2))(v.midFrequency(rnd)).distinct)
  }

  val FileTypes: IndexedSeq[String] = IndexedSeq("txt", "md", "html", "csv", "json")

  /** Render one document as a file of the given type. Conversion keeps
    * every body word (html tags, the csv header and json keys add a
    * few of their own).
    */
  def render(d: Doc, fileType: String): String = fileType match {
    case "md"   => s"# Page ${d.id}\n\n${d.text}\n"
    case "html" =>
      val paras = d.text.split('\n').map(l => s"<p>$l</p>").mkString("\n")
      s"<html><head><title>Page ${d.id}</title></head><body>\n$paras\n</body></html>\n"
    case "csv"  =>
      "line,text\n" + d.text.split('\n').zipWithIndex
        .map { case (l, i) => s"""$i,"${l.replace("\"", "\"\"")}"""" }.mkString("\n") + "\n"
    case "json" =>
      val esc = d.text.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s"""{"id": ${d.id}, "source": "${d.source}", "lang": "${d.lang}", "text": "$esc"}""" + "\n"
    case _      => d.text + "\n"
  }

  /** Write `docs` as a mixed-type folder: one file per document named
    * `d<id>.<type>`, the type drawn from the seed. Returns input bytes.
    */
  def writeFolder(seed: Long, docs: Seq[Doc], dir: Path): Long = {
    val rnd = new java.util.SplittableRandom(seed ^ 0xF11EL)
    Files.createDirectories(dir)
    docs.map { d =>
      val t = FileTypes(rnd.nextInt(FileTypes.size))
      val bytes = render(d, t).getBytes(UTF_8)
      Files.write(dir.resolve(f"d${d.id}%08d.$t"), bytes)
      bytes.length.toLong
    }.sum
  }

  /** Clustered vectors for ids 0 until n (index = id), via graft's
    * structured-corpus generator (uneven cluster masses, low-rank
    * within-cluster spread), plus `nq` query vectors each a small
    * perturbation of a seeded corpus point.
    */
  def vectors(spark: org.apache.spark.sql.SparkSession, seed: Long, n: Int, dim: Int, nq: Int)
      : (IndexedSeq[Array[Float]], IndexedSeq[Array[Float]]) = {
    val vs = graft.tools.ScaleCheck.structuredCorpus(spark, n.toLong, dim, seed = seed)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1).map(_._2)
      .toIndexedSeq
    val rnd = new java.util.SplittableRandom(seed ^ 0x0E5L)
    val qs = IndexedSeq.fill(nq)(vs(rnd.nextInt(n)).map(x => (x + 0.02 * gaussian(rnd)).toFloat))
    (vs, qs)
  }
}

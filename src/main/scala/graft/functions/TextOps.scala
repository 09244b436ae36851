package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by search, dedup and analysis
  * operators. All pure built-in expressions (codegen-friendly, no UDFs),
  * and each has an exact DuckDB-SQL twin in [[graft.OracleSql]] — the
  * tokenizer definition below IS the cross-engine contract.
  *
  * Reference anchors: chunker.py:49 `_token_length` (token counting),
  * store.py:197 FTS tokenization (BM25 leg).
  */
object TextOps {

  /** Canonical tokenizer: lowercase, split on runs of non-alphanumerics,
    * drop empties. DuckDB twin:
    * `list_filter(regexp_split_to_array(lower(x), '[^a-z0-9]+'), t -> t <> '')`.
    */
  def tokenize(text: Column): Column =
    // native compiled scan since round 12 (graft.plans.Tokenize) —
    // bit-identical to filter(split(lower(text), "[^a-z0-9]+"), _ =!= "")
    // (equivalence argument + property pin in the expression's doc)
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.Tokenize(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** Number of tokens (the whitespace-proxy for reference token counts). */
  def tokenCount(text: Column): Column = size(tokenize(text))

  /** Latin a-z paired 1:1 with a Cyrillic transliteration alphabet —
    * the contract for [[scriptFold]] and for test fixtures that PLANT
    * cross-script contamination ([[latinToCyrillic]]). A 1:1 char map
    * keeps both directions expressible as `translate` in Spark and
    * DuckDB alike (codegen'd, no UDF).
    */
  val LatinAlphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Cyrillic letters positionally paired with [[LatinAlphabet]]. */
  val CyrillicAlphabet = "абцдефгхижклмнопярстувшщыз"

  /** Common Latin diacritics paired 1:1 with [[DiacriticTo]]. */
  val DiacriticFrom = "àáâãäåèéêëìíîïòóôõöùúûüñçýÿ"
  val DiacriticTo = "aaaaaaeeeeiiiiooooouuuuncyy"

  /** Script-fold normalization for cross-lingual gram matching
    * (decontamination across transliterated copies): lowercase, fold
    * Latin diacritics to ASCII, transliterate Cyrillic to Latin. The
    * n-gram machinery then sees one script, so a benchmark span hidden
    * in another alphabet still collides. Pure `translate` chains —
    * 1:1 char maps, identical in the DuckDB twin.
    */
  def scriptFold(text: Column): Column =
    translate(
      translate(lower(text), DiacriticFrom, DiacriticTo),
      CyrillicAlphabet, LatinAlphabet)

  /** Inverse direction of [[scriptFold]]'s Cyrillic leg — used by test
    * fixtures to plant cross-script contamination deterministically.
    */
  def latinToCyrillic(text: Column): Column =
    translate(text, LatinAlphabet, CyrillicAlphabet)

  /** md5-hashed k-token shingles of a token array: element i covers
    * tokens [i, i+k). Hashing keeps shingle payloads fixed-width (16
    * bytes hex) — at 100 TB the shuffle carries hashes, never raw text.
    */
  def shingles(tokens: Column, k: Int = 3): Column =
    transform(rawShingles(tokens, k), s => md5(s))

  /** Un-hashed k-token shingle strings. Callers that feed aggregations
    * should `explode` this and apply `md5` as a top-level column — md5
    * inside a lambda runs interpreted (HOFs are codegen fallbacks),
    * md5 over exploded rows is whole-stage-codegen'd.
    *
    * The `tokens` expression is BOUND ONCE via a 1-element
    * `transform(array(tokens), ts => …)` wrapper before any per-shingle
    * reference. Without the binding, `tokens` is spliced verbatim into
    * every `element_at` (k copies per shingle) — harmless while it
    * stays a column attribute, but Catalyst's predicate pushdown
    * substitutes attributes with their defining expressions
    * (`InferFiltersFromGenerate`'s `size(arr) > 0` guard pushed through
    * the tokenize projection is the observed case), turning a composed
    * `rawShingles(tokenize(text))` into k re-tokenizations PER SHINGLE
    * inside an interpreted Filter: measured 60 s for 5k docs at sf0.1
    * where the bound form runs in 1.4 s. Lambda variables are opaque
    * to substitution, so the binding survives any optimizer rewrite.
    *
    * Explode call sites carry the second half of the defense: see
    * [[explodeShingles]] / [[posexplodeShingles]].
    */
  def rawShingles(tokens: Column, k: Int = 3): Column =
    // native compiled loop since round 12 (graft.plans.Shingles) —
    // bit-identical to the HOF transform/concat_ws form it replaced
    // (see the expression's doc for the parity + measured-why)
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.Shingles(
        org.apache.spark.sql.GraftBridge.expression(tokens), k))

  /** Explode an expensive (HOF-built, never-null-element) array WITHOUT
    * tripping `InferFiltersFromGenerate`: the rule wraps a plain
    * `explode` in a `size(arr) > 0 AND isnotnull(arr)` filter whose
    * pushdown through the producing projections re-inlines the whole
    * array build (twice — one evaluation per conjunct, interpreted,
    * no common-subexpression elimination in a Filter). `_outer`
    * generates are exempt from the rule; the null row an empty array
    * contributes is dropped right after the Generate, where the
    * predicate sits on the GENERATED attribute and cannot be pushed
    * below it. Only valid when real elements are never null (true for
    * every shingle/token array here — `concat_ws` and `split` never
    * produce null elements).
    */
  def explodeShingles(df: DataFrame, arr: Column, out: String, keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(arr).as(out): _*).filter(col(out).isNotNull)

  /** [[explodeShingles]], positional flavor. */
  def posexplodeShingles(df: DataFrame, arr: Column, posOut: String, out: String, keep: Column*): DataFrame =
    df.select(keep :+ posexplode_outer(arr).as(Seq(posOut, out)): _*)
      .filter(col(out).isNotNull)

  /** Hashed bag-of-words dimension for a term: 6 bits of md5 → [0, 64).
    * Twin of a feature-hashing embedder (reference: embedder.py:41) —
    * deterministic, vocabulary-free, and cheap at any scale.
    */
  def hashedBowDim(term: Column, dims: Int = 64): Column =
    (conv(substring(md5(term), 1, 2), 16, 10).cast("long") % dims)

  /** [[hashedBowDim]] evaluated ON THE DRIVER — bit-identical by
    * construction (same md5 over UTF-8 bytes, same first-hex-byte
    * parse, same modulus), pinned against the in-plan form in
    * FtsSpec. Lets a serving-path probe featurize its QUERY STRING
    * without spawning Spark jobs (a query is driver data, not corpus
    * data — the round-12 probe-latency rule).
    */
  def hashedBowDimLocal(term: String, dims: Int = 64): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xff).toLong % dims
  }

  /** Driver-side [[tokenize]] (same lowercase + `[^a-z0-9]+` split +
    * non-empty filter as the Column form — both are Java regex).
    */
  def tokenizeLocal(text: String): Seq[String] =
    // lowercase through UTF8String — the SAME operation the in-plan
    // tokenizer applies — so driver and plan cannot diverge under any
    // default locale (UTF8String's non-ASCII path is what decides;
    // round-12 review finding: a Locale.ROOT String.toLowerCase here
    // could disagree with it on e.g. a Turkish-locale JVM)
    org.apache.spark.unsafe.types.UTF8String.fromString(text).toLowerCase.toString
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** First-markdown-heading title with source-basename fallback
    * (reference: ingestor.py:482 `_extract_title`).
    */
  def extractTitle(text: Column, source: Column): Column = {
    val heads = filter(split(text, "\n"), l => trim(l).startsWith("#"))
    val fromHead = substring(trim(ltrim(trim(element_at(heads, 1)), "#")), 1, 200)
    val basename = substring(element_at(split(element_at(split(source, "/"), -1), "\\\\"), -1), 1, 200)
    when(size(heads) > 0, fromHead).otherwise(basename)
  }

  /** Positions (1-based) where the exact token phrase starts inside a
    * bound token-array column — one fused codegen'd scan per row via
    * the native [[graft.plans.PhrasePositions]] expression; no
    * positional self-join (the classic phrase-query plan killer at
    * scale) and no interpreted HOF fallback.
    */
  def phrasePositions(tokens: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty)
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.PhrasePositions(
      GraftBridge.expression(tokens),
      GraftBridge.expression(array(phrase.map(lit): _*))
    ))
  }

  /** The composed-HOF twin of [[phrasePositions]] — interpreted
    * (codegen fallback), kept as the cross-check reference for specs.
    */
  def phrasePositionsHof(tokens: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty)
    val n = size(tokens)
    val span = phrase.length - 1
    when(
      n >= phrase.length,
      filter(
        sequence(lit(1), n - span),
        i => phrase.zipWithIndex
          .map { case (w, j) => element_at(tokens, i + j) === w }
          .reduce(_ && _)
      )
    ).otherwise(array().cast("array<int>"))
  }

  /** Stopword membership count (used by language-ID and quality score). */
  def stopwordCount(tokens: Column, stopwords: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(stopwords)))
}

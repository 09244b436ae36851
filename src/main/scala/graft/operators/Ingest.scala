package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch ingest pipeline: folder → convert → chunk → featurize
  * (reference: ingestor.py:62 `ingest_folder`, :133 `ingest`,
  * converter.py:13 SUPPORTED_EXTENSIONS / :44 `convert`).
  *
  * Reads whole folders through Spark's `binaryFile` source — the
  * distributed analog of the reference's asyncio folder walk: listing,
  * reading and conversion all run on executors, partitioned by file.
  * Structured text formats (html/csv/json/xml/md/txt) are extracted
  * for real by [[Convert]]; genuinely binary formats (pdf/docx/media)
  * keep a clearly-marked deterministic stub (those parsers aren't in
  * this container). Swapping the stub for a real binary parser changes
  * no plan shape.
  */
object Ingest {

  /** converter.py:13 SUPPORTED_EXTENSIONS, plus rtf (plain-text markup
    * [[Convert.rtfToText]] extracts pure-JVM — a format MarkItDown
    * handles that the reference's set omits).
    */
  val SupportedExtensions: Set[String] = Set(
    "pdf", "docx", "doc", "pptx", "ppt", "xlsx", "xls", "html", "htm",
    "txt", "md", "csv", "json", "xml", "rtf", "jpg", "jpeg", "png", "gif",
    "bmp", "webp", "mp3", "wav", "ogg", "m4a", "zip"
  )

  /** Formats [[Convert]] extracts for real (pdf = the uncompressed/
    * FlateDecode text subset; docx/pptx/xlsx via java.util.zip; rtf;
    * legacy OLE doc/ppt/xls via the pure-JVM CFB parser in [[Ole]];
    * mp3/m4a/ogg/webp = MarkItDown-style metadata text from the
    * codec-less container walks in [[Multimodal]], transcription
    * honestly stubbed — each with stub fallback outside its honest
    * subset); the rest (raw codec media: decoded by [[Multimodal]]
    * where a JDK codec exists) stub.
    */
  private val Convertible = Set("txt", "md", "csv", "json", "xml", "html",
    "htm", "pdf", "docx", "pptx", "xlsx", "rtf", "zip", "doc", "ppt", "xls",
    "mp3", "m4a", "ogg", "webp")

  /** Scan a folder (recursively) for supported files: one row per file
    * with path/source, file_type, last_modified, raw bytes and the
    * sha256 content hash used by the dedup gate (ingestor.py:182).
    */
  def folder(spark: SparkSession, path: String, recursive: Boolean = true): DataFrame =
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
      .load(path)
      .withColumn("file_type", lower(element_at(split(col("path"), "\\."), -1)))
      .filter(col("file_type").isInCollection(SupportedExtensions))
      .select(
        col("path").as("source"),
        col("file_type"),
        date_format(col("modificationTime"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("last_modified"),
        col("length").as("n_bytes"),
        col("content"),
        sha2(col("content"), 256).as("content_hash")
      )

  /** Convert raw bytes to markdown-ish text — [[Convert]]'s real
    * extraction for the structured text formats (HTML tag-strip +
    * entity decode + heading/bullet structure, CSV → markdown table,
    * JSON → indented outline, XML tag-strip; txt/md pass through);
    * genuinely binary formats (pdf/docx/media — parsers not in this
    * container) keep the documented deterministic STUB payload.
    *
    * The conversion is one scalar function per FILE (recursive-descent
    * parsing a Column expression can't express, bounded by file count
    * not corpus rows), so a deterministic Scala UDF inside the
    * otherwise-columnar pipeline is the honest shape — swapping in a
    * MarkItDown-equivalent changes this one function, no plan.
    */
  def convert(df: DataFrame): DataFrame = {
    val conv = udf(Convert.convert(_: String, _: String, _: Array[Byte], _: Long))
    df.withColumn(
      "text",
      when(
        col("file_type").isInCollection(Convertible),
        conv(col("source"), col("file_type"), col("content"), col("n_bytes"))
      ).otherwise(
        // STUB: a real implementation would parse the binary format.
        concat(
          lit("# "), regexp_extract(col("source"), "([^/\\\\]+)$", 1),
          lit("\n[stub-converted "), col("file_type"),
          lit(" "), col("n_bytes").cast("string"), lit(" bytes]")
        )
      )
    )
  }

  /** Deterministic JSON rendering of a user metadata map (sorted keys),
    * carried verbatim onto every chunk of the ingest call — the analog
    * of the `metadata` argument of the reference's ingest_* tools.
    */
  private[graft] def metadataJson(m: Map[String, String]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    if (m.isEmpty) "{}"
    else m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
  }

  /** Core convert → page-split → chunk → featurize dataflow over any
    * file table with the [[folder]] schema (source, file_type,
    * last_modified, n_bytes, content, content_hash) — the shared seam
    * behind [[pipeline]] (folders) and [[urlPipeline]] (pre-fetched
    * URLs).
    *
    * Page provenance (store.py:18 `page`): form-feed characters in the
    * converted text are treated as page breaks (the converter's page
    * delimiter); chunking runs per page and `chunk_index` is re-derived
    * globally per document in (page, within-page) order, so single-page
    * documents are chunked exactly as before with page = 0.
    */
  def pipelineFrom(
      files: DataFrame,
      library: String,
      metadata: Map[String, String] = Map.empty
  ): DataFrame = {
    val converted = convert(files)
      .withColumn("doc_id", sha2(col("source"), 256))
      .withColumn("title", TextOps.extractTitle(col("text"), col("source")))
    val docCols = Seq("doc_id", "source", "title", "file_type", "last_modified", "content_hash")
    val paged = converted.select(
      docCols.map(col) :+ posexplode(split(col("text"), "\f")).as(Seq("page", "_ptext")): _*
    )
    val perPage = Chunker.fixedSize(
      paged, "_ptext", chunkSize = 512, overlap = 64,
      keep = docCols :+ "page"
    )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("page", "chunk_index")
    val chunks = perPage
      .withColumn("page", col("page").cast("long"))
      .withColumn("chunk_index", row_number().over(w).cast("long") - 1)
    Featurize
      .hashedBow(
        chunks
          .withColumn("library", lit(library))
          .withColumn("metadata", lit(metadataJson(metadata))),
        "chunk", dims = 64,
        keep = Seq("doc_id", "library", "source", "title", "file_type",
          "last_modified", "content_hash", "metadata", "page", "chunk_index", "chunk")
      )
  }

  /** Full folder pipeline to a chunk-store table shaped like the
    * reference's ChunkRecord (store.py:18): doc identity, title, page
    * provenance, chunks with global indexes, hashed-BoW featurization
    * and the caller's metadata on every chunk.
    */
  def pipeline(
      spark: SparkSession,
      path: String,
      library: String,
      metadata: Map[String, String] = Map.empty
  ): DataFrame =
    pipelineFrom(folder(spark, path), library, metadata)

  /** Typed pipeline: the same dataflow surfaced as
    * `Dataset[graft.model.ChunkRecord]` — the reference's row type
    * (store.py:18) with a stable composite chunk id.
    */
  def pipelineTyped(
      spark: SparkSession,
      path: String,
      library: String,
      metadata: Map[String, String] = Map.empty
  ): org.apache.spark.sql.Dataset[graft.model.ChunkRecord] = {
    import spark.implicits._
    pipeline(spark, path, library, metadata)
      .select(
        concat(col("doc_id"), lit(":"), col("chunk_index").cast("string")).as("id"),
        col("doc_id"), col("library"), col("source"), col("content_hash"),
        col("title"), col("chunk").as("content"), col("embedding"),
        col("chunk_index"), col("last_modified").as("created_at"),
        col("metadata"), col("file_type"), col("last_modified"),
        col("page").cast("int").as("page")
      )
      .as[graft.model.ChunkRecord]
  }

  /** URL-ingest seam (reference: server.py:101-137 `ingest_url`). The
    * fetch itself is STUBBED OUT — this is a zero-egress batch engine,
    * so callers supply a pre-fetched `(url, content: binary)` table
    * (a crawl dump, a WARC extract). This validates URL schemes the
    * way server.py:121 does (http/https only), derives file_type from
    * the URL path (default html), and emits the [[folder]] schema so
    * the standard pipeline takes over unchanged.
    *
    * Rows with rejected schemes are kept with `url_valid = false` so
    * ingest reports can surface them; [[urlPipeline]] filters them out.
    */
  def urlSource(urls: DataFrame): DataFrame = {
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val pathPart = regexp_extract(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://([^?#]*)", 1)
    val ext = lower(element_at(split(pathPart, "\\."), -1))
    val fetchedAt =
      if (urls.columns.contains("fetched_at")) col("fetched_at") else lit("")
    urls
      .withColumn("url_valid", scheme.isin("http", "https"))
      .select(
        col("url").as("source"),
        when(ext.isInCollection(SupportedExtensions), ext).otherwise(lit("html")).as("file_type"),
        fetchedAt.as("last_modified"),
        length(col("content")).cast("long").as("n_bytes"),
        col("content"),
        sha2(col("content"), 256).as("content_hash"),
        col("url_valid")
      )
  }

  /** Convert/chunk/featurize a pre-fetched URL table (valid schemes
    * only) — `ingest_url` minus the network.
    */
  def urlPipeline(
      urls: DataFrame,
      library: String,
      metadata: Map[String, String] = Map.empty
  ): DataFrame =
    pipelineFrom(urlSource(urls).filter(col("url_valid")).drop("url_valid"), library, metadata)

  /** `ingest_content` source shaping (reference: ingestor.py:293,
    * server.py's ingest_content tool): the caller has ALREADY read and
    * extracted the text (e.g. a user-uploaded attachment not on the
    * server's filesystem), so rows arrive as (source, content: string)
    * — no fetch, no conversion. Emits the [[folder]] schema with
    * file_type `md` ([[Convert]]'s identity branch — markdown/plain
    * text passes through verbatim, the exact "skip conversion"
    * semantics), so the standard chunk→featurize pipeline and the
    * hash-based skip/replace re-ingest gate take over unchanged. A
    * blank OR NULL source falls back to "uploaded-content"
    * (ingestor.py:316 strips then falls back — a NULL passed through
    * would become a null join/group key in the re-ingest gate).
    */
  def contentSource(contents: DataFrame): DataFrame = {
    val bytes = encode(col("content"), "UTF-8")
    contents.select(
      when(coalesce(trim(col("source")), lit("")) === "", lit("uploaded-content"))
        .otherwise(trim(col("source"))).as("source"),
      lit("md").as("file_type"),
      lit("").as("last_modified"),
      length(bytes).cast("long").as("n_bytes"),
      bytes.as("content"),
      sha2(bytes, 256).as("content_hash")
    )
  }

  /** Chunk/featurize a pre-extracted content table — `ingest_content`
    * end to end: [[contentSource]] into the shared [[pipelineFrom]]
    * dataflow, same ChunkRecord-shaped output as folder/URL ingest.
    */
  def contentPipeline(
      contents: DataFrame,
      library: String,
      metadata: Map[String, String] = Map.empty
  ): DataFrame =
    pipelineFrom(contentSource(contents), library, metadata)

  /** Re-ingest statuses against an existing store, keyed on
    * (source, library) with hash-skip (ingestor.py:182-205,
    * store.py:206 `find_existing`).
    */
  def statuses(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val e = existing
      .select(col("source"), col("library"), col("content_hash").as("_old_hash"))
      .distinct()
    incoming
      .join(e, Seq("source", "library"), "left_outer")
      .withColumn(
        "status",
        when(col("_old_hash").isNull, "indexed")
          .when(col("content_hash") === col("_old_hash"), "skipped")
          .otherwise("replaced")
      )
      .drop("_old_hash")
  }
}

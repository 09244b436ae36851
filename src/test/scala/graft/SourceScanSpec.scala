package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The JSONL/CSV source round-trip contract (`jsonl_scan`/`csv_scan`):
  * exact value fidelity through each format codec, and — what the
  * oracle can't see because the landed corpus is well-formed —
  * PERMISSIVE corrupt-record ACCOUNTING when it isn't.
  */
class SourceScanSpec extends SparkSpec {

  private val schema = Queries.SourceReadSchema

  test("jsonl round-trip is value-exact incl. quotes, backslashes, newlines, non-ascii") {
    val dir = tempDir("graft_srcspec_j").toString + "/d"
    val decorated = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(Queries.SourceDecoration)).as("text"))
    decorated.write.option("compression", "gzip").json(dir)
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .cache()
    assert(back.filter(col("_corrupt").isNotNull).count() === 0)
    // anti-join both directions on every value column = exact multiset equality
    val a = decorated.select("doc_id", "lang", "source", "text")
    val b = back.select("doc_id", "lang", "source", "text")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("csv multiLine round-trip is value-exact with embedded newlines and quotes") {
    val dir = tempDir("graft_srcspec_c").toString + "/d"
    val decorated = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(Queries.SourceDecoration)).as("text"))
    decorated.write.option("header", "true").option("escape", "\"").csv(dir)
    val back = spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
      .cache()
    assert(back.filter(col("_corrupt").isNotNull).count() === 0)
    val a = decorated.select("doc_id", "lang", "source", "text")
    val b = back.select("doc_id", "lang", "source", "text")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("astral-plane unicode (surrogate pairs) survives both format round-trips") {
    // beyond the BMP decoration: emoji, Gothic hwair, a musical symbol —
    // JSON escapes these as 😀-style surrogate pairs, CSV
    // carries raw UTF-8; either path mangling them breaks exceptAll
    import spark.implicits._
    val rows = Seq(
      (1L, "en", "s1", "emoji 😀🎉 mixed"),
      (2L, "en", "s1", "gothic 𐍈 hwair"),
      (3L, "en", "s2", "clef 𝄞 and text"),
      (4L, "en", "s2", "zwj family 👨‍👩‍👦")
    ).toDF("doc_id", "lang", "source", "text")
    for ((fmt, write, read) <- Seq[(String,
        (org.apache.spark.sql.DataFrame, String) => Unit,
        String => org.apache.spark.sql.DataFrame)](
      ("json",
        (df, p) => df.write.option("compression", "gzip").json(p),
        p => spark.read.schema(schema)
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
          .json(p)),
      ("csv",
        (df, p) => df.write.option("header", "true").option("escape", "\"").csv(p),
        p => spark.read.schema(schema)
          .option("header", "true").option("multiLine", "true").option("escape", "\"")
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
          .csv(p)))) {
      val dir = tempDir(s"graft_srcspec_u_$fmt").toString + "/d"
      write(rows, dir)
      val back = read(dir).cache()
      assert(back.filter(col("_corrupt").isNotNull).count() === 0, s"$fmt corrupt")
      val a = rows.select("doc_id", "lang", "source", "text")
      val b = back.select("doc_id", "lang", "source", "text")
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0, s"$fmt mangled")
    }
  }

  test("xml round-trip is value-exact incl. entity-escaped chars and the decoration") {
    import spark.implicits._
    val rows = Seq(
      (1L, "en", "s1", "markup chars & < > \" ' in text"),
      (2L, "en", "s1", "entity lookalikes &amp; &lt; stay literal"),
      (3L, "en", "s2", "cdata trap ]]> inside text"),
      (4L, "en", "s2", "decoration " + Queries.SourceDecoration)
    ).toDF("doc_id", "lang", "source", "text")
    val dir = tempDir("graft_srcspec_x").toString + "/d"
    rows.write.format("xml").option("rootTag", "docs").option("rowTag", "doc").save(dir)
    val back = spark.read.schema(schema)
      .format("xml").option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .load(dir)
      .cache()
    assert(back.filter(col("_corrupt").isNotNull).count() === 0)
    val a = rows.select("doc_id", "lang", "source", "text")
    val b = back.select("doc_id", "lang", "source", "text")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "xml entity escaping must be lossless")
  }

  test("malformed jsonl lines are counted in _corrupt, not dropped or fatal") {
    val dir = tempDir("graft_srcspec_m").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-bad.json"),
      ("""{"doc_id": 1, "lang": "en", "source": "s", "text": "ok"}""" + "\n" +
        """{"doc_id": "NOT_A_NUMBER_", "lang": "en"""" + "\n" + // truncated line
        """not json at all""" + "\n" +
        """{"doc_id": 2, "lang": "en", "source": "s", "text": "also ok"}""" + "\n")
        .getBytes("UTF-8"))
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .cache()
    assert(back.count() === 4, "every line yields a row")
    assert(back.filter(col("_corrupt").isNotNull).count() === 2)
    assert(back.filter(col("_corrupt").isNull).count() === 2)
    // good rows parsed with full values
    assert(back.filter(col("_corrupt").isNull).agg(sum("doc_id")).head().getLong(0) === 3L)
  }

  test("avro round-trip is value-exact incl. decoration, nulls and astral unicode") {
    import spark.implicits._
    val dir = tempDir("graft_srcspec_a").toString + "/d"
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(Queries.SourceDecoration)).as("text"))
    val extras = Seq(
      (900001L, null.asInstanceOf[String], "s9", "null lang survives the union type"),
      (900002L, "en", "s9", "emoji 😀 gothic 𐍈 zwj 👨‍👩‍👦"),
      (900003L, "en", "s9", null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "source", "text")
    val rows = corpus.unionAll(extras)
    operators.Avro.write(rows, dir)
    val back = operators.Avro.read(spark, dir, Queries.SourceReadSchema).cache()
    // binary-container semantics: _corrupt is structurally all-null
    assert(back.filter(col("_corrupt").isNotNull).count() === 0)
    val a = rows.select("doc_id", "lang", "source", "text")
    val b = back.select("doc_id", "lang", "source", "text")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "avro container round-trip must be lossless")
    // deflate is per-block: the container must still be splittable —
    // the read side must NOT collapse to one-task-per-file semantics
    // in a way that loses rows when Spark hands it a split. Hadoop
    // honors sync markers internally; value equality above plus a
    // sanity check that output files are actually compressed container
    // files (magic "Obj\x01") pins the format.
    val f = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    val magic = java.nio.file.Files.readAllBytes(f.toPath).take(4)
    assert(magic.sameElements(Array[Byte]('O', 'b', 'j', 1)), "avro container magic")
  }

  test("avro: empty corpus round-trips to zero rows, not an error") {
    import spark.implicits._
    val dir = tempDir("graft_srcspec_ae").toString + "/d"
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "lang", "source", "text")
    operators.Avro.write(empty, dir)
    val back = operators.Avro.read(spark, dir, Queries.SourceReadSchema)
    assert(back.count() === 0)
    assert(back.schema === Queries.SourceReadSchema)
  }

  test("avro: projected reader schema prunes decode to the requested fields") {
    import spark.implicits._
    val dir = tempDir("graft_srcspec_ap").toString + "/d"
    val rows = Seq(
      (1L, "en", "s1", "alpha body"),
      (2L, null.asInstanceOf[String], "s2", "beta body"),
      (3L, "fr", "s1", null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "source", "text")
    operators.Avro.write(rows, dir)
    // the projected reader schema names ONLY the requested fields —
    // this string is what read() installs as avro.schema.input.key
    val projJson = operators.Avro.readerSchemaJson(Seq("source", "text"))
    assert(!projJson.contains("doc_id") && !projJson.contains("lang"))
    assert(projJson.contains("\"source\"") && projJson.contains("\"text\""))
    // decoder-level proof the projection is RESOLVED (not re-projected
    // after a full decode): open a container file with that reader
    // schema through Avro's own DataFileReader — the resolved datum
    // carries only the reader fields, so the dropped ones were skipped
    // by the ResolvingDecoder, never materialized
    val f = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .filter(_.length > 0).head
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]()
    reader.setExpected(new org.apache.avro.Schema.Parser().parse(projJson))
    val dfr = new org.apache.avro.file.DataFileReader(f, reader)
    try {
      assert(dfr.hasNext)
      val rec = dfr.next()
      import scala.jdk.CollectionConverters._
      assert(rec.getSchema.getFields.asScala.map(_.name()).toSet === Set("source", "text"))
    } finally dfr.close()
    // and the pruned DataFrame read agrees with the full read on the
    // surviving columns (same rows, same values, _corrupt all-null)
    val prunedSchema = StructType(schema.fields.filter(f2 => Set("source", "text", "_corrupt")(f2.name)))
    val pruned = operators.Avro.read(spark, dir, prunedSchema).cache()
    assert(pruned.schema === prunedSchema)
    assert(pruned.filter(col("_corrupt").isNotNull).count() === 0)
    val full = operators.Avro.read(spark, dir, schema).select("source", "text")
    val got = pruned.select("source", "text")
    assert(full.exceptAll(got).count() === 0 && got.exceptAll(full).count() === 0)
  }

  test("avro: a multi-MB document survives block-compressed round-trip intact") {
    import spark.implicits._
    // a single record larger than the default avro sync interval forces
    // multi-block framing inside one container file
    val big = ("x" * 1000 + "é日😀\n") * 3000 // ~3 MB with multibyte + newline
    val dir = tempDir("graft_srcspec_ab").toString + "/d"
    val rows = Seq((1L, "en", "s", big)).toDF("doc_id", "lang", "source", "text")
    operators.Avro.write(rows, dir)
    val back = operators.Avro.read(spark, dir, Queries.SourceReadSchema)
      .select("doc_id", "text").collect()
    assert(back.length === 1)
    assert(back(0).getString(1) === big, "large-record fidelity through deflate blocks")
  }
}

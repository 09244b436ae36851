package graft

/** DuckDB-SQL twins of every oracle-checkable [[Queries]] entry.
  *
  * Contract (see SURVEY.md §7): identical column names, identical
  * ordering, computed integers CAST to BIGINT on both sides, floating
  * scores rounded (5 dp; RRF 6 dp) on both sides *before* ordering so
  * sub-ulp engine differences can't flip ranks or hashes.
  *
  * The SQL fragments below are the cross-engine contract for
  * [[graft.functions.TextOps]] / [[graft.functions.VectorOps]] — change
  * either side only in lockstep.
  */
object OracleSql {

  /** Tokenizer twin of TextOps.tokenize. */
  private def toks(textExpr: String = "text"): String =
    s"list_filter(regexp_split_to_array(lower($textExpr), '[^a-z0-9]+'), t -> t <> '')"

  /** Cast a float list to double — twin of VectorOps.toDouble. */
  private def dvec(c: String): String = s"list_transform($c, x -> CAST(x AS DOUBLE))"

  /** Rounded cosine — twin of VectorOps.cosineRounded (5 dp). */
  private def cosine(a: String, b: String): String =
    s"ROUND(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 5)"

  /** Hashed bag-of-words dimension of term `t` (first md5 byte mod 64)
    * — twin of TextOps.hashedBowDim.
    */
  private def bowDim(t: String): String =
    s"CAST(((strpos('0123456789abcdef', substr(md5($t), 1, 1)) - 1) * 16" +
      s" + strpos('0123456789abcdef', substr(md5($t), 2, 1)) - 1) % 64 AS BIGINT)"

  /** Count of dimensions whose signs disagree (strict > 0 on both
    * sides) — Bq's Hamming distance over the packed sign bits, with no
    * packing needed in SQL.
    */
  private def hamming(a: String, b: String): String =
    s"CAST(len(list_filter(generate_series(1, 64), i -> ($a[i] > 0) <> ($b[i] > 0))) AS BIGINT)"

  /** 3-token md5 shingles (distinct) — twin of TextOps.shingles + array_distinct. */
  private val shingleExpr: String =
    "list_distinct(CASE WHEN len(toks) >= 3 THEN list_transform(generate_series(1, len(toks) - 2), " +
      "i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) ELSE [] END)"

  /** min-hash for one seed — twin of Dedup.minHashSignatures' `h<seed>`. */
  private def minHash(seed: Int): String =
    s"list_min(list_transform(sh, s -> md5('$seed:' || s)))"

  private val queryTermsSql = Queries.QueryTerms.map(t => s"'$t'").mkString(", ")

  /** The cross-encoder's literal query text — the same joined term
    * string the Spark scorer receives (lowercase by construction).
    */
  private val crossQueryText = Queries.QueryTerms.mkString(" ")

  // ── chunk_recursive twin ─────────────────────────────────────────────
  // Twin of Chunker.recursiveChunks (chunker.py:55/:81/:107 semantics):
  // the bounded 4-level separator recursion ["\n\n","\n"," ",""] where a
  // piece longer than chunkSize (64 ws-tokens) is replaced by the NEXT
  // level's merged chunks, and each level runs the greedy merge with
  // overlap carry (emit when adding would overflow; then drop the
  // longest prefix leaving a suffix of total length <= overlap (16)).
  // This was the no-oracle row round 14 flagged as plausibly
  // expressible — unlike the transformer rows it is pure string/integer
  // arithmetic. The sequential merge state (buffer texts + their
  // measured lengths + emitted chunks) rides a recursive CTE per level,
  // one step per split, keyed per merge group; the overlap drain is the
  // closed form "maximal suffix with sum <= overlap" computed by an
  // indexed-lambda scan over the buffered lengths. Four unrolled levels
  // (the separator list is a fixed constant in both engines), assembled
  // bottom-up; every split/chunk length is re-measured with the wslen
  // twin exactly where the Scala re-tokenizes. MATERIALIZED hints stop
  // DuckDB inlining a lower level's whole pipeline into each iteration
  // of the level above (exponential blowup without them).
  private def crWslen(x: String): String =
    s"len(list_filter(string_split_regex(lower($x), '[^a-z0-9]+'), t -> t <> ''))"

  private val crSeps = Seq("E'\\n\\n'", "E'\\n'", "' '", "''")
  private val crKeys: Seq[Seq[String]] =
    Seq(Seq("doc_id"), Seq("doc_id", "i0"), Seq("doc_id", "i0", "i1"),
      Seq("doc_id", "i0", "i1", "i2"))
  private val crChunkSize = 64
  private val crOverlap = 16
  private val crMinTokens = 8

  /** Split pieces at level k (nonempty, enumerated) from the level-k
    * sources: the docs at k=0, else level k-1 pieces past the budget.
    */
  private def crSplits(k: Int): String = {
    val keys = crKeys(k).mkString(", ")
    val src =
      if (k == 0) "docs0"
      else s"(SELECT ${crKeys(k - 1).mkString(", ")}, si AS i${k - 1}, txt FROM s${k - 1} WHERE len > $crChunkSize)"
    val text = if (k == 0) "text" else "txt"
    s"""s$k AS MATERIALIZED (
       |  SELECT $keys, u.i AS si, u.p AS txt, ${crWslen("u.p")} AS len
       |  FROM (
       |    SELECT $keys, unnest(list_transform(list_filter(string_split($text, ${crSeps(k)}), x -> x <> ''), (p, i) -> {'p': p, 'i': i}), recursive := true)
       |    FROM $src
       |  ) u(${crKeys(k).mkString(",")}, p, i)
       |)""".stripMargin
  }

  /** Merge input at level k: short pieces in place, long pieces
    * replaced by the level-(k+1) merged chunks, re-enumerated.
    */
  private def crAll(k: Int): String = {
    val keys = crKeys(k).mkString(", ")
    if (k == 3)
      s"""all3 AS MATERIALIZED (
         |  SELECT $keys, si AS pos, txt, len,
         |         count(*) OVER (PARTITION BY $keys) AS n
         |  FROM s3
         |)""".stripMargin
    else {
      val childKeys = crKeys(k + 1).mkString(", ")
      s"""all$k AS MATERIALIZED (
         |  SELECT $keys, row_number() OVER (PARTITION BY $keys ORDER BY si, sub) AS pos,
         |         txt, ${crWslen("txt")} AS len,
         |         count(*) OVER (PARTITION BY $keys) AS n
         |  FROM (
         |    SELECT $keys, si, 0 AS sub, txt FROM s$k WHERE len <= $crChunkSize
         |    UNION ALL
         |    SELECT $keys, i$k AS si, u.i AS sub, u.p AS txt
         |    FROM (
         |      SELECT $childKeys, unnest(list_transform(chunks, (p, i) -> {'p': p, 'i': i}), recursive := true)
         |      FROM m${k + 1}
         |    ) u(${crKeys(k + 1).mkString(",")}, p, i)
         |  )
         |)""".stripMargin
    }
  }

  /** The sequential greedy merge (chunker.py:55 _merge_splits) as a
    * recursive walk: one step per split; state = (buffer texts, buffer
    * lengths, emitted chunks). Drop count d after an emit = minimal
    * prefix length leaving a suffix of total length <= overlap.
    */
  private def crWalk(k: Int): String = {
    val keys = crKeys(k).mkString(", ")
    val wk = crKeys(k).map("w." + _).mkString(", ")
    val on = crKeys(k).map(c => s"a.$c = w.$c").mkString(" AND ")
    s"""w$k AS (
       |  SELECT $keys, 0 AS pos, n,
       |         CAST([] AS VARCHAR[]) AS buf_t, CAST([] AS BIGINT[]) AS buf_l,
       |         CAST([] AS VARCHAR[]) AS chunks
       |  FROM (SELECT DISTINCT $keys, n FROM all$k)
       |  UNION ALL
       |  SELECT $keys, pos, n,
       |         list_append(keep_t, txt) AS buf_t,
       |         list_append(keep_l, len) AS buf_l,
       |         chunks
       |  FROM (
       |    SELECT $keys, pos, n, txt, len,
       |           CASE WHEN emit THEN list_append(chunks0, array_to_string(buf_t, ${crSeps(k)})) ELSE chunks0 END AS chunks,
       |           buf_t[d + 1:len(buf_t)] AS keep_t,
       |           buf_l[d + 1:len(buf_l)] AS keep_l
       |    FROM (
       |      SELECT $keys, pos, n, txt, len, buf_t, buf_l, chunks0, emit,
       |             CASE WHEN NOT emit THEN 0
       |                  WHEN coalesce(list_sum(buf_l), 0) <= $crOverlap THEN 0
       |                  ELSE list_min(list_filter(list_transform(buf_l, (x, i) -> CASE WHEN list_sum(buf_l) - list_sum(buf_l[1:i]) <= $crOverlap THEN i END), v -> v IS NOT NULL))
       |             END AS d
       |      FROM (
       |        SELECT $wk, w.pos + 1 AS pos, w.n, a.txt, a.len,
       |               w.buf_t, w.buf_l, w.chunks AS chunks0,
       |               (len(w.buf_t) > 0 AND coalesce(list_sum(w.buf_l), 0) + a.len > $crChunkSize) AS emit
       |        FROM w$k w JOIN all$k a ON $on AND a.pos = w.pos + 1
       |        WHERE w.pos < w.n
       |      )
       |    )
       |  )
       |)""".stripMargin
  }

  private def crM(k: Int): String = {
    val keys = crKeys(k).mkString(", ")
    s"""m$k AS MATERIALIZED (
       |  SELECT $keys,
       |         CASE WHEN len(buf_t) > 0 THEN list_append(chunks, array_to_string(buf_t, ${crSeps(k)})) ELSE chunks END AS chunks
       |  FROM w$k WHERE pos = n
       |)""".stripMargin
  }

  private lazy val chunkRecursiveSql: String = {
    val ctes = Seq("docs0 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE trim(text) <> '')") ++
      (0 to 3).map(crSplits) ++
      Seq(3, 2, 1, 0).flatMap(k => Seq(crAll(k), crWalk(k), crM(k)))
    s"""WITH RECURSIVE
       |${ctes.mkString(",\n")},
       |sel AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN len(f.filtered) = 0 AND len(m.chunks) > 0 THEN [trim(d.text)] ELSE f.filtered END AS chunks
       |  FROM docs0 d
       |  JOIN m0 m ON m.doc_id = d.doc_id
       |  JOIN (SELECT doc_id, list_filter(chunks, c -> ${crWslen("c")} >= $crMinTokens) AS filtered FROM m0) f ON f.doc_id = d.doc_id
       |)
       |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_index, u.p AS chunk
       |FROM (
       |  SELECT doc_id, unnest(list_transform(chunks, (p, i) -> {'p': p, 'i': i}), recursive := true)
       |  FROM sel
       |) u(doc_id, p, i)
       |ORDER BY doc_id, chunk_index""".stripMargin
  }

  /** Twin of Bpe.PretokenRegex (no escaping needed in a SQL literal). */
  private val bpePretokenRegex: String = graft.operators.Bpe.PretokenRegex

  /** Twin of Queries.chunkTokenBudget (also nested by token_shards_bpe):
    * positioned pre-tokens (parallel unnest keeps pos exact), per-word
    * BPE counts from the shared enc chain, per-doc running sum, greedy
    * budget-32 packing.
    */
  private lazy val chunkTokenBudgetSql: String =
    s"""WITH $bpeEncCtes,
       |ptp AS (SELECT doc_id, unnest(ws) AS w, unnest(generate_series(0, len(ws) - 1)) AS pos
       |        FROM (SELECT doc_id, regexp_extract_all(lower(text), '$bpePretokenRegex') AS ws FROM documents)),
       |cnt AS (SELECT ptp.doc_id, ptp.pos, ptp.w, enc.n FROM ptp JOIN enc USING (w)),
       |cum AS (SELECT doc_id, pos, w, n,
       |        sum(n) OVER (PARTITION BY doc_id ORDER BY pos
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM cnt)
       |SELECT doc_id, CAST((cum - n) // 32 AS BIGINT) AS chunk_index,
       |       CAST(count(*) AS BIGINT) AS n_pretokens,
       |       CAST(sum(n) AS BIGINT) AS chunk_tokens,
       |       string_agg(w, ' ' ORDER BY pos) AS chunk
       |FROM cum GROUP BY doc_id, chunk_index ORDER BY doc_id, chunk_index""".stripMargin

  /** BPE encode CTE chain — shared by every BPE twin. Yields `pt`
    * (doc_id, w: pre-tokens of lower(text)) and `enc` (w, n: BPE token
    * count of w under the SAME checked-in merge table as the Spark
    * side), the merges applied in rank order as a flat replace() chain.
    * Each symbol is fully wrapped (' x ') so a pair pattern ' l  r ' can
    * neither false-match a symbol of which l/r is a prefix nor share a
    * boundary between consecutive occurrences — making the string
    * replace exactly the left-to-right non-overlapping list merge of
    * Bpe.encodeWord. Merge symbols are [a-z0-9]+ by construction
    * (single-char non-alnum pre-tokens have no pairs), so inlining them
    * in SQL literals needs no escaping. Chain staged through CTEs of 60
    * (DuckDB binder caps expression recursion at 128).
    */
  /** Number of staged merge CTEs in [[bpeChainCtes]] — `s$bpeStages` is
    * the fully-merged spaced form each BPE consumer reads.
    */
  private lazy val bpeStages: Int = graft.operators.Bpe.merges.grouped(60).size

  /** The raw BPE merge chain (pt, wd, s0..sN) without a consumer CTE —
    * shared by [[bpeEncCtes]] (which counts tokens) and the quantized
    * encoder twin (which needs the SYMBOLS, not just their count).
    */
  /** The staged BPE merge chain, parameterized by CTE-name prefix and
    * the source word table — so a twin can run the SAME merges over a
    * second word universe (the cross-encoder's literal query text)
    * without name collisions.
    */
  private def bpeMergeChain(prefix: String, srcCte: String): String = {
    val stages = graft.operators.Bpe.merges.grouped(60).toSeq
    val chainCtes = stages.zipWithIndex.map { case (st, idx) =>
      val e = st.foldLeft("s") { case (acc, (l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')" }
      s"$prefix${idx + 1} AS (SELECT w, $e AS s FROM $prefix$idx)"
    }
    s"""${prefix}0 AS (SELECT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS s FROM $srcCte),
       |${chainCtes.mkString(",\n")}""".stripMargin
  }

  private lazy val bpeChainCtes: String =
    s"""pt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$bpePretokenRegex')) AS w FROM documents),
       |wd AS (SELECT DISTINCT w FROM pt),
       |${bpeMergeChain("s", "wd")}""".stripMargin

  private lazy val bpeEncCtes: String =
    s"""$bpeChainCtes,
       |enc AS (SELECT w, (len(s) - len(replace(s, ' ', ''))) // 2 AS n FROM s$bpeStages)""".stripMargin

  /** Symbol enumeration over the corpus BPE chain: `sym` (word →
    * ordered symbol list from the fully-merged spaced form) and `wid`
    * (one row per symbol with its 1-based in-word index). Shared by
    * the quantized-encoder twins.
    */
  private lazy val bpeSymbolCtes: String =
    s"""sym AS MATERIALIZED (SELECT w, string_split(trim(s), '  ') AS syms FROM s$bpeStages),
       |wid AS (SELECT w, unnest(syms) AS sub, unnest(generate_series(1, len(syms))) AS si FROM sym)""".stripMargin

  /** Java `String.hashCode` in SQL: the 31-ary rolling hash over the
    * UTF-16 units (== code points on this ASCII corpus) masked to
    * unsigned 32 bits; consumers reduce it modulo their vocab
    * (`& 255` for the encoder's 256-entry table — equal to floorMod
    * because 256 divides 2^32 — or the explicit signed floorMod for
    * the cross-encoder's 255-entry [SEP]-reserved vocab).
    */
  private val javaHash32: String =
    "list_reduce(list_prepend(0::BIGINT, list_transform(split(sub, ''), c -> ascii(c)::BIGINT)), (h, c) -> (h * 31 + c) & 4294967295)"

  /** The QuantEncoder transformer contract as CTEs over an upstream
    * `qtok(doc_id, i, id)` (ids into the 256-entry embedding table)
    * — yields `lens(doc_id, l)` and the pooled `pl(doc_id, j, p)` at
    * scale F. Every aggregation is an exact BIGINT sum (order-free);
    * the contract lives in QuantEncoder.scala and any change there
    * must change this chain too. Shared by embed_encoder_q (which
    * normalizes pl) and rerank_cross_q (which projects pl through
    * the integer score head).
    */
  private lazy val quantForwardCtes: String =
    s"""lens AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS l FROM qtok GROUP BY doc_id),
       |dj AS MATERIALIZED (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS j),
       |dd AS MATERIALIZED (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS d),
       |emb AS MATERIALIZED (SELECT v, j, ((v * 37 + j * 11) % 7) - 3 AS e
       |        FROM (SELECT CAST(unnest(generate_series(0, 255)) AS BIGINT) AS v), dj),
       |x AS MATERIALIZED (SELECT t.doc_id, t.i, emb.j, emb.e * 4096 AS x FROM qtok t JOIN emb ON emb.v = t.id),
       |wq AS MATERIALIZED (SELECT d, j, ((d * 19 + j * 7) % 5) - 2 AS w FROM dd, dj),
       |wk AS MATERIALIZED (SELECT d, j, ((d * 11 + j * 23) % 5) - 2 AS w FROM dd, dj),
       |wv AS MATERIALIZED (SELECT d, j, ((d * 29 + j * 13) % 5) - 2 AS w FROM dd, dj),
       |qq AS MATERIALIZED (SELECT x.doc_id, x.i, wq.j, sum(x.x * wq.w) AS q FROM x JOIN wq ON wq.d = x.j GROUP BY x.doc_id, x.i, wq.j),
       |kk AS MATERIALIZED (SELECT x.doc_id, x.i, wk.j, sum(x.x * wk.w) AS k FROM x JOIN wk ON wk.d = x.j GROUP BY x.doc_id, x.i, wk.j),
       |vv AS MATERIALIZED (SELECT x.doc_id, x.i, wv.j, sum(x.x * wv.w) AS v FROM x JOIN wv ON wv.d = x.j GROUP BY x.doc_id, x.i, wv.j),
       |qsc AS MATERIALIZED (SELECT qq.doc_id, qq.i, kk.i AS t, sum(qq.q * kk.k) // 16384 AS s
       |       FROM qq JOIN kk ON kk.doc_id = qq.doc_id AND kk.j = qq.j GROUP BY qq.doc_id, qq.i, kk.i),
       |mx AS MATERIALIZED (SELECT doc_id, i, max(s) AS mx FROM qsc GROUP BY doc_id, i),
       |eu AS MATERIALIZED (SELECT s1.doc_id, s1.i, s1.t, (least(m1.mx - s1.s, 65536) * 5909) // 4096 AS u2
       |       FROM qsc s1 JOIN mx m1 ON m1.doc_id = s1.doc_id AND m1.i = s1.i),
       |ez AS MATERIALIZED (SELECT doc_id, i, t, u2 // 4096 AS z, u2 - (u2 // 4096) * 4096 AS r FROM eu),
       |ee AS MATERIALIZED (SELECT doc_id, i, t,
       |       ((4096 - ((r * 2839) // 4096)) + ((((r * r) // 4096) * 791) // 4096)) >> CAST(z AS INTEGER) AS e
       |       FROM ez),
       |den AS MATERIALIZED (SELECT doc_id, i, sum(e) AS den FROM ee GROUP BY doc_id, i),
       |att AS MATERIALIZED (SELECT ee.doc_id, ee.i, ee.t, (ee.e * 4096) // den.den AS a
       |        FROM ee JOIN den ON den.doc_id = ee.doc_id AND den.i = ee.i),
       |ctx AS MATERIALIZED (SELECT att.doc_id, att.i, vv.j, sum(att.a * vv.v) // 4096 AS ctx
       |        FROM att JOIN vv ON vv.doc_id = att.doc_id AND vv.i = att.t GROUP BY att.doc_id, att.i, vv.j),
       |res AS MATERIALIZED (SELECT x.doc_id, x.i, x.j, ctx.ctx + x.x AS r
       |        FROM x JOIN ctx ON ctx.doc_id = x.doc_id AND ctx.i = x.i AND ctx.j = x.j),
       |sm AS MATERIALIZED (SELECT doc_id, i, sum(r) AS sm FROM res GROUP BY doc_id, i),
       |cc AS MATERIALIZED (SELECT res.doc_id, res.i, res.j, 16 * res.r - sm.sm AS c
       |       FROM res JOIN sm ON sm.doc_id = res.doc_id AND sm.i = res.i),
       |ssq AS MATERIALIZED (SELECT doc_id, i, sum(c * c) AS ss FROM cc GROUP BY doc_id, i),
       |sqv AS MATERIALIZED (SELECT doc_id, i, (CASE WHEN s1 * s1 > ss THEN s1 - 1 ELSE s1 END) + 1 AS sq
       |        FROM (SELECT doc_id, i, ss,
       |              CASE WHEN (s0 + 1) * (s0 + 1) <= ss THEN s0 + 1 ELSE s0 END AS s1
       |              FROM (SELECT doc_id, i, ss, CAST(floor(sqrt(CAST(ss AS DOUBLE))) AS BIGINT) AS s0 FROM ssq))),
       |lnm AS MATERIALIZED (SELECT cc.doc_id, cc.i, cc.j,
       |        ((cc.j % 3) + 1) * ((4 * cc.c * 4096) // sqv.sq) + ((cc.j % 3) - 1) * 4096 AS ln
       |        FROM cc JOIN sqv ON sqv.doc_id = cc.doc_id AND sqv.i = cc.i),
       |wf1 AS MATERIALIZED (SELECT d, j, ((d * 17 + j * 3) % 5) - 2 AS w FROM dd, dj),
       |wf2 AS MATERIALIZED (SELECT d, j, ((d * 5 + j * 31) % 5) - 2 AS w FROM dd, dj),
       |f1 AS MATERIALIZED (SELECT lnm.doc_id, lnm.i, wf1.j, sum(lnm.ln * wf1.w) + ((wf1.j % 3) - 1) * 4096 AS f1
       |       FROM lnm JOIN wf1 ON wf1.d = lnm.j GROUP BY lnm.doc_id, lnm.i, wf1.j),
       |f2 AS MATERIALIZED (SELECT doc_id, i, j, greatest(0, f1) AS f2 FROM f1),
       |f3 AS MATERIALIZED (SELECT f2.doc_id, f2.i, wf2.j, sum(f2.f2 * wf2.w) + ((wf2.j % 3) - 1) * 4096 AS f3
       |       FROM f2 JOIN wf2 ON wf2.d = f2.j GROUP BY f2.doc_id, f2.i, wf2.j),
       |r2 AS MATERIALIZED (SELECT f3.doc_id, f3.i, f3.j, f3.f3 + lnm.ln AS r2
       |       FROM f3 JOIN lnm ON lnm.doc_id = f3.doc_id AND lnm.i = f3.i AND lnm.j = f3.j),
       |pool AS MATERIALIZED (SELECT doc_id, j, sum(r2) AS p0 FROM r2 GROUP BY doc_id, j),
       |pl AS MATERIALIZED (SELECT pool.doc_id, pool.j, pool.p0 // lens.l AS p FROM pool JOIN lens USING (doc_id))""".stripMargin



  private lazy val enStopList: String =
    graft.operators.TextAnalysis.StopwordsByLang.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Quality-score CTEs over `src` (… → `qs`: doc_id, [lang,] n_tokens,
    * stop_ratio, quality) — twin of TextAnalysis.qualityScore; shared by
    * quality_score, quality_filter and the curation twins.
    */
  private def qualityCte(src: String, lang: Boolean = true): String = {
    val l = if (lang) "lang, " else ""
    s"""tkq AS (SELECT doc_id, $l${toks()} AS toks FROM $src),
       |cq AS (SELECT doc_id, ${l}toks,
       |       CASE WHEN len(toks) > 0
       |            THEN CAST(len(list_filter(toks, t -> list_contains($enStopList, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |            ELSE 0.0 END AS sr
       |      FROM tkq),
       |qs AS (SELECT doc_id, ${l}CAST(len(toks) AS BIGINT) AS n_tokens, ROUND(sr, 4) AS stop_ratio,
       |        ROUND(least(1.0, CAST(len(toks) AS DOUBLE) / 64.0) * 0.5 + least(1.0, sr * 5.0) * 0.5, 4) AS quality
       |       FROM cq)""".stripMargin
  }

  /** MinHash banded-LSH pair CTE chain over any (doc_id, text) source
    * CTE — yields `tk`/`shx`/`shf`/`sig`/`bands`/`cand`/`ver`; callers
    * filter `ver` by their Jaccard threshold.
    */
  private def minhashPairBody(src: String): String =
    s"""tk AS (SELECT doc_id, ${toks()} AS toks FROM $src),
       |shx AS (SELECT doc_id, $shingleExpr AS sh FROM tk),
       |shf AS (SELECT doc_id, sh FROM shx WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, sh,
       |         md5(${minHash(0)} || ${minHash(1)}) AS b0,
       |         md5(${minHash(2)} || ${minHash(3)}) AS b1,
       |         md5(${minHash(4)} || ${minHash(5)}) AS b2,
       |         md5(${minHash(6)} || ${minHash(7)}) AS b3
       |        FROM shf),
       |bands AS (
       |  SELECT doc_id, 0 AS band, b0 AS key FROM sig
       |  UNION ALL SELECT doc_id, 1, b1 FROM sig
       |  UNION ALL SELECT doc_id, 2, b2 FROM sig
       |  UNION ALL SELECT doc_id, 3, b3 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |ver AS (SELECT id_a, id_b,
       |         ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |               / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)), 4) AS jaccard
       |        FROM cand JOIN shf sa ON cand.id_a = sa.doc_id JOIN shf sb ON cand.id_b = sb.doc_id)""".stripMargin

  /** The planted near-dup corpus (twin of Queries.corpusWithNearDups)
    * as `corpus(doc_id, text)`: every document plus, for docs < 25, a
    * copy without its last 5 tokens at id + 10000.
    */
  private lazy val nearDupCorpus: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id,
       |         array_to_string(toks[1 : greatest(len(toks) - 5, 1)], ' ') AS text
       |  FROM (SELECT doc_id, ${toks()} AS toks FROM documents WHERE doc_id < 25))""".stripMargin

  /** The minhash pair chain over [[nearDupCorpus]] — shared by the
    * dedup_minhash_lsh and dedup_clusters families.
    */
  private lazy val minhashPairCtes: String = s"$nearDupCorpus,\n${minhashPairBody("corpus")}"

  /** Twin of Dedup.duplicateClusters over `ver`'s pairs with Jaccard >=
    * 0.3: the undirected edges `e`, their reachability closure `r` (a
    * recursive CTE — the statement opens WITH RECURSIVE) and each
    * node's component id, its min reachable id, in `cl(id, cluster_id)`.
    */
  private val componentCtes: String =
    """p AS (SELECT id_a, id_b FROM ver WHERE jaccard >= 0.3),
      |e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      |nodes AS (SELECT DISTINCT u AS id FROM e),
      |r AS (
      |  SELECT id AS u, id AS v FROM nodes
      |  UNION
      |  SELECT r.u, e.v FROM r JOIN e ON r.v = e.u
      |),
      |cl AS (SELECT u AS id, min(v) AS cluster_id FROM r GROUP BY u)""".stripMargin

  /** The embeddings plus planted near-dups (vec_id < 20 → +10000, first
    * component +0.05) as `corpus(vec_id, [label,] emb)` — twin of
    * Queries.embCorpusWithNearDups.
    */
  private def embNearDupCorpus(label: Boolean): String = {
    val l = if (label) "label, " else ""
    s"""${corpusCte(if (label) "vec_id, label" else "vec_id", "", "e", "emb")},
       |corpus AS (
       |  SELECT vec_id, ${l}emb FROM e
       |  UNION ALL
       |  SELECT vec_id + 10000 AS vec_id, ${l}list_prepend(emb[1] + 0.05, emb[2:64]) AS emb
       |  FROM e WHERE vec_id < 20)""".stripMargin
  }

  /** The benchmark's distinct 3-shingles `bs(shm)` (docs < 10). */
  private lazy val benchShingles: String =
    s"""bt AS (SELECT ${toks()} AS toks FROM documents WHERE doc_id < 10),
       |bs AS (SELECT DISTINCT unnest($shingleExpr) AS shm FROM bt)""".stripMargin

  /** Every 10-token window of `toks`, space-joined (1-based start i) —
    * Dedup's span gram.
    */
  private val spanGrams: String = "CASE WHEN len(toks) >= 10 THEN list_transform(generate_series(1, len(toks) - 9), " +
    "i -> array_to_string(toks[i:i+9], ' ')) ELSE [] END"

  /** Twin of Dedup's span rebuild (n = 10): `gramRows` (each md5'd
    * 10-gram of `t(doc_id, toks)` with its 1-based start), `coverage`
    * (every token position a gram in the `bad` set covers) and
    * `rebuild` (the uncovered tokens re-joined in order; string_agg
    * skips the NULL covered ones). A twin supplies its token source `t`
    * among its `ctes` and the SELECT of its bad grams `g`.
    */
  private def spanRebuildSql(ctes: String, bad: String): String =
    s"""WITH $ctes,
       |tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(1, len(toks))) AS pos FROM t),
       |gr AS (SELECT doc_id, md5(unnest($spanGrams)) AS g,
       |        unnest(CASE WHEN len(toks) >= 10 THEN generate_series(1, len(toks) - 9) ELSE [] END) AS gpos
       |       FROM t),
       |bad AS ($bad),
       |cov AS (SELECT DISTINCT gr.doc_id, gr.gpos + o.off AS pos
       |        FROM gr JOIN bad USING (g) CROSS JOIN generate_series(0, 9) AS o(off))
       |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN cov.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_tokens,
       |       COALESCE(string_agg(CASE WHEN cov.pos IS NULL THEN tok END, ' ' ORDER BY tok.pos), '') AS clean_text
       |FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  /** The benchmark's gram set (docs < 10, tokens of `text`) — the bad
    * set of the decontamination twins.
    */
  private def benchmarkGrams(text: String): String =
    s"SELECT DISTINCT md5(unnest($spanGrams)) AS g FROM (SELECT ${toks(text)} AS toks FROM documents WHERE doc_id < 10)"

  /** Hyperplane-LSH signature — twin of Lsh.bucket. The md5-derived
    * integer weights are computed once driver-side ([[graft.operators.Lsh.plane]])
    * and inlined as literals on BOTH sides, so the bucketing is
    * cross-engine identical. The sum is an explicit left-to-right chain,
    * matching Spark's sequential aggregate fold term for term.
    */
  /** 64-bit SimHash CTE chain — twin of Dedup.simHash64 over a source
    * table/CTE with (doc_id, text); yields `sg(doc_id, sig)`.
    */
  private def simhashCtes(src: String): String = {
    val digits = (1 to 16)
      .map(p => s"(strpos('0123456789abcdef', substr(hh, $p, 1)) - 1) AS v$p")
      .mkString(", ")
    val sums = (0 until 64).map { j =>
      val p = j / 4 + 1
      val k = 3 - j % 4
      s"sum((v$p >> $k) & 1) AS c$j"
    }.mkString(", ")
    val sig = (0 until 64)
      .map(j => s"CASE WHEN 2 * c$j > n THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""tk_s AS (SELECT doc_id, ${toks()} AS toks FROM $src),
       |tok_s AS (SELECT doc_id, unnest(toks) AS t FROM tk_s),
       |h_s AS (SELECT doc_id, md5(t) AS hh FROM tok_s),
       |v_s AS (SELECT doc_id, $digits FROM h_s),
       |c_s AS (SELECT doc_id, count(*) AS n, $sums FROM v_s GROUP BY doc_id),
       |sg AS (SELECT doc_id, $sig AS sig FROM c_s)""".stripMargin
  }

  private def lshSig(vec: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes).map { i =>
      val sum = graft.operators.Lsh.plane(i, dim).zipWithIndex
        .map { case (w, d) => s"$vec[${d + 1}] * ($w)" }
        .mkString(" + ")
      s"CASE WHEN $sum >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** Shared chunk CTE body (32-token windows, 8 overlap) — twin of
    * Queries.chunks / Chunker.fixedSize(32, 8).
    */
  private val chunkCte: String =
    s"""tk AS (SELECT doc_id, source, lang, ${toks()} AS toks FROM documents),
       |tn AS (SELECT doc_id, source, lang, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |ch0 AS (SELECT doc_id, source, lang, toks, n, unnest(generate_series(0, n - 1, 24)) AS st FROM tn),
       |ch AS (SELECT doc_id, source, lang,
       |        CAST(st // 24 AS BIGINT) AS chunk_index,
       |        array_to_string(toks[st + 1 : st + 32], ' ') AS chunk,
       |        CAST(least(32, n - st) AS BIGINT) AS chunk_tokens
       |       FROM ch0)""".stripMargin

  /** The semantic sidecar's document side: per-doc dimension counts
    * `dd` and squared norms `dn` (twin of Fts's docdims; exact
    * integers on both sides).
    */
  private lazy val semanticDocCtes: String =
    s"""tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
       |d AS (SELECT doc_id, ${bowDim("term")} AS dim FROM tok),
       |dd AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY doc_id, dim),
       |dn AS (SELECT doc_id, sum(cnt * cnt) AS ss FROM dd GROUP BY doc_id)""".stripMargin

  /** Twin of Queries.semanticSearch AND Fts.semanticProbe (the sidecar
    * is a pure function of the corpus): dims/counts are exact integers
    * on both sides; the only floating math is the final dot/(sqrt·sqrt),
    * identical expression shape → bit-identical.
    */
  private lazy val semanticTwin: String =
    s"""WITH $semanticDocCtes,
       |qt AS (SELECT unnest(${toks("'spark filter join stream'")}) AS term),
       |qd AS (SELECT ${bowDim("term")} AS dim, CAST(count(*) AS BIGINT) AS qcnt FROM qt GROUP BY 1),
       |qn AS (SELECT sum(qcnt * qcnt) AS qss FROM qd),
       |dt AS (SELECT dd.doc_id, sum(dd.cnt * qd.qcnt) AS dot FROM dd JOIN qd USING (dim) GROUP BY dd.doc_id)
       |SELECT dt.doc_id, ROUND(dt.dot / (sqrt(dn.ss) * sqrt(qn.qss)), 5) AS cos_sim
       |FROM dt JOIN dn USING (doc_id) CROSS JOIN qn
       |ORDER BY cos_sim DESC, doc_id LIMIT 10""".stripMargin

  /** Twin of Fts.semanticProbeBatch over Queries.BatchSemanticQueries:
    * the semantic twin's CTEs with the query side parameterized by a
    * (query_id, qtext) VALUES table. Integer dot products keep scores
    * exact rationals before the one rounded division.
    */
  private lazy val semanticBatchSql: String = {
    val qValues = Queries.BatchSemanticQueries
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""WITH $semanticDocCtes,
       |qq AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext FROM (VALUES $qValues) AS t(query_id, qtext)),
       |qtok AS (SELECT query_id, unnest(${toks("qtext")}) AS term FROM qq),
       |qd AS (SELECT query_id, ${bowDim("term")} AS dim, CAST(count(*) AS BIGINT) AS qcnt
       |       FROM qtok GROUP BY 1, 2),
       |qn AS (SELECT query_id, sum(qcnt * qcnt) AS qss FROM qd GROUP BY query_id),
       |dt AS (SELECT qd.query_id, dd.doc_id, sum(dd.cnt * qd.qcnt) AS dot
       |       FROM dd JOIN qd USING (dim) GROUP BY qd.query_id, dd.doc_id),
       |sc AS (SELECT dt.query_id, dt.doc_id,
       |        ROUND(dt.dot / (sqrt(dn.ss) * sqrt(qn.qss)), 5) AS cos_sim
       |       FROM dt JOIN dn USING (doc_id) JOIN qn USING (query_id)),
       |${rankedTopK("sc", "query_id", "doc_id, cos_sim", "cos_sim DESC, doc_id", 5)}""".stripMargin
  }

  /** Twin of graft.plans.TopK.heap: `src`'s rows ranked within each `key`
    * by `order` as `rk`, the top `k` of each key in (key, rk) order.
    */
  private def rankedTopK(src: String, key: String, cols: String, order: String, k: Int): String =
    s"""r AS (SELECT $key, $cols,
       |      CAST(row_number() OVER (PARTITION BY $key ORDER BY $order) AS BIGINT) AS rk FROM $src)
       |SELECT $key, $cols, rk FROM r WHERE rk <= $k ORDER BY $key, rk""".stripMargin

  /** The query side of a [[bm25Chain]]: the postings kept (terms IN
    * `terms`, a literal list or a subquery), the CTEs and join that
    * attach each term's query id (a batch) or weight, and the `key` and
    * `weight` as they enter the score.
    */
  private final case class Bm25Query(terms: String, ctes: String = "", join: String = "",
                                     key: String = "", weight: String = "")

  /** The fixed Queries.QueryTerms — Search.bm25Scores' one query. */
  private lazy val fixedTerms = Bm25Query(queryTermsSql)

  /** A batch of (query_id, terms) as a VALUES table `qq` — Fts.probeBatch. */
  private def batchTerms(queries: Seq[(Long, Seq[String])]): Bm25Query = {
    val qValues = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
      .mkString(", ")
    Bm25Query(queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", "),
      s"qq AS (SELECT CAST(query_id AS BIGINT) AS query_id, term FROM (VALUES $qValues) AS t(query_id, term)),\n",
      " JOIN qq USING (term)", "qq.query_id, ")
  }

  /** Terms weighted by a `(term, qw)` CTE already in the statement —
    * Search.bm25WeightedScores (RM3's second round).
    */
  private def weightedTerms(table: String): Bm25Query =
    Bm25Query(s"SELECT term FROM $table", join = s" JOIN $table USING (term)", weight = s"$table.qw * ")

  /** The corpus half of [[bm25Chain]]: `src`'s tokens `tok`, per-doc
    * lengths `dl` and the corpus stats `st` (N, avgdl) — per `group`
    * when one is given (each group its own sub-corpus).
    */
  private def bm25Corpus(src: String, group: String = ""): String = {
    val g = if (group.isEmpty) "" else s"$group, "
    val by = if (group.isEmpty) "" else s" GROUP BY $group"
    s"""tok AS (SELECT ${g}doc_id, unnest(${toks()}) AS term FROM $src),
       |dl AS (SELECT ${g}doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY ${g}doc_id),
       |st AS (SELECT ${g}CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl$by)""".stripMargin
  }

  /** The scoring half of [[bm25Chain]] over `tok`/`dl`/`st`: the query
    * side's postings `qt`, term frequencies `tf`, document frequencies
    * `dfq` and the summed Search.bm25Term (k1 = 1.2, b = 0.75) per
    * (query?, group?, doc) in `sc` — `score`, or `bm25` rounded to 5
    * places. `suffix` names a second scoring pass over the same corpus.
    */
  private def bm25Score(q: Bm25Query, group: String = "", rounded: Boolean = false,
                        suffix: String = ""): String = {
    val g = if (group.isEmpty) "" else s"$group, "
    val (qt, tf, dfq, sc) = (s"qt$suffix", s"tf$suffix", s"dfq$suffix", s"sc$suffix")
    val id = s"${q.key}${if (group.isEmpty) "" else s"$tf.$group, "}$tf.doc_id"
    val (open, close) = if (rounded) ("ROUND(", ", 5) AS bm25") else ("", " AS score")
    val st = if (group.isEmpty) "CROSS JOIN st" else s"JOIN st USING ($group)"
    s"""${q.ctes}$qt AS (SELECT ${g}doc_id, term FROM tok WHERE term IN (${q.terms})),
       |$tf AS (SELECT ${g}doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM $qt GROUP BY ${g}doc_id, term),
       |$dfq AS (SELECT ${g}term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM $qt GROUP BY ${g}term),
       |$sc AS (SELECT $id,
       |        ${open}SUM( ${q.weight}ln(1.0 + (st.n - $dfq.df + 0.5) / ($dfq.df + 0.5))
       |             * $tf.tf * (1.2 + 1) / ($tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) )$close
       |       FROM $tf${q.join} JOIN $dfq USING (${g}term) JOIN dl USING (${g}doc_id) $st
       |       GROUP BY $id)""".stripMargin
  }

  /** BM25 scoring CTEs — twin of Search.bm25Term and the scorers built
    * on it (Search.bm25Scores, bm25PerGroup, Fts.probe/probeBatch) —
    * over `src`: (doc_id, text[, group]) rows, restricted by the caller
    * (a tombstone predicate for the delete-maintenance twins).
    */
  private def bm25Chain(src: String, q: Bm25Query = fixedTerms, group: String = "",
                        rounded: Boolean = false): String =
    s"${bm25Corpus(src, group)},\n${bm25Score(q, group, rounded)}"

  private lazy val bm25Cte: String = bm25Chain("documents")

  /** Batch-BM25 top-k over literal (query_id, terms) values — shared by
    * the static bm25_batch twin and the dynamic retrieval_eval twin
    * (whose query set is captured from the corpus at run time).
    */
  private def bm25BatchSelect(queries: Seq[(Long, Seq[String])], k: Int): String =
    s"""WITH ${bm25Chain("documents", batchTerms(queries), rounded = true)},
       |${rankedTopK("sc", "query_id", "doc_id, bm25", "bm25 DESC, doc_id", k)}""".stripMargin

  private lazy val bm25BatchSql: String = bm25BatchSelect(Queries.BatchTextQueries, 5)

  /** Twin of Search.rrfFuse (k = 60) fusing the BM25 top 100 with a vector
    * leg's top 100: `k100` selects (doc_id, cos_sim) over the `ctes`.
    */
  private def rrfSql(ctes: String, k100: String): String =
    s"""WITH $bm25Cte,
       |b100 AS (SELECT doc_id, ROUND(score, 5) AS bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 100),
       |$ctes,
       |k100 AS ($k100
       |         ORDER BY cos_sim DESC, doc_id LIMIT 100),
       |ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk_a FROM b100),
       |rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS rk_b FROM k100)
       |SELECT doc_id,
       |       ROUND(COALESCE(1.0 / (60 + rk_a), 0) + COALESCE(1.0 / (60 + rk_b), 0), 6) AS rrf,
       |       rk_a, rk_b
       |FROM ra FULL OUTER JOIN rb USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** Twin of Featurize.meanPoolChunks over the shared chunk CTE (no
    * ORDER BY — composable). Each chunk's unit-vector component is
    * quantized to the 1e-6 grid as a BIGINT, so the cross-chunk sum
    * (the only place addition order could differ between engines) is
    * exact integer arithmetic; one division by the exact integer norm,
    * 5 dp.
    */
  private lazy val docEmbeddingSelect: String =
    s"""WITH $chunkCte,
       |tok AS (SELECT doc_id, chunk_index, unnest(${toks("chunk")}) AS term FROM ch),
       |d AS (SELECT doc_id, chunk_index, ${bowDim("term")} AS dim FROM tok),
       |cd AS (SELECT doc_id, chunk_index, dim, CAST(count(*) AS BIGINT) AS cnt
       |       FROM d GROUP BY 1, 2, 3),
       |cn AS (SELECT doc_id, chunk_index, sum(cnt * cnt) AS ss FROM cd GROUP BY 1, 2),
       |q AS (SELECT cd.doc_id, cd.dim,
       |       CAST(ROUND(cd.cnt * 1000000.0 / sqrt(CAST(cn.ss AS DOUBLE))) AS BIGINT) AS v
       |      FROM cd JOIN cn ON cd.doc_id = cn.doc_id AND cd.chunk_index = cn.chunk_index),
       |s AS (SELECT doc_id, dim, sum(v) AS sv FROM q GROUP BY 1, 2),
       |n AS (SELECT doc_id, sum(sv * sv) AS ss2 FROM s GROUP BY 1)
       |SELECT s.doc_id, s.dim, ROUND(CAST(sv AS DOUBLE) / sqrt(CAST(ss2 AS DOUBLE)), 5) AS v
       |FROM s JOIN n ON s.doc_id = n.doc_id""".stripMargin

  /** Every vector but query vector 0 — the single-query corpus. */
  private val notQuery = " WHERE vec_id <> 0"

  /** Query vector 0 as `q(qv)` — the query side of every single-query
    * vector twin.
    */
  private val queryCte: String =
    s"q AS (SELECT ${dvec("embedding")} AS qv FROM embeddings WHERE vec_id = 0)"

  /** A vector CTE `name(cols, vec)` over `embeddings`, the embedding as
    * doubles, rows kept by `where` — every vector twin's corpus side (by
    * default `c(vec_id, ev)`: every vector but query vector 0) and the
    * batch query side ([[batchQueries]]).
    */
  private def corpusCte(cols: String = "vec_id", where: String = notQuery,
                        name: String = "c", vec: String = "ev"): String =
    s"$name AS (SELECT $cols, ${dvec("embedding")} AS $vec FROM embeddings$where)"

  /** The 8-query batch of the batch probes: vectors 0 … 7. */
  private val batchQueries = " WHERE vec_id < 8"

  private val knnCte: String = s"$queryCte,\n${corpusCte("vec_id, label")}"

  /** Twin of Sq.quantize's static SQ8 codes over `src`'s `ev` (scale =
    * maxabs/127, code = floor(x/s + 0.5); pure element-wise IEEE
    * arithmetic, so codes are bit-identical across engines), as CTEs
    * `z` and `cd(…, cv)`. The positive scale cancels in the cosine, so
    * the approximate score uses the integer codes directly.
    */
  private def sqCtes(src: String): String =
    s"""z AS (SELECT *, list_max(list_transform(ev, x -> abs(x))) / 127.0 AS s FROM $src),
       |cd AS (SELECT *,
       |        CASE WHEN s > 0 THEN list_transform(ev, x -> CAST(floor(x / s + 0.5) AS DOUBLE))
       |             ELSE list_transform(ev, x -> 0.0) END AS cv FROM z)""".stripMargin

  /** The seeded rotation of Bq.probeRotated — a pure function of
    * (dim = 64, seed = 7), regenerated here and inlined as `rt(rm)`.
    */
  private lazy val rotationCte: String = {
    val rot = graft.operators.Bq.rotationMatrix(64, seed = 7L)
    s"rt AS (SELECT ${rot.map(r => "[" + r.map(dlit).mkString(", ") + "]").mkString("[", ",\n          ", "]")} AS rm)"
  }

  /** `v` rotated by [[rotationCte]]: each element one list_dot_product,
    * the same sequential accumulation as the MatVec codegen loop.
    */
  private def rotate(v: String): String =
    s"list_transform(generate_series(1, 64), i -> list_dot_product(rm[i], $v))"

  /** Twin of Ann.probeScan's shortlist tail over a family's `scan`
    * CTEs: the approximate `score` (named `name`, best first — ascending
    * for a distance) cut to `refine` candidates per query, then the
    * exact cosine re-rank to `k`. `from` is the scored relation joined
    * to its query: `q`'s one row for the single query (`ORDER BY …
    * LIMIT` heaps), a batch's per-query cells on cluster (`prn`/`rk`
    * windows). `cols` carries layout columns (cluster) on the single
    * path — a batch always carries cluster; `show` keeps the score in
    * the output.
    */
  private def shortlistSql(scan: String, from: String, score: String, name: String,
                           ascending: Boolean, refine: Int, k: Int, cols: String = "",
                           show: Boolean = true, batch: Boolean = false): String = {
    val order = s"$name${if (ascending) "" else " DESC"}, vec_id"
    val shown = if (show) s"$name, " else ""
    if (!batch)
      s"""WITH $scan,
         |refine AS (SELECT vec_id, ${cols}ev, $score AS $name
         |        FROM $from ORDER BY $order LIMIT $refine)
         |SELECT vec_id, $cols$shown${cosine("ev", "qv")} AS cos_sim
         |FROM refine, q ORDER BY cos_sim DESC, vec_id LIMIT $k""".stripMargin
    else
      s"""WITH $scan,
         |scored AS (SELECT query_id, vec_id, cluster, ev, qv, $score AS $name FROM $from),
         |refine AS (SELECT query_id, vec_id, cluster, ev, qv, $name FROM (
         |        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY $order) AS prn
         |        FROM scored) WHERE prn <= $refine),
         |k AS (SELECT query_id, vec_id, cluster, $shown${cosine("ev", "qv")} AS cos_sim FROM refine),
         |${rankedTopK("k", "query_id", s"vec_id, cluster, ${shown}cos_sim", "cos_sim DESC, vec_id", k)}""".stripMargin
  }

  // ── Dynamic twins: fitted-model artifacts inlined as literals ────────

  /** Double literal that DuckDB parses as DOUBLE (bare decimals parse as
    * DECIMAL and would change the arithmetic): exponent notation forces
    * the double type, and shortest-round-trip repr parses back to the
    * identical IEEE value (verified over random doubles).
    */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E')) s else s + "E0"
  }

  /** Explicit sequential squared-distance chain `(v[o+1]-c1)^2 + …` —
    * term-for-term twin of the NearestCentroid/PqEncode codegen loops
    * (same left-to-right accumulation, each term (a-b)*(a-b)).
    */
  private def distChain(vec: String, offset: Int, cent: Array[Double]): String =
    cent.zipWithIndex.map { case (cv, i) =>
      val e = s"$vec[${offset + i + 1}] - (${dlit(cv)})"
      s"($e) * ($e)"
    }.mkString(" + ")

  /** `CASE cluster WHEN j THEN [centroid j literal] … END` — the
    * per-row centroid pick of every residual twin.
    */
  private def centCase(cents: Array[Array[Double]]): String =
    "CASE cluster " + cents.zipWithIndex.map { case (c, j) =>
      s"WHEN $j THEN [${c.map(dlit).mkString(", ")}]"
    }.mkString(" ") + " END"

  /** Subspace `j`'s distance list from `vec` to every codeword, built
    * by a list_transform LAMBDA over the codebook literal instead of
    * one unrolled distChain per code (a ~16k-term SQL string at
    * codes=256). The inner chain is the same left-associated
    * accumulation as distChain / the Spark HOF fold, applied per
    * element in list order — bit-identical doubles, compact SQL.
    */
  private def distLambda(model: operators.Pq.Model, vec: String, j: Int): String = {
    val sub = model.dim / model.m
    val cb = model.codebooks(j).map(c => "[" + c.map(dlit).mkString(", ") + "]").mkString("[", ", ", "]")
    val terms = (0 until sub).map { i =>
      s"($vec[${j * sub + i + 1}] - c[${i + 1}])*($vec[${j * sub + i + 1}] - c[${i + 1}])"
    }.mkString(" + ")
    s"list_transform($cb, c -> $terms)"
  }

  /** PQ codes `k<j>` of `src`'s `ev` (per subspace, the first minimum of
    * the sequential distance chains to the codebook literals — twin of
    * Pq.encode), as CTEs `pdl` and `enc(cols, k0 …)`.
    */
  private def pqEncCtes(model: operators.Pq.Model, src: String, cols: String): String = {
    val sub = model.dim / model.m
    val dlCols = (0 until model.m).map { j =>
      s"[${model.codebooks(j).map(c => distChain("ev", j * sub, c)).mkString(", ")}] AS dl$j"
    }.mkString(",\n        ")
    val codeCols = (0 until model.m).map(j => s"list_indexof(dl$j, list_min(dl$j)) - 1 AS k$j").mkString(", ")
    s"""pdl AS (SELECT $cols, $dlCols FROM $src),
       |enc AS (SELECT $cols, $codeCols FROM pdl)""".stripMargin
  }

  /** The ADC sum over codes `k<j>`: subspace j's query distance list
    * (`dists(j)`) indexed by the row's code.
    */
  private def adcSum(m: Int, dists: Int => String): String =
    (0 until m).map(j => s"${dists(j)}[k$j + 1]").mkString(" + ")

  /** The residual-PQ leg over `asg(vec_id, ev, nv, cluster)`: the
    * query's residual `qrv` = qnv − centroid[cluster] per probed cell of
    * `qc` (`key` = its query id, if any) in `qr`, the corpus residual
    * `rv` = nv − centroid[its cell] in `ct`/`rs`, its codes `k<j>` in
    * `enc`; and the ADC sum of qrv's distance lists indexed by those
    * codes. Same left-to-right accumulation as the Spark
    * CentroidResidual + HOF-fold chain, so the doubles match bit for bit
    * and the candidate cut falls identically.
    */
  private def residualPq(model: operators.Pq.Model, cents: Array[Array[Double]], key: String): (String, String) = {
    val dim = cents.head.length
    val encCols = (0 until model.m).map { j =>
      s"list_indexof(${distLambda(model, "rv", j)}, list_min(${distLambda(model, "rv", j)})) - 1 AS k$j"
    }.mkString(",\n        ")
    (s"""qr AS (SELECT ${key}qv, cluster,
        |        list_transform(generate_series(1, $dim), i -> qnv[i] - (${centCase(cents)})[i]) AS qrv FROM qc),
        |${residualCtes(cents)},
        |enc AS (SELECT vec_id, ev, cluster,
        |        $encCols FROM rs)""".stripMargin,
      adcSum(model.m, j => distLambda(model, "qrv", j)))
  }

  /** Each assigned row's centroid `cent` and residual `rv` = nv − cent,
    * as CTEs `ct` and `rs(vec_id, ev, cluster, cent, rv)` over `asg`.
    */
  private def residualCtes(cents: Array[Array[Double]]): String =
    s"""ct AS (SELECT vec_id, ev, nv, cluster, ${centCase(cents)} AS cent FROM asg),
       |rs AS (SELECT vec_id, ev, cluster, cent,
       |        list_transform(generate_series(1, ${cents.head.length}), i -> nv[i] - cent[i]) AS rv FROM ct)""".stripMargin

  /** Per-QUERY cell ranking of the 8-query batch in SQL, as CTEs `q`,
    * `qn`, `qd`, `qc0` and `qc(query_id, qv, [qnv,] cluster)`: a
    * parallel unnest zips cluster ids with the inlined distance list
    * from the normalized query `qnv`, and row_number keeps each query's
    * 3 nearest cells (ties to the lower id — Ann.queryCellsLocal's
    * order). `carryNv` keeps `qnv` for a residual leg.
    */
  private def batchCellCtes(cents: Array[Array[Double]], carryNv: Boolean = false): String = {
    val c = if (carryNv) "qnv, " else ""
    val qDists = cents.map(x => distChain("qnv", 0, x)).mkString(", ")
    s"""${corpusCte("vec_id AS query_id", batchQueries, "q", "qv")},
       |qn AS (SELECT query_id, qv, list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS qnv FROM q),
       |qd AS (SELECT query_id, qv, $c[$qDists] AS dl FROM qn),
       |qc0 AS (SELECT query_id, qv, ${c}unnest(generate_series(0, ${cents.length - 1})) AS cluster, unnest(dl) AS d FROM qd),
       |qc AS (SELECT query_id, qv, ${c}cluster FROM (
       |        SELECT query_id, qv, ${c}cluster, row_number() OVER (PARTITION BY query_id ORDER BY d, cluster) AS rn
       |        FROM qc0) WHERE rn <= 3)""".stripMargin
  }

  /** IVF assignment over `embeddings` (restricted by `where`) with the
    * fitted unit-sphere centroids inlined, as CTEs `c`, `nrm`, `dst`
    * and `asg(vec_id, [label,] ev, [nv,] cluster)`. Twin of Ann.assign:
    * normalize, per-centroid sequential squared distance, first-minimum
    * tie-break (list_indexof finds the first occurrence of the minimum,
    * matching the strict-< codegen loop). `cells` keeps only the probed
    * cells; `label` carries the label for a prefilter, `carryNv` the
    * normalized vector for a residual leg.
    */
  private def asgCtes(cents: Array[Array[Double]], where: String = "", cells: Seq[Int] = Nil,
                      label: Boolean = false, carryNv: Boolean = false): String = {
    val l = if (label) "label, " else ""
    val c = if (carryNv) "nv, " else ""
    val dists = cents.map(x => distChain("nv", 0, x)).mkString(", ")
    val cut =
      if (cells.isEmpty) ""
      else s"\n        WHERE (list_indexof(dl, list_min(dl)) - 1) IN (${cells.mkString(", ")})"
    s"""${corpusCte(if (label) "vec_id, label" else "vec_id", where)},
       |nrm AS (SELECT vec_id, ${l}ev, list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev))) AS nv FROM c),
       |dst AS (SELECT vec_id, ${l}ev, $c[$dists] AS dl FROM nrm),
       |asg AS (SELECT vec_id, ${l}ev, ${c}CAST(list_indexof(dl, list_min(dl)) - 1 AS BIGINT) AS cluster FROM dst$cut)""".stripMargin
  }

  /** HIERARCHICAL assignment replayed from a fitted two-level hierarchy
    * over `embeddings` (restricted by `where`), as CTEs `c`, `nrm`,
    * `sup`, `sub` and `asg(vec_id, ev, nv, cluster)`: nearest super-cell
    * (first minimum over the super distance list), then the nearest
    * sub-cell WITHIN that super (CASE over supers, each with its own sub
    * distance list), flat id = offset[super] + sub index. Same
    * normalize / sequential squared distance / strict-< first minimum
    * as every assignment twin and as the NearestCentroidTwoLevel loop.
    */
  private def twoLevelAsgCtes(two: operators.Ann.TwoLevel, where: String): String = {
    val supDists = two.superCents.map(c => distChain("nv", 0, c)).mkString(", ")
    val subCase = "CASE tsup " + two.subCents.zipWithIndex.map { case (subs, sp) =>
      s"WHEN $sp THEN [${subs.map(c => distChain("nv", 0, c)).mkString(", ")}]"
    }.mkString(" ") + " END"
    val offCase = "CASE tsup " + two.offsets.zipWithIndex.map { case (o, sp) => s"WHEN $sp THEN $o" }.mkString(" ") + " END"
    s"""${corpusCte(where = where)},
       |nrm AS (SELECT vec_id, ev, list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev))) AS nv FROM c),
       |sup AS (SELECT vec_id, ev, nv,
       |        CAST(list_indexof([$supDists], list_min([$supDists])) - 1 AS BIGINT) AS tsup FROM nrm),
       |sub AS (SELECT vec_id, ev, nv, tsup, $subCase AS sdl FROM sup),
       |asg AS (SELECT vec_id, ev, nv,
       |        CAST(($offCase) + list_indexof(sdl, list_min(sdl)) - 1 AS BIGINT) AS cluster FROM sub)""".stripMargin
  }

  /** Twin builder for the two-level + residual-PQ batch probe chain —
    * shared by the flagship `ann_two_level_pqr` (corpus = all
    * embeddings) and the lifecycle pair `ann_two_level_live` /
    * `ann_two_level_compacted` (corpus excludes the tombstoned ids via
    * `corpusWhere`; hierarchy + model fitted on the base subset arrive
    * through the artifacts, so one builder replays every scenario).
    * The QUERY side ranks cells FLAT over the concatenated codebook
    * (what Ann.queryCellsLocal does) and residual-shifts per probed
    * cell; the CORPUS side assigns HIERARCHICALLY ([[twoLevelAsgCtes]]),
    * residual-encodes against the flat codebook entry of its cell
    * (lambda-built distance lists at codes=256), and ADC-ranks.
    */
  private def twoLevelPqrTwinSql(two: operators.Ann.TwoLevel, model: operators.Pq.Model,
                                 corpusWhere: String): String = {
    val (resCtes, adc) = residualPq(model, two.flat, "query_id, ")
    shortlistSql(s"${batchCellCtes(two.flat, carryNv = true)},\n${twoLevelAsgCtes(two, corpusWhere)},\n$resCtes",
      "enc JOIN qr USING (cluster)", adc, "adc", ascending = true, refine = 5 * 10, k = 5,
      show = false, batch = true)
  }

  /** The single-query IVF probe twin over [[asgCtes]]: the probed
    * cells' rows ranked by cosine to query vector 0, top 10. `where` is
    * an extra corpus predicate; `labeled` keeps `label IN (2, 5)` — both
    * apply before the LIMIT (prefilter semantics; a postfilter twin
    * would return fewer rows).
    */
  private def singleProbeSql(cents: Array[Array[Double]], cells: Seq[Int], where: String = "",
                             labeled: Boolean = false): String = {
    val (lblCol, lblWhere) = if (labeled) ("label, ", " WHERE label IN (2, 5)") else ("", "")
    s"""WITH $queryCte,
       |${asgCtes(cents, where, cells, label = labeled)}
       |SELECT vec_id, cluster, $lblCol${cosine("ev", "qv")} AS cos_sim
       |FROM asg, q$lblWhere
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Twins generated from fitted-model constants captured at query run
    * time ([[OracleArtifacts]]). KMeans is seed-fixed and PQ training is
    * deterministic, so after the query executes its centroids/codebooks
    * are driver-side constants — the same pattern that made the LSH
    * family hash-verifiable (md5-derived planes inlined on both sides).
    */
  def dynamic: Map[String, String] = {
    val retrievalEntries = OracleArtifacts.retrievalEval.toSeq.map { qs =>
      "retrieval_eval" -> {
        val qids = qs.map(q => s"(CAST(${q._1} AS BIGINT))").mkString(", ")
        s"""WITH res AS (${bm25BatchSelect(qs, 10)}),
           |qids(query_id) AS (SELECT * FROM (VALUES $qids)),
           |sr AS (SELECT query_id, min(rk) AS _sr FROM res
           |       WHERE doc_id = query_id % 100 GROUP BY 1)
           |SELECT q.query_id,
           |       CASE WHEN q.query_id < 100 THEN 'self' ELSE 'para' END AS variant,
           |       CAST(COALESCE(_sr, 0) AS BIGINT) AS self_rank,
           |       COALESCE(ROUND(1.0 / _sr, 4), 0.0) AS rr
           |FROM qids q LEFT JOIN sr USING (query_id) ORDER BY q.query_id""".stripMargin
      }
    }
    val retrievalClusterEntries = OracleArtifacts.retrievalEvalClusters.toSeq.map { qs =>
      // Twin of Queries.retrievalEvalClusters: the batch-BM25 scoring
      // chain over the PLANTED near-dup corpus (the dedup family's own
      // corpus CTE), the held-out source excluded BEFORE ranking, and
      // MRR/recall@10 recomputed from the derived (query, relevant)
      // sets replayed as VALUES literals.
      "retrieval_eval_clusters" -> {
        val relValues = qs
          .flatMap { case (q, _, rs) => rs.map(r => s"(CAST($q AS BIGINT), CAST($r AS BIGINT))") }
          .mkString(", ")
        val nrelValues = qs
          .map { case (q, _, rs) => s"(CAST($q AS BIGINT), CAST(${rs.size} AS BIGINT))" }
          .mkString(", ")
        s"""WITH $nearDupCorpus,
           |${bm25Chain("corpus", batchTerms(qs.map(q => (q._1, q._2))), rounded = true)},
           |ranked AS (SELECT query_id, doc_id, bm25,
           |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk2
           |           FROM sc WHERE doc_id <> query_id),
           |top AS (SELECT * FROM ranked WHERE rk2 <= 10),
           |qrel(query_id, doc_id) AS (SELECT * FROM (VALUES $relValues)),
           |nrel(query_id, n_rel) AS (SELECT * FROM (VALUES $nrelValues)),
           |per AS (SELECT t.query_id,
           |         min(CASE WHEN qr.doc_id IS NOT NULL THEN t.rk2 END) AS hr,
           |         sum(CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
           |        FROM top t LEFT JOIN qrel qr
           |          ON t.query_id = qr.query_id AND t.doc_id = qr.doc_id
           |        GROUP BY t.query_id)
           |SELECT n.query_id, n.n_rel,
           |       CAST(COALESCE(hr, 0) AS BIGINT) AS hit_rank,
           |       COALESCE(ROUND(1.0 / hr, 4), 0.0) AS rr,
           |       ROUND(CAST(COALESCE(hits, 0) AS DOUBLE) / n.n_rel, 4) AS recall_at_10
           |FROM nrel n LEFT JOIN per ON n.query_id = per.query_id
           |ORDER BY n.query_id""".stripMargin
      }
    }
    // every twin of the full-corpus IVF fit reads its one holder:
    // centroids + query vector 0's 5 ranked cells (the single-query
    // keys probe the first 3; the batch twins rank cells in SQL)
    val ivf = OracleArtifacts.ivf.toSeq
    val ivfSingleEntries = ivf.flatMap { case (cents, ranked) =>
      val cells = ranked.take(3)
      val ctes = s"$queryCte,\n${asgCtes(cents)}"
      val inCells = cells.mkString(", ")
      // the shortlist legs probe every vector but the query itself
      val probed = s"$queryCte,\n${asgCtes(cents, notQuery, cells)}"
      def probeShortlist(scan: String, from: String, score: String, name: String, ascending: Boolean) =
        shortlistSql(scan, from, score, name, ascending, refine = 40, k = 10, cols = "cluster, ")
      // The centroid-assignment expression is enormous (10 centroids ×
      // 64-dim distance chains) — MATERIALIZE it once and rank probed
      // cells by their position m in the ranked cell list, so each
      // nProbe=n leg is a cheap `m <= n` filter over the same rows
      // (CTE inlining would otherwise replicate the giant expression
      // per leg and blow the planner's memory).
      val mCase = ranked.zipWithIndex
        .map { case (cell, i) => s"WHEN $cell THEN ${i + 1}" }
        .mkString("CASE cluster ", " ", " ELSE NULL END")
      val probeLegs = (1 to 5).map { n =>
        s"SELECT $n AS n_probe, vec_id FROM sc WHERE m <= $n ORDER BY cs DESC, vec_id LIMIT 10"
      }.map(l => s"($l)").mkString(" UNION ALL ")
      // ann_deleted and ann_compacted rank the same live corpus:
      // compaction rewrites the layout, it must not move a ranked row
      val live = singleProbeSql(cents, cells, " WHERE vec_id % 10 <> 3")
      Seq(
        "ann_recall_sweep" ->
          s"""WITH $ctes,
             |sc AS MATERIALIZED (SELECT vec_id, $mCase AS m, ${cosine("ev", "qv")} AS cs FROM asg, q),
             |ex AS MATERIALIZED (SELECT vec_id FROM c, q ORDER BY ${cosine("ev", "qv")} DESC, vec_id LIMIT 10),
             |probes AS ($probeLegs),
             |hits AS (SELECT n_probe, count(*) AS h FROM probes JOIN ex USING (vec_id) GROUP BY 1)
             |SELECT CAST(10 AS BIGINT) AS top_k, CAST(n.n AS BIGINT) AS n_probe,
             |       ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / 10.0, 4) AS recall
             |FROM (SELECT unnest([1, 2, 3, 4, 5]) AS n) n
             |LEFT JOIN hits ON hits.n_probe = n.n ORDER BY n_probe""".stripMargin,
        "ann_probe" -> singleProbeSql(cents, cells),
        "ann_deleted" -> live,
        "ann_compacted" -> live,
        "ann_filtered" -> singleProbeSql(cents, cells, labeled = true),
        "ann_stats" ->
          // Twin of Ann.stats: cell population re-derived from raw
          // embeddings + fitted centroid literals.
          s"""WITH $ctes,
             |cc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS c FROM asg GROUP BY cluster),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_used, CAST(sum(c) AS BIGINT) AS nv,
             |             CAST(min(c) AS BIGINT) AS mn, CAST(max(c) AS BIGINT) AS mx FROM cc)
             |SELECT CAST(${cents.length} AS BIGINT) AS nlist, nv AS n_vectors,
             |       CAST(${cents.length} - n_used AS BIGINT) AS n_empty,
             |       mn AS min_cluster, mx AS max_cluster,
             |       ROUND(CAST(nv AS DOUBLE) / ${cents.length}, 5) AS avg_cluster,
             |       ROUND(CAST(mx AS DOUBLE) / (CAST(nv AS DOUBLE) / ${cents.length}), 5) AS balance
             |FROM t""".stripMargin,
        "hybrid_indexed" ->
          // Both serving indexes fused: BM25 replayed from raw docs (the
          // postings layout is a pure function of the corpus — proven
          // separately by bm25_indexed), IVF probe from the centroid
          // literals, RRF identical to hybrid_rrf's twin.
          rrfSql(ctes, s"SELECT vec_id AS doc_id, ${cosine("ev", "qv")} AS cos_sim\n         FROM asg, q WHERE cluster IN ($inCells)"),
        "ann_recall" ->
          s"""WITH $ctes,
             |probe AS (SELECT vec_id FROM asg, q WHERE cluster IN ($inCells)
             |          ORDER BY ${cosine("ev", "qv")} DESC, vec_id LIMIT 10),
             |ex AS (SELECT vec_id FROM c, q ORDER BY ${cosine("ev", "qv")} DESC, vec_id LIMIT 10)
             |SELECT CAST(10 AS BIGINT) AS top_k, CAST(${cells.size} AS BIGINT) AS n_probe,
             |       ROUND(CAST((SELECT count(*) FROM ex JOIN probe USING (vec_id)) AS DOUBLE) / 10.0, 4) AS recall""".stripMargin,
        // Twins of Queries.ivfsqProbe / ivfbqProbe / ivfmrlProbe: the IVF
        // assignment (fitted-centroid literals) filters to the probed
        // cells, then each family's leg as its flat twin (sq_probe,
        // bq_probe, matryoshka_probe) — approx prune to 40, exact re-rank.
        "ivfsq_probe" ->
          probeShortlist(s"$probed,\n${sqCtes("asg")}", "cd, q", cosine("cv", "qv"), "approx_sim", ascending = false),
        "ivfbq_probe" -> probeShortlist(probed, "asg, q", hamming("ev", "qv"), "hamming", ascending = true),
        "ivfmrl_probe" ->
          probeShortlist(probed, "asg, q", cosine("ev[1:16]", "qv[1:16]"), "approx_sim", ascending = false),
        "ivfsq_residual" -> {
          // Twin of Queries.ivfsqResidual: IVF assignment (centroid
          // literals) → per-row centroid pick (CASE over cluster) →
          // residual = nv − centroid → static SQ8 arithmetic over the
          // residual → reconstruct centroid + code·scale → cosine prune →
          // exact re-rank. A zero residual (s = 0) reconstructs to the
          // centroid itself, matching Spark's zero-codes branch.
          val dim = cents.head.length
          probeShortlist(
            s"""$queryCte,
               |${asgCtes(cents, notQuery, cells, carryNv = true)},
               |${residualCtes(cents)},
               |z AS (SELECT *, list_max(list_transform(rv, x -> abs(x))) / 127.0 AS s FROM rs),
               |rc AS (SELECT vec_id, ev, cluster,
               |        CASE WHEN s > 0
               |          THEN list_transform(generate_series(1, $dim), i -> cent[i] + CAST(floor(rv[i] / s + 0.5) AS DOUBLE) * s)
               |          ELSE cent END AS recon FROM z)""".stripMargin,
            "rc, q", cosine("recon", "qv"), "approx_sim", ascending = false)
        },
        "cluster_topics" ->
          // Twin of Queries.clusterTopics: fitted-centroid assignment over
          // embeddings (same CTE chain as ann_probe), doc join by id, token
          // counts, per-cluster top-5 window with (cnt DESC, term) order.
          s"""WITH $ctes,
             |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs FROM asg GROUP BY 1),
             |tok AS (SELECT d.doc_id, a.cluster, unnest(${toks("d.text")}) AS term
             |        FROM documents d JOIN asg a ON d.doc_id = a.vec_id),
             |tc AS (SELECT cluster, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
             |rk AS (SELECT cluster, term, cnt,
             |       CAST(row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, term) AS BIGINT) AS rank
             |       FROM tc)
             |SELECT rk.cluster, sz.n_docs, rk.rank, rk.term, rk.cnt
             |FROM rk JOIN sz ON rk.cluster = sz.cluster
             |WHERE rk.rank <= 5 ORDER BY rk.cluster, rk.rank""".stripMargin)
    }
    // The batch twins rank each query's cells in SQL (batchCellCtes),
    // assign the corpus (asgCtes) and join on cluster — the twin of the
    // batch Ann.probe end to end, composed with each family's leg.
    val ivfBatchEntries = ivf.flatMap { case (cents, _) =>
      val cellsAsg = s"${batchCellCtes(cents)},\n${asgCtes(cents)}"
      def batchShortlist(scan: String, from: String, score: String, name: String, ascending: Boolean) =
        shortlistSql(scan, from, score, name, ascending, refine = 20, k = 5, batch = true)
      def batchProbe(label: Boolean): String = {
        val (l, pred) = if (label) ("label, ", " WHERE label IN (2, 5)") else ("", "")
        s"""WITH ${batchCellCtes(cents)},
           |${asgCtes(cents, label = label)},
           |sc AS (SELECT qc.query_id, asg.vec_id, asg.cluster, $l${cosine("ev", "qv")} AS cos_sim
           |       FROM asg JOIN qc USING (cluster)$pred),
           |${rankedTopK("sc", "query_id", s"vec_id, cluster, ${l}cos_sim", "cos_sim DESC, vec_id", 5)}""".stripMargin
      }
      val batchSql = batchProbe(label = false)
      Seq(
        // the persisted-layout probe is the same computation served from
        // disk — one twin, two keys
        "ann_batch_probe" -> batchSql,
        "ann_batch_persisted" -> batchSql,
        // ann_filtered's metadata predicate applied BEFORE the per-query
        // ranking window — prefilter semantics per query (a postfilter
        // twin would return fewer than k rows per query).
        "ann_batch_filtered" -> batchProbe(label = true),
        // the static SQ8 arithmetic (as ivfsq_probe) — approximate cosine
        // on the int codes, per-query refine prune to 20, exact re-rank to 5
        "ann_batch_sq" ->
          batchShortlist(s"$cellsAsg,\n${sqCtes("asg")}", "cd JOIN qc USING (cluster)", cosine("cv", "qv"),
            "approx_sim", ascending = false),
        // the MRL prefix leg (as ivfmrl_probe): the stored prefix is exact
        // leading floats, so approx_sim is a plain [1:16] slice cosine
        "ann_batch_mrl" ->
          batchShortlist(cellsAsg, "asg JOIN qc USING (cluster)", cosine("ev[1:16]", "qv[1:16]"),
            "approx_sim", ascending = false),
        // bq_rotated's rotated-sign hamming, per-query hamming prune to
        // 20, exact re-rank on the ORIGINAL vectors to 5
        "ann_batch_bq_rotated" ->
          batchShortlist(
            s"""$rotationCte,
               |$cellsAsg,
               |qr AS (SELECT query_id, qv, cluster, ${rotate("qv")} AS rq FROM qc, rt),
               |rot AS (SELECT vec_id, ev, cluster, ${rotate("ev")} AS re FROM asg, rt)""".stripMargin,
            "rot JOIN qr USING (cluster)", hamming("re", "rq"), "hamming", ascending = true))
    }
    val annIncrEntries = OracleArtifacts.annIncremental.toSeq.flatMap { case (cents, cells) =>
      val sql = singleProbeSql(cents, cells)
      // the stream-fed append is the same scenario landed by
      // micro-batches — one twin, two keys (like ann_batch_persisted)
      Seq("ann_incremental" -> sql, "stream_ann" -> sql)
    }
    val pqEntries = OracleArtifacts.pq.toSeq.flatMap { case (model, table) =>
      val sub = model.dim / model.m
      // the single query's ADC: Pq's driver-side distance table literal,
      // indexed by the row's codes; exact cosine re-rank of the top 100
      def singlePq(scan: String) = shortlistSql(scan, "enc",
        adcSum(model.m, j => "[" + table(j).map(dlit).mkString(", ") + "]"), "adc",
        ascending = true, refine = 100, k = 10, show = false)
      ("pq_probe" -> singlePq(s"$queryCte,\n${corpusCte()},\n${pqEncCtes(model, "c", "vec_id, ev")}")) +:
        ivf.flatMap { case (cents, ranked) =>
        Seq(
          // Composition of the two fitted-constant twins: IVF assignment
          // filters to the probed cells, then the PQ ADC chain ranks and
          // the exact cosine re-ranks.
          "ivfpq_probe" ->
            singlePq(s"$queryCte,\n${asgCtes(cents, notQuery, ranked.take(3))},\n${pqEncCtes(model, "asg", "vec_id, ev")}"),
          // the batch cell chain + the PQ encode chain + the batch ADC —
          // each query's distance table is the list of distChains from
          // ITS subvectors to the codebook literals, indexed by the corpus
          // row's code. Same left-to-right term order as the Spark codegen
          // chain, so the doubles match bit for bit and the candidate cut
          // falls identically.
          "ann_batch_pq" ->
            shortlistSql(s"${batchCellCtes(cents)},\n${asgCtes(cents)},\n${pqEncCtes(model, "asg", "vec_id, ev, cluster")}",
              "enc JOIN qc USING (cluster)",
              adcSum(model.m, j => "[" + model.codebooks(j).map(c => distChain("qv", j * sub, c)).mkString(", ") + "]"),
              "adc", ascending = true, refine = 5 * 10, k = 5, show = false, batch = true))
      }
    }
    // The residual twins: both residual-PQ legs from [[residualPq]] over
    // the codebook literals.
    val pqResEntries = for {
      model <- OracleArtifacts.pqResidual.toSeq
      (cents, ranked) <- ivf
      entry <- {
        val cells = ranked.take(3)
        val (single, adc) = residualPq(model, cents, "")
        Seq(
          // the 8×256 production point as the |Q| = 1 batch: IVF
          // assignment filtered to the probed cells → residual encode →
          // join the query's per-cell residual on cluster → ADC candidate
          // cut → exact cosine re-rank.
          "ivfpq_residual" -> shortlistSql(
            s"""$queryCte,
               |qn AS (SELECT qv, list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS qnv FROM q),
               |qc AS (SELECT qv, qnv, unnest([${cells.mkString(", ")}]) AS cluster FROM qn),
               |${asgCtes(cents, notQuery, cells, carryNv = true)},
               |$single""".stripMargin,
            "enc JOIN qr USING (cluster)", adc, "adc", ascending = true, refine = 100, k = 10, show = false),
          // the batch cell chain + ivfpq_residual's corpus-side residual
          // encode, with the per-(query, cell) residual ADC derived in SQL.
          "ann_batch_pqr" -> shortlistSql(
            s"${batchCellCtes(cents, carryNv = true)},\n${asgCtes(cents, carryNv = true)},\n" +
              residualPq(model, cents, "query_id, ")._1,
            "enc JOIN qr USING (cluster)", adc, "adc", ascending = true, refine = 5 * 10, k = 5,
            show = false, batch = true))
      }
    } yield entry
    val annTwoLevelEntries = OracleArtifacts.annTwoLevel.toSeq.map { case (two, cells) =>
      // Twin of Queries.annTwoLevel: the HIERARCHICAL assignment replayed
      // from the fitted hierarchy ([[twoLevelAsgCtes]]), filtered to the
      // driver-ranked flat cells, ranked by cosine.
      "ann_two_level" ->
        s"""WITH $queryCte,
           |${twoLevelAsgCtes(two, "")}
           |SELECT vec_id, cluster, ${cosine("ev", "qv")} AS cos_sim FROM asg, q
           |WHERE cluster IN (${cells.mkString(", ")})
           |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    }
    val annTwoLevelPqrEntries = OracleArtifacts.annTwoLevelPqr.toSeq.map { case (two, model) =>
      // Twin of Queries.annTwoLevelPqr — the flagship composition over
      // the full corpus (see [[twoLevelPqrTwinSql]]).
      "ann_two_level_pqr" -> twoLevelPqrTwinSql(two, model, "")
    }
    val twoLevelBaseEntries = OracleArtifacts.twoLevelBase.toSeq.flatMap { case (two, model) =>
      // The flagship LIFECYCLE pair shares ONE twin: hierarchy + model
      // are the base-subset fits, appended rows route through the same
      // hierarchical assignment as a from-scratch write, and the
      // tombstoned ids are excluded from the corpus — which is exactly
      // what both the merge-on-read live probe and the compacted
      // rewrite must serve. stream_ann_2l: base + streamed delta = the
      // FULL corpus under the same fits, no deletes.
      val live = twoLevelPqrTwinSql(two, model, " WHERE vec_id % 10 <> 3")
      Seq("ann_two_level_live" -> live, "ann_two_level_compacted" -> live,
        "stream_ann_2l" -> twoLevelPqrTwinSql(two, model, ""))
    }
    val pcaEntries = OracleArtifacts.pca.toSeq.map { comps =>
      // Twin of Queries.pcaProbe: fitted components inlined; projection
      // = list_dot_product against each component list (same element
      // order as the Spark-side sequential fold), reduced-space cosine
      // prune to 40, exact full-dim re-rank.
      def proj(vec: String): String =
        "[" + comps.map(c => s"list_dot_product($vec, [${c.map(dlit).mkString(", ")}])").mkString(", ") + "]"
      "pca_probe" -> shortlistSql(
        s"""$queryCte,
           |${corpusCte()},
           |qp AS (SELECT ${proj("qv")} AS qpv FROM q),
           |cp AS (SELECT vec_id, ev, ${proj("ev")} AS pv FROM c)""".stripMargin,
        "cp, qp", cosine("pv", "qpv"), "approx_sim", ascending = false, refine = 100, k = 10)
    }
    val streamEntries = OracleArtifacts.streamPipeline.toSeq.map { case (cents, cells) =>
      // Twin of Queries.streamPipeline: the stream-landed index equals
      // assigning the corpus's dense hashed-BoW embeddings to the fitted
      // centroids (literals), so the probe replays as: dense-vector
      // construction in dim order (grid left-join — exact twin of
      // Featurize.hashedBow's 0..63 map lookup), L2 normalize, the
      // NearestCentroid distance chain, cell filter, cosine top-k.
      val distList = cents.map(c => distChain("nv", 0, c)).mkString(", ")
      "stream_pipeline" ->
        s"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
           |tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
           |dd AS (SELECT doc_id, ${bowDim("term")} AS dim, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY 1, 2),
           |ids AS (SELECT DISTINCT doc_id FROM documents),
           |grid AS (SELECT ids.doc_id, dims.dim FROM ids CROSS JOIN dims),
           |raw AS (SELECT g.doc_id, list(coalesce(dd.cnt, 0.0e0) ORDER BY g.dim) AS rv
           |        FROM grid g LEFT JOIN dd ON g.doc_id = dd.doc_id AND g.dim = dd.dim
           |        GROUP BY g.doc_id),
           |emb AS (SELECT doc_id, list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv))) AS ev FROM raw),
           |qtok AS (SELECT unnest(${toks("'spark filter join stream'")}) AS term),
           |qdd AS (SELECT ${bowDim("term")} AS dim, CAST(count(*) AS DOUBLE) AS cnt FROM qtok GROUP BY 1),
           |qraw AS (SELECT list(coalesce(qdd.cnt, 0.0e0) ORDER BY dims.dim) AS rv
           |         FROM dims LEFT JOIN qdd ON dims.dim = qdd.dim),
           |q AS (SELECT list_transform(rv, x -> x / sqrt(list_dot_product(rv, rv))) AS qv FROM qraw),
           |nrm AS (SELECT doc_id, ev, list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev))) AS nv FROM emb),
           |dst AS (SELECT doc_id, ev, [$distList] AS dl FROM nrm),
           |asg AS (SELECT doc_id, ev, CAST(list_indexof(dl, list_min(dl)) - 1 AS BIGINT) AS cluster FROM dst)
           |SELECT doc_id, cluster, ${cosine("ev", "qv")} AS cos_sim
           |FROM asg, q WHERE cluster IN (${cells.mkString(", ")})
           |ORDER BY cos_sim DESC, doc_id LIMIT 10""".stripMargin
    }
    val semdedupEntries = OracleArtifacts.semdedup.toSeq.map { cents =>
      // Twin of Queries.semDeDup: planted-near-dup corpus, fitted
      // centroid assignment (same distance-chain/first-min tie-break as
      // the ANN twins), rounded centroid cosine from a VALUES join, and
      // the keep-lowest-centroid-sim EXISTS rule replayed verbatim.
      val distList = cents.map(c => distChain("nv", 0, c)).mkString(", ")
      val centRows = cents.zipWithIndex.map { case (c, i) =>
        s"(CAST($i AS BIGINT), [${c.map(dlit).mkString(", ")}])"
      }.mkString(",\n        ")
      "semdedup" ->
        s"""WITH ${embNearDupCorpus(label = false)},
           |nrm AS (SELECT vec_id, emb AS ev, list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb))) AS nv FROM corpus),
           |dst AS (SELECT vec_id, ev, [$distList] AS dl FROM nrm),
           |asg AS (SELECT vec_id, ev, CAST(list_indexof(dl, list_min(dl)) - 1 AS BIGINT) AS cluster FROM dst),
           |cent AS (SELECT * FROM (VALUES $centRows) t(cluster, cv)),
           |cs AS (SELECT vec_id, ev, asg.cluster, ${cosine("ev", "cv")} AS centroid_sim
           |       FROM asg JOIN cent ON asg.cluster = cent.cluster),
           |rm AS (SELECT DISTINCT a.vec_id
           |       FROM cs a JOIN cs b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
           |       WHERE ${cosine("a.ev", "b.ev")} >= 0.95
           |         AND (b.centroid_sim < a.centroid_sim
           |              OR (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
           |SELECT vec_id, cluster, centroid_sim,
           |       vec_id NOT IN (SELECT vec_id FROM rm) AS kept
           |FROM cs ORDER BY vec_id""".stripMargin
    }
    (retrievalEntries ++ retrievalClusterEntries ++ ivfSingleEntries ++ ivfBatchEntries ++ annIncrEntries ++
      pqEntries ++ pqResEntries ++ annTwoLevelEntries ++ annTwoLevelPqrEntries ++ twoLevelBaseEntries ++
      pcaEntries ++ streamEntries ++ semdedupEntries)
      .map { case (k, v) => k -> materializeCtes(v) }.toMap
  }

  /** Force every CTE in a fitted-constant twin to `AS MATERIALIZED`:
    * DuckDB's default CTE inlining re-evaluates the inlined projection
    * per downstream column REFERENCE, and these twins reference giant
    * inlined-literal expressions (64-dim × k-centroid distance chains)
    * dozens of times — measured 10-13× on the big ANN twins
    * (ivfsq_residual 22 s → 1.7 s at sf0.01) with bit-identical
    * results (materialization changes evaluation count, never
    * arithmetic). This is what keeps the external gate's whole-suite
    * DuckDB pass inside its time budget as the registry grows.
    * `\\w+ AS \\(` only ever prefixes a CTE definition in these twins
    * (CAST/ROUND/OVER never match), and already-materialized CTEs
    * (`AS MATERIALIZED (`) are left untouched.
    */
  private def materializeCtes(sql: String): String =
    sql.replaceAll("(\\w+) AS \\(", "$1 AS MATERIALIZED (")

  /** BM25 top 10 over the whole corpus — twin of Search.bm25TopK and of
    * every index that must score like it (see the keys sharing it).
    */
  private lazy val bm25TopKTwin: String =
    s"""WITH $bm25Cte
       |SELECT doc_id, ROUND(score, 5) AS bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** [[bm25TopKTwin]] over the LIVE corpus (every doc_id % 10 = 3
    * tombstoned).
    */
  private lazy val bm25LiveTwin: String =
    s"""WITH ${bm25Chain("documents WHERE doc_id % 10 <> 3")}
       |SELECT doc_id, ROUND(score, 5) AS bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** Twin of TextAnalysis.contamination: each corpus doc's (doc_id >= 10)
    * 3-shingles checked against the benchmark's ([[benchShingles]]).
    */
  private lazy val contaminationTwin: String =
    s"""WITH $benchShingles,
       |ct AS (SELECT doc_id, ${toks()} AS toks FROM documents WHERE doc_id >= 10),
       |cs AS (SELECT doc_id, unnest($shingleExpr) AS shm FROM ct)
       |SELECT cs.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(count(bs.shm) AS BIGINT) AS n_contaminated,
       |       ROUND(CAST(count(bs.shm) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS ratio
       |FROM cs LEFT JOIN bs ON cs.shm = bs.shm
       |GROUP BY cs.doc_id ORDER BY cs.doc_id""".stripMargin

  /** Twin of Lm.perplexity's per-doc scoring, as CTEs … → `s(doc_id,
    * n_tokens, ppl)`: the checked-in bigram LM is constants, inlined as
    * two VALUES tables (dlit keeps the precomputed log-probs DOUBLE —
    * score-time arithmetic is pure +/× on both sides, the rounded exp
    * absorbs sum-order ulps). Shared by perplexity_filter and mix_doremi.
    */
  private lazy val lmPplCtes: String = {
    val m = graft.operators.Lm.model
    val uniValues = m.uni.map { case (w, lp) => s"('$w', ${dlit(lp)})" }.mkString(", ")
    val biValues = m.bi.map { case (bg, lp) => s"('$bg', ${dlit(lp)})" }.mkString(", ")
    s"""t AS (SELECT doc_id, ${toks()} AS toks FROM documents),
       |p AS (SELECT doc_id, NULL AS bg, toks[1] AS w FROM t WHERE len(toks) >= 1
       |      UNION ALL
       |      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg, toks[i+1] AS w
       |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 2)),
       |uni AS (SELECT * FROM (VALUES $uniValues) AS u(w, ulp)),
       |bi AS (SELECT * FROM (VALUES $biValues) AS b(bg, blp)),
       |lp AS (SELECT p.doc_id,
       |        CASE WHEN p.bg IS NULL THEN COALESCE(uni.ulp, ${dlit(m.oovLp)})
       |             ELSE COALESCE(bi.blp, ${dlit(m.backoffLp)} + COALESCE(uni.ulp, ${dlit(m.oovLp)})) END AS lp
       |       FROM p LEFT JOIN uni ON p.w = uni.w LEFT JOIN bi ON p.bg = bi.bg),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       ROUND(exp(-sum(lp) / count(*)), 5) AS ppl
       |      FROM lp GROUP BY doc_id)""".stripMargin
  }

  /** The chunk store's replayed modification rules (upsert-wins for
    * %7==3) over the documents `where` keeps.
    */
  private def chunkstoreState(where: String): String =
    s"""SELECT doc_id,
       |       CASE WHEN doc_id % 7 = 3 THEN 'xx' ELSE lang END AS lang,
       |       md5(CASE WHEN doc_id % 7 = 3 THEN upper(text) ELSE text END) AS content_hash
       |FROM documents$where ORDER BY doc_id""".stripMargin

  /** Per-doc token counts `t` and their global running start offset `c`
    * — twin of Packing.packSequences' prefix sum.
    */
  private lazy val packCtes: String =
    s"""t AS (SELECT doc_id, CAST(len(${toks()}) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |       CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset
       |      FROM t)""".stripMargin

  /** Twin of Packing's token shards over `src`'s chunks (doc_id,
    * chunk_index, chunk_tokens) built by `ctes`: a per-doc running token
    * sum cut into 64-token shards.
    */
  private def shardSql(ctes: String, src: String): String =
    s"""WITH $ctes,
       |sh AS (SELECT doc_id, chunk_index, chunk_tokens,
       |        CAST(floor((sum(chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_index
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - chunk_tokens) / 64) AS BIGINT) AS shard_id
       |       FROM $src)
       |SELECT doc_id, shard_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(chunk_tokens) AS BIGINT) AS shard_tokens
       |FROM sh GROUP BY doc_id, shard_id ORDER BY doc_id, shard_id""".stripMargin

  /** Twin of Queries.eventsSessionize: per-user time order, a new session
    * after a gap over 30 minutes, as CTEs … → `s(user_id, event_id,
    * event_type, t, sid)`.
    */
  private val sessionCtes: String =
    """o AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS t FROM events),
      |l AS (SELECT user_id, event_id, event_type, t,
      |       lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt FROM o),
      |m AS (SELECT user_id, event_id, event_type, t,
      |       CASE WHEN pt IS NULL OR t - pt > 1800000 THEN 1 ELSE 0 END AS brk FROM l),
      |s AS (SELECT user_id, event_id, event_type, t,
      |       SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)""".stripMargin

  /** 1-based positions of the phrase "filter join" in `toks` — twin of
    * the phrase-position scan under phrase_search and Search.bm25PhraseTopK.
    */
  private val phrasePositions: String =
    "CASE WHEN len(toks) >= 2 THEN list_filter(generate_series(1, len(toks) - 1), " +
      "i -> toks[i] = 'filter' AND toks[i+1] = 'join') ELSE [] END"

  /** Twin of the JSONL/CSV source round-trips: recompute the decorated
    * corpus fingerprint straight from parquet — the Spark side must
    * survive its own write→read through the format codec to match.
    * DuckDB standard strings leave backslashes alone, so '\x' / '\n'
    * below are the same literal backslash sequences as the Scala
    * decoration (Queries.SourceDecoration).
    */
  private val SourceRoundTripTwin: String =
    """WITH t AS (SELECT source,
      |  text || ', "q" \x \n' || chr(10) || 'é 日本' AS text
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
      |  CAST(0 AS BIGINT) AS n_corrupt
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  val sql: Map[String, String] = Map(
    "scan_pruned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars > 300 AND lang = 'en' ORDER BY doc_id""".stripMargin,

    // Twin of the JSONL/CSV source round-trips: recompute the decorated
    // corpus fingerprint straight from parquet — the Spark side must
    // survive its own write→read through the format codec to match.
    // DuckDB standard strings leave backslashes alone, so '\u' / '\n'
    // below are the same literal backslash sequences as the Scala side.
    // Twin of TextAnalysis.charEntropy: 36 count-by-length-diff terms
    // over the [a-z0-9] restriction, entropy terms summed in the SAME
    // left-to-right alphabet order as the Spark reduce (float addition
    // is order-sensitive), round(4) absorbing the transcendental log2.
    "text_entropy" -> {
      val alphabet = ('a' to 'z') ++ ('0' to '9')
      val counts = alphabet
        .map(c => s"(n - length(replace(s, '$c', ''))) AS c_$c").mkString(",\n  ")
      val terms = alphabet
        .map(c => s"CASE WHEN c_$c > 0 THEN -(c_$c / n) * log2(c_$c / n) ELSE 0.0 END")
        .mkString(" + ")
      val gr = alphabet.map(c => s"c_$c").mkString(", ")
      s"""WITH src AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
         |  FROM documents),
         |n AS (SELECT doc_id, s, CAST(length(s) AS DOUBLE) AS n FROM src),
         |c AS (SELECT doc_id, n,
         |  $counts
         |  FROM n)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_alnum,
         |  CASE WHEN n > 0 THEN round($terms, 4) ELSE 0.0 END AS entropy,
         |  CASE WHEN n > 0 THEN round(greatest($gr) / n, 4) ELSE 0.0 END
         |    AS max_char_ratio
         |FROM c ORDER BY doc_id""".stripMargin
    },

    // ONE twin string, two keys — both formats must reproduce the same
    // decorated fingerprint (see SourceRoundTripTwin above the map).
    "jsonl_scan" -> SourceRoundTripTwin,
    "orc_scan" -> SourceRoundTripTwin,
    "avro_scan" -> SourceRoundTripTwin,
    "csv_scan" -> SourceRoundTripTwin,
    "xml_scan" -> SourceRoundTripTwin,

    "knn_topk" ->
      s"""WITH $knnCte
         |SELECT vec_id, label, ${cosine("ev", "qv")} AS cos_sim
         |FROM c, q ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "sq_probe" ->
      // Twin of Sq.probe (k=10, refine=40): the static SQ8 codes
      // ([[sqCtes]]) rank the candidates, exact cosine re-ranks them. No
      // fitted constants.
      shortlistSql(s"$queryCte,\n${corpusCte()},\n${sqCtes("c")}", "cd, q", cosine("cv", "qv"),
        "approx_sim", ascending = false, refine = 40, k = 10),

    "bq_recall_sweep" ->
      // Twin of Queries.bqRecallSweep: hamming + cosine materialized
      // once, each refine leg a cheap rn <= r filter (the
      // ann_recall_sweep MATERIALIZED pattern), recall vs the exact
      // top-10 of the same rounded-cosine convention.
      s"""WITH $queryCte,
         |${corpusCte()},
         |sc AS MATERIALIZED (SELECT vec_id, ${hamming("ev", "qv")} AS hamming,
         |       ${cosine("ev", "qv")} AS cs FROM c, q),
         |rk AS MATERIALIZED (SELECT vec_id, cs,
         |       row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM sc),
         |ex AS MATERIALIZED (SELECT vec_id FROM sc ORDER BY cs DESC, vec_id LIMIT 10),
         |probes AS (
         |  (SELECT 10 AS refine, vec_id FROM rk WHERE rn <= 10 ORDER BY cs DESC, vec_id LIMIT 10)
         |  UNION ALL
         |  (SELECT 20, vec_id FROM rk WHERE rn <= 20 ORDER BY cs DESC, vec_id LIMIT 10)
         |  UNION ALL
         |  (SELECT 40, vec_id FROM rk WHERE rn <= 40 ORDER BY cs DESC, vec_id LIMIT 10)
         |  UNION ALL
         |  (SELECT 80, vec_id FROM rk WHERE rn <= 80 ORDER BY cs DESC, vec_id LIMIT 10)),
         |hits AS (SELECT refine, count(*) AS h FROM probes JOIN ex USING (vec_id) GROUP BY 1)
         |SELECT CAST(10 AS BIGINT) AS top_k, CAST(r.r AS BIGINT) AS refine,
         |       ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / 10.0, 4) AS recall
         |FROM (SELECT unnest([10, 20, 40, 80]) AS r) r
         |LEFT JOIN hits ON hits.refine = r.r ORDER BY refine""".stripMargin,

    "mmr_search" -> {
      // Twin of Search.mmrRerank (k=5, pool=20, λ=0.7): the greedy
      // unrolls into five chained argmax CTEs. λ and 1−λ are inlined
      // with dlit so the DOUBLE arithmetic (including the IEEE value
      // of 1−0.7) is bit-identical to the Spark side; all cosines are
      // rounded 5 before entering the greedy, absorbing dot-order ulps.
      val lam = dlit(0.7)
      val oneMinusLam = dlit(1 - 0.7)
      val sim = cosine("c.ev", "s.ev")
      val steps = (2 to 5).map { j =>
        s"""m$j AS (SELECT c.vec_id, c.ev, c.rel,
           |        $lam * c.rel - $oneMinusLam *
           |          (SELECT max($sim) FROM sel${j - 1} s) AS mmr
           |       FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${j - 1})),
           |s$j AS (SELECT vec_id, ev, rel, CAST($j AS BIGINT) AS rk, mmr
           |       FROM m$j ORDER BY mmr DESC, vec_id LIMIT 1),
           |sel$j AS (SELECT * FROM sel${j - 1} UNION ALL SELECT * FROM s$j)""".stripMargin
      }.mkString(",\n")
      s"""WITH $queryCte,
         |${corpusCte()},
         |cand AS (SELECT vec_id, ev, ${cosine("ev", "qv")} AS rel
         |         FROM c, q ORDER BY rel DESC, vec_id LIMIT 20),
         |s1 AS (SELECT vec_id, ev, rel, CAST(1 AS BIGINT) AS rk, rel AS mmr
         |       FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT * FROM s1),
         |$steps
         |SELECT rk, vec_id, rel, ROUND(mmr, 5) AS mmr FROM sel5 ORDER BY rk""".stripMargin
    },

    "bq_probe" ->
      // Twin of Bq.probe (k=10, refine=40): candidate cut by (hamming,
      // vec_id), exact cosine re-rank over the candidates.
      shortlistSql(s"$queryCte,\n${corpusCte()}", "c, q", hamming("ev", "qv"), "hamming",
        ascending = true, refine = 40, k = 10),

    "bq_rotated" ->
      // Twin of Bq.probeRotated (k=10, refine=40): hamming over the
      // rotated signs ([[rotationCte]]), exact cosine re-rank on the
      // ORIGINAL vectors.
      shortlistSql(
        s"""$rotationCte,
           |$queryCte,
           |qr AS (SELECT ${rotate("qv")} AS rq FROM q, rt),
           |${corpusCte()},
           |cr AS (SELECT vec_id, ev, ${rotate("ev")} AS re FROM c, rt)""".stripMargin,
        "cr, qr", hamming("re", "rq"), "hamming", ascending = true, refine = 40, k = 10),

    "matryoshka_probe" ->
      // Twin of Matryoshka.probe (dPrefix=16, k=10, refine=40): the
      // approximate stage is the same cosine over the 16-element list
      // prefix (1-based inclusive slice == Spark's slice(col,1,16)),
      // exact full-dim re-rank over the 40 candidates. No fitted
      // constants.
      shortlistSql(s"$queryCte,\n${corpusCte()}", "c, q", cosine("ev[1:16]", "qv[1:16]"), "approx_sim",
        ascending = false, refine = 40, k = 10),

    "knn_pergroup" ->
      s"""WITH $knnCte,
         |s AS (SELECT vec_id, label, ${cosine("ev", "qv")} AS cos_sim FROM c, q),
         |${rankedTopK("s", "label", "vec_id, cos_sim", "cos_sim DESC, vec_id", 3)}""".stripMargin,

    "knn_batch" ->
      s"""WITH ${corpusCte("vec_id AS query_id", batchQueries, "qs", "qv")},
         |${corpusCte(where = "", name = "cs")},
         |sc AS (SELECT qs.query_id, cs.vec_id, ${cosine("ev", "qv")} AS cos_sim
         |       FROM cs, qs WHERE cs.vec_id <> qs.query_id),
         |${rankedTopK("sc", "query_id", "vec_id, cos_sim", "cos_sim DESC, vec_id", 3)}""".stripMargin,

    "hard_negatives" ->
      // Twin of Queries.hardNegatives: knn_batch with the label
      // inequality replacing the self-exclusion.
      s"""WITH ${corpusCte("vec_id AS anchor_id, label AS a_label", batchQueries, "qs", "qv")},
         |${corpusCte("vec_id, label", "", "cs")},
         |sc AS (SELECT qs.anchor_id, cs.vec_id, ${cosine("ev", "qv")} AS cos_sim
         |       FROM cs, qs WHERE cs.label <> qs.a_label),
         |${rankedTopK("sc", "anchor_id", "vec_id, cos_sim", "cos_sim DESC, vec_id", 3)}""".stripMargin,

    "phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |p AS (SELECT doc_id, $phrasePositions AS pos FROM tk)
         |SELECT doc_id, CAST(len(pos) AS BIGINT) AS phrase_count,
         |       CAST(list_min(pos) AS BIGINT) AS first_pos
         |FROM p WHERE len(pos) > 0
         |ORDER BY phrase_count DESC, doc_id LIMIT 20""".stripMargin,

    "bm25_topk" -> bm25TopKTwin,

    "query_expand" ->
      // Full two-round RM3 twin: round-1 BM25 (same CTEs as bm25_topk),
      // relevance model rm1(w) = Σ_d (tf/dl)·s_d / Σ_d s_d over the
      // top-10 feedback docs (query terms excluded), top-5 expansion
      // terms by (ROUND(w,8) DESC, term), interpolated weights
      // (α/|Q| originals, (1-α)·renormalized rm1 for expansions, both
      // ROUND(…,8)), weighted rescoring, ROUND(…,5) final.
      s"""WITH $bm25Cte,
         |top10 AS (SELECT doc_id, ROUND(score, 5) AS s FROM sc ORDER BY s DESC, doc_id LIMIT 10),
         |rtf AS (SELECT tok.doc_id, tok.term, CAST(count(*) AS DOUBLE) AS tf
         |        FROM tok JOIN top10 ON tok.doc_id = top10.doc_id
         |        WHERE tok.term NOT IN ($queryTermsSql)
         |        GROUP BY tok.doc_id, tok.term),
         |rm1 AS (SELECT rtf.term,
         |        ROUND(SUM(rtf.tf / dl.dl * top10.s) / (SELECT SUM(s) FROM top10), 8) AS w
         |        FROM rtf JOIN dl USING (doc_id) JOIN top10 USING (doc_id)
         |        GROUP BY rtf.term),
         |exp5 AS (SELECT term, w FROM rm1 ORDER BY w DESC, term LIMIT 5),
         |wq AS (SELECT unnest([$queryTermsSql]) AS term,
         |              ROUND(0.5 / ${Queries.QueryTerms.size}, 8) AS qw
         |       UNION ALL
         |       SELECT term, ROUND(0.5 * w / (SELECT SUM(w) FROM exp5), 8) FROM exp5),
         |${bm25Score(weightedTerms("wq"), suffix = "2")}
         |SELECT doc_id, ROUND(score, 5) AS rm3 FROM sc2 ORDER BY rm3 DESC, doc_id LIMIT 10""".stripMargin,

    "bm25_indexed" ->
      // Same twin as bm25_topk: the persisted-index probe must reproduce
      // the full-scan scorer bit-for-bit (index contents are a pure
      // function of the corpus).
      bm25TopKTwin,

    "snippet_extract" ->
      // Twin of Queries.snippetExtract: bm25 top-10 + first query-term
      // position (least of per-term list_position, NULLs ignored by
      // least in both engines) + a 7-token window.
      s"""WITH $bm25Cte,
         |top10 AS (SELECT doc_id, ROUND(score, 5) AS bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 10),
         |tk AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |p AS (SELECT t.doc_id, t.bm25, tk.toks,
         |       least(${Queries.QueryTerms.map(t =>
                  s"CASE WHEN list_position(toks, '$t') > 0 THEN list_position(toks, '$t') END")
                  .mkString(", ")}) AS p
         |      FROM top10 t JOIN tk ON t.doc_id = tk.doc_id)
         |SELECT doc_id, bm25, CAST(p AS BIGINT) AS hit_pos,
         |       array_to_string(toks[greatest(p - 3, 1) : greatest(p - 3, 1) + 6], ' ') AS snippet
         |FROM p ORDER BY bm25 DESC, doc_id""".stripMargin,

    "bm25_pergroup" ->
      // Twin of Search.bm25PerGroup: every CTE of the bm25 chain gains
      // the group key — each source is its own sub-corpus.
      s"""WITH ${bm25Chain("documents", group = "source", rounded = true)},
         |${rankedTopK("sc", "source", "doc_id, bm25", "bm25 DESC, doc_id", 3)}""".stripMargin,

    "bm25_incremental" ->
      // Same twin again: a base+delta appended index must score the
      // union corpus bit-identically to a one-shot build (df from the
      // pruned union scan, weighted-mean avgdl).
      bm25TopKTwin,

    "bm25_batch" -> bm25BatchSql,

    "bm25_deleted" ->
      // Twin of the tombstone-maintained index: BM25 over the LIVE
      // corpus — df/N/avgdl all shrink with the deletes, which is what
      // the anti-joined probe + exact stat decrements reproduce.
      bm25LiveTwin,

    "bm25_compacted" ->
      // Same live corpus as bm25_deleted: compaction rewrites the
      // layout, it must not move a single score.
      bm25LiveTwin,

    "bm25_phrase" ->
      s"""WITH $bm25Cte,
         |tkp AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |pp AS (SELECT doc_id, CAST(len($phrasePositions) AS DOUBLE) AS pc FROM tkp)
         |SELECT sc.doc_id, ROUND(sc.score + 0.5 * ln(1.0 + pp.pc), 5) AS bm25p
         |FROM sc JOIN pp ON sc.doc_id = pp.doc_id
         |ORDER BY bm25p DESC, sc.doc_id LIMIT 10""".stripMargin,

    "hybrid_rrf" ->
      rrfSql(s"$queryCte,\n${corpusCte("vec_id AS doc_id", "")}",
        s"SELECT doc_id, ${cosine("ev", "qv")} AS cos_sim FROM c, q"),

    "filtered_search" ->
      s"""WITH f AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars > 200),
         |$queryCte,
         |${corpusCte("vec_id, label", " JOIN f ON vec_id = f.doc_id")}
         |SELECT vec_id, label, ${cosine("ev", "qv")} AS cos_sim
         |FROM c, q ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "chunk_explode" ->
      s"""WITH $chunkCte
         |SELECT doc_id, chunk_index, chunk, chunk_tokens, source FROM ch
         |ORDER BY doc_id, chunk_index""".stripMargin,

    "context_expand" ->
      // Twin of Queries.contextExpand: phrase-hit chunks ± 1 neighbor,
      // reassembled in chunk order and hashed.
      s"""WITH $chunkCte,
         |hits AS (SELECT doc_id, chunk_index AS hit_index FROM ch
         |         WHERE contains(chunk, 'filter join')),
         |w AS (SELECT doc_id, hit_index, hit_index + off AS chunk_index
         |      FROM hits, (SELECT unnest([-1, 0, 1]) AS off)),
         |j AS (SELECT w.doc_id, w.hit_index, c.chunk_index, c.chunk
         |      FROM w JOIN ch c ON c.doc_id = w.doc_id AND c.chunk_index = w.chunk_index)
         |SELECT doc_id, hit_index, CAST(count(*) AS BIGINT) AS n_ctx,
         |       min(chunk_index) AS ctx_start, max(chunk_index) AS ctx_end,
         |       md5(string_agg(chunk, ' ' ORDER BY chunk_index)) AS ctx_hash
         |FROM j GROUP BY doc_id, hit_index ORDER BY doc_id, hit_index""".stripMargin,

    "chunk_stats" ->
      s"""WITH $chunkCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
         |       CAST(max(chunk_tokens) AS BIGINT) AS max_chunk_tokens
         |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "list_documents" ->
      s"""WITH $chunkCte
         |SELECT doc_id, min(source) AS source, min(lang) AS lang, CAST(count(*) AS BIGINT) AS chunk_count
         |FROM ch GROUP BY doc_id ORDER BY doc_id DESC LIMIT 20 OFFSET 5""".stripMargin,

    "list_libraries" ->
      s"""WITH $chunkCte
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS document_count,
         |       CAST(count(*) AS BIGINT) AS chunk_count
         |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    "get_document" ->
      s"""WITH $chunkCte
         |SELECT doc_id, min(source) AS source, min(lang) AS lang,
         |       string_agg(chunk, chr(10) || chr(10) ORDER BY chunk_index) AS content,
         |       CAST(count(*) AS BIGINT) AS chunk_count
         |FROM ch WHERE doc_id = 42 GROUP BY doc_id""".stripMargin,

    "delete_document" ->
      s"""WITH $chunkCte
         |SELECT source, CAST(count(*) AS BIGINT) AS total_chunks,
         |       CAST(count(*) FILTER (WHERE doc_id % 50 = 0) AS BIGINT) AS deleted_chunks,
         |       CAST(count(*) FILTER (WHERE doc_id % 50 <> 0) AS BIGINT) AS remaining_chunks
         |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    "ingest_dedup_status" ->
      """WITH inc AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || ' updated-v2' ELSE text END AS text
        |             FROM documents),
        |ex AS (SELECT doc_id, sha256(text) AS old_hash FROM documents WHERE doc_id % 10 <> 7)
        |SELECT inc.doc_id AS doc_id,
        |       CASE WHEN ex.old_hash IS NULL THEN 'indexed'
        |            WHEN sha256(inc.text) = ex.old_hash THEN 'skipped'
        |            ELSE 'replaced' END AS status,
        |       sha256(inc.text) AS content_hash
        |FROM inc LEFT JOIN ex ON inc.doc_id = ex.doc_id ORDER BY doc_id""".stripMargin,

    "ingest_content_status" ->
      // Twin of Queries.ingestContentStatus: the hash gate over the
      // synthetic per-doc upload sources + the fixedSize(512, 64)
      // chunk count — stride 448 over the tokenized content, so
      // n_chunks = (n-1) // 448 + 1 for n > 0 (Chunker emits nothing
      // for token-empty docs), zeroed when the hash says skip.
      """WITH inc AS (SELECT 'upload/' || CAST(doc_id AS VARCHAR) || '.md' AS source,
        |                    CASE WHEN doc_id % 3 = 0 THEN text || ' updated-v2' ELSE text END AS content
        |             FROM documents),
        |ex AS (SELECT 'upload/' || CAST(doc_id AS VARCHAR) || '.md' AS source, sha256(text) AS old_hash
        |       FROM documents WHERE doc_id % 10 <> 7),
        |tk AS (SELECT source, content,
        |              len(list_filter(regexp_split_to_array(lower(content), '[^a-z0-9]+'), t -> t <> '')) AS n
        |       FROM inc),
        |cc AS (SELECT source, CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE CAST((n - 1) // 448 + 1 AS BIGINT) END AS n_chunks FROM tk),
        |st AS (SELECT inc.source, CASE WHEN ex.old_hash IS NULL THEN 'indexed'
        |                               WHEN sha256(inc.content) = ex.old_hash THEN 'skipped'
        |                               ELSE 'replaced' END AS status
        |       FROM inc LEFT JOIN ex USING (source))
        |SELECT st.source, st.status,
        |       CASE WHEN st.status = 'skipped' THEN CAST(0 AS BIGINT) ELSE cc.n_chunks END AS chunk_count
        |FROM st JOIN cc USING (source) ORDER BY source""".stripMargin,

    "title_extract" ->
      """WITH m AS (SELECT doc_id, source,
        |             CASE WHEN doc_id % 3 = 0 THEN '# Heading ' || CAST(doc_id AS VARCHAR) || chr(10) || text
        |                  ELSE text END AS md FROM documents),
        |h AS (SELECT doc_id, source, list_filter(string_split(md, chr(10)), l -> starts_with(trim(l), '#')) AS heads FROM m)
        |SELECT doc_id,
        |       CASE WHEN len(heads) > 0 THEN substr(trim(ltrim(trim(heads[1]), '#')), 1, 200)
        |            ELSE substr(string_split(string_split(source, '/')[-1], '\')[-1], 1, 200) END AS title
        |FROM h ORDER BY doc_id""".stripMargin,

    "upsert_merge" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, source, lang FROM documents WHERE doc_id < 50
        |) ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0)
        |SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_doc_id,
        |       CAST(count(*) AS BIGINT) AS dup_count
        |FROM corpus GROUP BY sha256(text) HAVING count(*) > 1 ORDER BY keeper_doc_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |$componentCtes
         |SELECT id, cluster_id FROM cl ORDER BY id""".stripMargin,

    "dedup_canonical" ->
      // Clusters re-derived with the recursive dedup_clusters chain,
      // quality re-derived over the SAME planted corpus (originals +
      // truncated near-dups), canonical = argmax(quality, min id).
      s"""WITH RECURSIVE $minhashPairCtes,
         |$componentCtes,
         |${qualityCte("corpus", lang = false)},
         |m AS (SELECT corpus.doc_id AS doc_id,
         |       COALESCE(cl.cluster_id, corpus.doc_id) AS cluster_id, qs.quality
         |      FROM corpus LEFT JOIN cl ON corpus.doc_id = cl.id
         |      JOIN qs ON corpus.doc_id = qs.doc_id),
         |rk AS (SELECT doc_id, cluster_id, quality,
         |        row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS _rk
         |       FROM m),
         |win AS (SELECT cluster_id, doc_id AS canonical_id FROM rk WHERE _rk = 1)
         |SELECT m.doc_id, m.cluster_id, win.canonical_id, m.quality,
         |       m.doc_id = win.canonical_id AS keep
         |FROM m JOIN win ON m.cluster_id = win.cluster_id
         |ORDER BY m.doc_id""".stripMargin,

    "sim_ngram_jaccard" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
         |tk AS (SELECT doc_id, ${toks()} AS toks FROM d),
         |shx AS (SELECT doc_id, $shingleExpr AS sh FROM tk)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)), 4) AS jaccard
         |FROM shx a, shx b WHERE a.doc_id < b.doc_id
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 50""".stripMargin,

    "dedup_embedding" ->
      s"""WITH ${embNearDupCorpus(label = true)}
         |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${cosine("a.emb", "b.emb")} AS cos_sim
         |FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosine("a.emb", "b.emb")} >= 0.8
         |ORDER BY label, id_a, id_b""".stripMargin,

    "lsh_pairs" ->
      s"""WITH ${embNearDupCorpus(label = false)},
         |b AS (SELECT vec_id, emb, ${lshSig("emb", 64, 8)} AS bkt FROM corpus)
         |SELECT a.vec_id AS id_a, c.vec_id AS id_b, ${cosine("a.emb", "c.emb")} AS cos_sim
         |FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
         |WHERE ${cosine("a.emb", "c.emb")} >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "lsh_query" ->
      s"""WITH $queryCte,
         |${corpusCte()},
         |qs AS (SELECT ${lshSig("qv", 64, 8)} AS qsig FROM q),
         |cs AS (SELECT vec_id, ev, ${lshSig("ev", 64, 8)} AS sig FROM c),
         |cand AS (SELECT vec_id, ev FROM cs, qs
         |         WHERE len(list_filter(generate_series(1, 8), i -> substr(sig, i, 1) <> substr(qsig, i, 1))) <= 1)
         |SELECT vec_id, ${cosine("ev", "qv")} AS cos_sim
         |FROM cand, q ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "simhash_sketch" ->
      s"""WITH ${simhashCtes("documents")}
         |SELECT doc_id, sig AS simhash64 FROM sg ORDER BY doc_id""".stripMargin,

    "simhash_pairs" -> {
      // signature as four 16-bit words — twin of Dedup.simHashWords
      val words = (0 until 4).map { t =>
        (0 until 16).map { b =>
          val j = t * 16 + b
          s"CASE WHEN 2 * c$j > n THEN ${1 << (15 - b)} ELSE 0 END"
        }.mkString(" + ") + s" AS w$t"
      }.mkString(",\n       ")
      val bandRows = (0 until 4)
        .map(t => s"SELECT doc_id, w0, w1, w2, w3, $t AS band, w$t AS key FROM sgw")
        .mkString("\n  UNION ALL ")
      val ham = (0 until 4).map(t => s"bit_count(xor(w${t}_a, w${t}_b))").mkString(" + ")
      val pairWords = (0 until 4)
        .flatMap(t => Seq(s"a.w$t AS w${t}_a", s"b.w$t AS w${t}_b")).mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id, text || ' simdup' AS text
         |  FROM documents WHERE doc_id < 25),
         |${simhashCtes("corpus")},
         |sgw AS (SELECT doc_id,
         |       $words
         |       FROM c_s),
         |bk AS ($bandRows),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, $pairWords
         |         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |hm AS (SELECT id_a, id_b, CAST($ham AS BIGINT) AS hamming FROM cand)
         |SELECT id_a, id_b, hamming FROM hm WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
    },

    "quality_model" -> {
      // Twin of TextAnalysis.modelQuality: the checked-in weights are
      // constants, inlined as a VALUES table (dlit keeps them DOUBLE).
      // keep uses the logit sign (sigmoid-monotone, exactly portable);
      // the rounded sigmoid absorbs sum-order ulps like the BM25 twin.
      val (w, b) = graft.operators.TextAnalysis.qualityWeights
      val values = w.zipWithIndex
        .map { case (wt, d) => s"($d, ${dlit(wt)})" }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
         |d AS (SELECT doc_id, ${bowDim("term")} AS dim FROM tok),
         |dd AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY doc_id, dim),
         |w AS (SELECT * FROM (VALUES $values) AS t(dim, w)),
         |z AS (SELECT doc_id, sum(w.w * dd.cnt) AS z FROM dd JOIN w USING (dim) GROUP BY doc_id)
         |SELECT doc_id,
         |       ROUND(1.0e0 / (1.0e0 + exp(-(z + ${dlit(b)}))), 5) AS quality_prob,
         |       (z + ${dlit(b)}) >= 0 AS keep
         |FROM z ORDER BY doc_id""".stripMargin
    },

    "span_dedup" ->
      // Twin of Dedup.duplicatedSpanRemoval (n=10, minDocs=2): the bad
      // grams are those shared by >= 2 documents.
      spanRebuildSql(s"t AS (SELECT doc_id, ${toks()} AS toks FROM documents)",
        "SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS c FROM gr GROUP BY g) WHERE c >= 2"),

    "decontaminate_xlingual" -> {
      import graft.functions.TextOps.{CyrillicAlphabet, DiacriticFrom, DiacriticTo, LatinAlphabet}
      // Twin of Queries.decontaminateXlingual: replant the Cyrillic
      // snippet with the same 1:1 translate map, then run the span
      // pipeline over script-folded tokens on BOTH sides.
      def fold(e: String): String =
        s"translate(translate(lower($e), '$DiacriticFrom', '$DiacriticTo'), '$CyrillicAlphabet', '$LatinAlphabet')"
      spanRebuildSql(
        s"""bt0 AS (SELECT doc_id, ${toks()} AS btoks FROM documents WHERE doc_id < 10),
           |snip AS (SELECT doc_id AS b,
           |          translate(array_to_string(btoks[1:12], ' '), '$LatinAlphabet', '$CyrillicAlphabet') AS cyr
           |         FROM bt0),
           |corpus AS (SELECT d.doc_id,
           |        d.text || CASE WHEN d.doc_id % 17 = 3 THEN ' ' || s.cyr ELSE '' END AS text
           |       FROM documents d JOIN snip s ON s.b = d.doc_id % 10 WHERE d.doc_id >= 10),
           |t AS (SELECT doc_id, ${toks(fold("text"))} AS toks FROM corpus)""".stripMargin,
        benchmarkGrams(fold("text")))
    },

    "decontaminate_spans" ->
      // Twin of Dedup.decontaminateSpans (n=10, benchmark = doc_id<10,
      // corpus = doc_id>=10): span_dedup's reassembly with the dup set
      // replaced by the benchmark gram set.
      spanRebuildSql(s"t AS (SELECT doc_id, ${toks()} AS toks FROM documents WHERE doc_id >= 10)",
        benchmarkGrams("text")),

    "chunkstore_read" ->
      // Twin of Queries.chunkstoreRead: replay the deterministic
      // modification rules (upsert-wins for %7==3, tombstone for
      // %13==5) directly over documents.
      chunkstoreState(" WHERE doc_id % 13 <> 5"),

    "chunkstore_changes" ->
      // Twin of Queries.chunkstoreChanges: v1→v4 changes under the
      // replayed modification rules — %13==5 rows were tombstoned
      // (delete, no after-image), surviving %7==3 rows were re-upserted
      // with upper(text)/lang='xx' (update, after-image hash).
      """WITH ch AS (
        |  SELECT doc_id, 'delete' AS change, NULL AS content_hash
        |  FROM documents WHERE doc_id % 13 = 5
        |  UNION ALL
        |  SELECT doc_id, 'update' AS change, md5(upper(text)) AS content_hash
        |  FROM documents WHERE doc_id % 7 = 3 AND doc_id % 13 <> 5)
        |SELECT doc_id, change, content_hash FROM ch ORDER BY doc_id""".stripMargin,

    "chunkstore_time_travel" ->
      // Twin of Queries.chunkstoreTimeTravel: manifest v2's state is the
      // chunkstore_read replay WITHOUT the delete clause — time travel
      // must restore the rows the v3 tombstones removed.
      chunkstoreState(""),

    "line_dedup" ->
      // Twin of TextAnalysis.lineDedup (minDocs=3). string_agg skips the
      // NULL (dropped) lines; COALESCE covers a doc whose every line was
      // boilerplate (Spark's concat_ws over an empty array is '').
      s"""WITH l AS (SELECT doc_id, unnest(ls) AS line, unnest(generate_series(1, len(ls))) AS pos
         |           FROM (SELECT doc_id, regexp_split_to_array(text, '\\n') AS ls FROM documents)),
         |lh AS (SELECT doc_id, pos, line, md5(trim(line)) AS h, trim(line) = '' AS blank FROM l),
         |bp AS (SELECT h FROM (SELECT h, count(*) AS c FROM
         |          (SELECT DISTINCT doc_id, h FROM lh WHERE NOT blank) GROUP BY h)
         |       WHERE c >= 3),
         |m AS (SELECT lh.*, h IN (SELECT h FROM bp) AS drp FROM lh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT) AS dropped_lines,
         |       COALESCE(string_agg(CASE WHEN NOT drp THEN line END, chr(10) ORDER BY pos), '') AS clean_text
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "server_info" ->
      // Constant twin over server_info's deterministic face: the
      // extension wiring and the corpus-path probe have exactly one
      // correct answer on a healthy engine; box facts (version,
      // master, parallelism) are excluded from the registered
      // projection because no cross-engine oracle can know them.
      """SELECT TRUE AS cosine_sim_registered,
        |'graft.plans.GraftExtensions' AS extensions,
        |TRUE AS docs_readable""".stripMargin,

    "layout_catalog" ->
      // Twin of the three scripted ANN lifecycles: log version, last
      // verb and append count are determined by each build script
      // (build=v1; build+append=v2; build+delete=v2), so they are
      // literals here — what the oracle genuinely recomputes is the
      // data-dependent column, the tombstone count of the scripted
      // `vec_id % 10 = 3` delete batch.
      """SELECT * FROM (
        |  SELECT 'ann_deleted' AS family, CAST(2 AS BIGINT) AS log_version,
        |         'delete' AS last_verb, CAST(0 AS BIGINT) AS appends_since_build,
        |         (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 10 = 3) AS tombstones
        |  UNION ALL
        |  SELECT 'ann_full', CAST(1 AS BIGINT), 'build', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'ann_incremental', CAST(2 AS BIGINT), 'append', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |) ORDER BY family""".stripMargin,

    "fts_stats" ->
      // Twin of Fts.stats: re-derive the index's books from the raw
      // corpus — distinct (doc, term) pairs ARE the postings, docs
      // with >= 1 token are the indexed docs, avgdl is the exact
      // integer ratio.
      s"""WITH tk AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term FROM t GROUP BY doc_id, term),
         |agg AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
         |               CAST(count(*) AS BIGINT) AS n_postings FROM tf),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, sum(len(toks)) AS s
         |       FROM tk WHERE len(toks) > 0)
         |SELECT agg.n_terms, agg.n_postings, st.n_docs,
         |       ROUND(CAST(st.s AS DOUBLE) / st.n_docs, 5) AS avgdl
         |FROM agg, st""".stripMargin,

    "text_normalize" ->
      // Twin of the norm_text codegen expression: NFC + control/
      // whitespace collapse + trim. The planted suffix is rebuilt from
      // chr() codepoints (controls, decomposed e+U+0301, U+2126);
      // NFC is a Unicode spec so both engines emit identical bytes,
      // and length() counts codepoints on both sides.
      s"""WITH m AS (SELECT doc_id,
         |        text || ' x' || chr(1) || chr(2) || '  e' || chr(769) || '  '
         |             || chr(8486) || ' fin' || chr(13) || chr(10) || chr(9) AS mm
         |        FROM documents),
         |n AS (SELECT doc_id,
         |        trim(regexp_replace(nfc_normalize(mm), '[\\s\\x00-\\x1f\\x7f]+', ' ', 'g')) AS normalized,
         |        CAST(length(mm) AS BIGINT) AS n_before FROM m)
         |SELECT doc_id, normalized, n_before, CAST(length(normalized) AS BIGINT) AS n_after
         |FROM n ORDER BY doc_id""".stripMargin,

    "lm_train" ->
      // Twin of Lm.trainBigrams: consecutive-token pairs via a
      // positional list_transform, counts per bigram, context totals
      // DERIVED from the bigram counts (same single-pass derivation),
      // MLE conditional as an exact rational before one rounding.
      s"""WITH tk AS (SELECT ${toks()} AS toks FROM documents),
         |pr AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || chr(32) || toks[i + 1])) AS pair
         |       FROM tk WHERE len(toks) >= 2),
         |pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_pair FROM pr GROUP BY pair),
         |px AS (SELECT split_part(pair, chr(32), 1) AS w1,
         |              split_part(pair, chr(32), 2) AS w2, n_pair FROM pc),
         |w1c AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM px GROUP BY w1)
         |SELECT px.w1, px.w2, px.n_pair, w1c.n_w1,
         |       ROUND(CAST(px.n_pair AS DOUBLE) / w1c.n_w1, 6) AS cond_p
         |FROM px JOIN w1c USING (w1)
         |ORDER BY px.n_pair DESC, px.w1, px.w2 LIMIT 100""".stripMargin,

    "mix_doremi" -> {
      // Twin of Sampling.doremiWeights over source domains: the same
      // inlined-LM per-doc ppl as perplexity_filter, then ln of the
      // ROUNDED ppl, domain means rounded before differencing, the
      // collapsed EG closed form exp(k·η·excess) and the smoothed
      // normalization — every constant inlined with dlit so the
      // double arithmetic is cross-engine identical.
      val kEta = dlit(0.5 * 5)
      val oneMinusEps = dlit(1 - 0.2)
      val eps = dlit(0.2)
      s"""WITH $lmPplCtes,
         |d2 AS (SELECT d.source, ln(s.ppl) AS nll
         |       FROM s JOIN documents d ON s.doc_id = d.doc_id WHERE s.ppl IS NOT NULL),
         |dom AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         ROUND(avg(nll), 5) AS mean_nll FROM d2 GROUP BY source),
         |-- cross-domain reference in EXACT integer arithmetic (the
         |-- 5-dp domain means put avg on a .5 boundary — measured at
         |-- sf0.01 — so a double ROUND(avg(...),5) flips with the
         |-- engine's summation order); half-up on the exact rational,
         |-- valid since nll >= 0, then one IEEE-exact /1e5
         |ref AS (SELECT CAST((2 * sum(CAST(round(mean_nll * 100000.0) AS BIGINT)) + count(*))
         |          // (2 * count(*)) AS DOUBLE) / 100000.0 AS r,
         |        CAST(count(*) AS BIGINT) AS nd FROM dom),
         |rw AS (SELECT source, n_docs, mean_nll,
         |        greatest(0.0, mean_nll - r) AS excess_u,
         |        exp($kEta * greatest(0.0, mean_nll - r)) AS raw, nd
         |       FROM dom, ref),
         |tot AS (SELECT sum(raw) AS tw FROM rw)
         |SELECT source, n_docs, mean_nll, ROUND(excess_u, 5) AS excess,
         |       ROUND($oneMinusEps * raw / tw + $eps / nd, 5) AS weight
         |FROM rw, tot ORDER BY source""".stripMargin
    },

    "mix_unimax" ->
      // Twin of Sampling.unimaxWeights (epochCap=2, budgetFrac=0.5):
      // the water-filling replayed with window prefix sums in
      // (cap, domain) order — capped iff S_{i-1} + c_i·(n-i+1) ≤ T,
      // level = (T − Σ_capped c)/(n−k). All comparisons exact BIGINT;
      // only the level division is a double, rounded to 5 dp before
      // the epochs ratio (also 5 dp), matching the Spark side.
      s"""WITH tk AS (SELECT source AS domain, len(${toks()}) AS n FROM documents),
         |dom AS (SELECT domain, CAST(sum(n) AS BIGINT) AS n_tokens,
         |         CAST(sum(n) * 2 AS BIGINT) AS cap FROM tk GROUP BY domain),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |         CAST(count(*) AS BIGINT) AS nd FROM dom),
         |w AS (SELECT dom.*, tot.nd,
         |        CAST(floor(CAST(tot.total AS DOUBLE) * 0.5) AS BIGINT) AS budget,
         |        CAST(coalesce(sum(cap) OVER (ORDER BY cap, domain
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_before,
         |        CAST(row_number() OVER (ORDER BY cap, domain) AS BIGINT) AS rk
         |       FROM dom, tot),
         |f AS (SELECT *, cap * (nd - rk + 1) + s_before <= budget AS capped FROM w),
         |ka AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS sk,
         |        CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS k FROM f),
         |a AS (SELECT f.domain, f.n_tokens, f.cap, f.capped,
         |        ROUND(CASE WHEN f.capped THEN CAST(f.cap AS DOUBLE)
         |              ELSE CAST(f.budget - ka.sk AS DOUBLE) / CAST(f.nd - ka.k AS DOUBLE) END, 5)
         |          AS alloc_tokens
         |       FROM f, ka)
         |SELECT domain, n_tokens, cap, capped, alloc_tokens,
         |       ROUND(alloc_tokens / CAST(n_tokens AS DOUBLE), 5) AS epochs
         |FROM a ORDER BY domain""".stripMargin,

    "ngram_diversity" ->
      // Twin of Queries.ngramDiversity: exact distinct bigrams per
      // source; hll_ok pinned true — if Spark's DataSketches HLL
      // estimate ever drifts past the 5% acceptance, the hash fails.
      s"""WITH t AS (SELECT source, ${toks()} AS toks FROM documents),
         |g AS (SELECT source, unnest(CASE WHEN len(toks) >= 2
         |        THEN list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
         |        ELSE [] END) AS gram FROM t)
         |SELECT source, CAST(count(DISTINCT gram) AS BIGINT) AS distinct_bigrams, true AS hll_ok
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "heavy_hitters" ->
      // Twin of Freq.heavyHitters (theta=0.005, m=512): the PLAIN
      // exact GROUP BY + HAVING over all tokens. Equality proves the
      // Misra-Gries candidate pass + exact recount found exactly the
      // theta-heavy set with exact counts (no false negatives by the
      // pigeonhole guarantee, no false positives by the recount).
      // ceil(0.005*N) computed in IEEE double on both engines.
      s"""WITH tok AS (SELECT unnest(${toks()}) AS term FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
         |SELECT term, CAST(count(*) AS BIGINT) AS cnt,
         |       ROUND(CAST(count(*) AS DOUBLE) / CAST(any_value(tot.n) AS DOUBLE), 5) AS share
         |FROM tok, tot GROUP BY term
         |HAVING count(*) >= CAST(ceil(0.005 * any_value(tot.n)) AS BIGINT)
         |ORDER BY cnt DESC, term""".stripMargin,

    "quantile_digest" ->
      // Twin of Queries.quantileDigest: the exact interpolated
      // quantiles (quantile_cont == Spark's percentile, the
      // events_percentiles contract) with digest_ok PINNED true — an
      // approx_percentile value whose exact rank leaves the sketch's
      // n/accuracy bound fails the hash.
      """WITH e AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        quantile_cont(n_chars, 0.5) AS q50,
        |        quantile_cont(n_chars, 0.9) AS q90,
        |        quantile_cont(n_chars, 0.99) AS q99
        |      FROM documents GROUP BY source)
        |SELECT source, p, ROUND(v, 4) AS value, true AS digest_ok FROM (
        |  SELECT source, 0.5 AS p, q50 AS v FROM e
        |  UNION ALL SELECT source, 0.9, q90 FROM e
        |  UNION ALL SELECT source, 0.99, q99 FROM e)
        |ORDER BY source, p""".stripMargin,

    "context_truncation" ->
      // Twin of Queries.contextTruncation: per context length, docs
      // over, token mass lost to truncate-at-L. Exact long arithmetic;
      // one double division rounded to 5 dp.
      s"""WITH t AS (SELECT CAST(len(${toks()}) AS BIGINT) AS tok FROM documents),
         |ctx AS (SELECT CAST(unnest([512, 2048, 8192]) AS BIGINT) AS ctx_len)
         |SELECT ctx_len, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tok) AS BIGINT) AS total_tokens,
         |       CAST(sum(CASE WHEN tok > ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
         |       CAST(sum(greatest(tok - ctx_len, 0)) AS BIGINT) AS lost_tokens,
         |       ROUND(CAST(sum(greatest(tok - ctx_len, 0)) AS DOUBLE) /
         |             CAST(sum(tok) AS DOUBLE), 5) AS lost_share
         |FROM t, ctx GROUP BY ctx_len ORDER BY ctx_len""".stripMargin,

    "embedding_stats" ->
      // Twin of Queries.embeddingStats: same 1e-5 unit-component grid
      // (exact BIGINT sums in any order), same left-fold norms, the
      // identity (|Σu|² − Σ|u|²)/(n(n−1)) replayed per label; the two
      // final divisions doubles at 5 dp.
      s"""WITH ${corpusCte("label", "", "v")},
         |nn AS (SELECT label, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM v),
         |q AS (SELECT label, CAST(round(nrm * 1e6) AS BIGINT) AS nmic,
         |        list_transform(ev, x -> CASE WHEN nrm > 0
         |          THEN CAST(round(x * 100000 / nrm) AS BIGINT) ELSE 0 END) AS u FROM nn),
         |r AS (SELECT label, nmic, u,
         |        CAST(list_sum(list_transform(u, q -> q * q)) AS BIGINT) AS qn2 FROM q),
         |d AS (SELECT label, i, u[i] AS qv FROM r, LATERAL (SELECT unnest(generate_series(1, len(u))) AS i)),
         |ds AS (SELECT label, i, CAST(sum(qv) AS BIGINT) AS sq FROM d GROUP BY label, i),
         |ss AS (SELECT label, CAST(sum(sq * sq) AS BIGINT) AS sig2 FROM ds GROUP BY label),
         |pr AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |        CAST(sum(nmic) AS BIGINT) AS snorm, CAST(sum(qn2) AS BIGINT) AS sqn
         |       FROM r GROUP BY label)
         |SELECT pr.label, pr.n_vecs,
         |       ROUND(CAST(snorm AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e6), 5) AS mean_norm,
         |       CASE WHEN n_vecs > 1 THEN
         |         ROUND(CAST(sig2 - sqn AS DOUBLE) /
         |               (CAST(n_vecs * (n_vecs - 1) AS DOUBLE) * 1e10), 5)
         |       END AS mean_pairwise_cos
         |FROM pr JOIN ss USING (label) ORDER BY label""".stripMargin,

    "token_fertility" ->
      // Twin of Queries.tokenFertility: per-doc BPE totals from the
      // shared enc chain (LEFT JOIN + coalesce 0 for pretoken-less
      // docs, the token_counts contract), pre-token counts from the
      // same regex, then one per-lang aggregate with both ratios
      // rounded to 5 dp.
      s"""WITH $bpeEncCtes,
         |bt AS (SELECT pt.doc_id, sum(enc.n) AS bpe FROM pt JOIN enc USING (w) GROUP BY pt.doc_id),
         |pd AS (SELECT d.doc_id, d.lang, d.n_chars,
         |        len(regexp_extract_all(lower(d.text), '$bpePretokenRegex')) AS pre,
         |        coalesce(bt.bpe, 0) AS bpe
         |       FROM documents d LEFT JOIN bt ON d.doc_id = bt.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(pre) AS BIGINT) AS pretokens,
         |       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |       ROUND(CAST(sum(bpe) AS DOUBLE) / sum(pre), 5) AS fertility,
         |       ROUND(CAST(sum(n_chars) AS DOUBLE) / sum(bpe), 5) AS chars_per_token
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "perplexity_filter" -> {
      // Twin of Lm.perplexity: the checked-in bigram LM is constants,
      // inlined as two VALUES tables (dlit keeps the precomputed
      // log-probs DOUBLE — score-time arithmetic is pure +/× on both
      // sides, the rounded exp absorbs sum-order ulps). Buckets compare
      // the ROUNDED ppl so the split is portable.
      val m = graft.operators.Lm.model
      s"""WITH $lmPplCtes
         |SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.ppl,
         |       CASE WHEN s.ppl IS NULL THEN 'empty'
         |            WHEN s.ppl <= ${dlit(m.tHead)} THEN 'head'
         |            WHEN s.ppl <= ${dlit(m.tTail)} THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id ORDER BY d.doc_id""".stripMargin
    },

    "gopher_quality" ->
      // Twin of TextAnalysis.gopherQuality. Words = whitespace tokens
      // (punctuation kept); every ratio is ONE double division rounded
      // to 5 dp before the keep comparison; empty-list sums coalesce
      // to 0 (Spark's aggregate over an empty array returns the zero).
      s"""WITH t AS (SELECT doc_id, text,
         |        list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS words,
         |        list_filter(list_transform(regexp_split_to_array(text, '\\n'), l -> trim(l)), l -> l <> '') AS lines,
         |        ${toks()} AS toks FROM documents),
         |f AS (SELECT doc_id,
         |       CAST(len(words) AS BIGINT) AS n_words,
         |       CAST(COALESCE(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT) AS sum_len,
         |       CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '(\\.\\.\\.|…)')) AS BIGINT) AS symbol_hits,
         |       CAST(len(lines) AS BIGINT) AS n_lines,
         |       CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS BIGINT) AS bullet_lines,
         |       CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) AS BIGINT) AS ellipsis_lines,
         |       CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
         |       CAST(len(list_intersect(list_distinct(toks), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |      FROM t),
         |g AS (SELECT doc_id, n_words,
         |       ROUND(CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0e0 END, 5) AS mean_word_len,
         |       ROUND(CASE WHEN n_words > 0 THEN CAST(symbol_hits AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0e0 END, 5) AS symbol_ratio,
         |       ROUND(CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0e0 END, 5) AS bullet_frac,
         |       ROUND(CASE WHEN n_lines > 0 THEN CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0e0 END, 5) AS ellipsis_frac,
         |       ROUND(CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0e0 END, 5) AS alpha_frac,
         |       stop_hits FROM f)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
         |       (n_words >= 50 AND n_words <= 100000
         |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
         |        AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    "c4_filters" ->
      // Twin of TextAnalysis.c4Filters (line-level, Raffel'20 §2.2): a
      // line is retained iff terminal-punctuated AND >= 5 whitespace
      // words AND no "javascript" mention; the page keeps iff the
      // retained text carries >= 3 sentence marks and neither page
      // tripwire fires. All counts are exact BIGINTs.
      s"""WITH t AS (SELECT doc_id, text,
         |        list_filter(list_transform(regexp_split_to_array(text, '\\n'), l -> trim(l)), l -> l <> '') AS lines FROM documents),
         |f AS (SELECT doc_id, lines,
         |       list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
         |         AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> w <> '')) >= 5
         |         AND NOT contains(lower(l), 'javascript')) AS kept,
         |       CAST(len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS BIGINT) AS js_lines,
         |       contains(lower(text), 'lorem ipsum') AS has_lorem,
         |       contains(text, '{') AS has_brace
         |      FROM t),
         |g AS (SELECT doc_id,
         |       CAST(len(lines) AS BIGINT) AS n_lines,
         |       CAST(len(kept) AS BIGINT) AS kept_lines,
         |       js_lines,
         |       CAST(len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS kept_sent_marks,
         |       has_lorem, has_brace FROM f)
         |SELECT doc_id, n_lines, kept_lines, js_lines, kept_sent_marks, has_lorem, has_brace,
         |       (kept_sent_marks >= 3 AND NOT has_lorem AND NOT has_brace) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    "repetition_stats" ->
      // Twin of TextAnalysis.repetitionStats. All counts are exact
      // BIGINTs; each fraction is ONE double division (identical
      // expression shape both sides) before the 5 dp round; `keep`
      // compares the rounded values, so the flag is portable.
      s"""WITH t AS (SELECT doc_id,
         |        list_filter(list_transform(regexp_split_to_array(text, '\\n'), l -> trim(l)), l -> l <> '') AS lines,
         |        ${toks()} AS toks FROM documents),
         |ls AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(lines) AS BIGINT) AS n_lines,
         |        CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_lines FROM t),
         |gr AS (SELECT doc_id, 2 AS n, md5(g) AS g FROM
         |         (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |            THEN list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
         |            ELSE [] END) AS g FROM t)
         |       UNION ALL
         |       SELECT doc_id, 5 AS n, md5(g) AS g FROM
         |         (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
         |            THEN list_transform(generate_series(1, len(toks) - 4), i -> array_to_string(toks[i:i+4], ' '))
         |            ELSE [] END) AS g FROM t)),
         |pn AS (SELECT doc_id, n, max(c) AS maxc,
         |        sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc, sum(c) AS totc
         |       FROM (SELECT doc_id, n, g, count(*) AS c FROM gr GROUP BY doc_id, n, g)
         |       GROUP BY doc_id, n),
         |pv AS (SELECT doc_id, max(CASE WHEN n = 2 THEN maxc END) AS max2,
         |        max(CASE WHEN n = 5 THEN dupc END) AS dup5,
         |        max(CASE WHEN n = 5 THEN totc END) AS tot5
         |       FROM pn GROUP BY doc_id),
         |f AS (SELECT ls.doc_id, ls.n_tokens, ls.n_lines,
         |       ROUND(CASE WHEN n_lines > 0 THEN CAST(dup_lines AS DOUBLE) / n_lines ELSE 0.0e0 END, 5) AS dup_line_frac,
         |       ROUND(CASE WHEN n_tokens > 0 THEN CAST(coalesce(max2, 0) * 2 AS DOUBLE) / n_tokens ELSE 0.0e0 END, 5) AS top_2gram_frac,
         |       ROUND(CASE WHEN coalesce(tot5, 0) > 0 THEN CAST(dup5 AS DOUBLE) / tot5 ELSE 0.0e0 END, 5) AS dup_5gram_frac
         |      FROM ls LEFT JOIN pv USING (doc_id))
         |SELECT *, (dup_line_frac <= 3.0e-1 AND top_2gram_frac <= 2.0e-1 AND dup_5gram_frac <= 1.5e-1) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(${toks()}) AS term FROM documents)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
         |       CAST(count(*) AS BIGINT) AS total_tokens,
         |       CAST(count(DISTINCT term) AS BIGINT) AS distinct_terms
         |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,

    "lang_id" -> {
      val lists = graft.operators.TextAnalysis.StopwordsByLang.map { case (lang, words) =>
        lang -> words.map(w => s"'$w'").mkString("[", ", ", "]")
      }
      val counts = lists
        .map { case (lang, arr) => s"len(list_filter(toks, t -> list_contains($arr, t))) AS c_$lang" }
        .mkString(",\n       ")
      val caseChain = lists
        .map { case (lang, _) => s"WHEN c_$lang = m AND m > 0 THEN '$lang'" }
        .mkString(" ")
      s"""WITH tk AS (SELECT doc_id, lang AS claimed_lang, ${toks()} AS toks FROM documents),
         |c AS (SELECT doc_id, claimed_lang,
         |       $counts
         |      FROM tk),
         |g AS (SELECT *, greatest(c_de, c_en, c_es, c_fr, c_zh) AS m FROM c),
         |p AS (SELECT doc_id, claimed_lang, CASE $caseChain ELSE 'und' END AS predicted_lang FROM g)
         |SELECT doc_id, claimed_lang, predicted_lang, claimed_lang = predicted_lang AS agree
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "token_topk" ->
      s"""WITH tok AS (SELECT source, unnest(${toks()}) AS term FROM documents),
         |g AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY source, term),
         |${rankedTopK("g", "source", "term, cnt", "cnt DESC, term", 5)}""".stripMargin,

    "keyword_topk" ->
      // Twin of TextAnalysis.keywordsPerDoc: tf·ln(1 + N/df), top-3 per doc.
      s"""WITH tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
         |sc AS (SELECT tf.doc_id, tf.term,
         |        ROUND(CAST(tf.tf AS DOUBLE) * ln(1.0 + n.n / dfq.df), 5) AS tfidf
         |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |${rankedTopK("sc", "doc_id", "term, tfidf", "tfidf DESC, term", 3)}""".stripMargin,

    "corpus_drift" ->
      // Twin of TextAnalysis.corpusDrift over the even/odd doc-id
      // split: full term-distribution JS divergence + OOV mass +
      // shape stats, rounded where ln-sum order can differ in ulps.
      s"""WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         |ta AS (SELECT t AS term, count(*) AS ca FROM
         |        (SELECT unnest(${toks()}) AS t FROM a) GROUP BY 1),
         |tb AS (SELECT t AS term, count(*) AS cb FROM
         |        (SELECT unnest(${toks()}) AS t FROM b) GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(ca) AS DOUBLE) FROM ta) AS tot_a,
         |               (SELECT CAST(sum(cb) AS DOUBLE) FROM tb) AS tot_b),
         |j AS (SELECT COALESCE(ta.ca, 0) AS ca, COALESCE(tb.cb, 0) AS cb
         |      FROM ta FULL OUTER JOIN tb USING (term)),
         |pq AS (SELECT CAST(ca AS DOUBLE) / tot_a AS p,
         |              CAST(cb AS DOUBLE) / tot_b AS q, ca FROM j, tot),
         |div AS (SELECT
         |  ROUND(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) * 0.5 ELSE 0.0 END
         |          + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) * 0.5 ELSE 0.0 END), 4)
         |    AS js_divergence,
         |  ROUND(sum(CASE WHEN ca = 0 THEN q ELSE 0.0 END), 4) AS oov_rate_b FROM pq),
         |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_a,
         |              ROUND(avg(CAST(len(${toks()}) AS DOUBLE)), 4) AS mean_len_a FROM a),
         |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_b,
         |              ROUND(avg(CAST(len(${toks()}) AS DOUBLE)), 4) AS mean_len_b FROM b)
         |SELECT n_docs_a, n_docs_b, mean_len_a, mean_len_b, oov_rate_b, js_divergence
         |FROM sa, sb, div""".stripMargin,

    "zipf_fit" ->
      // Twin of TextAnalysis.zipfFit: identical moment-sum OLS over
      // the same deterministic (cnt desc, term) top-1000 ranking.
      s"""WITH tc AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS cnt FROM
         |        (SELECT unnest(${toks()}) AS t FROM documents) GROUP BY 1),
         |top AS (SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rk
         |        FROM tc ORDER BY cnt DESC, term LIMIT 1000),
         |xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM top),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         |       sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM xy)
         |SELECT n AS n_terms,
         |       ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 5) AS slope,
         |       ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 5) AS intercept,
         |       ROUND(pow(n*sxy - sx*sy, 2) / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 5) AS r2
         |FROM m""".stripMargin,

    "quality_score" ->
      s"""WITH ${qualityCte("documents")}
         |SELECT doc_id, n_tokens, stop_ratio, quality FROM qs ORDER BY doc_id""".stripMargin,

    "quality_filter" ->
      s"""WITH ${qualityCte("documents")},
         |r AS (SELECT lang, doc_id, quality,
         |       ROUND(percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id), 6) AS q_rank
         |      FROM qs)
         |SELECT lang, doc_id, quality, q_rank FROM r
         |WHERE q_rank >= 0.25 ORDER BY lang, doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH tk AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |shx AS (SELECT doc_id, $shingleExpr AS sh FROM tk)
         |SELECT doc_id, list_min(sh) AS fingerprint, CAST(len(sh) AS BIGINT) AS n_shingles
         |FROM shx WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin,

    "doc_embedding" ->
      s"""$docEmbeddingSelect ORDER BY s.doc_id, s.dim""".stripMargin,

    "docsim_topk" ->
      // Twin of Queries.docsimTopK: the pooled sparse vectors (shared
      // with doc_embedding) re-quantized onto the 1e-5 grid so the
      // anchor·doc dot products are exact integer sums in any order;
      // one division scales back, top-3 per anchor.
      s"""WITH e AS ($docEmbeddingSelect),
         |q5 AS (SELECT doc_id, dim, CAST(ROUND(v * 100000.0) AS BIGINT) AS vq FROM e),
         |a AS (SELECT doc_id AS a_id, dim, vq AS aq FROM q5 WHERE doc_id < 8),
         |d AS (SELECT a.a_id, q5.doc_id, sum(q5.vq * a.aq) AS dot
         |      FROM q5 JOIN a USING (dim) WHERE q5.doc_id <> a.a_id GROUP BY 1, 2),
         |sc AS (SELECT a_id, doc_id, ROUND(CAST(dot AS DOUBLE) / 10000000000.0, 5) AS sim FROM d),
         |${rankedTopK("sc", "a_id", "doc_id, sim", "sim DESC, doc_id", 3)}""".stripMargin,

    "embed_hashed_bow" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
         |d AS (SELECT doc_id, ${bowDim("term")} AS dim FROM tok)
         |SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt
         |FROM d GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin,

    "embed_onnx" -> {
      // Twin of Queries.embedOnnx: the MLP's integer weights come from
      // OnnxFixture's closed-form formulas (the same values MakeOnnx
      // serialized into the artifact the Spark side LOADS), inlined as
      // sparse VALUES tables. Integer bow counts x integer weights +
      // ReLU keep every pre-normalization value exact; the single L2
      // divide rounds to 5 dp — the repo-wide parity convention.
      import graft.functions.OnnxFixture._
      val w1v = (for { i <- 0 until InputDims; j <- 0 until HiddenDims; w = w1(i, j) if w != 0 }
        yield s"($i, $j, $w.0e0)").mkString(", ")
      val b1v = (0 until HiddenDims).map(j => s"($j, ${b1(j)}.0e0)").mkString(", ")
      val w2v = (for { j <- 0 until HiddenDims; k <- 0 until InputDims; w = w2(j, k) if w != 0 }
        yield s"($j, $k, $w.0e0)").mkString(", ")
      val b2v = (0 until InputDims).map(k => s"($k, ${b2(k)}.0e0)").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(${toks("'search_document: ' || text")}) AS term FROM documents),
         |bow AS (SELECT doc_id, ${bowDim("term")} AS dim, CAST(count(*) AS DOUBLE) AS cnt
         |       FROM tok GROUP BY 1, 2),
         |w1(i, j, w) AS (SELECT * FROM (VALUES $w1v)),
         |b1t(j, b) AS (SELECT * FROM (VALUES $b1v)),
         |w2(j, k, w) AS (SELECT * FROM (VALUES $w2v)),
         |b2t(k, b) AS (SELECT * FROM (VALUES $b2v)),
         |h0 AS (SELECT bow.doc_id, w1.j, sum(bow.cnt * w1.w) AS s
         |       FROM bow JOIN w1 ON w1.i = bow.dim GROUP BY 1, 2),
         |h AS (SELECT d.doc_id, b1t.j, greatest(0.0e0, COALESCE(h0.s, 0.0e0) + b1t.b) AS v
         |      FROM documents d CROSS JOIN b1t LEFT JOIN h0 ON h0.doc_id = d.doc_id AND h0.j = b1t.j),
         |o0 AS (SELECT h.doc_id, w2.k, sum(h.v * w2.w) AS s
         |       FROM h JOIN w2 ON w2.j = h.j GROUP BY 1, 2),
         |o AS (SELECT d.doc_id, b2t.k, COALESCE(o0.s, 0.0e0) + b2t.b AS v
         |      FROM documents d CROSS JOIN b2t LEFT JOIN o0 ON o0.doc_id = d.doc_id AND o0.k = b2t.k),
         |n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM o GROUP BY doc_id)
         |SELECT o.doc_id, CAST(o.k AS BIGINT) AS k,
         |       ROUND(CASE WHEN n.nrm > 0 THEN o.v / n.nrm ELSE o.v END, 5) AS x
         |FROM o JOIN n USING (doc_id) ORDER BY doc_id, k""".stripMargin
    },

    "embed_encoder_q" ->
      // Twin of Queries.embedEncoderQ: the FULL QuantEncoder contract
      // (QuantEncoder.scala doc — Q·2^12 fixed point, truncating BIGINT
      // division everywhere, integer polynomial softmax, integer layer
      // norm, floor-isqrt with one-step correction, one IEEE float step
      // at the end) as relational algebra. Integer sums are
      // order-independent, so every aggregation below is exact no
      // matter how DuckDB schedules it — THE property the float
      // encoder's twin can never have. Subword ids re-derive Java's
      // String.hashCode as the 31-ary rolling hash masked to unsigned
      // 32 bits (identical for the ASCII corpus; `& 255` == floorMod
      // because 256 divides 2^32); weights come from the fixture
      // closed-form formulas while the Spark side loads the artifact
      // FILE — the hash gate proves file, formulas and both engines
      // agree. The final `+ 0.0e0` normalizes IEEE negative zero:
      // DuckDB's ROUND of a tiny negative (|x| < 5e-6) yields -0.0
      // while Spark's BigDecimal HALF_UP yields +0.0 — value-equal to
      // pandas but NOT to a bit/text hash (the round-16 driver-only
      // hash mismatch: exactly 2 of 8000 cells). x + 0.0 == x for
      // every other double, so nothing else moves.
      s"""WITH $bpeChainCtes,
         |$bpeSymbolCtes,
         |sid AS MATERIALIZED (SELECT w, si, $javaHash32 & 255 AS id FROM wid),
         |qpt AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w, unnest(generate_series(0, len(ws) - 1)) AS pos
         |        FROM (SELECT doc_id, regexp_extract_all(lower(text), '$bpePretokenRegex') AS ws FROM documents)),
         |sq0 AS MATERIALIZED (SELECT doc_id, id, row_number() OVER (PARTITION BY doc_id ORDER BY pos, si) AS rn
         |        FROM qpt JOIN sid USING (w)),
         |qtok AS MATERIALIZED (SELECT doc_id, CAST(rn - 1 AS BIGINT) AS i, id FROM sq0 WHERE rn <= 64),
         |$quantForwardCtes,
         |nsq AS MATERIALIZED (SELECT doc_id, sum(p * p) AS nsq FROM pl GROUP BY doc_id),
         |ov AS MATERIALIZED (SELECT pl.doc_id, pl.j, CASE WHEN nsq.nsq = 0 THEN 0.0e0
         |        ELSE CAST(pl.p AS DOUBLE) / sqrt(CAST(nsq.nsq AS DOUBLE)) END AS x
         |       FROM pl JOIN nsq USING (doc_id))
         |SELECT d.doc_id AS doc_id, dj.j AS k, ROUND(COALESCE(ov.x, 0.0e0), 5) + 0.0e0 AS x
         |FROM documents d CROSS JOIN dj LEFT JOIN ov ON ov.doc_id = d.doc_id AND ov.j = dj.j
         |ORDER BY d.doc_id, k""".stripMargin,

    "rerank_cross_q" ->
      // Twin of Queries.rerankCrossQ — the WHOLE retrieve-then-rerank
      // pipeline: BM25 retrieval (the bm25_topk CTEs, pool = 20), then
      // the quantized cross-encoder joint forward over
      // `query ⊕ [SEP] ⊕ doc`. The query's subword ids derive from a
      // literal-text run of the SAME SQL merge chain (nothing is
      // precomputed driver-side beyond the query string itself); the
      // document's from the corpus chain; both hash with the SIGNED
      // floorMod-255 (the [SEP]-reserved vocab — the one place the
      // signed reinterpretation of the 32-bit rolling hash matters,
      // since 255 does not divide 2^32). The joint score is
      // Σ p_j·wScore_j / F — an exact dyadic rational, so neither side
      // rounds, and the (score DESC, id) order is integer-backed.
      s"""WITH $bm25Cte,
         |poolc AS MATERIALIZED (SELECT doc_id, ROUND(score, 5) AS bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20),
         |$bpeChainCtes,
         |$bpeSymbolCtes,
         |sidh AS (SELECT w, si, $javaHash32 AS hu FROM wid),
         |sid AS MATERIALIZED (SELECT w, si,
         |        (((hu - CASE WHEN hu >= 2147483648 THEN 4294967296 ELSE 0 END) % 255) + 255) % 255 AS id
         |        FROM sidh),
         |qwp AS (SELECT unnest(ws) AS w, unnest(generate_series(0, len(ws) - 1)) AS pos
         |        FROM (SELECT regexp_extract_all('$crossQueryText', '$bpePretokenRegex') AS ws)),
         |qwd AS (SELECT DISTINCT w FROM qwp),
         |${bpeMergeChain("qs", "qwd")},
         |qsym AS (SELECT w, string_split(trim(s), '  ') AS syms FROM qs$bpeStages),
         |qwid AS (SELECT w, unnest(syms) AS sub, unnest(generate_series(1, len(syms))) AS si FROM qsym),
         |qsh AS (SELECT w, si, $javaHash32 AS hu FROM qwid),
         |qsid AS (SELECT w, si,
         |        (((hu - CASE WHEN hu >= 2147483648 THEN 4294967296 ELSE 0 END) % 255) + 255) % 255 AS id
         |        FROM qsh),
         |qseq AS MATERIALIZED (SELECT id, qi FROM (
         |        SELECT id, CAST(row_number() OVER (ORDER BY pos, si) - 1 AS BIGINT) AS qi
         |        FROM qwp JOIN qsid USING (w)) WHERE qi < 16),
         |qn AS (SELECT CAST(count(*) AS BIGINT) AS qn FROM qseq),
         |dptp AS MATERIALIZED (SELECT dd0.doc_id, unnest(ws) AS w, unnest(generate_series(0, len(ws) - 1)) AS pos
         |        FROM (SELECT d.doc_id, regexp_extract_all(lower(d.text), '$bpePretokenRegex') AS ws
         |              FROM documents d JOIN poolc USING (doc_id)) dd0),
         |dseq AS MATERIALIZED (SELECT doc_id, id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos, si) AS BIGINT) AS rn
         |        FROM dptp JOIN sid USING (w)),
         |qtok AS MATERIALIZED (
         |  SELECT p.doc_id, q.qi AS i, q.id FROM poolc p CROSS JOIN qseq q
         |  UNION ALL
         |  SELECT p.doc_id, qn.qn AS i, CAST(255 AS BIGINT) AS id FROM poolc p CROSS JOIN qn
         |  UNION ALL
         |  SELECT s.doc_id, qn.qn + s.rn AS i, s.id FROM dseq s CROSS JOIN qn WHERE s.rn <= 63 - qn.qn),
         |$quantForwardCtes,
         |wsc AS (SELECT j, ((j * 23) % 5) - 2 AS w FROM dj),
         |score AS MATERIALIZED (SELECT pl.doc_id, sum(pl.p * wsc.w) AS s
         |        FROM pl JOIN wsc USING (j) GROUP BY pl.doc_id)
         |SELECT p.doc_id AS doc_id, p.bm25, CAST(sc2.s AS DOUBLE) / 4096 AS ce_score
         |FROM poolc p JOIN score sc2 USING (doc_id)
         |ORDER BY ce_score DESC, doc_id LIMIT 10""".stripMargin,

    "maxsim_search" -> {
      // Twin of Queries.maxsimSearch: the sparse MaxSim chain — chunk
      // dim-counts + norms, one-hot query terms, per-term conditional
      // max, fixed-order sum (term order) so both engines add the same
      // doubles left to right. All counts exact integers until the one
      // cnt/sqrt(ss) division, same expression shape both sides.
      val terms = Seq("spark", "filter", "join", "stream")
      val maxCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN sim END) AS m$i"
      }.mkString(",\n         |        ")
      val sumExpr = terms.indices.map(i => s"COALESCE(m$i, 0.0)").mkString(" + ")
      s"""WITH $chunkCte,
         |mst AS (SELECT doc_id, chunk_index, unnest(${toks("chunk")}) AS tok FROM ch),
         |msd AS (SELECT doc_id, chunk_index, ${bowDim("tok")} AS dim FROM mst),
         |msc AS (SELECT doc_id, chunk_index, dim, CAST(count(*) AS BIGINT) AS cnt FROM msd GROUP BY doc_id, chunk_index, dim),
         |msn AS (SELECT doc_id, chunk_index, CAST(sum(cnt * cnt) AS DOUBLE) AS ss FROM msc GROUP BY doc_id, chunk_index),
         |msq AS (SELECT term, ${bowDim("term")} AS dim FROM (SELECT unnest(${toks("'spark filter join stream'")}) AS term)),
         |mss AS (SELECT c.doc_id, q.term, CAST(c.cnt AS DOUBLE) / sqrt(n.ss) AS sim
         |        FROM msc c JOIN msq q USING (dim)
         |        JOIN msn n ON c.doc_id = n.doc_id AND c.chunk_index = n.chunk_index),
         |msp AS (SELECT doc_id,
         |        $maxCols
         |        FROM mss GROUP BY doc_id)
         |SELECT doc_id, ROUND($sumExpr, 5) AS maxsim
         |FROM msp ORDER BY maxsim DESC, doc_id LIMIT 10""".stripMargin
    },

    "semantic_search" -> semanticTwin,

    // Served-from-index variant: the docdims sidecar is a pure function
    // of the corpus, so the probe must reproduce the from-scratch flow
    // (and this same twin) exactly.
    "semantic_indexed" -> semanticTwin,

    "semantic_batch" -> semanticBatchSql,

    "embed_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${toks()}) AS term FROM documents),
         |d AS (SELECT doc_id, ${bowDim("term")} AS dim FROM tok),
         |tf AS (SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS tf FROM d GROUP BY doc_id, dim),
         |dfreq AS (SELECT dim, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY dim),
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf)
         |SELECT tf.doc_id, tf.dim, tf.tf,
         |       ROUND(tf.tf * ln(1.0 + nn.n / dfreq.df), 5) AS tfidf
         |FROM tf JOIN dfreq USING (dim) CROSS JOIN nn
         |ORDER BY tf.doc_id, tf.dim""".stripMargin,

    "stream_token_budget" ->
      // Twin of StreamPipeline.tokenBudgetSnapshot: the drained
      // complete-mode streaming aggregation must equal this batch
      // per-source rollup of REAL-BPE token counts (same enc chain as
      // bpe_tokens; budget constant shared with Queries.TokenBudget).
      s"""WITH $bpeEncCtes,
         |per_doc AS (SELECT pt.doc_id, sum(enc.n) AS n FROM pt JOIN enc USING (w) GROUP BY pt.doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
         |       CAST(sum(coalesce(p.n, 0)) AS BIGINT) AS bpe_tokens,
         |       CAST(sum(coalesce(p.n, 0)) AS BIGINT) > ${Queries.TokenBudget} AS over_budget
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "bpe_tokens" ->
      s"""WITH $bpeEncCtes
         |SELECT pt.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens, CAST(sum(enc.n) AS BIGINT) AS bpe_tokens
         |FROM pt JOIN enc USING (w)
         |GROUP BY pt.doc_id ORDER BY doc_id""".stripMargin,

    "chunk_token_budget" -> chunkTokenBudgetSql,

    "chunk_recursive" -> chunkRecursiveSql,

    "token_shards_bpe" ->
      // Sequence packing over the REAL-BPE chunk table: the full
      // chunk_token_budget twin as a nested-WITH CTE, then the same
      // running-sum shard window token_shards uses (budget 64).
      shardSql(s"ctb AS ($chunkTokenBudgetSql)", "ctb"),

    "token_counts" ->
      s"""WITH $bpeEncCtes,
         |bt AS (SELECT pt.doc_id, sum(enc.n) AS bpe FROM pt JOIN enc USING (w) GROUP BY pt.doc_id)
         |SELECT d.doc_id AS doc_id, CAST(len(${toks("d.text")}) AS BIGINT) AS ws_tokens,
         |       CAST(coalesce(bt.bpe, 0) AS BIGINT) AS bpe_tokens
         |FROM documents d LEFT JOIN bt ON d.doc_id = bt.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dsir_sample" -> {
      // Twin of Sampling.dsirResample: same md5 bucket hash (first two
      // hex chars, 256 buckets), add-one smoothed target/raw bucket
      // models, per-doc Σ n_b·(ln p̂_b − ln q̂_b), Gumbel noise from the
      // first 6 md5 hex chars. Both engines round scores to 4 dp before
      // ranking (same discipline as the BM25 twins, which already prove
      // runtime-ln parity under rounding on this box).
      def hx(s: String, i: Int) = s"(strpos('0123456789abcdef', substr($s, $i, 1)) - 1)"
      val b2 = s"CAST(${hx("md5(term)", 1)} * 16 + ${hx("md5(term)", 2)} AS BIGINT)"
      val u6 = (1 to 6).map(i => s"${hx("md5('dsir:' || CAST(doc_id AS VARCHAR))", i)} * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_t, unnest(${toks()}) AS term FROM documents),
         |bk AS (SELECT doc_id, is_t, $b2 AS b FROM tok),
         |dcnt AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS cnt FROM bk GROUP BY 1, 2),
         |rc AS (SELECT b, CAST(count(*) AS DOUBLE) AS rc FROM bk GROUP BY 1),
         |tc AS (SELECT b, CAST(count(*) AS DOUBLE) AS tc FROM bk WHERE is_t GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS r_total,
         |               CAST(count(*) FILTER (WHERE is_t) AS DOUBLE) AS t_total FROM bk),
         |model AS (SELECT rc.b,
         |                 ln((COALESCE(tc.tc, 0) + 1.0) / (t_total + 256.0))
         |                 - ln((rc.rc + 1.0) / (r_total + 256.0)) AS lr
         |          FROM rc LEFT JOIN tc ON rc.b = tc.b, tot),
         |lw AS (SELECT doc_id, ROUND(sum(cnt * lr), 4) AS log_weight
         |       FROM dcnt JOIN model ON dcnt.b = model.b GROUP BY 1),
         |g AS (SELECT doc_id, -ln(-ln((($u6) + 0.5) / 16777216.0)) AS g
         |      FROM (SELECT DISTINCT doc_id FROM bk))
         |SELECT lw.doc_id, log_weight, ROUND(log_weight + g, 4) AS sample_key
         |FROM lw JOIN g ON lw.doc_id = g.doc_id
         |ORDER BY sample_key DESC, lw.doc_id LIMIT 100""".stripMargin
    },

    "sample_stratified" ->
      """WITH r AS (SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, sample_rank FROM r
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin,

    "curation_disposition" -> {
      // Twin of Queries.curationDisposition: the same universe (corpus
      // docs >= 10 plus planted near-dup and exact-dup rows), the same
      // four drop detectors composed from their proven twin fragments
      // (sha256 groups, the minhash band/verify chain, benchmark
      // shingle contamination, per-lang quality quantile), the same
      // fixed priority.
      s"""WITH RECURSIVE
         |uni AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 10
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id,
         |         array_to_string(toks[1 : greatest(len(toks) - 5, 1)], ' ') AS text, lang
         |  FROM (SELECT doc_id, lang, ${toks()} AS toks FROM documents
         |        WHERE doc_id >= 10 AND doc_id < 25)
         |  UNION ALL
         |  SELECT doc_id + 20000 AS doc_id, text, lang FROM documents
         |  WHERE doc_id >= 10 AND doc_id % 20 = 0),
         |ex AS (SELECT doc_id FROM (
         |        SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper FROM uni)
         |       WHERE doc_id <> keeper),
         |${minhashPairBody("uni")},
         |$componentCtes,
         |nd AS (SELECT id AS doc_id FROM cl WHERE id <> cluster_id),
         |$benchShingles,
         |cs AS (SELECT doc_id, unnest(sh) AS shm FROM shx),
         |ctm AS (SELECT cs.doc_id FROM cs LEFT JOIN bs ON cs.shm = bs.shm
         |        GROUP BY cs.doc_id
         |        HAVING ROUND(CAST(count(bs.shm) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) >= 0.2),
         |${qualityCte("uni")},
         |qr AS (SELECT doc_id,
         |        ROUND(percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id), 6) AS q_rank
         |       FROM qs),
         |lq AS (SELECT doc_id FROM qr WHERE q_rank < 0.25)
         |SELECT u.doc_id,
         |       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |            WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
         |            WHEN ctm.doc_id IS NOT NULL THEN 'contaminated'
         |            WHEN lq.doc_id IS NOT NULL THEN 'low_quality'
         |            ELSE 'keep' END AS disposition
         |FROM uni u
         |LEFT JOIN ex ON u.doc_id = ex.doc_id
         |LEFT JOIN nd ON u.doc_id = nd.doc_id
         |LEFT JOIN ctm ON u.doc_id = ctm.doc_id
         |LEFT JOIN lq ON u.doc_id = lq.doc_id
         |ORDER BY u.doc_id""".stripMargin
    },

    "split_grouped" -> {
      // Twin of Sampling.groupSplit: same md5-of-(seed, group) bucket
      // arithmetic (first 4 hex chars mod 100), so every doc of a
      // source lands in one split by construction in both engines.
      def hx(i: Int) = s"(strpos('0123456789abcdef', substr(md5('split7:' || source), $i, 1)) - 1)"
      s"""WITH b AS (SELECT doc_id, source, n_chars,
         |  (${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 100 AS bucket
         |  FROM documents),
         |s AS (SELECT doc_id, source, n_chars,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split FROM b)
         |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM s GROUP BY split ORDER BY split""".stripMargin
    },

    "shuffle_shards" ->
      // Twin of Sampling.shuffleShards: the literal global row_number
      // window over the seeded md5 permutation — equality proves the
      // two-phase distributed scan IS this window.
      """WITH p AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5('42:' || doc_id), doc_id) - 1 AS BIGINT) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, pos % 4 AS shard, pos // 4 AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin,

    "mix_temperature" ->
      // Twin of Sampling.temperatureMix: keep_g = floor(sqrt(n_g*n_min))
      // — exact integers under one correctly-rounded sqrt, so both
      // engines derive identical quotas; selection is the md5-order
      // permutation shared with sample_stratified.
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g FROM documents GROUP BY lang),
        |m AS (SELECT min(n_g) AS n_min FROM c),
        |q AS (SELECT lang, n_g,
        |       least(n_g, CAST(floor(sqrt(CAST(n_g * n_min AS DOUBLE))) AS BIGINT)) AS keep_g
        |      FROM c CROSS JOIN m),
        |r AS (SELECT lang, doc_id,
        |       CAST(row_number() OVER (PARTITION BY lang
        |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS mix_rank
        |      FROM documents)
        |SELECT r.lang, r.doc_id, r.mix_rank, q.n_g, q.keep_g
        |FROM r JOIN q USING (lang) WHERE mix_rank <= keep_g
        |ORDER BY lang, mix_rank""".stripMargin,

    "token_shards" -> shardSql(chunkCte, "ch"),

    "pack_sequences" ->
      // Twin of Packing.packSequences: the literal single-threaded
      // global window the Spark side refuses to run — DuckDB's fine at
      // oracle scale, and equality proves the two-phase distributed
      // prefix sum IS that window.
      s"""WITH $packCtes
         |SELECT doc_id, n_tokens, start_offset,
         |       CAST(start_offset // 2048 AS BIGINT) AS seq_id,
         |       (start_offset % 2048) + n_tokens > 2048 AS spans
         |FROM c ORDER BY doc_id""".stripMargin,

    "pack_stats" ->
      s"""WITH $packCtes,
         |p AS (SELECT doc_id, n_tokens, CAST(start_offset // 2048 AS BIGINT) AS seq_id,
         |       (start_offset % 2048) + n_tokens > 2048 AS spans FROM c)
         |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc,
         |       CAST(sum(CASE WHEN spans THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
         |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    "dup_ngrams" ->
      // Twin of TextAnalysis.duplicatedNgrams: 5-token grams (NOT
      // distinct, NOT hashed — the census reports the text itself).
      s"""WITH tk AS (SELECT doc_id, ${toks()} AS toks FROM documents),
         |ng AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
         |         list_transform(generate_series(1, len(toks) - 4),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
         |         ELSE [] END) AS ngram FROM tk)
         |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM ng GROUP BY ngram HAVING count(*) >= 2
         |ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin,

    "events_enrich" ->
      """SELECT c.c_mktsegment AS mktsegment,
        |       CAST(epoch(date_trunc('day', e.ts)) AS BIGINT) AS day_start,
        |       CAST(count(*) AS BIGINT) AS n, ROUND(sum(e.value), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY mktsegment, day_start ORDER BY mktsegment, day_start""".stripMargin,

    "q5_region" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS line_count,
        |       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "pii_scrub" ->
      """WITH m AS (SELECT doc_id,
        |  text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ok' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 now' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS phones,
        |  md5(regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_hash
        |FROM m ORDER BY doc_id""".stripMargin,

    "contamination_check" -> contaminationTwin,

    "bloom_decontaminate" ->
      // Same twin as contamination_check: the Bloom prefilter is
      // exactness-preserving (no false negatives; false positives die
      // in the confirm join), so the scale path must reproduce the
      // exact report bit-for-bit.
      contaminationTwin,

    "containment_pairs" ->
      // Brute-force all-pairs twin over the same documents+excerpts
      // universe: the inverted-index co-occurrence join (plus the
      // rarest-prefix hot-shingle path) must lose no pair with
      // containment >= 0.8.
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, array_to_string(list_slice(${toks()}, 6, 35), ' ')
         |  FROM documents WHERE doc_id < 20),
         |tk AS (SELECT doc_id, ${toks()} AS toks FROM uni),
         |shx AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(toks) >= 5 THEN list_transform(generate_series(1, len(toks) - 4),
         |    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
         |  ELSE [] END) AS sh FROM tk),
         |s2 AS (SELECT doc_id, sh FROM shx WHERE len(sh) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4) AS containment
         |FROM s2 a JOIN s2 b ON a.doc_id <> b.doc_id
         |WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "url_dedup" ->
      // The raw-url literal matches Queries.urlDedup verbatim; the
      // canonicalization mirrors UrlOps.canonicalizeUrl rule for rule
      // (DuckDB regexp_replace is first-match-only, but every replace
      // pattern here is anchored or can match at most once).
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Example' || (doc_id % 20) || '.COM:443/Page/' || (doc_id % 100) ||
        |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |  '?utm_source=feed&sid=' || (doc_id % 5) || '&b=2&a=1#sec' || doc_id AS url
        |  FROM documents),
        |nf AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(url, '#.*', ''),
        |                 '^([a-zA-Z][a-zA-Z0-9+.-]*://)[^/@?#]*@', '\1') AS n FROM u),
        |parts AS (SELECT doc_id,
        |  lower(regexp_extract(n, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(n, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?]+)', 1)), '^www\.', '') AS host,
        |  regexp_extract(n, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?]+:([0-9]+)', 1) AS port,
        |  regexp_replace(regexp_extract(n, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+([^?]*)', 1), '/+$', '') AS pathstrip,
        |  list_filter(str_split(regexp_extract(n, '\?(.*)$', 1), '&'),
        |              p -> p <> '' AND NOT starts_with(p, 'utm_')
        |                   AND NOT starts_with(p, 'fbclid=') AND NOT starts_with(p, 'gclid=')) AS params
        |  FROM nf),
        |c AS (SELECT doc_id,
        |  scheme || '://' || host ||
        |  CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
        |            OR (scheme = 'http' AND port = '80') THEN '' ELSE ':' || port END ||
        |  CASE WHEN pathstrip = '' THEN '/' ELSE pathstrip END ||
        |  CASE WHEN len(params) > 0 THEN '?' || array_to_string(list_sort(params), '&') ELSE '' END
        |  AS canonical_url FROM parts)
        |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keeper,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    "fuzzy_join" ->
      // Brute-force all-pairs twin: the Spark side's FastSS
      // deletion-neighborhood blocking must lose NO pair within the
      // distance threshold, so the O(n²) oracle is exactly the spec.
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS digest,
        |       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_w,
        |       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_audio" ->
      // closed-form twin of the real RIFF encode -> parse -> RMS
      // pipeline over constant-amplitude PCM (see Multimodal.synthWav)
      """SELECT doc_id, 'wav' AS format, 1 AS channels, 8000 AS sample_rate,
        |       CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
        |       CAST((100 + doc_id % 400) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |       ROUND(CAST((doc_id % 100) * 300 AS DOUBLE) / 32768.0, 5) AS rms
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_mp3" ->
      // closed-form twin of the VBR frame-header walk (see
      // Multimodal.synthMp3): duration is integer sample math, exactly
      // the parser's Long arithmetic
      """SELECT doc_id, 'mp3' AS format,
        |       CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
        |       44100 AS sample_rate,
        |       CAST(5 + doc_id % 40 AS BIGINT) AS n_frames,
        |       CAST((5 + doc_id % 40) * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_webp" ->
      // closed-form twin of the VP8L header parse (Multimodal.synthWebp)
      """SELECT doc_id, 'webp' AS format,
        |       CAST(16 + doc_id % 100 AS INT) AS width,
        |       CAST(9 + doc_id % 50 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_embed" -> {
      // closed-form twin of the real decode -> 2x2-patch-mean ->
      // fixed-projection -> L2 pipeline over solid-color images: every
      // patch mean equals the (r,g,b) constants, so the projection
      // reduces to per-channel coefficient sums (integer literals from
      // Multimodal.projCoef — the same matrix the operator applies).
      val chans = (0 until 8).map { k =>
        val a = (0 until 4).map(p => graft.operators.Multimodal.projCoef(k, p * 3)).sum
        val b = (0 until 4).map(p => graft.operators.Multimodal.projCoef(k, p * 3 + 1)).sum
        val c = (0 until 4).map(p => graft.operators.Multimodal.projCoef(k, p * 3 + 2)).sum
        s"(($a) * r + ($b) * g + ($c) * b)"
      }
      s"""WITH base AS (SELECT doc_id,
         |        CAST((doc_id * 3) % 256 AS DOUBLE) AS r,
         |        CAST((doc_id * 7) % 256 AS DOUBLE) AS g,
         |        CAST((doc_id * 11) % 256 AS DOUBLE) AS b FROM documents),
         |raw AS (SELECT doc_id, [${chans.mkString(", ")}] AS rv FROM base),
         |nn AS (SELECT doc_id, rv, sqrt(list_dot_product(rv, rv)) AS nrm FROM raw),
         |e AS (SELECT doc_id, rv, nrm, unnest(generate_series(0, 7)) AS k FROM nn)
         |SELECT doc_id, CAST(k AS BIGINT) AS k,
         |       ROUND(CASE WHEN nrm > 0 THEN rv[k + 1] / nrm ELSE rv[k + 1] END, 5) AS x
         |FROM e ORDER BY doc_id, k""".stripMargin
    },

    "multimodal_image" ->
      // closed-form twin of the real PNG encode -> ImageIO decode ->
      // pixel-mean pipeline over solid-color images (Multimodal.synthPng)
      """SELECT doc_id, 'png' AS format,
        |       CAST(4 + doc_id % 16 AS INTEGER) AS width,
        |       CAST(3 + doc_id % 8 AS INTEGER) AS height,
        |       3 AS channels,
        |       ROUND(CAST((doc_id * 3) % 256 AS DOUBLE), 5) AS mean_r,
        |       ROUND(CAST((doc_id * 7) % 256 AS DOUBLE), 5) AS mean_g,
        |       ROUND(CAST((doc_id * 11) % 256 AS DOUBLE), 5) AS mean_b,
        |       ROUND(0.299 * CAST((doc_id * 3) % 256 AS DOUBLE)
        |             + 0.587 * CAST((doc_id * 7) % 256 AS DOUBLE)
        |             + 0.114 * CAST((doc_id * 11) % 256 AS DOUBLE), 5) AS luma
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(sum(l_quantity), 2) AS sum_qty,
        |       ROUND(sum(l_extendedprice), 2) AS sum_base,
        |       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_orders" ->
      """SELECT o_orderkey, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "zorder_scan" ->
      // Layout-invariant twin: the Z-order rewrite never changes rows,
      // so the oracle is the same 2-D box over the raw table. Minute
      // arithmetic mirrors the nanos-DIV exactly (integer seconds // 60).
      """WITH e AS (SELECT user_id, value,
        |  CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60 - 28401120 AS minute
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n, ROUND(sum(value), 2) AS total_value
        |FROM e WHERE user_id BETWEEN 40 AND 60 AND minute BETWEEN 14400 AND 17280
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n, ROUND(sum(value), 2) AS total_value
        |FROM events GROUP BY hour_start, event_type ORDER BY hour_start, event_type""".stripMargin,

    "events_interval_join" ->
      // The NAIVE range join is the spec: the Spark side's
      // bin-bucketing must produce exactly these pairs.
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS t, event_type, value FROM events),
        |w AS (SELECT event_id AS win_id, t AS w_start, t + 300000 AS w_end
        |      FROM e WHERE event_type = 'error'),
        |c AS (SELECT event_id AS click_id, t, value FROM e WHERE event_type = 'click')
        |SELECT win_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |       ROUND(sum(value), 2) AS click_value
        |FROM c JOIN w ON c.t BETWEEN w.w_start AND w.w_end
        |GROUP BY win_id ORDER BY win_id""".stripMargin,

    "events_asof" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type,
        |             CASE WHEN event_type = 'error' THEN epoch_ms(ts) END AS err_t
        |           FROM events),
        |f AS (SELECT user_id, event_id, t, event_type,
        |       max(err_t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_t
        |      FROM o)
        |SELECT user_id, event_id AS purchase_id, t, last_err_t
        |FROM f WHERE event_type = 'purchase' ORDER BY user_id, purchase_id""".stripMargin,

    "events_asof_join" ->
      """WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS t, event_type, value FROM events),
        |l AS (SELECT user_id, event_id, t, 1 AS side, CAST(NULL AS DOUBLE) AS rv
        |      FROM o WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, CAST(NULL AS BIGINT) AS event_id, t, 0 AS side, ROUND(value, 2) AS rv
        |      FROM o WHERE event_type = 'click'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |m AS (SELECT user_id, event_id, t, side,
        |       max(CASE WHEN side = 0 THEN struct_pack(t := t, rv := rv) END)
        |         OVER (PARTITION BY user_id ORDER BY t, side
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |      FROM u)
        |SELECT user_id, event_id AS purchase_id, t, carried.rv AS last_click_value
        |FROM m WHERE side = 1 ORDER BY user_id, purchase_id""".stripMargin,

    "events_json" ->
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |       CAST(count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS BIGINT) AS null_k,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_percentiles" ->
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |       ROUND(quantile_cont(value, 0.9), 4) AS p90,
        |       ROUND(quantile_cont(value, 0.99), 4) AS p99,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_rollup" ->
      """SELECT event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
        |       CAST(count(*) AS BIGINT) AS n, ROUND(sum(value), 2) AS total_value
        |FROM events GROUP BY ROLLUP(event_type, day_start)
        |ORDER BY event_type ASC NULLS FIRST, day_start ASC NULLS FIRST""".stripMargin,

    "events_pivot" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        |       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
        |       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        |       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_skew_join" ->
      """WITH f AS (SELECT CASE WHEN user_id % 10 = 0 THEN 1 ELSE user_id END AS key, value FROM events)
        |SELECT c_mktsegment AS mktsegment, CAST(count(*) AS BIGINT) AS n,
        |       ROUND(sum(value), 2) AS total_value
        |FROM f JOIN customer ON key = c_custkey
        |GROUP BY mktsegment ORDER BY mktsegment""".stripMargin,

    "skew_stats" ->
      // Twin of Skew.keyStats over the planted-hot-key column: per-key
      // counts, exact-long totals (Σc, Σc², max, top-10 sum), the
      // three ratios as single double divisions rounded to 5 dp.
      """WITH f AS (SELECT CASE WHEN user_id % 10 = 0 THEN 1 ELSE user_id END AS key FROM events),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY key),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(c) AS BIGINT) AS max_count, CAST(sum(c * c) AS BIGINT) AS sumsq FROM c),
        |top AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS topk
        |        FROM (SELECT c FROM c ORDER BY c DESC, key LIMIT 10))
        |SELECT n_rows, n_keys, max_count,
        |       ROUND(CAST(max_count AS DOUBLE) / n_rows, 5) AS max_share,
        |       ROUND(CAST(topk AS DOUBLE) / n_rows, 5) AS top10_share,
        |       ROUND(sqrt(CAST(n_keys AS DOUBLE) * CAST(sumsq AS DOUBLE) -
        |                  CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) / CAST(n_rows AS DOUBLE), 5) AS cv
        |FROM tot, top""".stripMargin,

    "events_funnel" ->
      // Twin of Events.funnel: the literal per-stage join-back
      // formulation; equality proves the one-pass window stack
      // implements it.
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS tv FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS tc FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.t > v.tv GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS tp FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.t > c.tc GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'view' AS stage, CAST(0 AS BIGINT) AS stage_index,
        |         CAST((SELECT count(*) FROM v) AS BIGINT) AS users
        |  UNION ALL
        |  SELECT 'click', CAST(1 AS BIGINT), CAST((SELECT count(*) FROM c) AS BIGINT)
        |  UNION ALL
        |  SELECT 'purchase', CAST(2 AS BIGINT), CAST((SELECT count(*) FROM p) AS BIGINT))
        |ORDER BY stage_index""".stripMargin,

    "events_retention" ->
      // Twin of Events.retention: (user, day) distinct → cohort = min
      // day per user → users per (cohort, offset).
      """WITH d AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort FROM d)
        |SELECT cohort, day - cohort AS day_offset, CAST(count(*) AS BIGINT) AS users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_paths" ->
      // Same sessionization CTEs as events_sessionize, then two leads
      // over the same user-ordered window; a path counts only when all
      // three steps share the user's session id.
      s"""WITH $sessionCtes,
        |p AS (SELECT user_id, sid, event_type AS s0,
        |       lead(event_type, 1) OVER w AS s1, lead(event_type, 2) OVER w AS s2,
        |       lead(sid, 1) OVER w AS g1, lead(sid, 2) OVER w AS g2
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT s0 || '>' || s1 || '>' || s2 AS path,
        |       CAST(count(*) AS BIGINT) AS occurrences,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p WHERE g1 = sid AND g2 = sid
        |GROUP BY 1 ORDER BY occurrences DESC, path LIMIT 20""".stripMargin,

    "events_sessionize" ->
      s"""WITH $sessionCtes
        |SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS sessions,
        |       CAST(count(*) AS BIGINT) AS events,
        |       ROUND(CAST(count(*) AS DOUBLE) / CAST(count(DISTINCT sid) AS DOUBLE), 4) AS avg_session_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin
  )

  /** Twins COMPOSED from other entries' SQL (static, but defined after
    * the base map so they can embed proven twins as subqueries —
    * DuckDB allows a WITH inside a parenthesized subquery). Every
    * output column is an exact integer count, so the composition adds
    * zero float-parity risk on top of its already-verified parts.
    */
  def composed: Map[String, String] = Map(
    // the streamed scrub lands the same per-doc results as the batch
    // operator (batch-invariant given a static benchmark) — one twin
    "stream_decontaminate" -> sql("decontaminate_spans"),
    // per-doc-pure signatures make delta batching invisible to the
    // pair sweep — the incremental store equals the one-shot LSH
    "dedup_minhash_incremental" -> sql("dedup_minhash_lsh"),
    // same argument with micro-batches as the deltas
    "stream_minhash" -> sql("dedup_minhash_lsh"),
    // per-doc modification rules make the streamed CDC segments merge
    // to the same table as the batch upsert→revise→delete flow
    "stream_upsert_cdc" -> sql("chunkstore_read"),
    // per-user in-order state updates compute the same ordered-stage
    // chain as the batch window stack — one twin
    "stream_funnel" -> sql("events_funnel"),
    // append-mode emission of each newly seen (user, day) makes the
    // sink's (cohort, offset) count equal the batch distinct-then-count
    "stream_retention" -> sql("events_retention"),
    // per-user trailing-window state emits each in-session path once,
    // so the drained top-k is the batch report — one twin, two keys
    "stream_paths" -> sql("events_paths"),
    // each arriving click matches the STATIC window table
    // independently of batching — drained agg shares the batch twin
    "stream_interval_join" -> sql("events_interval_join"),
    // term counts are a monoid: per-batch partials merge by summation
    // to the batch counts, so the drift arithmetic shares one twin
    "stream_drift" -> sql("corpus_drift"),
    // Misra-Gries completeness is over ANY cell decomposition — the
    // per-batch candidate union feeds the same exact drain recount,
    // so the streamed face shares the batch GROUP BY + HAVING twin
    "stream_heavy_hitters" -> sql("heavy_hitters"),
    // micro-batch FTS appends accumulate to exactly the one-shot index
    // (sumDl arithmetic + per-posting df/tf/dl), so the merged probe
    // shares the full-corpus twin
    "stream_bm25" -> sql("bm25_topk"),
    // per-doc-pure pooled rows: micro-batch sidecar appends equal the
    // one-shot build, so the streamed probe shares the docsim twin
    "stream_docsim" -> sql("docsim_topk"),
    // pooled rows are per-doc pure, so the base+delta sidecar is
    // row-identical to a one-shot build — the probe shares one twin
    "docsim_incremental" -> sql("docsim_topk"),
    "curation_report" ->
      s"""SELECT d.source,
         |       CAST(count(*) AS BIGINT) AS docs,
         |       CAST(sum(CASE WHEN c4.keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_c4,
         |       CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_gopher,
         |       CAST(sum(CASE WHEN r.keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_repetition,
         |       CAST(sum(CASE WHEN m.keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_model,
         |       CAST(sum(CASE WHEN p.bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS ppl_head,
         |       CAST(sum(CASE WHEN p.bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS ppl_middle,
         |       CAST(sum(CASE WHEN p.bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS ppl_tail
         |FROM documents d
         |JOIN (${sql("c4_filters")}) c4 USING (doc_id)
         |JOIN (${sql("gopher_quality")}) g USING (doc_id)
         |JOIN (${sql("repetition_stats")}) r USING (doc_id)
         |JOIN (${sql("quality_model")}) m USING (doc_id)
         |JOIN (${sql("perplexity_filter")}) p USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CrawlOps
import graft.plans.BpeMerges

/** Crawl-side extraction family — the operators UPSTREAM of every
  * dedup/quality query in this engine: HTML → main text (q162), URL
  * canonicalization + host grouping (q163), and the full BPE
  * tokenizer lifecycle — char apply (q164), distributed training
  * (q165), byte-level apply (q166), train→apply end to end (q168),
  * byte-level training (q169). The fixture convention is the multimodal
  * one (q96/q101/q117): the raw input (HTML page, crawl URL) is
  * synthesized DETERMINISTICALLY from the documents row, the engine
  * runs the real extraction operator over it, and the DuckDB oracle
  * checks against ground truth it can derive from the same row — so
  * the differential exercises the operator, not the fixture.
  */
object CrawlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic crawled-page fixture for one documents row: head
    * with title/style/script, a comment, an all-links nav, the
    * content paragraph (with an in-prose link, an `&amp;` entity and
    * an escaped `&lt;raw&gt;` tag-lookalike), an appendix paragraph
    * for every third doc, an ad block for every second doc, and an
    * all-links footer. Boilerplate outweighs content in block count —
    * the realistic shape.
    */
  /** Entity-escape text for embedding in the HTML fixture — what any
    * real page does to its content, and what makes the oracle's
    * ground truth (the RAW text) correct for ANY corpus: a document
    * containing `<`, `>` or `&` round-trips through the engine's
    * strip+decode back to itself instead of being eaten as a tag.
    * `&` first, or the other two would be double-escaped.
    */
  private def escaped(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(text) { case (c, (ch, e)) => regexp_replace(c, s"\\$ch", e) }

  private def htmlFixture(docId: org.apache.spark.sql.Column,
      rawText: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val text = escaped(rawText)
    concat(
      lit("<html><head><title>Doc "), docId,
      lit("</title><style>p{margin:0}</style><script>var x=1;</script></head>"),
      lit("<body><!-- crawler:generated -->"),
      lit("<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a></div>"),
      lit("<p>"), text,
      lit(" see <a href=\"/ref\">reference</a> notes &amp; more &lt;raw&gt;</p>"),
      when(docId % 3 === 0,
        concat(lit("<p>appendix for "), source, lit("</p>"))).otherwise(lit("")),
      when(docId % 2 === 0,
        lit("<div class=\"ads\"><a href=\"/buy\">Buy</a> <a href=\"/now\">Now</a></div>"))
        .otherwise(lit("")),
      lit("<div class=\"footer\"><a href=\"/terms\">Terms</a>" +
        " <a href=\"/privacy\">Privacy</a></div></body></html>"))
  }

  /** q162 — HTML boilerplate strip ([[CrawlOps.extractMainText]]):
    * head/script/style/comment removal, block segmentation,
    * link-density filtering, tag strip, entity decode. Stateless
    * map-only scan (PlanSpec: no exchange before the presentation
    * sort) — at 100 TB this runs at scan parallelism on the raw crawl
    * and fuses into the downstream dedup's first aggregation.
    */
  def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpreadLocal(s, dir, "documents")
    docs
      .select($"doc_id",
        CrawlOps.extractMainText(
          htmlFixture($"doc_id", $"text", $"source")).as("x"))
      .select($"doc_id", $"x.clean_text", $"x.n_blocks_kept", $"x.n_blocks_dropped")
      .orderBy($"doc_id")
  }

  /** Ground truth by construction: the content paragraph's visible
    * text (with the fixture's suffix, entities decoded), the appendix
    * when present; nav + footer (+ ads when present) are the dropped
    * blocks. Text whitespace is collapsed exactly as the engine's
    * block normalization does; the outer ltrim mirrors the engine's
    * per-block trim when the document text itself is empty or
    * whitespace-only (the suffix then leads the block).
    */
  val htmlExtractSql: String =
    """SELECT doc_id,
      |  ltrim(trim(regexp_replace(text, '\s+', ' ', 'g'))
      |    || ' see reference notes & more <raw>'
      |    || CASE WHEN doc_id % 3 = 0 THEN ' appendix for ' || source ELSE '' END)
      |    AS clean_text,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks_kept,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_blocks_dropped
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic crawl-URL fixture: scheme/host case, `www.`,
    * default and non-default ports, trailing slashes, tracking
    * params, param order and fragments all vary per row — the messy
    * surface a crawler actually sees for one logical URL.
    */
  private def urlFixture(docId: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column,
      lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      element_at(array(lit("HTTPS"), lit("https"), lit("HTTP"), lit("http")),
        (docId % 4 + 1).cast("int")),
      lit("://"),
      when(docId % 2 === 0, lit("WWW.")).otherwise(lit("")),
      source, lit(".Example.COM"),
      element_at(array(lit(":443"), lit(":80"), lit(":8080"), lit(""), lit("")),
        (docId % 5 + 1).cast("int")),
      lit("/Docs/"), docId % 50,
      when(docId % 3 === 0, lit("/")).otherwise(lit("")),
      element_at(array(
        concat(lit("?utm_source=feed&b="), lang, lit("&a=1")),
        concat(lit("?a=1&b="), lang),
        lit("")), (docId % 3 + 1).cast("int")),
      when(docId % 7 === 0, lit("#Section-2")).otherwise(lit("")))

  /** q163 — URL canonicalization + host-level grouping
    * ([[CrawlOps.canonicalUrl]]): the q23-class exact dedup on the
    * CANONICAL url, rolled up per registrable host. The canonical
    * form is computed in the scan projection, so the only exchanges
    * are count_distinct's standard pair — partial agg by (host,
    * canon), then the host rollup over already-deduped keys
    * (CrawlSpec pins exactly two) — and at 100 TB the map side
    * partially aggregates before either shuffle.
    */
  def urlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpreadLocal(s, dir, "documents")
    val urls = docs.select(
      urlFixture($"doc_id", $"source", $"lang").as("url"))
    urls
      .select(CrawlOps.canonicalHost($"url").as("host"),
        CrawlOps.canonicalUrl($"url").as("canon"))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct($"canon").as("n_urls"),
        min($"canon").as("sample_url"))
      .orderBy($"host")
  }

  /** Ground truth replays the canonicalization RULES on the fixture
    * arithmetic (not a parser): scheme case folds to its variant
    * class, `www.` drops, ports survive only when non-default FOR
    * THAT SCHEME (the http+443 / https+80 cross cases are the point),
    * trailing slash and fragment drop, `utm_*` drops and the rest
    * sorts.
    */
  val urlCanonicalizeSql: String =
    """WITH c AS (
      |  SELECT doc_id, source || '.example.com' AS host,
      |    CASE WHEN doc_id % 4 <= 1 THEN 'https' ELSE 'http' END
      |      || '://' || source || '.example.com'
      |      || CASE WHEN doc_id % 5 = 2 THEN ':8080'
      |              WHEN doc_id % 5 = 0 AND doc_id % 4 >= 2 THEN ':443'
      |              WHEN doc_id % 5 = 1 AND doc_id % 4 <= 1 THEN ':80'
      |              ELSE '' END
      |      || '/Docs/' || CAST(doc_id % 50 AS VARCHAR)
      |      || CASE WHEN doc_id % 3 <= 1 THEN '?a=1&b=' || lang ELSE '' END
      |      AS canon
      |  FROM documents)
      |SELECT host, count(*) AS n_docs,
      |  count(DISTINCT canon) AS n_urls, min(canon) AS sample_url
      |FROM c GROUP BY host ORDER BY host""".stripMargin

  /** q164 — BPE tokenizer-apply ([[graft.plans.BpeEncode]]): real
    * merge-table tokenization per document, one codegen scan with the
    * bounded merge table as an expression constant. Closes the gap
    * between the q20 `chars/4` token ESTIMATE and actual token
    * budgeting (q92/q121). The signature column makes the gate
    * sensitive to every token boundary, not just the count.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    docs
      // null text behaves as empty (0 tokens, md5('')) — bpe_encode
      // is null-propagating, and the oracle's LEFT JOIN emits 0/''
      // for any doc with no words, so the two must agree here
      .select($"doc_id", coalesce(BpeMerges.bpeEncode($"text"), lit("")).as("toks"))
      .select($"doc_id",
        // empty/whitespace-only text must read 0 tokens (split("")
        // yields [""] = a phantom token that would inflate budgets)
        when($"toks" === "", lit(0L))
          .otherwise(size(split($"toks", " ")).cast("long")).as("n_tokens"),
        md5($"toks").as("tok_sig"))
      .orderBy($"doc_id")
  }

  /** The oracle replays the TRUE tokenizer loop (lowest-rank
    * applicable pair, merged exhaustively, repeat) as a recursive CTE
    * over the distinct word vocabulary — including the table's
    * deliberate rank inversion (ranks 6/7), so a once-per-merge
    * shortcut in the engine diverges on `scan`. Merge ranks here are
    * 1-based; the engine's 0-based indices order identically.
    */
  lazy val bpeApplySql: String =
    s"""WITH RECURSIVE
      |merges(rk, ma, mb) AS (
      |  SELECT * FROM (VALUES
      |    (1,'e','r'),(2,'t','a'),(3,'ta','b'),(4,'l','e'),(5,'tab','le'),
      |    (6,'s','ca'),(7,'c','a'),(8,'sca','n'),(9,'i','n'),(10,'o','w'),
      |    (11,'in','d'),(12,'w','ind'),(13,'wind','ow'),(14,'v','a'),(15,'va','l'),
      |    (16,'u','e'),(17,'val','ue'),(18,'s','t'),(19,'st','r'),(20,'e','a'),
      |    (21,'str','ea'),(22,'strea','m'),(23,'r','t'),(24,'o','rt'),(25,'s','ort')
      |  ) m(rk, ma, mb)),
      |words AS (
      |  SELECT doc_id, i, w[i] AS word
      |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents) d,
      |  LATERAL UNNEST(generate_series(1, len(w))) AS t(i)
      |  WHERE w[i] <> ''),
      |vocab AS (SELECT DISTINCT word FROM words),
      |init AS (
      |  SELECT word, array_to_string(list_transform(range(1, len(word) + 1),
      |    i -> substr(word, CAST(i AS INT), 1)), ' ') AS toks
      |  FROM vocab),
      |bpe(word, toks, step) AS (
      |  SELECT word, toks, 0 FROM init
      |  UNION ALL
      |  SELECT b.word,
      |    trim(replace(' ' || b.toks || ' ',
      |      ' ' || m.ma || ' ' || m.mb || ' ', ' ' || m.ma || m.mb || ' ')),
      |    b.step + 1
      |  FROM bpe b, LATERAL (
      |    SELECT ma, mb FROM merges
      |    WHERE strpos(' ' || b.toks || ' ', ' ' || ma || ' ' || mb || ' ') > 0
      |    ORDER BY rk LIMIT 1) m),
      |fin AS (
      |  SELECT word, toks FROM bpe
      |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY step DESC) = 1),
      |${perDocTokensSql("fin")}""".stripMargin

  /** q166 — BYTE-level BPE apply ([[graft.plans.BpeEncode]] byte
    * mode): seed tokens are the UTF-8 bytes of each word rendered
    * through the GPT-2 byte→unicode table ([[graft.plans.GptBytes]]),
    * so multi-byte text tokenizes without char-level assumptions.
    * The fixture appends deterministic non-ASCII words (2- and 3-byte
    * UTF-8 code points) to every document, and the merge table spans
    * multi-byte sequences: 'é' is the byte pair (0xC3,0xA9) → mapped
    * chars ('Ã','©') → merged by rank 2, then folded into 'café';
    * 'ß' shares the 0xC3 lead byte with 'é' (rank interplay), and
    * '€' (3-byte) merges through two ranks. Same plan shape as q164:
    * one map-only codegen scan, merge table as expression constant.
    */
  private[graft] val byteMerges: Seq[(String, String)] = Seq(
    "e" -> "r",
    "Ã" -> "©", // 0xC3 0xA9 = 'é'
    "c" -> "a",
    "ca" -> "f",
    "caf" -> "Ã©", // café
    "Ã" -> "Ł", // 0xC3 0x9F = 'ß' (0x9F excluded → U+0141)
    // rank-7/8 INVERSION TRAP: merging (a,b) creates (ab,a)
    // occurrences of LOWER rank mid-word — on 'abab' an oracle that
    // re-selects lowest rank after each single merge reads 'aba b',
    // the engine (exhaust-then-rescan) reads 'ab ab' (CrawlSpec
    // replays the unpinned strategy and asserts divergence)
    "ab" -> "a",
    "a" -> "b",
    "s" -> "t",
    "â" -> "Ĥ", // 0xE2 0x82 of '€' (0x82 excluded → U+0124)
    "âĤ" -> "¬", // + 0xAC completes '€'
    "st" -> "r")

  /** Deterministic multi-byte fixture text: every doc gets ' café '
    * plus the inversion-trap word 'abab' plus one of four
    * accent/3-byte words keyed on doc_id. */
  private def accented(text: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(coalesce(text, lit("")), lit(" café abab "),
      element_at(array(lit("π"), lit("straße"),
        lit("Œuvre"), lit("€100 ababa")), (docId % 4 + 1).cast("int")))

  def bpeBytes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    docs
      .select($"doc_id",
        coalesce(BpeMerges.bpeEncodeBytes(
          accented($"text", $"doc_id"), byteMerges), lit("")).as("toks"))
      .select($"doc_id",
        when($"toks" === "", lit(0L))
          .otherwise(size(split($"toks", " ")).cast("long")).as("n_tokens"),
        md5($"toks").as("tok_sig"))
      .orderBy($"doc_id")
  }

  /** The oracle seeds from UTF-8 bytes computed OUT OF code points
    * (`unicode()` + the RFC 3629 arithmetic, 1–4 byte forms), maps
    * each byte through the GPT-2 table as `chr()` arithmetic
    * (printable bytes keep their code point; excluded bytes 0–32,
    * 127–160, 173 map to 256+rank in ascending byte order), then
    * replays the merge loop with a PINNED-pair recursive CTE: the
    * engine selects the lowest-rank pair present and merges ALL its
    * occurrences before re-scanning, so the recursion keeps merging
    * the current pair (leftmost occurrence at a time ≡ one
    * left-to-right pass) while it remains, and only then re-selects
    * by rank. An unpinned lowest-rank re-selection after each single
    * merge would diverge whenever a merge creates a LOWER-rank pair
    * mid-word — the q164 oracle never meets that case, but the byte
    * table here does (the 0xC3-lead interplay), so the pin is
    * load-bearing.
    */
  lazy val bpeBytesSql: String =
    s"""WITH RECURSIVE
      |merges(rk, ma, mb) AS (
      |  SELECT * FROM (VALUES
      |    (1,'e','r'),(2,'Ã','©'),(3,'c','a'),(4,'ca','f'),
      |    (5,'caf','Ã©'),(6,'Ã','Ł'),(7,'ab','a'),(8,'a','b'),
      |    (9,'s','t'),(10,'â','Ĥ'),(11,'âĤ','¬'),(12,'st','r')
      |  ) m(rk, ma, mb)),
      |$accentedDocsSql,
      |words AS MATERIALIZED (
      |  SELECT doc_id, i, w[i] AS word
      |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM docs2) d,
      |  LATERAL UNNEST(generate_series(1, len(w))) AS t(i)
      |  WHERE w[i] <> ''),
      |vocab AS MATERIALIZED (SELECT DISTINCT word FROM words),
      |init AS MATERIALIZED (
      |  SELECT word, $byteSeedSql AS toks
      |  FROM vocab),
      |bpe(word, toks, cma, cmb) AS (
      |  SELECT word, ' ' || toks || ' ', '', '' FROM init
      |  UNION ALL
      |  SELECT b.word,
      |    substr(b.toks, 1, strpos(b.toks, ' ' || m.ma || ' ' || m.mb || ' ') - 1)
      |      || ' ' || m.ma || m.mb || ' '
      |      || substr(b.toks, strpos(b.toks, ' ' || m.ma || ' ' || m.mb || ' ')
      |                        + len(' ' || m.ma || ' ' || m.mb || ' ')),
      |    m.ma, m.mb
      |  FROM bpe b, LATERAL (
      |    SELECT ma, mb FROM merges
      |    WHERE strpos(b.toks, ' ' || ma || ' ' || mb || ' ') > 0
      |    ORDER BY CASE WHEN ma = b.cma AND mb = b.cmb THEN -1 ELSE rk END
      |    LIMIT 1) m),
      |fin AS MATERIALIZED (
      |  SELECT word, trim(toks) AS toks FROM bpe b
      |  WHERE NOT EXISTS (SELECT 1 FROM merges m
      |    WHERE strpos(b.toks, ' ' || m.ma || ' ' || m.mb || ' ') > 0)),
      |${perDocTokensSql("fin")}""".stripMargin

  /** q165 — distributed BPE tokenizer TRAINING
    * ([[graft.operators.BpeTrainer]]): learn the first [[TrainMerges]]
    * merges from the documents corpus — the artifact-production step
    * q164 consumes. One corpus-scale word-frequency aggregation, then
    * vocab-sized rounds (pair count → deterministic argmax → one
    * codegen merge pass) with the vocabulary frame under
    * `Checkpoints.stable`. Output is the learned merge table itself:
    * `(rk, lhs, rhs, pair_count)`.
    */
  val TrainMerges = 12

  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer.learnTable(
      Tables.loadSpread(s, dir, "documents"), "text", TrainMerges)

  /** The oracle replays the TRAINING loop — the q164 recursive-CTE
    * pattern inverted: [[TrainMerges]] unrolled steps, each one (a)
    * counting adjacent token pairs over the current vocabulary
    * weighted by word frequency (overlapping positions, the standard
    * BPE count), (b) selecting the argmax with the engine's exact
    * tie-break (`cnt DESC, 'left right' ASC` — byte order, identical
    * in Spark and DuckDB for ASCII), and (c) re-tokenizing the vocab
    * by merging the chosen pair LEFTMOST-occurrence-at-a-time via a
    * recursive CTE with substring surgery. Leftmost-at-a-time equals
    * the engine's single left-to-right pass: after a merge every
    * remaining occurrence is to its right, and a merged token can
    * never recreate the pair with a neighbor (it differs from both
    * halves by length) — whereas a plain replace-all would silently
    * skip back-to-back occurrences (its scan consumes the shared
    * delimiter space), which is why the surgery is load-bearing.
    */
  /** The shared per-document presentation tail: join positioned words
    * to a tokenized vocabulary relation `tokRel(word, toks)`, then
    * emit `(doc_id, n_tokens, tok_sig)` per document — identical in
    * q164/q166/q168, factored so the tokenization-presentation
    * convention can never drift between oracles that share it.
    * `documents` is always the id universe (LEFT JOIN: a doc with no
    * words reads 0 tokens / md5('')).
    */
  private def perDocTokensSql(tokRel: String): String =
    s"""wt AS (SELECT w.doc_id, w.i, f.toks FROM words w JOIN $tokRel f USING (word))
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(len(string_split(wt.toks, ' '))), 0) AS BIGINT) AS n_tokens,
       |  md5(coalesce(string_agg(wt.toks, ' ' ORDER BY wt.i), '')) AS tok_sig
       |FROM documents d LEFT JOIN wt ON wt.doc_id = d.doc_id
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Per-word seed-tokenization SQL expressions over a `word` column:
    * char-level (one token per CODE POINT — `substr`/`len` are
    * code-point-wise, matching the engine's split(word, "") and
    * BpeEncode's code-point apply seeding) and byte-level (UTF-8
    * bytes computed from code points via the RFC 3629 arithmetic,
    * each byte rendered through the GPT-2 table as `chr()` arithmetic
    * — the [[graft.plans.GptBytes]] mirror, shared by q166 and q169).
    */
  private lazy val charSeedSql =
    """array_to_string(list_transform(range(1, len(word) + 1),
      |      i -> substr(word, CAST(i AS INT), 1)), ' ')""".stripMargin

  private lazy val byteSeedSql =
    """array_to_string(list_transform(
      |    flatten(list_transform(
      |      list_transform(range(1, len(word) + 1),
      |        i -> unicode(substr(word, CAST(i AS INT), 1))),
      |      u -> CASE
      |        WHEN u < 128 THEN [u]
      |        WHEN u < 2048 THEN [192 + u // 64, 128 + u % 64]
      |        WHEN u < 65536 THEN
      |          [224 + u // 4096, 128 + (u // 64) % 64, 128 + u % 64]
      |        ELSE [240 + u // 262144, 128 + (u // 4096) % 64,
      |              128 + (u // 64) % 64, 128 + u % 64] END)),
      |    b -> chr(CASE
      |      WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
      |        OR (b BETWEEN 174 AND 255) THEN b
      |      WHEN b <= 32 THEN 256 + b
      |      WHEN b = 173 THEN 256 + 67
      |      ELSE 256 + 33 + (b - 127) END)), ' ')""".stripMargin

  /** The multi-byte fixture corpus as a CTE — the SQL mirror of
    * [[accented]], shared by q166 (byte apply) and q169 (byte train).
    */
  private lazy val accentedDocsSql =
    """docs2 AS MATERIALIZED (
      |  SELECT doc_id, coalesce(text, '') || ' café abab ' ||
      |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'π'
      |      WHEN 1 THEN 'straße' WHEN 2 THEN 'Œuvre'
      |      ELSE '€100 ababa' END AS text
      |  FROM documents)""".stripMargin

  /** The shared training chain (positioned words → seeded vocab → n
    * unrolled merge steps): q165/q169 read the selected pairs off it,
    * q168 reads the FINAL tokenized vocabulary. Positions ride the
    * words CTE so the pipeline variant can rebuild per-document token
    * streams; the per-word v0 aggregation ignores them. `src` is the
    * corpus relation (q169 trains on the multi-byte fixture CTE,
    * supplied via `prefixCtes`); `seedSql` picks the alphabet.
    */
  private def bpeTrainChain(n: Int, src: String = "documents",
      seedSql: String = charSeedSql, prefixCtes: Seq[String] = Nil): String = {
    val base =
      s"""WITH RECURSIVE
         |${(prefixCtes :+ "").mkString(",\n")}words AS MATERIALIZED (
         |  SELECT doc_id, i, w[i] AS word
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM $src) d,
         |  LATERAL UNNEST(generate_series(1, len(w))) AS t(i)
         |  WHERE w[i] <> ''),
         |v0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    $seedSql AS toks
         |  FROM words GROUP BY word)""".stripMargin
    val steps = (1 to n).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS pair,
         |    sum(freq) AS cnt
         |  FROM (SELECT freq, string_split(toks, ' ') AS tk FROM v${k - 1}) t,
         |  LATERAL UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
         |  WHERE len(tk) > 1
         |  GROUP BY 1),
         |b$k AS MATERIALIZED (
         |  SELECT string_split(pair, ' ')[1] AS ma, string_split(pair, ' ')[2] AS mb,
         |    CAST(cnt AS BIGINT) AS cnt
         |  FROM p$k ORDER BY cnt DESC, pair ASC LIMIT 1),
         |a$k(word, freq, toks) AS (
         |  SELECT word, freq, ' ' || toks || ' ' FROM v${k - 1}
         |  UNION ALL
         |  SELECT a.word, a.freq,
         |    substr(a.toks, 1, strpos(a.toks, ' ' || b.ma || ' ' || b.mb || ' ') - 1)
         |      || ' ' || b.ma || b.mb || ' '
         |      || substr(a.toks, strpos(a.toks, ' ' || b.ma || ' ' || b.mb || ' ')
         |                        + len(' ' || b.ma || ' ' || b.mb || ' '))
         |  FROM a$k a, b$k b
         |  WHERE strpos(a.toks, ' ' || b.ma || ' ' || b.mb || ' ') > 0),
         |v$k AS MATERIALIZED (
         |  SELECT word, freq, trim(toks) AS toks FROM a$k a
         |  WHERE NOT EXISTS (SELECT 1 FROM b$k b
         |    WHERE strpos(a.toks, ' ' || b.ma || ' ' || b.mb || ' ') > 0))""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private def trainSelect(n: Int): String = (1 to n)
    .map(k => s"SELECT CAST($k AS BIGINT) AS rk, ma AS lhs, mb AS rhs, " +
      s"cnt AS pair_count FROM b$k")
    .mkString("\n", "\nUNION ALL\n", "\nORDER BY rk")

  private[queries] def bpeTrainSql(n: Int): String =
    bpeTrainChain(n) + trainSelect(n)

  /** q169 — BYTE-level BPE training: [[graft.operators.BpeTrainer]]
    * with UTF-8-byte seeding ([[graft.plans.GptByteTokens]]) over the
    * multi-byte fixture corpus, completing the byte lifecycle q166
    * opened (q166 applies a shipped byte table; q169 produces one).
    * Same scale shape as q165 — one corpus aggregation, vocab-bound
    * rounds — with an alphabet the merge loop never inspects. The
    * oracle is the q165 training chain seeded with the q166 byte
    * arithmetic over the shared fixture CTE: merge selection,
    * tie-breaks and re-tokenization replay identically because both
    * engines compare the mapped tokens by UTF-8 bytes.
    */
  def bpeBytesTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    graft.operators.BpeTrainer.learnTable(
      docs.select(accented($"text", $"doc_id").as("text")),
      "text", TrainMerges, byteLevel = true)
  }

  private[queries] def bpeBytesTrainSql(n: Int): String =
    bpeTrainChain(n, src = "docs2", seedSql = byteSeedSql,
      prefixCtes = Seq(accentedDocsSql)) + trainSelect(n)

  /** q168 — the FULL tokenizer lifecycle, end to end: TRAIN the merge
    * table on the corpus ([[graft.operators.BpeTrainer]]), then APPLY
    * it back over the same corpus through [[graft.plans.BpeEncode]]
    * as an expression constant — the q164 presentation (n_tokens +
    * boundary-sensitive signature) with a table nothing shipped. The
    * scale shape composes the two halves': one corpus aggregation +
    * bounded vocab rounds to train, then one map-only codegen scan to
    * encode (NO join of corpus against vocabulary — the artifact is
    * driver-sized by design and rides the plan as a literal).
    *
    * The differential is the round-trip property made driver-grade:
    * the ORACLE tokenizes every document from the TRAINING chain's
    * final vocabulary (word → toks of step n), while the ENGINE
    * re-derives each word through apply's lowest-rank-first loop — so
    * a hash match proves train and apply agree word-for-word on the
    * whole corpus, across engines (the CrawlSpec round-trip assertion,
    * re-proven by DuckDB on every driver run).
    */
  def bpePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    val learned = graft.operators.BpeTrainer.learn(
      docs.select($"text"), "text", TrainMerges)
    graft.operators.Checkpoints.free(learned.vocab) // apply re-derives it
    val merges = learned.merges.map { case (a, b, _) => (a, b) }
    docs
      .select($"doc_id",
        coalesce(BpeMerges.bpeEncode($"text", merges), lit("")).as("toks"))
      .select($"doc_id",
        when($"toks" === "", lit(0L))
          .otherwise(size(split($"toks", " ")).cast("long")).as("n_tokens"),
        md5($"toks").as("tok_sig"))
      .orderBy($"doc_id")
  }

  private[queries] def bpePipelineSql(n: Int): String =
    bpeTrainChain(n) + ",\n" + perDocTokensSql(s"v$n")

  /** q171 — the WARC archive tier ([[graft.sources.dsv2.WarcSource]]):
    * crawl ingestion starts from RECORD-DELIMITED ARCHIVE FILES, not
    * from HTML strings already in a parquet column (the r19 verdict's
    * named gap). The fixture writer materializes a genuine 4-file
    * archive from the documents rows ([[graft.sources.WarcFixture]] —
    * gate scaffolding, the q71 canned-transport analog), then the
    * engine runs the REAL ingestion path end-to-end: byte-range
    * chunked DSv2 scan with record-boundary seeking (`chunkBytes` set
    * well below file size so every file spans several chunks), the
    * `warc_type = 'response'` filter PUSHED to the reader (request/
    * warcinfo noise skips payload materialization — the pushdown a
    * sequential format can actually honor), HTTP-message framing
    * (body after the first CRLFCRLF), and q162's main-text extraction
    * over the decoded page.
    *
    * Scale shape: one map-only scan at chunk parallelism — archives
    * split by byte range without coordination (the HDFS text-split
    * rule), so 100 TB of `.warc` reads at full cluster width; no
    * exchange before the presentation sort (CrawlSpec pins it). The
    * oracle re-derives every column arithmetically from the same
    * documents rows: `n_bytes` as the octet length of the HTTP
    * message it reconstructs (byte-exact through UTF-8), clean text
    * via the q162 replay.
    */
  def warcExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpreadLocal(s, dir, "documents")
      .select($"doc_id", $"text", $"source")
    val archive = graft.sources.WarcFixture.ensure(docs, dir)
    val recs = s.read.format("graft.sources.dsv2.WarcSource")
      .option("path", archive).option("chunkBytes", "16384").load()
      .filter($"warc_type" === "response")
    val sep = "\r\n\r\n"
    recs
      .select($"url", $"n_bytes",
        expr("decode(payload, 'UTF-8')").as("msg"))
      .select(
        regexp_extract($"url", "/docs/(\\d+)$", 1).cast("long").as("doc_id"),
        CrawlOps.canonicalHost($"url").as("host"),
        $"n_bytes",
        CrawlOps.extractMainText(
          $"msg".substr(instr($"msg", sep) + 4, length($"msg"))).as("x"))
      .select($"doc_id", $"host", $"n_bytes",
        $"x.clean_text", $"x.n_blocks_kept")
      .orderBy($"doc_id")
  }

  /** Ground truth replays the fixture arithmetic: the page string is
    * reconstructed byte-for-byte (escape order `&`,`<`,`>` — the
    * [[graft.sources.WarcFixture.htmlFor]] mirror), `n_bytes` is the
    * UTF-8 octet length of HTTP head + page, and clean text is the
    * q162 replay over the same rows.
    */
  val warcExtractSql: String =
    """WITH b AS (
      |  SELECT doc_id, source, coalesce(text, '') AS rawt,
      |    replace(replace(replace(coalesce(text, ''),
      |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS esc
      |  FROM documents),
      |h AS MATERIALIZED (
      |  SELECT doc_id, source, rawt,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title><style>p{margin:0}</style><script>var x=1;</script></head>'
      |    || '<body><!-- crawler:generated -->'
      |    || '<div class="nav"><a href="/">Home</a> <a href="/about">About</a></div>'
      |    || '<p>' || esc || ' see <a href="/ref">reference</a> notes &amp; more &lt;raw&gt;</p>'
      |    || CASE WHEN doc_id % 3 = 0 THEN '<p>appendix for ' || source || '</p>' ELSE '' END
      |    || CASE WHEN doc_id % 2 = 0
      |         THEN '<div class="ads"><a href="/buy">Buy</a> <a href="/now">Now</a></div>'
      |         ELSE '' END
      |    || '<div class="footer"><a href="/terms">Terms</a>'
      |    || ' <a href="/privacy">Privacy</a></div></body></html>' AS html
      |  FROM b)
      |SELECT doc_id, source || '.example.com' AS host,
      |  CAST(octet_length(encode(
      |    'HTTP/1.1 200 OK' || chr(13) || chr(10)
      |    || 'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10)
      |    || chr(13) || chr(10) || html)) AS BIGINT) AS n_bytes,
      |  ltrim(trim(regexp_replace(rawt, '\s+', ' ', 'g'))
      |    || ' see reference notes & more <raw>'
      |    || CASE WHEN doc_id % 3 = 0 THEN ' appendix for ' || source ELSE '' END)
      |    AS clean_text,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks_kept
      |FROM h ORDER BY doc_id""".stripMargin

  /** q172 — the tokenizer ARTIFACT lifecycle across sessions: q168
    * trains and applies inside one plan build, but the production
    * hand-off is train once → persist the artifact → reload it months
    * later in a session that never saw the training. The train half
    * writes [[graft.operators.BpeTrainer.learnTable]]'s frame as a
    * FILE artifact (parquet, `overwrite` — an artifact REPLACES its
    * predecessor; the `merges.txt`-next-to-the-corpus-snapshot
    * convention every shipped tokenizer uses); the apply half runs in
    * a FRESH session (`newSession` — new session state, nothing
    * shared but the cluster), reconstructs the merge list from
    * storage in rank order, and encodes the corpus through
    * [[graft.plans.BpeEncode]]. A file artifact rather than the
    * embedded-JDBC store deliberately: the artifact must be
    * readable under ANY master, and embedded Derby is single-JVM —
    * the multiexec bench caught `df.write.jdbc`'s executor-side
    * tasks dual-booting the database across forked executor JVMs.
    *
    * The merge-list reload is a bounded-artifact collect by design
    * (≤65536 rows — the PQ-codebook rule; the table rides the apply
    * plan as an expression constant, never a corpus join). The oracle
    * is exactly q168's: a hash match proves persistence is LOSSLESS —
    * train → store → reload → apply equals train → apply.
    */
  def bpeArtifact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(s, dir, "documents")
    val table = graft.operators.BpeTrainer.learnTable(
      docs.select(col("text")), "text", TrainMerges)
    // per-JVM path: a concurrent bench/verify pair on the same scale
    // factor must not race each other's overwrite
    val path = s"/tmp/graft_bpe_artifact/" +
      s"${new java.io.File(dir).getName}_${ProcessHandle.current().pid()}"
    // one file, not one per shuffle partition (guide §6 small-file
    // batching): the merge table is vocab-bounded (≤ TrainMerges
    // rows), so a 32-way write produced 32 tiny parquet files that
    // the reload had to list, open and footer-parse individually
    table.coalesce(1).write.mode("overwrite").parquet(path)

    val s2 = s.newSession()
    val merges = Tables.readParquet(s2, path)
      .orderBy(col("rk"))
      .select(col("lhs"), col("rhs"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Tables.loadSpread(s2, dir, "documents")
      .select(col("doc_id"),
        coalesce(BpeMerges.bpeEncode(col("text"), merges), lit("")).as("toks"))
      .select(col("doc_id"),
        when(col("toks") === "", lit(0L))
          .otherwise(size(split(col("toks"), " ")).cast("long")).as("n_tokens"),
        md5(col("toks")).as("tok_sig"))
      .orderBy(col("doc_id"))
  }

  val defs: Map[String, Q] = Map(
    "q172_bpe_artifact" -> (bpeArtifact(_, _)),
    "q171_warc_extract" -> (warcExtract(_, _)),
    "q162_html_extract" -> (htmlExtract(_, _)),
    "q163_url_canonicalize" -> (urlCanonicalize(_, _)),
    "q164_bpe_apply" -> (bpeApply(_, _)),
    "q165_bpe_train" -> (bpeTrain(_, _)),
    "q166_bpe_bytes" -> (bpeBytes(_, _)),
    "q168_bpe_pipeline" -> (bpePipeline(_, _)),
    "q169_bpe_bytes_train" -> (bpeBytesTrain(_, _)))

  val oracles: Map[String, String] = Map(
    // persistence must be lossless: the reloaded-artifact apply
    // answers to the SAME oracle as the in-plan round trip
    "q172_bpe_artifact" -> bpePipelineSql(TrainMerges),
    "q171_warc_extract" -> warcExtractSql,
    "q162_html_extract" -> htmlExtractSql,
    "q163_url_canonicalize" -> urlCanonicalizeSql,
    "q164_bpe_apply" -> bpeApplySql,
    "q165_bpe_train" -> bpeTrainSql(TrainMerges),
    "q166_bpe_bytes" -> bpeBytesSql,
    "q168_bpe_pipeline" -> bpePipelineSql(TrainMerges),
    "q169_bpe_bytes_train" -> bpeBytesTrainSql(TrainMerges))
}

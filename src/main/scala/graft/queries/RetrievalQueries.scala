package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.TextOps.words
import graft.functions.VectorOps._
import graft.operators.CoreOps.firstBy
import graft.plans.BoundedTopK.boundedTopK

/** Hybrid (sparse + dense) retrieval — the RAG-serving shape every
  * training-data pipeline grows once it has BOTH an inverted index
  * (q86) and an embedding index (q30/q33): each query runs a lexical
  * BM25 ranking and a dense cosine ranking, and the two lists merge by
  * reciprocal-rank fusion (Cormack et al., SIGIR 2009:
  * score(d) = Σ_lists 1/(60 + rank_list(d))).
  *
  * The reference engine has no retrieval surface (its joins stop at
  * market-data enrichment, v2.py:748–764); this family is part of the
  * beyond-reference LLM-pipeline breadth alongside q20–q39.
  *
  * Determinism: BM25 reuses q86's 1e6 fixed-point integer pipeline;
  * dense cosine is exact int64 dot/norm with a correctly-rounded
  * double chain (q30); RRF is integer division `1e6 DIV (60 + rank)`
  * summed over lists — every engine computes identical BIGINTs, so
  * the DuckDB oracle matches hash-exactly.
  *
  * Scale shape: the corpus never materializes a cross product — the
  * dense side broadcasts the |Q| query vectors over ONE corpus pass
  * and keeps ≤20 rows/query/task via [[graft.plans.BoundedTopK]]; the
  * sparse side prunes postings to the |Q| query terms with a broadcast
  * semi-join BEFORE the document-frequency aggregate, so the
  * vocabulary-sized shuffle q86 pays for corpus-wide stats shrinks to
  * the matched postings; fusion joins two ≤|Q|×20-row candidate lists
  * — independent of corpus size by construction.
  */
object RetrievalQueries {

  type Q = (SparkSession, String) => DataFrame

  private val S = 1000000L

  /** Fixed-point BM25 (k1 = 1.2, b = 0.75, raw (N+1)/(df+1) idf) of
    * posting rows carrying `dl`, `tf`, `df`, `n_docs` and `total_len`:
    * the one scoring of q86, q122 and q125. All arithmetic is 1e6
    * fixed-point integer division, mirrored exactly by DuckDB `//`.
    * Every intermediate is bounded independently of tf: the tf
    * component divides numerator and denominator by tf up front, and
    * the final idf×tf product is split quotient/remainder so it stays
    * in range even for df=1 terms on a 10^10-document corpus.
    */
  private[queries] def bm25ScoreFx(scored: DataFrame): DataFrame =
    scored
      .withColumn("avgdl_fx", expr(s"(total_len * ${S}L) DIV n_docs"))
      .withColumn("norm_fx", expr(s"250000 + (750000 * dl * ${S}L) DIV avgdl_fx"))
      // tf·(k1+1)/(tf + k1·norm) with num and den divided by tf: the
      // numerator is the CONSTANT 2200·S² (the tf-scaled form
      // overflowed Long at tf ≈ 4,200).
      .withColumn("tf_comp_fx",
        expr(s"(2200 * ${S}L * ${S}L) DIV (1000 * ${S}L + (1200 * norm_fx) DIV tf)"))
      .withColumn("idf_fx", expr(s"((n_docs + 1) * ${S}L) DIV (df + 1)"))
      // floor(idf·tf_comp/S) split exactly as q·tf_comp + floor(r·tf_comp/S)
      // with idf = q·S + r, so neither factor pair can overflow even
      // for df=1 terms at 10^10 docs.
      .withColumn("score_fx",
        expr(s"(idf_fx DIV ${S}L) * tf_comp_fx + ((idf_fx % ${S}L) * tf_comp_fx) DIV ${S}L"))

  /** The typed empty answer of a ranking whose query terms were
    * collected from a corpus without words (an empty documents
    * table): there is no posting to build — [[graft.plans.TermCounts]]
    * needs at least one target — and nothing to rank. `ddl` is the
    * normal-run schema of the frame it stands in for (q86, q122's
    * sparse list, q125).
    */
  private[queries] def noTermsResult(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(new java.util.ArrayList[Row](), StructType.fromDDL(ddl))

  /** q122: hybrid BM25 + dense-cosine retrieval fused by RRF.
    *
    * Corpus = documents that have an embedding (doc_id = vec_id — the
    * "embedded slice" of the corpus). Queries = docs 0-2: the sparse
    * query is the doc's most frequent word (smallest on ties), the
    * dense query its embedding. Each side ranks its top-20 candidates
    * (self-hits excluded); RRF keeps the top-10 fused.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("doc_id"), quantize($"embedding").as("q"))
      .withColumn("nsq", intNormSq($"q"))
    // staged: the query-set filter, the dense scan, the posting build
    // and the corpus stats all read this join + the quantize kernel —
    // one build instead of four (Staging.staged: caller-owned /
    // scope-released lifecycle, as with q24's signature staging)
    val corpus = graft.operators.Staging.staged(docs.join(emb, Seq("doc_id")))

    // ---- query set: 3 docs; sparse term = argmax (count, then min term)
    val qdocs = corpus.filter($"doc_id" < 3)
      .select($"doc_id".as("qid"), $"text", $"q".as("qv"), $"nsq".as("qn"))
    // collected (|Q| = 3 rows — bounded by the query set at any corpus
    // size, the q125/PQ-codebook discipline). The blocking collect is
    // also the FIRST job, so it materializes the corpus cache before
    // any concurrent consumer could race it; the literal qterms frame
    // (LocalRelation) then broadcasts without a subquery job.
    val qtRows = qdocs
      .select($"qid", explode(words($"text")).as("term"))
      .groupBy($"qid", $"term").agg(count(lit(1)).as("cnt"))
      .groupBy($"qid")
      .agg(firstBy($"term", struct((-$"cnt").as("negc"), $"term")).as("term"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val qterms = qtRows.toSeq.toDF("qid", "term")
    val termList = qtRows.map(_._2).distinct.toSeq

    // ---- dense ranking: one corpus pass, queries broadcast, bounded top-20
    val dscored = corpus.join(broadcast(qdocs.select($"qid", $"qv", $"qn")),
        $"doc_id" =!= $"qid")
      .select($"qid", $"doc_id", cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    val dense = dscored.groupBy($"qid")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"doc_id"), 20).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.doc_id".as("doc_id"), ($"pos" + 1).cast("long").as("drank"))

    // ---- sparse ranking: postings pruned to query terms BELOW the
    // tf aggregate, so the shuffle carries only matching occurrences.
    // Query docs without a word (an empty corpus) give no query term:
    // the sparse list is then empty and the fusion dense-only.
    val sparse =
      if (termList.isEmpty) noTermsResult(s,
        "qid BIGINT, doc_id BIGINT, srank BIGINT NOT NULL")
      else {
        val w = words($"text")
        // persisted: consumed by the df collect AND the scoring pass.
        // Per-doc tf of the ≤|Q| collected query terms via ONE map-side
        // TermCounts kernel pass (r21, the q86/q125 shape): the former
        // per-token explode + isin probe + (doc, term) hash aggregate is
        // gone — the posting build is a scan-side projection.
        val postings = graft.operators.Staging.staged(corpus
          .select($"doc_id", size(w).cast("long").as("dl"),
            posexplode(graft.functions.TextOps.termCounts(
              w, termList.toArray)).as(Seq("ti", "tf0")))
          .filter($"tf0" > 0)
          .select($"doc_id", element_at(typedLit(termList), $"ti" + 1).as("term"),
            $"dl", $"tf0".cast("long").as("tf")))
        // df + corpus stats as bounded collected literals (q86/q125
        // discipline): the former `.join(dfreq, Seq("term"))` shuffled the
        // scored rows on term — a ≤|Q|-key exchange whose task ceiling is
        // the query-set size at ANY corpus scale. Scoring now rides the
        // posting aggregate's own partitioning as a pure projection.
        val dfMap = postings.groupBy($"term").agg(count(lit(1)).as("df"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val st = corpus.agg(count(lit(1)).as("n_docs"),
          sum(size(words($"text")).cast("long")).as("total_len")).collect()(0)
        val sscored = bm25ScoreFx(
          postings
            .join(broadcast(qterms), Seq("term"))
            .filter($"doc_id" =!= $"qid")
            .withColumn("df", element_at(typedLit(dfMap), $"term"))
            .withColumn("n_docs", lit(st.getLong(0)))
            .withColumn("total_len", lit(st.getLong(1))))
        sscored.groupBy($"qid")
          .agg(boundedTopK(struct((-$"score_fx").as("negs"), $"doc_id"), 20).as("top"))
          .select($"qid", posexplode($"top").as(Seq("pos", "r")))
          .select($"qid", $"r.doc_id".as("doc_id"), ($"pos" + 1).cast("long").as("srank"))
      }

    // ---- RRF fusion over the two ≤|Q|×20 candidate lists
    val fused = dense.join(sparse, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_fx",
        coalesce(expr(s"${S}L DIV (60 + drank)"), lit(0L)) +
        coalesce(expr(s"${S}L DIV (60 + srank)"), lit(0L)))
    fused.groupBy($"qid")
      .agg(boundedTopK(
        struct((-$"rrf_fx").as("negr"), $"doc_id", $"drank", $"srank", $"rrf_fx"),
        10).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.doc_id".as("doc_id"), $"r.drank".as("drank"),
        $"r.srank".as("srank"),
        ($"r.rrf_fx".cast("double") / 1000000.0).as("rrf"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"rank")
  }

  /** q125: diversity-capped chunk retrieval — the passage-serving
    * layer of a RAG stack: documents are split into the q108
    * overlapping 32/24 chunks, BM25 runs at CHUNK granularity (same
    * fixed-point arithmetic; df/avgdl are chunk-level stats), and the
    * result is diversified: at most 2 chunks per source document
    * survive per query before the global top-5 — so one long relevant
    * document cannot flood the context window.
    *
    * Scale shape: chunking is map-side (q108's plan); postings prune
    * to the query terms BEFORE the df aggregate (q122's trick); BOTH
    * ranking stages are bounded-top-k aggregates — the per-(term,doc)
    * cap keeps ≤2 rows per group per task and the global stage sees
    * only capped rows. No window over the corpus at any point.
    */
  def chunkRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Spread scan (round-16 cluster-profile lesson): the chunker and
    // the posting explode are expensive PER ROW at any width, so they
    // must never ride the scan's split count — under the cluster
    // profile's 128 MB splits the toy corpus is ONE split and both
    // kernels serialized (~17 s single-task stages at sf1). The two
    // consumers of the spread frame (the chunker below and the
    // query-term scan) each execute the slim text exchange once —
    // cheaper than caching the text (measured: a staged variant cost
    // more CPU in cache builds than it saved).
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    // chunk WORD SLICES, not chunk_text (r21): the posting build only
    // ever re-split chunk_text, so the chunker now carries the slice
    // array straight through (CurationOps.chunkWordSlices — identical
    // chunk grid; split∘join is the identity on split output).
    // persisted: chunking feeds both the posting pass and the corpus
    // stats — one build instead of two (Staging.staged: the
    // caller-owned / scope-released lifecycle, as with q24)
    val chunks = graft.operators.Staging.staged(graft.operators.CurationOps
      .chunkWordSlices(docs, "doc_id", "text", chunkWords = 32, stride = 24)
      .select($"doc_id", $"chunk_id", $"chunk_words".as("dl"), $"wslice"))
    // query terms: the corpus top-3 words over FULL documents — the
    // same query set q86 answers, so the two retrieval layers compare.
    // COLLECTED into a literal (the PQ-codebook bounded-collect
    // discipline) so the per-chunk tf of the 3 terms is ONE map-side
    // TermCounts kernel pass (guide §2.3 taken to its limit) — the
    // former per-token explode + broadcast join probe + (doc, chunk,
    // term) hash aggregate over every chunk word is gone.
    val top3 = docs.select(explode(words($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .agg(boundedTopK(struct((-$"n").as("negn"), $"term"), 3).as("t"))
      .select(explode($"t.term").as("term"))
      .collect().map(_.getString(0)).toSeq
    if (top3.isEmpty) return noTermsResult(s,
      "term STRING, doc_id BIGINT, chunk_id BIGINT NOT NULL, score DOUBLE, rank BIGINT NOT NULL")
    // persisted: `pruned` feeds the df collect AND the scoring
    // projection — without staging, the whole chunk pipeline
    // executes once per consumer.
    val pruned = graft.operators.Staging.staged(chunks
      .select($"doc_id", $"chunk_id", $"dl",
        posexplode(graft.functions.TextOps.termCounts(
          $"wslice", top3.toArray)).as(Seq("ti", "tf0")))
      .filter($"tf0" > 0)
      .select($"doc_id", $"chunk_id",
        element_at(typedLit(top3), $"ti" + 1).as("term"),
        $"dl", $"tf0".cast("long").as("tf")))
    // Bounded collects (the PQ-codebook discipline,
    // SimilarityQueries q123): df has ONE row per query term (3 —
    // bounded by the query set at any corpus size) and the corpus
    // stats are two scalars, so both enter the plan as LITERALS and
    // scoring is a pure projection over `pruned`. This removes the
    // term-keyed scoring exchange — whose task ceiling is |terms| and
    // which AQE coalesced to ONE serialized task at sf1 under the
    // cluster profile (~15 s of BM25 arithmetic, twice) — and leaves
    // no broadcast subqueries to race the staged caches (racing
    // consumers of an unmaterialized cache each recompute its full
    // plan; measured ~5x pipeline CPU). The blocking collects also
    // materialize the staged frames in strict dependency order.
    val dfMap = pruned.groupBy($"term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = chunks.agg(count(lit(1)).as("n_docs"),
      sum($"dl".cast("long")).as("total_len")).collect()(0)
    val scored = bm25ScoreFx(pruned
      .withColumn("df", element_at(typedLit(dfMap), $"term"))
      .withColumn("n_docs", lit(st.getLong(0)))
      .withColumn("total_len", lit(st.getLong(1))))
    val capped = scored.groupBy($"term", $"doc_id")
      .agg(boundedTopK(struct((-$"score_fx").as("negs"), $"chunk_id", $"score_fx"), 2).as("top"))
      .select($"term", $"doc_id", explode($"top").as("r"))
      .select($"term", $"doc_id", $"r.chunk_id".as("chunk_id"),
        $"r.score_fx".as("score_fx"))
    capped.groupBy($"term")
      .agg(boundedTopK(
        struct((-$"score_fx").as("negs"), $"doc_id", $"chunk_id", $"score_fx"), 5).as("top"))
      .select($"term", posexplode($"top").as(Seq("pos", "r")))
      .select($"term", $"r.doc_id".as("doc_id"), $"r.chunk_id".as("chunk_id"),
        ($"r.score_fx".cast("double") / 1000000.0).as("score"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"term", $"rank")
  }

  val chunkRetrievalSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |n AS (
      |  SELECT doc_id, w,
      |    CAST(FLOOR((greatest(len(w) - 32, 0) + 23) / 24.0) AS INT) + 1 AS nc
      |  FROM t),
      |chunks AS MATERIALIZED (
      |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
      |    string_split(array_to_string(w[1 + ci * 24 : ci * 24 + 32], ' '), ' ') AS ws
      |  FROM n, LATERAL UNNEST(generate_series(0, nc - 1)) AS u(ci)),
      |postings AS (
      |  SELECT doc_id, chunk_id, term, dl, COUNT(*) AS tf FROM (
      |    SELECT doc_id, chunk_id, len(ws) AS dl, unnest(ws) AS term FROM chunks) p
      |  GROUP BY doc_id, chunk_id, term, dl),
      |tf3 AS (
      |  SELECT term FROM (
      |    SELECT term, row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rn
      |    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) q
      |    GROUP BY term) r WHERE rn <= 3),
      |pruned AS (SELECT p.* FROM postings p JOIN tf3 USING (term)),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM pruned GROUP BY term),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(len(ws)) AS BIGINT) AS total_len
      |  FROM chunks),
      |sc0 AS (
      |  SELECT p.term, p.doc_id, p.chunk_id, p.tf, p.dl, d.df, s.n_docs,
      |    (s.total_len * CAST(1000000 AS BIGINT)) // s.n_docs AS avgdl_fx
      |  FROM pruned p JOIN dfreq d USING (term), stats s),
      |sc1 AS (
      |  SELECT *,
      |    250000 + (750000 * dl * CAST(1000000 AS BIGINT)) // avgdl_fx AS norm_fx
      |  FROM sc0),
      |sc2 AS (
      |  SELECT *,
      |    (2200 * CAST(1000000 AS BIGINT) * 1000000)
      |      // (1000 * CAST(1000000 AS BIGINT) + (1200 * norm_fx) // tf) AS tf_comp_fx,
      |    ((n_docs + 1) * CAST(1000000 AS BIGINT)) // (df + 1) AS idf_fx
      |  FROM sc1),
      |scored AS (
      |  SELECT term, doc_id, chunk_id,
      |    (idf_fx // 1000000) * tf_comp_fx
      |      + ((idf_fx % 1000000) * tf_comp_fx) // 1000000 AS score_fx
      |  FROM sc2),
      |capped AS (
      |  SELECT term, doc_id, chunk_id, score_fx FROM (
      |    SELECT *, row_number() OVER (PARTITION BY term, doc_id
      |      ORDER BY score_fx DESC, chunk_id) AS dr
      |    FROM scored) c WHERE dr <= 2),
      |ranked AS (
      |  SELECT term, doc_id, chunk_id,
      |    CAST(score_fx AS DOUBLE) / 1000000.0 AS score,
      |    row_number() OVER (PARTITION BY term
      |      ORDER BY score_fx DESC, doc_id, chunk_id) AS rank
      |  FROM capped)
      |SELECT term, doc_id, chunk_id, score, rank FROM ranked WHERE rank <= 5
      |ORDER BY term, rank""".stripMargin

  private val quantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private def dotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"

  val hybridRrfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id AS doc_id, $quantSql AS q FROM embeddings),
       |en AS (
       |  SELECT doc_id, q, ${dotSql("q", "q")} AS nsq FROM e),
       |corpus AS (
       |  SELECT d.doc_id, d.text, en.q, en.nsq
       |  FROM documents d JOIN en USING (doc_id)),
       |qdocs AS (
       |  SELECT doc_id AS qid, text, q AS qv, nsq AS qn FROM corpus WHERE doc_id < 3),
       |qterms AS (
       |  SELECT qid, term FROM (
       |    SELECT qid, term,
       |      row_number() OVER (PARTITION BY qid ORDER BY COUNT(*) DESC, term) AS rn
       |    FROM (SELECT qid, unnest(string_split(text, ' ')) AS term FROM qdocs) t
       |    GROUP BY qid, term) r WHERE rn = 1),
       |dscored AS (
       |  SELECT qd.qid, c.doc_id,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM corpus c, qdocs qd WHERE c.doc_id != qd.qid),
       |dense AS (
       |  SELECT qid, doc_id, rank AS drank FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
       |    FROM dscored) t WHERE rank <= 20),
       |w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
       |postings AS (
       |  SELECT doc_id, term, dl, COUNT(*) AS tf FROM (
       |    SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w) p
       |  WHERE term IN (SELECT term FROM qterms)
       |  GROUP BY doc_id, term, dl),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(len(ws)) AS BIGINT) AS total_len FROM w),
       |sc AS (
       |  SELECT qt.qid, p.doc_id, p.tf, p.dl, d.df, s.n_docs,
       |    (s.total_len * CAST(1000000 AS BIGINT)) // s.n_docs AS avgdl_fx
       |  FROM postings p
       |  JOIN qterms qt USING (term)
       |  JOIN dfreq d USING (term), stats s
       |  WHERE p.doc_id != qt.qid),
       |sc1 AS (
       |  SELECT *,
       |    250000 + (750000 * dl * CAST(1000000 AS BIGINT)) // avgdl_fx AS norm_fx
       |  FROM sc),
       |sc2 AS (
       |  SELECT *,
       |    (2200 * CAST(1000000 AS BIGINT) * 1000000)
       |      // (1000 * CAST(1000000 AS BIGINT) + (1200 * norm_fx) // tf) AS tf_comp_fx,
       |    ((n_docs + 1) * CAST(1000000 AS BIGINT)) // (df + 1) AS idf_fx
       |  FROM sc1),
       |sparse AS (
       |  SELECT qid, doc_id, rank AS srank FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score_fx DESC, doc_id) AS rank
       |    FROM (
       |      SELECT qid, doc_id,
       |        (idf_fx // 1000000) * tf_comp_fx
       |          + ((idf_fx % 1000000) * tf_comp_fx) // 1000000 AS score_fx
       |      FROM sc2) t) r WHERE rank <= 20),
       |fused AS (
       |  SELECT qid, doc_id, drank, srank,
       |    COALESCE(CAST(1000000 AS BIGINT) // (60 + drank), 0)
       |      + COALESCE(CAST(1000000 AS BIGINT) // (60 + srank), 0) AS rrf_fx
       |  FROM dense FULL OUTER JOIN sparse USING (qid, doc_id)),
       |final AS (
       |  SELECT qid, doc_id, drank, srank,
       |    CAST(rrf_fx AS DOUBLE) / 1000000.0 AS rrf,
       |    row_number() OVER (PARTITION BY qid ORDER BY rrf_fx DESC, doc_id) AS rank
       |  FROM fused)
       |SELECT qid, doc_id, drank, srank, rrf, rank FROM final WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  def defs: Map[String, Q] = Map(
    "q122_hybrid_rrf" -> (hybridRrf(_, _)),
    "q125_chunk_retrieval" -> (chunkRetrieval(_, _)))

  def oracles: Map[String, String] = Map(
    "q122_hybrid_rrf" -> hybridRrfSql,
    "q125_chunk_retrieval" -> chunkRetrievalSql)
}

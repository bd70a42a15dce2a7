package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Corpus-curation operators for large-scale training-data pipelines:
  * span-level substring deduplication, overlapping document chunking,
  * and grouped least-squares regression. These extend the engine past
  * the reference's own surface (the reference has no corpus tooling;
  * cf. its per-table dedup at dbase/db_manager.py:385-401) toward the
  * operations a 100 TB text pipeline runs daily.
  *
  * Scale notes are per-operator; every shape here is a constant number
  * of hash shuffles over linearly-bounded intermediates — nothing
  * collects to the driver and nothing is quadratic in documents or in
  * a hot key.
  */
object CurationOps {

  /** Span-level duplicated-text measurement (the "exact substring
    * dedup" signal of Lee et al. 2022, *Deduplicating Training Data
    * Makes Language Models Better*, arXiv:2107.06499) re-expressed for
    * Spark: instead of a suffix array over the concatenated corpus
    * (inherently sequential), duplicated regions are detected through
    * word `k`-grams — content-defined anchors, so two copies of a
    * passage align regardless of their positions in their documents —
    * and per-document duplicated-WORD coverage is the union of the
    * `[i, i+k-1]` spans of every k-gram that occurs in ≥2 documents.
    * Any duplicated passage of ≥ k words is found exactly; shorter
    * overlaps are ignored by construction (they are the k-gram
    * equivalent of suffix-array minimum match length).
    *
    * Plan: one explode to (doc, pos, gram) — ~n_words rows per doc —
    * one hash-agg on gram for document frequency, one equi-join back,
    * one k-bounded explode for coverage, one distinct+count per doc.
    * All shuffles key on gram or doc_id; intermediates are linear in
    * corpus words (the coverage explode is k× the *matched* grams
    * only). At 100 TB the gram string key would be replaced by
    * `xxhash64(gram)` to shrink shuffle width ~8× (collision odds
    * ~n²/2⁶⁴); kept as the string here so the DuckDB oracle replays
    * the operator exactly.
    *
    * Output: (doc_id, n_words, dup_words, dup_fraction) per document,
    * dup_fraction = duplicated-word share in [0, 1].
    */
  /** Shared words/grams pipeline of the exact-substring family
    * ([[duplicatedSpans]] measurement, [[exactSubstringRemove]]
    * removal — the two halves must never diverge on gram
    * construction): `base` = (doc_id, __w words array, __n), `grams`
    * = the STAGED (doc_id, pos, gram) table (caller-owned lifecycle,
    * the q24 discipline — one explode+persist instead of re-running
    * the split/slice/join string pipeline per consumer; at warehouse
    * scale this is the materialized gram table of Lee et al.'s
    * exact-substring pass). `coalesceNull` maps null text to "" (the
    * removal half's q164 convention; the measurement half keeps
    * null-propagation for q107 oracle compatibility).
    */
  private def gramTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int, coalesceNull: Boolean): (DataFrame, DataFrame) = {
    val text = if (coalesceNull) coalesce(col(textCol), lit("")) else col(textCol)
    val base = docs.select(
      col(idCol).as("doc_id"),
      split(text, " ").as("__w"))
      .withColumn("__n", size(col("__w")))
    // Native codegen kernel ([[graft.plans.GramsWithPos]]): every
    // (pos, gram) pair in ONE fused pass. The chain it replaces —
    // `transform(sequence(1, n−k+1), i => struct(i, array_join(
    // slice(__w, i, k))))`, guarded empty for n < k — was an
    // interpreted HOF (CodegenFallback) building each gram through
    // slice+join object churn on this corpus-linear scan (rule §4);
    // the kernel emits identical structs (1-based pos, space-joined
    // gram, empty array below k tokens).
    import org.apache.spark.sql.graftshim.ColumnShim
    val gramsCol = ColumnShim.column(graft.plans.GramsWithPos(
      ColumnShim.expression(col("__w")), k))
    val grams = Staging.staged(base.select(
      col("doc_id"), explode(gramsCol).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram")))
    (base, grams)
  }

  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"duplicatedSpans k must be >= 2, got $k")
    val (base, grams) =
      gramTable(docs, idCol, textCol, k, coalesceNull = false)
    val dupGrams = grams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gram")
    val covered = grams.join(dupGrams, "gram")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_words"))
    base.select(col("doc_id"), col("__n").cast("long").as("n_words"))
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_words"))
      .withColumn("dup_fraction",
        col("dup_words").cast(DoubleType) / col("n_words").cast(DoubleType))
  }

  /** Exact duplicated-substring REMOVAL with first-occurrence
    * retention — the full Lee et al. 2022 ExactSubstr semantic
    * (arXiv:2107.06499 §4.1: cut every duplicated passage of ≥ k
    * words, keeping one canonical copy in the corpus), where
    * [[duplicatedSpans]] (q107) only MEASURES cross-document
    * coverage. Three strict upgrades: within-document repetition
    * counts (the reference tool's suffix array sees all occurrence
    * pairs, not just cross-doc ones), one occurrence SURVIVES (the
    * globally first by (doc_id, pos) — without retention a corpus-
    * wide boilerplate string would vanish entirely), and the output
    * is the cleaned corpus itself (kept words re-joined), not a
    * coverage statistic.
    *
    * Suffix-array equivalence, and why Spark never builds one: the
    * published implementation suffix-sorts the concatenated corpus
    * and walks ADJACENT suffixes for common prefixes ≥ the threshold.
    * For a FIXED threshold k, two suffixes share a prefix of ≥ k
    * words iff their first k words are equal — i.e. iff they fall in
    * the same k-gram group. So the hash-aggregation on grams IS the
    * sorted-suffix neighborhood, parallelized: everything the
    * sequential suffix array would put adjacent lands in one reducer
    * group, and the array's extra power (maximal matches at EVERY
    * length) is unused once the threshold is fixed. One corpus-scale
    * gram explode, one gram-keyed agg carrying (count, argmin) in the
    * same pass, one equi-join back, one doc-keyed reassembly whose
    * per-doc state is bounded by document length — no global sort,
    * no concatenated-corpus order anywhere.
    *
    * Output: (doc_id, n_words, removed_words, n_spans, clean_sig) —
    * n_spans counts MAXIMAL merged removed runs; clean_sig is
    * md5 of the cleaned text (boundary-sensitive, the q164/q168
    * signature discipline).
    */
  def exactSubstringRemove(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"exactSubstringRemove k must be >= 2, got $k")
    val (base, grams) =
      gramTable(docs, idCol, textCol, k, coalesceNull = true)
    // count and canonical-first ride ONE gram-keyed aggregation; the
    // struct min is the lexicographic (doc_id, pos) argmin — the
    // corpus order Lee et al.'s suffix walk would see first
    val gramStats = grams
      .groupBy("gram")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("fo"))
      .filter(col("occ") >= 2)
      .select(col("gram"), col("fo.doc_id").as("fd"), col("fo.pos").as("fp"))
    val removable = grams.join(gramStats, "gram")
      .filter(!(col("doc_id") === col("fd") && col("pos") === col("fp")))
    val covered = removable
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list(col("p"))).as("cov"))
    base.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(
        col("doc_id"),
        col("__n").cast("long").as("n_words"),
        size(col("cov")).cast("long").as("removed_words"),
        // maximal runs: position i starts a span when it is the head
        // or not adjacent to its predecessor (element_at is 1-based,
        // the lambda index 0-based — element_at(cov, i) IS cov[i-1])
        size(filter(
          transform(col("cov"), (p, i) =>
            when(i === 0, lit(true))
              .otherwise(p > element_at(col("cov"), i) + 1)),
          x => x)).cast("long").as("n_spans"),
        // kept positions via array_except (hash-set build, O(n + |cov|)
        // and order-preserving on the ascending sequence) — a per-word
        // array_contains probe of cov would be O(n·|cov|), quadratic
        // exactly on the boilerplate-heavy documents this operator
        // targets
        md5(array_join(
          transform(
            array_except(sequence(lit(1), col("__n")), col("cov")),
            p => element_at(col("__w"), p)),
          " ")).as("clean_sig"))
  }

  /** Overlapping fixed-size word chunking — the retrieval-corpus /
    * context-window preprocessing step: each document becomes
    * `1 + ceil(max(n - chunkWords, 0) / stride)` chunks of up to
    * `chunkWords` words starting every `stride` words, so consecutive
    * chunks overlap by `chunkWords - stride` words and the final chunk
    * is never empty. Purely map-side (explode of a per-row computed
    * sequence): no shuffle, embarrassingly parallel at any corpus
    * size, and the chunk count per row is bounded by n/stride so the
    * row amplification is a fixed ~`chunkWords/stride`×.
    *
    * Output: (doc_id, chunk_id, start_word, chunk_words, chunk_text):
    * [[chunkWordSlices]]'s grid with each slice joined back into text.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int = 32,
      stride: Int = 24): DataFrame =
    chunkWordSlices(docs, idCol, textCol, chunkWords, stride)
      .select(col("doc_id"), col("chunk_id"),
        (lit(1L) + col("chunk_id") * stride).as("start_word"), col("chunk_words"),
        array_join(col("wslice"), " ").as("chunk_text"))

  /** The chunk grid of [[chunkDocuments]] with each chunk's WORD SLICE
    * instead of its joined text (r21, for q125): the retrieval layer
    * only ever re-split `chunk_text` back into words, so building,
    * caching and re-parsing the string per chunk was pure overhead —
    * `split(array_join(ws, " "), " ") ≡ ws` because `split` tokens
    * cannot contain the separator.
    *
    * Output: (doc_id, chunk_id, chunk_words, wslice).
    */
  def chunkWordSlices(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int = 32,
      stride: Int = 24): DataFrame = {
    require(chunkWords >= 1 && stride >= 1 && stride <= chunkWords,
      s"word chunking needs 1 <= stride <= chunkWords, got $stride/$chunkWords")
    // A null document has no chunks (greatest(NULL - C, 0) would
    // otherwise resolve to 0 — Spark's greatest skips nulls — and
    // fabricate one null chunk).
    val base = docs.select(
      col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__w"))
      .where(col("__w").isNotNull)
      .withColumn("__n", size(col("__w")))
    val nChunks = (floor(
      (greatest(col("__n") - chunkWords, lit(0)) + lit(stride - 1)) /
        lit(stride.toDouble)).cast("int") + 1)
    val start = lit(1) + col("chunk_id") * stride
    base
      .withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("wslice", slice(col("__w"), start.cast("int"), lit(chunkWords)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("wslice")).cast("long").as("chunk_words"), col("wslice"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * *Winnowing: Local Algorithms for Document Fingerprinting*, SIGMOD
    * — the MOSS algorithm): hash every word `k`-gram, then in each
    * sliding window of `w` consecutive gram hashes keep the minimum
    * (rightmost on hash ties, the paper's robust winnowing). The
    * selected (position, hash) pairs are the document's fingerprint
    * sketch: ~`2/(w+1)` of the grams, with the GUARANTEE that any two
    * documents sharing a passage of ≥ `w + k - 1` words share at
    * least one fingerprint — a bounded-size sketch with a recall
    * floor, unlike MinHash's probabilistic one.
    *
    * The gram hash is the first 16 hex chars of md5 compared
    * lexicographically — computable bit-identically by any engine, so
    * the whole selection is oracle-replayable (no engine-private hash
    * in the algorithm's decision path). Tail windows shorter than `w`
    * are included (they only ever ADD fingerprints, preserving the
    * guarantee).
    *
    * Plan: one map-side gram explode, ONE shuffle (window partition by
    * doc), per-doc frames bounded by document length. Returns the
    * fingerprint rows (doc_id, pos, fp); dedup/aggregate downstream
    * stays partitioned on doc_id so a per-doc rollup adds no exchange.
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints needs k,w >= 1, got $k/$w")
    // Whole-document native kernel ([[graft.plans.WinnowSelect]]):
    // gram hashing, the w-window (hash asc, pos desc)-min, and the
    // per-doc dedup all happen map-side in one codegen call. The
    // pipeline it replaces — gram transform+explode → doc-keyed
    // WINDOW → distinct — paid a full corpus exchange + sort for the
    // window and a second exchange for the distinct (guide §2.4),
    // with the gram HOF interpreted (rule §4); the distinct is
    // equivalent per-doc because doc_id is unique per input row.
    import org.apache.spark.sql.graftshim.ColumnShim
    val sel = ColumnShim.column(graft.plans.WinnowSelect(
      ColumnShim.expression(split(col(textCol), " ")), k, w))
    docs.select(col(idCol).as("doc_id"), explode(sel).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.fp").as("fp"))
  }

  /** Grouped simple least-squares fit of `y = slope·x + intercept`
    * with coefficient of determination r² — per-group corpus/market
    * trend analytics in ONE partial-aggregable shuffle.
    *
    * The five moment sums (Σx, Σy, Σxy, Σx², Σy²) are taken over
    * exact fixed-scale decimals (the [[CoreOps.dsum]] technique: each
    * factor is cast to DECIMAL(precision, scale) BEFORE multiplying,
    * so every product and sum is exact integer arithmetic — identical
    * on any partitioning, any cluster size, and any engine). Only the
    * final slope/intercept/r² divisions run in double, on inputs that
    * are already bit-identical everywhere. A group with zero
    * x-variance (or zero y-variance for r²) yields NULL, mirroring
    * SQL's `regr_slope`/`regr_r2` — and keeping the plan ANSI-safe.
    *
    * `precision`/`scale` must cover the inputs ((12,2) default — keep
    * precision ≤ 14 so the x·y product precision 2·p+1 stays within
    * DECIMAL(38) headroom on every engine; values that don't fit the
    * cast become NULL and drop from the fit like SQL aggregate nulls).
    */
  def groupRegression(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String,
      precision: Int = 12,
      scale: Int = 2): DataFrame = {
    require(precision <= 14, s"groupRegression precision must be <= 14, got $precision")
    // try_cast, not cast: a value outside DECIMAL(p,s) must become
    // NULL (and drop from the pairwise fit) under ANSI mode too —
    // plain cast THROWS there, killing the whole job for one row.
    def dec(c: Column): Column = c.try_cast(DecimalType(precision, scale))
    val xd = dec(col(xCol))
    val yd = dec(col(yCol))
    // Pairwise-complete observations ONLY: a row where either side is
    // NULL (or became NULL in the decimal cast) contributes to NO
    // moment — count included. Counting all rows while the sums skip
    // nulls silently skews slope/r² on null-bearing data; this is the
    // same pairwise rule SQL's regr_* family specifies.
    val both = xd.isNotNull && yd.isNotNull
    def pw(c: Column): Column = when(both, c)
    val m = df.groupBy(groupCols.map(col): _*).agg(
      count(pw(lit(1))).cast(DoubleType).as("__n"),
      sum(pw(xd)).cast(DoubleType).as("__sx"),
      sum(pw(yd)).cast(DoubleType).as("__sy"),
      sum(pw(xd * yd)).cast(DoubleType).as("__sxy"),
      sum(pw(xd * xd)).cast(DoubleType).as("__sxx"),
      sum(pw(yd * yd)).cast(DoubleType).as("__syy"))
    val n = col("__n")
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    // Outputs are rounded: a moment sum whose scaled magnitude exceeds
    // 2^53 (Σy² easily does) converts decimal→double with
    // engine-specific final-ulp rounding, and the quotient inherits
    // that ulp. Rounding absorbs it — but only while the rounding
    // boundary spacing dwarfs the value's own ulp. slope and r² are
    // near-dimensionless (|x| ≲ 10², ulp ≲ 1e-13): 8 decimals is safe.
    // intercept carries the y magnitude (~1e4–1e5 on price data, ulp
    // ~1e-11): an 8-decimal boundary sits within one ulp often enough
    // to flip the last digit between engines (observed once in 25
    // groups at sf0.1), so it rounds to 6 — still far beyond any
    // statistical meaning of a fit coefficient.
    val slope = when(varX =!= 0.0, cov / varX)
    m.withColumn("slope", round(slope, 8))
      .withColumn("intercept",
        round((col("__sy") - slope * col("__sx")) / n, 6))
      .withColumn("r2",
        round(when(varX * varY =!= 0.0, (cov * cov) / (varX * varY)), 8))
      .withColumn("n", n.cast("long"))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** DSIR importance log-weights (Xie et al. 2023, *Data Selection
    * for Language Models via Importance Resampling*, arXiv:2302.03169)
    * over hashed n-gram features: every word unigram and bigram hashes
    * into one of `16^hexChars` buckets (md5 prefix, so the DuckDB
    * oracle replays the featurizer exactly); bag-of-buckets
    * multinomials are fit with add-one smoothing on the TARGET slice
    * (`isTarget`) and on the RAW remainder, and each raw document
    * scores `log w = Σ_grams log(p̂_target(b) / p̂_raw(b))` — the
    * importance weight DSIR resamples by to pull a target-looking
    * subset out of a raw crawl.
    *
    * Scale: two passes over the exploded grams (bucket counting, then
    * scoring), both shuffling only on the bucket key / doc id; the
    * bucket table is ≤ `16^hexChars` rows — broadcast, never a wide
    * join. Recomputing the explode for the second pass is deliberate:
    * at 100 TB a scan is cheaper than caching the gram stream. The
    * per-bucket log-ratio is one `ln` over
    * `((ct+1)/(cr+1)) * ((Tr+B)/(Tt+B))` — exact BIGINTs cast to
    * double, then two divisions and one multiplication, all IEEE
    * correctly-rounded, so both engines hand `ln` a bit-identical
    * argument (and nothing overflows: a BIGINT product of two
    * corpus-scale counts would). Callers should round the summed
    * weight (≥6 decimals) before comparing across engines, as
    * summation order differs.
    *
    * Output: one row per RAW document — (idCol, n_grams, log_w_raw) —
    * where `log_w_raw` is the unrounded weight sum.
    */
  def dsirLogWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      hexChars: Int = 3): DataFrame = {
    // ≤ 4 hex chars caps the bucket domain at 65536, keeping the
    // per-bucket ratio table unconditionally broadcastable (the
    // PlanSpec bounded-broadcast contract relies on this cap).
    require(hexChars >= 1 && hexChars <= 4,
      s"dsirLogWeights hexChars must be in [1, 4], got $hexChars")
    val reserved = Seq("__t", "__g", "__b", "__ct", "__cr", "__tt", "__tr", "__lr")
    require(!docs.columns.exists(reserved.contains),
      s"dsirLogWeights input must not use reserved columns ${reserved.mkString(", ")}")
    val buckets = 1L << (4 * hexChars)
    val w = split(col(textCol), " ")
    // native Bigrams kernel — the zip_with(slice, slice, concat) HOF
    // it replaces ran interpreted on the DSIR corpus scans (rule §4)
    val bigrams = graft.functions.TextOps.bigrams(w)
    // Staged (caller-owned lifecycle, the q24 discipline): the
    // bucketed gram stream feeds the per-bucket counts AND the
    // per-doc weight aggregate — one explode+md5 pass instead of two.
    // The gram STRING is projected away before the persist: every
    // consumer reads only the bucket key, so the staged frame is
    // (id, flag, hex-prefix) — a fraction of the raw gram payload.
    val grams = Staging.staged(docs.select(col(idCol), isTarget.as("__t"),
        explode(concat(w, bigrams)).as("__g"))
      .select(col(idCol), col("__t"),
        substring(md5(col("__g")), 1, hexChars).as("__b")))
    val bc = grams.groupBy(col("__b")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cr"))
    val tot = bc.agg(sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    val lr = bc.crossJoin(broadcast(tot)).select(col("__b"),
      log(((col("__ct") + lit(1L)).cast("double") /
           (col("__cr") + lit(1L)).cast("double")) *
          ((col("__tr") + lit(buckets)).cast("double") /
           (col("__tt") + lit(buckets)).cast("double")))
        .as("__lr"))
    grams.filter(!col("__t"))
      .join(broadcast(lr), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("__lr")).as("log_w_raw"))
  }

  /** Per-document contamination FRACTION: the share of a document's
    * distinct word k-grams that appear anywhere in a benchmark slice —
    * the number a training-data release reports per document, where
    * the boolean decontamination passes (exact phrase q36, Bloom q87)
    * only gate. n-gram overlap is the standard eval-contamination
    * measure (GPT-3 appendix C; PaLM §7).
    *
    * Scale: grams explode once per side; the raw side joins the
    * benchmark gram SET on the gram key (equi-join — Catalyst/AQE
    * broadcast it when the benchmark is small, which real eval suites
    * are) and one doc-keyed count aggregate finishes. Gram-less
    * documents (< k words) surface with n_grams = 0 and fraction 0,
    * not dropped. The fraction is one exact-integer division —
    * bit-identical on any engine.
    *
    * Output: one row per NON-benchmark doc — (idCol, n_grams, n_hit,
    * overlap_frac).
    */
  def contaminationFraction(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isBenchmark: Column,
      k: Int = 4): DataFrame = {
    require(k >= 1, s"contaminationFraction k must be >= 1, got $k")
    val reserved = Seq("__bm", "__g", "__hit")
    require(!docs.columns.exists(reserved.contains),
      s"contaminationFraction input must not use reserved columns ${reserved.mkString(", ")}")
    // distinct k-grams via the native Shingles kernel (one fused
    // codegen pass — rule §4; identical semantics incl. the short-doc
    // empty array and first-occurrence order)
    val grams = graft.functions.TextOps.shingles(split(col(textCol), " "), k)
    // staged: the benchmark-gram branch and the raw-side explode both
    // read the gram kernel — one build instead of two (cache
    // lifecycle is caller-owned, as with q24's signature staging)
    val tagged = Staging.staged(
      docs.select(col(idCol), isBenchmark.as("__bm"), grams.as("__g")))
    val benchGrams = tagged.filter(col("__bm"))
      .select(explode(col("__g")).as("__g")).distinct()
      .withColumn("__hit", lit(1L))
    tagged.filter(!col("__bm"))
      .select(col(idCol), explode_outer(col("__g")).as("__g"))
      .join(benchGrams, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__g")).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Token-BUDGET selection: keep the highest-scoring documents until
    * a token budget (`budgetPercent`% of the corpus's tokens) is
    * exhausted — the "train on the best N tokens" pass, which is a
    * budget constraint, not a percentile (q112): document sizes vary,
    * so a count cutoff and a token cutoff disagree.
    *
    * The naive plan is a GLOBAL sort by score with a running token
    * sum — a single-reducer window, the one shape that cannot scale.
    * This runs it as: (1) one grouped aggregate of token totals per
    * score BUCKET — the caller passes a ROUNDED score, so the bucket
    * table is bounded by score granularity; it is checkpointed
    * ([[Checkpoints.stable]] — deploy-aware lineage cut) before the
    * broadcast hint so the bound is the MATERIALIZED row count, not a
    * promise (the q97 centroid discipline, enforced by PlanSpec's
    * broadcast audit); (2) an exclusive prefix sum over
    * that tiny table; (3) every non-boundary bucket decides by pure
    * comparison (`prefix + bucket_total ≤ budget` keeps the whole
    * bucket, `prefix ≥ budget` drops it) — NO window touches those
    * rows; only the single BOUNDARY bucket runs a within-bucket
    * running sum, ordered by a seeded md5 of the id, over its own
    * rows. Exact greedy semantics, engine-replayable (integer token
    * sums, integer budget division, md5 tie order), and the only
    * window in the plan reads ~corpus/buckets rows.
    *
    * Output: one row per document — (idCol, n_tokens, score, kept).
    */
  def tokenBudgetSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      score: Column,
      budgetPercent: Int): DataFrame = {
    require(budgetPercent >= 0 && budgetPercent <= 100,
      s"tokenBudgetSelect budgetPercent must be in [0, 100], got $budgetPercent")
    val reserved = Seq("n_tokens", "score", "kept", "__btok", "__prev", "__run", "__tot")
    require(!docs.columns.exists(reserved.contains),
      s"tokenBudgetSelect input must not use reserved columns ${reserved.mkString(", ")}")
    val base = docs.select(col(idCol), score.as("score"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val buckets = base.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("__btok"))
    val wCum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = base.agg(sum(col("n_tokens")).as("__tot"))
    // bucket table + prefix sums + total: one small materialized frame
    // (localCheckpoint proves the cardinality the broadcast relies on)
    val cum = buckets
      .withColumn("__prev", sum(col("__btok")).over(wCum) - col("__btok"))
      .crossJoin(broadcast(total))
      .transform(Checkpoints.stable(_))
    val budget = expr(s"__tot * $budgetPercent div 100")
    val joined = base.join(broadcast(cum), Seq("score"))
    val decided = joined
      .filter(col("__prev") >= budget || col("__prev") + col("__btok") <= budget)
      .withColumn("kept", col("__prev") + col("__btok") <= budget)
    val wRun = Window.partitionBy(col("score"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("__prev") < budget && col("__prev") + col("__btok") > budget)
      .withColumn("__run", sum(col("n_tokens")).over(wRun))
      .withColumn("kept", col("__prev") + col("__run") <= budget)
    decided.select(col(idCol), col("n_tokens"), col("score"), col("kept"))
      .unionByName(
        boundary.select(col(idCol), col("n_tokens"), col("score"), col("kept")))
  }

  /** DSIR selection (the resampling step of Xie et al. 2023,
    * arXiv:2302.03169 §2): MATERIALIZE the Gumbel top-k subset of the
    * raw corpus. [[dsirLogWeights]] scores each raw document; adding a
    * per-document Gumbel(0,1) noise term and keeping the k largest
    * `log w + G_i` draws k documents WITHOUT replacement with
    * probability proportional to their importance weights (the
    * Gumbel-top-k trick) — the standing way to pull a target-looking
    * training subset out of a crawl in one pass, no sequential
    * sampling state.
    *
    * The Gumbel is seeded, not random: `u = (md5(seedTag‖id)[0,6) as
    * int + 1) / 16^6+1` then `G = -ln(-ln u)` — deterministic in the
    * document id, so the draw is replayable on any engine that can
    * compute md5 (the DuckDB oracle does), across any partitioning.
    *
    * Scale: the k-selection is `ORDER BY … LIMIT k`, which Spark plans
    * as TakeOrderedAndProject — a per-partition k-heap plus one
    * driver-side merge of `partitions × k` rows; no global sort, no
    * full shuffle. The selected id set (k rows) then broadcasts back
    * onto the corpus, so materializing the subset never shuffles the
    * corpus itself. `sel_key` is rounded to 6 decimals BEFORE the
    * top-k compare so the cut is engine-stable (the weight sum's
    * summation order differs across engines; a tie inside the rounded
    * key breaks by id).
    *
    * Output: the full original rows of the k selected documents, plus
    * (n_grams, log_w, sel_key).
    */
  def dsirSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      k: Int,
      seedTag: String = "dsir:",
      hexChars: Int = 3): DataFrame = {
    require(k >= 1, s"dsirSelect k must be >= 1, got $k")
    val reservedOut = Seq("n_grams", "log_w", "sel_key", "log_w_raw")
    require(!docs.columns.exists(reservedOut.contains),
      s"dsirSelect input must not use output columns ${reservedOut.mkString(", ")}")
    val weights = dsirLogWeights(docs, idCol, textCol, isTarget, hexChars)
    val hex6 = substring(
      md5(concat(lit(seedTag), col(idCol).cast("string"))), 1, 6)
    val u = (conv(hex6, 16, 10).cast("long") + lit(1L)).cast("double") /
      lit(16777217.0)
    val gumbel = -log(-log(u))
    val selected = weights
      .withColumn("sel_key", round(col("log_w_raw") + gumbel, 6))
      .select(col(idCol), col("n_grams"),
        round(col("log_w_raw"), 6).as("log_w"), col("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
    docs.join(broadcast(selected), Seq(idCol))
  }

  /** Per-group distribution drift: `KL(group ‖ corpus)` over hashed
    * unigram buckets (md5-prefix featurizer, `16^hexChars` buckets),
    * add-one smoothing on both sides, summed over the FULL fixed
    * bucket support — both distributions normalize over the same
    * support, so `KL ≥ 0` holds (truncating to observed buckets would
    * break it). The standing corpus-monitoring metric: a source whose
    * language drifts (new boilerplate, spam injection, scraper
    * breakage) spikes against the corpus mixture long before a
    * downstream eval moves.
    *
    * Scale: one unigram explode → one (group, bucket) count shuffle;
    * everything after lives on ≤ groups × `16^hexChars` rows (the
    * support grid is built from `spark.range`, joined by broadcast —
    * never a wide shuffle). Every `ln` argument derives from exact
    * BIGINTs through correctly-rounded double ops (the
    * [[dsirLogWeights]] discipline); callers should round the KL sum
    * (≥6 decimals) before cross-engine comparison.
    *
    * Output: one row per group — (groupCol, n_grams, kl) — with `kl`
    * unrounded.
    */
  def klDrift(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      hexChars: Int = 3): DataFrame = {
    // same [1, 4] cap as dsirLogWeights: the support grid and bucket
    // aggregates are broadcast, so the domain must stay ≤ 65536
    require(hexChars >= 1 && hexChars <= 4,
      s"klDrift hexChars must be in [1, 4], got $hexChars")
    val reserved = Seq("__w", "__bk", "__csb", "__nsrc", "__cbk", "__nn")
    require(!docs.columns.exists(reserved.contains),
      s"klDrift input must not use reserved columns ${reserved.mkString(", ")}")
    val nBuckets = 1L << (4 * hexChars)
    val b = lit(nBuckets)
    val wb = docs.select(col(groupCol),
        explode(split(col(textCol), " ")).as("__w"))
      .withColumn("__bk", substring(md5(col("__w")), 1, hexChars))
    val sb = wb.groupBy(col(groupCol), col("__bk"))
      .agg(count(lit(1)).as("__csb"))
    val ns = sb.groupBy(col(groupCol)).agg(sum(col("__csb")).as("__nsrc"))
    val cb = sb.groupBy(col("__bk")).agg(sum(col("__csb")).as("__cbk"))
    val tot = cb.agg(sum(col("__cbk")).as("__nn"))
    val support = docs.sparkSession.range(nBuckets).select(
      lpad(lower(hex(col("id"))), hexChars, "0").as("__bk"))
    val grid = ns.crossJoin(broadcast(support))
      .join(broadcast(cb), Seq("__bk"), "left").na.fill(0L, Seq("__cbk"))
      .join(sb, Seq(groupCol, "__bk"), "left").na.fill(0L, Seq("__csb"))
      .crossJoin(broadcast(tot))
    val p = (col("__csb") + lit(1L)).cast("double") /
      (col("__nsrc") + b).cast("double")
    val ratio = ((col("__csb") + lit(1L)).cast("double") /
        (col("__cbk") + lit(1L)).cast("double")) *
      ((col("__nn") + b).cast("double") / (col("__nsrc") + b).cast("double"))
    grid.withColumn("__term", p * log(ratio))
      .groupBy(col(groupCol), col("__nsrc"))
      .agg(sum(col("__term")).as("kl"))
      .select(col(groupCol), col("__nsrc").as("n_grams"), col("kl"))
  }

  /** Trained-classifier quality scoring at scan time (the fastText
    * linear regime — Joulin et al. 2016, arXiv:1607.01759): score =
    * bias + mean over tokens of `weights[fnv1a(token) mod D]`, the
    * hashing-trick bag-of-words a real pipeline applies after the
    * q21/q106/q110 heuristics tier. The weight vector is a bounded
    * trained artifact, so it enters the plan as an expression literal
    * (the PQ-codebook discipline) — NO join, NO broadcast, NO UDF:
    * the whole scorer is ONE native codegen expression
    * ([[graft.plans.HashedBagScore]] over the shared
    * [[graft.plans.Kernels.fnv1a]] token hash — a higher-order
    * `aggregate` formulation computes the same value but Spark HOFs
    * never enter whole-stage codegen), so the scan stays in a single
    * codegen span with zero exchanges (CurationSpec pins both) and
    * the DuckDB oracle replays the sequential left fold term by term
    * in token order (bit-identical doubles, no rounding crutch).
    *
    * `weights.size` must be a power of two: the oracle's FNV mirror
    * is unsigned mod 2^64 while the engine's Long is signed, and
    * `h mod D == (h + 2^64) mod D` only when D divides 2^64.
    *
    * Empty/null text scores exactly `bias` (no phantom "" token).
    */
  def hashedBagScore(text: Column, weights: Seq[Double], bias: Double): Column = {
    val d = weights.size
    require(d > 0 && (d & (d - 1)) == 0,
      s"weight dimension must be a power of two (signed/unsigned mod congruence), got $d")
    import org.apache.spark.sql.graftshim.ColumnShim
    // null text scores like empty text (= bias): the oracle's
    // coalesce(text, '') rule
    ColumnShim.column(graft.plans.HashedBagScore(
      ColumnShim.expression(coalesce(text, lit(""))), weights, bias))
  }

  /** Text → quantized k-dim embedding ([[graft.plans.HashedBagEmbed]]
    * — the q167 trained-artifact discipline as a PRODUCER for the
    * similarity tier). `weights` is the flattened dim×k matrix in
    * row-major order; `dim = weights.size / k` must be a power of two
    * (the hashing-trick congruence rule). Null text embeds as the
    * zero vector.
    */
  def hashedBagEmbed(text: Column, weights: Seq[Double], k: Int): Column = {
    require(k > 0 && weights.size % k == 0,
      s"weights (${weights.size}) must be a whole number of $k-wide rows")
    val d = weights.size / k
    require(d > 0 && (d & (d - 1)) == 0,
      s"hash dimension must be a power of two (signed/unsigned mod congruence), got $d")
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.HashedBagEmbed(
      ColumnShim.expression(coalesce(text, lit(""))), weights, k))
  }
}

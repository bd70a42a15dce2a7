package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans.BpeMerges

/** Distributed BPE tokenizer TRAINING (Sennrich 2016 §3 `learn_bpe`;
  * reference semantics: the tokenizer-artifact production step a
  * crawl pipeline runs before any [[graft.plans.BpeEncode]] apply).
  * Closes the q164 gap: the engine could apply a merge table nothing
  * in it could produce.
  *
  * Scale shape — the 100 TB contract:
  *
  *  - The ONLY corpus-scale operation is the first aggregation: split
  *    the corpus into words and count word frequencies (one keyed
  *    shuffle with map-side partial combine, exactly the q24 class).
  *    Everything after runs on the VOCABULARY frame — distinct words
  *    with their corpus weights — which is sub-linear in the corpus
  *    (Heaps' law) and bounded like the q97/q160 training samples.
  *  - Merges are learned in BATCHED rounds (the r19 verdict's
  *    vocab-scale restructure). Each round is (a) ONE vocab-sized
  *    pair-count aggregation (adjacent token pairs weighted by word
  *    frequency — the standard overlapping count: a word `aaa`
  *    contributes (a,a) twice) whose top slice is collected to the
  *    driver (the merge TABLE is a bounded driver-side artifact by
  *    design — the PQ-codebook discipline), (b) a driver-side walk
  *    selecting the longest greedy-EXACT batch of non-interacting
  *    pairs (see [[selectBatch]] — provably the same merge list
  *    sequential argmax produces, BpeTrainerSpec pins batched ≡
  *    sequential), and (c) ONE chained map-only codegen
  *    re-tokenization pass applying the whole batch
  *    ([[graft.plans.BpeMergePair]] composed per pair).
  *  - The vocabulary frame lives under [[Checkpoints.stable]] on a
  *    CADENCE (every `checkpointEvery` rounds + at exit), not per
  *    merge: the loop's lineage stays bounded (≤ `checkpointEvery`
  *    narrow projections deep), training survives executor loss on a
  *    remote-executor master (the r18 chaos-probe class — a loss
  *    recomputes at most the rounds since the last cut), and each
  *    superseded cut's blocks are freed eagerly ([[Checkpoints.free]],
  *    the [[Components]] loop discipline). Net per-MERGE cost drops
  *    from 2 Spark jobs + 1 checkpoint (the r19 structure) to
  *    ~(1 + 1/checkpointEvery)/batchSize jobs — the vocab-scale path
  *    (BPE_SCALE probe, SCALE_PROBE.md r20: measured flat per-round
  *    cost at 256 merges).
  *
  * Determinism: argmax ties break by the pair's byte order (`count
  * DESC, "left right" ASC`) — for space-free tokens the concatenated
  * key orders exactly like the (left, right) tuple, and Spark's
  * UTF8String and DuckDB's VARCHAR compare bytes identically, so the
  * oracle can replay the selection. One merge pass per pair is
  * exhaustive for that pair (see [[BpeMerges.mergePair]]), and batch
  * members are pairwise token-disjoint, so their passes commute and
  * re-counting once after the whole batch is sound.
  *
  * Round-trip contract (CrawlSpec): feeding the learned table to
  * [[graft.plans.BpeEncode]] reproduces the training tokenization of
  * every vocabulary word — apply's lowest-rank-first loop replays the
  * training order because each pair's rank records exactly when it
  * became the best merge.
  */
object BpeTrainer {

  /** Learned merges in rank order plus the FINAL tokenized vocabulary
    * frame (`word`, `freq`, `toks`) — the round-trip witness. The
    * vocab is a live checkpointed frame; inside a [[Staging.scoped]]
    * block its blocks are freed at scope exit, otherwise the caller
    * owns them (the [[Components]] terminal-frame contract).
    */
  final case class Learned(merges: Seq[(String, String, Long)], vocab: DataFrame)

  /** Adjacent-pair keys of a token array: `toks[i] + " " + toks[i+1]`
    * for every position (overlapping, the standard BPE count).
    */
  private def adjacentPairs(toks: Column): Column =
    when(size(toks) > 1,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** The greedy-EXACT batch: walk the collected (cnt DESC, pair ASC)
    * slice and keep pairs while they are pairwise NON-INTERACTING,
    * stopping at the first pair that interacts with an earlier keep;
    * then drop trailing keeps whose count does not STRICTLY exceed
    * the stop bound. A pair (c, d) INTERACTS with the keeps so far
    * when c, d or the minted string c+d is an earlier keep's token or
    * mint, or when c+d is already a LIVE vocab token (`alive` — seed
    * alphabet plus every mint so far): a mint that collides with a
    * live token lets pre-existing pairs GAIN occurrences from the
    * merge, which breaks the count bound below. Provably equal to
    * per-merge sequential argmax:
    *
    *  - Non-interacting merges commute and leave each other's counts
    *    untouched (a merge pass only destroys pairs overlapping its
    *    own occurrences and only creates pairs containing its minted
    *    token), so each keep's round-start count is still its live
    *    count when sequential greedy reaches it, and the walk order
    *    (count DESC, pair ASC) is exactly greedy's successive-argmax
    *    order — any same-count rival appears later in the walk and
    *    loses the byte-order tie.
    *  - Every pair that interacts with a keep sits at or below the
    *    stop bound (the walk would have stopped sooner otherwise).
    *    Every pair whose count can INCREASE under the batch contains
    *    a mint; mints are fresh strings (the `alive` rule), so such a
    *    pair has no old occurrences and its created count is bounded
    *    by an old interacting pair's count (each created (x, ab)
    *    occurrence was an (x, a) occurrence) ≤ the stop bound. A keep
    *    with count strictly above the bound therefore beats every
    *    count that can move under it. Strictness matters: a created
    *    pair TYING a keep could win the byte-order tie, so ties are
    *    not kept.
    *  - The first pair is the unconditional argmax and always kept —
    *    each round advances even when the top pairs all interact
    *    (batch of 1 ≡ the sequential round). When the HEAD's own mint
    *    collides with a live token (sequential-legal, the q166 class
    *    of later-merge interplay), nothing after it can be bounded,
    *    so the batch is exactly that head.
    *
    * `truncated` = the collected slice may not be the full pair list;
    * then unseen pairs (count ≤ the slice minimum) cap the batch the
    * same way an interacting pair does.
    */
  private[graft] def selectBatch(top: Seq[(String, String, Long)],
      maxKeep: Int, truncated: Boolean,
      alive: String => Boolean): Seq[(String, String, Long)] = {
    val keep = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    val toks = scala.collection.mutable.HashSet.empty[String]
    var stopBound = -1L
    var stopped = false
    var i = 0
    while (i < top.length && !stopped) {
      val (a, b, cnt) = top(i)
      val mint = a + b
      if (keep.isEmpty) {
        keep += ((a, b, cnt))
        toks += a; toks += b; toks += mint
        if (alive(mint)) {
          // head's mint re-creates a live token: pairs containing it
          // may gain occurrences ON TOP of live counts — unbounded by
          // any collected count, so nothing after the head is safe
          stopBound = Long.MaxValue
          stopped = true
        }
      } else if (toks.contains(a) || toks.contains(b) ||
          toks.contains(mint) || alive(mint)) {
        // first interacting pair: its count bounds everything a kept
        // merge can destroy or newly create
        stopBound = cnt
        stopped = true
      } else if (keep.size < maxKeep) {
        keep += ((a, b, cnt))
        toks += a; toks += b; toks += mint
      }
      // non-interacting pairs past maxKeep: no constraint (their
      // counts cannot move under a non-interacting batch) — keep
      // scanning for the first interacting pair
      i += 1
    }
    if (!stopped && truncated && top.nonEmpty) stopBound = top.last._3
    val head = keep.take(1).toList
    // the head is the unconditional argmax of this round — exact
    // greedy picks it before any batch member is applied
    head ++ keep.drop(1).takeWhile(_._3 > stopBound)
  }

  /** Learn `nMerges` merges. `maxBatch` caps merges per round (any
    * value yields the IDENTICAL merge list — BpeTrainerSpec);
    * `checkpointEvery` sets the lineage-cut cadence in rounds.
    */
  def learn(docs: DataFrame, textCol: String, nMerges: Int,
      byteLevel: Boolean = false, maxBatch: Int = 16,
      checkpointEvery: Int = 4): Learned = {
    require(nMerges > 0 && nMerges <= 65536,
      s"nMerges must be a bounded artifact size, got $nMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val s = docs.sparkSession
    import s.implicits._

    // The one corpus-scale pass: word frequencies. Char-level seeds
    // per CODE POINT (split("") — matching BpeEncode's code-point
    // apply seeding); byte-level seeds per UTF-8 byte through the
    // GPT-2 table ([[graft.plans.GptByteTokens]] — matching
    // BpeEncode's byte mode). The merge loop is alphabet-agnostic
    // above the seed.
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val seed =
      if (byteLevel) {
        import org.apache.spark.sql.graftshim.ColumnShim
        ColumnShim.column(graft.plans.GptByteTokens(ColumnShim.expression($"word")))
      } else split($"word", "")

    var lastCut = Checkpoints.stable(
      words.select($"word", $"freq", seed.as("toks")))
    var vocab = lastCut
    var sinceCut = 0
    // Every token string that has ever lived: the seed ALPHABET (one
    // bounded job over the cut vocab — ≤256 byte tokens, or the
    // corpus code-point set) plus each mint. selectBatch's proof
    // needs mints to be FRESH strings; a collision stops the batch.
    val alive = scala.collection.mutable.HashSet.empty[String]
    alive ++= lastCut.select(explode($"toks").as("t"))
      .distinct().as[String].collect()
    def cut(): Unit = if (sinceCut > 0) {
      val next = Checkpoints.stable(vocab)
      Checkpoints.free(lastCut) // superseded cut's blocks are dead
      lastCut = next
      vocab = next
      sinceCut = 0
    }

    val merges = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val want = math.min(maxBatch, nMerges - merges.size)
      // collect a slice wide enough to see past the batch to its stop
      // boundary; +1 row detects truncation
      val slice = math.max(4 * want, 16) + 1
      val top: Seq[(String, String, Long)] = vocab
        .select($"freq", explode(adjacentPairs($"toks")).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc)
        .limit(slice).collect().toSeq
        .map { (r: Row) =>
          val Array(a, b) = r.getString(0).split(" ", 2)
          (a, b, r.getLong(1))
        }
      if (top.isEmpty) exhausted = true // every word is one token
      else {
        val batch =
          selectBatch(top, want, truncated = top.length >= slice, alive)
        batch.foreach { case (a, b, _) =>
          // Re-selecting an exhausted pair would mean a later merge
          // recreated its occurrences AND they out-counted everything
          // else. Standard BPE admits this via token-string
          // COINCIDENCE — e.g. 'abc' minted once as ('ab','c') and
          // again as ('a','bc') can legitimately rebuild an exhausted
          // (x,'abc') — and the same coincidence makes apply's
          // rank-keyed loop ambiguous, so the table would be malformed
          // downstream (BpeEncode rejects duplicate ranks). Fail
          // loudly at the mint, never emit it.
          require(seen.add((a, b)),
            s"BPE training re-selected pair '$a $b' at rank " +
              s"${merges.size + 1} — a later merge recreated an exhausted " +
              "pair's token string (the standard-BPE duplicate-pair " +
              "coincidence); the merge table cannot rank a pair twice")
        }
        merges ++= batch
        alive ++= batch.map { case (a, b, _) => a + b }
        // one chained map-only pass applies the whole batch; disjoint
        // passes commute, so chain order = rank order is exact
        val merged = batch.foldLeft($"toks": Column) {
          case (c, (a, b, _)) => BpeMerges.mergePair(c, a, b)
        }
        vocab = vocab.select($"word", $"freq", merged.as("toks"))
        sinceCut += 1
        if (sinceCut >= checkpointEvery) cut()
      }
    }
    cut()
    val terminal = vocab
    Staging.onScopeExit(() => Checkpoints.free(terminal))
    Learned(merges.toList, vocab)
  }

  /** The merge table as a frame: `(rk, lhs, rhs, pair_count)` in rank
    * order, rank 1-based — the q165 presentation (and the artifact a
    * deployment would write next to its corpus snapshot).
    */
  def learnTable(docs: DataFrame, textCol: String, nMerges: Int,
      byteLevel: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val learned = learn(docs, textCol, nMerges, byteLevel)
    Checkpoints.free(learned.vocab) // table-only callers never read it
    learned.merges.zipWithIndex
      .map { case ((a, b, cnt), i) => (i + 1L, a, b, cnt) }
      .toDF("rk", "lhs", "rhs", "pair_count")
      .orderBy($"rk")
  }
}

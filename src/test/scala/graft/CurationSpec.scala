package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CurationOps
import graft.plans.{Kernels, NativeFunctions}
import org.apache.spark.unsafe.types.UTF8String

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- duplicatedSpans -------------------------------------------------

  private def doc(words: Int, tag: String): String =
    (1 to words).map(i => s"$tag$i").mkString(" ")

  test("duplicatedSpans finds a planted cross-document passage exactly") {
    // Two 30-word docs share the same 12-word passage at DIFFERENT
    // offsets (positions 5 and 15); a third doc is all-unique.
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val d1 = (doc(4, "a") + " " + passage + " " + doc(14, "b"))
    val d2 = (doc(14, "c") + " " + passage + " " + doc(4, "d"))
    val d3 = doc(30, "e")
    val out = CurationOps.duplicatedSpans(
      Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text"),
      "doc_id", "text", k = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "dup_words", "dup_fraction")
      .as[(Long, Long, Long, Double)].collect()
    // Every k-gram fully inside the 12-word passage (5 of them at
    // k=8) is shared, so exactly the 12 passage words are covered in
    // both docs regardless of their differing offsets.
    assert(out(0) == ((1L, 30L, 12L, 12.0 / 30)))
    assert(out(1) == ((2L, 30L, 12L, 12.0 / 30)))
    assert(out(2) == ((3L, 30L, 0L, 0.0)))
  }

  test("duplicatedSpans ignores shared runs shorter than k and short docs") {
    // 7 shared words < k=8 → no shared k-gram → zero coverage; and a
    // 5-word doc (< k) must still appear with zero, not crash on
    // Spark's descending sequence(1, 0).
    val short7 = (1 to 7).map(i => s"s$i").mkString(" ")
    val out = CurationOps.duplicatedSpans(
      Seq(
        (1L, short7 + " " + doc(10, "x")),
        (2L, short7 + " " + doc(10, "y")),
        (3L, doc(5, "z"))).toDF("doc_id", "text"),
      "doc_id", "text", k = 8)
      .orderBy("doc_id").select("dup_words").as[Long].collect()
    assert(out.toSeq == Seq(0L, 0L, 0L))
  }

  test("duplicatedSpans merges overlapping duplicated spans (coverage, not counts)") {
    // One doc repeats ANOTHER doc's 20-word passage: the 13 shared
    // k-grams overlap heavily, but covered words must count each
    // position once = 20, not 13*8.
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val out = CurationOps.duplicatedSpans(
      Seq((1L, passage), (2L, passage + " " + doc(10, "t"))).toDF("doc_id", "text"),
      "doc_id", "text", k = 8)
      .orderBy("doc_id").select("dup_words").as[Long].collect()
    assert(out.toSeq == Seq(20L, 20L))
  }

  // ---- chunkDocuments --------------------------------------------------

  test("chunkDocuments edge sizes: below, at, and just past one chunk") {
    val df = Seq(
      (1L, doc(10, "a")), // n < C → 1 chunk of 10
      (2L, doc(32, "b")), // n = C → 1 chunk of 32
      (3L, doc(33, "c")), // n = C+1 → 2 chunks, second = words 25..33 (9)
      (4L, doc(56, "d")), // n = C+S → 2 chunks, second = words 25..56 (32)
      (5L, doc(57, "e"))  // n = C+S+1 → 3 chunks, third = words 49..57 (9)
    ).toDF("doc_id", "text")
    val out = CurationOps.chunkDocuments(df, "doc_id", "text", 32, 24)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "start_word", "chunk_words")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 1L, 10L),
      (2L, 0L, 1L, 32L),
      (3L, 0L, 1L, 32L), (3L, 1L, 25L, 9L),
      (4L, 0L, 1L, 32L), (4L, 1L, 25L, 32L),
      (5L, 0L, 1L, 32L), (5L, 1L, 25L, 32L), (5L, 2L, 49L, 9L)))
  }

  test("chunkDocuments reconstructs the document from strided chunks") {
    // Dropping each chunk's 8-word overlap (except the first) and
    // concatenating must reproduce the original word stream exactly.
    val words = (1 to 101).map(i => s"w$i")
    val out = CurationOps.chunkDocuments(
      Seq((1L, words.mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", 32, 24)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text").as[(Long, String)].collect()
    val rebuilt = out.flatMap { case (ci, text) =>
      val ws = text.split(" ").toSeq
      if (ci == 0) ws else ws.drop(32 - 24)
    }.toSeq
    assert(rebuilt == words)
  }

  // ---- winnowFingerprints ----------------------------------------------

  private def md5prefix(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)

  /** Reference winnowing: all k-gram hashes, min of each w-window with
    * rightmost tie-break, distinct (pos, hash) set.
    */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Int, String)] = {
    val words = text.split(" ")
    val hs = (1 to words.length - k + 1)
      .map(i => (i, md5prefix(words.slice(i - 1, i - 1 + k).mkString(" "))))
    hs.indices.map { t =>
      hs.slice(t, t + w).minBy { case (pos, h) => (h, -pos) }
    }.toSet
  }

  test("winnowFingerprints matches a brute-force reference implementation") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 5L).map { id =>
      (id, (1 to 40 + rnd.nextInt(40)).map(_ => s"t${rnd.nextInt(30)}").mkString(" "))
    }
    val out = CurationOps.winnowFingerprints(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = 4, w = 4)
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    docs.foreach { case (id, text) =>
      assert(out(id) == winnowRef(text, 4, 4), s"doc $id")
    }
  }

  test("winnowing guarantee: docs sharing a (w+k-1)-word passage share a fingerprint") {
    // k=4, w=4 → any shared run of >= 7 words must yield a common
    // (hash) fingerprint even at different positions.
    val passage = (1 to 7).map(i => s"shared$i").mkString(" ")
    val d1 = doc(9, "l") + " " + passage + " " + doc(5, "r")
    val d2 = doc(3, "x") + " " + passage + " " + doc(11, "y")
    val fps = CurationOps.winnowFingerprints(
      Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"), "doc_id", "text", 4, 4)
      .as[(Long, Int, String)].collect()
    val h1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty)
  }

  test("winnowing rightmost tie-break on equal hashes") {
    // All-identical words → every gram hash equal → each window keeps
    // its RIGHTMOST position → fingerprints are positions w..n_grams.
    val n = 12 // words
    val out = CurationOps.winnowFingerprints(
      Seq((1L, (1 to n).map(_ => "z").mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", 4, 4)
      .as[(Long, Int, String)].collect().map(_._2).sorted
    assert(out.toSeq == (4 to n - 3).toSeq) // n_grams = 9 → positions 4..9
  }

  // ---- groupRegression -------------------------------------------------

  test("groupRegression recovers an exact linear relation per group") {
    // Group g1: y = 2x + 1 exactly (r2 = 1); g2: constant x → NULL
    // fit (SQL regr_slope semantics, ANSI-safe).
    val rows =
      (1 to 50).map(i => ("g1", i.toDouble, 2.0 * i + 1)) ++
        (1 to 10).map(i => ("g2", 5.0, i.toDouble))
    val out = CurationOps.groupRegression(
      rows.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .orderBy("g")
      .select("g", "n", "slope", "intercept", "r2")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect()
    assert(out(0) == (("g1", 50L, Some(2.0), Some(1.0), Some(1.0))))
    assert(out(1)._2 == 10L)
    assert(out(1)._3.isEmpty && out(1)._4.isEmpty && out(1)._5.isEmpty)
  }

  test("groupRegression uses pairwise-complete rows: count matches the moments") {
    // y = 3x - 2 on five clean pairs; interleaved rows have a null x,
    // a null y, and an x that overflows DECIMAL(12,2) (cast → null).
    // All four must vanish from EVERY moment including n — the old
    // count(*) bug kept them in n only, skewing slope/intercept/r².
    val rows = Seq[(String, Option[Double], Option[Double])](
      ("g", Some(1.0), Some(1.0)), ("g", Some(2.0), Some(4.0)),
      ("g", Some(3.0), Some(7.0)), ("g", Some(4.0), Some(10.0)),
      ("g", Some(5.0), Some(13.0)),
      ("g", None, Some(99.0)), ("g", Some(99.0), None),
      ("g", Some(1.0e11), Some(1.0))) // overflows precision 12 → null
    val out = CurationOps.groupRegression(
      rows.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .select("n", "slope", "intercept", "r2")
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(out == ((5L, Some(3.0), Some(-2.0), Some(1.0))))
  }

  test("groupRegression is partitioning-invariant (exact decimal moments)") {
    val rows = (1 to 997).map(i => ("g", (i % 37).toDouble + 0.25, (i % 11).toDouble * 3 - 1))
    val one = CurationOps.groupRegression(
      rows.toDF("g", "x", "y").coalesce(1), Seq("g"), "x", "y")
      .select("slope", "intercept", "r2").as[(Double, Double, Double)].head()
    val many = CurationOps.groupRegression(
      rows.toDF("g", "x", "y").repartition(13), Seq("g"), "x", "y")
      .select("slope", "intercept", "r2").as[(Double, Double, Double)].head()
    assert(one == many)
  }

  // ---- dsirSelect ------------------------------------------------------

  test("dsirSelect draws k raw docs, keeps their columns, ignores partitioning") {
    val docs = (1L to 40L).map { i =>
      val src = if (i % 4 == 0) "target" else "raw"
      (i, src, s"alpha beta w$i gamma w${i % 7} delta")
    }.toDF("doc_id", "source", "text")
    val sel = CurationOps.dsirSelect(
      docs, "doc_id", "text", $"source" === "target", 5)
    val rows = sel.collect()
    assert(rows.length == 5)
    // only RAW documents are ever selected (the target slice defines
    // the distribution, it is not itself resampled)
    assert(rows.forall(_.getAs[String]("source") == "raw"))
    // original columns materialize alongside the selection metadata
    assert(sel.columns.toSeq ==
      Seq("doc_id", "source", "text", "n_grams", "log_w", "sel_key"))
    // seeded Gumbel: the draw is a function of the data, not the layout
    val again = CurationOps.dsirSelect(
      docs.repartition(7), "doc_id", "text", $"source" === "target", 5)
    assert(again.select("doc_id").collect().map(_.getLong(0)).toSet ==
      rows.map(_.getAs[Long]("doc_id")).toSet)
    // a different seed tag draws a different subset (overwhelmingly)
    val other = CurationOps.dsirSelect(
      docs, "doc_id", "text", $"source" === "target", 5, seedTag = "other:")
    assert(other.select("doc_id").collect().map(_.getLong(0)).toSet !=
      rows.map(_.getAs[Long]("doc_id")).toSet)
  }

  // ---- tokenBudgetSelect -----------------------------------------------

  test("tokenBudgetSelect: exact greedy fill across buckets, md5 order at the boundary") {
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    // scores: 3.0 -> {id1:10, id2:10 tokens}, 2.0 -> {id3,id4,id5: 5 each},
    // 1.0 -> {id6:10}. total 45 tokens, budget 40% = 18.
    // Bucket 3.0 is the boundary (0 < 18 < 20): md5("1") < md5("2") so
    // id1 (run 10 <= 18) is kept, id2 (run 20 > 18) is not; buckets
    // 2.0/1.0 start at prev 20 >= 18 -> dropped whole.
    val docs = Seq(
      (1L, 3.0, words(10)), (2L, 3.0, words(10)),
      (3L, 2.0, words(5)), (4L, 2.0, words(5)), (5L, 2.0, words(5)),
      (6L, 1.0, words(10))
    ).toDF("doc_id", "s", "text")
    val out = CurationOps.tokenBudgetSelect(docs, "doc_id", "text", $"s", 40)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out.map(_._4) == Seq(true, false, false, false, false, false))
    assert(out.map(_._2) == Seq(10L, 10L, 5L, 5L, 5L, 10L))
    // 100% budget keeps everything; 0% keeps nothing
    val all = CurationOps.tokenBudgetSelect(docs, "doc_id", "text", $"s", 100)
    assert(all.filter($"kept").count() == 6)
    val none = CurationOps.tokenBudgetSelect(docs, "doc_id", "text", $"s", 0)
    assert(none.filter($"kept").count() == 0)
    // the selection is a function of the data, not the partitioning
    val again = CurationOps.tokenBudgetSelect(
      docs.repartition(7), "doc_id", "text", $"s", 40)
      .filter($"kept").select("doc_id").as[Long].collect().toSet
    assert(again == Set(1L))
  }

  // ---- contaminationFraction -------------------------------------------

  test("contaminationFraction: exact overlap share, gram-less docs kept") {
    // bench doc: "a b c d e" → 4-grams {a b c d, b c d e}
    // raw 1: "a b c d x"  → {a b c d, b c d x} → 1/2
    // raw 2: "a b c d e f" → {a b c d, b c d e, c d e f} → 2/3
    // raw 3: "z y"         → no grams → 0/0 → 0.0, still present
    // raw 4: "q w e r"     → {q w e r} → 0/1
    val docs = Seq(
      (0L, true, "a b c d e"),
      (1L, false, "a b c d x"),
      (2L, false, "a b c d e f"),
      (3L, false, "z y"),
      (4L, false, "q w e r")
    ).toDF("doc_id", "bm", "text")
    val out = CurationOps.contaminationFraction(
      docs, "doc_id", "text", $"bm", 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 3L, 2L, 2.0 / 3.0),
      (3L, 0L, 0L, 0.0),
      (4L, 1L, 0L, 0.0)))
    // repeated grams inside one doc count once (distinct per doc)
    val rep = CurationOps.contaminationFraction(
      Seq((0L, true, "a b c d"), (1L, false, "a b c d a b c d a b c d"))
        .toDF("doc_id", "bm", "text"),
      "doc_id", "text", $"bm", 4)
      .as[(Long, Long, Long, Double)].head()
    // 12 words → 9 gram positions, 4 distinct cyclic rotations;
    // only "a b c d" hits
    assert(rep._2 == 4L && rep._3 == 1L)
  }

  // ---- degenerate inputs -----------------------------------------------

  test("curation ops survive null and empty text rows") {
    val df = Seq((1L, null: String), (2L, ""), (3L, "one"), (4L, doc(20, "n")))
      .toDF("doc_id", "text")
    // duplicatedSpans: null text → null n_words, zero dup; empty text
    // splits to [""] (one pseudo-word), too short for any gram.
    val spans = CurationOps.duplicatedSpans(df, "doc_id", "text", 8)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "dup_words")
      .as[(Long, Option[Long], Long)].collect()
    assert(spans.toSeq == Seq(
      (1L, None, 0L), (2L, Some(1L), 0L), (3L, Some(1L), 0L), (4L, Some(20L), 0L)))
    // chunkDocuments: the null-text row has no chunk list and drops;
    // empty/1-word docs produce exactly one (possibly empty) chunk.
    val chunks = CurationOps.chunkDocuments(df, "doc_id", "text", 32, 24)
      .orderBy("doc_id").select("doc_id", "chunk_text")
      .as[(Long, String)].collect()
    assert(chunks.map(_._1).toSeq == Seq(2L, 3L, 4L))
    assert(chunks(0)._2 == "" && chunks(1)._2 == "one")
    // winnowFingerprints: nothing selected from null/short docs.
    val fps = CurationOps.winnowFingerprints(df, "doc_id", "text", 4, 4)
      .select("doc_id").as[Long].collect().toSet
    assert(fps == Set(4L))
  }

  // ---- byteEntropy -----------------------------------------------------

  test("byte_entropy known values and codegen parity") {
    val out = Seq("aaaa", "ab", "abcd", "").toDF("t")
      .select(NativeFunctions.byteEntropy($"t")).as[Double].collect()
    assert(out(0) == 0.0)
    assert(out(1) == 1.0)
    assert(out(2) == 2.0)
    assert(out(3) == 0.0)
    // codegen path equals the interpreted kernel
    val s = "the quick brown fox jumps over the lazy dog"
    val viaSpark = Seq(s).toDF("t")
      .select(NativeFunctions.byteEntropy($"t")).as[Double].head()
    assert(viaSpark == Kernels.byteEntropy(UTF8String.fromString(s)))
  }

  test("byte_entropy is SQL-registered and null-safe") {
    val r = spark.sql(
      "SELECT byte_entropy('abab') AS e, byte_entropy(CAST(NULL AS STRING)) AS n").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.isNullAt(1))
  }

  // ---- dsirLogWeights --------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Exact scala mirror of the operator's bucket math (same double
    * operation order), for the brute-force differential.
    */
  private def dsirReference(
      docs: Seq[(Long, String, Boolean)]): Map[Long, (Long, Double)] = {
    val b = 4096L
    def grams(t: String): Seq[String] = {
      val w = t.split(" ").toSeq
      w ++ w.zip(w.drop(1)).map { case (a, c) => s"$a $c" }
    }
    val all = docs.flatMap { case (id, t, tgt) =>
      grams(t).map(g => (id, tgt, md5hex(g).substring(0, 3)))
    }
    val ct = all.filter(_._2).groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val cr = all.filterNot(_._2).groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val tt = ct.values.sum
    val tr = cr.values.sum
    def lr(bk: String): Double = math.log(
      ((ct.getOrElse(bk, 0L) + 1L).toDouble / (cr.getOrElse(bk, 0L) + 1L).toDouble) *
        ((tr + b).toDouble / (tt + b).toDouble))
    all.filterNot(_._2).groupBy(_._1).map { case (id, rows) =>
      id -> (rows.size.toLong, rows.map(r => lr(r._3)).sum)
    }
  }

  test("dsirLogWeights ranks target-like raw documents above unrelated ones") {
    // Target vocabulary is "alpha…"; raw doc 10 reuses it verbatim,
    // raw doc 11 is a disjoint vocabulary of the SAME length, so the
    // importance ratio is the only difference between them.
    val tgt = (1 to 40).map(i => s"alpha${i % 8}").mkString(" ")
    val rawLike = (1 to 40).map(i => s"alpha${(i + 3) % 8}").mkString(" ")
    val rawOther = (1 to 40).map(i => s"zeta${i % 8}").mkString(" ")
    val df = Seq(
      (1L, tgt, "t"), (2L, tgt, "t"),
      (10L, rawLike, "r"), (11L, rawOther, "r")).toDF("doc_id", "text", "kind")
    val out = CurationOps.dsirLogWeights(df, "doc_id", "text", $"kind" === "t")
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "log_w_raw")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(10L, 11L), "only RAW docs are scored")
    assert(out.forall(_._2 == 79L), "40 unigrams + 39 bigrams per doc")
    assert(out(0)._3 > out(1)._3,
      s"target-like doc must outscore the unrelated one: $out")
  }

  test("dsirLogWeights matches the brute-force reference and survives repartition") {
    val docs = Seq(
      (1L, "a b c a b", true), (2L, "c d e f g", true),
      (10L, "a b c d e", false), (11L, "x y z w v", false),
      (12L, "a a a b b", false))
    val expect = dsirReference(docs)
    val df = docs.toDF("doc_id", "text", "is_t").repartition(7)
    val got = CurationOps.dsirLogWeights(df, "doc_id", "text", $"is_t")
      .select("doc_id", "n_grams", "log_w_raw")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == expect.keySet)
    for ((id, (n, w)) <- expect) {
      assert(got(id)._1 == n, s"gram count for doc $id")
      // summation order differs between engines/partitionings; the
      // terms themselves are bit-identical
      assert(math.abs(got(id)._2 - w) < 1e-9,
        s"weight for doc $id: got ${got(id)._2}, expect $w")
    }
  }

  test("dsirLogWeights: smoothing keeps unseen-bucket weights finite and plan is broadcast-only") {
    // Raw doc with vocabulary never seen in target: every bucket has
    // ct=0 and the add-one-smoothed ratio must stay finite/negative.
    val df = Seq(
      (1L, "p q r s", true),
      (10L, "m n o u", false)).toDF("doc_id", "text", "is_t")
    val out = CurationOps.dsirLogWeights(df, "doc_id", "text", $"is_t")
    val w = out.select("log_w_raw").as[Double].head()
    assert(!w.isNaN && !w.isInfinite)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      "bucket log-ratio table must join by broadcast:\n" + plan)
  }

  test("dsirLogWeights rejects reserved column names") {
    val df = Seq((1L, "a", true)).toDF("doc_id", "__b", "is_t")
    val e = intercept[IllegalArgumentException] {
      CurationOps.dsirLogWeights(df, "doc_id", "__b", $"is_t")
    }
    assert(e.getMessage.contains("reserved"))
  }

  // ---- klDrift ---------------------------------------------------------

  test("klDrift is non-negative and flags the drifted group highest") {
    // g1/g2 share one vocabulary; g3 is a disjoint vocabulary — the
    // drifted source must carry the strictly largest KL, and every KL
    // must be ≥ 0 (full-support normalization).
    val common = (1 to 60).map(i => s"w${i % 10}").mkString(" ")
    val drifted = (1 to 60).map(i => s"zz${i % 10}").mkString(" ")
    val df = Seq(
      ("g1", common), ("g1", common),
      ("g2", common), ("g2", common),
      ("g3", drifted), ("g3", drifted)).toDF("src", "text")
    val out = CurationOps.klDrift(df, "src", "text")
      .orderBy("src").select("src", "n_grams", "kl")
      .as[(String, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("g1", "g2", "g3"))
    assert(out.forall(_._2 == 120L))
    assert(out.forall(_._3 >= 0.0), s"KL must be non-negative: ${out.toSeq}")
    // With 120 grams spread over 4096 smoothed buckets the add-one
    // mass compresses all KLs toward the common smoothing floor, so
    // dominance is asserted at 1.5x, not an order of magnitude.
    assert(out(2)._3 > out(0)._3 * 1.5,
      s"drifted group must dominate: ${out.toSeq}")
    assert(math.abs(out(0)._3 - out(1)._3) < 1e-12,
      "identical groups must have identical KL")
  }

  test("klDrift is partitioning-invariant and guards reserved names") {
    val docs = Seq(
      ("a", "x y z x y"), ("a", "p q r"), ("b", "x x q"),
      ("c", "u v w u v w u")).toDF("src", "text")
    val one = CurationOps.klDrift(docs.coalesce(1), "src", "text")
      .orderBy("src").select("kl").as[Double].collect()
    val many = CurationOps.klDrift(docs.repartition(5), "src", "text")
      .orderBy("src").select("kl").as[Double].collect()
    assert(one.length == 3)
    one.zip(many).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-12, s"partitioning changed KL: $x vs $y")
    }
    val bad = Seq(("a", "t", 1L)).toDF("src", "text", "__nn")
    val e = intercept[IllegalArgumentException] {
      CurationOps.klDrift(bad, "src", "text")
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("q161 training shuffle: a reproducible permutation in file-sized shards") {
    import graft.queries.CurationQueries
    val dir = "/root/testdata/sf0.01"
    val out = CurationQueries.trainingShuffle(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val corpus = spark.read.parquet(s"$dir/documents.parquet").count()
    // a PERMUTATION: every document appears exactly once
    assert(out.length == corpus && out.map(_._1).distinct.length == out.length)
    // positions are contiguous 1..n within each shard (a shard file's
    // write offsets — no gaps, no collisions)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // the md5 shard key spreads uniformly: no shard is empty and the
    // imbalance stays far from the one-hot-shard failure mode (500
    // docs over 8 shards has binomial spread — measured 51..83, ratio
    // 1.63; the guard is against concentration, not sampling noise)
    val sizes = out.groupBy(_._2).values.map(_.length)
    assert(sizes.size == 8 && sizes.max.toDouble / sizes.min < 2.5,
      s"shard skew: ${sizes.toSeq.sorted}")
    // deterministic: a rebuild emits the identical order
    val again = CurationQueries.trainingShuffle(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq, "shuffle must be reproducible")
    // the shard-size bound is ENFORCED, not asserted: k derives from
    // the corpus count (floored at the oracle-mirrored 8), so a
    // window partition never exceeds ~ShardDocs rows at any scale
    assert(CurationQueries.shardCount(500) == 8L)
    assert(CurationQueries.shardCount(800000) == 8L)   // floor's last value
    assert(CurationQueries.shardCount(800001) == 9L)   // derivation takes over
    assert(CurationQueries.shardCount(10000000L) == 100L)
    assert(CurationQueries.shardCount(10000000000L) == 100000L) // ~100 TB
  }

  // ---- hashedBagScore (q167) -------------------------------------------

  test("hashedBagScore = bias + token-mean of FNV-bucketed weights; empty/null = bias") {
    import graft.queries.CurationQueries.{QualityBias, QualityWeights}
    def bucket(t: String): Int =
      java.lang.Math.floorMod(Kernels.fnv1a(UTF8String.fromString(t)), 64L).toInt
    def score(text: String): Double =
      Seq(Option(text)).toDF("t")
        .select(CurationOps.hashedBagScore($"t", QualityWeights, QualityBias).as("s"))
        .head.getDouble(0)
    val expected = QualityBias +
      (QualityWeights(bucket("hello")) + QualityWeights(bucket("world"))) / 2
    // double whitespace: no phantom "" token may enter the mean
    assert(score("hello  world") == expected)
    assert(score("") == QualityBias && score(null) == QualityBias)
  }

  test("hashedBagScore rejects non-power-of-two dimensions loudly") {
    // the oracle's FNV is unsigned mod 2^64, the engine's Long signed;
    // bucket congruence needs D | 2^64
    val e = intercept[IllegalArgumentException] {
      CurationOps.hashedBagScore(lit("x"), Seq.fill(63)(0.1), 0.0)
    }
    assert(e.getMessage.contains("power of two"))
  }

  test("q167 is one stateless codegen scan: no keyed exchange, fnv in a codegen span") {
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.plans.HashedBagScore]))
    val df = graft.queries.CurationQueries.qualityClassifier(spark, "/root/testdata/sf0.001")
    df.collect() // AQE: codegen spans materialize only in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"the scorer must not shuffle:\n${p.take(600)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("Join"), p.take(300))
    assert(p.linesIterator.exists(l => l.contains("hashed_bag_score") && l.contains("*(")),
      s"scorer projection not inside a codegen span:\n${p.take(700)}")
  }

  // ---- exactSubstringRemove (q173) -------------------------------------

  private def md5Of(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("exactSubstringRemove cuts shared spans but keeps the FIRST occurrence") {
    // docs share the 4-word run "a b c d": doc 1 holds the canonical
    // (lexicographically first) copy and stays whole; doc 2 loses
    // exactly its copy's coverage
    val docs = Seq((1L, "a b c d e"), (2L, "x a b c d y")).toDF("doc_id", "text")
    val out = CurationOps.exactSubstringRemove(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5 && out(0).getLong(2) == 0 &&
      out(0).getLong(3) == 0 && out(0).getString(4) == md5Of("a b c d e"))
    assert(out(1).getLong(1) == 6 && out(1).getLong(2) == 4 &&
      out(1).getLong(3) == 1 && out(1).getString(4) == md5Of("x y"))
  }

  test("exactSubstringRemove sees WITHIN-document repetition (q107 does not)") {
    val docs = Seq((1L, "p q r s p q r s")).toDF("doc_id", "text")
    val out = CurationOps.exactSubstringRemove(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    // "p q r s"@5 duplicates @1: the second copy is cut, first kept
    assert(out(0).getLong(2) == 4 && out(0).getLong(3) == 1 &&
      out(0).getString(4) == md5Of("p q r s"))
  }

  test("exactSubstringRemove: corpus-wide boilerplate keeps exactly one copy") {
    val docs = Seq((1L, "t1 t2 t3"), (2L, "t1 t2 t3"), (3L, "t1 t2 t3"))
      .toDF("doc_id", "text")
    val out = CurationOps.exactSubstringRemove(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getString(4) == md5Of("t1 t2 t3") && out(0).getLong(2) == 0)
    assert(out(1).getString(4) == md5Of("") && out(1).getLong(2) == 3)
    assert(out(2).getString(4) == md5Of("") && out(2).getLong(2) == 3)
  }

  test("exactSubstringRemove counts disjoint spans separately; null text survives") {
    // two separate shared runs in doc 2 with unique filler between
    val docs = Seq(
      (1L, "a b c m n o u1 u2 x y z"),
      (2L, "a b c f1 f2 f3 x y z"),
      (3L, (null: String))).toDF("doc_id", "text")
    val out = CurationOps.exactSubstringRemove(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    // doc 2: loses [1,3] and [7,9] — TWO maximal spans
    assert(out(1).getLong(2) == 6 && out(1).getLong(3) == 2 &&
      out(1).getString(4) == md5Of("f1 f2 f3"))
    // null text → one empty-string word, nothing removable
    assert(out(2).getLong(1) == 1 && out(2).getLong(2) == 0 &&
      out(2).getString(4) == md5Of(""))
  }

  // ---- hashedBagEmbed (q170) -------------------------------------------

  test("hashedBagEmbed = quantized token-mean of FNV-bucketed weight rows") {
    import graft.queries.SimilarityQueries.{EmbedDim, EmbedK, EmbedWeights}
    def bucket(t: String): Int =
      java.lang.Math.floorMod(Kernels.fnv1a(UTF8String.fromString(t)),
        EmbedDim.toLong).toInt
    def embed(text: String): Seq[Long] =
      Seq(Option(text)).toDF("t")
        .select(CurationOps.hashedBagEmbed($"t", EmbedWeights, EmbedK).as("e"))
        .head.getSeq[Long](0)
    val expected = (0 until EmbedK).map { j =>
      val x = (EmbedWeights(bucket("hello") * EmbedK + j) +
        EmbedWeights(bucket("world") * EmbedK + j)) / 2 * 1e6
      new java.math.BigDecimal(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
    // double whitespace: no phantom "" token may enter the mean
    assert(embed("hello  world") == expected)
    // empty/null text: the ZERO vector (filtered out of cosine by the
    // caller's norm > 0 gate)
    assert(embed("") == Seq.fill(EmbedK)(0L))
    assert(embed(null) == Seq.fill(EmbedK)(0L))
  }

  test("hashedBagEmbed quantization rounds half AWAY FROM ZERO (round() parity)") {
    import graft.plans.HashedBagEmbed.quantize
    assert(quantize(2.5) == 3L, "positive half rounds away from zero")
    assert(quantize(-2.5) == -3L,
      "negative half rounds away from zero — Math.round would give -2")
    assert(quantize(0.49999999999999994) == 0L,
      "one ulp below .5 must not carry over — floor(x+0.5) would give 1")
    assert(quantize(-0.49999999999999994) == 0L)
    assert(quantize(299999.99999999994) == 300000L)
  }

  test("q170 inference is a stateless codegen scan up to the broadcast join") {
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.plans.HashedBagEmbed]))
    val df = graft.queries.SimilarityQueries.embedKnn(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // inference itself shuffles nothing: the only exchanges are the
    // bounded-top-k aggregation pair after the broadcast join
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for the join:\n${p.take(600)}")
    assert(p.linesIterator.exists(l => l.contains("hashed_bag_embed") && l.contains("*(")),
      s"inference projection not inside a codegen span:\n${p.take(700)}")
  }
}

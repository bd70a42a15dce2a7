package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RetrievalQueries

/** Hybrid-retrieval (q122) contracts: RRF fusion arithmetic, candidate
  * hygiene, and the no-cross-product plan shape. Value-level parity
  * with DuckDB is the driver gate's job; these assert the invariants a
  * hash compare can't name when it fails.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val rows =
    RetrievalQueries.hybridRrf(spark, dir).collect()

  test("q122: fused score is exactly the fixed-point RRF of the two ranks") {
    assert(rows.nonEmpty)
    for (r <- rows) {
      val drank = Option(r.get(2)).map(_.asInstanceOf[Long])
      val srank = Option(r.get(3)).map(_.asInstanceOf[Long])
      val rrf = r.getDouble(4)
      val expectFx = drank.map(d => 1000000L / (60 + d)).getOrElse(0L) +
        srank.map(sr => 1000000L / (60 + sr)).getOrElse(0L)
      assert(rrf == expectFx.toDouble / 1e6, r.toString)
      // a fused row must come from at least one list
      assert(drank.isDefined || srank.isDefined, r.toString)
    }
  }

  test("q122: never retrieves the query doc itself; ranks are 1..k dense") {
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    for ((qid, rs) <- byQ) {
      assert(rs.forall(_.getLong(1) != qid), s"self-hit for qid=$qid")
      val ranks = rs.map(_.getLong(5)).sorted.toSeq
      assert(ranks == (1L to rs.length).toSeq, s"ranks not dense for qid=$qid")
      assert(rs.length <= 10)
      // fused ordering: rank order must follow (rrf desc, doc_id asc)
      val ordered = rs.sortBy(_.getLong(5))
        .map(r => (-r.getDouble(4), r.getLong(1))).toSeq
      assert(ordered == ordered.sorted, s"fusion order broken for qid=$qid")
    }
  }

  test("q122: a doc present in both lists outranks its single-list rank") {
    // RRF monotonicity: adding a second list can only increase the
    // fused score, so any doc with both ranks defined must score
    // strictly above a doc whose single rank is the same or worse.
    val both = rows.filter(r => r.get(2) != null && r.get(3) != null)
    val single = rows.filter(r => (r.get(2) == null) ^ (r.get(3) == null))
    for (b <- both; s <- single) {
      val bMin = math.min(b.getLong(2), b.getLong(3))
      val sRank = Option(s.get(2)).orElse(Option(s.get(3))).get.asInstanceOf[Long]
      if (sRank >= bMin) assert(b.getDouble(4) > s.getDouble(4),
        s"both-list doc ${b.getLong(1)} should outscore single-list ${s.getLong(1)}")
    }
  }

  test("q122 plan: no cartesian product; bounded sides broadcast") {
    val p = RetrievalQueries.hybridRrf(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(300))
    assert(p.contains("Broadcast"), p.take(300))
  }

  test("q125: at most 2 chunks per document per query; ranks dense") {
    val rows = RetrievalQueries.chunkRetrieval(spark, dir).collect()
    assert(rows.nonEmpty)
    val byTermDoc = rows.groupBy(r => (r.getString(0), r.getLong(1)))
    assert(byTermDoc.values.forall(_.length <= 2),
      "diversity cap violated: >2 chunks from one doc")
    for ((_, rs) <- rows.groupBy(_.getString(0))) {
      val ranks = rs.map(_.getLong(4)).sorted.toSeq
      assert(ranks == (1L to rs.length).toSeq)
      assert(rs.length <= 5)
      // rank order follows (score desc, doc_id, chunk_id)
      val ordered = rs.sortBy(_.getLong(4))
        .map(r => (-r.getDouble(3), r.getLong(1), r.getLong(2))).toSeq
      assert(ordered == ordered.sorted)
    }
  }

  test("q125 plan: bounded-top-k stages, no corpus-partition window") {
    val df = RetrievalQueries.chunkRetrieval(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(300))
    assert(!p.contains("Window"), "per-doc cap must be a bounded aggregate, not a window")
    assert(p.contains("bounded_top_k"), p.take(300))
  }

  test("q86, q122 and q125 on an empty documents table give their typed empty result") {
    // the query terms are collected from the corpus: an empty corpus
    // has none, so there is no TermCounts posting to build
    val empty = java.nio.file.Files.createTempDirectory("empty_documents").toString
    Tables.load(spark, dir, "documents").limit(0).write.parquet(s"$empty/documents.parquet")
    Tables.load(spark, dir, "embeddings").write.parquet(s"$empty/embeddings.parquet")
    for (name <- Seq("q86_bm25_topk", "q122_hybrid_rrf", "q125_chunk_retrieval")) {
      val query = SparkEntry.queries(name)
      val got = query(spark, empty)
      assert(got.schema == query(spark, dir).schema, name)
      assert(got.collect().isEmpty, name)
    }
    spark.catalog.clearCache()
  }
}

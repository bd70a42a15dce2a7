package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Checkpoints
import graft.functions.VectorOps._

/** A coarse-quantizer centroid row (q160's IVF cells), embedded as
  * ONE typed literal: a single `Literal` of `array<struct<clabel,
  * cvec>>` replaces the former inlined `array(struct(lit...))`
  * expression tree — ~4 × |labels| × 65 literal nodes per copy for
  * the analyzer to walk (guide §7.3 "very large plans"); the trained
  * PQ codebook goes further and enters generated code as a flattened
  * `long[]` reference inside the native [[graft.plans.PqKernels]]
  * expressions.
  */
final case class IvfCentRow(clabel: Long, cvec: Seq[Long])

/** [[IvfCentRow]] with the label kept at the embeddings table's
  * int32 width (q33/q80/q83 carry `label` through unchanged).
  */
final case class IvfCentRowI(clabel: Int, cvec: Seq[Long])

/** Similarity-search operator family over the `embeddings` table
  * (vec_id, embedding float[64], label): brute-force cosine top-k,
  * random-hyperplane LSH bucketed ANN, label centroids, and IVF-style
  * cluster-restricted search. All scores are exact quantized-integer
  * arithmetic (see [[graft.functions.VectorOps]]), so every query is
  * DuckDB-oracle-checked.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** DuckDB fragment: quantized embedding list. */
  private val quantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  private def dotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"

  /** Brute-force cosine top-k — the exact baseline every ANN variant
    * is measured against. Query set broadcast against the corpus; ONE
    * pass over the corpus computes all query scores (at 100 TB this is
    * the scan-heavy exact path; q31/q33 are the sublinear paths).
    */
  def knnBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"), $"label")
      .withColumn("nsq", intNormSq($"q"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"))
    val scored = emb.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"label",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    // Bounded top-k per query id (NOT a qid-partitioned window, which
    // would funnel all n×|Q| scored rows into |Q| sort tasks): each map
    // task keeps ≤10 rows per qid, the final merge sees ≤10×partitions.
    topKRank(scored, 10)
  }

  /** Shared final ranking: per-qid bounded top-k by (cos desc, cid) via
    * [[graft.plans.BoundedTopK]], emitted as (qid, cid, tag, cos, rank).
    * `tag` is the per-query passthrough column (label/bucket/cluster).
    */
  private def topKRank(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    import graft.plans.BoundedTopK.boundedTopK
    val tag = scored.columns.filterNot(Set("qid", "cid", "cos")).head
    scored.groupBy($"qid")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"cid", col(tag), $"cos"), k).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.cid".as("cid"), col(s"r.$tag").as(tag),
        $"r.cos".as("cos"), ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"rank")
  }

  val knnBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, $quantSql AS q FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, q, ${dotSql("q", "q")} AS nsq FROM e),
       |qs AS (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn FROM n WHERE vec_id < 10),
       |scored AS (
       |  SELECT qs.qid, n.vec_id AS cid, n.label,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM n, qs WHERE n.vec_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, label, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** Random-hyperplane LSH ANN: 4-plane signatures → 16 buckets;
    * candidates share the query's bucket; exact cosine re-rank inside
    * the bucket. The bucket join replaces the full cross product —
    * the sublinear scale path for ANN.
    */
  def annLshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"))
      .withColumn("nsq", intNormSq($"q"))
      .withColumn("bucket", rhpSignature($"q", 4))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"), $"bucket")
    val scored = emb.join(queries, Seq("bucket")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"bucket",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    topKRank(scored, 5)
  }

  /** DuckDB mirror of `rhpSignature(q, until - from, from)`. */
  private def sigSqlRange(from: Int, until: Int): String = {
    val bit = (p: Int) =>
      s"""CASE WHEN list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN substr(md5('$p:' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8'
         |              THEN q[i] ELSE -q[i] END)) >= 0 THEN '1' ELSE '0' END""".stripMargin
    (from until until).map(bit).mkString(" || ")
  }

  private val sigSql: String = sigSqlRange(0, 4)

  val annLshBucketsSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, $quantSql AS q FROM embeddings),
       |sig AS (
       |  SELECT vec_id, q, ${dotSql("q", "q")} AS nsq, $sigSql AS bucket FROM e),
       |qs AS (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn, bucket FROM sig WHERE vec_id < 10),
       |scored AS (
       |  SELECT qs.qid, sig.vec_id AS cid, sig.bucket,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM sig JOIN qs ON sig.bucket = qs.bucket AND sig.vec_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, bucket, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** Per-label centroids (the IVF coarse-quantizer "training" step):
    * exact integer per-dimension sums → deterministic double means.
    * Long format (label, pos, centroid) — one shuffle, partial-agg
    * combined map-side.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"label", posexplode(quantize($"embedding")).as(Seq("pos", "qv")))
      .withColumn("pos", col("pos").cast("long"))
    emb.groupBy($"label", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("centroid"),
        count(lit(1)).as("n_vectors"))
      .orderBy($"label", $"pos")
  }

  val labelCentroidsSql: String =
    s"""WITH e AS (
       |  SELECT label, $quantSql AS q FROM embeddings)
       |SELECT label, r.range - 1 AS pos,
       |  CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid,
       |  COUNT(*) AS n_vectors
       |FROM e, range(1, 65) r
       |GROUP BY label, r.range
       |ORDER BY label, pos""".stripMargin

  /** IVF-style search: assign every vector to its nearest label
    * centroid (exact integer L2 on re-quantized centroids), then
    * search ONLY the query's cluster — the inverted-file pruning that
    * makes ANN sublinear at scale.
    */
  def ivfSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"), $"label")
    // centroid arrays, re-quantized to int64 for exact distances
    val cent = emb
      .select($"label", posexplode($"q").as(Seq("pos", "qv")))
      .groupBy($"label", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => round(x("c")).cast("long")).as("cvec"))
      .select($"label".as("clabel"), $"cvec")
    // assign: nearest centroid by exact squared L2 — the label-domain
    // centroid table is COLLECTED (bounded, the q160 catalog-metadata
    // class) and assignment becomes the IvfNearestIdx codegen kernel
    // over one map-only corpus scan. The crossJoin(broadcast) +
    // groupBy(vec_id).min_by shape it replaces paid a full corpus
    // exchange (q + label per row) for the same (d2, clabel)
    // lexicographic argmin (guide §2.4); tie order preserved — the
    // kernel scans clabel-ascending with strict improvement.
    val centRows = cent.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
    val idx = ivfNearestIdx("q33_ivf_search", $"q", centRows.map(_._2.toArray))
    val assigned = emb
      .select($"vec_id", $"q", $"label",
        element_at(typedLit(centRows.map(_._1).toSeq), idx).as("cluster"))
      .withColumn("nsq", intNormSq($"q"))
    val queries = assigned.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"), $"cluster")
    val scored = assigned.join(queries, Seq("cluster")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"cluster",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    topKRank(scored, 5)
  }

  /** IVF with MULTI-PROBE (nprobe = 2): each query searches its TWO
    * nearest clusters instead of one — the standard IVF recall/cost
    * knob (recall lost to quantization boundaries comes back at the
    * price of probing more inverted lists; cost stays nprobe/nlist of
    * the corpus, still sublinear). The corpus-side inverted file is
    * identical to q33; only the query side fans out, via the same
    * [[graft.plans.BoundedTopK]] aggregate that ranks results — here
    * keeping the 2 nearest centroids per query.
    */
  def ivfMultiProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.BoundedTopK.boundedTopK
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"), $"label")
    val cent = emb
      .select($"label", posexplode($"q").as(Seq("pos", "qv")))
      .groupBy($"label", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => round(x("c")).cast("long")).as("cvec"))
      .select($"label".as("clabel"), $"cvec")
    // corpus side: one cluster per vector (the inverted file) — the
    // q33 shape: collected bounded centroid table + the IvfNearestIdx
    // kernel on a map-only scan instead of crossJoin + min_by's
    // corpus exchange (guide §2.4; identical (d2, clabel) argmin).
    val centRows = cent.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
    val idx = ivfNearestIdx("q80_ivf_multiprobe", $"q", centRows.map(_._2.toArray))
    val assigned = emb
      .select($"vec_id", $"q",
        element_at(typedLit(centRows.map(_._1).toSeq), idx).as("cluster"))
      .withColumn("nsq", intNormSq($"q"))
    // query side: nprobe=2 nearest clusters per query — |Q| rows, so
    // the per-row transform over the centroid literal is bounded
    // (the q160 probesCol shape); array_sort on struct(d2, clabel) is
    // the same lexicographic order boundedTopK(struct(d2, clabel))
    // kept, and only the clabel field survives the explode
    val centLit = typedLit(centRows.map(r => IvfCentRowI(r._1, r._2)).toSeq)
    val probesCol = slice(array_sort(transform(centLit, e =>
      struct(sqDist($"q", e("cvec")).as("d2"), e("clabel").as("clabel")))), 1, 2)
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), explode(probesCol("clabel")).as("cluster"))
    val queries = assigned.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"))
      .join(probes, Seq("qid"))
    val scored = assigned.join(queries, Seq("cluster")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"cluster",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
      // a candidate can surface from both probed clusters of a query —
      // collapse before ranking so ranks are probe-order independent
      .groupBy($"qid", $"cid")
      .agg(min($"cluster").as("cluster"), min($"cos").as("cos"))
    topKRank(scored.select($"qid", $"cid", $"cluster", $"cos"), 5)
  }

  val ivfMultiProbeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, $quantSql AS q FROM embeddings),
       |centl AS (
       |  SELECT label AS clabel, r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
       |  FROM e, range(1, 65) r GROUP BY label, r.range),
       |cent AS (
       |  SELECT clabel, list(cv ORDER BY pos) AS cvec FROM centl GROUP BY clabel),
       |dist AS (
       |  SELECT e.vec_id, e.q, e.label, c.clabel,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (q[i] - cvec[i]) * (q[i] - cvec[i]))) AS BIGINT) AS d2
       |  FROM e, cent c),
       |assigned AS (
       |  SELECT vec_id, q, clabel AS cluster,
       |    ${dotSql("q", "q")} AS nsq
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, clabel AS cluster
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist WHERE vec_id < 10) t WHERE rn <= 2),
       |qs AS (
       |  SELECT a.vec_id AS qid, a.q AS qv, a.nsq AS qn, p.cluster
       |  FROM assigned a JOIN probes p ON a.vec_id = p.qid WHERE a.vec_id < 10),
       |scored0 AS (
       |  SELECT qs.qid, a.vec_id AS cid, a.cluster,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM assigned a JOIN qs ON a.cluster = qs.cluster AND a.vec_id != qs.qid),
       |scored AS (
       |  SELECT qid, cid, MIN(cluster) AS cluster, MIN(cos) AS cos
       |  FROM scored0 GROUP BY qid, cid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, cluster, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  val ivfSearchSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, $quantSql AS q FROM embeddings),
       |centl AS (
       |  SELECT label AS clabel, r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
       |  FROM e, range(1, 65) r GROUP BY label, r.range),
       |cent AS (
       |  SELECT clabel, list(cv ORDER BY pos) AS cvec FROM centl GROUP BY clabel),
       |dist AS (
       |  SELECT e.vec_id, e.q, e.label, c.clabel,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (q[i] - cvec[i]) * (q[i] - cvec[i]))) AS BIGINT) AS d2
       |  FROM e, cent c),
       |assigned AS (
       |  SELECT vec_id, q, label, clabel AS cluster,
       |    ${dotSql("q", "q")} AS nsq
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist) t WHERE rn = 1),
       |qs AS (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn, cluster FROM assigned WHERE vec_id < 10),
       |scored AS (
       |  SELECT qs.qid, a.vec_id AS cid, a.cluster,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM assigned a JOIN qs ON a.cluster = qs.cluster AND a.vec_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, cluster, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** Hard row cap for coarse-quantizer training frames: everything
    * the single-task farthest-first seeding and the Lloyd loop touch
    * is bounded by this, independent of corpus size.
    */
  private[graft] val TrainCap = 100000L

  /** Sampling modulus targeting ≤[[TrainCap]] expected training rows:
    * `ceil(n / TrainCap)`, floored at 4 — the floor is what the
    * DuckDB oracle mirrors (`vec_id % 4 = 0`), and it is the value
    * this returns for every n ≤ 4·TrainCap, i.e. at all oracle
    * scales by construction.
    */
  private[graft] def trainModulus(n: Long): Long =
    math.max(4L, (n + TrainCap - 1L) / TrainCap)

  /** The bounded training sample: modulo-filter with the derived
    * modulus (expected size ≤ TrainCap for roughly-uniform ids), then
    * a deterministic orderBy+limit HARD cap for adversarial id
    * distributions — plans as TakeOrderedAndProject (per-partition
    * top-k, one-task merge: no full sort, and the single task is the
    * one the seeding runs in anyway). Inert at oracle scales: the
    * limit only binds past 4·TrainCap rows. Spec'd on an oversized
    * frame by KmeansTrainBoundSpec.
    */
  private[graft] def trainingSample(emb: DataFrame, n: Long): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(trainModulus(n))) === 0)
      .orderBy(col("vec_id")).limit(TrainCap.toInt)

  /** IVF with LEARNED centroids — the real coarse-quantizer training
    * step (q33/q80 use the label column as a fixed quantizer; a real
    * IVF fits k-means): Lloyd's algorithm on a deterministic sample
    * (`vec_id % m = 0`, m derived from the row count and hard-capped
    * at ≤[[TrainCap]] vectors by [[trainingSample]] — at 100 TB
    * training never scans the corpus), seeded by
    * FARTHEST-FIRST traversal (first seed = min-md5 sample vector,
    * each next seed maximizes its distance to the chosen set — the
    * 2-approximation of k-center that lands one seed per natural
    * cluster, deterministically, with no RNG to plumb), 3 Lloyd
    * iterations. Every distance is exact int64 L2 on quantized
    * vectors and every new centroid is the same
    * round(mean)-to-int64 re-quantization q33 uses, so DuckDB
    * replays training bit-identically. The learned k=5 centroids
    * broadcast exactly like q33's fixed ones; search is the same
    * inverted-file cluster restriction. KmeansRecallSpec measures
    * recall@5 against the q30 brute-force truth and asserts the
    * learned quantizer ≥ the fixed label quantizer at every scale
    * factor (k=5 cells average 2× the fixed quantizer's 10 label
    * cells — k is the standard recall/cost knob, and q80's
    * multi-probe is the other side of the same dial; measured
    * recall@5 is +45–110% over fixed across sf0.001/sf0.01/sf0.1).
    */
  def ivfKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 5
    val iters = 3
    // SPHERICAL k-means: the search metric is cosine, so training
    // lives on the unit sphere — vectors are re-quantized to a
    // 1e6-radius sphere (scale from the EXACT integer norm of the
    // first quantization: every double op is a correctly-rounded
    // scalar chain off exact ints — no double summation order to
    // disagree on between engines), and every centroid is
    // renormalized the same way, making min-L2 assignment equivalent
    // to max-cosine.
    // unit-norm re-quantization as ONE codegen kernel
    // ([[graft.plans.RenormQuantize]]) — the former per-element
    // `transform(round(cast / sqrt · 1e6))` HOF ran interpreted on
    // every corpus row (rule §4); scalar math identical (round
    // HALF_UP, NaN/Inf pass-through, cast-to-long clamp)
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q0"))
      .withColumn("nsq0", intNormSq($"q0"))
      .select($"vec_id", {
        import org.apache.spark.sql.graftshim.ColumnShim
        ColumnShim.column(graft.plans.RenormQuantize(
          ColumnShim.expression($"q0"), ColumnShim.expression($"nsq0")))
      }.as("q"))
    // The ≤[[TrainCap]]-vector bound is ENFORCED, not asserted (the
    // r16 finding: a fixed `% 4` modulus is 25% of the corpus at any
    // size — 25 TB through the one seeding task at 100 TB). Two
    // layers: the modulus derives from the table count (parquet
    // metadata — no data scan) so the expected sample targets
    // TrainCap, and a deterministic orderBy+limit hard-caps it even
    // if the id distribution is adversarial for modulo sampling
    // (TakeOrderedAndProject: per-partition top-k, single-task merge
    // — the same single task the training needs anyway). Both layers
    // are inert at oracle scales (n ≤ 4·TrainCap ⇒ modulus = 4,
    // limit never binds), so the DuckDB mirror keeps `% 4 = 0`.
    val nVec = Tables.load(s, dir, "embeddings").count()
    // Seeding + Lloyd fused in ONE task over the bounded sample
    // ([[graft.operators.TrainKernels.sphericalKmeans]]): the sample
    // is single-node by design, and the distributed loop this
    // replaces (per-iteration broadcast join + two keyed exchanges +
    // a lineage-cut checkpoint) was ~15 sequential tiny jobs of pure
    // scheduling latency at that size (r20 profile; guide §1.2 —
    // fix the distributed algorithm first). Tie rules match the SQL
    // oracle exactly: first seed = min (md5(vec_id), vec_id); each
    // next = max min-distance, smallest vec_id on ties; assignment
    // argmin is (d2, ccid)-lexicographic; recenters are round-to-long
    // means renormalized to the 1e6 sphere. The learned k-row
    // quantizer enters the plan as a LocalRelation (catalog-metadata
    // class), exactly like q160's collected coarse centroids.
    val kSeeds = k
    val centRows: Array[(Int, Array[Long])] = trainingSample(emb, nVec)
      .withColumn("h", md5($"vec_id".cast("string")))
      .select($"h", $"vec_id", $"q")
      .as[(String, Long, Array[Long])]
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else graft.operators.TrainKernels
          .sphericalKmeans(rows, kSeeds, iters).iterator
      }
      .collect()
    // search: the q33 inverted-file restriction, learned quantizer.
    // The trained centroids are ALREADY on the driver — assignment is
    // the IvfNearestIdx kernel on a map-only scan instead of the
    // crossJoin + min_by corpus exchange (guide §2.4; identical
    // (d2, ccid) lexicographic argmin, ccid-ascending tie order).
    val sortedCents = centRows.sortBy(_._1)
    val nIdx = ivfNearestIdx("q97_ivf_kmeans", $"q", sortedCents.map(_._2))
    val withN = emb.withColumn("nsq", intNormSq($"q"))
    val assigned = withN
      .select($"vec_id", $"q", $"nsq",
        element_at(typedLit(sortedCents.map(_._1).toSeq), nIdx).as("cluster"))
    val queries = assigned.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"), $"cluster")
    val scored = assigned.join(queries, Seq("cluster")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"cluster",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    topKRank(scored, 5)
  }

  val ivfKmeansSql: String = {
    val K = 5
    val ITERS = 3
    def d2sql(q: String, c: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> ($q[i] - $c[i]) * ($q[i] - $c[i]))) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
       |  SELECT vec_id, $quantSql AS q0 FROM embeddings),
       |e AS (
       |  SELECT vec_id, list_transform(q0, x ->
       |    CAST(round(CAST(x AS DOUBLE) / sqrt(CAST(${dotSql("q0", "q0")} AS DOUBLE)) * 1000000) AS BIGINT)) AS q
       |  FROM e0),
       |sample AS (
       |  SELECT vec_id, q FROM e WHERE vec_id % 4 = 0),
       |s1 AS (
       |  SELECT 1 AS ccid, q AS cvec FROM sample
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |""".stripMargin
    for (t <- 2 to K) {
      sb ++= s"""s$t AS (
         |  SELECT * FROM s${t - 1}
         |  UNION ALL
         |  SELECT $t AS ccid, q AS cvec FROM (
         |    SELECT sm.vec_id, any_value(sm.q) AS q,
         |      MIN(${d2sql("sm.q", "s.cvec")}) AS mind2
         |    FROM sample sm, s${t - 1} s GROUP BY sm.vec_id
         |    ORDER BY mind2 DESC, sm.vec_id LIMIT 1) t$t),
         |""".stripMargin
    }
    sb ++= s"cent0 AS (SELECT * FROM s$K),\n"
    for (it <- 1 to ITERS) {
      sb ++= s"""a$it AS (
         |  SELECT vec_id, q, ccid FROM (
         |    SELECT sm.vec_id, sm.q, c.ccid,
         |      row_number() OVER (PARTITION BY sm.vec_id
         |        ORDER BY ${d2sql("sm.q", "c.cvec")}, c.ccid) AS rn
         |    FROM sample sm, cent${it - 1} c) t WHERE rn = 1),
         |cent$it AS (
         |  SELECT ccid, list_transform(cvec0, x ->
         |    CAST(round(CAST(x AS DOUBLE) / sqrt(CAST(${dotSql("cvec0", "cvec0")} AS DOUBLE)) * 1000000) AS BIGINT)) AS cvec
         |  FROM (
         |    SELECT ccid, list(cv ORDER BY pos) AS cvec0 FROM (
         |      SELECT ccid, r.range AS pos,
         |        CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
         |      FROM a$it, range(1, 65) r GROUP BY ccid, r.range) g GROUP BY ccid) h),
         |""".stripMargin
    }
    sb ++= s"""dist AS (
       |  SELECT e.vec_id, e.q, c.ccid, ${d2sql("e.q", "c.cvec")} AS d2
       |  FROM e, cent$ITERS c),
       |assigned AS (
       |  SELECT vec_id, q, ccid AS cluster, ${dotSql("q", "q")} AS nsq
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, ccid) AS rn
       |        FROM dist) t WHERE rn = 1),
       |qs AS (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn, cluster FROM assigned WHERE vec_id < 10),
       |scored AS (
       |  SELECT qs.qid, a.vec_id AS cid, a.cluster,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM assigned a JOIN qs ON a.cluster = qs.cluster AND a.vec_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, cluster, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
    sb.toString
  }

  /** Embedding-cosine near-duplicate PAIRS — the dedup member of the
    * vector family (q30-q33 answer queries; dedup needs every
    * near-identical pair). The corpus has no natural near-dups (max
    * pairwise cos ≈ 0.51), so the query plants a deterministic
    * perturbed copy of every 50th vector (±0.2% per-dimension scaling,
    * id + 1,000,000) and must find exactly those.
    *
    * Candidate generation is banded OR-construction LSH (the q24
    * MinHash band pattern applied to random-hyperplane signatures):
    * 3 bands × 8 planes = 24 independent hyperplanes; a pair is a
    * candidate iff it agrees on ALL 8 planes of SOME band.
    *
    * Candidate-volume bound: each band hashes n vectors into 2^8 = 256
    * buckets, so expected candidate pairs ≈ bands × Σ_buckets (n_b
    * choose 2) ≈ 3·n²/512 for near-uniform buckets — 16× below the old
    * single 16-bucket table (n²/16), and the exponent knob is explicit:
    * at larger n, widen the bands (planes ∝ log₂ n keeps bucket
    * population, and thus per-bucket join cost, constant) and add bands
    * to hold recall. Recall for planted pairs is unaffected by the
    * widening: a ±0.2% perturbed copy subtends ~0.0016 rad, so a single
    * 8-plane band already retains it with p ≈ 1 - 8·(θ/π) ≈ 0.996, and
    * three independent bands leave miss probability ≈ (1-p)³ < 1e-7
    * (BoundedTopKSpec asserts all planted pairs are found). Both engines
    * replicate the banding bit-identically; exact integer cosine ≥ 0.99
    * verifies candidates, and DISTINCT collapses pairs that collide in
    * multiple bands.
    */
  def cosineNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // quantize BEFORE the union (rule §4): QuantizeVec widens float
    // elements to double exactly, so quantizing the raw float column
    // is bit-identical to quantizing `transform(emb, cast double)` —
    // and the interpreted cast HOF leaves the 100%-of-corpus branch
    // (the perturbed-copies HOF survives only on the 2% branch, where
    // the double arithmetic actually differs)
    val base = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val copies = base.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        quantize(transform($"embedding", (x, i) =>
          x.cast("double") * (lit(1.0) + lit(0.001) * ((i % 5) - 2).cast("double")))).as("q"))
    val emb = base.select($"vec_id", quantize($"embedding").as("q"))
      .unionByName(copies)
      .withColumn("nsq", intNormSq($"q"))
    val banded = emb.select($"vec_id", $"q", $"nsq",
        explode(array((0 until 3).map(b =>
          struct(lit(b).as("band"), rhpSignature($"q", 8, b * 8).as("sig"))): _*)).as("bs"))
      .select($"vec_id", $"q", $"nsq", $"bs.band".as("band"), $"bs.sig".as("sig"))
    banded.select($"band", $"sig", $"vec_id".as("i"), $"q".as("qi"), $"nsq".as("ni"))
      .join(banded.select($"band", $"sig", $"vec_id".as("j"), $"q".as("qj"), $"nsq".as("nj")),
        Seq("band", "sig"))
      .filter($"i" < $"j")
      .withColumn("cos", cosine(intDot($"qi", $"qj"), $"ni", $"nj"))
      .filter($"cos" >= 0.99)
      .select($"i", $"j", $"cos")
      .distinct()
      .orderBy($"i", $"j")
  }

  val cosineNearDupSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, 65),
       |      i -> emb[i] * (1.0 + 0.001 * CAST((i - 1) % 5 - 2 AS DOUBLE))) AS emb
       |  FROM b WHERE vec_id % 50 = 0),
       |allv AS (SELECT * FROM b UNION ALL SELECT * FROM c),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(emb, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
       |  FROM allv),
       |sig AS (
       |  SELECT vec_id, q, ${dotSql("q", "q")} AS nsq,
       |    ${sigSqlRange(0, 8)} AS s0,
       |    ${sigSqlRange(8, 16)} AS s1,
       |    ${sigSqlRange(16, 24)} AS s2
       |  FROM e),
       |banded AS (
       |  SELECT vec_id, q, nsq, 0 AS band, s0 AS sig FROM sig
       |  UNION ALL SELECT vec_id, q, nsq, 1 AS band, s1 AS sig FROM sig
       |  UNION ALL SELECT vec_id, q, nsq, 2 AS band, s2 AS sig FROM sig),
       |pairs AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j, a.q AS qi, b.q AS qj,
       |    a.nsq AS ni, b.nsq AS nj
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT i, j, CAST(${dotSql("qi", "qj")} AS DOUBLE)
       |    / (sqrt(CAST(ni AS DOUBLE)) * sqrt(CAST(nj AS DOUBLE))) AS cos
       |  FROM pairs)
       |SELECT DISTINCT i, j, cos FROM scored WHERE cos >= 0.99
       |ORDER BY i, j""".stripMargin

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * cluster the corpus with the IVF coarse quantizer (q33's
    * assignment), generate candidate pairs only WITHIN a cluster and
    * only where a banded RHP signature collides (q34's 3×8-plane
    * OR-construction), verify with exact integer cosine ≥ 0.99, and
    * prune the larger id of every verified pair. Output = survivors.
    *
    * Scale shape: the coarse quantizer here clusters on the corpus's
    * fixed-cardinality `label` column (centroid count = label count,
    * NOT ∝ n — broadcastable for the same reason q33's fixed-k
    * centroids are), so per-cluster population grows with n and it is
    * the banded RHP signature that bounds within-cluster candidates,
    * the same way q34 bounds corpus-wide ones. At 100 TB one would
    * raise k like q33's parameterized IVF to restore k ∝ n; the prune
    * itself is one distinct + left-anti join — no global sort, no
    * window — at any k.
    * The same planted ±0.2% copies as q34 must all be pruned (their
    * band-collision miss probability is < 1e-7, see cosineNearDup).
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // quantize BEFORE the union — same reasoning as q34: QuantizeVec's
    // exact float→double widening makes quantize(embedding) ≡
    // quantize(transform(embedding, cast double)), so the interpreted
    // cast HOF leaves the full-corpus branch (rule §4)
    val base = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    val copies = base.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        quantize(transform($"embedding", (x, i) =>
          x.cast("double") * (lit(1.0) + lit(0.001) * ((i % 5) - 2).cast("double")))).as("q"),
        $"label")
    val emb = base.select($"vec_id", quantize($"embedding").as("q"), $"label")
      .unionByName(copies)
    val cent = emb
      .select($"label", posexplode($"q").as(Seq("pos", "qv")))
      .groupBy($"label", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => round(x("c")).cast("long")).as("cvec"))
      .select($"label".as("clabel"), $"cvec")
    // assignment via the collected bounded centroid table + the
    // IvfNearestIdx kernel on a map-only scan — the q33 shape; the
    // crossJoin + min_by it replaces paid a full corpus exchange for
    // the same (d2, clabel) lexicographic argmin (guide §2.4)
    val centRows = cent.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
    val idx = ivfNearestIdx("q83_semantic_dedup", $"q", centRows.map(_._2.toArray))
    val assigned = emb
      .select($"vec_id", $"q", $"label",
        element_at(typedLit(centRows.map(_._1).toSeq), idx).as("cluster"))
      .withColumn("nsq", intNormSq($"q"))
    val banded = assigned.select($"vec_id", $"cluster", $"q", $"nsq",
        explode(array((0 until 3).map(b =>
          struct(lit(b).as("band"), rhpSignature($"q", 8, b * 8).as("sig"))): _*)).as("bs"))
      .select($"vec_id", $"cluster", $"q", $"nsq",
        $"bs.band".as("band"), $"bs.sig".as("sig"))
    val pruned = banded
      .select($"band", $"sig", $"cluster", $"vec_id".as("i"), $"q".as("qi"), $"nsq".as("ni"))
      .join(banded.select($"band", $"sig", $"cluster",
        $"vec_id".as("j"), $"q".as("qj"), $"nsq".as("nj")),
        Seq("band", "sig", "cluster"))
      .filter($"i" < $"j")
      .filter(cosine(intDot($"qi", $"qj"), $"ni", $"nj") >= 0.99)
      .select($"j".as("vec_id")).distinct()
    assigned.join(pruned, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label", $"cluster", ($"vec_id" >= 1000000L).as("is_copy"))
      .orderBy($"vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb, label
       |  FROM embeddings),
       |cp AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(range(1, 65),
       |      i -> emb[i] * (1.0 + 0.001 * CAST((i - 1) % 5 - 2 AS DOUBLE))) AS emb,
       |    label
       |  FROM b WHERE vec_id % 50 = 0),
       |allv AS (SELECT * FROM b UNION ALL SELECT * FROM cp),
       |e AS (
       |  SELECT vec_id,
       |    list_transform(emb, x -> CAST(round(x * 1000000) AS BIGINT)) AS q,
       |    label
       |  FROM allv),
       |centl AS (
       |  SELECT label AS clabel, r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
       |  FROM e, range(1, 65) r GROUP BY label, r.range),
       |cent AS (
       |  SELECT clabel, list(cv ORDER BY pos) AS cvec FROM centl GROUP BY clabel),
       |dist AS (
       |  SELECT e.vec_id, e.q, e.label, c.clabel,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (q[i] - cvec[i]) * (q[i] - cvec[i]))) AS BIGINT) AS d2
       |  FROM e, cent c),
       |assigned AS (
       |  SELECT vec_id, q, label, clabel AS cluster,
       |    ${dotSql("q", "q")} AS nsq
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist) t WHERE rn = 1),
       |sig AS (
       |  SELECT vec_id, cluster, q, nsq,
       |    ${sigSqlRange(0, 8)} AS s0,
       |    ${sigSqlRange(8, 16)} AS s1,
       |    ${sigSqlRange(16, 24)} AS s2
       |  FROM assigned),
       |banded AS (
       |  SELECT vec_id, cluster, q, nsq, 0 AS band, s0 AS sig FROM sig
       |  UNION ALL SELECT vec_id, cluster, q, nsq, 1 AS band, s1 AS sig FROM sig
       |  UNION ALL SELECT vec_id, cluster, q, nsq, 2 AS band, s2 AS sig FROM sig),
       |pairs AS (
       |  SELECT a.vec_id AS i, bb.vec_id AS j, a.q AS qi, bb.q AS qj,
       |    a.nsq AS ni, bb.nsq AS nj
       |  FROM banded a JOIN banded bb
       |    ON a.band = bb.band AND a.sig = bb.sig AND a.cluster = bb.cluster
       |   AND a.vec_id < bb.vec_id),
       |pruned AS (
       |  SELECT DISTINCT j AS vec_id FROM (
       |    SELECT j, CAST(${dotSql("qi", "qj")} AS DOUBLE)
       |      / (sqrt(CAST(ni AS DOUBLE)) * sqrt(CAST(nj AS DOUBLE))) AS cos
       |    FROM pairs) p
       |  WHERE cos >= 0.99)
       |SELECT vec_id, label, cluster, vec_id >= 1000000 AS is_copy
       |FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM pruned)
       |ORDER BY vec_id""".stripMargin

  /** Exact int64 squared L2 between two equal-length quantized
    * vectors — the distance every PQ kernel below shares.
    */
  private def sqDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // native codegen kernel (IntSqDist), not the aggregate(zip_with)
    // HOF chain: higher-order functions are CodegenFallback —
    // interpreted per row with per-element object churn — and this
    // distance sits on every k-means/IVF assignment path (rule §4;
    // the IntDotProduct precedent)
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.IntSqDist(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** PQ hot-path wrappers (q123/q160): encode, per-query ADC table,
    * ADC score — single codegen kernels over the flattened trained
    * codebook (see [[graft.plans.PqKernels]]) replacing the
    * interpreted `transform`/`filter`/`aggregate` lambdas on the
    * corpus-linear scan.
    */
  private def pqEncodeCol(v: org.apache.spark.sql.Column, book: Array[Long],
      M: Int, D: Int, KS: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.PqEncode(ColumnShim.expression(v), book, M, D, KS))
  }

  private def pqAdcTableCol(v: org.apache.spark.sql.Column, book: Array[Long],
      M: Int, D: Int, KS: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.PqAdcTable(ColumnShim.expression(v), book, M, D, KS))
  }

  private def pqAdcScoreCol(dt: org.apache.spark.sql.Column,
      code: org.apache.spark.sql.Column, KS: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.PqAdcScore(
      ColumnShim.expression(dt), ColumnShim.expression(code), KS))
  }

  /** Residual-fused PQ kernels (r21): encode/ADC-table of `q − cvec`
    * with the subtraction inside the distance loop — the staged
    * `zip_with(q, cvec, x − y)` residual array (the last interpreted
    * HOF on the q160 corpus-linear encode scan, rule §4) disappears.
    */
  private def pqEncodeResidCol(q: org.apache.spark.sql.Column,
      cvec: org.apache.spark.sql.Column, book: Array[Long],
      M: Int, D: Int, KS: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.PqEncodeResid(
      ColumnShim.expression(q), ColumnShim.expression(cvec), book, M, D, KS))
  }

  private def pqAdcTableResidCol(q: org.apache.spark.sql.Column,
      cvec: org.apache.spark.sql.Column, book: Array[Long],
      M: Int, D: Int, KS: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.PqAdcTableResid(
      ColumnShim.expression(q), ColumnShim.expression(cvec), book, M, D, KS))
  }

  /** Elementwise long-vector subtraction (codegen kernel) — exact
    * `zip_with(a, b, (x, y) => x − y)` semantics; used where the
    * residual array itself is consumed downstream (training samples,
    * q174's mean-centering).
    */
  private def longVecSub(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.LongVecSub(
      ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Nearest-cell assignment as ONE codegen kernel over the flattened
    * (cell-id-ascending) centroid table — 1-based argmin index by
    * exact (d2, id)-lexicographic order; the caller looks cell id /
    * centroid up from bounded literals via `element_at`. Replaces the
    * corpus-exchange `crossJoin(broadcast(cent)) + groupBy(vec_id).
    * min_by` assignment (guide §2.4) and the interpreted
    * `array_min(transform(centLit, …))` HOF (rule §4). An empty
    * embeddings table leaves no centroids: that fails here, naming the
    * query, rather than at the first `.head` of the centroid list.
    */
  private def ivfNearestIdx(query: String, q: org.apache.spark.sql.Column,
      cents: Array[Array[Long]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    require(cents.nonEmpty, s"$query: no centroids, the embeddings table is empty")
    ColumnShim.column(graft.plans.IvfNearestIdx(
      ColumnShim.expression(q), cents.flatten, cents.head.length))
  }

  /** Shared product-quantizer trainer (q123 trains on raw vectors,
    * q160 on IVF residuals): per-subspace farthest-first seeding +
    * `iters` Lloyd iterations over `sample0` — (vec_id: Long,
    * v: M·D-dim int64 array), already bounded ≤[[TrainCap]] rows by
    * [[trainingSample]] — with every distance exact int64 L2 and
    * every recenter a round-to-long mean, so the DuckDB CTE block
    * from [[pqTrainSqlBlock]] replays training bit-identically.
    *
    * Seeding AND Lloyd run fused in the ONE task the seeding already
    * ran in ([[graft.operators.TrainKernels.pqBook]] — same argmin
    * tie-breaks, same round-to-long means, same empty-cluster drops).
    * The distributed Lloyd loop this replaces (per-iteration
    * broadcast join + two keyed exchanges + a lineage-cut checkpoint)
    * was ~20 sequential sub-100 ms jobs of pure scheduling latency at
    * the sample's bounded size — the r20 stage profile measured
    * q160's training phase at ~2.6 s wall for ~0.3 s of compute
    * (OPTIMIZATION_r20.md). The single task is corpus-size-
    * independent, and its lineage (scan → modulo filter → limit →
    * train) is deterministic and re-runnable, so no loop state needs
    * a checkpoint anymore.
    *
    * Returns the learned codebook FLATTENED sub-major / ccid-ascending
    * / pos-ascending (M×KS×D longs — bounded by construction, the
    * same class as catalog metadata), the layout the
    * [[graft.plans.PqKernels]] codegen kernels index directly; the
    * 1-based `dt[sub·KS + code]` ADC lookup relies on that order.
    */
  private def pqTrainBook(s: SparkSession, sample0: DataFrame,
      M: Int, D: Int, KS: Int, iters: Int): Array[Long] = {
    import s.implicits._
    val trained: Array[(Int, Int, Array[Long])] = sample0
      .withColumn("h", md5($"vec_id".cast("string")))
      .select($"h", $"vec_id", $"v")
      .as[(String, Long, Array[Long])]
      .coalesce(1)
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else graft.operators.TrainKernels.pqBook(rows, M, D, KS, iters).iterator
      }
      .collect()
    val book: Map[Int, Seq[(Int, Array[Long])]] = trained
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
    require(book.size == M && book.values.forall(_.size == KS),
      s"PQ training left an empty cluster: ${book.view.mapValues(_.size).toMap}")
    (for (sp <- 0 until M; (_, cv) <- book(sp); x <- cv) yield x).toArray
  }

  /** DuckDB fragment: exact int64 squared L2 over D=8 subvector lists
    * — the SQL mirror of [[sqDist]] on PQ subspaces.
    */
  private def d2s8(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 9), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** The DuckDB mirror of [[pqTrainBook]]: a CTE block (each CTE
    * followed by a trailing comma) that expects a prior CTE
    * `sample(vec_id, q)` holding the bounded training vectors and
    * defines `subs` plus the seeding/Lloyd chain ending in
    * `cent$iters(sub, ccid, cvec)` — the trained codebook callers
    * join their encode/ADC CTEs against.
    */
  private def pqTrainSqlBlock(M: Int, KS: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""subs AS MATERIALIZED (
       |  SELECT vec_id, s.range AS sub,
       |    list_transform(range(1, 9), i -> q[s.range * 8 + i]) AS sv
       |  FROM sample, range(0, $M) s),
       |s1 AS MATERIALIZED (
       |  SELECT sub, 1 AS ccid, sv AS cvec FROM subs
       |  WHERE vec_id = (SELECT vec_id FROM sample
       |                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)),
       |""".stripMargin
    for (t <- 2 to KS) {
      sb ++= s"""s$t AS MATERIALIZED (
         |  SELECT * FROM s${t - 1}
         |  UNION ALL
         |  SELECT sub, $t AS ccid, sv AS cvec FROM (
         |    SELECT sub, vec_id, sv,
         |      row_number() OVER (PARTITION BY sub ORDER BY mind2 DESC, vec_id) AS rn
         |    FROM (
         |      SELECT t.sub, t.vec_id, any_value(t.sv) AS sv,
         |        MIN(${d2s8("t.sv", "s.cvec")}) AS mind2
         |      FROM subs t JOIN s${t - 1} s ON t.sub = s.sub
         |      GROUP BY t.sub, t.vec_id) u) v
         |  WHERE rn = 1),
         |""".stripMargin
    }
    sb ++= s"cent0 AS MATERIALIZED (SELECT * FROM s$KS),\n"
    for (it <- 1 to iters) {
      sb ++= s"""a$it AS MATERIALIZED (
         |  SELECT sub, ccid, sv FROM (
         |    SELECT t.sub, t.sv, c.ccid,
         |      row_number() OVER (PARTITION BY t.sub, t.vec_id
         |        ORDER BY ${d2s8("t.sv", "c.cvec")}, c.ccid) AS rn
         |    FROM subs t JOIN cent${it - 1} c ON t.sub = c.sub) x WHERE rn = 1),
         |cent$it AS MATERIALIZED (
         |  SELECT sub, ccid, list(cv ORDER BY pos) AS cvec FROM (
         |    SELECT sub, ccid, r.range AS pos,
         |      CAST(round(CAST(SUM(sv[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
         |    FROM a$it, range(1, 9) r GROUP BY sub, ccid, r.range) g
         |  GROUP BY sub, ccid),
         |""".stripMargin
    }
    sb.toString
  }

  /** Product-quantization ADC search (Jégou et al., TPAMI 2011) — the
    * COMPRESSION member of the ANN family: q31/q33/q80/q97 prune the
    * candidate set, PQ shrinks the per-vector memory so the scan side
    * fits in RAM at corpus scale. The 64-dim vector splits into M = 8
    * subspaces of 8 dims; each subspace gets a KS = 16-codeword
    * codebook (farthest-first seeding + 2 Lloyd iterations on the
    * q97 sample, all exact int64 arithmetic / round-to-long means, so
    * DuckDB replays training bit-identically); every corpus vector is
    * encoded as 8 four-bit codes (256 B float / 512 B quantized → 4 B,
    * 64×); each query precomputes an M×KS distance table and scores
    * candidates by Asymmetric Distance Computation — table lookups,
    * never a vector op per pair — then the ADC top-50 shortlist is
    * re-ranked with exact cosine (the standard over-fetch + re-rank
    * serving shape; embeddings are unit-norm so ADC-L2 and cosine
    * agree up to quantization error).
    *
    * Scale shape: training touches only the bounded sample; the
    * learned codebook (M×KS = 64 rows — bounded by construction, the
    * same class as catalog metadata) is COLLECTED and embedded as
    * literal arrays, so encoding and the per-query distance tables
    * are pure map-side expressions: the whole search is one corpus
    * scan (no join shuffle — queries broadcast) + the bounded top-k
    * aggregate. At 100 TB the codes column is what you'd persist;
    * here it is derived in-flight to keep the query self-contained.
    */
  def pqAdcSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.BoundedTopK.boundedTopK
    val M = 8; val D = 8; val KS = 16; val ITERS = 2
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"))
    // The training sample is bounded by [[trainingSample]] — the r16
    // q97 finding applied here too: a bare `% 4` modulus is 25% of
    // the corpus at ANY size, funneled through the one seeding task.
    // Both bound layers are inert at oracle scales (modulus = 4,
    // limit never binds), so the DuckDB mirror keeps `% 4 = 0`.
    val nVec = Tables.load(s, dir, "embeddings").count()
    // Shared trainer — see [[pqTrainBook]]: the codebook enters the
    // plan as one flattened long[] codegen reference inside the
    // native PQ kernels, so encode / ADC table / ADC score are pure
    // whole-stage-codegen map expressions — no joins, no shuffles,
    // and no interpreted higher-order lambdas on the corpus scan
    // (the former transform/filter/aggregate chain was CodegenFallback,
    // ~0.8 ms/row on the corpus-linear encode — rule §4).
    val book = pqTrainBook(s,
      trainingSample(emb, nVec).select($"vec_id", $"q".as("v")),
      M, D, KS, ITERS)
    // code_s = argmin_c d2(subvec_s, centroid_{s,c}) — (d2, ccid)
    // lexicographic, ties to the smallest ccid, exactly as before
    val coded = emb.select($"vec_id", pqEncodeCol($"q", book, M, D, KS).as("code"))
    // per-query ADC table: dt[(1-based) s*KS + ccid] = d2(query_sub, centroid)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"))
      .select($"qid", pqAdcTableCol($"qv", book, M, D, KS).as("dt"))
    val scored = coded.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        pqAdcScoreCol($"dt", $"code", KS).as("adist"))
    // ADC SHORTLIST (50/query) + EXACT RE-RANK — the production PQ
    // serving shape: the compressed scan over-fetches, then one
    // bounded fetch of true vectors fixes the final ordering. The
    // shortlist is ≤|Q|×50 rows → broadcast; the vector fetch is a
    // map-side semi-join against the corpus, never a shuffle of it.
    val short = scored.groupBy($"qid")
      .agg(boundedTopK(struct($"adist", $"cid"), 50).as("top"))
      .select($"qid", explode($"top").as("r"))
      .select($"qid", $"r.cid".as("cid"), $"r.adist".as("adist"))
    val qside = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qqid"), $"q".as("qv2"))
      .withColumn("qn", intNormSq($"qv2"))
    val rr = emb.join(broadcast(short), $"vec_id" === $"cid")
      .join(broadcast(qside), $"qid" === $"qqid")
      .select($"qid", $"cid", $"adist",
        cosine(intDot($"qv2", $"q"), $"qn", intNormSq($"q")).as("cos"))
    rr.groupBy($"qid")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"cid", $"adist", $"cos"), 10).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.cid".as("cid"), $"r.adist".as("adist"), $"r.cos".as("cos"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"rank")
  }

  val pqAdcSearchSql: String = {
    val M = 8; val KS = 16; val ITERS = 2
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
       |  SELECT vec_id, $quantSql AS q FROM embeddings),
       |sample AS MATERIALIZED (
       |  SELECT vec_id, q FROM e WHERE vec_id % 4 = 0),
       |""".stripMargin
    sb ++= pqTrainSqlBlock(M, KS, ITERS)
    sb ++= s"""esubs AS (
       |  SELECT vec_id, s.range AS sub,
       |    list_transform(range(1, 9), i -> q[s.range * 8 + i]) AS sv
       |  FROM e, range(0, $M) s),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub, ccid AS code FROM (
       |    SELECT es.vec_id, es.sub, c.ccid,
       |      row_number() OVER (PARTITION BY es.vec_id, es.sub
       |        ORDER BY ${d2s8("es.sv", "c.cvec")}, c.ccid) AS rn
       |    FROM esubs es JOIN cent$ITERS c ON es.sub = c.sub) t WHERE rn = 1),
       |dt AS MATERIALIZED (
       |  SELECT es.vec_id AS qid, es.sub, c.ccid, ${d2s8("es.sv", "c.cvec")} AS qd2
       |  FROM esubs es JOIN cent$ITERS c ON es.sub = c.sub WHERE es.vec_id < 10),
       |scored AS MATERIALIZED (
       |  SELECT dt.qid, codes.vec_id AS cid, CAST(SUM(dt.qd2) AS BIGINT) AS adist
       |  FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.ccid
       |  WHERE codes.vec_id != dt.qid
       |  GROUP BY dt.qid, codes.vec_id),
       |short AS MATERIALIZED (
       |  SELECT qid, cid, adist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM scored) t WHERE rn <= 50),
       |qv AS MATERIALIZED (
       |  SELECT vec_id AS qid, q AS qv, ${dotSql("q", "q")} AS qn
       |  FROM e WHERE vec_id < 10),
       |rr AS MATERIALIZED (
       |  SELECT s.qid, s.cid, s.adist,
       |    CAST(${dotSql("qv.qv", "e.q")} AS DOUBLE)
       |      / (sqrt(CAST(qv.qn AS DOUBLE)) * sqrt(CAST(${dotSql("e.q", "e.q")} AS DOUBLE))) AS cos
       |  FROM short s JOIN e ON e.vec_id = s.cid JOIN qv ON qv.qid = s.qid),
       |ranked AS MATERIALIZED (
       |  SELECT qid, cid, adist, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM rr)
       |SELECT qid, cid, adist, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin
    sb.toString
  }

  /** q160: IVF-PQ (IVFADC) search — the COMPOSED billion-scale ANN
    * serving shape (Jégou et al., TPAMI 2011 §V — the FAISS "IVFADC"
    * index): the coarse inverted file (q33's label-centroid
    * quantizer) prunes candidates to each query's nprobe = 2 nearest
    * cells, and product quantization compresses what remains — but on
    * RESIDUALS (vector − its cell centroid), which hold exactly the
    * variance the coarse cells leave behind, so the same
    * 8-subspace × 16-codeword budget quantizes far finer than q123's
    * raw-vector codes. Each (query, probed cell) pair precomputes its
    * OWN ADC table from the query's residual w.r.t. THAT cell's
    * centroid (residual ADC is per-cell by construction); candidates
    * score by pure table lookup against their stored codes; the ≤50
    * ADC shortlist per query re-ranks with exact cosine (over-fetch +
    * re-rank, as q123).
    *
    * Scale shape — the part q33 and q123 each only half have: the
    * corpus side is ONE map-only scan. Assignment, residual, and
    * encoding are pure expressions over two bounded literals — the
    * collected label-centroid array (|labels| rows, catalog-metadata
    * class) and the trained codebook — so there is NO corpus shuffle
    * and NO corpus-side broadcast build (the q113 rule: corpus-linear
    * frames never enter as broadcast builds; here the broadcast side
    * is the |Q|×nprobe query-table frame). Scoring touches only the
    * probed cells' rows (~nprobe/nlist of the corpus); training
    * touches only the ≤[[TrainCap]] residual sample. At 100 TB the
    * (cluster, code) pair IS the persisted index — the scan reads
    * 4-byte codes instead of 512-byte vectors — and queries stay a
    * broadcast at any corpus size.
    */
  def ivfPqSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.BoundedTopK.boundedTopK
    val M = 8; val D = 8; val KS = 16; val ITERS = 2
    val NPROBE = 2; val SHORTLIST = 50; val K = 10
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"), $"label")
    // Coarse quantizer: q33's per-label centroids, COLLECTED into one
    // literal array of structs — bounded by the label domain, the
    // same catalog-metadata class as the PQ codebook. One map-side
    // partial-agg shuffle of |labels|×64 rows, once, at build time.
    // The per-(label, pos) count is the per-label row count (every
    // pos of a row exists), so carrying it through lets this ONE
    // aggregation also yield the corpus row count the training-sample
    // modulus needs — the separate `count()` job is gone.
    val centRows = emb
      .select($"label", posexplode($"q").as(Seq("pos", "qv")))
      .groupBy($"label", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("c"),
        count(lit(1)).as("n"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => round(x("c")).cast("long")).as("cvec"),
        max($"n").as("n"))
      .select($"label".cast("long").as("clabel"), $"cvec", $"n")
      .collect()
    val nVec = centRows.map(_.getLong(2)).sum
    // ONE typed literal (see [[IvfCentRow]]): the assignment and
    // probe expressions below copy this array twice each — as inlined
    // struct trees that was ~4 × |labels| × 65 literal nodes for the
    // analyzer to walk per copy.
    val sortedCents = centRows
      .map(r => IvfCentRow(r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_.clabel)
    val centLit = typedLit(sortedCents.toSeq)
    // nearest cell = (d2, clabel) lexicographic argmin, now the
    // IvfNearestIdx codegen kernel (r21): the array_min(transform(
    // centLit, struct(sqDist, clabel, cvec))) HOF it replaces ran
    // interpreted on every corpus row — copying every centroid
    // vector into per-row structs — and was evaluated TWICE (the
    // join's inferred isnotnull filter plus the projection). Cell id
    // and centroid come back via element_at over bounded literals;
    // tie order identical (clabel-ascending scan, strict improvement).
    val nIdx = ivfNearestIdx("q160_ivfpq_search", $"q", sortedCents.map(_.cvec.toArray))
    val assignedC = emb
      .select($"vec_id", $"q",
        element_at(typedLit(sortedCents.map(_.clabel).toSeq), nIdx).as("cluster"),
        element_at(typedLit(sortedCents.map(_.cvec).toSeq), nIdx).as("cvec"))
    // PQ trained on the bounded RESIDUAL sample (same two-layer bound
    // as q97/q123; the oracle mirrors `% 4 = 0`, inert at its scales;
    // nVec rode the centroid aggregation above). The residual array
    // is built ONLY here, on the bounded sample, by the LongVecSub
    // codegen kernel — trainingSample's filter is on vec_id, so
    // sampling first commutes exactly with the subtraction the old
    // corpus-wide `zip_with(q, ch.cvec, x − y)` staged (rule §4: that
    // HOF ran interpreted on every corpus row).
    val book = pqTrainBook(s,
      trainingSample(assignedC, nVec)
        .select($"vec_id", longVecSub($"q", $"cvec").as("v")),
      M, D, KS, ITERS)
    // the persisted-index shape: (vec_id, cluster, 8×4-bit code) —
    // encode fuses the residual subtraction into its distance loop
    // ((q−c)−book term by term, exact int64), so the corpus-linear
    // scan materializes no residual array at all
    val coded = assignedC.select($"vec_id", $"cluster",
      pqEncodeResidCol($"q", $"cvec", book, M, D, KS).as("code"))
    // Query side: nprobe nearest cells per query, each carrying its
    // OWN ADC table built from the query's residual w.r.t. that cell.
    val probesCol = slice(array_sort(transform(centLit, e =>
      struct(sqDist($"q", e("cvec")).as("d2"), e("clabel").as("clabel"),
        e("cvec").as("cvec")))), 1, NPROBE)
    val qprobes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q", explode(probesCol).as("p"))
      .select($"qid", $"p.clabel".as("cluster"),
        pqAdcTableResidCol($"q", $"p.cvec", book, M, D, KS).as("dt"))
    // inverted-file restriction: candidates join their cell's probes
    // (the self-exclusion lives in the join condition, as q123's —
    // one operator, and the broadcast audit's bounded-side descent
    // sees Aggregate→Project→Join directly)
    val scored = coded.join(
        broadcast(qprobes.withColumnRenamed("cluster", "pcluster")),
        $"cluster" === $"pcluster" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"cluster",
        pqAdcScoreCol($"dt", $"code", KS).as("adist"))
    val short = scored.groupBy($"qid")
      .agg(boundedTopK(struct($"adist", $"cid", $"cluster"), SHORTLIST).as("top"))
      .select($"qid", explode($"top").as("r"))
      .select($"qid", $"r.cid".as("cid"), $"r.cluster".as("cluster"),
        $"r.adist".as("adist"))
    // exact re-rank of the bounded shortlist (map-side semi-join
    // against the corpus — never a shuffle of it)
    val qside = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qqid"), $"q".as("qv2"))
      .withColumn("qn", intNormSq($"qv2"))
    val rr = emb.join(broadcast(short), $"vec_id" === $"cid")
      .join(broadcast(qside), $"qid" === $"qqid")
      .select($"qid", $"cid", $"cluster", $"adist",
        cosine(intDot($"qv2", $"q"), $"qn", intNormSq($"q")).as("cos"))
    rr.groupBy($"qid")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"cid", $"cluster",
        $"adist", $"cos"), K).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.cid".as("cid"), $"r.cluster".as("cluster"),
        $"r.adist".as("adist"), $"r.cos".as("cos"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"rank")
  }

  val ivfPqSearchSql: String = {
    val M = 8; val KS = 16; val ITERS = 2
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
       |  SELECT vec_id, label, $quantSql AS q FROM embeddings),
       |centl AS (
       |  SELECT CAST(label AS BIGINT) AS clabel, r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
       |  FROM e, range(1, 65) r GROUP BY label, r.range),
       |cent AS (
       |  SELECT clabel, list(cv ORDER BY pos) AS cvec FROM centl GROUP BY clabel),
       |dist AS (
       |  SELECT e.vec_id, e.q, c.clabel, c.cvec,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (q[i] - cvec[i]) * (q[i] - cvec[i]))) AS BIGINT) AS d2
       |  FROM e, cent c),
       |resid AS MATERIALIZED (
       |  SELECT vec_id, clabel AS cluster,
       |    list_transform(range(1, 65), i -> q[i] - cvec[i]) AS r
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist) t WHERE rn = 1),
       |sample AS MATERIALIZED (
       |  SELECT vec_id, r AS q FROM resid WHERE vec_id % 4 = 0),
       |""".stripMargin
    sb ++= pqTrainSqlBlock(M, KS, ITERS)
    sb ++= s"""esubs AS (
       |  SELECT vec_id, cluster, s.range AS sub,
       |    list_transform(range(1, 9), i -> r[s.range * 8 + i]) AS sv
       |  FROM resid, range(0, $M) s),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, cluster, sub, ccid AS code FROM (
       |    SELECT es.vec_id, es.cluster, es.sub, c.ccid,
       |      row_number() OVER (PARTITION BY es.vec_id, es.sub
       |        ORDER BY ${d2s8("es.sv", "c.cvec")}, c.ccid) AS rn
       |    FROM esubs es JOIN cent$ITERS c ON es.sub = c.sub) t WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS qid, clabel AS cluster, cvec
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |        FROM dist WHERE vec_id < 10) t WHERE rn <= 2),
       |qsubs AS (
       |  SELECT p.qid, p.cluster, s.range AS sub,
       |    list_transform(range(1, 9),
       |      i -> e.q[s.range * 8 + i] - p.cvec[s.range * 8 + i]) AS sv
       |  FROM probes p JOIN e ON e.vec_id = p.qid, range(0, $M) s),
       |dt AS MATERIALIZED (
       |  SELECT qs.qid, qs.cluster, qs.sub, c.ccid, ${d2s8("qs.sv", "c.cvec")} AS qd2
       |  FROM qsubs qs JOIN cent$ITERS c ON qs.sub = c.sub),
       |scored AS MATERIALIZED (
       |  SELECT dt.qid, codes.vec_id AS cid, codes.cluster,
       |    CAST(SUM(dt.qd2) AS BIGINT) AS adist
       |  FROM codes JOIN dt ON codes.cluster = dt.cluster AND codes.sub = dt.sub
       |                    AND codes.code = dt.ccid
       |  WHERE codes.vec_id != dt.qid
       |  GROUP BY dt.qid, codes.vec_id, codes.cluster),
       |short AS MATERIALIZED (
       |  SELECT qid, cid, cluster, adist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |    FROM scored) t WHERE rn <= 50),
       |qv AS MATERIALIZED (
       |  SELECT vec_id AS qid, q AS qv, ${dotSql("q", "q")} AS qn
       |  FROM e WHERE vec_id < 10),
       |rr AS MATERIALIZED (
       |  SELECT s.qid, s.cid, s.cluster, s.adist,
       |    CAST(${dotSql("qv.qv", "e.q")} AS DOUBLE)
       |      / (sqrt(CAST(qv.qn AS DOUBLE)) * sqrt(CAST(${dotSql("e.q", "e.q")} AS DOUBLE))) AS cos
       |  FROM short s JOIN e ON e.vec_id = s.cid JOIN qv ON qv.qid = s.qid),
       |ranked AS (
       |  SELECT qid, cid, cluster, adist, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM rr)
       |SELECT qid, cid, cluster, adist, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin
    sb.toString
  }

  /** q129: random-projection (Johnson–Lindenstrauss) sketch search —
    * the third index geometry next to bucketed LSH (q31) and PQ codes
    * (q123): every vector is projected to P=16 SIGNED SUMS
    * `rp_p = Σ_i ±q_i` (the ±1 per (plane, dim) is q31's md5-derived
    * convention at plane offset 100, so the two indexes stay
    * independent), and the corpus scan compares 16-dim integer L2 in
    * sketch space instead of 64-dim cosine — a 4×-narrower coarse pass
    * whose distances approximate the original geometry (JL lemma;
    * Achlioptas 2003 ±1 projections). Coarse top-100 shortlist, exact
    * cosine re-rank, top-5; recall@5 0.56–0.58 on the near-orthogonal
    * synthetic vectors (the adversarial case for any sketch — matching
    * the PQ tier's 0.57), floor pinned in RpSketchSpec.
    *
    * Where q31 keeps only the SIGN of each projection (a hash bucket),
    * the sketch keeps the magnitude — so ordering survives and no
    * candidate is lost to a bucket boundary; the price is a full (but
    * 4×-narrower) scan rather than an equi-join. At 100 TB this is the
    * memory-resident-sketch tier: 128 bytes/vector scanned fast, full
    * vectors touched only for |Q|×100 re-rank rows.
    *
    * Determinism: projections, coarse distances, and tie-breaks are
    * exact int64 (±1e6-quantized inputs keep every term < 2^57); the
    * sign vectors are evaluated ONCE driver-side and embedded as
    * literals, while DuckDB recomputes the md5 per row — identical by
    * the shared convention, so the oracle hash-matches.
    */
  def rpSketchSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val P = 16; val PLANE0 = 100; val SHORTLIST = 100
    val md = java.security.MessageDigest.getInstance("MD5")
    def signs(p: Int): Seq[Long] = (0 until 64).map { i =>
      val h = md.digest(s"$p:$i".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1L else -1L
    }
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"))
      .withColumn("nsq", intNormSq($"q"))
      .withColumn("rp", array((0 until P).map(p =>
        intDot($"q", typedLit(signs(PLANE0 + p)))): _*))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"), $"rp".as("qrp"))
    // codegen-friendly 8-term polynomial, not a higher-order aggregate
    val cdist = (0 until P).map { p =>
      val d = element_at($"rp", p + 1) - element_at($"qrp", p + 1)
      d * d
    }.reduce(_ + _)
    val coarse = emb.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"q", $"nsq", $"qv", $"qn",
        cdist.as("cdist"))
    import graft.plans.BoundedTopK.boundedTopK
    val short = coarse.groupBy($"qid")
      .agg(boundedTopK(struct($"cdist", $"cid", $"q", $"nsq", $"qv", $"qn"), SHORTLIST).as("top"))
      .select($"qid", explode($"top").as("r"))
      .select($"qid", $"r.cid".as("cid"), $"r.cdist".as("cdist"),
        cosine(intDot($"r.qv", $"r.q"), $"r.qn", $"r.nsq").as("cos"))
    short.groupBy($"qid")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"cid", $"cdist", $"cos"), 5).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"r.cid".as("cid"), $"r.cdist".as("cdist"),
        $"r.cos".as("cos"), ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"rank")
  }

  val rpSketchSearchSql: String = {
    val P = 16; val PLANE0 = 100
    def proj(p: Int) =
      s"""CAST(list_sum(list_transform(range(1, 65),
         |      i -> CASE WHEN substr(md5('${PLANE0 + p}:' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8'
         |                THEN q[i] ELSE -q[i] END)) AS BIGINT) AS rp$p""".stripMargin
    val projCols = (0 until P).map(proj).mkString(",\n    ")
    val cdist = (0 until P).map(p =>
      s"(p.rp$p - qs.qr$p) * (p.rp$p - qs.qr$p)").mkString(" + ")
    val qrCols = (0 until P).map(p => s"rp$p AS qr$p").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, $quantSql AS q FROM embeddings),
       |p AS MATERIALIZED (
       |  SELECT vec_id, q, ${dotSql("q", "q")} AS nsq,
       |    $projCols
       |  FROM e),
       |qs AS MATERIALIZED (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn, $qrCols
       |  FROM p WHERE vec_id < 10),
       |coarse AS (
       |  SELECT qs.qid, p.vec_id AS cid, $cdist AS cdist
       |  FROM p, qs WHERE p.vec_id != qs.qid),
       |short AS MATERIALIZED (
       |  SELECT qid, cid, cdist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, cid) AS rn
       |    FROM coarse) t WHERE rn <= 100),
       |rr AS MATERIALIZED (
       |  SELECT s.qid, s.cid, s.cdist,
       |    CAST(${dotSql("qs.qv", "c.q")} AS DOUBLE)
       |      / (sqrt(CAST(qs.qn AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE))) AS cos
       |  FROM short s JOIN p c ON c.vec_id = s.cid JOIN qs ON qs.qid = s.qid),
       |ranked AS (
       |  SELECT qid, cid, cdist, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM rr)
       |SELECT qid, cid, cdist, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** q127: ANN index-quality evaluation IN the engine — recall@5 and
    * MRR of the RHP-LSH index (q31) against the exact scan (q30), per
    * query. This is the measurement loop every production ANN
    * deployment runs before trusting an index (and after every
    * re-train / re-shard): ground truth = exact top-5, candidate list
    * = the index's top-5, metrics from their intersection.
    *
    * Determinism: ranks on both sides come from the exact
    * integer-quantized cosine chain (ties broken by cid), and the
    * metrics are pure integer arithmetic — hits, `hits*1e6 DIV 5`
    * recall, `1e6 DIV first_hit_rank` reciprocal rank — so DuckDB
    * replays them bit-identically (no float averaging anywhere).
    *
    * Scale shape: both inputs are ALREADY bounded at |Q|×5 rows by
    * [[graft.plans.BoundedTopK]]; the eval itself is a join of two
    * tiny lists + a |Q|-group aggregate — corpus-size-independent, so
    * at 100 TB the eval costs exactly one exact-scan pass (the ground
    * truth), which is the price of measuring recall at all.
    */
  def annRecallEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = knnBruteForce(s, dir).filter($"rank" <= 5)
      .select($"qid", $"cid")
    val approx = annLshBuckets(s, dir)
      .select($"qid", $"cid", $"rank".as("approx_rank"))
    val hits = approx.join(exact, Seq("qid", "cid"))
      .groupBy($"qid")
      .agg(count(lit(1)).as("h"), min($"approx_rank").as("fr"))
    exact.select($"qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select($"qid",
        coalesce($"h", lit(0L)).as("hits_at_5"),
        expr("coalesce(h, 0L) * 1000000 div 5").as("recall_ppm"),
        coalesce($"fr", lit(0L)).as("first_hit_rank"),
        expr("case when fr is null then 0L else 1000000 div fr end").as("mrr_ppm"))
      .orderBy($"qid")
  }

  val annRecallEvalSql: String =
    s"""WITH exact AS MATERIALIZED (
       |  SELECT qid, cid FROM ($knnBruteForceSql) WHERE rank <= 5),
       |approx AS MATERIALIZED (
       |  SELECT qid, cid, rank AS approx_rank FROM ($annLshBucketsSql)),
       |hit AS (
       |  SELECT a.qid, COUNT(*) AS h, MIN(a.approx_rank) AS fr
       |  FROM approx a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
       |  GROUP BY a.qid),
       |qs AS (SELECT DISTINCT qid FROM exact)
       |SELECT qs.qid,
       |  COALESCE(h, 0) AS hits_at_5,
       |  COALESCE(h, 0) * 1000000 // 5 AS recall_ppm,
       |  COALESCE(fr, 0) AS first_hit_rank,
       |  CASE WHEN fr IS NULL THEN 0 ELSE 1000000 // fr END AS mrr_ppm
       |FROM qs LEFT JOIN hit ON qs.qid = hit.qid
       |ORDER BY qs.qid""".stripMargin

  /** q158: nDCG@5 of the LSH candidate ranking — the GRADED
    * ranking-quality eval that completes the q127 recall/MRR layer
    * (recall treats every true neighbor alike; nDCG rewards putting
    * the BEST neighbors first, the metric retrieval stacks actually
    * tune against). Ground truth: the exact brute-force top-10 per
    * query graded 4/3/3/2/2/2/1/1/1/1 by exact rank; system list: the
    * q31 LSH-bucket top-5.
    *
    * Determinism (cross-engine): nDCG's log2 discounts are irrational
    * and libm `log` is not correctly rounded, so the discount vector
    * enters BOTH engines as the same five fixed-point INTEGER
    * literals (⌊10⁹/log₂(i+1)⌋), the ideal-DCG denominator is the
    * integer constant the fixed grade profile implies, and every
    * step — grade lookup, gain product, sum, ppm division — is exact
    * integer arithmetic (the q84 discipline). Only display casts
    * produce doubles.
    *
    * Scale shape: two bounded ranked lists (≤10·|Q| and ≤5·|Q| rows)
    * equi-joined on (qid, cid), one |Q|-row aggregate — evaluation
    * never touches the corpus beyond what q30/q31 already scan.
    */
  def ndcgEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ⌊1e9 / log2(i+1)⌋ for i = 1..5 — shared literals with the oracle
    val disc = Seq(1000000000L, 630929753L, 500000000L, 430676558L, 386852807L)
    // ideal top-5 grade profile [4,3,3,2,2] · disc
    val idcgFx = 4L * disc(0) + 3L * (disc(1) + disc(2)) + 2L * (disc(3) + disc(4))
    val exact = knnBruteForce(s, dir).filter($"rank" <= 10)
      .select($"qid", $"cid",
        when($"rank" === 1, 4L).when($"rank" <= 3, 3L)
          .when($"rank" <= 6, 2L).otherwise(1L).as("rel"))
    val approx = annLshBuckets(s, dir).filter($"rank" <= 5)
      .select($"qid", $"cid", $"rank".cast("int").as("arank"))
    val dcg = approx.join(exact, Seq("qid", "cid"), "left")
      .withColumn("gain",
        coalesce($"rel", lit(0L)) * element_at(typedLit(disc), $"arank"))
      .groupBy($"qid").agg(sum($"gain").as("dcg_fx"))
    exact.select($"qid").distinct()
      .join(dcg, Seq("qid"), "left")
      .select($"qid",
        coalesce($"dcg_fx", lit(0L)).as("dcg_fx"),
        expr(s"coalesce(dcg_fx, 0L) * 1000000 DIV ${idcgFx}L").as("ndcg_ppm"))
      .orderBy($"qid")
  }

  val ndcgEvalSql: String =
    s"""WITH exact AS MATERIALIZED (
       |  SELECT qid, cid,
       |    CASE WHEN rank = 1 THEN 4 WHEN rank <= 3 THEN 3
       |         WHEN rank <= 6 THEN 2 ELSE 1 END AS rel
       |  FROM ($knnBruteForceSql) WHERE rank <= 10),
       |approx AS MATERIALIZED (
       |  SELECT qid, cid, rank AS arank FROM ($annLshBucketsSql) WHERE rank <= 5),
       |d AS (SELECT * FROM (VALUES
       |  (1, 1000000000), (2, 630929753), (3, 500000000),
       |  (4, 430676558), (5, 386852807)) AS t(arank, disc)),
       |g AS (
       |  SELECT a.qid, CAST(COALESCE(e.rel, 0) AS BIGINT) * d.disc AS gain
       |  FROM approx a JOIN d USING (arank)
       |  LEFT JOIN exact e ON a.qid = e.qid AND a.cid = e.cid),
       |dcg AS (SELECT qid, CAST(SUM(gain) AS BIGINT) AS dcg_fx FROM g GROUP BY qid),
       |qs AS (SELECT DISTINCT qid FROM exact)
       |SELECT qs.qid,
       |  COALESCE(dcg_fx, CAST(0 AS BIGINT)) AS dcg_fx,
       |  CAST(COALESCE(dcg_fx, 0) * 1000000 // 9027847989 AS BIGINT) AS ndcg_ppm
       |FROM qs LEFT JOIN dcg ON qs.qid = dcg.qid
       |ORDER BY qs.qid""".stripMargin

  /** q132: the source-similarity matrix mixture design starts from —
    * per-source mean embedding (the "domain centroid"), then pairwise
    * cosine between every pair of source centroids. Two domains whose
    * centroids sit close are near-exchangeable when rebalancing a
    * mixture (Xie 2023 DoReMi-style grouping starts from exactly this
    * matrix); a centroid far from every other flags a distribution
    * outlier worth its own mixture weight.
    *
    * The embedded slice (vec_id = doc_id, q122's convention) carries
    * the (source) tag via one doc-keyed join; centroids are one
    * (source, pos)-keyed aggregate re-quantized to int64 with q33's
    * round(mean) convention so every later distance is exact integer
    * arithmetic; the pairwise stage is |sources|² on a broadcast —
    * bounded by construction, never corpus-scale.
    */
  def sourceCentroidSim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id".as("doc_id"), quantize($"embedding").as("q"))
    val src = Tables.load(s, dir, "documents").select($"doc_id", $"source")
    val cent = emb.join(src, "doc_id")
      .select($"source", posexplode($"q").as(Seq("pos", "qv")))
      .groupBy($"source", $"pos")
      .agg((sum($"qv").cast("double") / count(lit(1)).cast("double")).as("c"))
      .groupBy($"source")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => round(x("c")).cast("long")).as("cvec"))
      .withColumn("nsq", intNormSq($"cvec"))
    cent.as("a").join(broadcast(cent.as("b")),
        $"a.source" < $"b.source")
      .select($"a.source".as("source_a"), $"b.source".as("source_b"),
        cosine(intDot($"a.cvec", $"b.cvec"), $"a.nsq", $"b.nsq").as("cos"))
      .orderBy($"source_a", $"source_b")
  }

  val sourceCentroidSimSql: String =
    s"""WITH e AS (
       |  SELECT vec_id AS doc_id, $quantSql AS q FROM embeddings),
       |j AS (
       |  SELECT d.source, e.q FROM e JOIN documents d USING (doc_id)),
       |cpos AS (
       |  SELECT source, r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
       |  FROM j, range(1, 65) r
       |  GROUP BY source, r.range),
       |cent AS (
       |  SELECT source, list(cv ORDER BY pos) AS cvec FROM cpos GROUP BY source),
       |n AS (
       |  SELECT source, cvec, ${dotSql("cvec", "cvec")} AS nsq FROM cent)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(${dotSql("a.cvec", "b.cvec")} AS DOUBLE)
       |    / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
       |FROM n a JOIN n b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin

  /** q148: hard-negative mining — the contrastive-training data-prep
    * stage (retrieval/embedding finetuning wants, per anchor, its
    * nearest SAME-label neighbors as positives and its nearest
    * DIFFERENT-label neighbors as hard negatives — the confusable
    * cases that actually move the loss). One corpus scan against the
    * broadcast anchor set (q30's bounded-query discipline, exact
    * integer cosine), then ONE bounded top-k aggregate keyed on
    * (anchor, is_positive) — ≤5 rows per map task per key survive the
    * shuffle, never a window sort.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.BoundedTopK.boundedTopK
    val emb = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("q"), $"label")
      .withColumn("nsq", intNormSq($"q"))
    val anchors = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"),
        $"label".as("qlabel"))
    val scored = emb.join(broadcast(anchors), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        ($"label" === $"qlabel").as("is_positive"),
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    scored.groupBy($"qid", $"is_positive")
      .agg(boundedTopK(struct((-$"cos").as("negc"), $"cid", $"cos"), 5).as("top"))
      .select($"qid", $"is_positive", posexplode($"top").as(Seq("pos", "r")))
      .select($"qid", $"is_positive", $"r.cid".as("cid"), $"r.cos".as("cos"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"qid", $"is_positive", $"rank")
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, $quantSql AS q FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, q, ${dotSql("q", "q")} AS nsq FROM e),
       |qs AS (
       |  SELECT vec_id AS qid, q AS qv, nsq AS qn, label AS qlabel
       |  FROM n WHERE vec_id < 10),
       |scored AS (
       |  SELECT qs.qid, n.vec_id AS cid, n.label = qs.qlabel AS is_positive,
       |    CAST(${dotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM n, qs WHERE n.vec_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid, is_positive
       |                               ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, is_positive, cid, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, is_positive, rank""".stripMargin

  /** q170 — embedding INFERENCE feeding kNN, end-to-end from raw
    * text: the whole ANN family above consumes fixture vectors; this
    * query PRODUCES the vector column with a trained artifact —
    * [[graft.plans.HashedBagEmbed]], the q167 discipline extended
    * from scalar score to a dim×k projection (fastText's
    * representation layer, Joulin et al. 2016 §2: hashing-trick
    * token rows, mean-pooled) — then runs the q30 brute-force cosine
    * top-k over the engine-produced vectors.
    *
    * Scale shape: inference is ONE stateless map-only codegen scan
    * (weight matrix rides the plan as a literal — the PQ-codebook
    * rule; CurationSpec pins no exchange up to the broadcast), and
    * the kNN half inherits q30's bounded discipline (broadcast query
    * set, per-task bounded top-k, no qid window funnel). Quantized
    * int64 output keeps every downstream score exact — the oracle
    * replays inference per component with `list_reduce` (bit-identical
    * left fold, q167) and HALF-AWAY-FROM-ZERO quantization.
    * Zero-norm vectors (empty/null text) carry no direction and are
    * filtered on both sides before cosine.
    */
  private[graft] val EmbedK = 16
  private[graft] val EmbedDim = 64
  private[graft] val EmbedWeights: Seq[Double] =
    (0 until EmbedDim * EmbedK).map(i => (((i * 53 + 7) % 41) - 20) / 20.0)

  def embedKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    val emb = docs.select($"doc_id", $"lang",
        graft.operators.CurationOps.hashedBagEmbed(
          $"text", EmbedWeights, EmbedK).as("q"))
      .withColumn("nsq", intNormSq($"q"))
      .filter($"nsq" > 0)
    // the query set must stay BOUNDED at any corpus size for the
    // broadcast: the %50 sample alone grows linearly with the corpus
    // (2% of 100 TB is not a broadcast), so the id cap does the
    // bounding (≤100 queries) and the sample picks spread-out ids —
    // the q30 `vec_id < 10` discipline (PlanSpec enforces it)
    val queries = emb.filter($"doc_id" % 50 === 0 && $"doc_id" < 5000)
      .select($"doc_id".as("qid"), $"q".as("qv"), $"nsq".as("qn"))
    val scored = emb.join(broadcast(queries), $"doc_id" =!= $"qid")
      .select($"qid", $"doc_id".as("cid"), $"lang",
        cosine(intDot($"qv", $"q"), $"qn", $"nsq").as("cos"))
    topKRank(scored, 5)
  }

  private def embedDotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, ${EmbedK + 1}), i -> $a[i] * $b[i])) AS BIGINT)"

  val embedKnnSql: String = {
    val wlit = EmbedWeights.mkString("[", ", ", "]")
    s"""WITH wv AS (SELECT $wlit::DOUBLE[] AS w),
       |t AS MATERIALIZED (
       |  SELECT doc_id, lang, list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |    x -> x <> '') AS toks
       |  FROM documents),
       |e AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    list_transform(range(0, $EmbedK), j ->
       |      CASE WHEN len(toks) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(toks, tok ->
       |          w[CAST(${TextQueries.fnv1aSqlExpr("tok")} % $EmbedDim AS INT) * $EmbedK
       |            + CAST(j AS INT) + 1])),
       |        (a, b) -> a + b) / len(toks) * 1000000) AS BIGINT) END) AS q
       |  FROM t, wv),
       |n AS MATERIALIZED (
       |  SELECT doc_id, lang, q, ${embedDotSql("q", "q")} AS nsq FROM e),
       |nz AS (SELECT * FROM n WHERE nsq > 0),
       |qs AS (
       |  SELECT doc_id AS qid, q AS qv, nsq AS qn FROM nz
       |  WHERE doc_id % 50 = 0 AND doc_id < 5000),
       |scored AS (
       |  SELECT qs.qid, nz.doc_id AS cid, nz.lang,
       |    CAST(${embedDotSql("qv", "q")} AS DOUBLE)
       |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(nsq AS DOUBLE))) AS cos
       |  FROM nz, qs WHERE nz.doc_id != qs.qid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |  FROM scored)
       |SELECT qid, cid, lang, cos, rank FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** q174 — TEXT semantic dedup, end to end: the q83 SemDeDup shape
    * with the fixture vectors replaced by ENGINE-produced embeddings
    * ([[graft.plans.HashedBagEmbed]] — the q170 producer), so the
    * dedup tier now runs raw text → embed → candidates → prune with
    * no fixture anywhere. Planted near-duplicates are TEXTUAL (every
    * 50th doc of ≥32 words re-enters with its first word appended —
    * a one-token edit that moves the bag mean by ~1/n), and the
    * corpus's own natural near-dup texts are found alongside them.
    *
    * Bag-of-words embeddings of a shared-vocabulary corpus
    * concentrate around the vocabulary mean (measured: mean pairwise
    * cosine 0.36, p99 0.86 raw — thresholds and hyperplanes both
    * degenerate there), so the corpus is MEAN-CENTERED first: the
    * mean is ONE bounded aggregate (k int64 components, exact
    * arithmetic both engines) collected as a literal, centering rides
    * the scan, and centered cosines spread to mean ≈ 0. Candidates
    * come from q34's 3×8-plane banded RHP OR-construction (over
    * k = 16 dims — [[graft.functions.VectorOps.rhpSignature]]'s dim
    * generalization), verified with exact int cosine ≥ 0.98; the
    * larger id of every verified pair is pruned. Output = survivors.
    *
    * LSH recall is probabilistic BY DESIGN and deterministic given
    * the data: at sf0.01 one of 8 planted pairs lands in no band
    * (centered cos ≈ 0.98–0.99 ⇒ per-band hit ≈ 0.44–0.69) and both
    * engines agree it survives — production raises band count, not
    * the gate. Scale shape: one corpus scan to embed+center (mean is
    * a broadcast-free literal), banding map-side, the candidate join
    * equi-keyed on (band, sig), per-candidate O(k) verify, prune via
    * distinct + left-anti — no window, no global sort before the
    * presentation ORDER BY.
    */
  def textSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
      .select($"doc_id", $"text", $"lang")
    val toks = filter(split(coalesce($"text", lit("")), "\\s+"), t => t =!= "")
    val copies = docs
      .withColumn("__t", toks)
      .filter($"doc_id" % 50 === 0 && size($"__t") >= 32)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat($"text", lit(" "), element_at($"__t", 1)).as("text"), $"lang")
    // Staged (the q24 discipline, caller-owned lifecycle): the embed
    // kernel (tokenize + HashedBagEmbed over the corpus ∪ copies) has
    // TWO consumers — the mean collect below and the centered main
    // plan — and unstaged it re-ran end-to-end for each, paying the
    // union's single-split scans twice over (r20 profile: ~1.6 s of
    // serialized re-scan/re-embed stages). One build, both read it.
    val emb = graft.operators.Staging.staged(docs.unionByName(copies)
      .select($"doc_id", $"lang",
        graft.operators.CurationOps.hashedBagEmbed(
          $"text", EmbedWeights, EmbedK).as("q"))
      .filter(intNormSq($"q") > 0)) // empty docs carry no direction
    // the corpus mean: one partial-aggregable pass, k bounded int64
    // components — a literal, not a broadcast (the PQ-codebook rule)
    val mu: Array[Long] = emb
      .select(posexplode($"q").as(Seq("pos", "v")))
      .groupBy($"pos")
      .agg(round(sum($"v").cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("m"))
      .orderBy($"pos").select($"m").as[Long].collect()
    val cent = emb
      .select($"doc_id", $"lang",
        // mean-centering via the LongVecSub codegen kernel — the
        // zip_with HOF it replaces ran interpreted on every corpus
        // row of BOTH cache-build passes (rule §4)
        longVecSub($"q", array(mu.map(lit(_)): _*)).as("qc"))
      .withColumn("nsq", intNormSq($"qc"))
      .filter($"nsq" > 0) // a doc AT the mean has no direction either
    val banded = cent.select($"doc_id", $"qc", $"nsq",
        explode(array((0 until 3).map(b => struct(lit(b).as("band"),
          rhpSignature($"qc", 8, b * 8, EmbedK).as("sig"))): _*)).as("bs"))
      .select($"doc_id", $"qc", $"nsq", $"bs.band".as("band"), $"bs.sig".as("sig"))
    val pruned = banded
      .select($"band", $"sig", $"doc_id".as("i"), $"qc".as("qi"), $"nsq".as("ni"))
      .join(banded.select($"band", $"sig",
        $"doc_id".as("j"), $"qc".as("qj"), $"nsq".as("nj")),
        Seq("band", "sig"))
      .filter($"i" < $"j")
      .filter(cosine(intDot($"qi", $"qj"), $"ni", $"nj") >= 0.98)
      .select($"j".as("doc_id")).distinct()
    cent.join(pruned, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", ($"doc_id" >= 1000000L).as("is_copy"))
      .orderBy($"doc_id")
  }

  /** 16-dim mirrors of dotSql / sigSqlRange for the engine-embedding
    * column (`qc`) — the fixture-vector versions are 64-wide.
    */
  private def dot16Sql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, ${EmbedK + 1}), i -> $a[i] * $b[i])) AS BIGINT)"

  private def sig16SqlRange(from: Int, until: Int): String = {
    val bit = (p: Int) =>
      s"""CASE WHEN list_sum(list_transform(range(1, ${EmbedK + 1}),
         |    i -> CASE WHEN substr(md5('$p:' || CAST(i - 1 AS VARCHAR)), 1, 1) < '8'
         |              THEN qc[i] ELSE -qc[i] END)) >= 0 THEN '1' ELSE '0' END""".stripMargin
    (from until until).map(bit).mkString(" || ")
  }

  val textSemanticDedupSql: String = {
    val wlit = EmbedWeights.mkString("[", ", ", "]")
    s"""WITH wv AS (SELECT $wlit::DOUBLE[] AS w),
       |base AS (
       |  SELECT doc_id, lang, coalesce(text, '') AS text FROM documents),
       |wt AS (
       |  SELECT doc_id, lang, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM base),
       |cp AS (
       |  SELECT doc_id + 1000000 AS doc_id, lang, text || ' ' || toks[1] AS text
       |  FROM wt WHERE doc_id % 50 = 0 AND len(toks) >= 32),
       |allv AS (
       |  SELECT doc_id, lang, text FROM base
       |  UNION ALL SELECT doc_id, lang, text FROM cp),
       |t AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM allv),
       |e AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    list_transform(range(0, $EmbedK), j ->
       |      CASE WHEN len(toks) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
       |        list_transform(toks, tok ->
       |          w[CAST(${TextQueries.fnv1aSqlExpr("tok")} % $EmbedDim AS INT) * $EmbedK
       |            + CAST(j AS INT) + 1])),
       |        (a, b) -> a + b) / len(toks) * 1000000) AS BIGINT) END) AS q
       |  FROM t, wv),
       |nz AS (SELECT * FROM e WHERE ${dot16Sql("q", "q")} > 0),
       |mucomp AS (
       |  SELECT r.range AS pos,
       |    CAST(round(CAST(SUM(q[r.range]) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM nz, range(1, ${EmbedK + 1}) r GROUP BY r.range),
       |mu AS (SELECT list(m ORDER BY pos) AS mv FROM mucomp),
       |c AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    list_transform(range(1, ${EmbedK + 1}), i -> q[i] - mv[i]) AS qc
       |  FROM nz, mu),
       |n2 AS MATERIALIZED (
       |  SELECT doc_id, lang, qc, ${dot16Sql("qc", "qc")} AS nsq FROM c),
       |nzc AS (SELECT * FROM n2 WHERE nsq > 0),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, qc, nsq,
       |    ${sig16SqlRange(0, 8)} AS s0,
       |    ${sig16SqlRange(8, 16)} AS s1,
       |    ${sig16SqlRange(16, 24)} AS s2
       |  FROM nzc),
       |banded AS (
       |  SELECT doc_id, qc, nsq, 0 AS band, s0 AS sig FROM sig
       |  UNION ALL SELECT doc_id, qc, nsq, 1 AS band, s1 AS sig FROM sig
       |  UNION ALL SELECT doc_id, qc, nsq, 2 AS band, s2 AS sig FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, a.qc AS qi, b.qc AS qj,
       |    a.nsq AS ni, b.nsq AS nj
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |pruned AS (
       |  SELECT DISTINCT j AS doc_id FROM (
       |    SELECT j, CAST(${dot16Sql("qi", "qj")} AS DOUBLE)
       |      / (sqrt(CAST(ni AS DOUBLE)) * sqrt(CAST(nj AS DOUBLE))) AS cos
       |    FROM pairs) p
       |  WHERE cos >= 0.98)
       |SELECT doc_id, lang, doc_id >= 1000000 AS is_copy
       |FROM nzc WHERE doc_id NOT IN (SELECT doc_id FROM pruned)
       |ORDER BY doc_id""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    "q174_text_semantic_dedup" -> (textSemanticDedup(_, _)),
    "q170_embed_knn" -> (embedKnn(_, _)),
    "q148_hard_negatives" -> (hardNegatives(_, _)),
    "q30_knn_brute_force" -> (knnBruteForce(_, _)),
    "q31_ann_lsh_buckets" -> (annLshBuckets(_, _)),
    "q32_label_centroids" -> (labelCentroids(_, _)),
    "q33_ivf_search" -> (ivfSearch(_, _)),
    "q34_cosine_near_dup" -> (cosineNearDup(_, _)),
    "q80_ivf_multiprobe" -> (ivfMultiProbe(_, _)),
    "q83_semantic_dedup" -> (semanticDedup(_, _)),
    "q97_ivf_kmeans" -> (ivfKmeans(_, _)),
    "q123_pq_adc_search" -> (pqAdcSearch(_, _)),
    "q160_ivfpq_search" -> (ivfPqSearch(_, _)),
    "q127_ann_recall_eval" -> (annRecallEval(_, _)),
    "q158_ndcg_eval" -> (ndcgEval(_, _)),
    "q129_rp_sketch_search" -> (rpSketchSearch(_, _)),
    "q132_source_centroid_sim" -> (sourceCentroidSim(_, _)))

  val oracles: Map[String, String] = Map(
    "q174_text_semantic_dedup" -> textSemanticDedupSql,
    "q170_embed_knn" -> embedKnnSql,
    "q148_hard_negatives" -> hardNegativesSql,
    "q30_knn_brute_force" -> knnBruteForceSql,
    "q31_ann_lsh_buckets" -> annLshBucketsSql,
    "q32_label_centroids" -> labelCentroidsSql,
    "q33_ivf_search" -> ivfSearchSql,
    "q34_cosine_near_dup" -> cosineNearDupSql,
    "q80_ivf_multiprobe" -> ivfMultiProbeSql,
    "q83_semantic_dedup" -> semanticDedupSql,
    "q97_ivf_kmeans" -> ivfKmeansSql,
    "q123_pq_adc_search" -> pqAdcSearchSql,
    "q160_ivfpq_search" -> ivfPqSearchSql,
    "q127_ann_recall_eval" -> annRecallEvalSql,
    "q158_ndcg_eval" -> ndcgEvalSql,
    "q129_rp_sketch_search" -> rpSketchSearchSql,
    "q132_source_centroid_sim" -> sourceCentroidSimSql)
}

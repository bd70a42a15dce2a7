package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.MultimodalOps
import graft.operators.CoreOps.{firstBy, lastBy}
import graft.sources.EnvCatalog

/** End-to-end pipeline surfaces: the multimodal batch-extract stage
  * and the plain-SQL entry point (§3.3 — the reference delegates SQL
  * strings to MySQL; here Catalyst parses/optimizes/executes).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Multimodal feature pipeline: documents → binary media column +
    * typed metadata → partition-wise feature extraction (mapInPandas
    * analog; codec stubbed deterministically) → per-kind rollup.
    * Oracle-checked: the stub codec's byte-sum checksum and brightness
    * are DuckDB-expressible over the UTF-8 payload (codepoint sums
    * equal byte sums on this ASCII corpus), so the whole mapPartitions
    * stage is verified end-to-end, not just rows-only.
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    val media = MultimodalOps.packMedia(docs, "doc_id", "text")
    val features = MultimodalOps.extractFeatures(media)
    features.groupBy($"kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum($"n_bytes").as("total_bytes"),
        sum($"checksum").as("total_checksum"),
        (sum($"brightness".cast("decimal(30,12)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_brightness"),
        sum($"n_frames").as("total_frames"))
      .orderBy($"kind")
  }

  val multimodalFeaturesSql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id,
      |    (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
      |    CAST(len(text) AS BIGINT) AS n_bytes,
      |    CAST(list_aggregate(
      |      list_transform(range(1, len(text) + 1), i -> ord(text[i])),
      |      'sum') AS BIGINT) AS checksum,
      |    (doc_id % 90000) // 1000 + 1 AS n_frames
      |  FROM documents),
      |g AS (
      |  SELECT *,
      |    CASE WHEN n_bytes = 0 THEN 0.0
      |         ELSE CAST(checksum AS DOUBLE) / n_bytes / 255.0 END AS brightness
      |  FROM f)
      |SELECT kind,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(SUM(checksum) AS BIGINT) AS total_checksum,
      |  CAST(SUM(CAST(brightness AS DECIMAL(30,12))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_brightness,
      |  CAST(SUM(n_frames) AS BIGINT) AS total_frames
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  /** Real image decode end-to-end: every document is packed with a
    * planted solid-gray PNG whose gray value and dimensions are
    * arithmetic in `doc_id` (every 5th row instead carries its raw
    * UTF-8 text — not an image), then the batch extract stage decodes
    * REAL pixels via `javax.imageio`. Because PNG is lossless and the
    * plant is parameterized, a DuckDB oracle predicts every decoded
    * feature (width, height, brightness = gray/255) from `doc_id`
    * alone, and the text rows prove the no-codec fallback path inside
    * the same run.
    */
  def imageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    val mediaEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(MultimodalOps.mediaSchema)
    val media = docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload =
          if (id % 5 == 0) r.getString(1).getBytes("UTF-8")
          else MultimodalOps.syntheticPng((id % 256).toInt,
            (id % 24 + 8).toInt, (id % 16 + 8).toInt)
        org.apache.spark.sql.Row(id, "image", payload,
          org.apache.spark.sql.Row(payload.length.toLong, 0, 0, 0L))
      }
    }(mediaEnc)
    MultimodalOps.extractFeatures(media)
      .select($"media_id".as("doc_id"), $"width", $"height", $"decoded",
        $"brightness")
      .orderBy($"doc_id")
  }

  val imageDecodeSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN 0
      |       ELSE CAST(doc_id % 24 + 8 AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 5 = 0 THEN 0
      |       ELSE CAST(doc_id % 16 + 8 AS INTEGER) END AS height,
      |  doc_id % 5 <> 0 AS decoded,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 256 AS DOUBLE) / 255.0
      |       WHEN len(text) = 0 THEN 0.0
      |       ELSE CAST(list_aggregate(
      |         list_transform(range(1, len(text) + 1), i -> ord(text[i])),
      |         'sum') AS DOUBLE) / len(text) / 255.0 END AS brightness
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Real audio decode end-to-end, the q96 pattern for the second
    * modality: every document is packed with a planted PCM16 WAV
    * (alternating ±amp square wave) whose rate/channels/frames/
    * amplitude are arithmetic in `doc_id` (every 5th row instead
    * carries raw UTF-8 text — not audio), then the batch extract
    * stage decodes REAL samples via the pure-JVM RIFF parser. The
    * square wave makes every decoded feature closed-form — RMS and
    * peak exactly amp/32768, mean amp/(frames·32768) only for odd
    * frame counts — so a DuckDB oracle predicts the whole decode from
    * `doc_id` alone, and the text rows prove the no-codec fallback in
    * the same run.
    */
  def audioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    val mediaEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(MultimodalOps.mediaSchema)
    val media = docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload =
          if (id % 5 == 0) r.getString(1).getBytes("UTF-8")
          else MultimodalOps.syntheticWav(
            (id % 30000 + 1000).toInt, (id % 400 + 50).toInt,
            Seq(8000, 16000, 44100)((id % 3).toInt), (1 + id % 2).toInt)
        org.apache.spark.sql.Row(id, "audio", payload,
          org.apache.spark.sql.Row(payload.length.toLong, 0, 0, 0L))
      }
    }(mediaEnc)
    MultimodalOps.extractAudioFeatures(media)
      .select($"media_id".as("doc_id"), $"n_bytes", $"decoded",
        $"sample_rate", $"n_channels", $"n_frames", $"duration_ms",
        $"rms", $"peak_norm", $"mean_norm")
      .orderBy($"doc_id")
  }

  val audioDecodeSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    doc_id % 5 <> 0 AS decoded,
      |    ([8000, 16000, 44100])[CAST(doc_id % 3 + 1 AS INTEGER)] AS rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |    doc_id % 400 + 50 AS frames,
      |    doc_id % 30000 + 1000 AS amp,
      |    text
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN decoded THEN CAST(44 + frames * ch * 2 AS BIGINT)
      |       ELSE CAST(len(text) AS BIGINT) END AS n_bytes,
      |  decoded,
      |  CASE WHEN decoded THEN CAST(rate AS INTEGER) ELSE 0 END AS sample_rate,
      |  CASE WHEN decoded THEN ch ELSE 0 END AS n_channels,
      |  CASE WHEN decoded THEN CAST(frames AS BIGINT) ELSE 0 END AS n_frames,
      |  CASE WHEN decoded THEN frames * 1000 // rate ELSE 0 END AS duration_ms,
      |  CASE WHEN decoded THEN CAST(amp AS DOUBLE) / 32768.0 ELSE 0.0 END AS rms,
      |  CASE WHEN decoded THEN CAST(amp AS DOUBLE) / 32768.0 ELSE 0.0 END AS peak_norm,
      |  CASE WHEN decoded AND frames % 2 = 1
      |       THEN CAST(ch * amp AS DOUBLE) / (ch * frames) / 32768.0
      |       ELSE 0.0 END AS mean_norm
      |FROM p ORDER BY doc_id""".stripMargin

  /** q117 — real video decode end-to-end, the third modality: every
    * document is packed with a planted two-frame RIFF/AVI container
    * whose frames are lossless solid-gray PNGs (every 5th row instead
    * carries raw UTF-8 text — not video), then the batch extract walks
    * the AVI chunk tree and decodes each frame through the ImageIO
    * path. PNG frames keep every decoded feature closed-form in
    * `doc_id` — per-frame brightness is exactly gray/255 — so a DuckDB
    * oracle predicts the whole decode arithmetically, and the text
    * rows prove the corrupt-container fallback in the same run.
    */
  def videoDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    val mediaEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(MultimodalOps.mediaSchema)
    val media = docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload =
          if (id % 5 == 0) r.getString(1).getBytes("UTF-8")
          else MultimodalOps.syntheticAvi(
            Seq((id % 256).toInt, ((id * 7 + 13) % 256).toInt),
            (id % 24 + 8).toInt, (id % 16 + 8).toInt,
            (id % 900 + 100) * 1000L)
        org.apache.spark.sql.Row(id, "video", payload,
          org.apache.spark.sql.Row(payload.length.toLong, 0, 0, 0L))
      }
    }(mediaEnc)
    MultimodalOps.extractVideoFeatures(media)
      .select($"media_id".as("doc_id"), $"decoded", $"n_frames",
        $"decoded_frames", $"width", $"height", $"duration_ms",
        $"mean_brightness")
      .orderBy($"doc_id")
  }

  /** Oracle mirrors the engine's IEEE op order exactly: per-frame
    * gray/255.0 in double, summed, halved — bit-identical on both
    * engines (the q44 discipline, two frames instead of one).
    */
  val videoDecodeSql: String =
    """SELECT doc_id,
      |  doc_id % 5 <> 0 AS decoded,
      |  CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 0 END AS n_frames,
      |  CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 0 END AS decoded_frames,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 24 + 8 AS INTEGER)
      |       ELSE 0 END AS width,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 16 + 8 AS INTEGER)
      |       ELSE 0 END AS height,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST((doc_id % 900 + 100) * 2 AS BIGINT)
      |       ELSE 0 END AS duration_ms,
      |  CASE WHEN doc_id % 5 <> 0 THEN
      |    (CAST(doc_id % 256 AS DOUBLE) / 255.0
      |     + CAST((doc_id * 7 + 13) % 256 AS DOUBLE) / 255.0) / 2
      |  ELSE 0.0 END AS mean_brightness
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q118 — SAMPLED-frame video decode: the 100 TB reality of video
    * curation is that the container walk is cheap and the pixel decode
    * is not, so features come from every k-th frame. Four-frame
    * planted AVIs, stride 2 → frames 0 and 2 decode, the container
    * still reports all 4; grays are arithmetic in (doc_id, frame), so
    * the sampled mean is closed-form and the oracle distinguishes a
    * correct stride from decode-everything (which would average all
    * four grays) and from sample-first-only.
    */
  def frameSampledDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    val mediaEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(MultimodalOps.mediaSchema)
    val media = docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload =
          if (id % 5 == 0) r.getString(1).getBytes("UTF-8")
          else MultimodalOps.syntheticAvi(
            (0 to 3).map(k => ((id + 37L * k) % 256).toInt),
            (id % 20 + 8).toInt, (id % 12 + 8).toInt,
            (id % 700 + 100) * 1000L)
        org.apache.spark.sql.Row(id, "video", payload,
          org.apache.spark.sql.Row(payload.length.toLong, 0, 0, 0L))
      }
    }(mediaEnc)
    MultimodalOps.extractVideoFeatures(media, frameStride = 2)
      .select($"media_id".as("doc_id"), $"decoded", $"n_frames",
        $"decoded_frames", $"width", $"height", $"duration_ms",
        $"mean_brightness")
      .orderBy($"doc_id")
  }

  val frameSampledDecodeSql: String =
    """SELECT doc_id,
      |  doc_id % 5 <> 0 AS decoded,
      |  CASE WHEN doc_id % 5 <> 0 THEN 4 ELSE 0 END AS n_frames,
      |  CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 0 END AS decoded_frames,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 20 + 8 AS INTEGER)
      |       ELSE 0 END AS width,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 12 + 8 AS INTEGER)
      |       ELSE 0 END AS height,
      |  CASE WHEN doc_id % 5 <> 0 THEN CAST((doc_id % 700 + 100) * 4 AS BIGINT)
      |       ELSE 0 END AS duration_ms,
      |  CASE WHEN doc_id % 5 <> 0 THEN
      |    (CAST(doc_id % 256 AS DOUBLE) / 255.0
      |     + CAST((doc_id + 74) % 256 AS DOUBLE) / 255.0) / 2
      |  ELSE 0.0 END AS mean_brightness
      |FROM documents ORDER BY doc_id""".stripMargin

  /** §3.3 — ad-hoc SQL over the registered catalog: the engine's
    * `spark.sql` surface, written in the ANSI subset both engines
    * parse, so the SAME string is the oracle.
    */
  val sqlSurfaceText: String =
    """SELECT n_name,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(sqlSurfaceText)
  }

  /** C6/C8/C9 — the environment-catalog lifecycle as a registry-
    * rewrite pipeline: seed a deterministic registry from `nation`,
    * register one new database + one already-registered name
    * (INSERT-IGNOREd), diff environments, refuse a
    * protected-environment delete, then soft-delete the 'dev'
    * environment. The physical DROP/CREATE side (C5/C7 DDL) is
    * spec-tested in StoreSpec; this query oracle-checks every registry
    * state transition.
    */
  def catalogLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = Tables.load(s, dir, "nation")
    val reg0 = nation.select(
        lower(regexp_replace($"n_name", "[^A-Za-z0-9]", "_")).as("base_name"),
        element_at(array(lit("prod"), lit("test"), lit("dev")),
          ($"n_nationkey" % 3 + 1).cast("int")).as("environment"),
        ($"n_nationkey" % 5 =!= 4).as("is_active"))
      .withColumn("database_name", concat($"base_name", lit("_"), $"environment"))
      .withColumn("branch_name", lit(null).cast("string"))
      .withColumn("created_by", lit("seed"))
      .select($"database_name", $"base_name", $"environment", $"branch_name",
        $"created_by", $"is_active")
    val prot = EnvCatalog.parseProtectedEnvironments(" prod , prod ")
    val reg1 = new EnvCatalog(reg0, prot)
      .register("orders_main_dev", "orders_main", "dev", "builder")
    // ARGENTINA (nationkey 1) seeds 'argentina_test' — re-register is
    // ignored (INSERT IGNORE)
    val reg2 = new EnvCatalog(reg1, prot)
      .register("argentina_test", "argentina", "test", "builder")
    val cat2 = new EnvCatalog(reg2, prot)
    val missingInDev = cat2.diffEnvironments("test", "dev")
      .withColumn("missing_in_dev", lit(true))
    val blocked =
      try { cat2.deleteEnvironment(Seq("prod")); false }
      catch { case _: IllegalArgumentException => true }
    val reg3 = cat2.deleteEnvironment(Seq("dev"))
    reg3.join(missingInDev, Seq("base_name"), "left")
      .withColumn("missing_in_dev", coalesce($"missing_in_dev", lit(false)))
      .withColumn("protected_delete_blocked", lit(blocked))
      .select($"database_name", $"base_name", $"environment", $"branch_name",
        $"created_by", $"is_active", $"missing_in_dev",
        $"protected_delete_blocked")
      .orderBy($"database_name")
  }

  val catalogLifecycleSql: String =
    """WITH seed AS (
      |  SELECT n_nationkey,
      |    lower(regexp_replace(n_name, '[^A-Za-z0-9]', '_', 'g')) AS base_name,
      |    (['prod', 'test', 'dev'])[CAST(n_nationkey % 3 + 1 AS INTEGER)] AS environment,
      |    n_nationkey % 5 <> 4 AS is_active
      |  FROM nation),
      |reg0 AS (
      |  SELECT base_name || '_' || environment AS database_name, base_name,
      |    environment, CAST(NULL AS VARCHAR) AS branch_name,
      |    'seed' AS created_by, is_active
      |  FROM seed),
      |reg1 AS (
      |  SELECT * FROM reg0
      |  UNION ALL
      |  SELECT 'orders_main_dev', 'orders_main', 'dev', NULL, 'builder', TRUE
      |  WHERE NOT EXISTS (SELECT 1 FROM reg0 WHERE database_name = 'orders_main_dev')
      |  UNION ALL
      |  SELECT 'argentina_test', 'argentina', 'test', NULL, 'builder', TRUE
      |  WHERE NOT EXISTS (SELECT 1 FROM reg0 WHERE database_name = 'argentina_test')),
      |diff AS (
      |  SELECT DISTINCT base_name FROM reg1
      |  WHERE environment = 'test' AND is_active
      |    AND base_name NOT IN (
      |      SELECT base_name FROM reg1 WHERE environment = 'dev' AND is_active))
      |SELECT r.database_name, r.base_name, r.environment, r.branch_name,
      |  r.created_by,
      |  CASE WHEN r.environment = 'dev' THEN FALSE ELSE r.is_active END AS is_active,
      |  r.base_name IN (SELECT base_name FROM diff) AS missing_in_dev,
      |  TRUE AS protected_delete_blocked
      |FROM reg1 r
      |ORDER BY database_name""".stripMargin

  /** S1 as a real DataSource V2 scan
    * ([[graft.sources.dsv2.ThetaCsvSource]]): read the CSV-endpoint
    * source through `spark.read.format(...)`, let the date filter
    * push into `planInputPartitions` (whole day-splits pruned before
    * any fetch — 7 of 10 survive), and aggregate daily bars. The
    * oracle regenerates the canned CSV arithmetically, including the
    * format('%.2f')→parse roundtrip the CSV path performs.
    */
  def dsv2EndpointScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bars = s.read.format("graft.sources.dsv2.ThetaCsvSource")
      .option("root", "SPY").option("start", "2024-01-02")
      .option("days", "10").load()
    bars.filter($"day" >= lit("2024-01-05").cast("date"))
      .groupBy($"day", $"root")
      .agg(
        count(lit(1)).as("n_bars"),
        firstBy($"open", $"ts").as("day_open"),
        max($"high").as("day_high"),
        min($"low").as("day_low"),
        lastBy($"close", $"ts").as("day_close"),
        sum($"volume").as("total_volume"))
      .orderBy($"day")
  }

  val dsv2EndpointScanSql: String =
    """WITH days AS (
      |  SELECT DATE '2024-01-02' + CAST(k.k AS INTEGER) AS day,
      |    CAST(DATE '2024-01-02' + CAST(k.k AS INTEGER) - DATE '1970-01-01' AS INTEGER) AS dn
      |  FROM (SELECT unnest(range(0, 10)) AS k) k
      |  WHERE DATE '2024-01-02' + CAST(k.k AS INTEGER) >= DATE '2024-01-05'),
      |bars AS (
      |  SELECT day, dn, h.h AS h,
      |    CAST(printf('%.2f', 100.0 + CAST(dn % 50 AS DOUBLE) + h.h * 0.25) AS DOUBLE) AS open,
      |    CAST(printf('%.2f', 100.0 + CAST(dn % 50 AS DOUBLE) + h.h * 0.25 + 0.8) AS DOUBLE) AS high,
      |    CAST(printf('%.2f', 100.0 + CAST(dn % 50 AS DOUBLE) + h.h * 0.25 - 0.6) AS DOUBLE) AS low,
      |    CAST(printf('%.2f', 100.0 + CAST(dn % 50 AS DOUBLE) + h.h * 0.25 + 0.3) AS DOUBLE) AS close,
      |    (dn % 1000) * 10 + h.h AS volume
      |  FROM days, (SELECT unnest(range(0, 13)) AS h) h)
      |SELECT day, 'SPY' AS root, COUNT(*) AS n_bars,
      |  MAX(CASE WHEN h = 0 THEN open END) AS day_open,
      |  MAX(high) AS day_high,
      |  MIN(low) AS day_low,
      |  MAX(CASE WHEN h = 12 THEN close END) AS day_close,
      |  CAST(SUM(volume) AS BIGINT) AS total_volume
      |FROM bars GROUP BY day, dn
      |ORDER BY day""".stripMargin

  /** q126: perceptual-hash image dedup — the MULTIMODAL member of the
    * near-dup family (q24 text MinHash, q26 SimHash, q34 embeddings):
    * every document is planted with an 8×8 bit-pattern PNG whose
    * pattern is arithmetic in `doc_id` (parity of bitCount of a
    * linear mix — doc-unique for all practical purposes), every 50th
    * doc also plants a NEAR-COPY with exactly two pattern bits
    * flipped; the batch stage decodes REAL pixels and computes the
    * 64-bit average-hash ([[MultimodalOps.imageAHash]]), and pairs
    * within Hamming ≤ 3 are found by q26's pigeonhole trick: the hash
    * splits into 4×16-bit chunks and d ≤ 3 forces at least one equal
    * chunk, so candidates come from a chunk EQUI-join (never an
    * all-pairs Hamming scan) and only candidates pay the exact
    * popcount verify. The planted copies (Hamming 2, chunks 2/3
    * untouched) are guaranteed hits; because the pattern PNG's aHash
    * is exactly its bit pattern, a DuckDB oracle predicts every hash,
    * candidate and verdict from the formula while the engine runs the
    * full decode→hash→join pipeline.
    *
    * Scale shape: decode+hash is one mapPartitions batch stage (the
    * q96 shape); the chunk join is equi-keyed with 16-bit-bounded
    * buckets; the verify is per-candidate O(1). At 100 TB the hash
    * table (8 bytes/image) is what you'd persist — image bytes are
    * touched exactly once.
    */
  def imageAHashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bitsOf(base: Long, copy: Boolean): Long = {
      var h = 0L
      var i = 0
      while (i < 63) {
        val b = java.lang.Long.bitCount((base + 1) * 2654435761L + i * 40503L) & 1
        val flip = if (copy && (i == 5 || i == 20)) 1 else 0
        if ((b ^ flip) == 1) h |= (1L << i)
        i += 1
      }
      h
    }
    val docs = Tables.loadSpread(s, dir, "documents").select($"doc_id")
    val hashed = docs.as[Long].mapPartitions { ids =>
      ids.flatMap { id =>
        val plants = Seq((id, bitsOf(id, copy = false))) ++
          (if (id % 50 == 0) Seq((id + 1000000L, bitsOf(id, copy = true)))
           else Seq.empty)
        plants.iterator.flatMap { case (mid, bits) =>
          // real decode: pattern PNG bytes → ImageIO → aHash
          MultimodalOps.imageAHash(MultimodalOps.syntheticPatternPng(bits))
            .map(h => (mid, h))
        }
      }
    }.toDF("media_id", "ahash")
    val chunked = hashed.select($"media_id", $"ahash",
        explode(array((0 until 4).map(c => struct(lit(c).as("c"),
          shiftright($"ahash", c * 16).bitwiseAND(lit(0xffffL)).as("ck"))): _*)).as("b"))
      .select($"media_id", $"ahash", $"b.c".as("c"), $"b.ck".as("ck"))
    val cand = chunked.select($"c", $"ck", $"media_id".as("i"), $"ahash".as("hi"))
      .join(chunked.select($"c", $"ck", $"media_id".as("j"), $"ahash".as("hj")),
        Seq("c", "ck"))
      .filter($"i" < $"j")
      .select($"i", $"j", $"hi", $"hj").distinct()
    cand.withColumn("hamming", expr("bit_count(hi ^ hj)").cast("long"))
      .filter($"hamming" <= 3)
      .select($"i", $"j", $"hamming")
      .orderBy($"i", $"j")
  }

  val imageAHashDedupSql: String =
    """WITH ids AS (
      |  SELECT doc_id AS media_id, doc_id AS base, FALSE AS cp FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, doc_id, TRUE FROM documents WHERE doc_id % 50 = 0),
      |hash AS MATERIALIZED (
      |  SELECT media_id,
      |    CAST(list_sum(list_transform(range(0, 63), i ->
      |      CASE WHEN (bit_count((base + 1) * 2654435761 + i * 40503) % 2 = 1)
      |                != (cp AND (i = 5 OR i = 20))
      |           THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
      |      AS ahash
      |  FROM ids),
      |chunks AS MATERIALIZED (
      |  SELECT media_id, ahash, c.range AS c, (ahash >> CAST(c.range * 16 AS INTEGER)) & 65535 AS ck
      |  FROM hash, range(0, 4) c),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS i, b.media_id AS j, a.ahash AS hi, b.ahash AS hj
      |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck
      |    AND a.media_id < b.media_id)
      |SELECT i, j, CAST(bit_count(xor(hi, hj)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(hi, hj)) <= 3
      |ORDER BY i, j""".stripMargin

  val defs: Map[String, Q] = Map(
    "q44_multimodal_features" -> (multimodalFeatures(_, _)),
    "q45_sql_surface" -> (sqlSurface(_, _)),
    "q65_catalog_lifecycle" -> (catalogLifecycle(_, _)),
    "q71_dsv2_endpoint_scan" -> (dsv2EndpointScan(_, _)),
    "q96_image_decode" -> (imageDecode(_, _)),
    "q101_audio_decode" -> (audioDecode(_, _)),
    "q117_video_decode" -> (videoDecode(_, _)),
    "q118_frame_sampled_decode" -> (frameSampledDecode(_, _)),
    "q126_image_ahash_dedup" -> (imageAHashDedup(_, _)))

  val oracles: Map[String, String] = Map(
    "q44_multimodal_features" -> multimodalFeaturesSql,
    "q45_sql_surface" -> sqlSurfaceText,
    "q65_catalog_lifecycle" -> catalogLifecycleSql,
    "q71_dsv2_endpoint_scan" -> dsv2EndpointScanSql,
    "q96_image_decode" -> imageDecodeSql,
    "q101_audio_decode" -> audioDecodeSql,
    "q117_video_decode" -> videoDecodeSql,
    "q118_frame_sampled_decode" -> frameSampledDecodeSql,
    "q126_image_ahash_dedup" -> imageAHashDedupSql)
}

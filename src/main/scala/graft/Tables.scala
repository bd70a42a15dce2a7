package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-parquet directory scans; the
  * API shape (dir + logical name) stays identical, so every operator in
  * this library is written against the loader, never a concrete path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir, None)
    else readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job.
    * Given no schema, Spark infers one with a Spark job that reads one
    * footer, even for a single file: that job was most of every
    * table load's cost. Here the driver reads the same footer itself
    * (row groups skipped) and converts it as that job does: the Spark
    * schema the writer stored in the footer when there is one, the
    * parquet schema converted under the session's SQL conf otherwise.
    * A directory is read through its first data file in path order,
    * skipping `_` and `.` names, the file Spark's non-merging
    * inference reads.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The Spark schema of the parquet file or directory at `path`. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // Spark's listing rule: `_` and `.` names are not data, except
    // `_k=v` partition directories
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def leaves(f: FileStatus): Seq[Path] =
      if (!f.isDirectory) Seq(f.getPath)
      else fs.listStatus(f.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .flatMap(leaves)
    val file = leaves(fs.getFileStatus(root)).minByOption(_.toString).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Schema-ADAPTIVE events loader. The testdata generator has shipped
    * `events.ts` as both parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as raw nanos via the legacy conf
    * and truncate to micros, the same truncation DuckDB applies casting
    * TIMESTAMP_NS to TIMESTAMP) and plain `timestamp[us]` (reads as
    * TIMESTAMP_NTZ — cast to the session-TZ type; sessions run UTC so
    * values are identical). The footer schema names the vintage, so
    * both load instead of hard-coding either.
    *
    * `range` (start inclusive, end exclusive) filters the column AS
    * SCANNED — before the conversion — so `PushedFilters:
    * [GreaterThanOrEqual(ts,...)]` lands in the parquet scan: a
    * raw-nanos BIGINT literal for the nanos vintage, a timestamp
    * literal otherwise. At 100 TB (date-partitioned events) this is the
    * difference between pruning at the source and scanning everything.
    */
  private def events(spark: SparkSession, dir: String,
      range: Option[(String, String)]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def norm(s: String) =
      s.replace("T", " ") + (if (s.length == 10) " 00:00:00" else "")
    val raw = readParquet(spark, s"$dir/events.parquet")
    // (a range bound as a literal of the scanned type, the ts conversion)
    val (bound, toLtz): (String => Column, Option[Column]) = raw.schema("ts").dataType match {
      case LongType => // nanos vintage
        (s => lit(java.sql.Timestamp.valueOf(norm(s)).getTime * 1000000L),
          Some(timestamp_micros(expr("ts div 1000"))))
      case TimestampNTZType =>
        (s => lit(norm(s)).cast(TimestampNTZType), Some(col("ts").cast(TimestampType)))
      case TimestampType => (s => lit(norm(s)).cast(TimestampType), None)
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected nanos-as-long or timestamp)")
    }
    val ranged = range.fold(raw) { case (lo, hi) =>
      raw.filter(col("ts") >= bound(lo) && col("ts") < bound(hi))
    }
    toLtz.fold(ranged)(ranged.withColumn("ts", _))
  }

  /** Events with `startInclusive <= ts < endExclusive`, the predicate
    * pushed into the parquet scan (see [[events]]).
    */
  def eventsInRange(spark: SparkSession, dir: String,
      startInclusive: String, endExclusive: String): DataFrame =
    events(spark, dir, Some((startInclusive, endExclusive)))

  /** Fail-fast guard against testdata drift: load every table and name
    * any column whose LOGICAL type is not what the operators were built
    * against. One log line here beats 39 queries dying at analysis —
    * the exact failure mode of the Aug-13 regeneration, where
    * `events.ts` silently changed parquet physical type. [[Verify]]
    * runs this before dumping queries.
    */
  def assertSchemas(spark: SparkSession, dir: String): Unit = {
    // Acceptable LOGICAL types per load-bearing column, post-loader.
    // Timestamp-ish columns accept NTZ or LTZ (both compare identically
    // under the UTC session); events.ts must be LTZ — that is the
    // loader's output contract regardless of the parquet vintage.
    val tsish: Set[DataType] = Set(TimestampType, TimestampNTZType, DateType)
    val expected: Map[String, Map[String, Set[DataType]]] = Map(
      "events" -> Map("ts" -> Set(TimestampType), "event_id" -> Set(LongType),
        "user_id" -> Set(LongType), "value" -> Set(DoubleType),
        "event_type" -> Set(StringType), "props" -> Set(StringType)),
      "documents" -> Map("doc_id" -> Set(LongType), "text" -> Set(StringType),
        "lang" -> Set(StringType), "source" -> Set(StringType)),
      "embeddings" -> Map("vec_id" -> Set(LongType),
        "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
        "label" -> Set(IntegerType)),
      "lineitem" -> Map("l_orderkey" -> Set(LongType),
        "l_quantity" -> Set(DoubleType), "l_shipdate" -> tsish),
      "orders" -> Map("o_orderkey" -> Set(LongType), "o_orderdate" -> tsish))
    val problems = expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      try {
        val schema = load(spark, dir, table).schema
        cols.flatMap { case (name, want) =>
          schema.fields.find(_.name == name) match {
            case None => Some(s"$table.$name: MISSING (have: ${schema.fieldNames.mkString(",")})")
            case Some(f) if !want(f.dataType) =>
              Some(s"$table.$name: expected one of ${want.mkString("/")}, got ${f.dataType}")
            case _ => None
          }
        }
      } catch { case e: Throwable =>
        Seq(s"$table: failed to load: ${e.getMessage}")
      }
    }
    if (problems.nonEmpty)
      sys.error("[schema-guard] testdata drift detected:\n  " + problems.mkString("\n  "))
  }

  /** Load and spread across [[SessionDefaults.computeWidth]] (the
    * configured shuffle width — a static conf, deliberately NOT the
    * registration-timing-dependent defaultParallelism). The test files
    * are single-row-group parquet (one scan task); compute-dense
    * pipelines (UDF kernels, pairwise similarity, regex) must
    * redistribute or they run single-threaded. On a cluster the same
    * call spreads a small dimension scan before a CPU-bound stage —
    * the standard pattern; I/O-bound queries skip it (the shuffle
    * isn't free).
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name).repartition(SessionDefaults.computeWidth(spark))

  /** Deploy-aware spread for compute that is dense only RELATIVE TO A
    * DEGENERATE SCAN WIDTH — the decimal moment aggregates of the
    * relational family (~100 ns/row: trivial at cluster scan
    * parallelism, but the toy single-row-group files serialize the
    * whole partial aggregate onto one core). In the `local` profile
    * this spreads like [[loadSpread]]; in the `cluster` profile it is
    * the plain scan — real tables split by row group, and a
    * round-robin of the raw rows before a partial-aggregable groupBy
    * would ADD a full-table shuffle to the 100 TB plan. Kernels that
    * are expensive per row at ANY width (text/similarity pipelines)
    * keep using [[loadSpread]] unconditionally.
    */
  def loadSpreadLocal(spark: SparkSession, dir: String, name: String,
      spread: Boolean = SessionDefaults.localProfile()): DataFrame =
    if (spread) loadSpread(spark, dir, name)
    else load(spark, dir, name)

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

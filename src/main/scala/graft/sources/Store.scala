package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Write-path operators (SURVEY §2.1 K2-K7) restated as pure
  * DataFrame rewrites. The reference does these as SQL side effects
  * against MySQL; on an immutable columnar store each becomes a
  * deterministic transform producing the table's next version —
  * the anti-join/merge pattern that replaces INSERT IGNORE / UPDATE /
  * DELETE at scale (and maps 1:1 onto Delta/Iceberg MERGE when a
  * transactional table format is available).
  */
object Store {

  /** K2 — INSERT-IGNORE upsert (SQLHelpers.py:651-687): rows of
    * `incoming` whose key is absent from `existing`, appended. The
    * left_anti join is the temp-table INSERT IGNORE without the temp
    * table; broadcastable when incoming is small.
    */
  def insertIgnore(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(
      incoming.join(existing.select(keys.map(col): _*).dropDuplicates(keys),
        keys, "left_anti"))

  /** K3 — dynamic batch UPDATE (SQLHelpers.py:689-776): SET
    * `assignments` on rows matching `condition`. Returns the rewritten
    * table; `matchCount` mirrors the reference's pre-count report.
    */
  def batchUpdate(target: DataFrame, condition: Column,
      assignments: Map[String, Column]): DataFrame =
    assignments.foldLeft(target) { case (d, (c, v)) =>
      d.withColumn(c, when(condition, v).otherwise(col(c)))
    }

  /** K4 — filtered DELETE (SQLHelpers.py:251-358): AND-combined
    * equality/IN filters; keep the complement.
    */
  def filteredDelete(target: DataFrame, condition: Column): DataFrame =
    target.filter(!coalesce(condition, lit(false)))

  /** Physical layout for bar/event tables at scale (SURVEY §4):
    * parquet partitioned by (key, date), rows sorted by timestamp
    * within files. Readers filtering on (key, date) prune whole
    * directories before any I/O; the within-file sort gives min/max
    * row-group statistics on the timestamp for fine-grained skipping.
    */
  def writePartitionedBars(df: DataFrame, path: String, keyCol: String,
      tsCol: String): Unit =
    df.withColumn("date", to_date(col(tsCol)))
      .repartition(col(keyCol), col("date"))
      .sortWithinPartitions(col(keyCol), col(tsCol))
      .write.partitionBy(keyCol, "date").mode("overwrite").parquet(path)

  /** Z-order clustered write — the two-dimensional pruning layout:
    * rows range-partition and sort on the interleaved-bit
    * [[graft.operators.CoreOps.zOrderKey]] of two range-reduced
    * dimensions, so every output file covers a small rectangle of the
    * (a, b) plane and a `a range × b range` scan prunes via parquet
    * min/max stats on BOTH columns — where a single-column sort prunes
    * only its own column. The key is dropped before writing; the
    * layout is the product. StoreSpec measures the rectangle property
    * directly from the written footers.
    */
  def writeZClustered(df: DataFrame, path: String, aCol: String,
      bCol: String, files: Int): Unit =
    df.withColumn("__z",
        graft.operators.CoreOps.zOrderKey(col(aCol), col(bCol)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Bucketed table write — the co-located-join layout: both sides of
    * a recurring fact-fact join written with `bucketBy(n, key)` +
    * within-bucket sort hash-place rows so the join needs NO exchange
    * at read time (SortMergeJoin consumes the bucket layout directly).
    * At 100 TB this converts the join's full-data shuffle — typically
    * the single largest stage — into a metadata property of the
    * layout, paid once at write. Bucket counts must match on both
    * sides; `StoreSpec` asserts the exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format("parquet").saveAsTable(table)

  /** S6 — JDBC scan (SQLHelpers.py:408-445 `query_database` /
    * `pd.read_sql`): `spark.read.jdbc` over any JDBC url. With
    * `partition` = (column, lower, upper, n) the scan splits into n
    * range-predicate queries executed as parallel tasks — the scale
    * path a single-connection `read_sql` lacks. Filters and column
    * pruning push into the remote engine via the JDBC relation.
    */
  def jdbcScan(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String,
      partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val props = new java.util.Properties()
    partition match {
      case Some((col, lo, hi, n)) =>
        spark.read.jdbc(url, table, col, lo, hi, n, props)
      case None => spark.read.jdbc(url, table, props)
    }
  }

  /** S6/K1 write side — append a DataFrame through JDBC (the
    * `to_sql(if_exists='append')` shape of SQLHelpers.py:361-367).
    */
  def jdbcAppend(df: DataFrame, url: String, table: String): Unit =
    df.write.mode("append").jdbc(url, table, new java.util.Properties())

  /** K5 — truncate (SQLHelpers.py:225-248 `clear_table_data`): the
    * table's next version is its empty self, schema preserved. The
    * reference's autoincrement reset has no analog — identity comes
    * from data, not storage, on a columnar table.
    */
  def truncate(df: DataFrame): DataFrame = df.filter(lit(false))

  /** K7 — pre-save filter (SQLHelpers.py:894-924 `__filter_data`):
    * lowercase column names, drop rows that are entirely null, drop
    * full-row duplicates, drop repeated column names (keep first).
    */
  def presaveFilter(df: DataFrame): DataFrame = {
    val lowered = df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val keepIdx = lowered.columns.zipWithIndex.collect {
      case (c, i) if seen.add(c) => i
    }
    val uniqueCols = keepIdx.map(i => lowered.columns(i))
    val pruned = lowered.toDF(
      lowered.columns.toIndexedSeq.zipWithIndex.map { case (c, i) => s"${c}__$i" }: _*)
      .select(keepIdx.map(i => col(s"${lowered.columns(i)}__$i").as(lowered.columns(i))).toSeq: _*)
    val notAllNull = uniqueCols.map(c => col(c).isNotNull)
      .reduceOption(_ || _).getOrElse(lit(true))
    pruned.filter(notAllNull).dropDuplicates()
  }

  /** C3 — one column of the reference's dict-driven DDL
    * (SQLHelpers.py:560-646 `create_table_from_schema`): name, type
    * name, optional String length / Enum value domain, nullability,
    * primary-key flag.
    */
  final case class ColumnSpec(
      name: String, tpe: String, length: Option[Int] = None,
      values: Option[Seq[String]] = None, nullable: Boolean = true,
      primaryKey: Boolean = false)

  /** C3 — column-spec list → StructType, mirroring the reference's
    * type map and its validation errors (String requires `length`,
    * Enum requires `values`, unknown types raise —
    * SQLHelpers.py:599-626). Spark has no CHECK constraints, so the
    * Enum value domain and the String length land in column METADATA
    * (`enumValues` / `maxLength`, with `primaryKey` for the PK
    * constraint the reference appends) and
    * [[assertEnumDomains]] is the engine-side enforcement — the
    * pre-write validation scan a MERGE pipeline runs where MySQL
    * would reject the INSERT.
    */
  def buildSchema(cols: Seq[ColumnSpec]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(cols.map { c =>
      val mb = new MetadataBuilder()
      if (c.primaryKey) mb.putBoolean("primaryKey", true)
      val dt: DataType = c.tpe match {
        case "Integer" => IntegerType
        case "String" =>
          val len = c.length.getOrElse(throw new IllegalArgumentException(
            s"Length must be specified for String type column: ${c.name}"))
          mb.putLong("maxLength", len.toLong)
          StringType
        case "Date" => DateType
        case "Float" => DoubleType // SQLAlchemy Float is double-width
        case "Boolean" => BooleanType
        case "Enum" =>
          val vs = c.values.filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"Values must be specified for Enum type column: ${c.name}"))
          mb.putStringArray("enumValues", vs.toArray)
          StringType
        case "Time" => StringType // HH:MM:SS; Spark has no TIME type
        case "DateTime" | "Timestamp" => TimestampType
        case other =>
          throw new IllegalArgumentException(s"Unsupported column type: $other")
      }
      StructField(c.name, dt, nullable = c.nullable, metadata = mb.build())
    })
  }

  /** Rows violating any Enum column's value domain declared by
    * [[buildSchema]]: one output row per (column, offending value)
    * with its count — the CHECK-constraint report. NULLs are judged
    * by the field's nullability, not the domain (SQL CHECK semantics:
    * NULL passes the domain check; the NOT NULL constraint owns it).
    * One scan per enum column over only that column — a pre-write
    * validation pass that parallelizes like any columnar filter.
    */
  def enumViolations(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val checks = schema.fields.filter(_.metadata.contains("enumValues")).map { f =>
      val domain = f.metadata.getStringArray("enumValues")
      df.filter(col(f.name).isNotNull && !col(f.name).isin(domain.toIndexedSeq: _*))
        .groupBy(col(f.name).cast("string").as("value"))
        .agg(count(lit(1)).as("n"))
        .select(lit(f.name).as("column"), $"value", $"n")
    }
    checks.reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String, Long)].toDF("column", "value", "n"))
  }

  /** Throws if `df` violates any Enum domain in `schema`, naming every
    * (column, value, count) — the INSERT-time rejection MySQL's ENUM
    * gives the reference for free.
    */
  def assertEnumDomains(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val bad = enumViolations(df, schema).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      "Enum domain violations: " + bad.map(r =>
        s"${r.getString(0)}='${r.getString(1)}' x${r.getLong(2)}").mkString(", "))
  }
}

/** S7 — paginated REST accumulation (Alpaca.py:486-517
  * `get_option_chain_all`, 553-583 `get_option_contracts_all`):
  * follow the next-page token until exhausted, accumulating pages.
  * The token walk is driver-side control flow — exactly as in the
  * reference — but each page's DATA is a DataFrame, so the
  * accumulated result stays distributed and downstream operators
  * plan over the union.
  */
object PaginatedSource {

  /** `fetch(None)` returns the first page; `fetch(Some(token))` the
    * next. Pages union by name; `maxPages` guards a server that never
    * ends the walk (the reference loops unbounded — its failure mode).
    */
  def paginatedScan(fetch: Option[String] => (DataFrame, Option[String]),
      maxPages: Int = 10000): DataFrame = {
    @annotation.tailrec
    def loop(token: Option[String], acc: DataFrame, pages: Int): DataFrame =
      token match {
        case None => acc
        case Some(_) =>
          if (pages >= maxPages)
            throw new IllegalStateException(
              s"pagination exceeded $maxPages pages — non-terminating token walk?")
          val (page, next) = fetch(token)
          loop(next, acc.unionByName(page), pages + 1)
      }
    val (first, next) = fetch(None)
    loop(next, first, 1)
  }
}

/** Environment-aware logical→physical catalog (SURVEY §2.8 R7 +
  * §2.11; reference db_utils.py:40-164, db_management.py).
  *
  * The registry (`database_configs` fixture schema, FIXTURES.md §3) is
  * metadata: a few rows per database, which the reference reads whole.
  * The catalog reads it the same way, with at most one `collect` per
  * instance, and every registry verb is plain Scala over those driver
  * rows. A verb that returns the next registry version returns it as a
  * local frame of the registry's schema, so a catalog built over it runs
  * no job. Kept as a lazy plan instead, each mutation nested the previous
  * one (INSERT IGNORE reads its target twice) and three verbs collected
  * the result anyway: q65's final plan scanned `nation` 11 times.
  *
  * Resolution mirrors the reference: `master_config` is never
  * environment-suffixed, prod resolves to the base name, and anything
  * else to the smallest active `database_name` of its (environment,
  * base) rows. A null `is_active` or `environment` counts as inactive;
  * names compare as in SQL, so a null matches nothing. Lifecycle verbs
  * (clone C5 / sync C7 / protected delete C8) act on the Spark session
  * catalog plus the registry.
  *
  * `protectedEnvs` mirrors `DB_PROTECTED_ENVIRONMENTS`
  * (db_management.py:59-107): environments that refuse deletion.
  */
final class EnvCatalog(registry: DataFrame,
    protectedEnvs: Seq[String] = Seq.empty) {

  private lazy val rows: Vector[Row] = registry.collect().toVector
  private def ix(c: String): Int = registry.schema.fieldIndex(c)
  private def str(r: Row, c: String): String = r.getString(ix(c))
  private def is(r: Row, c: String, v: String): Boolean = v != null && v == str(r, c)
  private def live(r: Row, env: String): Boolean =
    r.get(ix("is_active")) == true && is(r, "environment", env)
  private def inactive(r: Row): Row = Row.fromSeq(r.toSeq.updated(ix("is_active"), false))
  private def frame(rs: Seq[Row], of: DataFrame = registry): DataFrame =
    registry.sparkSession.createDataFrame(rs.asJava, of.schema)

  /** R7 — resolve a logical base name in an environment. */
  def resolve(baseName: String, environment: String): Option[String] =
    if (baseName == "master_config" || environment == "prod") Some(baseName)
    else rows.filter(r => live(r, environment) && is(r, "base_name", baseName))
      .map(str(_, "database_name"))
      .minByOption(Option(_).map(UTF8String.fromString)) // Spark's order, nulls first

  /** Base names of `source`'s active rows, one per row, absent from
    * `target`'s active rows (a null base is never present).
    */
  private def missingBases(source: String, target: String): Vector[String] = {
    val have = rows.filter(live(_, target)).map(str(_, "base_name")).toSet
    rows.filter(live(_, source)).map(str(_, "base_name"))
      .filter(b => b == null || !have(b))
  }

  /** C6 — environment diff (db_management.py:186-228): active base
    * names present in `source` but missing from `target`.
    */
  def diffEnvironments(source: String, target: String): DataFrame =
    frame(missingBases(source, target).map(Row(_)), registry.select("base_name"))

  /** C9 — register / soft-delete lifecycle as registry rewrites;
    * registering a name already present leaves the rows as they are
    * (INSERT IGNORE).
    */
  private def registered(rs: Vector[Row], databaseName: String, baseName: String,
      environment: String, createdBy: String): Vector[Row] =
    if (rs.exists(is(_, "database_name", databaseName))) rs
    else rs :+ Row.fromSeq(registry.schema.fieldNames.toSeq.map(Map(
      "database_name" -> databaseName, "base_name" -> baseName,
      "environment" -> environment, "branch_name" -> null,
      "created_by" -> createdBy, "is_active" -> true)))

  def register(databaseName: String, baseName: String, environment: String,
      createdBy: String): DataFrame =
    frame(registered(rows, databaseName, baseName, environment, createdBy))

  def softDelete(databaseName: String): DataFrame =
    frame(rows.map(r => if (is(r, "database_name", databaseName)) inactive(r) else r))

  /** Persistent tables of a database — listTables also returns the
    * session's temp views, which are not part of any database's
    * schema and must not be cloned/synced.
    */
  private def persistentTables(db: String): Seq[String] = {
    val spark = registry.sparkSession
    spark.catalog.listTables(db).collect()
      .filterNot(_.isTemporary).map(_.name).toSeq.sorted
  }

  /** C5 — clone a database's schema (optionally data) into a new
    * database (db_management.py:349-509). The mysqldump/restore round
    * trip becomes `CREATE TABLE ... LIKE` per table (CTAS when
    * `withData`); the source is never dropped. Returns cloned table
    * names.
    */
  def cloneSchema(sourceDb: String, targetDb: String,
      withData: Boolean = false): Seq[String] = {
    EnvCatalog.validateName(sourceDb)
    EnvCatalog.validateName(targetDb)
    val spark = registry.sparkSession
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$targetDb`")
    val tables = persistentTables(sourceDb)
    tables.foreach { t =>
      if (withData)
        spark.sql(s"CREATE TABLE IF NOT EXISTS `$targetDb`.`$t` AS SELECT * FROM `$sourceDb`.`$t`")
      else
        spark.sql(s"CREATE TABLE IF NOT EXISTS `$targetDb`.`$t` LIKE `$sourceDb`.`$t`")
    }
    tables
  }

  /** C7 (table level) — create tables present in `sourceDb` but
    * missing from `targetDb` (db_management.py:817-862: CREATE TABLE
    * IF NOT EXISTS ... LIKE, INSERT INTO ... SELECT when `copyData`).
    * Dry-run by default, like the reference: `apply = false` only
    * reports the plan.
    */
  def syncMissingTables(sourceDb: String, targetDb: String,
      copyData: Boolean = false, apply: Boolean = false): EnvCatalog.SyncResult = {
    EnvCatalog.validateName(sourceDb)
    EnvCatalog.validateName(targetDb)
    val spark = registry.sparkSession
    val have = persistentTables(targetDb).toSet
    val missing = persistentTables(sourceDb).filterNot(have)
    if (apply) missing.foreach { t =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS `$targetDb`.`$t` LIKE `$sourceDb`.`$t`")
      if (copyData)
        spark.sql(s"INSERT INTO `$targetDb`.`$t` SELECT * FROM `$sourceDb`.`$t`")
    }
    EnvCatalog.SyncResult(missing, dryRun = !apply)
  }

  /** C7 (environment level) — create in `target` the databases whose
    * base exists in `source` but not in `target`
    * (db_management.py:771-814): clone schema, register
    * `<base>_<target>`. Dry-run by default. Returns the next registry
    * plus the (base → created db) plan.
    */
  def syncEnvironments(source: String, target: String,
      apply: Boolean = false): (DataFrame, Seq[(String, String)]) = {
    EnvCatalog.validateName(source)
    EnvCatalog.validateName(target)
    // one clone per missing base, from the database `resolve` picks
    val missing = missingBases(source, target).filter(_ != null).distinct.sorted
      .flatMap(b => resolve(b, source).map(b -> _))
    val plan = missing.map { case (base, _) => base -> s"${base}_$target" }
    if (!apply) return (registry, plan)
    val next = missing.foldLeft(rows) { case (rs, (base, sourceDb)) =>
      val targetDb = s"${base}_$target"
      cloneSchema(sourceDb, targetDb)
      registered(rs, targetDb, base, target, "sync")
    }
    (frame(next), plan)
  }

  /** C8 — delete every database of the given environments
    * (db_management.py:682-768): refuse protected environments, DROP
    * each active database, soft-delete its registry row (audit
    * trail); inactive rows stay as they are. Returns the next registry.
    */
  def deleteEnvironment(environments: Seq[String]): DataFrame = {
    environments.foreach(EnvCatalog.validateName)
    val blocked = environments.filter(protectedEnvs.contains)
    if (blocked.nonEmpty)
      throw new IllegalArgumentException(
        s"Cannot delete protected environment(s): ${blocked.mkString(", ")}")
    def doomed(r: Row) = environments.exists(live(r, _))
    rows.filter(doomed).foreach(r => registry.sparkSession.sql(
      s"DROP DATABASE IF EXISTS `${str(r, "database_name")}` CASCADE"))
    frame(rows.map(r => if (doomed(r)) inactive(r) else r))
  }
}

object EnvCatalog {

  final case class SyncResult(missing: Seq[String], dryRun: Boolean)

  /** P7 — identifier whitelist (db_management.py:35-56
    * `validate_database_input`): non-empty, alphanumeric plus
    * underscore/hyphen only; everything else (quotes, semicolons,
    * backticks, whitespace, comment tokens) is rejected by the
    * whitelist itself.
    */
  private val dangerousTokens =
    Seq("'", "\"", ";", "--", "/*", "*/", "`", "\n", "\r")

  def validateName(value: String): String = {
    if (value == null || value.isEmpty)
      throw new IllegalArgumentException("Value must be a non-empty string")
    dangerousTokens.find(value.contains(_)).foreach { tok =>
      throw new IllegalArgumentException(
        s"Value contains invalid character: $tok")
    }
    if (!value.matches("^[a-zA-Z0-9_-]+$"))
      throw new IllegalArgumentException(
        "Value must contain only alphanumeric characters, underscores, or hyphens")
    value
  }

  /** Protected-environment list from a raw config string
    * (db_management.py:59-107): comma-separated names, trimmed,
    * validated, de-duplicated; empty/absent means nothing protected.
    */
  def parseProtectedEnvironments(raw: String): Seq[String] = {
    if (raw == null || raw.trim.isEmpty) Seq.empty
    else raw.split(",").map(_.trim).filter(_.nonEmpty)
      .map(validateName).distinct.toSeq
  }
}

package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans._
import org.apache.spark.unsafe.types.UTF8String

class NativeExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("simhash64: identical token sets hash identically; near sets are close") {
    val docs = Seq(
      (1L, "spark join shuffle partition agg window"),
      (2L, "spark join shuffle partition agg window"),
      (3L, "spark join shuffle partition agg filter"), // one token differs
      (4L, "entirely different words about cooking pasta tonight")
    ).toDF("id", "text")
    val out = docs
      .select($"id", NativeFunctions.simhash64(split($"text", " ")).as("h"))
      .orderBy("id").as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(out(1L), out(3L)) < hamming(out(1L), out(4L)))
    assert(hamming(out(1L), out(3L)) <= 16)
  }

  test("simhash64 codegen result equals interpreted kernel") {
    val tokens = Seq("alpha", "beta", "gamma")
    val viaSpark = Seq(Tuple1(tokens)).toDF("t")
      .select(NativeFunctions.simhash64($"t")).as[Long].head()
    val direct = Kernels.simhash(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tokens.map(UTF8String.fromString).toArray))
    assert(viaSpark == direct)
  }

  // The kernel contract table: every native kernel over seeded inputs
  // shaped like the benchmark's, all input columns nullable.
  private object Contract {
    val PqM = 8; val PqKs = 16; val PqD = 8
    val fields: Seq[(String, DataType)] = Seq(
      "words" -> ArrayType(StringType, containsNull = false),
      "words2" -> ArrayType(StringType, containsNull = false),
      "text" -> StringType,
      "vec" -> ArrayType(FloatType, containsNull = false),
      "lvec" -> ArrayType(LongType, containsNull = false),
      "lvec2" -> ArrayType(LongType, containsNull = false),
      "day" -> DateType,
      "codes" -> ArrayType(IntegerType, containsNull = false),
      "dt" -> ArrayType(LongType, containsNull = false),
      "nsq" -> LongType)
    def c(name: String): Expression = {
      val i = fields.indexWhere(_._1 == name)
      BoundReference(i, fields(i)._2, nullable = true)
    }
    val vocab: Array[String] =
      "spark window merge join filter hash sort the a scan batch row".split(" ")
    private val rnd = new scala.util.Random(23)
    private def longs(n: Int, bound: Int): Array[Long] =
      Array.fill(n)(rnd.nextInt(2 * bound + 1).toLong - bound)
    private def strings(ws: Array[String]) =
      new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any))

    /** 40 seeded rows in the unsafe format a scan produces, then one
      * row whose every column is null.
      */
    val rows: Seq[InternalRow] = {
      val toUnsafe = UnsafeProjection.create(fields.map(f => c(f._1)))
      Seq.fill(40) {
        val w = Array.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
        val w2 = w.map(x => if (rnd.nextInt(4) == 0) vocab(rnd.nextInt(vocab.length)) else x)
        val v = longs(64, 100000)
        toUnsafe(InternalRow(strings(w), strings(w2), UTF8String.fromString(w.mkString(" ")),
          UnsafeArrayData.fromPrimitiveArray(v.map(x => x / 1e6f)),
          UnsafeArrayData.fromPrimitiveArray(v),
          UnsafeArrayData.fromPrimitiveArray(longs(64, 100000)),
          19723 + rnd.nextInt(365),
          UnsafeArrayData.fromPrimitiveArray(Array.fill(PqM)(1 + rnd.nextInt(PqKs))),
          UnsafeArrayData.fromPrimitiveArray(Array.fill(PqM * PqKs)(rnd.nextInt(1000).toLong)),
          v.map(x => x * x).sum)).copy()
      } :+ InternalRow.fromSeq(fields.map(_ => null))
    }

    val book: Array[Long] = longs(PqM * PqKs * PqD, 100000)
    val kernels: Seq[Expression] = Seq(
      SimHash64(c("words")),
      TradingDayRoll(c("day"), Array(19723, 19908, 20082)),
      IntDotProduct(c("lvec"), c("lvec2")),
      RhpSignature(c("lvec"), longs(16 * 64, 1), 64),
      ByteEntropy(c("text")),
      HashedBagScore(c("text"), Seq.fill(1024)(rnd.nextGaussian()), 0.1),
      HashedBagEmbed(c("text"), Seq.fill(256 * 8)(rnd.nextGaussian()), 8),
      RollingHash64(c("text")),
      Shingles(c("words"), 3),
      MinHashes(c("words"), 0, 4),
      WinnowSelect(c("words"), 3, 4),
      QuantizeVec(c("vec"), 1e6),
      IntSqDist(c("lvec"), c("lvec2")),
      PqEncode(c("lvec"), book, PqM, PqD, PqKs),
      PqAdcTable(c("lvec"), book, PqM, PqD, PqKs),
      PqAdcScore(c("dt"), c("codes"), PqKs),
      LongVecSub(c("lvec"), c("lvec2")),
      PqEncodeResid(c("lvec"), c("lvec2"), book, PqM, PqD, PqKs),
      PqAdcTableResid(c("lvec"), c("lvec2"), book, PqM, PqD, PqKs),
      IvfNearestIdx(c("lvec"), longs(16 * 64, 100000), 64),
      Bigrams(c("words")),
      GramsWithPos(c("words"), 3),
      TermCounts(c("words"), Array("spark", "join", "hash")),
      EqCount(c("words"), c("words2")),
      RenormQuantize(c("lvec"), c("nsq")),
      WordChunks(c("words"), 16))
  }

  test("every kernel: generated code equals eval, null input gives null, no CodegenFallback") {
    assert(Contract.kernels.map(_.getClass).distinct.size == 26)
    for (k <- Contract.kernels) {
      val name = k.getClass.getSimpleName
      assert(!k.isInstanceOf[CodegenFallback], name)
      val proj = GenerateUnsafeProjection.generate(Seq(k))
      for ((row, i) <- Contract.rows.zipWithIndex) {
        val generated = CatalystTypeConverters.convertToScala(proj(row).get(0, k.dataType), k.dataType)
        val evaluated = CatalystTypeConverters.convertToScala(k.eval(row), k.dataType)
        assert(generated == evaluated, s"$name row $i")
      }
      val nullRow = Contract.rows.last
      assert(proj(nullRow).isNullAt(0) && k.eval(nullRow) == null, s"$name on null input")
    }
  }

  test("array-parameter kernels compare their arrays by content") {
    import Contract.c
    def longs(bump: Boolean): Array[Long] = Array.tabulate(128)(i => if (bump && i == 2) 7L else i.toLong)
    val kernels: Seq[Boolean => Expression] = Seq(
      b => TradingDayRoll(c("day"), longs(b).take(4).map(_.toInt)),
      b => RhpSignature(c("lvec"), longs(b), 64),
      b => PqEncode(c("lvec"), longs(b), 2, 4, 16),
      b => PqAdcTable(c("lvec"), longs(b), 2, 4, 16),
      b => PqEncodeResid(c("lvec"), c("lvec2"), longs(b), 2, 4, 16),
      b => PqAdcTableResid(c("lvec"), c("lvec2"), longs(b), 2, 4, 16),
      b => IvfNearestIdx(c("lvec"), longs(b), 64),
      b => TermCounts(c("words"), Array("spark", if (b) "hash" else "join")))
    for (build <- kernels) {
      val (x, y, z) = (build(false), build(false), build(true))
      val name = x.getClass.getSimpleName
      assert(x == y && x.hashCode == y.hashCode && x.semanticEquals(y), name)
      assert(x != z && !x.semanticEquals(z), name)
    }
  }

  test("rolling_hash64 distinguishes order (unlike a bag hash)") {
    val out = Seq(("ab cd", "cd ab"), ("same", "same"))
      .toDF("a", "b")
      .select(
        NativeFunctions.rollingHash64($"a").as("ha"),
        NativeFunctions.rollingHash64($"b").as("hb"))
      .collect()
    assert(out(0).getLong(0) != out(0).getLong(1))
    assert(out(1).getLong(0) == out(1).getLong(1))
  }

  test("functions are SQL-registered and usable from spark.sql") {
    val r = spark.sql(
      "SELECT simhash64(array('x','y')) AS s, rolling_hash64('xy') AS r").head()
    assert(r.getLong(0) == Kernels.simhash(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(UTF8String.fromString("x"), UTF8String.fromString("y")))))
    assert(r.getLong(1) == Kernels.rollingHash(UTF8String.fromString("xy")))
  }

  test("null safety") {
    val r = Seq(Tuple1(Option.empty[String])).toDF("t")
      .select(NativeFunctions.rollingHash64($"t")).collect()
    assert(r(0).isNullAt(0))
  }

  test("trading_day_roll: weekends and holidays roll forward") {
    val holidays = Seq("2024-01-01", "2024-01-15")
    val out = Seq(
      "2024-01-01", // Mon holiday -> Tue Jan 2
      "2024-01-02", // Tue         -> itself
      "2024-01-06", // Sat         -> Mon Jan 8
      "2024-01-13", // Sat, Mon 15 holiday -> Tue Jan 16
      "2024-01-15"  // Mon holiday -> Tue Jan 16
    ).toDF("d")
      .select(NativeFunctions.tradingDayRoll(to_date($"d"), holidays).as("r"))
      .collect().map(_.getDate(0).toString).toSeq
    assert(out == Seq("2024-01-02", "2024-01-02", "2024-01-08",
      "2024-01-16", "2024-01-16"))
  }

  test("busRange via trading_day_roll equals the anti-join formulation") {
    val holidays = Seq("2024-01-01", "2024-01-15")
    val viaExpr = graft.operators.CalendarOps
      .busRange(spark, "2024-01-01", "2024-01-31", holidays)
    val viaJoin = {
      val days = spark.range(1)
        .select(explode(sequence(
          lit(java.sql.Date.valueOf("2024-01-01")),
          lit(java.sql.Date.valueOf("2024-01-31")),
          expr("interval 1 day"))).as("day"))
        .filter(graft.operators.CalendarOps.isWeekday($"day"))
      val hol = holidays.toDF("holiday").select(to_date($"holiday").as("day"))
      days.join(broadcast(hol), Seq("day"), "left_anti")
    }
    assert(viaExpr.except(viaJoin).count() == 0)
    assert(viaJoin.except(viaExpr).count() == 0)
    // the plan carries the holiday set inside the expression: no join
    val p = viaExpr.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(300))
  }

  test("trading_day_roll and bounded_top_k are SQL-registered") {
    val r = spark.sql(
      """SELECT trading_day_roll(DATE '2024-01-06', array('2024-01-08')) AS d""").head()
    assert(r.getDate(0).toString == "2024-01-09") // Sat -> Mon(holiday) -> Tue
    val topk = spark.sql(
      """SELECT g, bounded_top_k(struct(v, id), 2) AS t
        |FROM VALUES (0, 5L, 1L), (0, 3L, 2L), (0, 9L, 3L), (1, 1L, 4L)
        |  AS tbl(g, v, id)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(topk(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(2L, 1L))
    assert(topk(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(4L))
  }

  test("SQL desc/nulls flags reach bounded_top_k and bounded_rank_top_k") {
    // bounded_top_k(struct, k, descFlags): v desc → 9, 5 lead
    val desc = spark.sql(
      """SELECT bounded_top_k(struct(v, id), 2, array(true)) AS t
        |FROM VALUES (5L, 1L), (3L, 2L), (9L, 3L) AS tbl(v, id)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(desc.map(_.getLong(0)) == Seq(9L, 5L))
    // nullsLastFlags overrides asc's NULLS FIRST default: the null v
    // sorts behind both values instead of leading
    val nl = spark.sql(
      """SELECT bounded_top_k(struct(v, id), 2, array(false), array(true)) AS t
        |FROM VALUES (5L, 1L), (CAST(NULL AS BIGINT), 2L), (9L, 3L) AS tbl(v, id)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(nl.map(_.getLong(1)) == Seq(1L, 3L))
    // bounded_rank_top_k(struct, k, keyCount, dense, descFlags): ties
    // on the desc key share rank 1
    val rank = spark.sql(
      """SELECT bounded_rank_top_k(struct(v, id), 1, 1, false, array(true)) AS t
        |FROM VALUES (9L, 1L), (9L, 2L), (3L, 3L) AS tbl(v, id)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(rank.map(r => (r.getInt(0), r.getLong(1))) == Seq((1, 9L), (1, 9L)))
    assert(rank.map(_.getLong(2)).toSet == Set(1L, 2L))
  }

  test("SQL flag arrays reject non-boolean elements and null slots") {
    // array(1, 0) would be byte-reinterpreted as booleans by a naive
    // ArrayData.getBoolean read; must raise instead
    val intArr = intercept[Exception] {
      spark.sql(
        """SELECT bounded_top_k(struct(v, id), 2, array(1, 0)) AS t
          |FROM VALUES (5L, 1L) AS tbl(v, id)""".stripMargin).collect()
    }
    assert(intArr.getMessage.contains("array of non-null booleans"))
    // a null slot would silently read as false (ascending)
    val nullSlot = intercept[Exception] {
      spark.sql(
        """SELECT bounded_top_k(struct(v, id), 2,
          |  array(true, CAST(NULL AS BOOLEAN))) AS t
          |FROM VALUES (5L, 1L) AS tbl(v, id)""".stripMargin).collect()
    }
    assert(nullSlot.getMessage.contains("array of non-null booleans"))
    // same guard on the rank surface
    val rankBad = intercept[Exception] {
      spark.sql(
        """SELECT bounded_rank_top_k(struct(v, id), 1, 1, false, array(1)) AS t
          |FROM VALUES (9L, 1L) AS tbl(v, id)""".stripMargin).collect()
    }
    assert(rankBad.getMessage.contains("array of non-null booleans"))
  }

  test("int_dot matches the higher-order formulation on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextLong() % 1000000L),
        Seq.fill(64)(rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select($"id",
      graft.functions.VectorOps.intDot($"a", $"b").as("native"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof"))
    assert(out.filter($"native" =!= $"hof").count() == 0)
  }

  test("int_dot null contract mirrors aggregate(zip_with): mismatch/null-element -> NULL") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),
      (2L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)), // length mismatch
      (3L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)) // null element
    ).toDF("id", "a", "b")
    val out = df.select($"id",
      graft.functions.VectorOps.intDot($"a", $"b").as("d"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 11L)
    assert(out(1).isNullAt(1) && out(2).isNullAt(1))
    // top-level null array -> null
    val nullArr = df.select(graft.functions.VectorOps.intDot(
      lit(null).cast("array<bigint>"), $"b").as("d")).collect()
    assert(nullArr.forall(_.isNullAt(0)))
  }

  test("rhp_signature matches the per-plane when-chain formulation, incl. degenerate dims") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 100).map(i => (i.toLong, Seq.fill(64)(rnd.nextLong() % 1000000L))) :+
      (101L, Seq.fill(32)(rnd.nextLong() % 1000000L)) // non-64-dim -> all-'0' bits
    val df = rows.toDF("id", "q")
    // reference formulation: per-plane interpreted aggregate + when
    val md = java.security.MessageDigest.getInstance("MD5")
    val offset = 3
    val nPlanes = 8
    val bits = (offset until offset + nPlanes).map { p =>
      val signs = (0 until 64).map { i =>
        val h = md.digest(s"$p:$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1L else -1L
      }
      val signedSum = aggregate(zip_with($"q", array(signs.map(lit): _*),
        (x, sgn) => x * sgn), lit(0L), (acc, v) => acc + v)
      when(signedSum >= 0, lit("1")).otherwise(lit("0"))
    }
    val out = df.select($"id",
      graft.functions.VectorOps.rhpSignature($"q", nPlanes, offset).as("native"),
      concat(bits: _*).as("hof"))
    assert(out.filter($"native" =!= $"hof").count() == 0)
    assert(out.filter($"id" === 101L).select($"native").head().getString(0)
      == "0" * nPlanes)
  }

  test("int_dot and rhp_signature generate code (no interpreted fallback)") {
    // non-literal input: a local relation would fold at plan time
    val df = spark.range(4)
      .select(transform(sequence(lit(1L), lit(64L)), x => x + $"id").as("a"),
        transform(sequence(lit(1L), lit(64L)), x => x * 2L).as("b"))
      .select(graft.functions.VectorOps.intDot($"a", $"b").as("d"),
        graft.functions.VectorOps.rhpSignature($"a", 4).as("sig"))
    df.collect()
    val gen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(gen.contains("Kernels.intDot("), gen.take(400))
    assert(gen.contains("Kernels.rhp("), gen.take(400))
  }

  test("trading_day_roll generates code (no interpreted fallback)") {
    // non-literal child: a literal would constant-fold at plan time
    val df = spark.range(3)
      .select(NativeFunctions.tradingDayRoll(
        date_add(to_date(lit("2024-01-06")), $"id".cast("int")),
        Seq("2024-01-08")).as("r"))
      .filter($"r".isNotNull)
    df.collect()
    val gen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(gen.contains("(graft.plans.TradingDayRoll) references["), gen.take(400))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences,
  Cast, EvalMode, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ExactDecimalCast, ExactDecimalCastRule}

/** The long-backed double → DECIMAL(p ≤ 18) cast must be Spark's own
  * `Cast` in everything but representation: value, scale, precision,
  * null and exception, in every eval mode, interpreted and generated. */
class ExactDecimalCastSpec extends SparkSpec {

  private val types = Seq((18, 2), (16, 2), (15, 2), (12, 4), (18, 6), (7, 3), (10, 0), (18, 0))
  private val modes = Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY)

  /** the value classes the fast-path test must sort correctly: exact
    * decimals and exact ties at scale s with their neighbours, values at
    * the precision edge, random magnitudes and bit patterns, specials */
  private def values(p: Int, s: Int, rng: java.util.Random): Seq[(String, Double)] = {
    val maxUnscaled = math.min(math.pow(10, p).toLong - 1, 1L << 54)
    def dec(unscaled: Long, scale: Int) = java.math.BigDecimal.valueOf(unscaled, scale).doubleValue
    def around(d: Double) = Seq(d, Math.nextUp(d), Math.nextDown(d))
    def randUnscaled() = (rng.nextLong() % maxUnscaled) / (if (rng.nextBoolean()) 1 else 1000)
    val exact = Seq.fill(2000)(dec(randUnscaled(), s)).flatMap(around).map("exact" -> _)
    val ties = Seq.fill(2000)(dec(randUnscaled() * 10 + (if (rng.nextBoolean()) 5 else -5), s + 1))
      .flatMap(around).map("tie" -> _)
    val edge = Seq(maxUnscaled, maxUnscaled + 1, 1L << 53, (1L << 53) + 1, 1L << 52)
      .flatMap(u => Seq(dec(u, s), dec(-u, s), dec(u * 10 - 5, s + 1), dec(-u * 10 + 5, s + 1)))
      .flatMap(around).map("edge" -> _)
    val magnitudes = Seq.fill(2000)((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(24) - 6))
      .map("magnitude" -> _)
    val bits = Seq.fill(2000)(java.lang.Double.longBitsToDouble(rng.nextLong())).map("bits" -> _)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Double.MaxValue, Double.MinValue, 0.005, -0.005, 2.675, -2.675, 1.005, 0.285, -0.285)
      .flatMap(around).map("special" -> _)
    exact ++ ties ++ edge ++ magnitudes ++ bits ++ specials
  }

  /** the rule applied to a one-column plan; returns (the original cast,
    * what the rule made of it), both bound to input slot 0 */
  private def rewrite(dt: DecimalType, mode: EvalMode.Value,
      nullableInput: Boolean): (Expression, Expression) = {
    val d = AttributeReference("d", DoubleType, nullableInput)()
    val cast = Cast(d, dt, Some("UTC"), mode)
    val plan: LogicalPlan = Project(Seq(Alias(cast, "x")()), LocalRelation(d))
    val out = ExactDecimalCastRule(plan).asInstanceOf[Project].projectList.head
      .asInstanceOf[Alias].child
    (BindReferences.bindReference(cast: Expression, Seq(d)),
      BindReferences.bindReference(out, Seq(d)))
  }

  /** value (with scale and precision), null, or exception class and message */
  private def outcome(f: => Any): String =
    try f match {
      case null => "null"
      case x: Decimal => s"${x.toJavaBigDecimal.toPlainString} s=${x.scale} p=${x.precision}"
      case x => s"unexpected $x"
    } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }

  test("exact decimal cast equals Spark's Cast in value, scale, null and error, all modes") {
    val rng = new java.util.Random(20261017L)
    var fast = 0
    // a non-null input leaves an ANSI cast non-nullable: the generated
    // code then has no null flag to set
    for ((p, s) <- types; mode <- modes; nullableInput <- Seq(true, false)) {
      val dt = DecimalType(p, s)
      val (cast, node) = rewrite(dt, mode, nullableInput)
      assert(node.isInstanceOf[ExactDecimalCast], s"$dt $mode: $node")
      assert(node.nullable == cast.nullable, s"$dt $mode $nullableInput")
      val generated = UnsafeProjection.create(Seq(node))
      val nulls = if (nullableInput) Seq("null" -> null) else Nil
      for ((cls, v) <- values(p, s, rng) ++ nulls) {
        val row = InternalRow(v)
        val want = outcome(cast.eval(row))
        val interpreted = outcome(node.eval(row))
        val codegen = outcome {
          val r = generated(row)
          if (r.isNullAt(0)) null else r.getDecimal(0, p, s)
        }
        assert(interpreted == want, s"interpreted: $cls $v as $dt $mode")
        assert(codegen == want, s"codegen: $cls $v as $dt $mode")
        if (v != null && ExactDecimalCast.unscaled(v.asInstanceOf[Double], p, s) !=
            ExactDecimalCast.Miss) fast += 1
      }
    }
    assert(fast > 40000, s"only $fast values took the fast path")
  }

  test("the fast path takes every exact two-decimal value in range and no exact tie") {
    val rng = new java.util.Random(7L)
    Seq.fill(100000)(rng.nextLong() % 1000000000000L).foreach { u =>
      val d = java.math.BigDecimal.valueOf(u, 2).doubleValue
      assert(ExactDecimalCast.unscaled(d, 18, 2) == u, s"$d")
      val tie = java.math.BigDecimal.valueOf(u * 10 + 5, 3).doubleValue
      val r = ExactDecimalCast.unscaled(tie, 18, 2)
      assert(r == ExactDecimalCast.Miss ||
        r == java.math.BigDecimal.valueOf(tie).setScale(2, java.math.RoundingMode.HALF_UP)
          .unscaledValue.longValueExact, s"$tie")
    }
  }

  test("halfUpUnscaled is HALF_UP of the shortest decimal repr, fast path or not") {
    val rng = new java.util.Random(11L)
    val vs = values(18, 2, rng).map(_._2).filter(v => !v.isNaN && !v.isInfinite && math.abs(v) < 1e14)
    for (v <- vs; scale <- Seq(0, 2, 4)) {
      val want = java.math.BigDecimal.valueOf(v).setScale(scale, java.math.RoundingMode.HALF_UP)
        .unscaledValue.longValueExact
      assert(ExactDecimalCast.halfUpUnscaled(v, scale) == want, s"$v at scale $scale")
    }
  }

  private def exactNodes(df: DataFrame): Seq[ExactDecimalCast] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: ExactDecimalCast => e
    }))

  private def doubleToDecimalCasts(df: DataFrame): Seq[Cast] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case c @ Cast(child, dt: DecimalType, _, _)
          if child.dataType == DoubleType && dt.precision <= 18 => c
    }))

  test("plan pins: q6 and the full selectivity scan cast through the exact kernel") {
    for (name <- Seq("q6_forecast_revenue", "scan_selectivity_full")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(exactNodes(df).nonEmpty, s"$name:\n$plan")
      assert(doubleToDecimalCasts(df).isEmpty, s"$name:\n$plan")
    }
  }

  test("plan pin: scan_record_filter's child session casts through the exact kernel") {
    val df = SparkEntry.queries("scan_record_filter")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_exact_decimal"), plan)
    assert(doubleToDecimalCasts(df).isEmpty, plan)
  }

  test("rows are identical under whole-stage codegen and NO_CODEGEN") {
    val dir = java.nio.file.Files.createTempDirectory("graft_exact_decimal").toString
    val rng = new java.util.Random(3L)
    val vs: Seq[java.lang.Double] = (values(18, 2, rng).map(_._2) ++
      Seq.fill(3000)(java.math.BigDecimal.valueOf(rng.nextInt(2000000) - 1000000L, 2).doubleValue))
      .map(Double.box) :+ null
    spark.createDataFrame(
        spark.sparkContext.parallelize(vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 4),
        StructType(Seq(StructField("id", LongType), StructField("d", DoubleType))))
      .write.parquet(s"$dir/t.parquet")
    def run(s: SparkSession): (Seq[Row], Seq[Row], Int) = {
      org.apache.spark.sql.GraftFunctions.register(s)
      val t = s.read.parquet(s"$dir/t.parquet")
      val proj = t.select(col("id"),
        expr("try_cast(d AS DECIMAL(18,2))").as("c18"),
        expr("try_cast(d AS DECIMAL(7,3))").as("c7"),
        expr("try_cast(d AS DECIMAL(10,0))").as("c10"))
      val agg = t.filter(abs(col("d")) < 1e6)
        .groupBy((col("id") % 7).as("g"))
        .agg(sum(col("d").cast(DecimalType(18, 2))).as("s"), count(lit(1)).as("n"))
      (proj.orderBy("id").collect().toSeq, agg.orderBy("g").collect().toSeq,
        exactNodes(proj).size + exactNodes(agg).size)
    }
    val plain = spark.newSession()
    plain.conf.set("spark.sql.codegen.wholeStage", "true")
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (p1, a1, n1) = run(plain)
    val (p2, a2, n2) = run(interpreted)
    assert(n1 == 4 && n2 == 4)
    assert(p1.size == vs.size && a1.nonEmpty)
    assert(p1 == p2)
    assert(a1 == a2)
    graft.queries.SourcesSinks.deleteRecursively(new java.io.File(dir))
  }
}

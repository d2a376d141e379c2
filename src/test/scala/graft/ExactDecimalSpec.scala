package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The exact-decimal rewrite against Spark's own expressions, bit for
  * bit: every case evaluates the rewritten expression and Spark's, each
  * interpreted and through generated code, with ANSI on and off, and
  * compares the UnsafeRow bytes of the decimal and of its cast to
  * double, or the error condition. Seeded, so every run checks the same
  * cases.
  */
class ExactDecimalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Modes = Seq(EvalMode.LEGACY, EvalMode.ANSI)

  /** An UnsafeRow's bytes or the error condition its projection threw. */
  private type Outcome = Either[String, Seq[Byte]]

  private def outcome(f: => UnsafeRow): Outcome =
    try scala.util.Right(f.getBytes.toSeq)
    catch { case e: SparkThrowable => scala.util.Left(e.getCondition) }

  private def projection(exprs: Seq[Expression], codegen: Boolean): UnsafeProjection =
    if (codegen) GenerateUnsafeProjection.generate(exprs)
    else InterpretedUnsafeProjection.createProjection(exprs)

  /** `e` and `cast(e as double)` over `rows`, both ways of evaluating. */
  private def evaluate(e: Expression, rows: Seq[InternalRow]): Seq[Seq[Outcome]] =
    Seq(false, true).map { codegen =>
      val p = projection(Seq(e, Cast(e, DoubleType)), codegen)
      rows.map(r => outcome(p(r)))
    }

  private def same(what: String, ours: Expression, theirs: Expression, rows: Seq[InternalRow]): Unit = {
    val (o, t) = (evaluate(ours, rows), evaluate(theirs, rows))
    // the interpreted and generated forms of each agree with each other
    assert(o(0) == o(1), s"$what: rewritten interpreted != generated")
    assert(t(0) == t(1), s"$what: Spark interpreted != generated")
    rows.indices.foreach { i =>
      assert(o(0)(i) == t(0)(i), s"$what: row $i (${rows(i)}) differs: ${o(0)(i)} vs ${t(0)(i)}")
    }
  }

  // ---- double → decimal cast ----

  private val dbl = BoundReference(0, DoubleType, nullable = true)

  private def castSame(values: Seq[Any], precision: Int, scale: Int): Unit = {
    val t = DecimalType(precision, scale)
    val rows = values.map(v => InternalRow(v))
    Modes.foreach { m =>
      same(s"cast as decimal($precision,$scale) $m",
        ExactDoubleToDecimal(dbl, t, None, m), Cast(dbl, t, None, m), rows)
    }
  }

  /** The smallest power of two whose doubles have ulp ≥ 0.5 · 10^-scale:
    * the fast path's bound on |d|.
    */
  private def fastBound(scale: Int): Double = {
    var b = 1.0
    while (Math.ulp(b) * math.pow(10, scale) < 0.5) b *= 2
    b
  }

  test("cast: HALF_UP ties, signed zero, NaN and infinities match Spark's cast") {
    val edges = Seq(1.005, 2.675, 0.125, 0.375, 1.115, -1.005, -2.675, -0.125, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 1e-300, 0.005, 0.015, 0.045, 9.995, 99.995, null)
    for (s <- 0 to 9; p <- Seq(math.max(s, 1), 9, 18)) castSame(edges, p, s)
    // the ties themselves: r / 10^s rounds to d, so each takes the fast path
    assert(ExactDecimal.doubleToUnscaled(1.005, 18, 3) == 1005L)
    assert(ExactDecimal.doubleToUnscaled(-0.0, 18, 2) == 0L)
    assert(ExactDecimal.doubleToUnscaled(Double.NaN, 18, 2) == ExactDecimal.NoFast)
  }

  test("cast: values on both sides of the fast-path bound, scales 0 to 9") {
    for (s <- 0 to 9) {
      val b = fastBound(s)
      val f = math.pow(10, s)
      // the last grid point below the bound: b·10^s is an exact integer
      val lastGrid = (b * f - 1) / f
      val inside = Seq(lastGrid, lastGrid - 1 / f, Math.nextDown(b), b / 2 + 1 / f, b / 4)
      val outside = Seq(b, Math.nextUp(b), b + 1, b * 3)
      val values = (inside ++ outside).flatMap(v => Seq(v, -v))
      castSame(values, 18, s)
      // the bound is where the fast path stops, not somewhere below it
      assert(ExactDecimal.doubleToUnscaled(lastGrid, 18, s) == (b * f).toLong - 1,
        s"scale $s: the last grid point below the bound should take the fast path")
      outside.foreach { v =>
        assert(ExactDecimal.doubleToUnscaled(v, 18, s) == ExactDecimal.NoFast,
          s"scale $s: $v is past the bound")
      }
    }
  }

  test("cast: decimal(3,2) overflow and random doubles match Spark's cast") {
    // q1 narrows its discount to decimal(3,2): 9.995 and 10.0 overflow it
    castSame(Seq(9.99, 9.994, 9.995, 10.0, -9.995, -10.0, 0.06, 1.0, 999.0), 3, 2)
    val rnd = new scala.util.Random(0xdec)
    val cents = Seq.fill(400)(Math.round(rnd.nextGaussian() * 1e7) / 100.0)
    val wide = Seq.fill(400)(rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 4) *
      (if (rnd.nextBoolean()) 1 else -1))
    val bits = Seq.fill(200)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val values: Seq[Any] = cents ++ wide ++ bits :+ null
    for ((p, s) <- Seq((18, 2), (12, 2), (7, 2), (18, 0), (18, 4), (15, 9), (10, 6), (4, 4)))
      castSame(values, p, s)
  }

  // ---- decimal products ----

  private def dec(v: BigInt, t: DecimalType): Decimal =
    Decimal(new java.math.BigDecimal(v.bigInteger, t.scale), t.precision, t.scale)

  private def productSame(lt: DecimalType, rt: DecimalType, pairs: Seq[(Any, Any)],
      loss: Boolean = true): Unit = {
    val l = BoundReference(0, lt, nullable = true)
    val r = BoundReference(1, rt, nullable = true)
    val rows = pairs.map { case (a, b) => InternalRow(a, b) }
    Modes.foreach { m =>
      val ctx = NumericEvalContext(m, loss)
      val theirs = Multiply(l, r, ctx)
      val rewritten = ExactDecimalRule(
        org.apache.spark.sql.catalyst.plans.logical.Project(
          Seq(Alias(theirs, "p")()),
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation()))
        .expressions.head.collectFirst { case e: ExactDecimalMultiply => e }
      assert(rewritten.isDefined, s"$lt * $rt ($m) was not rewritten")
      same(s"$lt * $rt $m", rewritten.get, theirs, rows)
    }
  }

  test("multiply: products within, at and past 2^63 match Spark's") {
    val rnd = new scala.util.Random(0x51)
    def rand(t: DecimalType, digits: Int): Decimal = {
      val v = BigInt(digits * 4, rnd) % BigInt(10).pow(digits)
      dec(if (rnd.nextBoolean()) v else -v, t)
    }
    // q1's shapes: decimal(18,2) × decimal(4,2), then decimal(23,4) × decimal(4,2)
    val (d18, d4, d23) = (DecimalType(18, 2), DecimalType(4, 2), DecimalType(23, 4))
    productSame(d18, d4, Seq.fill(300)((rand(d18, 1 + rnd.nextInt(18)), rand(d4, 3))) ++
      Seq((null, rand(d4, 3)), (rand(d18, 5), null), (null, null)))
    productSame(d23, d4, Seq.fill(300)((rand(d23, 1 + rnd.nextInt(23)), rand(d4, 4))))
    // past 2^63: 10^10 · 10^10 and the edges of the long product
    val d180 = DecimalType(18, 0)
    val big = Seq(BigInt(10).pow(10), BigInt(3037000499L), BigInt(3037000500L),
      BigInt(999999999999999999L), BigInt(4294967296L), BigInt(2147483648L))
    productSame(d180, d180, for (a <- big; b <- big; sa <- Seq(1, -1)) yield
      (dec(a * sa, d180), dec(b, d180)))
    // no precision loss: the result stays at 38 digits and overflows it
    val d380 = DecimalType(38, 0)
    val huge = Seq(BigInt(10).pow(37), BigInt(10).pow(20), BigInt(7), BigInt(10).pow(18) - 1)
    productSame(d380, d380, for (a <- huge; b <- huge) yield (dec(a, d380), dec(-b, d380)),
      loss = false)
  }

  // ---- decimal sums ----

  /** One buffer state as each function's buffer row: the sum (None once
    * overflowed) and the empty flag.
    */
  private def bufferRow(f: DeclarativeAggregate, sum: Option[BigInt], empty: Boolean): InternalRow =
    f match {
      case s: Sum =>
        val t = s.dataType.asInstanceOf[DecimalType]
        InternalRow(sum.map(dec(_, t)).orNull, empty)
      case _ =>
        sum.fold(InternalRow(null, 0L, empty)) { v =>
          InternalRow((v >> 64).toLong, v.toLong, empty)
        }
    }

  /** Runs `f` as a grouped HashAggregate does: the buffer is an
    * UnsafeRow that every update and merge rewrites. Each partition
    * starts from its seed state (or the initial values) and folds its
    * rows; the partitions then merge left to right and evaluate.
    */
  private def aggregate(f: DeclarativeAggregate, x: AttributeReference,
      parts: Seq[(Option[(Option[BigInt], Boolean)], Seq[Any])], codegen: Boolean): Outcome = {
    val buf = f.aggBufferAttributes
    val init = projection(f.initialValues, codegen)
    val write = projection(buf.map(a => BoundReference(buf.indexOf(a), a.dataType, a.nullable)), codegen)
    val update = projection(BindReferences.bindReferences(f.updateExpressions, buf :+ x), codegen)
    val merge = projection(
      BindReferences.bindReferences(f.mergeExpressions, buf ++ f.inputAggBufferAttributes), codegen)
    val out = projection(BindReferences.bindReferences(
      Seq(f.evaluateExpression, Cast(f.evaluateExpression, DoubleType)), buf), codegen)
    outcome {
      val partials = parts.map { case (seed, rows) =>
        val start = seed.fold(init(InternalRow.empty).copy()) { case (s, e) =>
          write(bufferRow(f, s, e)).copy()
        }
        rows.foldLeft(start)((b, v) => update(new JoinedRow(b, InternalRow(v))).copy())
      }
      out(partials.reduceLeft((a, b) => merge(new JoinedRow(a, b)).copy())).copy()
    }
  }

  private def sumSame(what: String, t: DecimalType,
      parts: Seq[(Option[(Option[BigInt], Boolean)], Seq[Any])]): Unit = {
    val x = AttributeReference("x", t)()
    Modes.foreach { m =>
      val theirs = Sum(x, NumericEvalContext(m))
      val ours = LongDecimalSum(x, m)
      assert(ours.dataType == theirs.dataType)
      val results = for (f <- Seq(ours, theirs); cg <- Seq(false, true)) yield aggregate(f, x, parts, cg)
      assert(results.distinct.size == 1, s"$what ($m) differs: $results")
    }
  }

  test("sum: Spark's buffer semantics on random groups, empty and all-null groups") {
    val rnd = new scala.util.Random(0x5a)
    for (t <- Seq(DecimalType(9, 2), DecimalType(18, 2), DecimalType(23, 4), DecimalType(28, 6),
                  DecimalType(38, 0))) {
      def v(): Any =
        if (rnd.nextInt(8) == 0) null
        else {
          val digits = 1 + rnd.nextInt(t.precision)
          val u = BigInt(digits * 4, rnd) % BigInt(10).pow(digits)
          dec(if (rnd.nextBoolean()) u else -u, t)
        }
      for (trial <- 1 to 30) {
        val parts = Seq.fill(1 + rnd.nextInt(4))((None, Seq.fill(rnd.nextInt(12))(v())))
        sumSame(s"$t trial $trial", t, parts)
      }
      sumSame(s"$t empty group", t, Seq((None, Nil)))
      sumSame(s"$t empty partitions", t, Seq((None, Nil), (None, Nil)))
      sumSame(s"$t all-null group", t, Seq((None, Seq(null, null)), (None, Seq(null))))
    }
  }

  test("sum: overflow at an intermediate and at the final step, ANSI and not") {
    for (t <- Seq(DecimalType(18, 2), DecimalType(23, 4), DecimalType(28, 6), DecimalType(9, 0))) {
      val limit = BigInt(10).pow(math.min(t.precision + 10, 38))
      val one = dec(1, t)
      val minusTen = dec(-10, t)
      val near = Some((Some(limit - 1), false))
      val nearNeg = Some((Some(-(limit - 1)), false))
      // over the limit and straight back: the row buffer keeps the null
      sumSame(s"$t intermediate", t, Seq((near, Seq(one, minusTen))))
      sumSame(s"$t intermediate negative", t, Seq((nearNeg, Seq(dec(-1, t), dec(10, t)))))
      // each partial fits, their merge does not
      val sixTenths = Some((Some(limit * 6 / 10), false))
      sumSame(s"$t final merge", t, Seq((sixTenths, Nil), (sixTenths, Seq(one))))
      // an overflowed partial poisons the merge; an empty one does not
      sumSame(s"$t overflowed partial", t, Seq((Some((None, false)), Nil), (None, Seq(one))))
      sumSame(s"$t exactly at the limit", t, Seq((near, Seq(one))))
      sumSame(s"$t just below", t, Seq((near, Seq(dec(-1, t), one))))
    }
    // past 2^127 (38-digit inputs): two halves of the range overflow 128 bits
    val t38 = DecimalType(38, 0)
    val nine = dec(BigInt(10).pow(38) - 1, t38)
    sumSame("decimal(38,0) past 2^127", t38, Seq((None, Seq(nine, nine)), (None, Seq(nine))))
    sumSame("decimal(38,0) negative past 2^127", t38,
      Seq((None, Seq(dec(-(BigInt(10).pow(38) - 1), t38), dec(-(BigInt(10).pow(38) - 1), t38)))))
  }

  test("sum: the 128-bit words round-trip every decimal") {
    val rnd = new scala.util.Random(0x128)
    val t = DecimalType(38, 3)
    for (_ <- 1 to 500) {
      val u = BigInt(rnd.nextInt(126) + 1, rnd) * (if (rnd.nextBoolean()) 1 else -1)
      val d = dec(u, t)
      val back = ExactDecimal.toDecimal(ExactDecimal.highWord(d), ExactDecimal.lowWord(d), 38, 3)
      assert(back == d && back.toJavaBigDecimal == d.toJavaBigDecimal)
    }
  }

  // ---- through the session ----

  test("session plans take the rewrite and answer as Spark's own expressions do") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(500)(Option(Math.round(rnd.nextGaussian() * 1e6) / 100.0)) ++
      Seq(None, Some(Double.NaN), Some(1.005), Some(-0.0))
    val df = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }.toDF("g", "v")
      .withColumn("g", when(col("g") === 6, lit(null)).otherwise(col("g")))
    val money = col("v").cast("decimal(18,2)")
    val q = df.groupBy("g").agg(
      sum(money).as("s"), sum(money * (lit(1).cast("decimal(3,2)") - lit(0.05).cast("decimal(3,2)"))).as("p"))
    val optimized = q.queryExecution.optimizedPlan
    assert(optimized.exists(_.expressions.exists(_.exists(_.isInstanceOf[LongDecimalSum]))))
    assert(optimized.exists(_.expressions.exists(_.exists(_.isInstanceOf[ExactDecimalMultiply]))))
    assert(!optimized.exists(_.expressions.exists(_.exists {
      case Cast(c, _: DecimalType, _, _) => c.dataType == DoubleType
      case _ => false
    })), "a double → decimal cast was left in the plan")
    // a window sum keeps Spark's Sum: the same groups through it
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val viaSpark = df.select(col("g"),
      sum(money).over(w).as("s"),
      sum(money * (lit(1).cast("decimal(3,2)") - lit(0.05).cast("decimal(3,2)"))).over(w).as("p"))
      .distinct()
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), Option(r.getDecimal(1)), Option(r.getDecimal(2)))).toSet
    assert(rows(q) == rows(viaSpark))
    // an empty global aggregate is null, as Spark's
    assert(df.filter(lit(false)).agg(sum(money)).head().isNullAt(0))
  }
}

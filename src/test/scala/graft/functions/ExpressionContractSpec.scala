package graft.functions

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.CellIndex
import graft.operators.{MaxScoreMinKey, TopKAggExpr, TopKSlots}

/**
 * The input contract of every engine expression, table-driven: every SQL
 * name in [[sqlFunctionBuilders]] (at its declared arity), the Column-only
 * expressions and the three top-k aggregates. Each argument position gets
 * every input of [[ExpressionContractSpec.inputs]] while the other
 * positions hold the plain value of their declared type. A call either
 * fails at analysis, or returns the same rows interpreted (NO_CODEGEN,
 * whole-stage codegen off) and compiled (CODEGEN_ONLY), with ANSI on and
 * off. A task failure fails the spec unless [[valueErrors]] lists it.
 */
class ExpressionContractSpec extends AnyFunSuite {
  import ExpressionContractSpec._
  lazy val spark: SparkSession = SparkTestSession.spark

  private val columnOnly: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("cell_disk_bound", 4, es => CellDiskBoundExpr(es(0), es(1), es(2), es(3))),
    ("cell_disk_band", 3, es => CellDiskBandExpr(es(0), es(1), es(2))),
    ("md5_prefix", 1, es => Md5PrefixExpr(es(0), 16)),
    ("topk_by_score", 2, es => TopKAggExpr(2, es(0), es(1)).toAggregateExpression()),
    ("max_score_min_key", 2, es => MaxScoreMinKey(es(0), es(1)).toAggregateExpression()),
    ("topk_slots", 2, es => TopKSlots(2, es(0), es(1)).toAggregateExpression()))

  /** (name, error text, why): task errors a well-typed call may raise,
   * because they depend on an argument's value, not its type. */
  private val valueErrors: Seq[(String, String, String)] = Seq(
    ("cell_parent", "parentRes -1 out of [0, ",
      "a parentRes column outside [0, the cell's res] depends on the row; a literal one fails analysis"),
    ("polygon_y_index", "bands must be >= 1, got ",
      "a bands column below 1 depends on the row; a literal one fails analysis"))

  private val modes = Seq(
    Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"),
    Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An RDD-backed frame (never folded into a local relation) with column `v`. */
  private def source(in: Input, values: Seq[Any]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(values.map(v => Row(v)), 1),
    StructType(Seq(StructField("v", in.dataType))))

  private def causes(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" <- ")

  /** Rows of `call` in each ANSI setting and codegen mode, or its analysis error. */
  private def outcome(call: => DataFrame): Either[AnalysisException, Seq[Seq[String]]] = {
    val runs = for (ansi <- Seq("true", "false"); mode <- modes)
      yield withConf(mode + ("spark.sql.ansi.enabled" -> ansi)) {
        try { val df = call; Right(Some(df)) -> df.collect().map(render).sorted.toSeq }
        catch { case a: AnalysisException => Left(a) -> Nil }
      }
    runs.head._1 match {
      case Left(a) =>
        assert(runs.forall(_._1.isLeft), s"analysis depends on the mode: ${a.getMessage}")
        Left(a)
      case Right(_) =>
        assert(runs.forall(_._1.isRight), "analysis depends on the mode")
        Right(runs.map(_._2))
    }
  }

  private def checkContract(name: String, arity: Int, build: Seq[Expression] => Expression): Unit = {
    // the declared type of each argument position, through placeholders
    val holes = (0 until arity).map(i => AttributeReference(s"arg$i", NullType)())
    val built = build(holes)
    val graftNodes = built.collect { case e if e.getClass.getName.startsWith("graft.") => e }
    assert(graftNodes.nonEmpty && graftNodes.forall(_.isInstanceOf[ExpectsInputTypes]),
      s"$name: every engine expression declares its input types: $built")
    val declared = holes.map { h =>
      built.collectFirst { case e: ExpectsInputTypes if e.children.exists(_ eq h) =>
        val i = e.children.indexWhere(_ eq h)
        (e, i, e.inputTypes(i))
      }.getOrElse(fail(s"$name: $h feeds no declared input type"))
    }
    def accepts(pos: Int, t: DataType): Boolean = t != NullType &&
      ExpectsInputTypes.checkInputDataTypes(Seq(Literal.create(null, t)), Seq(declared(pos)._3)).isSuccess
    val plain = declared.indices.map { pos =>
      val in = inputs.find(in => accepts(pos, in.dataType))
        .getOrElse(fail(s"$name: no input fits position $pos"))
      Literal.create(in.values.head, in.dataType)
    }
    def args(pos: Int, e: Expression) = plain.updated(pos, e)
    assert(outcome(spark.range(1).select(column(build(plain)))).isRight, s"$name: the plain call")

    val ran = scala.collection.mutable.Set.empty[Int]
    for (pos <- 0 until arity; in <- inputs) {
      val what = s"$name arg ${pos + 1} ${in.label}"
      val values = if (in.dataType == NullType) Seq(null) else in.values :+ null
      def rows(res: Either[AnalysisException, Seq[Seq[String]]], label: String): Unit = res match {
        case Left(_) =>
        case Right(runs) =>
          assert(runs.distinct.size <= 1, s"$label: ${runs.mkString(" / ")}")
          if (runs.nonEmpty && in.dataType != NullType) ran += pos
      }
      def run(label: String, call: => DataFrame): Either[AnalysisException, Seq[Seq[String]]] =
        try outcome(call)
        catch {
          case e: Exception if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
            val msg = causes(e)
            if (!valueErrors.exists { case (n, text, _) => n == name && msg.contains(text) })
              fail(s"$label: task failure $msg")
            Right(Nil)
        }
      val asColumn = run(what, source(in, values).select(column(build(args(pos, expression(col("v")))))))
      asColumn match {
        case Left(a) if a.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE" =>
          assert(!accepts(pos, in.dataType), s"$what: ${a.getMessage}")
          val (node, i, _) = declared(pos)
          val msg = a.getMessage
          Seq(s"${node.prettyName}(", s"The ${ordinal(i)} parameter requires",
            s"""has the type "${in.dataType.sql}"""").foreach(t =>
            assert(msg.contains(t), s"$what: '$t' in $msg"))
        case Left(_) => // a value check: the value as a literal
          for (v <- values)
            rows(run(s"$what $v", spark.range(1).select(
              column(build(args(pos, Literal.create(v, in.dataType)))))), s"$what $v")
        case Right(runs) =>
          // a listed value error in some row: check the rows one by one
          if (runs.isEmpty) for (v <- values)
            rows(run(s"$what $v", source(in, Seq(v)).select(
              column(build(args(pos, expression(col("v"))))))), s"$what $v")
          else rows(asColumn, what)
      }
    }
    assert(ran == (0 until arity).toSet, s"$name: a position no typed input ran at")
  }

  test("a SQL call with the wrong number of arguments fails analysis with WRONG_NUM_ARGS") {
    registerAll(spark)
    for ((name, arity, _) <- sqlFunctionBuilders; n <- Seq(arity - 1, arity + 1)) {
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT $name(${Seq.fill(n)("NULL").mkString(", ")})"))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS") && e.getMessage.contains(s"`$name`") &&
        e.getMessage.contains(s"requires $arity parameters but the actual number is $n"),
        s"$name with $n: ${e.getMessage}")
    }
  }

  test("a literal value every row would fail on fails analysis") {
    import spark.implicits._
    registerAll(spark)
    val c = CellIndex.latLonToCell(1.0, 1.0, 12)
    Seq((c, Seq(0.0, 0.0, 2.0, 0.0, 0.0, 2.0))).toDF("c", "ring").createOrReplaceTempView("lits")
    for ((call, text) <- Seq(
        s"cell_parent(c, ${CellIndex.MaxRes + 1})" ->
          s"cell_parent parentRes must be in [0, ${CellIndex.MaxRes}], got ${CellIndex.MaxRes + 1}",
        "cell_parent(c, -1)" -> s"cell_parent parentRes must be in [0, ${CellIndex.MaxRes}], got -1",
        "polygon_y_index(ring, 0)" -> "polygon_y_index bands must be >= 1, got 0",
        "polygon_y_index(ring, -2)" -> "polygon_y_index bands must be >= 1, got -2")) {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM lits").collect())
      assert(e.getMessage.contains(text), s"$call: ${e.getMessage}")
    }
    // in range the same calls run; a parentRes above the cell's own res
    // depends on the row and stays a task error
    assert(spark.sql("SELECT cell_parent(c, 12), size(polygon_y_index(ring, 1)) FROM lits")
      .as[(Long, Int)].head() == ((c, 3 + 1 + 1 + 3)))
    val above = intercept[Exception](spark.sql("SELECT cell_parent(c, 13) FROM lits").collect())
    assert(above.getMessage.contains("parentRes 13 out of [0, 12]"), above)
  }

  test("md5_prefix takes a STRING of any collation, as the plain STRING") {
    import spark.implicits._
    val df = Seq("Wave-7").toDF("s").selectExpr("s", "s COLLATE UTF8_LCASE AS l", "s COLLATE UNICODE_CI_RTRIM AS u")
    val got = df.select(md5_prefix($"s", 16), md5_prefix($"l", 16), md5_prefix($"u", 16))
      .as[(Long, Long, Long)].head()
    assert(got._1 == got._2 && got._1 == got._3)
  }

  for ((name, arity, build) <- sqlFunctionBuilders)
    test(s"SQL $name: every input fails analysis or runs alike in both modes") {
      checkContract(name, arity, build)
    }
  for ((name, arity, build) <- columnOnly)
    test(s"Column $name: every input fails analysis or runs alike in both modes") {
      checkContract(name, arity, build)
    }
}

object ExpressionContractSpec {
  /** One input type at an argument position: its first value is the plain
   * one the other positions take; each list also gets a typed NULL. */
  final case class Input(label: String, dataType: DataType, values: Seq[Any])

  private def arrays[T](f: Double => T): Seq[Seq[T]] = Seq(
    Seq(0.0, 0.0, 2.0, 0.0, 0.0, 2.0), // a triangle ring
    Seq(), Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0), // empty, zero-norm
    Seq(Double.NaN, 0.0, 2.0, Double.PositiveInfinity, Double.NegativeInfinity, -0.0),
    Seq(0.0, 0.0, 1.0)) // an odd-length ring
    .map(_.map(f))

  val page: Array[Byte] = ("""<html><head><title>One</title>""" +
    """<meta name="geo.position" content="52.52;13.405"></head>""" +
    """<body><h1>Hello</h1><a href="geo:48.85,2.35">p</a></body></html>""").getBytes("UTF-8")

  val inputs: Seq[Input] = Seq(
    Input("BOOLEAN", BooleanType, Seq(true)),
    Input("TINYINT", ByteType, Seq(3.toByte)),
    Input("SMALLINT", ShortType, Seq(3.toShort)),
    Input("INT", IntegerType, Seq(3, 0, -1)),
    // a res-12 cell, so the cell functions see a real cell
    Input("BIGINT", LongType, Seq(CellIndex.latLonToCell(1.0, 1.0, 12))),
    Input("FLOAT", FloatType,
      Seq(1.0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f)),
    Input("DOUBLE", DoubleType,
      Seq(1.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)),
    Input("DECIMAL", DecimalType(10, 2), Seq(new java.math.BigDecimal("1.00"))),
    // a known extraction spec, so extract_captures has a plain call
    Input("STRING", StringType, Seq("links", "<p>x</p>")),
    Input("STRING COLLATE UTF8_LCASE", StringType("UTF8_LCASE"), Seq("links")),
    Input("BINARY", BinaryType, Seq(page, Array.emptyByteArray)),
    Input("DATE", DateType, Seq(java.sql.Date.valueOf("2024-01-01"))),
    Input("TIMESTAMP", TimestampType, Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
    Input("ARRAY<INT>", ArrayType(IntegerType), Seq(Seq(0, 0, 2, 0, 0, 2), Seq())),
    Input("ARRAY<FLOAT>", ArrayType(FloatType), arrays(_.toFloat)),
    Input("ARRAY<DOUBLE>", ArrayType(DoubleType), arrays(identity)),
    Input("untyped NULL", NullType, Nil))

  /** Spark's ordinal of a parameter index in its error messages. */
  def ordinal(i: Int): String = if (i < 3) Seq("first", "second", "third")(i) else s"${i + 1}th"

  /** A row as text: arrays by content, doubles with their sign of zero. */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x'", "", "'")
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case x => x.toString
  }
}

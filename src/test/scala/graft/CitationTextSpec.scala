package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression,
  Literal, StringSplit, StringTrim, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.functions.{ParseCitationEdge, ParsePublishedDate}
import graft.sources.CitationLoaders

/** The regex-free line parsers (graft.functions.CitationText) against
  * the regex form they replace, `split(trim(line), "\\s+")` with
  * `try_element_at` / `try_cast`, kept here as the oracle. */
class CitationTextSpec extends SparkSpec {

  // ---- oracle: the built-in regex split, per line ----------------------

  private val line = BoundReference(0, StringType, nullable = true)
  private val regexFields: Expression =
    StringSplit(StringTrim(line), Literal("\\s+"), Literal(-1))

  private def tryInt(s: UTF8String): Option[Int] =
    Option(Cast(Literal(s), IntegerType, Some("UTC"), EvalMode.TRY).eval())
      .map(_.asInstanceOf[Int])

  /** (field 1, field 2) as the regex split cuts them; None for a
    * comment line or a line with one field. */
  private def regexSplit(s: String): Option[(UTF8String, UTF8String)] =
    if (s.contains("#")) None
    else {
      val parts = regexFields.eval(InternalRow(UTF8String.fromString(s)))
        .asInstanceOf[ArrayData]
      if (parts.numElements < 2) None
      else Some((parts.getUTF8String(0), parts.getUTF8String(1)))
    }

  private def oracleEdge(s: String): Option[(Int, Int)] =
    regexSplit(s).flatMap { case (a, b) =>
      for (x <- tryInt(a); y <- tryInt(b)) yield (x, y)
    }

  private def oracleDate(s: String): Option[(Int, Int)] =
    regexSplit(s).flatMap { case (raw, date) =>
      val id = if (raw.numChars == 9 && raw.substringSQL(1, 2).toString == "11")
        raw.substringSQL(3, 7) else raw
      for (x <- tryInt(id); y <- tryInt(date.substringSQL(1, 4))) yield (x, y)
    }

  // ---- the parsers, interpreted and codegen'd --------------------------

  private def pair(a: ArrayData): Option[(Int, Int)] =
    Option(a).map { arr =>
      assert(arr.numElements === 1)
      val r = arr.getStruct(0, 2)
      (r.getInt(0), r.getInt(1))
    }

  private def evaluators(e: Expression): Seq[String => Option[(Int, Int)]] = {
    val codegen = GenerateUnsafeProjection.generate(Seq(e))
    // feed the codegen'd path an UnsafeRow, so the line sits at a nonzero
    // offset inside a shared buffer, as it does in a scan
    val toUnsafe = UnsafeProjection.create(Seq(line))
    Seq(
      s => pair(e.eval(InternalRow(UTF8String.fromString(s))).asInstanceOf[ArrayData]),
      s => pair(codegen(toUnsafe(InternalRow(UTF8String.fromString(s)))).getArray(0)))
  }

  // ---- property: random lines over whitespace, look-alikes, digits -----

  private val whitespace = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
  // U+00A0 and U+2003 are not `\s`; U+00E9 and U+20AC are 2- and 3-byte UTF-8
  private val other = Seq("\u00A0", "\u2003", "\u00E9", "\u20AC", "#")
  private val digit = Gen.numChar.map(_.toString)
  private val symbol = Gen.frequency(
    (10, digit), (6, Gen.oneOf(whitespace)), (5, Gen.oneOf(other)))
  private val freeform = Gen.listOf(symbol).map(_.mkString)
  // whitespace runs around mostly-digit tokens, to reach valid lines often
  private val token = Gen.resize(10, Gen.nonEmptyListOf(
    Gen.frequency((30, digit), (1, Gen.oneOf(other))))).map(_.mkString)
  private val run = Gen.resize(3, Gen.nonEmptyListOf(Gen.oneOf(whitespace))).map(_.mkString)
  private val structured = for {
    lead <- Gen.oneOf(Gen.const(""), run)
    tokens <- Gen.resize(4, Gen.nonEmptyListOf(token))
    seps <- Gen.listOfN(tokens.size, run)
    trail <- Gen.oneOf(true, false)
  } yield lead + tokens.zip(seps).map { case (t, r) => t + r }.mkString
    .dropRight(if (trail) 0 else seps.last.length)
  private val lines = Gen.oneOf(freeform, structured)

  private def check(name: String, e: Expression,
      oracle: String => Option[(Int, Int)]): Unit = {
    val evals = evaluators(e)
    var parsed = 0
    val prop = Prop.forAll(lines) { s =>
      val want = oracle(s)
      if (want.isDefined) parsed += 1
      evals.forall(_(s) == want)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(Seed(611L))
    val result = Test.check(params, prop)
    assert(result.passed, s"$name: ${result.status}")
    assert(parsed > 300, s"$name: only $parsed generated lines parse") // the generator reaches valid lines
  }

  test("edge parser == split(trim(s), \\s+) + try_cast on random lines") {
    check("edge", ParseCitationEdge(line), oracleEdge)
  }

  test("date parser == split(trim(s), \\s+) + cross-listing + try_cast on random lines") {
    check("date", ParsePublishedDate(line), oracleDate)
  }

  test("parsers on the boundary cases of split(trim(s), \\s+)") {
    val (edge, date) = (evaluators(ParseCitationEdge(line)), evaluators(ParsePublishedDate(line)))
    for (s <- Seq("", " ", "\t", "9", "9 ", "9\t", "\t7\t8", " \t7 8", "  7  8  ",
        "7\u000B8\f", "7\r8\n", "7 8 9", "7\u00A08", "7\u20038", "7 8#", "#7 8", "7 \u00E98",
        "2147483647 -2147483648", "2147483648 1", "+7 08", "- 8", "-0 8",
        "7.9 8", "7. 8", ".5 8", "7 8.0", "\u00007\u0001 8")) {
      edge.foreach(f => assert(f(s) === oracleEdge(s), s"edge '$s'"))
      date.foreach(f => assert(f(s) === oracleDate(s), s"date '$s'"))
    }
    for (s <- Seq("119203201\t1993-01-01", "11920320\t1993", "1192032011 1993",
        "110000001 1994-02", "11\u00E9000001 1994", "11.000001 1994", "1100000.1 1994",
        "12\t199", "12\t19.5-01", "12\t19\u20AC5-01"))
      date.foreach(f => assert(f(s) === oracleDate(s), s"date '$s'"))
  }

  // ---- loaders: files, plans -------------------------------------------

  /** The loaders as they were before the byte parser, with try_*
    * semantics so malformed lines drop instead of throwing. */
  private object RegexLoaders {
    private def clean(path: String): DataFrame =
      spark.read.text(path)
        .filter(!col("value").contains("#") && trim(col("value")) =!= "")
    private val parts = split(trim(col("value")), "\\s+")

    def citations(path: String): DataFrame =
      clean(path).select(
        try_element_at(parts, lit(1)).try_cast(IntegerType).as("from"),
        try_element_at(parts, lit(2)).try_cast(IntegerType).as("to"))
        .na.drop()

    def publishedDates(path: String): DataFrame = {
      val rawId = try_element_at(parts, lit(1))
      val id = when(length(rawId) === 9 && substring(rawId, 1, 2) === "11",
        substring(rawId, 3, 7)).otherwise(rawId)
      clean(path).select(
        id.try_cast(IntegerType).as("id"),
        substring(try_element_at(parts, lit(2)), 1, 4).try_cast(IntegerType).as("year"))
        .na.drop()
        .groupBy(col("id")).agg(min(col("year")).as("year"))
    }
  }

  private def writeText(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("citetext")
    val f = dir.resolve("lines.txt")
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    f.toString
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getInt(0), r.getInt(1)))

  test("loaders == regex loaders on well-formed files with mixed separators") {
    val edges = writeText(Seq("# FromNodeId\tToNodeId", "1\t2", "3 4", "  5\t \t6  ",
      "7\u000B8", "9\f10", "11\t12\t", "9203201 119203202", "", "13   14 extra"))
    val dates = writeText(Seq("# id\tdate", "1\t1992-02-24", "119203201\t1993-01-01",
      "9203201  1992-02-24", "110400001\u000B1994-03-03", "1100000012\t1995-01-01",
      "11920320\f1996-06-06", "  42\t1997-07-07  ", "42 1996-01-01", "7\t1999"))
    assert(sorted(CitationLoaders.loadCitations(spark, edges))
      === sorted(RegexLoaders.citations(edges)))
    assert(sorted(CitationLoaders.loadCitations(spark, edges)).size === 8)
    assert(sorted(CitationLoaders.loadPublishedDates(spark, dates))
      === sorted(RegexLoaders.publishedDates(dates)))
    assert(sorted(CitationLoaders.loadPublishedDates(spark, dates)) === Seq(
      Row(1, 1992), Row(7, 1999), Row(42, 1996), Row(400001, 1994),
      Row(9203201, 1992), Row(11920320, 1996), Row(1100000012, 1995)))
  }

  test("loader plans: no regex split, one parse per line, no pushed-down copy") {
    val path = ReferenceFixtures.toyDir
    def parses(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect {
          case p: ParseCitationEdge => p
          case p: ParsePublishedDate => p
        }.size).sum
      }.sum
    for (df <- Seq(CitationLoaders.loadCitations(spark, s"$path/citations.txt"),
        CitationLoaders.loadPublishedDates(spark, s"$path/published-dates.txt"))) {
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("split("), optimized)
      assert(parses(df) === 1, optimized)
      // the parse runs inside whole-stage codegen, in its generator
      assert(finalPlan(df).linesIterator.exists(l =>
        l.contains("*(") && l.contains("Generate inline(")),
        df.queryExecution.executedPlan.toString)
    }
  }
}

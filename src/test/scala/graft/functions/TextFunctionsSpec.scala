package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, functions => F}

import graft.SparkTestSession

/** The SQL-path char-class and line counters are compiled byte scans
  * (`graft.plans.AsciiClassCount`) that replaced regexp_replace/split
  * expressions the DuckDB oracle SQL still spells out — so each counter
  * must be VALUE-IDENTICAL (type included) to the exact expression it
  * replaced, under generated code and under the interpreter, on text
  * mixing ASCII, every Java `\s` character, multi-byte UTF-8, empty
  * strings and null. */
class TextFunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // ---- the former regexp_replace / split forms, verbatim ----
  private def refClassCount(c: Column, classRe: String): Column =
    F.length(c) - F.length(F.regexp_replace(c, s"[$classRe]", ""))
  private def refLetter(c: Column) = refClassCount(c, "A-Za-z")
  private def refDigit(c: Column) = refClassCount(c, "0-9")
  private def refWs(c: Column) = refClassCount(c, "\\s")
  private def refPunct(c: Column) =
    F.length(c) - refLetter(c) - refDigit(c) - refWs(c)
  private def refLine(c: Column) = F.size(F.split(c, "\n", -1))

  private val counters: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("letterCount", TextFunctions.letterCount, refLetter),
    ("digitCount", TextFunctions.digitCount, refDigit),
    ("wsCount", TextFunctions.wsCount, refWs),
    ("punctCount", TextFunctions.punctCount, refPunct),
    ("lineCount", TextFunctions.lineCount, refLine))

  // pieces: ASCII letters/digits/punct, all six Java \s characters (U+000B
  // included) and \r\n, 2-byte é, non-\s U+00A0 and U+0085, 3-byte CJK,
  // and a 4-byte emoji (a UTF-16 surrogate pair)
  private val pieces = Array(
    "a", "Z", "q", "7", "0", ".", "!", "'", "{", "~", " ", "\t", "\n", "\u000b",
    "\f", "\r", "\r\n", "é", "\u00a0", "\u0085", "中", "文", "😀", "word ",
    "\n\n")

  private def texts: Seq[String] = {
    val r = new java.util.Random(2024L)
    val random = (0 until 400).map { _ =>
      val n = r.nextInt(40)
      (0 until n).map(_ => pieces(r.nextInt(pieces.length))).mkString
    }
    Seq(null, "", "\n", "\u000b", "\r\n", "😀", "abc", "\n\n\nx\n") ++ random
  }

  private def assertCountersMatch(): Unit = {
    import spark.implicits._
    // an RDD-backed frame: a local Seq would be folded into a
    // LocalRelation by the optimizer and never reach generated code
    val df = spark.sparkContext.parallelize(texts, 3).toDF("text")
    val c = F.col("text")
    val out = df.select(c +: counters.flatMap { case (name, got, want) =>
      Seq(got(c).as(s"got_$name"), want(c).as(s"want_$name"))
    }: _*)
    counters.foreach { case (name, _, _) =>
      assert(out.schema(s"got_$name").dataType == out.schema(s"want_$name").dataType,
        s"$name result type")
    }
    val rows = out.collect()
    assert(rows.length == texts.length)
    rows.foreach { row =>
      counters.foreach { case (name, _, _) =>
        val got = row.getAs[Any](s"got_$name")
        val want = row.getAs[Any](s"want_$name")
        assert(got == want, s"$name on ${Option(row.getString(0)).map(_.map(_.toInt))}")
      }
    }
  }

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"char-class and line counters == the regexp forms they replaced ($mode)") {
      val conf = spark.conf
      val keys = Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage)
      val prev = keys.map { case (k, _) => k -> conf.getOption(k) }
      keys.foreach { case (k, v) => conf.set(k, v) }
      try assertCountersMatch()
      finally prev.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

  test("whitespace is Java's \\s: U+000B counts, U+00A0 and U+0085 do not") {
    import spark.implicits._
    val row = spark.sparkContext.parallelize(Seq("a\u000b\u00a0\u0085 \n1!"), 1).toDF("text")
      .select(TextFunctions.wsCount(F.col("text")), TextFunctions.punctCount(F.col("text")),
        TextFunctions.lineCount(F.col("text")))
      .head()
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) == ((3, 3, 2)))
  }
}

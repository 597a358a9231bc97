package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructField, StructType}
import org.scalacheck.{Arbitrary, Gen, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink
import org.scalatest.funsuite.AnyFunSuite

/** `TextFunctions.tokenize` (the native CleanWords byte scanner) is
  * bit-identical to the composed regex tokenizer it replaced, on
  * arbitrary Unicode and on arbitrary bytes cast to string (invalid
  * UTF-8), under whole-stage codegen (`doGenCode`) and fully interpreted
  * (`nullSafeEval`). The composed form lives only here, as the
  * reference. */
class CleanWordsEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The replaced tokenizer: newline → space, delete Python's
    * `string.punctuation`, split on runs of spaces, keep tokens that
    * match Java's `\S`. */
  private def composed(text: Column): Column =
    filter(
      split(regexp_replace(regexp_replace(text, "\\n", " "),
        "[!-/:-@\\[-`{-~]", ""), " +"),
      t => t.rlike("\\S"))

  private val punct = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
  // Java's ASCII \s, Unicode spaces Java's \s does not match, and the
  // separators other whitespace definitions disagree on
  private val spacey =
    " \n\t\u000B\f\r\u00A0\u3000\u2009\u2028\u0085\u001C\u001F"

  private val charGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    4 -> Gen.oneOf(punct).map(_.toString),
    4 -> Gen.oneOf(spacey).map(_.toString),
    1 -> Gen.choose(0, 0x7F).map(_.toChar.toString),
    2 -> Gen.choose(0x80, 0xFFFF).map(_.toChar)
      .filterNot(Character.isSurrogate).map(_.toString),
    1 -> Gen.choose(0x10000, 0x10FFFF)
      .map(cp => new String(Character.toChars(cp))),
    1 -> Arbitrary.arbitrary[Char].map(_.toString))

  private val textGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    8 -> Gen.listOf(charGen).map(_.mkString),
    2 -> Gen.listOf(charGen).map(s => "  " + s.mkString + "  "))

  /** Arbitrary bytes cast to string: well-formed UTF-8 around ONE
    * sequence probing a well-formedness boundary — a lead byte
    * (including never-valid C0/C1/F5/FF and stray continuations) with
    * 0-3 continuation candidates on both sides of the lead's allowed
    * range. One probe per row, because any malformed byte sends the
    * whole row down the normalising path. */
  private val probeGen: Gen[Seq[Byte]] = for {
    lead <- Gen.oneOf(0xC0, 0xC1, 0xC2, 0xDF, 0xE0, 0xE1, 0xED, 0xEE,
      0xEF, 0xF0, 0xF1, 0xF4, 0xF5, 0xFF, 0x80, 0xBF)
    n <- Gen.choose(0, 3)
    tail <- Gen.listOfN(n,
      Gen.oneOf(0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0))
  } yield (lead +: tail).map(_.toByte)

  private val cleanGen: Gen[Seq[Byte]] =
    Gen.listOf(charGen).map(_.mkString.getBytes("UTF-8").toSeq)

  private val bytesGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null),
    9 -> Gen.zip(cleanGen, probeGen, cleanGen)
      .map { case (a, p, b) => (a ++ p ++ b).toArray })

  private val schema = StructType(Seq(
    StructField("text", StringType), StructField("raw", BinaryType)))

  /** An RDD-backed frame: a local Seq would let the optimizer evaluate
    * the projection on the driver instead of in the chosen mode. */
  private def frame(rows: Seq[(String, Array[Byte])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      schema)

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def bytes(r: Row, i: Int): Option[Seq[Seq[Byte]]] =
    if (r.isNullAt(i)) None
    else Some(r.getSeq[Array[Byte]](i).map(_.toSeq))

  /** First (input, native, composed) disagreement in each mode, if any. */
  private def mismatches(rows: Seq[(String, Array[Byte])]): Seq[String] = {
    val df = frame(rows)
    modes.flatMap { case (mode, conf) =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        Seq(col("text"), col("raw").cast("string")).flatMap { text =>
          val q = df.select(text.as("in"),
            TextFunctions.tokenize(text).cast("array<binary>"),
            composed(text).cast("array<binary>"))
          val plan = q.queryExecution.executedPlan.toString
          assert(plan.contains("clean_words"), plan)
          assert(plan.contains("*(") === (mode == "codegen"), plan)
          q.collect().find(r => bytes(r, 1) != bytes(r, 2)).map(r =>
            s"$mode: ${Option(r.getString(0)).map(_.map(_.toInt.toHexString))}" +
              s" native=${bytes(r, 1)} composed=${bytes(r, 2)}")
        }
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }

  test("edge cases: blanks, separators, punctuation, empty and null") {
    val cases = Seq(null, "", " ", "\n", "\t", "\u000B", "\f", "\r",
      "a\tb c", "\t \u000B \f \r", "!!!", "a!b", " .x. ", "  lead",
      "trail  ", "a\nb", "\u00A0", "\u3000", "x\u3000y", "\u001C",
      "\uD83D\uDE00 \uD83D\uDE00!", "mid-word He's 42nd")
    val raw = Seq(null, Array[Byte](), Array(0xFF.toByte),
      Array(0xED, 0xA0, 0x80, 0x20, 0x61).map(_.toByte),
      Array(0x61, 0xF4, 0x90, 0x80, 0x80, 0x2E, 0x62).map(_.toByte),
      Array(0xE2, 0x82, 0x20, 0xC3).map(_.toByte))
    val rows = cases.zipAll(raw, "", null)
    assert(mismatches(rows) === Seq())
  }

  test("native tokenize equals the composed form on arbitrary input") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
    val rowsGen = Gen.listOfN(200, Gen.zip(textGen, bytesGen))
    val res = SCTest.check(params, forAllNoShrink(rowsGen) { rows =>
      val bad = mismatches(rows)
      if (bad.nonEmpty) println(bad.mkString("\n"))
      bad.isEmpty
    })
    assert(res.passed, res.toString)
  }

  test("result schema equals the composed form's") {
    val df = frame(Seq(("a b", null)))
    for (text <- Seq(col("text"), col("raw").cast("string")))
      assert(df.select(TextFunctions.tokenize(text).as("t")).schema ===
        df.select(composed(text).as("t")).schema)
    assert(df.select(TextFunctions.tokenize(col("text"))).schema.head
      .dataType === ArrayType(StringType, containsNull = false))
  }
}

package graft

import graft.operators.WordCount
import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Reference-parity tests per SURVEY.md §5: tokenizer golden cases
  * (verified against /root/reference/client.py:16-21 by execution),
  * spec-multiset round trip (create_unitest_files.py analogue), and the
  * pinned Gutenberg ground truth from BASELINE.md. */
class WordCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tok(s: String): Seq[String] =
    Seq(s).toDF("text")
      .select(TextFunctions.tokenize(col("text")).as("t"))
      .collect()(0).getSeq[String](0)

  test("tokenizer golden cases match reference clean_words") {
    assert(tok("He's here") === Seq("Hes", "here"))
    assert(tok("mid-word") === Seq("midword"))
    assert(tok("end.") === Seq("end"))
    assert(tok("42nd street") === Seq("42nd", "street"))
    // tabs are NOT separators (split is ' +' only)…
    assert(tok("a\tb c") === Seq("a\tb", "c"))
    // …but whitespace-only tokens are dropped (Python str.strip())
    assert(tok("a \t b") === Seq("a", "b"))
    assert(tok("  multi   spaces  ") === Seq("multi", "spaces"))
    assert(tok("") === Seq())
    assert(tok("!!!") === Seq())
    // all 32 string.punctuation chars are deleted
    assert(tok("""a!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~b""") === Seq("ab"))
  }

  test("spec-multiset round trip, case-insensitive and sensitive") {
    // canonical spec from /root/reference/create_unitest_files.py:4-10
    val spec = Seq("Hello" -> 30, "world" -> 351, "World" -> 210,
      "This" -> 98, "is" -> 80, "hello" -> 7, "nonsense" -> 142)
    val rnd = new scala.util.Random(42)
    val words = rnd.shuffle(spec.flatMap { case (w, c) => Seq.fill(c)(w) })
    // split across lines/files unevenly, like the generator does
    val lines = words.grouped(17).map(_.mkString(" ")).toSeq
    val df = lines.toDF("text").repartition(5) // n_files analogue

    val ci = WordCount.wordCount(df, "text", caseSensitive = false)
      .as[(String, Long)].collect().toMap
    assert(ci === Map("hello" -> 37L, "world" -> 561L, "this" -> 98L,
      "is" -> 80L, "nonsense" -> 142L))

    val cs = WordCount.wordCount(df, "text", caseSensitive = true)
      .as[(String, Long)].collect().toMap
    assert(cs === spec.map { case (w, c) => w -> c.toLong }.toMap)
  }

  test("counts invariant under partitioning (degenerate parallelism)") {
    val df = Seq("a b a", "b c").toDF("text")
    for (n <- Seq(1, 3, 64)) { // analogue of n_map/n_reduce > #files/#keys
      val got = WordCount.wordCount(df.repartition(n), "text", false)
        .as[(String, Long)].collect().toMap
      assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    }
  }

  /** The reference's Gutenberg inputs (BASELINE.md ground truth), in the
    * reference checkout beside this repository; tests run from the
    * repository root. Not every host carries that checkout. */
  private val gutenberg = new java.io.File("../reference/inputs")

  test("ground truth: fixture matches DuckDB counts, Gutenberg matches BASELINE.md") {
    // in-repo fixture; expected.jsonl comes from DuckDB running the
    // oracle's tokenizer SQL (tools/wordcount_fixture_counts.py), an
    // implementation independent of the code under test
    val fixture = getClass.getResource("/wordcount_fixture").getPath
    val expected = spark.read.schema("mode STRING, word STRING, cnt LONG")
      .json(s"$fixture/expected.jsonl").as[(String, String, Long)].collect()
    val text = graft.sources.Tables.textDir(spark, fixture)
    for ((mode, cs) <- Seq("ci" -> false, "cs" -> true)) {
      val want = expected.collect { case (`mode`, w, c) => w -> c }.toMap
      assert(want.nonEmpty)
      val got = WordCount.wordCount(text, "line", caseSensitive = cs)
        .as[(String, Long)].collect().toMap
      assert(got === want, s"mode $mode")
    }

    if (gutenberg.isDirectory) {
      val corpus = graft.sources.Tables.textDir(spark, gutenberg.getPath)
      val wc = WordCount.wordCount(corpus, "line", caseSensitive = false).cache()
      assert(wc.agg(sum("cnt")).as[Long].collect()(0) === 608306L)
      assert(wc.count() === 23703L)
      val top = WordCount.topK(corpus, "line", 5).as[(String, Long)].collect()
      assert(top(0) === ("the", 32418L))
      assert(top(1) === ("and", 24366L))
      val cs = WordCount.wordCount(corpus, "line", caseSensitive = true)
      assert(cs.count() === 26308L)
      wc.unpersist()
    }
  }

  test("case sensitivity flips from session conf, like the reference flag") {
    // reference exposes --case-sensitive at runtime (server.py:203-214);
    // here the same switch is a spark.conf key read by the no-param overload
    val df = Seq("Hello hello World world World").toDF("text")
    def run(): Map[String, Long] =
      WordCount.wordCount(df, "text").as[(String, Long)].collect().toMap
    try {
      spark.conf.set(GraftConf.CaseSensitiveKey, "true")
      assert(run() === Map("Hello" -> 1L, "hello" -> 1L,
        "World" -> 2L, "world" -> 1L))
      spark.conf.set(GraftConf.CaseSensitiveKey, "false")
      assert(run() === Map("hello" -> 2L, "world" -> 3L))
      // unset falls back to the reference's default: case-insensitive
      spark.conf.unset(GraftConf.CaseSensitiveKey)
      assert(run() === Map("hello" -> 2L, "world" -> 3L))
    } finally spark.conf.unset(GraftConf.CaseSensitiveKey)
  }
}

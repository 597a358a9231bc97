package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.functions.TextFunctions.tokenize
import graft.operators.{Checkpoints, CorpusAssembly, Dedup, Similarity, TextAnalysis, WordCount}
import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object Parquet {
  /** Row count from a parquet file's footer (no Spark job). */
  def rows(path: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = new org.apache.parquet.hadoop.ParquetFileReader(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try r.getRecordCount finally r.close()
  }
}

object Noop {
  /** Force a frame through the noop sink: every row computed, none kept. */
  def apply(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The reference job: text-dir scan → tokenize → case fold → count. */
final class WordCountText(dir: String) extends Workload {

  private lazy val mb: Double =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".txt"))
      .map(_.length).sum / 1e6

  private def job(c: Ctx): Array[Row] =
    WordCount.wordCount(Tables.textDir(c.s, dir), "line",
      caseSensitive = false).collect()

  def setup(c: Ctx, rep: Int): Unit = { job(c); () }

  def op(c: Ctx, i: Int, group: String): OpRec = {
    if (c.traced) {
      // layer prefixes: scan alone, then scan + tokenize
      val (_, tScan) = c.call(s"$group/scan", "tables.textdir_scan")(
        Noop(Tables.textDir(c.s, dir)))
      val (_, tTok) = c.call(s"$group/tokenize", "functions.tokenize")(
        Noop(WordCount.tokens(Tables.textDir(c.s, dir), "line")))
      Layers.add("tables.textdir_scan_s", tScan)
      Layers.add("functions.tokenize_s", tTok - tScan)
    }
    val (rows, t) = c.call(group, "wordcount.job")(job(c))
    val lines = Main.canonicalRows(rows)
    if (i == 0) Main.writeLines(s"$dir/../result_rows.tsv", lines)
    if (c.traced) {
      Layers.add("wordcount.agg_s",
        t - (Layers.samples("functions.tokenize_s").last +
          Layers.samples("tables.textdir_scan_s").last))
      Layers.add("wordcount.distinct_words", rows.length.toDouble)
    }
    OpRec("job", t, ok = true, c.traced, Main.digest(lines))
  }

  override def finish(c: Ctx): Unit = if (c.traced) {
    val scan = Layers.median("tables.textdir_scan_s")
    val tok = Layers.median("functions.tokenize_s")
    if (scan > 0) Layers.add("tables.scan_mb_per_s_core", mb / (scan * c.cores))
    if (tok > 0) Layers.add("functions.tokenize_mb_per_s_core", mb / (tok * c.cores))
  }

  override def results: Map[String, Any] = Map(
    "oracle_sql" -> graft.SparkEntry.oracleSql("wordcount_textdir"),
    "input_mb" -> mb)
}

/** The LLM-data capstone at its production (LSH) dedup tier. */
final class CorpusAssemblyLsh(dir: String) extends Workload {
  private val tau = CorpusAssembly.LshGateTau

  private lazy val nDocs: Long = Parquet.rows(s"$dir/documents.parquet")

  private def job(c: Ctx): Array[Row] =
    CorpusAssembly.corpusAssembly(c.s, dir, tau = tau, lshTier = true)
      .collect()

  def setup(c: Ctx, rep: Int): Unit = { job(c); () }

  /** Stages 1-2 of the assembly (quality gate, scrub, exact dedup) from
    * the same public expressions, materialized: the dedup layer spans
    * below start from this frame. */
  private def curated(c: Ctx): DataFrame = {
    val docs = Tables.documents(c.s, dir)
    val kept = docs
      .filter(TextAnalysis.qualityExpr(tokenize(col("text"))) >=
        CorpusAssembly.DefaultMinQuality)
      .select(col("doc_id"), TextAnalysis.scrubExpr(col("text")).as("text"))
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Checkpoints.scratch(kept.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn"))
  }

  def op(c: Ctx, i: Int, group: String): OpRec = {
    if (c.traced) {
      val docs = Tables.documents(c.s, dir)
      val (_, tScan) = c.call(s"$group/scan", "tables.documents_scan")(
        Noop(docs.select("doc_id", "text")))
      val (_, tTok) = c.call(s"$group/tokenize", "functions.tokenize")(
        Noop(docs.select(tokenize(col("text")))))
      val (_, tMh) = c.call(s"$group/minhash", "functions.minhash")(
        Noop(docs.select(Dedup.minhashSignature(col("text"), 32))))
      Layers.add("functions.tokenize_s", tTok - tScan)
      Layers.add("functions.minhash_s", tMh - tScan)
      val (docsText, _) = c.call(s"$group/curate", "assembly.curate")(curated(c))
      def cand = Dedup.minhashLshPairs(docsText, 32, 8, 0.4)
      def verified = Dedup.jaccardVerifyPairs(docsText, cand, tau)
      val (nCand, tCand) = c.call(s"$group/lsh", "dedup.lsh_candidates")(
        cand.count())
      val (nVer, tVer) = c.call(s"$group/verify", "dedup.verify")(
        verified.count())
      val (_, tComp) = c.call(s"$group/components", "dedup.components")(
        Dedup.connectedComponentsStar(verified.select("id_a", "id_b")).count())
      Layers.add("dedup.lsh_candidates", nCand.toDouble)
      Layers.add("dedup.lsh_candidates_s", tCand)
      Layers.add("dedup.verified_pairs", nVer.toDouble)
      Layers.add("dedup.verify_s", tVer - tCand)
      Layers.add("dedup.lsh_precision", if (nCand > 0) nVer.toDouble / nCand else 0.0)
      Layers.add("dedup.components_s", tComp - tVer)
      pendingComponentsGroups += (s"$group/components" -> s"$group/verify")
    }
    val (rows, t) = c.call(group, "assembly.job")(job(c))
    val lines = Main.canonicalRows(rows)
    if (i == 0) Main.writeLines(s"$dir/../result_rows.tsv", lines)
    if (c.traced)
      Layers.add("assembly.survivors", rows.map(_.getAs[Long]("doc_id")).distinct.length.toDouble)
    OpRec("job", t, ok = true, c.traced, Main.digest(lines))
  }

  // (components group, verify group) pairs whose job counts are read
  // once the listener has drained
  private val pendingComponentsGroups = ArrayBuffer.empty[(String, String)]

  override def drained(l: OpListener): Unit = {
    pendingComponentsGroups.foreach { case (comp, ver) =>
      Layers.add("dedup.components_jobs", (l.of(comp).jobs - l.of(ver).jobs).toDouble)
    }
    pendingComponentsGroups.clear()
  }

  override def results: Map[String, Any] = Map(
    "oracle_sql" -> graft.SparkEntry.oracleSql("corpus_assembly_lsh"),
    "docs" -> nDocs)
}

/** Reads and writes on the versioned ANN index store: a fixed mix of 4
  * probe batches to 1 append (+ the compaction policy it may trigger). */
final class IndexServeAppend(dir: String) extends Workload {
  private val k = 10
  // compaction policy threshold: an append that brings the store to two
  // files per occupied cell compacts, so every append of a run pays the
  // compaction stall it causes (the default of 4 would need more appends
  // than a run holds)
  private val FilesPerCell = 2.0
  private var rep = 0
  private var root = ""
  private var base = ""
  private var nBase = 0L
  private var appended = 0
  private val nInc: Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("inc_"))
  private lazy val incRows: Long = Parquet.rows(incPath(0))
  /** Query batches, parsed without Spark: batch → (vec_id, embedding). */
  private val queries: Map[Int, Seq[Row]] = {
    val src = scala.io.Source.fromFile(s"$dir/queries.tsv", "UTF-8")
    try src.getLines().map(_.split("\t")).toSeq
      .groupBy(_(0).toInt).view
      .mapValues(_.map(f => Row(f(1).toLong,
        f(2).split(",").map(_.toFloat).toSeq)))
      .toMap
    finally src.close()
  }
  private val probeLog = ArrayBuffer.empty[Map[String, Any]]
  private var fired = 0

  private def incPath(j: Int) = f"$dir/inc_$j%03d.parquet"

  /** The raw vectors the exact re-rank reads: base + increments so far. */
  private def emb(c: Ctx): DataFrame =
    c.s.read.parquet(base +: (0 until appended).map(incPath): _*)

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().map(x => dirBytes(x.getPath)).sum
    else f.length
  }

  def setup(c: Ctx, rep: Int): Unit = {
    this.rep = rep
    base = f"$dir/base_$rep%d.parquet"
    root = s"$dir/store_$rep"
    appended = 0
    val df = c.s.read.parquet(base)
    val (snap, tBuild) = c.call("setup/build", "store.build")(
      IndexStore.build(c.s, root, df,
        cellsOverride = Some(Similarity.benchSizedCells(Parquet.rows(base)))))
    nBase = snap.nRows
    Layers.add("store.build_s", tBuild)
    probe(c, 0, "setup/probe")
    ()
  }

  private def queryFrame(c: Ctx, batch: Int): DataFrame =
    c.s.createDataFrame(
      java.util.Arrays.asList(queries(batch): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))

  /** One probe batch: open → probe cells → read those cells' codes →
    * serve top-k. Returns the served (query_id, nn_id, rn) rows and the
    * probe's seconds. */
  private def probe(c: Ctx, i: Int, group: String): (Array[Row], Double) = {
    val batch = i % queries.size
    val q = queryFrame(c, batch)
    val (rows, t) = c.call(group, "index.probe") {
      val (snap, tOpen) = c.tracer.span("store.open")(IndexStore.open(c.s, root))
      val rr = Similarity.scaledRerank(snap.nRows)
      val np = Similarity.scaledNprobe(snap.nRows, snap.cells, rr)
      val (wanted, tCells) = c.tracer.span("similarity.probe_cells")(
        Similarity.probeCellSet(snap.cents, q, np))
      val codes = IndexStore.codesForCells(c.s, root, snap, wanted)
      val (rows, tServe) = c.tracer.span("similarity.serve")(
        Similarity.knnIvfPqServe(emb(c), codes, snap.cents, snap.cb, q,
          k, np, rr).collect())
      if (c.traced) {
        Layers.add("store.open_s", tOpen)
        Layers.add("similarity.probe_cells_s", tCells)
        Layers.add("similarity.serve_s", tServe)
        Layers.add("store.files_live", snap.files.size.toDouble)
        Layers.add("store.files_per_probe", snap.fileCells.count(wanted).toDouble)
      }
      rows
    }
    probeLog += Map("batch" -> batch, "appended" -> appended, "rep" -> rep,
      "rows" -> rows.map(r => Seq(r.getAs[Long]("query_id"),
        r.getAs[Long]("nn_id"), r.getAs[Int]("rn").toLong)))
    (rows, t)
  }

  override def cycle: Int = 5

  def op(c: Ctx, i: Int, group: String): OpRec =
    if (i % 5 == 4 && appended < nInc) append(c, group)
    else {
      val (_, t) = probe(c, i, group)
      OpRec("probe", t, ok = true, c.traced,
        detail = Map("probe" -> (probeLog.size - 1)))
    }

  private def append(c: Ctx, group: String): OpRec = {
    val inc = c.s.read.parquet(incPath(appended))
    val before = dirBytes(root)
    val expected = nBase + (appended + 1) * incRows
    if (c.traced) {
      // prefix: encoding the increment under the frozen models alone
      val snap = IndexStore.open(c.s, root)
      val (_, tEnc) = c.call(s"$group/encode", "similarity.append_encode")(
        Noop(Similarity.ivfPqAppend(snap.cents, snap.cb, inc)))
      Layers.add("similarity.append_encode_s", tEnc)
    }
    val ((ok, didCompact, tApp), t) = c.call(group, "index.append") {
      val (snap, tApp) = c.tracer.span("store.append")(
        IndexStore.append(c.s, root, inc))
      val ((after, f), tCompact) = c.tracer.span("store.compact")(
        IndexStore.maybeCompact(c.s, root, filesPerCell = FilesPerCell))
      if (c.traced && f) Layers.add("store.compact_s", tCompact)
      (snap.nRows == expected && after.nRows == expected, f, tApp)
    }
    appended += 1
    if (didCompact) fired += 1
    if (c.traced) {
      Layers.add("store.append_s",
        tApp - Layers.samples("similarity.append_encode_s").last)
      Layers.add("store.bytes_written_per_user_byte",
        (dirBytes(root) - before).toDouble / (incRows * (8 + 64 * 4)))
    }
    OpRec("append", t, ok, c.traced, detail = Map("compacted" -> didCompact))
  }

  override def finish(c: Ctx): Unit =
    if (c.traced) Layers.add("store.compactions", fired.toDouble)

  override def results: Map[String, Any] =
    Map("probes" -> probeLog, "k" -> k)
}

package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

/** One timed operation of the closed loop. `digest` is the canonical
  * hash of the result the operation returned, checked against the
  * oracle by the runner. */
final case class OpRec(kind: String, seconds: Double, ok: Boolean,
                       traced: Boolean, digest: String = "",
                       detail: Map[String, Any] = Map.empty)

/** Everything a workload needs from the loop. `traced` is on for
  * the traced half of a traced run: layer spans are kept, the listener
  * files Spark counters per job group, and layer samples are recorded. */
final class Ctx(val s: SparkSession, val tracer: Tracer,
                val traced: Boolean, val cores: Int) {
  /** Run `body` under its own job group (so its Spark counters are
    * separable) and as a span; returns its result and seconds. */
  def call[A](group: String, name: String)(body: => A): (A, Double) = {
    val sc = s.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try tracer.span(name)(body) finally sc.clearJobGroup()
  }
}

/** Per-layer samples, one list per metric; reported as medians. */
object Layers {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def median(name: String): Double =
    samples.get(name).filter(_.nonEmpty).map(Stats.median).getOrElse(0.0)
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else if (v.length % 2 == 1) v(v.length / 2)
    else (v(v.length / 2 - 1) + v(v.length / 2)) / 2
  }
}

trait Workload {
  /** A fresh session's first, cold operation (setup repetition `rep`). */
  def setup(c: Ctx, rep: Int): Unit
  /** Operations per mix cycle: the loop only stops between cycles, so a
    * run always holds whole cycles of the workload's fixed mix. */
  def cycle: Int = 1
  /** One closed-loop operation; `i` counts operations from 0. */
  def op(c: Ctx, i: Int, group: String): OpRec
  /** Derived per-layer metrics, computed once after the loop. */
  def finish(c: Ctx): Unit = ()
  /** Called in a traced run once the listener has seen every event of
    * the operation just run. */
  def drained(l: OpListener): Unit = ()
  /** Extra fields for the result file (oracle SQL, probe log, ...). */
  def results: Map[String, Any] = Map.empty
}

/** The benchmark's JVM half: set up a session (several times; setup_s is
  * their median), then run the workload's operations in a closed loop,
  * one client thread, for the given seconds. Inputs are generated by the
  * runner beforehand; results go to `--out` as one JSON object for the
  * runner to check against the oracles.
  *
  * Args: --workload NAME --work DIR --seconds N --trace 0|1
  *       --setups N --cores N --out FILE */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    val work = a("--work")
    val seconds = a("--seconds").toDouble
    val traced = a("--trace") == "1"
    val setups = a("--setups").toInt
    val cores = a("--cores").toInt

    val w: Workload = workload match {
      case "wordcount_text" => new WordCountText(s"$work/text")
      case "corpus_assembly_lsh" => new CorpusAssemblyLsh(s"$work/corpus")
      case "index_serve_append" => new IndexServeAppend(s"$work/index")
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer(traced)

    var s: SparkSession = null
    val setupS = ArrayBuffer.empty[Double]
    for (rep <- 0 until setups) {
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      s = session(work, cores)
      val tSession = (System.nanoTime() - t0) / 1e9
      Layers.add("session.start_s", tSession)
      // setups record spans but no layer samples: their cold first
      // operations would skew the steady-state layer medians
      w.setup(new Ctx(s, tracer, traced = false, cores), rep)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val sc = s.sparkContext
    val plain = new Ctx(s, new Tracer(false), traced = false, cores)
    val deep = new Ctx(s, tracer, traced = true, cores)
    val listener = new OpListener(sc)
    val ops = ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i % w.cycle != 0 || System.nanoTime() < deadline) {
      if (!traced) ops += w.op(plain, i, s"op-$i")
      else {
        // untraced twin first: the traced run's own overhead baseline
        ops += w.op(plain, i, s"op-$i")
        i += 1
        sc.addSparkListener(listener)
        tracer.newTrace()
        val r = w.op(deep, i, s"op-$i")
        listener.drain()
        w.drained(listener)
        sc.removeSparkListener(listener)
        ops += r
        sparkLayers(listener.of(s"op-$i"), r.seconds, cores)
      }
      i += 1
    }
    w.finish(deep)

    if (traced) {
      // overhead: traced vs untraced medians of the dominant kind
      val kind = ops.groupBy(_.kind).maxBy(_._2.size)._1
      def med(t: Boolean) =
        Stats.median(ops.filter(o => o.kind == kind && o.traced == t)
          .map(_.seconds))
      val (mt, mu) = (med(true), med(false))
      Layers.add("trace.overhead_frac", if (mu > 0) mt / mu - 1 else 0.0)
      System.gc(); System.gc()
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      Layers.add("jvm.retained_heap_mb", mx.getHeapMemoryUsage.getUsed / 1e6)
      tracer.write(s"$work/spans.jsonl")
    }

    val out = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
        "ok" -> o.ok, "traced" -> o.traced, "digest" -> o.digest) ++ o.detail),
      "peak_rss_mb" -> peakRssMb,
      "layers" -> Layers.samples.keys.map(k => k -> Layers.median(k)).toMap,
      "layer_samples" -> Layers.samples.map { case (k, v) => k -> v.size }.toMap
    ) ++ w.results
    val pw = new java.io.PrintWriter(a("--out"), "UTF-8")
    try pw.print(Json.render(out)) finally pw.close()
    s.stop()
  }

  private def session(work: String, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark engine layer samples of one traced operation. */
  private def sparkLayers(a: OpListener#Acc, wall: Double, cores: Int): Unit = {
    Layers.add("spark.jobs", a.jobs.toDouble)
    Layers.add("spark.stages", a.stages.toDouble)
    Layers.add("spark.tasks", a.tasks.toDouble)
    Layers.add("spark.scheduler_wait_s", a.schedWaitMs / 1e3)
    Layers.add("spark.executor_run_s", a.runMs / 1e3)
    Layers.add("spark.executor_cpu_s", a.cpuNs / 1e9)
    Layers.add("spark.busy_frac", if (wall > 0) a.runMs / 1e3 / (wall * cores) else 0.0)
    Layers.add("spark.shuffle_write_bytes", a.shuffleWrite.toDouble)
    Layers.add("spark.shuffle_read_bytes", a.shuffleRead.toDouble)
    Layers.add("spark.shuffle_records", a.shuffleRecords.toDouble)
    Layers.add("spark.spill_bytes", a.spill.toDouble)
    Layers.add("spark.peak_exec_mem_mb", a.peakExecMem / 1e6)
    Layers.add("spark.gc_s", a.gcMs / 1e3)
    Layers.add("spark.input_bytes", a.inputBytes.toDouble)
    Layers.add("spark.task_failures", a.taskFailures.toDouble)
  }

  /** VmHWM of this JVM, in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1e3
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Order-independent digest of a result: each row's values in
    * column-name order, tab-joined (null as \N), rows sorted, SHA-256. */
  def canonicalRows(rows: Array[Row]): Array[String] =
    if (rows.isEmpty) Array.empty
    else {
      val names = rows.head.schema.fieldNames
      val order = names.indices.sortBy(names(_)).toArray
      rows.map(r => order.map(j =>
        if (r.isNullAt(j)) "\\N" else r.get(j).toString).mkString("\t"))
        .sorted
    }

  def digest(lines: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def writeLines(path: String, lines: Array[String]): Unit = {
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
  }
}

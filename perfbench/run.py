#!/usr/bin/env python3
"""Seeded benchmark of the graft library: three workloads driven through
its public functions in one JVM (Spark local[4], one client thread, closed
loop). See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones. The lines before it
are a human-readable report. `--workload all` runs every workload untraced
and traced and prints the report of each.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
SETUPS = 3  # setups per run; setup_s is their median
JVM_TIMEOUT_S = 165

# input sizes per workload (the generators take the seed)
WORDCOUNT_MB = 24
CORPUS_DOCS = 2_000
INDEX = dict(n_base=1_000, n_inc=24, inc_size=100, n_batches=64, batch=1)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


def generate(workload, work, seed):
    if workload == "wordcount_text":
        return gen.wordcount_text(f"{work}/text", seed, WORDCOUNT_MB), None
    if workload == "corpus_assembly_lsh":
        return gen.corpus(f"{work}/corpus", seed, CORPUS_DOCS), None
    return gen.index(f"{work}/index", seed, setups=SETUPS, **INDEX)


def run_jvm(workload, work, seconds, trace):
    out = f"{work}/result.json"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # fixed, pre-touched heap: peak RSS then moves with what the JVM keeps
    # beyond the heap, not with how far the collector grew the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", workload, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--setups", str(SETUPS), "--cores", str(CORES), "--out", out])
    with open(f"{work}/jvm.log", "w") as logf:
        try:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(f"{work}/jvm.log", errors="replace") as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail + f"\nperfbench: JVM failed ({code})\n")
        raise SystemExit(1)
    with open(out) as fh:
        return json.load(fh)


def tail_percentile(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None, None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def run(workload, seed, seconds, trace, spec):
    root_work = os.path.abspath(os.path.join(build.BUILD, "work"))
    work = os.path.join(root_work, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        fp, data = generate(workload, work, seed)
        gen_s = time.perf_counter() - t0
        log(f"[{workload}] seed {seed}: input bytes={fp['bytes']} "
            f"rows={fp['rows']} vocab={fp['vocab']} "
            f"planted_pairs={fp['planted_pairs']} (generated in {gen_s:.2f} s,"
            f" not part of setup_s)")
        res = run_jvm(workload, work, seconds, trace)
        if trace:
            spans = os.path.join(build.BUILD, f"spans-{workload}-{seed}.jsonl")
            shutil.move(f"{work}/spans.jsonl", spans)
            log(f"[{workload}] spans written to {spans}")
        if workload == "index_serve_append":
            recall = oracle.check_index(res, data)
        else:
            recall = oracle.check_table(res, work, workload)
        return report(workload, res, recall, trace, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, res, recall, trace, spec):
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    plain = [o["s"] for o in ops if not o["traced"]]
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": statistics.median(plain),
        "op_mean_s": statistics.fmean(plain),
        "recall": recall,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    log(f"[{workload}] setup_s {e2e['setup_s']:.3f} s (median of "
        f"{len(res['setup_s'])}: {', '.join(f'{x:.2f}' for x in res['setup_s'])})")
    log(f"[{workload}] op_p50_s {e2e['op_p50_s']:.3f} s, op_mean_s "
        f"{e2e['op_mean_s']:.3f} s (n={len(plain)} untraced ops: "
        f"{', '.join(f'{x:.2f}' for x in plain)})")

    def by_kind(kind):
        return [o["s"] for o in ops if o["kind"] == kind and not o["traced"]]

    if workload == "wordcount_text":
        jobs = by_kind("job")
        log(f"[{workload}] wordcount_mb_per_s "
            f"{res['input_mb'] / statistics.median(jobs):.2f} MB/s "
            f"({res['input_mb']:.1f} MB / median of n={len(jobs)} jobs)")
    elif workload == "corpus_assembly_lsh":
        jobs = by_kind("job")
        log(f"[{workload}] assembly_docs_per_s "
            f"{res['docs'] / statistics.median(jobs):.1f} docs/s "
            f"({res['docs']} docs / median of n={len(jobs)} jobs)")
    else:
        probes, appends = by_kind("probe"), by_kind("append")
        tail, pct = tail_percentile(probes)
        log(f"[{workload}] probe_p50_s {statistics.median(probes):.3f} s "
            f"(n={len(probes)}); probe_tail_s "
            + (f"{tail:.3f} s (p{pct:.0f})" if tail is not None
               else "n/a (fewer than 11 probes)"))
        if appends:
            log(f"[{workload}] append_p50_s {statistics.median(appends):.3f} s "
                f"(n={len(appends)}, "
                f"{sum(1 for o in ops if o.get('compacted'))} compactions)")
        log(f"[{workload}] recall_at_10 {recall:.4f}")
    log(f"[{workload}] peak_rss_mb {e2e['peak_rss_mb']:.0f} MB; error_rate "
        f"{failed / len(ops):.4f} ({failed} of {len(ops)} ops failed or wrong)")

    if trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        for m in spec["per_layer"]:
            log(f"[{workload}]   {m['name']:<40} {metrics[m['name']]['value']:.6g}"
                f" {m['unit']} (n={res['layer_samples'].get(m['name'], 0)})")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from the repository root (src/main/scala missing)")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    build.build()
    if a.workload == "all":
        for w in names:
            for t in (0, 1):
                print(json.dumps(run(w, a.seed, a.seconds, t, spec)))
        return
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace, spec)))


if __name__ == "__main__":
    main()

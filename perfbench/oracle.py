"""Independent correctness checks for the benchmark's results.

- wordcount_text and corpus_assembly_lsh: the program's own oracle SQL
  (SparkEntry.oracleSql, exported by the JVM half) runs in DuckDB over the
  generated inputs; every operation's result digest must equal the
  oracle's, and the first result is also compared row by row.
- index_serve_append: brute-force top-10 by cosine in numpy over the live
  vectors of each probe; a probe must return exactly k distinct live ids per
  query (its recall is reported, not required to be 1).
"""
import collections
import hashlib
import re

import duckdb
import numpy as np


def canonical(rows, names):
    """Row strings in column-name order, sorted as the JVM sorts them."""
    order = sorted(range(len(names)), key=lambda j: names[j])
    lines = ["\t".join("\\N" if r[j] is None else str(r[j]) for j in order)
             for r in rows]
    return sorted(lines, key=lambda s: s.encode("utf-16-be"))


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def materialized(sql):
    """The same query with every plain CTE marked MATERIALIZED: DuckDB
    otherwise re-evaluates a CTE at each reference, which makes the
    multi-stage oracles superlinear (same rows either way)."""
    return re.sub(r"^(\s*(?:WITH RECURSIVE\s+|WITH\s+)?)([a-z0-9_]+) AS \(",
                  r"\1\2 AS MATERIALIZED (", sql, flags=re.M)


def _oracle_lines(work, view_sql, oracle_sql):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/tmp'")
    con.execute(view_sql)
    cur = con.execute(materialized(oracle_sql))
    names = [d[0] for d in cur.description]
    lines = canonical(cur.fetchall(), names)
    con.close()
    return lines


def check_table(res, work, workload):
    """Mark each op ok/not ok against the oracle; return row recall of the
    first result."""
    if workload == "wordcount_text":
        # whole-file text: the tokenizer folds newlines to spaces, so the
        # token multiset equals the line-by-line scan's
        view = (f"CREATE VIEW documents AS SELECT content AS text "
                f"FROM read_text('{work}/text/*.txt')")
    else:
        view = (f"CREATE VIEW documents AS SELECT * "
                f"FROM read_parquet('{work}/corpus/documents.parquet')")
    want = _oracle_lines(work, view, res["oracle_sql"])
    want_digest = digest(want)
    for op in res["ops"]:
        op["ok"] = op["ok"] and op["digest"] == want_digest
    with open(f"{work}/result_rows.tsv", encoding="utf-8") as fh:
        got = collections.Counter(fh.read().split("\n")[:-1])
    ref = collections.Counter(want)
    return sum((got & ref).values()) / max(1, sum(ref.values()))


def check_index(res, data):
    """Mark probe ops ok/not ok; return mean recall@k over loop probes."""
    k = res["k"]
    qn = data["queries"] / np.linalg.norm(data["queries"], axis=1,
                                          keepdims=True)
    batch = data["batch"]
    live_cache = {}

    def live(rep, appended):
        key = (rep, appended)
        if key not in live_cache:
            v = np.vstack([data["bases"][rep]] + data["incs"][:appended])
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            live_cache.clear()
            live_cache[key] = v
        return live_cache[key]

    probe_ok, probe_recall = [], []
    for p in res["probes"]:
        v = live(p["rep"], p["appended"])
        n_live = len(v)
        served = collections.defaultdict(list)
        for qid, nn, rn in p["rows"]:
            served[qid].append((rn, nn))
        b = p["batch"]
        ok, hits = True, 0
        for j in range(batch):
            qi = b * batch + j
            got = sorted(served.get(int(data["qids"][qi]), []))
            ids = [nn for _, nn in got]
            ok &= ([rn for rn, _ in got] == list(range(1, k + 1))
                   and len(set(ids)) == k
                   and all(0 <= nn < n_live for nn in ids))
            sims = v @ qn[qi]
            top = np.lexsort((np.arange(n_live), -sims))[:k]
            hits += len(set(ids) & set(top.tolist()))
        probe_ok.append(ok)
        probe_recall.append(hits / (k * batch))
    loop = [op for op in res["ops"] if op["kind"] == "probe"]
    for op in loop:
        op["ok"] = op["ok"] and probe_ok[op["probe"]]
    recalls = [probe_recall[op["probe"]] for op in loop]
    return float(np.mean(recalls)) if recalls else 0.0

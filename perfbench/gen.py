"""Seeded input generators for the three workloads.

Every generator takes the workload seed, writes its inputs under the given
directory and returns a fingerprint (bytes, rows, vocabulary size, planted
pairs) so two runs can be seen to have received inputs of the same shape.
The same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _words(rng, n, lo=2, hi=10):
    """n distinct lowercase ASCII words, in the order first drawn."""
    out = {}
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(lo, hi + 1, size=m)
        chars = rng.integers(0, 26, size=(m, hi)).astype(np.uint8) + ord("a")
        for row, ln in zip(chars, lens):
            out.setdefault(row[:ln].tobytes().decode("ascii"), None)
            if len(out) == n:
                break
    return list(out)


def _zipf_cdf(n, s):
    w = 1.0 / np.power(np.arange(1, n + 1) + 2.7, s)
    c = np.cumsum(w)
    return c / c[-1]


# --------------------------------------------------------------------------
# wordcount_text: a directory of *.txt files, Zipf vocabulary, tokenizer
# edge cases (in-word punctuation, tabs, runs of spaces, case collisions)

def wordcount_text(out, seed, total_mb, n_files=64, vocab=50_000):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    base = _words(rng, vocab)
    # a few vocabulary entries carry a digit or a non-ASCII letter
    for i in rng.choice(vocab, size=vocab // 100, replace=False):
        base[i] = f"{rng.integers(1, 100)}{base[i][:3]}"
    for i in rng.choice(vocab, size=vocab // 100, replace=False):
        base[i] = base[i][:1] + "é" + base[i][1:]

    def punct(w):
        p = "'-._,!?"[rng.integers(0, 7)]
        m = int(rng.integers(1, len(w))) if len(w) > 1 else 1
        return w[:m] + p + w[m:]

    # surface forms per word: as is, Capitalized, UPPER, punctuated
    surf = np.array([f for w in base
                     for f in (w, w.capitalize(), w.upper(), punct(w))],
                    dtype=object)
    var_cdf = np.cumsum([0.86, 0.07, 0.02, 0.05])
    seps = np.array([" ", "  ", "   ", "\t", " \t ", "\n"], dtype=object)
    sep_cdf = np.cumsum([0.86, 0.03, 0.01, 0.015, 0.015, 0.07])
    sep_cdf[-1] = 1.0

    # token count from the expected UTF-8 bytes per token, so every seed
    # writes the same number of bytes whatever its word lengths
    cdf = _zipf_cdf(vocab, 1.07)
    var_p = np.diff(var_cdf, prepend=0.0)
    sep_p = np.diff(sep_cdf, prepend=0.0)
    surf_len = np.array([len(f.encode("utf-8")) for f in surf]).reshape(-1, 4)
    per_tok = (np.diff(cdf, prepend=0.0) @ (surf_len @ var_p)
               + sep_p @ np.array([len(x) for x in seps]))
    n_tok = int(total_mb * 1e6 / per_tok)
    word = np.searchsorted(cdf, rng.random(n_tok))
    var = np.searchsorted(var_cdf, rng.random(n_tok))
    var = np.minimum(var, 3)
    sep = np.searchsorted(sep_cdf, rng.random(n_tok))
    toks = surf[word * 4 + var]
    # file 0 is empty (edge case); the rest share the token stream
    bounds = np.linspace(0, n_tok, n_files, dtype=np.int64)
    nbytes, lines = 0, 0
    open(os.path.join(out, "part-000.txt"), "w").close()
    for f in range(1, n_files):
        a, b = bounds[f - 1], bounds[f]
        seq = np.empty(2 * (b - a), dtype=object)
        seq[0::2] = toks[a:b]
        seq[1::2] = seps[sep[a:b]]
        seq[-1] = "\n"
        text = "".join(seq.tolist())
        data = text.encode("utf-8")
        with open(os.path.join(out, f"part-{f:03d}.txt"), "wb") as fh:
            fh.write(data)
        nbytes += len(data)
        lines += text.count("\n")
    return {"bytes": nbytes, "rows": lines, "vocab": vocab,
            "planted_pairs": 0, "files": n_files}


# --------------------------------------------------------------------------
# corpus_assembly_lsh: documents.parquet in 4 languages with planted exact
# duplicates, near-duplicate chains (one-word edits, J >= 0.9) and
# benchmark-range ids (doc_id < 50) whose 8-grams contaminate other docs

def corpus(out, seed, n_docs, bench_ids=50, lang_vocab=20_000):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    langs = ["en", "zh", "de", "fr"]
    lang_p = np.cumsum([0.45, 0.2, 0.2, 0.15])
    # uniform vocabularies: two unrelated docs share almost no word
    # bigram, which keeps the oracle's all-pairs Jaccard join linear
    vocabs = {lg: np.array(_words(rng, lang_vocab, 3, 9), dtype=object)
              for lg in langs}

    def fresh(lg):
        n = int(rng.integers(100, 161))
        return list(vocabs[lg][rng.integers(0, lang_vocab, size=n)])

    def edit(toks, lg, avoid):
        t = list(toks)
        while True:
            pos = int(rng.integers(2, len(t) - 2))
            if all(abs(pos - a) > 3 for a in avoid):
                break
        old = t[pos]
        while t[pos] == old:
            t[pos] = vocabs[lg][int(rng.integers(0, lang_vocab))]
        return t, pos

    # the mix of doc kinds is fixed; the seed only shuffles it, so every
    # seed plants the same number of duplicates and chains
    n_plain = bench_ids + 50
    rest = n_docs - n_plain
    n_exact, n_low, n_chain3 = rest * 3 // 100, rest * 3 // 100, rest // 50
    n_chain2 = rest // 50
    n_fresh = rest - n_exact - n_low - 3 * n_chain3 - 2 * n_chain2
    kinds = np.array(["fresh"] * n_fresh + ["exact"] * n_exact
                     + ["low"] * n_low + ["chain2"] * n_chain2
                     + ["chain3"] * n_chain3)
    rng.shuffle(kinds)
    docs = [(lg, fresh(lg)) for lg in
            (langs[int(np.searchsorted(lang_p, x))]
             for x in rng.random(n_plain))]
    planted = {"exact": 0, "near": 0, "contaminated": 0}
    for kind in kinds:
        lg = langs[int(np.searchsorted(lang_p, rng.random()))]
        if kind == "fresh":
            docs.append((lg, fresh(lg)))
        elif kind == "exact":  # exact duplicate of an earlier doc
            docs.append(docs[int(rng.integers(bench_ids, len(docs)))])
            planted["exact"] += 1
        elif kind == "low":  # low quality: a few words repeated
            few = vocabs[lg][rng.integers(0, lang_vocab, size=4)]
            docs.append((lg, list(np.resize(few, 120))))
        else:  # near-duplicate chain, one-word edit per link
            t0 = fresh(lg)
            t1, p1 = edit(t0, lg, [])
            docs += [(lg, t0), (lg, t1)]
            if kind == "chain3":
                docs.append((lg, edit(t1, lg, [p1])[0]))
            planted["near"] += 2 if kind == "chain3" else 1
    docs = docs[:n_docs]
    texts = [" ".join(t) for _, t in docs]
    # benchmark contamination: 40 later docs end with an 8-gram of a
    # benchmark doc; every 10th doc carries an email or a URL to scrub
    for j in rng.choice(np.arange(bench_ids + 50, n_docs), size=40,
                        replace=False):
        b = docs[int(rng.integers(0, bench_ids))][1]
        s = int(rng.integers(0, len(b) - 8))
        texts[j] += " " + " ".join(b[s:s + 8])
        planted["contaminated"] += 1
    for j in range(0, n_docs, 10):
        texts[j] += (f" mail user{j}@example.org" if j % 20 == 0
                     else f" see https://example.org/p/{j}")
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([lg for lg, _ in docs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path)
    return {"bytes": os.path.getsize(path), "rows": n_docs,
            "vocab": len(langs) * lang_vocab,
            "planted_pairs": planted["exact"] + planted["near"],
            "contaminated": planted["contaminated"]}


# --------------------------------------------------------------------------
# index_serve_append: clustered 64-d vectors. One base per setup repetition
# (distinct vectors, so no repetition reuses another's trained models),
# increments to append, and query batches.

def _vectors(rng, centers, n, noise):
    lab = rng.integers(0, len(centers), size=n)
    v = centers[lab] + rng.normal(0, noise, size=(n, centers.shape[1]))
    return v.astype(np.float32), lab.astype(np.int32)


def _write_vectors(path, ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": emb,
                             "label": pa.array(labels, pa.int32())}), path)


def index(out, seed, n_base, setups, n_inc, inc_size, n_batches, batch,
          dim=64, clusters=64, noise=0.05):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    centers = rng.normal(0, 1, size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    bases = []
    for r in range(setups):
        v, lab = _vectors(rng, centers, n_base, noise)
        _write_vectors(os.path.join(out, f"base_{r}.parquet"),
                       np.arange(n_base), v, lab)
        bases.append(v)
    incs = []
    for j in range(n_inc):
        v, lab = _vectors(rng, centers, inc_size, noise)
        ids = n_base + j * inc_size + np.arange(inc_size)
        _write_vectors(os.path.join(out, f"inc_{j:03d}.parquet"), ids, v, lab)
        incs.append(v)
    qv, _ = _vectors(rng, centers, n_batches * batch, noise)
    qid = 10**9 + np.arange(len(qv))
    with open(os.path.join(out, "queries.tsv"), "w") as fh:
        for i, (q, vec) in enumerate(zip(qid, qv)):
            fh.write(f"{i // batch}\t{q}\t" +
                     ",".join(repr(float(x)) for x in vec) + "\n")
    nbytes = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    return ({"bytes": nbytes, "rows": setups * n_base + n_inc * inc_size,
             "vocab": clusters, "planted_pairs": 0},
            {"bases": bases, "incs": incs, "queries": qv, "qids": qid,
             "batch": batch})

#!/usr/bin/env python3
"""Regenerate the expected counts of the in-repo word-count fixture.

The counts come from DuckDB running the oracle's reference tokenizer SQL
(`DuckTokens` in src/main/scala/graft/SparkEntry.scala, read from the
source so there is one copy), not from the Scala tokenizer under test.
`WordCountSpec` compares `WordCount.wordCount` over the fixture's *.txt
files with these counts, case-insensitive and case-sensitive.

The fixture avoids the inputs on which the whitespace definitions in play
disagree (Java `\\s` in the product, RE2 `\\s` here, which lacks `\\x0B`;
Python `str.isspace` in the reference): no token is made only of `\\x0B`,
U+001C-U+001F or Unicode spaces, and no file holds a `\\r`, which the
Spark line reader treats as a line end.

Run from the repository root:

    python3 tools/wordcount_fixture_counts.py
"""
import json
import pathlib
import re

import duckdb

ROOT = pathlib.Path(__file__).resolve().parent.parent
FIXTURE = ROOT / "src/test/resources/wordcount_fixture"
ENTRY = ROOT / "src/main/scala/graft/SparkEntry.scala"


def duck_tokens() -> str:
    src = ENTRY.read_text(encoding="utf-8")
    m = re.search(r'val DuckTokens: String =\s*"""(.*?)"""\.stripMargin',
                  src, re.S)
    if not m:
        raise SystemExit(f"DuckTokens not found in {ENTRY}")
    return "\n".join(re.sub(r"^\s*\|", "", line)
                     for line in m.group(1).splitlines())


def main() -> None:
    for f in FIXTURE.glob("*.txt"):
        if b"\r" in f.read_bytes():
            raise SystemExit(f"{f}: \\r is a line end for Spark, not DuckDB")
    con = duckdb.connect()
    # one row per file: the tokenizer folds \n into a separator, so
    # per-file and per-line rows give the same tokens
    con.execute("CREATE VIEW documents AS SELECT content AS text "
                f"FROM read_text('{FIXTURE}/*.txt')")
    rows = []
    for mode, word in (("ci", "lower(word)"), ("cs", "word")):
        q = (f"SELECT {word} AS word, count(*) AS cnt "
             f"FROM ({duck_tokens()}) t "
             "WHERE regexp_matches(word, '\\S') GROUP BY 1 ORDER BY 1")
        rows += [{"mode": mode, "word": w, "cnt": c}
                 for w, c in con.execute(q).fetchall()]
    out = FIXTURE / "expected.jsonl"
    out.write_text("".join(json.dumps(r, ensure_ascii=False) + "\n"
                           for r in rows), encoding="utf-8")
    for mode in ("ci", "cs"):
        sel = [r for r in rows if r["mode"] == mode]
        print(f"{mode}: {len(sel)} distinct, "
              f"{sum(r['cnt'] for r in sel)} tokens")
    print(f"wrote {out.relative_to(ROOT)}")


if __name__ == "__main__":
    main()

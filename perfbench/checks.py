"""Correctness checks against DuckDB, independent of Spark.

WordCount sink outputs are compared with the program's own `wordcount`
oracle SQL run by DuckDB over the same line file; registry rows with
their oracle SQL over the registry's data directory, by the rules of
``scripts/check.py``: sort columns by name, then compare exactly.
"""
import hashlib
import os
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tmp: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _bucket_files(out: Path) -> dict:
    """bucket id -> part files of a `WordCountOutput.write` directory."""
    files = {}
    for d in sorted(out.glob("bucket=*")):
        files[int(d.name.split("=", 1)[1])] = sorted(
            p for p in d.iterdir() if p.is_file() and not p.name.startswith((".", "_")))
    return files


def _digest(out: Path) -> dict:
    return {b: sorted(hashlib.sha256(p.read_bytes()).hexdigest() for p in fs)
            for b, fs in _bucket_files(out).items()}


def check_wordcount(con, line_file: str, oracle_sql: str, reducers: int, outs: list,
                    tokens: int = None) -> list:
    """Check sink outputs of one line file. The first output is compared
    with the oracle row by row; later ones must match it byte for byte
    per bucket. Returns (output, problem) pairs; empty means correct.
    """
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM read_csv("
        f"'{line_file}', columns={{'text': 'VARCHAR'}}, header=false, delim='\t', "
        "quote='', escape='', auto_detect=false)")
    con.execute(f"CREATE OR REPLACE TABLE expected AS {oracle_sql}")
    problems = []
    if tokens is not None:
        total = con.sql("SELECT coalesce(sum(cnt), 0) FROM expected").fetchone()[0]
        if total != tokens:
            problems.append(("tokens", f"intermediatePairCount {tokens} != oracle {total}"))
    if not outs:
        return problems
    first = Path(outs[0])
    files = _bucket_files(first)
    if not files:
        return problems + [(str(first), "no bucket files")]
    rows = []
    for b, fs in files.items():
        for p in fs:
            words = [ln.split(b" ", 1)[0] for ln in p.read_bytes().splitlines()]
            if any(a >= c for a, c in zip(words, words[1:])):
                problems.append((str(p), "not sorted by word within the reducer file"))
            rows.append(f"SELECT {b} AS bucket, * FROM read_csv('{p}', "
                        "columns={'word': 'VARCHAR', 'cnt': 'BIGINT'}, header=false, "
                        "delim=' ', quote='', escape='', auto_detect=false)")
    con.execute("CREATE OR REPLACE TABLE got AS " + " UNION ALL ".join(rows))
    r = reducers
    bad = con.sql(f"""
        SELECT
          (SELECT count(*) FROM (SELECT word, cnt FROM expected
                                 EXCEPT ALL SELECT word, cnt FROM got)),
          (SELECT count(*) FROM (SELECT word, cnt FROM got
                                 EXCEPT ALL SELECT word, cnt FROM expected)),
          (SELECT count(*) FROM got
            WHERE bucket <> ((ascii(substr(word, 1, 1)) - 65) % {r} + {r}) % {r})
        """).fetchone()
    if bad[0] or bad[1]:
        problems.append((str(first), f"{bad[0]} oracle rows missing, {bad[1]} rows not in oracle"))
    if bad[2]:
        problems.append((str(first), f"{bad[2]} words in the wrong reducer file"))
    ref = _digest(first)
    for o in outs[1:]:
        if _digest(Path(o)) != ref:
            problems.append((o, f"differs from {first.name}, which was checked"))
    return problems


def registry_views(con, data_dir: Path) -> None:
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")


def check_row(con, rows_dir: Path, name: str, oracle: dict) -> str:
    """'OK', 'NO-ORACLE', or what differs, for one registry row dump."""
    import pandas as pd
    files = sorted(str(p) for p in (rows_dir / name).glob("*.parquet"))
    if not files:
        return "no output written"
    got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    got = got[sorted(got.columns)]
    if name not in oracle:
        return "NO-ORACLE"
    exp = con.sql(oracle[name]).df()
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns got={list(got.columns)} expected={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows got={len(got)} expected={len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            same = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
        except Exception:
            same = a.astype(str).values == b.astype(str).values
        if not same.all():
            i = int((~same).nonzero()[0][0])
            return f"value col={c} row={i} got={a.iloc[i]!r} expected={b.iloc[i]!r}"
    return "OK"


def dir_mb(path: Path) -> tuple:
    """(file count, MB) of the data files under a directory."""
    n = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 1048576

"""Correctness checks that need DuckDB, run after the JVM has exited, so
outside every timed region."""
import glob
import importlib.util
import json
import os

import duckdb


def wordcount_reference(input_dir):
    """The reference TSV: split on U+0020, drop empty tokens, count, sort
    by UTF-8 bytes, `word\\tcount` lines."""
    # one row per line (no quoting, a delimiter the corpus never holds),
    # so DuckDB splits and counts in parallel
    rows = duckdb.connect().execute(
        "SELECT w, count(*) FROM (SELECT unnest(string_split(line, ' ')) AS w "
        "FROM read_csv(?, columns={'line': 'VARCHAR'}, delim='\x01', quote='', "
        "escape='', header=false, auto_detect=false)) "
        "WHERE w <> '' GROUP BY w ORDER BY encode(w)",
        [os.path.join(input_dir, "*.txt")]).fetchall()
    return "".join(f"{w}\t{c}\n" for w, c in rows).encode("utf-8")


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


def wordcount_output(out_dir):
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    return b"".join(_read(p) for p in parts), len(parts)


def check_wordcount(reference, out_dir):
    """None when the job's output equals the reference byte for byte."""
    got, n_parts = wordcount_output(out_dir)
    if n_parts != 1:
        return f"{n_parts} part files, the contract is one"
    if got == reference:
        return None
    i = next((k for k in range(min(len(got), len(reference))) if got[k] != reference[k]),
             min(len(got), len(reference)))
    line = got[:i].count(b"\n") + 1
    return f"output differs from the reference at byte {i} (line {line})"


def _check_module(root):
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_curation(root, data_dir, out_dir):
    """Per query: None or the cause of a mismatch against its oracle SQL,
    using scripts/check.py's normalization, physical-type and float-bit
    comparisons."""
    ck = _check_module(root)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    causes = {}
    for name, sql in oracle.items():
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want_arrow = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any failure is a named mismatch
            causes[name] = str(e)[:200]
            continue
        got_n, want_n = ck.norm(got), ck.norm(want_arrow.to_pandas())
        sp = ck.spark_phys(out_dir, name) or {}
        dp = {f.name: ck.phys_kind(f.type) for f in want_arrow.schema}
        if list(got_n.columns) != list(want_n.columns):
            causes[name] = f"columns {list(got_n.columns)} != {list(want_n.columns)}"
        elif [str(t) for t in got_n.dtypes] != [str(t) for t in want_n.dtypes]:
            causes[name] = "dtype mismatch"
        elif len(got_n) != len(want_n):
            causes[name] = f"rows {len(got_n)} != {len(want_n)}"
        elif any(c in sp and sp[c] != dp[c] for c in dp):
            causes[name] = "physical type mismatch"
        elif not got_n.equals(want_n):
            causes[name] = "value mismatch"
        elif ck.float_bits_mismatch(got_n, want_n):
            causes[name] = "float bit mismatch"
        else:
            causes[name] = None
    return causes

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [--tsv FILE]
  (run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)

For each <outDir>/<name> parquet dir, runs <outDir>/oracle_sql.json[name]
in DuckDB with views named after the tables in <sfDir>, then compares:
columns sorted by name, rows sorted by all columns, values canonicalized
(floats via repr of float64, timestamps via ISO string), hashed.

Every result line also carries the Spark side's own canonical hash
(`spark=<sha256 prefix>`), computed before and independently of the
oracle, so rows-only queries and queries whose oracle fails have one
too. `--tsv FILE` writes `name<TAB>rows<TAB>hash` per Spark result
(full sha256; `-` for a result that could not be read): diff two such
files, e.g. from two checkouts' Verify outputs, to show the results are
byte-identical.

DuckDB runs with a memory limit of half the host's memory and spills
into a temporary directory under /tmp, bounded to a quarter of that
disk's free space and removed at exit (its defaults are 80% of memory
and `.tmp` in the working directory). An oracle that does not fit in
both is reported as NOT_CHECKED: not a pass, but not a wrong result.
"""
import sys, os, json, glob, hashlib, argparse, shutil, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(con, rel):
    # Go through pandas (arrow-style typed conversion), NOT fetchall():
    # fetchall() collapses DuckDB HUGEINT and BIGINT both to Python int,
    # which hid the r3 oracle-type bug (driver canonicalizes typed, so
    # HUGEINT rendered as float64 against Spark's int64). With .df(),
    # a sum(BIGINT)->HUGEINT oracle column becomes float64/object here
    # too and the mismatch surfaces locally.
    cols = sorted(rel.columns)
    quoted = ', '.join(f'"{c}"' for c in cols)
    df = con.sql(f"SELECT {quoted} FROM rel ORDER BY ALL").df()
    # Compare dtype KINDS (int/float/object), not exact widths: int32 vs
    # int64 renders identically on both sides (driver passes it), while
    # HUGEINT->float64 vs int64 renders '3.0' vs '3' (driver fails it).
    dtypes = [f"{df[c].dtype.kind}" for c in cols]
    out = []
    for row in df.itertuples(index=False, name=None):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(repr(v))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                vals.append(json.dumps(
                    [repr(x) if isinstance(x, float) else str(x) for x in list(v)]))
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    h = hashlib.sha256("\n".join(out).encode()).hexdigest()
    return cols, dtypes, len(df), h, out


# --- Python-side oracles for queries whose math SQL can't express ----
# q119's deflate ratio: recompute with Python's zlib (raw deflate,
# level 6, default memLevel/strategy — the same zlib configuration the
# JDK Deflater(6, nowrap=true) uses), making the board's one rows-only
# query a real cross-IMPLEMENTATION check: two independent zlib
# bindings must agree byte-for-byte on every document's compressed
# size, plus the integer ratio/flag restated here from first
# principles.
def py_oracle_q119(con, sf_dir):
    import zlib
    import pandas as pd
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").df()
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        raw = text.encode("utf-8")
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        n_defl = len(c.compress(raw)) + len(c.flush())
        ratio = n_defl * 1000000 // max(len(raw), 1)
        rows.append((int(doc_id), len(raw), n_defl, ratio, ratio < 250000))
    out = pd.DataFrame(rows, columns=[
        "doc_id", "n_bytes", "n_deflate", "ratio_e6", "flag_repetitive"])
    con.register("py_q119", out)
    return con.sql(
        "SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, "
        "CAST(n_deflate AS BIGINT) AS n_deflate, "
        "CAST(ratio_e6 AS BIGINT) AS ratio_e6, flag_repetitive FROM py_q119")


PY_ORACLES = {"q119_compressibility": py_oracle_q119}


def duckdb_limits(tmp):
    """Connection settings that bound DuckDB's memory and its spill."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"memory_limit": f"{mem // 2 // 2**20}MB", "temp_directory": tmp,
            "max_temp_directory_size": f"{shutil.disk_usage(tmp).free // 4 // 2**20}MB"}


def does_not_fit(e):
    """An error from exceeding the memory limit or the spill bound."""
    return isinstance(e, duckdb.OutOfMemoryException) or (
        isinstance(e, duckdb.IOException) and "temp" in str(e).lower())


def main(sf_dir, out_dir, tsv=None):
    tmp = tempfile.mkdtemp(prefix="local_verify-duckdb-", dir="/tmp")
    try:
        return check(sf_dir, out_dir, tsv, duckdb_limits(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check(sf_dir, out_dir, tsv, limits):
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    spark_side = {}  # name -> (rows, sha256) of the Spark result alone

    def spark_hash(con, name, res_path):
        spark_side[name] = None  # stays None if the result cannot be read
        s = canon(con, con.sql(f"SELECT * FROM '{res_path}/*.parquet'"))
        spark_side[name] = (s[2], s[3])
        return s

    for name in sorted(set(oracle) | set(PY_ORACLES)):
        res_path = os.path.join(out_dir, name)
        if not glob.glob(os.path.join(res_path, "*.parquet")):
            results[name] = "MISSING_RESULT"
            continue
        con = duckdb.connect(config=limits)
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        try:
            s_cols, s_t, s_n, s_h, s_rows = spark_hash(con, name, res_path)
            rel = (PY_ORACLES[name](con, sf_dir) if name in PY_ORACLES
                   else con.sql(oracle[name]))
            o_cols, o_t, o_n, o_h, o_rows = canon(con, rel)
        except Exception as e:
            results[name] = (f"NOT_CHECKED (did not fit: {e})" if does_not_fit(e)
                             else f"ERROR: {e}")
            con.close()
            continue
        if s_cols != o_cols:
            results[name] = f"SCHEMA_MISMATCH spark={s_cols} oracle={o_cols}"
        elif s_t != o_t:
            d = [(c, a, b) for c, a, b in zip(s_cols, s_t, o_t) if a != b]
            results[name] = f"TYPE_MISMATCH (spark,oracle)={d}"
        elif s_n != o_n:
            results[name] = f"ROWCOUNT_MISMATCH spark={s_n} oracle={o_n}"
        elif s_h != o_h:
            diff = next((i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b), -1)
            detail = ""
            if diff >= 0:
                detail = f" first_diff_row={diff} spark={s_rows[diff][:300]!r} oracle={o_rows[diff][:300]!r}"
            results[name] = "HASH_MISMATCH" + detail
        else:
            results[name] = f"OK rows={s_n}"
        con.close()
    # queries without an oracle: rows-only
    for d in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, d)
        if os.path.isdir(p) and d not in oracle and d not in PY_ORACLES:
            try:
                con = duckdb.connect(config=limits)
                n = spark_hash(con, d, p)[2]
                results[d] = f"ROWS_ONLY rows={n}" + (" (EMPTY!)" if n == 0 else "")
                con.close()
            except Exception as e:
                results[d] = f"ROWS_ONLY ERROR: {e}"
    ok = sum(1 for v in results.values() if v.startswith("OK"))
    unchecked = sum(1 for v in results.values() if v.startswith("NOT_CHECKED"))
    n_oracle = len(set(oracle) | set(PY_ORACLES))
    def passed(v):
        return v.startswith("OK") or ("ROWS_ONLY rows" in v and "EMPTY" not in v)
    for k, v in results.items():
        side = spark_side.get(k)
        tag = f" spark={side[1][:16]}" if side else ""
        label = "PASS" if passed(v) else "SKIP" if v.startswith("NOT_CHECKED") else "FAIL"
        print(f"{label:4} {k}: {v}{tag}")
    print(f"\n{ok}/{n_oracle} oracle-checked OK, {unchecked} not checked "
          f"(oracle did not fit), {len(results)} total")
    if tsv:
        with open(tsv, "w") as f:
            for k in sorted(results):
                side = spark_side.get(k)
                f.write(f"{k}\t{side[0]}\t{side[1]}\n" if side else f"{k}\t-\t-\n")
    # rows-only EMPTY/ERROR results are failures too, not just oracle misses
    return 0 if all(passed(v) for v in results.values()) and ok == n_oracle else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--tsv", help="write name<TAB>rows<TAB>sha256 per Spark result")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.tsv))

#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs the
corresponding oracle_sql.json entry in DuckDB with the sfDir tables
registered by name; compares column-name-sorted, row-sorted values.
The oracles run across up to 4 worker processes, one DuckDB connection
each; results print in query-name order, as a serial run prints them.
"""
import json, sys, math, glob, os
import multiprocessing
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                # Exact — the driver's hash is exact; rounding here (round-2
                # mistake) masked mismatches the driver then caught.
                if math.isnan(v): v = "NaN"
                else: v = repr(v)
            rr.append(str(v))
        out.append(tuple(rr))
    out.sort()
    return out

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


# one DuckDB connection per pool worker, opened by its initializer
_con = None
_out_dir = None


def _init(sf_dir, out_dir):
    global _con, _out_dir
    _con = connect(sf_dir)
    _out_dir = out_dir


def check_one(item):
    """Runs one oracle against its Spark output; returns (passed, lines)."""
    name, sql = item
    con, out_dir = _con, _out_dir
    lines = []
    spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not spark_files:
        lines.append(f"MISSING spark output: {name}"); return False, lines
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet({spark_files!r})").fetchall()
        gcols = [d[0] for d in con.description]
        exp = con.execute(sql).fetchall()
        ecols = [d[0] for d in con.description]
    except Exception as e:
        lines.append(f"FAIL {name}: oracle error {e}"); return False, lines
    if sorted(gcols) != sorted(ecols):
        lines.append(f"FAIL {name}: cols {sorted(gcols)} vs {sorted(ecols)}")
        return False, lines
    # The driver's hash is type-sensitive (round-1 lesson: DuckDB
    # SUM→HUGEINT/DECIMAL(38,2) vs Spark BIGINT/DECIMAL(28,2) fails
    # the hash even when values match) — so compare declared types too.
    con.execute(f"SELECT * FROM read_parquet({spark_files!r}) LIMIT 0")
    gtypes = sorted((d[0], str(d[1])) for d in con.description)
    # Round-2 lesson: DECIMAL outputs fail the driver hash even at
    # matched declared width/scale — only BIGINT/DOUBLE/etc. are safe.
    decs = [n for n, t in gtypes if "DECIMAL" in t.upper()]
    if decs:
        lines.append(f"FAIL {name}: DECIMAL output columns {decs} "
                     "(driver hash rejects decimals; use BIGINT/DOUBLE)")
        return False, lines
    con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
    etypes = sorted((d[0], str(d[1])) for d in con.description)
    if gtypes != etypes:
        lines.append(f"FAIL {name}: dtypes differ")
        for (gn, gt), (en, et) in zip(gtypes, etypes):
            if gt != et:
                lines.append(f"  {gn}: spark={gt} oracle={et}")
        return False, lines
    cg, ce = canon(got, gcols), canon(exp, ecols)
    if cg == ce:
        lines.append(f"PASS {name} ({len(cg)} rows)"); return True, lines
    diff = [i for i, (a, b) in enumerate(zip(cg, ce)) if a != b][:3]
    lines.append(f"FAIL {name}: {len(cg)} vs {len(ce)} rows; "
                 f"first diffs at {diff}")
    for i in diff:
        lines.append(f"  spark : {cg[i]}\n  oracle: {ce[i]}")
    return False, lines


def main(sf_dir, out_dir):
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # the oracles run across a process pool; imap hands the results back
    # in query-name order, so the output matches a serial run line for line
    workers = max(1, min(4, os.cpu_count() or 1))
    with multiprocessing.Pool(workers, _init, (sf_dir, out_dir)) as pool:
        for ok, lines in pool.imap(
                check_one, [(n, oracles[n]) for n in sorted(oracles)]):
            print("\n".join(lines), flush=True)
            if ok: n_pass += 1
            else: n_fail += 1
    # queries without oracle → rows-only
    con = connect(sf_dir)
    for name in glob.glob(f"{out_dir}/*/"):
        qn = os.path.basename(name.rstrip("/"))
        if qn not in oracles:
            files = glob.glob(f"{name}/*.parquet")
            n = con.execute(
                f"SELECT count(*) FROM read_parquet({files!r})"
            ).fetchone()[0] if files else 0
            print(f"ROWS-ONLY {qn}: {n} rows")
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

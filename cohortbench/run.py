#!/usr/bin/env python3
"""Cohort-shape benchmark of the seqspark engine.

    python3 cohortbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into cohortbench/.work/build; later
runs reuse that build while the sources are unchanged. Each run starts one
JVM (Spark local[n], n = min(4, cores)), which generates its inputs from
the seed, measures for the given seconds, checks every output and writes
its metrics to a file. This script then runs the checks that need Python
(the independent GDS decoder and the DuckDB oracle) and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. Untraced runs report
the end-to-end metrics of BENCHMARK.json, traced runs the per-layer ones.

Extra flags (for the self-test): --scale tiny, --perturb 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["af_cohort_scan", "operator_board"]
SBT_FLAGS = ["-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser(
                 "~/.sbt/repositories"),
             "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"cohortbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so any source change rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt when the sources changed; returns the classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    env.pop("SBT_OPTS", None)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch"] + SBT_FLAGS +
            ["compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "cohortbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def java_cmd(cp, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseParallelGC",
             "-Djava.io.tmpdir=" + tmp,
             "-Dderby.system.home=" + os.path.join(run_dir, "derby")] +
            [x for p in OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-cp", cp, "cohortbench.Main"])


def run_jvm(cp, args, run_dir, cores, budget):
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(cp, run_dir) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--out", out, "--cores", str(cores),
        "--scale", args.scale, "--perturb", str(args.perturb),
        # operations stop starting early enough to leave time for the
        # checks and shutdown
        "--budget", str(int(budget * 0.6))]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf,
                             text=True, cwd=run_dir)
        try:
            stdout, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {budget:.0f} s, see {log}")
    for line in stdout.splitlines():
        print(line)  # informational lines (the traced baseline line)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def cross_decode(root, files, errors):
    """Decode the cohort container with scripts/gds_read.py (its own zlib
    path, no engine code) and compare per-variant called/REF counts."""
    import numpy as np
    sys.path.insert(0, os.path.join(root, "scripts"))
    import gds_read
    with open(files["cohort_gds"], "rb") as f:
        st = gds_read.streams(f.read())
    geno, gr = gds_read.node_bytes(st, ["genotype", "data"])
    n_var, n_samp, ploidy = gr["dims"]
    if ploidy != 2:
        errors.append(f"cross-decode: ploidy {ploidy}")
        return
    arr = np.frombuffer(geno, np.uint8)[: n_var * n_samp // 2]
    arr = arr.reshape(n_var, n_samp // 2)
    called = np.zeros(n_var, np.int64)
    ref = np.zeros(n_var, np.int64)
    for lo in (0, 4):  # two samples per byte, two 2-bit alleles each
        x, y = (arr >> lo) & 3, (arr >> (lo + 2)) & 3
        ok = (x != 3) & (y != 3)
        called += 2 * ok.sum(axis=1)
        ref += np.where(ok, (x == 0).astype(np.int64) + (y == 0), 0).sum(axis=1)
    truth = np.loadtxt(files["cohort_truth"], delimiter=",", skiprows=1,
                       dtype=np.int64, ndmin=2)
    if len(truth) != n_var or not (
            np.array_equal(truth[:, 1], called) and
            np.array_equal(truth[:, 2], ref)):
        bad = int(np.flatnonzero((truth[:, 1] != called) |
                                 (truth[:, 2] != ref))[0]) \
            if len(truth) == n_var else -1
        errors.append(f"cross-decode (scripts/gds_read.py) disagrees with "
                      f"the generator truth at variant index {bad}")


def board_oracle(root, files, errors):
    """Every board query's cold-pass rows against its DuckDB oracle SQL
    over the same generated tables (scripts/check.py's comparison)."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "scripts"))
    from check import canon
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{files['board_tables']}/{t}.parquet/*.parquet')")
    with open(os.path.join(files["board_out"], "oracle.json")) as f:
        oracles = json.load(f)
    for q, sql in oracles.items():
        if not sql:
            errors.append(f"{q}: no oracle SQL")
            continue
        got = con.execute(f"SELECT * FROM read_parquet("
                          f"'{files['board_out']}/{q}/*.parquet')")
        grows, gcols = got.fetchall(), [d[0] for d in got.description]
        exp = con.execute(sql)
        erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
        if sorted(gcols) != sorted(ecols) or \
                canon(grows, gcols) != canon(erows, ecols):
            errors.append(f"{q}: {len(grows)} rows differ from the DuckDB "
                          f"oracle ({len(erows)} rows)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = os.path.dirname(BENCH)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {root}/src/main/scala: run from the "
             "root of a seqspark checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, built = build(root)

    # The board's tiny tables gain nothing from parallel tasks: at local[1]
    # its passes ran as fast as at local[4] on 4 cores, with one task
    # thread instead of four exposed to a shared host's CPU steal.
    cores = 1 if args.workload == "operator_board" else \
        max(1, min(4, os.cpu_count() or 1))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # 180 s per run; a run that built first may take longer
        budget = 165.0 - (0 if built else time.time() - t_start)
        res = run_jvm(cp, args, run_dir, cores, budget)
        errors = list(res["errors"])
        files = res["files"]
        if "cohort_gds" in files:
            cross_decode(root, files, errors)
        if "board_out" in files:
            board_oracle(root, files, errors)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    finally:
        # the JVM's progress notes (phase times) outlive the run dir
        log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(WORK, f"jvm-{args.workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    listed = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in listed:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not args.trace:
                errors.append(f"metric {m['name']} was not measured")
                continue
            # a layer this workload never calls did no work
            v = {"value": 0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for e in errors:
        print(f"cohortbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

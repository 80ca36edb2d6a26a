#!/usr/bin/env python3
"""graft benchmark: cold, seeded, layer-traced runs of two workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload <store_lifecycle|analytics>
      --seed <n> --seconds <s> --trace <0|1> [--keep]

Builds the program from source (perfbench/build.py), runs one workload in
a single JVM (perfbench/src/graftbench/Main.scala), compares analytics
outputs with their DuckDB twins, and prints the result as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

T_LIMIT = 170.0  # seconds the whole run may take once built
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]


def canon(df):
    """Canonical form of a result, as tools/check_oracles.py compares
    them: columns sorted by name, floats rounded to 6 places, values as
    strings, rows sorted by every column."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6)
        elif s.dtype.kind == "M":
            s = s.astype("datetime64[us]").astype(str)
        else:
            s = s.astype(object).map(
                lambda v: round(v, 6) if isinstance(v, float)
                else (list(v) if hasattr(v, "tolist") else v))
            s = s.map(lambda v: str(v))
        out[c] = s.astype(str)
    cdf = pd.DataFrame(out)
    return cdf.sort_values(by=list(cdf.columns)).reset_index(drop=True)


def oracle_check(res):
    """Compare every saved analytics output with its DuckDB twin; returns
    {(op, cycle): error} for outputs that do not hash-match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{res['data_dir']}/{t}.parquet/*.parquet')")
    expected, bad = {}, {}
    for o in res["outputs"]:
        q = o["query"]
        try:
            if q not in expected:
                expected[q] = canon(con.execute(res["oracle_sql"][q]).fetchdf())
            files = glob.glob(os.path.join(o["path"], "*.parquet"))
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = expected[q]
            if list(got.columns) != list(want.columns):
                err = f"{q}: columns {list(got.columns)} vs {list(want.columns)}"
            elif len(got) != len(want):
                err = f"{q}: rows {len(got)} vs {len(want)}"
            elif not got.equals(want):
                err = f"{q}: {int((got != want).any(axis=1).sum())}/{len(got)} rows differ"
            else:
                continue
        except Exception as e:  # a failed comparison is a failed check
            err = f"{q}: {type(e).__name__}: {e}"
        cycle = int(o["path"].rstrip("/").rsplit("/c", 1)[1])
        bad.setdefault((o["op"], cycle), err)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    out = os.path.join(root, ".bench_build", "perfbench")
    cp, archive = build.build(root, out)

    t0 = time.time()
    work = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java(work, cp, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work], archive)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(30.0, T_LIMIT - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    log.close()
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: harness JVM failed (rc {rc}); log in {work}/jvm.log")
    with open(result_file) as fh:
        res = json.load(fh)

    wrong = oracle_check(res) if res["outputs"] else {}
    ops = res["ops"]
    for o in ops:
        err = wrong.get((o["name"], o["cycle"]))
        if err and o["ok"]:
            o.update(ok=False, wrong=True, error=err)
    failed = sum(1 for o in ops if not o["ok"])
    output_ok = not any(o["wrong"] for o in ops)
    tests = dict(res["self_tests"])

    key = "per_layer" if a.trace else "end_to_end"
    measured = res[key]
    names = [m["name"] for m in spec[key]]
    tests["metric_names_match_benchmark_json"] = sorted(names) == sorted(measured)
    metrics = {m["name"]: {"value": measured.get(m["name"]), "unit": m["unit"]} for m in spec[key]}

    for f in res["figures"]:
        print(f"{a.workload} {f['name']} = {f['value']} {f['unit']}")
    op_names = list(dict.fromkeys(o["name"] for o in ops))
    print("operations " + " ".join(
        f"{n}={sum(o['ok'] for o in ops if o['name'] == n)}/{sum(o['name'] == n for o in ops)}ok"
        for n in op_names))
    for o in ops:
        if not o["ok"]:
            print(f"failed op {o['name']} (cycle {o['cycle']}): {o['error']}")
    checks = {"outputs_correct": output_ok, **tests}
    print("checks " + " ".join(f"{k}={'pass' if v else 'FAIL'}" for k, v in checks.items()))
    print("covariates " + json.dumps(res["covariates"], separators=(",", ":")))
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": all(checks.values()), "attempted": len(ops), "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()

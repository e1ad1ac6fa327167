"""The repo benchmark: one command, three workloads (registry, table-io,
state), run from the root of a checkout.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

It builds the library and the harness from source (perfbench/build.py), makes
the run's inputs from the seed (perfbench/plan.py), runs one JVM with one
closed-loop client over local[nproc], checks every op's output after its
clock stops, and prints the metrics. The last stdout line is the result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
line before it carries the workload's own metrics by name (and, traced, the
module-named layer metrics). See perfbench/WORKLOADS.md.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import plan  # noqa: E402
import report  # noqa: E402

RUN_LIMIT_S = 170      # the whole run, build excluded


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def oracle_module(root):
    """tools/check_oracle.py: the canonical frame/row hash of the oracle gate."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_registry(root, res, oracle_sql, cores):
    """Compare every drawn query that has an oracle with DuckDB on the same
    fixture; a mismatch fails that query's record."""
    co = oracle_module(root)
    import duckdb
    con = duckdb.connect()
    con.sql(f"PRAGMA threads={cores}")
    fixture = os.path.join(root, plan.FIXTURE)
    for t in co.TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for r in res["records"]:
        out = (r.get("detail") or {}).get("result")
        if not r["ok"] or not out:
            continue
        try:
            scols, srows = co.frame(con, f"SELECT * FROM '{out}/*.parquet'")
            ocols, orows = co.frame(con, oracle_sql[r["name"]])
            if scols != ocols:
                raise AssertionError(f"columns {scols} != oracle {ocols}")
            if srows != orows:
                raise AssertionError(f"rows differ from oracle ({len(srows)} vs {len(orows)})")
        except Exception as e:  # noqa: BLE001 - any oracle failure fails the op
            r["ok"] = False
            r["error"] = f"oracle: {e}"[:400]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=plan.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a checkout of the repository (no src/main/scala here)")
    if not os.path.isdir(os.path.join(root, plan.FIXTURE)):
        fail(f"missing fixture directory {plan.FIXTURE}")

    jars = build.ensure(root)
    start = time.monotonic()
    with open(os.path.join(root, build.BUILD_DIR, "registry.json")) as fh:
        oracle_sql = json.load(fh)

    try:
        body = plan.make(a.workload, a.seed, root, list(oracle_sql), a.seconds)
    except ValueError as e:
        fail(str(e))
    hashes = plan.input_hashes(root, body)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    body.update(trace=bool(a.trace), work=work, cores=cores, fixture=os.path.join(root, plan.FIXTURE),
                result=os.path.join(work, "result.json"))
    if a.workload == "registry":
        body["oracle"] = sorted(k for k, v in oracle_sql.items() if v)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(body, fh)

    log_path = os.path.join(work, "jvm.log")
    cmd = build.jvm(root, jars, [plan_path], [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        # a terminated benchmark stops its JVM and waits for it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            code = proc.wait(timeout=RUN_LIMIT_S - 20 - (time.monotonic() - start))
        except subprocess.TimeoutExpired:
            fail(f"the JVM ran past the time limit; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the JVM exited with {code}; log in {log_path}")
    with open(body["result"]) as fh:
        res = json.load(fh)

    if a.workload == "registry":
        check_registry(root, res, oracle_sql, cores)
    recs = res["records"]
    failed = [r for r in recs if not r["ok"]]
    for r in failed:
        print(f"perfbench: FAILED {r['name']}: {r.get('error')}", file=sys.stderr)

    summary = {k: {"value": v, "unit": u}
               for k, (v, u) in report.workload_summary(a.workload, res).items()}
    line = {"workload": a.workload, "seed": a.seed, "inputs": hashes,
            "ops": len(recs), "failed_ops": sorted({r["name"] for r in failed}),
            "summary": summary}
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.trace:
        line["layers"] = report.layer_detail(a.workload, res)
        metrics = report.per_layer(res)
        names = report.declared(bench, "per_layer")
    else:
        metrics = report.end_to_end(res)
        names = report.declared(bench, "end_to_end")
        line["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps(line, default=str))
    # keep the spans and records of the last run; drop the bulky state
    for name in os.listdir(work):
        if name not in ("result.json", "plan.json", "jvm.log"):
            p = os.path.join(work, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    print(report.result_line({k: metrics[k] for k in names}, len(recs), len(failed), not failed))


if __name__ == "__main__":
    main()

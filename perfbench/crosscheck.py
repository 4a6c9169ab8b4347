"""One-off DuckDB cross-check of a workload's recorded results.

    python3 perfbench/crosscheck.py --workload NAME

Runs graft.Verify for the workload's queries on the workload's data set
(writing each result as parquet), replays each query's oracle SQL in
DuckDB with tools/check.py, one query at a time under a memory limit and a
timeout, and stores the per-query verdicts in perfbench/crosscheck.json.
Disagreements and timeouts are recorded, not hidden.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import run
from workloads import WORKLOADS

OUT = os.path.join(run.BENCH, "crosscheck.json")
CHECK = os.path.join(run.ROOT, "tools", "check.py")
CHECK_TIMEOUT_S = 300
# check.py opens its own DuckDB connection; cap it so one oracle query
# cannot take the host's memory
LIMITED_CHECK = """
import duckdb, runpy, sys
connect = duckdb.connect
def limited(*a, **k):
    c = connect(*a, **k)
    c.execute("SET memory_limit='3GB'")
    c.execute("SET threads=2")
    return c
duckdb.connect = limited
runpy.run_path(%r, run_name="__main__")
""" % CHECK


def check_one(data, out_dir, query, sql):
    """Verdict of tools/check.py for one query's Spark output."""
    one = os.path.join(out_dir, "_one")
    shutil.rmtree(one, ignore_errors=True)
    os.makedirs(one)
    os.symlink(os.path.join(out_dir, query), os.path.join(one, query))
    with open(os.path.join(one, "oracle_sql.json"), "w") as f:
        json.dump({query: sql}, f)
    try:
        p = subprocess.run([sys.executable, "-c", LIMITED_CHECK, data, one], cwd=out_dir,
                           stdout=subprocess.PIPE, text=True, timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return f"timeout: DuckDB took over {CHECK_TIMEOUT_S}s"
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) \S+?:? (.*)", line)
        if m:
            return f"{m.group(1).lower()} {m.group(2)}".strip()
    return "no verdict: " + p.stdout[-200:]


def record(dataset, query, verdict):
    recorded = json.load(open(OUT)) if os.path.isfile(OUT) else {}
    recorded.setdefault(dataset, {})[query] = verdict
    with open(OUT, "w") as f:
        json.dump({d: dict(sorted(v.items())) for d, v in sorted(recorded.items())}, f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    cp, _ = run.build()
    data, _ = run.data_dir(wl["data"], cp)
    work = os.path.join(run.WORK, "crosscheck", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(work, "out")
    env = dict(run.jvm_env(work), SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    subprocess.run(run.java_cmd(cp, os.path.join(work, "tmp")) + [
        "graft.Verify", data, out_dir, ",".join(wl["queries"])],
        cwd=work, env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    verdicts = {}
    for q in wl["queries"]:
        verdicts[q] = check_one(data, out_dir, q, oracle[q]) if q in oracle else "no oracle SQL"
        record(wl["data"], q, verdicts[q])
    shutil.rmtree(work, ignore_errors=True)
    bad = {q: v for q, v in verdicts.items() if not v.startswith("pass")}
    print(json.dumps({"workload": a.workload, "checked": len(verdicts), "disagree": bad}))


if __name__ == "__main__":
    main()

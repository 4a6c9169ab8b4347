"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from the checkout's sources (cached by
source fingerprint), reads the scale-0.1 test tables stored under
perfbench/data/sf0.1 (or a ScaleGen copy of them, generated on first use),
then runs the workload's queries in a seed-permuted order in one
JVM for S seconds of whole passes, checks every result against the
recorded digests, and prints one JSON line with the metrics: the
end-to-end metrics untraced (--trace 0) or the per-layer metrics traced
(--trace 1). Exits non-zero when any check fails. Everything it writes
lives under perfbench/work/; each run's Spark working directory is
deleted when the run ends. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
EXPECTED = os.path.join(BENCH, "expected.json")
BASE_DATA = os.path.join(BENCH, "data", "sf0.1")
RUN_LIMIT_S = 170  # a run must end within 180 s
SCALE_FACTOR = 10  # the scaled workload's ScaleGen copy of the base tables

sys.path.insert(0, BENCH)
from workloads import LAYERS, WORKLOADS  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath and
    the source fingerprint it was built from."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    fp = fingerprint([ENGINE_SRC, os.path.join(BENCH, "src"),
                      os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    if os.path.isfile(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read(), fp
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build took {time.time() - t0:.1f}s")
    return lines[-1].strip(), fp


def heap():
    """Half the host memory, clamped to 2..8 GB (the engine's test setting)."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-cp", cp]


def jvm_env(run_dir):
    """The JVM's environment: no engine dials (SPARK_GRAFT_*), and Spark's
    local dirs inside the run directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    return env


def run_jvm(cmd, cwd, deadline, log_path):
    """Runs one JVM in its own process group; kills the group at the deadline."""
    with open(log_path, "a") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=jvm_env(cwd), stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "timed out"
    recs = [json.loads(l[4:]) for l in out.splitlines() if l.startswith("@pb ")]
    return recs, (None if p.returncode == 0 else f"exit code {p.returncode}")


def data_dir(kind, cp):
    """The workload's input tables: the stored scale-0.1 tables, or a
    ScaleGen copy of them, generated on first use and cached by the source
    tables' fingerprint and the factor. Returns (dir, generation seconds or
    None)."""
    if kind == "sf0.1":
        return BASE_DATA, None
    base = BASE_DATA
    factor = SCALE_FACTOR
    dst = os.path.join(WORK, "data", f"sf0.1-{fingerprint([base])}-x{factor}")
    if not os.path.isdir(dst):
        log(f"generating the {factor}x ScaleGen copy")
        scratch = dst + ".work"
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(dst + ".tmp", ignore_errors=True)
        os.makedirs(os.path.join(scratch, "tmp"))
        t0 = time.time()
        cmd = java_cmd(cp, os.path.join(scratch, "tmp")) + [
            "graft.ScaleGen", base, dst + ".tmp", str(factor)]
        env = dict(jvm_env(scratch), SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
        p = subprocess.run(cmd, cwd=scratch, env=env,
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                           timeout=600)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            fail("ScaleGen failed")
        shutil.rmtree(scratch, ignore_errors=True)
        os.replace(dst + ".tmp", dst)
        with open(dst + ".json", "w") as f:
            json.dump({"generate_s": time.time() - t0, "source": os.path.relpath(base, ROOT),
                       "factor": factor}, f)
    return dst, json.load(open(dst + ".json"))["generate_s"]


def order(queries, seed):
    """Seed-permuted query order; stored-index builds stay first."""
    rng = random.Random(seed)
    builds = sorted(q for q in queries if q.endswith("_index_build"))
    rest = sorted(q for q in queries if not q.endswith("_index_build"))
    rng.shuffle(builds)
    rng.shuffle(rest)
    return builds + rest


def tail(values):
    """The highest percentile with at least ten samples beyond it; the
    maximum when that percentile would not lie above the median (fewer
    than 21 samples)."""
    xs = sorted(values)
    i = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def check(queries, dataset, record):
    """Compares each result with its recorded row count and digest. With
    `record`, every successful result is written to expected.json instead
    (a query marked `"check": "rows"` by hand keeps that mark)."""
    recorded = json.load(open(EXPECTED)) if os.path.isfile(EXPECTED) else {}
    expected = recorded.setdefault(dataset, {})
    failures = []
    for r in queries:
        q, e = r["query"], expected.get(r["query"])
        if r["status"] != "ok":
            failures.append((q, f'{r["status"]}: {r["error"]}'))
        elif record:
            expected[q] = {"rows": r["rows"], "digest": r["digest"],
                           "check": e["check"] if e else "digest"}
        elif e is None:
            failures.append((q, "no expected digest recorded"))
        elif r["rows"] != e["rows"]:
            failures.append((q, f'rows {r["rows"]} != {e["rows"]}'))
        elif e["check"] == "digest" and r["digest"] != e["digest"]:
            failures.append((q, f'digest {r["digest"]} != {e["digest"]}'))
    if record:
        with open(EXPECTED, "w") as f:
            json.dump({d: dict(sorted(v.items())) for d, v in sorted(recorded.items())},
                      f, indent=1)
            f.write("\n")
    return failures


def per_layer(queries, n_pass, end):
    """The traced run's metrics, per pass: name -> (value, unit)."""
    def per_pass(rs, key):
        return sum(r.get(key, 0) for r in rs) / n_pass
    out = {}
    for layer in LAYERS:
        rs = [r for r in queries if r["layer"] == layer]
        for key, unit in [("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
                          ("stages", "count"), ("tasks", "count"), ("task_run_s", "s"),
                          ("task_cpu_s", "s"), ("input_mb", "MB"), ("shuffle_write_mb", "MB"),
                          ("shuffle_read_mb", "MB"), ("spill_mb", "MB")]:
            out[f"{layer}.{key}"] = (per_pass(rs, key), unit)
        wall = per_pass(rs, "build_s") + per_pass(rs, "action_s")
        out[f"{layer}.idle_s"] = (wall - per_pass(rs, "task_run_s") / end["cores"], "s")
    st = [r for r in queries if r["layer"] == "streaming"]
    for key, unit in [("batches", "count"), ("input_rows", "count"), ("state_rows", "count"),
                      ("state_mb", "MB"), ("commit_ms", "ms"), ("trigger_ms", "ms")]:
        out[f"streaming.{key}"] = (per_pass(st, f"stream_{key}"), unit)
    out.update({
        "Memo.builds": (end["Memo.builds"] / n_pass, "count"),
        "Memo.entries": (end["Memo.entries"] / n_pass, "count"),
        "Memo.builds_per_entry": (end["Memo.builds"] / max(1, end["Memo.entries"]), "ratio"),
        "Memo.peak_mb": (end["Memo.peak_mb"], "MB"),
        "Memo.evictions": (end["Memo.evictions"] / n_pass, "count"),
        "spark.task_attempts": (end["spark.task_attempts"] / n_pass, "count"),
        "spark.task_success_ratio": (end["spark.task_success_ratio"], "ratio"),
        "spark.stage_retries": (end["spark.stage_retries"], "count"),
        "spark.unattributed_jobs": (end["spark.unattributed_jobs"], "count"),
        "jvm.gc_s": (end["jvm.gc_s"] / n_pass, "s"),
        "jvm.compile_s": (end["jvm.compile_s"], "s"),
    })
    return out


def overhead(art_dir, workload, build_fp, batch_s):
    """Traced batch_s minus the median untraced batch_s of earlier runs of
    the same workload on the same build; None, with the reason, when there
    are none."""
    prior = []
    for f in sorted(os.listdir(art_dir)):
        if f.startswith(f"{workload}-seed") and "-trace0-" in f and f.endswith(".json"):
            p = json.load(open(os.path.join(art_dir, f)))
            if p.get("build") == build_fp:
                prior.append(p["end_to_end"]["batch_s"])
    if not prior:
        return None, ("no untraced run of this workload on this build yet: "
                      "run --trace 0 first")
    return batch_s - statistics.median(prior), f"against the median of {len(prior)} untraced runs"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's digests to expected.json instead of checking them")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    wl = WORKLOADS[a.workload]
    start = time.time()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, build_fp = build()
        data, gen_s = data_dir(wl["data"], cp)
    deadline = time.time() + RUN_LIMIT_S - 10

    seq = order(wl["queries"], a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    art_base = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}")
    err_log = os.path.join(art_dir, os.path.basename(art_base) + ".stderr.log")
    try:
        cmd = java_cmd(cp, os.path.join(run_dir, "tmp")) + [
            "graft.perfbench.Harness", "--data", data, "--queries", ",".join(seq),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.trace:
            cmd += ["--spans", art_base + ".spans.json"]
        recs, err = run_jvm(cmd, run_dir, deadline, err_log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if err is not None:
        sys.stderr.write(open(err_log).read()[-4000:])
        fail(f"harness failed: {err}")

    setup = next(r for r in recs if r["kind"] == "setup")
    queries = [r for r in recs if r["kind"] == "query"]
    passes = [r for r in recs if r["kind"] == "pass"]
    end = next(r for r in recs if r["kind"] == "end")
    n_pass = len(passes)

    failures = check(queries, wl["data"], a.record)
    checks = {}
    lat = [r["build_s"] + r["action_s"] for r in queries]
    tail_v, tail_pct, tail_n = tail(lat)
    untraced = {
        "batch_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "setup_s": (setup["setup_s"], "s"),
        "cached_peak_mb": (end["cached_peak_mb"], "MB"),
    }
    traced = per_layer(queries, n_pass, end) if a.trace else {}
    if a.trace:
        checks["unattributed_jobs_zero"] = end["spark.unattributed_jobs"] == 0
        book = sum(r["bookkeeping_s"] for r in queries) + sum(p["bookkeeping_s"] for p in passes)
        covered = sum(lat) / max(1e-9, end["window_s"] - book)
        checks["spans_cover_wall"] = covered >= 0.98
    correct = not failures and all(checks.values())

    metrics = traced if a.trace else untraced
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "build": build_fp, "data": os.path.relpath(data, ROOT), "data_generate_s": gen_s,
        "conf": setup["conf"], "order": seq, "passes": n_pass,
        "setup_phases_s": setup["phases_s"],
        "query_p50_s": statistics.median(lat),
        "query_tail_s": {"value": tail_v, "percentile": tail_pct, "samples": tail_n},
        "failed_frac": len(failures) / max(1, len(queries)),
        "failures": failures, "checks": checks,
        "end_to_end": {k: v[0] for k, v in untraced.items()},
        "per_layer": {k: v[0] for k, v in traced.items()},
        "end": end, "pass_records": passes, "queries": queries,
        "wall_s": time.time() - start,
    }
    if a.trace:
        artifact["trace_overhead_s"], artifact["trace_overhead_note"] = overhead(
            art_dir, a.workload, build_fp, untraced["batch_s"][0])
    with open(art_base + ".json", "w") as f:
        json.dump(artifact, f, indent=1)
    for q, why in failures[:20]:
        log(f"FAILED {q}: {why}")
    for k, ok in checks.items():
        if not ok:
            log(f"self-check failed: {k}")
    print(json.dumps({
        "correct": correct, "attempted": len(queries), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

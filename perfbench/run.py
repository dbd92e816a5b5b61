#!/usr/bin/env python3
"""Layered benchmark of the near-dup engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # the benchmark's own test

Builds the engine and the benchmark program from the checkout's sources
(once per source state), runs one workload in one JVM, checks its outputs
and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exits non-zero when an output check fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("pipeline_batch", "query_sweep")
RUN_TIMEOUT_S = 170
SMOKE_SEED = 7
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
             "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the engine's and the benchmark
    program's sources and build definitions."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for base in (ENGINE_SRC, os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "src"),
                 os.path.join(BENCH_DIR, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the benchmark program with sbt (offline)
    unless already built for this source state; returns the runtime
    classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath-" + stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return stamp, fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # one class directory serves every build: older stamps are stale now
    for f in os.listdir(BUILD):
        if f.startswith("classpath-"):
            os.remove(os.path.join(BUILD, f))
    log("building the engine and the benchmark program (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt"] + SBT_FLAGS + ["-J-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData",
                                              "compile", "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return stamp, lines[-1].strip()


def heap_size():
    """JVM heap from /proc/meminfo: half the host memory, clamped to
    2..8 GiB (the tier-1 test sizing), and at most 3 GiB because the host
    is shared with other jobs (the live heap of every workload is under
    300 MB)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(g, 3)


def run_jvm(cp, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    heap = heap_size()
    # a fixed heap: the collector's generation sizing does not drift
    # between the first and the last operation of a run
    cmd = (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args
           + ["--out", run_dir, "--launched-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(tmp, "local"), SPARK_LOCAL_IP="127.0.0.1")
    env.pop("GRAFT_STAGE_TIMING", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("run exceeded %ds; see %s" % (timeout, os.path.join(run_dir, "jvm.log")))
    path = os.path.join(run_dir, "result.json")
    if not os.path.exists(path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("the benchmark program wrote no result (exit %d)" % proc.returncode)
    with open(path) as fh:
        return json.load(fh)


_duck = None


def _oracle_worker(data):
    global _duck
    import duckdb
    _duck = duckdb.connect()
    _duck.execute("SET threads TO 1")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            _duck.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')"
                          % (f[:-len(".parquet")], os.path.join(data, f)))


def _oracle_count(sql):
    try:
        return _duck.execute("SELECT count(*) FROM (%s)" % sql.rstrip().rstrip(";")).fetchone()[0]
    except Exception as e:  # an oracle that cannot run is a failed check
        return "error: %s" % str(e)[:200]


def oracle_row_checks(run_dir, result):
    """query_sweep: every query's row count against DuckDB running the
    query's oracle SQL over the same generated tables, one single-threaded
    DuckDB per core (the oracles are mostly single-threaded all-pairs
    joins). Queries without oracle SQL are listed in the result's context
    as `no_oracle`."""
    from concurrent.futures import ProcessPoolExecutor
    data = os.path.join(run_dir, "work", "sweep_data")
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    rows = result["context"].get("query_rows", {})
    result["context"]["no_oracle"] = sorted(q for q in rows if q not in oracle)
    qs = sorted(q for q in rows if q in oracle)
    with ProcessPoolExecutor(max(1, os.cpu_count() or 1), initializer=_oracle_worker,
                             initargs=(data,)) as ex:
        counts = list(ex.map(_oracle_count, [oracle[q] for q in qs]))
    return [("oracle.%s.rows" % q, n == rows[q], "spark=%s duckdb=%s" % (rows[q], n))
            for q, n in zip(qs, counts)]


def digest_checks(workload, seed, stamp, result):
    """Outputs of the same seed and source state must repeat across runs:
    the pipeline's cluster digest, and every query's row count (the only
    check of the queries that have no oracle SQL)."""
    ctx = result["context"]
    keys = [k for k in ("pipeline_digest", "query_rows") if k in ctx]
    if not keys:
        return []
    path = os.path.join(BUILD, "digests", "%s-%s-%s.json" % (workload, seed, stamp))
    now = {k: ctx[k] for k in keys}
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(now, fh)
        return []
    with open(path) as fh:
        before = json.load(fh)
    checks = []
    for k in keys:
        a, b = before.get(k), now[k]
        if isinstance(b, dict):  # query rows: one check per query
            checks += [("repeat.%s.%s" % (k, q), a.get(q) == n,
                        "" if a.get(q) == n else "%s vs %s in an earlier run" % (n, a.get(q)))
                       for q, n in sorted(b.items())]
        else:
            checks.append(("repeat.%s" % k, a == b, "" if a == b else "%s vs %s in an earlier run" % (b, a)))
    return checks


GOLDEN = os.path.join(BENCH_DIR, "golden", "query_sweep.json")


def golden_checks(result, seed):
    """query_sweep content digests against the golden file for this seed
    and size; queries listed as unstable are checked on row count only."""
    golden = {"unstable": [], "digests": {}}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as fh:
            golden = json.load(fh)
    key = "%s@%s" % (seed, result["context"]["sf"])
    want = golden["digests"].get(key)
    if want is None:
        return [("golden.%s" % key, False, "no golden digests recorded for seed@sf %s" % key)]
    return [("golden.%s" % q, q in golden["unstable"] or want.get(q) == d,
             "" if want.get(q) == d else "%s vs golden %s" % (d, want.get(q)))
            for q, d in sorted(result["context"]["query_digests"].items())]


def record_golden():
    """Two smoke-size sweeps: the first one's digests become golden; queries
    whose digest differs between the two are listed as unstable."""
    runs = [run_workload("query_sweep", SMOKE_SEED, 2, 0, smoke=True)[1] for _ in range(2)]
    a, b = (r["context"]["query_digests"] for r in runs)
    golden = {"unstable": sorted(q for q in a if a[q] != b.get(q)),
              "digests": {"%s@%s" % (SMOKE_SEED, runs[0]["context"]["sf"]): a}}
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log("recorded %d digests, unstable: %s" % (len(a), golden["unstable"]))
    return 0


def run_workload(workload, seed, seconds, trace, smoke=False):
    stamp, cp = build()
    run_dir = os.path.join(BUILD, "runs", "%s-s%s-t%d-%d" % (workload, seed, trace, int(time.time() * 1000)))
    os.makedirs(run_dir)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--smoke", "1" if smoke else "0"]
    try:
        result = run_jvm(cp, args, run_dir, RUN_TIMEOUT_S)
        extra = []
        if workload == "query_sweep" and os.path.exists(os.path.join(run_dir, "oracle_sql.json")):
            t0 = time.time()
            extra += oracle_row_checks(run_dir, result)
            result["context"]["oracle_check_s"] = time.time() - t0
        if "query_digests" in result["context"]:
            extra += golden_checks(result, seed)
        if not smoke:
            extra += digest_checks(workload, seed, stamp, result)
    finally:
        shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    for name, ok, detail in extra:
        result["checks"].append({"name": name, "ok": ok, "detail": detail})
        if not ok:
            result["failed"] = min(result["attempted"], result["failed"] + 1)
            result["correct"] = False
    result["stamp"] = stamp
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return run_dir, result


def print_result(run_dir, result, trace):
    bad = [c for c in result["checks"] if not c["ok"]]
    for c in bad:
        log("check failed: %s %s" % (c["name"], c["detail"]))
    print("# %s: %d checks, %d failed; %d operations attempted, %d failed (failed_share %.4f)"
          % (result["workload"], len(result["checks"]), len(bad), result["attempted"],
             result["failed"], result["failed"] / result["attempted"]))
    for name, m in result["report"].items():
        print("# %-42s %14.6f %s" % (name, m["value"], m["unit"]))
    ctx = result["context"]
    if ctx.get("no_oracle"):
        print("# %d queries have no oracle SQL; their row counts are only checked to repeat"
              " across runs of the seed: %s" % (len(ctx["no_oracle"]), " ".join(ctx["no_oracle"])))
    print("# host calibration before/after: %.3f s / %.3f s on %d cores"
          % (ctx.get("calibrate_before_s", 0), ctx.get("calibrate_after_s", 0), ctx.get("cores", 0)))
    if trace:
        print("# spans: %s" % os.path.join(run_dir, "spans.jsonl"))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))


def smoke():
    """Every workload, untraced and traced, at tiny sizes: each declared
    metric must be present, finite and carry its declared unit, and every
    output check must pass."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in WORKLOADS:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            run_dir, result = run_workload(w, SMOKE_SEED, 2, trace, smoke=True)
            print_result(run_dir, result, trace)
            got = result["metrics"]
            names = {m["name"] for m in declared}
            if set(got) != names:
                problems.append("%s trace=%d: metric names differ: %s"
                                % (w, trace, sorted(set(got) ^ names)))
            for m in declared:
                v = got.get(m["name"])
                if v is None or v["unit"] != m["unit"] or not math.isfinite(v["value"]):
                    problems.append("%s trace=%d: %s = %s" % (w, trace, m["name"], v))
                elif trace == 0 and v["value"] <= 0:
                    problems.append("%s: end-to-end %s is not positive" % (w, m["name"]))
            if not result["correct"]:
                problems.append("%s trace=%d: output checks failed" % (w, trace))
            if trace and not os.path.getsize(os.path.join(run_dir, "spans.jsonl")):
                problems.append("%s: empty span file" % w)
    for p in problems:
        log("SMOKE: " + p)
    log("smoke %s" % ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-golden", action="store_true",
                    help="with --smoke: record the smoke-size query_sweep digests as golden")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ENGINE_SRC, "graft")) and os.path.exists(os.path.join(ROOT, "BENCHMARK.json"))):
        raise SystemExit("run from the root of a checkout: engine sources not found under %s" % ENGINE_SRC)
    if a.smoke:
        return record_golden() if a.record_golden else smoke()
    if not a.workload:
        ap.error("--workload is required")
    run_dir, result = run_workload(a.workload, a.seed, a.seconds, a.trace)
    print_result(run_dir, result, a.trace)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The harness under
perfbench/harness is built together with the checkout's own sources
(src/main/scala) on the first run and reused while those sources are
unchanged. Inputs are derived from perfbench/data and the seed (see
gen.py). Everything a run writes goes under perfbench/work/run/, which is
wiped at the start of each run; the build and the span files of traced
runs are kept beside it in perfbench/work/.

The last line on stdout is the result:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Outputs are checked against DuckDB
outside the timed region; a mismatch is a failed op.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import checks  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, "perfbench", "work")
HARNESS = os.path.join(ROOT, "perfbench", "harness")
DEADLINE_S = 170  # the whole run, build excluded

WORKLOADS = ("spool_service", "flow_query", "curate_lake")

# Frozen sizes and rates, the one place they are set: changing any of them
# changes the benchmark. They reach the harness as --params.
PARAMS = {
    "spool_service": {
        # backlog: catch-up (3 timed reps) and backfill; a prefix of it
        # goes to JDBC
        "backlog_rows": 30_000, "backlog_files": 60, "catchup_reps": 3,
        "warm_copies": 1,
        "jdbc_rows": 10_000, "jdbc_files": 8,
        "expire_before": "2024-01-03",
        # live: 8 history files land before the service starts, then
        # 20 files/s drop open loop: 100 files in the 5 s window, which is
        # one trigger interval, 50 per watcher (under the source's
        # 64-files-per-trigger cap). The row rate, files/s x rows/file, is
        # about half of the catch-up capacity this benchmark measured at
        # the commit that defined it.
        "live_history_files": 8, "live_files_per_s": 20,
        "live_rows_per_file": 500,
        "live_drain_s": 25,
    },
    "flow_query": {"warm_copies": 20},
    "curate_lake": {
        "queries": "dedup_minhash;ann_topk_ivf_mp;text_quality",
    },
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_checkout():
    """The benchmark needs the program's sources next to it."""
    need = [os.path.join(ROOT, "src", "main", "scala", "graft"),
            os.path.join(HARNESS, "build.sbt"),
            os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repo root")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    for base in roots:
        for d, dirs, files in os.walk(base):
            # build output (target/, project/project/) is not source
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + graft with sbt once per source state; returns the classpath."""
    bdir = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            fresh = fh.read() == stamp
        if fresh:
            with open(cp_file) as fh:
                return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness and graft with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        log("build failed")
        sys.exit(3)
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def driver_mem():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def live_files(seconds):
    p = PARAMS["spool_service"]
    return p["live_history_files"] + math.ceil(p["live_files_per_s"] * seconds)


def make_inputs(workload, seed, run_dir, seconds):
    """The measured inputs and the sf0.001-derived ones of the untimed warm
    pass, both from perfbench/data and the seed."""
    data, warm = os.path.join(run_dir, "data"), os.path.join(run_dir, "warm")
    if workload == "curate_lake":
        gen.curation(gen.SF0001, data, seed)
        gen.curation(gen.SF0001, warm, seed + 1)
        return data, warm
    copies = 1
    if workload == "spool_service":
        p = PARAMS[workload]
        need = p["backlog_rows"] + live_files(seconds) * p["live_rows_per_file"]
        copies = math.ceil(need / (gen.source_rows(gen.SF01) * (gen.KEEP_PCT - 2) / 100))
    gen.events(gen.SF01, data, seed, copies)
    # id-shifted sf0.001 copies: enough rows for the JIT to compile the
    # per-row paths before the measured region
    gen.events(gen.SF0001, warm, seed + 1, PARAMS[workload]["warm_copies"])
    return data, warm


def run_jvm(args, cp, data, warm, run_dir, deadline):
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{driver_mem()}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(run_dir, "jvm"), "--data", data, "--warm", warm,
              "--params", ",".join(f"{k}={v}" for k, v in PARAMS[args.workload].items()) or "-",
              "--traces", os.path.join(WORK, "traces"),
              "--cores", str(cores)])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"harness timed out; see {log_path}")
            sys.exit(4)
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not results:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        log(f"harness exited with {proc.returncode} and no result")
        sys.exit(5)
    return json.loads(results[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_checkout()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    cp = build()
    start = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data, warm = make_inputs(args.workload, args.seed, run_dir, args.seconds)
    t_gen = time.time()
    res = run_jvm(args, cp, data, warm, run_dir, start + DEADLINE_S)
    t_jvm = time.time()

    for e in res["errors"]:
        log(f"harness: {e}")
    bad = checks.verify(args.workload, res["checks"], data)
    for b in bad:
        log(f"check failed: {b}")
    log(f"inputs {t_gen - start:.1f}s, harness {t_jvm - t_gen:.1f}s, checks {time.time() - t_jvm:.1f}s")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    got = res["metrics"]
    metrics, absent, missing = {}, [], []
    for m in wanted:
        name = m["name"]
        if name in got and got[name]["value"] is not None:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload does not exercise did no work
            metrics[name] = {"value": 0, "unit": m["unit"]}
            absent.append(name)
        else:
            missing.append(name)
    if absent:
        log(f"layers not exercised by {args.workload} (reported 0): {', '.join(absent)}")
    if missing:
        log(f"end-to-end metrics missing: {', '.join(missing)}")
    if args.trace and "trace_file" in res["checks"]:
        log(f"spans: {res['checks']['trace_file']}")
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + len(bad) + len(missing))
    correct = failed == 0 and not bad and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

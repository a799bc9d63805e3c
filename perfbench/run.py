#!/usr/bin/env python3
"""Pipeline benchmark: the paper's daily cycle and a backfill.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness (perfbench/harness, an sbt build depending on the repo's own
build); later runs reuse the build while the sources are unchanged.

Each run generates its landing files from --seed (gen.py), starts one JVM
with one Spark session at local[nproc] and a fixed heap, sets the
workload up several times (the median is ``setup_s``), runs closed-loop
ops for --seconds, and checks the outputs against the generator's
expectations and DuckDB (check.py). With --trace 1 the same ops run a
second time under the tracer and the per-layer metrics are printed
instead of the end-to-end ones.

Workloads (why each is here is in BENCHMARK.json; sizes in SIZES):
  daily_cycle  30 days of history seeded, then one 50-item day per op
  backfill     every op reprocesses a landing of 4 large days

The last stdout line is the JSON result; the lines before it are the
report (every metric with its unit and sample count, the error rate and
the run's identity). Exits non-zero without a result when the checkout
cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Sizes per workload; --smoke shrinks them for the benchmark's own test.
SIZES = {
    "daily_cycle": dict(history_days=30, items=50, setup_reps=3),
    "backfill": dict(days=4, items=3000, setup_reps=3),
}
SMOKE = {
    "daily_cycle": dict(history_days=10, items=20, setup_reps=2),
    "backfill": dict(days=3, items=100, setup_reps=2),
}


def run_child(cmd, timeout, **kw):
    """Run a child process to the end; kill and reap it if this process
    times out or is terminated first."""
    with subprocess.Popen(cmd, **kw) as proc:
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        return proc.returncode, out


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    picks = [os.path.join(root, "build.sbt")]
    for top in (os.path.join(root, "project"), os.path.join(root, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or (x == "project" and d == HARNESS))
            picks += [os.path.join(d, f) for f in sorted(files)]
    return [p for p in picks if os.path.isfile(p)]


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, state):
    """Compile the program and the harness; return the runtime classpath."""
    stamp = digest(source_files(root), root)
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            old_stamp, cp = f.read(), g.read()
        if old_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    log("building the program and the harness (sbt)")
    t = time.time()
    try:
        code, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = out.splitlines()
    cps = [x for x in lines if ".jar" in x and os.pathsep in x and not x.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    log(f"built in {time.time() - t:.1f}s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def java_opens():
    pkgs = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
            "java.base/java.io", "java.base/java.net", "java.base/java.nio",
            "java.base/java.util", "java.base/java.util.concurrent",
            "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
            "java.base/sun.nio.cs", "java.base/sun.security.action",
            "java.base/sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def git_sha(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tail_percentile(values):
    """Highest whole percentile with at least ten samples above it (nearest
    rank); falls back to the maximum when there are fewer than 11."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return 100, xs[-1]
    p = (100 * (n - 10)) // n
    k = max(1, -(-p * n // 100))
    return p, xs[k - 1]


def run_harness(root, cp, args, sizes, work):
    landing = os.path.join(work, "landing")
    t = time.time()
    if args.workload == "daily_cycle":
        pending = int(args.seconds * 10) + 30
        expect = gen.generate(landing, sizes["history_days"] + pending, sizes["items"], args.seed)
    else:
        expect = gen.generate(landing, sizes["days"], sizes["items"], args.seed)
    generate_ms = (time.time() - t) * 1000
    refs = os.path.join(work, "artist_refs.tsv")
    with open(refs, "w") as f:
        f.writelines(f"{d['file']}\t{d['artist_refs']}\n" for d in expect["days"])
    plan = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "work": work, "landing": landing, "artist_refs": refs,
        "q4_song": expect["q4_song_id"], "nproc": len(os.sched_getaffinity(0)), "heap": HEAP,
        "result": os.path.join(work, "result.json"),
        "history_days": sizes.get("history_days", 0), "setup_reps": sizes["setup_reps"],
    }
    plan_file = os.path.join(work, "plan.properties")
    with open(plan_file, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + java_opens() + ["-cp", cp, "perfbench.Main", plan_file])
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as lf:
        try:
            code, _ = run_child(cmd, RUN_TIMEOUT_S - 10, cwd=root, stdout=lf,
                                stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {log_path}")
    if code != 0 or not os.path.isfile(plan["result"]):
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        fail(f"harness exited {code}; see {log_path}")
    with open(plan["result"]) as f:
        result = json.load(f)
    return result, expect, landing, plan, generate_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for smoke.py")
    args = ap.parse_args()
    # turn a termination request into SystemExit so run_child reaps its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/pipeline/Runner.scala",
                 "perfbench/harness/build.sbt", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the program: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp, stamp = build(root, state)

    sizes = (SMOKE if args.smoke else SIZES)[args.workload]
    work = os.path.join(state, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result, expect, landing, plan, generate_ms = run_harness(root, cp, args, sizes, work)

    checks = check.run_checks(result, expect, landing)
    if args.trace:
        checks.append(("trace.decomposition_equals_run_batch", result["decomposition_ok"], ""))
    failed_checks = [c for c in checks if not c[1]]
    ops = result["ops"]
    attempted = len(ops) + result["failed"] + len(checks)
    failed = result["failed"] + len(failed_checks)
    correct = not failed_checks and result["failed"] == 0 and bool(ops)

    med = statistics.median
    e2e, samples = {}, {}
    if ops:
        walls = [o["wall_ms"] for o in ops]
        tail_p, tail = tail_percentile(walls)
        batch_s = sum(o["batch_ms"] for o in ops) / 1000
        e2e = {
            "setup_s": med(result["setup_ms"]) / 1000,
            "op_p50_ms": med(walls),
            "op_tail_ms": tail,
            "batch_p50_ms": med(o["batch_ms"] for o in ops),
            "ingest_p50_ms": med(o["ingest_ms"] for o in ops),
            "analysis_p50_ms": med(o["analysis_ms"] for o in ops),
            "items_per_s": sum(o["items"] for o in ops) / batch_s,
            "peak_heap_mb": result["peak_heap_mb"],
        }
        samples = {k: len(ops) for k in e2e}
        samples["setup_s"] = len(result["setup_ms"])
        samples["peak_heap_mb"] = 1
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    if args.trace:
        layers = result["layers"]
        traced = result["traced_ops"]
        # every per-layer metric is the median over traced ops of the
        # per-op value, except the run-level ones filled in below
        per_layer = {m["name"]: med(x.get(m["name"], 0.0) for x in layers) if layers else 0.0
                     for m in spec["per_layer"]}
        for k in sorted({k for rep in result["staging"] for k in rep}):
            per_layer[f"staging.{k}"] = med(rep.get(k, 0.0) for rep in result["staging"])
        per_layer["staging.warmup_ms"] = result["warmup_ms"]
        per_layer["staging.warmup_ops"] = len(result["warmup_ops"])
        per_layer["staging.session_ms"] = result["session_ms"]
        per_layer["staging.generate_ms"] = generate_ms
        per_layer["spark.sched.job_floor_ms"] = result["job_floor_ms"]
        traced_p50 = med(o["wall_ms"] for o in traced) if traced else 0.0
        per_layer["trace.op_p50_ms"] = traced_p50
        per_layer["trace.overhead_ms"] = traced_p50 - e2e.get("op_p50_ms", 0.0)
        if not traced or result["traced_failed"]:
            correct = False
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": units[k]} for k in names}
        n_samples = len(traced)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in names if k in e2e}
        n_samples = None

    # report: identity, every metric with unit and samples, checks, error rate
    ident = dict(result["identity"], git_sha=git_sha(root), source_sha256=stamp[:16],
                 seed=args.seed, workload=args.workload, trace=args.trace)
    print("identity " + json.dumps(ident, sort_keys=True))
    for k, v in metrics.items():
        n = samples.get(k, "") if n_samples is None else n_samples
        extra = f" p{tail_p}" if k == "op_tail_ms" else ""
        print(f"metric {k} = {v['value']:.4f} {v['unit']} (n={n}{extra})")
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAIL'} {detail}")
    for e in result["errors"]:
        print(f"error {e}")
    print(f"metric error_rate = {failed / attempted:.4f} ratio "
          f"(failed={failed}, attempted={attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
`perfbench/.work/`; later runs rebuild only when a source file changed.

Each run generates its input corpus from the seed, starts one JVM (the same
session set-up as `graft.Bench`), times a cold pass and then the number of
warm passes that `--seconds` holds at the workload's seconds per pass,
checks every result against the DuckDB oracle, prints every metric by name
with its unit, and prints one JSON object as its last line. With `--trace 1`
the metrics are the per-layer ones, from every second warm pass. The exit
code is 0 only when every result is correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ("fixpoint_x2", "mapreduce_files")
# corpus scale factor per workload: lineitem = 6M x scale rows
SCALE = {"fixpoint_x2": 0.01, "mapreduce_files": 0.001}
QUERY_TIMEOUT_MS = 60000
SETUP_REPS = 3
CANARY_BOUND = 0.1    # canary drift beyond this share flags the run as contended
DEADLINE_S = 170      # the run after the build, JVM and oracle included, must end before this
HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {"pass_s": "s", "query_p50_s": "s", "query_p90_s": "s", "cold_pass_s": "s",
             "setup_s": "s", "heap_retained_mb": "MB"}
# Per-layer metrics of a traced run, in report order. Per-pass values are
# means over the traced warm passes; `egress.*` sum the cold pass's writes.
LAYER_UNITS = {
    "ops.build_s": "s", "ops.build_jobs": "count",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.reused_exchanges": "count", "plans.sorts": "count",
    "plans.broadcasts": "count", "plans.codegen_stages": "count", "plans.cached_scans": "count",
    "codegen.compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.stages_skipped": "count",
    "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.sched_delay_s": "s", "exec.busy_cores": "cores", "exec.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "count",
    "egress.write_s": "s", "egress.mb": "MB", "egress.files": "count",
    "cache.mb_peak": "MB", "checkpoint.mb": "MB",
    "guard.overhead_s": "s", "guard.timeouts": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "self.pass_s": "s", "self.query_s": "s", "self.build_s": "s", "self.analyze_s": "s",
    "self.optimize_s": "s", "self.physical_s": "s", "self.execute_s": "s", "self.job_s": "s",
    "self.stage_s": "s", "trace.overhead": "ratio",
    "setup.session_s": "s", "setup.fixture_s": "s",
    "host.load_start": "load", "host.load_end": "load", "host.canary_s": "s",
    "host.canary_end_s": "s"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's build and sources, and the
    harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness", "src"), os.path.join(HERE, "harness", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness when a source changed; returns the classpath."""
    stamp_path = os.path.join(WORK, "build", "stamp")
    cp_path = os.path.join(WORK, "build", "classpath")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as c:
                    return c.read().strip()
    os.makedirs(os.path.dirname(stamp_path), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(WORK, "build", "sbt.log")
    t0 = time.time()
    with open(log_path, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0 or not lines:
        log("\n".join(lines[-30:]))
        fail(f"build failed (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, args, work, deadline):
    """Runs the harness JVM; returns its result dict or raises RuntimeError."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        # setup_s starts here, at the JVM launch
        args = dict(args, **{"launched-ms": int(time.time() * 1000)})
        cmd += ["-cp", cp, "perfbench.Harness"]
        for k, v in args.items():
            cmd += [f"--{k}", str(v)]
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(args["out"]):
        with open(jvm_log) as fh:
            log("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"harness JVM failed (exit {p.returncode})")
    with open(args["out"]) as fh:
        return json.load(fh)


def end_to_end(res):
    """End-to-end metrics from the untraced warm passes. A failed or timed-out
    query adds no time sample, and a pass with a failure is not a pass
    sample. As in `graft.Bench`, a pass is timed by its fastest warm run: a
    shared host stalls arbitrary runs for seconds, and the fastest of several
    runs is the one a stall did not hit. The median query time pools every
    warm (query, pass) sample: a median over each query's fastest run jumps
    between the workload's groups of short and long queries. The 90th
    percentile is taken over each query's median warm time: over the pooled
    samples it rests on the few slowest ones (5 of 50), which mix the stalls
    of the two slowest queries and spread about twice as wide from run to
    run."""
    samples = res["samples"]
    untraced = {p["pass"]: p for p in res["passes"] if p["pass"] >= 1 and not p["traced"]}
    failed_passes = {s["pass"] for s in samples if s["status"] != "ok"}
    complete = [p["wall_s"] for n, p in untraced.items() if n not in failed_passes]
    per_query = {}
    for s in samples:
        if s["pass"] in untraced and s["status"] == "ok":
            per_query.setdefault(s["q"], []).append(s["wall_s"])
    runs = [t for ts in per_query.values() for t in ts]
    typical = [statistics.median(ts) for ts in per_query.values()]
    cold = [p["wall_s"] for p in res["passes"] if p["pass"] == 0 and 0 not in failed_passes]
    if not complete or not cold or len(typical) < 2:
        return None
    return {"pass_s": min(complete),
            "query_p50_s": statistics.median(runs),
            "query_p90_s": statistics.quantiles(typical, n=10, method="inclusive")[8],
            "cold_pass_s": cold[0],
            "setup_s": res["setup_s"],
            "heap_retained_mb": res["heap_retained_mb"]}, len(complete), len(runs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        import selftest
        sys.exit(selftest.main(lambda **kw: bench(**kw)))
    if not a.workload:
        ap.error("--workload is required")
    rc, _ = bench(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)
    sys.exit(rc)


def bench(workload, seed, seconds, trace, queries=None, inject=False, tamper=None,
          starve=None, timeout_ms=QUERY_TIMEOUT_MS):
    """One benchmark run. Returns (exit code, report dict or None)."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"engine source {f} not found: run from the root of a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    import gen
    import oracle
    cp = build()
    # the run's own budget starts after the build, which only the first run
    # of a checkout pays
    started = time.time()
    deadline = started + DEADLINE_S

    work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    try:
        gen.write(os.path.join(work, "data"), seed, SCALE[workload])
        spans = os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.spans.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                "data": os.path.join(work, "data"), "work": work,
                "out": os.path.join(work, "result.json"), "spans": spans,
                "setup-reps": SETUP_REPS, "timeout-ms": timeout_ms,
                "inject": int(inject)}
        if queries:
            args["queries"] = ",".join(queries)
        try:
            res = run_jvm(cp, args, work, deadline)
        except RuntimeError as e:
            log(f"perfbench: {e}")
            return 3, None
        check = oracle.check(res, work, tamper=tamper, starve=starve, deadline=deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if s["status"] != "ok")
    wrong = sum(1 for c in check.values() if c["verdict"] != "ok")
    lay = res["layers"]
    drift = lay["host.canary_end_s"] / lay["host.canary_s"] - 1
    # The canary before the window runs while the JIT still compiles the cold
    # pass's code, so it reads slow on a quiet host; only a canary that got
    # slower across the window flags contention.
    contended = drift > CANARY_BOUND
    e2e = end_to_end(res)
    report = {"workload": workload, "seed": seed, "trace": trace, "attempted": attempted,
              "failed": failed, "error_rate": failed / attempted, "wrong_results": wrong,
              "contended": contended, "canary_drift": drift,
              "correctness": check, "layers": lay, "timeline": res["timeline"],
              "samples": samples, "passes": res["passes"],
              "failures": [s for s in samples if s["status"] != "ok"],
              "end_to_end": e2e[0] if e2e else None,
              "pass_samples": e2e[1] if e2e else 0, "query_samples": e2e[2] if e2e else 0}
    with open(os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)

    for q, c in sorted(check.items()):
        if c["verdict"] != "ok":
            log(f"perfbench: wrong result {q}: {c['verdict']}")
    for s in report["failures"]:
        log(f"perfbench: {s['status']} {s['q']} (pass {s['pass']}) {s.get('error', '')}")
    if contended:
        log(f"perfbench: contended window: canary moved {drift:+.1%}")
    print(f"workload {workload} seed {seed} trace {trace} elapsed {time.time() - started:.1f} s")
    print(f"error_rate {report['error_rate']:.6f} ratio ({failed} of {attempted} query runs)")
    print(f"wrong_results {wrong} count (of {len(check)} queries)")
    print(f"contended {str(contended).lower()} (canary drift {drift:+.4f})")
    if e2e is None and not trace:
        log("perfbench: no complete warm pass to time")
        return 4, report
    metrics = {}
    if trace:
        for k, unit in LAYER_UNITS.items():
            metrics[k] = {"value": lay[k], "unit": unit}
    else:
        for k, v in e2e[0].items():
            metrics[k] = {"value": v, "unit": E2E_UNITS[k]}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"samples: {report['pass_samples']} warm passes, {report['query_samples']} warm query runs")
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return (0 if wrong == 0 else 1), report


if __name__ == "__main__":
    main()

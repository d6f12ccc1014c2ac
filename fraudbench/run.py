#!/usr/bin/env python3
"""Fraud-path benchmark: one command, three workloads.

    python3 fraudbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 fraudbench/run.py --selftest

Run from the repository root. The first run builds the engine from
src/main/scala together with the benchmark harness (fraudbench/build.sbt,
outputs under .bench_build/); later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed (gen.py), starts
one measured JVM at local[N] (N = min(cpus, 4)), takes setup_s from that
JVM's launch to its session being ready, prints every metric by name and
unit with the output checks, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
every workload run was correct.

With --trace 1 the workload runs with Spark's listeners and the benchmark's
spans installed; the run reports per-layer numbers and the tracing overhead
(traced minus untraced end-to-end result), and for ingest_peak adds a
single-core (local[1]) drain as the stream-processing baseline.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest_peak", "model_trickle", "analytics_ticks")
REFERENCE_EPS = 2.0      # the reference system's design point (one Python consumer thread)
RUN_DEADLINE_S = 170     # a run (after the one-off build) must end well within 180 s
BUILD_TIMEOUT_S = 840


def fail(msg):
    print("fraudbench: " + msg, file=sys.stderr)
    sys.exit(2)


def _metric_lists():
    """(name, unit) of the end-to-end and per-layer metrics, as BENCHMARK.json lists them."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail("cannot read BENCHMARK.json: %s" % e)
    return tuple(tuple((m["name"], m["unit"]) for m in spec[k]) for k in ("end_to_end", "per_layer"))


def cores():
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def heap_size():
    """Heap size: half of physical memory, clamped to [2, 8] GiB, so it fits the host."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def _stamp():
    h = hashlib.sha256()
    for base in ("src/main/scala", "fraudbench/scala", "fraudbench/build.sbt",
                 "fraudbench/project/build.properties"):
        top = os.path.join(ROOT, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns (classpath, JVM options, source stamp)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "jvm-opts.txt")
    stamp = _stamp()

    def outputs():
        with open(cp_file) as f, open(opts_file) as g:
            return f.read().strip(), g.read().split(), stamp
    if all(os.path.exists(p) for p in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return outputs()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail("build failed: %s (log: %s)" % (e, log))
    if rc != 0 or not os.path.exists(cp_file) or not os.path.exists(opts_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed (log: %s)" % log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return outputs()


def jvm(build_out, work, deadline, **kv):
    """Run fraudbench.Main once; returns (result dict, seconds from launch to session ready)."""
    cp, opts, _ = build_out
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    props = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": tmp,
        "derby.system.home": os.path.join(work, "derby-home"),
        "derby.stream.error.file": os.path.join(work, "derby.log"),
        "spark.ui.enabled": "false",
    }
    cmd = (["java", "-Xmx" + heap_size()] + opts
           + ["-D%s=%s" % kv_ for kv_ in props.items()]
           + ["-cp", cp, "fraudbench.Main", "--out", out, "--work", work]
           + [x for k, v in kv.items() for x in ("--" + k, str(v))])
    log = os.path.join(work, "jvm.log")
    timeout = deadline - time.monotonic()
    if timeout < 5:
        fail("out of time before %s" % kv.get("mode"))
    launched = time.time()
    t0 = time.monotonic()
    with open(log, "w") as err:
        try:
            rc = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                cwd=work, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail("%s timed out (log: %s)" % (kv.get("mode"), log))
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("%s exited with %d (log: %s)" % (kv.get("mode"), rc, log))
    with open(out) as f:
        res = json.load(f)
    print("fraudbench: %s %s took %.1f s" % (kv.get("mode"), kv.get("workload", ""), time.monotonic() - t0),
          file=sys.stderr)
    return res, res["ready_us"] / 1e6 - launched


def selftest(deadline):
    work = os.path.join(BUILD, "run", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    res, _ = jvm(build(), work, deadline, mode="selftest", cores=2)
    _print_lines(res)
    print("selftest: %s" % ("ok" if res["ok"] else "FAILED"))
    return 0 if res["ok"] else 1


def fmt(v):
    return "n/a" if v is None else "%.4f" % v


def _print_lines(res):
    for line in res["lines"]:
        print(line)


def _untraced_cache(workload, seconds, stamp):
    d = os.path.join(BUILD, "untraced", "%s-%d-%s" % (workload, seconds, stamp[:16]))
    os.makedirs(d, exist_ok=True)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest(time.monotonic() + RUN_DEADLINE_S))
    if not a.workload:
        ap.error("--workload is required")
    build_out = build()
    e2e, per_layer = _metric_lists()
    ok = True
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        ok = run_workload(a, w, build_out, e2e, per_layer) and ok
    sys.exit(0 if ok else 1)


def run_workload(a, workload, build_out, e2e_metrics, layer_metrics):
    """One workload end to end; prints its report and the JSON result line."""
    deadline = time.monotonic() + RUN_DEADLINE_S
    run_dir = os.path.join(BUILD, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "input")
    gen.generate(workload, a.seed, a.seconds, inputs)
    n = cores()
    cache = _untraced_cache(workload, a.seconds, build_out[2])
    common = dict(mode="run", workload=workload, seed=a.seed, seconds=a.seconds, cores=n, input=inputs)
    print("== %s seed=%d seconds=%d local[%d] -Xmx%s%s" % (
        workload, a.seed, a.seconds, n, heap_size(), " (traced)" if a.trace else ""))
    if not a.trace:
        res, setup_s = jvm(build_out, os.path.join(run_dir, "untraced"), deadline, trace=0, **common)
        runs = [res]
        _print_lines(res)
        print("%-30s %14s s      (JVM launch to session ready)" % ("setup_s", fmt(setup_s)))
        e2e = dict(res["e2e"], setup_s=setup_s)
        with open(os.path.join(cache, "seed%d.json" % a.seed), "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": e2e.get(k), "unit": u} for k, u in e2e_metrics}
    else:
        traced, _ = jvm(build_out, os.path.join(run_dir, "traced"), deadline, trace=1, **common)
        runs = [traced]
        _print_lines(traced)
        # Tracing overhead against untraced runs of the same build, workload
        # and length: their median when any are on file, else one run now.
        base = []
        for name in sorted(os.listdir(cache)):
            with open(os.path.join(cache, name)) as f:
                base.append(json.load(f))
        if not base:
            res, _ = jvm(build_out, os.path.join(run_dir, "untraced"), deadline, trace=0, **common)
            runs.append(res)
            base = [res["e2e"]]
        print("tracing overhead (traced minus the median of %d untraced run(s)):" % len(base))
        overhead = {}
        for k, u in e2e_metrics + (("lat_p50_ms", "ms"), ("throughput_per_s", "1/s")):
            t = traced["e2e"].get(k)
            b = [x[k] for x in base if x.get(k) is not None]
            if t is not None and b and k != "setup_s":
                m = statistics.median(b)
                overhead[k] = 100.0 * (t - m) / m if m else None
                print("  %-28s %+12.4f %s (%+.1f%%)" % (k, t - m, u, overhead[k] or 0.0))
        layers = dict(traced["layers"], **{"session.create_s": traced["create_s"],
                                          "trace.overhead_pct": overhead.get("cpu_ms_per_op")})
        print("%-30s %14s s" % ("session.create_s", fmt(traced["create_s"])))
        if workload == "ingest_peak":
            base_in = os.path.join(run_dir, "input_local1")
            gen.generate("ingest_drain1", a.seed, a.seconds, base_in)
            one, _ = jvm(build_out, os.path.join(run_dir, "local1"), deadline, mode="run", workload="ingest_drain1",
                         seed=a.seed, seconds=a.seconds, cores=1, input=base_in, trace=0)
            runs.append(one)
            eps = one["e2e"]["throughput_per_s"]
            print("baseline: local[1] drain %.1f ev/s vs the reference design point %.0f ev/s (%.0fx)"
                  % (eps, REFERENCE_EPS, eps / REFERENCE_EPS))
        metrics = {k: {"value": layers.get(k), "unit": u} for k, u in layer_metrics}
    print("%-30s %14s MB" % ("rss_peak_mb", fmt(runs[0]["e2e"].get("rss_peak_mb"))))
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    correct = all(r["checks_ok"] for r in runs) and failed == 0
    print("%-30s %14s       (%d failed of %d attempted)" % (
        "fail_frac", fmt(failed / attempted if attempted else None), failed, attempted))
    print("correct: %s" % correct)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return correct


if __name__ == "__main__":
    main()

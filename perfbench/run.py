#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside through its public calls.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) into target/ and perfbench/target/; later runs
reuse the build while no source file has changed. Inputs are generated from
the seed under perfbench/work/, every output is checked, and the last line
printed is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md).
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("batch_kpi", "stream_kpi")
# batch_kpi input size: the reference layout at about 3.3x the reference's row counts
BATCH_PRODUCTS, BATCH_ORDERS = 10000, 30000
# stream_kpi: closed-loop backlog, then one file every PERIOD_MS (open loop)
STREAM_PRODUCTS, STREAM_ROWS_PER_FILE, STREAM_BACKLOG, STREAM_PERIOD_MS = 10000, 5000, 6, 1500
# the registry headliners read a copy of the harness test data at sf0.01 (seed 42)
REGISTRY_DATA = os.path.join(HERE, "testdata", "sf0.01")
JVM_HEAP = "4g"
# Spark's codegen cache (default 100 entries, in 4 LRU segments) sat at the
# edge of what one batch run generates: in about half of the JVMs one segment
# overflowed, by hash placement alone, and every run recompiled 21-28
# classes and ran 0.5-1 s slower, so runs of the same input were bimodal.
CODEGEN_CACHE = 1000
# seconds the JVM may run, so that with the output checks after it (up to
# 30 s with the registry oracles) a run ends within 180 s of its build
JVM_DEADLINE_S = 135
# per batch run / per stream: GC, process CPU and JIT seconds, and classes generated by Spark codegen
JVM_COUNTERS = ("gc_s", "cpu_s", "jit_s", "codegen.classes")
SESSION_LAYERS = ("session.cold_s", "session.jvm_s", "session.build_s", "session.first_query_s",
                  "session.again_s")
# prefixes of the per-layer metrics of layers a workload does not call; those read 0
NOT_CALLED = {"batch_kpi": ("stream.",),
              "stream_kpi": ("validate.", "kpi_category.", "kpi_order.", "csv.", "keyed_sink.", "registry.")}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint(root):
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work):
    """Compile the program and the harness unless the sources are unchanged."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    fp = source_fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    with open(os.path.join(work, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                             "writeClasspath"], cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {os.path.join(work, 'build.log')}", 3)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def nproc():
    return len(os.sched_getaffinity(0))


def jvm(classpath, work, mode, args, deadline):
    """Run one benchmark JVM and return the dict it prints."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2, each run's freshly generated classes kept the
    # compiler threads busy for 4-7 s of CPU per 3-4 s batch run, and the
    # batch timings of identical runs spread by 27-37% instead of 16%.
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
            "-cp", classpath, "graft.perfbench.Main", "--mode", mode, "--work", work]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    log = open(os.path.join(work, f"{mode}.log"), "a")
    cmd += ["--launch-ns", str(time.time_ns())]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{mode} JVM ran past the deadline, see {log.name}", 4)
    finally:
        log.close()
    print(f"perfbench: {mode} JVM ran {time.monotonic() - t0:.1f} s", file=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        fail(f"{mode} JVM exited with {proc.returncode}, see {log.name}", 4)
    with open(os.path.join(work, f"{mode}.json"), "w") as f:
        f.write(lines[-1][len("PERFBENCH "):])
    return json.loads(lines[-1][len("PERFBENCH "):])


def quantile(xs, q):
    """Inclusive quantile q of xs, as statistics.quantiles(method='inclusive')."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(round(q * 100)) - 1]


def e2e(workload, r, traced=False):
    """End-to-end timings of the untraced (or traced) part of a result.

    batch_kpi: wall_s is the median run() time, and freshness is the time
    from the start of a run (its input is complete) until each KPI table's
    _SUCCESS marker is written. stream_kpi: wall_s is the time to drain the
    backlog, and freshness is that of each live file."""
    if workload == "batch_kpi":
        reps = [x for x in r["reps"] if x["traced"] == traced]
        wall = statistics.median(x["wall_s"] for x in reps)
        lat = [ms for x in reps for ms in x["published_ms"] if ms >= 0]
    else:
        wall, lat = r["drain_s"], r["freshness_ms"]
    lat = lat or [0.0]  # no KPI table published: the output checks have failed the run
    return {"wall_s": wall, "freshness_p50_ms": quantile(lat, 0.5), "freshness_p90_ms": quantile(lat, 0.9)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/BenchCore.scala"))):
        fail("run from the root of a checkout of the program (build.sbt and src/ not found)", 2)
    work = os.path.join(HERE, "work")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    deadline = time.monotonic() + JVM_DEADLINE_S

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tags = ["untraced", "traced"] if a.trace else ["untraced"]
    args = {"seconds": a.seconds, "trace": a.trace}
    if a.workload == "batch_kpi":
        inputs = gen.write_batch(os.path.join(run_dir, "batch"), a.seed, BATCH_PRODUCTS, BATCH_ORDERS)
        args["input-rows"] = inputs["products"] + inputs["orders"] + inputs["order_items"]
    elif a.workload == "stream_kpi":
        live = int(a.seconds * 1000 // STREAM_PERIOD_MS)
        inputs = gen.write_stream(os.path.join(run_dir, "stream"), a.seed, STREAM_PRODUCTS,
                                  STREAM_BACKLOG + live, STREAM_ROWS_PER_FILE, tags)
        args.update({"backlog": STREAM_BACKLOG, "period-ms": STREAM_PERIOD_MS})
        inputs.update(backlog_files=STREAM_BACKLOG, live_files=live, period_ms=STREAM_PERIOD_MS)
    if a.workload == "batch_kpi" and a.trace:
        args["registry-data"] = REGISTRY_DATA
        inputs["registry"] = os.path.relpath(REGISTRY_DATA, root)

    res = jvm(classpath, run_dir, a.workload, args, deadline)

    r = res["untraced"]
    t0 = time.monotonic()
    attempted, failed, notes = checks.check(a.workload, run_dir, r)
    if "registry" in res:
        n, f, m = checks.check_registry(REGISTRY_DATA, os.path.join(run_dir, "registry", "out"),
                                        res["registry"])
        attempted, failed, notes = attempted + n, failed + f, notes + m
    print(f"perfbench: output checks took {time.monotonic() - t0:.1f} s", file=sys.stderr)
    e = e2e(a.workload, r)
    e.update(setup_s=res["setup_s"], peak_heap_mb=res["peak_heap_after_gc_mb"])
    if a.trace:
        if a.workload == "batch_kpi":
            t, te = r, e2e(a.workload, r, traced=True)
            traced_reps = [x for x in r["reps"] if x["traced"]]
            jvm_use = {k: statistics.median(x[k] for x in traced_reps) for k in JVM_COUNTERS}
        else:
            t = res["traced"]
            te, jvm_use = e2e(a.workload, t), {k: t[k] for k in JVM_COUNTERS}
        layers = dict(t["layers"], **res.get("registry", {}).get("layers", {}))
        layers.update({k: res[k] for k in SESSION_LAYERS})
        layers.update(jvm_use, **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
        layers.update({f"trace_overhead.{k}": te[k] - e[k] for k in te})
        units = metric_units("per_layer")
        missing = [k for k in units if k not in layers and not k.startswith(NOT_CALLED[a.workload])]
        attempted += 1
        if missing:
            failed += 1
            notes.append(f"per-layer metrics not measured: {', '.join(missing)}")
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in units.items()}
        with open(os.path.join(work, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "layers": layers}, f)
    else:
        metrics = {k: {"value": e[k], "unit": u} for k, u in metric_units("end_to_end").items()}
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": nproc(), "calib": res["calib"], "setup_samples": res["setup_samples"],
            "inputs": inputs, "checks": notes}
    if a.workload == "stream_kpi":
        info["catch_up_rows_per_s"] = r["catch_up_rows"] / e["wall_s"] if e["wall_s"] > 0 else 0.0
    print("perfbench " + json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def metric_units(kind):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    main()

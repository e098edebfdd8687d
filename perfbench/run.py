#!/usr/bin/env python3
"""Case-first benchmark of res2df_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload case_reek --seed 1 --seconds 10 --trace 0

One run is one fresh process with one client in a closed loop: generate
(or re-use) the seeded inputs, set up the engine, run one cold pass, then
warm passes until ``--seconds`` have been spent, check the outputs of the
last pass, and print one JSON object as the last line of standard output.

With ``--trace 0`` the metrics are the end-to-end ones (setup_s, cold_s,
warm_s, py_rss_peak_mb); with ``--trace 1`` they are the
per-layer ones, from spans recorded around calls into the engine's modules
and from Spark's event log.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "3g"
#: Pass 0 is the cold pass.  Pass 1 is a warm-up: the second time each
#: plan shape runs it still pays for JIT compilation (25-30 % slower than
#: later passes), so counting it would make warm_s depend on how many
#: passes fit in the time budget.  Warm passes are pass 2 on.
FIRST_WARM = 2
#: warm passes that always run, even past the time budget
MIN_WARM = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", default="full", help="input size: full or tiny")
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one output before the checks (self-test)")
    return ap.parse_args(argv)


def pin_engine(trace: bool) -> dict:
    """Environment for the engine, set before the JVM starts: as many
    local threads as this host has cores, an explicit driver heap, and
    every scratch directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    # no hsperfdata file either: the JVM would write it under /tmp
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if trace:
        evdir = os.path.join(WORK, "eventlog", str(os.getpid()))
        os.makedirs(evdir, exist_ok=True)
        env["PERFBENCH_EVENTLOG"] = evdir
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{evdir}",
                   "--conf spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return env


def rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs, in seconds (the ``steal`` column of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def provenance(env: dict, spark, args, wl, input_bytes: int) -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    digest = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, "res2df_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(fh.read())
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "git_sha": sha,
        "engine_sha256": digest.hexdigest()[:16],
        "nproc": os.cpu_count(),
        "cpus_used": int(env["SPARK_GRAFT_CPUS"]),
        "spark_master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": args.seed,
        "shape": args.shape,
        "workload": wl.name,
        "input_bytes": input_bytes,
    }


def stop_engine(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — best effort; the wait below decides
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    env = pin_engine(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    # untimed: inputs are generated (or found in the cache) by a child
    # process, so generation never shows in this process's peak RSS
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), WORK, args.shape,
                    str(args.seed), *wl.kinds], cwd=ROOT, check=True, timeout=600)
    wl.prepare(WORK, args.shape, args.seed)
    input_bytes = sum(gen.dir_bytes(d) for d in wl.inputs)

    import tracing

    tracer = tracing.Tracer(f"{wl.name}-s{args.seed}-{os.getpid()}")

    # ---- set-up: engine session plus the first trivial job ---------------
    t0 = time.perf_counter()
    from res2df_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    setup = {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0,
             "session.first_job_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    if args.trace:
        tracing.install(tracer)

    # ---- closed loop: one cold pass, then warm passes ----------------------
    passes, failed_steps = [], set()
    steps_attempted = 0
    start, steal0 = time.perf_counter(), steal_s()
    # a traced run alternates traced and untraced warm passes and needs
    # two of each for the overhead estimate: see the tracing choice below
    min_warm = 2 * MIN_WARM if args.trace else MIN_WARM
    i = 0
    while True:
        if len(passes) - FIRST_WARM >= min_warm:
            last = passes[-1]["wall"]
            if time.perf_counter() - start + last > args.seconds:
                break
        # the cold pass and the even passes are traced; the odd ones run the
        # same work with the wrappers off, for the overhead estimate
        tracer.enabled = bool(args.trace) and i % 2 == 0
        rec = {"index": i, "traced": tracer.enabled, "steps": {}}
        tracer.counts = rec["counts"] = {}
        p0 = time.perf_counter()
        with tracer.span("bench.pass", "bench"):
            wl.new_pass(spark)
            for st in wl.steps():
                spark.sparkContext.setJobGroup(f"p{i}:{st.name}", st.name)
                steps_attempted += 1
                b0 = time.perf_counter()
                try:
                    with tracer.span(f"bench.{st.name}", "bench"):
                        obj = st.build()
                        b1 = time.perf_counter()
                        st.sink(obj)
                except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
                    failed_steps.add((i, st.name))
                    rec["steps"][st.name] = {"error": f"{type(e).__name__}: {e}"[:300]}
                    continue
                b2 = time.perf_counter()
                rec["steps"][st.name] = {"build": b1 - b0, "exec": b2 - b1,
                                         "layer": st.layer}
        rec.update(start=p0, end=time.perf_counter())
        rec["wall"] = rec["end"] - p0
        rec["py_hwm_mb"] = rss_mb()
        passes.append(rec)
        i += 1
    tracer.enabled = False
    steal = steal_s() - steal0
    py_peak = rss_mb()  # setup and passes; the checks below are not the workload
    spark.sparkContext.setJobGroup("checks", "output checks")

    # ---- checks, once, outside the timed region ----------------------------
    c0 = time.perf_counter()
    if args.plant:
        plant_wrong_output(wl)
    problems = {k: v for k, v in wl.check().items() if v}
    for step in problems:
        for p in passes:
            if step in p["steps"]:
                failed_steps.add((p["index"], step))
    steps_attempted += len(wl.check_steps)
    failed_steps |= {("check", step) for step in wl.check_steps if step in problems}
    output_rows = wl.output_rows()
    checks_s = time.perf_counter() - c0

    jvm_peak = rss_mb(jvm_pid) if jvm_pid else 0.0
    prov = provenance(env, spark, args, wl, input_bytes)
    prov["output_rows"] = output_rows
    prov["host_steal_s"] = round(steal, 2)
    prov["checks_s"] = round(checks_s, 2)
    stop_engine(spark)
    shutil.rmtree(wl.out, ignore_errors=True)  # checked; only the inputs are kept

    warm = [p["wall"] for p in passes[FIRST_WARM:]]
    result = {
        "workload": wl.name,
        "passes": passes,
        "setup": setup,
        "problems": problems,
        "attempted": steps_attempted,
        "failed": len(failed_steps),
        "e2e": {
            "setup_s": setup["setup_s"],
            "cold_s": passes[0]["wall"],
            "warm_s": statistics.median(warm),
            "py_rss_peak_mb": py_peak,
        },
        "jvm_rss_peak_mb": jvm_peak,
        "provenance": prov,
    }
    if args.trace:
        import layers

        events = layers.read_event_log(os.environ["PERFBENCH_EVENTLOG"])
        result["layers"], result["report"] = layers.per_layer(
            tracer, passes[FIRST_WARM:], setup, events, int(env["SPARK_GRAFT_CPUS"]),
            jvm_peak)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.write(os.path.join(WORK, "trace", f"{tracer.run_id}.jsonl"))
    return result


def plant_wrong_output(wl) -> None:
    """Self-test hook: make the last pass's output wrong on purpose, by
    dropping the last row of a CSV or one part file of a Parquet output."""
    import glob

    path = sorted(glob.glob(os.path.join(wl.out, "*.csv"))
                  + glob.glob(os.path.join(wl.out, "*.parquet", "*.parquet")))[0]
    if path.endswith(".csv"):
        with open(path) as f:
            lines = f.readlines()
        with open(path, "w") as f:
            f.writelines(lines[:-1])
    else:
        os.remove(path)


UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "py_rss_peak_mb": "MB"}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("res2df_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the root of a res2df_spark "
                  "checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    res = run(args)

    passes = res["passes"]
    warm = [p["wall"] for p in passes[FIRST_WARM:]]
    print(f"# perfbench {res['workload']} seed={args.seed} trace={args.trace}")
    print("# provenance " + json.dumps(res["provenance"], sort_keys=True))
    warmup = ", ".join(f"{p['wall']:.4f}" for p in passes[1:FIRST_WARM])
    print(f"# passes: 1 cold ({passes[0]['wall']:.4f} s) + {FIRST_WARM - 1} warm-up "
          f"({warmup} s) + {len(warm)} warm; warm median {statistics.median(warm):.4f} s, "
          f"min {min(warm):.4f} s, max {max(warm):.4f} s (n={len(warm)})")
    error_rate = res["failed"] / res["attempted"]
    print(f"# error_rate {error_rate:.4f} ({res['failed']} failed / "
          f"{res['attempted']} attempted steps)")
    for step, why in sorted(res["problems"].items()):
        print(f"# FAILED CHECK {res['workload']}.{step}: {why}")
    for p in passes:
        for step, s in p["steps"].items():
            if "error" in s:
                print(f"# FAILED STEP pass {p['index']} {step}: {s['error']}")
    if args.trace:
        for line in res["report"]:
            print("# " + line)
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in res["layers"].items()}
    else:
        for k, v in res["e2e"].items():
            print(f"# {k:18s} {v:12.4f} {UNITS[k]}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["e2e"].items()}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{res['workload']}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({k: v for k, v in res.items() if k != "passes"} | {
            "passes": [{k: v for k, v in p.items() if k not in ("start", "end")}
                       for p in passes], "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

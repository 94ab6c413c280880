#!/usr/bin/env python3
"""Layered benchmark of the entity-resolution engine.

One run is one fresh process: it sets up a session at
local[$SPARK_GRAFT_CPUS] (default: one fewer than the CPUs this process
may use), then one closed-loop client runs units of work -- each starts
after the previous one has finished and been checked -- for --seconds,
and at least one cold and the workload's minimum of steady units. A
traced run then adds its layer measurements (see trace_extras). The
last line of stdout is the JSON result; a detail record (host, units,
spans) goes to .perfbench_work/out/.

    python3 perfbench/run.py --workload er_stored_100k --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --all         # every workload, untraced then traced
    python3 perfbench/run.py --selftest    # tiny inputs, and corrupted outputs

--trace 0 reports the end-to-end metrics. --trace 1 turns on the Spark
event log, stage timing and spans, and reports the per-layer metrics;
its trace.* metrics minus the untraced run's are the tracing overhead.
Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "entity_resolution__spark"
HARD_STOP_S = 120  # no new unit after this much of the run's life

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "steady_pass_s": "s",
    "cpu_s": "s",
}
STAGE_FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_cpu_s": "s",
    "jvm_gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
}
KERNELS = [
    "normalize_series_us", "tokenize_series_us", "minhash_sig_us",
    "extract_countries_us", "feature_struct_us", "feature_struct_pure_us",
    "jaro_winkler_series_us", "indel_and_lcs_series_us",
]


def per_layer_units() -> dict[str, str]:
    from workloads import ER_STAGES, QUERIES

    # peak RSS is a layer metric, not an end-to-end one: under the default
    # 56g driver heap the JVM's heap growth, and with it the peak, varies
    # by a quarter from run to run on one input
    units = {"session.start_s": "s", "session.peak_rss_mb": "MB"}
    for s in ER_STAGES:
        for f, unit in STAGE_FIELDS.items():
            units[f"stage.{s}.{f}"] = unit
    units["pairs.kept_ratio"] = "ratio"
    units.update({f"functions.{k}": "us" for k in KERNELS})
    units["functions.c_tier"] = "count"
    units.update({
        "cc.iterations": "count", "cc.jobs": "count", "cc.wall_s": "s",
        "cc.shuffle_write_mb": "MB", "cc.forest_ratio": "ratio",
        "checkpoint.commit_s": "s", "checkpoint.commits": "count",
        "checkpoint.bytes_written_mb": "MB", "checkpoint.read_s": "s",
        "checkpoint.resume_s": "s",
    })
    units.update({f"query.{q}.wall_s": "s" for q in QUERIES})
    units.update({"trace.cold_pass_s": "s", "trace.steady_pass_s": "s"})
    return units


class Ctx:
    def __init__(self, args):
        from workloads import Tracer

        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.corrupt = args.corrupt
        self.work_dir = WORK
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = Tracer(self.trace, f"{args.workload}-{args.seed}-{os.getpid()}")


def _environment(run_dir: str) -> None:
    """Before the JVM starts: every path the run writes is under the
    checkout, and the Python workers can import the package whatever the
    working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # no hsperfdata file in the system temp directory either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    # one CPU fewer than the process may use: the driver, the JVM's JIT and
    # GC threads and the OS get one of their own, so the task threads and
    # their Python workers do not queue behind them
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    # the program's default driver heap is what is measured
    os.environ.pop("SPARK_DRIVER_MEM", None)


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM this process launched, and wait until
    it and the Python workers it forked have exited."""
    from pyspark import SparkContext

    from procstat import alive, tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    started = [p for p in tree_pids() if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_one(args) -> int:
    import procstat
    from workloads import WORKLOADS, Unit

    ctx = Ctx(args)
    for name in os.listdir(WORK) if os.path.isdir(WORK) else ():
        pid = name.removeprefix("run-")
        if name.startswith("run-") and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)  # a killed run's
    os.makedirs(ctx.run_dir)
    _environment(ctx.run_dir)
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": os.getloadavg(),
        "steal_s_start": procstat.host_steal_s(),
        "commit": _commit(),
    }
    conf = {"spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "spark-warehouse")}
    if ctx.trace:
        from eventlog import EVENTLOG_CONF

        os.makedirs(os.path.join(ctx.run_dir, "eventlog"))
        conf.update(EVENTLOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(ctx.run_dir, "eventlog")
    wl = WORKLOADS[args.workload](ctx)
    master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"

    rss = procstat.RssSampler()
    with rss if ctx.trace else contextlib.nullcontext():
        from entity_resolution__spark.session import get_spark

        # set-up is one sample per run, from process start until the
        # session is up and the inputs are open: imports, input
        # preparation, the C-kernel build into an empty cache (as a fresh
        # executor pays it) and the JVM launch
        os.environ["SPARK_GRAFT_CKERNEL_DIR"] = os.path.join(ctx.run_dir, "ckernels")
        with ctx.tracer.span("setup"):
            import kernels

            wl.prepare_inputs()
            host["kernel_tier"] = kernels.kernel_tier()  # compiles at import
            ts = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", master=master, extra_conf=conf)
            session_start_s = time.perf_counter() - ts
            wl.open_inputs(spark)
        setup_s = time.perf_counter() - T_START

        units: list[Unit] = []
        t_measure = time.perf_counter()
        while True:
            n_steady = len(units) - 1
            if units and n_steady >= wl.min_steady and (
                time.perf_counter() - t_measure >= args.seconds
                or time.perf_counter() - T_START >= HARD_STOP_S
            ):
                break
            kind = "steady" if units else "cold"
            # every unit starts on a collected heap, not on the garbage and
            # unreferenced cached blocks the units before it left behind
            spark._jvm.java.lang.System.gc()
            t0 = time.perf_counter()
            try:
                units.append(wl.unit(spark, kind))
            except Exception:  # a unit that raises is a failed unit
                traceback.print_exc()
                units.append(Unit(kind, time.perf_counter() - t0, 0.0, failed=1, problems=["raised"]))
        steady = units[1:]
        # layer measurements of a traced run, after the end-to-end units
        extras = []
        if ctx.trace:
            t0 = time.perf_counter()
            try:
                extras = wl.trace_extras(spark)
            except Exception:  # counted as one failed unit, like a unit that raises
                traceback.print_exc()
                extras = [Unit("trace", time.perf_counter() - t0, 0.0, failed=1, problems=["raised"])]

        host.update(
            spark_version=spark.version,
            driver_memory=spark.conf.get("spark.driver.memory"),
            driver_heap_max_mb=spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 1e6,
        )
        app_id = spark.sparkContext.applicationId
        _stop_jvm(spark)
    host["loadavg_end"] = os.getloadavg()
    host["steal_s"] = procstat.host_steal_s() - host.pop("steal_s_start")

    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": units[0].wall_s,
        "steady_pass_s": wl.steady_pass_s(steady),
        # a rate, not a median: one steady unit's CPU is too short a sample
        # of the JVM's background threads (JIT, GC, cleaner) to be steady
        "cpu_s": sum(u.cpu_s for u in steady) / len(steady),
    }
    if ctx.trace:
        metrics = _layer_metrics(ctx, wl, app_id, e2e, session_start_s, extras)
        metrics["session.peak_rss_mb"] = rss.peak_bytes / 1e6
        units_of = per_layer_units()
    else:
        metrics, units_of = e2e, END_TO_END
    # every timing is a median (or a single sample): say over how many
    samples = {"setup_s": 1, "cold_pass_s": 1, "steady_pass_s": len(steady),
               "cpu_s": len(steady)}
    print("samples: " + json.dumps(samples), file=sys.stderr)
    units += extras
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    for u in units:
        for p in u.problems:
            print(f"check failed ({u.kind}): {p}", file=sys.stderr)

    import pyarrow
    import pyspark

    host.update(pyspark_version=pyspark.__version__, pyarrow_version=pyarrow.__version__)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    detail = os.path.join(
        WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    )
    with open(detail, "w") as f:
        json.dump(
            {"workload": args.workload, "seed": args.seed, "host": host,
             "end_to_end": e2e, "samples": samples,
             "units": [u.__dict__ for u in units], "spans": ctx.tracer.spans},
            f, indent=1, default=str,
        )
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }))
    return 0


def _layer_metrics(ctx, wl, app_id: str, e2e: dict, session_start_s: float, extras: list) -> dict:
    import kernels
    from eventlog import window_metrics
    from workloads import ER_STAGES

    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = session_start_s
    # stage windows come from StageStore.stage calls, so the event-log
    # metrics of the stage windows read 0 on a run without a store
    log = os.path.join(ctx.run_dir, "eventlog", app_id)
    win = window_metrics(log, wl.windows)
    for s in ER_STAGES:
        m[f"stage.{s}.wall_s"] = wl.layer["stage_wall"][s]
        for f in STAGE_FIELDS:
            if f != "wall_s" and s in win:
                m[f"stage.{s}.{f}"] = win[s][f]
    m["pairs.kept_ratio"] = wl.layer["kept_ratio"]
    m.update({
        "cc.iterations": wl.layer["cc_iterations"],
        "cc.wall_s": wl.layer["stage_wall"]["clusters"],
        "cc.forest_ratio": wl.layer["forest_ratio"],
    })
    if "clusters" in win:
        m["cc.jobs"] = win["clusters"]["jobs"]
        m["cc.shuffle_write_mb"] = win["clusters"]["shuffle_write_mb"]
    m.update({f"checkpoint.{k}": v for k, v in wl.checkpoint.items()})
    if hasattr(wl, "queries"):
        walls = wl.queries.query_medians(extras[1:])
        m.update({f"query.{q}.wall_s": v for q, v in walls.items()})
    with ctx.tracer.span("functions"):
        kern = kernels.measure()
        kern["feature_struct_pure_us"] = kernels.pure_feature_struct_us()
    m.update({f"functions.{k}": v for k, v in kern.items()})
    m["functions.c_tier"] = 1 if kernels.kernel_tier() == "c" else 0
    m["trace.cold_pass_s"] = e2e["cold_pass_s"]
    m["trace.steady_pass_s"] = e2e["steady_pass_s"]
    return m


def _child(argv: list[str]) -> tuple[dict | None, str]:
    """(result, sample-count line) of one run in a child process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *argv],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        return None, ""
    samples = [ln for ln in out.stderr.splitlines() if ln.startswith("samples: ")]
    return json.loads(lines[-1]), (samples or [""])[-1]


def run_all(args) -> int:
    """Every workload untraced then traced; one table, with the tracing
    overhead (traced minus untraced end-to-end time)."""
    from workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        base = ["--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds)]
        (plain, samples), (traced, _) = (
            _child(base + ["--trace", "0"]), _child(base + ["--trace", "1"])
        )
        for label, res in (("untraced", plain), ("traced", traced)):
            if res is None:
                print(f"{name} {label}: run failed")
                ok = False
                continue
            ok &= res["correct"]
            print(f"{name} {label}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            if label == "untraced":
                print(f"  {samples}")
            for k, v in res["metrics"].items():
                print(f"  {k:42s} {v['value']:14.6f} {v['unit']}")
        if plain and traced:
            for k in ("cold_pass_s", "steady_pass_s"):
                over = traced["metrics"][f"trace.{k}"]["value"] - plain["metrics"][k]["value"]
                print(f"  tracing overhead on {k:28s} {over:+10.3f} s")
    return 0 if ok else 1


def selftest(args) -> int:
    """Tiny inputs: every workload must run clean (traced, so the layer
    code runs too), and a corrupted output must be reported as failed."""
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = (
        {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
        and [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
        and [m["name"] for m in bench["per_layer"]] == list(per_layer_units())
    )
    print(f"BENCHMARK.json names match the run's metrics: {ok}")
    # the units a corrupted run corrupts: the cold pass, and on er_100k
    # also the first query of the cold query sweep
    corrupted = {"er_100k": 2, "er_stored_100k": 1}
    for name in WORKLOADS:
        base = ["--workload", name, "--seed", "3", "--seconds", "1", "--tiny", "--trace", "1"]
        clean, _ = _child(base)
        bad, _ = _child(base + ["--corrupt"])
        clean_ok = bool(clean and clean["correct"] and clean["failed"] == 0
                        and set(clean["metrics"]) == set(per_layer_units()))
        bad_ok = bool(bad and not bad["correct"] and bad["failed"] == corrupted[name])
        print(f"{name}: clean run passes: {clean_ok}; corrupted output reported failed: {bad_ok}")
        ok &= clean_ok and bad_ok
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (selftest)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt the cold output (selftest)")
    args = ap.parse_args()
    missing = [
        p for p in (PKG, "__spark_entry__.py", os.path.join("tools", "check_oracle.py"))
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: the program is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.selftest:
        return selftest(args)
    if args.all:
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

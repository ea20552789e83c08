"""Seeded engine benchmark.

    python3 perfbench/run.py --workload index_rw --seed 1 --seconds 5 --trace 0

Generates its inputs from ``--seed``, sets up a fresh local Spark
session and fresh stores under a private temp root inside the
checkout, runs the workload's closed loop (a warm-up cycle, then
measured cycles for at least ``--seconds``) and checks every result.
It prints a readable report, then, as its last line, one JSON object:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (spans joined to Spark's job and
stage counters). See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _import_engine():
    """The engine must come from the checkout this script sits in."""
    sys.path.insert(0, ROOT)
    try:
        import mapreduce_inverted_index_spark as engine
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the engine from {ROOT}: {e}")
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine imported from {engine.__file__}, not from {ROOT}")


def _host_env(tmp: str) -> None:
    """Session settings for this host: half the CPUs for Spark's task
    threads, ~60% of RAM for the driver heap, and every scratch path
    under the private temp root.

    The other half is left to the Python driver, the JIT compiler and
    the GC threads: with ``local[nproc]`` those compete with the task
    threads, and on a shared host a busy neighbour then slowed a run
    by 1.6x, against 1.25x with half the CPUs."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    for d in ("local", "java", "py", "warehouse"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{int(mem_kb * 0.6) // 1024}m",
        "SPARK_LOCAL_DIRS": f"{tmp}/local",
        "TMPDIR": f"{tmp}/py",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files in the host's /tmp from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })


def _session(tmp: str, traced: bool):
    from mapreduce_inverted_index_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.local.dir": f"{tmp}/local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/java -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job and stage of the run for the final REST join
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _peak_rss_mb(proc) -> float:
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, AttributeError):
        pass
    return math.nan


def _stop(spark) -> None:
    """Stop the session, if any, and wait for the JVM to exit; also
    when the run was interrupted while the session was starting."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate on any wait failure
                proc.kill()
                proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    traced = bool(args.trace)
    t_start = time.perf_counter()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    # A terminated run still stops its JVM and removes its temp root.
    # While the JVM is starting its process handle is not reachable yet,
    # so a SIGTERM then is acted on once the session is up.
    starting, term = [False], [False]

    def on_term(*_):
        if starting[0]:
            term[0] = True
        else:
            sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    spark = None
    try:
        # before the engine import: session.py reads the env at import
        _host_env(tmp)
        _import_engine()
        from perfbench import workloads as W
        from perfbench.spans import Tracer

        if args.workload not in W.WORKLOADS:
            sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
        b = W.Bench(tmp, args.seed)
        wl = W.WORKLOADS[args.workload](b)  # input generation, not timed
        # the inputs and ground truth are millions of objects; keep the
        # cyclic GC from walking them again at random points inside ops
        gc.freeze()
        print(f"  # inputs generated in {time.perf_counter() - t_start:.1f} s", file=sys.stderr)

        t0 = time.perf_counter()
        starting[0] = True
        spark = _session(tmp, traced)
        start_s = time.perf_counter() - t0
        starting[0] = False
        if term[0]:
            sys.exit(143)
        b.spark, b.tracer = spark, Tracer(spark.sparkContext, traced)
        b.watch_jvm(_jvm_proc().pid)
        if traced:
            for module, attr, name, cm in W.NESTED:
                b.tracer.wrap(module, attr, name, cm)

        wl.setup()
        print(f"  # set-up done at {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
        # Cycle 0 warms the JVM's code paths for every op kind and is
        # not measured. Then at least two measured cycles, and more
        # until --seconds of loop time have passed. The JIT is still
        # warming in cycle 1, so runs must not differ in their number
        # of cycles: run_seconds is below the time of two cycles. A
        # traced run measures four cycles, untraced-traced-traced-
        # untraced, so the tracing overhead is measured in one process
        # on the same op mix with the warming trend cancelled.
        b.measuring = False
        wl.cycle(0)
        b.measuring = True
        cycle_s, cycle_cpu, traced_s, plain_s = [], [], [], []
        t_loop, c = time.perf_counter(), 1
        while c <= (4 if traced else 2) or time.perf_counter() - t_loop < args.seconds:
            b.trace_cycle = traced and c in (2, 3)
            w0, c0, f0 = b.loop_wall, b.loop_cpu, b.failed
            wl.cycle(c)
            cycle_s.append(b.loop_wall - w0 if b.failed == f0 else math.inf)
            cycle_cpu.append(b.loop_cpu - c0 if b.failed == f0 else math.inf)
            (traced_s if b.trace_cycle else plain_s).append(cycle_s[-1])
            c += 1
            if b.failed > 50:
                break
        wl.finish()

        layer = {"session.start_s": start_s, "session.peak_jvm_rss_mb": _peak_rss_mb(_jvm_proc())}
        if traced:
            if args.workload == "curation":
                wl.verify_yield()
            unjoined = b.tracer.join_counters()
            b.tracer.unwrap_all()
            layer.update(b.tracer.summary())
            layer.update({k: statistics.median(v) for k, v in b.extra.items()})
            on, off = statistics.mean(traced_s), statistics.mean(plain_s)
            layer.update({
                "trace.spans": len(b.tracer.spans),
                "trace.unjoined_jobs": unjoined,
                "trace.cycle_s_traced": on,
                "trace.cycle_s_untraced": off,
                "trace.overhead_share": on / off - 1,
            })
        end_to_end = {
            "setup_s": start_s + sum(b.setup_parts.values()),
            "cycle_cpu_s": statistics.median(cycle_cpu),
            "read_cpu_ms_p50": 1e3 * statistics.median(b.cpu.get("read", [math.inf])),
        }
        # wall times: printed, not gated (they follow the host's load)
        b.report.update({
            "cycle_s": statistics.median(cycle_s),
            "read_ms_p50": 1e3 * statistics.median(b.lat.get("read", [math.inf])),
        })
    finally:
        try:
            if "pyspark" in sys.modules:
                _stop(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass

    print(f"  # total {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} cycles={c} "
          f"loop_s={time.perf_counter() - t_loop:.1f}")
    units = {m["name"]: " " + m["unit"] for m in spec["end_to_end"]}
    for k, v in {**end_to_end, **b.setup_parts, **b.report}.items():
        print(f"  {k} = {v:.6g}{units.get(k, '')}")
    print(f"  ops_failed_share = {b.failed / b.attempted:.6g} ({b.failed} of {b.attempted})")
    for k, v in b.lat.items():
        print(f"  # {k}: " + " ".join(f"{x:.2f}" for x in v), file=sys.stderr)
    for k, v in b.cpu.items():
        print(f"  # {k} cpu: " + " ".join(f"{x:.2f}" for x in v), file=sys.stderr)
    for e in b.errors[:20]:
        print(f"  FAILED {e}")

    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    values = layer if traced else end_to_end
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        if traced:
            print(f"  {m['name']} = {v:.6g} {m['unit']}")
        if not math.isfinite(v):  # a failed op: report the worst value
            v = 1e12 if m["better"] == "lower" else 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

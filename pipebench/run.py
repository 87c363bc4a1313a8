"""Benchmark runner: one workload, one closed loop, one client.

    python3 pipebench/run.py --workload star_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The runner builds a Spark session with
the program's own ``get_spark()``, generates the workload's inputs from
``--seed``, runs one untimed warm-up op, then runs ops back to back
until their summed latency reaches ``--seconds``. Every op's output is
checked; a failed check, a failed node or an exception counts the op as
failed. Detail lines go to stdout first; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero without a result when the program cannot
be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

import layers
import spans
import stats
import workloads

PROCESS_START = time.perf_counter()
# a run must exit within 180 s: no op starts after this many seconds
PROCESS_BUDGET_S = 120
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
GEN_REPEATS = 3

# (name, unit) of the metrics each mode prints in its result line
E2E_METRICS = [
    ("op_p50_s", "s"),
    ("rows_per_s", "rows/s"),
    ("setup_s", "s"),
]
# printed in the detail lines only: zero on a healthy tree, bound by the
# loop length, or too variable between runs to bound (see README)
E2E_DETAIL = [
    ("peak_rss_mb", "MB"),
    ("run_s", "s"),
    ("op_tail_s", "s"),
    ("fail_ratio", "ratio"),
    ("stored_bytes_per_input_byte", "ratio"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Everything the program or Spark writes lands under ``work``; the
    Python workers import the program from the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def import_program():
    sys.path.insert(0, REPO)
    try:
        import odibi_spark  # noqa: F401
    except ImportError as ex:
        raise SystemExit(f"pipebench: cannot import odibi_spark from {REPO}: {ex}")
    if not os.path.abspath(odibi_spark.__file__).startswith(REPO + os.sep):
        raise SystemExit(f"pipebench: odibi_spark resolves outside the checkout: "
                         f"{odibi_spark.__file__}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for its process tree."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if proc is None:
        return
    tree = stats.process_tree(proc.pid)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in tree:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """State of one benchmark run: op timings, failures, traces."""

    def __init__(self, workload, seconds: float, trace: bool):
        self.w = workload
        self.seconds = seconds
        self.trace = trace
        self.latencies: list[float] = []
        self.traced_lat: list[float] = []
        self.untraced_lat: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.stored: list[float] = []
        self.layer_ops: list[dict] = []

    def one_op(self, i: int, tracer=None) -> tuple[float, int]:
        """Run, time and check op ``i``; returns (latency, input rows)."""
        w = self.w
        w.before_op(i)
        op_start = time.time()
        res, err = None, None
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.installed(), tracer.op(i):
                    w.span = tracer.span
                    res = w.op(i)
            else:
                res = w.op(i)
        except Exception:  # noqa: BLE001 - a failed op is data, not a crash
            err = traceback.format_exc(limit=4)
        finally:
            w.span = type(w).span
        dt = time.perf_counter() - t0
        self.attempted += 1
        if err is None and res.failed_nodes:
            err = "; ".join(res.failed_nodes)
        if err is None:
            try:
                err = w.check(i, res)
            except Exception:  # noqa: BLE001
                err = "check raised: " + traceback.format_exc(limit=4)
        if err is not None:
            self.failures.append(f"op {i}: {err}")
        if tracer is not None:
            self.layer_ops.append(layers.op_metrics(tracer, w, i, op_start, res))
        out_bytes = stats.dir_bytes(w.out_dir)
        if out_bytes:
            self.stored.append(out_bytes / w.input_bytes())
        return dt, (res.rows if res is not None else 0)

    def loop(self, tracer) -> float:
        """Timed ops until their summed latency reaches the run length;
        returns the wall time the loop took."""
        start = time.perf_counter()
        pairs = self.trace and self.w.REPEATABLE
        k = 0
        # a traced run needs an untraced op too, to measure the overhead
        while sum(self.latencies) < self.seconds or (self.trace and not self.untraced_lat):
            i = self.w.WARMUP_OPS + (k // 2 if pairs else k)
            if i >= self.w.MAX_OPS:
                break
            # untimed work between ops and a slow host must not push the
            # run past its budget; one timed op always runs
            now = time.perf_counter()
            if self.latencies and (now - start > 2 * self.seconds + 30
                                   or now - PROCESS_START > PROCESS_BUDGET_S):
                break
            # traced and untraced ops alternate; a repeatable op runs once
            # each way on the same input, the order swapping every pair
            traced = self.trace and k % 2 == ((k // 2) % 2 if pairs else 0)
            dt, rows = self.one_op(i, tracer if traced else None)
            self.latencies.append(dt)
            self.rows += rows
            (self.traced_lat if traced else self.untraced_lat).append(dt)
            k += 1
        return time.perf_counter() - start


def driver_gc(spark) -> dict:
    """Collections and collection seconds of the driver JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return {b.getName(): [b.getCollectionCount(), b.getCollectionTime() / 1e3]
            for b in beans}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"pipebench: unknown workload {args.workload!r}; "
                         f"have {sorted(workloads.WORKLOADS)}")
    import_program()
    work = os.path.join(REPO, ".pipebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    cwd = os.getcwd()
    os.chdir(work)  # relative paths the program writes land in the run dir
    spark = None
    try:
        from odibi_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
        session_s = time.perf_counter() - t0
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        gen = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(w.in_dir, ignore_errors=True)
            t0 = time.perf_counter()
            w.generate()
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.reference()
        reference_s = time.perf_counter() - t0

        run = Run(w, args.seconds, bool(args.trace))
        warm_s = sum(run.one_op(i)[0] for i in range(w.WARMUP_OPS))
        setup_s = session_s + stats.median(gen) + prepare_s + warm_s
        tracer = spans.Tracer(spark.sparkContext) if args.trace else None
        loop_wall = run.loop(tracer)
        conf = spark.sparkContext.getConf()
        info = {
            "workload": args.workload, "seed": args.seed,
            "master": spark.sparkContext.master,
            "cores": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": conf.get("spark.driver.memory", ""),
            "setup_parts_s": {"session": session_s, "generate_median": stats.median(gen),
                              "prepare": prepare_s, "warmup_ops": warm_s},
            "reference_s": reference_s, "loop_wall_s": loop_wall,
        }
        peak_rss = stats.peak_rss_mb()
        info["driver_gc"] = driver_gc(spark)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        teardown_s = time.perf_counter() - t0
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    run_s = sum(run.latencies)
    ops = len(run.latencies)
    e2e = {
        "op_p50_s": stats.median(run.latencies),
        "rows_per_s": (run.rows / run_s) if run_s else 0.0,
        "peak_rss_mb": peak_rss,
        "setup_s": setup_s,
        "run_s": run_s,
        "fail_ratio": len(run.failures) / run.attempted,
        "stored_bytes_per_input_byte": stats.median(run.stored),
    }
    tail = stats.tail(run.latencies)
    if tail:
        e2e["op_tail_s"] = tail[1]
        info["op_tail_percentile"] = tail[0]
    info["ops_timed"] = ops
    info["op_latencies_s"] = [round(x, 4) for x in run.latencies]
    info["teardown_s"] = teardown_s
    units = dict(E2E_METRICS + E2E_DETAIL)
    print(f"pipebench {json.dumps(info, sort_keys=True)}")
    for name, unit in E2E_METRICS + E2E_DETAIL:
        if name in e2e:
            print(f"pipebench {args.workload} {name} = {e2e[name]:.6g} {unit}")
    if "op_tail_s" not in e2e:
        print(f"pipebench {args.workload} op_tail_s: not reported "
              f"({ops} ops; needs one percentile with >=10 samples above it)")
    for f in run.failures:
        print(f"pipebench FAILED {f}")

    if args.trace:
        per_layer, detail = layers.summarize(run)
        for name, (value, unit) in sorted(detail.items()):
            print(f"pipebench {args.workload} trace {name} = {value:.6g} {unit}")
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in per_layer.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in E2E_METRICS}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_catalog --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository. One process starts one
local Spark session at ``local[<cores>]``, builds the workload's inputs from
``--seed``, runs the workload's warm-up operations (set-up), then calls the
operation in a closed loop -- the next call starts when the previous one and
its correctness check have finished -- until ``--seconds`` have passed.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
loop untraced, then a fixed number of traced operations, and prints the
per-layer metrics. Human-readable lines (each metric with its unit, median,
quartiles and sample count) go first; the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.bench_work/`` in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workload sizes. BENCHMARK.json records the same values with the reasons.
CONFIG = {
    "bulk_catalog": {"turns": 65_536, "files": 8, "warmup": 1, "traced_ops": 1},
    "file_batches": {"files": 4, "rows_per_file": 10_000, "history_runs": 64,
                     "compact_max_files": 256, "warmup": 1, "traced_ops": 2},
}
# C1-only JIT: steady state is reached during the warm-up operations instead
# of the tiered compiler recompiling hot code through the measured window.
# The code cache is sized so that generated query classes never fill it (a
# full cache disables the compiler, and flushing near the limit made every
# fifth operation of a run ~25% slower).
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, master: str):
    from ndap_data_validator_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def summary(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of the samples."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], statistics.median(values), q[2]


def show(name: str, unit: str, values: list[float]) -> float:
    q1, med, q3 = summary(values)
    print(f"{name:34s} {med:14.6g} {unit:8s} q1 {q1:.6g} q3 {q3:.6g} n {len(values)} "
          f"samples [{', '.join(f'{v:.6g}' for v in values)}]")
    return med


def make_workload(name: str, spark, work: str, seed: int):
    import workloads

    c = CONFIG[name]
    if name == "bulk_catalog":
        return workloads.BulkCatalog(spark, work, seed, c["turns"], c["files"])
    return workloads.FileBatches(spark, work, seed, c["files"], c["rows_per_file"],
                                 c["history_runs"], c["compact_max_files"])


class Run:
    """Counts operations and failures across one benchmark run."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.ops = []

    def one(self, tracer=None):
        from workloads import OpResult

        try:
            res = self.wl.op(tracer)
        except Exception as e:  # an operation that raises counts as failed
            res = OpResult(seconds=float("nan"), rows=0, ok=False,
                           error=f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
        self.attempted += 1
        self.failed += 0 if res.ok else 1
        self.ops.append(res)
        if not res.ok:
            print(f"FAILED: {res.error}", file=sys.stderr)
        return res

    def loop(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            self.one()
            if time.perf_counter() - t0 >= seconds:
                return


def end_to_end(run: Run, setup_s: float) -> dict:
    """The end-to-end metrics of the untraced loop. The bounded timings are
    on unstolen time (clock.py); the wall-clock ones are printed beside them
    but left out of the result line, because on a shared host the time the
    hypervisor steals spread them wider than the largest bound allowed."""
    ok = [r for r in run.ops if r.ok]
    out = {"setup_s": (setup_s, "s")}
    print(f"{'setup_s':34s} {setup_s:14.6g} s        (process start -> first timed operation)")
    if ok:
        unstolen = [r.seconds * (1.0 - r.steal_share) for r in ok]
        out["turns_per_s_unstolen"] = (show("turns_per_s_unstolen", "turns/s",
                                            [r.rows / u for r, u in zip(ok, unstolen)]), "turns/s")
        out["batch_p50_s_unstolen"] = (show("batch_p50_s_unstolen", "s", unstolen), "s")
        out["write_amp"] = (show("write_amp", "ratio", [r.written_bytes / r.input_bytes for r in ok]), "ratio")
        show("turns_per_s", "turns/s", [r.rows / r.seconds for r in ok])
        secs = [r.seconds for r in ok]
        show("batch_p50_s", "s", secs)
        if len(secs) > 10:
            k = len(secs) - 11  # the highest rank with ten samples above it
            pct = 100.0 * (k + 1) / len(secs)
            print(f"{'batch_tail_s':34s} {sorted(secs)[k]:14.6g} s        p{pct:.0f} of n {len(secs)}")
        else:
            print(f"{'batch_tail_s':34s} {'n/a':>14s}          needs > 10 operations, n {len(secs)}")
        show("steal_share", "ratio", [r.steal_share for r in ok])
    print(f"{'fail_share':34s} {run.failed / max(run.attempted, 1):14.6g} ratio    "
          f"failed {run.failed} of {run.attempted}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ndap_data_validator_spark")):
        print(f"package ndap_data_validator_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    n = cores()
    spark = start_spark(work, f"local[{n}]")
    try:
        wl = make_workload(args.workload, spark, work, args.seed)
        warm = Run(wl)
        for _ in range(CONFIG[args.workload]["warmup"]):
            warm.one()
        setup_s = time.perf_counter() - T_START
        print("warm-up operations (discarded): "
              + ", ".join(f"{r.seconds:.3f} s" for r in warm.ops))
        run = Run(wl)
        run.loop(args.seconds)
        run.attempted += warm.attempted  # warm-up checks count too
        run.failed += warm.failed
        if args.trace:
            import layers

            def restart(master):
                spark.stop()
                return start_spark(work, master)

            spans_dir = os.path.join(ROOT, ".bench_spans")
            os.makedirs(spans_dir, exist_ok=True)
            metrics, spark = layers.traced(
                args.workload, wl, run, spark, work, n,
                CONFIG[args.workload]["traced_ops"], restart,
                os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(run, setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(ROOT, ".bench_work"), ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

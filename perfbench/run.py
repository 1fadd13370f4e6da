"""Seeded benchmark for the RAG and declared-query paths.

    python3 perfbench/run.py --workload rag --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The command generates the
workload's inputs from ``--seed``, drives the package through its public
functions on ``local[<cores>]`` from this one process, checks every
output, and prints one line per metric followed by a final JSON line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate, traced run that
reports the per-layer metrics and writes its spans under
``.perfbench_out/``. Every workload has the same three phases, so every
metric exists on every workload:

* set-up (``setup_s``): package import, ``get_spark`` (which launches the
  JVM) and a warm-up (one input scan and one tiny pandas-UDF job, so later
  timings do not pay worker spawn), once per run in this process;
* cold (``cold_cpu_s``): the operation a fresh deployment pays for first;
* warm (``warm_cpu_ms``): one client repeating the workload's operation in
  a closed loop for at least ``--seconds`` seconds.

Every metric is CPU time: what the machine spent running the benchmark's
processes (this one, the JVM and Spark's Python workers) during the phase,
from ``/proc/stat``, leaving out the time the hypervisor gave other guests
(steal). On a shared host, steal moved wall times of identical runs by
half; it does not move these. Wall times are printed as ``#`` lines. The
benchmark must be the only load on the machine while it runs.

All scratch files live in a per-run directory under ``.perfbench_tmp/``
in the checkout and are removed at exit. A correct untraced run leaves its
end-to-end figures in ``.perfbench_out/``; the traced run of the same seed
and source reads them back to report its tracing overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_engineering_1_spark"
OUT = os.path.join(ROOT, ".perfbench_out")


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


@dataclass
class Cost:
    """Wall time and CPU time of one operation, in seconds."""

    wall_s: float = 0.0
    cpu_s: float = 0.0


class Run:
    """One benchmark run: scratch directory, environment, the Spark
    session and its set-up time, and the tracer when tracing."""

    def __init__(self, args: argparse.Namespace, tmp: str):
        import numpy as np

        self.args = args
        self.tmp = tmp
        self.rng = np.random.default_rng(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup_s = 0.0
        self.info: dict = {}
        self.tracer = None
        self.event_dir = os.path.join(tmp, "events")
        self._export_env()
        if args.trace:
            from tracing import Tracer

            self.tracer = Tracer()

    def _export_env(self) -> None:
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(self.cores)
        env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.tmp, "warehouse")
        # a bounded heap keeps this run's footprint predictable on a
        # shared machine; the same value is used on every commit
        env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        env["TMPDIR"] = self.tmp
        # C1 only, on one compiler thread, and the serial collector: at
        # these input sizes C2 never reaches steady state in a run, and its
        # compiler threads took about two of four cores throughout; they and
        # the concurrent collector's threads were the largest source of
        # difference in CPU time between identical runs
        env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                                    "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 -XX:+UseSerialGC")
        # Spark's Python workers import the package from the checkout
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
        }
        if self.tracer is not None:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{self.event_dir}",
            })
        return conf

    def setup(self, warm_up) -> None:
        """Import the package, build the session (launching the JVM) and
        warm it up. ``setup_s`` is the CPU time this takes."""
        c0 = _busy_cpu_s()
        t0 = time.perf_counter()
        from data_engineering_1_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.conf())
        t1 = time.perf_counter()
        warm_up(self.spark)
        _tiny_udf_job(self.spark)
        t2 = time.perf_counter()
        self.setup_s = _busy_cpu_s() - c0
        self.info["setup_wall_s"] = t2 - t0
        self.info["session_start_s"] = t1 - t0
        self.info["warmup_s"] = t2 - t1
        if self.tracer is not None:
            self.tracer.install()

    @contextmanager
    def op(self, phase: str, name: str):
        """One operation. Yields a Cost whose ``wall_s`` and ``cpu_s`` are
        set when the operation ends without an error; traced runs give the
        operation its own job group and span."""
        cost = Cost()
        with ExitStack() as stack:
            if self.tracer is not None:
                op_id = f"{phase}:{name}"
                self.tracer.op = op_id
                self.spark.sparkContext.setJobGroup(op_id, name)
                stack.callback(self._end_op)
                stack.enter_context(self.tracer.span(name, f"op.{phase}"))
            c0 = _busy_cpu_s()
            t0 = time.perf_counter()
            yield cost
            cost.wall_s = time.perf_counter() - t0
            cost.cpu_s = _busy_cpu_s() - c0

    def _end_op(self) -> None:
        self.spark.sparkContext.setJobGroup("bench", "perfbench")
        self.tracer.op = None

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def shutdown(self) -> None:
        """Stop the session, if any, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _tiny_udf_job(spark) -> None:
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    got = spark.range(64).select(F.sum(plus_one("id"))).collect()[0][0]
    if got != 64 * 65 // 2:
        raise RuntimeError(f"warm-up UDF job returned {got}")


_TICK = os.sysconf("SC_CLK_TCK")


def _busy_cpu_s() -> float:
    """CPU seconds the machine has spent running anything since boot: user,
    nice, system, irq and softirq time over all CPUs, from /proc/stat.
    Idle, I/O wait and steal (time the hypervisor gave other guests) are
    left out. The benchmark is the only load on the machine, so the
    difference over an operation is what this process, the JVM and Spark's
    Python workers (also those that exit meanwhile) spent on it."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / _TICK


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _untraced_path(args) -> str:
    return os.path.join(OUT, f"untraced-{args.workload}-seed{args.seed}.json")


def _source_digest() -> str:
    """Hash of the package and benchmark sources, so a traced run compares
    itself only with an untraced run of the same code."""
    h = hashlib.sha256()
    for top in (PKG, "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def _overhead(args, traced: dict, steal: float) -> dict:
    """Traced end-to-end figures against the last untraced run of the same
    workload, seed and source in this checkout, with both runs' CPU steal:
    a difference in steal moves the ratio more than tracing does."""
    try:
        with open(_untraced_path(args)) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        base = {}
    if base.get("source") != _source_digest():
        return {"untraced": f"no --trace 0 run of seed {args.seed} on this source yet"}
    out = {k: round(v / base["metrics"][k] - 1, 4) for k, v in traced.items() if k in base["metrics"]}
    out["cpu_steal_share"] = {"traced": round(steal, 4), "untraced": round(base["cpu_steal_share"], 4)}
    return out


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    steal0 = _cpu_steal()
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    run = None
    try:
        run = Run(args, tmp)
        out = WORKLOADS[args.workload](run)
    finally:
        if run is not None:
            run.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)

    steal1 = _cpu_steal()
    # time the hypervisor gave this machine's CPUs to other guests: on a
    # shared host it explains runs that are slow across the board
    run.info["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    for k, v in run.info.items():
        if k != "layers":
            print(f"# {k}: {json.dumps(v)}")
    metrics = out["metrics"]
    if args.trace:
        print(f"# tracing overhead (traced / untraced end-to-end - 1, same source and seed, "
              f"{run.cores} cores): {json.dumps(_overhead(args, out['traced_end_to_end'], run.info['cpu_steal_share']))}")
    elif out["failed"] == 0:
        os.makedirs(OUT, exist_ok=True)
        with open(_untraced_path(args), "w") as fh:
            json.dump({"source": _source_digest(), "cpu_steal_share": run.info["cpu_steal_share"],
                       "metrics": {k: m["value"] for k, m in metrics.items()}}, fh)
    rate = out["failed"] / out["attempted"]
    print(f"# error_rate: {rate:.4f} ({out['failed']} of {out['attempted']} operations)")
    # BENCHMARK.json names the metrics and their direction; a run that
    # reports another set is a benchmark bug, not a result
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    better = {d["name"]: d["better"] for d in declared}
    if set(better) != set(metrics):
        print(f"perfbench: metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(better)}",
              file=sys.stderr)
        return 3
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:14.4f} {m['unit']:8s} {better[name]} is better")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

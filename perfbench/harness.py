"""Shared plumbing for the workloads: environment pinning, the Spark
session, memory sampling, percentiles and the result line.

Everything the benchmark writes (generated inputs, span logs, Spark's
scratch space, Python temp files) lands under ``perfbench/.work`` in the
checkout it runs from.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

# Driver heap for a 4-core / 15 GB box (runs never overlap). The inputs
# are a few MB, but Spark's status store keeps every job's plan, and a
# read-path pass runs ~100 jobs: at 1.5 GB the collector thrashed and set
# up took twice as long.
DRIVER_MEM = "4g"
CODEGEN_CACHE = 10_000
JIT_TIER = 1
JIT_THRESHOLD_SCALING = 0.1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict[str, Any]:
    """Fix every knob the engine reads from the environment, keep all
    scratch files inside the checkout, and return the settings for the
    result record. Must run before pyspark is imported."""
    cpus = nproc()
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("SPARK_MASTER", None)
    return {
        "nproc": cpus,
        "cpus": cpus,
        "shuffle_partitions": cpus,
        "driver_mem": DRIVER_MEM,
        "codegen_cache_entries": CODEGEN_CACHE,
        "jit_tier": JIT_TIER,
        "jit_threshold_scaling": JIT_THRESHOLD_SCALING,
        "python": platform.python_version(),
    }


def start_session(settings: dict[str, Any]):
    """The one shared session, pinned to the box; returns (spark, seconds)."""
    from composable_logs_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench",
        cpus=settings["cpus"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # One read-path pass plans ~110 distinct queries. With the
            # default 100-entry cache of generated classes every pass
            # recompiled ~230 of them and the JIT never settled (with the
            # server compiler a pass took 14-16 s with ~8 s of JIT CPU in
            # it, against ~7.6 s once the classes stay cached), so
            # run-to-run times measured how far a run had got through that
            # churn.
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE),
            "spark.driver.extraJavaOptions": " ".join([
                # the whole heap resident from the start: peak RSS is then
                # the heap plus what lives outside it (metaspace, code,
                # threads, direct buffers, Python), not when the collector
                # grew the heap
                f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch",
                # Client compiler only, after a tenth of the usual
                # invocation counts. With C2 the driver took 60-90 s of
                # work on 4 cores to reach its plateau (passes fell from
                # ~18 s to ~7.6 s over six), longer than a run, so a run's
                # times measured how far the JIT had got. With C1 the
                # second operation is already on the plateau; operations
                # are ~1.5x slower than C2's plateau, alike on every run.
                f"-XX:TieredStopAtLevel={JIT_TIER}",
                f"-XX:CompileThresholdScaling={JIT_THRESHOLD_SCALING}",
                # room for every compiled method: a full code cache stops
                # the JIT part-way through a run
                "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            ]),
        },
    )
    # the first action pays for executor/scheduler start-up
    spark.range(1).count()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark

    settings["pyspark"] = pyspark.__version__
    settings["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return spark, elapsed


def _children(pid: int) -> list[int]:
    try:
        text = Path(f"/proc/{pid}/task/{pid}/children").read_text()
    except OSError:
        return []
    return [int(p) for p in text.split()]


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM
    it launched (kernel high-water marks, so no sampling gaps)."""
    total = _vm_hwm_kb(os.getpid())
    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        if _comm(pid) == "java":
            total += _vm_hwm_kb(pid)
        else:
            stack.extend(_children(pid))
    return total / 1024.0


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Window:
    """What one measurement window observed."""

    latencies_s: list[float] = field(default_factory=list)
    rates: list[float] = field(default_factory=list)  # items per second, per operation
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, latency_s: float, items: int, ok: bool, why: str = "") -> None:
        self.latencies_s.append(latency_s)
        self.rates.append(items / latency_s)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(why)

    def fail(self, why: str) -> None:
        """An operation that produced no result at all."""
        self.attempted += 1
        self.failed += 1
        self.failures.append(why)


def closed_loop(deadline: float, op, min_ops: int = 1) -> None:
    """Call ``op()`` back to back: ``min_ops`` times, then again for as
    long as the previous call's duration still fits before ``deadline``,
    so a run lasts about its window and never one whole operation
    longer."""
    done, last = 0, 0.0
    while True:
        t0 = time.perf_counter()
        if done >= min_ops and t0 + last > deadline:
            return
        op()
        done += 1
        last = time.perf_counter() - t0


def end_to_end(setup_s: float, w: Window) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(),
        "op_s.p50": median(w.latencies_s),
        "items_per_s": median(w.rates),
    }


def load_spec() -> dict[str, Any]:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def units() -> dict[str, str]:
    spec = load_spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, float]) -> None:
    u = units()
    missing = sorted(set(metrics) - set(u))
    if missing:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {missing}")
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM this process launched, and wait
    until it and every process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    family = []
    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        family.append(pid)
        stack.extend(_children(pid))
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in family:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or exited but not yet reaped."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] not in ("Z", "X")

"""Benchmark runner: one workload per process, one fresh Spark JVM per run.

    python3 perfbench/run.py --workload es_point_reads --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, untraced and traced

Run it from the root of a checkout. It imports the package from that
checkout only, keeps every file it writes (warehouse, Spark scratch, JVM
and Python temp files) in a per-run directory there, and removes that
directory before it exits. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it describes the
run: sample counts, input sizes, host health and versions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

ROOT = Path(__file__).resolve().parent.parent
RUNS_DIR = ROOT / ".perfbench_runs"
DEFAULT_SEED = 1  # seed 7919 is held out for re-checking gain claims
#: Spark task threads. Two of the host's cores leave the others to the
#: driver thread, the JIT, the GC and the Python client, so a run does not
#: queue on its own threads (on a shared 4-core host, local[2] was both
#: faster and steadier than local[4] for these small-data workloads).
MAX_CORES = 2
JVM_OPTIONS = "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
#: The host-speed probe's median on the reference host (a shared 4-core
#: Xeon VM, Spark 4.1, Java 17, steal under 1%); timings are reported
#: at that speed
PROBE_REF_MS = 19.0
PROBE_WARMUP = 10
DRIVER_MEMORY = "1g"  # fixed heap ceiling; no -Xms, so peak RSS is real use
FIRST_K = 3  # per-op counters are medians over each op's first K calls
#: Calls that return a DataFrame: their build time is reported apart
BUILD_OPS = ("eventstore.load_aggregate", "eventstore.replay_by_event_type",
             "eventstore.replay_grouped")


def load_benchmark() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


class Host:
    """Run health over the timed phase (CPU steal, load average) and the
    host-speed probe.

    The probe is a fixed, tiny Spark-core job run through py4j — count a
    4-element ``JavaRDD`` in 2 slices, ~19 ms — that no package code,
    SQL setting or Python worker takes part in. It crosses the same
    threads an operation does (client, py4j, scheduler, task threads),
    so when the shared host slows or stalls those, the probe slows with
    them: on one 5-run set at 0.4–17% CPU steal, point reads' measured
    latency spread 0.754 (interquartile range over median) and their
    ratio to the probe taken after each of them 0.112.
    """

    def __init__(self, spark):
        self.steal_pct = 0.0
        self.loadavg = 0.0
        self.probe_ms: list[float] = []
        self._jsc = spark.sparkContext._jsc
        self._items = spark.sparkContext._jvm.java.util.ArrayList()
        for i in range(4):
            self._items.add(i)
        self._start: list[int] | None = None
        for _ in range(PROBE_WARMUP):  # let the JIT compile its path first
            self._probe()

    def _probe(self) -> float:
        t0 = time.perf_counter()
        self._jsc.parallelize(self._items, 2).count()
        return (time.perf_counter() - t0) * 1000.0

    def probe(self, repeats: int = 1) -> float:
        """Median of ``repeats`` probes, in ms."""
        times = [self._probe() for _ in range(repeats)]
        self.probe_ms.extend(times)
        return statistics.median(times)

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]

    def begin(self) -> None:
        self._start = self._cpu()

    def end(self) -> None:
        now = self._cpu()
        delta = [b - a for a, b in zip(self._start, now)]
        # user nice system idle iowait irq softirq steal (guest is in user)
        total = sum(delta[:8]) or 1
        self.steal_pct = 100.0 * delta[7] / total
        self.loadavg = os.getloadavg()[0]


class Session:
    """The run's SparkSession; ``start_s`` is get_spark → first job done."""

    def __init__(self, run_dir: Path, cores: int):
        from inception_eventstore_spark.session import get_spark

        jtmp = run_dir / "jvm-tmp"
        jtmp.mkdir()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_configs={
                "spark.sql.shuffle.partitions": str(cores),
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={jtmp} {JVM_OPTIONS}",
                "spark.local.dir": str(run_dir / "spark-local"),
                "spark.sql.warehouse.dir": str(run_dir / "sql-warehouse"),
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self.proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        import resource

        with open(f"/proc/{self.proc.pid}/status") as fh:
            jvm_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
            )
        client_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + client_kb) / 1024.0

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
        }

    def stop(self) -> None:
        """Stop Spark, then end the JVM (it exits when its stdin closes)
        and wait for it."""
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


@dataclass
class Ctx:
    spark: object
    run_dir: Path
    seed: int
    seconds: float
    tracer: object
    checks: object
    host: Host
    session_start_s: float
    phases: dict = field(default_factory=dict)
    _phase: str | None = None
    _since: float = 0.0

    def enter(self, phase: str | None) -> None:
        """End the current phase (recording its wall time) and start
        ``phase``; spans carry the phase they started in."""
        now = time.perf_counter()
        if self._phase is not None:
            self.phases[self._phase] = round(now - self._since, 2)
        self._phase, self._since = phase, now
        self.tracer.phase = phase


def _p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _end_to_end(outcome, rss_mb: float, scale) -> dict[str, float]:
    """The end-to-end metrics. Each timed sample is a (wall ms, probe ms)
    pair and ``scale`` turns it into the number used: its wall time as
    measured, or that time at the reference host speed.

    ``op_median_ms`` is the geometric mean over the workload's timed
    operations of each one's median: every operation weighs the same
    whatever its speed, and no median falls in the gap between two
    operations' latencies, as the median of the pooled samples can."""
    def median(samples):
        return statistics.median(scale(w, p) for w, p in samples)

    return {
        "setup_s": outcome.setup_s,
        "peak_rss_mb": rss_mb,
        "op_median_ms": _geomean(median(v) for v in outcome.latency_ms.values()),
        "ingest_events_per_s": outcome.batch_events
        / (median(outcome.batch_ms) / 1000.0),
    }


def _as_measured(wall_ms: float, probe_ms: float) -> float:
    return wall_ms


def _at_reference_speed(wall_ms: float, probe_ms: float) -> float:
    return wall_ms / probe_ms * PROBE_REF_MS


def _latency_summary(outcome) -> dict:
    """Per timed operation: sample count, median and p90 (ms, as
    measured)."""
    out = {}
    for op, samples in outcome.latency_ms.items():
        walls = [w for w, _ in samples]
        out[op] = {"n": len(walls), "p50": round(statistics.median(walls), 3),
                   "p90": round(_p90(walls), 3) if len(walls) > 1 else None}
    return out


def _per_layer(tracer, outcome, session, host) -> dict[str, float]:
    from workloads import POINT_OPS

    ops = POINT_OPS + (
        "eventstore.append_commits_df", "eventstore.replay_by_event_type",
        "eventstore.replay_grouped",
    )
    out = {
        "session.start_s": session.start_s,
        "host.steal_pct": host.steal_pct,
        "host.loadavg": host.loadavg,
        "host.probe_ms": statistics.median(host.probe_ms),
        **outcome.layers,
        **tracer.op_metrics(ops, FIRST_K),
        **tracer.build_ms(BUILD_OPS),
    }
    timed = [s for s in tracer.spans
             if s.phase in ("ingest", "timed") and s.name in outcome.timed_ops]
    first = [
        s for op in outcome.timed_ops
        for s in [t for t in timed if t.name == op][:FIRST_K]
    ]
    if timed:
        out["sources.fs_calls_per_op"] = statistics.mean(s.fs_calls for s in first)
        out["sources.fs_ms_per_op"] = statistics.mean(s.fs_ms for s in timed)
        out["spark.catalyst_ms"] = statistics.mean(s.catalyst_ms for s in timed)
        out["spark.gc_ms"] = statistics.mean(s.gc_ms for s in timed)
    return out


def run_one(args, bench: dict) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import inception_eventstore_spark as pkg
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return 2
    if not Path(pkg.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: package imported from outside {ROOT}", file=sys.stderr)
        return 2
    import tracing
    import workloads

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=RUNS_DIR))
    session = None
    tracer = tracing.NullTracer()
    try:
        # TMPDIR before the JVM starts: PySpark's launcher, the JVM's
        # children and the Python workers all inherit it
        (run_dir / "tmp").mkdir()
        os.environ["TMPDIR"] = str(run_dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
        tempfile.tempdir = None
        session = Session(run_dir, cores)
        if args.trace:
            tracer = tracing.Tracer(session.spark)
        host = Host(session.spark)
        ctx = Ctx(session.spark, run_dir, args.seed, args.seconds, tracer,
                  workloads.Checks(), host, session.start_s)
        ctx.phases["session"] = round(session.start_s, 2)
        outcome = workloads.WORKLOADS[args.workload](ctx)
        ctx.enter(None)
        rss_mb = session.peak_rss_mb()
        versions = session.versions()
        if min(map(len, outcome.latency_ms.values()), default=0) < 2 \
                or not outcome.batch_ms or not host.probe_ms:
            print("perfbench: too few timed operations completed",
                  file=sys.stderr)
            return 1
        raw = _end_to_end(outcome, rss_mb, _as_measured)
        e2e = _end_to_end(outcome, rss_mb, _at_reference_speed)
        layers = _per_layer(tracer, outcome, session, host) if args.trace else {}
        spans = tracer.dump() if args.trace else None
    finally:
        tracer.close()
        if session is not None:
            session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = ctx.checks
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        print(f"perfbench: undeclared metrics {sorted(unknown)}", file=sys.stderr)
        return 2
    if spans is not None:
        print(json.dumps({"spans": spans}))
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "samples": {"latency": sum(map(len, outcome.latency_ms.values())),
                    "ingest_batches": len(outcome.batch_ms)},
        "op_median_ms": round(e2e["op_median_ms"], 3),
        "as_measured": {k: round(v, 3) for k, v in raw.items()},
        "latency_ms": _latency_summary(outcome),
        "failed_ratio": checks.failed / max(checks.attempted, 1),
        "sizes": outcome.sizes,
        "phases_s": ctx.phases,
        "host": {"nproc": os.cpu_count(), "cores_used": cores,
                 "steal_pct": round(host.steal_pct, 3),
                 "loadavg": round(host.loadavg, 2),
                 "probe_ms": round(statistics.median(host.probe_ms), 3),
                 "probes": len(host.probe_ms),
                 **versions},
    }}))
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in declared
        },
    }))
    return 0


def run_all(args, bench: dict) -> int:
    """Each workload untraced, then traced; prints every metric by name
    with its unit, the failed ratio and the tracing overhead."""
    status = 0
    for w in bench["workloads"]:
        reports = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()),
                   "--workload", w["name"], "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{w['name']} trace={trace}: exit {proc.returncode}")
                status = 1
                break
            reports[trace] = (json.loads(lines[-2])["perfbench"],
                              json.loads(lines[-1]))
        if len(reports) < 2:
            continue
        info, result = reports[0]
        print(f"== {w['name']} (seed {args.seed}, {info['samples']}, "
              f"steal {info['host']['steal_pct']}%)")
        for name, m in result["metrics"].items():
            print(f"  {name:<22} {m['value']:>14.3f} {m['unit']}")
        print(f"  {'failed_ratio':<22} {info['failed_ratio']:>14.4f} "
              f"({result['failed']}/{result['attempted']})")
        traced = reports[1][0]["op_median_ms"]
        print(f"  tracing overhead on op_median_ms: "
              f"{100.0 * (traced / info['op_median_ms'] - 1):+.1f}%")
        if not (result["correct"] and reports[1][1]["correct"]):
            status = 1
    return status


def main(argv=None) -> int:
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=names + ["all"])
    parser.add_argument("--seed", type=int, default=DEFAULT_SEED)
    parser.add_argument("--seconds", type=float, default=bench["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args, bench)
    RUNS_DIR.mkdir(exist_ok=True)
    try:
        return run_one(args, bench)
    finally:
        try:
            RUNS_DIR.rmdir()  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

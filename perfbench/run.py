"""Quality-filter benchmark: one workload per process, a closed loop with one
client (the next ``run_pipeline`` pass starts when the previous one ends).

    python3 perfbench/run.py --workload chat --seed 1 --seconds 9 --trace 0

Run it from the repository root; workloads are ``chat`` and ``longtool``
(see ``inputs``).  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` alternates plain and traced passes, runs the per-layer probes
of ``layers`` and prints the per-layer metrics.  Both print each metric by
name with its unit, then, as the last stdout line, one JSON object
``{correct, attempted, failed, metrics}``.  The full record (every sample
with quartiles, the checks, the spans) is also written to
``.perfbench_out/results/<workload>-seed<seed>-trace<t>.json``.

A run launches the JVM, stages its seeded input to parquet (untimed; this
warms the JVM), sets up SETUP_CYCLES times (see ``set_up``; the median is
``setup_s``; the set-up passes also warm the JIT), then times passes for
``--seconds`` and at least MIN_PASSES of them.  Times are wall seconds
scaled by the share of CPU time the hypervisor left the program (see
``Usage.unshared``); the record keeps the plain wall times, and each pass's
CPU and stolen seconds, too.  Every pass is
checked, untimed, and the last one is also compared with the pure-Python
oracle.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("chat", "longtool")
SETUP_CYCLES = 3
MIN_PASSES = 3
# local mode runs every task inside the driver JVM; this heap holds the
# 8-bucket write of either workload with room to spare and fits a 15 GiB box
DRIVER_MEM = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Point every file Spark, the JVM and Python write at ``work`` and let
    the Python UDF workers import the package from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # both JVMs (spark-submit's launcher and the driver): temp files under
    # work, and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # site tuning would change what is measured; the benchmark runs the defaults
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def start_session(work: Path):
    from dp_data_quality_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            # the progress bar shares the console with the result line
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def stop_jvm(spark) -> None:
    """Stop Spark and the gateway JVM and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def stolen_s(cpus: set[int]) -> float:
    """CPU seconds the hypervisor has so far given to others while one of
    ``cpus`` (virtual CPUs) had work: their steal in /proc/stat, 0 where
    that does not exist."""
    ticks = 0
    try:
        with open("/proc/stat") as f:
            for line in f:
                name, *fields = line.split()
                if name.startswith("cpu") and name[3:].isdigit() and int(name[3:]) in cpus:
                    ticks += int(fields[7])
    except (OSError, IndexError, ValueError):
        return 0.0
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_s(root: int) -> float:
    """CPU seconds used so far by this process and by process ``root`` (the
    driver JVM) with its descendants (the Python workers), counting the
    children they have reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has ended
            continue
        pid = int(entry.name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


@dataclass
class Usage:
    """Seconds of wall clock, of CPU (``cpu_s``) and stolen (``stolen_s``)."""
    wall: float
    cpu: float
    stolen: float

    @classmethod
    def now(cls, spark) -> "Usage":
        jvm = spark.sparkContext._gateway.proc.pid
        return cls(time.perf_counter(), cpu_s(jvm), stolen_s(os.sched_getaffinity(0)))

    def __sub__(self, other: "Usage") -> "Usage":
        return Usage(self.wall - other.wall, self.cpu - other.cpu, self.stolen - other.stolen)

    @property
    def unshared(self) -> float:
        """Wall seconds the work would take had the hypervisor stolen
        nothing: the CPUs that had work gave the program ``cpu`` seconds and
        others ``stolen``, so the program ran at cpu / (cpu + stolen) of
        their speed."""
        busy = self.cpu + self.stolen
        return self.wall * self.cpu / busy if busy > 0 else self.wall


@dataclass
class Pass:
    wall: float         # seconds; nan if the pass raised
    out_bytes: int      # bytes under the output dir after the pass
    bucket_rows: list   # rows_in of each bucket in the metrics table
    usage: Usage | None = None  # around run_pipeline (run_pass only)


class Bench:
    """One workload's staged tables, its pass protocol and its failure count."""

    def __init__(self, workload: str, seed: int, work: Path):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.out_dir = work / "out"
        self.table = None  # the workload's input (inputs.Table)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @property
    def turns(self) -> int:
        return self.table.turns

    @property
    def in_path(self) -> str:
        return self.table.path

    def stage(self, spark) -> None:
        from perfbench import inputs

        self.table = inputs.stage(spark, self.workload, self.seed, str(self.work / "input"))

    def prepare(self) -> None:
        """Give the next pass a fresh output dir (untimed)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        # flush earlier passes' output now, so its writeback is not timed
        os.sync()

    def timed(self, spark):
        """Read the input and run the pipeline, as the ``filter`` command does
        (resume on, into a fresh dir); return (seconds, PipelineResult)."""
        from dp_data_quality_spark.pipeline import run_pipeline

        from perfbench import inputs

        t0 = time.perf_counter()
        res = run_pipeline(spark, spark.read.parquet(self.in_path), str(self.out_dir),
                           n_buckets=inputs.N_BUCKETS, run_id="bench")
        return time.perf_counter() - t0, res

    def _count(self, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def fail(self, exc: Exception) -> Pass:
        traceback.print_exc(file=sys.stderr)
        self._count([f"pass raised {exc!r}"])
        return Pass(math.nan, 0, [])

    def finish(self, wall: float, res, skipped: int = 0) -> Pass:
        """Check a finished pass (untimed) and count it as one operation."""
        from perfbench import checks

        try:
            failures, bucket_rows = checks.check_pass(
                res, str(self.out_dir / "scored"), self.table, skipped)
        except Exception as exc:  # a check that cannot run fails the pass
            failures, bucket_rows = [f"check raised {exc!r}"], []
        self._count(failures)
        return Pass(wall, tree_bytes(self.out_dir), bucket_rows)

    def run_pass(self, spark) -> Pass:
        self.prepare()
        before = Usage.now(spark)
        try:
            wall, res = self.timed(spark)
        except Exception as exc:
            return self.fail(exc)
        usage = Usage.now(spark) - before
        p = self.finish(wall, res)
        p.usage = usage
        return p

    def check_oracle(self) -> dict:
        from perfbench import checks

        try:
            out = checks.check_oracle(self.in_path, str(self.out_dir / "scored"), self.seed)
        except Exception as exc:
            out = {"failures": [f"oracle check raised {exc!r}"]}
        self.failures.extend(out["failures"])
        return out


def set_up(bench: Bench, spark, work: Path, session_walls: list):
    """SETUP_CYCLES x (fresh SparkContext + the first pass on it, as a
    spark-submit job pays them); returns the last session and the set-up
    samples (``Usage``).  Each pass is checked like a timed one.

    The first pass boots and initialises the Python workers and compiles the
    pipeline's plans.  The JVM launched for staging stays up, so no sample
    pays the JVM launch; the cycles also let the JIT compile the pipeline's
    hot paths (a fresh JVM takes several passes to settle), which the first
    timed passes would otherwise pay."""
    samples = []
    for _ in range(SETUP_CYCLES):
        spark.stop()
        bench.prepare()
        before = Usage.now(spark)  # the gateway JVM outlives the context
        spark = start_session(work)
        session_walls.append(time.perf_counter() - before.wall)
        try:
            _, res = bench.timed(spark)
        except Exception as exc:
            bench.fail(exc)
            continue
        samples.append(Usage.now(spark) - before)
        bench.finish(samples[-1].wall, res)
    return spark, samples


def measure(bench: Bench, spark, seconds: float) -> list[Pass]:
    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        passes.append(bench.run_pass(spark))
    return passes


def end_to_end(bench: Bench, passes: list[Pass], setup: list[Usage]) -> dict:
    """Timings are ``Usage.unshared`` seconds: on a shared virtual machine,
    time stolen by the hypervisor is not the program's."""
    from perfbench.stats import summary

    done = [p.usage for p in passes if p.usage is not None]
    pass_s = summary([u.unshared for u in done])
    setup_s = summary([u.unshared for u in setup])
    return {
        "turns_per_s": {"value": bench.turns / pass_s["median"], "unit": "turns/s",
                        "pass_s": pass_s, "pass_wall_s": summary([u.wall for u in done])},
        "out_bytes_per_turn": {"value": passes[-1].out_bytes / bench.turns, "unit": "B/turn"},
        "setup_s": {"value": setup_s["median"], "unit": "s", "samples": setup_s,
                    "wall_s": summary([u.wall for u in setup])},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # the program and its oracle live in the checkout, outside perfbench/
    for module in ("dp_data_quality_spark", "tests.oracle_util"):
        try:
            found = importlib.util.find_spec(module) is not None
        except ImportError:
            found = False
        if not found:
            print(f"perfbench: {module} not found under {ROOT}", file=sys.stderr)
            return 2

    out_root = ROOT / ".perfbench_out"
    work = out_root / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    results = out_root / "results"
    results.mkdir(parents=True, exist_ok=True)
    prepare_env(work)

    from perfbench import layers

    bench = Bench(args.workload, args.seed, work)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cpus": len(os.sched_getaffinity(0))}
    phases = record["phase_s"] = {}

    @contextmanager
    def phase(name):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases[name] = time.perf_counter() - t0

    spark = None
    try:
        with phase("jvm_launch"):
            spark = start_session(work)
        with phase("stage"):
            bench.stage(spark)
        record["turns"] = bench.turns

        session_walls: list[float] = []
        with phase("setup"):
            spark, setup = set_up(bench, spark, work, session_walls)
        with phase("measure"):
            if args.trace:
                tracer = layers.Tracer()
                passes, metrics, record["layers"] = layers.traced_run(
                    bench, spark, args.seconds, tracer)
                metrics["session.start_s"] = {"value": statistics.median(session_walls),
                                              "unit": "s"}
                record["spans"] = tracer.spans
            else:
                passes = measure(bench, spark, args.seconds)
                metrics = end_to_end(bench, passes, setup)
        with phase("oracle"):
            record["oracle"] = bench.check_oracle()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        with phase("stop"):
            if spark is not None:
                stop_jvm(spark)
            shutil.rmtree(work, ignore_errors=True)

    record.update(metrics=metrics, attempted=bench.attempted, failed=bench.failed,
                  failures=bench.failures,
                  passes=[{"wall": p.wall, "usage": p.usage and asdict(p.usage), "out_bytes": p.out_bytes,
                           "bucket_rows": p.bucket_rows} for p in passes])
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    record["result"] = result
    path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))

    print(f"workload {args.workload} seed {args.seed}: {bench.turns} turns, "
          f"{bench.attempted} passes attempted, {bench.failed} failed")
    for name, v in metrics.items():
        print(f"  {name} = {v['value']:.6g} {v['unit']}")
    for failure in bench.failures:
        print(f"  FAILED CHECK: {failure}")
    print(f"  full record: {path.relative_to(ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Engine benchmark: closed-loop workloads over the engine's public
functions, every op checked, medians printed by name with units.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``); the lines before
it are the human-readable report. ``--trace 1`` runs every workload
with spans around each layer call and reports the per-layer metrics
instead of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# one client: Spark's task slots are the only load, sized to the host
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
# Warm-up ops before timing. The first op in a fresh JVM is 3-5x slower
# than later ones. In long runs an LLM pass then held about level for
# passes 3-5 and stepped down about 20 % around pass 6, settling only
# after about nine passes, more than a run can spend. A fixed count keeps
# every run at the same point of that curve, and 2 warm-up ops put the
# three timed passes before the step rather than across it. The report
# prints first- and second-half medians of the timed ops.
WARM_OPS = 2
# fewest timed ops per run (the traced run: untraced/traced pairs)
MIN_TIMED, MIN_PAIRS = 3, 2


def _engine_present() -> bool:
    return (ROOT / "datapipeline_scraping_spark" / "__init__.py").is_file() and (
        ROOT / "bench.py"
    ).is_file()


def _declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for
    this mode; the run must report exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _prepare_env(work: Path) -> None:
    """Pin parallelism and heap, keep every file Spark writes inside
    the checkout, and let Python workers import the engine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the script's own directory must not shadow top-level modules
    here = str(Path(__file__).resolve().parent)
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _build_session(work: Path):
    from datapipeline_scraping_spark.session import build_spark

    spark = build_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file: the JVM writes it to /tmp whatever
            # java.io.tmpdir says
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active Spark context and the JVM behind it, and wait
    for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


# -- statistics ---------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            v = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            return f"p{p}={v:.4f} s"
    return "no percentile has 10 samples beyond it"


def _halves(xs: list[float]) -> str:
    h = len(xs) // 2
    if h == 0:
        return "n/a"
    return f"{median(xs[:h]):.4f} s -> {median(xs[h:]):.4f} s"


# -- one workload ---------------------------------------------------------------


class Run:
    """Set up one workload, warm it up, then run its ops in a closed
    loop for ``seconds``, collecting latency samples per op kind."""

    def __init__(self, cls, seed: int, seconds: float, work: Path, spark=None):
        self.cls, self.seed, self.seconds, self.work = cls, seed, seconds, work
        self.spark = spark
        self.samples: dict[str, list[float]] = {k: [] for k in cls.kinds}
        self.traced: dict[str, list[float]] = {k: [] for k in cls.kinds}
        self.attempted = self.failed = self.warm_failed = 0
        self.warm: list[float] = []

    def setup(self) -> None:
        """Session start + staging, then ``WARM_OPS`` warm-up ops;
        ``setup_s`` covers all three."""
        t0 = time.perf_counter()
        if self.spark is None:
            self.spark = _build_session(self.work)
        wl = self.cls(self.spark, str(self.work / self.cls.name), self.seed)
        wl.stage()
        self.wl, self.stage_s = wl, time.perf_counter() - t0
        t0 = time.perf_counter()
        pending = []
        for _ in range(WARM_OPS):
            lat, check = self._attempt()
            if lat is None:
                self.warm_failed += 1
                continue
            self.warm.append(lat[self.cls.kinds[0]])
            pending.append(check)
        self.warm_s = time.perf_counter() - t0
        self.setup_s = self.stage_s + self.warm_s
        # checks that need the run's oracle are settled after set-up
        if hasattr(wl, "compute_oracle"):
            wl.compute_oracle()
        self.warm_failed += sum(not _passes(c) for c in pending)

    def measure(self, tracer=None) -> None:
        """Closed loop for ``seconds``. With a tracer, ops run untraced,
        traced, traced, untraced, ... so the tracing overhead is measured
        in place and a steady warm-up trend cancels out of it."""
        wl, null = self.wl, self.wl.tr
        self.tracer = tracer
        deadline = time.perf_counter() + self.seconds
        need = 2 * MIN_PAIRS if tracer else MIN_TIMED
        i = 0
        while time.perf_counter() < deadline or self.attempted < need:
            traced = tracer is not None and i % 4 in (1, 2)
            if traced:
                tracer.op_id = i
                wl.tr = tracer
                with wl.instrumented(tracer):
                    lat, check = self._attempt()
                wl.tr = null
            else:
                lat, check = self._attempt()
            self.attempted += 1
            i += 1
            if lat is None or not _passes(check):
                self.failed += 1
                continue
            for k, v in lat.items():
                (self.traced if traced else self.samples)[k].append(v)
        self.final_ok = _passes(wl.final_check)

    def _attempt(self):
        """One op; an op that raises is reported and counted as failed."""
        try:
            return self.wl.op()
        except Exception:
            traceback.print_exc()
            return None, None

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.warm_failed == 0 and self.final_ok


def _passes(check) -> bool:
    try:
        return bool(check())
    except Exception:
        traceback.print_exc()
        return False


def _report(run: Run) -> list[str]:
    name = run.cls.name
    lines = [
        f"== {name}: seed {run.seed}, local[{CPUS}], driver heap {DRIVER_MEM}",
        f"setup_s            {run.setup_s:.4f} s   (session + staging "
        f"{run.stage_s:.2f} s; warm-up {run.warm_s:.2f} s over {len(run.warm)} ops: "
        + ", ".join(f"{x:.2f}" for x in run.warm)
        + ")",
        f"failed_frac        {run.failed / max(1, run.attempted):.4f}   "
        f"({run.failed} of {run.attempted} timed ops; warm-up failures "
        f"{run.warm_failed}; final state check {'ok' if run.final_ok else 'FAILED'})",
    ]
    for kind, xs in run.samples.items():
        label = run.cls.metric_names[kind]
        lines.append(
            f"{label:<18} {median(xs):.4f} s   n={len(xs)}; {tail(xs)}; "
            f"first half -> second half {_halves(xs)}"
        )
    return lines


def _context(steal0, *, calibrate: bool) -> list[str]:
    """Host-noise context: the steal-tick delta over the run and, in
    the traced run, the multi-core calibration (about 3 s of md5)."""
    from bench import host_calibration_parallel, read_steal_ticks

    steal1 = read_steal_ticks()
    steal = steal1 - steal0 if steal0 is not None and steal1 is not None else None
    line = f"context: steal_ticks_delta={steal}"
    if calibrate:
        line += (
            f" host_calib_parallel_sec={host_calibration_parallel(CPUS):.4f}"
            f" (threads={CPUS})"
        )
    return [line]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    units = _declared_units(args.trace)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    _prepare_env(work)

    from bench import read_steal_ticks
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    steal0 = read_steal_ticks()
    runs: list[Run] = []
    spark = None
    try:
        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        if not args.trace:
            run = Run(WORKLOADS[args.workload], args.seed, args.seconds, work)
            run.setup()
            run.measure()
            runs.append(run)
            lines = _report(run)
            values = {
                "setup_s": run.setup_s,
                "op_p50_s": median(run.samples[run.cls.kinds[0]]),
            }
        else:
            # every per-layer metric is reported, so the traced run
            # covers every workload, the requested one first
            order = [args.workload] + sorted(set(WORKLOADS) - {args.workload})
            lines, values = [], {}
            for name in order:
                run = Run(WORKLOADS[name], args.seed, args.seconds / len(order), work, spark)
                # traced and untraced ops alternate, so the overhead is
                # measured at the same point of the warm-up curve
                run.setup()
                spark = run.spark
                run.measure(Tracer(spark.sparkContext))
                runs.append(run)
                lines += _report(run)
                for kind in run.cls.kinds:
                    over = median(run.traced[kind]) - median(run.samples[kind])
                    lines.append(
                        f"tracing overhead   {run.cls.metric_names[kind]}: "
                        f"{over:+.4f} s (traced {median(run.traced[kind]):.4f} s "
                        f"vs untraced {median(run.samples[kind]):.4f} s)"
                    )
                values.update(run.wl.layer_metrics(run.tracer.spans))
                out_dir.mkdir(exist_ok=True)
                run.tracer.write(str(out_dir / f"spans-{name}-seed{args.seed}.jsonl"))
            lines.append("per-layer metrics:")
            lines += [f"  {k:<42} {v:.6g} {units.get(k, '?')}" for k, v in values.items()]
        lines += _context(steal0, calibrate=bool(args.trace))
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it

    for line in lines:
        print(line)
    if set(values) != set(units):
        print(f"reported metrics differ from BENCHMARK.json: "
              f"{sorted(set(values) ^ set(units))}", file=sys.stderr)
        return 3
    missing = sorted(k for k, v in values.items() if not math.isfinite(v))
    if missing:
        print(f"no measurement for {missing}", file=sys.stderr)
        return 3
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    print(
        json.dumps(
            {
                "correct": all(r.correct for r in runs),
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

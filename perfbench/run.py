"""Benchmark of the pyradiomics_spark engine: one workload per run.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout of the repository. It starts one
``local[k]`` Spark session (k = the CPUs this process may use), sets up
the workload's seeded inputs several times, runs a fixed number of warm
passes, then runs timed passes until ``--seconds`` of pass time have been
measured. Every pass is checked against DuckDB. With
``--trace 1`` the timed passes alternate between spans off and spans on,
and each layer is then probed on its own; see README.md. Input generation
and the DuckDB checks run in a side process (``sidecar.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Scratch files live
under ``.perfbench/`` in the checkout and are removed at exit, except the
trace written by a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import tracing
from sidecar import Sidecar

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
#: At least three timed passes, so that the median rejects one slow pass.
MIN_PASSES = 3
DRIVER_MEMORY = "2g"

#: Untimed passes before the timed ones. The pass time keeps falling for
#: several passes while the JVM compiles its hot paths, and it falls in
#: steps (on pit_refresh about 7.5, 5.8, 5.3, 5.0, 4.8 s for the first
#: five passes, with flat steps between drops), so a rule that stops at
#: the first flat step stops at a different point in each run. A fixed
#: count measures every run at the same point.
WARM_PASSES = 4


def _declared() -> tuple:
    """({end-to-end metric: unit}, {per-layer metric: unit}) as
    BENCHMARK.json at the root of the checkout declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[key]}
                 for key in ("end_to_end", "per_layer"))


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _start_session(cores: int):
    """The program's session (created on first call, reused after) with
    a Python worker started on every slot."""
    from pyradiomics_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # worker warm-up: start a Python worker per slot and import the
    # extraction modules there, so that cost lands in set-up
    def warm(batches):
        import pyradiomics_spark.operators.features  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInArrow(warm, "id long").collect()
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    kids = tracing.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class Passes:
    """Attempted and failed passes of one run."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0

    def one(self, tr):
        """Restore, run one timed pass, check it. Returns (seconds, items)
        or None if the pass raised."""
        self.wl.restore()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            items, result = self.wl.run_pass(tr)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        try:
            bad = self.wl.check(result)
        except Exception as exc:
            bad = [f"check raised {exc!r}"]
        if bad:
            self.failed += 1
            print(f"pass failed its check: {bad}", file=sys.stderr)
        return dt, items

    def warm(self, tr) -> list:
        """WARM_PASSES passes; returns the seconds of those that
        completed."""
        runs = (self.one(tr) for _ in range(WARM_PASSES))
        return [r[0] for r in runs if r is not None]

    def timed(self, tr, seconds: float) -> list:
        """Passes until ``seconds`` of pass time (at least MIN_PASSES);
        returns (seconds, items) per pass."""
        out, errors = [], 0
        while len(out) < MIN_PASSES or sum(t for t, _ in out) < seconds:
            r = self.one(tr)
            if r is None:
                errors += 1
                if errors >= 2:
                    break
                continue
            out.append(r)
        return out

    def paired(self, off, on, seconds: float) -> tuple:
        """Untraced and traced passes in pairs, in the order AB BA AB ...,
        until each side has ``seconds`` of pass time (at least MIN_PASSES
        each); returns (untraced, traced), each a list of (seconds, items)
        in pair order. A pair with a pass that raised is dropped."""
        plain, traced, errors = [], [], 0
        while len(traced) < MIN_PASSES or min(
                sum(t for t, _ in plain), sum(t for t, _ in traced)) < seconds:
            order = (off, on) if len(traced) % 2 == 0 else (on, off)
            got = {tr: self.one(tr) for tr in order}
            if None in got.values():
                errors += 1
                if errors >= 2:
                    break
                continue
            plain.append(got[off])
            traced.append(got[on])
        return plain, traced


def _rate(passes: list) -> float:
    return statistics.median(items / t for t, items in passes)


def _session_layers(sc, tr, n_passes: int) -> dict:
    """Jobs, stages, tasks, GC and CPU share per traced pass, over every
    job the traced passes started."""
    labels = {s["label"] for s in tr.spans
              if not s["label"].startswith("probe_")}
    st = tracing.stage_sums(tracing.stage_records(sc), lambda d: d in labels)
    jobs = sum(1 for j in tracing.job_records(sc) if j["description"] in labels)
    n = max(n_passes, 1)
    return {"spark.jobs": jobs / n, "spark.stages": st["stages"] / n,
            "spark.tasks": st["tasks"] / n, "spark.gc_s": st["gc_s"] / n,
            "spark.cpu_over_run": st["cpu_s"] / max(st["run_s"], 1e-9)}


def _scaling(wl, runs: Passes, fv_per_s: float, tr_off,
             seconds: float) -> tuple:
    """(the local[1] session, fv/s at local[k] over k x fv/s at
    local[1]) on the same inputs."""
    spark1 = _start_session(1)
    wl.setup(spark1)
    runs.warm(tr_off)
    one_core = _rate(runs.timed(tr_off, seconds))
    return spark1, fv_per_s / (wl.cores * one_core)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyradiomics_spark",
                                       "__init__.py")):
        print("perfbench: pyradiomics_spark/ not found next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    end_to_end, per_layer = _declared()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    side = Sidecar(cores, os.path.join(work, "tmp"))
    wl = WORKLOADS[args.workload](args.seed, work, cores, side)
    spark = None
    try:
        with tracing.TreeMemory(skip={side.pid}) as mem:
            setup_s = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                spark = _start_session(cores)
                props = wl.setup(spark)
                setup_s.append(time.perf_counter() - t0)
                _log(f"set-up {len(setup_s)}: {setup_s[-1]:.2f}s")
            sc = spark.sparkContext
            off = tracing.Tracer(sc, enabled=False)
            runs = Passes(wl)
            warm = runs.warm(off)
            _log(f"warm passes: {[round(t, 3) for t in warm]}")
            layers = {}
            if args.trace:
                on = tracing.Tracer(sc, enabled=True)
                plain, traced = runs.paired(off, on, args.seconds)
                if not traced:
                    raise RuntimeError("no pass pair completed")
                layers = dict.fromkeys(per_layer, 0)
                layers.update(_session_layers(sc, on, len(traced)))
                layers.update(wl.probe(spark, on, len(traced)))
                stage_log = tracing.stage_records(sc)
                layers["trace.overhead_pct"] = 100.0 * (statistics.median(
                    t_on / t_off for (t_off, _), (t_on, _)
                    in zip(plain, traced)) - 1.0)
                _log("pass pairs (off, on): " + str(
                    [(round(a, 3), round(b, 3))
                     for (a, _), (b, _) in zip(plain, traced)]))
            else:
                plain = runs.timed(off, args.seconds)
                if not plain:
                    raise RuntimeError("no pass completed")
                _log(f"timed passes: {[round(t, 3) for t, _ in plain]}")
            rate = _rate(plain)
            bad = wl.final_check(spark)
            _log("final check done")
            runs.attempted += 1
            if bad:
                runs.failed += 1
                print(f"final check failed: {bad}", file=sys.stderr)
            if args.trace and wl.name == "extract":
                spark.stop()
                spark, layers["extract.scaling_eff"] = _scaling(
                    wl, runs, rate, off, args.seconds)
            _shutdown(spark)
            spark = None
            _log("shut down")
        if args.trace:
            _write_trace(args, props, on, stage_log, layers)
    finally:
        if spark is not None:
            _shutdown(spark)
        side.close()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "inputs": props, "item": wl.item,
                      "setup_s": setup_s, "warm_s": warm,
                      "pass_s": [t for t, _ in plain]}))
    if args.trace:
        units, values = per_layer, layers
    else:
        units = end_to_end
        values = {"setup_s": statistics.median(setup_s),
                  "items_per_s": rate,
                  "peak_rss_mb": mem.peak_mb}
    if set(values) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": values[k], "unit": unit}
               for k, unit in units.items()}
    print(json.dumps({"correct": runs.failed == 0,
                      "attempted": runs.attempted, "failed": runs.failed,
                      "metrics": metrics}), flush=True)
    return 0


def _write_trace(args, props: dict, tr, stages: list, layers: dict) -> None:
    """Spans, stage records and per-layer metrics, written once at the
    end of the run."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "inputs": props, "spans": tr.spans, "stages": stages,
                   "layers": layers},
                  fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())

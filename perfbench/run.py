"""sparkplug-py benchmark entry point.

    python3 perfbench/run.py --workload rules_fold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

One process, one Spark session on ``local[<cores>]``:

1. set-up, five times: start a session and generate the seeded inputs
   (the first start also launches the JVM and imports the program);
   ``setup_s`` is the median;
2. DuckDB oracles for this seed (not part of ``setup_s``);
3. the cold pass (``cold_run_s``): the first pass in the fresh session;
4. the workload's untimed ``warmup`` passes, if any;
5. warm passes until ``--seconds`` have been spent (at least the
   workload's ``min_passes``); ``run_s`` is their median.

Every pass is checked against the oracle; a pass that raises or mismatches
counts as failed.  With ``--trace 1`` the warm passes alternate traced and
untraced, and the per-layer metrics (medians over traced passes) replace
the end-to-end ones; the layer table with self times and the raw spans are
written under ``perfbench/_run/``.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import session  # noqa: E402
from perfbench.spans import Tracer, layer_table  # noqa: E402
from perfbench.workloads import WORKLOADS, clean  # noqa: E402

SETUPS = 5


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, per_layer: list[str]):
        self.wl = WORKLOADS[workload]()
        self.per_layer = per_layer
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = os.path.join(HERE, "_run", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = self.failed = 0
        self.passes = 0

    def setup(self):
        times = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if k == 0:
                import __spark_entry__  # noqa: F401  (program import is start-up work)
                import sparkplug_spark.operators  # noqa: F401
                import sparkplug_spark.streaming  # noqa: F401
            spark = session.start(ROOT, self.work)
            self.wl.generate(self.seed, os.path.join(self.work, f"inputs{k}"))
            times.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                session.stop(spark)
        self.spark = spark
        return statistics.median(times), times

    def pass_dir(self) -> str:
        return os.path.join(self.work, f"pass{self.passes}")

    def one_pass(self, tracer):
        """Run, time and check one pass; returns (seconds, result, trace_id)."""
        self.passes += 1
        out = self.pass_dir()
        tracer.trace_id = f"p{self.passes}"
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("pass"):
                result = self.wl.run_pass(self.spark, tracer, out)
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            session.hygiene(self.spark)
            return None, None, tracer.trace_id
        result.extra["rdds_left"] = session.persisted_rdds(self.spark)
        try:
            ok = self.wl.check(result)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            _log(f"pass {self.passes}: output does not match the oracle")
            self.failed += 1
        session.hygiene(self.spark)
        return dt, result, tracer.trace_id

    def main(self) -> dict:
        try:
            return self.measure()
        finally:
            if getattr(self, "spark", None) is not None:
                session.stop(self.spark)
            session.shutdown()
            clean(self.work)

    def measure(self) -> dict:
        t_setup, setups = self.setup()
        t0 = time.perf_counter()
        self.wl.oracle()
        _log(f"setup {[round(s, 3) for s in setups]} s, oracle {time.perf_counter() - t0:.2f} s")
        off = Tracer(self.spark, enabled=False)
        on = Tracer(self.spark, enabled=True)
        cold, _, _ = self.one_pass(off)
        clean(self.pass_dir())
        _log(f"cold pass {cold}")
        for _ in range(self.wl.warmup):
            dt, _, _ = self.one_pass(off)
            clean(self.pass_dir())
            _log(f"warm-up pass {dt}")
        warm, traced, layer_rows = [], [], []
        start = time.perf_counter()
        while True:
            # traced and untraced passes alternate in a traced run
            tracing = self.trace and len(warm) > len(traced)
            dt, result, tid = self.one_pass(on if tracing else off)
            if dt is not None:
                if tracing:
                    traced.append(dt)
                    layer_rows.append(self.layers(on, tid, result, dt))
                else:
                    warm.append(dt)
            clean(self.pass_dir())
            _log(f"{'traced' if tracing else 'warm'} pass {dt}")
            spent = time.perf_counter() - start
            # a traced run ends on an untraced pass, so every traced pass has
            # an untraced one on each side and the warm-up trend cancels out
            # of the overhead
            enough = len(warm) >= self.wl.min_passes and (
                not self.trace or 0 < len(traced) < len(warm)
            )
            # stop before a pass that would overrun the window; give up on
            # repeated failures
            if (enough and spent + (dt or 0) > self.seconds) or self.failed >= 3:
                break
        if self.trace:
            metrics = {}
            for key in layer_rows[0] if layer_rows else []:
                metrics[key] = statistics.median(r[key] for r in layer_rows)
            metrics["trace.run_s"] = statistics.median(traced) if traced else 0.0
            metrics["trace.overhead_s"] = metrics["trace.run_s"] - (statistics.median(warm) if warm else 0.0)
            self.write_layers(on, metrics)
            return metrics
        return {
            "setup_s": t_setup,
            "cold_run_s": cold if cold is not None else 0.0,
            "run_s": statistics.median(warm) if warm else 0.0,
        }

    def layers(self, tracer, tid, result, wall) -> dict:
        spans = tracer.pass_spans(tid)
        c = tracer.counters(spans)
        by_name = {}
        for s in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + s.seconds
        row = dict.fromkeys(self.per_layer, 0.0)
        for layer in ("models.load", "validation.validate", "engine.plug", "engine.action",
                      "engine.stream_plug", "sources.read_store"):
            row[f"{layer}_s"] = by_name.get(layer, 0.0)
        for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s", "executor_run_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb"):
            row[f"spark.{k}"] = c[k]
        row["spark.busy_frac"] = c["executor_run_s"] / (wall * session.cores())
        for k in ("py_sent_mb", "py_returned_mb", "py_run_s", "py_start_s"):
            row[f"functions.{k}"] = c[k]
        row["caching.rdds_left"] = result.extra["rdds_left"]
        row.update(self.wl.layers(self.spark, tracer, tid, result))
        unknown = set(row) - set(self.per_layer)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return row

    def write_layers(self, tracer, metrics) -> None:
        out = os.path.join(HERE, "_run")
        tids = sorted({s.trace_id for s in tracer.spans})
        table = layer_table(tracer, tids)
        name = self.wl.name
        tracer.dump(os.path.join(out, f"spans_{name}.jsonl"))
        with open(os.path.join(out, f"layers_{name}.json"), "w", encoding="utf-8") as f:
            json.dump({"workload": name, "seed": self.seed, "traced_passes": len(tids),
                       "trace_overhead_s": metrics["trace.overhead_s"],
                       "layers": table, "metrics": metrics}, f, indent=1)
        cols = [k for k in table[0] if k != "layer"] if table else []
        _log(f"{'layer':<28}" + "".join(f"{k:>{len(k) + 2}}" for k in cols))
        for r in table:
            _log(f"{r['layer']:<28}" + "".join(f"{r[k]:>{len(k) + 2}.3f}" for k in cols))
        _log(f"trace overhead: {metrics['trace.overhead_s']:+.3f} s per pass "
             f"(traced run_s {metrics['trace.run_s']:.3f} s)")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_all(seed: int, seconds: float) -> int:
    """Run every workload in its own process and print one table."""
    rows = []
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, cwd=ROOT, check=False,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last) if proc.returncode == 0 else {}
        rows.append((w, res))
    print(f"{'workload':<15}{'setup_s':>9}{'cold_run_s':>12}{'run_s':>9}{'failed_frac':>13}")
    for w, res in rows:
        if not res:
            print(f"{w:<15}  did not finish")
            continue
        m = res["metrics"]
        print(f"{w:<15}{m['setup_s']['value']:>9.3f}{m['cold_run_s']['value']:>12.3f}"
              f"{m['run_s']['value']:>9.3f}{res['failed'] / res['attempted']:>13.3f}")
    return 0 if all(r and r["correct"] for _, r in rows) else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "sparkplug_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _log(f"the program (sparkplug_spark/, __spark_entry__.py) is missing under {ROOT}")
        return 2
    spec = _spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    if args.workload == "all":
        return run_all(args.seed, seconds)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    run = Run(args.workload, args.seed, seconds, bool(args.trace),
              [m["name"] for m in spec["per_layer"]])
    metrics = run.main()
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [k for k in wanted if k not in metrics]
    if missing:
        _log(f"metrics not produced: {missing}")
        return 3
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: _metric(metrics[k], units[k]) for k in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

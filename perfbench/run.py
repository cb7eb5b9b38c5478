#!/usr/bin/env python3
"""Benchmark runner: one workload, one local[4] Spark process.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Protocol of one run:

1. set-up: start the JVM and the session, and record the time from
   process start to a ready session;
2. make the seeded inputs (cached per seed; not timed) and the
   reference results the checks compare against;
3. the cold pass: the first pass in the fresh JVM;
4. one uncounted warm-up pass, then warm passes until ``--seconds``
   have been measured (at least one);
5. with ``--trace 1`` only: one traced pass (layer spans, eager layer
   materialization, event log), the per-layer counts, and for
   ``corpus`` one persisted pass through ``run_staged_pipeline``.

Every pass's output is checked.  Human-readable lines go to stdout
first; the last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Queries  # noqa: E402

END_TO_END = (
    ("files_per_s", "1/s"),
    ("pass_s", "s"),
    ("pass_cpu_s", "s"),
    ("cold_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)
# uncounted passes between the cold pass and the measured ones: the
# first pass after the cold one still runs on the JVM's JIT warm-up slope
# (about 25% above the plateau, the next ones about 10%); more warm-ups
# do not fit the time budget of a run set under a loaded host
WARMUP_PASSES = 1


def _program_present() -> bool:
    return os.path.isfile(
        os.path.join(host.ROOT, "photo_dedup_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(host.ROOT, "__spark_entry__.py"))


def _drop_cached_blocks(spark) -> None:
    # checkpoint blocks of a finished pass would otherwise pile up and
    # change the memory state every later pass sees
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def _upper_percentile(samples: list[float]) -> str:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return f"none (n={n} < 11)"
    p = int(100 * (1 - 10 / n))
    value = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return f"p{p} {value:.4f} s (n={n})"


class Run:
    """Pass bookkeeping of one run: attempts, failures, CPU, quality."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.quality: dict = {}
        self.cpu: list[float] = []

    def one_pass(self, fn, label: str):
        """Run fn() -> output, check it; returns (wall_s, output) or
        (None, None) when the pass raised or failed its check."""
        self.attempted += 1
        jvm = host.jvm_pid()
        c0, t0 = host.tree_cpu_s(jvm), time.monotonic()
        try:
            out = fn()
            wall = time.monotonic() - t0
            cpu = host.tree_cpu_s(jvm) - c0
            verdict = self.w.check(out)
        except Exception:
            self.failed += 1
            self.problems.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None, None
        for k in ("recall", "precision"):
            if k in verdict:
                self.quality[k] = min(self.quality.get(k, 1.0), verdict[k])
        if not verdict["ok"]:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in verdict["problems"]]
            return None, None
        self.cpu.append(cpu)
        return wall, out


def _traced(run: Run, spark, event_dir: str, warm: list[float]) -> dict:
    w = run.w
    tracer = trace.Tracer(spark, f"{w.name}-traced")
    counts, staged_tracer, written = {}, None, 0

    def traced():
        # the pass span ends when the workload returns, before the
        # output check, as the untraced walls do
        try:
            if w.name == "corpus":
                tracer.begin("ingest")
                with trace.install(tracer):
                    return w.run(spark)
            tracer.begin()
            return w.run(spark, tracer)
        finally:
            tracer.end()

    wall, _ = run.one_pass(traced, "traced pass")
    if wall is not None and w.name == "corpus":
        counts = trace.layer_counts(tracer.kept)
    spark.sparkContext.setJobGroup("untraced", "perfbench untraced", False)
    # the untraced passes on either side of the traced one: their mean
    # cancels the JIT warm-up still under way across these passes
    _drop_cached_blocks(spark)
    after, _ = run.one_pass(lambda: w.run(spark), "untraced pass after the traced one")
    if w.name == "corpus":
        _drop_cached_blocks(spark)
        staged_tracer = trace.Tracer(spark, "staged")

        def staged():
            nonlocal written
            staged_tracer.begin("checkpoint")
            try:
                rows, written = w.run_staged(spark)
            finally:
                staged_tracer.end()
            return rows

        run.one_pass(staged, "staged pass")
    spans = tracer.spans + (staged_tracer.spans if staged_tracer else [])
    trace.write_spans(event_dir + "-spans.json", spans)
    neighbours = [warm[-1]] + ([after] if after is not None else [])
    return {"tracer": tracer, "counts": counts,
            "spans": spans, "written": written, "ok": wall is not None,
            "untraced": statistics.mean(neighbours)}


def _per_layer(run: Run, t: dict, event_dir: str) -> dict:
    units = dict(trace.per_layer_spec(Queries.NAMES))
    metrics = dict.fromkeys(units, 0.0)
    groups = trace.group_metrics(trace.event_log_file(event_dir))
    layer = trace.layer_metrics(t["spans"], groups, host.SLOTS)
    metrics.update({k: v for k, v in layer.items() if k in metrics})
    metrics.update(t["counts"])
    tracer = t["tracer"]
    if t["ok"]:
        metrics["pass.self_s"] = tracer.pass_self_s()
        metrics["trace.overhead_s"] = tracer.wall - t["untraced"]
    if run.w.name == "corpus":
        metrics["checkpoint.write_mb"] = t["written"] / 1e6
        metrics["checkpoint.write_amp"] = t["written"] / run.w.input_bytes
    return {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: no program sources under {host.ROOT}", file=sys.stderr)
        return 2
    settings = host.fit_host()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace_on = bool(args.trace)
    event_dir = os.path.join(host.WORK, "trace", f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = {}
    if trace_on:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    import pyspark  # noqa: F401  (import cost belongs to set-up)

    spark = host.start_session(conf)
    setup_s = host.process_age_s()

    try:
        workload = WORKLOADS[args.workload](args.seed)
        workload.prepare(spark)
        run = Run(workload)
        with host.RssSampler(host.jvm_pid()) as rss:
            cold, _ = run.one_pass(lambda: workload.run(spark), "cold pass")
            warmup = []
            for i in range(WARMUP_PASSES):
                _drop_cached_blocks(spark)
                wall, _ = run.one_pass(lambda: workload.run(spark), f"warm-up pass {i + 1}")
                warmup.append(wall)
            warm: list[float] = []
            run.cpu.clear()
            t_measure = time.monotonic()
            while True:
                _drop_cached_blocks(spark)
                wall, _ = run.one_pass(lambda: workload.run(spark), f"warm pass {len(warm) + 1}")
                if wall is not None:
                    warm.append(wall)
                if time.monotonic() - t_measure >= args.seconds:
                    break
            traced = None
            if trace_on and warm:
                _drop_cached_blocks(spark)
                traced = _traced(run, spark, event_dir, warm)
    finally:
        host.stop_session(spark)

    if cold is None or not warm:
        print("perfbench: no successful pass to report", file=sys.stderr)
        for p in run.problems:
            print(p, file=sys.stderr)
        return 1
    pass_s = statistics.median(warm)
    e2e = {
        "files_per_s": workload.rows / pass_s,
        "pass_s": pass_s,
        "pass_cpu_s": statistics.median(run.cpu[: len(warm)]),
        "cold_s": cold,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    units = dict(END_TO_END)

    print(f"workload {args.workload} seed {args.seed}: {workload.rows} input rows, "
          f"{len(warm)} warm passes in {args.seconds:g} s, local[{host.SLOTS}]")
    for k, v in settings.items():
        print(f"  setting {k}={v}")
    for k, v in e2e.items():
        print(f"  {k:<12} {v:12.4f} {units[k]}")
    print(f"  {'pass_s':<12} upper {_upper_percentile(warm)}; "
          f"samples {', '.join(f'{x:.3f}' for x in warm)}; uncounted warm-up "
          f"{', '.join('failed' if x is None else f'{x:.3f}' for x in warmup)}")
    for k in ("recall", "precision"):
        v = run.quality.get(k)
        print(f"  {k:<12} {v:12.4f} fraction" if v is not None
              else f"  {k:<12}          n/a (pipeline workloads only)")
    print(f"  {'failed_frac':<12} {run.failed / run.attempted:12.4f} fraction "
          f"({run.failed} of {run.attempted} passes)")
    for p in run.problems:
        print(f"  problem: {p}")

    if trace_on:
        if traced is None:
            print("perfbench: traced pass did not run", file=sys.stderr)
            return 1
        metrics = _per_layer(run, traced, event_dir)
        for k, m in metrics.items():
            print(f"  {k:<36} {m['value']:14.4f} {m['unit']}")
        tracer = traced["tracer"]
        if traced["ok"]:
            print(f"  layer spans cover {1 - tracer.pass_self_s() / tracer.wall:.4f} "
                  f"of the traced pass ({tracer.wall:.3f} s)")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

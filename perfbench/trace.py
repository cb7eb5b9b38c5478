"""Traced pass: layer spans recorded around the program's public layer
functions, plus per-layer task metrics read back from the Spark event log.

The program is not modified.  ``install`` swaps the layer functions that
``run_pipeline`` looks up by name for wrappers that

1. move the *layer cursor*: close the open layer span and open the next
   one, and set the Spark job group to the layer name, so every job
   started until the next boundary -- inside the layer function or in
   ``run_pipeline``'s own body -- is attributed to that layer;
2. materialize the layer's output eagerly (``localCheckpoint``), so the
   work of a layer runs inside its own span instead of folding into a
   later layer's job;
3. keep the outputs, which are counted after the pass has ended (under
   the job group ``trace.count``, outside every span).

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

LAYERS = ("ingest", "signatures", "lsh", "verify", "components", "repsplit", "groups")
GENERIC = (
    ("wall_s", "s"),
    ("core_s", "s"),
    ("idle_frac", "fraction"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("py_mb", "MB"),
    ("py_s", "s"),
    ("failed_tasks", "count"),
)
COUNTS = {
    "ingest": (("rows", "count"),),
    "signatures": (("reps", "count"), ("chars", "count")),
    "lsh": (("band_rows", "count"), ("pairs", "count"), ("salted_buckets", "count")),
    "verify": (("edges", "count"), ("failures", "count"), ("edge_ratio", "fraction")),
    # route: 1 = driver union-find, 2 = distributed label propagation
    "components": (("nodes", "count"), ("max_component", "count"), ("route", "code")),
    "repsplit": (("oversized", "count"), ("subgroups", "count")),
    "groups": (("rows", "count"),),
}
CHECKPOINT = (("wall_s", "s"), ("write_mb", "MB"), ("write_amp", "ratio"))
QUERY_GENERIC = (("wall_s", "s"), ("core_s", "s"), ("shuffle_mb", "MB"))
PASS = (("pass.self_s", "s"), ("trace.overhead_s", "s"))
PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"
COUNT_GROUP = "trace.count"


def per_layer_spec(query_names) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in reporting order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.{m}", u) for m, u in GENERIC]
        out += [(f"{layer}.{m}", u) for m, u in COUNTS[layer]]
    out += [(f"checkpoint.{m}", u) for m, u in CHECKPOINT]
    for q in query_names:
        out += [(f"queries.{q}.{m}", u) for m, u in QUERY_GENERIC]
    return out + list(PASS)


class Tracer:
    """Spans of one traced pass, with a cursor over the layer spans."""

    def __init__(self, spark, pass_id: str):
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: list[dict] = []
        self.kept: dict = {}
        self._pass = None
        self._open = None
        self.wall = None

    def _span(self, name: str, parent: str | None) -> dict:
        span = {"name": name, "start": time.time(), "end": None,
                "parent": parent, "pass": self.pass_id}
        self.spans.append(span)
        return span

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(name, f"perfbench {name}", False)

    def begin(self, first_layer: str | None = None) -> None:
        self._pass = self._span("pass", None)
        self._group("pass")
        if first_layer:
            self.enter(first_layer)

    def enter(self, layer: str | None) -> None:
        """Close the open layer span and open *layer* (None: none)."""
        if self._open is not None:
            if self._open["name"] == layer:
                return
            self._open["end"] = time.time()
        self._open = self._span(layer, "pass") if layer else None
        self._group(layer or "pass")

    def end(self) -> None:
        self.enter(None)
        self._pass["end"] = time.time()
        self._group(COUNT_GROUP)
        self.wall = self._pass["end"] - self._pass["start"]

    def pass_self_s(self) -> float:
        """Pass duration minus the time its layer spans cover."""
        p = self._pass
        covered, edge = 0.0, p["start"]
        layers = [s for s in self.spans if s["parent"] == "pass"]
        for s in sorted(layers, key=lambda s: s["start"]):
            lo, hi = max(s["start"], edge), min(s["end"], p["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        return (p["end"] - p["start"]) - covered


def _eager(df):
    return df.localCheckpoint(eager=True)


@contextlib.contextmanager
def install(tracer: Tracer):
    """Wrap the layer functions run_pipeline calls, for one traced pass."""
    from photo_dedup_spark import pipeline
    from photo_dedup_spark.operators import lsh

    t, kept = tracer, tracer.kept
    orig = {
        (pipeline, "ingest"): pipeline.ingest,
        (lsh, "explode_bands"): lsh.explode_bands,
        (lsh, "candidate_pairs"): lsh.candidate_pairs,
        (pipeline, "verify_pairs"): pipeline.verify_pairs,
        (pipeline, "connected_components"): pipeline.connected_components,
        (pipeline, "rep_verify_split"): pipeline.rep_verify_split,
        (pipeline, "keep_selection"): pipeline.keep_selection,
    }

    def ingest(files, cfg, *a, **k):
        t.enter("ingest")
        docs, m = orig[(pipeline, "ingest")](files, cfg, *a, **k)
        kept["docs"] = docs = _eager(docs)
        # keys + signature UDF share the next materialization
        t.enter("signatures")
        return docs, m

    def explode_bands(signed, cfg, *a, **k):
        # `signed` is run_pipeline's own lazy checkpoint: an action on
        # that very frame materializes it for every later consumer
        signed.count()
        kept["signed"] = signed
        t.enter("lsh")
        return orig[(lsh, "explode_bands")](signed, cfg, *a, **k)

    def candidate_pairs(banded, cfg, *a, **k):
        t.enter("lsh")
        pairs, stats = orig[(lsh, "candidate_pairs")](banded, cfg, *a, **k)
        kept.update(banded=banded, pairs=(pairs := _eager(pairs)), bucket_stats=stats)
        return pairs, stats

    def verify_pairs(pairs, docs, cfg, *a, failure_counter=None, **k):
        t.enter("verify")
        if failure_counter is None:
            failure_counter = t.sc.accumulator(0)
        out = orig[(pipeline, "verify_pairs")](
            pairs, docs, cfg, *a, failure_counter=failure_counter, **k
        )
        kept.update(verified=(out := _eager(out)), failures=failure_counter)
        return out

    def connected_components(nodes, edges, cfg, *a, **k):
        t.enter("components")
        labels, m = orig[(pipeline, "connected_components")](nodes, edges, cfg, *a, **k)
        kept.update(comp_labels=(labels := _eager(labels)), cc=m, cfg=cfg)
        return labels, m

    def rep_verify_split(comp_labels, signed, cfg, *a, **k):
        t.enter("repsplit")
        out = orig[(pipeline, "rep_verify_split")](comp_labels, signed, cfg, *a, **k)
        kept["splits"] = out = _eager(out)
        return out

    def keep_selection(members, *a, **k):
        t.enter("groups")
        kept["groups"] = out = _eager(orig[(pipeline, "keep_selection")](members, *a, **k))
        t.enter(None)
        return out

    wrappers = {
        "ingest": ingest,
        "explode_bands": explode_bands,
        "candidate_pairs": candidate_pairs,
        "verify_pairs": verify_pairs,
        "connected_components": connected_components,
        "rep_verify_split": rep_verify_split,
        "keep_selection": keep_selection,
    }
    for mod, name in orig:
        setattr(mod, name, wrappers[name])
    try:
        yield tracer
    finally:
        for (mod, name), fn in orig.items():
            setattr(mod, name, fn)


def layer_counts(kept: dict) -> dict[str, float]:
    """Counts at each layer boundary, from the outputs the traced pass
    kept (run after the pass, under the ``trace.count`` job group)."""
    from pyspark.sql import functions as F

    from photo_dedup_spark.operators.repsplit import oversized_component_count

    docs, signed = kept["docs"], kept["signed"]
    verified = kept["verified"]
    attempts = verified.count()
    edges = verified.where(F.col("is_edge")).count()
    cc = kept["cc"]
    chars = (
        signed.select("doc_id")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .agg(F.sum("n_chars"))
        .collect()[0][0]
    )
    max_comp = cc.get("cc_max_component")
    if max_comp is None:
        max_comp = (
            kept["comp_labels"].groupBy("cluster_id").count().agg(F.max("count")).collect()[0][0]
        )
    return {
        "ingest.rows": docs.count(),
        "signatures.reps": signed.count(),
        "signatures.chars": chars or 0,
        "lsh.band_rows": kept["banded"].count(),
        "lsh.pairs": kept["pairs"].count(),
        "lsh.salted_buckets": kept["bucket_stats"].where(F.col("route") == "salted").count(),
        "verify.edges": edges,
        "verify.failures": kept["failures"].value,
        "verify.edge_ratio": edges / attempts if attempts else 0.0,
        "components.nodes": kept["comp_labels"].count(),
        "components.max_component": max_comp or 0,
        "components.route": 1 if cc.get("cc_mode") == "driver-union-find" else 2,
        "repsplit.oversized": oversized_component_count(kept["comp_labels"], kept["cfg"]),
        "repsplit.subgroups": kept["splits"].select("cluster_id").distinct().count(),
        "groups.rows": kept["groups"].count(),
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def group_metrics(event_log: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per Spark job group, from an uncompressed
    event log.  Stages are mapped to the group in the properties they
    were submitted with."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[g or ""]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = g or ""
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get(ev["Stage ID"], "")]
                info = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["failed_tasks"] += 1 if info.get("Failed") else 0
                g["core_s"] += _num(tm.get("Executor Run Time")) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_mb"] += _num(sw.get("Shuffle Bytes Written")) / 1e6
                g["spill_mb"] += _num(tm.get("Disk Bytes Spilled")) / 1e6
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == PY_SENT:
                        g["py_mb"] += _num(acc.get("Update")) / 1e6
                    elif acc.get("Name") == PY_TIME:
                        g["py_s"] += _num(acc.get("Update")) / 1e3
    return {k: dict(v) for k, v in out.items()}


def event_log_file(log_dir: str) -> str:
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def layer_metrics(spans: list[dict], groups: dict, slots: int) -> dict[str, float]:
    """Generic metrics per layer span name: wall from the spans, the
    rest from the job group of the same name."""
    wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            wall[s["name"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for name in set(wall) | set(groups):
        g = groups.get(name, {})
        out[f"{name}.wall_s"] = wall.get(name, 0.0)
        for key in ("core_s", "jobs", "tasks", "shuffle_mb", "spill_mb",
                    "py_mb", "py_s", "failed_tasks"):
            out[f"{name}.{key}"] = g.get(key, 0.0)
        w = wall.get(name, 0.0)
        out[f"{name}.idle_frac"] = 1 - g.get("core_s", 0.0) / (w * slots) if w else 0.0
    return out


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)

"""Span tracing recorded from the benchmark's side of the API.

``Tracer.instrument()`` wraps the public functions and methods the
linkage entry points call (checkpoint store, fingerprinting, clustering,
the df-map build, the pipeline drivers) so each call records a span:
name, layer, start, end, parent and run id. Spans stay in memory and are
written out once, at the end of the run. While a span is open, the
Spark job group is set to its id, so the Spark event log attributes
every job to the innermost open span.

Layers are the repository's module layers: a checkpoint commit of stage
``scores`` belongs to ``scoring`` (the stage's lazy plan runs inside the
commit), fingerprinting / loads / snapshot expiry to ``checkpoint``.
Inside an incremental merge most stage work runs in Spark actions of
``incremental_update`` itself, outside any wrapped call, so the merge's
time is split by the phase clock it returns (``stats["phase_wall_s"]``)
instead of by its child spans (``effective_spans``).
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

#: checkpoint stage → the layer whose plan a commit of that stage runs
STAGE_LAYER = {
    "signatures": "signatures",
    "blocks": "blocking",
    "candidate_pairs": "candidate_pairs",
    "scores": "scoring",
    "components": "clustering",
}

#: layers that run Spark jobs and get ``spark.<layer>.*`` metrics
SPARK_LAYERS = (
    "signatures", "blocking", "candidate_pairs", "scoring", "clustering",
    "checkpoint", "merge", "dedup", "ann",
)

#: phase of ``incremental_update``'s ``stats["phase_wall_s"]`` → layer.
#: The program's own ``blocking`` phase holds both the MinHash key
#: generation and the candidate-pair join (one Spark action); the
#: ``commit_*`` phases run the lazy plan of the stage they append, so
#: ``commit_scores`` is where the new pairs are scored. Phases not
#: listed count as merge glue.
MERGE_PHASE_LAYER = {
    "wal": "checkpoint",
    "signatures": "signatures",
    "blocking": "blocking",
    "commit_scores": "scoring",
    "commit_candidate_pairs": "candidate_pairs",
    "commit_blocks": "blocking",
    "commit_signatures": "signatures",
    "components": "clustering",
    "retention": "checkpoint",
}


def _dir_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    leave the program unwrapped."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        #: wall seconds spent inside span bookkeeping (job-group calls,
        #: directory scans for written bytes)
        self.bookkeeping_s = 0.0
        #: span clock (perf_counter) + offset = Unix time, to place
        #: Spark event timestamps on the span clock
        self.unix_offset = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": 0.0,
            "end": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        gid = None if sid is None else f"span-{self.run_id}-{sid}"
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def span_of_group(self, group: str | None) -> dict | None:
        prefix = f"span-{self.run_id}-"
        if not group or not group.startswith(prefix):
            return None
        return self.spans[int(group[len(prefix):])]

    # -- instrumentation -------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _rebind(self, orig, wrapper) -> None:
        """Replace every module-level binding of ``orig`` inside the
        package (``from x import f`` copies the reference)."""
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("poi_name_matching_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patch(mod, attr, wrapper)

    def wrap_function(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)

        self._rebind(fn, traced)

    def instrument(self) -> None:
        """Wrap the layer boundaries (idempotent per tracer)."""
        if not self.enabled or self._undo:
            return
        # loaded so that its copies of the wrapped functions get rebound
        import poi_name_matching_spark.streaming.pipeline  # noqa: F401
        from poi_name_matching_spark.operators import clustering, scoring
        from poi_name_matching_spark.plans import incremental, pipeline
        from poi_name_matching_spark.sources import checkpoint as ck

        tracer = self
        cls = ck.StageCheckpoint

        orig_goc = cls.get_or_compute

        @functools.wraps(orig_goc)
        def get_or_compute(this, spark, stage, *a, **kw):
            with tracer.span(f"stage.{stage}", STAGE_LAYER.get(stage, "checkpoint"),
                             stage=stage) as rec:
                df, hit = orig_goc(this, spark, stage, *a, **kw)
                rec["cache_hit"] = bool(hit)
                return df, hit

        self._patch(cls, "get_or_compute", get_or_compute)

        def commit(method: str):
            orig = getattr(cls, method)

            @functools.wraps(orig)
            def traced(this, stage, *a, **kw):
                t0 = time.perf_counter()
                before_rows = (this.read_manifest(stage) or {}).get("rows", 0)
                before_b = _dir_bytes(this._dir(stage) / "data.parquet")
                tracer.bookkeeping_s += time.perf_counter() - t0
                with tracer.span(f"checkpoint.{method}",
                                 STAGE_LAYER.get(stage, "checkpoint"),
                                 stage=stage) as rec:
                    out = orig(this, stage, *a, **kw)
                t0 = time.perf_counter()
                after_rows = (this.read_manifest(stage) or {}).get("rows", 0)
                if method == "write":
                    rec["rows_out"] = after_rows
                    rec["bytes_written"] = _dir_bytes(this._dir(stage) / "data.parquet")
                else:
                    rec["rows_out"] = after_rows - before_rows
                    rec["bytes_written"] = max(
                        0, _dir_bytes(this._dir(stage) / "data.parquet") - before_b
                    )
                tracer.bookkeeping_s += time.perf_counter() - t0
                return out

            self._patch(cls, method, traced)

        commit("write")
        commit("append")

        for method in ("load", "expire_snapshots"):
            orig = getattr(cls, method)
            label = "load" if method == "load" else "expire"

            def make(orig=orig, label=label):
                @functools.wraps(orig)
                def traced(this, *a, **kw):
                    with tracer.span(f"checkpoint.{label}", "checkpoint"):
                        return orig(this, *a, **kw)

                return traced

            self._patch(cls, method, make())

        self.wrap_function(ck.stage_fingerprint, "checkpoint.fingerprint", "checkpoint")
        self.wrap_function(clustering.incremental_components,
                           "clustering.incremental_components", "clustering")
        self.wrap_function(clustering.components, "clustering.components", "clustering")
        self.wrap_function(scoring.broadcast_df_map, "scoring.df_map", "scoring")
        orig_incr = incremental.incremental_update

        @functools.wraps(orig_incr)
        def incremental_update(*a, **kw):
            with tracer.span("merge", "merge") as rec:
                res = orig_incr(*a, **kw)
                rec["phase_wall_s"] = dict(res.stats.get("phase_wall_s", {}))
                return res

        self._rebind(orig_incr, incremental_update)
        self.wrap_function(pipeline.run_pipeline, "pipeline", "pipeline")

    def uninstrument(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- output ----------------------------------------------------------
    def write(self, path: Path) -> None:
        path.write_text(json.dumps({"unix_offset": self.unix_offset, "spans": self.spans}))


# ---------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: dict[int, list[dict]]) -> float:
    """A span's duration minus the part its direct children cover."""
    covered = union_s([(c["start"], c["end"]) for c in kids.get(span["id"], [])])
    return span["end"] - span["start"] - covered


def layer_busy(spans: list[dict], layer: str) -> float:
    return union_s([(s["start"], s["end"]) for s in spans if s["layer"] == layer])


def name_busy(spans: list[dict], name: str) -> float:
    return union_s([(s["start"], s["end"]) for s in spans if s["name"] == name])


def effective_spans(spans: list[dict]) -> list[dict]:
    """``spans`` with the interior of every merge span replaced by its
    phases: the merge's descendants are dropped and each phase of its
    ``phase_wall_s`` becomes a child span ``merge.<phase>`` in the
    phase's layer. The program reports phase durations only; they run
    back to back, so they are laid end to end, anchored where the
    components commit (the last call of the components phase) ends.
    What of the merge span no phase covers is merge glue."""
    by_id = {s["id"]: s for s in spans}

    def merge_of(s: dict) -> dict | None:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == "merge":
                return by_id[p]
            p = by_id[p]["parent"]
        return None

    out, inner = [], {}
    for s in spans:
        m = merge_of(s)
        if m is None:
            out.append(s)
        else:
            inner.setdefault(m["id"], []).append(s)
    next_id = len(spans)
    for m in [s for s in out if s["name"] == "merge" and s.get("phase_wall_s")]:
        phases = list(m["phase_wall_s"].items())
        names = [n for n, _ in phases]
        ends = [s["end"] for s in inner.get(m["id"], [])
                if s["name"] == "checkpoint.write" and s.get("stage") == "components"]
        if "components" not in names or not ends:
            continue  # no anchor: the merge stays one span
        t = max(ends) - sum(d for _, d in phases[: names.index("components") + 1])
        for name, d in phases:
            start, end = max(t, m["start"]), min(t + d, m["end"])
            t += d
            if end > start:
                out.append({"id": next_id, "name": f"merge.{name}",
                            "layer": MERGE_PHASE_LAYER.get(name, "merge"),
                            "parent": m["id"], "run_id": m["run_id"],
                            "start": start, "end": end})
                next_id += 1
    return out


def self_by_layer(spans: list[dict]) -> dict[str, float]:
    kids = children(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + self_time(s, kids)
    return out


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of every application log under ``log_dir`` — single-file
    logs and rolling ``eventlog_v2_*/events_<n>_*`` directories."""
    def order(f: Path):
        parts = f.name.split("_")
        n = int(parts[1]) if f.name.startswith("events_") and parts[1].isdigit() else 0
        return (str(f.parent), n)

    wanted = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
    events: list[dict] = []
    files = [f for f in log_dir.rglob("*") if f.is_file()
             and not f.name.startswith((".", "appstatus_"))]
    for f in sorted(files, key=order):
        with open(f) as fh:
            for line in fh:
                if line.startswith(wanted):
                    events.append(json.loads(line))
    return events


def spark_layer_metrics(events: list[dict], tracer: Tracer) -> dict[str, dict]:
    """Per layer: jobs, shuffle write MB, spill MB, GC share of task run
    time, executor CPU share of task run time, and task skew (max / median
    task duration) on the layer's longest stage. Jobs are attributed to
    the innermost open span via their job group; a job inside a merge
    goes to the merge phase open at its submission time (see
    ``effective_spans``), or to the merge itself when none is; jobs
    outside any span are not counted."""
    eff = effective_spans(tracer.spans)
    phases: dict[int, list[dict]] = {}
    for s in eff:
        if s["name"].startswith("merge."):
            phases.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in tracer.spans}

    def layer_of(span: dict, submitted_ms: float) -> str:
        s = span
        while s["name"] != "merge" and s["parent"] is not None:
            s = by_id[s["parent"]]
        if s["name"] != "merge":
            return span["layer"]
        t = submitted_ms / 1e3 - tracer.unix_offset
        return next((p["layer"] for p in phases.get(s["id"], [])
                     if p["start"] <= t < p["end"]), "merge")

    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        span = tracer.span_of_group(props.get("spark.jobGroup.id"))
        if span is None:
            continue
        layer = layer_of(span, ev.get("Submission Time", 0))
        jobs[layer] = jobs.get(layer, 0) + 1
        for sid in ev.get("Stage IDs", []):
            stage_layer[sid] = layer
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        if sid in stage_layer:
            tasks.setdefault(sid, []).append(ev)
    out: dict[str, dict] = {}
    for layer in set(stage_layer.values()):
        run_ms = cpu_ns = gc_ms = shuffle_b = spill_b = 0
        longest, longest_wall = None, -1.0
        for sid, evs in tasks.items():
            if stage_layer[sid] != layer:
                continue
            launch = min(e["Task Info"]["Launch Time"] for e in evs)
            finish = max(e["Task Info"]["Finish Time"] for e in evs)
            if finish - launch > longest_wall:
                longest, longest_wall = sid, finish - launch
            for e in evs:
                m = e.get("Task Metrics") or {}
                run_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                spill_b += m.get("Disk Bytes Spilled", 0)
                shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
        skew = 0.0
        if longest is not None:
            durs = [
                e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                for e in tasks[longest]
            ]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        out[layer] = {
            "jobs": jobs.get(layer, 0),
            "shuffle_write_mb": shuffle_b / 1e6,
            "spill_mb": spill_b / 1e6,
            "gc_share": gc_ms / run_ms if run_ms else 0.0,
            "cpu_share": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
            "task_skew": skew,
            "task_run_s": run_ms / 1e3,
        }
    for layer, n in jobs.items():
        out.setdefault(layer, {"jobs": n})
    return out

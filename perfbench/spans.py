"""Spans around the calls into each engine layer, recorded from outside.

A :class:`Tracer` replaces public functions and methods of the engine
modules with thin wrappers. While the tracer is active each call records a
span (name, start, end, parent span) and, for some layers, counts taken
from the call's arguments or result. Spans stay in memory until the run
ends. While inactive, the wrappers call straight through.

The wrapped seams are the ones the engine's own modules call each other
through, so the same function is patched in every module that imported it
by name (``pipeline.apply_batch`` is the object ``merge.apply_batch`` was
when ``pipeline`` imported it).
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.active = False
        #: workload phase the next spans and counts belong to
        self.phase = ""
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.maxima: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "phase": self.phase, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        """Add ``n`` to counter ``<phase>.<name>``."""
        if self.active:
            self.counts[f"{self.phase}.{name}"] += n

    def high(self, name: str, v: float) -> None:
        """Raise gauge ``<phase>.<name>`` to ``v`` if higher."""
        if self.active:
            key = f"{self.phase}.{name}"
            self.maxima[key] = max(self.maxima[key], v)

    # -- patching ------------------------------------------------------------

    def wrap(self, owners: list, attr: str, name: str, after=None, error=None) -> None:
        """Wrap ``attr`` on every object in ``owners`` (modules or classes
        that hold the same function). ``after(result, args, kwargs)`` runs
        inside the span once the call returns; ``error(exc)`` when it
        raises."""
        original = getattr(owners[0], attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name):
                try:
                    result = original(*args, **kwargs)
                except Exception as exc:
                    if error is not None:
                        error(exc)
                    raise
                if after is not None:
                    after(result, args, kwargs)
                return result

        for owner in owners:
            if getattr(owner, attr) is not original:
                raise RuntimeError(f"{owner!r}.{attr} is not the wrapped function")
        for owner in owners:
            self._patched.append((owner, attr, original))
            setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def install_engine(self) -> None:
        """Wrap the engine layers the per-layer metrics are built from."""
        from trde703_openfoodfacts_etl_spark import schema
        from trde703_openfoodfacts_etl_spark.operators import merge
        from trde703_openfoodfacts_etl_spark.sources import fileio, lake
        from trde703_openfoodfacts_etl_spark.streaming import pipeline

        def after_apply(m, _a, _k):
            if m.get("skipped_replay"):
                return
            self.count("merge.events_in", m.get("events_in", 0))
            self.count("merge.gated_out", m.get("gated_out", 0))
            self.count("merge.rows_written", m.get("rows_written", 0))
            self.count("merge.buckets_rewritten", m.get("buckets_rewritten", 0))
            for phase, sec in (m.get("phase_sec") or {}).items():
                self.count(f"merge.{phase}_s", sec)

        def after_commit(new, args, _k):
            table = args[0]
            self.count("lake.commits")
            files = [len(b["files"]) for b in new["buckets"].values()]
            self.high("lake.live_files", sum(files))
            deltas = [len(b["files"]) for b in new["buckets"].values() if b.get("delta")]
            self.high("lake.delta_depth_max", max(deltas, default=0))
            path = table._snap_path(new["snapshot_id"])
            self.high("lake.manifest_bytes", os.path.getsize(path))

        def on_commit_error(exc):
            if isinstance(exc, lake.SnapshotConflict):
                self.count("lake.commit_conflicts")

        def after_read_batch(_r, args, _k):
            self.count("pipeline.segments", len(args[1]))

        self.wrap([merge, pipeline], "apply_batch", "merge.apply_batch", after=after_apply)
        self.wrap([pipeline], "read_batch", "pipeline.read_batch", after=after_read_batch)
        self.wrap([pipeline], "arrow_schema_of_segment", "pipeline.footer_read")
        self.wrap([schema, pipeline, lake], "merge_schemas", "schema.merge_schemas")
        T = lake.LakeTable
        self.wrap([T], "snapshot", "lake.snapshot")
        self.wrap([T], "evolve_schema", "lake.evolve_schema")
        self.wrap([T], "read", "lake.read")
        self.wrap([T], "write_bucket_files", "lake.write_bucket_files")
        self.wrap([T], "commit", "lake.commit", after=after_commit, error=on_commit_error)
        self.wrap([T], "compact", "lake.compact")
        self.wrap([T], "vacuum", "lake.vacuum")
        IO = fileio.LocalManifestIO
        self.wrap([IO], "parquet_stats", "fileio.parquet_stats")
        self.wrap([IO], "write_json_if_absent", "fileio.write_json")
        self.wrap([IO], "list_names", "fileio.list_names")

    # -- roll-up -------------------------------------------------------------

    def totals(self) -> dict[str, dict[str, float]]:
        """Per ``<phase>.<span name>``: call count, summed duration and
        summed self time."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            key = f"{s['phase']}.{s['name']}"
            t = out.setdefault(key, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["total_s"] += s["end"] - s["start"]
            t["self_s"] += selfs[s["id"]]
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by its
    direct child spans (children may overlap each other; the union counts
    once). Spans still open (``end`` None) are ignored."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[int, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        lo, hi = s["start"], s["end"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out

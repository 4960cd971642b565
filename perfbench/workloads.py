"""The benchmark workloads: ``cdc`` (a backfill phase, then a tail phase)
and ``analytics``.

Each workload is one closed loop with one client: an operation (a
microbatch apply, an analytic read, a compaction, a query) starts only
after the previous one returned. ``setup`` prepares state and warms the
JVM, codegen and the Python workers; ``measure`` runs the operations;
``check`` compares the outputs with an independent reference outside every
timer; ``metrics`` turns the samples into end-to-end numbers.

Every workload reports two common numbers, each as wall time and as CPU
time: ``work``, its bulk unit of work, and ``step``, one step of its loop
(see README.md).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import traceback

from . import check, stats
from .stats import median

#: CDC WAL, 1,000 events per segment. The backfill phase replays the
#: ``base`` segments into empty lakes as ``base_batches`` large microbatches;
#: the tail phase then applies the following segments one per microbatch.
#: The tail segments carry the v2 schema (added column, widened key), so the
#: first tail batch evolves the lake schema.
CDC = {
    "events_per_segment": 1_000, "base": 40, "base_batches": 2, "tail": 10,
    "buckets": 16, "auto_compact_after": 4, "auto_vacuum_every": 4,
}
#: warm-up WAL (pure-Python generator, v2 schema), replayed before the
#: measurement
WARM = {"events": 4_000, "convs": 200}

#: registry queries of the analytics workload: at least one per operator
#: and function family (see README.md)
QUERIES = [
    "q23_normalize",
    "q25_simhash",
    "q26_lang_id",
    "q35_percentiles",
    "q37_cosine_neardup",
    "q38_asof_join",
]


def phase_of(job_group: str) -> str:
    """Workload phase of a Spark job group: ``<phase>:<mode>:<batch>:<op>``
    for CDC operations, ``q:<name>`` for queries."""
    head = job_group.split(":", 1)[0]
    return "query" if head == "q" else head


class Run:
    """Operation counters of one benchmark run."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        #: CPU seconds of the last operation (this process, the JVM, the Python workers)
        self.last_cpu: float | None = None

    def op(self, group: str, fn):
        """Run one operation under Spark job group ``group``; return its
        wall time, or ``None`` if it raised (counted as failed). Its CPU
        time is left in ``last_cpu``."""
        self.spark.sparkContext.setJobGroup(group, group)
        self.attempted += 1
        self.last_cpu = None
        c0 = stats.cpu_seconds()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                self.tracer.phase = phase_of(group)
                with self.tracer.span("op." + group.rsplit(":", 1)[-1]):
                    fn()
            else:
                fn()
        except Exception:  # noqa: BLE001 — one failed operation must not end the run
            self.failed += 1
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        self.last_cpu = stats.cpu_seconds() - c0
        return wall

    def mismatch(self, what: str) -> None:
        """A correctness check failed: counted as a failed operation."""
        self.attempted += 1
        self.failed += 1
        self.mismatches.append(what)


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _ok(walls: list) -> list[float]:
    return [w for w in walls if w is not None]


def _new_lake(run: Run, name: str, buckets: int):
    from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
    from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

    root = os.path.join(run.work, name)
    shutil.rmtree(root, ignore_errors=True)
    return LakeTable.create(run.spark, root, TRANSCRIPT_SCHEMA, num_buckets=buckets)


def _apply(lake, wal: str, mode: str, files: int, **maintenance):
    """One ``run_incremental`` microbatch of the next ``files`` WAL files."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    return lambda: run_incremental(
        lake, wal, segments_per_batch=files, max_batches=1, mode=mode, **maintenance,
    )


def _read_stats(lake):
    """The analytic read that follows each tail commit."""
    from trde703_openfoodfacts_etl_spark.plans.transcript_analytics import conversation_stats

    return lambda: conversation_stats(lake.read()).collect()


class Cdc:
    """Backfill phase: the base segments replayed into empty lakes, in COW
    and then in MOR mode, as a few large microbatches, then one full MOR
    compaction. Tail phase: from those two lakes, one segment per
    microbatch through ``run_incremental`` with the maintenance a
    continuous deployment runs, each commit followed by an analytic read."""

    name = "cdc"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.backfills: list[dict] = []
        self.steps: list[dict] = []
        self.lakes: dict = {}
        self.tail_batches = 0

    # -- inputs --------------------------------------------------------------

    def _wal(self, cache: str) -> str:
        """The WAL from ``generate_segments_spark``, cached per (seed, shape)."""
        from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments_spark

        c = CDC
        n_seg, v2 = c["base"] + c["tail"], c["base"]
        out = os.path.join(cache, f"wal_s{self.run.seed}_{c['events_per_segment']}x{n_seg}_v{v2}")
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            shutil.rmtree(out, ignore_errors=True)
            generate_segments_spark(
                self.run.spark, out, n_events=c["events_per_segment"] * n_seg,
                n_convs=1000, n_segments=n_seg, seed=self.run.seed, v2_from_segment=v2,
            )
        return out

    def _files(self, first: int, stop: int) -> int:
        """Number of WAL files in segments ``first`` to ``stop - 1`` (a
        Spark writer may split one segment over several files)."""
        return sum(len(glob.glob(os.path.join(self.wal, f"segment={s}", "*.parquet")))
                   for s in range(first, stop))

    # -- phases --------------------------------------------------------------

    def setup(self, cache: str) -> dict:
        from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments

        wal = os.path.join(self.run.work, "warm_wal")
        generate_segments(wal, n_convs=WARM["convs"], n_events=WARM["events"], n_segments=1,
                          seed=self.run.seed, v2_from_segment=0)
        # the warm-up applies a small v2 WAL (schema evolution included) in
        # each mode and reads it back. It comes from the pure-Python
        # generator, so the JVM's cold start (JIT, about 15 s on 4 cores) is
        # paid here, where it is charged to setup. The COW merge path and
        # the compaction are first run inside the measured backfill: warming
        # them too would cost more run time than the run-time budget allows.
        t0 = time.perf_counter()
        for mode in ("cow", "mor"):
            lake = _new_lake(self.run, f"warm_{mode}", CDC["buckets"])
            self.run.op(f"warm:{mode}:0:apply", _apply(lake, wal, mode, 1))
            self.run.op(f"warm:{mode}:0:read", _read_stats(lake))
        warm_s = time.perf_counter() - t0
        self.wal = self._wal(cache)
        return {"warmup_s": warm_s}

    def _backfill(self) -> dict:
        run, c = self.run, CDC
        per = c["base"] // c["base_batches"]
        rec: dict = {}
        c0 = stats.cpu_seconds()
        t0 = time.perf_counter()
        for mode in ("cow", "mor"):
            lake = _new_lake(run, f"cdc_{mode}", c["buckets"])
            walls = [
                run.op(f"backfill:{mode}:{b}:apply",
                       _apply(lake, self.wal, mode, self._files(b * per, (b + 1) * per)))
                for b in range(c["base_batches"])
            ]
            rec[f"{mode}_apply_s"] = sum(_ok(walls))
            self.lakes[mode] = lake
        rec["compact_s"] = run.op("backfill:mor:0:compact", self.lakes["mor"].compact)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = stats.cpu_seconds() - c0
        return rec

    def measure(self, seconds: float) -> dict:
        """The backfill phase, then tail steps (a COW and a MOR microbatch,
        each followed by the read) until ``seconds`` have passed since the
        start; at least one step."""
        run, c = self.run, CDC
        deadline = time.perf_counter() + seconds
        backfill = self._backfill()
        maint = {
            "cow": {"auto_vacuum_every": c["auto_vacuum_every"]},
            "mor": {"auto_vacuum_every": c["auto_vacuum_every"],
                    "auto_compact_after": c["auto_compact_after"]},
        }
        steps: list[dict] = []
        while len(steps) < c["tail"] and (not steps or time.perf_counter() < deadline):
            b, rec = len(steps), {}
            files = self._files(c["base"] + b, c["base"] + b + 1)
            for mode, lake in self.lakes.items():
                rec[f"{mode}_batch_s"] = run.op(
                    f"tail:{mode}:{b}:apply", _apply(lake, self.wal, mode, files, **maint[mode]))
                rec[f"{mode}_batch_cpu"] = run.last_cpu
                rec[f"{mode}_read_s"] = run.op(f"tail:{mode}:{b}:read", _read_stats(lake))
                rec[f"{mode}_read_cpu"] = run.last_cpu
            steps.append(rec)
        self.backfills.append(backfill)
        self.steps.extend(steps)
        self.tail_batches = len(steps)
        return {"backfill": backfill, "steps": steps}

    @staticmethod
    def _p50(steps: list[dict], key: str) -> float | None:
        return median(_ok([s[key] for s in steps]))

    def work_s(self, sample: dict, cpu: bool = False) -> float:
        return sample["backfill"]["cpu_s" if cpu else "wall_s"]

    def step_s(self, sample: dict, cpu: bool = False) -> float:
        """One tail step: the p50 of COW apply, COW read, MOR apply and MOR
        read, summed."""
        keys = ("cow_batch", "cow_read", "mor_batch", "mor_read")
        suffix = "_cpu" if cpu else "_s"
        return sum(self._p50(sample["steps"], k + suffix) or 0.0 for k in keys)

    def check(self) -> dict:
        n = CDC["base"] + self.tail_batches
        segs = [os.path.join(self.wal, f"segment={s}") for s in range(n)]
        return check.lakes_match_reference(self.run, self.lakes, segs)

    def metrics(self, checked: dict) -> dict:
        bf, st = self.backfills, self.steps
        events = CDC["events_per_segment"] * CDC["base"]
        out: dict = {
            "cow_events_per_s": (events / median([r["cow_apply_s"] for r in bf]), "events/s"),
            "mor_events_per_s": (events / median([r["mor_apply_s"] for r in bf]), "events/s"),
            "compact_s": (median(_ok([r["compact_s"] for r in bf])), "s"),
            "tail_batches": (len(st), "count"),
        }
        for mode in ("cow", "mor"):
            out[f"{mode}_batch_p50_s"] = (self._p50(st, f"{mode}_batch_s"), "s")
            t = stats.tail(_ok([s[f"{mode}_batch_s"] for s in st]))
            out[f"{mode}_batch_tail_s"] = (t["value"], "s", {"pct": t["pct"], "n": t["n"]})
            out[f"{mode}_read_p50_s"] = (self._p50(st, f"{mode}_read_s"), "s")
            rows = checked.get(f"{mode}_rows") or 0
            out[f"{mode}_bytes_per_row"] = (
                _dir_bytes(self.lakes[mode].root) / rows if rows else None, "B/row")
        return out


class Analytics:
    """The ``QUERIES`` subset of the registry over seeded tables, each
    query into the noop sink."""

    name = "analytics"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.walls: dict[str, list[float]] = {q: [] for q in QUERIES}

    def setup(self, cache: str) -> dict:
        from trde703_openfoodfacts_etl_spark.plans.analytics import REGISTRY

        from . import tables

        self.sf_dir = tables.write_tables(os.path.join(cache, f"tables_s{self.run.seed}"),
                                          self.run.seed)
        self.registry = {q: REGISTRY[q] for q in QUERIES}
        # the warm-up pass collects every query's result; the comparison
        # with the DuckDB oracle happens in check(), outside every timer
        self.results = {}
        t0 = time.perf_counter()
        for q, (fn, _sql) in self.registry.items():
            def collect(fn=fn, q=q):
                self.results[q] = fn(self.run.spark, self.sf_dir).toPandas()
            self.run.op(f"q:{q}", collect)
        return {"warmup_s": time.perf_counter() - t0}

    def measure(self, seconds: float) -> dict:
        """Passes over the query set while the next pass would still end
        within ``seconds``; at least one pass."""
        passes: list[dict] = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() + passes[-1]["pass_s"] < deadline:
            rec, cpu = {}, {}
            for q, (fn, _sql) in self.registry.items():
                def run_q(fn=fn):
                    fn(self.run.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                rec[q] = self.run.op(f"q:{q}", run_q)
                cpu[q] = self.run.last_cpu
            rec["pass_s"] = sum(_ok(list(rec.values())))
            rec["cpu"] = cpu
            passes.append(rec)
        for rec in passes:
            for q in QUERIES:
                if rec[q] is not None:
                    self.walls[q].append(rec[q])
        return {"passes": passes}

    @staticmethod
    def _per_query(passes: list[dict], cpu: bool) -> list[float]:
        def val(p, q):
            return p["cpu"][q] if cpu else p[q]
        return [m for q in QUERIES if (m := median(_ok([val(p, q) for p in passes]))) is not None]

    def work_s(self, sample: dict, cpu: bool = False) -> float:
        return sum(self._per_query(sample["passes"], cpu))

    def step_s(self, sample: dict, cpu: bool = False) -> float:
        """One query on average. (The median over six queries of different
        cost jumps between its two middle ones: 20 % spread in CPU time
        over ten runs.)"""
        per_query = self._per_query(sample["passes"], cpu)
        return sum(per_query) / len(per_query)

    def check(self) -> dict:
        return check.queries_match_oracle(self.run, self.registry, self.sf_dir, self.results)

    def metrics(self, checked: dict) -> dict:
        return {
            "query_suite_s": (sum(median(w) for w in self.walls.values() if w), "s"),
            "passes": (max(len(w) for w in self.walls.values()), "count"),
        }


WORKLOADS = {w.name: w for w in (Cdc, Analytics)}

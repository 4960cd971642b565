"""Correctness gates, run after the measurement and outside every timer.

- A lake's live state must equal an independent last-writer-wins reference
  built in DuckDB over the same WAL segments: ``row_number()`` per key over
  ``(coalesce(ts), lsn) DESC``, keep the first, drop deletes. Both sides are
  compared by row count plus an order-independent hash (the sum of DuckDB's
  row hashes), and the COW and MOR lakes must also match each other.
- Each analytics query must equal its ``oracle_sql()`` text run by DuckDB,
  compared with the row-sorted, dtype-canonical hash of
  ``scripts/full_correctness.py``.

Every mismatch is recorded on the run as a failed operation.
"""

from __future__ import annotations

import glob
import importlib.util
import os

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(con, relation: str, cols: list[str]) -> tuple[int, int]:
    def expr(c):
        if c == "ts":
            return "epoch_us(ts)"
        if c == "turn_idx":
            return "CAST(turn_idx AS BIGINT)"
        return c

    row = con.sql(
        f"SELECT count(*), coalesce(sum(CAST(hash({', '.join(expr(c) for c in cols)}) AS HUGEINT)), 0)"
        f" FROM {relation}"
    ).fetchone()
    return int(row[0]), int(row[1])


def lakes_match_reference(run, lakes: dict, segments: list[str]) -> dict:
    files = sorted(f for s in segments for f in glob.glob(os.path.join(s, "*.parquet")))
    con = duckdb.connect()
    out: dict = {}
    digests = {}
    ref = None
    for mode, lake in lakes.items():
        live = lake.read().toArrow()
        cols = list(live.column_names)
        con.register("live", live)
        digests[mode] = _digest(con, "live", cols)
        con.unregister("live")
        out[f"{mode}_rows"] = digests[mode][0]
        if ref is None:
            file_list = ", ".join(f"'{f}'" for f in files)
            con.execute(
                f"CREATE TEMP VIEW ref AS SELECT {', '.join(cols)} FROM ("
                "  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx"
                "     ORDER BY coalesce(ts, TIMESTAMP '1970-01-01') DESC, lsn DESC) AS rn"
                f"  FROM read_parquet([{file_list}], union_by_name = true, hive_partitioning = false)"
                ") WHERE rn = 1 AND op <> 'D'"
            )
            ref = _digest(con, "ref", cols)
        if digests[mode] != ref:
            run.mismatch(f"{mode} lake {digests[mode]} != LWW reference {ref}")
    modes = list(digests)
    if len(modes) == 2 and digests[modes[0]] != digests[modes[1]]:
        run.mismatch(f"{modes[0]} lake {digests[modes[0]]} != {modes[1]} lake {digests[modes[1]]}")
    con.close()
    return out


def _oracle_hash_helpers():
    spec = importlib.util.spec_from_file_location(
        "full_correctness", os.path.join(_ROOT, "scripts", "full_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon, mod._hash


def queries_match_oracle(run, registry: dict, sf_dir: str, results: dict) -> dict:
    from trde703_openfoodfacts_etl_spark.plans.analytics import TABLES

    canon, digest = _oracle_hash_helpers()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    checked = 0
    for name, (_fn, sql) in registry.items():
        if name not in results:
            continue  # the query itself failed; already counted
        got = canon(results[name])
        want = canon(con.sql(sql).df())
        same = (got.shape == want.shape and list(got.columns) == list(want.columns)
                and digest(got) == digest(want))
        if not same:
            run.mismatch(f"{name}: {got.shape} vs oracle {want.shape}")
        checked += 1
    con.close()
    return {"queries_checked": checked}

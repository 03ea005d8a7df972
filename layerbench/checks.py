"""Output checks, run once per run outside the timed passes.

- Contract ops: the op's rows against its ``oracle_sql()`` in DuckDB,
  normalised and compared the way ``tests/oracle.py`` does (sorted columns,
  sorted rows, floats to 9 places, ``isclose`` at 1e-9).
- Index probes: every returned similarity against an exact numpy cosine,
  and the per-query ranking against the numpy order of the returned rows.
- INE views: each written view against a DuckDB pivot of the same CSVs
  (row count, per-member non-null count and value sum after the
  sparse-station filter); each 1:1 water view and the station catalog by
  row count and column set.

Every check returns ``None`` when the output is right, else a short reason.
"""

from __future__ import annotations

import glob
import math
import os
from decimal import Decimal

import duckdb
import numpy as np

from gen_ine import period_column, station_column


def duckdb_for_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            table = name[: -len(".parquet")]
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{name}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (Decimal, list, tuple, dict, set, bytearray, bytes)):
        raise TypeError(f"harness-hostile cell type {type(v).__name__}")
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def _rows_close(a, b) -> bool:
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def compare(s_cols, s_rows, o_cols, o_rows) -> str | None:
    try:
        sc, sr = _norm_rows([c.lower() for c in s_cols], s_rows)
        oc, orr = _norm_rows([c.lower() for c in o_cols], o_rows)
    except TypeError as e:
        return str(e)
    if sc != oc:
        return f"columns {sc} != oracle {oc}"
    if len(sr) != len(orr):
        return f"{len(sr)} rows != oracle {len(orr)}"
    for i, (a, b) in enumerate(zip(sr, orr)):
        if not _rows_close(a, b):
            return f"row {i}: {a} != oracle {b}"
    return None


def check_against_oracle(con, columns, rows, sql: str) -> str | None:
    oracle = con.sql(sql)
    return compare(columns, [tuple(r) for r in rows], oracle.columns, oracle.fetchall())


def check_probe_exact(con, rows, columns) -> str | None:
    """Probe rows (query_id, vec_id, cosine_sim, rank) against numpy."""
    idx = {c: i for i, c in enumerate(columns)}
    vecs = dict(con.sql("SELECT vec_id, embedding FROM embeddings").fetchall())
    by_query: dict[int, list] = {}
    for r in rows:
        q, v, sim = r[idx["query_id"]], r[idx["vec_id"]], r[idx["cosine_sim"]]
        a = np.asarray(vecs[q], dtype=np.float64)
        b = np.asarray(vecs[v], dtype=np.float64)
        exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        if abs(exact - sim) > 1e-6:
            return f"query {q} vec {v}: cosine {sim} != numpy {exact:.6f}"
        by_query.setdefault(q, []).append((r[idx["rank"]], -exact, v))
    for q, hits in by_query.items():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
            return f"query {q}: ranks are not 1..{len(hits)}"
        sims = [-h[1] for h in hits]
        if any(x < y - 1e-6 for x, y in zip(sims, sims[1:])):
            return f"query {q}: ranking disagrees with numpy order"
    return None if by_query else "no probe rows"


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"')"


def _written(view_dir: str) -> str:
    return f"read_parquet('{view_dir}/*.parquet', hive_partitioning=false)"


def check_view(con, view_dir: str, members, csv_paths: dict[str, str],
               min_records: int = 3) -> str | None:
    """A written consolidated view against a DuckDB pivot of its CSVs.

    ``first`` may keep either of two duplicate observations, so each
    member's sum must lie between the sums of per-cell minima and maxima."""
    facts = " UNION ALL ".join(
        f"SELECT '{m}' AS ds, TRY_CAST(\"{period_column(m)}\" AS INTEGER) AS p, "
        f"\"{station_column(m)}\" AS s, TRY_CAST(\"Value\" AS DOUBLE) AS v "
        f"FROM {_csv(csv_paths[m])}"
        for m in members
    )
    con.sql(f"CREATE OR REPLACE TEMP VIEW f AS {facts}")
    con.sql(f"""CREATE OR REPLACE TEMP VIEW keep AS
        SELECT p, s FROM f GROUP BY p, s HAVING count(v) >= {min_records}""")
    expect_rows = con.sql("SELECT count(*) FROM keep").fetchone()[0]
    if not glob.glob(f"{view_dir}/*.parquet"):
        # an empty view writes no file for its run_date partition
        return None if expect_rows == 0 else f"no files, pivot has {expect_rows} rows"
    written = _written(view_dir)
    got_rows = con.sql(f"SELECT count(*) FROM {written}").fetchone()[0]
    if got_rows != expect_rows:
        return f"{got_rows} rows != pivot {expect_rows}"
    for m in members:
        n_exp, lo, hi = con.sql(f"""
            SELECT count(*), coalesce(sum(mn), 0), coalesce(sum(mx), 0) FROM (
              SELECT min(v) AS mn, max(v) AS mx FROM f JOIN keep
                ON f.p IS NOT DISTINCT FROM keep.p AND f.s IS NOT DISTINCT FROM keep.s
              WHERE ds = '{m}' AND v IS NOT NULL GROUP BY f.p, f.s)""").fetchone()
        n_got, total = con.sql(
            f'SELECT count("{m}"), coalesce(sum("{m}"), 0) FROM {written}').fetchone()
        if n_got != n_exp:
            return f"{m}: {n_got} values != pivot {n_exp}"
        if not (lo - 1e-6 * (1 + abs(lo)) <= total <= hi + 1e-6 * (1 + abs(hi))):
            return f"{m}: sum {total} outside pivot [{lo}, {hi}]"
    return None


def check_simple_view(con, view_dir: str, csv_path: str) -> str | None:
    cols = con.sql(f"SELECT * FROM {_csv(csv_path)} LIMIT 0").columns
    expect_cols = sorted(c for c in cols if not c.startswith("DTI_")
                         and c.lower() not in ("flag codes", "flags"))
    expect_rows = con.sql(f"SELECT count(*) FROM {_csv(csv_path)}").fetchone()[0]
    written = _written(view_dir)
    rel = con.sql(f"SELECT * FROM {written}")
    got_cols = sorted(rel.columns)
    if got_cols != expect_cols:
        return f"columns {got_cols} != {expect_cols}"
    got_rows = con.sql(f"SELECT count(*) FROM {written}").fetchone()[0]
    return None if got_rows == expect_rows else f"{got_rows} rows != csv {expect_rows}"


def check_station_catalog(con, view_dir: str, resource_path: str) -> str | None:
    with open(resource_path, encoding="utf-8") as f:
        names = sorted(ln.split("|")[0] for ln in f.read().strip().splitlines()[1:])
    written = _written(view_dir)
    got = sorted(r[0] for r in con.sql(f"SELECT nombre FROM {written}").fetchall())
    return None if got == names else f"{len(got)} stations != catalog {len(names)}"

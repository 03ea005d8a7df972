"""The two workloads: what one pass runs, which inputs it gets, and how its
outputs are checked.

A workload object has ``ops`` (the unit ``ok_op_share`` counts),
``prepare(seed, inputs_dir)`` to write the inputs, ``bind(...)`` to import
what it calls once the session is up, ``run_pass(tracer)`` and
``check()`` (op -> None or a reason).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import checks
import gen_ine
import gen_tables

RUN_DATE = "2026-01-01"


def memo_entries() -> int:
    """Entries in the process-wide memos of ``operators.similarity``."""
    from data_pipeline_ine_spark.operators import similarity as sim

    return len(sim._KMEANS_MEMO) + len(sim._KNN_GRAPH_MEMO) + len(sim._BQ_MIDS_MEMO)


def _report_failure(op: str) -> None:
    tail = traceback.format_exc().strip().splitlines()[-3:]
    print(f"[layerbench] {op} failed: " + " | ".join(tail)[:600], file=sys.stderr, flush=True)


class CurationCorpus:
    """Contract ops whose time goes into plan construction, the index, the
    process memos and a Python-worker stage, each run into ``noop``."""

    name = "curation_corpus"
    ops = (
        "curation_v3",           # text gates, lineage cuts, ~5.7k py4j calls and
                                 # dozens of jobs while its plan is built
        "ann_kmeans_topk",       # similarity + the k-means memo
        "ann_batch_probe",       # the persisted IVF index under /tmp
        "part_pagerank",         # eager per-round graph jobs
        "image_dhash",           # a mapInPandas Python-worker stage
    )
    exact_probe_ops = ("ann_batch_probe",)
    warmup_passes = 1
    check_in_warmup = True  # the check collects every op: it is the warm-up pass
    sizes = {"n_docs": 400, "n_vecs": 400, "n_orders": 1000}

    def prepare(self, seed: int, inputs_dir: str) -> None:
        self.sf_dir = gen_tables.generate(seed, inputs_dir, **self.sizes)

    def bind(self, spark, contract, out_dir: str) -> None:
        self.spark = spark
        self.queries = contract.queries()
        self.oracles = contract.oracle_sql()

    def run_pass(self, tracer) -> set[str]:
        failed, took = set(), {}
        for op in self.ops:
            t0 = time.perf_counter()
            try:
                with tracer.phase(op, "construct"):
                    df = self.queries[op](self.spark, self.sf_dir)
                if tracer.enabled:
                    with tracer.phase(op, "plan"), tracer.quiet():
                        df._jdf.queryExecution().executedPlan()
                with tracer.phase(op, "execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted and reported; the run goes on
                failed.add(op)
                _report_failure(op)
            took[op] = round(time.perf_counter() - t0, 2)
        print(f"[layerbench] op seconds {took}", file=sys.stderr, flush=True)
        return failed

    def check(self) -> dict[str, str | None]:
        con = checks.duckdb_for_tables(self.sf_dir)
        out = {}
        for op in self.ops:
            try:
                df = self.queries[op](self.spark, self.sf_dir)
                cols, rows = df.columns, df.collect()
                out[op] = checks.check_against_oracle(con, cols, rows, self.oracles[op])
                if out[op] is None and op in self.exact_probe_ops:
                    out[op] = checks.check_probe_exact(con, rows, cols)
            except Exception as e:  # noqa: BLE001 - a failed check is a result
                out[op] = f"raised {type(e).__name__}: {str(e)[:200]}"
        con.close()
        return out

    def output_size(self) -> tuple[float, int]:
        return 0.0, 0  # every op runs into the noop sink


class InePipeline:
    """The paper's lifecycle over a seeded 87-CSV INE corpus: consolidated
    views through ``run_pipeline``, 1:1 water views and the station catalog,
    all written with ``write_layer`` and re-run each pass for the same
    ``run_date`` through the dynamic partition overwrite."""

    name = "ine_pipeline"
    # its passes are short: after one warm-up pass the CPU pass_cpu_s counts
    # still fell from each steady pass to the next, and wall time and the
    # JIT's CPU kept falling through the fifth pass
    warmup_passes = 2
    check_in_warmup = False  # the check reads what the last pass wrote
    views = ("v_temperatura", "v_nox_anual", "v_glaciares_anual_cuenca")
    simple = (
        "metales_disueltos_en_la_matriz_acuosa",  # POAL with a parameter dimension
        "caudal_medio_de_aguas_corrientes",       # two entity dimensions
        "nivel_estatico_de_aguas_subterraneas",   # daily well stations
    )

    @property
    def ops(self):
        return (*self.views, *(f"v_{t}" for t in self.simple), "estaciones")

    def prepare(self, seed: int, inputs_dir: str) -> None:
        self.paths = gen_ine.generate(seed, inputs_dir)

    def bind(self, spark, contract, out_dir: str) -> None:
        from data_pipeline_ine_spark.plans import pipeline
        from data_pipeline_ine_spark.plans.view_catalog import reference_views, station_map
        from data_pipeline_ine_spark.sources import sinks, station_catalog

        self.spark, self.out_dir = spark, out_dir
        self.pipeline, self.sinks, self.catalog = pipeline, sinks, station_catalog
        catalog = reference_views()
        self.view_defs = {v: catalog[v] for v in self.views}
        members = {m for v in self.view_defs.values() for m in v.members}
        self.member_paths = {m: p for m, p in self.paths.items() if m in members}
        self.station_map = station_map()
        self.resource = os.path.join(os.path.dirname(os.path.dirname(station_catalog.__file__)),
                                     "resources", "estaciones.psv")

    def run_pass(self, tracer) -> set[str]:
        failed = set()
        steps = [("views", lambda: self.pipeline.run_pipeline(
            self.spark, self.member_paths, self.view_defs, self.out_dir,
            run_date=RUN_DATE, station_map=self.station_map))]
        for t in self.simple:
            steps.append((f"v_{t}", lambda t=t: self._simple(t)))
        steps.append(("estaciones", lambda: self.sinks.write_layer(
            self.catalog.load_station_catalog(self.spark),
            f"{self.out_dir}/catalog/estaciones", run_date=RUN_DATE)))
        for op, step in steps:
            try:
                with tracer.phase(op, "execute"):
                    step()
            except Exception:  # noqa: BLE001 - counted and reported; the run goes on
                failed |= set(self.views) if op == "views" else {op}
                _report_failure(op)
        return failed

    def _simple(self, table: str) -> None:
        views = self.pipeline.build_simple_views(self.spark, self.paths, (table,))
        for name, df in views.items():
            self.sinks.write_layer(df, f"{self.out_dir}/simple/{name}", run_date=RUN_DATE)

    def check(self) -> dict[str, str | None]:
        con = checks.duckdb.connect()
        out = {}
        for name, view in self.view_defs.items():
            out[name] = checks.check_view(
                con, self._written(f"views/{name}"), view.members, self.paths)
        for t in self.simple:
            out[f"v_{t}"] = checks.check_simple_view(
                con, self._written(f"simple/v_{t}"), self.paths[t])
        out["estaciones"] = checks.check_station_catalog(
            con, self._written("catalog/estaciones"), self.resource)
        con.close()
        return out

    def _written(self, rel: str) -> str:
        return f"{self.out_dir}/{rel}/run_date={RUN_DATE}"

    def output_size(self) -> tuple[float, int]:
        """MB and data-file count of everything the passes have written."""
        size, files = 0, 0
        for root, _, names in os.walk(self.out_dir):
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
        return size / 2**20, files


WORKLOADS = {w.name: w for w in (CurationCorpus, InePipeline)}

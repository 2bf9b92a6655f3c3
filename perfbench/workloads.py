"""The workloads. Each drives the package's public functions from
outside, in the order the reference ETL job (or an analyst) would call
them, and opens a span around every op (traced rounds record them; see
layers.py for the spans around each layer's functions).

A workload has ``setup()`` (untimed: mart seeding, warm-up ops) and
``run_round(i)`` which runs the i-th fixed op list and returns one
``Op`` per load or query. ``check_round(i)`` verifies the
program's outputs after the round against the generator's ledger.
"""

from __future__ import annotations

import datetime
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass

import checks
import gen

# The fifteen registry queries of the query_mix workload, from every plan
# module: floor-bound ones (0.2-0.6 s at local[2] on the scale-0.01
# tables) and compute-bound ones (about 1-1.5 s), so cuts to per-query
# overhead and cuts to per-row work both show. Fifteen, an odd count, so
# the median op falls among the many 0.4-0.6 s queries, not between the
# two groups.
QUERY_MIX = [
    "scd2_merge", "cdc_router",                                        # parity
    "rollup_flag_status", "asof_join_view_purchase",                   # join_plans
    "partial_stats_merge", "winsorized_order_totals",                  # analytics_plans
    "cohort_retention_weekly",
    "streaming_window_agg", "streaming_band_index_dedup",              # streaming_plans
    "dup_span_stats", "cross_source_overlap",                          # extensions
    "kmv_distinct_sketch_trigrams", "bpe_train_merges",
    "dedup_minhash_lsh", "embedding_ivf_topk",
]

MART_LAYOUT = {"partition_col": "SOURCE_ID", "num_buckets": 16}


@dataclass
class Op:
    """One timed operation: a load or a query."""
    name: str
    seconds: float
    ok: bool
    fresh: int = 0  # SCD2 versions the ledger expects it to write


def _fail(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _run_ts(load_id: int) -> str:
    t = datetime.datetime(2024, 6, 1) + datetime.timedelta(minutes=load_id)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _dims(spark):
    from pyspark_etl_project_spark.dims import (seed_agents,
                                                seed_customer_types,
                                                seed_support_areas)
    return {"agents": seed_agents(spark),
            "support_areas": seed_support_areas(spark),
            "customer_types": seed_customer_types(spark)}


def _parsed_archive(df):
    from pyspark_etl_project_spark.sources.xml_source import parse_xml_records
    return parse_xml_records(df, keep_cols=["ARCHIVE_ID"])


class EtlBatchLoads:
    """The reference's main job: CSV, JSON and XML-archive loads through
    sources → pipelines → run_load → write_mart into one bucketed mart,
    with the load audit materialised."""

    name = "etl_batch_loads"
    # A load costs 3-6 s at local[2], mostly fixed cost (about 25 Spark
    # jobs), so loads stay small: 8k rows, on a 5k-row seed per source.
    # Four rounds are generated: a traced run needs a warm-up round (the
    # seed loads leave the JIT still speeding up), then untraced, traced,
    # untraced.
    SEED_ROWS, LOAD_ROWS, MAX_ROUNDS = 5_000, 8_000, 4
    TRACE_WARMUP = 1

    def __init__(self, spark, spans, work: str, seed: int):
        self.spark, self.spans, self.work, self.seed = spark, spans, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.mart = os.path.join(work, "mart")
        self.hwm = 0

    @classmethod
    def generate(cls, work: str, seed: int) -> dict:
        return gen.etl_inputs(seed, os.path.join(work, "inputs"),
                              cls.SEED_ROWS, cls.LOAD_ROWS, cls.MAX_ROUNDS)

    def setup(self, manifest: dict) -> None:
        """Seed the mart with one load per source (new keys only); the
        seed loads run the timed path and are also the warm-up."""
        self.manifest = manifest
        self.dims = _dims(self.spark)
        for e in manifest["seed_loads"]:
            if not self.load(e).ok:
                raise RuntimeError(f"seed load {e['path']} failed")

    def rounds(self) -> int:
        return len(self.manifest["rounds"])

    def run_round(self, i: int) -> list[Op]:
        return [self.load(e) for e in self.manifest["rounds"][i]]

    def load(self, e: dict) -> Op:
        from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart
        from pyspark_etl_project_spark.pipelines.common import empty_mart, run_load

        spark, span = self.spark, self.spans.span
        path = os.path.join(self.inputs, e["path"])
        s, load_id = e["source"], e["load_id"]
        t0 = time.perf_counter()
        try:
            with span("op", op=e["path"]):
                raw = self._read(s, path)
                staged = self._transform(s, raw, load_id)
                mart = (read_mart(spark, self.mart)
                        if os.path.isdir(self.mart) else empty_mart(spark))
                new_mart, audit = run_load(mart, staged, _run_ts(load_id),
                                           source_id=s, dense_ids=True,
                                           surrogate_offset=self.hwm)
                # The audit runs first: it materialises the merge's cached
                # arrivals while the mart files it routed against exist.
                with span("operators.audit"):
                    audit_rows = [r.asDict() for r in audit.collect()]
                write_mart(new_mart, self.mart, source_id=s,
                           materialize_first=True, **MART_LAYOUT)
            seconds = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - one failed load must not end the run
            _fail(f"load {e['path']}")
            return Op(e["path"], time.perf_counter() - t0, False)
        finally:
            spark.catalog.clearCache()
        self.hwm += sum(r["TOTAL_UPSERT_COUNT"] for r in audit_rows)
        ok = checks.audit_matches(audit_rows, e)
        return Op(e["path"], seconds, ok, fresh=e["fresh"])

    def _read(self, source: int, path: str):
        if source == 3:
            from pyspark_etl_project_spark.sources.csv_source import read_csv_tickets
            return read_csv_tickets(self.spark, path)
        if source == 1:
            from pyspark_etl_project_spark.sources.json_source import read_json_interactions
            return read_json_interactions(self.spark, path)
        return _parsed_archive(self.spark.read.parquet(path))

    def _transform(self, source: int, raw, load_id: int):
        from pyspark_etl_project_spark.pipelines.csv_pipeline import csv_transform
        from pyspark_etl_project_spark.pipelines.json_pipeline import json_transform
        from pyspark_etl_project_spark.pipelines.xml_pipeline import xml_transform
        fn = {3: csv_transform, 1: json_transform, 2: xml_transform}[source]
        return fn(raw, self.dims, data_load_id=load_id)

    def check_round(self, i: int) -> bool:
        want = self.manifest["finals_by_round"][i]
        return checks.mart_matches(self.spark, self.mart, want)


class QueryMix:
    """Read-only registry queries to the noop sink, one client, seeded
    order. The untimed warm-up pass collects every result once and
    checks its fingerprint against the query's DuckDB twin; an untimed
    noop pass follows it."""

    name = "query_mix"
    SF, MAX_ROUNDS = 0.01, 3
    # Round time is flat only after the checked pass and one noop pass,
    # so setup runs that noop pass and a traced run needs no more.
    WARMUP_PASSES, TRACE_WARMUP = 1, 0

    def __init__(self, spark, spans, work: str, seed: int):
        self.spark, self.spans, self.work, self.seed = spark, spans, work, seed
        self.tables = os.path.join(work, "tables")
        self.oracle_s = 0.0

    @classmethod
    def generate(cls, work: str, seed: int) -> dict:
        gen.query_tables(seed, os.path.join(work, "tables"), cls.SF)
        return {}

    def setup(self, manifest: dict) -> None:
        from pyspark_etl_project_spark.plans import all_oracle_sql, all_queries

        self.queries = {n: f for n, f in all_queries().items() if n in QUERY_MIX}
        oracles = all_oracle_sql()
        self.bad: set[str] = set()
        for name in self._order(-1):
            try:
                pdf = self.queries[name](self.spark, self.tables).toPandas()
            except Exception:  # noqa: BLE001
                _fail(f"warm-up of {name}")
                self.bad.add(name)
                continue
            t0 = time.perf_counter()
            if not checks.result_matches(pdf, oracles[name], self.tables):
                print(f"perfbench: {name} does not match its DuckDB twin",
                      file=sys.stderr)
                self.bad.add(name)
            self.oracle_s += time.perf_counter() - t0
        for i in range(self.WARMUP_PASSES):
            for op in self.run_round(-2 - i):
                if not op.ok:
                    self.bad.add(op.name)

    def _order(self, i: int) -> list[str]:
        order = list(QUERY_MIX)
        random.Random(self.seed * 1000 + i).shuffle(order)
        return order

    def rounds(self) -> int:
        return self.MAX_ROUNDS

    def run_round(self, i: int) -> list[Op]:
        ops = []
        for name in self._order(i):
            layer = ("extensions" if self.queries[name].__module__.endswith(
                ".plans.extensions") else "plans")
            t0 = time.perf_counter()
            ok = name not in self.bad
            try:
                with self.spans.span("op", op=name, layer=layer):
                    with self.spans.span("plans.build"):
                        df = self.queries[name](self.spark, self.tables)
                    with self.spans.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                _fail(f"query {name}")
                ok = False
            ops.append(Op(name, time.perf_counter() - t0, ok))
        return ops

    def check_round(self, i: int) -> bool:
        return True


WORKLOADS = {w.name: w for w in (EtlBatchLoads, QueryMix)}

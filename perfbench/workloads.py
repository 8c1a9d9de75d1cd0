"""The benchmark's three workloads.

A workload turns its seed into inputs (``__init__``) and lists the
operations of one pass (``pass_ops``). An ``Op`` has an untimed
``before`` step (state resets, the mock API's next round), the timed
``run``, and an untimed ``verify`` of what ``run`` returned. In the
warm pass ``verify`` checks against an independent reference: the
DuckDB oracle of each query, the mock API's own state for the ETL
pipeline. In later passes a query op must reproduce the fingerprint of
the result that passed.

* ``analytics``: the 17 relational / window / events / SQL headline
  queries, caches and session memos cleared before every op, op order
  shuffled by the seed.
* ``llm_corpus``: a curation session of corpus queries; session state is
  evicted once per pass, so later dedup queries reuse the shared caches.
* ``etl_rawzone``: the raw-zone pipeline against a seeded mock GitHub
  API: ``run_pipeline`` once per round on a zone that starts empty,
  then one ``merge_into_snapshot_table`` per extraction.
"""

from __future__ import annotations

import csv
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import datagen
from mockapi import RECORD_COLUMNS, MockGitHub

# The 17 relational / window / events / SQL headline queries: short
# queries whose time is mostly plan building (one schema-inference job
# per load) and planning. Not listed in BENCHMARK.json: with the JIT
# warm-up it needs, a third workload does not fit the benchmark's time
# budget. Kept runnable for io and catalyst changes.
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "scan_filter_project",
    "join_inner_orders_customer",
    "join_left_customer_orders",
    "join_broadcast_geo_rollup",
    "agg_distinct_priority",
    "agg_rollup_orders",
    "top_k_orders",
    "window_latest_order_per_customer",
    "window_running_spend",
    "events_tumbling_hourly",
    "events_sessionize",
    "events_asof_click_before_error",
    "pivot_user_event_counts",
    "sql_q3_shipping_priority",
    "window_rolling_30d_spend",
)

# One curation session, in order: the MinHash query reuses the posting
# lists the Jaccard query caches; the perceptual-hash query runs pandas
# UDFs in Python workers.
LLM_QUERIES = (
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "mm_phash_png_pixels_neardup",
)

# Input sizes: (workload, size) -> parameters.
SIZES = {
    ("analytics", "full"): {"scale": 0.01},
    ("analytics", "smoke"): {"scale": 0.001},
    ("llm_corpus", "full"): {"scale": 0.01},
    ("llm_corpus", "smoke"): {"scale": 0.001},
    ("etl_rawzone", "full"): {"repos": 2, "runs_per_round": 8, "listed_rounds": 2, "rounds": 2},
    ("etl_rawzone", "smoke"): {"repos": 2, "runs_per_round": 4, "listed_rounds": 2, "rounds": 2},
}


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    verify: Callable[[object], bool]
    before: Callable[[], None] = lambda: None
    # Frame whose executed plan the traced run inspects after ``run``.
    plan_of: Callable[[object], DataFrame | None] = lambda result: None


def fingerprint_frame(df: DataFrame) -> DataFrame:
    """One-row, order-insensitive fingerprint of every column: row count
    and the sums of each half of a per-row xxhash64. Floating columns
    are rounded to 6 decimals first, so summation order in the engine
    cannot flip a last bit."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.round(c, 6)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.shiftright("h", 32)).alias("hi"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
    )


def _reset_state(spark) -> None:
    from etl_spark.operators import caching

    spark.catalog.clearCache()
    caching.evict_session_memos()
    caching.evict()


class QueryWorkload:
    name = ""
    queries: tuple[str, ...] = ()
    evict_each_op = True

    def __init__(self, work_dir: Path, seed: int, size: str) -> None:
        self.params = SIZES[(self.name, size)]
        self.sf_dir = str(work_dir / "tables")
        self.rows = datagen.generate(self.sf_dir, seed, self.params["scale"])
        self._order = random.Random(seed)
        self._expected: dict[str, tuple] = {}
        self.counters: dict[str, float] = {}

    def inputs(self) -> dict:
        return {"scale": self.params["scale"], "rows": self.rows, "queries": len(self.queries)}

    def _order_for_pass(self) -> list[str]:
        return list(self.queries)

    def pass_ops(self, spark, tracer, warm: bool = False) -> list[Op]:
        """Ops of one pass. The warm pass checks every result against its
        DuckDB oracle (the result is persisted so the check does not run
        the query again); later passes check the fingerprint of the
        result that passed."""
        from etl_spark.plans import REGISTRY

        ops = []
        for i, name in enumerate(self._order_for_pass()):
            builder = REGISTRY[name].builder

            def run(name=name, builder=builder):
                with tracer.span("plans.build", name):
                    df = builder(spark, self.sf_dir)
                if warm:
                    df = df.persist()
                fp = fingerprint_frame(df)
                if tracer.enabled:
                    with tracer.span("catalyst.plan"):
                        fp._jdf.queryExecution().executedPlan()
                with tracer.span("exec.action"):
                    row = fp.collect()[0]
                return df, fp, tuple(row)

            reset = self.evict_each_op or i == 0
            ops.append(Op(
                name=name,
                run=run,
                verify=(lambda result, name=name: self._check_oracle(name, *result)) if warm
                else (lambda result, name=name: result[2] == self._expected.get(name)),
                before=(lambda: _reset_state(spark)) if reset else (lambda: None),
                plan_of=lambda result: result[1],
            ))
        return ops

    def _check_oracle(self, name: str, df: DataFrame, fp: DataFrame, row: tuple) -> bool:
        """Compare one result with its DuckDB oracle (row count, columns,
        dtypes and an order-insensitive value comparison, as
        tools/drive_contract.py does) and remember its fingerprint if it
        matched."""
        import duckdb
        from etl_spark.plans import REGISTRY
        from tools.contract_compare import compare_result

        oracle = REGISTRY[name].oracle
        if oracle is None:
            return False
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for table in self.rows:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            ok = compare_result(df.toPandas(), con.execute(oracle).df())["ok"]
        finally:
            con.close()
            df.unpersist()
        if ok:
            self._expected[name] = row
        return ok


class Analytics(QueryWorkload):
    name = "analytics"
    queries = ANALYTICS_QUERIES
    evict_each_op = True

    def _order_for_pass(self) -> list[str]:
        order = list(self.queries)
        self._order.shuffle(order)
        return order


class LlmCorpus(QueryWorkload):
    name = "llm_corpus"
    queries = LLM_QUERIES
    evict_each_op = False


class EtlRawzone:
    """Raw zone → latest snapshot → CSV, then incremental merges.

    Every pass starts from an empty raw zone and a mock API rebuilt from
    the seed, so all passes do identical work. ``counters`` accumulates
    the bytes and files each op left on disk (raw zone files, the CSV,
    snapshot-table files), the API payload served and the batch rows
    each merge took in."""

    name = "etl_rawzone"

    def __init__(self, work_dir: Path, seed: int, size: str) -> None:
        self.params = SIZES[(self.name, size)]
        self.seed = seed
        self.work_dir = work_dir
        self.passes = 0
        self.counters: dict[str, float] = {}

    def inputs(self) -> dict:
        return dict(self.params)

    def _api(self) -> MockGitHub:
        p = self.params
        return MockGitHub(self.seed, p["repos"], p["runs_per_round"], p["listed_rounds"])

    def _add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def pass_ops(self, spark, tracer, warm: bool = False) -> list[Op]:
        from etl_spark.etl.merge import (
            init_snapshot_table,
            load_extraction,
            merge_into_snapshot_table,
            read_snapshot_table,
        )
        from etl_spark.etl.pipeline import run_pipeline

        root = self.work_dir / f"pass{self.passes}"
        self.passes += 1
        shutil.rmtree(root, ignore_errors=True)
        zone, table = root / "zone", root / "table"
        api = self._api()
        stamps: list[str] = []
        files: dict[str, tuple[int, int]] = {}

        def snapshot() -> None:
            files.clear()
            files.update(_tree(root))

        def written() -> None:
            after = _tree(root)
            new = [p for p, st in after.items() if files.get(p) != st]
            self._add("files_written", len(new))
            self._add("bytes_written", sum(after[p][0] for p in new))

        def next_round() -> None:
            api.advance()
            stamps.append(api.extract_ts())
            snapshot()

        def pipeline():
            served = api.payload_bytes
            requests = api.requests
            run_pipeline(api, zone, spark, now_function=api.now)
            self._add("payload_bytes", api.payload_bytes - served)
            self._add("api_requests", api.requests - requests)

        def verify_csv(_):
            written()
            with open(zone / "workflow_runs.csv", newline="") as fh:
                got = list(csv.reader(fh))
            want = [list(RECORD_COLUMNS)] + [
                ["" if v is None else str(v) for v in row[: len(RECORD_COLUMNS)]]
                for row in api.expected_records()
            ]
            return got == want

        def merge(i: int):
            batch = load_extraction(spark, zone, stamps[i])
            if i == 0:
                init_snapshot_table(batch, table)
            else:
                merge_into_snapshot_table(spark, table, batch)

        def before_merge(i: int) -> None:
            snapshot()
            if i > 0:
                self._add("merge_batch_rows", len(list(zone.glob(f"*/{stamps[i]}/runs/*.json"))))

        def verify_merge(i: int) -> bool:
            written()
            if i < len(stamps) - 1:
                return True
            cols = list(RECORD_COLUMNS) + ["repo_dir", "extract_ts", "file_id"]
            got = sorted(tuple(r) for r in read_snapshot_table(spark, table).select(*cols).collect())
            want = sorted(api.expected_records())
            shutil.rmtree(root, ignore_errors=True)
            return got == want

        rounds = self.params["rounds"]
        ops = [
            Op(name="run_pipeline", run=pipeline, verify=verify_csv, before=next_round)
            for _ in range(rounds)
        ]
        for i in range(rounds):
            ops.append(Op(
                name="init_snapshot_table" if i == 0 else "merge_into_snapshot_table",
                run=lambda i=i: merge(i),
                verify=lambda _, i=i: verify_merge(i),
                before=lambda i=i: before_merge(i),
            ))
        return ops


def _tree(root: Path) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return out


WORKLOADS = {w.name: w for w in (Analytics, LlmCorpus, EtlRawzone)}

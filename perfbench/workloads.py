"""The three workloads: their inputs, one pass of operations, and the checks
of every result against a computation made apart from the program.

A workload object is built after the session starts. ``warm_up_ops()`` are
run once before timing; ``ops()`` is the fixed list of operations of one
timed pass, and at least ``min_passes`` passes are timed in every run;
``failures(results)`` checks the results of all timed passes after timing
has ended and returns what was wrong.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from perfbench.corpus import write_corpus
from perfbench.oracle import DuckOracle, value_hash
from perfbench.probes import Tracer
from perfbench.snapshots import STAR_COLUMNS, SnapshotGenerator, WarehouseModel, widget_states


@dataclass
class Op:
    name: str
    kind: str  # query | load | request | panel
    run: Callable[[], object]


def _collect(tracer: Tracer, name: str, build: Callable[[], object]) -> list:
    """Build a DataFrame, then collect it, each inside its own span."""
    with tracer.span("plans.build", op=name):
        df = build()
    with tracer.span("plans.collect", op=name) as rec:
        rows = df.collect()
    if rec is not None:
        rec["rows"] = len(rows)
        rec["phases"] = tracer.status.phases_ms(df)
    return [df.columns, rows]


class QueryWorkload:
    """Registered queries from ``__spark_entry__.queries()`` on a seeded corpus,
    each collected to completion and checked against its DuckDB twin."""

    min_passes = 4

    def __init__(self, spark, tracer: Tracer, scratch: str, seed: int, sf: float,
                 names: list[str], threads: int) -> None:
        import __spark_entry__ as entry

        self.spark, self.tracer, self.names, self.threads = spark, tracer, names, threads
        self.corpus = os.path.join(scratch, "corpus")
        write_corpus(self.corpus, seed, sf)
        queries = entry.queries()
        self.fns = {n: queries[n] for n in names}
        self.oracle_sql = {n: entry.oracle_sql()[n] for n in names}

    def _op(self, name: str) -> Op:
        from snowflake_stock_dbt_spark.operators.similarity import release_persisted_frames

        fn = self.fns[name]

        def run() -> list:
            try:
                return _collect(self.tracer, name, lambda: fn(self.spark, self.corpus))
            finally:
                # Drop what the query persisted, as the program's own bench.py
                # does between queries; otherwise the next pass's call finds
                # its inputs already cached and measures a cache hit.
                release_persisted_frames()
                self.spark.catalog.clearCache()

        return Op(name, "query", run)

    def ops(self) -> list[Op]:
        return [self._op(n) for n in self.names]

    warm_up_ops = ops

    def failures(self, results: list[tuple[int, str, object]]) -> list[str]:
        oracle = DuckOracle(self.corpus, self.threads)
        try:
            expected = {}
            out = []
            for pass_no, name, (cols, rows) in results:
                if name not in expected:
                    why = oracle.mismatch(self.oracle_sql[name], cols, rows)
                    if why:
                        out.append(f"pass {pass_no} {name}: {why}")
                        continue
                    expected[name] = (sorted(cols), value_hash(cols, rows))
                elif expected[name] != (sorted(cols), value_hash(cols, rows)):
                    out.append(f"pass {pass_no} {name}: result differs from the checked pass")
            return out
        finally:
            oracle.close()


STAR_QUERIES = ["q01_top_by_metric", "q02_daily_trend", "q03_zscore_outliers",
                "q04_geo_rollup", "q05_risk_watchlist", "q06_latest_wins_dedup",
                "q140_vwap_trend"]
ITERATIVE_QUERIES = ["q93_pagerank", "q215_weighted_paths", "q41_stateful_totals"]


def _star_rows(cols: list[str], rows: list) -> list[tuple] | None:
    """Rows as tuples in ``STAR_COLUMNS`` order; None if the columns differ."""
    if sorted(cols) != sorted(STAR_COLUMNS):
        return None
    return [tuple(r[c] for c in STAR_COLUMNS) for r in rows]


class DashboardRefresh:
    """The refresh-then-explore loop on seeded daily snapshots.

    One pass is one daily load followed by a scripted dashboard session. The
    load of day ``d`` lands that day's scrape together with a re-ingested
    copy of day ``d - 1``'s file, so every merge both inserts new keys and
    rewrites keys the warehouse already holds.
    """

    REQUESTS = 12
    min_passes = 2

    def __init__(self, spark, tracer: Tracer, scratch: str, seed: int) -> None:
        self.spark, self.tracer = spark, tracer
        self.gen = SnapshotGenerator(seed)
        self.states = widget_states(seed, self.REQUESTS)
        self.landing = os.path.join(scratch, "landing")
        self.fct = os.path.join(scratch, "warehouse", "fct_observations")
        self.dim = os.path.join(scratch, "warehouse", "dim_entity")
        self.days_loaded: list[int] = []
        self.star = None

    def _csv(self, day: int) -> str:
        return os.path.join(self.landing, f"most_actives_{day:03d}.csv")

    def load(self, day: int) -> int:
        from pyspark.sql import functions as F

        from snowflake_stock_dbt_spark.functions.cleaning import bucketize_market_cap
        from snowflake_stock_dbt_spark.models import run_dag, stock_dag
        from snowflake_stock_dbt_spark.operators.upsert import merge_upsert_write
        from snowflake_stock_dbt_spark.quality.checks import run_checks
        from snowflake_stock_dbt_spark.sources.csv_bronze import read_raw_csv
        from snowflake_stock_dbt_spark.sources.scraper import (
            collect_most_actives,
            validate_output,
            write_outputs,
        )

        tr, spark = self.tracer, self.spark
        batch = os.path.join(self.landing, f"batch_{day:03d}")
        with tr.span("sources.scrape"):
            rows = collect_most_actives(fetch_fn=self.gen.feed(day))
            # The scraper stamps wall-clock time; pin it to the simulated day.
            for r in rows:
                r["scraped_at"] = self.gen.scraped_at(day)
            validate_output(rows)
            os.makedirs(batch)
            write_outputs(rows, self._csv(day))
            shutil.copy(self._csv(day), batch)
            if day > 0:
                shutil.copy(self._csv(day - 1), batch)
        with tr.span("sources.read", batch=batch):
            bronze = read_raw_csv(spark, batch)
        models = stock_dag()
        with tr.span("models.build"):
            built = run_dag(spark, models, {"most_actives_raw": bronze}, run_tests=False)
        for m in models:
            with tr.span("quality.checks", model=m.name):
                run_checks(m.checks(built[m.name], built))
        with tr.span("upsert.merge_write", table="fct_observations"):
            merge_upsert_write(spark, self.fct, built["fct_observations"],
                               "observation_sk", partition_col="observation_date")
        with tr.span("upsert.merge_write", table="dim_entity"):
            merge_upsert_write(spark, self.dim, built["dim_entity"], "entity_sk")
        with tr.span("serving.resolve"):
            fct, dim = spark.read.parquet(self.fct), spark.read.parquet(self.dim)
            self.star = fct.join(F.broadcast(dim.drop("symbol")), "entity_sk").withColumn(
                "market_cap_category", bucketize_market_cap("market_cap"))
        self.days_loaded.append(day)
        return day

    def _request(self, state: dict) -> list:
        from snowflake_stock_dbt_spark.serving.filters import apply_filters

        return _collect(self.tracer, "request", lambda: apply_filters(self.star, **state))

    def _insights(self) -> list:
        from snowflake_stock_dbt_spark.serving.filters import insights

        total, top = insights(self.star)
        return [_collect(self.tracer, "insights.total", lambda: total),
                _collect(self.tracer, "insights.top", lambda: top)]

    def _shocks(self) -> list:
        from snowflake_stock_dbt_spark.serving.filters import liquidity_shocks

        return _collect(self.tracer, "liquidity_shocks", lambda: liquidity_shocks(self.star))

    def ops(self) -> list[Op]:
        ops = [Op("load", "load", lambda: self.load(len(self.days_loaded)))]
        for i, state in enumerate(self.states):
            ops.append(Op(f"request_{i}", "request", lambda s=state: self._request(s)))
        ops.append(Op("insights", "panel", self._insights))
        ops.append(Op("liquidity_shocks", "panel", self._shocks))
        return ops

    def warm_up_ops(self) -> list[Op]:
        """One pass and one more load: day 0 creates the warehouse, day 1
        warms the merge."""
        return self.ops() + self.ops()[:1]

    def failures(self, results: list[tuple[int, str, object]]) -> list[str]:
        from snowflake_stock_dbt_spark.sources.scraper import SCREENER_URL

        out = []
        model = WarehouseModel(SCREENER_URL)
        timed_days = {r for _, name, r in results if name == "load"}
        for d in self.days_loaded:
            if d not in timed_days:
                model.load(self.gen.kept(d))
        for pass_no, name, result in results:
            if name == "load":
                model.load(self.gen.kept(result))
                continue
            where = f"pass {pass_no} {name}"
            if name.startswith("request_"):
                got = _star_rows(*result)
                if got != model.request(self.states[int(name.split("_")[1])]):
                    out.append(f"{where}: rows differ from the Python filter")
            elif name == "insights":
                (_, total), top = result
                if total[0]["total_volume"] != float(model.volume_total()):
                    out.append(f"{where}: total volume {total[0]['total_volume']} "
                               f"!= {model.volume_total()}")
                if _star_rows(*top) != model.top_by_volume(5):
                    out.append(f"{where}: top-5 rows by volume differ")
            elif name == "liquidity_shocks":
                cols, rows = result
                expected, z = model.shocks()
                got = _star_rows([c for c in cols if c != "volume_z_score"], rows)
                if got is None or set(got) != expected:
                    out.append(f"{where}: the {len(rows)} shock rows differ from the "
                               f"{len(expected)} rows with z > 2")
                if any(abs(r["volume_z_score"] - float(z(r["volume"]))) > 1e-9 * abs(r["volume_z_score"])
                       or z(r["volume"]) <= 2 for r in rows):
                    out.append(f"{where}: a returned z-score is wrong or not above 2")
        out.extend(self._warehouse_failures(model))
        return out

    def _warehouse_failures(self, model: WarehouseModel) -> list[str]:
        from pyspark.sql import functions as F

        out = []
        fct = self.spark.read.parquet(self.fct)
        n, vol = fct.agg(F.count("*"), F.sum("volume")).first()
        if n != len(model.facts):
            out.append(f"fct_observations holds {n} rows, expected {len(model.facts)} "
                       "distinct valid observations")
        if vol != model.volume_total():
            out.append(f"warehouse volume total {vol} != generated {model.volume_total()}")
        cols = ["entity_sk", "symbol", "entity_name", "category", "location", "exchange", "currency"]
        dim = {tuple(r) for r in self.spark.read.parquet(self.dim).select(*cols).collect()}
        if dim != model.dim_rows():
            out.append(f"dim_entity differs from each entity's latest attributes "
                       f"({len(dim ^ model.dim_rows())} rows)")
        return out

"""End-to-end test of the reference-parity stock pipeline on a synthetic
fixture (FIXTURES.md §1): scrape(fake feed) → CSV landing → bronze → silver
star schema → quality gates → upsert writer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_stock_dbt_spark.models import run_dag, stock_dag
from snowflake_stock_dbt_spark.operators.upsert import merge_upsert_write
from snowflake_stock_dbt_spark.quality.checks import run_checks
from snowflake_stock_dbt_spark.sources.csv_bronze import (
    raw_quality_metrics,
    read_raw_csv,
)
from snowflake_stock_dbt_spark.sources.scraper import (
    collect_most_actives,
    validate_output,
    write_outputs,
)


def fake_feed(n_symbols: int = 100):
    """Deterministic screener feed: pages of 25 quotes."""

    def fetch(start: int, count: int):
        quotes = []
        for i in range(start, min(start + count, n_symbols)):
            quotes.append(
                {
                    "symbol": f"SYM{i:04d}",
                    "longName": f"Synthetic Corp {i}",
                    "typeDisp": "EQUITY" if i % 3 else "ETF",
                    "region": ["US", "GB", "DE"][i % 3],
                    "fullExchangeName": "NasdaqGS" if i % 2 else "NYSE",
                    "currency": "USD",
                    "regularMarketPrice": 10.0 + i * 0.25,
                    "marketCap": int(1e9 + i * 5e8),
                    "volume": None,  # exercised: missing volume key
                    "regularMarketVolume": 1_000_000 + i * 10_000,
                    "averageDailyVolume3Month": 900_000 + i * 9_000,
                }
            )
        return quotes

    return fetch


@pytest.fixture(scope="module")
def landing_csv(tmp_path_factory):
    rows = collect_most_actives(fetch_fn=fake_feed())
    validate_output(rows)
    path = tmp_path_factory.mktemp("landing") / "raw_data.csv"
    write_outputs(rows, str(path), str(path.with_suffix(".json")))
    return str(path)


@pytest.fixture(scope="module")
def bronze(spark, landing_csv):
    return read_raw_csv(spark, landing_csv).cache()


def test_scraper_gate_rejects_short_snapshot():
    rows = collect_most_actives(fetch_fn=fake_feed(50))
    with pytest.raises(ValueError, match="expected 100 rows"):
        validate_output(rows)


def test_bronze_shape_and_metadata(bronze):
    rows = bronze.collect()
    assert len(rows) == 100
    assert {r["source_row_number"] for r in rows} == set(range(1, 101))
    assert all(r["load_id"] for r in rows)
    assert all(r["source_file_name"].endswith("raw_data.csv") for r in rows)
    # bronze is all-string by contract
    assert dict(bronze.dtypes)["price"] == "string"


def test_raw_quality_metrics_all_clean(bronze):
    m = raw_quality_metrics(bronze).collect()[0]
    assert m["raw_row_count"] == 100
    assert m["missing_symbol_rows"] == 0
    assert m["invalid_price_rows"] == 0
    assert m["invalid_volume_rows"] == 0


def test_star_schema_build_and_dbt_tests(spark, bronze):
    built = run_dag(spark, stock_dag(), {"most_actives_raw": bronze})
    stg, dim, fct = (
        built["stg_most_actives"],
        built["dim_entity"],
        built["fct_observations"],
    )
    assert stg.count() == 100
    assert dim.count() == 100  # one snapshot -> one row per entity
    assert fct.count() == 100
    # typed silver: decimals and longs, not strings
    assert dict(stg.dtypes)["price"] == "decimal(18,4)"
    assert dict(fct.dtypes)["market_cap"] == "bigint"
    # surrogate keys are 64-char lowercase hex
    sk = stg.select("observation_sk").first()[0]
    assert len(sk) == 64 and sk == sk.lower()


def test_model_check_suites_fire_few_jobs(spark, bronze):
    """Each model's check suite is one action: at most 6 Spark jobs (the
    job-id delta also counts AQE stage and broadcast jobs), where one
    count() per check fired 16-19."""
    bronze.count()  # the cache fill is not the suites' work
    built = run_dag(spark, stock_dag(), {"most_actives_raw": bronze}, run_tests=False)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for m in stock_dag():
        first = scheduler.nextJobId()
        run_checks(m.checks(built[m.name], built))
        jobs[m.name] = scheduler.nextJobId() - first
    assert all(n <= 6 for n in jobs.values()), jobs


def test_latest_wins_dedup_on_reingest(spark, bronze):
    """Re-ingesting the same file with a later ingested_at must not create
    duplicate observations, and the later load must win."""
    later = bronze.withColumn(
        "ingested_at", F.col("ingested_at") + F.expr("INTERVAL 1 HOUR")
    ).withColumn("price", F.lit("999.9999"))
    doubled = bronze.unionByName(later)
    built = run_dag(spark, stock_dag(), {"most_actives_raw": doubled})
    stg = built["stg_most_actives"]
    assert stg.count() == 100
    # every surviving row carries the later load's price
    assert stg.where(F.col("price") != 999.9999).count() == 0


def test_malformed_rows_null_not_fail(spark, bronze):
    """TRY_-cast semantics: 'N/A' metrics become NULL, load does not abort
    (reference sql/02_load_data.sql:100-103)."""
    poisoned = bronze.withColumn(
        "market_cap",
        F.when(F.col("source_row_number") <= 5, F.lit("N/A")).otherwise(
            F.col("market_cap")
        ),
    )
    built = run_dag(spark, stock_dag(), {"most_actives_raw": poisoned})
    assert built["stg_most_actives"].where(F.col("market_cap").isNull()).count() == 5


def test_upsert_writer_idempotent(spark, bronze, tmp_path):
    built = run_dag(spark, stock_dag(), {"most_actives_raw": bronze}, run_tests=False)
    fct = built["fct_observations"]
    path = str(tmp_path / "fct")
    merge_upsert_write(spark, path, fct, "observation_sk")
    assert spark.read.parquet(path).count() == 100
    # merge the same batch again -> same row count, observation_sk unique
    merge_upsert_write(spark, path, fct, "observation_sk")
    out = spark.read.parquet(path)
    assert out.count() == 100
    assert out.select("observation_sk").distinct().count() == 100


def test_upsert_partitioned_matched_key_moves_partition(spark, tmp_path):
    """A matched key whose partition value changed must leave its OLD
    partition (round-1 ADVICE: the scoped anti-join previously kept the old
    row, duplicating the key)."""
    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(k, "a" if k % 2 == 0 else "b", float(k)) for k in range(10)],
        "k long, p string, v double",
    )
    merge_upsert_write(spark, path, target, "k", partition_col="p")
    # keys 0,2 move partition a->b; key 3 stays in b; keys 10,11 are new
    source = spark.createDataFrame(
        [(0, "b", 100.0), (2, "b", 102.0), (3, "b", 103.0),
         (10, "a", 110.0), (11, "b", 111.0)],
        "k long, p string, v double",
    )
    merge_upsert_write(spark, path, source, "k", partition_col="p")
    out = spark.read.parquet(path)
    assert out.count() == 12
    assert out.select("k").distinct().count() == 12
    moved = {r["p"] for r in out.where("k in (0, 2)").collect()}
    assert moved == {"b"}
    assert out.where("k = 0").first()["v"] == 100.0


def test_upsert_partitioned_vanishing_partition_fallback(spark, tmp_path):
    """If every row of a partition is matched away, the partition must not
    survive (dynamic overwrite cannot delete it; the writer falls back to a
    full rewrite)."""
    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "c", 2.0)], "k long, p string, v double"
    )
    merge_upsert_write(spark, path, target, "k", partition_col="p")
    source = spark.createDataFrame([(2, "a", 20.0)], "k long, p string, v double")
    merge_upsert_write(spark, path, source, "k", partition_col="p")
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert {r["p"] for r in out.collect()} == {"a"}


def test_upsert_partitioned_restores_overwrite_mode(spark, tmp_path):
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    df = spark.createDataFrame([(1, "a", 1.0)], "k long, p string, v double")
    path = str(tmp_path / "t")
    merge_upsert_write(spark, path, df, "k", partition_col="p")
    merge_upsert_write(spark, path, df, "k", partition_col="p")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode", None) == prior


def test_upsert_partitioned_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """The partition-scoped merge asks for dynamic overwrite on its own
    writer: it sets and unsets no session conf (a flip would race with
    other work in the session), and still replaces only the partition
    it writes."""
    from pyspark.sql.conf import RuntimeConfig

    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, p string, v double"
    )
    merge_upsert_write(spark, path, target, "k", partition_col="p")
    calls = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def rec_set(self, key, value):
        calls.append(("set", key))
        return real_set(self, key, value)

    def rec_unset(self, key):
        calls.append(("unset", key))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", rec_set)
    monkeypatch.setattr(RuntimeConfig, "unset", rec_unset)
    source = spark.createDataFrame([(1, "a", 10.0)], "k long, p string, v double")
    merge_upsert_write(spark, path, source, "k", partition_col="p")
    monkeypatch.undo()
    assert calls == []
    out = {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert out == {1: ("a", 10.0), 2: ("b", 2.0)}


def test_serving_layer_on_star_schema(spark, bronze):
    from snowflake_stock_dbt_spark.serving import apply_filters, distinct_options

    built = run_dag(spark, stock_dag(), {"most_actives_raw": bronze}, run_tests=False)
    joined = built["fct_observations"].join(
        F.broadcast(built["dim_entity"]), "entity_sk"
    )
    opts = distinct_options(joined, "category")
    assert "EQUITY" in opts
    top = apply_filters(
        joined,
        equality_filters={"category": "EQUITY", "location": "All"},
        metric="volume",
        min_threshold=0,
        sort_by="volume",
        tiebreaker="observation_sk",
        limit=5,
    ).collect()
    assert len(top) == 5
    vols = [r["volume"] for r in top]
    assert vols == sorted(vols, reverse=True)


def test_json_bronze_matches_csv_bronze(spark, landing_csv):
    """The scraper's JSON sink read back through read_raw_json must yield
    the same bronze rows (minus per-load audit columns) as the CSV path —
    S3/S4 are two serializations of one snapshot."""
    from snowflake_stock_dbt_spark.sources.csv_bronze import read_raw_json

    json_path = landing_csv.replace(".csv", ".json")
    jb = read_raw_json(spark, json_path)
    cb = read_raw_csv(spark, landing_csv)
    data_cols = [
        c for c in jb.columns
        if c not in ("load_id", "ingested_at", "source_file_name")
    ]
    jrows = sorted(tuple(r) for r in jb.select(*data_cols).collect())
    crows = sorted(tuple(r) for r in cb.select(*data_cols).collect())
    assert jrows == crows
    assert {r["source_row_number"] for r in jb.collect()} == set(range(1, 101))


def test_failfast_aborts_on_malformed_json(spark, tmp_path):
    """ON_ERROR = ABORT_STATEMENT parity: a malformed landing document must
    fail the load loudly, not load partially."""
    import pytest as _pytest

    from snowflake_stock_dbt_spark.sources.csv_bronze import read_raw_json

    bad = tmp_path / "bad.json"
    bad.write_text('[{"symbol": "AAA", "price": "1.0"}, {broken')
    with _pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
        read_raw_json(spark, str(bad)).collect()

"""Parity of the one-action check evaluator (quality/checks.py:check_model)
with failure counts computed in plain Python over the collected rows.

The frames are adversarial: duplicate and NULL ``observation_sk``, NULL
``symbol``/``entity_name``/``scraped_at``, a fact ``entity_sk`` missing from
the dimension, and a NULL fact ``entity_sk``. ``dim_entity`` and
``fct_observations`` are built from the same staging frame, the shape in
which a unioned check plan once mis-bound an attribute (dbt.py:
run_schema_tests)."""

from __future__ import annotations

import datetime as dt
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from snowflake_stock_dbt_spark.models import Model, run_dag, stock_dag
from snowflake_stock_dbt_spark.models.stock import dim_entity
from snowflake_stock_dbt_spark.quality.checks import (
    accepted_range,
    check_model,
    not_null,
    relationships,
    unique,
)

STG_SCHEMA = (
    "entity_sk string, observation_sk string, symbol string, entity_name string, "
    "category string, location string, exchange string, currency string, "
    "price decimal(18,4), market_cap bigint, volume bigint, avg_volume_3m bigint, "
    "source_url string, scraped_at timestamp, scraped_date date"
)

# The suites of models/stock.py, as (check, column) in schema.yml order.
SUITES = {
    "stg_most_actives": [
        ("unique", "observation_sk"),
        ("not_null", "observation_sk"),
        ("not_null", "entity_sk"),
        ("not_null", "symbol"),
        ("not_null", "scraped_at"),
    ],
    "dim_entity": [
        ("unique", "entity_sk"),
        ("not_null", "entity_sk"),
        ("not_null", "symbol"),
        ("not_null", "entity_name"),
    ],
    "fct_observations": [
        ("unique", "observation_sk"),
        ("not_null", "observation_sk"),
        ("not_null", "entity_sk"),
        ("not_null", "observation_date"),
        ("relationships", "entity_sk->entity_sk"),
    ],
}


def _ts(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day, 15, 30)


def _stg_rows():
    # (entity_sk, observation_sk, symbol, entity_name, price, scraped_at day)
    spec = [
        ("e1", "o1", "AAA", "A Corp", "10.5", 1),
        ("e1", "o1", "AAA", "A Corp", "11.0", 1),  # o1 three times: one dup key
        ("e1", "o1", "AAA", "A Corp", None, 1),
        ("e2", "o2", "BBB", None, "25.0", 2),  # NULL entity_name
        ("e2", "o3", None, "B Corp", "9.0", 3),  # NULL symbol, latest for e2
        ("e3", None, "CCC", "C Corp", "15.0", None),  # NULL obs key, NULL scraped_at
        ("e3", None, "CCC", None, "16.0", 4),  # NULL keys never count as dups
        (None, "o4", "DDD", "D Corp", "30.0", 5),  # NULL entity_sk
        ("e_orphan", "o5", "EEE", "E Corp", "12.0", 6),  # dropped from dim below
        ("e_orphan", "o6", "EEE", "E Corp", "8.0", 7),
        ("e4", "o7", "FFF", "F Corp", "20.0", 8),
        ("e4", "o7", None, "F Corp", "20.0", 9),  # second dup key, NULL symbol
    ]
    rows = []
    for ent, obs, sym, name, price, day in spec:
        ts = _ts(day) if day is not None else None
        rows.append((
            ent, obs, sym, name, "EQUITY", "US", "NYSE", "USD",
            Decimal(price) if price is not None else None,
            10**9, 10**6, 9 * 10**5, "https://example.invalid/screener",
            ts, ts.date() if ts else None,
        ))
    return rows


@pytest.fixture(scope="module")
def star(spark):
    """stg, dim and fct built by run_dag from one staging frame; dim drops
    ``e_orphan`` (keeping the NULL entity) so two fact rows reference a
    missing parent."""
    stg_model, dim_model, fct_model = stock_dag()
    models = [
        Model(stg_model.name, lambda b: b["stg_src"].select("*"), ["stg_src"], stg_model.checks),
        Model(
            dim_model.name,
            lambda b: dim_entity(b).where(~F.col("entity_sk").eqNullSafe("e_orphan")),
            dim_model.deps,
            dim_model.checks,
        ),
        fct_model,
    ]
    src = spark.createDataFrame(_stg_rows(), STG_SCHEMA)
    built = run_dag(spark, models, {"stg_src": src}, materialize_views=False, run_tests=False)
    return models, src, built


def _py_unique(rows, col):
    counts = Counter(r[col] for r in rows if r[col] is not None)
    return sum(1 for n in counts.values() if n > 1)


def _py_not_null(rows, col):
    return sum(1 for r in rows if r[col] is None)


def _py_relationships(child_rows, col, parent_rows, parent_col):
    keys = {r[parent_col] for r in parent_rows if r[parent_col] is not None}
    return sum(1 for r in child_rows if r[col] is not None and r[col] not in keys)


def _py_accepted_range(rows, col, lo, hi):
    return sum(
        1
        for r in rows
        if r[col] is not None
        and ((lo is not None and r[col] < lo) or (hi is not None and r[col] > hi))
    )


def _expected_suite(name, collected):
    rows = collected[name]
    out = []
    for check, column in SUITES[name]:
        if check == "unique":
            n = _py_unique(rows, column)
        elif check == "not_null":
            n = _py_not_null(rows, column)
        else:
            col, parent_col = column.split("->")
            n = _py_relationships(rows, col, collected["dim_entity"], parent_col)
        out.append((check, column, n))
    return out


def _triples(results):
    return [(r.check, r.column, r.failures) for r in results]


def test_stock_suites_match_python_counts(star):
    models, _, built = star
    collected = {m.name: built[m.name].collect() for m in models}
    # The fixture really is adversarial: every suite has failures.
    assert len(collected["dim_entity"]) == 5
    for m in models:
        expected = _expected_suite(m.name, collected)
        assert any(n for _, _, n in expected), m.name
        assert _triples(m.checks(built[m.name], built)) == expected, m.name


def test_standalone_checks_match_python_counts(star):
    _, _, built = star
    stg, dim, fct = (built[n] for n in SUITES)
    rows = {n: built[n].collect() for n in SUITES}
    for name, df in (("stg_most_actives", stg), ("dim_entity", dim), ("fct_observations", fct)):
        for col in ("entity_sk", "symbol"):
            assert _triples([not_null(df, col)]) == [("not_null", col, _py_not_null(rows[name], col))]
            assert _triples([unique(df, col)]) == [("unique", col, _py_unique(rows[name], col))]
    assert _triples([relationships(fct, "entity_sk", dim, "entity_sk")]) == [
        ("relationships", "entity_sk->entity_sk",
         _py_relationships(rows["fct_observations"], "entity_sk", rows["dim_entity"], "entity_sk"))
    ]
    for lo, hi in ((Decimal(10), Decimal(20)), (None, Decimal(15)), (Decimal(12), None), (None, None)):
        assert _triples([accepted_range(fct, "price", lo, hi)]) == [
            ("accepted_range", "price", _py_accepted_range(rows["fct_observations"], "price", lo, hi))
        ]


def test_check_model_mixed_suite_and_empty_frame(star):
    """Every kind of check in one call, with two relationships parents and
    a repeated column, comes back in argument order; an empty frame
    passes everything."""
    _, src, built = star
    stg, dim, fct = (built[n] for n in SUITES)
    fct_rows, dim_rows, stg_rows = fct.collect(), dim.collect(), stg.collect()
    got = check_model(
        fct,
        unique="entity_sk",
        not_null=["symbol", "symbol", "scraped_at"],
        relationships=[("entity_sk", dim, "entity_sk"), ("observation_sk", stg, "observation_sk")],
        accepted_range=[("price", Decimal(10), Decimal(20)), ("volume", None, 10**5)],
    )
    assert _triples(got) == [
        ("unique", "entity_sk", _py_unique(fct_rows, "entity_sk")),
        ("not_null", "symbol", _py_not_null(fct_rows, "symbol")),
        ("not_null", "symbol", _py_not_null(fct_rows, "symbol")),
        ("not_null", "scraped_at", _py_not_null(fct_rows, "scraped_at")),
        ("relationships", "entity_sk->entity_sk",
         _py_relationships(fct_rows, "entity_sk", dim_rows, "entity_sk")),
        ("relationships", "observation_sk->observation_sk",
         _py_relationships(fct_rows, "observation_sk", stg_rows, "observation_sk")),
        ("accepted_range", "price", _py_accepted_range(fct_rows, "price", Decimal(10), Decimal(20))),
        ("accepted_range", "volume", _py_accepted_range(fct_rows, "volume", None, 10**5)),
    ]
    empty = check_model(
        src.limit(0), unique="observation_sk", not_null=["symbol"],
        relationships=[("entity_sk", dim, "entity_sk")],
    )
    assert [r.failures for r in empty] == [0, 0, 0]
    assert check_model(src) == []


def test_run_dag_raises_naming_every_failing_check(spark, star):
    models, src, built = star
    collected = {m.name: built[m.name].collect() for m in models}
    failing = [
        f"{check}({column})={n}"
        for m in models
        for check, column, n in _expected_suite(m.name, collected)
        if n
    ]
    with pytest.raises(AssertionError) as err:
        run_dag(spark, models, {"stg_src": src}, materialize_views=False, run_tests=True)
    assert str(err.value) == "data-quality failures: " + "; ".join(failing)

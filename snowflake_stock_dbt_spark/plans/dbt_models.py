"""dbt-verbatim queries: the reference's dbt model files run unmodified.

q128–q130 materialize ``stg_most_actives`` → ``dim_entity`` /
``fct_observations`` by executing the reference's OWN model SQL from
disk (dbt.DbtProjectRunner over the worksheet-verbatim session — the
same run that COPY-INTO-loads ``most_actives_raw`` for q107–q109), and
q131 runs the project's full schema.yml test suite as one lazy plan.

Determinism contract (what makes the verbatim run value-oracle-able):

- the raw table comes from the q107 deterministic scrape feed
  (plans/worksheets.SCRAPE_FEED_CTES — a portable SQL derivation from
  ``customer`` that both engines evaluate identically);
- ``ingested_at`` is the worksheet runner's pinned clock, so the stg
  model's ``ORDER BY ingested_at DESC`` dedup ties only among rows that
  are identical in every *selected* column (the feed's exact-duplicate
  rows) — the output set is unique regardless of which one wins;
- ``load_id`` (UUID), ``source_file_name`` and ``source_row_number``
  (landing-path/file-split dependent) are projected OUT of the checked
  output — they are the only nondeterministic raw columns and the dbt
  models themselves never read them into dim/fct;
- DECIMAL outputs are cast to driver-safe BIGINT/DOUBLE exactly as
  q108 does (tests/test_oracle_types.py: the comparator is pandas).

The DuckDB oracles replay the model SQL's semantics over the same feed
CTE — TRY_TO_* → TRY_CAST, SHA2(x,256) → sha256, TO_VARCHAR →
CAST AS VARCHAR, QUALIFY verbatim — so COPY INTO + dbt DAG + tests are
hash-checked end-to-end, the same proof shape as q107–q114.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dbt import DbtProjectRunner, schema_tests_df
from ..sources.tables import session_memo
from .worksheets import (
    CLOCK,
    SCRAPE_FEED_CTES,
    run_load_worksheets,
    worksheets_available,
)

REFERENCE_DBT_DIR = os.environ.get(
    "SPARK_GRAFT_REFERENCE_DBT", "/root/reference/dbt_project"
)


def dbt_available() -> bool:
    return os.path.isdir(os.path.join(REFERENCE_DBT_DIR, "models"))


def run_dbt_project(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Materialize the reference dbt DAG on top of the worksheet-verbatim
    load session. Memoized per corpus state like the load run — models
    stay lazy; only parse/plan construction is shared."""

    def run() -> dict[str, DataFrame]:
        runner, _ = run_load_worksheets(spark, sf_dir)
        proj = DbtProjectRunner(runner)
        proj.add_source("raw", "most_actives_raw", "most_actives_raw")
        return proj.run_models(os.path.join(REFERENCE_DBT_DIR, "models"))

    return session_memo(spark, sf_dir, "dbt_project", run)


def _driver_safe(df: DataFrame, drop: tuple[str, ...] = ()) -> DataFrame:
    """Project out nondeterministic columns and map DECIMALs to the
    comparator-safe types (price -> double, counts -> bigint)."""
    cols = []
    for f_ in df.schema.fields:
        if f_.name in drop:
            continue
        t = f_.dataType.simpleString()
        if t.startswith("decimal"):
            target = "double" if f_.name == "price" else "bigint"
            cols.append(F.col(f_.name).cast(target).alias(f_.name))
        else:
            cols.append(F.col(f_.name))
    return df.select(*cols)


def q128_dbt_stg_most_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reference dbt_project/models/stg_most_actives.sql:1-56, verbatim."""
    models = run_dbt_project(spark, sf_dir)
    return _driver_safe(
        models["stg_most_actives"],
        drop=("load_id", "source_file_name", "source_row_number"),
    )


def q129_dbt_dim_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reference dbt_project/models/dim_entity.sql:1-31, verbatim."""
    models = run_dbt_project(spark, sf_dir)
    return _driver_safe(models["dim_entity"])


def q130_dbt_fct_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reference dbt_project/models/fct_observations.sql:1-30, verbatim."""
    models = run_dbt_project(spark, sf_dir)
    return _driver_safe(models["fct_observations"])


def q131_dbt_schema_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reference dbt_project/models/schema.yml:1-76 — every declared
    not_null/unique/relationships test as (model, column, test,
    failures); the feed's injected faults (unparseable timestamps %101,
    missing names %89) make several counts legitimately non-zero, so the
    test MACHINERY itself is value-checked, not just a row of zeros."""
    models = run_dbt_project(spark, sf_dir)
    return schema_tests_df(
        os.path.join(REFERENCE_DBT_DIR, "models", "schema.yml"), models
    )


# ---------------------------------------------------------------------------
# Oracles: the model DAG replayed over the same feed derivation.
# ---------------------------------------------------------------------------

#: stg_most_actives replay: standardized -> hashed -> QUALIFY-deduped.
#: ingested_at is the pinned clock; the dedup ORDER BY is then a tie over
#: identical selected rows, so ROW_NUMBER keeps exactly one of them on
#: both engines.
_STG_CTES = f"""
{SCRAPE_FEED_CTES},
standardized AS (
    SELECT
        NULLIF(TRIM(symbol), '') AS symbol,
        NULLIF(TRIM(entity_name), '') AS entity_name,
        COALESCE(NULLIF(TRIM(category), ''), 'Unknown') AS category,
        COALESCE(NULLIF(TRIM(location), ''), 'Unknown') AS location,
        NULLIF(TRIM(exchange), '') AS exchange,
        NULLIF(TRIM(currency), '') AS currency,
        TRY_CAST(price AS DECIMAL(18,4)) AS price,
        TRY_CAST(market_cap AS DECIMAL(38,0)) AS market_cap,
        TRY_CAST(volume AS DECIMAL(38,0)) AS volume,
        TRY_CAST(avg_volume_3m AS DECIMAL(38,0)) AS avg_volume_3m,
        source_url,
        TRY_CAST(scraped_at AS TIMESTAMP) AS scraped_at,
        CAST(TRY_CAST(scraped_at AS TIMESTAMP) AS DATE) AS scraped_date,
        TIMESTAMP '{CLOCK}' AS ingested_at
    FROM scrape_feed
),
stg AS (
    SELECT
        sha256(concat_ws('|',
            COALESCE(symbol, ''), COALESCE(entity_name, ''),
            COALESCE(exchange, ''))) AS entity_sk,
        sha256(concat_ws('|',
            COALESCE(symbol, ''), COALESCE(entity_name, ''),
            COALESCE(exchange, ''),
            COALESCE(CAST(scraped_at AS VARCHAR), ''))) AS observation_sk,
        *
    FROM standardized
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY symbol, entity_name, exchange, scraped_at
        ORDER BY ingested_at DESC NULLS LAST
    ) = 1
)
"""

Q128_SQL = f"""
WITH {_STG_CTES}
SELECT entity_sk, observation_sk, symbol, entity_name, category, location,
       exchange, currency,
       CAST(price AS DOUBLE) AS price,
       CAST(market_cap AS BIGINT) AS market_cap,
       CAST(volume AS BIGINT) AS volume,
       CAST(avg_volume_3m AS BIGINT) AS avg_volume_3m,
       source_url, scraped_at, scraped_date, ingested_at
FROM stg
"""

Q129_SQL = f"""
WITH {_STG_CTES},
ranked AS (
    SELECT entity_sk, symbol, entity_name, category, location, exchange,
           currency, scraped_at,
           ROW_NUMBER() OVER (
               PARTITION BY entity_sk
               ORDER BY scraped_at DESC NULLS LAST
           ) AS rn
    FROM stg
)
SELECT entity_sk, symbol, entity_name, category, location, exchange,
       currency, scraped_at AS last_seen_scraped_at
FROM ranked WHERE rn = 1
"""

Q130_SQL = f"""
WITH {_STG_CTES}
SELECT observation_sk, entity_sk, symbol,
       scraped_date AS observation_date, scraped_at,
       CAST(price AS DOUBLE) AS price,
       CAST(market_cap AS BIGINT) AS market_cap,
       CAST(volume AS BIGINT) AS volume,
       CAST(avg_volume_3m AS BIGINT) AS avg_volume_3m,
       source_url
FROM stg
"""

#: The schema.yml test suite replayed as count queries over the same
#: stg/dim/fct derivations (dim = ranked rn=1; fct = stg projection).
Q131_SQL = f"""
WITH {_STG_CTES},
dim AS (
    SELECT entity_sk, symbol, entity_name
    FROM (
        SELECT entity_sk, symbol, entity_name,
               ROW_NUMBER() OVER (
                   PARTITION BY entity_sk
                   ORDER BY scraped_at DESC NULLS LAST
               ) AS rn
        FROM stg
    ) WHERE rn = 1
),
fct AS (
    SELECT observation_sk, entity_sk, scraped_date AS observation_date
    FROM stg
)
SELECT 'stg_most_actives' AS model_name, 'observation_sk' AS column_name,
       'not_null' AS test_name,
       CAST((SELECT COUNT(*) FROM stg WHERE observation_sk IS NULL) AS BIGINT)
           AS failures
UNION ALL
SELECT 'stg_most_actives', 'observation_sk', 'unique',
       CAST((SELECT COUNT(*) FROM (
           SELECT observation_sk FROM stg WHERE observation_sk IS NOT NULL
           GROUP BY observation_sk HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'stg_most_actives', 'entity_sk', 'not_null',
       CAST((SELECT COUNT(*) FROM stg WHERE entity_sk IS NULL) AS BIGINT)
UNION ALL
SELECT 'stg_most_actives', 'symbol', 'not_null',
       CAST((SELECT COUNT(*) FROM stg WHERE symbol IS NULL) AS BIGINT)
UNION ALL
SELECT 'stg_most_actives', 'scraped_at', 'not_null',
       CAST((SELECT COUNT(*) FROM stg WHERE scraped_at IS NULL) AS BIGINT)
UNION ALL
SELECT 'dim_entity', 'entity_sk', 'not_null',
       CAST((SELECT COUNT(*) FROM dim WHERE entity_sk IS NULL) AS BIGINT)
UNION ALL
SELECT 'dim_entity', 'entity_sk', 'unique',
       CAST((SELECT COUNT(*) FROM (
           SELECT entity_sk FROM dim WHERE entity_sk IS NOT NULL
           GROUP BY entity_sk HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'dim_entity', 'symbol', 'not_null',
       CAST((SELECT COUNT(*) FROM dim WHERE symbol IS NULL) AS BIGINT)
UNION ALL
SELECT 'dim_entity', 'entity_name', 'not_null',
       CAST((SELECT COUNT(*) FROM dim WHERE entity_name IS NULL) AS BIGINT)
UNION ALL
SELECT 'fct_observations', 'observation_sk', 'not_null',
       CAST((SELECT COUNT(*) FROM fct WHERE observation_sk IS NULL) AS BIGINT)
UNION ALL
SELECT 'fct_observations', 'observation_sk', 'unique',
       CAST((SELECT COUNT(*) FROM (
           SELECT observation_sk FROM fct WHERE observation_sk IS NOT NULL
           GROUP BY observation_sk HAVING COUNT(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'fct_observations', 'entity_sk', 'not_null',
       CAST((SELECT COUNT(*) FROM fct WHERE entity_sk IS NULL) AS BIGINT)
UNION ALL
SELECT 'fct_observations', 'entity_sk', 'relationships',
       CAST((SELECT COUNT(*) FROM fct
             WHERE entity_sk IS NOT NULL
               AND entity_sk NOT IN (SELECT entity_sk FROM dim
                                     WHERE entity_sk IS NOT NULL)) AS BIGINT)
UNION ALL
SELECT 'fct_observations', 'observation_date', 'not_null',
       CAST((SELECT COUNT(*) FROM fct WHERE observation_date IS NULL) AS BIGINT)
"""


DBT_QUERIES = {
    "q128_dbt_stg_most_actives": q128_dbt_stg_most_actives,
    "q129_dbt_dim_entity": q129_dbt_dim_entity,
    "q130_dbt_fct_observations": q130_dbt_fct_observations,
    "q131_dbt_schema_tests": q131_dbt_schema_tests,
}

DBT_ORACLES: dict[str, str] = {}
if dbt_available() and worksheets_available():
    DBT_ORACLES = {
        "q128_dbt_stg_most_actives": Q128_SQL,
        "q129_dbt_dim_entity": Q129_SQL,
        "q130_dbt_fct_observations": Q130_SQL,
        "q131_dbt_schema_tests": Q131_SQL,
    }
else:  # pragma: no cover - reference tree absent
    DBT_QUERIES = {}

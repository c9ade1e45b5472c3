"""The stock star-schema models — the engine's dbt project.

bronze (most_actives_raw) → stg_most_actives → {dim_entity, fct_observations},
mirroring dbt_project/models/{stg_most_actives,dim_entity,fct_observations}.sql
with the same keys, dedup, typing and test suite (schema.yml).

Hash-key decision (SURVEY.md §7.3): the reference hashes the RAW scraped_at
string in the MERGE path (sql/02_load_data.sql:90) but TO_VARCHAR(timestamp)
in dbt (stg_most_actives.sql:44) — two renderings of one instant can hash
differently. This engine hashes the raw source string end-to-end, so
observation_sk is stable from bronze to star regardless of timestamp
formatting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    clean_string,
    try_decimal,
    try_long,
    try_timestamp,
)
from ..functions.keys import sha_key
from ..operators.dedup import latest_wins
from ..quality.checks import CheckResult, check_model
from .dag import Model


def stg_most_actives(inputs: dict[str, DataFrame]) -> DataFrame:
    """Typed, keyed, deduped staging model
    (reference dbt_project/models/stg_most_actives.sql:5-56).

    - entity_sk = sha256('|'-joined trimmed symbol/entity_name/exchange)
    - observation_sk = entity_sk inputs + raw scraped_at string
    - TRY_-casts null malformed numerics (TRY_TO_DECIMAL/NUMBER parity)
    - latest-wins dedup per natural key ordered by ingested_at DESC
      (stg_most_actives.sql:50-53, with the explicit nulls-last ordering)
    """
    bronze = inputs["most_actives_raw"]
    typed = bronze.select(
        sha_key("symbol", "entity_name", "exchange").alias("entity_sk"),
        sha_key("symbol", "entity_name", "exchange", "scraped_at").alias(
            "observation_sk"
        ),
        clean_string("symbol").alias("symbol"),
        clean_string("entity_name").alias("entity_name"),
        clean_string("category").alias("category"),
        clean_string("location").alias("location"),
        clean_string("exchange").alias("exchange"),
        clean_string("currency").alias("currency"),
        try_decimal("price", 18, 4).alias("price"),
        try_long("market_cap").alias("market_cap"),
        try_long("volume").alias("volume"),
        try_long("avg_volume_3m").alias("avg_volume_3m"),
        F.col("source_url"),
        try_timestamp("scraped_at").alias("scraped_at"),
        F.to_date(try_timestamp("scraped_at")).alias("scraped_date"),
        F.col("ingested_at"),
    )
    return latest_wins(
        typed,
        keys=["symbol", "entity_name", "exchange", "scraped_at"],
        order_by=[F.col("ingested_at").desc_nulls_last()],
    ).drop("ingested_at")


def dim_entity(inputs: dict[str, DataFrame]) -> DataFrame:
    """One latest row per entity (reference dbt_project/models/dim_entity.sql:15-31):
    latest by scraped_at DESC NULLS LAST per entity_sk."""
    stg = inputs["stg_most_actives"]
    latest = latest_wins(
        stg,
        keys=["entity_sk"],
        order_by=[F.col("scraped_at").desc_nulls_last()],
    )
    return latest.select(
        "entity_sk",
        "symbol",
        "entity_name",
        "category",
        "location",
        "exchange",
        "currency",
        F.col("scraped_at").alias("last_seen_scraped_at"),
    )


def fct_observations(inputs: dict[str, DataFrame]) -> DataFrame:
    """One row per entity × scrape timestamp
    (reference dbt_project/models/fct_observations.sql:5-30):
    rename scraped_date -> observation_date, keep metrics."""
    stg = inputs["stg_most_actives"]
    return stg.select(
        "observation_sk",
        "entity_sk",
        "symbol",
        F.col("scraped_date").alias("observation_date"),
        "scraped_at",
        "price",
        "market_cap",
        "volume",
        "avg_volume_3m",
        "source_url",
    )


def _stg_checks(df: DataFrame, _: dict[str, DataFrame]) -> list[CheckResult]:
    """schema.yml:16-32."""
    return check_model(
        df,
        unique="observation_sk",
        not_null=["observation_sk", "entity_sk", "symbol", "scraped_at"],
    )


def _dim_checks(df: DataFrame, _: dict[str, DataFrame]) -> list[CheckResult]:
    """schema.yml:34-49."""
    return check_model(
        df, unique="entity_sk", not_null=["entity_sk", "symbol", "entity_name"]
    )


def _fct_checks(df: DataFrame, built: dict[str, DataFrame]) -> list[CheckResult]:
    """schema.yml:51-76 incl. the relationships test to dim_entity."""
    return check_model(
        df,
        unique="observation_sk",
        not_null=["observation_sk", "entity_sk", "observation_date"],
        relationships=[("entity_sk", built["dim_entity"], "entity_sk")],
    )


def stock_dag() -> list[Model]:
    """The reference's model graph: raw → stg → {dim, fct} + tests."""
    return [
        Model("stg_most_actives", stg_most_actives, ["most_actives_raw"], _stg_checks),
        Model("dim_entity", dim_entity, ["stg_most_actives"], _dim_checks),
        Model(
            "fct_observations", fct_observations, ["stg_most_actives"], _fct_checks
        ),
    ]

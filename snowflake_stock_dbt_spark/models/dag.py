"""Tiny model DAG runner — the engine's dbt.

dbt compiles ref()/source() Jinja into a dependency graph and materializes
each model in topological order, then runs declarative tests
(reference dbt_project/models/*.sql:3, schema.yml). Here a model is a pure
function ``dict[name, DataFrame] -> DataFrame`` with declared deps and a
check suite; materialization is a temp view (and optionally Parquet).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..quality.checks import CheckResult, run_checks


@dataclass
class Model:
    name: str
    fn: Callable[[dict[str, DataFrame]], DataFrame]
    deps: list[str] = field(default_factory=list)
    checks: Callable[[DataFrame, dict[str, DataFrame]], list[CheckResult]] | None = None


def run_dag(
    spark: SparkSession,
    models: list[Model],
    sources: dict[str, DataFrame],
    materialize_views: bool = True,
    run_tests: bool = True,
) -> dict[str, DataFrame]:
    """Materialize models in topological order; run each model's check suite
    after the full build (like ``dbt run`` then ``dbt test``).

    Every suite runs before any failure is raised, and the
    ``AssertionError`` names each failing check of every model with its
    count, as ``dbt test`` reports all failures. The stock models' suites
    (models/stock.py) are each one ``quality.checks.check_model`` call,
    so a model's checks cost one Spark action, not one per check."""
    built: dict[str, DataFrame] = dict(sources)
    remaining = list(models)
    while remaining:
        ready = [m for m in remaining if all(d in built for d in m.deps)]
        if not ready:
            unmet = {m.name: [d for d in m.deps if d not in built] for m in remaining}
            raise ValueError(f"model DAG has unmet/cyclic deps: {unmet}")
        for m in ready:
            df = m.fn(built)
            built[m.name] = df
            if materialize_views:
                df.createOrReplaceTempView(m.name)
            remaining.remove(m)
    if run_tests:
        run_checks([c for m in models if m.checks for c in m.checks(built[m.name], built)])
    return built

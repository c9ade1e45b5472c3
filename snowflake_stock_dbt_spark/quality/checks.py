"""dbt-style declarative data-quality checks (SURVEY.md §5).

The reference tests data, not code: dbt ``not_null``/``unique``/
``relationships`` tests (dbt_project/models/schema.yml:16-76) plus strict
post-load aggregates (sql/02_load_data.sql:62-73,167-182). Here a model's
whole check suite runs like ``dbt test`` after materialization, through
one evaluator, :func:`check_model`.

``check_model`` compiles every check of one model into a single
aggregation and runs it as one Spark action, with no ``union``: each
``relationships`` parent joins in as its distinct keys with a match flag,
a group on the model's unique key counts rows per key plus one
failing-row partial per check, and observed metrics (``Dataset.observe``
on a ``noop`` write) sum the partials and count the duplicated keys in
the action's last stage. So an unmaterialized model is derived once per
suite, not once per check, and only counts reach the driver, which keeps
the suite 100 TB-safe. ``not_null``, ``unique``, ``relationships`` and
``accepted_range`` are one-check calls of it.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    check: str
    column: str
    failures: int

    @property
    def passed(self) -> bool:
        return self.failures == 0


def check_model(
    df: DataFrame,
    unique: str | None = None,
    not_null: Sequence[str] = (),
    relationships: Sequence[tuple[str, DataFrame, str]] = (),
    accepted_range: Sequence[tuple[str, Any, Any]] = (),
) -> list[CheckResult]:
    """Evaluate one model's checks in one Spark action; results come back
    in argument order (unique, not_null..., relationships...,
    accepted_range...).

    - ``unique``: non-NULL values appearing more than once, counted as
      keys (the group/having shape of sql/02_load_data.sql:170-175).
    - ``not_null``: rows where the column is NULL.
    - ``relationships``: ``(col, parent, parent_col)`` — rows whose
      non-NULL ``col`` has no match in ``parent.parent_col``
      (schema.yml:62-65).
    - ``accepted_range``: ``(col, min_value, max_value)`` — non-NULL values
      outside the bounds; a ``None`` bound is open, and NULLs pass (pair
      with ``not_null``).
    """
    rows = df
    specs = []  # (check, column label, failing-row predicate)
    for col in not_null:
        specs.append(("not_null", col, F.col(col).isNull()))
    for i, (col, parent, parent_col) in enumerate(relationships):
        key, hit = f"__rel{i}_key", f"__rel{i}_hit"
        keys = parent.select(F.col(parent_col).alias(key)).distinct()
        # The parent keys are distinct, so the left join adds no rows.
        rows = rows.join(keys.withColumn(hit, F.lit(True)), F.col(col) == F.col(key), "left")
        specs.append(("relationships", f"{col}->{parent_col}",
                      F.col(col).isNotNull() & F.col(hit).isNull()))
    for col, min_value, max_value in accepted_range:
        outside = F.lit(False)
        if min_value is not None:
            outside = outside | (F.col(col) < min_value)
        if max_value is not None:
            outside = outside | (F.col(col) > max_value)
        specs.append(("accepted_range", col, F.col(col).isNotNull() & outside))

    names = [f"__f{i}" for i in range(len(specs))]
    metrics = [F.count_if(pred).alias(n) for n, (_, _, pred) in zip(names, specs)]
    if unique is not None:
        # Per-key row counts and partials, summed by the observed metrics.
        rows = rows.groupBy(F.col(unique).alias("__key")).agg(
            F.count(F.lit(1)).alias("__n"), *metrics
        )
        dups = F.count_if(F.col("__key").isNotNull() & (F.col("__n") > 1)).alias("__dups")
        metrics = [dups] + [F.coalesce(F.sum(n), F.lit(0)).alias(n) for n in names]
        names = ["__dups", *names]
        specs = [("unique", unique, None), *specs]
    if not specs:
        return []
    # Observed metrics fold into the action's last stage, where a global
    # aggregate would add a single-partition exchange and one more job.
    obs = Observation()
    rows.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    counts = obs.get
    return [CheckResult(check, col, int(counts[n])) for n, (check, col, _) in zip(names, specs)]


def not_null(df: DataFrame, col: str) -> CheckResult:
    """dbt not_null (schema.yml:16-32,42-49,66-69)."""
    return check_model(df, not_null=[col])[0]


def unique(df: DataFrame, col: str) -> CheckResult:
    """dbt unique (schema.yml:16-20,37-41,54-58): values appearing > once."""
    return check_model(df, unique=col)[0]


def relationships(child: DataFrame, col: str, parent: DataFrame, parent_col: str) -> CheckResult:
    """dbt relationships (schema.yml:62-65): every non-NULL child FK value
    must exist in the parent."""
    return check_model(child, relationships=[(col, parent, parent_col)])[0]


def accepted_range(
    df: DataFrame, col: str, min_value=None, max_value=None
) -> CheckResult:
    """Values outside [min_value, max_value] (NULLs pass — pair with not_null)."""
    return check_model(df, accepted_range=[(col, min_value, max_value)])[0]


def run_checks(checks: list[CheckResult], raise_on_failure: bool = True) -> list[CheckResult]:
    """Evaluate a suite like ``dbt test``; raise listing every failure."""
    failed = [c for c in checks if not c.passed]
    if failed and raise_on_failure:
        detail = "; ".join(f"{c.check}({c.column})={c.failures}" for c in failed)
        raise AssertionError(f"data-quality failures: {detail}")
    return checks

"""The session memo (sources/tables.py:session_memo) is keyed on the
data: a query that memoizes state derived from the corpus (parquet
schemas, trained codebooks and tokenizers, corpus counts, landing dirs,
worksheet and dbt runs) rebuilds it when the corpus is rewritten in the
middle of a session, so its result matches the oracle on the new rows."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from snowflake_stock_dbt_spark.plans import ALL_ORACLES, ALL_QUERIES
from snowflake_stock_dbt_spark.sources import tables

from .oracle_utils import compare_query


def _drop_every_third(t: pa.Table) -> pa.Table:
    return t.filter(pa.array([i % 3 != 0 for i in range(t.num_rows)]))


def _reverse_text(t: pa.Table) -> pa.Table:
    text = [None if s is None else s[::-1] for s in t.column("text").to_pylist()]
    i = t.schema.get_field_index("text")
    return t.set_column(i, t.schema.field(i), pa.array(text, pa.string()))


#: Query -> (what it memoizes, the table rewrites that change its result).
MEMO_QUERIES = {
    "q118_semantic_dedup": (
        "k-means codebook + embeddings row count",
        {"embeddings": _drop_every_third},
    ),
    "q132_bpe_encode": ("BPE merge list", {"documents": _reverse_text}),
    "q142_stream_left_outer_join": (
        "flush-sentinel landing dir",
        {"events": _drop_every_third},
    ),
    "q197_warmstart_totals_tws": (
        "odd-half landing dir",
        {"events": _drop_every_third},
    ),
    "q320_unigram_train": (
        "unigram segmentation",
        {"documents": _reverse_text},
    ),
    "q107_ws_raw_validation": (
        "worksheet fixture CSV + load run",
        {"customer": _drop_every_third},
    ),
    "q128_dbt_stg_most_actives": (
        "dbt project run",
        {"customer": _drop_every_third},
    ),
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n,
            marks=pytest.mark.skipif(
                n not in ALL_QUERIES,
                reason="not registered: the reference SQL tree is absent",
            ),
        )
        for n in MEMO_QUERIES
    ],
)
def test_memoized_query_follows_rewritten_corpus(spark, sf_dir, tmp_path, name):
    corpus = str(tmp_path / "corpus")
    shutil.copytree(sf_dir, corpus)
    query, oracle = ALL_QUERIES[name], ALL_ORACLES[name]
    compare_query(spark, corpus, query, oracle, name)
    for table, change in MEMO_QUERIES[name][1].items():
        path = f"{corpus}/{table}.parquet"
        pq.write_table(change(pq.read_table(path)), path + ".new")
        os.replace(path + ".new", path)
    compare_query(spark, corpus, query, oracle, name)


def _session(app: str):
    """Just enough of a SparkSession for session_memo: conf reads and an
    application id."""
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: default),
        sparkContext=SimpleNamespace(applicationId=app),
    )


def _forget(app: str) -> None:
    for key in [k for k in tables._MEMO if k[0] == app]:
        del tables._MEMO[key]


def test_session_memo_rebuilds_on_rewrite_and_keeps_one_entry(tmp_path):
    path = tmp_path / "t.parquet"
    path.write_text("v1")
    builds = []

    def build():
        builds.append(path.read_text())
        return builds[-1]

    spark = _session("app-a")
    try:
        assert tables.session_memo(spark, str(path), "n", build) == "v1"
        assert tables.session_memo(spark, str(path), "n", build) == "v1"
        assert builds == ["v1"]
        path.write_text("v2, longer")
        assert tables.session_memo(spark, str(path), "n", build) == "v2, longer"
        assert [k for k in tables._MEMO if k[0] == "app-a"] == [
            ("app-a", str(path), "n")
        ]
        # Another application builds its own entry.
        tables.session_memo(_session("app-b"), str(path), "n", build)
        assert len(builds) == 3
        # A path that cannot be stat'ed is never memoized.
        absent = str(tmp_path / "absent")
        assert tables.session_memo(spark, absent, "n", lambda: 1) == 1
        assert tables.session_memo(spark, absent, "n", lambda: 2) == 2
    finally:
        _forget("app-a")
        _forget("app-b")


def test_session_memo_concurrent_lookups(tmp_path):
    """16 threads look up four keys at a 1 us switch interval: every
    lookup returns its own key's value and each key keeps one entry."""
    paths = [tmp_path / f"f{i}" for i in range(4)]
    for p in paths:
        p.write_text(p.name)
    spark = _session("app-stress")
    wrong = []

    def worker():
        for _ in range(200):
            for p in paths:
                got = tables.session_memo(spark, str(p), "n", p.read_text)
                if got != p.name:
                    wrong.append((p.name, got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    try:
        assert not any(t.is_alive() for t in threads)
        assert wrong == []
        assert len([k for k in tables._MEMO if k[0] == "app-stress"]) == 4
    finally:
        _forget("app-stress")

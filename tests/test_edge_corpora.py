"""r12, r13 and r53 on corpora derived from sf0.001 where the oracle
divides by zero: events with purchases but no clicks (an empty second
sample) and a one-document corpus (no partner to draw). DuckDB returns
NULL there; Spark must return the same rows instead of raising
DIVIDE_BY_ZERO / REMAINDER_BY_ZERO under its ANSI default."""

from __future__ import annotations

import duckdb
import pytest

from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
from tools.check_oracle import duck_connect, run_one

from .conftest import SF_SMALL

_ensure_loaded()

#: corpus name -> (table, filter over the sf0.001 table)
EDGES = {
    "no_clicks": ("events", "SELECT * FROM t WHERE event_type <> 'click'"),
    "one_doc": ("documents", "SELECT * FROM t ORDER BY doc_id LIMIT 1"),
}


@pytest.fixture(scope="module")
def edge_dirs(tmp_path_factory):
    con = duckdb.connect()
    dirs = {}
    for name, (table, sql) in EDGES.items():
        d = tmp_path_factory.mktemp(name)
        src = f"{SF_SMALL}/{table}.parquet"
        con.execute(
            f"COPY (WITH t AS (SELECT * FROM read_parquet('{src}')) {sql}) "
            f"TO '{d}/{table}.parquet' (FORMAT PARQUET)"
        )
        dirs[name] = str(d)
    con.close()
    return dirs


@pytest.mark.parametrize(
    "name, corpus",
    [
        ("r12_ks_test", "no_clicks"),
        ("r13_mannwhitney", "no_clicks"),
        ("r53_negative_pairs", "one_doc"),
    ],
)
def test_query_matches_oracle_on_edge_corpus(spark, edge_dirs, name, corpus):
    sf_dir = edge_dirs[corpus]
    duck = duck_connect(sf_dir)
    try:
        result = run_one(spark, duck, name, REGISTRY[name], sf_dir)
    finally:
        duck.close()
    assert result["ok"], f"{name} on {corpus}: {result.get('note')}"
    assert result["spark_rows"] == (0 if corpus == "one_doc" else 1)


def test_no_clicks_corpus_has_one_empty_sample(spark, edge_dirs):
    """The derived corpus is the edge it claims: purchases with values,
    no clicks, so r12's n2 is 0 and its ks_d is NULL."""
    row = REGISTRY["r12_ks_test"].fn(spark, edge_dirs["no_clicks"]).collect()[0]
    assert row["n1"] > 0 and row["n2"] == 0 and row["ks_d"] is None

"""Regression harness for the distributed-ECDF family's AQE hazard.

Round 6 found and fixed a bug class at six sites: the pinned-pid
pattern (repartitionByRange → spark_partition_id → per-partition
window + broadcast prefix offsets) silently corrupts every downstream
rank if AQE partition coalescing or a re-sampled range exchange
renumbers partitions between the offsets job and the final plan —
the fix pins the partitioning with an eager localCheckpoint. That
pattern and its pin now live in one helper,
``engine.det.pinned_range_prefix``, which every family member below
except r70 calls.

This module is the property harness the fix deserves: every family
member (r12 KS, r13 Mann-Whitney, r26 skyline, r46 equi-depth bins,
r49 sorted neighborhood, r53 negative pairs, r66 RFM) must produce
the IDENTICAL multiset of rows

- with AQE on and AQE off,
- at shuffle-partition counts 3 / 7 / 32 (pathological-small through
  bench default),
- on the clean sf0.001 corpus AND a hot-key-skewed twin (30% of
  events collapsed onto one (user, value), 30% of parts onto one
  (brand, price) — the mass that makes AQE *want* to re-plan).

Hypothesis drives the (partitions, corpus) sampling so future edits
get fresh combinations; equality is exact (the family is
decimal-exact by design — floats appear only in final ROUNDed
columns computed from identical exact operands).
"""

from __future__ import annotations

import os
import shutil

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

from .conftest import SF_SMALL

FAMILY = [
    "r12_ks_test",
    "r13_mannwhitney",
    "r26_skyline",
    "r46_equidepth_bins",
    "r49_sorted_neighborhood",
    "r53_negative_pairs",
    "r66_rfm",
    # r10: the salted two-phase aggregation on the skewed twin — the
    # hot (user_id, value) mass lands on the derived hot key path
    "r70_salted_hot_agg",
]

_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="module")
def skewed_dir(tmp_path_factory):
    """sf0.001 twin with adversarial key mass: 30% of events share one
    (user_id, value); 30% of parts share one (brand, retailprice)."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("skewed_sf")
    for t in _TABLES:
        src = os.path.join(SF_SMALL, f"{t}.parquet")
        dst = str(d / f"{t}.parquet")
        if t == "events":
            pdf = pq.read_table(src).to_pandas()
            k = len(pdf) // 3
            pdf.loc[pdf.index[:k], "user_id"] = 7
            pdf.loc[pdf.index[:k], "value"] = 49.99
            pdf.loc[pdf.index[:k], "event_type"] = "purchase"
            import pyarrow as pa

            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dst)
        elif t == "part":
            pdf = pq.read_table(src).to_pandas()
            k = len(pdf) // 3
            pdf.loc[pdf.index[:k], "p_brand"] = "Brand#1"
            pdf.loc[pdf.index[:k], "p_retailprice"] = 1234.56
            import pyarrow as pa

            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dst)
        else:
            shutil.copy(src, dst)
    return str(d)


def _rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def _run(spark, qname, sf_dir, aqe: bool, parts: int):
    import __spark_entry__ as entry

    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_parts = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.adaptive.enabled", "true" if aqe else "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))
        return _rows(entry.queries()[qname](spark, sf_dir))
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_parts)


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis unavailable")
@pytest.mark.parametrize("qname", FAMILY)
def test_aqe_and_partition_invariance(qname, spark, skewed_dir):
    corpora = {"clean": SF_SMALL, "skewed": skewed_dir}

    @settings(
        max_examples=3,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        parts=st.sampled_from([3, 7, 32]),
        corpus=st.sampled_from(["clean", "skewed"]),
    )
    def check(parts, corpus):
        sf_dir = corpora[corpus]
        on = _run(spark, qname, sf_dir, aqe=True, parts=parts)
        off = _run(spark, qname, sf_dir, aqe=False, parts=parts)
        assert on == off, (
            f"{qname}: AQE on/off disagree at parts={parts} corpus={corpus}"
        )
        # partition-count invariance at the same AQE setting
        on_other = _run(spark, qname, sf_dir, aqe=True, parts=5)
        assert on == on_other, (
            f"{qname}: result depends on shuffle partition count "
            f"({parts} vs 5) corpus={corpus}"
        )

    check()

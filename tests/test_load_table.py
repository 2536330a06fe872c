"""``engine.io.load_table`` has one scan path per table.

The layout twins (bucketed, date-partitioned, hybrid) are read only by
the queries that name them; no environment variable reroutes the
catalog's scans to them.
"""

from __future__ import annotations

import os

from batch_processing_system_spark.engine.io import TABLES, load_table

from .conftest import SF_SMALL


def test_scans_read_the_plain_parquet_whatever_the_env(spark, monkeypatch):
    # the retired layout-routing knobs, all set: they must change nothing
    for knob in ("SPARK_GRAFT_BUCKETED", "SPARK_GRAFT_PARTITIONED", "SPARK_GRAFT_HYBRID"):
        monkeypatch.setenv(knob, "1")
    for t in TABLES:
        files = load_table(spark, SF_SMALL, t).inputFiles()
        root = os.path.join(SF_SMALL, f"{t}.parquet")
        assert files and all(root in f for f in files), (t, files[:2])
        assert not any(m in f for f in files for m in ("bkt_", "pby_", "hyb_"))

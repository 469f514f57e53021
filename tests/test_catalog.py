"""Fixture-catalog caches: metadata memoized per session and file
version must re-probe when either changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext

from pg_archiver_spark import catalog


def test_fan_out_split_count_recomputes_on_rewrite_and_new_session(
    spark, tmp_path, monkeypatch
):
    """The split-count cache is keyed on (applicationId, abspath,
    mtime_ns, size): rewriting the file or a new application re-probes;
    an unchanged file in the same application does not."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    probes = []
    load = catalog.load

    def counting_load(spark, sf_dir, name):
        probes.append(name)
        return load(spark, sf_dir, name)

    monkeypatch.setattr(catalog, "load", counting_load)
    df = spark.range(1)

    catalog.fan_out(spark, df, str(tmp_path), "region")
    catalog.fan_out(spark, df, str(tmp_path), "region")
    assert len(probes) == 1

    pq.write_table(pa.table({"r_regionkey": [0, 1, 2, 3]}), path)
    os.utime(path, ns=(1, 1))  # a distinct mtime even on coarse clocks
    catalog.fan_out(spark, df, str(tmp_path), "region")
    assert len(probes) == 2

    monkeypatch.setattr(
        SparkContext, "applicationId", property(lambda self: "another-app")
    )
    catalog.fan_out(spark, df, str(tmp_path), "region")
    assert len(probes) == 3

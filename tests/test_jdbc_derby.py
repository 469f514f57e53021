"""Live JDBC round-trip tests against embedded Derby — the reference's
extract → archive → delete-behind loop (main.go:88-145) over a real
database connection; only the injected-failure test patches a cursor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_archiver_spark.catalog import load
from pg_archiver_spark.registry import QUERIES, load_all_operators
from pg_archiver_spark.sources import derby
from pg_archiver_spark.sources.jdbc import delete_archived, read_table

load_all_operators()


def test_source_jdbc_runs_live_jdbc_branch(spark, sf_dir):
    """With no external URL configured, source_jdbc must stage into
    embedded Derby and run the REAL jdbc read path — and its counts
    must match the same extraction over the parquet fixture."""
    row = QUERIES["source_jdbc"](spark, sf_dir).first()
    assert row.live is True  # jdbc mode on a non-fallback backend
    expected = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .first()
    )
    assert row.n_rows == expected.n_rows
    assert row.n_users == expected.n_users


def test_jdbc_read_is_range_partitioned(spark, sf_dir):
    """The JDBC scan must split into parallel range cursors, not one
    cursor (the reference's single row-at-a-time loop)."""
    url = derby.stage_events(spark, sf_dir)
    df, mode = read_table(
        spark,
        "events",
        sf_dir,
        partition_column="event_id",
        num_partitions=4,
        url=url,
        driver=derby.DERBY_DRIVER,
    )
    assert mode == "jdbc"
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == load(spark, sf_dir, "events").count()


def test_delete_behind_live_roundtrip(spark, sf_dir):
    """Chunked delete-behind against a live connection: archive the
    below-cutoff slice, delete exactly those keys, and verify
    remaining ∪ archived == source with zero overlap (D1/D3)."""
    url = derby.stage_events(spark, sf_dir)
    factory = derby.connection_factory(spark, url)
    jdbc_events = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .load()
    )
    total = jdbc_events.count()
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    archived_keys = jdbc_events.filter(F.col("ts") < cutoff).select("event_id")
    n_archived = archived_keys.count()
    assert 0 < n_archived < total, "cutoff must split the fixture"

    deleted = delete_archived(
        spark,
        "events",
        archived_keys,
        key_col="event_id",
        connection_factory=factory,
        batch_size=100,
        dialect="standard",
    )
    assert deleted == n_archived

    remaining = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .option("driver", derby.DERBY_DRIVER)
        .load()
    )
    assert remaining.count() == total - n_archived
    overlap = remaining.join(archived_keys, "event_id", "inner").count()
    assert overlap == 0

    # Idempotent retry: re-deleting the same keys is a no-op.
    assert (
        delete_archived(
            spark,
            "events",
            archived_keys,
            key_col="event_id",
            connection_factory=factory,
            batch_size=100,
            dialect="standard",
        )
        == 0
    )
    # Restore for other tests sharing the memoized staging DB.
    derby._STAGED.pop((sf_dir, "events"), None)


def test_jdbc_poll_loop_partitions_arrivals(spark, sf_dir):
    """Two polls around a live JDBC append must partition the fixture:
    first poll sees the staged half, second poll exactly the appended
    rows (the op itself raises on loss/duplication)."""
    rows = {r.poll: r for r in QUERIES["source_jdbc_poll"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_new_rows > 0 and rows[2].n_new_rows > 0
    assert rows[2].watermark > rows[1].watermark


def _key_source(spark, key_type: str, n: int = 200):
    """A fresh Derby table ``src`` ("k" key_type, "v" DOUBLE) holding
    k = 0..n-1, created by SQL so the key keeps its SQL type (Spark's
    writer would create a string key as CLOB). Returns (url, frame)."""
    df = spark.range(0, n).select(
        F.col("id").cast("long" if key_type == "BIGINT" else "string").alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    url = f"jdbc:derby:memory:keys_{next(derby._FRESH_SEQ)}"
    jconn = spark._jvm.java.sql.DriverManager.getConnection(f"{url};create=true")
    try:
        jconn.createStatement().execute(
            f'CREATE TABLE src ("k" {key_type}, "v" DOUBLE)'
        )
    finally:
        jconn.close()
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "src")
        .option("driver", derby.DERBY_DRIVER)
        .mode("append")
        .save()
    )
    return url, df


def _left_keys(spark, url) -> list:
    rows = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "src")
        .option("driver", derby.DERBY_DRIVER)
        .load()
        .select("k")
        .collect()
    )
    return sorted(r.k for r in rows)


def _user_tables(spark, url) -> list[str]:
    jconn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = jconn.createStatement().executeQuery(
            "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'"
        )
        names = []
        while rs.next():
            names.append(rs.getString(1))
        return sorted(names)
    finally:
        jconn.close()


def test_set_based_delete_varchar_keys_exact_and_cleaned_up(spark):
    """VARCHAR keys compare against the staged key table (its column
    copies the source type), exactly the given keys go, a rerun and an
    empty key frame delete 0, and no key table is left behind."""
    url, df = _key_source(spark, "VARCHAR(16)")
    factory = derby.connection_factory(spark, url)
    keys = df.filter(F.col("v") < 50).select("k")

    assert delete_archived(spark, "src", keys, key_col="k", connection_factory=factory) == 50
    assert _left_keys(spark, url) == sorted(str(i) for i in range(50, 200))
    assert delete_archived(spark, "src", keys, key_col="k", connection_factory=factory) == 0
    assert delete_archived(spark, "src", keys.limit(0), key_col="k", connection_factory=factory) == 0
    assert len(_left_keys(spark, url)) == 150
    assert _user_tables(spark, url) == ["SRC"]


def test_set_based_delete_failure_rolls_back_and_drops_key_table(spark, monkeypatch):
    """A DELETE forced to raise propagates, deletes nothing and still
    drops the key table."""
    url, df = _key_source(spark, "BIGINT")
    factory = derby.connection_factory(spark, url)
    execute = derby.DerbyCursor.execute

    def failing_delete(self, sql):
        if sql.startswith("DELETE"):
            execute(self, sql)  # the rows are gone inside the transaction
            raise RuntimeError("injected DELETE failure")
        execute(self, sql)

    monkeypatch.setattr(derby.DerbyCursor, "execute", failing_delete)
    with pytest.raises(RuntimeError, match="injected DELETE failure"):
        delete_archived(
            spark, "src", df.select("k"), key_col="k", connection_factory=factory
        )
    monkeypatch.undo()
    assert _left_keys(spark, url) == list(range(200))
    assert _user_tables(spark, url) == ["SRC"]

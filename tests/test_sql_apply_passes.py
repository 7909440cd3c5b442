"""The SQL-apply micro-batch in one pass: the single-projection
safe-mode rewrite against the 4-branch union it replaced, the job count
of one DDL-free batch, and the edge cases of the batch probe's table
superset and of the causality edge-limit guard."""

from __future__ import annotations

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.operators import causality, safe_mode
from tidb_binlog_spark.operators.safe_mode import SafeModeWindow
from tidb_binlog_spark.sinks import jdbc
from tidb_binlog_spark.streaming import pipeline

SETUP = ("CREATE TABLE IF NOT EXISTS t (pk INTEGER PRIMARY KEY, val REAL)",
         "CREATE TABLE IF NOT EXISTS u (pk INTEGER PRIMARY KEY, val REAL)")


def union_rewrite(changes):
    """The 4-branch union form of safe_mode_rewrite — the parity oracle.
    Each branch re-reads ``changes``."""
    inserts = (changes.filter(F.col("op") == "I")
               .withColumn("op", F.lit("R"))
               .withColumn("sub_seq", F.lit(0)))
    deletes = (changes.filter(F.col("op") == "D")
               .withColumn("sub_seq", F.lit(0)))
    upd = changes.filter(F.col("op") == "U")
    upd_delete = upd.withColumn("op", F.lit("D")).withColumn("sub_seq",
                                                             F.lit(0))
    upd_replace = upd.withColumn("op", F.lit("R")).withColumn("sub_seq",
                                                              F.lit(1))
    return (inserts.unionByName(deletes)
            .unionByName(upd_delete).unionByName(upd_replace))


def assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def all_ops(spark):
    return make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 20, "U", 1, 0, 2.0),
        (3, "s0", 30, "D", 1), (4, "s0", 40, "U", 2, 1, 4.0),
        (5, "s0", 50, "DDL", 0), (6, "s0", 60, "FAKE", 0),
        (7, "s0", 70, None, 3), (8, "s1", 80, "I", 3),
        (9, "s1", 80, "I", 3)])


def test_safe_mode_rewrite_matches_union_on_every_op(spark):
    ch = all_ops(spark)
    got = safe_mode.safe_mode_rewrite(ch)
    assert_same_frame(got, union_rewrite(ch))
    assert sorted(r["op"] for r in got.collect()) == \
        ["D", "D", "D", "R", "R", "R", "R", "R"]


def test_safe_mode_rewrite_matches_union_when_op_is_not_nullable(spark):
    from pyspark.sql.types import StructField, StructType
    ch = all_ops(spark).filter(F.col("op").isNotNull())
    strict = spark.createDataFrame(ch.collect(), StructType(
        [StructField(f.name, f.dataType, f.name != "op")
         for f in ch.schema.fields]))
    assert not strict.schema["op"].nullable
    assert_same_frame(safe_mode.safe_mode_rewrite(strict),
                      union_rewrite(strict))


def test_safe_mode_rewrite_matches_union_over_existing_sub_seq(spark):
    ch = all_ops(spark).withColumn(
        "old_pk", F.when(F.col("op") == "U", F.col("pk") + 100)
        .cast("long"))
    split = safe_mode.split_pk_change(ch)
    assert "sub_seq" in split.columns
    got = safe_mode.safe_mode_rewrite(split)
    assert got.columns == split.columns
    assert_same_frame(got, union_rewrite(split))


def test_build_pipeline_safe_mode_matches_union_composition(spark):
    from tidb_binlog_spark.operators import compaction, ordering
    from tidb_binlog_spark.plans.pipeline import (ReplicationConfig,
                                                  apply_filters_and_routes,
                                                  build_pipeline)
    ch = all_ops(spark).withColumn(
        "old_pk", F.when(F.col("pk") == 2, F.lit(7)).cast("long"))
    for compact in (False, True):
        cfg = ReplicationConfig(safe_mode=True, compact=compact)
        want = apply_filters_and_routes(ordering.ordered_stream(ch), cfg)
        want = safe_mode.split_pk_change(want)
        if compact:
            want = compaction.compact_last_image(want)
        assert_same_frame(build_pipeline(ch, cfg), union_rewrite(want))


# ---- the applier ------------------------------------------------------------

def batch_rows(spark, rows):
    """(arrival_seq, commit_ts, op, tbl, pk, val, row_json) ->
    CHANGE_SCHEMA rows of one source."""
    return spark.createDataFrame(
        [(a, "s0", cts, cts - 1, op, "db0", tbl, pk, 0, 1, float(val), rj)
         for a, cts, op, tbl, pk, val, rj in rows],
        pipeline.CHANGE_SCHEMA)


def downstream(db_dir, table="t", cols="pk, val"):
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    try:
        return sorted(conn.execute(f"SELECT {cols} FROM {table}"))
    finally:
        conn.close()


def new_applier(tmp_path, name="db", **kw):
    db_dir = str(tmp_path / name)
    jdbc.ensure_shards(db_dir, 2, SETUP, shared_db=True)
    kw.setdefault("window", SafeModeWindow(configured=True))
    return db_dir, pipeline.SqlBatchApplier(db_dir, setup_sql=SETUP,
                                            num_workers=2, **kw)


def jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


DML = [(1, 10, "I", "t", 1, 1.0, "{}"), (2, 20, "I", "t", 2, 2.0, "{}"),
       (3, 30, "U", "t", 1, 3.0, "{}"), (4, 40, "D", "t", 2, 0.0, "{}"),
       (5, 50, "I", "t", 3, 5.0, "{}"), (6, 60, "FAKE", "", 0, 0.0, "{}")]

# Spark jobs of one DDL-free apply (no relay, configured safe mode),
# as measured: the batch probe, the causality edge collect (it runs the
# order gate's shuffle stages and fills the statement cache), the label
# broadcast, and the apply's repartition and foreachPartition. The
# applier with three probes and a 4-way rewrite ran 23 here.
MAX_JOBS_DDL_FREE = 15


def test_ddl_free_batch_job_count_is_bounded(spark, tmp_path):
    db_dir, applier = new_applier(tmp_path)
    n = jobs_of(spark, lambda: applier.apply(batch_rows(spark, DML)))
    assert n <= MAX_JOBS_DDL_FREE, n
    assert downstream(db_dir) == [(1, 3.0), (3, 5.0)]
    assert jdbc.load_checkpoint(db_dir)[0] == 60


def test_batch_with_one_ddl_still_splits_at_the_barrier(spark, tmp_path):
    # the insert below the DDL builds its statement against the
    # pre-DDL width and the insert above it against the post-DDL one
    from tidb_binlog_spark.sinks import catalog as cat_mod
    db_dir = str(tmp_path / "db")

    def fetch(schema, table):
        conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
        try:
            return cat_mod.fetch_table_info_sqlite(conn, schema, table)
        finally:
            conn.close()
    db_dir, applier = new_applier(tmp_path,
                                  catalog=cat_mod.SinkCatalog(fetch))
    rows = [(1, 10, "I", "t", 1, 1.0, '{"c": "x1"}'),
            (2, 20, "DDL", "t", 0, 0.0, "ALTER TABLE t ADD COLUMN c TEXT"),
            (3, 30, "I", "t", 2, 2.0, '{"c": "x2"}')]
    n = jobs_of(spark, lambda: applier.apply(batch_rows(spark, rows)))
    assert n > MAX_JOBS_DDL_FREE      # two DML segments, one DDL collect
    assert downstream(db_dir, cols="pk, val, c") == \
        [(1, 1.0, None), (2, 2.0, "x2")]
    assert jdbc.load_checkpoint(db_dir)[0] == 30


# ---- probe superset edge cases ---------------------------------------------

def test_table_whose_rows_the_gate_drops_yields_no_statements(spark,
                                                               tmp_path):
    # u's only rows are a duplicate commit_ts and an out-of-order one:
    # u is in the probe's table set but receives nothing
    db_dir, applier = new_applier(tmp_path)
    rows = [(1, 10, "I", "t", 1, 1.0, "{}"), (2, 20, "I", "t", 2, 2.0, "{}"),
            (3, 20, "I", "u", 7, 7.0, "{}"), (4, 15, "I", "u", 8, 8.0, "{}"),
            (5, 30, "U", "t", 2, 3.0, "{}")]
    applier.apply(batch_rows(spark, rows))
    assert downstream(db_dir) == [(1, 1.0), (2, 3.0)]
    assert downstream(db_dir, "u") == []
    assert jdbc.load_checkpoint(db_dir)[0] == 30


@pytest.mark.parametrize("ddl_ts,ddl_arrival", [(20, 3), (5, 4)],
                         ids=["duplicate", "out_of_order"])
def test_batch_whose_only_ddl_the_gate_drops(spark, tmp_path, ddl_ts,
                                             ddl_arrival):
    # the probe counts one DDL row; the gate drops it, so no barrier
    # runs and the DDL never executes
    db_dir, applier = new_applier(tmp_path)
    rows = [(1, 10, "I", "t", 1, 1.0, "{}"), (2, 20, "I", "t", 2, 2.0, "{}"),
            (ddl_arrival, ddl_ts, "DDL", "t", 0, 0.0,
             "ALTER TABLE t ADD COLUMN c TEXT"),
            (9, 30, "I", "t", 3, 3.0, "{}")]
    applier.apply(batch_rows(spark, rows))
    assert downstream(db_dir) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    try:
        cols = [r[1] for r in conn.execute("PRAGMA table_info(t)")]
    finally:
        conn.close()
    assert cols == ["pk", "val"]
    assert jdbc.load_checkpoint(db_dir)[0] == 30


def test_heartbeat_only_batch_stops_after_the_probe(spark, tmp_path):
    db_dir, applier = new_applier(tmp_path)
    beats = [(1, 70, "FAKE", "", 0, 0.0, "{}"),
             (2, 80, "FAKE", "", 0, 0.0, "{}")]
    n = jobs_of(spark, lambda: applier.apply(batch_rows(spark, beats)))
    assert n <= 3                       # the probe alone
    assert downstream(db_dir) == []
    assert jdbc.load_checkpoint(db_dir)[0] == 80


def test_batch_at_or_below_resume_ts_applies_nothing(spark, tmp_path):
    db_dir, applier = new_applier(tmp_path, resume_ts=50)
    jdbc.save_checkpoint(db_dir, 50)
    n = jobs_of(spark, lambda: applier.apply(batch_rows(spark, DML[:5])))
    assert n <= 3                       # the probe alone
    assert downstream(db_dir) == []
    assert jdbc.load_checkpoint(db_dir)[0] == 50


# ---- causality edge-limit guard ---------------------------------------------

def chain_keys(spark, n_edges):
    """n_edges distinct (txn, key) edges, each written twice: txn i
    touches keys k{i} and k{i+1}, so all txns form one component."""
    edges = [(i // 2, f"k{(i + 1) // 2}") for i in range(n_edges)]
    return spark.createDataFrame(edges + edges, "txn_id long, key string")


@pytest.mark.parametrize("over", [0, 1], ids=["at_limit", "one_over"])
def test_causality_guard_at_the_local_edge_limit(spark, monkeypatch, over):
    limit = 40
    keys = chain_keys(spark, limit + over)
    distributed = []
    real = causality._distributed_groups
    monkeypatch.setattr(
        causality, "_distributed_groups",
        lambda edges, it: distributed.append(1) or real(edges, it))
    groups, n = causality._sized_groups(keys, local_threshold=limit)
    labels = {r["txn_id"]: r["group_id"] for r in groups.collect()}
    oracle = causality._local_components(
        [(r["txn_id"], r["key"]) for r in keys.collect()])
    assert labels == dict(zip(oracle["txn_id"], oracle["group_id"]))
    assert set(labels.values()) == {0}
    assert distributed == ([1] if over else [])
    assert n == (None if over else len(labels))

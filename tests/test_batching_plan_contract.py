"""Plan contract for the hierarchical prefix sum (VERDICT r11 item 6):
cdc_txn_batches' only unpartitioned ordered pass is the TOP level of
_hierarchical_offsets, whose frame is bounded at <= 2^16 rows by the
int64 timestamp DOMAIN (fan 2^16, three levels: ts / 2^48), never by
the data. The WindowExec single-partition warnings it prints are
therefore benign — this test makes the bound executable so a future
regression cannot hide behind the familiar warning noise.

Reference semantics under test: pkg/loader/load.go:636-724 (batch
manager accumulates whole txns in commit order)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tidb_binlog_spark.operators.batching import (
    _hierarchical_offsets, assign_txn_batches)

FAN = 1 << 16

# adversarial commit_ts distributions (the bound must hold for ALL of
# them, incl. negative buckets from pre-epoch / synthetic timestamps)
_DISTS = {
    "dense_tso": np.arange(450_000_000_000_000_000,
                           450_000_000_000_000_000 + 20_000,
                           dtype=np.int64),
    "full_spread": np.random.RandomState(7).randint(
        -(2 ** 62), 2 ** 62, 20_000).astype(np.int64),
    "negative_dense": np.arange(-3_000_000, -2_980_000,
                                dtype=np.int64),
    "bucket_edges": np.array(
        [0, -1, 1, FAN - 1, FAN, FAN + 1, -FAN, -FAN - 1,
         FAN ** 2, -(FAN ** 2) - 5, 2 ** 62, -(2 ** 62)],
        dtype=np.int64),
}


def _domain_c3(ts):
    """the top-level key after three fan-compressions."""
    b = np.floor_divide(ts, FAN)
    c2 = np.floor_divide(b, FAN)
    return np.floor_divide(c2, FAN)


def test_top_level_key_space_is_domain_bounded():
    """fan^3 = 2^48 compression: the int64 domain can only produce
    2^16 distinct top-level keys, whatever the data does."""
    lo = _domain_c3(np.array([-(2 ** 63)], dtype=np.int64))[0]
    hi = _domain_c3(np.array([2 ** 63 - 1], dtype=np.int64))[0]
    assert int(hi) - int(lo) + 1 <= 2 ** 16
    for name, ts in _DISTS.items():
        c3 = _domain_c3(ts)
        assert lo <= c3.min() and c3.max() <= hi, name


@pytest.mark.parametrize("dist", sorted(_DISTS))
def test_hierarchical_offsets_equal_global_prefix_sum(spark, dist):
    ts = _DISTS[dist]
    rs = np.random.RandomState(11)
    tot = rs.randint(1, 50, len(ts)).astype(np.int64)
    b = np.floor_divide(ts, FAN)
    pdf = (pd.DataFrame({"_b": b, "tot": tot})
           .groupby("_b", as_index=False)["tot"].sum()
           .sort_values("_b"))
    expect = dict(zip(pdf["_b"],
                      pdf["tot"].cumsum() - pdf["tot"]))
    df = spark.createDataFrame(pdf)
    got = {r["_b"]: r["offset"]
           for r in _hierarchical_offsets(df, "_b", "tot").collect()}
    assert got == {int(k): int(v) for k, v in expect.items()}


def test_single_partition_pass_is_the_bounded_top_level(spark):
    """executable form of the 'warnings are benign' claim: the plan's
    only single-partition exchange feeds the <= 2^16-row top level,
    and the frame that actually flows through it is tiny even when
    the bucket stream is large."""
    ts = _DISTS["full_spread"]
    df = spark.createDataFrame(
        pd.DataFrame({"_b": np.floor_divide(ts, FAN),
                      "tot": np.ones(len(ts), np.int64)}))
    out = _hierarchical_offsets(df, "_b", "tot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1, plan
    # the frame crossing that exchange is the _c3-grouped aggregate
    top = (df.withColumn("_c2", F.floor(F.col("_b") / FAN))
             .withColumn("_c3", F.floor(F.col("_c2") / FAN))
             .select("_c3").distinct().count())
    assert top <= 2 ** 16


def test_txn_batches_match_driver_prefix_sum(spark):
    """end to end on adversarial ts: batch boundaries equal the
    driver-computed global prefix sum (replays re-create identical
    batches), with whole txns never split."""
    rs = np.random.RandomState(3)
    ts = np.unique(rs.randint(-(2 ** 40), 2 ** 40, 600)
                   .astype(np.int64))
    sizes = rs.randint(1, 9, len(ts))
    rows = [(int(t), i) for t, s in zip(ts, sizes)
            for i in range(int(s))]
    ch = spark.createDataFrame(
        pd.DataFrame(rows, columns=["commit_ts", "seq"]))
    got = {r["commit_ts"]: r["batch_no"]
           for r in assign_txn_batches(ch, max_dmls=10).collect()}
    cum = 0
    for t, s in zip(ts, sizes):
        assert got[int(t)] == cum // 10, int(t)
        cum += int(s)


def test_single_partition_walk_passes_only_narrow_nodes(spark):
    """The append-order offset guard walks down through narrow nodes
    only: an aggregate, a global sort or a join over Repartition(1)
    must raise, since none of them is guaranteed to keep one
    partition (an aggregate re-shuffles to the shuffle partitions)."""
    import __spark_entry__ as m
    from tests.conftest import make_changes
    from tidb_binlog_spark.sinks import kafka

    df = spark.range(100).withColumn("g", F.col("id") % 3)
    one = df.repartition(1)
    m._assert_single_partition_plan(
        one.sortWithinPartitions("id").select("id", "g").filter("id > 1"))
    m._assert_single_partition_plan(kafka.kafka_frame(
        make_changes(spark, [(1, "s0", 10, "I", 1)]), cluster_id=42))
    for wide in (one.groupBy("g").agg(F.count("*").alias("n")),
                 one.orderBy("id"),
                 one.join(df, "id"),
                 df.repartition(4)):
        with pytest.raises(AssertionError):
            m._assert_single_partition_plan(wide)

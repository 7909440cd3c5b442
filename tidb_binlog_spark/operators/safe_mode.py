"""Safe-mode rewrite + PK-changing-update split.

Reference:
- safe mode rewrites INSERT -> REPLACE and UPDATE -> DELETE(old) +
  REPLACE(new) so re-applying a batch after restart is idempotent
  (pkg/loader/executor.go:407-443; auto-on for the first 5 minutes,
  drainer/syncer.go:180-197);
- an UPDATE that changes the primary key is always split into
  DELETE(old key) + INSERT(new key) before compaction
  (pkg/loader/merge.go:47-67).

Spark-first: neither shuffles — the split is a union of narrow selects
and the safe-mode rewrite one exploding projection; ordering is
preserved by (commit_ts, seq, sub_seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SafeModeWindow:
    """Auto safe-mode window after (re)start — drainer/syncer.go:180-197
    forces safe mode ON for the first 5 minutes after the drainer
    starts (covering re-application of possibly-already-applied events
    after a crash), then reverts to the configured flag
    (arbiter/server.go:34 does the same for the Kafka applier).

    ``active()`` is evaluated per micro-batch by the apply stream; the
    clock is injectable so tests can step time deterministically.
    """

    def __init__(self, duration_s: float = 300.0, configured: bool = False,
                 clock=None):
        import time as _time
        self._clock = clock if clock is not None else _time.monotonic
        self.duration_s = duration_s
        self.configured = configured
        self._start = self._clock()

    def active(self) -> bool:
        return self.configured or \
            (self._clock() - self._start) < self.duration_s


def split_pk_change(changes: DataFrame,
                    old_pk_col: str = "old_pk") -> DataFrame:
    """Split U rows whose PK changed into D(old_pk) + I(new pk).

    Input rows carry ``pk`` (new) and ``old_pk`` (non-null only when the
    update moved the key). Emits ``sub_seq`` (0 = delete half, 1 =
    insert half) to keep intra-statement order under later sorts.
    """
    moved = F.col(old_pk_col).isNotNull() & (F.col(old_pk_col) != F.col("pk"))

    untouched = changes.filter(~moved).withColumn("sub_seq", F.lit(0))
    delete_half = (changes.filter(moved)
                   .withColumn("pk", F.col(old_pk_col))
                   .withColumn("op", F.lit("D"))
                   .withColumn("sub_seq", F.lit(0)))
    insert_half = (changes.filter(moved)
                   .withColumn("op", F.lit("I"))
                   .withColumn("sub_seq", F.lit(1)))
    return untouched.unionByName(delete_half).unionByName(insert_half)


def safe_mode_rewrite(changes: DataFrame) -> DataFrame:
    """Rewrite ops for idempotent re-apply: I -> R(eplace); U -> D + R.

    Returned stream is directly applicable by a dumb sink in order:
    REPLACE upserts, DELETE removes — replaying the same batch twice
    converges to the same table state.

    One narrow projection: each row explodes its rewrite list of
    (op, sub_seq) pairs — I -> [R/0], U -> [D/0, R/1], D -> [D/0] —
    and any other op (DDL, FAKE, NULL) has no list and is dropped. The
    input is read once, so callers need not cache it. An existing
    ``sub_seq`` column is overwritten in place, otherwise it is
    appended. A D row keeps its own ``op`` value so the output schema
    (nullability included) matches the input's.
    """
    op = F.col("op")

    def pair(new_op, sub_seq: int):
        return F.struct(new_op.alias("op"), F.lit(sub_seq).alias("sub_seq"))

    rewrites = (F.when(op == "I", F.array(pair(F.lit("R"), 0)))
                .when(op == "U", F.array(pair(F.lit("D"), 0),
                                         pair(F.lit("R"), 1)))
                .when(op == "D", F.array(pair(op, 0))))
    out = [F.col(f"_rw.{c}").alias(c) if c in ("op", "sub_seq")
           else F.col(f"`{c}`") for c in changes.columns]
    if "sub_seq" not in changes.columns:
        out.append(F.col("_rw.sub_seq").alias("sub_seq"))
    return (changes.select("*", F.explode(rewrites).alias("_rw"))
            .select(*out))

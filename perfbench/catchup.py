"""catchup: a pre-landed backlog drained by the executed-SQL pipeline.

Closed loop: the whole backlog is due when the drain starts, and
``run_sql_apply_stream(available_now=True)`` takes it in fixed
``max_files_per_trigger`` batches, so batch contents (and the
cross-batch defect's effect) repeat exactly for a seed. Keys are
Zipf-skewed so causality groups merge on hot keys.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import common
import gen

N_SOURCES = 3
WORKERS = 4
EVENTS_PER_ROUND = 12_500
ROUNDS_PER_BATCH = 2
FILES_PER_TRIGGER = N_SOURCES * ROUNDS_PER_BATCH
BATCH_S = 15.0       # mean of a cold first and a second batch, 4 cores
BOUNDARY_EVENTS = 5            # per source, per kind, per batch boundary
SETUP_SQL = (f"CREATE TABLE IF NOT EXISTS `{gen.TABLE}` "
             f"(pk INTEGER PRIMARY KEY, val REAL)",)
LAYERS = ("session", "pipeline", "relay", "ordering", "safe_mode",
          "sqlgen", "causality", "jdbc", "trace")


def traffic(batches: int) -> gen.Traffic:
    rounds = batches * ROUNDS_PER_BATCH
    return gen.Traffic(
        events_per_round=EVENTS_PER_ROUND, rounds=rounds,
        n_sources=N_SOURCES, n_keys=50_000,
        key_dist="zipf", zipf_s=1.1, op_mix=(0.3, 0.6, 0.1),
        dup_share=0.002, late_share=0.002,
        boundary_rounds=tuple(range(ROUNDS_PER_BATCH, rounds,
                                    ROUNDS_PER_BATCH)),
        boundary_events=BOUNDARY_EVENTS)


def land_all(segments, zone: str) -> list[str]:
    """Land a backlog, one second of mtime apart, in landing order."""
    base = time.time() - len(segments) - 60
    return [gen.land(s, zone, f"seg-{i:05d}-r{s.round:04d}-{s.source}",
                     base + i)
            for i, s in enumerate(segments)]


def start_drain(spark, zone: str, base: str):
    from tidb_binlog_spark.operators import safe_mode as sm
    from tidb_binlog_spark.streaming import pipeline
    return pipeline.run_sql_apply_stream(
        spark, zone, os.path.join(base, "db"), os.path.join(base, "ck"),
        safe_window=sm.SafeModeWindow(configured=True),
        num_workers=WORKERS, setup_sql=SETUP_SQL, available_now=True,
        relay_dir=os.path.join(base, "relay"),
        max_files_per_trigger=FILES_PER_TRIGGER)


def downstream(spark, db: str):
    from tidb_binlog_spark.sinks import jdbc
    return jdbc.read_applied(spark, db, f"`{gen.TABLE}`", ["pk", "val"])


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from tidb_binlog_spark.operators import compaction, ordering
    from tidb_binlog_spark.sinks import jdbc
    from tidb_binlog_spark.streaming import pipeline

    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    batches = max(2, round(ctx.seconds / BATCH_S))
    segments, ledger = gen.generate(seed, traffic(batches))
    zone = os.path.join(work, "zone")
    files = land_all(segments, zone)

    prog = common.Progress()
    spark.streams.addListener(prog.listener())

    # timed: from the call to termination
    base = os.path.join(work, "run")
    db = os.path.join(base, "db")
    steal0, cpu0 = common.steal_s(), common.tree_cpu_s()
    t0 = time.perf_counter()
    q = start_drain(spark, zone, base)
    q.awaitTermination()
    drain_s = time.perf_counter() - t0
    drain_cpu_s = common.tree_cpu_s() - cpu0
    steal_s = common.steal_s() - steal0
    if q.exception() is not None:
        raise RuntimeError(f"catch-up query failed: {q.exception()}")
    events = [e for e in prog.wait_for(str(q.id), batches) if e["rows"]]

    # -- correctness ------------------------------------------------------
    offered = spark.read.schema(pipeline.CHANGE_SCHEMA).parquet(zone)
    gated = ordering.ordered_stream(offered).persist()
    want = compaction.apply_snapshot(gated)
    bad = {int(p) for p, _ in common.sym_diff(
        downstream(spark, db), want, ["pk", "val"])}
    max_gated = gated.agg(F.max("commit_ts")).first()[0]
    gated.unpersist()
    ckpt = jdbc.load_checkpoint(db)[0]
    boundary = np.isin(ledger.label, ["boundary_late", "boundary_dup"])
    defect_keys = {int(p) for p in ledger.pk[boundary]}
    # the standing defect: a late or re-delivered event one batch after
    # its predecessor passes the per-batch gate; only keys such an
    # event touched may differ from the recompute
    unexplained = bad - defect_keys
    checks = {"checkpoint_equals_gated_max": ckpt == max_gated,
              "mismatches_only_on_cross_batch_keys": not unexplained,
              "all_batches_reported": len(events) == batches}
    result = {
        "correct": all(checks.values()),
        "attempted": int(len(ledger.label)),
        "failed": len(bad),
        "metrics": {"events_per_cpu_s": len(ledger.label) / drain_cpu_s,
                    "events_per_s": len(ledger.label)
                    / (drain_s - steal_s)},
        "detail": {
            "checks": checks, "mismatched_keys": len(bad),
            "unexplained_keys": sorted(unexplained)[:10],
            "cross_batch_events": int(boundary.sum()),
            "labels": {k: ledger.count(k) for k in
                       ("ok", "late", "dup", "boundary_late",
                        "boundary_dup")},
            "batches": batches, "drain_s": drain_s,
            "drain_cpu_s": drain_cpu_s, "steal_s": steal_s,
            "batch_s": [e["ms"].get("triggerExecution", 0) / 1e3
                        for e in events],
        },
    }
    if ctx.trace:
        result["layers"] = traced_layers(ctx, files, events, base)
    return result


def traced_layers(ctx, files: list[str], events: list[dict],
                  base: str) -> dict:
    """Replay one fixed micro-batch input (the second batch, which opens
    with cross-batch events) untraced through SqlBatchApplier and traced
    through the public functions it composes; per-layer numbers come
    from the traced replay, pipeline numbers from the drain."""
    from tidb_binlog_spark.operators import safe_mode as sm
    from tidb_binlog_spark.sinks import jdbc
    from tidb_binlog_spark.sinks.relay import RelayLog
    from tidb_binlog_spark.streaming import pipeline

    import spans
    spark, work = ctx.spark, ctx.work
    sample = files[FILES_PER_TRIGGER:2 * FILES_PER_TRIGGER]

    def read_sample():
        return spark.read.schema(pipeline.CHANGE_SCHEMA).parquet(*sample)

    db_u = os.path.join(work, "sample_untraced", "db")
    jdbc.ensure_shards(db_u, WORKERS, SETUP_SQL, shared_db=True)
    applier = pipeline.SqlBatchApplier(
        db_u, setup_sql=SETUP_SQL, num_workers=WORKERS,
        window=sm.SafeModeWindow(configured=True),
        relay=RelayLog(os.path.join(work, "sample_untraced", "relay")))
    t = time.perf_counter()
    applier.apply(read_sample())
    untraced_s = time.perf_counter() - t

    tracer = spans.Tracer(spark, ctx.run_id)
    db_t = os.path.join(work, "sample_traced", "db")
    jdbc.ensure_shards(db_t, WORKERS, SETUP_SQL, shared_db=True)
    counters = traced_apply(tracer, read_sample(), db_t,
                            RelayLog(os.path.join(work, "sample_traced",
                                                  "relay")))
    if common.sym_diff(downstream(spark, db_u), downstream(spark, db_t),
                       ["pk", "val"]):
        raise RuntimeError("traced replay state differs from the untraced "
                           "apply of the same batch")

    t_ = tracer.total
    selfs = tracer.self_times()
    batch = tracer.by_name("batch")[0]
    batch_s = batch["end"] - batch["start"]
    n_stmts = counters["statements"]
    relay_files, relay_bytes = common.dir_bytes(os.path.join(base, "relay"))
    ms = [e["ms"] for e in events]
    out = {
        "pipeline.batches": len(events),
        "pipeline.events_per_batch": statistics.median(
            e["rows"] for e in events),
        "pipeline.batch_s": statistics.median(
            m.get("triggerExecution", 0) / 1e3 for m in ms),
        "pipeline.source_s": statistics.median(
            (m.get("latestOffset", 0) + m.get("getBatch", 0)) / 1e3
            for m in ms),
        "pipeline.offset_log_s": statistics.median(
            (m.get("walCommit", 0) + m.get("commitOffsets", 0)) / 1e3
            for m in ms),
        "relay.append_s": t_("relay.append"),
        "relay.files": relay_files,
        "relay.bytes": relay_bytes,
        "ordering.gate_s": t_("ordering.gate"),
        "ordering.pass_ratio": counters["ok"] / counters["in"],
        "ordering.dup_dropped": counters["duplicate"],
        "ordering.disorder_dropped": counters["disorder"],
        "safe_mode.rewrite_s": t_("safe_mode.rewrite"),
        "safe_mode.expansion": counters["prepared"] / counters["ok"],
        "sqlgen.s": t_("sqlgen"),
        "sqlgen.statements": n_stmts,
        "causality.cc_s": t_("causality.cc"),
        "causality.stamp_s": t_("causality.stamp"),
        "causality.edges": counters["edges"],
        "causality.groups_per_txn": counters["groups"] / counters["txns"],
        "causality.busiest_worker_share": counters["busiest"] / n_stmts,
        "jdbc.apply_s": t_("jdbc.apply"),
        "jdbc.statements_per_s": n_stmts / t_("jdbc.apply"),
        "jdbc.checkpoint_s": t_("jdbc.checkpoint"),
        "trace.batch_s": batch_s,
        "trace.untraced_batch_s": untraced_s,
        "trace.overhead_s": batch_s - untraced_s,
        "trace.coverage": 1.0 - selfs[batch["id"]] / batch_s,
    }
    return {"values": out, "tracer": tracer,
            "counters": counters, "streaming_query": events[0]["query"]}


def traced_apply(tracer, batch_df, db: str, relay) -> dict:
    """SqlBatchApplier.apply's composition for this traffic (no DDL, no
    filter config, no catalog, configured safe mode), with each layer's
    output materialized inside its span."""
    from pyspark.sql import functions as F

    from tidb_binlog_spark.operators import causality, ddl, ordering
    from tidb_binlog_spark.operators import safe_mode as sm
    from tidb_binlog_spark.sinks import jdbc, sqlgen
    from tidb_binlog_spark.streaming import pipeline

    cached = []

    def keep(df):
        cached.append(df.persist())
        return cached[-1]

    c: dict = {}
    with tracer.span("batch", rows_in=None) as b:
        with tracer.span("pipeline.input", "pipeline") as s:
            batch = keep(batch_df)
            c["in"] = s["rows_out"] = batch.count()
        with tracer.span("relay.append", "relay", c["in"]):
            relay.append(batch)
        with tracer.span("pipeline.watermark", "pipeline", c["in"]):
            wm = int(batch.agg(F.max("commit_ts")).first()[0])
        with tracer.span("ordering.gate", "ordering", c["in"]) as s:
            ok = keep(ordering.ordered_stream(batch)
                      .filter(F.col("op") != "FAKE"))
            c["ok"] = s["rows_out"] = ok.count()
        with tracer.span("pipeline.ddl_scan", "pipeline", c["ok"]):
            ddl.prep_for_apply(
                ok.filter(F.col("op") == "DDL")
                .withColumn("ddl_sql", F.col("row_json"))) \
                .select("commit_ts", "db", "tbl", "ddl_sql", "should_skip") \
                .orderBy("commit_ts") \
                .limit(pipeline.SqlBatchApplier.MAX_DDL_PER_BATCH + 1) \
                .collect()
        with tracer.span("safe_mode.rewrite", "safe_mode", c["ok"]) as s:
            seg = ok.filter(F.col("op") != "DDL")
            prepared = keep(sm.safe_mode_rewrite(seg))
            c["prepared"] = s["rows_out"] = prepared.count()
        with tracer.span("pipeline.tables", "pipeline"):
            # the applier lists the batch's tables; this traffic has one
            prepared.select("tbl").distinct().collect()
        with tracer.span("sqlgen", "sqlgen", c["prepared"]) as s:
            part = prepared.filter(F.col("tbl") == gen.TABLE)
            stmts = keep(sqlgen.generate_sql(part, dialect="sqlite",
                                             value_cols=("pk", "val"))
                         .select("commit_ts", "seq", "sub_seq", "pk",
                                 "sql_text"))
            c["statements"] = s["rows_out"] = stmts.count()
        key = F.concat_ws("\x01", F.col("db"), F.col("tbl"), F.lit("pk"),
                          F.col("pk").cast("string"))
        txn_keys = part.select(F.col("commit_ts").alias("txn_id"),
                               key.alias("key"))
        with tracer.span("causality.cc", "causality") as s:
            groups = keep(causality.causality_groups(txn_keys))
            c["txns"] = s["rows_out"] = groups.count()
        with tracer.span("causality.stamp", "causality",
                         c["statements"]) as s:
            routed = keep(causality.stamp_workers(
                stmts, groups, num_workers=WORKERS, txn_col="commit_ts"))
            s["rows_out"] = routed.count()
        with tracer.span("jdbc.apply", "jdbc", c["statements"]):
            jdbc.apply_statements(routed, db, WORKERS, setup_sql=SETUP_SQL,
                                  checkpoint_ts=wm, shared_db=True)
        with tracer.span("jdbc.checkpoint", "jdbc"):
            jdbc.load_checkpoint(db)
    b["rows_in"] = c["in"]

    # counters, outside the timed spans
    status = {r["order_status"]: r["count"] for r in
              ordering.classify_disorder(batch)
              .groupBy("order_status").count().collect()}
    c["duplicate"] = status.get("duplicate", 0)
    c["disorder"] = status.get("disorder", 0)
    c["edges"] = txn_keys.select("txn_id", "key").distinct().count()
    c["groups"] = groups.select("group_id").distinct().count()
    c["busiest"] = (routed.groupBy("worker_id").count()
                    .agg(F.max("count")).first()[0])
    for df in cached:
        df.unpersist()
    return c

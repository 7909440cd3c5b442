"""archive: one history written as a pb_binlog dump and as a
secondary-binlog Kafka frame, then restored into a MERGE table from the
dump (reparo) and decoded from the frame (arbiter).

A batch job: the timed phase runs from handing the history to the
writers until the last commit-ts range is merged. The history is a
drainer's output, which has already passed the order gate, so it
carries no late or duplicate deliveries.
"""

from __future__ import annotations

import os
import time

import common
import gen

EVENTS_PER_SECOND = 375
RANGES = 2
LAYERS = ("session", "ordering", "pbcodec", "obinlog", "compaction",
          "table_sink", "trace")
CODEC_COLS = ["commit_ts", "db", "tbl", "op", "pk", "val", "k"]
STATE_COLS = ["db", "tbl", "pk", "commit_ts", "op", "val"]


def history(spark, seed: int, n: int, zone: str):
    """Land the history; return it as a Spark DataFrame and, for the
    round-trip checks, as the pandas rows the writers were handed."""
    import json

    import pyarrow as pa

    from tidb_binlog_spark.streaming import pipeline
    segments, _ = gen.generate(seed, gen.Traffic(
        events_per_round=n, rounds=1, n_sources=3, n_keys=50_000,
        key_dist="uniform"))
    for i, s in enumerate(segments):
        gen.land(s, zone, f"seg-{i:05d}-{s.source}", time.time())
    rows = pa.concat_tables([s.table for s in segments]).to_pandas()
    rows["k"] = [json.loads(j)["k"] for j in rows["row_json"]]
    df = spark.read.schema(pipeline.CHANGE_SCHEMA).parquet(zone)
    return df, rows


def ranges(n: int, k: int) -> list[tuple[int, int]]:
    lo, hi = gen.TS_BASE, gen.TS_BASE + gen.TS_STEP * (n - 1)
    edges = [lo + (hi - lo + 1) * i // k for i in range(k + 1)]
    return [(edges[i], edges[i + 1] - 1) for i in range(k)]


def replay_rows(spark, pb_dir: str, lo: int, hi: int):
    """A dump range in the change-stream shape the order gate reads: the
    dump holds no arrival order, so commit order stands in for it."""
    from pyspark.sql import functions as F

    from tidb_binlog_spark.sinks import pbcodec
    return (pbcodec.read_pb_dump(spark, pb_dir, lo, hi)
            .withColumn("arrival_seq", F.col("commit_ts"))
            .withColumn("source_id", F.lit("archive"))
            .withColumn("seq", F.lit(0)))


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def round_trip(spark, hist, n: int, base: str, tracer=None) -> dict:
    """Write both archives, decode the frame, restore the dump range by
    range. With a tracer every step is materialized inside its span."""
    from contextlib import nullcontext

    from pyspark.sql import functions as F

    from tidb_binlog_spark.operators import compaction, ordering
    from tidb_binlog_spark.sinks import kafka, pbcodec
    from tidb_binlog_spark.sinks.table_sink import SnapshotTable

    def span(name, layer, rows_in=None):
        return (tracer.span(name, layer, rows_in) if tracer
                else nullcontext({}))

    pb_dir = os.path.join(base, "pb")
    topic = os.path.join(base, "topic")
    table = SnapshotTable(spark, os.path.join(base, "table"))
    c = {"compact_in": 0, "compact_out": 0, "written_rows": 0,
         "duplicate": 0, "disorder": 0}
    cached, replayed = [], []
    steal0, cpu0 = common.steal_s(), common.tree_cpu_s()
    t0 = time.perf_counter()
    with span("batch", None, n):
        with span("pbcodec.write", "pbcodec", n):
            pbcodec.write_pb_dump(kafka.with_row_image(hist), pb_dir)
        with span("obinlog.encode", "obinlog", n):
            (kafka.kafka_frame(hist)
             .withColumn("offset", F.monotonically_increasing_id())
             .write.parquet(topic))
        with span("obinlog.decode", "obinlog", n):
            (kafka.decode_kafka_batch(spark.read.parquet(topic))
             .write.format("noop").mode("overwrite").save())
        for lo, hi in ranges(n, RANGES):
            rows = replay_rows(spark, pb_dir, lo, hi)
            if tracer:
                with span("pbcodec.read", "pbcodec") as s:
                    rows = rows.persist()
                    cached.append(rows)
                    replayed.append(rows)
                    s["rows_out"] = rows.count()
            ok = ordering.ordered_stream(rows)
            if tracer:
                with span("ordering.gate", "ordering") as s:
                    ok = ok.persist()
                    cached.append(ok)
                    s["rows_out"] = ok.count()
                    c["compact_in"] += s["rows_out"]
            compacted = compaction.compact_last_image(ok)
            if tracer:
                with span("compaction", "compaction") as s:
                    compacted = compacted.persist()
                    cached.append(compacted)
                    s["rows_out"] = compacted.count()
                    c["compact_out"] += s["rows_out"]
            with span("table_sink.merge", "table_sink"):
                v = table.apply_batch(compacted)
            if tracer:
                # apply_batch rewrites the whole snapshot; footer row
                # counts are metadata reads, no Spark job
                c["written_rows"] += parquet_rows(
                    os.path.join(table.root, f"v{v['version']}"))
    t_end, cpu_s = time.perf_counter(), common.tree_cpu_s() - cpu0
    steal_s = common.steal_s() - steal0
    # what the gate dropped, counted outside the timed spans
    for rows in replayed:
        for r in (ordering.classify_disorder(rows)
                  .groupBy("order_status").count().collect()):
            if r["order_status"] in ("duplicate", "disorder"):
                c[r["order_status"]] += r["count"]
    for df in cached:
        df.unpersist()
    return {"t0": t0, "t_end": t_end, "cpu_s": cpu_s, "steal_s": steal_s,
            "table": table, "pb_dir": pb_dir, "topic": topic,
            "counters": c}


def run(ctx) -> dict:
    from tidb_binlog_spark.operators import compaction, ordering
    from tidb_binlog_spark.sinks import kafka, pbcodec

    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    events = max(10_000, EVENTS_PER_SECOND * ctx.seconds)
    hist, rows = history(spark, seed, events, os.path.join(work, "zone"))
    n = len(rows)

    rt = round_trip(spark, hist, n, os.path.join(work, "run"))
    total_s = rt["t_end"] - rt["t0"]

    # -- correctness ------------------------------------------------------
    pb_diff = len(common.sym_diff(
        pbcodec.read_pb_dump(spark, rt["pb_dir"]), rows, CODEC_COLS))
    kafka_diff = len(common.sym_diff(
        kafka.decode_kafka_batch(spark.read.parquet(rt["topic"])),
        rows, CODEC_COLS))
    want = compaction.apply_snapshot(ordering.ordered_stream(hist))
    state_diff = len(common.sym_diff(rt["table"].read(), want, STATE_COLS))
    checks = {"pb_roundtrip_identity": pb_diff == 0,
              "kafka_roundtrip_identity": kafka_diff == 0,
              "merge_table_equals_recompute": state_diff == 0,
              "table_checkpoint_covers_history":
                  rt["table"].checkpoint()["commit_ts"]
                  == int(rows["commit_ts"].max())}
    result = {
        "correct": all(checks.values()),
        "attempted": n,
        "failed": pb_diff + kafka_diff + state_diff,
        "metrics": {"events_per_cpu_s": n / rt["cpu_s"],
                    "events_per_s": n / (total_s - rt["steal_s"])},
        "detail": {"checks": checks, "pb_diff_rows": pb_diff,
                   "kafka_diff_rows": kafka_diff,
                   "state_diff_rows": state_diff,
                   "round_trip_s": total_s,
                   "round_trip_cpu_s": rt["cpu_s"],
                   "steal_s": rt["steal_s"]},
    }
    if ctx.trace:
        result["layers"] = traced_layers(ctx, hist, n)
    return result


def traced_layers(ctx, hist, n: int):
    """Repeat the round trip untraced, now warm, then traced: the
    difference is the tracing overhead."""
    from pyspark.sql import functions as F

    import spans
    spark = ctx.spark
    untraced = round_trip(spark, hist, n, os.path.join(ctx.work, "warm"))
    untraced_s = untraced["t_end"] - untraced["t0"]
    tracer = spans.Tracer(spark, ctx.run_id)
    rt = round_trip(spark, hist, n, os.path.join(ctx.work, "traced"),
                    tracer)
    if common.sym_diff(rt["table"].read(), untraced["table"].read(),
                       STATE_COLS):
        raise RuntimeError("traced round trip state differs from the "
                           "untraced one")
    c = rt["counters"]
    pb_files, pb_bytes = common.dir_bytes(rt["pb_dir"])
    frame_bytes = (spark.read.parquet(rt["topic"])
                   .agg(F.sum(F.length("value"))).first()[0])
    state_rows = parquet_rows(os.path.join(
        rt["table"].root, f"v{rt['table'].checkpoint()['version']}"))
    selfs = tracer.self_times()
    batch = tracer.by_name("batch")[0]
    batch_s = batch["end"] - batch["start"]
    out = {
        "ordering.gate_s": tracer.total("ordering.gate"),
        "ordering.pass_ratio": c["compact_in"] / n,
        "ordering.dup_dropped": c["duplicate"],
        "ordering.disorder_dropped": c["disorder"],
        "pbcodec.write_s": tracer.total("pbcodec.write"),
        "pbcodec.read_s": tracer.total("pbcodec.read"),
        "pbcodec.bytes_per_event": pb_bytes / n,
        "pbcodec.files": pb_files,
        "obinlog.encode_s": tracer.total("obinlog.encode"),
        "obinlog.decode_s": tracer.total("obinlog.decode"),
        "obinlog.bytes_per_event": frame_bytes / n,
        "compaction.s": tracer.total("compaction"),
        "compaction.ratio": c["compact_out"] / c["compact_in"],
        "table_sink.merge_s": tracer.total("table_sink.merge"),
        "table_sink.state_rows": state_rows,
        "table_sink.write_amplification":
            c["written_rows"] / c["compact_out"],
        "trace.batch_s": batch_s,
        "trace.untraced_batch_s": untraced_s,
        "trace.overhead_s": batch_s - untraced_s,
        "trace.coverage": 1.0 - selfs[batch["id"]] / batch_s,
    }
    return {"values": out, "tracer": tracer, "counters": c}

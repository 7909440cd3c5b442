#!/usr/bin/env python3
"""Replication benchmark for the tidb_binlog_spark engine.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (perfbench/RATIONALE.md says
why each was chosen and what every metric should move):

- ``catchup``: a pre-landed, Zipf-keyed backlog drained through
  ``run_sql_apply_stream`` in fixed-size micro-batches (relay WAL, order
  gate, safe mode, SQL generation, causality routing, DB-API apply);
- ``archive``: one history written as a pb_binlog dump and a Kafka
  frame, restored into a MERGE table and decoded.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` replays a fixed sample through the engine's public functions with
spans and Spark's event log, and prints the per-layer metrics. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. Spans and details go to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# layers whose Spark task metrics the event log folds per job tag
TAGGED_LAYERS = ("relay", "ordering", "safe_mode", "sqlgen", "causality",
                 "jdbc", "pbcodec", "obinlog", "compaction", "table_sink")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    trace: bool
    run_id: str


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end
    (its Python workers are its children)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def layer_metrics(spec: dict, module, res: dict, folded: dict,
                  session: dict) -> dict:
    """Every per-layer metric of the spec: measured for the layers this
    workload exercises, 0 for the layers it bypasses."""
    values = dict(res["layers"]["values"], **session)
    qid = res["layers"].get("streaming_query")
    if qid is not None:
        jobs = [n for k, n in folded["_streaming_jobs"].items()
                if k.startswith(qid + "/")]
        values["pipeline.jobs_per_batch"] = statistics.median(jobs)
    for layer in TAGGED_LAYERS:
        if layer in module.LAYERS:
            f = folded.get(layer, {})
            for m in ("cpu_s", "shuffle_bytes", "spill_bytes"):
                values[f"{layer}.{m}"] = f.get(m, 0)
    out, missing = {}, []
    for m in spec["per_layer"]:
        name = m["name"]
        if name in values:
            v = values[name]
        elif name.split(".")[0] in module.LAYERS:
            missing.append(name)
            continue
        else:
            v = 0
        out[name] = {"value": v, "unit": m["unit"]}
    if missing:
        raise RuntimeError(f"exercised layer metrics not measured: "
                           f"{missing}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tidb_binlog_spark")):
        print("perfbench: no tidb_binlog_spark package in this checkout; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import archive
    import catchup
    import common
    workloads = {"catchup": catchup, "archive": archive}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    module = workloads[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = common.start_session(ROOT, work, bool(args.trace))
        setup_wall_s = time.perf_counter() - T_START
        # set-up cost as CPU seconds of the process tree: the
        # hypervisor's steal moves its wall time between busy and quiet
        # stretches far more (perfbench/RATIONALE.md)
        setup_s = common.tree_cpu_s()
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace),
                  run_id)
        res = module.run(ctx)
        artifact = {"workload": args.workload, "seed": args.seed,
                    "detail": dict(res["detail"], setup_s=setup_s,
                                   setup_wall_s=setup_wall_s)}
        if args.trace:
            from spans import fold_event_log, jvm_peak_rss_mb
            session = {"session.start_s": setup_wall_s,
                       "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark)}
            stop_jvm(spark)
            spark = None
            folded = fold_event_log(os.path.join(work, "eventlog"))
            metrics = layer_metrics(spec, module, res, folded, session)
            artifact["event_log_layers"] = folded
            res["layers"]["tracer"].dump(
                os.path.join(ROOT, ".perfbench_out", f"{run_id}.json"),
                artifact)
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = dict(res["metrics"], setup_s=setup_s)
            if set(values) != set(units):
                raise RuntimeError(f"metrics {sorted(values)} do not match "
                                   f"BENCHMARK.json {sorted(units)}")
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in values.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"),
                        exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"{run_id}.json"), "w") as fh:
                json.dump(artifact, fh, indent=1, default=str)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": artifact["detail"]}, default=str))
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

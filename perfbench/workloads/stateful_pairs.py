"""stateful_pairs: the bounded ``export_pairs`` shape on the production
state store.

``run_export`` runs ``streaming_pairs`` (``applyInPandasWithState``) on the
session's RocksDB store over many Zipf-sized conversations with two hot
ones. The input files hold contiguous event-time slices and carry
increasing mtimes, so the file source takes them in event-time order and
every micro-batch advances event time: no row is late. A second
AvailableNow run on the same checkpoint takes the flush sentinel, whose
watermark drains the state. One pass is both runs on fresh directories;
passes repeat until the run's seconds are used.

Checks: the merged sink of every pass equals batch ``extract_pairs`` with
the same lag bound on the same input, and no row was dropped by the
watermark.
"""

from __future__ import annotations

import os
import time

import data
import harness

N_CONVS = 400
HOT_TURNS = 256
N_FILES = 6
FILES_PER_TRIGGER = 2   # three data micro-batches, then the sentinel run
WATERMARK = "2 minutes"
MAX_LAG_SEC = 300
KEYS = ("conv_id", "user_turn_idx")
WARM_CONVS = 30


def _pairs(df):
    from stellar_etl_spark.streaming.state import streaming_pairs

    return streaming_pairs(df, WATERMARK, MAX_LAG_SEC)


def _sink(ctx: harness.Context, root: str):
    from stellar_etl_spark.streaming.sink import IdempotentSink

    # one output file per core per epoch, the jobs.py default
    return IdempotentSink(os.path.join(root, "sink"), KEYS, output_partitions=ctx.cores)


def warm(ctx: harness.Context) -> None:
    """One untraced data run over a small table of another seed, before any
    timing: codegen, the Python workers and the state store are first used
    here. A sentinel run here as well cost about 7 s and did not make the
    timed pass faster."""
    from stellar_etl_spark.streaming.pipeline import run_export

    root = os.path.join(ctx.workdir, f"warm{ctx.cores}")
    src = os.path.join(root, "src")
    data.write_event_time_slices(data.transcripts(ctx.seed + 1, WARM_CONVS, hot_turns=32), src, 1)
    run_export(ctx.spark, src, _pairs, _sink(ctx, root), os.path.join(root, "ckpt"),
               max_files_per_trigger=FILES_PER_TRIGGER)


def export_pass(ctx: harness.Context, table, root: str):
    """Data run, then sentinel run on the same checkpoint; returns the sink."""
    from stellar_etl_spark.streaming.pipeline import run_export

    src = os.path.join(root, "src")
    data.write_event_time_slices(table, src, N_FILES)
    sink = _sink(ctx, root)
    sink.foreach_batch = ctx.tracer.wrap("sink.foreach_batch", sink.foreach_batch)
    pairs = ctx.tracer.wrap("state.streaming_pairs", _pairs)
    ckpt = os.path.join(root, "ckpt")
    with ctx.tracer.span("pipeline.run_export"):
        run_export(ctx.spark, src, pairs, sink, ckpt, max_files_per_trigger=FILES_PER_TRIGGER)
    data.write_atomic(data.flush_row(table), src, "part-flush.parquet", time.time())
    with ctx.tracer.span("pipeline.run_export"):
        run_export(ctx.spark, src, pairs, sink, ckpt, max_files_per_trigger=FILES_PER_TRIGGER)
    return sink


def fingerprint(df) -> tuple[int, int, tuple[str, ...]]:
    """(row count, order-free content hash, column names): equal
    fingerprints mean equal multisets of rows, barring a 64-bit collision."""
    import pyspark.sql.functions as F

    cols = tuple(sorted(df.columns))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0), cols


def run(ctx: harness.Context) -> dict:
    import pyspark.sql.functions as F
    from stellar_etl_spark.operators import extract_pairs
    from stellar_etl_spark.sources import read_batch

    table = data.transcripts(ctx.seed, N_CONVS, hot_turns=HOT_TURNS)
    n_turns = table.num_rows

    passes = []
    with harness.listening(ctx.spark) as log:
        deadline = time.time() + ctx.seconds
        while not passes or time.time() < deadline:
            root = os.path.join(ctx.workdir, f"pass{len(passes)}")
            t0 = time.time()
            sink = export_pass(ctx, table, root)
            passes.append((t0, time.time(), sink))
        events = log.wait_for(sum(len(s.lineage()) for *_, s in passes))

    # --- checks, outside the timed region -------------------------------
    fed = read_batch(ctx.spark, os.path.join(ctx.workdir, "pass0", "src"))
    expected = fingerprint(extract_pairs(fed.where(F.col("conv_id") != "flush"), MAX_LAG_SEC))
    latencies = []
    for i, (t0, t1, sink) in enumerate(passes):
        got = fingerprint(sink.read_sink(ctx.spark).where(F.col("conv_id") != "flush"))
        ctx.checks.check(got == expected,
                         f"pass {i}: pairs sink {got[:2]} != batch extract_pairs {expected[:2]}")
        pass_events = [e for e in events if t0 <= harness.trigger_interval(e)[0] <= t1]
        late = sum(op.get("numRowsDroppedByWatermark", 0)
                   for e in pass_events for op in e.get("stateOperators", []))
        ctx.checks.check(late == 0, f"pass {i}: {late} rows dropped by the watermark")
        # commit latency of each micro-batch: trigger start until the sink
        # committed that epoch (batch ids continue across the two runs)
        commits = {rec["epoch"]: rec["committed_at"] for rec in sink.lineage()}
        latencies += [commits[e["batchId"]] - harness.trigger_interval(e)[0]
                      for e in pass_events if e["batchId"] in commits]

    walls = [t1 - t0 for t0, t1, _ in passes]
    out = {
        "suite_s": harness.median(walls),
        "turns_per_s": n_turns / harness.median(walls),
        "close_latency_p50_ms": 1000 * harness.median(latencies),
    }
    if ctx.tracer.enabled:
        ctx.tracer.progress.extend(events)
        out.update(_layers(ctx, passes, events))
    return out


def _layers(ctx: harness.Context, passes, events) -> dict:
    n = len(passes)
    per_pass = ("pipeline.trigger_ms_p50", "pipeline.trigger_ms_p95", "state.rows_peak", "state.bytes_peak")
    out = {k: v if k in per_pass else v / n for k, v in harness.progress_metrics(events).items()}
    tr = ctx.tracer
    sink = passes[-1][2]
    files = size = 0
    for top, _, names in os.walk(sink.path):
        if "epoch=" in top:
            parts = [os.path.join(top, m) for m in names if m.startswith("part-")]
            files += len(parts)
            size += sum(os.path.getsize(p) for p in parts)
    # query start-up and shut-down: inside run_export, outside any trigger
    queries = [s for s in tr.spans if s["name"] == "pipeline.run_export"]
    triggers = [harness.trigger_interval(e) for e in events]
    start_up, shut_down = [], []
    for q in queries:
        inside = [t for t in triggers if q["start"] <= t[0] <= q["end"]]
        if inside:
            start_up.append((q["start"], min(a for a, _ in inside)))
            shut_down.append((max(b for _, b in inside), q["end"]))
    named = [(s["start"], s["end"]) for s in tr.spans if s["name"] != "pipeline.run_export"]
    wall = sum(t1 - t0 for t0, t1, _ in passes)
    covered = sum(
        harness.covered_share((q["start"], q["end"]), named + triggers + start_up + shut_down)
        * (q["end"] - q["start"])
        for q in queries
    )
    out.update({
        "pipeline.start_ms": 1000 * sum(b - a for a, b in start_up) / n,
        "pipeline.stop_ms": 1000 * sum(b - a for a, b in shut_down) / n,
        "sink.foreach_batch_ms": 1000 * tr.total("sink.foreach_batch") / n,
        "sink.epoch_ms_p95": 1000 * harness.quantile(tr.durations("sink.foreach_batch"), 0.95),
        "sink.rows": sum(rec["rows"] for rec in sink.lineage()),
        "sink.files": files,
        "sink.bytes": size,
        "trace.coverage_pct": 100 * covered / wall,
        "trace.overhead_pct": 100 * tr.overhead_s / wall,
    })
    return out


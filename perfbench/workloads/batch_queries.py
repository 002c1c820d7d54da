"""batch_queries: the driver-facing batch queries of ``plans.registry``.

Each query is built (``plans``; the ``functions`` kernels are reached only
through it) and forced through the noop sink; the build call and the noop
write are timed apart. The inputs are driver-shaped tables (events,
documents, embeddings) generated from the seed. Every result is then
checked, outside the timed region, against the query's ``oracle_sql()``
run by DuckDB over the same files.

The suite is six registry leaves: the four the spread gates regressed, the
MinHash leaf the roadmap names, and ``pairs``, the batch twin of the
``stateful_pairs`` workload. One pass over all 45 batch queries, with their
oracles, does not fit a run's time; the six cover the ``plans`` build path
(the events-to-transcripts view and the document reads), the dedup and
media kernels of ``functions``, and two ``operators`` (``time_range`` and
``extract_pairs``).

A traced run also records a span around every call the registry makes
into those two operators, by swapping the registry's references to them
for wrapped ones for the length of the run, and counts each operator's
output rows after the timed region.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import math
import os
import time

import data
import harness

QUERIES = (
    "time_range", "conv_tool_stats", "tool_grants", "media_features",
    "doc_minhash_pairs", "pairs",
)
# the operators the registry calls on the way to those queries
OPERATORS = ("time_range", "extract_pairs")
# events, users and embeddings at the sf0.1 fixture's sizes (no query of
# the suite reads embeddings; the oracle's views expect the file); far
# fewer documents than its 5000, because the MinHash oracle compares every
# pair of documents (about 9 s at 400 documents)
TABLES = dict(n_events=100_000, n_users=1500, n_docs=120, n_vecs=2000)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(ctx: harness.Context) -> None:
    """Before any timing: one query on another seed's tables (JIT and
    codegen), and one pandas job to start the Python workers that
    ``media_features`` decodes with. A whole untimed pass here would add
    about 20 s to every run, which the benchmark's time budget cannot
    carry."""
    from stellar_etl_spark.plans.registry import queries

    path = os.path.join(ctx.workdir, "warm")
    data.driver_tables(ctx.seed + 1, path, **TABLES)
    _force(queries()["conv_tool_stats"](ctx.spark, path))
    _force(ctx.spark.range(4 * ctx.cores).mapInPandas(lambda frames: frames, "id long"))


def run(ctx: harness.Context) -> dict:
    from stellar_etl_spark.plans.registry import queries

    path = os.path.join(ctx.workdir, "tables")
    data.driver_tables(ctx.seed, path, **TABLES)
    registry = queries()
    passes, windows, built, outputs = [], [], {}, {}
    with _traced_operators(ctx.tracer, outputs):
        deadline = time.time() + ctx.seconds
        while not passes or time.time() < deadline:
            outputs.clear()  # keep the last pass's operator outputs
            p0 = time.time()
            per_query, errors = _one_pass(ctx, registry, path, built)
            passes.append(per_query)
            windows.append((p0, time.time()))
            if errors:
                break

    # --- checks, outside the timed region -------------------------------
    # DuckDB runs the oracles on one thread while Spark collects the results
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        oracles = {name: pool.submit(oracle_rows, path, name) for name in QUERIES}
        for name in QUERIES:
            if name in errors:
                ctx.checks.check(False, f"{name}: query error {errors[name][:300]}")
            else:
                ok, why = matches([r.asDict() for r in built[name].collect()],
                                  *oracles[name].result())
                ctx.checks.check(ok, f"{name}: {why}")

    suites = [sum(b + e for b, e in p.values()) for p in passes]
    latencies = [b + e for p in passes for b, e in p.values()]
    out = {
        "suite_s": harness.median(suites),
        "close_latency_p50_ms": 1000 * harness.median(latencies),
    }
    if ctx.tracer.enabled:
        n = len(passes)
        out["plans.build_s"] = sum(b for p in passes for b, _ in p.values()) / n
        out["plans.exec_s"] = sum(e for p in passes for _, e in p.values()) / n
        for name in QUERIES:
            out[f"plans.{name}.build_s"] = harness.median([p[name][0] for p in passes])
            out[f"plans.{name}.exec_s"] = harness.median([p[name][1] for p in passes])
        out["operators.build_ms"] = 1000 * sum(
            ctx.tracer.total(f"operators.{op}") for op in OPERATORS) / n
        for op in OPERATORS:
            out[f"operators.{op}.rows_out"] = sum(df.count() for df in outputs.get(op, []))
        wall = sum(b - a for a, b in windows)
        inner = [(s["start"], s["end"]) for s in ctx.tracer.spans
                 if s["name"] in ("plans.build", "plans.exec")]
        covered = sum(harness.covered_share(w, inner) * (w[1] - w[0]) for w in windows)
        out["trace.coverage_pct"] = 100 * covered / wall
        out["trace.overhead_pct"] = 100 * ctx.tracer.overhead_s / wall
    return out


def _one_pass(ctx: harness.Context, registry, path: str, built: dict):
    """Build and force every query once; returns (build_s, exec_s) per
    query and the text of each query error."""
    per_query, errors = {}, {}
    for name in QUERIES:
        b0 = time.time()
        try:
            with ctx.tracer.span("plans.build", query=name):
                df = registry[name](ctx.spark, path)
            b1 = time.time()
            with ctx.tracer.span("plans.exec", query=name):
                _force(df)
            per_query[name] = (b1 - b0, time.time() - b1)
            built[name] = df
        except Exception as e:  # a failing query is counted, not fatal
            errors[name] = f"{type(e).__name__}: {e}"
            per_query[name] = (time.time() - b0, 0.0)
    return per_query, errors


@contextlib.contextmanager
def _traced_operators(tracer: harness.Tracer, outputs: dict):
    """While the block runs, the registry's references to ``OPERATORS``
    record a span per call and keep each call's output DataFrame in
    ``outputs``. Untraced runs leave the registry alone."""
    from stellar_etl_spark.plans import registry

    if not tracer.enabled:
        yield
        return
    original = {op: getattr(registry, op) for op in OPERATORS}

    def keeping(op, fn):
        traced = tracer.wrap(f"operators.{op}", fn)

        def call(*args, **kwargs):
            df = traced(*args, **kwargs)
            outputs.setdefault(op, []).append(df)
            return df

        return call

    for op, fn in original.items():
        setattr(registry, op, keeping(op, fn))
    try:
        yield
    finally:
        for op, fn in original.items():
            setattr(registry, op, fn)


# --- the DuckDB oracle --------------------------------------------------------
def oracle_rows(path: str, name: str) -> tuple[list[str], list[dict]]:
    """Column names and rows of a query's oracle SQL, run by DuckDB."""
    import duckdb

    from stellar_etl_spark.plans.registry import oracle_sql

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
        rel = con.execute(oracle_sql()[name])
        cols = [d[0] for d in rel.description]
        return cols, [dict(zip(cols, row)) for row in rel.fetchall()]
    finally:
        con.close()


def matches(got: list[dict], cols: list[str], want: list[dict]) -> tuple[bool, str]:
    """Compare Spark's rows with the oracle's, cell for cell, with columns
    sorted by name and rows sorted by value."""
    if got and sorted(got[0]) != sorted(cols):
        return False, f"columns {sorted(got[0])} != oracle {sorted(cols)}"
    a, b = _normalize(got), _normalize(want)
    if len(a) != len(b):
        return False, f"{len(a)} rows != oracle {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return False, f"row {i}: spark={x!r} duckdb={y!r}"
    return True, ""


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _normalize(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0])
    out = [tuple(_cell(r[c]) for c in cols) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))

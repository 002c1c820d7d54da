"""Physical-plan regression tests — pin the efficiency properties the engine
is designed around (SURVEY §4): narrow extractors stay shuffle-free, aggs are
single-shuffle partial+final, dims broadcast, scans get pushdown + partition
pruning. A change that silently adds a shuffle or drops a pushdown fails here
long before it shows up as a 100 TB regression."""

import re

import pyspark.sql.functions as F
import pytest

from stellar_etl_spark.generator import transcripts_df, write_transcripts
from stellar_etl_spark.operators import (
    extract_conversations,
    extract_effects,
    extract_star_schema,
    extract_turns,
    extract_units,
)
from stellar_etl_spark.operators.dims import denormalize
from stellar_etl_spark.sources.transcripts import read_range


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, n_convs=20)


def test_narrow_extractors_no_shuffle(tdf):
    for ex in (extract_turns, extract_units, extract_effects):
        assert "Exchange" not in _plan(ex(tdf)), ex.__name__


def test_conv_profile_single_shuffle_and_breadth(tdf):
    """The 60+-column wide projection reuses one conv_id partitioning for
    both its lag window and the aggregation — exactly one Exchange."""
    from stellar_etl_spark.operators.profile import extract_conversation_profile

    prof = extract_conversation_profile(tdf)
    assert len(prof.columns) >= 50
    assert _plan(prof).count("Exchange") == 1


def test_contextual_effects_single_shuffle(tdf):
    """The full emitter table needs lag context: exactly one conv_id
    Exchange feeds every window column; the explode stays narrow."""
    from stellar_etl_spark.operators.effects import extract_effects_contextual

    assert _plan(extract_effects_contextual(tdf)).count("Exchange") == 1


def test_conversations_single_shuffle_partial_agg(tdf):
    plan = _plan(extract_conversations(tdf))
    assert plan.count("Exchange") == 1
    # partial (map-side) + final aggregate pair
    assert plan.count("HashAggregate") >= 2


def test_denormalize_broadcasts_dims(tdf):
    plan = _plan(denormalize(extract_star_schema(tdf)))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_scan_pushdown_and_partition_pruning(spark, tmp_path):
    write_transcripts(transcripts_df(spark, n_convs=200, conv_spacing_sec=600), str(tmp_path / "t"))
    rr = read_range(spark, str(tmp_path / "t"), "2026-01-01 00:00:00", "2026-01-01 06:00:00")
    plan = _plan(rr)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ts_date" in m.group(1), "day-partition pruning missing"
    m = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert m and "ts" in m.group(1), "ts predicate not pushed to scan"


def test_whole_stage_codegen_active(tdf):
    # codegen stages appear as '*(n)' markers in the executed plan
    assert "*(" in _plan(extract_turns(tdf))


def test_tpch_pricing_scan_prunes_columns(spark):
    from stellar_etl_spark.plans.registry import q_tpch_pricing

    plan = _plan(q_tpch_pricing(spark, "/root/testdata/sf0.001"))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None
    # 11-column table: the 6 needed columns only
    assert "l_orderkey" not in m.group(1) and "l_partkey" not in m.group(1)
    m2 = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m2 and "l_shipdate" in m2.group(1)


def test_pairs_single_shuffle(tdf):
    from stellar_etl_spark.operators import extract_pairs

    plan = _plan(extract_pairs(tdf))
    assert plan.count("Exchange") == 1  # one conv_id partitioning, reused


def test_bucketed_table_shuffle_free(spark, tmp_path):
    """The bucketed layout (bucket(N, conv_id), SURVEY §7.0) co-locates each
    conversation: the scan reports the conv_id hash partitioning, so BOTH the
    conversation aggregation and the full windowed emitter table plan with
    ZERO Exchange — the plan shape that removes the pipeline's biggest
    shuffle at 10^12 turns."""
    from stellar_etl_spark.generator import write_transcripts_bucketed
    from stellar_etl_spark.operators.effects import extract_effects_contextual
    from stellar_etl_spark.sources.transcripts import read_batch

    df = transcripts_df(spark, n_convs=50)
    write_transcripts_bucketed(df, "t_bucketed_test", str(tmp_path / "bt"), buckets=8)
    try:
        src = read_batch(spark, "table:t_bucketed_test")
        assert "Exchange" not in _plan(extract_conversations(src))
        assert "Exchange" not in _plan(extract_effects_contextual(src))
        # and the data is intact
        assert read_batch(spark, "table:t_bucketed_test").count() == df.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed_test")


def test_lsh_topk_join_variants(spark):
    """Broadcast for the sampled-query shape; shuffle join (AQE's pick) when
    the caller declares queries ~ corpus — both must plan as stated."""
    from stellar_etl_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 4)
    # disable auto-broadcast so the planner's choice reflects OUR flag, not
    # the tiny test corpus (at real scale the stats make this call)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = lsh_topk(emb, qs, dim=64, bits=6, tables=2, broadcast_queries=True)
        assert "BroadcastHashJoin" in _plan(bcast)  # hint overrides threshold
        shuf = lsh_topk(emb, qs, dim=64, bits=6, tables=2, broadcast_queries=False)
        assert "BroadcastHashJoin" not in _plan(shuf)
        # rows must agree between the two physical strategies
        assert sorted(map(tuple, bcast.collect())) == sorted(map(tuple, shuf.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lsh_bucket_join_exchange_id_only(spark):
    """VERDICT r3 #1: the (tbl, bkt) bucket-join exchange must carry ONLY ids
    and bucket keys — at tables=8 an embedding riding that shuffle moves 8x.
    Vectors may appear only in the post-dedup candidate joins (keyed on
    neighbor_id / query_id, once per side)."""
    from stellar_etl_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = lsh_topk(emb, qs, dim=64, bits=6, probe_hamming=2, tables=8,
                      broadcast_queries=False)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        txt = df._jdf.queryExecution().explainString(mode)
        blocks = re.split(r"\n\(\d+\) ", txt)
        bkt_exchanges = [
            b for b in blocks
            if b.startswith("Exchange") and re.search(r"hashpartitioning\([^)]*bkt#", b)
        ]
        assert bkt_exchanges, "expected at least one (tbl, bkt) exchange"
        for b in bkt_exchanges:
            assert "vec" not in b, f"vector column rides the bucket-join shuffle:\n{b}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sessions_shares_partitioning(tdf):
    from stellar_etl_spark.operators import extract_sessions

    # lag + cumulative-sum windows + final agg all share the conv_id
    # partitioning: at most 2 exchanges (window partitioning + aggregation
    # re-key on (conv_id, session_seq))
    plan = _plan(extract_sessions(tdf))
    assert plan.count("Exchange") <= 2


def test_ivf_topk_join_variants(spark):
    """IVF follows the same query-side contract as LSH: broadcast for the
    sampled-query shape, shuffle join when the caller declares queries ~
    corpus — and both strategies return identical rows."""
    from stellar_etl_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = ivf_topk(emb, qs, n_lists=8, n_probe=2, broadcast_queries=True)
        assert "BroadcastHashJoin" in _plan(bcast)
        shuf = ivf_topk(emb, qs, n_lists=8, n_probe=2, broadcast_queries=False)
        # the medoid table (n_lists rows) still broadcasts for assignment;
        # the candidate/query joins must not
        assert sorted(map(tuple, bcast.collect())) == sorted(map(tuple, shuf.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_corpus_assignment_narrow(spark):
    """VERDICT r4 #3: IVF corpus→list assignment must be a fully narrow
    projection — single-row broadcast medoid array + unrolled argmax — with
    NO Exchange and NO Window on the corpus side before the inverted-list
    join. The only shuffles touching neighbor_id are the post-candidate
    scoring joins (where vectors legitimately rejoin once)."""
    from stellar_etl_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ivf_topk(emb, qs, n_lists=8, n_probe=2, broadcast_queries=False)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        txt = df._jdf.queryExecution().explainString(mode)
        blocks = re.split(r"\n\(\d+\) ", txt)
        # the single-row medoid-array join shows up as one BNLJ
        assert any(b.startswith("BroadcastNestedLoopJoin") for b in blocks)
        # the old crossJoin+row_number assignment put a Window partitioned on
        # the corpus id and an Exchange carrying msim; both must be gone
        for b in blocks:
            if b.startswith("Window"):
                assert "neighbor_id" not in b.split("\n")[0], (
                    f"corpus-side Window survived in assignment:\n{b}"
                )
            if b.startswith("Exchange") and re.search(r"hashpartitioning\([^)]*neighbor_id", b):
                # the tiny query side keeps its window (partitioned on
                # query_id); only a corpus-side msim shuffle is forbidden
                assert "msim" not in b, f"assignment Exchange survived:\n{b}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scoring_norm_hoist_bitexact(spark):
    """The ANN scoring joins hoist each vector's norm to one per row
    (O((n+q)d)) instead of re-folding both norms inside every pair's cosine
    (O(nqd)). Values must be BIT-identical to the naive per-pair cosine —
    same fold, same operand order — or oracle hashes and rank ties would
    drift. (An unrolled multiply-add dot kernel was also tried and measured
    SLOWER in every realistic plan shape — see similarity._dot's docstring;
    this hoist is the one that stays.)"""
    import struct

    from stellar_etl_spark.functions import similarity as S
    from stellar_etl_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    got = cosine_topk(emb, q, k=5)

    qv = q.select(F.col("vec_id").alias("query_id"), S.as_double_array(F.col("embedding")).alias("qvec"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), S.as_double_array(F.col("embedding")).alias("cvec"))
    naive = (
        cv.join(F.broadcast(qv), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
        )
    )
    want = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in naive.collect()
    }
    rows = got.collect()
    assert len(rows) == 15
    for r in rows:
        assert struct.pack("<d", r["sim"]) == struct.pack(
            "<d", want[(r["query_id"], r["neighbor_id"])]
        )


def test_sequence_pack_bins_no_global_window_on_data(spark):
    """The distributed prefix sum must never sort the full corpus in one
    task: the per-document cumsum window is partitioned by bucket, the only
    SinglePartition exchange feeds the buckets-row prefix window (constant
    size), and the offsets rejoin via broadcast."""
    from stellar_etl_spark.operators.packing import sequence_pack_bins

    d = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    plan = _plan(sequence_pack_bins(d, buckets=16))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # exactly one single-partition exchange — the 16-row bucket-totals side
    assert plan.count("Exchange SinglePartition") == 1
    # the data-side window is hash-partitioned by bucket, so a
    # hashpartitioning exchange must exist alongside it
    assert re.search(r"Exchange hashpartitioning\(_bucket", plan)


def test_corpus_pipeline_no_degenerate_joins(spark):
    """The end-to-end corpus build must never fall into a cartesian or
    nested-loop join — every join is keyed (fingerprint, id, band key,
    split/bucket) at any scale."""
    from stellar_etl_spark.operators.corpus import build_training_corpus

    d = spark.createDataFrame(
        [(i, f"document number {i} with some shared words of text") for i in range(60)],
        ["doc_id", "text"],
    )
    plan = _plan(build_training_corpus(d, min_quality=0.0, min_jaccard=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_harness_partitions_restores_conf(spark):
    from stellar_etl_spark.plans.registry import _harness_partitions

    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
    before = [spark.conf.get(k) for k in keys]
    with _harness_partitions(spark, 3):
        assert spark.conf.get(keys[0]) == "3"
        assert spark.conf.get(keys[1]).endswith("HDFSBackedStateStoreProvider")
    assert [spark.conf.get(k) for k in keys] == before
    with pytest.raises(ZeroDivisionError):
        with _harness_partitions(spark, 3):
            1 / 0
    assert [spark.conf.get(k) for k in keys] == before

"""Physical-plan assertions — the scale contract.

These tests pin the plan properties that make the engine viable at
100 TB: filter pushdown to the parquet scan, column pruning, map-side
partial aggregation before the exchange, broadcast joins for small
dimensions, and no accidental cartesian products. A correctness-equal
plan that loses one of these regresses 10-100× at scale, so they are
tested like behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_spark.generator import gen_change_log
from debezium_spark.operators.compaction import compact
from debezium_spark.operators.transforms import (
    drop_tombstones,
    normalize_target_key,
    pk_change_split,
)
from debezium_spark.sources.changelog import read_changelog_range

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_exchanges(plan: str) -> int:
    import re

    # formatted plans print each node once in the tree and once in the
    # detail section — count detail headers only. Round-robin exchanges
    # are the fixture-scale `ensure_parallelism` respread of a
    # single-split input, not a data-keyed shuffle — the pinned shape
    # is the hash/range exchange count, which is what survives at
    # corpus scale (the respread branch is a no-op there).
    total = len(re.findall(r"\(\d+\) Exchange", plan))
    rr = len(re.findall(r"Arguments: RoundRobinPartitioning", plan))
    return total - rr


@pytest.fixture(scope="module")
def changelog_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "log")
    gen_change_log(spark, 5, 20, n_events=500).write.parquet(p)
    return p


def test_lsn_range_filter_pushed_to_scan(spark, changelog_path):
    df = read_changelog_range(spark, changelog_path, 100, 200)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    # both bounds reach the parquet reader (row-group min/max skipping)
    assert "GreaterThanOrEqual(lsn,100)" in plan
    assert "LessThan(lsn,200)" in plan


def test_compaction_has_partial_aggregation_single_exchange(
    spark, changelog_path, tmp_path
):
    """Plan pin on the merge's election: state ∪ raw change rows meet
    in ONE exchange with an aggregate on each side — the map-side
    combine that pre-reduces a hot key in every task before the
    shuffle (no salting needed)."""
    import re

    from debezium_spark.lake import LakeTable

    ev = normalize_target_key(
        pk_change_split(drop_tombstones(spark.read.parquet(changelog_path)))
    )
    changes = ev.select(
        "key.repo", "key.path", "op", "lsn",
        "after.commit", "after.lang", "after.content",
    )
    lt = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    lt.create()
    lt.merge(changes, 1)
    state = lt.read_state(logical=False, with_sys=True)
    plan = plan_of(compact(changes, state))
    assert n_exchanges(plan) == 1
    # max_by over a struct buffer plans as SortAggregate; the tree
    # section lists final aggregate, exchange, partial aggregate
    tree = plan.split("\n\n")[0]
    nodes = re.findall(
        r"(SortAggregate|HashAggregate|ObjectHashAggregate|Exchange)", tree
    )
    k = nodes.index("Exchange")
    assert nodes[k - 1] != "Exchange" and nodes[k + 1] != "Exchange"
    assert "Aggregate" in nodes[k - 1] and "Aggregate" in nodes[k + 1]


def test_column_pruning_reaches_scan(spark):
    from debezium_spark.queries import cdc_partition_routing

    plan = plan_of(cdc_partition_routing(spark, SF_DIR))
    # only the columns the query needs are read — event payload columns
    # (props, value, ts) must not appear in the scan schema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_small_dims_broadcast(spark):
    from debezium_spark.queries import join_revenue_by_nation

    plan = plan_of(join_revenue_by_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the fact-side join must NOT be a nested loop / cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_agg(spark):
    from debezium_spark.queries import dedup_exact

    plan = plan_of(dedup_exact(spark, SF_DIR))
    # shuffle volume is O(distinct hashes): partial aggregate present
    assert plan.lower().count("hashaggregate") >= 2
    assert n_exchanges(plan) == 1


def test_passage_dedup_narrow_explode_single_exchange(spark):
    from debezium_spark.queries import dedup_passages

    plan = plan_of(dedup_passages(spark, SF_DIR))
    # passage explode is narrow (no exchange of its own); the two
    # exchanges are the standard two-phase distinct-agg — first keyed by
    # (passage_hash, doc_id), then by passage_hash — so every shuffled
    # byte is already deduplicated: O(distinct pairs), never the corpus
    assert plan.lower().count("hashaggregate") >= 2
    assert n_exchanges(plan) == 2
    assert "cartesianproduct" not in plan.lower()


def test_ddl_parse_zero_shuffle_codegen(spark):
    from debezium_spark.queries import cdc_ddl_parse

    plan = plan_of(cdc_ddl_parse(spark, SF_DIR))
    # generate + regexp-parse is one narrow codegen projection: no
    # exchange anywhere, no Python eval
    assert n_exchanges(plan) == 0
    assert "codegen id" in plan.lower()  # projection runs in WSCG
    assert "pythonudf" not in plan.lower().replace(" ", "")
    # column pruning reached the scan: only the key is read
    assert "readschema: struct<p_partkey:bigint>" in plan.lower()


def test_ann_topk_broadcasts_queries_not_corpus(spark):
    from debezium_spark.queries import ann_cosine_topk

    plan = plan_of(ann_cosine_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # corpus side never exchanges before the join (only the final
    # per-query top-k window shuffles)
    assert "SortMergeJoin" not in plan


def test_lww_filter_stays_jvm_side(spark):
    # no Python UDFs anywhere in the CDC catalog's hot paths
    from debezium_spark.queries import (
        cdc_envelope_build,
        cdc_final_state,
        cdc_lww_compaction,
    )

    for q in (cdc_envelope_build, cdc_final_state, cdc_lww_compaction):
        plan = plan_of(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_minhash_no_cartesian(spark):
    from debezium_spark.queries import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_candidate_stage_is_join_free(spark):
    # the measured near-dup query is the capped-LSH shape: bounded
    # postings lists per (table, bucket) in one groupBy, pairs explode
    # locally and carry their vectors — NO join anywhere, so per-bucket
    # work is ≤ max_bucket² at any corpus size (an all-pairs
    # nested-loop would be quadratic at any scale)
    from debezium_spark.queries import embedding_near_dup

    plan = plan_of(embedding_near_dup(spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_has_postings_cap(spark):
    # capped path: postings lists built in one groupBy (stop-shingles
    # dropped by the size filter), pairs generated locally from each
    # bounded list — the candidate stage has NO join at all
    from debezium_spark.queries import dedup_ngram_jaccard

    plan = plan_of(dedup_ngram_jaccard(spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_near_dup_candidate_stage_is_join_free(spark):
    # paired-block banding builds bounded postings lists in one groupBy
    # (population-capped buckets); pairs are generated locally from
    # each list — the candidate stage has NO join, so per-bucket work
    # is ≤ max_bucket² at any corpus size
    from debezium_spark.queries import dedup_simhash_near

    plan = plan_of(dedup_simhash_near(spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_single_exchange(spark):
    # signature build = one map-side-combinable groupBy(id); the
    # per-token ×32 bit explode and second-level groupBy are gone
    from debezium_spark.queries import text_simhash

    plan = plan_of(text_simhash(spark, SF_DIR))
    assert n_exchanges(plan) == 1


def test_wholestage_codegen_on_quality_score(spark):
    from debezium_spark.queries import text_quality_score

    plan = plan_of(text_quality_score(spark, SF_DIR))
    # formatted mode marks codegen stages with "[codegen id : N]"
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan


def test_control_row_pass_pushes_to_scan(spark, changelog_path):
    # the per-batch 't'/'m' lookup must reach the parquet reader (its
    # row groups dictionary-skip when no control ops are present) — it
    # runs on the raw input precisely because a filter cannot cross a
    # CollectMetrics node
    ev = read_changelog_range(spark, changelog_path, 0, 10_000)
    ctl = ev.filter(F.col("op").isin("t", "m")).select("lsn", "op")
    plan = plan_of(ctl)
    assert "PushedFilters" in plan
    assert "In(op" in plan


def test_pack_shards_is_distributed_prefix_sum(spark):
    """The global running sum must NOT serialize through one partition:
    256 contiguous hash-prefix ranges + broadcast offsets instead of a
    global-order window."""
    from debezium_spark.queries import corpus_pack_shards

    plan = plan_of(corpus_pack_shards(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # 256-row offset table broadcast
    assert "CartesianProduct" not in plan


def test_quota_sample_no_single_partition(spark):
    from debezium_spark.queries import corpus_quota_sample

    plan = plan_of(corpus_quota_sample(spark, SF_DIR))
    assert "SinglePartition" not in plan


def test_pii_and_repetition_stay_jvm_side(spark):
    """PII redaction and repetition stats are per-row codegen: zero
    exchanges, zero Python UDFs."""
    from debezium_spark.queries import text_pii_redact, text_repetition_filter

    for fn in (text_pii_redact, text_repetition_filter):
        plan = plan_of(fn(spark, SF_DIR))
        assert n_exchanges(plan) == 0, fn.__name__
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_ivf_candidate_join_is_broadcast_equi_join(spark):
    """IVF probe: the data-path join (corpus cells ⋈ query probes) is a
    broadcast hash equi-join on the cell id; the only nested-loop is
    the C-row codebook broadcast at index build."""
    from debezium_spark.queries import ann_ivf_topk

    plan = plan_of(ann_ivf_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_is_broadcast_semi_shape(spark):
    """Benchmark shingle set broadcasts (fixed-size eval suites); the
    corpus side must not shuffle before its per-doc count agg — the
    only exchanges are the bench-side distinct and the final count."""
    from debezium_spark.queries import corpus_decontaminate

    plan = plan_of(corpus_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial agg before the per-doc count exchange
    assert plan.lower().count("hashaggregate") >= 2


def test_corpus_split_no_shuffle_pure_codegen(spark):
    """Split assignment is a shuffle-free projection (content-hash
    bucket), fully inside whole-stage codegen — no Python, no
    exchange, no sort."""
    from debezium_spark.queries import corpus_split

    plan = plan_of(corpus_split(spark, SF_DIR))
    assert n_exchanges(plan) == 0
    # formatted plans mark codegen nodes with a leading '*'
    assert "* Project" in plan
    assert "BatchEvalPython" not in plan


def test_domain_mix_totals_ride_broadcast_not_window(spark):
    """Global totals come from broadcast 1-row aggregates, never a
    single-partition window over data rows."""
    from debezium_spark.queries import corpus_domain_mix

    plan = plan_of(corpus_domain_mix(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # map-side partial agg before the per-source exchange
    assert plan.lower().count("hashaggregate") >= 2


def test_session_stats_single_exchange(spark):
    """The gap-split window and the per-session groupBy share one
    hash(user_id) partitioning: HashPartitioning(user_id) satisfies
    the (user_id, session_seq) clustering, so the whole query is ONE
    exchange — no second shuffle for the aggregate."""
    from debezium_spark.queries import events_session_stats

    plan = plan_of(events_session_stats(spark, SF_DIR))
    assert n_exchanges(plan) == 1
    assert "BatchEvalPython" not in plan


def test_scd2_and_replica_identity_single_exchange(spark):
    """Both new window-based CDC queries keep the LWW kernel's
    one-shuffle profile: a single hash-partition exchange on the key,
    no join, no second exchange from the mode explode."""
    from debezium_spark.queries import QUERIES

    for name in ("cdc_scd2_history", "cdc_replica_identity_modes"):
        df = QUERIES[name](spark, SF_DIR)
        plan = plan_of(df)
        assert n_exchanges(plan) == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_sparse_update_fold_single_exchange_and_equals_final_state(spark):
    """Cell-granular fold of a CHANGE-identity sparse feed: (a) the
    window and the groupBy share the key, so Spark reuses the hash
    partitioning — one exchange total; (b) the fold provably
    reconstructs the dense LWW final state (insert-after-delete is
    never sparse, so every cell chain bottoms out in a set value)."""
    from debezium_spark.queries import QUERIES

    folded = QUERIES["cdc_sparse_update_fold"](spark, SF_DIR)
    plan = plan_of(folded)
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan

    dense = QUERIES["cdc_final_state"](spark, SF_DIR)
    got = {
        r["user_id"]: (r["value"], r["event_type"]) for r in folded.collect()
    }
    want = {
        r["user_id"]: (r["value"], r["event_type"]) for r in dense.collect()
    }
    assert got == want


def test_doc_chunking_is_fully_narrow(spark):
    from debezium_spark.queries import doc_chunk_windows

    plan = plan_of(doc_chunk_windows(spark, SF_DIR))
    # explode of a computed integer sequence: zero exchanges at any
    # corpus size — chunking must never shuffle
    assert n_exchanges(plan) == 0
    assert "Exchange" not in plan.split("== Physical Plan ==")[-1].split(
        "(1)"
    )[0]


def test_top_terms_df_join_is_equi_not_nested(spark):
    from debezium_spark.queries import text_top_terms

    plan = plan_of(text_top_terms(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # document frequency is a partial-aggregated groupBy (map-side
    # combine before the term exchange)
    assert plan.lower().count("hashaggregate") >= 2


def test_funnel_single_data_exchange_no_self_join(spark):
    """The ordered funnel is the sequential-scan shape, not the
    textbook k-way self-join: running-max step flags + the per-user
    groupBy all ride ONE hash(user_id) exchange; the only other
    exchange is the SinglePartition gather of the 3 summary rows.
    No join node anywhere."""
    from debezium_spark.queries import events_funnel

    plan = plan_of(events_funnel(spark, SF_DIR))
    assert n_exchanges(plan) == 2
    assert "SinglePartition" in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_retention_no_countdistinct_expand_no_join(spark):
    """Retention collapses to distinct (user, day) FIRST; the cohort
    min is a window over those rows (no join, no broadcast), and the
    final rollup is a plain count — never an Expand-based
    count-distinct over raw events. Three exchanges, all post-collapse."""
    from debezium_spark.queries import events_retention_cohorts

    plan = plan_of(events_retention_cohorts(spark, SF_DIR))
    assert n_exchanges(plan) == 3
    assert "Expand" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_connect_smt_chain_is_exchange_free(spark):
    # the whole Connect SMT chain is column rewrites in one codegen
    # stage: no shuffle, no Python, and the scan stays column-pruned
    from debezium_spark.queries import cdc_connect_smt_chain

    plan = plan_of(cdc_connect_smt_chain(spark, SF_DIR))
    assert n_exchanges(plan) == 0
    assert "Python" not in plan
    assert "props" not in plan  # unused column pruned from the scan


def test_sq8_topk_broadcasts_queries_not_corpus(spark):
    # quantized scan keeps ann_cosine_topk's shape: queries broadcast,
    # corpus never sort-merge-joined
    from debezium_spark.queries import ann_sq8_topk

    plan = plan_of(ann_sq8_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_exchange_no_join(spark):
    # the union-window as-of join: one hash exchange on the key, no
    # join node (the naive range formulation would be a nested loop)
    from debezium_spark.queries import events_asof_join

    plan = plan_of(events_asof_join(spark, SF_DIR))
    assert n_exchanges(plan) == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    # bin bucketing turns the range predicate into an equi-join on
    # (user_id, bin) + residual filter — never a nested-loop/cartesian
    from debezium_spark.queries import events_interval_join

    plan = plan_of(events_interval_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pq_catalog_plan_no_sortmerge(spark):
    from debezium_spark.queries import ann_pq_topk

    plan = plan_of(ann_pq_topk(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_ivfpq_catalog_plan_no_sortmerge(spark):
    # composed index keeps both constituents' shape: broadcast-only
    # joins, corpus never sort-merge joined, no Python in the scan
    from debezium_spark.queries import ann_ivfpq_topk

    plan = plan_of(ann_ivfpq_topk(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bpe_pairs_vocab_grain_two_exchanges(spark):
    # BPE pair counting must shuffle the VOCABULARY, not the corpus:
    # term-count groupBy + pair groupBy = exactly two exchanges, the
    # bigram explode itself is narrow, everything stays JVM-side
    from debezium_spark.queries import text_bpe_pairs

    plan = plan_of(text_bpe_pairs(spark, SF_DIR))
    assert n_exchanges(plan) == 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dsir_models_broadcast_not_sortmerge(spark):
    # the two hashed-feature model tables are fixed-width (1024
    # buckets) — scoring joins must broadcast them, never sort-merge
    # the (doc, bucket) side
    from debezium_spark.queries import corpus_dsir_importance

    plan = plan_of(corpus_dsir_importance(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_percentiles_histogram_grain_two_exchanges(spark):
    # exact percentiles must run at HISTOGRAM grain: one partial-agg
    # exchange to (type, value) counts, one type exchange shared by
    # the window pass AND the final groupBy (same partitioning — no
    # third exchange), and never a sort or window over raw events
    from debezium_spark.queries import events_value_percentiles

    df = events_value_percentiles(spark, SF_DIR)
    plan = plan_of(df)
    assert n_exchanges(plan) == 2
    assert "Join" not in plan
    # exactness spot-check against a driver-side sort at fixture scale
    import math

    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    vals = sorted(
        r["v"]
        for r in ev.filter(F.col("event_type") == "click")
        .select(F.floor(F.col("value") * 100).cast("long").alias("v"))
        .collect()
    )
    got = {r["event_type"]: r for r in df.collect()}["click"]
    for p in (50, 95, 99):
        assert got[f"p{p}"] == vals[math.ceil(p * len(vals) / 100) - 1]


def test_table_changes_feed_plan_shape(spark, tmp_path_factory):
    # the change feed must stay a keyed equi-join over the two pinned
    # reads — never a nested-loop/cartesian — and fully JVM-side (pure
    # column expressions, no Python in the diff path)
    from debezium_spark.lake import LakeTable

    root = str(tmp_path_factory.mktemp("cdfplan") / "lake")
    lt = LakeTable(spark, root, n_buckets=2)
    lt.create()
    ddl = (
        "repo: string, path: string, commit: string, lang: string, "
        "content: string, op: string, lsn: long"
    )
    lt.merge(
        spark.createDataFrame(
            [(f"r{i%2}", f"p{i}", "c", "py", f"x{i}", "c", 100 + i)
             for i in range(12)],
            ddl,
        ),
        1,
    )
    v1 = lt.manifest()["version"]
    lt.merge(
        spark.createDataFrame(
            [("r1", "p1", "c", "py", "upd", "u", 900)], ddl
        ),
        2,
    )
    plan = plan_of(lt.table_changes(v1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FullOuter" in plan  # the keyed diff join, on the key columns


def test_publisher_records_stay_jvm_side(spark, tmp_path_factory):
    # wire-record serialization is to_json over dynamic structs —
    # codegen, zero Python, and no extra exchange beyond the feed's own
    from debezium_spark.lake import LakeTable
    from pyspark.sql import functions as F2

    root = str(tmp_path_factory.mktemp("pubplan") / "lake")
    lt = LakeTable(spark, root, n_buckets=2)
    lt.create()
    ddl = (
        "repo: string, path: string, commit: string, lang: string, "
        "content: string, op: string, lsn: long"
    )
    lt.merge(
        spark.createDataFrame(
            [("r0", "p0", "c", "py", "x", "c", 100)], ddl
        ),
        1,
    )
    feed = lt.table_changes(0)
    records = feed.select(
        F2.to_json(F2.struct("repo", "path")).alias("key_json"),
        F2.to_json(
            F2.struct("before", "after", "op", "lsn_post")
        ).alias("value_json"),
    )
    plan = plan_of(records)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_exchanges(plan) <= n_exchanges(plan_of(feed))


def test_temporal_join_is_union_window_not_theta_join(spark):
    """The CDC temporal (FOR SYSTEM_TIME AS OF) join: one hash
    exchange on the dimension key, no shuffled join — the only join
    node is the broadcast of the 1-row (nl, nu) bounds aggregate. The
    naive per-fact range lookup compiles to a nested loop that goes
    quadratic at 10^10 facts."""
    from debezium_spark.queries import cdc_temporal_join

    plan = plan_of(cdc_temporal_join(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # one DATA exchange (hash on user_id); the other exchange in the
    # plan is the SinglePartition collapse of the 1-row bounds
    # aggregate feeding the broadcast — control-plane, not data
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BroadcastExchange" in plan


def test_incremental_agg_is_delta_fanout_no_join(spark):
    """Retract-stream view maintenance: lag window (one key exchange)
    + narrow x2 delta fan-out + one map-side-combined groupBy on the
    group key — no join against accumulated state, no third
    exchange."""
    from debezium_spark.queries import cdc_incremental_agg

    plan = plan_of(cdc_incremental_agg(spark, SF_DIR))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert n_exchanges(plan) == 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_cap_recall_is_single_pipeline_no_selfjoin(spark):
    """dedup_cap_recall: one posting-list groupBy + one pair-grain
    aggregation carry every cap AND the uncapped truth — no self-join
    (the upstream tokenize/explode would be recomputed per side), no
    per-cap rerun, no Python. The only join is the broadcast of the
    1-row summary onto the 4-row caps literal."""
    from debezium_spark.queries import QUERIES

    plan = plan_of(QUERIES["dedup_cap_recall"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row summary x 4 caps
    # shingle-grain groupBy + pair-grain groupBy + the two
    # SinglePartition collapses (summary row, caps literal)
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_cap_recall_truth_ceiling_guard(spark):
    """The uncapped truth stage aborts loudly when a posting list's df
    exceeds truth_df_ceiling (the C(df,2) explosion may never run
    silently at corpus scale); the default ceiling clears the fixture."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from debezium_spark.queries import dedup_cap_recall

    with pytest.raises(SparkRuntimeException, match="truth_df_ceiling"):
        dedup_cap_recall(spark, SF_DIR, truth_df_ceiling=1).collect()
    # default ceiling: the fixture passes untouched
    assert dedup_cap_recall(spark, SF_DIR).count() == 4


def test_cloudevents_avro_export_is_pure_projection(spark):
    """CloudEvents binary-content-mode Avro export: zero exchanges,
    zero joins, zero Python — one codegen projection over the scan."""
    from debezium_spark.queries import QUERIES

    plan = plan_of(QUERIES["cdc_cloudevents_avro_export"](spark, SF_DIR))
    assert n_exchanges(plan) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "\n* Project" in plan  # the codegen star on the projection


def test_logical_messages_is_pure_projection(spark):
    """MESSAGE-event emission: scan -> filter -> codegen projection,
    zero exchanges, zero joins, zero Python."""
    from debezium_spark.queries import QUERIES

    plan = plan_of(QUERIES["cdc_logical_messages"](spark, SF_DIR))
    assert n_exchanges(plan) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "\n* " in plan  # codegen star present


def n_scans(plan: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def _lake_rows(spark, rows):
    ddl = (
        "repo: string, path: string, commit: string, lang: string, "
        "content: string, op: string, lsn: long"
    )
    return spark.createDataFrame(rows, ddl)


def test_read_state_is_schema_bound_one_scan_no_jobs(
    spark, tmp_path_factory, monkeypatch
):
    """Touched buckets whose files come from three data versions of one
    schema: building the read launches no Spark job (no parquet footer
    is inferred — files are read with their manifest's schema) and
    plans one file scan, not one per data version."""
    # pins the copy-on-write layout: fold every bucket (both fold
    # constants at 0 make every merge copy-on-write)
    from debezium_spark import lake as lake_mod

    monkeypatch.setattr(lake_mod, "FOLD_MIN_KEYS", 0)
    monkeypatch.setattr(lake_mod, "MAX_DELTAS", 0)
    from debezium_spark.lake import LakeTable

    root = str(tmp_path_factory.mktemp("boundread") / "lake")
    lt = LakeTable(spark, root, n_buckets=4)
    lt.create()
    keys = [(f"r{i % 2}", f"p{i}") for i in range(16)]
    lt.merge(_lake_rows(spark, [(r, p, "c", "py", "x", "c", 100) for r, p in keys]), 1)
    bucket_of = {
        (r["repo"], r["path"]): r["b"]
        for r in lt.read_state(logical=False)
        .select("repo", "path", lt._bucket_col().alias("b"))
        .collect()
    }
    buckets = sorted(set(bucket_of.values()))
    assert len(buckets) >= 3
    # rewrite one bucket per merge: its files move to the new data version
    for batch_id, b in enumerate(buckets[:2], start=2):
        r, p = next(k for k, kb in bucket_of.items() if kb == b)
        lt.merge(_lake_rows(spark, [(r, p, "c", "py", "y", "u", 200)]), batch_id)
    touched = buckets[:3]
    files = lt.manifest()["files"]
    assert len({files[str(b)]["version"] for b in touched}) == 3

    sc = spark.sparkContext
    group = "read-state-build-probe"
    sc.setJobGroup(group, "building read_state only")
    try:
        state = lt.read_state(buckets=touched, logical=False, with_sys=True)
        plan = plan_of(state)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert n_scans(plan) == 1
    assert {(r["repo"], r["path"]) for r in state.collect()} == {
        k for k, b in bucket_of.items() if b in touched
    }


def test_publish_is_one_pass_over_the_feed(spark, tmp_path_factory, monkeypatch):
    """A published version's records, a delete's tombstone companion
    included, come from ONE pass over the version's change feed: the
    feed's two pinned reads (two scans) and its diff join's two
    exchanges — not a second, filtered copy of the feed."""
    # pins the copy-on-write layout: fold every bucket (both fold
    # constants at 0 make every merge copy-on-write)
    from debezium_spark import lake as lake_mod

    monkeypatch.setattr(lake_mod, "FOLD_MIN_KEYS", 0)
    monkeypatch.setattr(lake_mod, "MAX_DELTAS", 0)
    from debezium_spark.lake import LakeTable
    from debezium_spark.publisher import _version_records

    root = str(tmp_path_factory.mktemp("pubpass") / "lake")
    lt = LakeTable(spark, root, n_buckets=2)
    lt.create()
    lt.merge(
        _lake_rows(spark, [(f"r{i % 2}", f"p{i}", "c", "py", "x", "c", 100 + i)
                           for i in range(8)]),
        1,
    )
    lt.merge(
        _lake_rows(spark, [("r1", "p1", "c", "py", "upd", "u", 900),
                           ("r0", "p2", "c", "py", "", "d", 901)]),
        2,
    )
    records = _version_records(lt, lt.current_version(), True)
    plan = plan_of(records)
    assert n_scans(plan) == 2
    assert n_exchanges(plan) == 2
    rows = records.collect()
    tombs = [r for r in rows if r["value_json"] is None]
    assert len(rows) == 3 and len(tombs) == 1
    assert tombs[0]["offset"] == 102 + 1  # the deleted row's pre-image LSN + 1


def test_stream_setup_reads_the_log_footers_once(spark, tmp_path_factory):
    """``Engine.stream``'s set-up over a fully applied log reads the
    log's parquet footers in one job: signal recovery, the LSN-bounds
    job and every window read reuse the resolved schema."""
    from debezium_spark.streaming.engine import Engine, EngineConfig

    root = tmp_path_factory.mktemp("streamsetup")
    log = str(root / "log")
    gen_change_log(spark, 2, 10, n_events=200).write.parquet(log)
    engine = Engine(
        spark,
        EngineConfig(
            changelog_path=log,
            lake_root=str(root / "lake"),
            snapshot_mode="never",
            batch_lsn_span=1000,
            n_buckets=4,
        ),
    )
    assert engine.stream()  # applies the log

    sc = spark.sparkContext
    group = "stream-setup-probe"
    sc.setJobGroup(group, "stream() over an applied log")
    try:
        assert engine.stream() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stages = [
        st.getStageInfo(s).name
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    # a footer read is a one-stage job named after the parquet reader
    assert sum(name.startswith("parquet at ") for name in stages) == 1


# Driver-thread Py4J round trips of one warm sparse batch below: 248
# with expressions as SQL text, 252 with once-built cached Columns, and
# 1,306 with Column trees rebuilt every batch (see CHANGES.md).
WARM_BATCH_ROUND_TRIPS = 500


def test_warm_sparse_batch_planning_round_trips(spark, tmp_path_factory):
    """Building a batch's plan is Py4J traffic: a warm sparse stream
    batch through ``Engine._apply_batch`` stays under a fixed number of
    driver round trips (expressions go to Spark as SQL text)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from debezium_spark.generator import gen_source_table
    from debezium_spark.streaming.engine import Engine, EngineConfig

    d = tmp_path_factory.mktemp("roundtrips")
    src, log = str(d / "src"), str(d / "log")
    gen_source_table(spark, 5, 40).write.parquet(src)
    gen_change_log(spark, 5, 40, n_events=400, snapshot_lsn_base=200).write.parquet(log)
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log,
            lake_root=str(d / "lake"),
            source_table_path=src,
            batch_lsn_span=32,
            n_buckets=8,
        ),
    )
    eng.run(max_batches=2)  # snapshot + two stream batches: warm

    # the driver thread's round trips: py4j's finalizer thread frees
    # Java objects whenever Python's GC lets it
    counted = []
    send = ClientServerConnection.send_command
    apply = eng._apply_batch
    driver = threading.get_ident()

    def counting_send(self, command, *args, **kwargs):
        counted[-1] += threading.get_ident() == driver
        return send(self, command, *args, **kwargs)

    def counting_apply(*args, **kwargs):
        counted.append(0)
        ClientServerConnection.send_command = counting_send
        try:
            return apply(*args, **kwargs)
        finally:
            ClientServerConnection.send_command = send

    eng._apply_batch = counting_apply
    res = eng.run(max_batches=1)[-1]
    assert not res["skipped"] and res["batch_id"] == 3
    assert any(e.get("deltas") for e in eng.lake.manifest()["files"].values())
    assert counted[-1] <= WARM_BATCH_ROUND_TRIPS

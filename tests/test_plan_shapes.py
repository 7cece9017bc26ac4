"""Physical-plan shape assertions — the 100 TB posture, tested.

Correctness says the operator computes the right rows; these tests pin
the *plan* we'd want on a 1000-executor cluster: predicates and column
pruning reaching the parquet scan, dimension joins broadcast (no fact
shuffle), top-k fused into TakeOrderedAndProject (no global sort),
aggregates partial+final (map-side combine before the shuffle — the
upgrade over the reference, which ships every raw KV across the
shuffle, common_map.go:90-98).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from mapreduce_mit_spark import registry

from .conftest import SF_SMALL

registry.load_all_plans()


@pytest.fixture(scope="module")
def plan(spark):
    def _plan(name: str) -> str:
        df = registry.REGISTRY[name].fn(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return _plan


def test_filter_and_pruning_reach_scan(plan):
    p = plan("q02_filter_project")
    assert "PushedFilters: [" in p
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"({f}," in p or f"({f})" in p, f"{f} not pushed to scan"
    # column pruning: the scan must not read columns the query never uses
    read_schema = next(l for l in p.splitlines() if "ReadSchema:" in l)
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_dimension_join_is_broadcast(plan):
    assert "BroadcastHashJoin" in plan("q20_broadcast_join")


def test_fact_fact_join_shuffles_on_key(spark):
    # At test SF the build side fits the broadcast threshold, so Catalyst
    # rightly broadcasts. The scale posture to pin: with broadcast off
    # (both sides "big"), the plan degrades to a key-partitioned shuffle
    # join — not a nested loop, not a driver-side collect.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.REGISTRY["q21_shuffle_join"].fn(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semi_and_anti_joins(plan):
    assert "Semi" in plan("q23_semi_join")
    assert "Anti" in plan("q24_anti_join")


def test_topk_fuses_into_take_ordered(plan):
    # a top-k must never be a full global sort; TakeOrderedAndProject
    # keeps k rows per partition then merges k*partitions on the driver
    assert "TakeOrderedAndProject" in plan("q40_global_topk")
    assert "TakeOrderedAndProject" in plan("q96_wordcount_topk")


def test_aggregate_is_partial_plus_final(plan):
    # partial_sum / partial_count markers = map-side combine before the
    # shuffle; the whole point of an algebraic aggregate at 100 TB
    p = plan("q01_pricing_summary")
    assert "partial_sum" in p or "partial_count" in p
    assert p.count("HashAggregate") >= 2


def test_ann_scan_has_no_embedding_shuffle(plan):
    # brute-force cosine: the 1-row query side broadcasts; the embeddings
    # table is scanned linearly and never exchanged
    p = plan("q85_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrdered" in p


def test_lsh_probe_broadcasts_query_side(plan):
    assert "BroadcastHashJoin" in plan("q89_ann_probe")


def test_margin_probe_count_is_pinned(spark):
    """The 8-plane probe budget is a CONTRACT, not an emergent size:
    q171 probes ≤ top_m + 2 buckets per query; q172 probes exactly
    L × (top_m + 2) (table, bucket) pairs. At 4 planes the margin
    ranking's default (top_m=4) reproduces the full hamming-1 ring +
    double flip — the round-11 probe set — so the generalization can't
    have silently changed the serving family recall_report gates."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        N_TABLES_8P,
        Q171_TOP_M,
        Q172_TOP_M,
        _bucket_col,
        _margin_probes_col,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(
        load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    ).limit(8)
    probes8 = e.select(
        F.size(
            _margin_probes_col(
                F.col("embedding"),
                _bucket_col(F.col("embedding"), 8),
                n_planes=8,
                top_m=Q171_TOP_M,
            )
        ).alias("n")
    ).collect()
    assert all(r.n <= Q171_TOP_M + 2 for r in probes8)
    assert N_TABLES_8P * (Q172_TOP_M + 2) == 64
    # 4-plane default == ring ∪ {double flip}: every single flip present
    ring = e.select(
        _bucket_col(F.col("embedding"), 4).alias("b"),
        _margin_probes_col(
            F.col("embedding"), _bucket_col(F.col("embedding"), 4)
        ).alias("probes"),
    ).collect()
    for r in ring:
        got = set(r.probes)
        want_ring = {r.b} | {r.b ^ (1 << h) for h in range(4)}
        assert want_ring <= got and len(got) <= 6


def test_margin_probe_top_m_validated():
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import _margin_probes_col

    with _pytest.raises(ValueError, match="top_m"):
        _margin_probes_col(F.col("x"), F.col("b"), n_planes=8, top_m=9)
    with _pytest.raises(ValueError, match="top_m"):
        _margin_probes_col(F.col("x"), F.col("b"), n_planes=4, top_m=0)


def test_multitable_lsh_gathers_ids_then_reranks(plan):
    """q172's scale shape: the probe side broadcasts (no corpus
    shuffle to find candidates), and the keyed union carries vec_id +
    bucket only — the 64-float embeddings must not ride the L-way
    union (they rejoin by id at rerank)."""
    p = plan("q172_ann_multitable_lsh")
    assert "BroadcastHashJoin" in p
    # candidate dedup is the one keyed shuffle
    assert "HashAggregate" in p or "Exchange" in p


def test_expr_and_column_probe_paths_agree(spark):
    """Two implementations of the bucket/margin math now coexist — the
    Column path (arbitrary expressions) and the parsed-expr fast path
    (column-name strings, the hot multi-table route). They must stay
    BIT-identical: same bucket ids and same probe sets at 8 planes on
    real fixture vectors, else the serving family silently diverges
    from the oracle's replay."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        _bucket_col,
        _margin_probes_col,
        _table_planes,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(
        load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    ).limit(32).withColumn("qv", F.col("embedding"))
    planes = _table_planes(3)
    rows = e.select(
        _bucket_col(F.col("embedding"), 8, planes).alias("b_col"),
        _bucket_col("embedding", 8, planes).alias("b_expr"),
        _margin_probes_col(
            F.col("qv"), _bucket_col(F.col("qv"), 8, planes),
            n_planes=8, top_m=6, planes=planes,
        ).alias("p_col"),
        _margin_probes_col(
            "qv", _bucket_col("qv", 8, planes),
            n_planes=8, top_m=6, planes=planes,
        ).alias("p_expr"),
    ).collect()
    assert rows
    for r in rows:
        assert r.b_col == r.b_expr
        assert list(r.p_col) == list(r.p_expr)


def test_multitable_probes_df_matches_column_path(spark):
    """_multitable_probes_df (the single-emission parsed-expr builder:
    signed-dot struct array → ranked margins + sign-fold bucket) must
    produce EXACTLY the probe set _margin_probes_col builds per table
    — same (query_id, tbl, pbucket) rows on real fixture vectors —
    else q172's serving path silently diverges from the oracle's
    replay."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        _bucket_col,
        _margin_probes_col,
        _multitable_probes_df,
        _table_planes,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    n_tables, n_planes, top_m = 3, 8, 6
    q = (
        valid_embeddings(
            load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
        )
        .limit(16)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    fast = set(
        map(
            tuple,
            _multitable_probes_df(q, n_tables, n_planes, top_m).collect(),
        )
    )
    slow = set()
    for tid in range(n_tables):
        planes = _table_planes(tid)
        rows = q.select(
            "query_id",
            F.explode(
                _margin_probes_col(
                    F.col("qv"),
                    _bucket_col(F.col("qv"), n_planes, planes),
                    n_planes=n_planes,
                    top_m=top_m,
                    planes=planes,
                )
            ).alias("pbucket"),
        ).collect()
        slow |= {(r.query_id, tid, r.pbucket) for r in rows}
    assert fast == slow and fast


def test_multitable_serve_shuffle_mode_above_gate(spark):
    """The ANN serve path's query-side size gate
    (ANN_BROADCAST_MAX_QUERIES), forced to 0: the probe join and the
    qn rerank join must run as key-partitioned shuffle joins with NO
    forced broadcast of the query-sized side — the production-batch
    mode where the query set outgrows any broadcast budget. Below the
    gate (the default), both query-side structures broadcast (pinned
    by test_multitable_lsh_gathers_ids_then_reranks). Same rows either
    way, pinned by value equality."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        ANN_K,
        lsh8_index_for,
        lsh_multitable_hits,
        sample_queries,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(
        load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    )
    qs = sample_queries(e, 0.02)
    keys = lsh8_index_for(spark, SF_SMALL)
    shuffled = lsh_multitable_hits(
        e, qs, ANN_K, keys=keys, broadcast_max_queries=0, query_rows=10**9
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shuffled.explain("formatted")
    p = buf.getvalue()
    # no broadcast join may carry the query-side columns in this mode
    bhj_details = [b.split("\n\n")[0] for b in p.split(") BroadcastHashJoin")[1:]]
    assert all(
        "pbucket" not in b and "_qn" not in b for b in bhj_details
    ), "query-side structure still broadcast above the gate"
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p
    base = lsh_multitable_hits(e, qs, ANN_K, keys=keys, query_rows=1)
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_multitable_plane_families_are_independent():
    from mapreduce_mit_spark.plans.similarity import _PLANES, _table_planes

    fams = [_table_planes(t) for t in range(3)]
    flat = [tuple(p[0]) for p in fams]
    assert len(set(flat)) == 3, "table plane families must differ"
    assert all(tuple(f[0]) != tuple(_PLANES[0]) for f in fams), (
        "table families must be independent of the default family"
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed storage is the co-located-join primitive at scale: both
    sides bucketed by the join key into the same bucket count join with
    ZERO Exchange in the plan — no shuffle of either table."""
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = df.selectExpr("k", "k * 2 AS va")
    b = df.selectExpr("k", "k * 3 AS vb")
    for name, d in (("bkt_a", a), ("bkt_b", b)):
        d.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(name)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bkt_a", "bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout + partition pruning: a filter on
    the partition column must become a PartitionFilter (directories
    skipped at planning) — at 100 TB this is the difference between
    scanning one partition and scanning the lake."""
    from mapreduce_mit_spark.sources.io import load_table, write_parquet

    o = load_table(spark, SF_SMALL, "orders")
    out = str(tmp_path / "orders_by_status")
    write_parquet(o, out, partition_by=["o_orderstatus"])

    df = spark.read.parquet(out).where("o_orderstatus = 'F'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "o_orderstatus" in line, line
    # and the filter must NOT appear as a post-scan data filter
    assert df.count() == o.where("o_orderstatus = 'F'").count()


def test_q176_serve_tiers_prune_to_probed_cells(spark, tmp_path):
    """The index-freshness serve path reads probed-cell FILES, not
    probed-cell rows, on BOTH tiers: (a) the attached standing-IVF
    lists (the ninth persisted family, cluster-partitioned parquet)
    and (b) the streamed increment tree (batch_id=N/cluster=K) — a
    cluster predicate must become a PartitionFilter on each scan
    (directories skipped at planning), while batch_id stays UNfiltered
    on the tree (every ingested batch serves). At 100 TB this is the
    difference between reading nprobe/k of the index and scanning all
    of it."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        ivf_standing_index_load,
        ivf_standing_index_save,
    )
    from mapreduce_mit_spark.streaming.stream_queries import (
        _active_parts_dir,
        fp_stream_root,
        q176_ingested_tree,
    )

    def pfilters(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return "\n".join(
            l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
        )

    # (a) the standing tier, attached from disk
    out = str(tmp_path / "ivf_standing")
    ivf_standing_index_save(spark, SF_SMALL, out)
    _cent, slists = ivf_standing_index_load(spark, out)
    line = pfilters(slists.where(F.col("cluster").isin([0, 3])))
    assert "cluster" in line and " IN (0,3)" in line, line

    # (b) the increment tree (q176 builds it; rerun is idempotent)
    registry.REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect()
    root = fp_stream_root("mms_ivf_ingest", SF_SMALL, "embeddings.parquet")
    tree = q176_ingested_tree(spark, _active_parts_dir(root))
    line = pfilters(tree.where(F.col("cluster").isin([0, 3])))
    assert "cluster" in line and " IN (0,3)" in line, line
    assert "batch_id" not in line, "batch partitions must all serve"


def test_bitmap_distinct_has_no_expand(plan):
    """q67's blocked-bitmap distinct must aggregate with fixed-width
    bit_or state — the whole point is avoiding the Expand node that
    Catalyst inserts for count(DISTINCT)'s two-phase rewrite."""
    p = plan("q67_bitmap_distinct")
    assert "Expand" not in p
    assert "bit_or" in p
    # partial + final aggregation around the (word, block) shuffle
    assert p.count("HashAggregate") >= 2


def test_ivf_assignment_broadcasts_codebook(spark, plan):
    """q68's two halves, pinned separately since the inverted lists
    moved into the cached index (round 8):

    - SERVE: the registered q68 plan reads the lists from the
      checkpointed artifact (no corpus-wide assignment recompute — no
      max_by aggregate in the serve plan) and still meets the
      broadcast codebook for the query-side probe.
    - BUILD: the library's assignment pass (``_assign_to_codebook``,
      the plan ivf_index_for materializes) broadcasts the codebook via
      BroadcastNestedLoopJoin and picks each cell in-row — the
      embeddings never shuffle for cluster assignment."""
    import contextlib
    import io

    from mapreduce_mit_spark.plans.similarity import (
        _assign_to_codebook,
        codebook_for,
    )
    from mapreduce_mit_spark.sources.io import load_table

    p = plan("q68_ivf_ann")
    assert "BroadcastNestedLoopJoin" in p   # probe meets broadcast codebook
    assert "max_by" not in p, "serve plan recomputes the corpus assignment"

    e = load_table(spark, SF_SMALL, "embeddings")
    cent = codebook_for(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _assign_to_codebook(e, cent).explain("formatted")
    bp = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in bp
    assert "hashpartitioning(vec_id" not in bp
    assert "SortMergeJoin" not in bp


def test_plan_construction_runs_no_jobs(spark):
    """Building a query must be pure plan construction — zero Spark
    jobs. q66 regressed this once (a driver-side d.count() at build
    time = one extra full table pass per construction at scale); the
    job-group check makes that class of regression mechanical."""
    sc = spark.sparkContext
    for name in (
        "q66_tfidf",
        "q01_pricing_summary",
        "q67_bitmap_distinct",
        "q59_heavy_hitters",  # freqItems is lazy in Spark 4 — keep it so
        "q104_pagerank",  # fixed-iteration loop must unroll lazily, no .count()
    ):
        fn = registry.REGISTRY[name].fn
        # first build warms the parquet FileIndex (cold-cache schema read
        # is a legitimate one-off metadata job); the assertion is on the
        # SECOND build, which a per-build action like d.count() would
        # still fail every time
        fn(spark, SF_SMALL)
        group = f"plan-build-{name}"
        sc.setJobGroup(group, "construction must not run jobs")
        try:
            fn(spark, SF_SMALL)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs == [], f"{name}: plan construction ran Spark jobs {jobs}"


def test_ivf_probe_broadcast_survives_aqe(spark):
    """q68's final ADAPTIVE plan (not just the static one) must keep
    the probe-side joins broadcast: AQE re-plans at runtime, and a
    fallback to a shuffled join would reshuffle the embeddings table."""
    df = registry.REGISTRY["q68_ivf_ann"].fn(spark, SF_SMALL)
    df.collect()  # materialize so AdaptiveSparkPlan reaches isFinalPlan=true
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "AdaptiveSparkPlan" in p
    assert "isFinalPlan=true" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_tpch_q3_broadcasts_customer_and_fuses_topk(plan):
    """q03: the filtered customer side must broadcast (no fact shuffle
    for the dimension) and the top-10 must fuse into
    TakeOrderedAndProject — never a global sort of the aggregate."""
    p = plan("q03_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_tpch_q5_single_fact_fact_exchange(plan):
    """q05: six-way join — every dimension side broadcasts; the ONLY
    join that may shuffle both sides is orders⋈lineitem on orderkey."""
    p = plan("q05_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in p
    # at test SF even the fact join broadcasts; what must NOT appear is
    # a nested loop or a cartesian for the nation-match correlation
    assert "CartesianProduct" not in p


def test_corpus_shuffle_is_take_ordered(plan):
    """q36: the permutation head must be TakeOrderedAndProject — k rows
    per partition, no full sort of the corpus."""
    assert "TakeOrderedAndProject" in plan("q36_corpus_shuffle")


def test_mixture_sample_filter_reaches_scan(plan):
    """q39: rate thresholding is a pure per-row predicate; no exchange
    may appear before the output sort."""
    p = plan("q39_mixture_sample")
    body = p.split("(1) Scan parquet")[0]
    assert body.count("Exchange") == 1, "only the output sort may exchange"


def test_countmin_sketch_broadcasts(plan):
    """q04: the 1024-cell sketch and the 1-row total must broadcast to
    the probe side — the word stream never sort-merge-joins."""
    p = plan("q04_countmin")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_decontaminate_broadcasts_eval_ngrams(plan):
    """q06: the eval set's n-gram table must BROADCAST — at 100 TB the
    train side never shuffles on n-gram text; the only hash shuffle is
    the per-doc count on doc_id."""
    p = plan("q06_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repetition_and_pii_are_pure_maps(plan):
    """q07/q08: every signal is a row-local expression — no aggregate,
    no join, no hash shuffle anywhere (only fan_out's round-robin and
    the output sort's range exchange may appear)."""
    for name in ("q07_repetition_stats", "q08_pii_redact"):
        p = plan(name)
        assert "HashAggregate" not in p, name
        assert "Join" not in p, name
        assert "hashpartitioning" not in p, name


def test_span_dedup_shuffles_on_hash_only(plan):
    """q09: the global span-count and join-back key on the 32-byte md5,
    never the span text, and nothing degenerates to a nested loop."""
    p = plan("q09_span_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "hashpartitioning(span_hash" in p
    assert "hashpartitioning(span#" not in p  # raw span text never keys a shuffle
    # skew posture: span doc-frequency must be an aggregate + equi-join
    # (AQE skew-splittable), NEVER a Window over span_hash — a window
    # partition pins every doc sharing one boilerplate span onto ONE task
    assert "Window" not in p


def test_span_dedup_survives_hot_span(spark, tmp_path):
    """Injected skew: one boilerplate span shared by EVERY document.
    The agg+join doc-frequency shape must still compute exact shared
    counts; at scale AQE splits the hot span_hash across tasks, which
    the old window-partition shape could not."""
    from mapreduce_mit_spark.plans.quality import SPAN

    def letters(i: int) -> str:  # digit-free token, survives the tokenizer
        return "".join(chr(ord("a") + int(c)) for c in str(i))

    n = 200
    rows = [
        # 2*SPAN letter tokens: one globally-hot span + one unique span
        (i, "all rights reserved " + " ".join(f"x{letters(i)}{k}" for k in "abc"))
        for i in range(n)
    ]
    assert SPAN == 3
    df = spark.createDataFrame(rows, "doc_id int, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from mapreduce_mit_spark import registry as _r

    out = {
        r["doc_id"]: r
        for r in _r.REGISTRY["q09_span_dedup"].fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == n
    for i in range(n):
        assert out[i]["n_spans"] == 2, out[i]
        assert out[i]["n_shared"] == 1, out[i]
        assert out[i]["keep"] is True


def test_dedup_pipeline_tail_has_no_window(plan):
    """q148's cluster sizes and survivor selection must stay agg+join:
    a Window over the cluster label would pin one pathological giant
    dup-cluster onto ONE task (the q09 skew discipline, applied to the
    pipeline's tail). The final plan may sort for output order but must
    contain no Window node and no nested-loop join."""
    p = plan("q148_dedup_pipeline")
    assert "Window" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_lsh_band_self_join_is_sort_merge(plan):
    """The band self-join must stay sort-merge: both sides are the SAME
    exploded table, and the plan-time size estimate (taken from the
    parquet scan, before the ×N_BANDS posexplode, with no shuffle under
    the join for AQE to re-decide from) sits under the broadcast
    threshold — at the 100× study scale the resulting force-broadcast
    OOM'd the driver build. The hint("merge") pin is the fix; this test
    keeps a refactor from silently losing it."""
    p = plan("q81_minhash_lsh")
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p


def test_dedup_verify_join_survives_boilerplate_corpus(spark, tmp_path):
    """Injected adversary for q148's verify stage: a template corpus of
    520 identical documents. LSH correctly buckets them into one clique,
    so every boilerplate doc sits in ~500+ candidate pairs — the regime
    where an unsalted doc_a join funnels one doc's whole pair×token
    expansion through a single reducer.

    Pins three things: (1) the adversary is real — max candidate degree
    ≥ 500; (2) the production verify join is salted — the join carries
    _salt, and the salt formula splits the hot doc's pairs at least 4×
    below its degree; (3) the survivor set stays EXACT — one keeper for
    the clique with n_removed = 519, every unique doc untouched."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark import registry as _r
    from mapreduce_mit_spark.plans.dedup import (
        jaccard_verified_pairs,
        lsh_candidate_pairs,
    )
    from mapreduce_mit_spark.plans._util import t as _t

    def letters(i: int) -> str:
        return "".join(chr(ord("a") + int(c)) for c in str(i))

    n_boiler, n_uniq = 520, 8
    boiler = (
        "all rights reserved this document is provided as is without "
        "warranty of any kind either express or implied including the "
        "implied warranties of merchantability and fitness for purpose"
    )
    rows = [(i, boiler, "en", "web", len(boiler)) for i in range(n_boiler)]
    rows += [
        (
            1000 + i,
            f"utterly distinct prose number {letters(i)} about "
            + " ".join(f"topic{letters(i)}{c}" for c in "abcdefghij"),
            "en",
            "web",
            50,
        )
        for i in range(n_uniq)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # (1) the adversary is real
    cand = lsh_candidate_pairs(spark, str(tmp_path)).persist()
    max_deg = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("d")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_deg >= 500, f"fixture failed to create a hot doc: {max_deg}"

    # (2a) the production join is keyed by the salt
    analyzed = jaccard_verified_pairs(
        _t(spark, str(tmp_path), "documents"), cand
    )._jdf.queryExecution().analyzed().toString()
    assert "_salt" in analyzed

    # (2b) the salt formula actually splits the hot key: no (doc_a,
    # salt-bucket) holds more than degree/4 of the hot doc's pairs
    bucket_max = (
        cand.withColumn("_salt", F.pmod(F.xxhash64("doc_b"), F.lit(16)))
        .groupBy("doc_a", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert bucket_max * 4 <= max_deg, (bucket_max, max_deg)
    cand.unpersist()

    # (3) survivors are still exact
    out = {
        r["doc_id"]: r
        for r in _r.REGISTRY["q148_dedup_pipeline"].fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 1 + n_uniq
    assert out[0]["n_removed"] == n_boiler - 1
    for i in range(n_uniq):
        assert out[1000 + i]["n_removed"] == 0


def test_json_roundtrip_writes_sharded(spark, tmp_path):
    """The JSON sink must write one file per partition (no driver
    funnel): repartitioned input produces multiple part files."""
    from mapreduce_mit_spark.sources.io import read_json, write_json

    df = spark.range(0, 1000).repartition(4)
    path = str(tmp_path / "j")
    write_json(df, path)
    import glob

    parts = glob.glob(f"{path}/part-*")
    assert len(parts) == 4
    assert read_json(spark, path, schema=df.schema).count() == 1000


def test_bucketed_catalog_join_shuffles_neither_table(plan):
    """q114: the bucket layout replaces the join exchange — neither
    orders nor customer is hash-partitioned at query time; the only
    exchanges left are the tiny post-join segment aggregation and the
    final sort."""
    p = plan("q114_bucketed_join")
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning(o_custkey" not in p
    assert "Exchange hashpartitioning(c_custkey" not in p


def test_tpch_q6_all_predicates_reach_scan(plan):
    """q116: the pure scan-filter-agg must push all three range
    predicates to the parquet scan (row-group skipping is the whole
    game at 100 TB) and must contain no join and at most the single
    1-row final-aggregate exchange."""
    p = plan("q116_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"({col}," in p or f"({col})" in p, f"{col} not pushed"
    assert "Join" not in p
    # only the partial->final aggregate exchange: a single-partition
    # gather of one partial row per task, never a hash repartition
    assert "Exchange hashpartitioning" not in p
    assert "SinglePartition" in p


def test_tpch_q8_dims_broadcast_no_cartesian(plan):
    """q117: the 8-table market-share join — every dimension
    (customer, nation x2, region, supplier, part) broadcasts; no
    nested loop / cartesian anywhere; the conditional-sum ratio folds
    into ONE aggregate (single partial_sum pair, not two agg passes)."""
    p = plan("q117_market_share")
    assert p.count("BroadcastHashJoin") >= 6
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_tpch_q9_like_prefix_prunes_part_before_broadcast(plan):
    """q118: the LIKE 'red%' prefix must reach the part scan as a
    pushed StartsWith so only matching parts are broadcast."""
    p = plan("q118_product_profit")
    assert "StringStartsWith(p_name,red" in p.replace(" ", "")
    assert p.count("BroadcastHashJoin") >= 3


def test_tpch_q21_single_fact_shuffle_and_topk(plan):
    """q126: both correlated EXISTS subqueries decorrelate into one
    per-order aggregate re-joined on the same key; supplier and nation
    broadcast; the top-20 fuses into TakeOrderedAndProject (no global
    sort of the s_name aggregate)."""
    p = plan("q126_waiting_suppliers")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the lineitem⋈orders segment appears twice (late rows + stats) but
    # each shuffles on l_orderkey only — no exchange on any other key
    # at repartition scale is pinned by the absence of a suppkey hash
    assert "Exchange hashpartitioning(l_suppkey" not in p


def test_tpch_q17_per_part_average_broadcasts(plan):
    """q123: the decorrelated per-part average (part-cardinality) must
    broadcast back onto lineitem — the fact table is never shuffled
    for the threshold comparison."""
    p = plan("q123_small_quantity_revenue")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_minmax_scale_broadcasts_stats(plan):
    """q128: the per-segment min/max stats (group-cardinality) must
    broadcast back onto customer — the table never hash-shuffles for
    the scaling join."""
    p = plan("q128_minmax_scale")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Exchange hashpartitioning(c_custkey" not in p


def test_split_assignment_is_scan_side(plan):
    """q130: train/val/test membership is a pure row expression — the
    only exchange in the plan carries (lang, split) partial counts, and
    the scan reads just the three columns the query touches."""
    p = plan("q130_train_val_test_split")
    assert "Join" not in p
    read_schema = next(l for l in p.splitlines() if "ReadSchema:" in l)
    assert "text" not in read_schema, "split must not read document bodies"


def test_scd2_windows_share_one_exchange(plan):
    """q132: lag, change-filter, and lead all partition by user_id —
    the plan must contain exactly ONE hash exchange on user_id (Spark
    reuses the partitioning across the two windows)."""
    p = plan("q132_scd2_history")
    n_user_exchanges = sum(
        1
        for line in p.splitlines()
        if line.strip().startswith("Arguments: hashpartitioning(user_id")
    )
    assert n_user_exchanges == 1, p


def test_rollup_ladder_reuses_hour_exchange(spark):
    """q135: in the final AQE plan, the day level must read a
    ReusedExchange of the hour level's shuffle — the raw events table
    is scanned exactly once for the whole ladder."""
    df = registry.REGISTRY["q135_rollup_ladder"].fn(spark, SF_SMALL)
    df.collect()  # AQE finalizes the plan during execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    final = buf.getvalue().split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") == 1, final


def test_lateral_decorrelates_to_window(plan):
    """q146: the LIMIT-bearing correlated lateral must decorrelate into
    a rank-per-partition window — never a per-segment nested loop."""
    p = plan("q146_lateral_join")
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_blocked_knn_joins_on_capped_block_key(plan):
    """q86/q88: the pairwise join must key on (label, sub) — the
    sub-bucket refinement that bounds a skewed label's quadratic — and
    the per-label population join must broadcast (label cardinality,
    never the vectors). Nothing may degenerate to a nested loop."""
    for name in ("q86_nn_per_label", "q88_embedding_near_dup"):
        p = plan(name)
        assert "sub#" in p, f"{name}: pairwise join lost the sub-bucket key"
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_oversized_label_block_is_subbucketed(spark):
    """Injected skew: one label holding BLOCK_CAP×4+ vectors must split
    into 4 sign-LSH sub-blocks (each far below the original size), while
    an under-cap label keeps the single sub = 0 block — so q86/q88's
    per-block pair count stays bounded under label skew."""
    import numpy as np

    from mapreduce_mit_spark.plans.similarity import BLOCK_CAP, blocked_embeddings

    rng = np.random.RandomState(7)
    n_hot = BLOCK_CAP * 4 + 88
    rows = [(i, "hot", [float(x) for x in rng.randn(64)]) for i in range(n_hot)]
    rows += [(10_000 + i, "cold", [float(x) for x in rng.randn(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id int, label string, embedding array<float>")
    blocks = blocked_embeddings(df).groupBy("label", "sub").count().collect()
    cold = [r for r in blocks if r["label"] == "cold"]
    hot = [r for r in blocks if r["label"] == "hot"]
    assert len(cold) == 1 and cold[0]["sub"] == 0  # under the cap: untouched
    assert len(hot) == 4  # 2 planes -> 4 sub-buckets
    assert max(r["count"] for r in hot) < n_hot / 2  # the quadratic is bounded


def test_ranged_quantiles_bound_window_by_partition(plan, spark):
    """q153: the data-sized rank window must key on (_pid, group) —
    bounded by a shuffle partition — so a giant group cannot serialize
    onto one task (the group-keyed windows that remain run only on the
    partitions×groups count table). And the two rank strategies must
    agree value-for-value with q17."""
    p = plan("q153_quantiles_giant_groups")
    assert "hashpartitioning(_pid" in p
    a = registry.REGISTRY["q17_percentiles"].fn(spark, SF_SMALL).collect()
    b = registry.REGISTRY["q153_quantiles_giant_groups"].fn(spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_profile_schema_map_matches_live(spark):
    """q139's oracle is generated from PROFILE_SCHEMA while the Spark
    side derives from the live DataFrame schema; this pins the static
    map to the live tables so schema drift fails here, not as a silent
    oracle mismatch in the driver."""
    from mapreduce_mit_spark.plans.features import PROFILE_SCHEMA, profile_kind
    from mapreduce_mit_spark.sources.io import load_table

    for tbl, expected in PROFILE_SCHEMA.items():
        live = tuple(
            (c, profile_kind(dt))
            for c, dt in load_table(spark, SF_SMALL, tbl).dtypes
            if profile_kind(dt) is not None
        )
        assert live == expected, f"{tbl}: live {live} != map {expected}"


def test_cdc_upsert_no_nested_loop(plan):
    """q133: both sides reduce via row_number windows on user_id and the
    merge is an equi full-outer join — no nested loop anywhere."""
    p = plan("q133_cdc_upsert")
    assert "FullOuter" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_ivfadc_serves_from_broadcast_luts(plan):
    """q160's serve posture: every per-query structure (probe set, LUT,
    the query vector) reaches the codes/embeddings side as a BROADCAST
    — a shuffle there would mean the corpus moves for a single query.
    The plan must also contain no cartesian product over the corpus
    (the only crossJoins are against 1-row/broadcast query structures)."""
    p = plan("q160_ivfadc")
    assert "BroadcastHashJoin" in p
    # no shuffle-based join may carry the codes table: every join with
    # the corpus-sized side is broadcast on its other input
    assert "SortMergeJoin" not in p, "corpus-sized side entered a shuffle join"


def test_incremental_dedup_broadcasts_batch_not_corpus(plan):
    """q161's asymmetry, pinned: the batch side (hashes and band keys)
    BROADCASTS; the corpus side must never be the broadcast build
    (an O(corpus) driver build at scale). The exact-hash probe and the
    band probe must both be broadcast hash joins."""
    p = plan("q161_incremental_dedup")
    assert p.count("BroadcastHashJoin") >= 2  # hash probe + band probe
    # the batch predicate must be pushed into the scans feeding the
    # broadcast builds (the build side is filtered to ~10% before it
    # ever reaches the driver)
    assert "PushedFilters" in p


def test_sketch_overlap_pairs_expand_over_sketches_only(plan):
    """q165's scale posture, pinned: the O(S²) pair expansion runs over
    the per-source SKETCH table (S rows of kilobyte sketches), joined
    by broadcast — never a data-sized shuffle join keyed on the n-gram
    for the estimate path. The exact audit tier contributes the
    catalog's collect_set aggregate, not a gram-keyed self-join that
    would materialize both corpus sides."""
    p = plan("q165_sketch_overlap_triage")
    # pair expansion: broadcast nested-loop over the tiny sketch table
    # (inequality join condition -> BNLJ is the right physical shape)
    assert "BroadcastNestedLoopJoin" in p
    # no sort-merge anywhere: nothing in this plan should shuffle-sort
    # two corpus-sized sides against each other
    assert "SortMergeJoin" not in p


def test_semantic_dedup_pairs_expand_by_broadcast(plan):
    """q164's pair loop below the size gate, pinned: the within-cell
    self-join must be a BROADCAST hash join (k cells would cap a
    cluster-keyed shuffle join's parallelism at k tasks, serializing
    the quadratic), and vector norms are computed per VECTOR before
    the join — the plan must not evaluate sqrt per pair."""
    p = plan("q164_semantic_dedup")
    # the pair join is the one whose condition evaluates the dot
    # product (zip_with): it must be the broadcast join, never a
    # sort-merge on the k-valued cluster key
    cond = next(
        l for l in p.splitlines() if "Join condition" in l and "zip_with" in l
    )
    # norm-once-per-vector: the per-pair similarity divides by the two
    # precomputed norm columns — no SQRT re-evaluated per pair
    assert "sqrt" not in cond.lower()
    # the condition must belong to a broadcast join's detail block
    # (the formatted dump lists each operator's keys/condition right
    # under its id — the counts join is also broadcast, so scan all),
    # not to a shuffle join's
    bhj_details = [b.split("\n\n")[0] for b in p.split(") BroadcastHashJoin")[1:]]
    assert any("zip_with" in b for b in bhj_details)
    smj_blocks = p.split(") SortMergeJoin")[1:]
    assert all("zip_with" not in b.split("\n\n")[0] for b in smj_blocks)


def test_semantic_dedup_shuffle_mode_above_gate(spark):
    """q164's pair loop ABOVE the size gate (broadcast_max_rows forced
    to 0): the pair join must run (cluster, sub)-keyed WITHOUT a
    forced broadcast of the corpus-sized build side — the 100× mode
    where a multi-GB broadcast would OOM executors. Same rows as the
    broadcast mode, pinned by value equality."""
    import contextlib
    import io

    from mapreduce_mit_spark.plans.similarity import (
        ivf_index_for,
        semantic_dedup_df,
    )

    _, assign = ivf_index_for(spark, SF_SMALL)
    shuffled = semantic_dedup_df(assign, broadcast_max_rows=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shuffled.explain("formatted")
    p = buf.getvalue()
    # the dot-product join must NOT be a broadcast join in this mode
    bhj_details = [b.split("\n\n")[0] for b in p.split(") BroadcastHashJoin")[1:]]
    assert all("zip_with" not in b for b in bhj_details), (
        "corpus-sized build side still broadcast above the gate"
    )
    # it must be a key-partitioned shuffle join (SMJ or shuffled hash),
    # never a nested loop / cartesian over the corpus
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p
    # both modes compute the same rows
    base = semantic_dedup_df(assign)
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_classifier_filter_broadcasts_weights(plan):
    """q166's posture: the weight vector joins by BROADCAST (kilobytes
    at any real dimensionality) and nothing vocabulary- or
    corpus-sized is ever the build side; the only shuffles are the
    doc_id combine and the output sort."""
    p = plan("q166_classifier_filter")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pydatasource_sink_single_agg_shuffle(plan):
    """q169's read-back reduce: explode/decode are narrow; the per-shard
    aggregate is partial+final (map-side combine before the one
    shuffle)."""
    p = plan("q169_pydatasource_sink")
    assert "partial_count" in p or "HashAggregate" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_dsir_model_join_is_broadcast(plan):
    """q190's llr table (256 rows) must join BROADCAST into the
    (doc_id, bucket) counts — the model side stays constant-size at
    any corpus scale, so a shuffle there is a plan regression."""
    p = plan("q190_dsir_importance")
    assert "BroadcastHashJoin" in p


def test_selection_topk_fuses_into_take_ordered(plan):
    """q192/q193's global top-K must plan as TakeOrderedAndProject
    (per-partition heaps + driver K-row merge), never a global sort."""
    assert "TakeOrderedAndProject" in plan("q192_bpe_pair_merge")
    assert "TakeOrderedAndProject" in plan("q193_weighted_sample")


def test_running_sum_is_range_partitioned(plan):
    """q194's cumulative total must ride the range-partition + local
    prefix strategy: the data-sized exchange is rangepartitioning, and
    the only empty-partitionBy window input is the P-row subtotal
    table (global_running_sum's contract)."""
    p = plan("q194_curriculum_budget")
    assert "rangepartitioning" in p
    # the single-task window exists ONLY for the P-row prefix table:
    # its input must come from a partial_sum aggregate, not raw rows
    import re

    sp = [m.start() for m in re.finditer("SinglePartition", p)]
    assert len(sp) <= 2, f"unexpected single-partition stages: {len(sp)}"


def test_q210_plan_aggregates_before_join_and_prunes_columns(plan):
    """q210's whole point is that the PLANNING pass never joins fact
    rows: both inputs must aggregate to per-key counts BEFORE the
    join (partial+final HashAggregate under each join child), and the
    scans must read ONLY the key/filter columns — at 100 TB this is
    the difference between two key-count aggs and a fact-table
    shuffle."""
    p = plan("q210_join_cardinality_plan")
    # column pruning on both scans
    reads = [l for l in p.splitlines() if "ReadSchema:" in l]
    li_read = next(l for l in reads if "l_orderkey" in l)
    o_read = next(l for l in reads if "o_orderkey" in l)
    assert "l_quantity" not in li_read and "l_extendedprice" not in li_read
    assert "o_totalprice" not in o_read and "o_orderdate" not in o_read
    # the priority filter is pushed to the orders scan
    assert "o_orderpriority" in p and "PushedFilters: [" in p
    # per-key counts are map-side combined: >= 2 HashAggregates per side
    # (partial + final around each count shuffle) before any join
    assert p.count("HashAggregate") >= 4


def test_q207_refresh_serve_probes_only_and_broadcasts(spark, plan):
    """q207's serve half must keep q175's posture after the refresh:
    the probe set joins the inverted lists via a BROADCAST (the k-row
    codebook and the nprobe-row probe list never shuffle the lists),
    and no exchange of the full embeddings table feeds the hit join."""
    p = plan("q207_ivf_refresh_serve")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_q205_compacted_tree_still_prunes_to_probed_cells(spark):
    """Compaction must not cost the probe its file pruning: after q205
    folds the tree into batch_id=-2/cluster=K, a cluster predicate on
    the ACTIVE tree must still plan as a PartitionFilter (directories
    skipped), with batch_id unfiltered."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_mit_spark.streaming.stream_queries import (
        _active_parts_dir,
        fp_stream_root,
        q176_ingested_tree,
    )

    registry.REGISTRY["q205_ann_ingest_compaction"].fn(spark, SF_SMALL).collect()
    root = fp_stream_root("mms_ivf_ingest", SF_SMALL, "embeddings.parquet")
    active = _active_parts_dir(root)
    assert os.path.basename(active) == "lists_compact"
    tree = q176_ingested_tree(spark, active)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tree.where(F.col("cluster").isin([0, 3])).explain("formatted")
    line = "\n".join(
        l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
    )
    assert "cluster" in line and " IN (0,3)" in line, line
    assert "batch_id" not in line


def test_q214_pq_incremental_serve_all_broadcast(plan):
    """q214's serve posture: the codebooks, per-query LUT, pinned
    query row, and recall scalar all BROADCAST — the codes table and
    the raw embeddings never shuffle into a sort-merge join, and no
    unbounded cartesian appears (every Cross is against a broadcast
    1-row/k-row frame). At 100 TB this is what keeps the increment
    encode + ADC serve one pass over the codes."""
    p = plan("q214_pq_incremental_serve")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_adc_serves_have_no_scored_aggregate_exchange(plan):
    """r18 wide codes: every ADC serve scores a candidate with ONE
    in-row LUT sum over its (vec_id, codes array) row — the narrow
    layout's scored aggregate (groupBy(query_id, vec_id[, cluster])
    over N_SUB joined rows) and its hash exchange must never
    reappear. The only per-query exchanges allowed in a serve are the
    shortlist/rerank ranking windows (hashpartitioning on query_id
    alone, multi-query paths only; the pinned-query paths rank via
    TakeOrdered)."""
    import re

    for q in ("q157_pq_ann", "q214_pq_incremental_serve"):
        p = plan(q)
        assert "hashpartitioning(vec_id" not in p, q
        assert not re.search(r"hashpartitioning\(query_id#\d+L?, vec_id", p), q
    for q in ("q160_ivfadc", "q211_ivfadc_incremental_serve"):
        p = plan(q)
        assert "hashpartitioning(vec_id" not in p, q
        assert not re.search(r"hashpartitioning\(query_id#\d+L?, vec_id", p), q


def test_q211_ivfadc_incremental_serve_all_broadcast(plan):
    """q211's serve posture, same claim as q214's pin on the
    production index: probe/LUT/codebook joins broadcast; the codes
    union feeds one ADC aggregation; no sort-merge join of
    corpus-sized sides and no unbounded cartesian."""
    p = plan("q211_ivfadc_incremental_serve")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_assignment_and_encode_passes_have_no_exchange(spark):
    """r17 in-row argmin/argmax: every index assignment/encode pass
    (IVF cell assignment, PQ encode, IVFADC residual encode) is a pure
    map over the corpus — the codebook collapses to a broadcast
    struct-array row and the winner is picked inside a sort_array
    expression. The ONLY Exchange allowed in these plans is the
    single-partition collapse of the k-row codebook itself (and the
    broadcast exchanges); no corpus-row hash exchange remains. At
    100 TB the old explode + groupBy(vec_id) form re-shuffled the full
    corpus once per fit/refresh/increment pass."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        _assign_to_codebook,
        _ivfadc_codes,
        _pq_encode,
        codebook_for,
        pq_index_for,
        valid_embeddings,
    )
    from mapreduce_mit_spark.sources.io import load_table

    e = valid_embeddings(load_table(spark, SF_SMALL, "embeddings"))
    cent = codebook_for(spark, SF_SMALL)
    pcent, _codes = pq_index_for(spark, SF_SMALL)

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assign_plan = fmt(_assign_to_codebook(e, cent))
    encode_plan = fmt(_pq_encode(e, pcent))
    adc_plan = fmt(
        _ivfadc_codes(
            e.select("vec_id", F.lit(0).cast("long").alias("cluster"),
                     "embedding"),
            pcent,
        )
    )
    for name, p in [
        ("assign", assign_plan),
        ("pq_encode", encode_plan),
        ("ivfadc_codes", adc_plan),
    ]:
        # formatted plans carry the partitioning in the Arguments line;
        # the old explode+groupBy form exchanged on vec_id (a
        # corpus-row shuffle) and aggregated with a SortAggregate (the
        # carried array column forbids hash agg). The only exchanges
        # allowed now are the k-row codebook collapse
        # (SinglePartition / hashpartitioning(sub) over K_PQ rows) and
        # broadcasts.
        assert "hashpartitioning(vec_id" not in p, name
        assert "SortAggregate" not in p, name
        assert "SortMergeJoin" not in p, name


def test_inrow_assignment_zero_norm_sentinel(spark):
    """The in-row nearest-cell kernel must keep the oracle's NULL
    ordering: a zero-norm vector has NULL cosine against every
    centroid. The oracle's replay (ORDER BY sim DESC NULLS LAST, cid)
    lands its assignment (n = 1) in the LOWEST cid and its probe
    (n = N_PROBE) on cids 0..N_PROBE-1 in order — every key is the
    +inf sentinel, so ties go to the lowest cid. Pin both sides with a
    crafted zero vector so the sentinel can never regress silently
    (the fixtures contain no zero vectors)."""
    from pyspark.sql import functions as F

    from mapreduce_mit_spark.plans.similarity import (
        DIM,
        N_PROBE,
        _assign_to_codebook,
        _cells_row,
        _nearest_cells,
        _norm,
        codebook_for,
    )

    cent = codebook_for(spark, SF_SMALL)
    zero = spark.createDataFrame(
        [(10_000_000, "z", [0.0] * DIM)], "vec_id long, label string, embedding array<float>"
    )
    row = _assign_to_codebook(zero, cent).collect()[0]
    assert row.cluster == 0, row

    probe = (
        zero.crossJoin(F.broadcast(_cells_row(cent)))
        .select(
            _nearest_cells(
                F.col("embedding"), _norm(F.col("embedding")), N_PROBE
            ).alias("p")
        )
        .collect()[0]
        .p
    )
    assert [c.cid for c in probe] == list(range(N_PROBE)), probe


def test_valid_embeddings_rejects_nonfinite(spark):
    """r18 gate hardening (r17 ADVICE): a NaN/Inf/NULL-poisoned vector
    must never reach a fit or an in-row argmin — NaN ranks differently
    in DuckDB's ORDER BY (greatest) than in the negated in-row sort
    key (last), so the only safe cross-engine posture is rejection at
    the ingestion gate, in BOTH engines. The fixtures contain no
    non-finite elements (verified), so the gate is result-invisible —
    this crafts the poison the fixtures lack."""
    import duckdb

    from mapreduce_mit_spark.plans.similarity import (
        DIM,
        EMB_VALID_SQL,
        valid_embeddings,
    )

    rows = [
        (1, "ok", [0.5] * DIM),
        (2, "nan", [float("nan")] + [0.5] * (DIM - 1)),
        (3, "inf", [float("inf")] + [0.5] * (DIM - 1)),
        (4, "ninf", [float("-inf")] + [0.5] * (DIM - 1)),
        (5, "nullel", [None] + [0.5] * (DIM - 1)),
        (6, "short", [0.5] * (DIM - 1)),
        (7, "nullarr", None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    kept = sorted(r.vec_id for r in valid_embeddings(df).collect())
    assert kept == [1], kept

    # the DuckDB twin must keep exactly the same rows
    def _lit(x):
        import math

        if x is None:
            return "NULL"
        if math.isnan(x):
            return "'NaN'::FLOAT"
        if math.isinf(x):
            return f"'{'-' if x < 0 else ''}Infinity'::FLOAT"
        return repr(x)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, CAST({'NULL' if emb is None else '[' + ', '.join(_lit(x) for x in emb) + ']'} AS FLOAT[]))"
            for i, _l, emb in rows
        )
        + ") t(vec_id, embedding)"
    )
    oracle_kept = sorted(
        r[0]
        for r in con.sql(
            f"SELECT vec_id FROM {EMB_VALID_SQL} AS v"
        ).fetchall()
    )
    assert oracle_kept == [1], oracle_kept

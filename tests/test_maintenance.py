"""Semantics tests for the maintenance/ops pack (q178-q184).

What the DuckDB oracles can't pin down, these do:
- the incremental-merge algebra is SPLIT-INVARIANT (any standing/
  increment carve merges to the same view — not just the registered
  e666 split the oracle replays);
- the Z-order interleave matches an independent pure-Python Morton
  encode, the layout actually PRUNES (the measured point of q179), and
  q182's rewrite lands one reproducible file per Z-range whose footer
  counts reconcile;
- the skew audit's salt factor is exactly the integer ceil it claims;
- q183's copy counts match an independent Python md5 computation;
- q184's zero-delete case equals q178, and the refresh fold equals a
  from-scratch build;
- the tenth persisted family refuses param-mismatched artifacts like
  the other nine.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_mit_spark.plans import maintenance as mnt
from mapreduce_mit_spark.plans.maintenance import (
    _lineitem_partials,
    _merge_partials,
    agg_snapshot_attach,
    agg_snapshot_save,
)
from mapreduce_mit_spark.sources.io import load_table

from .conftest import SF_SMALL


def _merged_measures(spark, split_hex: str | None):
    """q178's merge over an arbitrary standing/increment carve (None =
    single-pass, no split). has_new depends on the carve by design, so
    only the measure columns are compared."""
    li = load_table(spark, SF_SMALL, "lineitem")
    if split_hex is None:
        parts = _lineitem_partials(li).withColumn("has_new_i", F.lit(0))
    else:
        key = mnt._agg_split_key()
        parts = (
            _lineitem_partials(li.where(key < split_hex))
            .withColumn("has_new_i", F.lit(0))
            .unionByName(
                _lineitem_partials(li.where(~(key < split_hex))).withColumn(
                    "has_new_i", F.lit(1)
                )
            )
        )
    rows = (
        _merge_partials(parts)
        .select("l_suppkey", "n_items", "sum_qty", "rev_cents",
                "ship_first", "ship_last")
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def test_incremental_merge_is_split_invariant(spark):
    """The contract behind q178: merging partials is the SAME function
    of the data no matter where the standing/increment boundary falls
    — 10%, 50%, 90% increments and the no-split single pass all agree
    bit-for-bit (exact-integer measures make this an equality, not a
    tolerance)."""
    base = _merged_measures(spark, None)
    for hex_split in ("1999", "8000", "e666"):
        assert _merged_measures(spark, hex_split) == base, hex_split


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zorder_interleave_matches_python_morton(spark):
    """The Spark-side shift-and-add interleave == an independent
    pure-Python Morton encode, over the real fixture values."""
    df = (
        spark.range(0, 512)
        .select(
            (F.col("id") * 37 % 65536).cast("long").alias("x16"),
            (F.col("id") * 101 % 65536).cast("long").alias("d16"),
        )
        .select(
            "x16",
            "d16",
            F.expr(mnt._z_expr_spark("x16", "d16")).alias("zval"),
        )
    )
    for r in df.collect():
        assert r.zval == _py_morton(r.x16, r.d16), (r.x16, r.d16)


def test_zorder_prunes_where_linear_layout_cannot(spark):
    """The measured point of q179: on the pinned date-window predicate
    the custkey-sorted layout reads EVERY file it wrote (its per-file
    date range spans the table), while the Z-order layout's rectangle
    files let footer min/max pruning skip a real fraction."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    rows = REGISTRY["q179_zorder_layout"].fn(spark, SF_SMALL).collect()
    by_layout: dict[str, list] = {}
    for r in rows:
        by_layout.setdefault(r.layout, []).append(r)
    lin = by_layout["custkey_linear"]
    zod = by_layout["zorder"]
    assert all(r.touched for r in lin), "1-D layout should prune nothing"
    z_touched = sum(r.touched for r in zod)
    assert z_touched < len(zod) / 2, (
        f"zorder should skip >half its files: touched {z_touched}/{len(zod)}"
    )
    # zone maps are consistent: every file's stats bound its rows
    assert all(r.ck_min <= r.ck_max and r.dd_min <= r.dd_max for r in rows)


def test_skew_audit_salt_is_integer_ceil(spark):
    """salt_k == ceil(key_rows * P / total) exactly, and every key gets
    at least 1 — recomputed independently from the raw counts."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    audit = {
        r.user_id: r for r in REGISTRY["q180_skew_audit"].fn(spark, SF_SMALL).collect()
    }
    counts = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    for uid, row in audit.items():
        expect = math.ceil(counts[uid] * mnt._Q180_PARTITIONS / total)
        assert row.salt_k == max(expect, 1), uid
        assert row.salt_k >= 1


def test_agg_snapshot_attach_refuses_param_mismatch(spark, tmp_path):
    """The tenth family honors the same param-stamp gate as the other
    nine for its IMMUTABLE params: a snapshot built for a different
    group key must refuse to attach, not silently merge against the
    wrong carve. (standing_hex is the family's one MUTABLE param — the
    serve path reads the stamped boundary back, so a moved boundary is
    the refresh lifecycle, not a mismatch; see
    test_snapshot_refresh_equals_from_scratch.) A stamp missing a
    mutable key entirely still refuses — mutable waives equality, not
    presence."""
    out = str(tmp_path / "agg_snapshot")
    agg_snapshot_save(spark, SF_SMALL, out)
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(meta, params={"standing_hex": "e666", "group_key": "l_partkey"})
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        agg_snapshot_attach(spark, SF_SMALL, out)
    doctored = dict(meta, params={"group_key": "l_suppkey"})
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        agg_snapshot_attach(spark, SF_SMALL, out)


def test_zorder_rewrite_one_file_per_range_and_counts(spark):
    """q182's determinism claim: the rewrite lands exactly ONE parquet
    file per Z-range (explicit file_id column + hash repartition, not
    sampled range boundaries), and the footer-reported row counts sum
    to the table's row count."""
    import glob

    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    rows = REGISTRY["q182_zorder_rewrite"].fn(spark, SF_SMALL).collect()
    n_orders = load_table(spark, SF_SMALL, "orders").count()
    assert sum(r.n_rows for r in rows) == n_orders
    path = mnt._q182_path(SF_SMALL)
    for part in glob.glob(os.path.join(path, "file_id=*")):
        files = glob.glob(os.path.join(part, "*.parquet"))
        assert len(files) == 1, f"{part}: {len(files)} files for one Z-range"


def test_epoch_repetition_copy_counts_match_python(spark):
    """q183's per-document copy count == an independent pure-Python
    md5 computation of base + fractional-epoch draw, checked by
    reconciling the per-(lang, epoch) manifest against doc-level
    counts recomputed from the raw table."""
    import hashlib

    from mapreduce_mit_spark.plans.pipeline import EPOCH_BUDGETS
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    manifest = {
        (r.lang, r.epoch): r.n_docs
        for r in REGISTRY["q183_epoch_repetition"].fn(spark, SF_SMALL).collect()
    }
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "lang").collect()
    expect: dict[tuple, int] = {}
    for r in docs:
        base, frac = EPOCH_BUDGETS.get(r.lang, (1, "00"))
        key = hashlib.md5(f"ep1:{r.doc_id}".encode()).hexdigest()[:2]
        n = base + (1 if key < frac else 0)
        for epoch in range(n):
            k = (r.lang, epoch)
            expect[k] = expect.get(k, 0) + 1
    assert manifest == expect


def test_snapshot_refresh_equals_from_scratch(spark, tmp_path):
    """agg_snapshot_refresh's contract: the refreshed artifact's
    partials equal a from-scratch partial aggregation over the WHOLE
    fact table, bit-for-bit — and the refreshed artifact ATTACHES
    through the mutable-param gate, carrying its moved boundary in the
    param tag so the serve path carves an EMPTY increment (the closed
    lifecycle; the old behavior was a refusal dead-end)."""
    from mapreduce_mit_spark.plans._util import _session_cache, source_fingerprint

    out = str(tmp_path / "refreshed")
    mnt.agg_snapshot_refresh(spark, SF_SMALL, out)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "partials"))
        .select("l_suppkey", "n_items", "sum_qty", "rev_cents",
                "ship_first", "ship_last")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in _lineitem_partials(load_table(spark, SF_SMALL, "lineitem"))
        .collect()
    )
    assert got == want
    key = ("agg_snapshot",) + source_fingerprint(
        os.path.join(SF_SMALL, "lineitem.parquet")
    )
    cache = _session_cache(spark)
    prev = cache.get(key)
    try:
        refreshed = agg_snapshot_attach(spark, SF_SMALL, out)
        assert mnt.agg_standing_hex(refreshed) == mnt.AGG_REFRESHED_HEX
        # the moved boundary makes the increment carve provably empty
        incr = load_table(spark, SF_SMALL, "lineitem").where(
            ~(mnt._agg_split_key() < mnt.agg_standing_hex(refreshed))
        )
        assert incr.count() == 0
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)
    # the gate still refuses what remains IMMUTABLE: a wrong group_key
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(
        meta,
        params={"standing_hex": mnt.AGG_REFRESHED_HEX, "group_key": "l_partkey"},
    )
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        agg_snapshot_attach(spark, SF_SMALL, out)


def test_retraction_algebra_zero_deletes_matches_q178(spark):
    """With the delete feed empty, q184's view must equal q178's
    (modulo the flag column) — the retraction path is a strict
    extension, not a different aggregate."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    import mapreduce_mit_spark.plans.maintenance as m

    old = m.Q184_DELETE_HEX
    m.Q184_DELETE_HEX = "0000"  # nothing deletes
    try:
        q184 = sorted(
            tuple(r)[:-1]
            for r in REGISTRY["q184_retractable_agg_maintenance"]
            .fn(spark, SF_SMALL)
            .collect()
        )
    finally:
        m.Q184_DELETE_HEX = old
    q178 = sorted(
        tuple(r)[:-1]
        for r in REGISTRY["q178_incremental_agg_maintenance"]
        .fn(spark, SF_SMALL)
        .collect()
    )
    assert q184 == q178 and q178


def test_histogram_counts_merge_equals_full_build(spark):
    """q187's mergeability: snapshot bucket counts + increment bucket
    counts == bucket counts of a one-pass build over ALL rows against
    the SAME standing boundaries — exact integer equality."""
    from mapreduce_mit_spark.plans.maintenance import (
        Q178_STANDING_HEX,
        _hist_bucket_col,
        _order_split_key,
        hist_snapshot_for,
    )

    counts_s, ext = hist_snapshot_for(spark, SF_SMALL)
    o = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    incr = o.where(~(_order_split_key() < Q178_STANDING_HEX))
    incr_counts = (
        incr.crossJoin(F.broadcast(ext))
        .select(_hist_bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merged = {
        r.bucket: r.n
        for r in counts_s.unionByName(incr_counts)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    full = {
        r.bucket: r.n
        for r in o.crossJoin(F.broadcast(ext))
        .select(_hist_bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert merged == full and sum(full.values()) == o.count()


def test_hist_refresh_full_refit_and_zero_clamps(spark, tmp_path):
    """hist_snapshot_refresh's contract: the refreshed counts equal a
    from-scratch full-data bucketize at the refit extent, bit-for-bit;
    the attached artifact serves with ZERO clamped increments and a
    passing in-band audit; and running q189 does not poison a later
    q187 serve (whose oracle models the stale boundary)."""
    from mapreduce_mit_spark.plans._util import _session_cache, source_fingerprint
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    out = str(tmp_path / "hist_refreshed")
    mnt.hist_snapshot_refresh(spark, SF_SMALL, out)

    o = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    ext = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    want = sorted(
        (r.bucket, r.n)
        for r in o.crossJoin(F.broadcast(ext))
        .select(mnt._hist_bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = sorted(
        (r.bucket, r.n)
        for r in spark.read.parquet(os.path.join(out, "counts")).collect()
    )
    assert got == want and got

    before_stale = sorted(
        map(
            tuple,
            REGISTRY["q187_histogram_quantile_maintenance"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    served = REGISTRY["q189_hist_refresh_serve"].fn(spark, SF_SMALL).collect()
    assert served and all(r.n_new_clamped == 0 for r in served)
    assert all(r.audit_ok for r in served)
    # cache restored: q187 still serves the STALE-boundary view
    after_stale = sorted(
        map(
            tuple,
            REGISTRY["q187_histogram_quantile_maintenance"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    assert after_stale == before_stale
    # n_buckets stays immutable: a doctored bucket count refuses
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(
        meta, params={"standing_hex": mnt.AGG_REFRESHED_HEX, "n_buckets": 32}
    )
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        mnt.hist_snapshot_attach(spark, SF_SMALL, out)


def test_incremental_layout_audit_invariants(spark):
    """q204: the arrival tail's zone maps must be useless under the
    window (every tail file touched — arrival order is uncorrelated
    with the scan dimension), the standing Z-order layer must still
    prune at least half its files (q179's property, preserved for the
    standing carve), and the compaction decision must equal the
    integer-percentage rule recomputed from the row counts."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    rows = {
        r.layer: r
        for r in REGISTRY["q204_incremental_layout_audit"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    tail, standing = rows["arrival_tail"], rows["standing_zorder"]
    # every NON-EMPTY tail file is touched (at sf0.001 a ck%8 bucket
    # can be empty, so n_files may fall short of the configured count)
    assert 1 <= tail.n_files <= mnt.Q204_TAIL_FILES
    assert tail.n_touched == tail.n_files
    assert standing.n_touched <= standing.n_files / 2
    scan_total = tail.rows_scanned + standing.rows_scanned
    want = tail.rows_scanned * 100 // scan_total >= mnt.Q204_TRIGGER_PCT
    assert tail.compact_recommended == standing.compact_recommended == want


def test_incremental_optimize_clears_trigger_and_conserves_rows(spark):
    """q206 is q204's act, pinned end to end: BEFORE — the staged
    two-layer table trips the compaction trigger (the fixture q204
    audits); AFTER — the merged layout's footer audit reports the
    trigger false with zero tail files left, conserves every row, and
    restores q179's pruning property (at most half the Z-files touched
    by the pinned window — the whole point of folding the tail)."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    before = {
        r.layer: r
        for r in REGISTRY["q204_incremental_layout_audit"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert before["arrival_tail"].compact_recommended, (
        "fixture should trip the trigger — q206 has nothing to act on"
    )
    total_before = sum(r.n_rows for r in before.values())

    after = REGISTRY["q206_incremental_optimize"].fn(spark, SF_SMALL).collect()
    assert after and all(not r.compact_recommended for r in after)
    assert all(r.tail_files_left == 0 for r in after)
    assert sum(r.n_rows for r in after) == total_before, "rows not conserved"
    touched = sum(1 for r in after if r.touched)
    assert touched <= len(after) / 2, (
        "merged layout lost the Z-order pruning property"
    )


def test_ivf_refresh_attach_moved_boundary_and_restores_cache(spark, tmp_path):
    """q207's lifecycle, pinned beyond the shared oracle: the
    refreshed index attaches through the mutable-param gate carrying
    the moved boundary (increment carve provably empty), the gate
    still refuses a doctored IMMUTABLE param (k), the served rows are
    all is_new = false, and a later q175 in the same session is
    untouched (the cache save/restore discipline)."""
    from mapreduce_mit_spark.plans import similarity as sim
    from mapreduce_mit_spark.plans._util import _session_cache, source_fingerprint
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    q175_before = sorted(
        map(tuple, REGISTRY["q175_ivf_incremental_serve"].fn(spark, SF_SMALL).collect())
    )
    out = str(tmp_path / "ivf_refreshed")
    sim.ivf_standing_refresh(spark, SF_SMALL, out)

    key = ("ivf_standing",) + source_fingerprint(
        os.path.join(SF_SMALL, "embeddings.parquet")
    )
    cache = _session_cache(spark)
    prev = cache.get(key)
    try:
        cent, _slists = sim.ivf_standing_index_attach(spark, SF_SMALL, out)
        assert sim.standing_hex(cent) == sim.IVF_REFRESHED_HEX
        incr = sim.valid_embeddings(
            load_table(spark, SF_SMALL, "embeddings")
        ).where(~(sim._standing_key() < sim.standing_hex(cent)))
        assert incr.count() == 0, "refreshed boundary must empty the increment"
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)

    served = REGISTRY["q207_ivf_refresh_serve"].fn(spark, SF_SMALL).collect()
    assert served and all(not r.is_new for r in served)
    q175_after = sorted(
        map(tuple, REGISTRY["q175_ivf_incremental_serve"].fn(spark, SF_SMALL).collect())
    )
    assert q175_after == q175_before, "q207 poisoned the session cache"

    # the gate still refuses what remains IMMUTABLE: a doctored k
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(meta, params=dict(meta["params"], k=99))
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        sim.ivf_standing_index_attach(spark, SF_SMALL, out)


def test_ivfadc_refresh_attach_moved_boundary_and_restores_cache(
    spark, tmp_path
):
    """q213's lifecycle, pinned beyond the shared oracle (the q207
    test applied to the fifteenth family): the refreshed IVFADC
    artifact attaches through the mutable-param gate carrying the
    moved boundary (increment carve provably empty), the gate still
    refuses a doctored IMMUTABLE param (k_pq), the served rows are
    all is_new = false, and a later q211 in the same session is
    untouched (the cache save/restore discipline)."""
    from mapreduce_mit_spark.plans import similarity as sim
    from mapreduce_mit_spark.plans._util import (
        _session_cache,
        source_fingerprint,
    )
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    q211_before = sorted(
        map(
            tuple,
            REGISTRY["q211_ivfadc_incremental_serve"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    out = str(tmp_path / "ivfadc_refreshed")
    sim.ivfadc_standing_refresh(spark, SF_SMALL, out)

    key = ("ivfadc_standing",) + source_fingerprint(
        os.path.join(SF_SMALL, "embeddings.parquet")
    )
    cache = _session_cache(spark)
    prev = cache.get(key)
    try:
        cent, _pcent, _codes = sim.ivfadc_standing_index_attach(
            spark, SF_SMALL, out
        )
        assert sim.standing_hex(cent) == sim.IVF_REFRESHED_HEX
        incr = sim.valid_embeddings(
            load_table(spark, SF_SMALL, "embeddings")
        ).where(~(sim._standing_key() < sim.standing_hex(cent)))
        assert incr.count() == 0, "refreshed boundary must empty the increment"
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)

    served = REGISTRY["q213_ivfadc_refresh_serve"].fn(spark, SF_SMALL).collect()
    assert served and all(not r.is_new for r in served)
    q211_after = sorted(
        map(
            tuple,
            REGISTRY["q211_ivfadc_incremental_serve"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    assert q211_after == q211_before, "q213 poisoned the session cache"

    # the gate still refuses what remains IMMUTABLE: a doctored k_pq
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(meta, params=dict(meta["params"], k_pq=99))
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        sim.ivfadc_standing_index_attach(spark, SF_SMALL, out)


def test_pq_refresh_attach_moved_boundary_and_restores_cache(
    spark, tmp_path
):
    """q216's lifecycle, pinned beyond the shared oracle (the
    q207/q213 test applied to the sixteenth family): the refreshed
    flat-PQ artifact attaches through the mutable-param gate carrying
    the moved boundary (increment carve provably empty), the gate
    still refuses a doctored IMMUTABLE param (k_pq), the served rows
    are all is_new = false, and a later q214 in the same session is
    untouched (the cache save/restore discipline)."""
    from mapreduce_mit_spark.plans import similarity as sim
    from mapreduce_mit_spark.plans._util import (
        _session_cache,
        source_fingerprint,
    )
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    q214_before = sorted(
        map(
            tuple,
            REGISTRY["q214_pq_incremental_serve"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    out = str(tmp_path / "pq_refreshed")
    sim.pq_standing_refresh(spark, SF_SMALL, out)

    key = ("pq_standing",) + source_fingerprint(
        os.path.join(SF_SMALL, "embeddings.parquet")
    )
    cache = _session_cache(spark)
    prev = cache.get(key)
    try:
        cent, _codes = sim.pq_standing_index_attach(spark, SF_SMALL, out)
        assert sim.standing_hex(cent) == sim.IVF_REFRESHED_HEX
        incr = sim.valid_embeddings(
            load_table(spark, SF_SMALL, "embeddings")
        ).where(~(sim._standing_key() < sim.standing_hex(cent)))
        assert incr.count() == 0, "refreshed boundary must empty the increment"
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)

    served = REGISTRY["q216_pq_refresh_serve"].fn(spark, SF_SMALL).collect()
    assert served and all(not r.is_new for r in served)
    q214_after = sorted(
        map(
            tuple,
            REGISTRY["q214_pq_incremental_serve"]
            .fn(spark, SF_SMALL)
            .collect(),
        )
    )
    assert q214_after == q214_before, "q216 poisoned the session cache"

    # the gate still refuses what remains IMMUTABLE: a doctored k_pq
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    doctored = dict(meta, params=dict(meta["params"], k_pq=99))
    with open(meta_path, "w") as f:
        json.dump(doctored, f)
    with pytest.raises(ValueError, match="params"):
        sim.pq_standing_index_attach(spark, SF_SMALL, out)

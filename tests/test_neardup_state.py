"""Continuous near-dup state machinery: epoch replay idempotency and
index compaction (streaming/sinks.py neardup_epoch_writer /
compact_neardup_state). The writer is driven directly — no stream
needed — so the at-least-once replay path is exercised exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

# Every test here is a replay/compaction/crash sweep over the full
# epoch-writer machinery (multi-second each; ~230 s total): excluded
# from the budget-bound default run, exercised via `-m slow`. The
# default run still covers the writer end-to-end through
# test_oracle_parity[streaming_dedup_neardup] (drain + in-stream
# compaction + oracle hash).
pytestmark = pytest.mark.slow

from data_pipeline_csv_spark.operators.dedup import minhash_lsh_pairs
from data_pipeline_csv_spark.sources.tables import load_table
from data_pipeline_csv_spark.streaming import (
    compact_neardup_state,
    neardup_epoch_writer,
)


# Cross pairs are oriented (old id, new id); the %-split batches used
# here mix id order (unlike the id-ordered staged feed the registered
# query drains), so compare pairs orientation-normalized.
def _pairs(spark, state_root):
    return {
        (min(r.d1, r.d2), max(r.d1, r.d2), r.jaccard)
        for r in spark.read.parquet(os.path.join(state_root, "pairs"))
        .select("d1", "d2", "jaccard")
        .collect()
    }


def _oneshot(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return {
        (min(r.d1, r.d2), max(r.d1, r.d2), r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }


def test_epoch_replay_rewrites_identical_state(spark, sf_dir, tmp_path):
    """A replayed epoch (at-least-once: its state dirs already exist on
    disk but the checkpoint never committed) must see only the
    pre-epoch state and recompute bit-identical pairs — NOT read its
    own docs back as history."""
    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    w(b0, 0)
    w(b1, 1)
    first = _pairs(spark, state)
    assert first == _oneshot(spark, sf_dir)
    w(b1, 1)  # replay epoch 1 on top of its own leftover state
    assert _pairs(spark, state) == first


def test_compaction_folds_epochs_and_preserves_equivalence(spark, sf_dir, tmp_path):
    """compact_neardup_state folds the batch-keyed tail into a bucketed
    index generation; epochs written after it probe the compacted tier
    and the drained pair set still equals the one-shot LSH.
    Re-compaction (compacted tier + new tail) also works — here the new
    tail (1/3 of the corpus) crosses the explicit merge_ratio=0.45
    threshold against the 2/3-corpus first generation (166 vs 334 rows
    at sf0.001 — just under the 0.5 default), so the two generations
    merge back to one and the retired one is garbage-collected."""
    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

        mark = os.path.join(state, "compacted_index_table")
        w(batches[0], 0)
        w(batches[1], 1)
        compact_neardup_state(spark, state, "t_nd_idx_compact_test")
        # epoch-keyed tail is gone; compacted tier is in place
        for sub in ("lsh_index", "seen_docs"):
            root = os.path.join(state, sub)
            assert not [d for d in os.listdir(root) if d.startswith("batch=")]
        gens, upto = _read_neardup_marker(mark)
        assert upto == 1 and len(gens) == 1
        tbl, docs_dir = gens[0]["table"], gens[0]["docs"]
        assert os.path.isdir(docs_dir)
        assert spark.table(tbl).count() > 0
        assert gens[0]["rows"] == spark.read.parquet(docs_dir).count()

        w(batches[2], 2)  # probes compacted tier
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)

        # fold the new tail; 1/3 >= 0.45 * 2/3 -> geometric merge back
        # to ONE generation; the retired constituents are GC'd
        compact_neardup_state(
            spark, state, "t_nd_idx_compact_test", merge_ratio=0.45
        )
        gens2, upto2 = _read_neardup_marker(mark)
        assert upto2 == 2 and len(gens2) == 1
        tbl2, docs_dir2 = gens2[0]["table"], gens2[0]["docs"]
        assert not spark.catalog.tableExists(tbl) or tbl2 == tbl
        assert spark.read.parquet(docs_dir2).count() == docs.count()
        live = {t.name for t in spark.catalog.listTables()}
        assert {
            n for n in live if n.startswith("t_nd_idx_compact_test")
        } == {tbl2.lower()}
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_compact_test"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_in_stream_auto_compaction_bounds_tail_and_preserves_pairs(
    spark, sf_dir, tmp_path
):
    """compact_every=2 compacts INSIDE the feed (at epochs 2 and 4):
    the batch-keyed tail stays bounded, the drained pair set still
    equals the one-shot LSH, and replaying the compaction-triggering
    epoch (leftover state dirs, re-triggered compaction) is a no-op."""
    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 5 == i) for i in range(5)]
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(
        spark, state, threshold=0.8, compact_every=2,
        index_table="t_nd_idx_auto_compact_test",
    )
    try:
        for i, b in enumerate(batches):
            w(b, i)
            tail = [
                d
                for d in os.listdir(os.path.join(state, "lsh_index"))
                if d.startswith("batch=")
            ]
            assert len(tail) <= 2, f"tail unbounded at epoch {i}: {tail}"
        drained = _pairs(spark, state)
        assert drained == _oneshot(spark, sf_dir)
        # replay epoch 4 (the last compaction trigger): its own leftover
        # dirs exist, the compaction re-fires over an empty tail, and
        # the rewritten state must leave the drained pairs unchanged
        w(batches[4], 4)
        assert _pairs(spark, state) == drained
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_auto_compact_test"):
                clear_managed_table(spark, t.name)


def test_compaction_watermark_ignores_resurrected_folded_tail(
    spark, sf_dir, tmp_path
):
    """The crash window AFTER the marker swap and BEFORE tail cleanup
    leaves folded batch dirs on disk; the marker's folded_upto
    watermark must make readers ignore them (no double-counted docs),
    and the next compaction must garbage-collect them."""
    import shutil

    from data_pipeline_csv_spark.streaming.sinks import (
        _neardup_state,
        _read_neardup_marker,
    )

    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        w(batches[0], 0)
        w(batches[1], 1)
        # preserve copies of the tail dirs, then compact (which folds
        # and deletes them)
        saved = str(tmp_path / "saved")
        for sub in ("lsh_index", "seen_docs"):
            shutil.copytree(os.path.join(state, sub), os.path.join(saved, sub))
        compact_neardup_state(spark, state, "t_nd_idx_wm_test")
        n_state_docs = _neardup_state(spark, state, epoch_id=-1)[0].count()
        # simulate the crash window: folded batch dirs reappear on disk
        for sub in ("lsh_index", "seen_docs"):
            for d in os.listdir(os.path.join(saved, sub)):
                shutil.copytree(
                    os.path.join(saved, sub, d), os.path.join(state, sub, d)
                )
        seen, _idx_parts = _neardup_state(spark, state, epoch_id=-1)
        assert seen.count() == n_state_docs  # not double-counted
        assert seen.select("doc_id").distinct().count() == n_state_docs
        # next epoch + compaction still converge and GC the stale dirs
        w(batches[2], 2)
        compact_neardup_state(spark, state, "t_nd_idx_wm_test")
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
        _gens, upto = _read_neardup_marker(
            os.path.join(state, "compacted_index_table")
        )
        assert upto == 2
        for sub in ("lsh_index", "seen_docs"):
            assert not [
                d
                for d in os.listdir(os.path.join(state, sub))
                if d.startswith("batch=")
            ]
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_wm_test"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _snapshot_dir(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out[full] = (st.st_mtime_ns, st.st_size)
    return out


def test_tiered_compaction_rewrites_only_tail(spark, sf_dir, tmp_path):
    """The LSM property: each compaction folds ONLY the batch-keyed
    tail; elder generations' bytes are untouched. A 90% generation
    followed by two 5% tails produces [0.9, 0.05] then (geometric
    merge of the two youngest) [0.9, 0.1] — the big generation's files
    are byte-identical across both compactions, so rewrite work per
    compaction is O(tail), not O(total state)."""
    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 20 > 1)  # ~90%
    b1 = docs.filter(F.col("doc_id") % 20 == 0)  # ~5%
    b2 = docs.filter(F.col("doc_id") % 20 == 1)  # ~5%
    state = str(tmp_path / "state")
    mark = os.path.join(state, "compacted_index_table")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        w(b0, 0)
        compact_neardup_state(spark, state, "t_nd_idx_tier_test")
        gens, _ = _read_neardup_marker(mark)
        assert len(gens) == 1
        big = gens[0]
        before = _snapshot_dir(big["docs"])

        w(b1, 1)
        compact_neardup_state(spark, state, "t_nd_idx_tier_test")
        gens, upto = _read_neardup_marker(mark)
        # small tail does NOT merge into the big generation
        assert upto == 1 and len(gens) == 2
        assert gens[0] == big, "elder generation must survive unchanged"
        assert _snapshot_dir(big["docs"]) == before, "elder bytes rewritten"
        assert gens[1]["rows"] < 0.5 * big["rows"]

        w(b2, 2)
        compact_neardup_state(spark, state, "t_nd_idx_tier_test")
        gens, upto = _read_neardup_marker(mark)
        # the two young 5% generations merged; the 90% elder still
        # byte-identical (its rewrite would be the O(total) behavior
        # this tiering removes)
        assert upto == 2 and len(gens) == 2
        assert gens[0] == big
        assert _snapshot_dir(big["docs"]) == before, "elder bytes rewritten"
        assert gens[1]["rows"] == docs.count() - big["rows"]
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_tier_test"):
                clear_managed_table(spark, t.name)


def test_legacy_three_line_marker_migrates(spark, sf_dir, tmp_path):
    """A state_root committed by the previous (single-generation,
    3-line marker) version of this module must keep working: the
    marker reads as one legacy generation (rows unknown -> counted
    lazily), later epochs probe it, and the next compaction folds new
    tail against it under the geometric policy."""
    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    mark = os.path.join(state, "compacted_index_table")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        w(batches[0], 0)
        w(batches[1], 1)
        compact_neardup_state(spark, state, "t_nd_idx_legacy3_test")
        gens, upto = _read_neardup_marker(mark)
        # rewrite the marker in the legacy 3-line format
        with open(mark, "w") as fh:
            fh.write(f"{gens[0]['table']}\n{gens[0]['docs']}\n{upto}\n")
        gens2, upto2 = _read_neardup_marker(mark)
        assert upto2 == upto and gens2[0]["rows"] is None
        assert gens2[0]["table"] == gens[0]["table"]

        w(batches[2], 2)  # probes the legacy generation
        compact_neardup_state(spark, state, "t_nd_idx_legacy3_test")
        gens3, upto3 = _read_neardup_marker(mark)
        assert upto3 == 2
        assert sum(g["rows"] for g in gens3) == docs.count()
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_legacy3_test"):
                clear_managed_table(spark, t.name)


def test_legacy_one_line_marker_migrates_and_gc(spark, sf_dir, tmp_path):
    """The oldest marker format (one line: table name; docs at the
    fixed compacted_docs path) must read as a legacy generation, and
    once that generation merges away the fixed-path dir is swept by
    compaction GC."""
    import shutil

    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    mark = os.path.join(state, "compacted_index_table")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        w(batches[0], 0)
        w(batches[1], 1)
        compact_neardup_state(spark, state, "t_nd_idx_legacy1_test")
        gens, _ = _read_neardup_marker(mark)
        legacy_docs = os.path.join(state, "compacted_docs")
        shutil.move(gens[0]["docs"], legacy_docs)
        with open(mark, "w") as fh:
            fh.write(gens[0]["table"])
        gens2, upto2 = _read_neardup_marker(mark)
        assert upto2 == -1 and gens2[0]["docs"] == legacy_docs

        w(batches[2], 2)  # probes the legacy generation
        # 1/3 >= 0.45 * 2/3 -> the tail fold merges with the legacy
        # generation, which retires it; GC must sweep the fixed path
        compact_neardup_state(
            spark, state, "t_nd_idx_legacy1_test", merge_ratio=0.45
        )
        gens3, upto3 = _read_neardup_marker(mark)
        assert upto3 == 2 and len(gens3) == 1
        assert not os.path.exists(legacy_docs)
        assert not spark.catalog.tableExists(gens2[0]["table"])
        assert spark.read.parquet(gens3[0]["docs"]).count() == docs.count()
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_legacy1_test"):
                clear_managed_table(spark, t.name)


def test_empty_nth_batch_still_triggers_compaction(spark, sf_dir, tmp_path):
    """An EMPTY Nth micro-batch (sparse feed) must still fire the
    in-stream compaction — otherwise the documented 'tail never
    exceeds N dirs' bound silently slips until the next non-empty
    multiple of N."""
    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(
        spark, state, threshold=0.8, compact_every=2,
        index_table="t_nd_idx_empty_test",
    )
    try:
        w(docs.filter(F.col("doc_id") % 2 == 0), 0)
        w(docs.filter(F.col("doc_id") % 2 == 1), 1)
        w(docs.limit(0), 2)  # empty compaction-trigger epoch
        gens, upto = _read_neardup_marker(
            os.path.join(state, "compacted_index_table")
        )
        assert upto == 1 and len(gens) == 1
        tail = [
            d
            for d in os.listdir(os.path.join(state, "lsh_index"))
            if d.startswith("batch=")
        ]
        assert not tail, f"tail not folded by the empty trigger epoch: {tail}"
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_empty_test"):
                clear_managed_table(spark, t.name)


def test_compaction_skips_idx_only_partial_epoch(spark, sf_dir, tmp_path):
    """An idx-only batch dir (crash between the epoch's index write and
    its docs write — the epoch WILL replay, its checkpoint never
    committed) must not be folded: a fold that ingested it would
    re-ingest the same index rows after the replay rewrites the dir,
    duplicating entries across tiers and breaking the cross-tier
    disjointness the per-part probe union relies on. The fold's
    membership comes from the completed-epoch intersection of idx and
    docs batch dirs, bounded by isin(tail_ids), never a bare
    `batch > folded_upto` watermark."""
    import shutil

    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = str(tmp_path / "state")
    mark = os.path.join(state, "compacted_index_table")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    try:
        w(batches[0], 0)
        w(batches[1], 1)
        w(batches[2], 2)
        # simulate the crash window: epoch 2's docs write never landed
        shutil.rmtree(os.path.join(state, "seen_docs", "batch=2"))
        compact_neardup_state(spark, state, "t_nd_idx_partial_test")
        gens, upto = _read_neardup_marker(mark)
        # the partial epoch is NOT folded and NOT swept — it belongs to
        # the replay
        assert upto == 1
        assert os.path.isdir(os.path.join(state, "lsh_index", "batch=2"))
        w(batches[2], 2)  # the replay rewrites epoch 2's state
        compact_neardup_state(spark, state, "t_nd_idx_partial_test")
        gens2, upto2 = _read_neardup_marker(mark)
        assert upto2 == 2
        # cross-tier disjointness: every (doc_id, band_id) index row
        # appears exactly once across all generations
        idx_all = None
        for g in gens2:
            t = spark.table(g["table"]).select("doc_id", "band_id")
            idx_all = t if idx_all is None else idx_all.unionByName(t)
        dup = (
            idx_all.groupBy("doc_id", "band_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        assert dup == 0, f"{dup} duplicated index rows across tiers"
        assert _pairs(spark, state) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_idx_partial_test"):
                clear_managed_table(spark, t.name)


def test_state_read_skips_orphaned_empty_batch_dir(spark, sf_dir, tmp_path):
    """An orphaned ``seen_docs/batch=N`` dir holding no data files (a
    crash before the docs write put a file in it) is visible to the
    tail read but has no schema; the per-dir schema probe must skip it
    rather than fail with "Unable to infer schema", and the docs read
    back must be the same as without it."""
    from data_pipeline_csv_spark.streaming.sinks import _neardup_state

    docs = load_table(spark, sf_dir, "documents")
    state = str(tmp_path / "state")
    w = neardup_epoch_writer(spark, state, threshold=0.8)
    w(docs.filter(F.col("doc_id") % 2 == 0), 0)
    w(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def seen():
        df, _idx = _neardup_state(spark, state, 5)
        return sorted(tuple(r) for r in df.select("doc_id", "text").collect())

    want = seen()
    os.makedirs(os.path.join(state, "seen_docs", "batch=7"))
    assert seen() == want


def test_generation_gc_spares_prefix_overlapping_index(spark, sf_dir, tmp_path):
    """Two pipelines sharing a Spark catalog with prefix-overlapping
    index_table names ('t_nd_gcpfx' vs 't_nd_gcpfx_gold' — note
    'gold' starts with 'g') must never GC each other's LIVE
    generations: the orphan sweep matches ^{index_table}_g\\d+$
    exactly, not a bare prefix."""
    from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state_a = str(tmp_path / "state_a")
    state_b = str(tmp_path / "state_b")
    try:
        wb = neardup_epoch_writer(spark, state_b, threshold=0.8)
        wb(b0, 0)
        compact_neardup_state(spark, state_b, "t_nd_gcpfx_gold")
        gens_b, _ = _read_neardup_marker(
            os.path.join(state_b, "compacted_index_table")
        )
        assert spark.catalog.tableExists(gens_b[0]["table"])

        wa = neardup_epoch_writer(spark, state_a, threshold=0.8)
        wa(b0, 0)
        # pipeline A's compaction GC must not delete B's live generation
        compact_neardup_state(spark, state_a, "t_nd_gcpfx")
        assert spark.catalog.tableExists(gens_b[0]["table"]), (
            "prefix-overlapping GC deleted a live generation of another "
            "pipeline"
        )
        # B keeps working: its next epoch probes the surviving generation
        wb(b1, 1)
        assert _pairs(spark, state_b) == _oneshot(spark, sf_dir)
    finally:
        from data_pipeline_csv_spark.engine import clear_managed_table

        for t in spark.catalog.listTables():
            if t.name.startswith("t_nd_gcpfx"):
                clear_managed_table(spark, t.name)

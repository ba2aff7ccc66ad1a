"""CDC merge + profile operators on literal frames (semantics pinned
independently of the TPC-H-ish tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_csv_spark.operators.cdc import merge_latest_snapshot
from data_pipeline_csv_spark.operators.profile import profile_table


def test_merge_latest_snapshot_semantics(spark):
    changes = spark.createDataFrame(
        [
            # key 1: insert then update -> update wins
            (1, "a", 1, "I"),
            (1, "b", 2, "U"),
            # key 2: insert then delete -> gone
            (2, "x", 1, "I"),
            (2, "x", 2, "D"),
            # key 3: plain insert survives
            (3, "y", 1, "I"),
            # key 4: same seq delete+update -> delete wins (op desc: U < D? no — 'U' > 'D')
            (4, "z", 1, "U"),
            (4, "z", 1, "D"),
        ],
        "k int, v string, seq int, op string",
    )
    snap = merge_latest_snapshot(changes, ["k"]).orderBy("k").collect()
    got = {(r["k"], r["v"], r["seq"], r["n_versions"]) for r in snap}
    # tie at key 4: 'U' sorts after 'D' descending -> the U row wins the
    # window, so key 4 SURVIVES with the update (deterministic, pinned).
    assert got == {(1, "b", 2, 2), (3, "y", 1, 1), (4, "z", 1, 2)}


def test_merge_delete_then_reinsert(spark):
    changes = spark.createDataFrame(
        [(1, "old", 1, "I"), (1, "old", 2, "D"), (1, "new", 3, "I")],
        "k int, v string, seq int, op string",
    )
    snap = merge_latest_snapshot(changes, ["k"]).collect()
    assert len(snap) == 1 and snap[0]["v"] == "new" and snap[0]["n_versions"] == 3


def test_profile_table_counts_and_ranges(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (2, 7.5, None), (None, 5.0, "a")],
        "k int, x double, s string",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"k", "x", "s"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert (prof["k"]["n_nulls"], prof["k"]["n_distinct"]) == (1, 2)
    assert (prof["x"]["min_num"], prof["x"]["max_num"]) == (5.0, 7.5)
    assert (prof["s"]["n_nulls"], prof["s"]["n_distinct"]) == (1, 2)
    assert prof["s"]["min_num"] is None


def test_profile_single_scan(spark):
    """The whole profile must be ONE aggregate over one scan — no
    per-column jobs (the plan contains exactly one relation scan)."""
    import contextlib
    import io

    df = spark.createDataFrame([(1, 2.0)], "a int, b double")
    prof = profile_table(df)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prof.explain("formatted")
    import re

    plan = buf.getvalue()
    scans = re.findall(r"^\(\d+\) (?:Scan|LocalTableScan)", plan, flags=re.M)
    assert len(scans) == 1, plan


def test_scd2_intervals_chain_and_tombstone(spark, sf_dir):
    """SCD2 invariants: intervals per key chain without gaps, exactly
    one current row per surviving key, deleted keys have none, and the
    current rows equal the CDC merge snapshot."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries import REGISTRY

    hist = REGISTRY["cdc_scd2_history"].fn(spark, sf_dir)
    snap = REGISTRY["cdc_merge_snapshot"].fn(spark, sf_dir)

    # one current row per surviving key; none for deleted keys
    cur = hist.filter("is_current")
    assert cur.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    assert cur.count() == snap.count()
    # current rows carry the same (key, price) as the merge snapshot
    mismatch = (
        cur.select("o_orderkey", "o_totalprice")
        .exceptAll(snap.select("o_orderkey", "o_totalprice"))
        .count()
    )
    assert mismatch == 0
    # closed intervals end strictly after they start
    assert hist.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0


def test_snapshots_asof_literal_log(spark):
    """Hand-checked time travel: v1 sees the insert, v2 the update,
    v3 nothing (deleted)."""
    from data_pipeline_csv_spark.operators.cdc import snapshots_asof

    changes = spark.createDataFrame(
        [
            (1, "a", 1, "I"),
            (1, "b", 2, "U"),
            (1, None, 3, "D"),
            (2, "x", 1, "I"),
        ],
        "k: long, val: string, seq: long, op: string",
    )
    out = snapshots_asof(changes, ["k"], versions=(1, 2, 3))
    got = {(r["as_of"], r["k"]): r["val"] for r in out.collect()}
    assert got[(1, 1)] == "a" and got[(2, 1)] == "b"
    assert (3, 1) not in got  # deleted key gone at v3
    assert got[(1, 2)] == got[(2, 2)] == got[(3, 2)] == "x"


def test_zorder_spec_quantizers_agree_and_clamp(spark, sf_dir):
    """Row-side and driver-side quantizers must agree on every value,
    including out-of-domain ones (which clamp, never wrap)."""
    from datetime import date, timedelta

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import zquant_nd, zquant_nd_cols
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec

    spec = _orders_zorder_spec(sf_dir)
    x_min = spec["cols"][0]["min"]
    epoch = date.fromisoformat(spec["cols"][1]["epoch"])
    xs = [x_min, x_min - 5.0, 1e9, 123456.78, 0.0, 250000.0]
    ys = [
        epoch,
        epoch - timedelta(days=400),  # below epoch: clamp to 0, not wrap
        epoch + timedelta(days=100000),  # beyond domain: clamp to max
        date(1997, 6, 15),
    ]
    rows = [(float(x), y.isoformat()) for x in xs for y in ys]
    df = spark.createDataFrame(rows, "o_totalprice double, d string").select(
        "o_totalprice", F.col("d").cast("timestamp").alias("o_orderdate")
    )
    xq, yq = zquant_nd_cols(spec)
    got = df.select("o_totalprice", F.col("o_orderdate").cast("date").alias("d"),
                    xq.alias("xq"), yq.alias("yq")).collect()
    for r in got:
        assert 0 <= r["xq"] <= 1023 and 0 <= r["yq"] <= 1023
        assert r["xq"] == zquant_nd(spec, 0, r["o_totalprice"]), r
        assert r["yq"] == zquant_nd(spec, 1, r["d"]), r


def test_zorder_append_compact_roundtrip(spark, sf_dir, tmp_path):
    """Append records exactly the touched cells in the commit's dirty
    set; compact folds exactly those and clears it; pre-compaction
    data files stay byte-untouched on disk (commit-log immutability —
    replaced files are only ever deleted by retention GC); no row lost
    or duplicated; the pruned scan equals a plain filter before AND
    after compaction."""
    import os
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _load_version,
        bucket_scan,
        write_zorder_table_nd,
        zorder_append,
        zorder_compact,
        zorder_pruned_scan_nd,
    )
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec
    from data_pipeline_csv_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    spec = _orders_zorder_spec(sf_dir)
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 5 == 0)
    path = str(tmp_path / "zorders")
    write_zorder_table_nd(base, spec, path)
    n_total = orders.count()

    def _box():
        lo, hi = date(1996, 1, 1), date(1998, 6, 30)
        got = zorder_pruned_scan_nd(spark, path, [(150000, 300000), (lo, hi)])
        want = orders.filter(
            (F.col("o_totalprice") >= 150000)
            & (F.col("o_totalprice") <= 300000)
            & (F.col("o_orderdate") >= F.lit(lo.isoformat()).cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit(hi.isoformat()).cast("timestamp"))
        )
        return (
            sorted(r["o_orderkey"] for r in got.collect()),
            sorted(r["o_orderkey"] for r in want.collect()),
        )

    dirty = zorder_append(incoming, path)
    assert dirty
    assert sorted(_load_version(path)[1]["dirty_buckets"]) == sorted(dirty)
    assert bucket_scan(spark, path).count() == n_total
    got, want = _box()
    assert got == want  # pruning contract exact while unsorted

    def _files():
        ddir = os.path.join(path, "data")
        return {
            f: os.path.getsize(os.path.join(ddir, f))
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        }

    before = _files()
    compacted = zorder_compact(spark, path)
    assert sorted(compacted) == sorted(dirty)
    assert _load_version(path)[1]["dirty_buckets"] == []
    after = _files()
    # immutability: compaction only ADDS files; every pre-compaction
    # file is still present byte-identical (referenced by retained
    # versions until retention GC)
    for f, sz in before.items():
        assert after.get(f) == sz, f
    assert bucket_scan(spark, path).count() == n_total
    got, want = _box()
    assert got == want
    # idempotent: nothing dirty -> no-op
    assert zorder_compact(spark, path) == []


def test_zorder_append_replay_and_crash_retry(spark, sf_dir, tmp_path, monkeypatch):
    """Idempotency + crash-safety of the commit-log zorder_append: a
    committed batch replays as a no-op; a crash AFTER the CAS but
    before the idempotency record is recovered from the commit log's
    (op, tag) match with the TRUE touched-cell set — never re-applied
    — so row counts are exact either way."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        bucket_scan,
        write_zorder_table_nd,
        zorder_append,
    )
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec
    from data_pipeline_csv_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    spec = _orders_zorder_spec(sf_dir)
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 5 == 0)
    path = str(tmp_path / "z")
    write_zorder_table_nd(base, spec, path)
    n_total = orders.count()

    # replay: same batch twice lands once
    t1 = zorder_append(incoming, path, batch_id="day-1")
    assert zorder_append(incoming, path, batch_id="day-1") == t1
    assert bucket_scan(spark, path).count() == n_total

    # crash between CAS and commit record: monkeypatch the record
    # write (os.replace) to fail for the record path only — the batch
    # IS committed at that point
    incoming2 = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    real_replace = os.replace

    def failing_replace(src, dst):
        if "_batches" in str(dst):
            raise RuntimeError("simulated crash before commit record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(RuntimeError):
        zorder_append(incoming2, path, batch_id="day-2")
    monkeypatch.setattr(os, "replace", real_replace)
    t2 = zorder_append(incoming2, path, batch_id="day-2")
    assert t2  # recovered touched cells, not a fabricated empty result
    keys = [r["o_orderkey"] for r in bucket_scan(spark, path).collect()]
    assert len(keys) == len(set(keys)) == n_total + incoming2.count()


def _zorder_mini(spark, sf_dir, tmp_path, curve="morton"):
    """80%-base bucketed layout + the held-out 20% — parametrized over
    BOTH curves (r11 VERDICT #6: the maintenance protocol and its crash
    windows are curve-independent, so the crash tests run on each)."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        write_hilbert_table_nd,
        write_zorder_table_nd,
    )
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec
    from data_pipeline_csv_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    spec = _orders_zorder_spec(sf_dir)
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 5 == 0)
    path = str(tmp_path / "z")
    if curve == "hilbert":
        write_hilbert_table_nd(base, spec, path)
    else:
        write_zorder_table_nd(base, spec, path)
    return orders, incoming, path


import pytest


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
@pytest.mark.slow
def test_zorder_compact_crash_at_cas_keeps_snapshot(
    spark, sf_dir, tmp_path, monkeypatch, curve
):
    """r14 (buckets on the commit log, replacing the retired-dir swap
    and its crash window): a compaction that crashes AT its CAS
    publishes nothing — the immediate read plans from the old commit
    and sees the exact pre-compact table with NO healing (the staged
    c*- files are invisible), the dirty set is intact, and the retry
    folds it completely."""
    import os

    import pytest as _pytest

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        _load_version,
        bucket_scan,
        zorder_append,
        zorder_compact,
    )

    orders, incoming, path = _zorder_mini(spark, sf_dir, tmp_path, curve)
    n_total = orders.count()
    dirty = zorder_append(incoming, path)
    assert dirty

    real_link = os.link

    def crash_on_link(src, dst):
        raise RuntimeError("simulated crash at commit CAS")

    monkeypatch.setattr(os, "link", crash_on_link)
    with _pytest.raises(RuntimeError):
        zorder_compact(spark, path)
    monkeypatch.setattr(os, "link", real_link)

    # nothing published: same versions, same rows, dirty set intact
    assert _list_commits(path) == [1, 2]
    keys = [r["o_orderkey"] for r in bucket_scan(spark, path).collect()]
    assert len(keys) == len(set(keys)) == n_total
    assert sorted(_load_version(path)[1]["dirty_buckets"]) == sorted(dirty)

    compacted = zorder_compact(spark, path)
    assert sorted(compacted) == sorted(dirty)
    assert _load_version(path)[1]["dirty_buckets"] == []
    keys = [r["o_orderkey"] for r in bucket_scan(spark, path).collect()]
    assert len(keys) == len(set(keys)) == n_total


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
def test_zorder_append_crash_windows_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch, curve
):
    """Append crash windows under the commit log (r14): a crash BEFORE
    the CAS leaves the batch invisible — its moved a<tag>- files are
    referenced by nothing, an intervening compaction sees no committed
    dirty cells, and the retry sweeps its own leftovers and lands the
    batch exactly once. A crash AFTER the CAS means the batch IS
    committed and visible; the retry recovers its TRUE touched-cell
    set from the commit log instead of re-appending. No duplicate rows
    either way — the r10 rollback machinery this replaces is gone
    because nothing uncommitted is ever visible to fold."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        bucket_scan,
        zorder_append,
        zorder_compact,
    )

    orders, incoming, path = _zorder_mini(spark, sf_dir, tmp_path, curve)
    n_total = orders.count()
    n_base = n_total - incoming.count()

    # (a) crash BEFORE the CAS: fail the commit hard-link once
    real_link = os.link
    monkeypatch.setattr(
        os,
        "link",
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash before commit")),
    )
    with _pytest.raises(RuntimeError):
        zorder_append(incoming, path, batch_id="day-1")
    monkeypatch.setattr(os, "link", real_link)
    assert bucket_scan(spark, path).count() == n_base  # invisible
    assert zorder_compact(spark, path) == []  # no committed dirty cells
    t1 = zorder_append(incoming, path, batch_id="day-1")
    assert t1
    keys = [r["o_orderkey"] for r in bucket_scan(spark, path).collect()]
    assert len(keys) == len(set(keys)) == n_total

    # (b) crash AFTER the CAS, before the record: committed + visible
    incoming2 = incoming.withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    real_replace = os.replace

    def failing_replace(src, dst):
        if "_batches" in str(dst):
            raise RuntimeError("simulated crash before commit record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(RuntimeError):
        zorder_append(incoming2, path, batch_id="day-2")
    monkeypatch.setattr(os, "replace", real_replace)
    assert bucket_scan(spark, path).count() == n_total + incoming2.count()
    t2 = zorder_append(incoming2, path, batch_id="day-2")  # log recovery
    assert t2
    keys = [r["o_orderkey"] for r in bucket_scan(spark, path).collect()]
    assert len(keys) == len(set(keys)) == n_total + incoming2.count()


def test_zorder_nd_covering_completeness(spark, sf_dir):
    """Brute-force pin of the n-D covering enumeration: every row
    inside the raw box quantizes (driver-side, same arithmetic) into a
    bucket the enumeration selected, and the pruned scan equals the
    plain 3-predicate filter row-for-row."""
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        read_zorder_spec,
        zorder_covering_buckets_nd,
        zorder_pruned_scan_nd,
        zquant_nd,
    )
    from data_pipeline_csv_spark.queries.maintenance import _zorder3_layout_cached
    from data_pipeline_csv_spark.sources.tables import load_table

    layout = _zorder3_layout_cached(spark, sf_dir)
    spec = read_zorder_spec(layout)
    d = len(spec["cols"])
    assert d == 3
    box = [(20000, 45000), (date(1996, 1, 1), date(1996, 12, 31)), (10, 30)]
    lo_q = [zquant_nd(spec, j, lo) for j, (lo, _) in enumerate(box)]
    hi_q = [zquant_nd(spec, j, hi) for j, (_, hi) in enumerate(box)]
    buckets = set(zorder_covering_buckets_nd(spec, lo_q, hi_q))
    assert 0 < len(buckets) < (1 << spec["prefix_bits"])

    li = load_table(spark, sf_dir, "lineitem")
    want = li.filter(
        (F.col("l_extendedprice") >= 20000)
        & (F.col("l_extendedprice") <= 45000)
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 30)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_shipdate")

    # 1. every in-box row's bucket is covered (replays zvalue_nd's
    #    interleave driver-side)
    def _bucket(price, ship, qty):
        qs = [
            zquant_nd(spec, 0, price),
            zquant_nd(spec, 1, ship.date()),
            zquant_nd(spec, 2, qty),
        ]
        z = 0
        for i in range(spec["bits"]):
            for j in range(d):
                z |= ((qs[j] >> i) & 1) << (d * i + (d - 1 - j))
        return z >> (d * spec["bits"] - spec["prefix_bits"])

    rows = want.collect()
    assert rows
    for r in rows:
        assert (
            _bucket(r["l_extendedprice"], r["l_shipdate"], r["l_quantity"]) in buckets
        )

    # 2. pruned scan == plain filter, row for row
    got = zorder_pruned_scan_nd(spark, layout, box)
    key = lambda r: (r["l_orderkey"], r["l_linenumber"])
    assert sorted(map(key, got.collect())) == sorted(map(key, rows))


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
def test_zorder_nd_append_compact_roundtrip(spark, sf_dir, tmp_path, curve):
    """Incremental maintenance generalizes with the layout AND the
    curve (r13: n-D Hilbert parity): append and dirty-bucket
    compaction run on an n-D spec through the same batch protocol —
    the spec sidecar's curve marker routes the batch along the
    layout's own curve, no curve-specific maintenance code — with the
    pruned 3-D scan exact before and after."""
    import os
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        bucket_scan,
        derive_zorder_spec_nd,
        write_hilbert_table_nd,
        write_zorder_table_nd,
        zorder_append,
        zorder_compact,
        zorder_pruned_scan_nd,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_shipdate"
    )
    spec = derive_zorder_spec_nd(
        os.path.join(sf_dir, "lineitem.parquet"),
        [("l_extendedprice", "num"), ("l_shipdate", "date"), ("l_quantity", "num")],
        bits=7,
        prefix_bits=9,
    )
    base = li.filter(F.col("l_orderkey") % 5 != 0)
    incoming = li.filter(F.col("l_orderkey") % 5 == 0)
    path = str(tmp_path / "z3")
    writer = write_zorder_table_nd if curve == "morton" else write_hilbert_table_nd
    writer(base, spec, path)
    n_total = li.count()

    box = [(20000, 45000), (date(1996, 1, 1), date(1996, 12, 31)), (10, 30)]

    def _box():
        got = zorder_pruned_scan_nd(spark, path, box)
        want = li.filter(
            (F.col("l_extendedprice") >= 20000)
            & (F.col("l_extendedprice") <= 45000)
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
        key = lambda r: (r["l_orderkey"], r["l_linenumber"])
        return sorted(map(key, got.collect())), sorted(map(key, want.collect()))

    dirty = zorder_append(incoming, path, batch_id="nd-day-1")
    assert dirty
    got, want = _box()
    assert got == want  # pruning contract exact while unsorted
    compacted = zorder_compact(spark, path)
    assert sorted(compacted) == sorted(dirty)
    assert bucket_scan(spark, path).count() == n_total
    got, want = _box()
    assert got == want
    # replay: the committed batch short-circuits
    assert zorder_append(incoming, path, batch_id="nd-day-1") == dirty
    assert bucket_scan(spark, path).count() == n_total


def _rotate_reflect_xy2d(order: int, x: int, y: int) -> int:
    """The classical iterative rotate-reflect Hilbert xy -> d (Hilbert
    1891), the numbering the 2-column curve layouts were first built
    with: the reference the shared curve code must reproduce at d=2."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:  # rotate/reflect the quadrant
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_2d_matches_rotate_reflect():
    """At d=2 the shared Hilbert walk (Skilling's transpose algorithm)
    numbers every cell exactly as the rotate-reflect xy2d does, at
    every level m = 1..6 — so a 2-column Hilbert layout keeps its
    bucket ids — and consecutive curve positions are grid NEIGHBORS
    (the Hilbert property Morton lacks)."""
    from data_pipeline_csv_spark.operators.layout import hilbert_index_nd

    for m in range(1, 7):
        n = 1 << m
        cell_at = {}
        for x in range(n):
            for y in range(n):
                h = hilbert_index_nd(m, [x, y])
                assert h == _rotate_reflect_xy2d(m, x, y), (m, x, y)
                cell_at[h] = (x, y)
        assert sorted(cell_at) == list(range(n * n))
        for h in range(n * n - 1):
            (x0, y0), (x1, y1) = cell_at[h], cell_at[h + 1]
            assert abs(x1 - x0) + abs(y1 - y0) == 1, (m, h)


def test_orders_box_covering_buckets_pinned(sf_dir):
    """The covering cells of the registered orders box
    (layout_zorder_pruned_scan and its three siblings) on the orders
    spec, for both curves: the literals the 2-column layouts produced
    before they became the d=2 case of the shared curve code."""
    from datetime import date

    from data_pipeline_csv_spark.operators.layout import (
        hilbert_covering_buckets_nd,
        zorder_covering_buckets_nd,
        zquant_nd,
    )
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec

    spec = _orders_zorder_spec(sf_dir)
    assert (spec["bits"], spec["prefix_bits"]) == (10, 8)
    box = [(200000, 250000), (date(1997, 1, 1), date(1997, 12, 31))]
    lo_q = [zquant_nd(spec, j, lo) for j, (lo, _) in enumerate(box)]
    hi_q = [zquant_nd(spec, j, hi) for j, (_, hi) in enumerate(box)]
    assert zorder_covering_buckets_nd(spec, lo_q, hi_q) == [45, 47, 56, 57, 58, 59]
    hilbert = {**spec, "curve": "hilbert"}
    assert hilbert_covering_buckets_nd(hilbert, lo_q, hi_q) == [26, 27, 36, 37, 38, 39]


def test_hilbert_layout_scan_and_maintenance(spark, sf_dir, tmp_path):
    """Hilbert layout end to end: pruned scan equals the plain filter;
    append + dirty-bucket compaction route with the layout's own curve
    (the spec-sidecar dispatch); the covering bucket-id set has the
    same CELL count as Morton but fewer contiguous runs."""
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        bucket_scan,
        hilbert_covering_buckets_nd,
        read_zorder_spec,
        write_hilbert_table_nd,
        zorder_append,
        zorder_compact,
        zorder_covering_buckets_nd,
        zorder_pruned_scan_nd,
        zquant_nd,
    )
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec
    from data_pipeline_csv_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    spec = _orders_zorder_spec(sf_dir)
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    incoming = orders.filter(F.col("o_orderkey") % 5 == 0)
    path = str(tmp_path / "hilb")
    write_hilbert_table_nd(base, spec, path)
    assert read_zorder_spec(path)["curve"] == "hilbert"
    n_total = orders.count()

    lo, hi = date(1996, 1, 1), date(1998, 6, 30)

    def _box(src):
        got = zorder_pruned_scan_nd(spark, path, [(150000, 300000), (lo, hi)])
        want = src.filter(
            (F.col("o_totalprice") >= 150000)
            & (F.col("o_totalprice") <= 300000)
            & (F.col("o_orderdate") >= F.lit(lo.isoformat()).cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit(hi.isoformat()).cast("timestamp"))
        )
        return (
            sorted(r["o_orderkey"] for r in got.collect()),
            sorted(r["o_orderkey"] for r in want.collect()),
        )

    got, want = _box(base)
    assert got == want and got

    # maintenance dispatches on the curve marker
    dirty = zorder_append(incoming, path, batch_id="h-day-1")
    assert dirty
    got, want = _box(orders)
    assert got == want
    compacted = zorder_compact(spark, path)
    assert sorted(compacted) == sorted(dirty)
    assert bucket_scan(spark, path).count() == n_total
    got, want = _box(orders)
    assert got == want

    # contiguity: same covering-cell count, fewer or equal id runs
    sp = read_zorder_spec(path)
    lo_q = [zquant_nd(sp, 0, 150000), zquant_nd(sp, 1, lo)]
    hi_q = [zquant_nd(sp, 0, 300000), zquant_nd(sp, 1, hi)]
    hb = hilbert_covering_buckets_nd(sp, lo_q, hi_q)
    mb = sorted(zorder_covering_buckets_nd(sp, lo_q, hi_q))
    assert len(hb) == len(mb)

    def runs(xs):
        return 1 + sum(1 for a, b in zip(xs, xs[1:]) if b != a + 1)

    assert runs(hb) <= runs(mb)


def test_stats_skipping_nulls_and_equality(spark, tmp_path):
    """write_stats_layout + stats_pruned_scan on a constructed frame:
    (a) results equal the plain filter exactly, including when some
    files mix nulls with values; (b) a file whose skip column is
    ALL-null gets null manifest stats and is skipped — correct, since
    a range predicate never matches NULL; (c) a predicate on a column
    without manifest stats fails fast."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_pruned_scan,
        write_stats_layout,
    )

    rows = [(i, None if i < 40 else i * 10, f"p{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long, payload string")
    path = str(tmp_path / "skiptab")
    write_stats_layout(df, path, ["v"], n_files=8)

    got, files = stats_pruned_scan(
        spark, path, {"v": (500, 900)}, return_files=True
    )
    want = df.filter((F.col("v") >= 500) & (F.col("v") <= 900))
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )
    # nulls range-partition first, so at least one of the 8 files is
    # all-null in v and must never be planned; the 40-null frame spans
    # >1 file of 200/8=25 rows
    manifest = spark.read.parquet(f"{path}/_manifests")
    n_allnull = manifest.filter(F.col("min_v").isNull()).count()
    assert n_allnull >= 1
    assert len(files) < manifest.count()

    # open-ended bounds
    got_lo = stats_pruned_scan(spark, path, {"v": (1900, None)})
    assert sorted(r["id"] for r in got_lo.collect()) == sorted(
        r["id"] for r in df.filter(F.col("v") >= 1900).collect()
    )

    # empty intersection -> empty result, no files read
    got_none, files_none = stats_pruned_scan(
        spark, path, {"v": (10**9, None)}, return_files=True
    )
    assert files_none == [] and got_none.count() == 0

    with pytest.raises(ValueError, match="no manifest stats"):
        stats_pruned_scan(spark, path, {"payload": ("a", "b")})


def test_stats_append_replay_and_crash_retry(spark, tmp_path, monkeypatch):
    """stats_append's exactly-once protocol on the commit log (r13):
    (a) a committed replay short-circuits (no new files, no duplicate
    rows); (b) a crash BEFORE the CAS leaves readers on the exact
    pre-batch table (nothing references the staged files), and the
    retry sweeps its own prefixed leftovers and completes without
    duplicates; (c) a crash AFTER the CAS but before the idempotency
    record is recovered from the commit log's (op, tag) match — the
    retry rolls the record forward and never re-appends (r12 ADVICE
    #3's return-value fix, applied to every op)."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    batch = spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    path = str(tmp_path / "skipapp")
    write_stats_layout(base, path, ["v"], n_files=8)
    all_rows = lambda: sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    want_base = sorted(r["id"] for r in base.collect())
    want_all = sorted(r["id"] for r in base.unionByName(batch).collect())

    # (b) crash while moving the batch's MANIFEST part into the pool:
    # pre-CAS, so the batch is invisible
    real_rename = os.rename

    def crash_on_manifest(src, dst):
        if "_manifests" in dst and os.path.basename(dst).startswith("ab1-"):
            raise RuntimeError("simulated crash before manifest part")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_manifest)
    try:
        stats_append(batch, path, batch_id="b1")
        assert False, "expected simulated crash"
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "rename", real_rename)
    # data files moved, no commit: readers must still see the exact
    # pre-batch table
    assert all_rows() == want_base
    # retry completes; batch visible exactly once
    stats_append(batch, path, batch_id="b1")
    assert all_rows() == want_all

    # (a) committed replay: same return, no growth
    n_files_before = len(os.listdir(f"{path}/data"))
    again = stats_append(batch, path, batch_id="b1")
    assert len(os.listdir(f"{path}/data")) == n_files_before
    assert all_rows() == want_all and again

    # (c) crash AFTER the CAS, before the _batches record: the batch
    # is committed (visible); the retry must find its own commit in
    # the log and roll the record forward instead of re-appending
    batch2 = spark.range(2000, 2050).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    )
    real_replace = os.replace

    def crash_on_record(src, dst):
        if "_batches" in dst:
            raise RuntimeError("simulated crash before idempotency record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_record)
    try:
        stats_append(batch2, path, batch_id="b2")
        assert False, "expected simulated crash"
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)
    want_all2 = sorted(
        r["id"] for r in base.unionByName(batch).unionByName(batch2).collect()
    )
    assert all_rows() == want_all2  # committed: already visible
    assert not os.path.exists(f"{path}/_batches/b2")
    n_files_before = len(os.listdir(f"{path}/data"))
    got = stats_append(batch2, path, batch_id="b2")
    assert got  # the TRUE file list, recovered from the commit payload
    assert len(os.listdir(f"{path}/data")) == n_files_before  # no redo
    assert os.path.exists(f"{path}/_batches/b2")
    assert all_rows() == want_all2


def test_stats_compact_crash_windows_and_versions(spark, tmp_path, monkeypatch):
    """stats_compact on the commit log: readers see either the exact
    old version or the exact new one at every crash point, with NO
    healing anywhere — visibility is the CAS. Windows: (a) crash
    before the CAS (moving the consolidated manifest part) -> old
    version governs, orphans invisible, vacuum collects them, retry
    compacts; (b) crash AT the CAS (os.link) -> same; (c) after the
    CAS the new version governs immediately, and the replaced small
    files are NOT deleted — they stay readable via time travel until
    retention expires them."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        stats_append,
        stats_compact,
        stats_pruned_scan,
        stats_vacuum,
        write_stats_layout,
    )

    base = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    b1 = spark.range(5000, 5200).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "sc")
    write_stats_layout(base, path, ["v"], n_files=8)
    stats_append(b1, path, batch_id="x1")
    want = sorted(r["id"] for r in base.unionByName(b1).collect())
    rows = lambda: sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    n_data = lambda: len(
        [f for f in os.listdir(f"{path}/data") if f.endswith(".parquet")]
    )

    # (a) crash before the CAS: moving the rewrite's manifest part
    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_manifests" in dst and os.path.basename(dst).startswith("c"):
            raise RuntimeError("simulated crash before manifest part")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    try:
        stats_compact(spark, path, target_rows=400)
        assert False, "expected simulated crash"
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "rename", real_rename)
    assert rows() == want  # old version governs; orphans invisible
    assert _list_commits(path) == [1, 2]
    with_orphans = n_data()
    assert stats_vacuum(spark, path, grace_seconds=0)["data_files"] > 0
    assert n_data() < with_orphans
    assert rows() == want

    # (b) crash AT the CAS itself
    real_link = os.link

    def crash_on_link(src, dst):
        raise RuntimeError("simulated crash at commit CAS")

    monkeypatch.setattr(os, "link", crash_on_link)
    try:
        stats_compact(spark, path, target_rows=400)
        assert False, "expected simulated crash"
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "link", real_link)
    assert rows() == want and _list_commits(path) == [1, 2]

    # (c) a clean compact commits a new version; the replaced files
    # survive for time travel until retention expires them
    before = n_data()
    new_files = stats_compact(spark, path, target_rows=400)
    assert new_files and rows() == want
    assert _list_commits(path) == [1, 2, 3]
    assert n_data() >= before  # old files retained, not GC'd in-op
    pre_compact = sorted(
        r["id"]
        for r in stats_pruned_scan(
            spark, path, {"v": (None, None)}, version=2
        ).collect()
    )
    assert pre_compact == want


def test_stats_concurrent_appends(spark, tmp_path):
    """MULTI-WRITER (r13 VERDICT #2): two appenders racing the same
    layout both land — the hard-link CAS serializes them, the loser
    re-points its part list at the winner's commit and retries, and
    no update is lost. The final table is the exact union; the commit
    log advanced by exactly two versions."""
    import threading

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        stats_append,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "conc")
    write_stats_layout(base, path, ["id"], n_files=4)
    b1 = spark.range(1000, 1080).select(F.col("id"), (F.col("id") * 3).alias("v"))
    b2 = spark.range(2000, 2060).select(F.col("id"), (F.col("id") * 3).alias("v"))

    errs = []

    def run(df, bid):
        try:
            stats_append(df, path, batch_id=bid)
        except Exception as e:  # pragma: no cover - the assertion below reports
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(b1, "w1")),
        threading.Thread(target=run, args=(b2, "w2")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"id": (None, None)}).collect()
    )
    want = sorted(
        r["id"] for r in base.unionByName(b1).unionByName(b2).collect()
    )
    assert got == want  # both batches landed, nothing lost
    assert _list_commits(path)[-1] == 3  # init + two appends


def test_stats_append_accepts_non_null_nested_fields(spark, tmp_path):
    """A batch whose array elements are non-null (as ``F.array`` builds
    them) appends into a layout made from the same kind of frame. The
    committed schema and the batch's are compared with every nested
    field nullable, as Spark reads the written files back; comparing
    the batch's nested non-null type against it raised a type
    mismatch."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_pruned_scan,
        write_stats_layout,
    )

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("v"), F.array(F.col("id").cast("double")).alias("arr")
        )

    path = str(tmp_path / "nested")
    write_stats_layout(frame(0, 100), path, ["v"], n_files=2)
    stats_append(frame(100, 150), path)
    got = stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    assert sorted((r["v"], list(r["arr"])) for r in got) == [
        (i, [float(i)]) for i in range(150)
    ]


def test_stats_rewrite_replans_after_lost_cas(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency serializability: a DELETE that loses its
    CAS race to a concurrent append must RE-PLAN against the winner's
    table — its staged manifest part snapshots a stale file set. The
    conflict is injected deterministically: the moment the delete
    first attempts its CAS, a competing append commits first. The
    delete's predicate covers the sneaked-in rows, so only a true
    re-plan produces the right answer (stale-plan execution would
    leave them alive)."""
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    base = spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    sneak = spark.range(1000, 1020).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "race")
    L.write_stats_layout(base, path, ["v"], n_files=4)

    real_cas = L._cas_commit
    state = {"fired": False}

    def contended(p, v, payload):
        if payload["op"] == "delete" and not state["fired"]:
            state["fired"] = True
            L.stats_append(sneak, p, batch_id="sneak")  # takes version v
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    # v >= 600 covers base ids 200..299 (so the first plan has work
    # and reaches the CAS) AND the whole sneaked batch (v 3000..3057)
    replaced = L.stats_delete(spark, path, {"v": (600, None)}, batch_id="rp")
    monkeypatch.setattr(L, "_cas_commit", real_cas)
    assert state["fired"] and replaced  # the conflict actually happened
    # the re-plan saw the sneaked files: at least one replaced file is
    # the sneak append's
    assert any("asneak-" in f for f in replaced)
    got = sorted(
        r["id"]
        for r in L.stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    assert got == list(range(200))  # base tail AND sneak rows deleted
    assert L._list_commits(path)[-1] == 3  # init, sneak append, delete


def test_stats_timetravel_and_retention(spark, tmp_path):
    """VERSION AS OF (r13 VERDICT #3): every retained version is
    readable by number and equals the table as of that commit; a
    version beyond retention fails with an explicit 'expired' error, a
    future version with 'does not exist'; retention GC actually
    deletes the expired versions' exclusive files."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        stats_append,
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 200).select(F.col("id"), (F.col("id") * 3).alias("v"))
    batch = spark.range(1000, 1050).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "tt")
    write_stats_layout(base, path, ["id"], n_files=4)
    stats_append(batch, path, batch_id="tb")
    stats_delete(spark, path, {"id": (0, 49)}, batch_id="td")

    def ids(version=None):
        return sorted(
            r["id"]
            for r in stats_pruned_scan(
                spark, path, {"id": (None, None)}, version=version
            ).collect()
        )

    want_v1 = list(range(200))
    want_v2 = sorted(want_v1 + list(range(1000, 1050)))
    want_v3 = sorted(i for i in want_v2 if i >= 50)
    assert ids(version=1) == want_v1
    assert ids(version=2) == want_v2
    assert ids(version=3) == want_v3 and ids() == want_v3

    with _pytest.raises(ValueError, match="does not exist"):
        ids(version=99)

    # drive the log past retention with tight keep_versions: the old
    # versions expire and their exclusive files are really deleted
    n_before = len(os.listdir(f"{path}/data"))
    for i in range(4):
        stats_append(
            spark.range(5000 + 10 * i, 5005 + 10 * i).select(
                F.col("id"), (F.col("id") * 3).alias("v")
            ),
            path,
            batch_id=f"k{i}",
            keep_versions=2,
        )
    vs = _list_commits(path)
    assert vs[-1] == 7 and vs[0] >= 6  # only the retention window remains
    with _pytest.raises(ValueError, match="expired"):
        ids(version=2)
    # the delete's replaced files expired with their versions: each
    # append adds at most 4 files, so anything below the no-GC ceiling
    # proves real deletion
    assert len(os.listdir(f"{path}/data")) < n_before + 16
    assert ids() == sorted(want_v3 + [i for b in range(4) for i in range(5000 + 10 * b, 5005 + 10 * b)])


def test_stats_snapshot_isolation_reader_vs_compaction(spark, tmp_path):
    """The r11 reader-vs-live-compaction window, closed by construction
    (r13): a scan plans its file list from one commit record; a
    compaction then rewrites the table and commits — and the pinned
    plan still collects the exact rows it planned, because nothing a
    retained version references is deleted until retention expires it.
    No healing, no retries, no .retired dirs anywhere."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_compact,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 600).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "si")
    write_stats_layout(base, path, ["v"], n_files=6)
    stats_append(
        spark.range(3000, 3150).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="hb1",
    )
    want = sorted(list(range(600)) + list(range(3000, 3150)))

    # pin a plan, then compact underneath it (plus an append, so GC runs)
    pinned = stats_pruned_scan(spark, path, {"v": (None, None)})
    assert stats_compact(spark, path, target_rows=400)
    stats_append(
        spark.range(7000, 7010).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="hb2",
    )
    assert sorted(r["id"] for r in pinned.collect()) == want  # pre-compaction plan intact
    got = sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    assert got == sorted(want + list(range(7000, 7010)))
    assert not [d for d in os.listdir(path) if d.endswith(".retired")]


def test_stats_vacuum_orphans_and_grace(spark, tmp_path):
    """stats_vacuum is the multi-writer orphan catch-all (r13): it
    removes data files and manifest parts referenced by NO retained
    commit, dead staging dirs and torn CAS/record tmps — but ONLY past
    the grace age, so a live concurrent writer's staged-but-uncommitted
    artifacts are never stolen. Live table state is never touched."""
    import os
    import time

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_pruned_scan,
        stats_vacuum,
        write_stats_layout,
    )

    base = spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "vac")
    write_stats_layout(base, path, ["v"], n_files=4)
    stats_append(
        spark.range(900, 950).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="e7",
    )
    want = sorted(list(range(300)) + list(range(900, 950)))
    rows = lambda: sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )

    # plant orphans: an abandoned attempt's data file + pool part,
    # a dead staging dir, a torn CAS tmp and a torn record tmp
    orphan_data = f"{path}/data/aXdead-part-0.parquet"
    orphan_part = f"{path}/_manifests/aXdead-cafe.parquet"
    open(orphan_data, "w").write("x")
    open(orphan_part, "w").write("x")
    os.makedirs(f"{path}/_staging/append-dead/data", exist_ok=True)
    open(f"{path}/_commits/.tmp-dead", "w").write('{"op": "appe')
    open(f"{path}/_batches/e9.tmp-abc", "w").write("{")
    os.makedirs(f"{path}/_clusters", exist_ok=True)
    open(f"{path}/_clusters/zX.tmp-dead", "w").write("{")

    # young orphans survive a graced vacuum (a live writer looks
    # exactly like this)
    removed = stats_vacuum(spark, path, grace_seconds=3600)
    assert os.path.exists(orphan_data) and os.path.exists(orphan_part)
    assert removed["data_files"] == 0 and removed["manifest_parts"] == 0

    # age them past the grace and vacuum again: all collected
    old = time.time() - 7200
    for p in (
        orphan_data,
        orphan_part,
        f"{path}/_staging/append-dead",
        f"{path}/_commits/.tmp-dead",
        f"{path}/_batches/e9.tmp-abc",
        f"{path}/_clusters/zX.tmp-dead",
    ):
        os.utime(p, (old, old))
    removed = stats_vacuum(spark, path, grace_seconds=3600)
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_part)
    assert not os.path.exists(f"{path}/_staging/append-dead")
    assert not os.path.exists(f"{path}/_commits/.tmp-dead")
    assert not os.path.exists(f"{path}/_batches/e9.tmp-abc")
    assert not os.path.exists(f"{path}/_clusters/zX.tmp-dead")
    assert removed["data_files"] == 1 and removed["manifest_parts"] == 1
    # live state untouched, committed record intact
    assert rows() == want
    assert os.path.exists(f"{path}/_batches/e7")


def test_stats_schema_evolution(spark, tmp_path):
    """Schema evolution on the stats layout (r13 VERDICT #5): an
    appended batch may carry a NEW column — the committed data schema
    widens, old files backfill NULL under the explicit-schema read,
    and ``new_skip_cols`` gives the new column manifest stats from
    this part on (older parts read NULL stats = never prunable, which
    is exact: files that predate the column hold only NULLs there and
    a range predicate never matches NULL). Later batches from OLD
    producers may symmetrically omit evolved skip columns. Type
    conflicts fail fast."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 200).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "evo")
    write_stats_layout(base, path, ["id"], n_files=4)

    evolved = spark.range(1000, 1060).select(
        F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 7).alias("w")
    )
    stats_append(evolved, path, batch_id="ev1", new_skip_cols=["w"])

    full = stats_pruned_scan(spark, path, {"id": (None, None)})
    assert "w" in full.columns
    assert full.count() == 260
    assert full.filter((F.col("id") < 1000) & F.col("w").isNotNull()).count() == 0

    # predicate on the evolved column: old files are skipped via NULL
    # stats, and only matching rows return
    got, files = stats_pruned_scan(spark, path, {"w": (3, 3)}, return_files=True)
    want_w = sorted(i for i in range(1000, 1060) if i % 7 == 3)
    assert sorted(r["id"] for r in got.collect()) == want_w
    assert all("aev1-" in f for f in files)  # only the evolved batch's files

    # an OLD producer's batch (no w) still appends; its files carry no
    # w stats and never match a w predicate
    legacy = spark.range(2000, 2020).select(F.col("id"), (F.col("id") * 3).alias("v"))
    stats_append(legacy, path, batch_id="old1")
    got2 = stats_pruned_scan(spark, path, {"w": (3, 3)})
    assert sorted(r["id"] for r in got2.collect()) == want_w
    assert stats_pruned_scan(spark, path, {"id": (None, None)}).count() == 280

    # row-level ops work across the evolution boundary: delete on the
    # evolved column touches only evolved files, keeps NULL-w rows
    stats_delete(spark, path, {"w": (0, 2)}, batch_id="dw")
    left = stats_pruned_scan(spark, path, {"id": (None, None)})
    assert left.filter(F.col("id") < 1000).count() == 200
    assert left.filter((F.col("id") >= 1000) & (F.col("id") < 1060)).count() == sum(
        1 for i in range(1000, 1060) if i % 7 > 2
    )

    # type conflict fails fast
    clash = spark.range(0, 5).select(
        F.col("id"), (F.col("id") * 3).alias("v"), F.lit("oops").alias("w")
    )
    with _pytest.raises(ValueError, match="string"):
        stats_append(clash, path, batch_id="clash")


def test_bucket_concurrent_appends(spark, sf_dir, tmp_path):
    """MULTI-WRITER buckets (r14 — the property the retired-swap
    protocol excluded by its single-maintenance-writer assumption):
    two appenders racing one bucket layout both land through the
    hard-link CAS, the final table is the exact union, the commit log
    advanced by exactly two, and the dirty set is the union of both
    batches' touched cells."""
    import threading

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        _load_version,
        bucket_scan,
        zorder_append,
    )

    orders, incoming, path = _zorder_mini(spark, sf_dir, tmp_path)
    b1 = incoming.filter(F.col("o_orderkey") % 2 == 0)
    b2 = incoming.filter(F.col("o_orderkey") % 2 != 0)
    errs, touched = [], {}

    def run(df, bid):
        try:
            touched[bid] = zorder_append(df, path, batch_id=bid)
        except Exception as e:  # pragma: no cover - reported below
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(b1, "w1")),
        threading.Thread(target=run, args=(b2, "w2")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(r["o_orderkey"] for r in bucket_scan(spark, path).collect())
    want = sorted(r["o_orderkey"] for r in orders.collect())
    assert got == want  # both batches landed, nothing lost
    assert _list_commits(path)[-1] == 3  # init + two appends
    assert set(_load_version(path)[1]["dirty_buckets"]) == set(
        touched["w1"]
    ) | set(touched["w2"])


def test_bucket_timetravel_restore_and_history(spark, sf_dir, tmp_path):
    """The bucket layouts INHERIT the commit-log versioning surface
    (r14): VERSION AS OF on the pruned scan, DESCRIBE HISTORY and
    RESTORE TABLE all work on a bucket table with ZERO bucket-specific
    code — the payload shape is shared with the stats layout, and the
    spec/dirty-set keys flow through the restore commit."""
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        bucket_scan,
        read_zorder_spec,
        stats_history,
        stats_restore,
        zorder_append,
        zorder_pruned_scan_nd,
    )

    orders, incoming, path = _zorder_mini(spark, sf_dir, tmp_path)
    base = orders.join(incoming, "o_orderkey", "left_anti")
    n_base = base.count()
    zorder_append(incoming, path, batch_id="tt-1")

    lo, hi = date(1996, 1, 1), date(1998, 6, 30)

    def box_keys(version=None):
        return sorted(
            r["o_orderkey"]
            for r in zorder_pruned_scan_nd(
                spark, path, [(150000, 300000), (lo, hi)], version=version
            ).collect()
        )

    def want_keys(src):
        return sorted(
            r["o_orderkey"]
            for r in src.filter(
                (F.col("o_totalprice") >= 150000)
                & (F.col("o_totalprice") <= 300000)
                & (F.col("o_orderdate") >= F.lit(lo.isoformat()).cast("timestamp"))
                & (F.col("o_orderdate") <= F.lit(hi.isoformat()).cast("timestamp"))
            ).collect()
        )

    assert box_keys(version=1) == want_keys(base)  # time travel
    assert box_keys() == want_keys(orders)
    hist = {r["version"]: r["op"] for r in stats_history(spark, path).collect()}
    assert hist == {1: "init", 2: "append"}

    out = stats_restore(spark, path, 1, batch_id="tt-restore")
    assert out == {"restored_from": 1, "version": 3}
    assert bucket_scan(spark, path).count() == n_base  # append undone
    assert box_keys() == want_keys(base)
    # the spec flowed through the metadata-only restore commit
    assert read_zorder_spec(path)["cols"][0]["name"] == "o_totalprice"


def test_bucket_snapshot_isolation_reader_vs_compaction(spark, sf_dir, tmp_path):
    """A pinned bucket scan survives a concurrent compaction (r14 —
    what heal-on-read plus the read grace only ever approximated, now
    structural): the DataFrame plans from its commit's immutable file
    list; compaction adds files and a new commit but deletes nothing
    within retention, so the pinned plan collects exactly its
    version's rows AFTER the compaction rewrote the table."""
    from datetime import date

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        zorder_append,
        zorder_compact,
        zorder_pruned_scan_nd,
    )

    orders, incoming, path = _zorder_mini(spark, sf_dir, tmp_path)
    dirty = zorder_append(incoming, path)
    lo, hi = date(1996, 1, 1), date(1998, 6, 30)
    pinned = zorder_pruned_scan_nd(spark, path, [(150000, 300000), (lo, hi)])  # v2
    want = sorted(
        r["o_orderkey"]
        for r in orders.filter(
            (F.col("o_totalprice") >= 150000)
            & (F.col("o_totalprice") <= 300000)
            & (F.col("o_orderdate") >= F.lit(lo.isoformat()).cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit(hi.isoformat()).cast("timestamp"))
        ).collect()
    )
    compacted = zorder_compact(spark, path)
    assert sorted(compacted) == sorted(dirty)
    got = sorted(r["o_orderkey"] for r in pinned.collect())  # post-compact
    assert got == want


def test_stats_delete_crash_windows_and_replay(spark, tmp_path, monkeypatch):
    """stats_delete on the commit log (r13): manifest-planned
    copy-on-write delete — at EVERY crash point readers see the exact
    pre-delete or exact post-delete table, with no healing. Windows:
    (a) crash after the d-files move in, before the CAS -> readers on
    the old table (nothing references the orphans), retry sweeps its
    own tag and completes; (b) crash AT the CAS -> same; (c) crash
    AFTER the CAS, before the _deletes record -> the new version
    governs immediately, and the retry recovers the TRUE replaced list
    from the commit log instead of committing an empty one (r12 ADVICE
    #3, fixed structurally). Plus: committed-replay short-circuit,
    NULL predicate columns kept, no-match fast path, and a fully-
    matching file dropped without an empty rewrite."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    nulls = spark.sql("SELECT CAST(9001 AS BIGINT) AS id, CAST(NULL AS BIGINT) AS v")
    path = str(tmp_path / "sd")
    write_stats_layout(base.unionByName(nulls), path, ["v"], n_files=8)
    rows = lambda: sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    # (None, None) builds no predicate, so every row incl. null-v passes
    all_ids = sorted(list(range(1000)) + [9001])
    assert rows() == all_ids

    # delete ids 100..199 (v in [300, 597]); null-v row must survive
    want = sorted(i for i in all_ids if not (100 <= i <= 199))

    # (a) crash while the rewrite's manifest part moves in (pre-CAS)
    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_manifests" in dst and os.path.basename(dst).startswith("d"):
            raise RuntimeError("simulated crash before manifest part")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with _pytest.raises(RuntimeError):
        stats_delete(spark, path, {"v": (300, 597)}, batch_id="purge-1")
    monkeypatch.setattr(os, "rename", real_rename)
    assert rows() == all_ids  # no commit: d-files invisible
    replaced = stats_delete(spark, path, {"v": (300, 597)}, batch_id="purge-1")
    assert replaced and rows() == want
    n_files_after = len(os.listdir(f"{path}/data"))

    # committed replay: byte-level no-op
    assert stats_delete(spark, path, {"v": (300, 597)}, batch_id="purge-1") == replaced
    assert len(os.listdir(f"{path}/data")) == n_files_after
    assert rows() == want

    # (b) crash AT the CAS: still the exact pre-delete table
    real_link = os.link
    monkeypatch.setattr(
        os, "link", lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS"))
    )
    with _pytest.raises(RuntimeError):
        stats_delete(spark, path, {"v": (600, 897)}, batch_id="purge-2")
    monkeypatch.setattr(os, "link", real_link)
    assert rows() == want  # nothing committed
    want2 = sorted(i for i in want if not (200 <= i <= 299))
    stats_delete(spark, path, {"v": (600, 897)}, batch_id="purge-2")
    assert rows() == want2

    # (c) crash AFTER the CAS, before the _deletes record: committed —
    # the retry must return the TRUE replaced list from the commit log
    real_replace = os.replace

    def crash_on_record(src, dst):
        if "_deletes" in dst:
            raise RuntimeError("simulated crash before record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_record)
    with _pytest.raises(RuntimeError):
        stats_delete(spark, path, {"v": (900, 1197)}, batch_id="purge_3")
    monkeypatch.setattr(os, "replace", real_replace)
    want3 = sorted(i for i in want2 if not (300 <= i <= 399))
    assert rows() == want3  # post-delete table governs
    assert not os.path.exists(f"{path}/_deletes/purge_3")
    again = stats_delete(spark, path, {"v": (900, 1197)}, batch_id="purge_3")
    assert again  # the true replaced list, not [] (r12 ADVICE #3)
    assert rows() == want3
    assert os.path.exists(f"{path}/_deletes/purge_3")

    # no-match fast path: manifest proves nothing can match
    assert stats_delete(spark, path, {"v": (10**9, 2 * 10**9)}, batch_id="nop") == []
    assert rows() == want3

    # delete EVERYTHING: every file fully matches, no empty rewrites,
    # only the null-v row (range predicates never match NULL) survives
    stats_delete(spark, path, {"v": (0, 10**9)}, batch_id="all")
    assert rows() == [9001]


def test_footer_manifest_rows_equal_the_aggregate(spark, tmp_path):
    """The manifest rows a rewrite or append takes from the footers of
    the files it wrote equal the _manifest_rows aggregate over those
    files: long, int, date and string skip columns with nulls, an
    all-null column and several row groups per file are read from the
    footer; a timestamp, a decimal and a 5,000-char string column
    (parquet-mr keeps no stats for a value over 4 KB) make the file
    take the aggregate, with the same rows."""
    import os

    import pyarrow.parquet as pq

    from data_pipeline_csv_spark.operators.layout import (
        _arrow_manifest,
        _footer_row,
        _manifest_rows,
        _manifest_struct,
        _new_file_rows,
        _nullable_schema,
    )

    def nulled(expr, every):
        return F.when(F.col("id") % every == 0, F.lit(None)).otherwise(F.expr(expr))

    df = spark.range(0, 6000).select(
        F.col("id"),
        nulled("cast(id * 7 % 1000 as int)", 11).alias("i"),
        nulled("date_add(date'2020-01-01', cast(id % 400 as int))", 13).alias("d"),
        nulled("concat('k', cast(id * 31 % 977 as string))", 17).alias("s"),
        F.lit(None).cast("bigint").alias("n"),
        nulled("timestamp_seconds(id * 3600)", 19).alias("t"),
        nulled("cast(id / 7 as decimal(12, 3))", 23).alias("dc"),
        nulled("repeat(cast(id % 10 as string), 5000)", 29).alias("big"),
    )
    out = str(tmp_path / "data")
    (
        df.repartition(3, "id")
        .sortWithinPartitions("id")
        .write.option("parquet.block.size", 16 * 1024)
        .parquet(out)
    )
    files = sorted(fn for fn in os.listdir(out) if fn.endswith(".parquet"))
    assert len(files) == 3
    assert all(pq.read_metadata(os.path.join(out, f)).num_row_groups > 1 for f in files)
    schema = _nullable_schema(df.schema)
    types = {f.name: f.dataType for f in schema.fields}

    def aggregate(cols):
        agg = _manifest_rows(spark.read.schema(schema).parquet(out), cols)
        return sorted(
            _arrow_manifest(agg.toArrow(), _manifest_struct(schema, cols)).to_pylist(),
            key=lambda r: r["file"],
        )

    def from_footers(cols):
        got = _new_file_rows(spark, schema, out, files, cols)
        assert got.schema.names == _manifest_struct(schema, cols).names
        return sorted(got.to_pylist(), key=lambda r: r["file"])

    exact = ["id", "i", "d", "s", "n"]
    for f in files:
        assert _footer_row(os.path.join(out, f), {c: types[c] for c in exact})
    want = aggregate(exact)
    assert from_footers(exact) == want
    assert any(r["min_s"] is not None for r in want)
    assert all(r["min_n"] is None and r["max_n"] is None for r in want)
    for c in ["t", "dc", "big"]:
        for f in files:
            assert _footer_row(os.path.join(out, f), {c: types[c]}) is None
        assert from_footers(exact + [c]) == aggregate(exact + [c])


def test_manifest_part_is_no_larger_than_a_spark_part(spark, sf_dir, tmp_path):
    """A 4-file manifest part written on the driver keeps min/max
    statistics for every column but ``file`` (whose long URIs would
    otherwise be stored twice more), so it is no larger than the same
    rows written by Spark's one-file part writer."""
    import glob
    import os

    import pyarrow.parquet as pq

    from data_pipeline_csv_spark.operators.layout import write_stats_layout
    from data_pipeline_csv_spark.sources.tables import load_table

    lay = str(tmp_path / "lay")
    orders = load_table(spark, sf_dir, "orders")
    write_stats_layout(orders, lay, ["o_orderkey"], n_files=4)
    [part] = glob.glob(os.path.join(lay, "_manifests", "*.parquet"))
    meta = pq.read_metadata(part)
    assert meta.num_rows == 4
    stats = {
        meta.schema.column(i).name: meta.row_group(0).column(i).is_stats_set
        for i in range(meta.num_columns)
    }
    assert stats == {
        "file": False, "n_rows": True, "min_o_orderkey": True, "max_o_orderkey": True
    }
    sp = str(tmp_path / "spark_part")
    spark.read.parquet(part).coalesce(1).write.parquet(sp)
    [spark_part] = glob.glob(os.path.join(sp, "part-*.parquet"))
    assert os.path.getsize(part) <= os.path.getsize(spark_part)


def test_stats_delete_of_whole_files_publishes_no_file(spark, tmp_path):
    """A stats_delete that removes every row of the files it hits
    counts zero kept rows inside its write job and publishes nothing:
    the commit's new_files is empty, the hit file leaves the manifest,
    and the data dir holds no empty parquet file."""
    import os

    import pyarrow.parquet as pq

    from data_pipeline_csv_spark.operators.layout import (
        _load_version,
        _read_manifest,
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    path = str(tmp_path / "sdz")
    write_stats_layout(spark.range(0, 400).select("id"), path, ["id"], n_files=4)
    _, cur = _load_version(path)
    man = _read_manifest(spark, path, cur).orderBy("min_id").collect()
    lo, hi = man[1]["min_id"], man[1]["max_id"]
    replaced = stats_delete(spark, path, {"id": (lo, hi)}, batch_id="z1")
    assert replaced == [os.path.basename(man[1]["file"])]
    _, head = _load_version(path)
    assert head["op"] == "delete" and head["new_files"] == []
    assert len(_read_manifest(spark, path, head).collect()) == 3
    data = os.path.join(path, "data")
    for fn in os.listdir(data):
        if fn.endswith(".parquet"):
            assert pq.read_metadata(os.path.join(data, fn)).num_rows > 0, fn
    got = sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"id": (None, None)}).collect()
    )
    assert got == [i for i in range(400) if not lo <= i <= hi]


def test_stats_merge_keyed_upsert_delete(spark, tmp_path, monkeypatch):
    """stats_merge on the commit log (r13): keyed copy-on-write MERGE —
    updates replace, deletes remove, unseen keys insert; only files
    whose key interval is hit by a batch key are rewritten (manifest
    interval planning); replays short-circuit; a crash AT the CAS
    leaves the exact pre-merge table with no healing; a crash AFTER
    the CAS is recovered from the commit log with the TRUE result;
    fail-fast on a non-skip key or missing layout columns."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_merge,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "sm")
    write_stats_layout(base, path, ["id"], n_files=8)
    n_files = lambda: len(os.listdir(f"{path}/data"))
    rows = lambda: {
        r["id"]: r["v"]
        for r in stats_pruned_scan(spark, path, {"id": (None, None)}).collect()
    }

    ups = spark.range(100, 150).select(
        F.col("id"), (F.col("id") * 1000).alias("v")
    ).unionByName(
        spark.range(5000, 5020).select(F.col("id"), (F.col("id") * 1000).alias("v"))
    )
    dels = spark.range(200, 250).select(F.col("id"))
    rep = stats_merge(spark, path, ups, dels, "id", batch_id="m1")
    # planning: the keys live in a few of the 8 range files — never all
    assert 0 < len(rep["replaced"]) < 8
    got = rows()
    want = {
        i: (i * 1000 if 100 <= i < 150 else i * 3)
        for i in range(1000)
        if not (200 <= i < 250)
    }
    want.update({i: i * 1000 for i in range(5000, 5020)})
    assert got == want

    # committed replay: byte-level no-op
    before = n_files()
    assert stats_merge(spark, path, ups, dels, "id", batch_id="m1") == rep
    assert n_files() == before and rows() == want

    # crash AT the CAS -> exact pre-merge table, no healing needed
    ups2 = spark.range(300, 320).select(F.col("id"), (F.col("id") * 7).alias("v"))
    none = spark.range(0).select(F.col("id"))
    real_link = os.link
    monkeypatch.setattr(
        os, "link", lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS"))
    )
    with _pytest.raises(RuntimeError):
        stats_merge(spark, path, ups2, none, "id", batch_id="m2")
    monkeypatch.setattr(os, "link", real_link)
    assert rows() == want  # nothing committed
    stats_merge(spark, path, ups2, none, "id", batch_id="m2")
    want.update({i: i * 7 for i in range(300, 320)})
    assert rows() == want

    # crash AFTER the CAS, before the _merges record: the retry
    # reconstructs the TRUE result from the commit payload
    ups2b = spark.range(400, 410).select(F.col("id"), (F.col("id") * 9).alias("v"))
    real_replace = os.replace

    def crash_on_record(src, dst):
        if "_merges" in dst:
            raise RuntimeError("simulated crash before record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_record)
    with _pytest.raises(RuntimeError):
        stats_merge(spark, path, ups2b, none, "id", batch_id="m2b")
    monkeypatch.setattr(os, "replace", real_replace)
    want.update({i: i * 9 for i in range(400, 410)})
    assert rows() == want  # committed: already visible
    rep2b = stats_merge(spark, path, ups2b, none, "id", batch_id="m2b")
    assert rep2b["replaced"] and rep2b["n_upserts"] == 10  # true result
    assert rows() == want
    assert os.path.exists(f"{path}/_merges/m2b")

    # pure insert: no file interval is hit, nothing replaced
    ups3 = spark.range(9000, 9010).select(F.col("id"), (F.col("id") * 2).alias("v"))
    rep3 = stats_merge(spark, path, ups3, none, "id", batch_id="m3")
    assert rep3["replaced"] == [] and rep3["new_files"]
    want.update({i: i * 2 for i in range(9000, 9010)})
    assert rows() == want

    # no-op batch (deletes of keys no file can contain): no commit, no
    # manifest churn, record still lands
    none2 = spark.range(0).select(F.col("id"), F.col("id").alias("v"))
    far = spark.range(10**7, 10**7 + 5).select(F.col("id"))
    before = n_files()
    rep4 = stats_merge(spark, path, none2, far, "id", batch_id="m4")
    assert rep4["replaced"] == [] and rep4["new_files"] == []
    assert n_files() == before and rows() == want

    # fail-fast: key must be a skip column; upserts must carry the schema
    with _pytest.raises(ValueError, match="skip"):
        stats_merge(spark, path, ups3, none, "v2", batch_id="bad")
    with _pytest.raises(ValueError, match="layout column"):
        stats_merge(spark, path, ups3.select("id"), none, "id", batch_id="bad2")


def test_stats_delete_unbounded_range_and_tag_safety(spark, tmp_path):
    """r12 review fixes: (a) an unbounded (None, None) range is still a
    predicate ON the column — it deletes every non-null value and never
    a NULL (the scan contract), instead of silently wiping null rows;
    (b) an empty predicate dict fails fast; (c) DISTINCT batch_ids that
    the old sanitizer collapsed (e.g. 'purge:x' vs 'purge.x') no longer
    collide — the second op executes instead of short-circuiting as a
    replay of the first."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    base = spark.range(0, 200).select(F.col("id"), (F.col("id") * 3).alias("v"))
    nulls = spark.sql("SELECT CAST(901 AS BIGINT) AS id, CAST(NULL AS BIGINT) AS v")
    path = str(tmp_path / "sdu")
    write_stats_layout(base.unionByName(nulls), path, ["v"], n_files=4)
    rows = lambda: sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )

    with _pytest.raises(ValueError, match="empty predicate"):
        stats_delete(spark, path, {}, batch_id="nope")

    # two distinct ids the old truncate-sanitizer mapped to one tag:
    # both must EXECUTE (delete different slices), not replay
    stats_delete(spark, path, {"v": (0, 27)}, batch_id="purge:x")  # ids 0..9
    assert rows() == sorted(list(range(10, 200)) + [901])
    stats_delete(spark, path, {"v": (30, 57)}, batch_id="purge.x")  # ids 10..19
    assert rows() == sorted(list(range(20, 200)) + [901])

    # unbounded range: all non-null v gone, the null row stays
    stats_delete(spark, path, {"v": (None, None)}, batch_id="wipe")
    assert rows() == [901]


@pytest.mark.slow
def test_stats_lifecycle_crash_at_every_fs_op(spark, tmp_path):
    """EXHAUSTIVE crash-point sweep over the stats layout's whole
    maintenance lifecycle (r12, re-proven over the r13 commit-log
    protocol): the docstrings claim readers see the exact old or
    exact new table at EVERY crash point of append / delete / merge /
    compact / schema-evolving append — this test proves it by
    injecting a crash at EACH python-side filesystem mutation
    (os.rename / os.replace / os.remove / os.link — the CAS itself —
    touching the layout) in turn, then (a) READING immediately and
    asserting the row set is exactly pre-op or exactly post-op, never
    a mixture (snapshot visibility needs no healing), and (b)
    retrying the op and asserting the exact post state."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_append,
        stats_compact,
        stats_delete,
        stats_merge,
        stats_pruned_scan,
        stats_restore,
        write_stats_layout,
    )

    base = spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    root = str(tmp_path / "torture")
    write_stats_layout(base, root, ["id", "v"], n_files=4)

    def rows(p):
        return sorted(
            (r["id"], r["v"])
            for r in stats_pruned_scan(spark, p, {"id": (None, None)}).collect()
        )

    batch = spark.range(1000, 1060).select(F.col("id"), (F.col("id") * 3).alias("v"))
    ups = spark.range(50, 70).select(F.col("id"), (F.col("id") * 100).alias("v"))
    dels = spark.range(250, 260).select(F.col("id"))
    evbatch = spark.range(2000, 2030).select(
        F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 5).alias("w")
    )
    ops = [
        ("append", lambda p: stats_append(batch, p, batch_id="t-a")),
        ("delete", lambda p: stats_delete(spark, p, {"v": (300, 450)}, batch_id="t-d")),
        ("merge", lambda p: stats_merge(spark, p, ups, dels, "id", batch_id="t-m")),
        ("compact", lambda p: stats_compact(spark, p, target_rows=200)),
        # schema evolution crashes at every window too (r13 VERDICT
        # #5: the widened-manifest commit under the same sweep)
        ("evolve", lambda p: stats_append(evbatch, p, batch_id="t-e",
                                          new_skip_cols=["w"])),
        # and RESTORE: the metadata-only rollback commit (to v2, the
        # post-append state — undoing delete/merge/compact/evolve)
        ("restore", lambda p: stats_restore(spark, p, 2, batch_id="t-r")),
    ]

    real = {
        "rename": os.rename,
        "replace": os.replace,
        "remove": os.remove,
        "link": os.link,
    }

    def instrument(counter, crash_at, layout):
        """Patch the four mutation calls (link IS the commit CAS):
        count (and optionally crash at) calls whose path lies under
        the layout root."""

        def wrap(name):
            orig = real[name]

            def patched(*a, **kw):
                if any(str(layout) in str(x) for x in a):
                    counter[0] += 1
                    if crash_at is not None and counter[0] == crash_at:
                        raise RuntimeError(f"injected crash at fs-op {crash_at} ({name})")
                return orig(*a, **kw)

            return patched

        os.rename, os.replace, os.remove, os.link = (
            wrap("rename"), wrap("replace"), wrap("remove"), wrap("link")
        )

    def restore():
        os.rename, os.replace, os.remove, os.link = (
            real["rename"], real["replace"], real["remove"], real["link"]
        )

    state = root  # advances through the lifecycle
    total_points = 0
    for op_name, op in ops:
        pre = rows(state)
        # dry run on a clone: the post state + the fs-op count
        probe = f"{state}-probe-{op_name}"
        shutil.copytree(state, probe)
        counter = [0]
        instrument(counter, None, probe)
        try:
            op(probe)
        finally:
            restore()
        n_ops, post = counter[0], rows(probe)
        shutil.rmtree(probe, ignore_errors=True)
        assert n_ops > 0
        if op_name == "compact":
            assert post == pre  # row-preserving by definition
        else:
            assert post != pre

        for k in range(1, n_ops + 1):
            clone = f"{state}-k{k}-{op_name}"
            shutil.copytree(state, clone)
            counter = [0]
            instrument(counter, k, clone)
            crashed = False
            try:
                op(clone)
            except RuntimeError:
                crashed = True
            finally:
                restore()
            got = rows(clone)  # plans from the last commit record
            assert got in (pre, post), (
                f"{op_name} crash@{k}/{n_ops}: reader saw a mixed state"
            )
            if crashed:  # retry completes to the exact post state
                op(clone)
                assert rows(clone) == post, f"{op_name} retry after crash@{k}"
            shutil.rmtree(clone, ignore_errors=True)
        total_points += n_ops

        op(state)  # advance the real lifecycle
        assert rows(state) == post
    assert total_points >= 20  # the sweep actually covered real windows


@pytest.mark.slow
def test_zorder_lifecycle_crash_at_every_fs_op(spark, sf_dir, tmp_path):
    """The bucket-layout twin of the stats-lifecycle crash sweep, on
    the r14 commit log: a crash injected at EVERY python-side
    filesystem mutation (os.rename / os.replace / os.remove /
    os.link — the CAS itself) of zorder_append and zorder_compact in
    turn. The swept invariant is now the STRONG one the stats layout
    pins — the immediate read is exactly the pre-op table or exactly
    the post-op table, never a mixture and never an error (snapshot
    visibility, NO healing) — where the retired-swap protocol could
    only promise no-loss/no-dup through heal-on-read plus a grace
    heuristic. The batch is confined to a narrow price/date box so
    the sweep stays ~dozens of points."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        zorder_append,
        zorder_compact,
        zorder_pruned_scan_nd,
    )

    orders, incoming, root = _zorder_mini(spark, sf_dir, tmp_path)
    incoming = incoming.filter(
        (F.col("o_totalprice") >= 150000)
        & (F.col("o_totalprice") <= 180000)
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-06-30").cast("timestamp"))
    )
    assert incoming.count() > 0

    from datetime import datetime

    x_lo, x_hi, y_lo, y_hi = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice"),
        F.min("o_orderdate"), F.max("o_orderdate"),
    ).collect()[0]
    if isinstance(y_lo, datetime):
        y_lo, y_hi = y_lo.date(), y_hi.date()

    def rows(p):
        return sorted(
            r["o_orderkey"]
            for r in zorder_pruned_scan_nd(
                spark, p, [(x_lo, x_hi), (y_lo, y_hi)]
            ).collect()
        )

    ops = [
        ("append", lambda p: zorder_append(incoming, p, batch_id="t-za")),
        ("compact", lambda p: zorder_compact(spark, p)),
    ]
    real = {
        "rename": os.rename,
        "replace": os.replace,
        "remove": os.remove,
        "link": os.link,
    }

    def instrument(counter, crash_at, layout):
        def wrap(name):
            orig = real[name]

            def patched(*a, **kw):
                if any(str(layout) in str(x) for x in a):
                    counter[0] += 1
                    if crash_at is not None and counter[0] == crash_at:
                        raise RuntimeError(f"injected crash at fs-op {crash_at} ({name})")
                return orig(*a, **kw)

            return patched

        os.rename, os.replace, os.remove, os.link = (
            wrap("rename"), wrap("replace"), wrap("remove"), wrap("link")
        )

    def restore():
        os.rename, os.replace, os.remove, os.link = (
            real["rename"], real["replace"], real["remove"], real["link"]
        )

    state = root
    total_points = 0
    for op_name, op in ops:
        pre = rows(state)
        probe = f"{state}-probe-{op_name}"
        shutil.copytree(state, probe)
        counter = [0]
        instrument(counter, None, probe)
        try:
            op(probe)
        finally:
            restore()
        n_ops, post = counter[0], rows(probe)
        shutil.rmtree(probe, ignore_errors=True)
        assert n_ops > 0
        if op_name == "compact":
            assert post == pre  # row-preserving by definition
        else:
            assert post != pre

        for k in range(1, n_ops + 1):
            clone = f"{state}-k{k}-{op_name}"
            shutil.copytree(state, clone)
            counter = [0]
            instrument(counter, k, clone)
            crashed = False
            try:
                op(clone)
            except RuntimeError:
                crashed = True
            finally:
                restore()
            got = rows(clone)  # immediate read: NO healing, no grace
            assert got == pre or got == post, f"{op_name} crash@{k}: mixture"
            if crashed:
                op(clone)  # retry: idempotency token / commit log
                assert rows(clone) == post, f"{op_name} retry after crash@{k}"
            shutil.rmtree(clone, ignore_errors=True)
        total_points += n_ops

        op(state)  # advance the real lifecycle
        assert rows(state) == post
    assert total_points >= 8  # the sweep actually covered real windows
    # (measured 10 on the narrow batch: the commit-log protocol has
    # FEWER mutation points than the retired-swap one it replaced —
    # stage moves + part rename + CAS link + record replace per op)


def test_hilbert_nd_curve_and_covering(spark, sf_dir):
    """The n-D Hilbert machinery (r13, Skilling 2004): (a) the
    transform is a bijection onto the grid with unit-step adjacency —
    the defining Hilbert property — across several (d, m); (b) the
    transpose round-trips; (c) on a real 3-D lineitem layout the
    covering enumeration is complete: every in-box row's cell is
    covered (replayed driver-side through hilbert_index_nd) and the
    pruned scan equals the plain 3-predicate filter row-for-row while
    reading a strict subset of buckets; (d) a ragged prefix fails
    fast."""
    import os
    import tempfile
    from datetime import date

    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        derive_zorder_spec_nd,
        hilbert_covering_buckets_nd,
        hilbert_index_nd,
        read_zorder_spec,
        write_hilbert_table_nd,
        zorder_pruned_scan_nd,
        zquant_nd,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    for d, m in [(2, 3), (3, 3), (4, 2)]:
        n_cells = 1 << (d * m)
        seen = {}
        mask = (1 << m) - 1
        for packed in range(n_cells):
            coords = [(packed >> ((d - 1 - j) * m)) & mask for j in range(d)]
            h = hilbert_index_nd(m, coords)
            assert 0 <= h < n_cells and h not in seen
            seen[h] = coords
        for h in range(n_cells - 1):
            diffs = [abs(a - b) for a, b in zip(seen[h], seen[h + 1])]
            assert sum(diffs) == 1 and max(diffs) == 1

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_shipdate"
    )
    spec = derive_zorder_spec_nd(
        os.path.join(sf_dir, "lineitem.parquet"),
        [("l_extendedprice", "num"), ("l_shipdate", "date"), ("l_quantity", "num")],
        bits=7,
        prefix_bits=9,
    )
    path = tempfile.mkdtemp(prefix="sg_h3_")
    try:
        write_hilbert_table_nd(li, spec, path)
        spec = read_zorder_spec(path)
        assert spec["curve"] == "hilbert"
        box = [(20000, 45000), (date(1996, 1, 1), date(1996, 12, 31)), (10, 30)]
        lo_q = [zquant_nd(spec, j, lo) for j, (lo, _) in enumerate(box)]
        hi_q = [zquant_nd(spec, j, hi) for j, (_, hi) in enumerate(box)]
        buckets = set(hilbert_covering_buckets_nd(spec, lo_q, hi_q))
        assert 0 < len(buckets) < (1 << spec["prefix_bits"])

        want = li.filter(
            (F.col("l_extendedprice") >= 20000)
            & (F.col("l_extendedprice") <= 45000)
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
        rows = want.collect()
        assert rows
        m = spec["prefix_bits"] // 3
        for r in rows:
            cell = [
                zquant_nd(spec, 0, r["l_extendedprice"]) >> (spec["bits"] - m),
                zquant_nd(spec, 1, r["l_shipdate"].date()) >> (spec["bits"] - m),
                zquant_nd(spec, 2, r["l_quantity"]) >> (spec["bits"] - m),
            ]
            assert hilbert_index_nd(m, cell) in buckets

        got = zorder_pruned_scan_nd(spark, path, box)  # curve-dispatched
        key = lambda r: (r["l_orderkey"], r["l_linenumber"])
        assert sorted(map(key, got.collect())) == sorted(map(key, rows))

        with _pytest.raises(ValueError, match="divisible"):
            write_hilbert_table_nd(li, {**spec, "prefix_bits": 8}, path + "-bad")
    finally:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(path + "-bad", ignore_errors=True)


def test_stats_append_review_hardening(spark, tmp_path, monkeypatch):
    """r13 review fixes, pinned: (a) new_skip_cols naming a column
    ALREADY in the layout's data schema fails fast — files written
    before the promotion could hold real values under NULL stats and
    the planner would silently prune them; (b) a type conflict fails
    BEFORE the staging write (no stranded prefixed files); (c) a CAS
    loser whose batch carries a column the winner just promoted to a
    skip column REBUILDS its manifest part with stats for it — else
    its files would read NULL stats over non-NULL data and vanish
    from scans on that column; (d) a retry arriving after retention
    expired BOTH its record and its commit entry must not sweep its
    still-referenced files — the record rolls forward instead."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    base = spark.range(0, 200).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "rh")
    L.write_stats_layout(base, path, ["id"], n_files=4)

    # (a) promoting an existing data column is rejected
    batch = spark.range(1000, 1020).select(F.col("id"), (F.col("id") * 3).alias("v"))
    with _pytest.raises(ValueError, match="already exist"):
        L.stats_append(batch, path, batch_id="promote", new_skip_cols=["v"])

    # (b) type conflict fails before any file lands
    clash = spark.range(0, 5).select(F.col("id"), F.lit("oops").alias("v"))
    n_data = len(os.listdir(f"{path}/data"))
    n_parts = len(os.listdir(f"{path}/_manifests"))
    with _pytest.raises(ValueError, match="string"):
        L.stats_append(clash, path, batch_id="clash")
    assert len(os.listdir(f"{path}/data")) == n_data
    assert len(os.listdir(f"{path}/_manifests")) == n_parts

    # (c) loser rebuilds its part when the winner promotes a column
    # the loser's batch carries
    loser = spark.range(2000, 2030).select(
        F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 5).alias("w")
    )
    winner = spark.range(3000, 3020).select(
        F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 5).alias("w")
    )
    real_cas = L._cas_commit
    state = {"fired": False}

    def contended(p, v, payload):
        if payload["tag"] == "loser" and not state["fired"]:
            state["fired"] = True
            L.stats_append(winner, p, batch_id="winner", new_skip_cols=["w"])
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    L.stats_append(loser, path, batch_id="loser")
    monkeypatch.setattr(L, "_cas_commit", real_cas)
    assert state["fired"]
    got = L.stats_pruned_scan(spark, path, {"w": (2, 2)})
    want = sorted(
        i for i in list(range(2000, 2030)) + list(range(3000, 3020)) if i % 5 == 2
    )
    assert sorted(r["id"] for r in got.collect()) == want  # loser rows NOT lost

    # (d) late retry with record AND commit entry gone: roll forward,
    # never sweep the still-referenced files
    files_b = L.stats_append(
        spark.range(4000, 4010).select(
            F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 5).alias("w")
        ),
        path,
        batch_id="late",
    )
    v_b = L._list_commits(path)[-1]
    L.stats_append(
        spark.range(5000, 5010).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="after",
    )
    os.remove(f"{path}/_batches/late")
    os.remove(L._commit_file(path, v_b))  # simulate retention expiry
    n_rows = L.stats_pruned_scan(spark, path, {"id": (None, None)}).count()
    again = L.stats_append(
        spark.range(4000, 4010).select(
            F.col("id"), (F.col("id") * 3).alias("v"), (F.col("id") % 5).alias("w")
        ),
        path,
        batch_id="late",
    )
    assert sorted(again) == sorted(files_b)  # rolled forward, no redo
    assert L.stats_pruned_scan(spark, path, {"id": (None, None)}).count() == n_rows
    assert os.path.exists(f"{path}/_batches/late")

    # same guard on the rewrite side: a committed-beyond-retention
    # delete retry fails loud instead of sweeping live state
    rep = L.stats_delete(spark, path, {"id": (0, 49)}, batch_id="dlate")
    assert rep
    v_d = L._list_commits(path)[-1]
    L.stats_append(
        spark.range(6000, 6010).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="after2",
    )
    os.remove(f"{path}/_deletes/dlate")
    os.remove(L._commit_file(path, v_d))
    with _pytest.raises(RuntimeError, match="expired from retention"):
        L.stats_delete(spark, path, {"id": (0, 49)}, batch_id="dlate")


def test_stats_mixed_writer_stress(spark, tmp_path):
    """Mixed-op multi-writer stress: THREE appenders of disjoint row
    sets and ONE compactor race one layout through the CAS. Appends
    commute and compaction is row-preserving, so the final row set is
    order-independent: exactly base plus all three batches, every
    writer must succeed (losers retry, none error), and the commit
    log must hold one commit per successful writer. stats_history
    reports the retained log consistently."""
    import threading

    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    base = spark.range(0, 400).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "stress")
    L.write_stats_layout(base, path, ["id"], n_files=8)

    batches = [
        spark.range(1000 * k, 1000 * k + 50).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        )
        for k in (1, 2, 3)
    ]
    errs = []

    def append(df, bid):
        try:
            L.stats_append(df, path, batch_id=bid)
        except Exception as e:
            errs.append(("append", bid, e))

    def compact():
        try:
            L.stats_compact(spark, path, target_rows=100)
        except Exception as e:
            errs.append(("compact", e))

    threads = [
        threading.Thread(target=append, args=(b, f"s{k}"))
        for k, b in enumerate(batches)
    ] + [threading.Thread(target=compact)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    got = sorted(
        r["id"]
        for r in L.stats_pruned_scan(spark, path, {"id": (None, None)}).collect()
    )
    want = sorted(
        list(range(400))
        + [i for k in (1, 2, 3) for i in range(1000 * k, 1000 * k + 50)]
    )
    assert got == want  # nothing lost, nothing doubled, any interleaving

    hist = {
        r["version"]: r["op"]
        for r in L.stats_history(spark, path).collect()
    }
    assert hist[1] == "init"
    assert sorted(hist.values()).count("append") == 3
    # the compactor either found small files and committed, or kept
    # re-planning into a no-op — both are legal outcomes of the race
    assert L._list_commits(path)[-1] in (4, 5)


def test_stats_restore_rollback_and_gc_protection(spark, tmp_path, monkeypatch):
    """stats_restore (r13): metadata-only ROLLBACK via the commit log.
    (a) restoring to a retained version serves exactly that version's
    rows, atomically at the CAS, with history append-only (the undone
    versions stay time-travel-readable); (b) replays short-circuit and
    a crash AT the CAS leaves the un-restored table; (c) the restored
    files SURVIVE retention GC even after the undone delete's record
    expires (the re_referenced protection), and vacuum collects only
    the genuinely orphaned rewrite files; (d) restoring to an expired
    or future version fails loud."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    base = spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "restore")
    L.write_stats_layout(base, path, ["id"], n_files=4)
    L.stats_append(
        spark.range(1000, 1050).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="b",
    )
    L.stats_delete(spark, path, {"id": (0, 99)}, batch_id="d")

    def ids(**kw):
        return sorted(
            r["id"]
            for r in L.stats_pruned_scan(
                spark, path, {"id": (None, None)}, **kw
            ).collect()
        )

    want_v2 = sorted(list(range(300)) + list(range(1000, 1050)))
    want_v3 = sorted(i for i in want_v2 if i >= 100)
    assert ids() == want_v3

    # (b) crash AT the CAS: nothing restored
    real_link = os.link
    monkeypatch.setattr(
        os, "link", lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS"))
    )
    with _pytest.raises(RuntimeError):
        L.stats_restore(spark, path, 2, batch_id="r1")
    monkeypatch.setattr(os, "link", real_link)
    assert ids() == want_v3 and L._list_commits(path)[-1] == 3

    # (a) restore lands as version 4; history is append-only
    out = L.stats_restore(spark, path, 2, batch_id="r1")
    assert out == {"restored_from": 2, "version": 4}
    assert L.stats_restore(spark, path, 2, batch_id="r1") == out  # replay
    assert ids() == want_v2
    assert ids(version=3) == want_v3  # the undone delete still readable
    hist = {r["version"]: r["op"] for r in L.stats_history(spark, path).collect()}
    assert hist[4] == "restore"

    # (c) expire the delete's record under tight retention: the
    # restored rows must survive GC, and vacuum must not break them
    for i in range(6):
        L.stats_append(
            spark.range(5000 + 10 * i, 5005 + 10 * i).select(
                F.col("id"), (F.col("id") * 3).alias("v")
            ),
            path,
            batch_id=f"k{i}",
            keep_versions=3,
        )
    got = ids()
    assert sorted(i for i in got if i < 5000) == want_v2
    L.stats_vacuum(spark, path, grace_seconds=0)
    assert ids() == got

    # (d) expired / future targets fail loud
    with _pytest.raises(ValueError, match="expired"):
        L.stats_restore(spark, path, 2, batch_id="r2")
    with _pytest.raises(ValueError, match="does not exist"):
        L.stats_restore(spark, path, 99, batch_id="r3")

    # (e) r13 review #2: a retry arriving after BOTH the record and
    # the commit entry expired must fail loud (the marker part keeps
    # the committed restore detectable), never silently re-apply and
    # roll back everything committed since
    out2 = L.stats_restore(spark, path, L._list_commits(path)[-2], batch_id="rl")
    v_r = out2["version"]
    L.stats_append(
        spark.range(7000, 7010).select(F.col("id"), (F.col("id") * 3).alias("v")),
        path,
        batch_id="aft",
    )
    os.remove(f"{path}/_restores/rl")
    os.remove(L._commit_file(path, v_r))
    n_now = len(ids())
    with _pytest.raises(RuntimeError, match="expired from retention"):
        L.stats_restore(spark, path, L._list_commits(path)[0], batch_id="rl")
    assert len(ids()) == n_now  # nothing rolled back

    # (f) r13 review #1: a GC whose cutoff JUMPS several versions in
    # one pass (crashed GC / mixed keep_versions) must still protect
    # files the restored lineage references — ascending processing
    # sees every younger restore's record before expiring an older
    # replaced list. Aggressive single-pass GC, then full readability.
    L._retention_gc(path, keep_versions=1)
    assert len(ids()) == n_now
    L.stats_vacuum(spark, path, grace_seconds=0)
    assert len(ids()) == n_now


def test_stats_cluster_and_changes_feed(spark, tmp_path, monkeypatch):
    """stats_cluster (OPTIMIZE ZORDER on the commit log) and
    stats_changes (the change data feed) — r13 completions: (a)
    clustering preserves rows exactly, tightens multi-column pruning
    (fewer planned files for a box constraining the SECOND column),
    replays short-circuit, and the pre-cluster version stays readable;
    (b) a crash AT the CAS leaves the unclustered table; (c) cluster
    keys must be skip columns; (d) the change feed reproduces each
    commit's exact row diff for append, delete, merge and RESTORE
    uniformly (file-set diff, O(changed files)), and v1 fails loud."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    df = spark.range(0, 40000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "cluster")
    L.write_stats_layout(df, path, ["x", "y"], n_files=32)

    def planned(ranges):
        _d, files = L.stats_pruned_scan(spark, path, ranges, return_files=True)
        return len(files)

    # a box tight in the SECOND column: the x-range layout cannot
    # prune on y (every file spans all of y), clustering can
    box = {"x": (None, None), "y": (20, 40)}
    before = planned(box)
    assert before == 32  # no pruning at all pre-cluster

    # (b) crash AT the CAS: nothing committed
    real_link = os.link
    monkeypatch.setattr(
        os, "link", lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS"))
    )
    with _pytest.raises(RuntimeError):
        L.stats_cluster(spark, path, ["x", "y"], n_files=32, batch_id="z1")
    monkeypatch.setattr(os, "link", real_link)
    assert L._list_commits(path)[-1] == 1 and planned(box) == before

    # (a) cluster commits; rows exact; second-column pruning appears
    newf = L.stats_cluster(spark, path, ["x", "y"], n_files=32, batch_id="z1")
    assert newf
    assert L.stats_cluster(spark, path, ["x", "y"], n_files=32, batch_id="z1") == newf
    after = planned(box)
    assert after < before // 2, (before, after)
    got = sorted(r["payload"] for r in L.stats_pruned_scan(spark, path, box).collect())
    want = sorted(
        r["payload"] for r in df.filter(F.col("y").between(20, 40)).collect()
    )
    assert got == want
    assert L.stats_pruned_scan(spark, path, {"x": (None, None)}).count() == 40000
    assert L.stats_pruned_scan(spark, path, box, version=1).count() == len(want)

    # (c) cluster keys must carry manifest stats
    with _pytest.raises(ValueError, match="not skip columns"):
        L.stats_cluster(spark, path, ["payload"], batch_id="bad")

    # r13 review #3: clustering an EMPTY layout still records its
    # no-op, so a same-batch_id retry after data arrives is a
    # short-circuit, not a surprise rewrite
    empty = str(tmp_path / "empty")
    L.write_stats_layout(df.limit(0), empty, ["x"], n_files=1)
    assert L.stats_cluster(spark, empty, ["x"], batch_id="e1") == []
    L.stats_append(df.limit(30), empty, batch_id="late")
    assert L.stats_cluster(spark, empty, ["x"], batch_id="e1") == []  # replay
    assert L._list_commits(empty)[-1] == 2  # init + append, NO rewrite

    # (d) the change feed, across op kinds
    L.stats_append(
        spark.range(100000, 100050).select(
            (F.col("id") % 200).alias("x"),
            (F.col("id") / 200).cast("long").alias("y"),
            F.col("id").alias("payload"),
        ),
        path,
        batch_id="b",
    )
    v_append = L._list_commits(path)[-1]
    feed = L.stats_changes(spark, path, v_append)
    assert feed.filter(F.col("_change_type") == "delete").count() == 0
    assert sorted(
        r["payload"] for r in feed.filter(F.col("_change_type") == "insert").collect()
    ) == list(range(100000, 100050))

    L.stats_delete(spark, path, {"y": (0, 4)}, batch_id="d")
    v_del = L._list_commits(path)[-1]
    feed = L.stats_changes(spark, path, v_del)
    dels = feed.filter(F.col("_change_type") == "delete")
    assert dels.count() == 1000 and feed.count() == 1000  # ids 0..999, no inserts

    L.stats_restore(spark, path, v_append, batch_id="r")
    v_rest = L._list_commits(path)[-1]
    feed = L.stats_changes(spark, path, v_rest)
    back = sorted(
        r["payload"] for r in feed.filter(F.col("_change_type") == "insert").collect()
    )
    assert back == list(range(1000))  # the restore brought them back

    with _pytest.raises(ValueError, match="no parent"):
        L.stats_changes(spark, path, 1)


def test_stats_disjoint_deletes_adopt_without_restage(spark, tmp_path, monkeypatch):
    """Conflict-detection commits (r14, r13 VERDICT missing #2 /
    next #3): a rewrite that loses its CAS to a DISJOINT rewrite
    ADOPTS the winner's commit — the staged data files are reused
    verbatim, only the manifest part is rebuilt against the new head
    — so two racing disjoint deletes both land with ZERO re-staging
    (the Delta ConflictChecker shape). The overlapping case keeps
    re-planning (test_stats_rewrite_replans_after_lost_cas)."""
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    base = spark.range(0, 400).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "disjoint")
    # 8 files range-partitioned on v: each spans ~150 of [0, 1197], so
    # the two predicates below hit non-overlapping file PAIRS
    L.write_stats_layout(base, path, ["v"], n_files=8)

    races0 = dict(L.REWRITE_RACES)
    real_cas = L._cas_commit
    state = {"fired": False}

    def contended(p, v, payload):
        # the moment delete A first attempts its CAS, delete B (a
        # disjoint v-range) runs to completion and takes the version
        if payload["op"] == "delete" and payload.get("tag") == "da" and not state["fired"]:
            state["fired"] = True
            L.stats_delete(spark, p, {"v": (0, 150)}, batch_id="db")
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    replaced = L.stats_delete(spark, path, {"v": (900, 1050)}, batch_id="da")
    monkeypatch.setattr(L, "_cas_commit", real_cas)
    assert state["fired"] and replaced

    got = sorted(
        r["id"]
        for r in L.stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    want = sorted(
        r["id"]
        for r in base.filter(
            ~(
                ((F.col("v") >= 0) & (F.col("v") <= 150))
                | ((F.col("v") >= 900) & (F.col("v") <= 1050))
            )
        ).collect()
    )
    assert got == want  # both deletes applied
    assert L._list_commits(path) == [1, 2, 3]  # init + two deletes
    # the loser adopted: no re-staging happened anywhere
    assert L.REWRITE_RACES["adopted"] == races0["adopted"] + 1
    assert L.REWRITE_RACES["restaged"] == races0["restaged"]


def test_stats_compute_stats_retrofit(spark, tmp_path, monkeypatch):
    """Skip-stat retrofit (r14, r13 VERDICT missing #5): promoting an
    EXISTING data column is refused on the append path (NULL stats
    over real values would silently mis-prune) and served by
    stats_compute_stats as a METADATA-ONLY commit — one per-file
    min/max aggregate, no data file moves — after which a predicate
    on the column plans exactly and prunes. Exactly-once per
    batch_id; a crash at the CAS publishes nothing and the retry
    lands; old versions time-travel unchanged."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    rows = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 5).alias("p"), (F.col("id") % 7).alias("w")
    )
    path = str(tmp_path / "retrofit")
    L.write_stats_layout(rows, path, ["id"], n_files=8)

    # the r13 refusal still guards the append path
    clash = spark.range(400, 420).select(
        F.col("id"), (F.col("id") * 5).alias("p"), (F.col("id") % 7).alias("w")
    )
    with _pytest.raises(ValueError, match="stats_compute_stats"):
        L.stats_append(clash, path, batch_id="clash", new_skip_cols=["p"])
    with _pytest.raises(ValueError, match="no manifest stats"):
        L.stats_pruned_scan(spark, path, {"p": (100, 200)})

    data_before = sorted(os.listdir(os.path.join(path, "data")))
    real_link = os.link
    monkeypatch.setattr(
        os,
        "link",
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS")),
    )
    with _pytest.raises(RuntimeError):
        L.stats_compute_stats(spark, path, ["p"], batch_id="rf")
    monkeypatch.setattr(os, "link", real_link)
    assert L._list_commits(path) == [1]  # nothing published
    with _pytest.raises(ValueError, match="no manifest stats"):
        L.stats_pruned_scan(spark, path, {"p": (100, 200)})

    widened = L.stats_compute_stats(spark, path, ["p"], batch_id="rf")
    assert widened == ["id", "p"]
    assert L.stats_compute_stats(spark, path, ["p"], batch_id="rf") == widened
    # metadata-only: the data dir is byte-for-byte the same file set
    assert sorted(os.listdir(os.path.join(path, "data"))) == data_before

    df, files = L.stats_pruned_scan(
        spark, path, {"p": (100, 200)}, return_files=True
    )
    assert 0 < len(files) < 8  # true bounds prune (p tracks id here)
    assert sorted(r["id"] for r in df.collect()) == sorted(
        r["id"] for r in rows.filter((F.col("p") >= 100) & (F.col("p") <= 200)).collect()
    )
    # v1 time-travels with its ORIGINAL skip set
    with _pytest.raises(ValueError, match="no manifest stats"):
        L.stats_pruned_scan(spark, path, {"p": (100, 200)}, version=1)
    # unknown column fails fast
    with _pytest.raises(ValueError, match="not in the"):
        L.stats_compute_stats(spark, path, ["nope"], batch_id="rf2")


@pytest.mark.slow
def test_cdf_incremental_mv_exactly_once(spark, tmp_path, monkeypatch):
    """Change-feed consumer (r14, r13 VERDICT missing #3): a per-key
    (sum, count) MV maintained ONLY from stats_changes_since, with
    the cursor riding the fold-merge's batch_id — so a tick that
    crashes between the merge's CAS and its record REPLAYS
    exactly-once (the commit-log tag recovery), a replayed tick is a
    no-op, and the MV equals the aggregate recomputed from the final
    source state. Keys whose count reaches zero are deleted. A
    cursor that slept past retention fails loud."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    orders = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("cust"),
        (F.col("id") * 2).alias("cents"),
    )
    base = orders.filter(F.col("k") % 4 != 0)
    batch = orders.filter(F.col("k") % 4 == 0)
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    L.write_stats_layout(base, src, ["k"], n_files=4)
    L.stats_init_mv(spark, mv, "cust")

    # tick 1: bootstrap fold of v1 as inserts
    assert L.stats_incremental_mv_apply(spark, src, mv, "cust", "cents") == (0, 1)
    assert L.stats_mv_cursor(mv) == 1

    L.stats_append(batch, src, batch_id="b1")
    L.stats_delete(spark, src, {"k": (0, 99)}, batch_id="d1")

    # tick 2 CRASHES between the fold-merge's CAS and its record
    real_replace = os.replace

    def failing_replace(s, d):
        if "_merges" in str(d) and "cdf" in os.path.basename(str(d)):
            raise RuntimeError("simulated crash before fold record")
        return real_replace(s, d)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(RuntimeError):
        L.stats_incremental_mv_apply(spark, src, mv, "cust", "cents")
    monkeypatch.setattr(os, "replace", real_replace)
    # record lost, but the fold COMMITTED at the MV's CAS: the cursor
    # recovers from the MV's retained commit log (r14 review #1 — a
    # records-only cursor would re-fold versions 2-3 on the next tick
    # once the source advanced and the batch token changed)
    assert L.stats_mv_cursor(mv) == 3

    # the source advances BEFORE the retry — the poisoned case: the
    # retry's token is cdf3_4, which matches nothing, so only the
    # commit-log cursor keeps versions 2-3 from double-folding
    L.stats_append(
        spark.range(300, 320).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("cust"),
            (F.col("id") * 2).alias("cents"),
        ),
        src,
        batch_id="b2",
    )
    assert L.stats_incremental_mv_apply(spark, src, mv, "cust", "cents") == (3, 4)
    # replay tick: nothing new
    assert L.stats_incremental_mv_apply(spark, src, mv, "cust", "cents") == (4, 4)

    got = sorted(
        (r["cust"], r["mv_sum"], r["mv_count"])
        for r in L.stats_pruned_scan(spark, mv, {"cust": (None, None)}).collect()
    )
    orders2 = orders.unionByName(
        spark.range(300, 320).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("cust"),
            (F.col("id") * 2).alias("cents"),
        )
    )
    want = sorted(
        (r["cust"], r["s"], r["n"])
        for r in orders2.filter(F.col("k") > 99)
        .groupBy("cust")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want

    # zero-count keys delete: remove every remaining row
    L.stats_delete(spark, src, {"k": (100, 319)}, batch_id="d2")
    L.stats_incremental_mv_apply(spark, src, mv, "cust", "cents")
    assert (
        L.stats_pruned_scan(spark, mv, {"cust": (None, None)}).count() == 0
    )

    # a consumer that slept past retention fails loud — including at
    # the exact horizon edge (r14 review #3: cursor = vs[0] - 1 needs
    # version vs[0]-1 itself as a diff parent, which is gone)
    for i in range(10):
        L.stats_append(
            spark.range(1000 + i, 1001 + i).select(
                F.col("id").alias("k"),
                (F.col("id") % 10).alias("cust"),
                (F.col("id") * 2).alias("cents"),
            ),
            src,
            batch_id=f"spin-{i}",
            keep_versions=3,
        )
    with _pytest.raises(ValueError, match="expired from retention"):
        L.stats_changes_since(spark, src, 1)


def test_tag_prefix_collision_and_bucket_op_inheritance(spark, sf_dir, tmp_path):
    """r14 review #2 and #4: (a) hyphenated batch ids HASH now, so tag
    'day-1' can no longer prefix-match a committed 'day-1-fix' batch's
    artifacts — a first-ever 'day-1' append must APPLY instead of
    short-circuiting as already-done (silent batch drop); (b) shared-
    path ops on a BUCKET table (stats_delete, stats_compute_stats'
    class) inherit the curve spec and the pending dirty set into their
    commits, so scans, the spec read and compaction keep working after
    them — and stats_append refuses the bucket table outright (it
    bypasses curve routing)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L

    # (a) tags that share a hyphenated prefix stay distinct batches
    base = spark.range(0, 100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "tags")
    L.write_stats_layout(base, path, ["v"], n_files=2)
    b1 = spark.range(1000, 1010).select(F.col("id"), (F.col("id") * 3).alias("v"))
    b2 = spark.range(2000, 2010).select(F.col("id"), (F.col("id") * 3).alias("v"))
    assert L.stats_append(b1, path, batch_id="day-1-fix")
    assert L.stats_append(b2, path, batch_id="day-1")  # must APPLY
    got = sorted(
        r["id"]
        for r in L.stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    assert got == sorted([*range(100), *range(1000, 1010), *range(2000, 2010)])
    # and each replays as itself
    assert L.stats_append(b2, path, batch_id="day-1") == L.stats_append(
        b2, path, batch_id="day-1"
    )

    # (b) a manifest-gated DELETE on a bucket table (predicate on the
    # zb skip column) commits WITHOUT stranding the curve state
    orders, incoming, bpath = _zorder_mini(spark, sf_dir, tmp_path)
    dirty = L.zorder_append(incoming, bpath, batch_id="inh_1")
    n_before = L.bucket_scan(spark, bpath).count()
    spec_before = L.read_zorder_spec(bpath)
    replaced = L.stats_delete(spark, bpath, {"zb": (0, 3)}, batch_id="zbpurge")
    assert replaced  # cells 0-3 had rows
    cur = L._load_version(bpath)[1]
    assert cur["spec"] == spec_before  # spec flowed through the delete
    assert sorted(cur["dirty_buckets"]) == sorted(dirty)  # dirty kept
    n_after = L.bucket_scan(spark, bpath).count()
    assert 0 < n_after < n_before
    assert not [
        r
        for r in L.bucket_scan(spark, bpath).select("zb").distinct().collect()
        if r["zb"] <= 3
    ]
    # compaction still folds the (inherited) dirty set; scans exact
    remaining_dirty = [b for b in dirty]
    compacted = L.zorder_compact(spark, bpath)
    assert sorted(compacted) == sorted(remaining_dirty)
    from datetime import date

    got = L.zorder_pruned_scan_nd(
        spark, bpath, [(150000, 300000), (date(1996, 1, 1), date(1998, 6, 30))]
    ).count()
    assert got > 0

    # stats_append on a bucket table refuses loudly
    with _pytest.raises(ValueError, match="zorder_append"):
        L.stats_append(
            orders.limit(5), bpath, batch_id="wrongdoor"
        )

"""Scale-oriented operators: salting, partitioned & bucketed sinks."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.operators.skew import salted_join
from data_pipeline_csv_spark.sources.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    plain = (
        li.join(orders, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    salted = (
        salted_join(li, orders, on="o_orderkey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], "k long, v string")
    small = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    out = {r["k"]: r["w"] for r in salted_join(big, small, on="k", n_salts=4, how="left").collect()}
    assert out == {1: "X", 2: "Y", 99: None}


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    res = eng.write_partitioned(orders, "orders_by_year", ["o_year"])
    assert res.rows_written == orders.count()
    # layout: one directory per year
    years = [d for d in os.listdir(res.table_path) if d.startswith("o_year=")]
    assert len(years) >= 5
    # a filter on the partition column must prune partitions at scan
    df = eng.read_table("orders_by_year").filter(F.col("o_year") == 1997)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "PartitionFilters: [isnotnull(o_year" in buf.getvalue()


def test_zordered_write_counts_each_row_once(spark, tmp_path):
    """The written-row count is observed after repartitionByRange: an
    observation below it would also count the rows its range-bounds
    sampling job reads, reporting a multiple of the true count."""
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    df = spark.range(100_000).withColumn("y", (F.col("id") * 7919) % 1000)
    res = eng.write_zordered(df, "z", ("id", "y"), n_files=8)
    assert res.rows_written == df.count() == 100_000
    assert eng.read_table("z").count() == 100_000


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a FILTERED dim must inject a
    dynamic partition-pruning subquery: the fact scan reads only the
    partitions the dim's surviving keys name, discovered at runtime —
    the other half of the pruning story next to the static literal
    pruning the IVF probe uses."""
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    eng.write_partitioned(orders, "orders_dpp", ["o_year"])
    fact = eng.read_table("orders_dpp")

    dim_path = str(tmp_path / "dim_years")
    spark.createDataFrame(
        [(y, "keep" if y == 1995 else "drop") for y in range(1992, 1999)],
        "d_year int, tag string",
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "keep")

    joined = fact.join(dim, fact.o_year == dim.d_year)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(o_year" in plan
    assert joined.count() == orders.filter("o_year = 1995").count()


def test_bucketed_join_drops_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        eng = PipelineEngine(spark, "/tmp/wh_bucket_test")
        eng.write_bucketed(orders.select("o_orderkey", "o_totalprice"), "t_orders_a", ["o_orderkey"], 4, ["o_orderkey"])
        eng.write_bucketed(orders.select("o_orderkey", "o_orderpriority"), "t_orders_b", ["o_orderkey"], 4, ["o_orderkey"])
        # tiny test tables would be broadcast (bucketing bypassed); force
        # the SMJ path the buckets exist for — at 100 TB neither fact
        # side broadcasts and this is the plan that matters.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table("t_orders_a"), spark.table("t_orders_b")
        joined = a.join(b, "o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        # co-located bucketed SMJ: bucketed scans, zero exchanges
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert "Exchange (" not in plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_a")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")


def test_compact_table_collapses_small_files(spark, sf_dir, tmp_path):
    """The small-files maintenance job must cut file count to the
    byte-budget target while preserving every row, and must not swap
    in a bad rewrite."""
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    # simulate a fragmented table: 32 tiny files
    orders.repartition(32).write.mode("overwrite").parquet(
        str(tmp_path / "wh" / "orders_frag")
    )
    frag_files = [
        f for f in os.listdir(tmp_path / "wh" / "orders_frag") if f.endswith(".parquet")
    ]
    assert len(frag_files) == 32

    res = eng.compact_table("orders_frag", target_file_bytes=1 << 30)
    assert res.rows_written == n
    compacted = [
        f for f in os.listdir(tmp_path / "wh" / "orders_frag") if f.endswith(".parquet")
    ]
    assert len(compacted) == 1  # whole table fits one 1 GiB target file
    assert eng.read_table("orders_frag").count() == n


def test_compact_table_recovers_orphaned_trash(spark, sf_dir, tmp_path):
    """Crash window between the two swap renames: the table path is
    gone and the data lives only in ._compact_trash. The next
    compact_table call must restore it on entry and complete normally
    (instead of walking the missing path as 0 bytes)."""
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    path = str(tmp_path / "wh" / "orders_crash")
    orders.repartition(4).write.mode("overwrite").parquet(path)
    # simulate the mid-swap crash: original renamed to trash, no table
    os.rename(path, f"{path}._compact_trash")
    assert not os.path.isdir(path)

    res = eng.compact_table("orders_crash", target_file_bytes=1 << 30)
    assert res.rows_written == n
    assert eng.read_table("orders_crash").count() == n
    assert not os.path.isdir(f"{path}._compact_trash")


def test_lsh_bucket_cap_drop_is_observable(spark):
    """A bucket over the cap is dropped — but countably: the attached
    Observation reports how many buckets/doc-slots the cap removed,
    while pairs outside the degenerate bucket still come through."""
    from pyspark.sql import Observation

    from data_pipeline_csv_spark.operators.dedup import minhash_lsh_pairs

    boiler = "terms of service apply to all users of this site without exception"
    long_a = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm stone fireplace tonight"
    rows = [(i, boiler) for i in range(12)]
    rows.append((100, long_a))
    rows.append((101, long_a + " peacefully"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation("lsh_drops")
    pairs = minhash_lsh_pairs(
        docs, threshold=0.8, max_bucket=5, drop_observation=obs
    )
    got = {(r.d1, r.d2) for r in pairs.collect()}
    assert got == {(100, 101)}  # boilerplate pairs dropped by the cap
    m = obs.get
    # 12 identical docs share every one of the 16 band buckets
    assert m["dropped_buckets"] == 16
    assert m["dropped_doc_slots"] == 16 * 12


def test_containment_catches_subsumption_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment ~1 but
    Jaccard small — the pair the symmetric near-dup passes drop."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"word{i}" for i in range(40)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[10:20])  # fully contained quote
    docs = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], "doc_id long, text string"
    )
    cont = {(r.d1, r.d2): r.containment for r in containment_pairs(docs, threshold=0.9).collect()}
    assert cont == {(1, 2): 1.0}  # all 8 of the short doc's shingles shared
    jac = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert jac == []  # Jaccard 8/38 — symmetric near-dup misses it


def test_containment_lsh_catches_planted_quotes(spark):
    """The LSH candidate stage must recover asymmetric quotation pairs
    (short doc inside a long one, size ratio ~4 — squarely in the r=1
    band envelope) and agree exactly with the quadratic-candidate
    operator on the real-corpus-shaped data it verifies against."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_lsh_pairs,
        containment_pairs,
    )

    rows = []
    for d in range(12):
        words = [f"w{d}x{i}" for i in range(40)]
        rows.append((d, " ".join(words)))
        # a fully-quoted 10-word excerpt of each doc (8 shingles, all
        # shared with the source: containment 1.0, Jaccard 8/38)
        rows.append((100 + d, " ".join(words[10:20])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.d1, r.d2): r.containment
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert exact == {(d, 100 + d): 1.0 for d in range(12)}
    lsh = {
        (r.d1, r.d2): r.containment
        for r in containment_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert lsh == exact


def test_containment_lsh_ensemble_recovers_paragraph_in_book(spark):
    """Extreme-ratio containment (a paragraph quoted inside a book,
    size ratio >= 50): flat r=1/b=32 banding has ~>50% candidate-miss
    probability here (Jaccard ~ 1/ratio), so the SIZE-STRATIFIED
    ensemble must (a) recover every planted pair and (b) agree exactly
    with the quadratic-candidate operator, while same-size strata keep
    a small band budget (the adaptive-cost contract)."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
        containment_pairs,
    )

    rows = []
    for d in range(3):
        # 1600-word book + a fully-quoted 28-word paragraph: 26 of 26
        # shingles shared -> containment 1.0 at shingle-set ratio ~61
        words = [f"b{d}w{i}" for i in range(1600)]
        rows.append((d, " ".join(words)))
        rows.append((100 + d, " ".join(words[500:528])))
    for d in range(20):  # background docs across the size spectrum
        rows.append((200 + d, " ".join(f"z{d}q{i}" for i in range(30 + 13 * d))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.d1, r.d2): r.containment
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert set(exact) == {(d, 100 + d) for d in range(3)}
    ens = {
        (r.d1, r.d2): r.containment
        for r in containment_lsh_ensemble_pairs(docs, threshold=0.9).collect()
    }
    assert ens == exact


def test_containment_lsh_ensemble_adaptive_width(spark):
    """A narrow-size corpus must not pay the 256-hash envelope: with
    every doc in one stratum the worst stratum-bound ratio is
    strata_base^1 = 2, needing only 7 bands at t=0.9/2% miss, so the
    signature agg is sized to 7 minhashes (h0..h6, never h7) by the
    shuffle-free range pre-pass — while the result still equals the
    quadratic-candidate operator."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
        containment_pairs,
    )

    rows = [
        (d, " ".join(f"w{d}x{i}" for i in range(40 + (d % 3))))
        for d in range(12)
    ]
    rows.append((100, rows[0][1]))  # one exact-containment pair
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    df = containment_lsh_ensemble_pairs(docs, threshold=0.9)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "h6" in analyzed and "h7" not in analyzed
    exact = {
        (r.d1, r.d2) for r in containment_pairs(docs, threshold=0.9).collect()
    }
    got = {(r.d1, r.d2) for r in df.collect()}
    assert got == exact == {(0, 100)}


def test_incremental_dedup_equals_cross_side_full_pairs(spark, sf_dir):
    """The index-probed incremental result must equal the full-corpus
    LSH pair set restricted to (old, new) cross pairs — and accept a
    pre-built index without changing the answer."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import (
        lsh_band_entries,
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    full = minhash_lsh_pairs(docs, threshold=0.8).collect()
    want = set()
    for r in full:  # normalize full-corpus pairs (d1<d2) to (old, new)
        a_new, b_new = r.d1 % 5 == 0, r.d2 % 5 == 0
        if a_new != b_new:
            want.add((r.d2, r.d1) if a_new else (r.d1, r.d2))

    got = {
        (r.d1, r.d2)
        for r in minhash_lsh_incremental(old, new, threshold=0.8).collect()
    }
    assert got == want

    idx = lsh_band_entries(old)
    got_idx = {
        (r.d1, r.d2)
        for r in minhash_lsh_incremental(old, new, threshold=0.8, index=idx).collect()
    }
    assert got_idx == want


def test_dup_span_profile_planted_passage(spark):
    """A shared 8-gram passage marks exactly its spans as duplicated;
    unique docs keep dup_frac 0; sub-n docs get 0 spans and keep=True."""
    from data_pipeline_csv_spark.operators.dedup import dup_span_profile

    passage = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    rows = [
        (1, passage + " alpha beta gamma delta"),       # passage + 4 unique
        (2, "zero one two three " + passage),           # passage + 4 unique
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11"),      # all unique 8-grams
        (4, "tiny doc below n tokens"),                 # 5 toks -> no spans
    ]
    out = {
        r.doc_id: r
        for r in dup_span_profile(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=8
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1: 14 toks -> 7 spans; the 3 8-grams fully inside the passage
    # (starts 1..3 of the 10-token passage) also occur in doc 2.
    assert out[1].n_spans == 7 and out[1].n_dup_spans == 3
    assert out[2].n_spans == 7 and out[2].n_dup_spans == 3
    assert out[3].n_spans == 4 and out[3].n_dup_spans == 0
    assert out[3].keep and out[3].dup_frac == 0.0
    assert out[4].n_spans == 0 and out[4].dup_frac == 0.0 and out[4].keep
    # dup_frac 3/7 >= 0.3 -> both passage docs are flagged for drop
    assert not out[1].keep and not out[2].keep


def test_dup_span_profile_matches_python_reference(spark):
    """Randomized corpus (seeded): the Spark profile must equal a
    dictionary-counting reference implementation exactly."""
    import random

    from data_pipeline_csv_spark.operators.dedup import dup_span_profile

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for doc_id in range(60):
        n_tok = rng.randint(3, 40)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n_tok))))
    n = 5
    grams: dict[int, list] = {}
    for doc_id, text in rows:
        t = text.split()
        grams[doc_id] = (
            [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            if len(t) >= n
            else []
        )
    df_count: dict[str, set] = {}
    for doc_id, gs in grams.items():
        for g in gs:
            df_count.setdefault(g, set()).add(doc_id)
    expected = {}
    for doc_id, gs in grams.items():
        n_spans = len(gs)
        n_dup = sum(1 for g in gs if len(df_count[g]) >= 2)
        frac = (n_dup / n_spans) if n_spans else 0.0
        expected[doc_id] = (n_spans, n_dup, frac, frac < 0.3)
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac, r.keep)
        for r in dup_span_profile(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=n
        ).collect()
    }
    assert got == expected


def test_dup_span_coverage_merges_overlapping_islands(spark):
    """The 3 overlapping dup 8-grams of a shared 10-token passage must
    merge into ONE island covering 10 tokens (not 3x8 = 24)."""
    from data_pipeline_csv_spark.operators.dedup import dup_span_coverage

    passage = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    rows = [
        (1, passage + " alpha beta gamma delta"),   # 14 toks
        (2, "zero one two three " + passage),       # 14 toks
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11"),  # no dups
        (4, "tiny doc below n tokens"),             # 5 toks -> no grams
    ]
    out = {
        r.doc_id: r
        for r in dup_span_coverage(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=8
        ).collect()
    }
    # doc 1: dup gram starts 0,1,2 -> one island [0, 9] -> 10 tokens
    assert out[1].n_tokens == 14 and out[1].n_covered == 10
    # doc 2: passage starts at token 4 -> dup starts 4,5,6 -> island [4, 13]
    assert out[2].n_tokens == 14 and out[2].n_covered == 10
    assert out[3].n_covered == 0 and out[3].keep
    assert out[4].n_covered == 0 and out[4].coverage == 0.0 and out[4].keep
    # 10/14 > 0.5 -> both passage docs flagged
    assert not out[1].keep and not out[2].keep


def test_dup_span_coverage_matches_python_reference(spark):
    """Randomized corpus (seeded): Spark coverage must equal a python
    interval-union reference exactly."""
    import random

    from data_pipeline_csv_spark.operators.dedup import dup_span_coverage

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for doc_id in range(50):
        n_tok = rng.randint(3, 35)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n_tok))))
    n = 5
    grams: dict[int, list] = {}
    for doc_id, text in rows:
        t = text.split()
        grams[doc_id] = [
            (" ".join(t[i : i + n]), i) for i in range(max(len(t) - n + 1, 0))
        ]
    docs_of: dict[str, set] = {}
    for doc_id, gs in grams.items():
        for g, _ in gs:
            docs_of.setdefault(g, set()).add(doc_id)
    expected = {}
    for doc_id, text in rows:
        t = text.split()
        covered: set[int] = set()
        for g, i in grams[doc_id]:
            if len(docs_of[g]) >= 2:
                covered.update(range(i, i + n))
        expected[doc_id] = (len(t), len(covered))
    got = {
        r.doc_id: (r.n_tokens, r.n_covered)
        for r in dup_span_coverage(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=n
        ).collect()
    }
    assert got == expected


def test_dup_span_ops_on_boilerplate_hot_ngram(spark):
    """Degenerate corpus: one boilerplate 8-gram shared by EVERY doc
    (the hot-window-group case the scale notes call out). Results must
    stay exact: every doc's 3 boilerplate spans are duplicated, its
    10 boilerplate tokens covered; unique tails stay uncovered."""
    from data_pipeline_csv_spark.operators.dedup import (
        dup_span_coverage,
        dup_span_profile,
    )

    boiler = "all rights reserved contact us at example dot com now"  # 10 toks
    rows = [(i, boiler + f" tail{i} x{i} y{i} z{i}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    prof = {r.doc_id: r for r in dup_span_profile(df, n=8).collect()}
    cov = {r.doc_id: r for r in dup_span_coverage(df, n=8).collect()}
    assert len(prof) == 200 and len(cov) == 200
    for i in range(200):
        # 14 tokens -> 7 spans; spans starting at 0,1,2 lie fully in
        # the shared passage and occur in all 200 docs
        assert prof[i].n_spans == 7 and prof[i].n_dup_spans == 3
        assert cov[i].n_tokens == 14 and cov[i].n_covered == 10


def test_bloom_decontaminate_matches_exact_and_prunes(spark, sf_dir):
    """The Bloom-prefiltered decontamination must (a) return the exact
    broadcast-join path's pairs bit-for-bit (zero false negatives is
    structural: every set bit of a shared shingle is set by the eval
    side) and (b) genuinely prune — the candidate doc set must be a
    strict subset of the training docs on this corpus."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import (
        bloom_candidate_docs,
        cross_corpus_overlap,
        cross_corpus_overlap_bloom,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    want = {
        (r.train_id, r.eval_id, r.jaccard)
        for r in cross_corpus_overlap(train, eval_set, threshold=0.5).collect()
    }
    got = {
        (r.train_id, r.eval_id, r.jaccard)
        for r in cross_corpus_overlap_bloom(train, eval_set, threshold=0.5).collect()
    }
    assert got == want and want  # non-trivial on this corpus

    n_cand = bloom_candidate_docs(train, eval_set).count()
    n_train = train.count()
    assert n_cand < n_train, f"no pruning: {n_cand} of {n_train}"
    # every contaminated train doc is among the candidates (no false
    # negatives end-to-end)
    assert {t for t, _, _ in want} <= {
        r.doc_id for r in bloom_candidate_docs(train, eval_set).collect()
    }


def test_bloom_candidates_empty_eval_set(spark):
    """An empty eval set -> all-zero bitset -> no candidates (and no
    crash in the Arrow batch path)."""
    from data_pipeline_csv_spark.operators.dedup import bloom_candidate_docs

    train = spark.createDataFrame(
        [(1, "some training text here"), (2, "other words entirely")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bloom_candidate_docs(train, empty).count() == 0


def test_remove_dup_spans_surgical_removal(spark):
    """The span-removal transform deletes exactly the merged
    duplicated-span islands and nothing else: shared passages vanish
    from both docs, unique text survives verbatim, untouched docs come
    back with n_removed = 0."""
    from data_pipeline_csv_spark.operators.dedup import remove_dup_spans

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token passage
    rows = [
        (1, f"{shared} unique one"),
        (2, f"{shared} other tail"),
        (3, "totally different words with no shared passage at all here now"),
    ]
    out = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_dup_spans(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1] == ("unique one", 12, 10)
    assert out[2] == ("other tail", 12, 10)
    assert out[3][2] == 0 and out[3][0].startswith("totally different")


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """The shard writer's contract on the written BYTES: one directory
    per shard, exactly ONE data file per shard, and rows inside each
    file physically ordered by the deterministic shuffle position —
    read back via _metadata.row_index, cross-checked against both the
    written pos column and the arithmetic assignment."""
    from data_pipeline_csv_spark.operators.sampling import (
        shuffle_into_shards,
        write_training_shards,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    out = str(tmp_path / "shards")
    write_training_shards(docs.select("doc_id", "text"), out, n_shards=8)

    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shard_dirs) == 8
    for d in shard_dirs:
        files = [
            f for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{d}: expected 1 data file, got {files}"

    rb = spark.read.parquet(out).select(
        "doc_id", "pos", F.col("_metadata.row_index").alias("ridx"),
        F.col("shard").cast("int").alias("shard"),
    )
    # physical order == written pos (row_index is 0-based per file)
    assert rb.filter(F.col("pos") != F.col("ridx") + 1).count() == 0
    # written assignment == arithmetic assignment, every row
    want = shuffle_into_shards(docs, n_shards=8)
    got = rb.select("doc_id", "shard", "pos")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == docs.count()


def test_prefix_filtered_pairs_equal_naive(spark, sf_dir):
    """The prefix filter (SSJoin/all-pairs/PPJoin) is EXACT: the
    prefix-prefix candidate join plus full-set verification returns
    the identical pair set as the naive shared-shingle join — on the
    real corpus and on an adversarial frame where one hot shingle
    appears in every doc (the quadratic bucket the filter exists to
    avoid)."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import (
        ngram_jaccard_cross_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    key = lambda r: (r["d1"], r["d2"], round(r["jaccard"], 12))
    naive = sorted(map(key, ngram_jaccard_pairs(docs, threshold=0.8).collect()))
    pref = sorted(
        map(key, ngram_jaccard_pairs_prefix(docs, threshold=0.8).collect())
    )
    assert naive == pref and naive

    # cross variant == naive pairing restricted to cross pairs
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    cross = sorted(
        map(key, ngram_jaccard_cross_pairs(old, new, threshold=0.8).collect())
    )
    want_cross = sorted(
        (a, b, j) if b in new_ids else (b, a, j)
        for a, b, j in naive
        if (a in new_ids) != (b in new_ids)
    )
    # cross emits d1=old, d2=new; naive emits d1<d2 — normalize above
    assert cross == want_cross

    # one-sided probe (prebuilt corpus index + full batch side) ==
    # the same cross pair set
    from data_pipeline_csv_spark.operators.dedup import (
        jaccard_prefix_index,
        ngram_jaccard_probe_pairs,
    )

    sh_old, prefix_old = jaccard_prefix_index(old, threshold=0.8)
    probe = sorted(
        map(
            key,
            ngram_jaccard_probe_pairs(
                sh_old, prefix_old, new, threshold=0.8
            ).collect(),
        )
    )
    assert probe == want_cross

    # adversarial: every doc shares one hot phrase; only planted twins
    # are real near-dups
    rows = []
    for i in range(40):
        body = f"unique phrase number {i} " * 3
        rows.append((i, f"the same hot boilerplate header {body}"))
    rows.append((100, rows[0][1]))  # exact twin of doc 0
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    naive_a = sorted(map(key, ngram_jaccard_pairs(adv, threshold=0.8).collect()))
    pref_a = sorted(
        map(key, ngram_jaccard_pairs_prefix(adv, threshold=0.8).collect())
    )
    assert naive_a == pref_a
    assert (0, 100) in {(a, b) for a, b, _ in pref_a}


def test_ppjoin_filters_prune_but_keep_boundary(spark):
    """The PPJoin length/positional candidate filters stacked on the
    prefix join are (a) conservative at the EXACT J = t boundary — the
    1e-9 slack means double rounding of t*n can never drop a boundary
    pair — and (b) not dead code: on a snippet-vs-document corpus the
    length filter removes every snippet candidate BEFORE verification
    while the true near-dup pairs all survive."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import (
        _ppjoin_filters,
        _prefix_entries,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        shingle_sets,
    )

    # (a) boundary pairs at exactly J = 0.8:
    #  - equal sizes: 11 words -> 9 shingles; changing the LAST word
    #    flips exactly 1 shingle -> shared 8, union 10, J = 0.8
    #  - skewed sizes at the length-filter edge: a 10-word doc (8
    #    shingles) fully contained in its 12-word extension (10
    #    shingles) -> J = 8/10 and min = 8 == 0.8 * max exactly
    w = [f"tok{i}" for i in range(12)]
    rows = [
        (1, " ".join(w[:11])),
        (2, " ".join(w[:10] + ["changed"])),
        (3, " ".join(w[:10])),
        (4, " ".join(w[:12])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in ngram_jaccard_pairs_prefix(docs, threshold=0.8).collect()
    }
    naive = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == naive
    assert abs(got[(1, 2)] - 0.8) < 1e-12
    assert abs(got[(3, 4)] - 0.8) < 1e-12

    # (b) pruning: tiny doc i is the leading excerpt of huge doc i
    # (rare df=2 marker + start of a shared boilerplate body), so the
    # marker heads BOTH prefixes and the prefix join alone generates
    # the snippet candidate; sizes differ ~20x, so the length filter
    # kills it. The 100 huge docs are mutual near-dups (identical
    # body) and must all survive.
    body = " ".join(f"boiler plate word{j}" for j in range(100))
    rows = []
    for i in range(100):
        rare = f"qqq{i} zzz{i} kkk{i}"
        rows.append((i, f"{rare} boiler plate word0 boiler"))
        rows.append((1000 + i, f"{rare} {body}"))
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_sets(adv).localCheckpoint()
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    p = _prefix_entries(sh, freq, 0.8)
    a, b = p.alias("a"), p.alias("b")
    base = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    sel = lambda j: j.select("a.doc_id", "b.doc_id").distinct().count()
    n_prefix_only = sel(a.join(b, base))
    n_ppjoin = sel(a.join(b, base & _ppjoin_filters(0.8)))
    assert n_ppjoin < n_prefix_only  # filters actually prune
    assert n_ppjoin == 4950  # exactly the C(100,2) true huge-huge pairs
    # and the final answer is still exact
    key = lambda r: (r["d1"], r["d2"], round(r["jaccard"], 12))
    assert sorted(
        map(key, ngram_jaccard_pairs_prefix(adv, threshold=0.8, sh=sh).collect())
    ) == sorted(map(key, ngram_jaccard_pairs(adv, threshold=0.8).collect()))

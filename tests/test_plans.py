"""Physical-plan shape assertions for the scale-critical operators.

These encode the 100 TB design claims as regressions: if a refactor
reintroduces an all-pairs join or an extra wide shuffle, these fail
even though results stay correct.
"""

from __future__ import annotations

import contextlib
import io

from data_pipeline_csv_spark.queries import REGISTRY


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_embedding_neardup_has_no_all_pairs_join(spark, sf_dir):
    """The blocked-GEMM near-dup must not contain a cartesian/nested-loop
    pair join — candidate generation happens inside applyInPandas."""
    plan = _plan(REGISTRY["similarity_embedding_neardup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the GEMM stage is present


def test_clustered_neardup_plan_has_no_all_pairs_stage(spark, sf_dir):
    """The approximate mode must carry NO all-pairs structure: no
    cartesian/nested-loop join, and none of the exact mode's block-pair
    replication (an explode over the full block sequence). Assignment is
    a map-side MapInPandas against the broadcast centroid matrix; the
    only wide stage is the single groupBy(cell) feeding the per-cell
    GEMM. Asserted on the operator pipeline itself — the registered
    query is an exact-vs-approx AUDIT whose plan necessarily also
    contains the exact side."""
    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        embedding_cosine_neardup_clustered,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(sf_dir, "embeddings")
    )
    plan = _plan(
        embedding_cosine_neardup_clustered(corpus, cents, threshold=0.45, nprobe=4)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "explode" not in plan  # exact mode's block replication marker
    assert "MapInPandas" in plan  # map-side cell assignment
    assert "FlatMapGroupsInPandas" in plan  # per-cell GEMM
    # exactly one exchange keyed on the cell id feeds the GEMM
    assert plan.count("hashpartitioning(cell#") == 1


def test_minhash_lsh_plan_has_no_window_and_no_shingle_distinct(spark, sf_dir):
    """Bucket capping is an aggregate (not a window pass), and signatures
    aggregate raw shingles (no distinct exchange before groupBy)."""
    plan = _plan(REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "Window" not in plan
    # exactly one aggregation consumes the exploded shingles: the
    # signature groupBy. A reintroduced distinct would add a second
    # exchange keyed on (doc_id, shingle).
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(doc_id#" in plan and "shingle" not in plan.split("Exchange")[1].split("\n")[0]


def test_keep_best_single_window_shuffle(spark, sf_dir):
    """The keep-best ranking runs both window functions over ONE
    cluster_id exchange."""
    plan = _plan(REGISTRY["corpus_dedup_keep_best"].fn(spark, sf_dir))
    assert plan.count("Window") >= 1
    assert plan.count("hashpartitioning(cluster_id") <= 1


def test_topk_uses_windowgrouplimit_pushdown(spark, sf_dir):
    """rank<=k filters must push a WindowGroupLimit below the sort, so
    the shuffle carries only per-partition top-k candidates."""
    plan = _plan(REGISTRY["similarity_cosine_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_weighted_reservoir_pushes_windowgrouplimit(spark, sf_dir):
    """The per-stratum top-k sample must forward at most k rows per
    task into the exchange (WindowGroupLimit below the sort), never
    the whole corpus."""
    plan = _plan(REGISTRY["sample_weighted_reservoir"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_q9_star_join_broadcasts_all_dims(spark, sf_dir):
    """The 5-way Q9 star join must broadcast part/supplier/nation and
    shuffle only the two facts (lineitem join orders)."""
    plan = _plan(REGISTRY["q9_product_profit"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """Decontamination must broadcast the eval shingle set so the
    candidate join never shuffles the training corpus."""
    plan = _plan(REGISTRY["corpus_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_pure_map_side(spark, sf_dir):
    """PII redaction is a projection over the scan: no exchange beyond
    the layout-balancing round-robin, no join, no aggregate."""
    plan = _plan(REGISTRY["text_pii_scrub"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan  # only roundrobin from balanced()


def test_q6_pushes_filters_and_prunes_columns(spark, sf_dir):
    """The filter-heavy single-table Q6 must reach the parquet scan
    with its predicates pushed and only the 4 referenced columns in
    ReadSchema — a scan reading all 16 lineitem columns for a
    4-column query is wrong at any scale."""
    plan = _plan(REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThanOrEqual(l_shipdate" in pushed[0]
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read  # pruned
    assert read.count(":") <= 6  # struct< + 4 columns


def test_filter_project_scan_is_minimal(spark, sf_dir):
    plan = _plan(REGISTRY["filter_project"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThan(l_quantity" in pushed[0]
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read and "l_comment" not in read


def test_tfidf_has_no_expand(spark, sf_dir):
    """The two-level (term, doc_id) pre-aggregation must not regress to
    the built-in mixed-distinct plan, whose Expand doubles the exploded
    token stream before its first shuffle."""
    plan = _plan(REGISTRY["text_tfidf_terms"].fn(spark, sf_dir))
    assert "Expand" not in plan
    assert "partial" in plan.lower()  # map-side combine on the raw stream


def test_ivf_ondisk_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """A probe against the materialized IVF layout must reach the scan
    as a literal partition filter on list_id — the scan opens only the
    probed lists' directories, the disk-level pruning the 100 TB ANN
    story rests on."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        ann_ivf_probe_ondisk,
        write_ivf_layout,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(sf_dir, "embeddings")
    )
    layout = str(tmp_path / "ivf_layout")
    write_ivf_layout(corpus, cents, layout)
    from data_pipeline_csv_spark.operators.similarity import ivf_scan

    all_lists = {
        int(r["list_id"])
        for r in ivf_scan(spark, layout).select("list_id").distinct().collect()
    }
    total_files = len(
        [f for f in os.listdir(os.path.join(layout, "data")) if f.endswith(".parquet")]
    )
    assert len(all_lists) > 4  # a real multi-list layout

    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    df, lists = ann_ivf_probe_ondisk(
        spark, layout, queries, cents, k=10, nprobe=4, return_lists=True
    )
    assert 0 < len(lists) < len(all_lists)  # genuinely pruned

    plan = _plan(df)
    import re as _re

    assert "PushedFilters" in plan and _re.search(r"In\(list_id", plan), plan

    # physical check (r14 commit log): the manifest-planned read opens
    # only a probed-fraction of the layout's files, and every row it
    # returns is in a probed list
    from data_pipeline_csv_spark.operators.similarity import read_ivf_lists

    pruned = read_ivf_lists(spark, layout, lists)
    opened = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < opened < total_files
    got_lists = {int(r["list_id"]) for r in pruned.select("list_id").distinct().collect()}
    assert got_lists <= set(lists)

    # and the pruned probe returns the same neighbors as the in-memory
    # IVF with identical centroids
    from data_pipeline_csv_spark.operators.similarity import ann_ivf_topk

    want = {
        (r.q_id, r.vec_id, r.rank)
        for r in ann_ivf_topk(corpus, [0, 1, 2, 3], k=10, nprobe=4, centroids=cents).collect()
    }
    got = {(r.q_id, r.vec_id, r.rank) for r in df.collect()}
    assert got == want


def test_pq_rerank_fetch_prunes_partitions(spark, sf_dir, tmp_path):
    """The PQ rerank's shortlist vector fetch must be a POINT LOOKUP
    against the IVF layout: the shortlist's list_ids reach the scan as
    a literal partition filter, so the exact rerank never re-scans the
    embedding table — it opens only the shortlist's list directories.
    Mirrors test_ivf_ondisk_probe_prunes_partitions for the rerank's
    cand plan (the pipeline queries/similarity.similarity_ann_pq_rerank
    builds)."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
        read_ivf_lists,
        write_ivf_layout,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    books = pq_train(spark, corpus, dim=64, m=8, k=16, iters=2, cache_key=(sf_dir, "pq8"))
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(sf_dir, "embeddings")
    )
    layout = str(tmp_path / "pq_ivf_layout")
    write_ivf_layout(corpus, cents, layout)
    from data_pipeline_csv_spark.operators.similarity import ivf_scan

    all_lists = {
        int(r["list_id"])
        for r in ivf_scan(spark, layout).select("list_id").distinct().collect()
    }
    total_files = len(
        [f for f in os.listdir(os.path.join(layout, "data")) if f.endswith(".parquet")]
    )
    assert len(all_lists) > 2  # a real multi-list layout

    qrows = [
        (r["vec_id"], r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 3)
        .collect()
    ]
    codes = pq_encode(
        ivf_scan(spark, layout).withColumn(
            "list_id", F.col("list_id").cast("bigint")
        ),
        books,
        m=8,
        carry=("list_id",),
    )
    short = (
        pq_adc_topk(codes, books, qrows, k=20, carry="list_id")
        .select("q_id", "vec_id", "list_id")
        .toPandas()
    )
    lists = sorted(set(short["list_id"].tolist()))
    assert 0 < len(lists) <= len(all_lists)

    # the rerank's cand fetch, exactly as the registered query builds
    # it: the collected shortlist comes back as a driver-built frame
    short_df = spark.createDataFrame(
        short[["q_id", "vec_id"]], "q_id long, vec_id long"
    )
    cand = short_df.join(
        read_ivf_lists(spark, layout, lists).select("vec_id", "embedding"), "vec_id"
    )
    plan = _plan(cand)
    import re as _re

    assert "PushedFilters" in plan and _re.search(r"In\(list_id", plan), plan

    # physical check (r14 commit log): the manifest-planned fetch
    # opens only a shortlist-fraction of the layout's files and every
    # row is in a shortlist list
    pruned = read_ivf_lists(spark, layout, lists)
    opened = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < opened <= total_files
    got_lists = {
        int(r["list_id"]) for r in pruned.select("list_id").distinct().collect()
    }
    assert got_lists <= set(lists)


def test_compacted_lsh_probe_index_side_shuffle_free(spark, sf_dir, tmp_path):
    """Probing a compacted LSH index table bucketed by (band_id,
    band_hash) must not shuffle the index side: only the probe batch
    moves. This is the 100 TB claim behind compact_neardup_state —
    the corpus-sized index is read in place, O(|batch|) rows shuffle."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import (
        lsh_band_entries,
        lsh_probe_candidates,
    )
    from data_pipeline_csv_spark.sources.tables import load_table
    from data_pipeline_csv_spark.streaming import (
        compact_neardup_state,
        neardup_epoch_writer,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    state = str(tmp_path / "state")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        import os

        from data_pipeline_csv_spark.streaming.sinks import _read_neardup_marker

        neardup_epoch_writer(spark, state)(old, 0)
        compact_neardup_state(spark, state, "t_lsh_idx_plan_test", n_buckets=4)
        gens, _upto = _read_neardup_marker(
            os.path.join(state, "compacted_index_table")
        )
        idx = spark.table(gens[-1]["table"])
        probe = lsh_band_entries(docs.filter(F.col("doc_id") % 5 == 0))
        # force the SMJ path the buckets exist for (a tiny test probe
        # would broadcast; at scale a large backfill batch cannot)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = lsh_probe_candidates(idx, probe, broadcast_probe=False)
        plan = _plan(cand)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # exactly ONE exchange keyed on the band columns: the probe
        # side. A second one would mean the bucketed index shuffled.
        assert plan.count("hashpartitioning(band_id") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in spark.catalog.listTables():
            if t.name.startswith("t_lsh_idx_plan_test"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_containment_lsh_has_no_shingle_self_join(spark, sf_dir):
    """containment_lsh_pairs' candidate stage must come from the band
    buckets, never from a shingle-equality self-join (the quadratic
    stage it exists to replace): every join in the plan is keyed on
    ids/band columns, and the band pipeline is present."""
    from data_pipeline_csv_spark.operators.dedup import containment_lsh_pairs
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    plan = _plan(containment_lsh_pairs(docs, threshold=0.9))
    assert "band_hash" in plan  # the banding candidate stage
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines and not [l for l in join_lines if "shingle" in l]
    # verification keys on intersect of per-doc shingle ARRAYS — no
    # exploded-shingle equi-join may reappear anywhere
    assert "Join condition: (shingle" not in plan


def test_containment_lsh_ensemble_plan_shape(spark, sf_dir):
    """The size-stratified ensemble keeps the same scale contract as
    the flat banding: band-bucket candidates (never a shingle
    self-join) and no forced broadcast anywhere (the candidate doc set
    grows with the corpus)."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_lsh_ensemble_pairs,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    df = containment_lsh_ensemble_pairs(docs, threshold=0.9)
    plan = _plan(df)
    assert "band_hash" in plan  # the banding candidate stage
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines and not [l for l in join_lines if "shingle" in l]
    assert "Join condition: (shingle" not in plan
    assert "=broadcast" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_lm_filters_do_not_force_vocab_broadcast(spark, sf_dir):
    """The corpus-trained frequency tables GROW with the corpus (token
    vocab by Heaps' law, bigram vocab near-linearly), so neither LM
    filter may carry a forced broadcast hint on them — a hint pins the
    plan to an executor OOM at 100 TB and disables AQE's fail-over to
    a skew-splittable shuffle join. The only allowed hint is
    text_unigram_logprob's 1-row corpus-total scalar (constant-size by
    construction). AQE still broadcasts the small vocab at test SFs —
    that choice belongs to the runtime, not the query."""

    def _opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    uni = REGISTRY["text_unigram_logprob"].fn(spark, sf_dir)
    opt = _opt(uni)
    # exactly one hint: the scalar total on the cross join
    assert opt.count("=broadcast") == 1
    hinted = [l for l in opt.splitlines() if "=broadcast" in l]
    assert "Join Cross" in hinted[0]
    # r15 pre-agg shape: one (doc_id, tok) pre-aggregation feeds the
    # freq fold, the total fold and the NLL join's stream side, so its
    # exchange appears once per consumer subtree in the INITIAL plan
    # text (runtime ReuseExchange dedupes the copies within the job —
    # the r14 ccnet precedent). Static occurrences therefore bound at
    # 6 over 4 distinct exchanges: pre-agg, tok-keyed freq fold, the
    # tok-keyed join re-exchange, and the per-doc agg.
    plan = _plan(uni)
    assert plan.count("hashpartitioning(") <= 6
    assert "CartesianProduct" not in plan

    big = REGISTRY["text_bigram_logprob"].fn(spark, sf_dir)
    assert "=broadcast" not in _opt(big)
    assert "CartesianProduct" not in _plan(big)


def test_dedup_verification_does_not_force_broadcasts(spark, sf_dir):
    """In the corpora dedup exists for, duplicates are a large constant
    fraction, so the candidate-pair doc-id set (cand_docs inside
    _verify_candidates) grows ~linearly with the corpus — no join in a
    batch dedup plan may carry a forced broadcast hint on it (the same
    argument that removed the LM filters' vocab hints: a pinned
    broadcast is an executor OOM at 100 TB and disables AQE's
    fail-over to a skew-splittable shuffle join). AQE still broadcasts
    the small sides at test SFs — that choice belongs to the runtime,
    not the operator."""
    from data_pipeline_csv_spark.operators.dedup import (
        containment_lsh_pairs,
        minhash_lsh_pairs,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    def _opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    assert "=broadcast" not in _opt(minhash_lsh_pairs(docs, threshold=0.8))
    assert "=broadcast" not in _opt(containment_lsh_pairs(docs, threshold=0.9))


def test_quantize_int8_is_pure_projection(spark, sf_dir):
    """int8 quantization must stay a map-side projection: no join, no
    aggregate, no hash exchange (only balanced()'s layout round-robin)."""
    plan = _plan(REGISTRY["embedding_quantize_int8"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_repetition_filter_aggregates_map_side(spark, sf_dir):
    """Bigram counting must go through partial aggregation (map-side
    combine) before the doc_id exchange — the explode's output never
    shuffles at full width — and the bigram expression must not be
    inlined into per-row lambdas (no HigherOrderFunction recompute)."""
    plan = _plan(REGISTRY["text_repetition_filter"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_dup_spans_single_gram_pipeline(spark, sf_dir):
    """The duplicated-span profile must tokenize/explode the corpus
    ONCE: the df-flag comes from a window over the reduced (ngram,
    doc_id) set, not a second gram pipeline (a groupBy+join flag
    recomputes scan->explode->shuffle; measured 1.7x slower)."""
    import re

    plan = _plan(REGISTRY["dedup_dup_spans"].fn(spark, sf_dir))
    # formatted explain lists each node twice (tree + detail section)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert "Window" in plan


def test_containment_audit_plan_unchanged(spark):
    """audit.scalar_audit is scaffolding extraction, not a plan
    change: composed over the same 1-row aggregates, the helper must
    produce a byte-identical optimized plan to the inline crossJoin
    chain it replaced at the dedup/similarity audit sites."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.audit import scalar_audit

    exact = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    approx = spark.createDataFrame([(1, 2), (3, 4)], "d1 long, d2 long")
    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_f = approx.join(exact, ["d1", "d2"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_false")
    )
    n_m = approx.join(exact, ["d1", "d2"], "leftsemi").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    helper = scalar_audit(n_e, n_f, n_m)
    inline = n_e.crossJoin(n_f).crossJoin(n_m)

    def norm(df):
        # self-join disambiguation mints fresh expression ids per
        # build; the structural plan is what must not change
        import re

        return re.sub(
            r"#\d+", "#x", df._jdf.queryExecution().optimizedPlan().toString()
        )

    assert norm(helper) == norm(inline)


def test_kmv_sketch_plans_take_ordered(spark, sf_dir):
    """The KMV sketch build must plan as TakeOrderedAndProject —
    per-partition k-smallest + a k-row merge (the mergeable-sketch
    update rule) — never a global sort of the distinct key set."""
    from data_pipeline_csv_spark.operators.kmv import kmv_sketch
    from data_pipeline_csv_spark.sources.tables import load_table

    plan = _plan(kmv_sketch(load_table(spark, sf_dir, "orders"), "o_custkey", 128))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan  # the sort+limit anti-shape


def test_nb_classifier_model_join_broadcasts(spark, sf_dir):
    """Scoring joins the corpus token stream against the n_buckets-row
    model — the model side must broadcast (512 rows); the corpus side
    must never be broadcast."""
    plan = _plan(REGISTRY["text_quality_classifier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the per-doc score aggregate stays a hash aggregate over the
    # stream side, not a windowed global structure
    assert "Window" not in plan


def test_source_overlap_scans_corpus_once(spark, sf_dir):
    """The size columns come from window maxes over the pair matrix,
    not filtered self-joins: a join formulation pushes its filters
    below the count aggregate's exchange, defeats exchange reuse, and
    re-scans + re-shingles the whole corpus per consumer (measured 3
    scans). Pin the single-scan shape."""
    from data_pipeline_csv_spark.queries import REGISTRY

    df = REGISTRY["corpus_source_overlap"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_label_propagation_argmax_has_no_per_round_window(spark, sf_dir):
    """The per-round argmax is a max_by AGGREGATE fused onto the
    (node, label) vote counts, not a row_number window: at extreme hub
    in-degree a window sorts the hub's whole (node, label) group in
    one task, while the aggregate stays a hash-agg probe per label.
    The ONLY Window in the 2-round plan is the final community-size
    annotation."""
    df = REGISTRY["graph_label_propagation"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Window ") == 1, plan


def test_pit_join_is_keyed_equi_join(spark, sf_dir):
    """The point-in-time join must plan as an equi-join on the user
    key with the validity interval as a residual condition — never a
    nested-loop/cartesian range join."""
    plan = _plan(REGISTRY["events_pit_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_filtered_ann_label_is_partition_filter(spark, sf_dir):
    """Filtered ANN on the commit-log layout (r14): the metadata
    predicate must land as a PUSHED FILTER on the manifest-planned
    scan, alongside the probed-list INSET — the labeled layout is
    list-then-label ordered (skip_cols = (list_id, label)), so both
    predicates prune row groups inside the files the manifest plan
    already restricted to the probed lists."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        ann_ivf_probe_ondisk,
        ivf_layout_cached,
    )
    from data_pipeline_csv_spark.sources.tables import balanced, load_table

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(sf_dir, "embeddings")
    )
    layout = ivf_layout_cached(
        corpus, cents, cache_key=(sf_dir, "ivf16_labeled"),
        carry=("label",), partition_cols=("list_id", "label"),
    )
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = ann_ivf_probe_ondisk(
        spark, layout, queries, cents, k=5, nprobe=4, where=(F.col("label") == 3)
    )
    plan = _plan(approx)
    import re

    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    # the LAYOUT scan's line must carry BOTH the metadata predicate
    # and the probed-list restriction (IN / INSET depending on the
    # list count); the queries-side scan has its own line
    hit = [
        ln
        for ln in pushed
        if re.search(r"EqualTo\(label,3\)", ln) and re.search(r"In\(list_id", ln)
    ]
    assert hit, pushed
    # semantics: every returned candidate respects the filter
    assert approx.count() > 0, "filtered probe must return candidates"


def test_zorder_scan_prunes_buckets(spark, sf_dir):
    """The 2-D box scan must read only the files whose cell run
    intersects the covering set (r14: driver-side manifest planning
    replaced Hive partition pruning): the executed scan opens a small
    fraction of the layout's files, and the residual zb IN + range
    predicates push into the surviving files' row groups."""
    import os
    import re

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.maintenance import _zorder_layout_cached

    df = REGISTRY["layout_zorder_pruned_scan"].fn(spark, sf_dir)
    layout = _zorder_layout_cached(spark, sf_dir)
    total = len(
        [
            f
            for f in os.listdir(os.path.join(layout, "data"))
            if f.endswith(".parquet")
        ]
    )
    opened = df.select(F.input_file_name()).distinct().count()
    assert 0 < opened < max(2, total // 4), (opened, total)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"In\(zb", plan), plan  # covering-cell residual pushed


def test_zorder_compacted_scan_prunes_buckets(spark, sf_dir):
    """The appended-then-compacted layout keeps the pruning contract
    (r14 commit log): the scan plans from the LATEST commit's manifest
    and opens a small fraction of the on-disk files (which include
    retained pre-compaction versions), residuals pushed."""
    import os
    import re

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.maintenance import _zorder_compacted_cached

    df = REGISTRY["layout_zorder_compacted_scan"].fn(spark, sf_dir)
    layout = _zorder_compacted_cached(spark, sf_dir)[0]
    total = len(
        [
            f
            for f in os.listdir(os.path.join(layout, "data"))
            if f.endswith(".parquet")
        ]
    )
    opened = df.select(F.input_file_name()).distinct().count()
    assert 0 < opened < max(2, total // 4), (opened, total)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"In\(zb", plan), plan  # covering-cell residual pushed


def test_video_neardup_no_nested_loop(spark, sf_dir):
    """Frame matching must come from band equi-joins, never an
    all-frame-pairs product."""
    df = REGISTRY["multimodal_video_neardup"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dpp_scan_prunes_at_runtime(spark, sf_dir):
    """The fact scan must carry a dynamicpruningexpression partition
    filter (runtime month IN-set from the filtered dim broadcast)."""
    df = REGISTRY["layout_dpp_scan"].fn(spark, sf_dir)
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "dynamicpruningexpression" in pf[0], pf


def test_zorder3_scan_prunes_buckets(spark, sf_dir):
    """The 3-D box scan must read only the files whose cell run
    intersects the covering boxes (24 of 512 cells for this box):
    manifest file planning + pushed zb IN residual (r14)."""
    import os
    import re

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.maintenance import _zorder3_layout_cached

    df = REGISTRY["layout_zorder3_pruned_scan"].fn(spark, sf_dir)
    layout = _zorder3_layout_cached(spark, sf_dir)
    total = len(
        [
            f
            for f in os.listdir(os.path.join(layout, "data"))
            if f.endswith(".parquet")
        ]
    )
    opened = df.select(F.input_file_name()).distinct().count()
    assert 0 < opened < max(2, total // 4), (opened, total)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"In\(zb", plan), plan  # covering-cell residual pushed


def test_hilbert_scan_prunes_buckets(spark, sf_dir):
    """The Hilbert box scan must read only the files whose CELL RUN
    intersects the covering cells — same planning math as Morton, the
    Hilbert cell id in the manifest interval (r14)."""
    import os
    import re

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.maintenance import _hilbert_layout_cached

    df = REGISTRY["layout_hilbert_pruned_scan"].fn(spark, sf_dir)
    layout = _hilbert_layout_cached(spark, sf_dir)
    total = len(
        [
            f
            for f in os.listdir(os.path.join(layout, "data"))
            if f.endswith(".parquet")
        ]
    )
    opened = df.select(F.input_file_name()).distinct().count()
    assert 0 < opened < max(2, total // 4), (opened, total)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"In\(zb", plan), plan  # covering-cell residual pushed


def test_hilbert3_scan_prunes_buckets(spark, sf_dir):
    """The 3-D Hilbert box scan: the zorder3 plan shape with the
    cell ids mapped through the n-D Hilbert walk (r13; r14 commit-log
    file planning), small opened fraction + pushed zb IN residual."""
    import os
    import re

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.queries.maintenance import _hilbert3_layout_cached

    df = REGISTRY["layout_hilbert3_pruned_scan"].fn(spark, sf_dir)
    layout = _hilbert3_layout_cached(spark, sf_dir)
    total = len(
        [
            f
            for f in os.listdir(os.path.join(layout, "data"))
            if f.endswith(".parquet")
        ]
    )
    opened = df.select(F.input_file_name()).distinct().count()
    assert 0 < opened < max(2, total // 4), (opened, total)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"In\(zb", plan), plan  # covering-cell residual pushed


def test_stats_skipping_scan_prunes_files(spark, sf_dir):
    """File planning must come from the manifest: the 3-month scan
    keeps a small fraction of the 48 files, the executed scan opens
    EXACTLY the planned files, and the residual predicates still push
    into the surviving files' row groups."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import stats_pruned_scan
    from data_pipeline_csv_spark.queries.maintenance import _skip_layout_cached

    layout = _skip_layout_cached(spark, sf_dir)
    df, files = stats_pruned_scan(
        spark,
        layout,
        {"l_shipdate": (datetime(1996, 3, 1), datetime(1996, 5, 31))},
        return_files=True,
    )
    assert 0 < len(files) < 12  # 3 of 48 at sf0.01; well under a quarter
    opened = {
        r[0]
        for r in df.select(F.input_file_name()).distinct().collect()
    }
    assert opened <= set(files), (sorted(opened), files)
    plan = _plan(df)
    assert "PushedFilters" in plan
    # equality with the plain unskipped filter
    want = (
        spark.read.parquet(f"{layout}/data")
        .filter(
            (F.col("l_shipdate") >= F.lit(datetime(1996, 3, 1)))
            & (F.col("l_shipdate") <= F.lit(datetime(1996, 5, 31)))
        )
        .count()
    )
    assert df.count() == want


def test_triangle_incremental_plan_shape(spark, sf_dir):
    """The incremental triangle fold must stay keyed: no cartesian
    product and no broadcast nested loop anywhere in the delta joins
    (the only crossJoins are the 1-row broadcast scalar combines)."""
    df = REGISTRY["graph_triangle_incremental"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # 1-row scalar combines plan as BroadcastNestedLoopJoin with a
    # single-row build side — allowed; a nested loop join over real
    # relations would carry a join CONDITION, which none may have
    lines = plan.splitlines()
    assert any("BroadcastNestedLoopJoin" in ln for ln in lines)
    for i, ln in enumerate(lines):
        if ln.strip().startswith("(") and ln.rstrip().endswith(
            "BroadcastNestedLoopJoin"
        ):
            detail = "\n".join(lines[i : i + 3])
            assert "Join type: Cross" in detail, detail
            assert "Join condition: None" in detail, detail


def test_join_size_estimate_samples_before_aggregating(spark, sf_dir):
    """The correlated-sampling estimate must filter by the hash
    BEFORE its aggregate (map-side, so the shuffle carries only the
    sampled key space): the plan's sampled branch shows the tau
    comparison under a Filter feeding a HashAggregate, and nothing
    in the plan is a cartesian product."""
    df = REGISTRY["sketch_join_size_estimate"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "18014398509481984" in plan  # tau = 2^54 literal in the filter
    # the estimate-side aggregates are fed by the tau filter on the RAW
    # per-row hash (r11 ADVICE: the old `or` fallback made this
    # assertion a tautology): require a Filter node whose CONDITION
    # contains both the tau literal and the md5 hash input — a post-agg
    # HAVING filter would compare an aggregate output, never the md5
    # expression, so this shape is only satisfiable map-side
    blocks = plan.split("\n\n")
    assert any(
        "Filter" in b.splitlines()[0]
        and "18014398509481984" in b
        and "md5" in b
        for b in blocks
        if b.strip()
    ), plan


def test_triangle_edge_incremental_plan_shape(spark, sf_dir):
    """The edge-arrival triangle fold must stay keyed, like the vertex
    fold: no cartesian product, and every BroadcastNestedLoopJoin is a
    1-row scalar combine (cross type, no condition)."""
    df = REGISTRY["graph_triangle_edge_incremental"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    assert any("BroadcastNestedLoopJoin" in ln for ln in lines)
    for i, ln in enumerate(lines):
        if ln.strip().startswith("(") and ln.rstrip().endswith(
            "BroadcastNestedLoopJoin"
        ):
            detail = "\n".join(lines[i : i + 3])
            assert "Join type: Cross" in detail, detail
            assert "Join condition: None" in detail, detail


def test_join_strategy_audit_broadcasts_below_threshold(spark, sf_dir):
    """The chooser's decision must reach the physical plan: below the
    threshold the executed join IS a broadcast hash join; above it the
    merge hint pins a sort-merge join (no broadcast of either side)."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.kmv import join_with_estimated_strategy
    from data_pipeline_csv_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    below = join_with_estimated_strategy(
        li, urgent, "l_orderkey", "o_orderkey", broadcast_threshold=10**12
    )
    plan = _plan(below)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan

    above = join_with_estimated_strategy(
        li, urgent, "l_orderkey", "o_orderkey", broadcast_threshold=0
    )
    plan = _plan(above)
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    ids of the jobs the group launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-budget pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _csv_dir(tmp_path, n_files: int, rows: int = 5):
    d = tmp_path / "csvs"
    d.mkdir()
    for i in range(n_files):
        body = "".join(f"{i * rows + j},n{j},{j}.5\n" for j in range(rows))
        (d / f"part{i:02d}.csv").write_text("id,name,price\n" + body)
    return str(d)


def test_read_csv_dir_jobs_stay_in_caller_job_group(spark, tmp_path):
    """Per-file schema resolution runs on pool threads; every one of its
    jobs must still carry the caller's job group (cancelJobGroup and
    job accounting depend on it). Each file costs at least one job."""
    from data_pipeline_csv_spark.sources.csv import read_csv_dir

    n = 2 * spark.sparkContext.defaultParallelism + 1
    path = _csv_dir(tmp_path, n)
    df, jobs = _jobs_in_group(
        spark, "read-csv-dir-budget", lambda: read_csv_dir(spark, path)
    )
    assert len(jobs) >= n
    assert df.count() == 5 * n


def test_warm_read_csv_dir_runs_no_job(spark, tmp_path):
    """A second read of an unchanged directory takes every file's
    schema from the schema cache: no header or inference job (the
    first read ran at least one per file)."""
    from data_pipeline_csv_spark.sources.csv import read_csv_dir

    path = _csv_dir(tmp_path, 4)
    read_csv_dir(spark, path)
    df, jobs = _jobs_in_group(
        spark, "read-csv-dir-warm", lambda: read_csv_dir(spark, path)
    )
    assert jobs == []
    assert df.count() == 20


def test_warm_pipeline_run_is_one_job(spark, tmp_path):
    """A pipeline run over an unchanged raw directory is the write job
    alone: ingest resolves no schema, and load counts its rows inside
    the write (a run that re-inferred ran 2n+1 jobs for n files)."""
    from data_pipeline_csv_spark.engine import PipelineEngine

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    src = _csv_dir(tmp_path, 4)
    engine.run_pipeline(src, "products")
    res, jobs = _jobs_in_group(
        spark, "pipeline-warm", lambda: engine.run_pipeline(src, "products")
    )
    assert len(jobs) == 1
    assert res.rows_written == 20


def test_pipeline_load_is_one_job(spark, tmp_path):
    """PipelineEngine.load counts rows inside the write job: one job,
    no re-read of the written table."""
    from data_pipeline_csv_spark.engine import PipelineEngine

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    cleaned = engine.clean(engine.ingest(_csv_dir(tmp_path, 4)))
    res, jobs = _jobs_in_group(
        spark, "engine-load-budget", lambda: engine.load(cleaned, "products")
    )
    assert len(jobs) == 1
    assert res.rows_written == 20


def test_read_path_job_budget(spark, tmp_path):
    """preview + stats of an unchanged table take the table's schema
    from the schema cache, and stats counts the rows from the parquet
    footers: at most 1 job warm (the limit collect; a Spark count ran
    3, an uncached read 5), at most 2 on the first read after a
    rewrite (the schema inference and the limit collect; a Spark count
    ran 4), and a warm stats alone runs none (a Spark count ran 2)."""
    from data_pipeline_csv_spark.engine import PipelineEngine

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    # 25 rows per file: the first scanned file fills the preview, so
    # the limit collect is one job
    src = _csv_dir(tmp_path, 4, rows=25)

    def read():
        return engine.preview("products", 10), engine.stats("products")

    for i in range(2):  # the second pass reads after an overwrite
        engine.run_pipeline(src, "products")
        (rows, st), jobs = _jobs_in_group(spark, f"read-path-first-{i}", read)
        assert len(jobs) <= 2
        assert len(rows) == 10 and st["total_records"] == 100
        _, jobs = _jobs_in_group(spark, f"read-path-warm-{i}", read)
        assert len(jobs) <= 1
        st, jobs = _jobs_in_group(
            spark, f"stats-warm-{i}", lambda: engine.stats("products")
        )
        assert jobs == [] and st["total_records"] == 100


def test_compact_table_job_budget(spark, tmp_path):
    """compact_table counts the source rows inside its write job (an
    Observation) and the staged files' rows from their parquet footers:
    at most 3 jobs per call on a 1000-row, 8-file table (the source's
    schema inference after each rewrite and the repartitioned write).
    A Spark count of the staged files ran 5; a separate source count
    plus a staged read that inferred its schema ran 7, and 8 on a
    repeat call."""
    import os

    from data_pipeline_csv_spark.engine import PipelineEngine

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(8).write.parquet(
        os.path.join(str(tmp_path / "wh"), "t")
    )
    engine.read_table("t").schema  # the first call reads a cached schema
    for i in range(2):  # the second call reads after the first's rewrite
        res, jobs = _jobs_in_group(
            spark, f"compact-table-budget-{i}", lambda: engine.compact_table("t")
        )
        assert res.rows_written == 1000
        assert len(jobs) <= 3
    assert engine.read_table("t").count() == 1000


def test_layout_creates_commit_the_written_schema(spark, sf_dir, tmp_path):
    """The stats, bucket and IVF layout creates commit the schema of
    the frame they write, with no schema-inference job over the files
    they have just written: the committed data_schema must equal the
    schema Spark reads back from those files (nested fields, array
    elements and map values all nullable), and the stats-layout
    create of a small frame runs at most 5 jobs (reading the written
    files' schema back made 6)."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.layout import (
        _load_version,
        _skip_data_dir,
        write_stats_layout,
        write_zorder_table_nd,
    )
    from data_pipeline_csv_spark.operators.similarity import write_ivf_layout
    from data_pipeline_csv_spark.queries.maintenance import _orders_zorder_spec
    from data_pipeline_csv_spark.sources.tables import load_table

    def committed_is_read_back(path):
        committed = _load_version(path)[1]["data_schema"]
        assert committed == spark.read.parquet(_skip_data_dir(path)).schema.jsonValue()

    df = spark.range(200).select(
        F.col("id").alias("v"),
        F.array(F.col("id").cast("double")).alias("arr"),
        F.struct(F.col("id").alias("x")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    path = str(tmp_path / "stats")
    _, jobs = _jobs_in_group(
        spark,
        "stats-layout-create",
        lambda: write_stats_layout(df, path, ["v"], n_files=4),
    )
    assert len(jobs) <= 5
    committed_is_read_back(path)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    path = str(tmp_path / "zorder")
    write_zorder_table_nd(orders, _orders_zorder_spec(sf_dir), path, n_files=4)
    committed_is_read_back(path)

    corpus = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_df(spark, corpus, k=4, iters=1)
    path = str(tmp_path / "ivf")
    write_ivf_layout(corpus, cents, path, carry=("label",))
    committed_is_read_back(path)


def test_pq_rerank_job_budget(spark, sf_dir):
    """A warm similarity_ann_pq_rerank call collects its ADC shortlist
    once, builds every driver-made frame through Arrow, reads the
    codes artifact with its cached schema and audits its collected
    top-10 against the build-once exact truth on the driver: at most
    11 jobs (recomputing the exact top-10 in a lazy audit plan ran 19,
    the persisted-shortlist shape with list-built frames 25), and it
    leaves no cached RDD behind."""
    fn = REGISTRY["similarity_ann_pq_rerank"].fn
    fn(spark, sf_dir).collect()  # builds the layout and codes artifacts
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    _, jobs = _jobs_in_group(
        spark,
        "pq-rerank-budget",
        lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
    )
    assert len(jobs) <= 11
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached


def test_stats_merge_job_budget(spark, tmp_path):
    """A warm stats_merge collects the batch keys once through Arrow,
    plans the hit files by bisect over one manifest collect that its
    rewrite reuses, counts the rewrite inside its write job and takes
    the new files' manifest rows from their footers: at most 4 jobs for
    an insert into an empty layout and 5 for a merge of updates and
    deletes into what the insert wrote. Two counts, an interval-join
    collect, a second manifest collect, a persisted count and a re-scan
    of the new files ran 12 and 18."""
    from data_pipeline_csv_spark.operators.layout import (
        stats_merge,
        stats_pruned_scan,
        write_stats_layout,
    )

    def frames(lo, hi, step, mult):
        ups = spark.range(lo, hi, step).selectExpr("id", f"id * {mult} AS v").persist()
        dels = spark.range(lo + 3, hi, 7).selectExpr("id").persist()
        return ups, dels

    ins_ups, _ = frames(0, 4000, 1, 2)
    none = spark.range(0).selectExpr("id")
    mrg_ups, mrg_dels = frames(0, 4000, 5, 3)
    for i in range(2):  # the first round warms the session
        path = str(tmp_path / f"sm{i}")
        write_stats_layout(spark.range(0).selectExpr("id", "id AS v"), path, ["id"], n_files=1)
        _, ins = _jobs_in_group(
            spark, f"stats-merge-insert-{i}",
            lambda: stats_merge(spark, path, ins_ups, none, "id", batch_id="e1"),
        )
        rep, mrg = _jobs_in_group(
            spark, f"stats-merge-merge-{i}",
            lambda: stats_merge(spark, path, mrg_ups, mrg_dels, "id", batch_id="e2"),
        )
    assert rep["replaced"] and rep["n_upserts"] == 800 and rep["n_deletes"] == 571
    got = {r["id"]: r["v"] for r in stats_pruned_scan(spark, path, {"id": (None, None)}).collect()}
    want = {k: k * (3 if k % 5 == 0 else 2) for k in range(4000) if (k - 3) % 7 or k % 5 == 0}
    assert got == want
    assert len(ins) <= 4
    assert len(mrg) <= 5


def test_stats_delete_job_budget(spark, tmp_path):
    """A warm stats_delete plans from one Arrow collect of the manifest,
    evaluates its range predicate over it as a local relation and hands
    the same collect to its rewrite: at most 3 jobs for a one-file
    delete on a 4-file layout (the manifest collect, the range sample
    and the write). Planning from a Spark filter of the manifest and
    collecting it again for the rewrite ran 4."""
    from data_pipeline_csv_spark.operators.layout import (
        stats_delete,
        stats_pruned_scan,
        write_stats_layout,
    )

    src = spark.range(4000).selectExpr("id", "id * 2 AS v")
    for i in range(2):  # the first round warms the session
        path = str(tmp_path / f"sd{i}")
        write_stats_layout(src, path, ["id"], n_files=4)
        replaced, jobs = _jobs_in_group(
            spark, f"stats-delete-{i}",
            lambda: stats_delete(spark, path, {"id": (100, 199)}, batch_id="d1"),
        )
    assert len(replaced) == 1
    got = sorted(r["id"] for r in stats_pruned_scan(spark, path, {"id": (None, None)}).collect())
    assert got == [k for k in range(4000) if not 100 <= k <= 199]
    assert len(jobs) <= 3


def test_layout_create_job_budget(spark, tmp_path):
    """write_stats_layout and write_ivf_layout take the manifest rows
    from the footers of the files they have just written and write
    every part (manifest, stats and centroid sidecars) on the driver:
    warm, at most 3 jobs for a 4,000-row, 4-file stats layout, 1 for
    an empty 1-file one (the write alone) and 8 for a 400-vector,
    4-list IVF layout. A coalesce(1) Spark write of each part, the
    manifest re-scanning the written files, ran 5, 3 and 12."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import write_stats_layout
    from data_pipeline_csv_spark.operators.similarity import write_ivf_layout

    src = spark.range(4000).selectExpr("id", "id * 2 AS v")
    empty = spark.range(0).selectExpr("id", "id AS v")
    # no zero vector, so every cosine is defined
    corpus = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.sin(F.col("id") * (k + 1)) + F.lit(1.5) for k in range(8)]
        ).alias("embedding"),
    )
    cents = spark.createDataFrame(
        [(c, [float((c + k) % 4 == 0) for k in range(8)]) for c in range(4)],
        "c_id long, c_emb array<double>",
    )
    for i in range(2):  # the first round warms the session
        _, full = _jobs_in_group(
            spark, f"stats-layout-4-{i}",
            lambda: write_stats_layout(src, str(tmp_path / f"s4{i}"), ["id"], n_files=4),
        )
        _, none = _jobs_in_group(
            spark, f"stats-layout-0-{i}",
            lambda: write_stats_layout(empty, str(tmp_path / f"s0{i}"), ["id"], n_files=1),
        )
        _, ivf = _jobs_in_group(
            spark, f"ivf-layout-{i}",
            lambda: write_ivf_layout(corpus, cents, str(tmp_path / f"ivf{i}")),
        )
    assert len(full) <= 3
    assert len(none) <= 1
    assert len(ivf) <= 8

"""ANN quality: IVF top-k must recall most of the exact brute-force
top-k (the correctness harness can't check approximate results)."""

import pytest

from data_pipeline_csv_spark.operators.similarity import ann_ivf_topk, cosine_topk
from data_pipeline_csv_spark.sources.tables import load_table, parquet_num_rows

QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]


def _stride(sf_dir, nlists=16):
    return max(1, parquet_num_rows(f"{sf_dir}/embeddings.parquet") // nlists)


def test_ivf_recall_at_10(spark, sf_dir):
    corpus = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(corpus, QUERY_IDS, k=10).select("q_id", "vec_id").collect()
    approx = (
        ann_ivf_topk(corpus, QUERY_IDS, k=10, centroid_stride=_stride(sf_dir))
        .select("q_id", "vec_id")
        .collect()
    )
    truth = {(r.q_id, r.vec_id) for r in exact}
    got = {(r.q_id, r.vec_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF recall@10 too low: {recall:.2f}"


def test_ivf_with_kmeans_centroids_recall(spark, sf_dir):
    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df

    corpus = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_df(spark, corpus, k=16, iters=2)
    exact = cosine_topk(corpus, QUERY_IDS, k=10).select("q_id", "vec_id").collect()
    approx = (
        ann_ivf_topk(corpus, QUERY_IDS, k=10, nprobe=4, centroids=cents)
        .select("q_id", "vec_id")
        .collect()
    )
    truth = {(r.q_id, r.vec_id) for r in exact}
    got = {(r.q_id, r.vec_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF(kmeans) recall@10 too low: {recall:.2f}"


def test_ann_query_construction_runs_no_job(spark, sf_dir):
    """Building the ANN plan (stride derived from parquet footer
    metadata) must trigger no Spark job — the old default ran an eager
    corpus.count() per call."""
    sc = spark.sparkContext
    # Warm the parquet reader: the FIRST read of a path runs one
    # driver-coordinated footer/schema job inside spark.read itself —
    # reader behavior, not query construction. Later reads of the
    # unchanged file take their schema from the schema cache
    # (sources/tables.py _SCHEMA_CACHE) and run no job.
    corpus = load_table(spark, sf_dir, "embeddings")
    group = "ann-construction-probe"
    sc.setJobGroup(group, "assert no jobs during query construction")
    try:
        ann_ivf_topk(corpus, QUERY_IDS, k=10, centroid_stride=_stride(sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_ann_requires_stride_or_centroids(spark, sf_dir):
    import pytest

    corpus = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="centroid_stride"):
        ann_ivf_topk(corpus, QUERY_IDS, k=10)


def test_clustered_neardup_matches_exact_on_corpus(spark, sf_dir):
    """At the registered config (k=16, nprobe=4, t=0.45) the clustered
    mode must reproduce the exact pair set bit-for-bit — that is what
    lets it share the exact mode's full DuckDB oracle."""
    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        embedding_cosine_neardup,
        embedding_cosine_neardup_clustered,
    )

    corpus = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_df(spark, corpus, k=16, iters=2)
    exact = {
        (r.d1, r.d2, r.cosine)
        for r in embedding_cosine_neardup(corpus, threshold=0.45).collect()
    }
    got = {
        (r.d1, r.d2, r.cosine)
        for r in embedding_cosine_neardup_clustered(
            corpus, cents, threshold=0.45, nprobe=4
        ).collect()
    }
    assert got == exact


def test_clustered_neardup_high_threshold_recall_and_pruning(spark, sf_dir):
    """The scale story: on a corpus with planted high-similarity dups
    (t=0.9), cell blocking must keep recall >= 0.99 while scanning a
    small fraction of all pairs."""
    import numpy as np

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        embedding_cosine_neardup,
        embedding_cosine_neardup_clustered,
    )

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in base])
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in base])
    rng = np.random.RandomState(7)
    dup_src = ids[:: max(1, len(ids) // 40)]  # ~40 planted dups
    rows = [(int(i), [float(x) for x in M[k]]) for k, i in enumerate(ids)]
    off = int(ids.max()) + 1
    for j, src in enumerate(dup_src):
        k = int(np.where(ids == src)[0][0])
        v = M[k] + rng.normal(0, 0.02, size=M.shape[1])  # cosine ~0.99 to source
        rows.append((off + j, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    k_cells, nprobe = 16, 2
    cents = kmeans_centroids_df(spark, corpus, k=k_cells, iters=2)
    truth = {(r.d1, r.d2) for r in embedding_cosine_neardup(corpus, threshold=0.9).collect()}
    got = {
        (r.d1, r.d2)
        for r in embedding_cosine_neardup_clustered(
            corpus, cents, threshold=0.9, nprobe=nprobe
        ).collect()
    }
    assert truth, "planted dups must produce true pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"clustered recall too low: {recall:.3f}"
    assert got <= truth  # precision 1: exact re-score decides membership

    # pruning: replay the deterministic assignment in numpy and bound
    # the scanned pair fraction
    crows = cents.collect()
    C = np.stack([np.asarray(r["c_emb"], dtype=np.float64) for r in crows])
    call = np.stack([np.asarray(e, dtype=np.float64) for _, e in rows])
    calln = call / np.linalg.norm(call, axis=1, keepdims=True)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    order = np.argsort(-(calln @ Cn.T), axis=1, kind="stable")[:, :nprobe]
    sizes = np.bincount(order.ravel(), minlength=len(C))
    scanned = int((sizes * (sizes - 1) // 2).sum())
    n = len(rows)
    frac = scanned / (n * (n - 1) // 2)
    assert frac < 0.35, f"cell blocking scanned too much: {frac:.2f} of all pairs"

    # the Spark-side assignment (what similarity_neardup_pruned measures
    # under the driver gate) must count exactly the replayed pair work
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.similarity import clustered_cell_assignment

    spark_scanned = (
        clustered_cell_assignment(corpus, cents, nprobe)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("s"))
        .collect()[0]["s"]
    )
    assert int(spark_scanned) == scanned


def test_simhash_near_dups_close(spark, sf_dir):
    """Near-dup docs (exact Jaccard >= 0.8) should have small SimHash
    hamming distance; random pairs should not."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.dedup import ngram_jaccard_pairs, simhash

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert pairs, "corpus should contain planted near-dups"
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    near = [bin(sh[r.d1] ^ sh[r.d2]).count("1") for r in pairs]
    ids = sorted(sh)
    random_pairs = [(ids[i], ids[(i * 7 + 13) % len(ids)]) for i in range(100)]
    baseline = [bin(sh[a] ^ sh[b]).count("1") for a, b in random_pairs if a != b]
    near_mean = sum(near) / len(near)
    base_mean = sum(baseline) / len(baseline)
    # docs are short (~18 shingles) so individual pairs are noisy;
    # planted near-dups must still be clearly separated from random.
    assert near_mean < base_mean - 10, f"simhash separation too weak: {near_mean:.1f} vs {base_mean:.1f}"


def test_pq_rerank_finds_planted_twin(spark, sf_dir):
    """A near-identical twin of a query vector must come back rank 1
    from the PQ shortlist -> exact rerank pipeline (the twin encodes to
    the same codes, so ADC scores it at the query's own reconstruction
    ceiling), and pq_encode must be partition-invariant."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = corpus.filter(F.col("vec_id") == 0).collect()[0]
    twin_vec = [float(x) + (0.001 if i == 0 else 0.0) for i, x in enumerate(q["embedding"])]
    twin_id = 10_000_000
    planted = corpus.unionByName(
        spark.createDataFrame([(twin_id, twin_vec)], "vec_id long, embedding array<float>")
    )
    books = pq_train(spark, planted, dim=64, m=8, k=16, iters=2)
    codes = pq_encode(planted, books, m=8)
    short = pq_adc_topk(codes, books, [(0, q["embedding"])], k=100)
    top = short.orderBy("rank").limit(1).collect()[0]
    assert top["vec_id"] == twin_id

    # determinism: codes identical under a different partitioning
    a = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    b = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(planted.repartition(7), books, m=8).collect()
    }
    assert a == b


def test_exact_truth_is_rebuilt_after_same_size_rewrite(spark, sf_dir, tmp_path):
    """The ANN audits' build-once exact top-k is keyed by the corpus
    file's fingerprint: after an in-place rewrite at the same byte size
    whose old mtime is set back, the truth must be a fresh cosine_topk
    of the new file, never the cached truth of the old one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_csv_spark.queries.similarity import _exact_topk
    from data_pipeline_csv_spark.sources.tables import balanced

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    path = os.path.join(sf, "embeddings.parquet")
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))

    def write(t):
        # fixed-width pages: the same values count gives the same size
        pq.write_table(t, path, compression="none", use_dictionary=False)

    def pairs(pdf):
        return sorted(zip(pdf["q_id"].tolist(), pdf["vec_id"].tolist()))

    write(table)
    old = _exact_topk(spark, sf, QUERY_IDS, 10)
    assert _exact_topk(spark, sf, QUERY_IDS, 10) is old  # built once
    before = os.stat(path)

    # negate every component of the odd-vec_id vectors
    emb = [
        [-x for x in e] if v % 2 else e
        for v, e in zip(table["vec_id"].to_pylist(), table["embedding"].to_pylist())
    ]
    i = table.schema.get_field_index("embedding")
    field = table.schema.field(i)
    write(table.set_column(i, field, pa.array(emb, field.type)))
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    st = os.stat(path)
    assert (st.st_mtime_ns, st.st_size) == (before.st_mtime_ns, before.st_size)

    want = (
        cosine_topk(balanced(spark, load_table(spark, sf, "embeddings")), QUERY_IDS, k=10)
        .select("q_id", "vec_id")
        .toPandas()
    )
    assert pairs(want) != pairs(old)
    assert pairs(_exact_topk(spark, sf, QUERY_IDS, 10)) == pairs(want)


def test_ann_build_artifacts_are_rebuilt_after_same_size_rewrite(
    spark, sf_dir, tmp_path
):
    """The PQ rerank's IVF layout and PQ codes are keyed by the corpus
    file's fingerprint, like the audits' exact truth: a repeat call
    serves them, but after an in-place rewrite at the same byte size
    whose old mtime is set back, the next call builds a new layout
    holding the new vectors and new codes, never the old file's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_csv_spark import artifacts
    from data_pipeline_csv_spark.operators.similarity import ivf_scan
    from data_pipeline_csv_spark.queries.similarity import similarity_ann_pq_rerank

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    path = os.path.join(sf, "embeddings.parquet")
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))

    def write(t):
        # fixed-width pages: the same values count gives the same size
        pq.write_table(t, path, compression="none", use_dictionary=False)

    def built(name):
        return {
            value
            for (n, key), (_dir, value) in list(artifacts._ENTRIES.items())
            if n == name and sf in repr(key)
        }

    write(table)
    similarity_ann_pq_rerank(spark, sf).collect()
    layouts, codes = built("ivf_layout"), built("pq_codes")
    assert len(layouts) == len(codes) == 1
    similarity_ann_pq_rerank(spark, sf).collect()
    assert (built("ivf_layout"), built("pq_codes")) == (layouts, codes)
    before = os.stat(path)

    # negate every component of the odd-vec_id vectors
    vec_ids = table["vec_id"].to_pylist()
    emb = [
        [-x for x in e] if v % 2 else e
        for v, e in zip(vec_ids, table["embedding"].to_pylist())
    ]
    i = table.schema.get_field_index("embedding")
    field = table.schema.field(i)
    write(table.set_column(i, field, pa.array(emb, field.type)))
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    st = os.stat(path)
    assert (st.st_mtime_ns, st.st_size) == (before.st_mtime_ns, before.st_size)

    similarity_ann_pq_rerank(spark, sf).collect()
    new_layouts = built("ivf_layout") - layouts
    assert len(new_layouts) == 1 and len(built("pq_codes") - codes) == 1
    got = {
        r["vec_id"]: list(r["embedding"])
        for r in ivf_scan(spark, new_layouts.pop()).select("vec_id", "embedding").collect()
    }
    assert sorted(got) == sorted(vec_ids)
    for v, e in zip(vec_ids, emb):
        assert got[v] == pytest.approx(e), v


@pytest.mark.parametrize(
    "table, id_col, index",
    [
        ("documents", "doc_id", "dedup._cc_base_index_cached"),
        ("embeddings", "vec_id", "graph._tri_base_index_cached"),
        ("embeddings", "vec_id", "graph._tri_edge_base_index_cached"),
    ],
)
def test_standing_indexes_are_rebuilt_after_same_size_rewrite(
    spark, sf_dir, tmp_path, table, id_col, index
):
    """The standing dedup and triangle indexes are keyed by the version
    of the table they read: a repeat call serves the built index, but
    after an in-place rewrite at the same byte size whose old mtime is
    set back, the next call builds a new index from the new rows."""
    import importlib
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    module, name = index.split(".")
    build = getattr(
        importlib.import_module(f"data_pipeline_csv_spark.queries.{module}"), name
    )
    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    path = os.path.join(sf, f"{table}.parquet")
    data = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))

    def write(t):
        # fixed-width pages: the same values count gives the same size
        pq.write_table(t, path, compression="none", use_dictionary=False)

    def min_id():
        # the first artifact's first column holds the table's ids
        first = build(spark, sf)[0]
        return first.agg({first.columns[0]: "min"}).first()[0]

    write(data)
    assert min_id() < 1_000_000
    old = build(spark, sf)[0].inputFiles()
    assert build(spark, sf)[0].inputFiles() == old  # built once
    before = os.stat(path)

    # shift every id by a multiple of 5: each row keeps its side of the
    # indexes' id % 5 base/batch split
    i = data.schema.get_field_index(id_col)
    shifted = pc.add(data[id_col], 1_000_000)
    write(data.set_column(i, data.schema.field(i), shifted))
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    st = os.stat(path)
    assert (st.st_mtime_ns, st.st_size) == (before.st_mtime_ns, before.st_size)

    assert min_id() >= 1_000_000


def test_pq_rejects_mismatched_dims(spark, sf_dir):
    """dim % m != 0 must raise at train time (not silently drop the
    trailing coordinates from encoding/ADC), and ADC must reject
    queries whose dim disagrees with the trained codebooks."""
    import pytest

    from data_pipeline_csv_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(spark, corpus, dim=64, m=7)
    books = pq_train(spark, corpus, dim=64, m=8, k=16, iters=1)
    codes = pq_encode(corpus, books, m=8)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(codes, books, [(0, [0.0] * 32)], k=5)


def test_semdedup_drops_planted_paraphrase(spark):
    """Two near-identical vectors in one cluster: exactly the
    closer-to-centroid one is dropped (the paper keeps LOW
    centroid-similarity examples); a lone vector in another cluster
    is untouched."""
    from data_pipeline_csv_spark.operators.similarity import semdedup_verdicts

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),        # sits ON centroid 0
            (1, [0.995, 0.09987, 0.0, 0.0]),  # cos(0,1) ~ 0.995
            (2, [0.0, 1.0, 0.0, 0.0]),        # alone near centroid 1
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "c_id long, c_emb array<double>",
    )
    got = {r.vec_id: (r.cluster, r.keep) for r in semdedup_verdicts(corpus, cents, eps=0.9).collect()}
    assert got[1] == (0, True)   # farther from centroid -> kept
    assert got[0] == (0, False)  # its near-twin, closer to centroid -> dropped
    assert got[2] == (1, True)


def test_semdedup_triu_chain_semantics(spark):
    """Chain x1-x2-x3 (cos(x1,x2) and cos(x2,x3) above eps,
    cos(x1,x3) below): x1 (farthest from centroid) is kept, and BOTH
    x2 and x3 are dropped — a better-ranked vector suppresses even
    when it was itself dropped, the released SemDeDup code's
    upper-triangular matrix procedure (NOT connected-components
    keep-one-per-group)."""
    import math

    from data_pipeline_csv_spark.operators.similarity import semdedup_verdicts

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    # centroid at 90 degrees: x1 (0 deg) is farthest -> rank 1
    corpus = spark.createDataFrame(
        [(1, at(0.0)), (2, at(31.8)), (3, at(63.6))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame([(0, at(90.0))], "c_id long, c_emb array<double>")
    # cos(x1,x2) = cos(x2,x3) ~ 0.850 >= 0.8; cos(x1,x3) ~ 0.445 < 0.8
    got = {r.vec_id: r.keep for r in semdedup_verdicts(corpus, cents, eps=0.8).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_ivf_append_touches_only_appended_lists(spark, sf_dir, tmp_path):
    """Incremental maintenance contract on the commit log (r14): an
    append only ADDS b<tag>- files — every pre-append data file stays
    byte-identical (standing lists untouched BY CONSTRUCTION), the
    batch's manifest part joins the commit, and the merged index
    serves the union of base + appended vectors."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        ivf_append,
        ivf_scan,
        write_ivf_layout,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    new = corpus.filter(F.col("vec_id") % 5 == 0)
    cents = kmeans_centroids_df(
        spark, base, k=8, iters=2, cache_key=(sf_dir, "ivf_append_test")
    )
    layout = str(tmp_path / "layout")
    write_ivf_layout(base, cents, layout)

    def _files():
        ddir = os.path.join(layout, "data")
        return {
            f: os.path.getsize(os.path.join(ddir, f))
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        }

    before = _files()
    rep = ivf_append(new, cents, layout)
    after = _files()
    assert rep["n_appended"] == new.count() > 0
    for f, sz in before.items():
        assert after.get(f) == sz, f  # standing files byte-untouched
    assert all(f.startswith("b") for f in set(after) - set(before))
    # merged index serves base + appended
    merged_ids = {r["vec_id"] for r in ivf_scan(spark, layout).collect()}
    assert merged_ids == {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert 0.0 <= rep["drift_ratio"] <= 1.0


def _mini_layout(spark, sf_dir, tmp_path, carry=(), partition_cols=("list_id",)):
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import write_ivf_layout
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    base = corpus.filter(F.col("vec_id") % 5 != 0).select(
        "vec_id", "embedding", *carry
    )
    new = corpus.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding", *carry)
    cents = kmeans_centroids_df(
        spark, base, k=8, iters=2, cache_key=(sf_dir, "ivf_mini")
    )
    layout = str(tmp_path / "layout")
    write_ivf_layout(base, cents, layout, carry=carry, partition_cols=partition_cols)
    return base, new, cents, layout


def test_ivf_append_replay_short_circuits(spark, sf_dir, tmp_path):
    """Idempotency contract: re-appending a committed batch_id is a
    no-op returning the recorded report — no duplicate vec_ids."""
    from data_pipeline_csv_spark.operators.similarity import ivf_append, ivf_scan

    base, new, cents, layout = _mini_layout(spark, sf_dir, tmp_path)
    rep1 = ivf_append(new, cents, layout, batch_id="daily-001")
    ids_after_first = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    rep2 = ivf_append(new, cents, layout, batch_id="daily-001")
    assert rep2["replayed"] is True
    assert rep2["n_appended"] == rep1["n_appended"]
    assert rep2["lists_touched"] == rep1["lists_touched"]
    ids_after_second = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    assert sorted(ids_after_second) == sorted(ids_after_first)
    assert len(ids_after_first) == len(set(ids_after_first))


def test_ivf_append_crash_retry_no_duplicates(spark, sf_dir, tmp_path, monkeypatch):
    """Append crash windows under the commit log (r14): a crash
    BEFORE the CAS leaves the batch invisible — the immediate read is
    the exact pre-batch index, and the retry sweeps its own leftovers
    and lands the batch once. A crash AFTER the CAS but before the
    record means the batch IS committed — the retry recovers its TRUE
    drift report from the commit payload instead of re-appending."""
    import os

    import pytest as _pytest

    from data_pipeline_csv_spark.operators.similarity import ivf_append, ivf_scan

    base, new, cents, layout = _mini_layout(spark, sf_dir, tmp_path)
    n_base = ivf_scan(spark, layout).count()

    # (a) crash BEFORE the CAS
    real_link = os.link
    monkeypatch.setattr(
        os,
        "link",
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash before commit")),
    )
    with _pytest.raises(RuntimeError):
        ivf_append(new, cents, layout, batch_id="daily-002")
    monkeypatch.setattr(os, "link", real_link)
    assert ivf_scan(spark, layout).count() == n_base  # invisible
    rep = ivf_append(new, cents, layout, batch_id="daily-002")
    assert rep["replayed"] is False
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    assert len(ids) == len(set(ids)) == n_base + rep["n_appended"]
    # committed: a further retry replays
    assert ivf_append(new, cents, layout, batch_id="daily-002")["replayed"] is True

    # (b) crash AFTER the CAS, before the record: committed + visible;
    # the retry recovers the TRUE report from the commit log
    from pyspark.sql import functions as F

    new2 = new.withColumn("vec_id", F.col("vec_id") + 10_000_000)
    real_replace = os.replace

    def failing_replace(src, dst):
        if "_batches" in str(dst):
            raise RuntimeError("simulated crash before record")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(RuntimeError):
        ivf_append(new2, cents, layout, batch_id="daily-003")
    monkeypatch.setattr(os, "replace", real_replace)
    n_now = ivf_scan(spark, layout).count()
    assert n_now == n_base + 2 * rep["n_appended"]  # batch IS committed
    rep3 = ivf_append(new2, cents, layout, batch_id="daily-003")
    assert rep3["replayed"] is True and rep3["n_appended"] == rep["n_appended"]
    assert ivf_scan(spark, layout).count() == n_now  # never re-applied


def test_ivf_append_schema_mismatch_fails_fast(spark, sf_dir, tmp_path):
    """Appending without the layout's carry/partition columns must
    raise, not corrupt the labeled layout (r9 ADVICE)."""
    import pytest as _pytest

    from data_pipeline_csv_spark.operators.similarity import ivf_append

    base, new, cents, layout = _mini_layout(
        spark, sf_dir, tmp_path, carry=("label",), partition_cols=("list_id", "label")
    )
    with _pytest.raises(ValueError, match="partitioned by|schema"):
        ivf_append(new.select("vec_id", "embedding"), cents, layout)
    # and the carry-aware append works
    rep = ivf_append(new, cents, layout, batch_id="lab-1", carry=("label",))
    assert rep["n_appended"] > 0
    from data_pipeline_csv_spark.operators.similarity import ivf_scan

    cols = set(ivf_scan(spark, layout).columns)
    assert {"vec_id", "embedding", "list_id", "label"} <= cols


def test_ivf_retrain_refits_only_drifted_lists(spark, sf_dir, tmp_path):
    """Retrain contract on the commit log (r14): cells past the drift
    threshold are refitted (distortion non-increasing — Lloyd), the
    copy-on-write rewrite only ADDS files (every pre-retrain file
    byte-identical, pinned readers survive), the re-frozen sidecar
    rides the same commit (drift counters reset), and untouched cells
    keep their centroids bit-identically."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_stats,
        ivf_append,
        ivf_retrain,
        ivf_scan,
        write_ivf_layout,
    )
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    base = corpus.filter(F.col("label") < 5).select("vec_id", "embedding")
    new = corpus.filter(F.col("label") >= 5).select("vec_id", "embedding")
    cents = kmeans_centroids_df(
        spark, base, k=8, iters=2, cache_key=(sf_dir, "ivf_retrain_mini")
    )
    layout = str(tmp_path / "layout")
    write_ivf_layout(base, cents, layout)
    ivf_append(new, cents, layout, batch_id="drift-1")

    def _files():
        ddir = os.path.join(layout, "data")
        return {
            f: os.path.getsize(os.path.join(ddir, f))
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        }

    before = _files()
    n_before = ivf_scan(spark, layout).count()
    new_cents, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=2)
    assert rep["retrained_lists"], "planted drift must trigger refits"
    assert rep["distortion_fp_after"] <= rep["distortion_fp_before"]
    after = _files()
    for f, sz in before.items():
        assert after.get(f) == sz, f  # copy-on-write: old files intact
    # no vectors lost or duplicated by the rewrite
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    assert len(ids) == len(set(ids)) == n_before
    # drift counters reset on the retrained cells
    stats = _read_ivf_stats(spark, layout)
    for r in stats.collect():
        if int(r["list_id"]) in rep["retrained_lists"]:
            assert int(r["n_drift"]) == 0
    # untouched cells keep their centroids bit-identically
    old = {r["c_id"]: list(r["c_emb"]) for r in cents.collect()}
    newc = {r["c_id"]: list(r["c_emb"]) for r in new_cents.collect()}
    for cid in old:
        if cid not in rep["retrained_lists"]:
            assert old[cid] == newc[cid]


def _drift_layout(spark, sf_dir, tmp_path):
    """Base = tight clusters (label < 5); appends from label >= 5 land
    outside the build-time edges -> planted drift."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.clustering import kmeans_centroids_df
    from data_pipeline_csv_spark.operators.similarity import write_ivf_layout
    from data_pipeline_csv_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    base = corpus.filter(F.col("label") < 5).select("vec_id", "embedding")
    drift = corpus.filter(F.col("label") >= 5).select("vec_id", "embedding")
    cents = kmeans_centroids_df(
        spark, base, k=8, iters=2, cache_key=(sf_dir, "ivf_drift_mini")
    )
    layout = str(tmp_path / "layout")
    write_ivf_layout(base, cents, layout)
    return base, drift, cents, layout


def test_ivf_append_drift_accumulates_across_batches(spark, sf_dir, tmp_path):
    """r10 VERDICT #3: drift is measured against the FROZEN build-time
    edge (build_min_sim), so a second equally-drifted batch keeps
    registering — the old min-merged edge ratcheted down after batch 1
    and muted exactly the sustained-drift signal ivf_retrain needs."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_stats,
        ivf_append,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    edges_at_build = {
        int(r["list_id"]): r["build_min_sim"]
        for r in _read_ivf_stats(spark, layout).collect()
    }
    b1 = drift.filter(F.col("vec_id") % 2 == 0)
    b2 = drift.filter(F.col("vec_id") % 2 == 1)
    rep1 = ivf_append(b1, cents, layout, batch_id="drift-a")
    rep2 = ivf_append(b2, cents, layout, batch_id="drift-b")
    assert rep1["n_drifted"] > 0
    # the second, equally-drifted batch must register comparably — not
    # ~zero against a ratcheted edge
    assert rep2["n_drifted"] > 0
    assert rep2["n_drifted"] >= 0.3 * rep1["n_drifted"]
    stats = _read_ivf_stats(spark, layout)
    rows = stats.collect()
    assert sum(int(r["n_drift"]) for r in rows) == (
        rep1["n_drifted"] + rep2["n_drifted"]
    )
    # the frozen edge survived both merges bit-identically
    for r in rows:
        lid = int(r["list_id"])
        if lid in edges_at_build:
            assert r["build_min_sim"] == edges_at_build[lid], lid
        # while the observed min kept tracking the weakest member
        assert r["min_sim"] <= r["build_min_sim"]


@pytest.mark.slow
def test_ivf_retrain_crash_at_cas_keeps_snapshot(spark, sf_dir, tmp_path, monkeypatch):
    """r14 (replacing the swap-journal roll-back/-forward tests): a
    retrain that crashes AT its CAS publishes nothing — the immediate
    read is the exact pre-retrain index with NO healing (the staged
    w*- files and sidecar are invisible), the drift signal is intact,
    and the retry refits cleanly."""
    import os

    import pytest as _pytest

    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_stats,
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    ivf_append(drift, cents, layout, batch_id="drift-1")
    ids_before = sorted(r["vec_id"] for r in ivf_scan(spark, layout).collect())
    drift_before = sorted(
        (int(r["list_id"]), int(r["n_drift"]))
        for r in _read_ivf_stats(spark, layout).collect()
    )

    real_link = os.link
    monkeypatch.setattr(
        os,
        "link",
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash at CAS")),
    )
    with _pytest.raises(RuntimeError):
        ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    monkeypatch.setattr(os, "link", real_link)

    # nothing published: rows AND drift state exactly pre-retrain
    assert sorted(r["vec_id"] for r in ivf_scan(spark, layout).collect()) == ids_before
    assert (
        sorted(
            (int(r["list_id"]), int(r["n_drift"]))
            for r in _read_ivf_stats(spark, layout).collect()
        )
        == drift_before
    )
    new_cents, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    assert rep["retrained_lists"]
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    assert sorted(ids) == ids_before and len(ids) == len(set(ids))


def test_ivf_crashed_append_invisible_to_retrain(spark, sf_dir, tmp_path, monkeypatch):
    """r14 (replacing the rollback-before-retrain machinery): an
    append that crashed BEFORE its CAS left only unreferenced b<tag>-
    files — a retrain in between plans from the commit log and never
    sees them, and the append retry sweeps its own leftovers and
    lands exactly once."""
    import os

    import pytest as _pytest

    from data_pipeline_csv_spark.operators.similarity import (
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    n_base = ivf_scan(spark, layout).count()

    real_link = os.link
    monkeypatch.setattr(
        os,
        "link",
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash before commit")),
    )
    with _pytest.raises(RuntimeError):
        ivf_append(drift, cents, layout, batch_id="drift-1")
    monkeypatch.setattr(os, "link", real_link)

    # the crashed batch is invisible; no drift -> retrain is a no-op
    assert ivf_scan(spark, layout).count() == n_base
    _cents2, rep0 = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    assert rep0["retrained_lists"] == []

    rep = ivf_append(drift, cents, layout, batch_id="drift-1")
    assert rep["replayed"] is False
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    assert len(ids) == len(set(ids)) == n_base + rep["n_appended"]


def test_ivf_reader_snapshot_survives_concurrent_retrain(spark, sf_dir, tmp_path):
    """r14 (replacing heal-on-read): a serving read planned BEFORE a
    retrain collects its exact snapshot AFTER the retrain rewrote the
    drifted lists — the pinned commit's files are never deleted within
    retention, so serving needs no healing, no locks and no quiesce
    window (the old protocol's documented gap)."""
    from data_pipeline_csv_spark.operators.similarity import (
        ivf_append,
        ivf_retrain,
        ivf_scan,
        read_ivf_lists,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    ivf_append(drift, cents, layout, batch_id="drift-1")
    all_lists = sorted(
        int(r["list_id"])
        for r in ivf_scan(spark, layout).select("list_id").distinct().collect()
    )
    pinned = read_ivf_lists(spark, layout, all_lists)  # plans NOW
    want = sorted(r["vec_id"] for r in ivf_scan(spark, layout).collect())
    _cents2, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    assert rep["retrained_lists"]
    got = sorted(r["vec_id"] for r in pinned.collect())  # collected AFTER
    assert got == want


@pytest.mark.slow
def test_ivf_retrain_vs_append_race_via_cas(spark, sf_dir, tmp_path, monkeypatch):
    """r13 VERDICT next #5's acceptance artifact: a RETRAIN and an
    APPEND race the same layout through the CAS — no locks anywhere.
    The append wins the contended version; the retrain loses its CAS,
    RE-PLANS from the winner's commit (picking up the appended rows
    and their drift), and commits next. Nothing lost, nothing
    duplicated, and the log advanced by exactly two."""
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L
    from data_pipeline_csv_spark.operators.similarity import (
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    b1 = drift.filter(F.col("vec_id") % 2 == 0)
    b2 = drift.filter(F.col("vec_id") % 2 == 1)
    ivf_append(b1, cents, layout, batch_id="drift-a")  # plant the signal

    real_cas = L._cas_commit
    state = {"fired": False}

    def contended(p, v, payload):
        # the moment the retrain first attempts its CAS, an append
        # sneaks in and takes the version
        if payload.get("op") == "retrain" and not state["fired"]:
            state["fired"] = True
            ivf_append(b2, cents, layout, batch_id="drift-b")
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    new_cents, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    monkeypatch.setattr(L, "_cas_commit", real_cas)
    assert state["fired"] and rep["retrained_lists"]
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    want = sorted(
        r["vec_id"]
        for r in base.select("vec_id").unionByName(drift.select("vec_id")).collect()
    )
    assert sorted(ids) == want and len(ids) == len(set(ids))
    # init + append + append + retrain: the retrain re-planned, never
    # stacked a stale commit
    assert L._list_commits(layout) == [1, 2, 3, 4]



@pytest.mark.slow
def test_ivf_append_loses_to_retrain_reassigns(spark, sf_dir, tmp_path, monkeypatch):
    """The REVERSE race of test_ivf_retrain_vs_append_race_via_cas: a
    RETRAIN sneaks in and wins the version the APPEND was about to
    take. The quantizer changed underneath the loser, so reusing its
    staged files would commit rows list-assigned by centroids that no
    longer exist — probes planned with the new centroids would never
    find them. The loser must detect the changed ``centroids_part``,
    RE-ASSIGN the batch against the winner's committed centroids and
    restage (r14 review); the committed rows end up exactly where the
    committed quantizer says they belong."""
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_centroids,
        ivf_append,
        ivf_assign_lists,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    b1 = drift.filter(F.col("vec_id") % 2 == 0)
    b2 = drift.filter(F.col("vec_id") % 2 == 1)
    ivf_append(b1, cents, layout, batch_id="drift-a")  # plant the signal

    real_cas = L._cas_commit
    state = {"fired": False}

    def contended(p, v, payload):
        # the moment the append first attempts its CAS, a retrain
        # sneaks in, takes the version and re-freezes the quantizer
        if payload.get("op") == "append" and not state["fired"]:
            state["fired"] = True
            ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    rep = ivf_append(b2, cents, layout, batch_id="drift-b")
    monkeypatch.setattr(L, "_cas_commit", real_cas)
    assert state["fired"] and rep["replayed"] is False
    assert rep["n_appended"] == b2.count()
    # nothing lost, nothing duplicated
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    want = sorted(
        r["vec_id"]
        for r in base.select("vec_id").unionByName(drift.select("vec_id")).collect()
    )
    assert sorted(ids) == want and len(ids) == len(set(ids))
    # init + append + retrain + append: the loser re-planned, never
    # stacked a stale commit
    assert L._list_commits(layout) == [1, 2, 3, 4]
    # ASSIGNMENT CONSISTENCY — the committed rows of the losing batch
    # sit exactly where the COMMITTED quantizer routes them
    committed_cents = _read_ivf_centroids(spark, layout)
    want_assign = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign_lists(
            b2.select("vec_id", "embedding"), committed_cents
        ).collect()
    }
    got_assign = {
        r["vec_id"]: r["list_id"]
        for r in ivf_scan(spark, layout)
        .filter(F.col("vec_id").isin(list(want_assign)))
        .collect()
    }
    assert got_assign == want_assign


def test_ivf_append_first_touch_list_uses_observed_edge(spark, tmp_path):
    """A list FIRST POPULATED BY AN APPEND has no build-time edge (the
    build saw an empty cell — k-means leaves them routinely). The
    first batch lands with no stats row, so it counts drifted against
    the 1.0 no-stats fallback; the sidecar must then freeze that
    batch's OBSERVED min as the list's edge (the old sidecar
    protocol's NULL-falls-back-to-min invariant, r14 review) so a
    SECOND batch of equally-close vectors is NOT flagged — without
    the fallback every later append to the cell reads as 100% drifted
    and spuriously triggers retrain of a healthy cell."""
    from data_pipeline_csv_spark.operators.similarity import (
        ivf_append,
        write_ivf_layout,
    )

    def _corpus(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "c_id long, c_emb array<double>",
    )
    # the build populates cells 0 and 1 only; cell 2 stays EMPTY
    base = _corpus(
        [(1, [0.9, 0.1, 0.0]), (2, [0.8, 0.2, 0.0]),
         (3, [0.1, 0.9, 0.0]), (4, [0.2, 0.8, 0.0])]
    )
    layout = str(tmp_path / "layout")
    write_ivf_layout(base, cents, layout)
    # first touch of cell 2: no stats row -> counted against the 1.0
    # fallback (the cell WAS a quantizer hole; flagging is honest)
    b1 = _corpus([(10, [0.05, 0.0, 0.95]), (11, [0.0, 0.1, 0.9])])
    rep1 = ivf_append(b1, None, layout, batch_id="first_touch")
    assert rep1["n_drifted"] == 2
    # second batch, EQUALLY close to the centroid: the frozen edge is
    # now b1's observed min, so nothing is drifted
    b2 = _corpus([(12, [0.05, 0.0, 0.95]), (13, [0.0, 0.1, 0.9])])
    rep2 = ivf_append(b2, None, layout, batch_id="second_touch")
    assert rep2["n_drifted"] == 0, (
        "append-born list must freeze its first observed min as the "
        "drift edge, not fall back to 1.0 forever"
    )


def test_ivf_parts_equal_the_aggregate_and_sidecars(spark, tmp_path):
    """Every IVF part is written on the driver and reads back as the
    Spark computation it replaces. For a freshly built layout and after
    one ivf_append, the committed manifest equals the _manifest_rows
    aggregate over the data files and the centroid sidecar equals the
    input centroids. The build's stats sidecar equals _ivf_list_stats
    over the members; after the append, its n_vec and min_sim equal
    _ivf_list_stats over all members while build_min_sim stays
    frozen."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _load_version,
        _manifest_pool_dir,
        _manifest_rows,
        _read_data_files,
        _read_manifest,
    )
    from data_pipeline_csv_spark.operators.similarity import (
        _IVF_STATS_SCHEMA,
        _ivf_list_stats,
        _read_ivf_centroids,
        ivf_append,
        write_ivf_layout,
    )

    def corpus(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[F.sin(F.col("id") * (k + 1)) + F.lit(1.5) for k in range(8)]
            ).alias("embedding"),
        )

    cents = spark.createDataFrame(
        [(c, [float((c + k) % 4 == 0) for k in range(8)]) for c in range(4)],
        "c_id long, c_emb array<double>",
    )
    layout = str(tmp_path / "ivf")

    def by(rows, key):
        return sorted((r.asDict() for r in rows), key=lambda r: r[key])

    def check():
        _v, cur = _load_version(layout)
        man = _read_manifest(spark, layout, cur)
        files = [r["file"] for r in man.select("file").collect()]
        members = _read_data_files(spark, cur, files)
        assert by(man.collect(), "file") == by(
            _manifest_rows(members, ["list_id"]).collect(), "file"
        )
        assert by(_read_ivf_centroids(spark, layout, cur).collect(), "c_id") == by(
            cents.collect(), "c_id"
        )
        stats = spark.read.schema(_IVF_STATS_SCHEMA).parquet(
            f"{_manifest_pool_dir(layout)}/{cur['stats_part']}"
        )
        return by(stats.collect(), "list_id"), by(
            _ivf_list_stats(members, cents).collect(), "list_id"
        )

    write_ivf_layout(corpus(0, 400), cents, layout)
    built, want = check()
    assert built == want and len(built) == 4
    ivf_append(corpus(400, 500), None, layout, batch_id="b1")
    appended, want = check()
    assert [(r["list_id"], r["n_vec"], r["min_sim"]) for r in appended] == [
        (r["list_id"], r["n_vec"], r["min_sim"]) for r in want
    ]
    assert sum(r["n_vec"] for r in appended) == 500
    assert [r["build_min_sim"] for r in appended] == [r["build_min_sim"] for r in built]


def test_ivf_restore_rolls_back_quantizer(spark, sf_dir, tmp_path):
    """RESTORE on an IVF layout is inherited from the shared commit
    log — and it must roll back the SIDE PARTS with the data: the
    drift sidecar AND the committed quantizer flow from the restored
    version (layout.py _CARRY_KEYS), so post-restore appends and
    probes are assignment-consistent with the restored rows. Pins the
    r14 review finding that the shared ops flowed only the bucket
    keys and stranded IVF layouts without their sidecars."""
    from data_pipeline_csv_spark.operators.layout import stats_restore
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_centroids,
        _read_ivf_stats,
        ann_ivf_probe_ondisk,
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    ivf_append(drift, cents, layout, batch_id="d1")  # v2
    cents_v2 = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout).collect()
    }
    n_v2 = ivf_scan(spark, layout).count()
    _new_cents, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=1)
    assert rep["retrained_lists"]  # v3 changed the quantizer
    cents_v3 = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout).collect()
    }
    assert cents_v3 != cents_v2
    stats_restore(spark, layout, 2)  # v4 = the pre-retrain state
    assert ivf_scan(spark, layout).count() == n_v2
    restored = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout).collect()
    }
    assert restored == cents_v2  # quantizer rolled back WITH the data
    assert _read_ivf_stats(spark, layout).count() > 0  # sidecar intact
    # end-to-end: a probe against the restored head plans and runs
    # against the restored quantizer (centroids=None -> committed)
    queries = (
        base.limit(3)
        .selectExpr("vec_id as q_id", "embedding as q_emb")
    )
    assert ann_ivf_probe_ondisk(spark, layout, queries, k=5, nprobe=3).count() > 0

def test_ivf_concurrent_appends(spark, sf_dir, tmp_path):
    """MULTI-WRITER IVF (r14 — the property the retired advisory-lock
    protocol excluded): two appenders racing one index through the
    hard-link CAS both land, the final index is the exact union with
    no duplicate vec_ids, the commit log advanced by exactly two, and
    the merged drift sidecar accounts every vector exactly once
    (sum n_vec == corpus size). Real threads, no sequencing — the
    IVF twin of test_maintenance.py::test_bucket_concurrent_appends."""
    import threading

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import _list_commits
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_stats,
        ivf_append,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    b1 = drift.filter(F.col("vec_id") % 2 == 0)
    b2 = drift.filter(F.col("vec_id") % 2 != 0)
    errs = []

    def run(df, bid):
        try:
            ivf_append(df, None, layout, batch_id=bid)
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
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    want = sorted(
        r["vec_id"]
        for r in base.select("vec_id").unionByName(drift.select("vec_id")).collect()
    )
    assert sorted(ids) == want and len(ids) == len(set(ids))
    assert _list_commits(layout)[-1] == 3  # init + two appends
    stats = _read_ivf_stats(spark, layout)
    total = stats.agg(F.sum("n_vec").alias("n")).collect()[0]["n"]
    assert int(total) == len(want)  # sidecar accounts each vector once


@pytest.mark.slow
def test_ivf_lifecycle_crash_at_every_fs_op(spark, sf_dir, tmp_path):
    """The IVF twin of the stats/bucket crash sweeps, on the r14
    commit log: a crash injected at EVERY python-side filesystem
    mutation (os.rename / os.replace / os.remove / os.link — the CAS
    itself) of ivf_append and ivf_retrain in turn. The swept invariant
    is the STRONG one the commit-log protocols pin — the immediate
    read of (vec_id, list_id) assignments is exactly the pre-op index
    or exactly the post-op index, never a mixture and never an error,
    AND both side parts (drift sidecar, committed quantizer) load at
    every point — where the retired journaled-swap protocol promised
    only no-loss/no-dup through its recovery sweep. A crashed op's
    retry converges to the post state (append: the batch_id
    idempotency token + commit-log tag recovery; retrain: the re-plan
    is deterministic from committed state, and a committed retrain's
    retry no-ops on the reset drift counters)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_centroids,
        _read_ivf_stats,
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    b1 = drift.filter(F.col("vec_id") % 2 == 0)
    b2 = drift.filter(F.col("vec_id") % 2 != 0)
    ivf_append(b1, None, layout, batch_id="sweep-plant")  # drift signal

    def pairs(p):
        return sorted(
            (r["vec_id"], r["list_id"]) for r in ivf_scan(spark, p).collect()
        )

    def side_ok(p):
        assert _read_ivf_stats(spark, p).count() > 0
        assert _read_ivf_centroids(spark, p).count() > 0

    ops = [
        ("append", lambda p: ivf_append(b2, None, p, batch_id="sweep-a")),
        ("retrain", lambda p: ivf_retrain(spark, p, None, drift_threshold=0.05, iters=1)),
    ]
    real = {
        "rename": os.rename,
        "replace": os.replace,
        "remove": os.remove,
        "link": os.link,
    }

    def instrument(counter, crash_at, path):
        def wrap(name):
            orig = real[name]

            def patched(*a, **kw):
                if any(str(path) in str(x) for x in a):
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

    total_points = 0
    for op_name, op in ops:
        pre = pairs(layout)
        probe = f"{layout}-probe-{op_name}"
        shutil.copytree(layout, probe)
        counter = [0]
        instrument(counter, None, probe)
        try:
            op(probe)
        finally:
            restore()
        n_ops, post = counter[0], pairs(probe)
        shutil.rmtree(probe, ignore_errors=True)
        assert n_ops > 0
        assert {v for v, _ in post} > {v for v, _ in pre} if op_name == "append" \
            else {v for v, _ in post} == {v for v, _ in pre}

        for k in range(1, n_ops + 1):
            clone = f"{layout}-k{k}-{op_name}"
            shutil.copytree(layout, clone)
            counter = [0]
            instrument(counter, k, clone)
            crashed = False
            try:
                op(clone)
            except RuntimeError:
                crashed = True
            finally:
                restore()
            got = pairs(clone)  # immediate read: NO healing, no grace
            assert got == pre or got == post, f"{op_name} crash@{k}: mixture"
            side_ok(clone)  # side parts never dangle
            if crashed:
                op(clone)  # retry converges
                assert pairs(clone) == post, f"{op_name} retry after crash@{k}"
            shutil.rmtree(clone, ignore_errors=True)
        total_points += n_ops

        op(layout)  # advance the real lifecycle
        assert pairs(layout) == post
    assert total_points >= 8  # the sweep covered real crash windows

@pytest.mark.slow
def test_ivf_vacuum_protects_side_parts_and_time_travel(spark, sf_dir, tmp_path):
    """VACUUM on an IVF layout (inherited from the shared commit log)
    must treat the side pool parts — every retained commit's drift
    sidecar and committed quantizer — as live state: they have a
    different schema from manifest parts, so they are protected by
    name (layout.py _SIDE_PART_KEYS) without entering the mergeSchema
    manifest read. After a zero-grace vacuum with planted orphans,
    every retained version still time-travels (the pre-retrain
    assignment readable at its version, with ITS quantizer and
    sidecar), the orphans are gone, and the layout still appends."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _manifest_pool_dir,
        _skip_data_dir,
        stats_vacuum,
    )
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_centroids,
        _read_ivf_stats,
        ivf_append,
        ivf_retrain,
        ivf_scan,
        read_ivf_lists,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    ivf_append(drift, None, layout, batch_id="d1")  # v2
    pre_pairs = sorted(
        (r["vec_id"], r["list_id"]) for r in ivf_scan(spark, layout).collect()
    )
    v2_cents = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout).collect()
    }
    _nc, rep = ivf_retrain(spark, layout, None, drift_threshold=0.05, iters=1)
    assert rep["retrained_lists"]  # v3

    # plant orphans: an abandoned staged data file and pool part no
    # commit references
    orphan_d = os.path.join(_skip_data_dir(layout), "bdead-part-0.parquet")
    orphan_p = os.path.join(_manifest_pool_dir(layout), "bdead-xyz.parquet")
    for p in (orphan_d, orphan_p):
        with open(p, "w") as f:
            f.write("junk")

    removed = stats_vacuum(spark, layout, grace_seconds=0.0)
    assert not os.path.exists(orphan_d) and not os.path.exists(orphan_p)
    assert removed["data_files"] >= 1 and removed["manifest_parts"] >= 1

    # every retained version still serves: head and the pre-retrain v2
    assert _read_ivf_stats(spark, layout).count() > 0
    assert _read_ivf_centroids(spark, layout).count() > 0
    all_lists = sorted(
        {int(r["list_id"]) for r in ivf_scan(spark, layout, version=2).collect()}
    )
    tt_pairs = sorted(
        (r["vec_id"], r["list_id"])
        for r in read_ivf_lists(spark, layout, all_lists, version=2).collect()
    )
    assert tt_pairs == pre_pairs  # time travel: the exact v2 index
    v2_payload = __import__(
        "data_pipeline_csv_spark.operators.layout", fromlist=["_load_version"]
    )._load_version(layout, 2)[1]
    tt_cents = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout, v2_payload).collect()
    }
    assert tt_cents == v2_cents  # ...with the v2 quantizer

    # a type-drifted batch fails FAST with the committed-schema check
    # (array<double> into the float layout — r14 review hardening)
    import pytest

    bad = spark.createDataFrame(
        [(999_998, [0.5] * len(next(iter(v2_cents.values()))))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="committed schema"):
        ivf_append(bad, None, layout, batch_id="post-vac-bad")

    # and the layout is still writable after the sweep
    extra = spark.createDataFrame(
        [(999_999, [0.5] * len(next(iter(v2_cents.values()))))],
        "vec_id long, embedding array<float>",
    )
    rep2 = ivf_append(extra, None, layout, batch_id="post-vac")
    assert rep2["n_appended"] == 1

@pytest.mark.slow
def test_ivf_retrain_vs_retrain_race_loser_noops(spark, sf_dir, tmp_path, monkeypatch):
    """Two maintainers racing the SAME retrain: the loser re-plans
    from the winner's commit — whose sidecar has the drift counters
    reset and whose quantizer is already re-frozen — finds nothing
    over the threshold, and returns the no-op with the winner's
    committed centroids instead of stacking a second rewrite. The
    log advances exactly once for the two racing calls."""
    from pyspark.sql import functions as F

    import data_pipeline_csv_spark.operators.layout as L
    from data_pipeline_csv_spark.operators.similarity import (
        _read_ivf_centroids,
        ivf_append,
        ivf_retrain,
        ivf_scan,
    )

    base, drift, cents, layout = _drift_layout(spark, sf_dir, tmp_path)
    ivf_append(drift, None, layout, batch_id="drift-1")  # plant the signal

    real_cas = L._cas_commit
    state = {"fired": False, "inner": None}

    def contended(p, v, payload):
        # the moment the outer retrain first attempts its CAS, a
        # second retrain sneaks in and takes the version
        if payload.get("op") == "retrain" and not state["fired"]:
            state["fired"] = True
            state["inner"] = ivf_retrain(
                spark, layout, None, drift_threshold=0.05, iters=1
            )
        return real_cas(p, v, payload)

    monkeypatch.setattr(L, "_cas_commit", contended)
    outer_cents, outer_rep = ivf_retrain(
        spark, layout, None, drift_threshold=0.05, iters=1
    )
    monkeypatch.setattr(L, "_cas_commit", real_cas)

    inner_cents, inner_rep = state["inner"]
    assert state["fired"] and inner_rep["retrained_lists"]
    assert outer_rep["retrained_lists"] == []  # the loser no-opped
    assert L._list_commits(layout) == [1, 2, 3]  # init + append + ONE retrain
    # the loser returned the WINNER's committed quantizer
    committed = {
        r["c_id"]: list(r["c_emb"])
        for r in _read_ivf_centroids(spark, layout).collect()
    }
    got = {r["c_id"]: list(r["c_emb"]) for r in outer_cents.collect()}
    assert got == committed
    # nothing lost, nothing duplicated by the race
    ids = [r["vec_id"] for r in ivf_scan(spark, layout).collect()]
    want = sorted(
        r["vec_id"]
        for r in base.select("vec_id").unionByName(drift.select("vec_id")).collect()
    )
    assert sorted(ids) == want and len(ids) == len(set(ids))

def test_ivf_layout_refuses_unrouted_writes(spark, tmp_path):
    """The shared commit-log ops that INSERT rows must refuse an IVF
    layout: stats_append and stats_merge take caller-supplied rows
    whose list_id the committed quantizer never assigned, so probes
    would silently miss or mis-rank them — the same unsound-write
    class as stats_append on a bucket table (which the r14 bucket
    port already refuses). Removal-only and rewrite-only ops
    (delete/compact/compute_stats/restore) stay allowed: they never
    invent assignments."""
    import pytest

    from data_pipeline_csv_spark.operators.layout import stats_append, stats_merge
    from data_pipeline_csv_spark.operators.similarity import write_ivf_layout

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "c_id long, c_emb array<double>"
    )
    base = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.1, 0.9])], "vec_id long, embedding array<double>"
    )
    layout = str(tmp_path / "ivf")
    write_ivf_layout(base, cents, layout)

    rogue = spark.createDataFrame(
        [(3, [0.5, 0.5], 0)], "vec_id long, embedding array<double>, list_id long"
    )
    with pytest.raises(ValueError, match="quantizer"):
        stats_append(rogue, layout, batch_id="rogue-a")
    with pytest.raises(ValueError, match="quantizer"):
        stats_merge(
            spark, layout, rogue,
            rogue.select("vec_id").limit(0), "vec_id", batch_id="rogue-m",
        )

    # the symmetric bucket case: a merge's upserts would carry zb
    # values the committed curve never computed
    import datetime

    from data_pipeline_csv_spark.operators.layout import (
        derive_zorder_spec_nd,
        write_zorder_table_nd,
    )

    orders = spark.createDataFrame(
        [
            (i, float(1000 + i), datetime.date(1996, 1, 1 + i % 28))
            for i in range(200)
        ],
        "o_orderkey long, o_totalprice double, o_orderdate date",
    )
    src_pq = str(tmp_path / "orders_src.parquet")
    orders.write.parquet(src_pq)
    spec = derive_zorder_spec_nd(
        src_pq, [("o_totalprice", "num"), ("o_orderdate", "date")],
        bits=10, prefix_bits=8,
    )
    zpath = str(tmp_path / "zb")
    write_zorder_table_nd(orders, spec, zpath)
    zrogue = spark.createDataFrame(
        [(999, 1500.0, datetime.date(1996, 2, 1), 0)],
        "o_orderkey long, o_totalprice double, o_orderdate date, zb long",
    )
    with pytest.raises(ValueError, match="curve"):
        stats_merge(
            spark, zpath, zrogue,
            zrogue.select("o_orderkey").limit(0), "o_orderkey",
            batch_id="rogue-z",
        )

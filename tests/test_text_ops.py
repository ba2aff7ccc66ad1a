"""PII scrub and repetition-filter behavior on literal frames.

The driver's ``documents`` corpus contains no PII (no digits or '@' at
all), so the registered ``text_pii_scrub`` query only proves the
plumbing there; these tests pin the actual redaction semantics on text
that DOES contain emails / IPv4s / phone numbers, plus the repetition
metrics on hand-computable docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_csv_spark.functions.text_funcs import pii_counts, pii_scrub


def _scrub_row(spark, text: str):
    df = spark.createDataFrame([(text,)], "text string")
    counts = pii_counts("text")
    return df.select(
        pii_scrub("text").alias("scrubbed"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
    ).first()


def test_pii_scrub_email(spark):
    r = _scrub_row(spark, "contact First.Last+tag@sub.example.co.uk today")
    assert r.scrubbed == "contact <EMAIL> today"
    assert (r.n_email, r.n_ipv4, r.n_phone) == (1, 0, 0)


def test_pii_scrub_ipv4_and_phone(spark):
    r = _scrub_row(spark, "from 192.168.0.1 call +1 (555) 123-4567 now")
    assert r.scrubbed == "from <IP> call <PHONE> now"
    assert (r.n_email, r.n_ipv4, r.n_phone) == (0, 1, 1)


def test_pii_scrub_multiple_and_clean(spark):
    r = _scrub_row(spark, "a@b.io and c@d.org; no numbers here")
    assert r.scrubbed == "<EMAIL> and <EMAIL>; no numbers here"
    assert r.n_email == 2

    clean = _scrub_row(spark, "plain text with no identifiers")
    assert clean.scrubbed == "plain text with no identifiers"
    assert (clean.n_email, clean.n_ipv4, clean.n_phone) == (0, 0, 0)


def test_pii_scrub_matches_duckdb_regex_semantics(spark):
    """The oracle runs the same pattern strings under RE2; a regex that
    matches differently between Java and RE2 would silently split the
    hash check. Pin one tricky case on both engines."""
    import duckdb

    from data_pipeline_csv_spark.functions.text_funcs import PII_PATTERNS

    text = "x 10.0.0.255 y reach me at +49 30 123456 or a.b@c.de"
    spark_row = _scrub_row(spark, text)
    scrubbed_sql = "t"
    for _, pat, token in PII_PATTERNS:
        scrubbed_sql = f"regexp_replace({scrubbed_sql}, '{pat}', '{token}', 'g')"
    duck = duckdb.connect().execute(
        f"SELECT {scrubbed_sql} FROM (SELECT ? AS t)", [text]
    ).fetchone()[0]
    assert spark_row.scrubbed == duck


def test_repetition_metrics_hand_computed(spark):
    from data_pipeline_csv_spark.queries.text import text_repetition_filter
    import data_pipeline_csv_spark.queries.registry as reg

    # 'a a a a' -> 4 tokens, 1 type, bigrams ['a a']*3 -> share 1.0, drop.
    # 'w x y z' -> ttr 1.0, 3 distinct bigrams -> share 1/3 > 0.2, drop.
    spec = reg.REGISTRY["text_repetition_filter"]
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [(1, "a a a a", "en", "src1"), (2, "w x y z", "en", "src1")],
            "doc_id bigint, text string, lang string, source string",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {r.doc_id: r for r in spec.fn(spark, d).collect()}
    r1, r2 = rows[1], rows[2]
    assert (r1.n_tokens, r1.type_token_ratio, r1.top_bigram_share, r1.keep) == (4, 0.25, 1.0, False)
    assert r2.n_tokens == 4 and r2.type_token_ratio == 1.0
    assert abs(r2.top_bigram_share - 1 / 3) < 1e-12 and not r2.keep


def test_bpe_merge_pass_is_canonical_greedy(spark):
    """One merge pass must be canonical BPE: leftmost-first
    non-overlapping (a run of 2k symbols -> k merges, the middle
    overlap skipped), and a just-merged symbol cannot re-merge within
    the pass."""
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.bpe import _merge_pass

    rows = [
        ("a a a a",),   # run of 4 -> two merges
        ("a a a",),     # run of 3 -> one merge, stranded tail
        ("a b a b",),   # disjoint occurrences both merge (pair a,b)
        ("c",),         # single symbol untouched
    ]
    df = spark.createDataFrame(rows, "seg string")
    got_aa = [r.r for r in df.select(_merge_pass("a", "a").alias("r")).collect()]
    assert got_aa == ["aa aa", "aa a", "a b a b", "c"]
    got_ab = [r.r for r in df.select(_merge_pass("a", "b").alias("r")).collect()]
    assert got_ab == ["a a a a", "a a a", "ab ab", "c"]


def test_bpe_train_learns_planted_merges(spark):
    """On a corpus dominated by one bigram pattern the trainer must
    pick the planted pair first and then CASCADE (merge the merged
    symbol with its neighbor in a later round)."""
    from data_pipeline_csv_spark.operators.bpe import bpe_train_merges

    # 'xyz' dominates; after (x,y)->xy the pair (xy,z) dominates
    docs = spark.createDataFrame(
        [(d, "xyz xyz xyz xyz qq") for d in range(20)],
        "doc_id long, text string",
    )
    merges = {r.rank: (r.left, r.right, r.merged) for r in bpe_train_merges(spark, docs, n_merges=3).collect()}
    assert merges[1] == ("x", "y", "xy")
    assert merges[2] == ("xy", "z", "xyz")


def test_bpe_matches_pure_python_reference(spark):
    """Merge pass AND full trainer vs a pure-python canonical BPE twin
    on randomized corpora (tiny alphabet so runs and ties actually
    occur): the fold expression must equal the leftmost-first
    non-overlapping scan, and the trained merge tables must be
    identical including tie-breaks."""
    import numpy as np

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.bpe import _merge_pass, bpe_train_merges

    def merge_py(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    rng = np.random.RandomState(17)
    # 1) merge pass on random runs-heavy sequences
    segs = [
        " ".join(rng.choice(["a", "b", "ab"], size=rng.randint(1, 12)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([(s,) for s in segs], "seg string")
    for a, b in [("a", "a"), ("a", "b"), ("ab", "a"), ("b", "ab")]:
        got = [r.r for r in df.select(_merge_pass(a, b).alias("r")).collect()]
        want = [" ".join(merge_py(s.split(" "), a, b)) for s in segs]
        assert got == want, (a, b)

    # 2) full trainer vs python twin on a random word corpus
    def train_py(word_freqs, n):
        segs = {w: [c for c in w] for w in word_freqs}
        merges = []
        for r in range(1, n + 1):
            counts = {}
            for w, f in word_freqs.items():
                s = segs[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            (a, b), pf = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((r, a, b, a + b, pf))
            segs = {w: merge_py(s, a, b) for w, s in segs.items()}
        return merges

    words = ["".join(rng.choice(list("abc"), size=rng.randint(1, 7))) for _ in range(150)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[j] for j in rng.randint(0, len(words), size=8)))
         for i in range(40)],
        "doc_id long, text string",
    )
    freqs = {}
    for r in docs.select(F.explode(F.split("text", " ")).alias("w")).collect():
        freqs[r.w] = freqs.get(r.w, 0) + 1
    got = [
        (r.rank, r.left, r.right, r.merged, r.freq)
        for r in bpe_train_merges(spark, docs, n_merges=5).orderBy("rank").collect()
    ]
    assert got == train_py(freqs, 5)


def test_bpe_encode_matches_pure_python_reference(spark):
    """Encode stats vs the python twin: per-doc piece counts after
    applying the learned merges must equal re-segmenting every token
    with the twin's merge sequence."""
    import numpy as np

    from data_pipeline_csv_spark.operators.bpe import bpe_encode_stats

    def merge_py(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    rng = np.random.RandomState(23)
    words = ["".join(rng.choice(list("ab"), size=rng.randint(1, 6))) for _ in range(40)]
    doc_rows = [
        (i, " ".join(words[j] for j in rng.randint(0, len(words), size=6)))
        for i in range(25)
    ]
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")

    # python twin: train 4 merges on the doc token stream, then encode
    freqs = {}
    for _, t in doc_rows:
        for w in t.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    segs = {w: [c for c in w] for w in freqs}
    for _ in range(4):
        counts = {}
        for w, f in freqs.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), _pf = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        segs = {w: merge_py(s, a, b) for w, s in segs.items()}
    want = {}
    for i, t in doc_rows:
        toks = t.split(" ")
        want[i] = (len(toks), sum(len(segs[w]) for w in toks))

    got = {
        r.doc_id: (r.n_tokens, r.n_pieces, r.pieces_per_token)
        for r in bpe_encode_stats(spark, docs, n_merges=4).collect()
    }
    assert set(got) == set(want)
    for i, (nt, np_) in want.items():
        assert got[i] == (nt, np_, np_ / nt), i


def test_bpe_encode_cache_is_bit_identical(spark, monkeypatch):
    """The build-once trained artifact must serve results bit-identical
    to a fresh training run, and a second keyed call must not retrain
    (counted through the per-round merge pass)."""
    from data_pipeline_csv_spark.operators import bpe

    rounds = []
    merge_pass = bpe._merge_pass
    monkeypatch.setattr(
        bpe, "_merge_pass", lambda a, b: rounds.append(1) or merge_pass(a, b)
    )

    docs = spark.createDataFrame(
        [(d, "xyz xyz abc abc qq") for d in range(12)],
        "doc_id long, text string",
    )
    fresh = sorted(
        map(tuple, bpe.bpe_encode_stats(spark, docs, n_merges=3).collect())
    )
    key = ("test-bpe-cache", "v1")
    encode = lambda: bpe.bpe_encode_stats(spark, docs, n_merges=3, cache_key=key)
    first = sorted(map(tuple, encode().collect()))
    trained = len(rounds)
    assert trained == 6  # two 3-round trainings: the fresh one and the keyed one
    cached = sorted(map(tuple, encode().collect()))
    assert len(rounds) == trained
    assert fresh == first == cached


def test_nb_classifier_learns_planted_vocabulary(spark):
    """On a corpus where the two classes draw from disjoint
    vocabularies the hashed-NB classifier must score the held-out
    split perfectly; held-out rows and the train/test split masks
    must be exact."""
    import numpy as np

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.classifier import nb_train_score

    rng = np.random.RandomState(7)
    pos_vocab = ["alpha", "bravo", "charlie", "delta"]
    neg_vocab = ["xray", "yankee", "zulu", "whiskey"]
    rows = []
    for i in range(80):
        vocab = pos_vocab if i % 2 == 0 else neg_vocab
        rows.append((i, " ".join(rng.choice(vocab, size=6)), i % 2 == 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")

    out = nb_train_score(docs, F.col("y"), holdout_mod=4, n_buckets=256).collect()
    assert {r.doc_id for r in out} == {i for i in range(80) if i % 4 == 0}
    for r in out:
        assert r.actual == (r.doc_id % 2 == 0)
        assert r.predicted == r.actual and r.correct, r

    # empty-token doc in the held-out split falls back to the prior
    docs2 = spark.createDataFrame(
        rows + [(80, "", True)], "doc_id long, text string, y boolean"
    )
    out2 = {r.doc_id: r for r in nb_train_score(docs2, F.col("y"), holdout_mod=4, n_buckets=256).collect()}
    assert 80 in out2  # survives the left join with score = prior only


def test_bm25_matches_pure_python_twin(spark):
    """BM25 top-k vs a python twin using the same formula and 1e-6
    fixed-point floor — scores and ranking must be identical."""
    import math

    from data_pipeline_csv_spark.operators.bm25 import bm25_topk

    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana banana banana"),
        (2, "apple cherry cherry date date date"),
        (3, "date fig"),
        (4, "apple apple apple apple banana"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ("apple", "banana")

    toks = {i: t.split(" ") for i, t in rows}
    n, sum_dl = len(toks), sum(len(v) for v in toks.values())
    avgdl = float(sum_dl) / n
    df = {q: sum(1 for v in toks.values() if q in v) for q in terms}
    want = {}
    for i, v in toks.items():
        s = 0
        for q in terms:
            tf = v.count(q)
            if not tf:
                continue
            idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
            tfp = (tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * len(v)) / avgdl))
            s += math.floor(idf * tfp * 1e6)
        if s:
            want[i] = s
    order = sorted(want, key=lambda i: (-want[i], i))

    got = bm25_topk(docs, terms, k=10).orderBy("rank").collect()
    assert [r.doc_id for r in got] == order
    for r in got:
        assert r.score_fp == want[r.doc_id], r


def test_ccnet_buckets_terciles_and_duplicate_ties(spark, sf_dir):
    """Per-lang ntile(3) is balanced, and planted exact-duplicate docs
    get bit-equal fixed-point NLL (ordered by the doc_id tie-break,
    never by float noise)."""
    from data_pipeline_csv_spark.queries import REGISTRY

    out = REGISTRY["text_ccnet_buckets"].fn(spark, sf_dir).collect()
    assert {r["bucket"] for r in out} == {1, 2, 3}
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        counts = [sum(1 for r in rows if r["bucket"] == b) for b in (1, 2, 3)]
        assert max(counts) - min(counts) <= 1, (lang, counts)  # NTILE balance
        # bucket must be monotone in (avg_nll_fix, doc_id)
        ordered = sorted(rows, key=lambda r: (r["avg_nll_fix"], r["doc_id"]))
        assert [r["bucket"] for r in ordered] == sorted(r["bucket"] for r in rows)
    # equal text => bit-equal fixed NLL (the tie the doc_id break
    # resolves; a raw float key would order twins by summation noise).
    # sf0.001 plants no exact dups, so pin it on a literal frame.
    import duckdb

    dup = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "en"),
            (1, "alpha beta gamma delta", "en"),
            (2, "alpha beta beta beta", "en"),
            (3, "zeta eta theta iota", "en"),
            (4, "unique words here now", "en"),
            (5, "more filler text rows", "en"),
        ],
        "doc_id: long, text: string, lang: string",
    )
    con = duckdb.connect()
    con.register("documents", dup.toPandas())
    oracle_rows = con.sql(REGISTRY["text_ccnet_buckets"].oracle).fetchall()
    vals = {r[0]: (r[3], r[4]) for r in oracle_rows}
    assert vals[0][0] == vals[1][0]  # identical docs tie exactly
    assert vals[0][1] <= vals[1][1]  # doc_id breaks the tie


def test_rrf_fuse_matches_pure_python(spark):
    """RRF fusion vs a literal python twin: overlapping, disjoint and
    single-list docs (absent lists contribute 0), deterministic ties."""
    from data_pipeline_csv_spark.operators.bm25 import RRF_SCALE, rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (7, 4)], "doc_id long, rank int"
    )
    sem = spark.createDataFrame(
        [(2, 1), (1, 2), (9, 3)], "doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["r_lex"], r["r_sem"], r["rrf_fp"], r["rank"])
        for r in rrf_fuse({"lex": lex, "sem": sem}, k=10, c=60).collect()
    }
    import math

    def c(r):
        return math.floor(RRF_SCALE / (60 + r))

    want_scores = {
        1: c(1) + c(2), 2: c(2) + c(1), 3: c(3), 7: c(4), 9: c(3)}
    ranked = sorted(want_scores.items(), key=lambda kv: (-kv[1], kv[0]))
    for rank, (doc, score) in enumerate(ranked, 1):
        assert got[doc][2] == score and got[doc][3] == rank
    assert got[1][0] == 1 and got[1][1] == 2
    assert got[3][1] is None and got[9][0] is None  # absent-list ranks

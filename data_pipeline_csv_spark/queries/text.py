"""Text-analysis queries over ``documents``: token stats, BPE-ish
token counting, stopword-based language ID, quality scoring, content
fingerprinting. All built-in-function expressions (codegen'd); ratios
are single IEEE ops on integer counts so the DuckDB oracle is
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_funcs import (
    PII_PATTERNS,
    STOPWORDS,
    alpha_ratio,
    normalize_text,
    pii_counts,
    pii_scrub,
    stopword_hits,
    token_count,
    token_count_bpe,
    tokens,
)
from ..sources.tables import balanced, load_table
from .registry import query

# DuckDB twins of the normalization/token helpers.
_NORM = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
_TOKS = f"CASE WHEN {_NORM} = '' THEN [] ELSE string_split({_NORM}, ' ') END"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return balanced(spark, load_table(spark, sf_dir, "documents"))


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# --------------------------------------------------------------------
# Combined per-document profile: token stats + language ID + quality +
# content hash in ONE corpus scan. The driver verifies ~50 queries per
# round, so the per-doc text surface is packed into this query (which
# is also the scale-right shape: every metric is computed in the same
# projection, one pass, no shuffle at all). Granular queries below
# stay registered after the priority block + pytest-verified.
# --------------------------------------------------------------------
@query(
    "text_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang, text, norm,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_bpe,
        CAST(LENGTH(text) AS BIGINT) AS n_chars_raw,
        CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) AS a_ratio,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['en'])}))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['de'])}))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['fr'])}))) AS BIGINT) AS hits_fr,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['es'])}))) AS BIGINT) AS hits_es
      FROM t
    ), s AS (
      SELECT *,
        CAST(hits_en AS DOUBLE) / NULLIF(n_tokens, 0) AS stop_ratio,
        CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
             WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
             WHEN hits_fr >= hits_es THEN 'fr'
             ELSE 'es' END AS lang_guess
      FROM m
    )
    SELECT doc_id, lang AS labeled_lang, n_tokens, n_tokens_bpe, n_chars_raw,
      a_ratio, hits_en, hits_de, hits_fr, hits_es, lang_guess, stop_ratio,
      0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + 0.3 * stop_ratio + 0.3 * a_ratio AS quality,
      CASE WHEN 0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + 0.3 * stop_ratio + 0.3 * a_ratio >= 0.45
           THEN 'keep' ELSE 'drop' END AS verdict,
      md5(norm) AS content_hash
    FROM s
    """,
    doc="Single-scan per-document profile: whitespace + BPE-ish token "
    "counts, char composition, stopword-hit language ID, quality score "
    "with keep/drop verdict, and the exact-dedup content hash — every "
    "per-doc text metric in one projection, zero shuffles.",
    tags=("text", "tokens", "langid", "quality", "fingerprint"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        _docs(spark, sf_dir)
        .withColumn("_norm", normalize_text("text"))
        .withColumn("_toks", tokens("text"))
    )
    hits = {lang: stopword_hits(F.col("_toks"), lang) for lang in ("en", "de", "fr", "es")}
    n_tokens = F.size("_toks").cast("bigint")
    stop_ratio = hits["en"].cast("double") / F.nullif(n_tokens, F.lit(0))
    a_ratio = alpha_ratio("text")
    quality = 0.4 * F.least(n_tokens.cast("double") / 64.0, F.lit(1.0)) + 0.3 * stop_ratio + 0.3 * a_ratio
    guess = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]), "en")
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        n_tokens.alias("n_tokens"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        F.length("text").cast("bigint").alias("n_chars_raw"),
        a_ratio.alias("a_ratio"),
        hits["en"].alias("hits_en"),
        hits["de"].alias("hits_de"),
        hits["fr"].alias("hits_fr"),
        hits["es"].alias("hits_es"),
        guess.alias("lang_guess"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        F.when(quality >= 0.45, "keep").otherwise("drop").alias("verdict"),
        F.md5(F.encode(F.col("_norm"), "utf-8")).alias("content_hash"),
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_bpe,
      CAST(LENGTH(text) AS BIGINT) AS n_chars_raw,
      CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) AS alpha_ratio
    FROM documents
    """,
    doc="Per-doc token counts (whitespace + BPE-ish regex) and character composition.",
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        F.length("text").cast("bigint").alias("n_chars_raw"),
        alpha_ratio("text").alias("alpha_ratio"),
    )


@query(
    "text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ), hits AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['en'])}))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['de'])}))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['fr'])}))) AS BIGINT) AS hits_fr,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['es'])}))) AS BIGINT) AS hits_es
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang, hits_en, hits_de, hits_fr, hits_es,
      CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
           WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
           WHEN hits_fr >= hits_es THEN 'fr'
           ELSE 'es' END AS lang_guess
    FROM hits
    """,
    doc="Stopword-hit language heuristic with deterministic argmax tie-break.",
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn("_toks", tokens("text"))
    hits = {lang: stopword_hits(F.col("_toks"), lang) for lang in ("en", "de", "fr", "es")}
    guess = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]), "en")
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].alias("hits_en"),
        hits["de"].alias("hits_de"),
        hits["fr"].alias("hits_fr"),
        hits["es"].alias("hits_es"),
        guess.alias("lang_guess"),
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks,
             CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) AS a_ratio
      FROM documents
    ), m AS (
      SELECT doc_id, a_ratio,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['en'])}))) AS DOUBLE)
          / NULLIF(len(toks), 0) AS stop_ratio
      FROM t
    )
    SELECT doc_id, n_tokens, stop_ratio, a_ratio,
      0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + 0.3 * stop_ratio + 0.3 * a_ratio AS quality,
      CASE WHEN 0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + 0.3 * stop_ratio + 0.3 * a_ratio >= 0.45
           THEN 'keep' ELSE 'drop' END AS verdict
    FROM m
    """,
    doc="Quality score: length saturation + stopword ratio + alphabetic ratio, thresholded keep/drop.",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn("_toks", tokens("text"))
    n_tokens = F.size("_toks").cast("bigint")
    stop_ratio = stopword_hits(F.col("_toks"), "en").cast("double") / F.nullif(F.size("_toks").cast("bigint"), F.lit(0))
    a_ratio = alpha_ratio("text")
    quality = 0.4 * F.least(n_tokens.cast("double") / 64.0, F.lit(1.0)) + 0.3 * stop_ratio + 0.3 * a_ratio
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        a_ratio.alias("a_ratio"),
        quality.alias("quality"),
        F.when(quality >= 0.45, "keep").otherwise("drop").alias("verdict"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM} AS n, {_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1], toks[CAST(r.i AS INT)+2]) AS shingle
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 2
    )
    SELECT n.doc_id,
           md5(n.n) AS content_hash,
           MIN(md5(s.shingle)) AS min_shingle_hash
    FROM norm n JOIN sh s ON n.doc_id = s.doc_id
    GROUP BY n.doc_id, n.n
    """,
    doc="Content fingerprints: md5 of normalized text + min shingle hash (winnowing-style anchor).",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn("_norm", normalize_text("text")).withColumn("_toks", tokens("text"))
    from ..functions.text_funcs import word_shingles

    return (
        df.select("doc_id", "_norm", F.explode(word_shingles(F.col("_toks"))).alias("shingle"))
        .groupBy("doc_id", "_norm")
        .agg(F.min(F.md5(F.encode(F.col("shingle"), "utf-8"))).alias("min_shingle_hash"))
        .select(
            "doc_id",
            F.md5(F.encode(F.col("_norm"), "utf-8")).alias("content_hash"),
            "min_shingle_hash",
        )
    )


@query(
    "text_tfidf_terms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    )
    SELECT term,
           COUNT(DISTINCT doc_id) AS df_docs,
           COUNT(*) AS total_tf
    FROM t
    GROUP BY term
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
    doc="Corpus term statistics (the tf-idf precursor pass): per-term "
    "document frequency + total term frequency, df >= 5. Exact integer "
    "counts; downstream idf weighting is one deterministic double op "
    "per row. At scale: explode -> two-level agg, all map-side "
    "combinable.",
    tags=("text", "tfidf"),
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit two-level aggregation instead of
    # groupBy(term).agg(countDistinct(doc_id), count(*)): the built-in
    # mixed distinct/non-distinct agg plans an Expand that DOUBLES the
    # exploded token stream before its first shuffle. Pre-aggregating
    # (term, doc_id) keeps map-side combine on the raw stream (one row
    # per distinct term-doc pair leaves each task) and the second agg
    # shuffles only those pairs. Measured ~12% faster at sf0.1;
    # identical results (df_docs = pair count, total_tf = sum of tf).
    exploded = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
    )
    per_doc = exploded.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    return (
        per_doc.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_docs"),
            F.sum("_tf").alias("total_tf"),
        )
        .filter(F.col("df_docs") >= 5)
    )


# DuckDB twins of the PII patterns (same regex source strings).
_PII_SQL_SCRUB = "text"
for _, _pat, _token in PII_PATTERNS:
    _PII_SQL_SCRUB = f"regexp_replace({_PII_SQL_SCRUB}, '{_pat}', '{_token}', 'g')"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS[0][1]}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS[1][1]}')) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS[2][1]}')) AS BIGINT) AS n_phone,
      md5({_PII_SQL_SCRUB}) AS scrubbed_hash
    FROM documents
    """,
    doc="PII redaction pass: per-document email / IPv4 / phone match "
    "counts and the md5 of the scrubbed text (matches replaced by "
    "<KIND> tokens, email -> ip -> phone order on both engines). Pure "
    "map-side regexp built-ins — zero shuffles at any corpus size. "
    "Patterns are written to the Java-regex/RE2 common subset; "
    "behavior on real PII is pinned on literal frames in "
    "tests/test_text_ops.py (this corpus contains none).",
    tags=("text", "pii", "pipeline"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = pii_counts("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        F.md5(F.encode(pii_scrub("text"), "utf-8")).alias("scrubbed_hash"),
    )


@query(
    "text_repetition_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
        list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
      FROM t
    ),
    cnt AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(bigrams) AS gram FROM base)
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_c, CAST(SUM(c) AS BIGINT) AS sum_c
      FROM cnt GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
      COALESCE(CAST(b.n_types AS DOUBLE) / NULLIF(b.n_tokens, 0), 0.0) AS type_token_ratio,
      COALESCE(CAST(a.max_c AS DOUBLE) / a.sum_c, 0.0) AS top_bigram_share,
      (COALESCE(CAST(b.n_types AS DOUBLE) / NULLIF(b.n_tokens, 0), 0.0) >= 0.25
       AND COALESCE(CAST(a.max_c AS DOUBLE) / a.sum_c, 0.0) <= 0.2) AS keep
    FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    """,
    doc="Gopher-style repetition quality rules: per-doc type-token "
    "ratio (distinct/total tokens, map-side) and top-bigram share "
    "(most frequent word 2-gram / all 2-grams), with the keep verdict "
    "(ttr >= 0.25 and top share <= 0.2). Bigram counting is explode -> "
    "two-level agg (map-side combinable, never per-row lambdas over "
    "the array — see SCALE.md on the CollapseProject trap); both "
    "ratios are single IEEE divides of exact integer counts.",
    tags=("text", "quality", "pipeline", "repetition"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bigrams = F.greatest(F.size("toks") - 1, F.lit(0))
    base = _docs(spark, sf_dir).select(
        "doc_id",
        tokens("text").alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_types"),
        F.zip_with(
            F.slice(F.col("toks"), F.lit(1), n_bigrams),
            F.slice(F.col("toks"), F.lit(2), n_bigrams),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("bigrams"),
    )
    agg = (
        base.select("doc_id", F.explode("bigrams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("max_c"), F.sum("c").cast("bigint").alias("sum_c"))
    )
    ttr = F.coalesce(
        F.col("n_types").cast("double") / F.nullif(F.col("n_tokens"), F.lit(0)), F.lit(0.0)
    )
    share = F.coalesce(F.col("max_c").cast("double") / F.col("sum_c"), F.lit(0.0))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        ttr.alias("type_token_ratio"),
        share.alias("top_bigram_share"),
        ((ttr >= 0.25) & (share <= 0.2)).alias("keep"),
    )


@query(
    "text_unigram_logprob",
    # The float avg-NLL itself is NOT emitted: ln() is a libm call and
    # last-ulp rounding may differ across engines, and a sum of ~100
    # such terms is accumulation-order-sensitive. What IS emitted is
    # ulp-robust: exact integer token/rare-token counts, plus the keep
    # verdict — a cutoff comparison that could only flip if a doc's
    # avg NLL sat within ~1e-12 of 3.404 (the corpus values are
    # generic reals spaced ~1e-3 apart; measured range 3.38-3.70).
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN f.cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           (SUM(-ln(f.cnt / tot.total)) / COUNT(*)) <= 3.404 AS keep
    FROM tok t JOIN freq f ON t.tok = f.tok, tot
    GROUP BY t.doc_id
    """,
    doc="Unigram-LM quality filter (the CCNet-style perplexity proxy "
    "without an external LM): train token frequencies on the corpus "
    "itself in one pass, score each doc by average negative "
    "log-likelihood, keep docs below the cutoff; also emits the exact "
    "rare-token count (global freq < 5). Plan shape: one explode -> "
    "one freq groupBy (map-side combinable, so hot tokens collapse "
    "per-task before the exchange) -> UNHINTED join back onto the "
    "token stream -> per-doc agg. The token vocabulary GROWS with a "
    "web-scale corpus (Heaps' law), so the freq side carries no "
    "broadcast hint: AQE broadcasts it at small scale and falls back "
    "to a tok-keyed shuffle join (with skew-partition splitting) when "
    "the vocab outgrows the broadcast limit — the only forced "
    "broadcast left is the 1-row corpus-total scalar.",
    tags=("text", "quality", "pipeline", "lm"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (guide §2.3/§2.4, the r14 ccnet_buckets pattern): ONE
    # (doc_id, tok) pre-aggregation replaces three evaluations of the
    # tokenize+explode stream (freq, total, the NLL join's stream
    # side). freq and the corpus total FOLD from the pre-agg's counts
    # (sum of group counts == instance count — exact integers), and
    # the per-doc NLL weights each distinct token's term by its
    # multiplicity: sum over instances of -ln(p) == sum over distinct
    # toks of c * -ln(p). n_tokens/n_rare stay exact; `keep` is a
    # cutoff comparison whose margin (min |avgNLL - 3.404| = 1.9e-6 at
    # sf0.1, measured under this formulation) is ~6 orders of magnitude
    # above the ~1e-12 float-accumulation perturbation — hash-verified
    # unchanged against the oracle at sf0.001/0.01/0.1.
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    pre = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    freq = pre.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        pre.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") < 5, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_rare"),
            (
                (
                    F.sum(-F.col("c") * F.log(F.col("cnt") / F.col("total")))
                    / F.sum("c")
                )
                <= F.lit(3.404)
            ).alias("keep"),
        )
    )


@query(
    "text_bigram_logprob",
    # Same ulp-robustness contract as text_unigram_logprob: the float
    # avg NLL is NOT emitted (ln is libm, sums are order-sensitive);
    # the exact integer counts and a cutoff verdict are. 3.395 sits
    # >= 6e-6 from every doc's value at sf0.001/0.01/0.1 (measured),
    # ~7 orders of magnitude above cross-engine ln noise.
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks[CAST(r.i AS INT)] AS l,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1]) AS b
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 1
    ),
    fb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
    fl AS (SELECT l, COUNT(*) AS cl FROM bg GROUP BY l)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN fb.cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           (SUM(-ln(CAST(fb.cb AS DOUBLE) / fl.cl)) / COUNT(*)) <= 3.395 AS keep
    FROM bg g JOIN fb ON g.b = fb.b JOIN fl ON g.l = fl.l
    GROUP BY g.doc_id
    """,
    doc="Bigram-LM quality filter (the CCNet-style next-step beyond "
    "text_unigram_logprob): P(w_i | w_{i-1}) = corpus bigram count / "
    "left-context count — trained on the corpus itself, so every "
    "scored bigram exists and no smoothing is needed. Per doc: exact "
    "bigram and hapax (global count = 1) counts, plus keep = avg NLL "
    "<= 3.395. Plan: one bigram explode -> two freq aggs (map-side "
    "combinable) joined back WITHOUT broadcast hints: the bigram "
    "vocabulary is hapax-heavy and grows near-linearly with the "
    "corpus, so a forced broadcast is an executor OOM at scale — AQE "
    "broadcasts at small SFs and runs b-/l-keyed shuffle joins (with "
    "skew splitting) once the vocab tables outgrow the limit.",
    tags=("text", "quality", "pipeline", "lm"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("_toks"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("_toks"), i).alias("l"),
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("_toks"), i),
                            F.element_at(F.col("_toks"), i + 1),
                        ).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,b:string>>"))
        ).alias("_g"),
    ).select("doc_id", F.col("_g.l").alias("l"), F.col("_g.b").alias("b"))
    # r15 note: the unigram pre-agg restructure was TRIED here and
    # REVERTED after an interleaved A/B read 1.14x slower (3/3 process
    # rounds at sf0.1; oracle hash was identical). The cardinality
    # argument agrees with the measurement: the bigram vocabulary is
    # hapax-heavy, so a (doc_id, l, b) pre-aggregation has ~instance
    # cardinality — it adds a full extra exchange of the bigram stream
    # without compressing it, unlike the unigram case where per-doc
    # token repeats make the pre-agg shuffle strictly fewer bytes.
    fb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    fl = bg.groupBy("l").agg(F.count(F.lit(1)).alias("cl"))
    return (
        bg.join(fb, "b")
        .join(fl, "l")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("cb") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
            (
                (
                    F.sum(-F.log(F.col("cb").cast("double") / F.col("cl")))
                    / F.count(F.lit(1))
                )
                <= F.lit(3.395)
            ).alias("keep"),
        )
    )

def _bpe_chain(n_merges: int) -> str:
    """Unrolled SQL replay of the BPE trainer (same pattern as the
    kmeans oracle's CTE chain): w0 = character-split word-frequency
    table; per round t, p{t} counts adjacent pairs weighted by word
    freq, m{t} is the deterministic argmax, w{t} applies the canonical
    greedy merge pass via list_reduce with the same string-fold as
    operators/bpe._merge_pass. Returns the WITH-chain through
    w{n_merges}; the merge- and encode-oracles append their selects.

    Every CTE is MATERIALIZED: DuckDB otherwise inlines a CTE at each
    reference, and w{t-1} is read by both p{t} and w{t}, so w{n}
    expanded w0 ~2^n times (the 10-merge replay outgrew 12 GB)."""
    sql = f"""
    WITH w0 AS MATERIALIZED (
      SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seg, freq FROM (
        SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents) t
        GROUP BY 1
      )
    )"""
    for t in range(1, n_merges + 1):
        prev = f"w{t - 1}"
        sql += f""",
    p{t} AS MATERIALIZED (
      SELECT s[CAST(r.i AS INT)] AS l, s[CAST(r.i AS INT) + 1] AS r2,
             SUM(freq) AS pf
      FROM (SELECT string_split(seg, ' ') AS s, freq FROM {prev})
      JOIN range(1, 1000000) r(i) ON r.i <= len(s) - 1
      GROUP BY 1, 2
    ),
    m{t} AS MATERIALIZED (SELECT l, r2, pf FROM p{t} ORDER BY pf DESC, l ASC, r2 ASC LIMIT 1),
    w{t} AS MATERIALIZED (
      SELECT list_reduce(string_split({prev}.seg, ' '), (acc, x) ->
               CASE WHEN x = m{t}.r2 AND (acc = m{t}.l OR acc LIKE '% ' || m{t}.l)
                    THEN acc || m{t}.r2 ELSE acc || ' ' || x END) AS seg,
             freq
      FROM {prev} CROSS JOIN m{t}
    )"""
    return sql


def _bpe_oracle(n_merges: int) -> str:
    """Merge-table replay: the chain plus a UNION of each round's
    argmax row — emits (rank, left, right, merged, freq) bit-for-bit."""
    parts = " UNION ALL ".join(
        f"SELECT {t} AS rank, l, r2, pf FROM m{t}" for t in range(1, n_merges + 1)
    )
    return (
        _bpe_chain(n_merges)
        + f"""
    SELECT CAST(rank AS INT) AS rank, l AS left, r2 AS right,
           l || r2 AS merged, CAST(pf AS BIGINT) AS freq
    FROM ({parts})
    """
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Encode replay: the same training chain, then w{n} (the fully
    merged vocab segmentation) becomes the word→piece-count map —
    symbols never contain spaces, so replace(seg, ' ', '') recovers
    the word — joined against the corpus token stream."""
    n = n_merges
    return (
        _bpe_chain(n_merges)
        + f""",
    vmap AS (
      SELECT replace(seg, ' ', '') AS w,
             CAST(len(string_split(seg, ' ')) AS BIGINT) AS np
      FROM w{n}
    ),
    tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(np) AS BIGINT) AS n_pieces,
           CAST(SUM(np) AS DOUBLE) / COUNT(*) AS pieces_per_token
    FROM tok JOIN vmap ON tok.w = vmap.w
    GROUP BY tok.doc_id
    """
    )


@query(
    "text_bpe_merges",
    oracle=_bpe_oracle(10),
    doc="BPE subword-tokenizer training (Sennrich et al., ACL 2016): "
    "the first 10 merges learned from the corpus — one corpus pass "
    "builds the word-frequency table, then every round runs on that "
    "VOCAB-sized table (adjacent-pair counts weighted by word freq, "
    "deterministic argmax with lexicographic ties, canonical greedy "
    "left-to-right merge pass as a single fold expression in "
    "codegen). Driver traffic is ONE row per round, the k-means "
    "contract for iterative trainers. FULL value oracle: DuckDB "
    "replays all 10 rounds — pair counts, argmax and every "
    "segmentation rewrite (list_reduce with the identical string "
    "fold) — bit-for-bit (operators/bpe.py bpe_train_merges).",
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train_merges

    return bpe_train_merges(spark, _docs(spark, sf_dir), n_merges=10)


@query(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(10),
    doc="BPE ENCODING with the trained merges — the serving half of "
    "the tokenizer (train → encode → pack): per-doc whitespace-token "
    "count, subword-piece count after all 10 merges, and the "
    "pieces-per-token compression ratio. Scale shape: encoding never "
    "rewrites corpus text — the trainer's final vocab segmentation "
    "IS the word→pieces map, so the corpus side is one explode + one "
    "equi-join against a vocab-sized map (AQE-broadcastable at "
    "100 TB) + one aggregate, independent of n_merges. FULL value "
    "oracle: DuckDB replays training AND encoding bit-for-bit "
    "(operators/bpe.py bpe_encode_stats).",
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_stats

    return bpe_encode_stats(
        spark, _docs(spark, sf_dir), n_merges=10, cache_key=(sf_dir, "documents")
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(toks) AS dl, toks FROM (
        SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM d)
      WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             SUM(CAST(FLOOR(
               ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * ((tf.tf * 2.2) / (tf.tf + 1.2 * ((1.0 - 0.75)
                   + (0.75 * tf.dl) / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
               * 1000000.0) AS BIGINT)) AS score_fp
      FROM tf JOIN dfq USING (term) CROSS JOIN st
      GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(score_fp AS BIGINT) AS score_fp, rank FROM (
      SELECT doc_id, score_fp,
             CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS INT) AS rank
      FROM sc
    ) WHERE rank <= 20
    """,
    doc="BM25 ranked retrieval (Robertson & Zaragoza 2009, k1=1.2 "
    "b=0.75): top-20 documents for the query {hash, join, scan} — "
    "the retrieval complement of the tf-idf profile, used for "
    "query-targeted quality probes. One corpus pass builds "
    "(doc, term) counts for the QUERY terms only (isin prunes before "
    "the aggregate); document frequencies and length stats broadcast "
    "back; top-k plans as TakeOrderedAndProject. Per-(doc, term) "
    "contributions are a fixed single-IEEE-op chain (association "
    "mirrored exactly in the oracle) floored to 1e-6 fixed point, so "
    "scores are exact int64 sums and the oracle replays every score "
    "bit-for-bit (operators/bm25.py bm25_topk).",
    tags=("text", "bm25", "retrieval", "scale"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), ("hash", "join", "scan"), k=20)


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, lang = 'en' AS y, {_TOKS} AS toks FROM documents),
    tr AS (SELECT * FROM t0 WHERE doc_id % 5 <> 0),
    te AS (SELECT * FROM t0 WHERE doc_id % 5 = 0),
    trt AS (
      SELECT y, CAST(CONCAT('0x', SUBSTR(md5(w), 1, 8)) AS BIGINT) % 512 AS b
      FROM (SELECT y, unnest(toks) AS w FROM tr)
    ),
    cnt AS (
      SELECT b, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c0
      FROM trt GROUP BY b
    ),
    dense AS (
      SELECT r.i AS b, COALESCE(cnt.c1, 0) AS c1, COALESCE(cnt.c0, 0) AS c0
      FROM range(0, 512) r(i) LEFT JOIN cnt ON cnt.b = r.i
    ),
    tot AS (
      SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS n0
      FROM trt
    ),
    model AS (
      SELECT b, CAST(FLOOR((ln(CAST(c1 + 1 AS DOUBLE))
                          - ln(CAST(n1 + 512 AS DOUBLE))
                          - ln(CAST(c0 + 1 AS DOUBLE))
                          + ln(CAST(n0 + 512 AS DOUBLE))) * 1000000.0) AS BIGINT) AS r_fp
      FROM dense CROSS JOIN tot
    ),
    prior AS (
      SELECT CAST(FLOOR((ln(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1 AS DOUBLE))
                       - ln(CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) + 1 AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS prior_fp
      FROM tr
    ),
    tet AS (
      SELECT doc_id, CAST(CONCAT('0x', SUBSTR(md5(w), 1, 8)) AS BIGINT) % 512 AS b
      FROM (SELECT doc_id, unnest(toks) AS w FROM te)
    ),
    pd AS (
      SELECT doc_id, SUM(c * r_fp) AS s_fp FROM (
        SELECT doc_id, b, COUNT(*) AS c FROM tet GROUP BY 1, 2
      ) dc JOIN model USING (b) GROUP BY doc_id
    )
    SELECT te.doc_id,
           CAST(COALESCE(pd.s_fp, 0) + prior.prior_fp AS BIGINT) AS score_fp,
           (COALESCE(pd.s_fp, 0) + prior.prior_fp) > 0 AS predicted,
           te.y AS actual,
           ((COALESCE(pd.s_fp, 0) + prior.prior_fp) > 0) = te.y AS correct
    FROM te LEFT JOIN pd USING (doc_id) CROSS JOIN prior
    """,
    doc="Hashed bag-of-words linear classifier — the fastText shape "
    "(Joulin et al., EACL 2017) that CCNet-style pipelines (Wenzek et "
    "al., LREC 2020) use as the quality/domain/language gate. "
    "Multinomial Naive Bayes over 512 md5-hashed unigram buckets: "
    "training is CLOSED-FORM (one explode + partial-agg pass over the "
    "doc_id%5!=0 split to per-bucket class counts), scoring one "
    "explode + equi-join against the 512-row weight table "
    "(AQE-broadcastable) + per-doc sum; predicts lang='en' on the "
    "held-out 20%. Bucket log-ratios and the class prior are floored "
    "to 1e-6-nat fixed point, so scores are exact int64 sums and the "
    "DuckDB oracle replays training AND scoring bit-for-bit "
    "(operators/classifier.py nb_train_score).",
    tags=("text", "classifier", "quality", "pipeline", "scale"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import nb_train_score

    return nb_train_score(
        _docs(spark, sf_dir), F.col("lang") == "en", holdout_mod=5, n_buckets=512
    )



@query(
    "text_ccnet_buckets",
    # Determinism: the rank key is a FIXED-POINT avg NLL — each
    # token's -ln(freq/total) is floored to a BIGINT at 1e6 and
    # integer-summed (order-insensitive, bit-equal for equal token
    # multisets — the corpus's planted exact-duplicate docs tie
    # EXACTLY and fall to the doc_id tie-break; a raw float NLL key
    # would order such twins randomly: measured min same-lang gap at
    # sf0.1 is 0.0). The avg is then ONE IEEE divide of exact ints.
    # Residual cross-engine risk is a last-ulp ln() difference landing
    # a term within ~1e-9 of a floor boundary — structurally bounded,
    # not corpus-measured, unlike the raw-float alternative it
    # replaces.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
    nll AS (
      SELECT t.doc_id, t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(CAST(FLOOR(-ln(f.cnt / tot.total) * 1e6) AS BIGINT)) AS nll_fix
      FROM tok t JOIN freq f ON t.tok = f.tok, tot
      GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_tokens,
           CAST(nll_fix AS DOUBLE) / n_tokens AS avg_nll_fix,
           CAST(NTILE(3) OVER (
             PARTITION BY lang
             ORDER BY CAST(nll_fix AS DOUBLE) / n_tokens ASC, doc_id ASC
           ) AS INT) AS bucket
    FROM nll
    """,
    doc="CCNet-style perplexity buckets (Wenzek et al. 2020): score "
    "every doc by the corpus-trained unigram avg NLL (the "
    "text_unigram_logprob proxy, made rank-stable in fixed point) and "
    "split each LANGUAGE into head/middle/tail terciles — the "
    "standard quality-stratification step before mixture weighting. "
    "Plan: one explode -> freq agg -> unhinted join back (vocab grows "
    "with the corpus, AQE decides) -> per-doc integer agg -> per-lang "
    "ntile. The ntile window sorts within each lang partition; lang "
    "cardinality is catalog-sized, so at 100 TB the per-lang sort is "
    "the one range-shuffle this op needs — swap the exact tercile for "
    "sampled cutoffs only if a single language outgrows a range-"
    "partitioned sort.",
    tags=("text", "quality", "pipeline", "lm", "ccnet"),
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    )
    # Pre-aggregate to (doc, tok) multiplicities once: the raw token
    # stream used to be evaluated THREE times in the one job (freq,
    # total, and the frequency join — three different first exchanges
    # over the same map-side tokenize+explode, which ReuseExchange
    # cannot share). freq and total are exact integer folds of the
    # pre-agg (sum of group counts == total count), the NLL join now
    # carries one row per DISTINCT (doc, tok) instead of one per
    # token instance, and each token's floored NLL term is weighted
    # by its multiplicity — identical values by distributivity.
    pre = toks.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    freq = pre.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = freq.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("double").alias("total")
    )
    nll = (
        pre.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("c")
                * F.floor(-F.log(F.col("cnt") / F.col("total")) * F.lit(1e6)).cast(
                    "long"
                )
            ).alias("nll_fix"),
        )
    )
    avg = F.col("nll_fix").cast("double") / F.col("n_tokens")
    w = W.partitionBy("lang").orderBy(avg.asc(), F.col("doc_id").asc())
    return nll.select(
        "doc_id",
        "lang",
        "n_tokens",
        avg.alias("avg_nll_fix"),
        F.ntile(3).over(w).cast("int").alias("bucket"),
    )


from .similarity import _PROD as _VPROD, _VEC_CTE  # noqa: E402


@query(
    "text_hybrid_retrieval_rrf",
    # FULL value oracle: both retrievers are already bit-replayable
    # (BM25 fixed-point scores; exact fixed-point cosine ranks), and
    # each RRF contribution is floor(1e12 / (c + rank)) — one IEEE
    # division of exact integers — so the fused scores are exact int64
    # sums DuckDB reproduces bit-for-bit.
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(toks) AS dl, toks FROM (
        SELECT doc_id, {{toks}} AS toks FROM documents)
    ),
    st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM d)
      WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT tf.doc_id,
             SUM(CAST(FLOOR(
               ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * ((tf.tf * 2.2) / (tf.tf + 1.2 * ((1.0 - 0.75)
                   + (0.75 * tf.dl) / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
               * 1000000.0) AS BIGINT)) AS score_fp
      FROM tf JOIN dfq USING (term) CROSS JOIN st
      GROUP BY tf.doc_id
    ),
    bm AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rank
        FROM sc
      ) WHERE rank <= 50
    ),
    {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id = 0),
    dots AS (
      SELECT ce.vec_id AS vec_id,
             SUM({_VPROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND ce.vec_id != 0
      GROUP BY 1
    ),
    sem AS (
      SELECT vec_id AS doc_id, rank FROM (
        SELECT dots.vec_id,
               ROW_NUMBER() OVER (ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON nq.vec_id = 0
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 50
    ),
    contrib AS (
      SELECT doc_id, 'lex' AS src, rank,
             CAST(FLOOR(1000000000000.0 / (60 + rank)) AS BIGINT) AS c
      FROM bm
      UNION ALL
      SELECT doc_id, 'sem', rank,
             CAST(FLOOR(1000000000000.0 / (60 + rank)) AS BIGINT)
      FROM sem
    ),
    fused AS (
      SELECT doc_id,
             SUM(c) AS rrf_fp,
             CAST(MAX(CASE WHEN src = 'lex' THEN rank END) AS INT) AS r_lex,
             CAST(MAX(CASE WHEN src = 'sem' THEN rank END) AS INT) AS r_sem
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, r_lex, r_sem, CAST(rrf_fp AS BIGINT) AS rrf_fp,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_fp DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= 20
    """.replace("{toks}", _TOKS),
    doc="HYBRID retrieval — the RAG-stack standard: BM25 top-50 for "
    "the query {hash, join, scan} fused with embedding-cosine top-50 "
    "for query vector 0 by reciprocal-rank fusion (Cormack et al., "
    "SIGIR 2009, c=60; operators/bm25.py rrf_fuse), final top-20. "
    "Fusion is a union + hash agg + TakeOrderedAndProject over "
    "O(k') rows whatever the corpus size — the retrievers keep their "
    "own scale paths (BM25's isin-pruned single pass; the embedding "
    "side swaps to the partition-pruned IVF probe at deployment "
    "scale, exact brute force here so the oracle stays full-value).",
    tags=("text", "retrieval", "hybrid", "rrf", "similarity"),
)
def text_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.bm25 import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk

    lex = bm25_topk(_docs(spark, sf_dir), ("hash", "join", "scan"), k=50).select(
        "doc_id", "rank"
    )
    sem = cosine_topk(
        balanced(spark, load_table(spark, sf_dir, "embeddings")), [0], k=50
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse({"lex": lex, "sem": sem}, k=20, c=60)

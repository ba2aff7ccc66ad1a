"""BPE merge training over the corpus vocabulary (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword
Units", ACL — the classic subword-tokenizer trainer).

Spark-first shape: classic BPE never touches the corpus after one
word-frequency pass — training runs on the WORD TABLE (vocab-sized:
millions of rows at 100 TB, not trillions), so each merge round is a
small vocab-keyed job and the driver holds exactly ONE row per round
(the argmax pair), the same O(rounds) driver-traffic contract as the
k-means trainer. Per round: adjacent-pair counts weighted by word
frequency (map-side explode + partial agg), a deterministic argmax
(ties by pair lexicographically), and a segmentation rewrite applied
as a single fold expression inside whole-stage codegen — the fold is
the canonical greedy left-to-right merge pass (a just-merged symbol
cannot re-merge in the same pass), reproduced verbatim by DuckDB's
list_reduce so the whole ITERATIVE trainer sits under a full value
oracle (queries/text.py text_bpe_merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..artifacts import build_once
from ..functions.text_funcs import tokens


def _merge_pass(a: str, b: str):
    """Column expr: one greedy left-to-right merge pass of pair (a, b)
    over a space-separated segmentation column ``seg``.

    Fold with a string accumulator: merge iff the accumulator's LAST
    SYMBOL is exactly ``a`` (boundary-aware: equal, or ends with
    ' '+a) and the next symbol is ``b`` — appending ``b`` without a
    separator IS the merge. A merged symbol ends the accumulator as
    a+b, so it can never left-match ``a`` again within the pass:
    exactly canonical BPE's non-overlapping leftmost-first behavior
    (a run of 2k identical symbols becomes k merged pairs).
    """
    sy = F.split("seg", " ")
    return F.aggregate(
        F.slice(sy, 2, F.size(sy) - 1),
        F.element_at(sy, 1),
        lambda acc, x: F.when(
            (x == F.lit(b)) & ((acc == F.lit(a)) | acc.endswith(F.lit(" " + a))),
            F.concat(acc, F.lit(b)),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def _train(spark, docs: DataFrame, n_merges: int, text_col: str, cache_key=None):
    """Run the merge-training loop; returns ``(merges, seg)`` where
    ``merges`` is the driver-side list of ``(rank, left, right,
    merged, freq)`` tuples (≤ ``n_merges`` rows — the bounded
    O(rounds) driver traffic) and ``seg`` is the final vocab-sized
    segmentation table (``seg``: space-separated symbols, ``freq``)
    after every learned merge has been applied.

    Lineage per round is truncated with an eager localCheckpoint of
    the (vocab-sized) segmentation table, so round N's plan never
    re-derives rounds 1..N-1 — same per-round materialization the
    iterative graph/components operators use.

    Training is built once per (cache_key, n_merges) when the caller
    names the corpus version — a tokenizer is trained once per corpus
    version and applied many times, so serving paths must not re-bill
    the training cost; the trainer is deterministic, so cached and
    fresh results are bit-identical. The cached seg table is a
    localCheckpoint, valid for the life of the session.
    """
    if cache_key is not None:
        return build_once(
            "bpe_train",
            (cache_key, n_merges),
            lambda _dir: _train(spark, docs, n_merges, text_col),
        )
    words = (
        docs.select(tokens(text_col).alias("_toks"))
        .select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seg"), "freq"
    ).localCheckpoint()
    merges = []
    for r in range(1, n_merges + 1):
        sy = F.split("seg", " ")
        pairs = (
            cur.select(
                F.posexplode(F.slice(sy, 1, F.size(sy) - 1)).alias("_i", "left"),
                sy.alias("_s"),
                "freq",
            )
            .select(
                "left",
                F.element_at("_s", F.col("_i") + 2).alias("right"),
                "freq",
            )
            .groupBy("left", "right")
            .agg(F.sum("freq").alias("pfreq"))
            .orderBy(F.col("pfreq").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        a, b, pf = pairs[0]["left"], pairs[0]["right"], pairs[0]["pfreq"]
        merges.append((r, a, b, a + b, int(pf)))
        cur = cur.select(_merge_pass(a, b).alias("seg"), "freq").localCheckpoint()
    return merges, cur


def bpe_train_merges(
    spark,
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus; returns the merge
    table (rank, left, right, merged, freq) — ``freq`` is the merged
    pair's corpus-weighted count at the time of its selection.
    """
    merges, _ = _train(spark, docs, n_merges, text_col)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, freq bigint"
    )


def bpe_encode_stats(
    spark,
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_key=None,
) -> DataFrame:
    """Apply the trained merges to ENCODE the corpus — the serving
    half of the tokenizer (train → encode → pack): per document, the
    whitespace-token count, the subword-PIECE count after all merges,
    and the pieces-per-token compression ratio.

    Spark-first scale shape: encoding, like training, never rewrites
    corpus text. The trainer's final segmentation table already holds
    every distinct word fully merged (symbols never contain spaces,
    so ``translate(seg, ' ', '')`` recovers the word); the corpus
    side is one explode + one equi-join of tokens against that
    word→piece-count map + one aggregate. The map is vocab-sized —
    millions of rows at 100 TB, the small side of the join — so AQE
    broadcasts it and per-doc cost is independent of n_merges. No
    per-row Python anywhere; ``pieces_per_token`` is a single IEEE
    division of two exact int64 counts, so the DuckDB oracle (which
    replays training AND encoding) is bit-identical.
    """
    _, seg = _train(spark, docs, n_merges, text_col, cache_key=cache_key)
    vocab_map = seg.select(
        F.translate("seg", " ", "").alias("_w"),
        F.size(F.split("seg", " ")).cast("bigint").alias("_np"),
    )
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("_w"))
    return (
        tok.join(vocab_map, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("_np").cast("bigint").alias("n_pieces"),
        )
        .withColumn(
            "pieces_per_token",
            F.col("n_pieces").cast("double") / F.col("n_tokens"),
        )
    )

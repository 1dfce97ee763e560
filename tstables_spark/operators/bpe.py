"""Distributed BPE merge training — the iterated trainer that
``bpe_pair_counts``'s docstring promises.

Classic byte-pair-encoding training never touches the corpus after one
pass: it operates on the (word, freq) table — bounded by the
vocabulary, not the corpus (at 100 TB the corpus is petabytes but the
word table is ~1e8 rows). Each round is one pair-count aggregate over
that table (single shuffle, map-side combine), ONE argmax row to the
driver (count desc, pair asc — deterministic tie-break), and a
codegen'd ``replace`` scan applying the merge. N merges = N tiny
aggregates + N one-row driver exchanges, the same driver-loop shape as
``kmeans_fit`` and ``graph_pagerank``.

Symbol state representation: every symbol is individually wrapped,
``'abc' -> '|a||b||c|'``, so the merge is a plain non-overlapping
left-to-right string ``replace('|a||b|' -> '|ab|')`` — adjacent
symbols share NO characters, which makes string replace's
left-to-right scan EXACTLY BPE's greedy non-overlapping merge
('a a a' merges to ('aa', 'a'), never ('a', 'aa')), and gives the
DuckDB oracle an identical one-call twin. A delimiter collision is
impossible because words containing '|' are filtered on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tstables_spark._local import local_df
from tstables_spark._staging import pin


def bpe_pair_table(state: DataFrame) -> DataFrame:
    """(pair, cnt): adjacent-symbol pair frequencies of the delimited
    symbol state, weighted by word frequency. One explode + one
    pair-keyed partial+final aggregate."""
    arr = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\|\|")
    return (
        state.select("freq", arr.alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 2),"
                    " i -> concat(a[i], ' ', a[i+1]))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "w",
    freq_col: str = "freq",
) -> DataFrame:
    """Train ``n_merges`` BPE merges over a (word, freq) table; returns
    the merge list (merge_rank, pair, cnt) — the tokenizer's merge
    table, in training order. Stops early if the pair space dries up.

    The per-round ``_staging.pin`` pins each state so round r's
    aggregate doesn't re-execute rounds 1..r-1's replaces (the same
    iterated-lineage discipline as operators/components.py)."""
    merges, _ = bpe_train_with_state(words, n_merges, word_col, freq_col)
    return merges


def bpe_train_with_state(
    words: DataFrame,
    n_merges: int,
    word_col: str = "w",
    freq_col: str = "freq",
) -> tuple[DataFrame, DataFrame]:
    """``bpe_train`` plus the FINAL symbol state ``(s, freq)`` — the
    encoded vocabulary after all merges, which is what the encode step
    (``bpe_encode``) reads: applying a trained tokenizer to the corpus
    is exactly replaying its merges over the word table, so training
    and encoding share this one loop."""

    spark = words.sparkSession
    state = pin(
        words.select(
            F.regexp_replace(F.col(word_col), "(.)", "|$1|").alias("s"),
            F.col(freq_col).cast("long").alias("freq"),
        )
    )
    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        top = (
            bpe_pair_table(state)
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merges.append((r, pair, cnt))
        a, b = pair.split(" ")
        state = pin(
            state.select(
                F.replace(
                    F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
                ).alias("s"),
                "freq",
            )
        )
    return (
        local_df(spark, merges, "merge_rank int, pair string, cnt long"),
        state,
    )

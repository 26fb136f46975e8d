"""Vocabulary induction + token-id encoding — the text→ids step in front
of any training run.

- ``build_vocab``: frequency-ranked vocabulary (word, freq, word_id) with
  word_id = dense rank in (freq desc, word asc) order — deterministic
  across engines. The corpus collapses to per-word counts first (classic
  map-side-combine aggregation), so the ranking input is |vocab|, not
  |corpus|; id assignment reuses operators/ids.with_dense_ids, bucketed
  by frequency, so a big vocabulary sorts in one window per frequency
  instead of a single-partition global sort.
- ``encode_docs``: per-doc token-id arrays via posexplode + a broadcast
  vocab join, re-assembled in token order with a sort-by-position
  aggregation (partition-local; no global ordering). OOV tokens (cut by
  min_freq/max_size) encode as -1 so truncation is visible downstream.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from carrot_transform_spark.operators.ids import with_dense_ids

UNK_ID = -1


def build_vocab(
    df: DataFrame,
    text_col: str,
    min_freq: int = 1,
    max_size: int | None = None,
    persist_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """(word, freq, word_id) with word_id = 1..N in (freq desc, word) order."""
    counts = (
        df.select(F.explode(F.split(F.trim(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .withColumn("neg_freq", -F.col("freq"))
    )
    vocab = with_dense_ids(
        counts,
        ["neg_freq", "word"],
        "word_id",
        bucket=[F.col("neg_freq")],
        persist_registry=persist_registry,
    ).drop("neg_freq")
    if max_size is not None:
        vocab = vocab.filter(F.col("word_id") <= max_size)
    return vocab


def encode_docs(
    df: DataFrame, vocab: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_tokens, n_unk, token_ids): each doc's tokens mapped to vocab
    ids in token order; OOV -> UNK_ID (-1). EVERY input doc yields exactly
    one output row — an empty/whitespace-only text encodes as
    (id, 0, 0, []) rather than silently vanishing from the result."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.trim(text_col), r"\s+")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    # no broadcast hint: a corpus-scale vocabulary (tens of millions of
    # words at 100 TB) must be allowed to shuffle-join; Spark broadcasts
    # automatically below autoBroadcastJoinThreshold anyway
    mapped = toks.join(vocab.select("word", "word_id"), "word", "left")
    wid = F.coalesce(F.col("word_id"), F.lit(UNK_ID))
    encoded = (
        mapped.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("word_id").isNull(), 1).otherwise(0)).alias("n_unk"),
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), wid.alias("w")))),
                lambda s: s["w"],
            ).alias("token_ids"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(encoded, "id", "left")
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_unk", F.lit(0)).alias("n_unk"),
            F.coalesce("token_ids", F.array().cast("array<long>")).alias("token_ids"),
        )
    )

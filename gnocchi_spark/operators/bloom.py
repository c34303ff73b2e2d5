"""Distributed Bloom filter: build a bit array as a tiny DataFrame
aggregate, broadcast it, and membership-test a batch map-side.

The 100 TB use case is incremental ingest dedup: "which documents in
today's batch have we already got?"  A shuffle join of batch against
corpus re-shuffles the corpus every day.  A Bloom filter inverts that:

- BUILD is one ``groupBy(word_idx).agg(bit_or(mask))`` over the corpus
  keys.  ``bit_or`` is algebraic, so each task folds its rows into at
  most ``n_bits/32`` partial words before the shuffle — the shuffle
  traffic is ``O(n_bits × partitions)``, independent of corpus row
  count, and the result is a DataFrame of ≤ ``n_bits/32`` rows.
- PROBE broadcasts that tiny table and checks the batch's k bit
  positions against it — map-only from the batch's point of view; the
  corpus is never touched again.
- Bloom "maybe" hits (true dups + false positives, a tiny fraction at
  sensible sizing) can then be exact-verified with a semi-join whose
  left side is already filtered to candidates.

Everything is deterministic md5 arithmetic (no JVM hash seeds), so a
DuckDB oracle reproduces the filter bit-for-bit — membership answers
including false positives are identical by construction.

Hashing: the classic k-from-one-digest scheme — md5's 32 hex chars
split into four independent 32-bit words (same family as the
Carter-Wegman construction in operators/dedup.py, which takes two
words from one digest).  k ≤ 4 therefore costs ONE md5 per key.
False-positive rate at defaults (n_bits=2^16, k=4): for n keys,
(1 - exp(-k*n/m))^k ≈ 0.024 at n=10k; size n_bits ≥ ~10×n for real
corpora (a 1e9-key corpus at 1e10 bits = 1.25 GB of words — still a
broadcastable table of 3.1e8 rows? No: at that scale raise word size
by bucketing the filter per partition-key instead; see the docstring
of bloom_membership).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 32-bit words so ``1 << (pos % 32)`` never touches the BIGINT sign bit
# (Spark shiftleft wraps silently at 63, DuckDB errors — 32 keeps the
# oracle and the engine in the same value domain).
WORD_BITS = 32


def bloom_positions(key: Column, n_bits: int, k: int = 4) -> Column:
    """Array of ``k`` bit positions for ``key``: md5 hex slices
    ``[0:8) [8:16) [16:24) [24:32)`` parsed as 32-bit ints mod n_bits.
    One digest, k ≤ 4 positions."""
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (one md5 digest)")
    digest = F.md5(key)
    return F.array(
        *[
            (
                F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")
                % F.lit(n_bits)
            )
            for j in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, key: Column, n_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Fold ``key`` over all rows into a Bloom bit array, returned as
    ``(word_idx int, bits long)`` — at most ``n_bits/32`` rows, sized
    to broadcast.  One algebraic aggregation; map-side partials bound
    shuffle traffic by filter size, not corpus size."""
    pos = F.explode(bloom_positions(key, n_bits, k)).alias("pos")
    return (
        df.select(pos)
        .select(
            (F.col("pos") / WORD_BITS).cast("int").alias("word_idx"),
            # F.shiftleft only takes a literal shift amount; expr form
            # accepts a column one
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_membership(
    batch: DataFrame,
    bloom: DataFrame,
    key: Column,
    n_bits: int = 1 << 16,
    k: int = 4,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Add ``out_col``: true iff ALL k of the row's bit positions are
    set in ``bloom`` (i.e. "maybe in corpus"; false = definitely not).

    The probe explodes each batch row to its k positions, broadcast-
    joins the word table, and re-groups by the batch's own columns —
    the only shuffle is keyed by the batch row id, and the corpus never
    re-enters the plan.  At filter sizes beyond broadcast reach
    (≫1e9 bits), shard the filter by a partition key (e.g. language or
    date bucket) and build one small filter per shard instead of one
    giant one — same code, one extra groupBy column.
    """
    cols = batch.columns
    probed = (
        batch.withColumn("__pos", F.explode(bloom_positions(key, n_bits, k)))
        .withColumn("__word_idx", (F.col("__pos") / WORD_BITS).cast("int"))
        .withColumn(
            "__mask",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__pos % {WORD_BITS} AS INT))"
            ),
        )
        .join(F.broadcast(bloom), F.col("__word_idx") == F.col("word_idx"), "left")
        .withColumn(
            "__bit_set",
            F.coalesce(F.col("bits").bitwiseAND(F.col("__mask")) != 0, F.lit(False)),
        )
    )
    return probed.groupBy(*cols).agg(
        F.min(F.col("__bit_set").cast("int")).cast("boolean").alias(out_col)
    )


def batch_dedup_against_corpus(
    corpus: DataFrame,
    batch: DataFrame,
    key_col: str = "text_key",
    n_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """End-to-end incremental exact dedup: Bloom-probe ``batch`` against
    ``corpus`` (both carrying a precomputed ``key_col``), then exact-
    verify only the Bloom candidates with a semi-join.  Output adds
    ``bloom_hit`` (filter said maybe) and ``confirmed`` (actually in
    corpus); ``bloom_hit and not confirmed`` rows are the filter's
    false positives — the oracle checks all three, so the filter's
    exact bit pattern is part of the contract.

    The verify join's left side is only the candidate rows; its right
    side is the corpus keyed by ``key_col`` — at 100 TB store the
    corpus bucketed on ``key_col`` (``bucketBy``) so the verify is a
    co-located join, and the non-candidate majority of the batch never
    shuffles at all.
    """
    bloom = bloom_build(corpus, F.col(key_col), n_bits, k)
    probed = bloom_membership(batch, bloom, F.col(key_col), n_bits, k)
    candidates = probed.where(F.col("bloom_hit"))
    confirmed = candidates.join(
        corpus.select(F.col(key_col)).distinct(), key_col, "left_semi"
    ).select(key_col, F.lit(True).alias("confirmed"))
    return probed.join(confirmed, key_col, "left").withColumn(
        "confirmed", F.coalesce(F.col("confirmed"), F.lit(False))
    )

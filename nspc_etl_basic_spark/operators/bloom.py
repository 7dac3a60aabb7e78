"""Bloom-filter semi-join pruning: filter a huge fact table against a
medium dimension WITHOUT shuffling the fact side.

The 100 TB problem: `fact SEMI JOIN dim` either broadcasts the dim
(fine when the dim fits in memory) or shuffles BOTH sides on the key —
and the fact side is the 100 TB one. A Bloom filter is the classical
middle tier: build an m-bit filter over the dim keys (one small
aggregate), embed it in the plan as a literal array of 32-bit words
(~2 K longs per 2^16 bits — the same codebook-as-literals contract as the
IVF centroids), and the fact scan drops non-members in place: zero
shuffle, zero join, scan-speed pruning with a bounded false-positive
rate ((1 - e^(-kn/m))^k). The exact semi-join then runs only on the
survivors — at a selective dim this shrinks the shuffled fact volume
by orders of magnitude. (Spark's own runtime bloom-pushdown,
spark.sql.optimizer.runtime.bloomFilter.enabled, does this opaquely
for equi-joins; this operator makes the filter an explicit, reusable,
ORACLE-REPLAYABLE artifact — it can be persisted, shipped to another
job, or applied to a stream.)

Determinism tiers (the MinHash md5/xxhash64 convention):
  - ``hash_fn="md5"`` — bit positions from md5 hex (both engines
    compute identical digests), so a DuckDB oracle replays the filter
    word-for-word and the membership verdicts row-for-row;
  - ``hash_fn="xxhash64"`` — the JVM-side production tier (one
    codegen'd call per probe instead of an md5 + hex parse).

Reference parity note: the reference loader has no bloom stage (its
checkpoint anti-join, loader.py:170-251, re-reads the processed-file
table); this operator is part of the large-scale extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default filter geometry: 2^16 bits / 1024 words / k=5 gives a ~1.1%
#: false-positive rate at 4k keys, ~0.1% at 1k
DEFAULT_M_BITS = 1 << 16
DEFAULT_K = 5


def _bit_pos(key: Column, j: int, m_bits: int, hash_fn: str) -> Column:
    """Bit position of probe ``j`` for a key, in [0, m_bits).

    md5 tier: first 15 hex chars (60 bits, always non-negative) of
    md5("<j>_<key>") mod m — the exact expression the DuckDB oracle
    uses. xxhash64 tier: pmod(xxhash64(j, key), m).
    """
    s = key.cast("string")
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}_"), s)), 1, 15), 16, 10)
        return (h.cast("long") % F.lit(m_bits)).cast("long")
    if hash_fn != "xxhash64":
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    return F.pmod(F.xxhash64(F.lit(j), s), F.lit(m_bits)).cast("long")


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_fn: str = "md5",
) -> list[int]:
    """Build the filter over ``df[key_col]``: returns the dense word
    list (``m_bits/32`` 32-bit words in longs, missing words
    zero-filled).

    Plan shape: one projection (k bit positions per key), one explode
    (k rows per key — the DIM side, small by assumption), one
    map-side-combined ``bit_or`` groupBy on word index, and a bounded
    collect of <= m_bits/32 rows. The fact table is never touched.
    """
    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    key = F.col(key_col)
    pos = F.explode(
        F.array(*[_bit_pos(key, j, m_bits, hash_fn) for j in range(k)])
    ).alias("pos")
    words = (
        df.where(key.isNotNull())
        .select(pos)
        .select(
            # 32-bit words (in BIGINT): every word stays non-negative and
            # every shift stays < 32, so the DuckDB oracle replays the
            # bit math without signed-overflow edge cases (1<<63 ERRORS
            # there, and negative-word shifts differ across engines)
            (F.col("pos") / F.lit(32)).cast("long").alias("w"),
            (F.col("pos") % F.lit(32)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(
            # call_function: the DSL shiftleft() only takes a literal
            # int shift; the SQL function accepts a column
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("b")
                )
            ).alias("word")
        )
        .collect()
    )
    dense = [0] * (m_bits // 32)
    for r in words:
        dense[r["w"]] = r["word"]
    return dense


def bloom_might_contain(
    words: list[int],
    key: Column,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_fn: str = "md5",
) -> Column:
    """Membership predicate as a pure projection: the word list rides
    the plan as ONE array literal; each probe is an element_at + shift
    + mask. True = maybe-member (bounded FP rate), False = definitely
    absent — so it is always safe as a PRE-filter."""
    # explicit long elements: a batch of small words would otherwise
    # infer array<int> and the bitwise ops would type-mismatch
    lit_words = F.lit([int(w) for w in words]).cast("array<long>")
    cond = None
    for j in range(k):
        pos = _bit_pos(key, j, m_bits, hash_fn)
        word = F.element_at(lit_words, (pos / F.lit(32)).cast("int") + F.lit(1))
        bit = (
            F.call_function("shiftright", word, (pos % F.lit(32)).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))  # Column & is LOGICAL and
        ) == F.lit(1)
        cond = bit if cond is None else (cond & bit)
    return cond

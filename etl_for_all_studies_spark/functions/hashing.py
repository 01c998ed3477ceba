"""Portable deterministic hashing primitives.

Every hash here is defined by arithmetic that DuckDB can replicate verbatim
(no engine-specific hash functions), so dedup/fingerprint operators can be
oracle-checked exactly: a polynomial rolling hash over code points modulo a
sub-2^31 prime (products stay < 2^63 — no BIGINT overflow in either engine),
and (a·x + b) mod p universal-hash families derived from it.

Scale note: all of these are narrow projections over codegen'd built-ins
(`split`/`transform`/`aggregate`) — no Python UDFs in the hot path.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007  # prime modulus; values < 2^30, products < 2^63
BASE = 131
# second independent (base, modulus) pair — combined with the first, the
# effective keyspace is MOD·MOD2 ≈ 2^60, the collision hardening the span
# dedup family keys on (see operators/spans.py collision math)
MOD2 = 998_244_353  # prime; also < 2^30, so the same overflow bounds hold
BASE2 = 137


def poly_hash(col: Column, *, base: int = BASE, mod: int = MOD) -> Column:
    """Polynomial rolling hash of a string: ``h = Σ h·base + code(c) (mod p)``.

    Identical SQL form (DuckDB): ``list_reduce(..., (acc, c) ->
    (acc * 131 + ascii(c)) % 1000000007)`` — see the oracle templates.
    """
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )


# bit-packing layout for carrying BOTH component hashes in one long:
# h1·2^30 + h2 (each < 2^30). This is a TRANSPORT encoding, distinct from
# the spans module's injective ~2^60 window KEY (h1·MOD2 + h2).
PACK_SHIFT = 30
PACK_MASK = (1 << PACK_SHIFT) - 1


def _packed_step(acc: Column, c: Column) -> Column:
    """One character's update of the packed (h1, h2) accumulator."""
    return (
        (
            ((F.shiftright(acc, PACK_SHIFT) * BASE + F.ascii(c)) % MOD)
            * F.lit(1 << PACK_SHIFT)
        )
        + ((acc.bitwiseAND(F.lit(PACK_MASK)) * BASE2 + F.ascii(c)) % MOD2)
    )


def poly_hash_combined(col: Column) -> Column:
    """The injective ~2^60 combined key ``h1·MOD2 + h2`` of a string, in
    one char pass — for identity-class uses (document fingerprints, span
    window keys) where a single sub-2^31 hash collides in practice at
    ~10^5-item scale. The combine rides in the aggregate's ``finish``
    lambda so the fold is evaluated exactly once (no CSE guarantees for
    interpreted HOF expressions referenced twice)."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        _packed_step,
        lambda acc: F.shiftright(acc, PACK_SHIFT) * F.lit(MOD2)
        + acc.bitwiseAND(F.lit(PACK_MASK)),
    )


def affine_hash(h: Column, a: int, b: int) -> Column:
    """Universal-hash family member: ``(a·h + b) mod p`` over a base hash."""
    return (h * F.lit(a) + F.lit(b)) % F.lit(MOD)


def char_shingles(col: Column, k: int) -> Column:
    """Distinct k-character shingles of a string as an array<string>.

    ``sequence(1, len-k+1)`` positions → ``substring`` — expressible in
    DuckDB as ``list_transform(range(...), i -> text[i:i+k-1])``.

    Texts shorter than ``k`` (and NULL/empty texts) yield an **empty** array:
    Spark evaluates ``sequence(1, 0)`` as a *descending* sequence ``[1, 0]``,
    which would emit a spurious truncated shingle — the explicit ``n >= k``
    guard matches DuckDB's ``range(1, greatest(len-k+1, 0)+1)`` (empty).
    """
    n = F.length(col)
    positions = F.sequence(F.lit(1), n - F.lit(k - 1))
    return F.when(
        n >= F.lit(k),
        F.array_distinct(F.transform(positions, lambda i: F.substring(col, i, k))),
    ).otherwise(F.array().cast("array<string>"))


def word_tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty → empty array)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


__all__ = [
    "BASE",
    "BASE2",
    "MOD",
    "MOD2",
    "PACK_MASK",
    "PACK_SHIFT",
    "affine_hash",
    "char_shingles",
    "poly_hash",
    "poly_hash_combined",
    "word_tokens",
]

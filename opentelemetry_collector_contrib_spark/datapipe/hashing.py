"""Portable deterministic hashing shared by Spark and the DuckDB oracle.

Spark's xxhash64/hash and DuckDB's hash() disagree, so every dedup /
LSH operator that needs oracle-checkable results uses hashes that both
engines (and a Python twin) compute identically.

Strings use an md5-derived 32-bit integer:

    H(s) = int(md5(s)[0:8], 16)          # in [0, 2^32)

Token k-grams (``tokens: array<int>``) use a polynomial (Horner) lane
over the token ids, in plain integer arithmetic with no Python hop:

    lane_B(t_i..t_{i+k-1}) = fold h -> pmod(h*B + t, 2^31-1), from 0

Every intermediate stays below 2^52, so Spark (ANSI on) and DuckDB
BIGINT agree exactly, negative ids included.  Two widths are built
from it:

- ``token_gram_hash32``: murmur3's fmix32 of the B=1000003 lane, the
  DISTINCT values per document — the MinHash input.  The finalizer is
  required: the universal family below is affine in the same prime
  field as the lane, so the bare lane would correlate the 16 MinHash
  functions and collapse LSH recall.
- ``token_gram_hash62``: two lanes (B=1000003 and 999983) packed as
  ``(h1 << 31) | h2``, one value per gram position — the span-profile
  key.  It is only compared for equality, so it needs no finalizer.

MinHash uses the classic universal-hash family h_i(x) = (a_i*x + b_i)
mod p with p = 2^31 - 1 and fixed (a_i, b_i) (seeded, committed
below); x < 2^32 keeps a_i*x under 2^63 in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1

# fixed universal-hash coefficients (generated once from seed 1234,
# committed as literals so Spark and the oracle agree forever)
_A = [1103515245, 1103527590, 29943829, 1119291809, 1191729, 1000000007,
      69069, 1664525, 22695477, 134775813, 214013, 16807,
      48271, 69621, 40692, 40014]
_B = [12345, 1013904223, 1, 2531011, 1049089, 7,
      362437, 1, 1013904223, 5, 2531011, 0,
      11, 23, 31, 43]

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

# Horner bases of the two gram lanes (primes below 2^20)
GRAM_B1, GRAM_B2 = 1000003, 999983
# murmur3 fmix32 multipliers, split into 16-bit halves so that no
# product reaches 2^63 (ANSI overflow in Spark, BIGINT in DuckDB)
_FMIX_C1, _FMIX_C2 = 0x85EBCA6B, 0xC2B2AE35
_M32 = (1 << 32) - 1

#: Names the token-gram hash family.  Persisted gram-derived state
#: (fuzzy-ingest band signatures) is stamped with it, and readers refuse
#: state written under any other scheme.
GRAM_HASH_SCHEME = "horner-p31-b1000003-fmix32"


def portable_hash(col: Column) -> Column:
    """H(s): first 8 md5 hex digits as a bigint — same in DuckDB."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def portable_hash_sql(col_sql: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST({col_sql} AS VARCHAR)), 1, 8)) AS BIGINT)"


def minhash_expr(h: Column, i: int) -> Column:
    """h_i(H) = (a_i*H + b_i) mod p as a Spark column."""
    return (h * _A[i] + _B[i]) % MERSENNE_P


def minhash_sql(h_sql: str, i: int) -> str:
    return f"(({h_sql}) * {_A[i]} + {_B[i]}) % {MERSENNE_P}"


# ---------------------------------------------------------------------------
# token k-gram hashes: Spark Column, DuckDB SQL and Python twins
# ---------------------------------------------------------------------------

def _lane(tokens: Column, i: Column, k: int, base: int) -> Column:
    # a C-style remainder per step keeps |h| < p, and one pmod at the
    # end lands on the same residue as a pmod per step would
    h = F.element_at(tokens, i).cast("long")
    for j in range(1, k):
        h = (h * base + F.element_at(tokens, i + j)) % MERSENNE_P
    return F.pmod(h, F.lit(MERSENNE_P))


def _mul32(h: Column, c: int) -> Column:
    lo = h * (c & 0xFFFF)
    hi = F.shiftleft((h * (c >> 16)).bitwiseAND(0xFFFF), 16)
    return (lo + hi).bitwiseAND(_M32)


# fmix32 in three element-wise passes: Catalyst has no let-binding, so
# one lambda would re-evaluate each step's input once per reference
_FMIX_STEPS = (
    lambda v: _mul32(v.bitwiseXOR(F.shiftright(v, 16)), _FMIX_C1),
    lambda v: _mul32(v.bitwiseXOR(F.shiftright(v, 13)), _FMIX_C2),
    lambda v: v.bitwiseXOR(F.shiftright(v, 16)),
)


def _per_gram(tokens: Column, k: int, gram) -> Column:
    """``gram(i)`` for every 1-based start i; ``[]`` for NULL arrays and
    arrays shorter than k (``sequence(1, 0)`` would count down)."""
    n = F.size(tokens)
    return F.when(F.coalesce(n, F.lit(0)) >= k,
                  F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
                  ).otherwise(F.array().cast("array<bigint>"))


def token_gram_hash32(tokens: Column, k: int) -> Column:
    """array<bigint>: the DISTINCT 32-bit MinHash gram hashes of a token
    array, first-occurrence order."""
    h = _per_gram(tokens, k, lambda i: _lane(tokens, i, k, GRAM_B1))
    for step in _FMIX_STEPS:
        h = F.transform(h, step)
    return F.array_distinct(h)


def token_gram_hash62(tokens: Column, k: int) -> Column:
    """array<bigint>: one 62-bit gram hash per position (0-based pos =
    array index)."""
    return _per_gram(tokens, k, lambda i: F.shiftleft(
        _lane(tokens, i, k, GRAM_B1), 31).bitwiseOR(
            _lane(tokens, i, k, GRAM_B2)))


def _lane_sql(tokens_sql: str, i_sql: str, k: int, base: int) -> str:
    p = MERSENNE_P
    h = f"CAST({tokens_sql}[{i_sql}] AS BIGINT)"
    for j in range(1, k):
        h = f"(({h} * {base} + {tokens_sql}[{i_sql} + {j}]) % {p})"
    return f"((({h}) + {p}) % {p})"


def _mul32_sql(v: str, c: int) -> str:
    return (f"(({v} * {c & 0xFFFF} + ((({v} * {c >> 16}) & 65535) << 16))"
            f" & {_M32})")


def token_gram_hash32_sql(tokens_sql: str, i_sql: str, k: int) -> str:
    """DuckDB twin of one ``token_gram_hash32`` element: the gram that
    starts at 1-based position ``i_sql`` (the caller dedups per doc)."""
    # DuckDB's ^ is power, so xor(); each fmix step binds its input
    # through a one-element list_transform to keep the SQL linear
    steps = (_mul32_sql("xor(v, v >> 16)", _FMIX_C1),
             _mul32_sql("xor(v, v >> 13)", _FMIX_C2),
             "xor(v, v >> 16)")
    h = _lane_sql(tokens_sql, i_sql, k, GRAM_B1)
    for step in steps:
        h = f"list_transform([{h}], v -> {step})[1]"
    return h


def token_gram_hash62_sql(tokens_sql: str, i_sql: str, k: int) -> str:
    """DuckDB twin of one ``token_gram_hash62`` element."""
    return (f"(({_lane_sql(tokens_sql, i_sql, k, GRAM_B1)} << 31)"
            f" | {_lane_sql(tokens_sql, i_sql, k, GRAM_B2)})")


def _lane_py(toks, k: int, base: int) -> list[int]:
    out = []
    for i in range(len(toks) - k + 1):
        h = 0
        for t in toks[i:i + k]:
            h = (h * base + int(t)) % MERSENNE_P
        out.append(h)
    return out


def _fmix32_py(h: int) -> int:
    h = ((h ^ (h >> 16)) * _FMIX_C1) & _M32
    h = ((h ^ (h >> 13)) * _FMIX_C2) & _M32
    return h ^ (h >> 16)


def token_gram_hash32_py(toks, k: int) -> list[int]:
    """Python twin of ``token_gram_hash32``."""
    if toks is None or len(toks) < k:
        return []
    return list(dict.fromkeys(_fmix32_py(h)
                              for h in _lane_py(toks, k, GRAM_B1)))


def token_gram_hash62_py(toks, k: int) -> list[int]:
    """Python twin of ``token_gram_hash62``."""
    if toks is None or len(toks) < k:
        return []
    return [(a << 31) | b for a, b in zip(_lane_py(toks, k, GRAM_B1),
                                          _lane_py(toks, k, GRAM_B2))]

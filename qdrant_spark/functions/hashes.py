"""Deterministic, cross-engine-reproducible hash primitives.

Everything here must be computable identically in Spark AND DuckDB (the
oracle), so we build on md5 (present in both) rather than xxhash64 /
murmur3 (engine-specific). The reference uses murmur3_32 for BM25 token
ids (lib/bm25/src/lib.rs:166); we substitute an md5-derived 60-bit id —
same role, documented difference.

MinHash follows the standard (a*h + b) mod p universal-hash family over a
Mersenne prime p = 2^31 - 1, with fixed LCG-derived (a, b) streams so the
oracle can regenerate them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def token_hash63(c: Column) -> Column:
    """Stable 60-bit integer hash of a string: first 15 hex chars of md5.

    DuckDB mirror: ``('0x' || substring(md5(x), 1, 15))::BIGINT``.
    Python mirror: :func:`token_hash63_py`.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_hash63_py(s: str) -> int:
    """Driver-side twin of :func:`token_hash63` — lets a query plan turn
    known literals (e.g. query terms) into partition predicates without a
    Spark job."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_params(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family (shared with
    the SQL oracle generator)."""
    params = []
    for i in range(n_perms):
        a = (1103515245 * (i + 1) + 12345) % MERSENNE_P
        b = (69069 * (i + 1) + 1) % MERSENNE_P
        if a == 0:
            a = 1
        params.append((a, b))
    return params


def hashed_tokens(tokens: Column) -> Column:
    """array<string> -> array<bigint> of token hashes reduced mod p."""
    return F.transform(tokens, lambda t: token_hash63(t) % F.lit(MERSENNE_P))


def minhash_from_hashed(hs: Column, n_perms: int = 16) -> Column:
    """MinHash signature from an ``array<bigint>`` of (token_hash63 % p)."""
    sigs = [
        F.array_min(
            F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P))
        )
        for a, b in minhash_params(n_perms)
    ]
    return F.when(F.size(hs) > 0, F.array(*sigs))


def minhash_from_hashed_arrow(hs: Column, n_perms: int = 16) -> Column:
    """Arrow-batched :func:`minhash_from_hashed`: identical integer math
    ((a*h + b) mod p, min per doc), but all permutations in one NumPy pass
    per batch instead of ``n_perms`` interpreted ``transform`` traversals
    (Spark array HOFs don't codegen — same lesson as the KNN matmul path).
    ~n_perms x fewer array walks; bit-identical output, so the DuckDB
    oracle for the Column version gates this one too."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    params = minhash_params(n_perms)

    def _sig(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (0 if x is None else len(x) for x in s), dtype=np.int64, count=len(s)
        )
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series([None] * len(s), dtype=object)
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in s if x is not None and len(x)]
        )
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        sigs = np.empty((len(starts), len(params)), dtype=np.int64)
        for j, (a, b) in enumerate(params):
            # a, h < 2^31 so a*h + b < 2^62: no int64 overflow
            sigs[:, j] = np.minimum.reduceat((a * flat + b) % MERSENNE_P, starts)
        out = np.empty(len(s), dtype=object)
        out[:] = None
        for i, row in zip(np.flatnonzero(nonempty), sigs):
            out[i] = row
        return pd.Series(out)

    return pandas_udf(_sig, "array<bigint>")(hs)


def band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: array<struct<band int, key string>>; key is the md5 of
    the band's signature slice — the bucket-join key for candidate pairs."""
    entries = []
    for b in range(bands):
        lo = b * rows_per_band + 1
        piece = F.slice(sig, lo, rows_per_band)
        key = F.md5(F.concat_ws("_", F.transform(piece, lambda x: x.cast("string"))))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.array(*entries)


def simhash(tokens: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over a token array: bit b is set when the sum of
    (2*bit_b(h(t)) - 1) over tokens is positive. Pure column math (no UDF),
    mirrored exactly by a generated CASE-sum SQL oracle. Prefer
    :func:`simhash_from_hashed` on a materialized hash column."""
    return simhash_from_hashed(F.transform(tokens, token_hash63), bits)


def simhash_from_hashed(hs: Column, bits: int = 32) -> Column:
    """SimHash from an ``array<bigint>`` of raw token_hash63 values."""
    out = F.lit(0).cast("long")
    n = F.size(hs)
    for b in range(bits):
        ones = F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
        )
        # ones*2 > n  <=>  sum of (+1/-1) votes positive
        out = out + F.when(ones * 2 > n, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return F.when(n > 0, out)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))

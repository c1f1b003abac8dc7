"""Cross-engine deterministic hashing primitives.

Every near-duplicate operator (MinHash, SimHash, fingerprinting) needs hash
values that the DuckDB oracle can reproduce bit-for-bit, so hashing is
defined in pure integer arithmetic over codepoints — NOT engine-native
hash() functions (Spark's Murmur3 and DuckDB's hash differ):

    polyhash(s) = fold left over codepoints: h <- (h*31 + cp) mod (2^31 - 1)

Spark evaluates it JVM-side with ``aggregate(split(s, ''), ...)``;
DuckDB with ``list_reduce``. Parity incl. CJK verified in tests.
``polyhash('') = 0`` (DuckDB's unicode('') is -1, clamped with greatest).

The MinHash family is the standard (a*h + b) mod p universal hashing over
the base polyhash, with fixed seeds derived from the function index.
"""

from __future__ import annotations

MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

# fixed MinHash seeds: a_i odd-ish, b_i; generated once from a small LCG so
# both engines embed the same literals.
_N_MINHASH = 16


def _lcg_seeds(n: int) -> list[tuple[int, int]]:
    x = 1234567
    out = []
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = (x % (MOD - 2)) + 1
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % MOD
        out.append((a, b))
    return out


MINHASH_SEEDS = _lcg_seeds(_N_MINHASH)


# -- Spark SQL expression builders (JVM-side, no Python UDFs) ---------------


def spark_polyhash(col_expr: str) -> str:
    return (
        f"aggregate(split({col_expr}, ''), 0L,"
        f" (acc, c) -> (acc * 31 + ascii(c)) % {MOD})"
    )


def spark_polyhash_over_array(arr_expr: str) -> str:
    """array<string> -> array<long> of polyhashes."""
    return (
        f"transform({arr_expr}, s -> aggregate(split(s, ''), 0L,"
        f" (acc, c) -> (acc * 31 + ascii(c)) % {MOD}))"
    )


# -- DuckDB SQL expression builders -----------------------------------------


def duck_polyhash(col_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(string_split({col_expr}, ''),"
        f" c -> CAST(greatest(unicode(c), 0) AS BIGINT))),"
        f" (acc, c) -> (acc * 31 + c) % {MOD})"
    )


def duck_polyhash37(col_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(string_split({col_expr}, ''),"
        f" c -> CAST(greatest(unicode(c), 0) AS BIGINT))),"
        f" (acc, c) -> (acc * 37 + c) % {MOD})"
    )


def duck_polyhash_over_array(arr_expr: str) -> str:
    return (
        f"list_transform({arr_expr}, s ->"
        f" list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(string_split(s, ''),"
        f" c -> CAST(greatest(unicode(c), 0) AS BIGINT))),"
        f" (acc, c) -> (acc * 31 + c) % {MOD}))"
    )

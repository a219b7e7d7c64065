"""Portable deterministic hashing, shared by the Spark implementations
and their DuckDB oracle SQL.

Engines ship different built-in hashes (Spark: Murmur3/xxhash64,
DuckDB: its own), so cross-engine-verifiable dedup needs a hash both
can compute *exactly*.  We use a polynomial rolling hash over ASCII
codes, written as a SQL fragment valid in BOTH dialects (only
``ascii/substring/rpad/length/%/*/+`` — identical semantics), with all
intermediates bounded well inside int64 so neither engine overflows
(Spark ANSI mode and DuckDB both error on overflow).

Bounds: H8 <= 255 * sum(131^k, k=0..7) ~= 1.6e17; the combined
str_hash multiplies (H8 % MOD) ~ 2^31 by 4099 ~= 8.8e12.  MinHash
permutations multiply by a < 2^20 -> < 2.2e15.  All < 2^63.

At 100 TB these expressions run entirely inside whole-stage codegen —
no Python, no UDFs — so shingling+hashing is scan-speed.
"""

from __future__ import annotations

MOD = 2147483647  # 2^31 - 1 (prime)
SPREAD_MULT = 2654435761  # Knuth multiplicative constant
SPREAD_MOD = 2147483648  # 2^31

# 16 fixed (a, b) permutation coefficients for MinHash: h_i = (a*h + b) % MOD.
# a odd, < 2^20; arbitrary but fixed — embedded in both engines' SQL.
MINHASH_COEFS: list[tuple[int, int]] = [
    (292251, 919380),
    (114807, 11170),
    (171537, 799411),
    (261211, 416591),
    (491567, 335647),
    (727803, 669179),
    (581119, 86113),
    (945661, 974893),
    (353251, 124339),
    (619607, 259105),
    (89941, 541973),
    (430409, 769469),
    (997811, 39233),
    (203863, 904289),
    (679649, 481197),
    (850133, 652429),
]

N_MINHASH = len(MINHASH_COEFS)
N_BANDS = 8  # 2 rows per band


def h8_sql(e: str) -> str:
    """Polynomial hash of an exactly-8-char string expression.
    Valid in Spark SQL and DuckDB SQL alike."""
    # CAST the seed to BIGINT: ascii() is INT32 in both engines and the
    # chain overflows 32 bits (ANSI Spark and DuckDB both error, not wrap).
    # Each character term is clamped % 256: ascii() returns the full
    # Unicode code point (up to 0x10FFFF) in both engines, which would
    # push the polynomial past int64 — DuckDB errors, non-ANSI Spark
    # wraps silently, and the engines diverge.  The clamp keeps the
    # documented H8 <= 255 * sum(131^k) bound for ANY input text.
    out = f"CAST(ascii(substring({e}, 1, 1)) % 256 AS BIGINT)"
    for i in range(2, 9):
        out = f"({out} * 131 + ascii(substring({e}, {i}, 1)) % 256)"
    return out


def str_hash_sql(e: str) -> str:
    """Hash of a variable-length string expression: first 8 + next 8
    chars of the 16-'_'-padded value, mixed with the length.
    Non-negative, < MOD."""
    padded = f"rpad({e}, 16, '_')"
    left = h8_sql(f"substring({padded}, 1, 8)")
    right = h8_sql(f"substring({padded}, 9, 8)")
    return (
        f"((({left}) % {MOD}) * 4099 + (({right}) % {MOD})"
        f" + length({e}) * 7919) % {MOD}"
    )


def spread_sql(e: str) -> str:
    """Avalanche the low bits for bit-sampling (SimHash).  31 usable
    bits (SPREAD_MOD = 2^31); signature bits past 31 need the second
    independent spread below."""
    return f"(({e}) * {SPREAD_MULT}) % {SPREAD_MOD}"


SPREAD_MULT2 = 2246822519  # xxhash PRIME32_2 — independent of SPREAD_MULT


def spread2_sql(e: str) -> str:
    """Second independent 31-bit avalanche: supplies signature bits
    31..61 for wide SimHash (both spreads stay portable SQL)."""
    return f"(({e}) * {SPREAD_MULT2}) % {SPREAD_MOD}"


def minhash_sql(h: str, i: int) -> str:
    a, b = MINHASH_COEFS[i]
    return f"(({h}) * {a} + {b}) % {MOD}"


def bit_sql(h: str, j: int, dialect: str) -> str:
    """Bit j of expression h. Spark: shiftright(); DuckDB: >> operator."""
    if dialect == "spark":
        return f"(shiftright({h}, {j}) & 1)"
    return f"((({h}) >> {j}) & 1)"


def in_list_sql(item: str, words: list[str], dialect: str) -> str:
    """Membership of ``item`` in a literal word list (for lambda bodies)."""
    lits = ", ".join(f"'{w}'" for w in words)
    if dialect == "spark":
        return f"array_contains(array({lits}), {item})"
    return f"list_contains([{lits}], {item})"


# --- shingling ------------------------------------------------------------


def duck_shingle_cte(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    """DuckDB CTE body producing (``id_col``, h) — one row per word
    n-gram, hashed with the same portable hash."""
    sh = f"array_to_string(list_slice(t, i, i + {n - 1}), ' ')"
    return f"""
    __toks AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ),
    __grams AS (
      SELECT {id_col},
             unnest(generate_series(1, greatest(len(t) - {n - 1}, 1)))::BIGINT AS i,
             t
      FROM __toks
    ),
    __hashes AS (
      SELECT {id_col}, {str_hash_sql(sh)} AS h FROM __grams
    )
    """


def duck_shingle_pos_cte(
    table: str, id_col: str, text_col: str, n: int = 3
) -> str:
    """DuckDB CTE body producing ``__hashes(id, pos, span, h)`` —
    POSITIONED word n-grams with the gram text kept.  Unlike
    :func:`duck_shingle_cte` there is no 1-shingle floor: documents
    shorter than ``n`` tokens contribute no rows (position semantics
    would be meaningless for a padded partial gram)."""
    return f"""
    __toks AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ),
    __grams AS (
      SELECT {id_col},
             unnest(generate_series(1, len(t) - {n - 1}))::BIGINT AS pos,
             t
      FROM __toks WHERE len(t) >= {n}
    ),
    __spans AS (
      SELECT {id_col}, pos,
             array_to_string(list_slice(t, pos, pos + {n - 1}), ' ') AS span
      FROM __grams
    ),
    __hashes AS (
      SELECT {id_col}, pos, span, {str_hash_sql('span')} AS h FROM __spans
    )
    """

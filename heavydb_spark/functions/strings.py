"""String-function gaps vs the reference (StringOps/StringOps.cpp, 1512 LoC).

Spark built-ins cover LOWER..REGEXP_REPLACE/LEVENSHTEIN 1:1 (SURVEY.md
§2.8). Genuine gaps implemented here:

- JAROWINKLER_SIMILARITY (StringOps.cpp jaro-winkler kernel) — Arrow-batched
  pandas UDF (the sanctioned slow path; a row-at-a-time Python UDF would be
  10-100x slower).
- URL_ENCODE / URL_DECODE — pandas UDF over urllib.
- TRY_STRING_CAST — Spark try_cast covers it (dialect-level).

All are registered for SQL use; DataFrame users import the wrappers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType


def _jaro(s: str, t: str) -> float:
    if s == t:
        return 1.0
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    window = max(ls, lt) // 2 - 1
    sm = [False] * ls
    tm = [False] * lt
    matches = 0
    for i in range(ls):
        lo, hi = max(0, i - window), min(i + window + 1, lt)
        for j in range(lo, hi):
            if not tm[j] and s[i] == t[j]:
                sm[i] = tm[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(ls):
        if sm[i]:
            while not tm[k]:
                k += 1
            if s[i] != t[k]:
                transpositions += 1
            k += 1
    # Reference keeps the HALF-transposition count as a float
    # (StringOps.cpp:191 `transpositions / 2.0`); flooring it diverges
    # for odd raw counts (e.g. ('bcabcaa','abc') -> 64 vs 70).
    return (
        matches / ls
        + matches / lt
        + (matches - transpositions / 2.0) / matches
    ) / 3.0


def _jaro_winkler(s: str, t: str, scaling: float = 0.1) -> float:
    j = _jaro(s, t)
    prefix = 0
    for a, b in zip(s[:4], t[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * scaling * (1.0 - j)


@pandas_udf(DoubleType())
def jaro_winkler_similarity(s: pd.Series, t: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if a is None or b is None else _jaro_winkler(a, b)
            for a, b in zip(s, t)
        ],
        dtype="float64",
    )


@pandas_udf(LongType())
def jarowinkler_similarity_ref(s: pd.Series, t: pd.Series) -> pd.Series:
    """The reference's SQL return convention (StringOps.cpp:222
    JarowinklerSimilarity::numericEval): score scaled x100 and rounded
    HALF-AWAY to BIGINT (std::round, not Python banker's round), NULL
    when either input is NULL or EMPTY. The 0-1 double kernel above
    stays the Column-API surface; this wrapper is what the SQL name
    resolves to."""
    import math

    return pd.Series(
        [
            None
            if a is None or b is None or a == "" or b == ""
            else int(math.floor(_jaro_winkler(a, b) * 100 + 0.5))
            for a, b in zip(s, t)
        ],
        dtype="object",
    )


@pandas_udf(StringType())
def url_encode(s: pd.Series) -> pd.Series:
    """Form-encoding like the reference (StringOps.cpp:937 UrlEncode):
    unreserved = alnum + '-._~' kept, space -> '+', everything else
    %XX uppercase; quote_plus(safe='') is exactly this alphabet."""
    from urllib.parse import quote_plus

    return s.map(lambda v: None if v is None else quote_plus(v, safe=""))


@pandas_udf(StringType())
def url_decode(s: pd.Series) -> pd.Series:
    """Inverse (StringOps.cpp:958 UrlDecode): '+' -> space, %XX
    triplets decoded; garbage-in tolerated like the reference."""
    from urllib.parse import unquote_plus

    return s.map(lambda v: None if v is None else unquote_plus(v))


def _cyrb53(data: bytes, seed: int) -> int:
    """The reference's HASH string op (StringOps.cpp Hash::numericEval
    — cyrb53, 'matches the one used by the front end', 53-bit result).
    Bytes >= 0x80 sign-extend exactly as the C++ char -> uint32 cast."""
    mask = 0xFFFFFFFF
    h1 = (0xDEADBEEF ^ (seed & mask)) & mask
    h2 = (0x41C6CE57 ^ (seed & mask)) & mask
    for b in data:
        u = b if b < 0x80 else (b - 0x100) & mask  # sign-extended char
        h1 = ((h1 ^ u) * 2654435761) & mask
        h2 = ((h2 ^ u) * 1597334677) & mask
    h1 = ((h1 ^ (h1 >> 16)) * 2246822507) & mask
    h1 = (h1 ^ ((h2 ^ (h2 >> 13)) * 3266489909)) & mask
    h2 = ((h2 ^ (h2 >> 16)) * 2246822507) & mask
    h2 = (h2 ^ ((h1 ^ (h1 >> 13)) * 3266489909)) & mask
    return ((h2 & 0x1FFFFF) << 32) | h1


@pandas_udf(LongType())
def hash_heavy(s: pd.Series, seed: pd.Series) -> pd.Series:
    """HASH(str[, seed]) — NULL/empty input -> NULL (the NullableStrType
    empty rule + numericEval's str.empty() null return)."""
    return pd.Series(
        [
            None if v is None or v == "" or sd is None
            else _cyrb53(v.encode("utf-8"), int(sd))
            for v, sd in zip(s, seed)
        ],
        dtype="object",
    )


# DataFrame-side conveniences (JVM-native where possible) -----------------

def base64_encode(col):  # HeavyDB BASE64_ENCODE (sqldefs.h:121)
    return F.base64(col.cast("binary"))


def base64_decode(col):
    return F.unbase64(col).cast("string")


# HeavyDB INITCAP word boundaries: whitespace plus this punctuation set
# (StringOps/StringOps.h:295 InitCap::delimiter_chars); Spark's builtin
# initcap breaks only on whitespace, so 'mary-jane' differs. Emulated as
# a JVM character fold (aggregate over the char array with (text,
# prev-is-delimiter) state) — no Python in the path.
_INITCAP_DELIMS = " \t\n\r!?@\"^#$&~_,.:;+-*%/|\\[](){}<>"


def initcap_heavy(col):
    chars = F.split(col, "")
    init = F.struct(
        F.lit("").alias("s"), F.lit(True).alias("d")
    )
    step = lambda acc, c: F.struct(  # noqa: E731
        F.concat(
            acc["s"], F.when(acc["d"], F.upper(c)).otherwise(F.lower(c))
        ).alias("s"),
        (F.instr(F.lit(_INITCAP_DELIMS), c) > 0).alias("d"),
    )
    return F.aggregate(chars, init, step, lambda acc: acc["s"])


_INITCAP_SQL_DELIMS = _INITCAP_DELIMS.replace("\\", "\\\\").replace("'", "''")

# The family's declarations for `register_all` (functions/__init__.py).
FUNCTIONS = {
    "jarowinkler_similarity": jarowinkler_similarity_ref,
    "url_encode": url_encode,
    "url_decode": url_decode,
    "hash_heavy": hash_heavy,
    "initcap_heavy": f"""
        CREATE OR REPLACE TEMPORARY FUNCTION initcap_heavy(s STRING)
        RETURNS STRING
        RETURN aggregate(
            split(s, ''),
            named_struct('s', '', 'd', true),
            (acc, c) -> named_struct(
                's', concat(acc.s, CASE WHEN acc.d THEN upper(c) ELSE lower(c) END),
                'd', instr('{_INITCAP_SQL_DELIMS}', c) > 0),
            acc -> acc.s)
    """,
}

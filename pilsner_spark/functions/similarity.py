"""String-similarity functions for pairwise scoring.

Levenshtein and token Jaccard stay JVM-side (built-in expressions inside
whole-stage codegen). Jaro-Winkler has no Spark built-in, so it ships as an
Arrow-batched pandas UDF (north_star requires both JW and Levenshtein as
scoring features).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def jaro_winkler(s1: str, s2: str, prefix_scale: float = 0.1) -> float:
    """Plain Jaro-Winkler similarity in [0, 1] (standard definition:
    matching window max(|a|,|b|)/2 - 1, half-transposition count, Winkler
    prefix boost up to 4 chars)."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(len2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    jaro = (matches / len1 + matches / len2 + (matches - transpositions) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_scale * (1.0 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Null inputs yield null. ArrowEvalPython evaluates the UDF for every
    row it is given (``F.when(cond, udf(...))`` does not skip rows), so
    callers feed it only the rows that need the character work — the
    scoring split plan runs it on the undecided slice alone."""
    return pd.Series(
        [None if x is None or y is None else jaro_winkler(x, y) for x, y in zip(a, b)],
        dtype="float64",
    )


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity in [0, 1], JVM-side."""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(a, b) / denom)


def token_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Jaccard over token arrays, JVM-side."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(F.array_union(a_tokens, b_tokens))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over float array columns via F.zip_with / F.aggregate —
    JVM-side, no UDF (used by the ANN operators)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))

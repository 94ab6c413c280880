"""Text normalization & tokenization.

Reproduces the reference's normalization semantics
(/root/reference/src/common_methods.py:7-18): lowercase → NFKD
accent-strip → extract ``[a-z0-9]+`` token runs. The accent strip needs
Python's unicodedata, so the exact path is vectorized pandas Series
kernels (`Series.str` ops — no per-row Python loops) that canonicalize's
Arrow UDF calls; token sets and Jaccard stay in Catalyst.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_RE = r"[a-z0-9]+"


def normalize_series(s: pd.Series) -> pd.Series:
    """lower → NFKD → drop combining marks. Vectorized on the batch.

    ASCII rows (the overwhelming majority of real corpora) are NFKD
    fixpoints with no combining marks, so the per-CHARACTER Python
    generator below is pure waste for them — it was the conversations
    stage's hot spot (the generator touches every character of every
    full_text). One vectorized regex finds the rows that can fold;
    only those pay the per-char path. Identical output by definition:
    NFKD is the identity on ASCII and ASCII has no combining marks.
    """
    s = s.fillna("").astype(str).str.lower()
    mask = s.str.contains(r"[^\x00-\x7f]", regex=True).to_numpy()
    if not mask.any():
        return s
    slow = s[mask].map(
        lambda x: "".join(
            ch for ch in unicodedata.normalize("NFKD", x) if not unicodedata.combining(ch)
        )
    )
    s = s.copy()
    s[mask] = slow
    return s


def tokenize_series(s: pd.Series) -> pd.Series:
    """Token lists exactly as the reference's tokenize()."""
    return normalize_series(s).str.findall(_TOKEN_RE)


def token_set(col: Column) -> Column:
    """Sorted-distinct token array — our ArrayType stand-in for set[str]."""
    return F.array_sort(F.array_distinct(col))


def jaccard(a: Column, b: Column) -> Column:
    """Token-set Jaccard with the reference's empty-set conventions
    (/root/reference/src/features/feautre_extraction.py:16-22):
    both empty → 1.0, one empty → 0.0. Pure Catalyst.

    PRECONDITION: a and b are SETS (distinct elements — every caller
    passes token_set/array_distinct columns). Union size is then
    |a|+|b|-inter by inclusion-exclusion, which avoids materializing an
    array_union per row — significant because Catalyst inlines this
    expression into every use site (filter gates AND projections) with
    no CSE, so the union array was being built several times per pair
    in the scoring hot path.
    """
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return (
        F.when((F.size(a) == 0) & (F.size(b) == 0), F.lit(1.0))
        .when((F.size(a) == 0) | (F.size(b) == 0), F.lit(0.0))
        .otherwise(inter / union)
    )

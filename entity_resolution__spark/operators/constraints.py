"""Precision constraints between scoring and clustering.

Rebuilds the reference's constraint stage
(/root/reference/scripts/apply_constraints.py:15-67) as Catalyst
column expressions, one projection over the thresholded pairs:

  C2 threshold           prob_match ≥ keep threshold; kept and dropped
                         are the two sides of the geo flag
  C3 geo-mismatch flag   both sides mention ≥1 whitelisted country and
                         the sets are disjoint → geo_pruned (conservative
                         when either side has no evidence,
                         geo_constraints.py:143-147)

The reference's C4 stopword-aware token-overlap prune has no counterpart:
its module is broken as shipped (SURVEY.md §2.6), and featurize's raw
token-Jaccard pre-gate applies the cheap form before scoring.

Country extraction runs ONCE PER CONVERSATION (the reference recomputes
per pair via driver dict, apply_transitivity.py:99-105), then both pair
sides join the per-entity array — an O(N) derivation + two hash joins
instead of O(pairs) regex work. The kernel (`countries_series`) runs
inside canonicalize's Arrow UDF, so `flag_geo` only reads the
`countries` column; `extract_countries` wraps the same kernel as a
standalone UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# The reference's exact 20-country whitelist
# (/root/reference/src/constraints/geo_constraints.py:6-11).
COUNTRY_WHITELIST = [
    "United States", "United Kingdom", "Taiwan", "China",
    "United Arab Emirates", "Switzerland", "Greece", "Singapore",
    "Germany", "Hong Kong", "Canada", "Italy", "France", "Australia",
    "India", "Netherlands", "Israel", "Japan", "Brazil", "Denmark",
]

# The reference's 12 ordered alias → canonical-country substitutions
# (geo_constraints.py:14-27), applied in order after undotting. Kept only
# when the target is whitelisted (same _build_country_subs rule).
ACRONYM_SUBS = [
    (r"\bUSA\b", "United States"),
    (r"\bUS\b", "United States"),
    (r"\bUK\b", "United Kingdom"),
    (r"\bROC\b", "Taiwan"),
    (r"\bP\.?\s*R\.?\s*China\b", "China"),
    (r"\bPeople's Republic of China\b", "China"),
    (r"\bUAE\b", "United Arab Emirates"),
    (r"\bCH\b", "Switzerland"),
    (r"\bGR(?=[\W_]|$)", "Greece"),
    (r"\bS\'?pore(?=[\W_]|$)", "Singapore"),
    (r"\bSingapor(?=[\W_]|$)", "Singapore"),
    (r"\bHong\s*Kong\b", "Hong Kong"),
]

# Dotted acronyms like U.S.A., U.S., E.U. — the reference's exact pattern
# (geo_constraints.py:30-32): uppercase letters only, no leading letter.
_DOTTED = re.compile(r"(?<![A-Za-z])(?:[A-Z]\.){2,}[A-Z]?(?=\W|$)")


def _undot(text: str) -> str:
    """U.S.A. → USA (geo_constraints.py:34-46: per-match dot/space strip)."""
    return _DOTTED.sub(lambda m: m.group(0).replace(".", "").replace(" ", ""), text)


# One case-insensitive scan for all 20 names. The per-name form of
# _compile_country_patterns (geo_constraints.py:72-80) searches
# (?<!\w)NAME(?!\w) once per country; the alternation finds the same
# set because no whitelisted name occurs, word-bounded, inside another
# one, so non-overlapping matching misses nothing. Each name is its own
# capture group and the match's group index gives the canonical name, so
# IGNORECASE folds (Kelvin sign, long s) map back exactly. We return
# canonical-case names (the reference lowercases; cohort keys are lowered
# at the seed-edge step to match its cohort labels).
_COUNTRY_ANY = re.compile(
    r"(?<!\w)(?:"
    + "|".join(f"({re.escape(c)})" for c in COUNTRY_WHITELIST)
    + r")(?!\w)",
    re.IGNORECASE,
)
# compiled with IGNORECASE exactly as _build_country_subs does
_ACRONYM_RES = [
    (re.compile(p, re.IGNORECASE), r)
    for p, r in ACRONYM_SUBS
    if r in COUNTRY_WHITELIST
]
# Exact guard: a text that no alias pattern matches is left unchanged by
# every substitution, so one combined search decides whether the 12
# ordered substitutions run at all.
_ACRONYM_ANY = re.compile(
    "|".join(f"(?:{pat.pattern})" for pat, _ in _ACRONYM_RES), re.IGNORECASE
)


def _countries_one(t: str) -> list[str]:
    t = _undot(t)
    if _ACRONYM_ANY.search(t):
        for pat, repl in _ACRONYM_RES:
            t = pat.sub(repl, t)
    return sorted(
        {COUNTRY_WHITELIST[m.lastindex - 1] for m in _COUNTRY_ANY.finditer(t)}
    )


def countries_series(texts: pd.Series) -> pd.Series:
    """Per-text sorted set of whitelisted countries (P6+P7+P8 fused):
    undot dotted acronyms → acronym substitutions → one word-boundary
    scan. canonicalize runs it inside its Arrow UDF."""
    return texts.fillna("").map(_countries_one)


@pandas_udf(T.ArrayType(T.StringType()))
def extract_countries(texts: pd.Series) -> pd.Series:
    """countries_series as a standalone Arrow UDF."""
    return countries_series(texts)


def flag_geo(scored: DataFrame, conv: DataFrame, min_prob: float) -> DataFrame:
    """Pairs with prob_match ≥ min_prob, plus `geo_pruned`: both sides
    have country evidence AND the sets are disjoint
    (geo_constraints.py:112-152, apply_constraints.py:40-66). A side
    missing from `conv` has no evidence, so its pair is not pruned."""
    cl = conv.select(F.col("conv_id").alias("id_left"), F.col("countries").alias("c_l"))
    cr = conv.select(F.col("conv_id").alias("id_right"), F.col("countries").alias("c_r"))
    pruned = (
        (F.size("c_l") > 0)
        & (F.size("c_r") > 0)
        & (F.size(F.array_intersect("c_l", "c_r")) == 0)
    )
    return (
        scored.filter(F.col("prob_match") >= F.lit(min_prob))
        .join(cl, "id_left", "left")
        .join(cr, "id_right", "left")
        .select(*scored.columns, F.coalesce(pruned, F.lit(False)).alias("geo_pruned"))
    )

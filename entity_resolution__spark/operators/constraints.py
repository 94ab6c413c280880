"""Precision constraints between scoring and clustering.

Rebuilds the reference's constraint stage
(/root/reference/scripts/apply_constraints.py:15-67) as Catalyst
anti-joins:

  C2 apply_constraints   threshold filter → anti-join prune set; kept +
                         dropped outputs + stats
  C3 geo-mismatch prune  both sides mention ≥1 whitelisted country and
                         the sets are disjoint → prune (conservative
                         when either side has no evidence,
                         geo_constraints.py:143-147)
  C4 token-overlap prune stopword-aware Jaccard < 0.20 → prune. (The
                         reference module is broken as shipped — bad
                         `_tokenize` import at
                         token_overlap_constraint.py:8 — rebuilt working
                         per SURVEY.md §2.6.)

Country extraction runs ONCE PER CONVERSATION (the reference recomputes
per pair via driver dict, apply_transitivity.py:99-105), then both pair
sides join the per-entity array — an O(N) derivation + two hash joins
instead of O(pairs) regex work. The kernel (`countries_series`) runs
inside canonicalize's Arrow UDF, so `conv_countries` only selects the
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


def conv_countries(conv: DataFrame) -> DataFrame:
    """(conv_id, countries): the column canonicalize derived once per
    conversation."""
    return conv.select("conv_id", "countries")


def geo_prune_pairs(pairs: DataFrame, countries: DataFrame) -> DataFrame:
    """Pairs to prune: both sides have country evidence AND disjoint sets
    (geo_constraints.py:112-152)."""
    cl = countries.select(
        F.col("conv_id").alias("id_left"), F.col("countries").alias("c_l")
    )
    cr = countries.select(
        F.col("conv_id").alias("id_right"), F.col("countries").alias("c_r")
    )
    joined = pairs.join(cl, "id_left").join(cr, "id_right")
    return joined.filter(
        (F.size("c_l") > 0)
        & (F.size("c_r") > 0)
        & (F.size(F.array_intersect("c_l", "c_r")) == 0)
    ).select("id_left", "id_right")


def stopwords_by_df(
    conv: DataFrame, cutoff: float = 0.30, n_docs: int | None = None
) -> DataFrame:
    """Tokens appearing in ≥ cutoff of conversations
    (stopwords_extractor.py:10-22 semantics, distributed)."""
    from entity_resolution__spark.operators.blocking import token_doc_freq

    n = n_docs if n_docs is not None else conv.count()
    return token_doc_freq(conv).filter(F.col("df") >= cutoff * n).select("token")


def token_overlap_prune_pairs(
    pairs_with_tokens: DataFrame,
    stopwords: DataFrame,
    min_jaccard: float = 0.20,
) -> DataFrame:
    """Prune pairs with stopword-filtered Jaccard < min_jaccard; SKIP
    (never prune) when either side is empty after stopword removal
    (token_overlap_constraint.py:16-70 semantics)."""
    sw = F.broadcast(stopwords).agg(F.collect_set("token").alias("sw"))
    df = pairs_with_tokens.crossJoin(sw)
    df = df.withColumn("t_l", F.array_except("token_set_l", "sw")).withColumn(
        "t_r", F.array_except("token_set_r", "sw")
    )
    # t_l/t_r are sets (array_except of distinct token_set), so
    # |union| = |t_l|+|t_r|-inter — no array_union materialization
    inter = F.size(F.array_intersect("t_l", "t_r")).cast("double")
    union = (F.size("t_l") + F.size("t_r")).cast("double") - inter
    jac = inter / union
    return df.filter(
        (F.size("t_l") > 0) & (F.size("t_r") > 0) & (jac < F.lit(min_jaccard))
    ).select("id_left", "id_right")


def apply_constraints(
    scored: DataFrame,
    prune_sets: list[DataFrame],
    min_prob: float = 0.45,
    persisted_out: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(kept, dropped): threshold filter then anti-join the union of
    prune sets (apply_constraints.py:40-66). `dropped` logs the pruned
    edges (the *_dropped_geo.csv analog).

    `persisted_out`: optional sink the internally persisted prune set is
    appended to, so the caller can unpersist once both outputs are
    materialized (ADVICE round 2: the persist leaked)."""
    thresholded = scored.filter(F.col("prob_match") >= F.lit(min_prob))
    if not prune_sets:
        return thresholded, thresholded.limit(0)
    prune = prune_sets[0]
    for p in prune_sets[1:]:
        prune = prune.unionByName(p)
    # both outputs consume the prune set (anti + semi join) — persist it
    # so the country-extraction UDF and prune joins run once, not per
    # output branch
    prune = prune.dropDuplicates(["id_left", "id_right"]).persist()
    if persisted_out is not None:
        persisted_out.append(prune)
    kept = thresholded.join(prune, ["id_left", "id_right"], "left_anti")
    dropped = thresholded.join(prune, ["id_left", "id_right"], "left_semi")
    return kept, dropped

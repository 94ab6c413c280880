"""Geo-constraint truth table (reference geo_constraints.py:143-147
conservative semantics) + dotted-acronym handling + threshold/anti-join."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from entity_resolution__spark.operators.constraints import (
    COUNTRY_WHITELIST,
    apply_constraints,
    extract_countries,
    geo_prune_pairs,
)


def test_extract_countries_batch():
    from entity_resolution__spark.operators.constraints import _ACRONYM_RES, _undot

    s = pd.Series(
        [
            "based in Japan and Canada",
            "the U.S.A. office",  # dotted acronym → USA → United States
            "no geography here",
            "japan lowercase",  # case-insensitive
            None,
        ]
    )
    # call the kernel underneath the pandas UDF directly
    def one(t):
        t = _undot(t or "")
        for pat, repl in _ACRONYM_RES:
            t = pat.sub(repl, t)
        from tests.oracle import _COUNTRY_RES

        return sorted({c for c, cre in _COUNTRY_RES if cre.search(t)})

    got = [one(x) for x in s]
    assert got[0] == ["Canada", "Japan"]
    assert got[1] == ["United States"]
    assert got[2] == []
    assert got[3] == ["Japan"]
    assert got[4] == []


def test_extract_countries_reference_aliases():
    """All 12 reference alias substitutions (geo_constraints.py:14-27),
    compiled IGNORECASE, applied in order after undotting."""
    from entity_resolution__spark.operators.constraints import _ACRONYM_RES, _undot
    from tests.oracle import _COUNTRY_RES

    def one(t):
        t = _undot(t or "")
        for pat, repl in _ACRONYM_RES:
            t = pat.sub(repl, t)
        return sorted({c for c, cre in _COUNTRY_RES if cre.search(t)})

    cases = {
        "ROC Chunghwa lab": ["Taiwan"],
        "P.R.China institute": ["China"],
        "P. R. China institute": ["China"],
        "People's Republic of China": ["China"],
        "the UAE branch": ["United Arab Emirates"],
        "ETH CH group": ["Switzerland"],
        "S'pore campus": ["Singapore"],
        "Singapor university": ["Singapore"],
        "HongKong office": ["Hong Kong"],
        "Hong Kong office": ["Hong Kong"],
        "UK and U.S. teams": ["United Kingdom", "United States"],
        "usa lowercase works too": ["United States"],  # IGNORECASE subs
        "Tel Aviv, Israel": ["Israel"],
        "Athens GR": ["Greece"],
    }
    for text, want in cases.items():
        assert one(text) == want, (text, one(text), want)


def test_geo_prune_truth_table(spark):
    countries = spark.createDataFrame(
        [
            ("a", ["Japan"]),
            ("b", ["Canada"]),
            ("c", ["Japan", "Canada"]),
            ("d", []),
        ],
        ["conv_id", "countries"],
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("c", "d")],
        ["id_left", "id_right"],
    )
    pruned = {
        (r["id_left"], r["id_right"])
        for r in geo_prune_pairs(pairs, countries).collect()
    }
    # disjoint evidence → prune; overlap or missing evidence → keep
    assert pruned == {("a", "b")}


def test_apply_constraints_threshold_and_antijoin(spark):
    scored = spark.createDataFrame(
        [
            ("a", "b", 0.9, 1),
            ("a", "c", 0.5, 0),
            ("a", "d", 0.44, 0),  # below 0.45 → dropped by threshold
            ("b", "c", 0.45, 0),  # exactly at threshold → kept
        ],
        ["id_left", "id_right", "prob_match", "pred_match"],
    )
    prune = spark.createDataFrame([("a", "b")], ["id_left", "id_right"])
    kept, dropped = apply_constraints(scored, [prune], min_prob=0.45)
    k = {(r["id_left"], r["id_right"]) for r in kept.collect()}
    d = {(r["id_left"], r["id_right"]) for r in dropped.collect()}
    assert k == {("a", "c"), ("b", "c")}
    assert d == {("a", "b")}


def test_stopwords_by_df(spark):
    from entity_resolution__spark.operators.constraints import stopwords_by_df

    conv = spark.createDataFrame(
        [
            ("a", ["the", "tokyo", "lab"]),
            ("b", ["the", "osaka"]),
            ("c", ["the", "kyoto", "lab"]),
            ("d", ["nagoya"]),
        ],
        ["conv_id", "token_set"],
    )
    # 'the' df=3/4, 'lab' df=2/4 → cutoff 0.5 keeps both; 0.6 only 'the'
    sw50 = {r["token"] for r in stopwords_by_df(conv, cutoff=0.5).collect()}
    assert sw50 == {"the", "lab"}
    sw60 = {r["token"] for r in stopwords_by_df(conv, cutoff=0.6, n_docs=4).collect()}
    assert sw60 == {"the"}


def test_stopwords_by_idf(spark):
    from entity_resolution__spark.operators.blocking import stopwords_by_idf

    conv = spark.createDataFrame(
        [(f"c{i}", ["the", "and", f"rare{i}"]) for i in range(8)],
        ["conv_id", "token_set"],
    )
    # vocab = 2 ubiquitous + 8 singletons: the 20% idf quantile lands on
    # the ubiquitous tokens' idf (2/10 of vocab), and their df=100% also
    # exceeds the 20% df cut → stopwords; singletons (df=1 < 0.2·8) kept
    sw = {r["token"] for r in stopwords_by_idf(conv, idf_pct=0.20, df_cut=0.20).collect()}
    assert sw == {"the", "and"}


def test_token_overlap_prune_skip_when_empty(spark):
    """Reference C4 semantics (token_overlap_constraint.py:16-70): prune
    when stopword-filtered jaccard < cut, but NEVER when either side is
    empty after stopword removal."""
    from entity_resolution__spark.operators.constraints import (
        token_overlap_prune_pairs,
    )

    pairs = spark.createDataFrame(
        [
            # disjoint informative tokens → jaccard 0 → prune
            ("a", "b", ["the", "tokyo", "lab"], ["the", "osaka", "inst"]),
            # same informative tokens → jaccard 1 → keep
            ("a", "c", ["the", "tokyo", "lab"], ["tokyo", "lab"]),
            # left side all stopwords → empty after removal → SKIP (keep)
            ("a", "d", ["the"], ["osaka", "inst"]),
            # overlap 1/3 ≥ 0.2 → keep
            ("b", "c", ["tokyo", "lab"], ["tokyo", "inst"]),
        ],
        ["id_left", "id_right", "token_set_l", "token_set_r"],
    )
    sw = spark.createDataFrame([("the",)], ["token"])
    pruned = {
        (r["id_left"], r["id_right"])
        for r in token_overlap_prune_pairs(pairs, sw, min_jaccard=0.20).collect()
    }
    assert pruned == {("a", "b")}


def test_extract_countries_spark(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("x", "visited Japan and the U.S.A. office")], ["id", "text"]
    )
    row = df.select(extract_countries(F.col("text")).alias("c")).collect()[0]
    assert row["c"] == ["Japan", "United States"]


# Fragments the Hypothesis parity test assembles texts from: every
# whitelisted name, the reference aliases in dotted and spaced forms,
# word-edge traps and non-ASCII word characters (including the letters
# IGNORECASE folds onto ASCII: Kelvin sign, long s, dotted/dotless i).
_COUNTRY_FRAGMENTS = (
    COUNTRY_WHITELIST
    + [
        "USA", "U.S.A.", "U.S.", "US", "U.K.", "UK", "ROC", "P.R.China",
        "P. R. China", "PR China", "People's Republic of China", "UAE",
        "U.A.E.", "CH", "GR", "S'pore", "Spore", "Singapor", "HongKong",
        "Hong   Kong", "Hong\nKong", "E.U.", "Chinatown", "US-based",
        "USAF", "Indiana", "Japanese", "xChina", "China2", "_Japan",
        "Brazil_", "Canadaé", "éCanada", "Françe", "Kong",
        "Hong Kong", "ſwitzerland", "İndia", "ındia",
        "中国", "日本Japan", "the", "office", "a.b.c.", "A.B.C.",
    ]
)


_CASE = st.sampled_from([str, str.lower, str.upper, str.title, str.swapcase])
_FRAG = st.builds(lambda f, c: c(f), st.sampled_from(_COUNTRY_FRAGMENTS), _CASE)
_SEP = st.sampled_from([" ", "", "-", ".", ", ", "_", "\n", " . ", "é", "'"])
_PIECE = st.one_of(_FRAG, st.text(alphabet="abcUSKR.'é_ üK", max_size=6))
_TEXTS = st.lists(st.tuples(_PIECE, _SEP), max_size=8).map(
    lambda xs: "".join(p + s for p, s in xs)
)


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.lists(_TEXTS, min_size=1, max_size=20))
def test_countries_series_matches_reference_form(batch):
    """The single-scan kernel (one alternation, guarded substitutions)
    against the reference's direct form in tests/oracle.py: 20 per-name
    searches after all 12 ordered substitutions."""
    from entity_resolution__spark.operators.constraints import countries_series
    from tests.oracle import countries_ref

    got = countries_series(pd.Series(batch))
    assert list(got) == [countries_ref(t) for t in batch]
    assert list(countries_series(pd.Series([None, ""]))) == [[], []]

"""Kernel parity tests: bit-parallel LCS vs DP, JW/edit-ratio known
values, metaphone sanity (FIXTURES.md §4 string_pairs_golden)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from entity_resolution__spark.functions import strings as K


@given(st.text(alphabet="abcde", max_size=40), st.text(alphabet="abcde", max_size=40))
@settings(max_examples=300, deadline=None)
def test_lcs_bitparallel_matches_dp(a, b):
    assert K.lcs_len(a, b) == K.lcs_len_dp(a, b)


def test_lcs_known():
    assert K.lcs_len("abcde", "ace") == 3
    assert K.lcs_len("", "abc") == 0
    assert K.lcs_len("abc", "abc") == 3
    assert K.lcs_len("abc", "cba") == 1
    # > 64 chars exercises multi-word bigints
    a = "ab" * 80
    b = "ba" * 80
    assert K.lcs_len(a, b) == K.lcs_len_dp(a, b)


def test_edit_ratio_known():
    # fuzz.ratio semantics: 2*LCS/(la+lb)
    assert K.edit_ratio("abcd", "abcd") == 1.0
    assert K.edit_ratio("", "") == 1.0
    assert K.edit_ratio("abc", "") == 0.0
    assert math.isclose(K.edit_ratio("kitten", "sitting"), 2 * 4 / 13)


def test_jaro_winkler_known():
    # canonical published examples (Winkler 1990)
    assert math.isclose(K.jaro("MARTHA", "MARHTA"), 0.9444444444, rel_tol=1e-9)
    assert math.isclose(K.jaro_winkler("MARTHA", "MARHTA"), 0.9611111111, rel_tol=1e-9)
    assert math.isclose(K.jaro("DWAYNE", "DUANE"), 0.8222222222, rel_tol=1e-9)
    assert math.isclose(K.jaro_winkler("DWAYNE", "DUANE"), 0.84, rel_tol=1e-9)
    assert K.jaro_winkler("", "") == 1.0
    assert K.jaro_winkler("a", "") == 0.0
    assert K.jaro_winkler("same", "same") == 1.0


def test_lcs_ratio():
    assert K.lcs_ratio("abcde", "ace") == 3 / 5
    assert K.lcs_ratio("", "") == 1.0
    assert K.lcs_ratio("a", "") == 0.0


def test_metaphone_basic():
    # deterministic, stable keys; equal words → equal keys
    assert K.metaphone("Thompson") == K.metaphone("Thompson")
    assert K.metaphone("smith") == K.metaphone("Smith")
    assert K.metaphone("knight")[0] == "N"  # KN- → N
    assert K.metaphone("xavier")[0] == "S"  # X- → S
    assert K.metaphone("phone")[0] == "F"  # PH → F
    assert K.metaphone("") == ""
    assert K.metaphone("123") == ""


def test_metaphone_match_series():
    import pandas as pd

    s = K.metaphone_match_series(
        pd.Series(["smith corp", "alpha", ""]), pd.Series(["smyth inc", "beta", ""])
    )
    assert s.iloc[0] == 1.0  # smith/smyth same phonetic key
    assert s.iloc[1] == 0.0
    assert s.iloc[2] == 1.0  # both empty first tokens


def test_grouped_pair_dots_match_per_pair_oracle():
    """Round-4 kernel rewrite: the batched sort-merge intersection
    (_grouped_pair_dots) must reproduce an independent per-pair
    Counter-dict cosine on randomized token-ish strings, including
    empty strings, identical-pair (il == ir), and high repetition."""
    import math
    import random
    from collections import Counter

    import numpy as np
    import pandas as pd

    from entity_resolution__spark.functions.features import (
        MAX_KERNEL_CHARS,
        compute_feature_struct,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    strings = [""] + [
        " ".join(rng.choices(vocab, k=rng.randint(1, 60))) for _ in range(30)
    ]
    pairs = [(rng.choice(strings), rng.choice(strings)) for _ in range(120)]
    pairs += [(s, s) for s in strings[:5]]  # identical both sides
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    empty = pd.Series([""] * len(pairs))

    got = compute_feature_struct(a, b, empty, empty, empty, empty)

    def tok_cos(x, y, sublinear):
        cx, cy = Counter(x.split()), Counter(y.split())
        def w(c):
            return {t: 1.0 + math.log(n) for t, n in c.items()}
        wx, wy = (w(cx), w(cy)) if sublinear else (
            {t: float(n) for t, n in cx.items()},
            {t: float(n) for t, n in cy.items()},
        )
        nx = math.sqrt(sum(v * v for v in wx.values()))
        ny = math.sqrt(sum(v * v for v in wy.values()))
        if nx == 0.0 or ny == 0.0:
            return 1.0
        return sum(wx[t] * wy[t] for t in wx.keys() & wy.keys()) / (nx * ny)

    def ngram_cos(x, y):
        x, y = x[:MAX_KERNEL_CHARS], y[:MAX_KERNEL_CHARS]
        def grams(s):
            c = Counter()
            for n in (3, 4, 5):
                for i in range(len(s) - n + 1):
                    c[(n, s[i : i + n])] += 1
            return c
        cx, cy = grams(x), grams(y)
        nx = math.sqrt(sum(v * v for v in cx.values()))
        ny = math.sqrt(sum(v * v for v in cy.values()))
        if nx == 0.0 or ny == 0.0:
            return 1.0
        return sum(cx[g] * cy[g] for g in cx.keys() & cy.keys()) / (nx * ny)

    for i, (x, y) in enumerate(pairs):
        assert got["token_cosine"][i] == pytest.approx(
            tok_cos(x, y, False), abs=1e-12
        ), (x, y)
        assert got["tfidf_word_cosine"][i] == pytest.approx(
            tok_cos(x, y, True), abs=1e-12
        ), (x, y)
        assert got["tfidf_char_cosine"][i] == pytest.approx(
            ngram_cos(x, y), abs=1e-12
        ), (x, y)
    # identical strings must score exactly 1.0 (dot == norm²)
    base = len(pairs) - 5
    for i in range(base, len(pairs)):
        if pairs[i][0]:
            assert got["token_cosine"][i] == pytest.approx(1.0, abs=1e-12)


def test_kernel_batch_invariance():
    """Feature values must not depend on batch composition: the same
    pair computed inside two different batches yields IDENTICAL floats
    (partition-invariance — the canonical key-order accumulation)."""
    import pandas as pd

    from entity_resolution__spark.functions.features import compute_feature_struct

    x = "alpha beta gamma delta epsilon zeta eta theta " * 4
    y = "alpha beta gamma delta other words here too " * 4
    filler = [
        ("one two three", "three four five"),
        ("lorem ipsum dolor", "ipsum dolor sit"),
        ("", "anything at all"),
    ]
    e = ""
    def run(pairs):
        a = pd.Series([p[0] for p in pairs])
        b = pd.Series([p[1] for p in pairs])
        s = pd.Series([e] * len(pairs))
        return compute_feature_struct(a, b, s, s, s, s)

    solo = run([(x, y)])
    packed = run(filler + [(x, y)] + filler[::-1])
    for col in ("token_cosine", "tfidf_word_cosine", "tfidf_char_cosine"):
        assert solo[col][0] == packed[col][len(filler)]  # bitwise equal


def test_parity_battery_generation_and_pure_kernels():
    """The certification corpus itself must be exercisable without the
    compiled tier (round-5 ADVICE widened it to ~300 seeded random pairs
    — this is the guard that the generation code and the pure kernels
    over it don't break where no compiler is present)."""
    b1 = K._parity_battery()
    b2 = K._parity_battery()
    assert b1 == b2  # deterministic (fixed seed)
    assert len(b1) == 13 + 300
    # curated head preserved (the known branch-point pins)
    assert b1[2] == ("martha", "marhta")
    seen_nonascii = False
    for a, b in b1:
        er, jw, lr = K.edit_ratio(a, b), K.jaro_winkler(a, b), K.lcs_ratio(a, b)
        for v in (er, jw, lr):
            assert 0.0 <= v <= 1.0
        assert K.lcs_len(a, b) <= min(len(a), len(b))
        seen_nonascii = seen_nonascii or any(ord(c) > 127 for c in a + b)
    assert seen_nonascii  # unicode coverage actually present
    # mutation pairs produce near-matches: the high-similarity band the
    # curated set undersamples must be populated
    highs = sum(1 for a, b in b1[163:] if K.edit_ratio(a, b) > 0.9 and a)
    assert highs > 50


def test_role_tool_seq_sim_matches_edit_ratio():
    """compute_feature_struct scores the distinct role/tool sequence
    combinations with the batch edit_ratio_series (C tier when loaded);
    every pair must equal the pure edit_ratio, empty sequences included."""
    import random

    import pandas as pd

    from entity_resolution__spark.functions.features import (
        _dedup_pair_kernel,
        compute_feature_struct,
    )

    rng = random.Random(11)
    vocab = ["user", "assistant", "tool", "system", "", "ü"]

    def seq() -> str:
        return "\x1f".join(rng.choice(vocab) for _ in range(rng.randrange(0, 7)))

    a = pd.Series([seq() for _ in range(400)] + ["", "", "user"])
    b = pd.Series([seq() for _ in range(400)] + ["", "user", ""])
    want = [K.edit_ratio(x, y) for x, y in zip(a, b)]
    assert list(_dedup_pair_kernel(K.edit_ratio_series, a, b)) == want
    assert len(_dedup_pair_kernel(K.edit_ratio_series, a[:0], b[:0])) == 0

    text = pd.Series(["alpha beta"] * len(a))
    feats = compute_feature_struct(text, text, a, b, b, a)
    assert list(feats["role_seq_sim"]) == want
    assert list(feats["tool_seq_sim"]) == [K.edit_ratio(y, x) for x, y in zip(a, b)]

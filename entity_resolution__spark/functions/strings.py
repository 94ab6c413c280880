"""Pairwise string-similarity kernels (the reference's feature family).

Reimplements, from the published algorithm definitions, the kernels the
reference takes from rapidfuzz/jellyfish
(/root/reference/src/features/feautre_extraction.py:47-59):

  edit_ratio    — normalized indel similarity = 2·LCS(a,b)/(|a|+|b|)
                  (the reference's fuzz.ratio / 100)
  lcs_ratio     — LCS(a,b)/max(|a|,|b|) (reference :26-43 — longest
                  common SUBSEQUENCE despite its "substring" comment)
  jaro_winkler  — Jaro-Winkler similarity, prefix weight 0.1, boost
                  threshold 0.7, max prefix 4 (jellyfish defaults)
  metaphone     — Lawrence Philips' Metaphone (reference uses
                  jellyfish.metaphone at :56-59 — plain Metaphone, not
                  Double Metaphone, despite the dmetaphone_match name)

LCS length uses the Hyyrö/Crochemore bit-parallel algorithm — O(nm/64)
with Python arbitrary-precision ints — validated against the O(nm) DP in
tests. All kernels are exposed as vectorized pandas UDF factories; the
batch loop is per-pair Python over C-speed primitives, Arrow-batched.

These are driver-independent pure functions so the pandas/NumPy oracle
in tests/oracle.py can share them (cluster parity requires identical
kernels on both sides).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


# ---------------------------------------------------------------------------
# LCS (bit-parallel) and ratios
# ---------------------------------------------------------------------------


def lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence (bit-parallel)."""
    if not a or not b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    m = len(a)
    full = (1 << m) - 1
    match: dict[str, int] = {}
    for i, ch in enumerate(a):
        match[ch] = match.get(ch, 0) | (1 << i)
    v = full
    for ch in b:
        p = match.get(ch, 0) & v
        v = (v + p) | (v - p)
    # zeros in v (within m bits) = LCS length
    return m - bin(v & full).count("1")


def lcs_len_dp(a: str, b: str) -> int:
    """Reference O(nm) DP — used only to validate lcs_len in tests."""
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


def edit_ratio(a: str, b: str) -> float:
    """Normalized indel similarity, 2·LCS(a,b)/(|a|+|b|)."""
    if not a and not b:
        return 1.0
    la, lb = len(a), len(b)
    return 2.0 * lcs_len(a, b) / (la + lb)


def lcs_ratio(a: str, b: str) -> float:
    """LCS length / max length (reference feautre_extraction.py:26-43)."""
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return lcs_len(a, b) / max(len(a), len(b))


# ---------------------------------------------------------------------------
# Jaro-Winkler
# ---------------------------------------------------------------------------


def jaro(a: str, b: str) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    # O(la+lb) matching: per-character position lists in b, built in
    # DESCENDING order so the next candidate is always lst[-1] and both
    # "skip below window" and "consume" are O(1) list.pop()s. The greedy
    # "first unmatched j in window" of the classic algorithm consumes
    # positions left-to-right and the window lower bound only moves
    # right, so popped positions are never needed again.
    positions: dict[str, list[int]] = {}
    for j in range(lb - 1, -1, -1):
        positions.setdefault(b[j], []).append(j)
    a_match: list[str] = []
    matched_j: list[int] = []
    get = positions.get
    for i, ch in enumerate(a):
        lst = get(ch)
        if not lst:
            continue
        lo = i - window
        while lst and lst[-1] < lo:
            lst.pop()
        if lst and lst[-1] <= i + window:
            matched_j.append(lst.pop())
            a_match.append(ch)
    m = len(a_match)
    if m == 0:
        return 0.0
    matched_j.sort()
    t = sum(1 for x, j in zip(a_match, matched_j) if x != b[j]) // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler with boost threshold 0.7, prefix ≤ 4 (jellyfish defaults)."""
    j = jaro(a, b)
    if j > 0.7:
        prefix = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca == cb:
                prefix += 1
            else:
                break
        j += prefix * prefix_weight * (1.0 - j)
    return j


# ---------------------------------------------------------------------------
# Metaphone (Lawrence Philips, 1990) — phonetic key
# ---------------------------------------------------------------------------

_VOWELS = "AEIOU"


def metaphone(word: str) -> str:  # noqa: C901 - algorithm is a rule table
    """Plain Metaphone phonetic encoding (public algorithm).

    Covers the standard rule set; used only as an exact-match feature
    (dmetaphone_match ∈ {0,1}), so both pipeline and oracle share this
    exact implementation — internal consistency is what the F1 gate
    needs.
    """
    w = "".join(ch for ch in word.upper() if ch.isalpha())
    if not w:
        return ""
    # initial-letter exceptions
    if w[:2] in ("AE", "GN", "KN", "PN", "WR"):
        w = w[1:]
    elif w[:1] == "X":
        w = "S" + w[1:]
    elif w[:2] == "WH":
        w = "W" + w[2:]
    out = []
    i = 0
    n = len(w)

    def nxt(k=1):
        return w[i + k] if i + k < n else ""

    def prev(k=1):
        return w[i - k] if i - k >= 0 else ""

    while i < n:
        c = w[i]
        # drop duplicate adjacent letters except C
        if c == prev() and c != "C":
            i += 1
            continue
        if c in _VOWELS:
            if i == 0:
                out.append(c)
        elif c == "B":
            if not (i == n - 1 and prev() == "M"):
                out.append("B")
        elif c == "C":
            if nxt() == "I" and nxt(2) == "A":
                out.append("X")
            elif nxt() == "H":
                if prev() == "S":
                    out.append("K")
                else:
                    out.append("X")
                i += 1
            elif nxt() in "IEY":
                if prev() == "S":
                    pass  # SCE/SCI/SCY → dropped
                else:
                    out.append("S")
            else:
                out.append("K")
        elif c == "D":
            if nxt() == "G" and nxt(2) in "EYI":
                out.append("J")
                i += 2
            else:
                out.append("T")
        elif c == "G":
            if nxt() == "H":
                if i + 2 < n and w[i + 2] in _VOWELS:
                    out.append("K")
                    i += 1
                else:
                    i += 1  # silent GH
            elif nxt() == "N":
                pass  # silent in GN/GNED
            elif nxt() in "IEY":
                out.append("J")
            else:
                out.append("K")
        elif c == "H":
            if prev() in _VOWELS and nxt() not in _VOWELS:
                pass
            elif prev() in "CSPTG":
                pass
            else:
                out.append("H")
        elif c in "FJLMNR":
            out.append(c)
        elif c == "K":
            if prev() != "C":
                out.append("K")
        elif c == "P":
            if nxt() == "H":
                out.append("F")
                i += 1
            else:
                out.append("P")
        elif c == "Q":
            out.append("K")
        elif c == "S":
            if nxt() == "H":
                out.append("X")
                i += 1
            elif nxt() == "I" and nxt(2) in "OA":
                out.append("X")
            else:
                out.append("S")
        elif c == "T":
            if nxt() == "H":
                out.append("0")
                i += 1
            elif nxt() == "I" and nxt(2) in "OA":
                out.append("X")
            else:
                out.append("T")
        elif c == "V":
            out.append("F")
        elif c == "W":
            if nxt() in _VOWELS:
                out.append("W")
        elif c == "X":
            out.append("KS")
        elif c == "Y":
            if nxt() in _VOWELS:
                out.append("Y")
        elif c == "Z":
            out.append("S")
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# compiled-C tier (functions/ckernels.py) — round 7
# ---------------------------------------------------------------------------
# jaro + LCS are ~60% of the kernel's single-thread CPU; two pure-python
# batched rewrites measured SLOWER (round 4), so the remaining lever is a
# compiled kernel. ckernels compiles a C transcription of the two hot
# kernels (jaro-winkler + bit-parallel LCS) with the system gcc and, at
# load, certifies exact agreement with the pure kernels on the vector
# battery below; only then do the Series forms route through it. The
# pure-python kernels stay the oracle and the unconditional fallback.
# SPARK_GRAFT_PURE_KERNELS=1 forces the fallback for A/B measurement.


def _parity_battery() -> list[tuple[str, str]]:
    """The certification corpus ckernels._probe runs the compiled tier
    against: 13 curated pairs pinning known branch points, plus a
    ~300-pair seeded randomized corpus (round-5 ADVICE — widen it:
    unicode casing, long-common-prefix floats, mutation near-misses).
    Deterministic (fixed seed) so a rejection is reproducible; exposed
    as a function so tests exercise corpus generation + the pure kernels
    over it even where the compiled tier cannot build
    (tests/test_strings.py)."""
    battery = [
        ("", ""), ("", "abc"), ("martha", "marhta"), ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"), ("ABCVWXYZ", "CABVWUXYZ"),
        ("duane", "dwayne"), ("a" * 70 + "b", "b" + "a" * 70),
        ("kitten", "sitting"), ("résumé", "resume"), ("x", "x"),
        # shared prefix but jaro ≤ 0.7: exercises the Winkler BOOST
        # THRESHOLD branch — a compiled kernel applying the prefix bonus
        # unconditionally must be rejected here (round-5 review)
        ("abcdef", "abzzzz"), ("prefab", "prezzzzzzzz"),
    ]
    import random as _random

    _rng = _random.Random(0x5EED)
    _alpha = "abcdefghijklmnopqrstuvwxyz ÀÉüßшź日本語0123456789'-"

    def _rand_str(max_len):
        return "".join(
            _rng.choice(_alpha) for _ in range(_rng.randrange(max_len + 1))
        )

    for _ in range(150):  # independent pairs: full length/overlap spread
        battery.append((_rand_str(40), _rand_str(40)))
    for _ in range(150):  # mutation pairs: near-matches hit the scoring
        s = _rand_str(30)  # branches (prefix bonus, transpositions)
        t = list(s)
        for _i in range(_rng.randrange(4)):
            if not t:
                break
            op = _rng.randrange(3)
            p = _rng.randrange(len(t))
            if op == 0:
                t[p] = _rng.choice(_alpha)
            elif op == 1:
                del t[p]
            else:
                t.insert(p, _rng.choice(_alpha))
        battery.append((s, "".join(t)))
    return battery


try:
    from entity_resolution__spark.functions import ckernels as _ckmod

    _CK = _ckmod.load()  # the certified compiled kernels, or None
except Exception:
    _CK = None


# ---------------------------------------------------------------------------
# batch (Series) forms — shared by pandas UDFs and the test oracle
# ---------------------------------------------------------------------------


def pair_series(fn, a: pd.Series, b: pd.Series) -> pd.Series:
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    return pd.Series(np.fromiter((fn(x, y) for x, y in zip(av, bv)), dtype=np.float64, count=len(av)))


def edit_ratio_series(a: pd.Series, b: pd.Series) -> pd.Series:
    return indel_and_lcs_series(a, b)[0]


def indel_and_lcs_series(
    a: pd.Series, b: pd.Series
) -> tuple[pd.Series, pd.Series]:
    """(edit_ratio, lcs_ratio) from ONE bit-parallel LCS pass per pair.

    Both ratios are normalizations of the same LCS length; computing
    them independently ran the O(nm/64) kernel twice per pair — LCS was
    ~40% of the feature stage's CPU at bench scale (round 4). Values are
    identical to the two separate series."""
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    n = len(av)
    if _CK is not None and n:
        # one C-side LCS pass (the compiled ckernels tier); both ratios
        # are numpy arithmetic over the integer LCS lengths (identical
        # formulas to the loop below)
        lcs = _CK.lcs_batch(av, bv).astype(np.float64)
        la = np.fromiter((len(x) for x in av), dtype=np.int64, count=n)
        lb = np.fromiter((len(x) for x in bv), dtype=np.int64, count=n)
        tot = la + lb
        both_empty = tot == 0
        er = np.where(both_empty, 1.0, 2.0 * lcs / np.maximum(tot, 1))
        mx = np.maximum(la, lb)
        lr = np.where(both_empty, 1.0, lcs / np.maximum(mx, 1))
        lr = np.where((la == 0) ^ (lb == 0), 0.0, lr)
        return pd.Series(er), pd.Series(lr)
    er = np.empty(n)
    lr = np.empty(n)
    for i in range(n):
        x, y = av[i], bv[i]
        if not x and not y:
            er[i] = 1.0
            lr[i] = 1.0
            continue
        lcs = lcs_len(x, y)
        er[i] = 2.0 * lcs / (len(x) + len(y))
        lr[i] = lcs / max(len(x), len(y)) if x and y else 0.0
    return pd.Series(er), pd.Series(lr)


def jaro_winkler_series(a: pd.Series, b: pd.Series) -> pd.Series:
    if _CK is not None and len(a):
        av = a.fillna("").astype(str).to_numpy()
        bv = b.fillna("").astype(str).to_numpy()
        return pd.Series(_CK.jw_batch(av, bv))
    return pair_series(jaro_winkler, a, b)


# bounded worker-level metaphone memo: first tokens are Zipfian, so the
# same keys recur across every Arrow batch (same rationale and bound
# discipline as dedup._MD5_CACHE)
_METAPHONE_CACHE: dict[str, str] = {}
_METAPHONE_CACHE_MAX = 500_000


def _metaphone_memo(w: str) -> str:
    v = _METAPHONE_CACHE.get(w)
    if v is None:
        v = metaphone(w)
        if len(_METAPHONE_CACHE) < _METAPHONE_CACHE_MAX:
            _METAPHONE_CACHE[w] = v
    return v


def _first_token(s: str) -> str:
    f = s.split(None, 1)  # maxsplit=1: never tokenize the whole string
    return f[0] if f else ""


def metaphone_match_series(a: pd.Series, b: pd.Series) -> pd.Series:
    """First-token metaphone equality → {0.0, 1.0}
    (reference feautre_extraction.py:56-59)."""
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    return pd.Series(
        np.fromiter(
            (
                1.0
                if _metaphone_memo(_first_token(x)) == _metaphone_memo(_first_token(y))
                else 0.0
                for x, y in zip(av, bv)
            ),
            dtype=np.float64,
            count=len(av),
        )
    )

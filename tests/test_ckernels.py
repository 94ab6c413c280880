"""Parity tests for the compiled-C kernel tier (functions/ckernels.py).

The pure-python kernels are the oracle; the C tier must match them
BITWISE on the curated battery plus a randomized corpus. Self-skips
when the environment cannot compile (no gcc) — load() returning None is
itself the guard that the accelerated path can never serve uncertified.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from entity_resolution__spark.functions import ckernels
from entity_resolution__spark.functions import strings as K

_CK = ckernels.load()

pytestmark = pytest.mark.skipif(
    _CK is None, reason="C kernels unavailable (no compiler or probe failed)"
)


def _corpus() -> list[tuple[str, str]]:
    rng = random.Random(0xC0FFEE)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789éüßшź日本語'-"

    def rs(maxlen: int) -> str:
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(maxlen + 1)))

    pairs = list(K._parity_battery())
    pairs += [(rs(300), rs(300)) for _ in range(300)]
    for _ in range(300):  # mutation near-misses hit the match/boost branches
        s = rs(200)
        t = list(s)
        for _i in range(rng.randrange(6)):
            if not t:
                break
            op, p = rng.randrange(3), rng.randrange(len(t))
            if op == 0:
                t[p] = rng.choice(alpha)
            elif op == 1:
                del t[p]
            else:
                t.insert(p, rng.choice(alpha))
        pairs.append((s, "".join(t)))
    return pairs


def test_jw_batch_bitwise_parity():
    pairs = _corpus()
    av = np.array([a for a, _ in pairs], dtype=object)
    bv = np.array([b for _, b in pairs], dtype=object)
    got = _CK.jw_batch(av, bv)
    for i, (a, b) in enumerate(pairs):
        assert got[i] == K.jaro_winkler(a, b), (a, b)


def test_lcs_batch_parity():
    pairs = _corpus()
    av = np.array([a for a, _ in pairs], dtype=object)
    bv = np.array([b for _, b in pairs], dtype=object)
    got = _CK.lcs_batch(av, bv)
    for i, (a, b) in enumerate(pairs):
        assert int(got[i]) == K.lcs_len(a, b), (a, b)


def test_series_forms_route_through_ck():
    # the Series wrappers must produce the same values whichever tier
    # serves them (the suite runs with _CK live in this environment)
    import pandas as pd

    pairs = _corpus()[:200]
    a = pd.Series([x for x, _ in pairs])
    b = pd.Series([y for _, y in pairs])
    jw = K.jaro_winkler_series(a, b)
    er, lr = K.indel_and_lcs_series(a, b)
    er2 = K.edit_ratio_series(a, b)
    for i, (x, y) in enumerate(pairs):
        assert jw[i] == K.jaro_winkler(x, y)
        assert er[i] == K.edit_ratio(x, y)
        assert er2[i] == K.edit_ratio(x, y)
        assert lr[i] == K.lcs_ratio(x, y)

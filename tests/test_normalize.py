"""Golden tokenize vectors incl. accents (reference
src/common_methods.py:7-18 semantics: lower → NFKD strip → [a-z0-9]+)."""

from __future__ import annotations

import pandas as pd

from entity_resolution__spark.functions.normalize import (
    normalize_series,
    tokenize_series,
)


def test_normalize_golden():
    s = pd.Series(["Café RÉSUMÉ", "naïve Über", None, "", "a-b_c"])
    out = normalize_series(s)
    assert list(out) == ["cafe resume", "naive uber", "", "", "a-b_c"]


def test_tokenize_golden():
    s = pd.Series(
        [
            "Hello, World! 123",
            "Café-au-lait",
            "U.S.A. based",
            "",
            None,
            "Ñandú über-cool",
        ]
    )
    out = tokenize_series(s)
    assert list(out) == [
        ["hello", "world", "123"],
        ["cafe", "au", "lait"],
        ["u", "s", "a", "based"],
        [],
        [],
        ["nandu", "uber", "cool"],
    ]


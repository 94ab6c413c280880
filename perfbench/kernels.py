"""The functions layer on its own: microseconds per item of each Python
kernel the ER stages call, run single-threaded on the driver with fixed
inputs cut from the ER fixture (the first 300 entities of the seed-42
fixture are identical whatever the fixture size).

Run directly, it prints the tier it was served and the feature kernel's
timing; the benchmark runs it that way with SPARK_GRAFT_PURE_KERNELS=1 to
time the pure-Python tier next to the compiled one.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_ENTITIES = 300
N_PAIRS = 2000
N_PAIRS_PURE = 200
REPS = 5


def kernel_tier() -> str:
    from entity_resolution__spark.functions import strings

    if getattr(strings, "_RF", None) is not None:
        return "rapidfuzz"
    return "c" if getattr(strings, "_CK", None) is not None else "pure"


def _inputs(n_pairs: int):
    import pandas as pd

    from entity_resolution__spark.data.synth import make_transcripts
    from entity_resolution__spark.functions.normalize import normalize_series

    turns = make_transcripts(seed=42, n_entities=N_ENTITIES).sort_values(
        ["conv_id", "turn_idx"]
    )
    conv = turns.groupby("conv_id", sort=True).agg(
        full_text=("text", " ".join),
        roles=("role", "\x1f".join),
        tools=("tool", lambda s: "\x1f".join(t or "" for t in s)),
    )
    conv["norm"] = normalize_series(conv["full_text"])
    # neighbouring ids are mostly variants of one family, the wrap-around
    # offsets give cross-family pairs: a mix like the candidate pairs
    n = len(conv)
    left = [i % n for i in range(n_pairs)]
    right = [(i + 1 + (i // n) * 7) % n for i in range(n_pairs)]
    side = lambda ix, col: conv[col].iloc[ix].reset_index(drop=True)  # noqa: E731
    pairs = pd.DataFrame(
        {
            f"{col}_{s}": side(ix, col)
            for col in ("norm", "roles", "tools")
            for s, ix in (("l", left), ("r", right))
        }
    )
    return conv.reset_index(drop=True), pairs


def _us_per_item(fn, n_items: int) -> float:
    fn()  # first call pays lazy set-up (regex compiles, caches)
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / n_items * 1e6


def feature_struct_us(pairs) -> float:
    from entity_resolution__spark.functions.features import compute_feature_struct

    return _us_per_item(
        lambda: compute_feature_struct(
            pairs["norm_l"], pairs["norm_r"], pairs["roles_l"], pairs["roles_r"],
            pairs["tools_l"], pairs["tools_r"],
        ),
        len(pairs),
    )


def measure() -> dict[str, float]:
    """µs per item of every kernel, on the tier this process serves."""
    from entity_resolution__spark.functions import normalize, strings
    from entity_resolution__spark.operators.blocking import make_minhash_udf
    from entity_resolution__spark.operators.constraints import extract_countries

    conv, pairs = _inputs(N_PAIRS)
    minhash = make_minhash_udf(num_perm=32).func
    n_conv = len(conv)
    return {
        "normalize_series_us": _us_per_item(
            lambda: normalize.normalize_series(conv["full_text"]), n_conv
        ),
        "tokenize_series_us": _us_per_item(
            lambda: normalize.tokenize_series(conv["full_text"]), n_conv
        ),
        "minhash_sig_us": _us_per_item(lambda: minhash(conv["norm"]), n_conv),
        "extract_countries_us": _us_per_item(
            lambda: extract_countries.func(conv["full_text"]), n_conv
        ),
        "feature_struct_us": feature_struct_us(pairs),
        "jaro_winkler_series_us": _us_per_item(
            lambda: strings.jaro_winkler_series(pairs["norm_l"], pairs["norm_r"]),
            len(pairs),
        ),
        "indel_and_lcs_series_us": _us_per_item(
            lambda: strings.indel_and_lcs_series(pairs["norm_l"], pairs["norm_r"]),
            len(pairs),
        ),
    }


def pure_feature_struct_us() -> float:
    """compute_feature_struct on the pure-Python tier, in a subprocess
    (the tier is chosen once, at import)."""
    env = dict(os.environ, SPARK_GRAFT_PURE_KERNELS="1")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if res["tier"] != "pure":
        raise RuntimeError(f"pure-tier subprocess served tier {res['tier']!r}")
    return res["feature_struct_us"]


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    _, pairs = _inputs(N_PAIRS_PURE)
    print(json.dumps({"tier": kernel_tier(), "feature_struct_us": feature_struct_us(pairs)}))

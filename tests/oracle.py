"""Pure pandas/NumPy oracle implementing the REFERENCE semantics.

Mirrors the reference pipeline single-process, no Spark: canonicalize →
tokenize (/root/reference/src/common_methods.py:7-18) → all-pairs
similarity + threshold → DSU union-find
(/root/reference/scripts/apply_transitivity.py:21-45) → renumber + sizes
(:159-168). The Spark pipeline must reproduce these clusters with
pairwise F1 ≥ 0.99 on labeled pairs sharing a blocking key
(BASELINE.json.metric). Similarity kernels are shared with the engine
(entity_resolution__spark.functions.strings) — cluster parity requires
identical kernels on both sides.
"""

from __future__ import annotations

import re

import pandas as pd

from entity_resolution__spark.functions.features import compute_feature_struct
from entity_resolution__spark.functions.normalize import (
    normalize_series,
    tokenize_series,
)
from entity_resolution__spark.operators.constraints import (
    ACRONYM_SUBS,
    COUNTRY_WHITELIST,
    _undot,
)
from entity_resolution__spark.operators.score import SCORE_WEIGHTS


class DSU:
    """Path-compressed, rank-union disjoint sets (the reference's
    apply_transitivity.py:21-45 semantics)."""

    def __init__(self):
        self.parent: dict = {}
        self.rank: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        self.rank.setdefault(x, 0)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if self.rank[ra] < self.rank[rb]:
            ra, rb = rb, ra
        self.parent[rb] = ra
        if self.rank[ra] == self.rank[rb]:
            self.rank[ra] += 1


# The reference's country extraction in its direct form
# (geo_constraints.py:14-27, 72-80): one (?<!\w)NAME(?!\w) search per
# whitelisted country, after all 12 ordered alias substitutions. The
# engine's single-scan kernel (constraints.countries_series) must agree.
_COUNTRY_RES = [
    (c, re.compile(r"(?<!\w)" + re.escape(c) + r"(?!\w)", re.IGNORECASE))
    for c in COUNTRY_WHITELIST
]
_ACRONYM_RES = [
    (re.compile(p, re.IGNORECASE), r)
    for p, r in ACRONYM_SUBS
    if r in COUNTRY_WHITELIST
]


def countries_ref(text: str | None) -> list[str]:
    t = _undot(text or "")
    for pat, repl in _ACRONYM_RES:
        t = pat.sub(repl, t)
    return sorted({c for c, cre in _COUNTRY_RES if cre.search(t)})


def canonicalize_pd(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Per conversation: stable turn ordering, text concat, tokens."""
    t = transcripts.sort_values(["conv_id", "turn_idx"])
    g = t.groupby("conv_id", sort=True)
    conv = pd.DataFrame(
        {
            "full_text": g["text"].apply(lambda s: " ".join(s.fillna(""))),
            "roles": g["role"].apply(list),
            "tools": g["tool"].apply(lambda s: [x if isinstance(x, str) else "" for x in s]),
        }
    ).reset_index()
    conv["norm_text"] = normalize_series(conv["full_text"])
    conv["tokens"] = tokenize_series(conv["full_text"])
    conv["token_set"] = conv["tokens"].map(lambda x: sorted(set(x)))
    return conv


def score_pairs_pd(
    conv: pd.DataFrame,
    pairs: pd.DataFrame,
    min_token_jaccard: float = 0.15,
) -> pd.DataFrame:
    """Feature + weighted score for (conv_id_a, conv_id_b) pairs.

    min_token_jaccard mirrors the pipeline's C4-style pre-filter
    (reference token_overlap_constraint.py:26): pairs under the cut
    score 0 on both sides, so clusters stay identical."""
    c = conv.set_index("conv_id")
    a = c.loc[pairs["conv_id_a"]].reset_index(drop=True)
    b = c.loc[pairs["conv_id_b"]].reset_index(drop=True)

    def j(series: pd.Series) -> pd.Series:
        return series.map(lambda x: "\x1f".join(x) if x is not None else "")

    feats = compute_feature_struct(
        a["norm_text"], b["norm_text"],
        j(a["roles"]), j(b["roles"]),
        j(a["tools"]), j(b["tools"]),
    )
    # token_jaccard with the reference's empty conventions
    def jac(x, y):
        sx, sy = set(x), set(y)
        if not sx and not sy:
            return 1.0
        if not sx or not sy:
            return 0.0
        return len(sx & sy) / len(sx | sy)

    feats["token_jaccard"] = [
        jac(x, y) for x, y in zip(a["token_set"], b["token_set"])
    ]
    out = pairs.reset_index(drop=True).copy()
    prob = sum(feats[c_] * w for c_, w in SCORE_WEIGHTS.items())
    # reference skip semantics: the pre-filter never drops a pair with an
    # empty token set on either side (matches featurize_pairs)
    import pandas as _pd

    empty_side = _pd.Series(
        [len(set(x)) == 0 or len(set(y)) == 0
         for x, y in zip(a["token_set"], b["token_set"])]
    )
    prob = prob.where(
        (feats["token_jaccard"] >= min_token_jaccard) | empty_side, 0.0
    )
    out["prob_match"] = prob
    return out


def all_pairs(conv: pd.DataFrame) -> pd.DataFrame:
    ids = sorted(conv["conv_id"])
    rows = [(ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))]
    return pd.DataFrame(rows, columns=["conv_id_a", "conv_id_b"])


def reference_clusters(
    transcripts: pd.DataFrame, threshold: float = 0.60
) -> pd.DataFrame:
    """Brute-force reference clustering: all pairs → score ≥ threshold →
    DSU → (conv_id, cluster_id, cluster_size), dense renumber by sorted
    min member (apply_transitivity.py:159-168)."""
    conv = canonicalize_pd(transcripts)
    scored = score_pairs_pd(conv, all_pairs(conv))
    dsu = DSU()
    for cid in conv["conv_id"]:
        dsu.find(cid)
    for _, r in scored[scored["prob_match"] >= threshold].iterrows():
        dsu.union(r["conv_id_a"], r["conv_id_b"])
    root = {cid: dsu.find(cid) for cid in conv["conv_id"]}
    out = pd.DataFrame({"conv_id": list(root), "root": list(root.values())})
    renumber = {r: i for i, r in enumerate(sorted(out["root"].unique()))}
    out["cluster_id"] = out["root"].map(renumber)
    sizes = out.groupby("cluster_id")["conv_id"].transform("count")
    out["cluster_size"] = sizes
    return out[["conv_id", "cluster_id", "cluster_size"]].sort_values(
        ["cluster_id", "conv_id"]
    ).reset_index(drop=True)


def pairwise_f1(
    labeled: pd.DataFrame, pred_clusters: pd.DataFrame, gold_clusters: pd.DataFrame
) -> float:
    """Pairwise F1 of predicted vs gold same-cluster decisions over the
    labeled pair set (BASELINE.json.metric)."""
    pc = pred_clusters.set_index("conv_id")["cluster_id"]
    gc = gold_clusters.set_index("conv_id")["cluster_id"]
    pred = (
        pc.reindex(labeled["conv_id_a"]).to_numpy()
        == pc.reindex(labeled["conv_id_b"]).to_numpy()
    )
    gold = (
        gc.reindex(labeled["conv_id_a"]).to_numpy()
        == gc.reindex(labeled["conv_id_b"]).to_numpy()
    )
    tp = (pred & gold).sum()
    fp = (pred & ~gold).sum()
    fn = (~pred & gold).sum()
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r)

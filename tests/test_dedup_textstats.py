"""Dedup + text-stats operators on hand-made documents."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),  # exact dup of 1
        (3, "the cat sat on a mat today"),  # near dup of 1
        (4, "der hund ist nicht das problem"),
        (5, "completely different zebra quantum flux"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    from entity_resolution__spark.operators.dedup import exact_dedup

    out = exact_dedup(_docs(spark)).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep[1] == 2  # docs 1,2 same digest, min id kept
    assert by_keep[3] == 1
    assert len(out) == 5  # 6 docs, one collision


def test_minhash_identical_for_dups(spark):
    from entity_resolution__spark.operators.dedup import minhash_signature

    out = {r["doc_id"]: (r["mh_0"], r["mh_1"]) for r in
           minhash_signature(_docs(spark).filter("doc_id <= 3"), n_hashes=2).collect()}
    assert out[1] == out[2]  # identical text → identical signature
    # near-dup shares most tokens → likely equal on at least one hash;
    # exact equality not required, just determinism
    assert out[3] is not None


def test_simhash_hamming_close_for_neardups(spark):
    from entity_resolution__spark.operators.dedup import simhash64
    from entity_resolution__spark.operators.textstats import tokens_col

    out = {
        r["doc_id"]: r["sh"]
        for r in _docs(spark)
        .select("doc_id", simhash64(tokens_col(F.col("text"))).alias("sh"))
        .collect()
    }
    assert out[1] == out[2]
    ham_near = bin((out[1] ^ out[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((out[1] ^ out[5]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard_pairs(spark):
    from entity_resolution__spark.operators.dedup import ngram_jaccard_pairs
    from entity_resolution__spark.operators.textstats import tokens_col

    # default MinHash-LSH blocking: identical docs share every band
    out = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.99).collect()
    assert {(r["id_left"], r["id_right"]) for r in out} == {(1, 2)}
    # round 3: the band scheme adapts to the threshold (14 bands of 1 at
    # t=0.2), so the LSH path itself now recovers the J≈0.29 pair that
    # round 2's fixed 4×2 scheme caught with only ~15% probability
    loose_lsh = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.2).collect()
    assert (1, 3) in {(r["id_left"], r["id_right"]) for r in loose_lsh}
    # key-blocked path: exact recall per key, independent of LSH
    first_tok = F.try_element_at(tokens_col(F.col("text")), F.lit(1))
    loose = ngram_jaccard_pairs(
        _docs(spark), block=first_tok, n=3, threshold=0.2
    ).collect()
    assert (1, 3) in {(r["id_left"], r["id_right"]) for r in loose}


def test_lsh_scheme_tracks_threshold():
    """(bands, rows) follow the S-curve: ≥95% recall at J=threshold
    within the hash budget, steepest band that fits (ADVICE round 2)."""
    from entity_resolution__spark.operators.dedup import lsh_scheme

    for t in (0.05, 0.2, 0.5, 0.8, 0.9, 0.99):
        b, r = lsh_scheme(t)
        assert 1 <= r <= 8 and b >= 1
        recall = 1.0 - (1.0 - min(t, 0.99) ** r) ** b
        if b * r <= 16:  # within budget the target must be met
            assert recall >= 0.95, (t, b, r, recall)
    assert lsh_scheme(0.2) == (14, 1)
    assert lsh_scheme(0.9) == (3, 4)
    # very low thresholds cap the band count (documented recall floor)
    b, r = lsh_scheme(0.05)
    assert r == 1 and b <= 32


def test_simhash_hex_matches_long(spark):
    """simhash_hex is exactly the zero-padded two's-complement hex of
    simhash64 (the engine-portable rendering the DuckDB oracle checks)."""
    from entity_resolution__spark.operators.dedup import simhash64, simhash_hex
    from entity_resolution__spark.operators.textstats import tokens_col

    rows = _docs(spark).select(
        simhash64(tokens_col(F.col("text"))).alias("sh"),
        simhash_hex(tokens_col(F.col("text"))).alias("hx"),
    ).collect()
    for r in rows:
        assert r["hx"] == f"{r['sh'] & ((1 << 64) - 1):016x}"


def test_simhash_md5_basis(spark):
    """A single-token doc's simhash equals the first 64 bits of that
    token's md5 — pins the hash basis the SQL oracle reproduces."""
    import hashlib

    from entity_resolution__spark.operators.dedup import simhash_hex
    from entity_resolution__spark.operators.textstats import tokens_col

    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    hx = df.select(simhash_hex(tokens_col(F.col("text"))).alias("h")).collect()[0]["h"]
    assert hx == hashlib.md5(b"hello").hexdigest()[:16]


def test_lang_id_and_quality(spark):
    from entity_resolution__spark.operators.textstats import lang_id, quality_features

    df = _docs(spark)
    langs = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()
    }
    assert langs[1] == "en"
    assert langs[4] == "de"
    assert langs[5] == "und"
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[1]["q_tokens"] == 6
    assert q[1]["q_stopword_ratio"] == round(2 / 6, 6)  # 'the' twice
    assert q[6]["q_tokens"] == 0


def test_fingerprint_normalization_invariant(spark):
    from entity_resolution__spark.operators.textstats import fingerprint_col

    df = spark.createDataFrame(
        [(1, "The CAT sat"), (2, "the cat SAT"), (3, "the dog sat")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", fingerprint_col(F.col("text")).alias("fp")).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_acronyms_reference_semantics(spark):
    """Reference find_acronyms rules (visualize_k_value_for_blocking.py:
    33-43): strip non-alnum from uppercase runs, drop digits-only and
    len<2 cleaned forms, lowercase, dedupe."""
    from entity_resolution__spark.operators.textstats import acronyms_col

    df = spark.createDataFrame(
        [
            (1, "The NASA and M.I.T. teams used GPU-42 kits"),
            (2, "priority 4-NOT SPECIFIED at 42 degrees"),
            (3, "AT&T labs"),
            (4, "all lowercase text"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: sorted(r["a"])
        for r in df.select("doc_id", acronyms_col(F.col("text")).alias("a")).collect()
    }
    # 'M.I.T.' is dotted → single letters, runs of len<2 per match; 'GPU-42'
    # cleans to 'gpu42'; '42' alone is digits-only → dropped
    assert got[1] == ["gpu42", "nasa"]
    assert got[2] == ["4not", "specified"]
    assert got[3] == ["att"]
    assert got[4] == []


def test_pack_documents_layout(spark):
    """Concat-and-chunk packing: offsets are per-shard running sums in
    id order; documents crossing a window boundary span bins; empty
    docs occupy no stream space (bin_end == bin_start)."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.packing import (
        pack_documents,
        packing_stats,
    )

    rows = [
        (0, "a " * 300),   # 300 tokens → bins 0..2 (crosses 100-token windows)
        (2, "b " * 50),    # starts at 300 → bins 3..3
        (4, ""),           # zero tokens at 350 → bin 3..3
        (6, "c " * 60),    # 350..409 → bins 3..4
        (1, "d " * 10),    # other shard, offset 0 → bin 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in pack_documents(
            df,
            seq_len=100,
            n_shards=2,
            shard=F.pmod(F.col("doc_id"), F.lit(2)),
        ).collect()
    }
    assert (out[0]["offset"], out[0]["bin_start"], out[0]["bin_end"]) == (0, 0, 2)
    assert (out[2]["offset"], out[2]["bin_start"], out[2]["bin_end"]) == (300, 3, 3)
    assert (out[4]["offset"], out[4]["bin_start"], out[4]["bin_end"]) == (350, 3, 3)
    assert (out[6]["offset"], out[6]["bin_start"], out[6]["bin_end"]) == (350, 3, 4)
    assert (out[1]["offset"], out[1]["bin_start"], out[1]["bin_end"]) == (0, 0, 0)

    stats = {
        r["shard"]: r
        for r in packing_stats(
            pack_documents(
                df, seq_len=100, n_shards=2,
                shard=F.pmod(F.col("doc_id"), F.lit(2)),
            ),
            seq_len=100,
        ).collect()
    }
    assert stats[0]["n_docs"] == 4 and stats[0]["total_tokens"] == 410
    assert stats[0]["n_windows"] == 5
    assert stats[0]["fill_ratio"] == 0.82
    assert stats[1]["n_windows"] == 1 and stats[1]["fill_ratio"] == 0.1


def test_round4_operators_empty_inputs(spark):
    """Empty-input probes for the round-4 operator family (the verify
    recipe's 'edge probes that matter'): no crashes, empty/zero results."""
    from entity_resolution__spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
    )
    from entity_resolution__spark.operators.graph_export import modularity
    from entity_resolution__spark.operators.packing import (
        pack_documents,
        packing_stats,
    )
    from entity_resolution__spark.operators.saltjoin import (
        capped_salted_self_join,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert pack_documents(empty_docs).count() == 0
    assert packing_stats(pack_documents(empty_docs), 512).count() == 0
    assert exact_dedup(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert (
        capped_salted_self_join(
            spark.createDataFrame([], "id string, bk string"), ["bk"], id_col="id"
        ).count()
        == 0
    )
    no_edges = spark.createDataFrame([], "src string, dst string")
    no_labels = spark.createDataFrame([], "node string, community string")
    assert modularity(no_edges, no_labels) == 0.0


def test_token_budget_sample_boundary(spark):
    """Mixture sampler: the doc crossing the budget boundary is KEPT
    (budgets are floors), later docs dropped, unbudgeted groups empty."""
    from entity_resolution__spark.operators.packing import token_budget_sample

    rows = [
        (0, "en", "a " * 40),   # 40 tokens, cum 40  < 100 → keep
        (1, "en", "b " * 50),   # cum_prev 40 < 100 → keep (cum 90)
        (2, "en", "c " * 30),   # cum_prev 90 < 100 → keep (crosses, cum 120)
        (3, "en", "d " * 10),   # cum_prev 120 ≥ 100 → drop
        (4, "xx", "e " * 5),    # no budget → drop
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_sample(df, budgets={"en": 100}).collect()
    )
    assert got == [(0, 40), (1, 90), (2, 120)]


def test_token_budget_sample_two_phase_parity(spark):
    """The shard-prefix (scale) form must return exactly the single-
    window form's rows and cum_tokens for any id-monotone shard."""
    import random

    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.packing import token_budget_sample

    rng = random.Random(9)
    rows = [
        (i, rng.choice(["en", "de", "xx"]), "w " * rng.randint(0, 30))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    budgets = {"en": 700, "de": 300}
    single = sorted(
        tuple(r) for r in token_budget_sample(df, budgets).collect()
    )
    two_phase = sorted(
        tuple(r)
        for r in token_budget_sample(
            df, budgets, range_shard=F.col("doc_id") / 7
        ).collect()
    )
    assert single == two_phase
    assert len(single) > 0


def test_simhash_neardup_pairs_recall_guarantee(spark):
    """Pigeonhole property: with 4 bands, band-equality candidates
    contain EVERY pair within hamming ≤ 3 — the operator's result must
    EQUAL the brute-force all-pairs set, not approximate it. Fixture:
    duplicate docs (hamming 0), perturbed docs (small hamming), and
    unrelated fillers."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )
    from entity_resolution__spark.operators.textstats import tokens_col

    base_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (0, base_text),
        (1, base_text),  # exact dup → hamming 0
        (2, base_text.replace("kappa", "kappax")),  # small perturbation
        (3, base_text.replace("alpha beta", "a1 b2")),
        (4, "totally different words about completely other topics here"),
        (5, "yet another unrelated document with its own vocabulary set"),
    ] + [
        (10 + i, f"filler document number {i} content token{i} extra{i}")
        for i in range(20)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sims = {
        r["doc_id"]: r["s"]
        for r in d.select(
            "doc_id", simhash64(tokens_col(F.col("text"))).alias("s")
        ).collect()
    }
    ids = sorted(sims)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got_rows = simhash_neardup_pairs(d, max_hamming=3).collect()
    got = {(r["id_left"], r["id_right"]) for r in got_rows}
    assert got == want
    assert (0, 1) in got  # exact dup found
    ham = {(r["id_left"], r["id_right"]): r["hamming"] for r in got_rows}
    assert ham[(0, 1)] == 0
    # each unordered pair exactly once
    assert len(got_rows) == len(got)


def test_simhash_neardup_skew_cap(spark):
    """A mega-bucket of identical docs above max_bucket is DROPPED (the
    documented cap semantics shared with the other LSH families), while
    a small benign near-dup pair elsewhere is still found."""
    rows = [(i, "same same same same identical text") for i in range(50)]
    rows += [(100, "benign near duplicate pair text one"),
             (101, "benign near duplicate pair text one")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from entity_resolution__spark.operators.dedup import simhash_neardup_pairs

    got = {
        (r["id_left"], r["id_right"])
        for r in simhash_neardup_pairs(d, max_hamming=3, max_bucket=40).collect()
    }
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)  # mega-bucket dropped


def test_chunk_documents_windows(spark):
    """Overlapping token windows: 10 tokens / chunk 4 / overlap 1
    (stride 3) → chunks at offsets 0, 3, 6, the last clamped; empty doc
    yields nothing; short doc yields one short chunk; overlap ≥ chunk
    refused."""
    import pytest as _pytest

    from entity_resolution__spark.operators.packing import chunk_documents

    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    out = chunk_documents(d, chunk_tokens=4, overlap=1).collect()
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in out
    }
    assert got == {
        (1, 0): (4, "a b c d"),
        (1, 1): (4, "d e f g"),
        (1, 2): (4, "g h i j"),
        (3, 0): (1, "one"),
    }
    with _pytest.raises(ValueError):
        chunk_documents(d, chunk_tokens=4, overlap=4)


def test_exact_jaccard_join_equals_bruteforce(spark):
    """Prefix-filtering exact jaccard join must EQUAL the quadratic
    brute-force pair set — pairs AND values — across thresholds and
    shingle sizes, on a seeded random corpus with planted near-dups
    (100%-recall contract, unlike the MinHash path)."""
    import random
    import re

    from entity_resolution__spark.operators.dedup import exact_jaccard_join

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))))
    # planted near-dups: copies with small edits
    for j, (src, _) in enumerate(docs[:6]):
        words = docs[src][1].split()
        if len(words) > 3:
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((100 + j, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(text, n):
        toks = re.findall(r"[a-z0-9]+", text.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    for n, t in ((3, 0.2), (2, 0.5), (1, 0.8)):
        sets = {i: shingles(x, n) for i, x in docs}
        expect = {}
        ids = sorted(k for k in sets if sets[k])
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                j = inter / uni
                if j >= t:
                    expect[(a, b)] = round(j, 6)
        got = {
            (r["id_left"], r["id_right"]): r["jaccard"]
            for r in exact_jaccard_join(df, n=n, threshold=t).collect()
        }
        assert got == expect, (n, t, len(got), len(expect))


def test_exact_jaccard_join_bad_threshold(spark):
    from entity_resolution__spark.operators.dedup import exact_jaccard_join

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_jaccard_join(df, threshold=0.0)

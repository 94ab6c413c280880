"""PII scrubbing, hash-stratified sampling, n-gram corpus stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution__spark.operators.scrub import (
    hash_bucket,
    hash_stratified_sample,
    ngram_stats,
    pii_scrub,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_pii_scrub_truth_table(spark):
    rows = [
        (1, "mail bob@example.com and jim.doe+x@sub.org today", "en"),
        (2, "server at 10.0.255.3 then call +1 (555) 123-4567 ok", "en"),
        (3, "no pii here at all", "en"),
        (4, "ip 1.2.3.4 twice 5.6.7.8", "en"),
        (5, "", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in pii_scrub(_docs(spark, rows).select("doc_id", "text")).collect()
    }
    assert out[1]["text"] == "mail <EMAIL> and <EMAIL> today"
    assert out[1]["n_emails"] == 2 and out[1]["n_ips"] == 0
    assert out[2]["text"] == "server at <IP> then call <PHONE> ok"
    assert out[2]["n_ips"] == 1 and out[2]["n_phones"] == 1
    assert out[3]["text"] == "no pii here at all"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    # the phone pattern must NOT eat dotted IPs (ip redaction runs first)
    assert out[4]["text"] == "ip <IP> twice <IP>"
    assert out[4]["n_phones"] == 0
    assert out[5]["text"] == ""


def test_hash_sample_deterministic_and_rate(spark):
    rows = [(i, f"text {i}", ["en", "de", "zh"][i % 3]) for i in range(3000)]
    d = _docs(spark, rows).select("doc_id", "lang")
    out = hash_stratified_sample(d, rates={"en": 0.5, "de": 0.1})
    got = out.collect()
    # no un-configured group survives
    assert all(r["lang"] in ("en", "de") for r in got)
    # every kept bucket honors its group threshold
    for r in got:
        assert r["bucket"] < (5000 if r["lang"] == "en" else 1000)
    # rates are approximately honored (md5 is uniform)
    n_en = sum(1 for r in got if r["lang"] == "en")
    n_de = sum(1 for r in got if r["lang"] == "de")
    assert abs(n_en / 1000 - 0.5) < 0.08
    assert abs(n_de / 1000 - 0.1) < 0.05
    # bit-identical on rerun and invariant to partitioning
    again = hash_stratified_sample(
        d.repartition(17), rates={"en": 0.5, "de": 0.1}
    ).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(r["doc_id"] for r in again)


def test_hash_sample_subquantum_rate_raises(spark):
    """A positive rate below 1/n_buckets can't be expressed by the bucket
    coordinate; round 5 silently clamped it 100x up — now it raises with
    the n_buckets needed to express it (round-5 ADVICE)."""
    d = _docs(spark, [(1, "t", "en")]).select("doc_id", "lang")
    with pytest.raises(ValueError, match="below the 1/10000 quantum"):
        hash_stratified_sample(d, rates={"en": 1e-6})
    # same rate with enough buckets is fine
    assert (
        hash_stratified_sample(d, rates={"en": 1e-6}, n_buckets=1_000_000)
        .count()
        <= 1
    )
    # rate exactly at the quantum is fine (rounds to 1 bucket)
    hash_stratified_sample(d, rates={"en": 1e-4}).count()


def test_hash_bucket_matches_duckdb(spark):
    """The bucket must be engine-portable: Spark conv(md5-hex) equals
    DuckDB's ('0x'||hex)::BIGINT parse for the same ids."""
    import duckdb

    ids = [0, 1, 123, 99991, 2**40 + 7]
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in sdf.select(
            "doc_id", hash_bucket(F.col("doc_id")).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    for i in ids:
        want = con.sql(
            f"SELECT ('0x' || substr(md5(CAST({i} AS VARCHAR)),1,8))::BIGINT % 10000"
        ).fetchone()[0]
        assert got[i] == want, (i, got[i], want)


def test_ngram_stats_counts_and_short_docs(spark):
    rows = [
        (1, "the cat sat", "en"),
        (2, "the cat ran", "en"),
        (3, "the cat sat the cat sat", "en"),  # dup grams within doc
        (4, "single", "en"),  # shorter than n → contributes nothing
        (5, "", "en"),
    ]
    out = ngram_stats(_docs(spark, rows), n=2, k=10).collect()
    counts = {r["ngram"]: r["n_docs"] for r in out}
    assert counts["the cat"] == 3  # document frequency, not raw count
    assert counts["cat sat"] == 2
    assert counts["cat ran"] == 1
    assert "sat the" in counts  # cross-window gram from doc 3
    # deterministic ordering: count desc then ngram asc
    ordered = [(r["n_docs"], r["ngram"]) for r in out]
    assert ordered == sorted(ordered, key=lambda t: (-t[0], t[1]))


def test_ngram_stats_empty_input(spark):
    d = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert ngram_stats(d, n=2, k=5).count() == 0
    assert pii_scrub(d.select("doc_id", "text")).count() == 0
    assert (
        hash_stratified_sample(
            d.select("doc_id", "lang"), rates={"en": 0.5}
        ).count()
        == 0
    )


def test_round5_ops_empty_input_probes(spark):
    """Empty-input probes for the round-5 family (same discipline as the
    round-4 operators): every operator degrades to an empty (or
    identity) result with the right schema, no exceptions."""
    from pyspark.sql import functions as F

    from entity_resolution__spark.operators.dedup import simhash_neardup_pairs
    from entity_resolution__spark.operators.graph_export import louvain_refine
    from entity_resolution__spark.operators.packing import chunk_documents

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_neardup_pairs(empty_docs).count() == 0
    assert chunk_documents(empty_docs).count() == 0

    empty_edges = spark.createDataFrame(
        [], "src string, dst string, weight double"
    )
    assert louvain_refine(empty_edges).count() == 0  # singleton start
    labels = spark.createDataFrame(
        [("a", "a"), ("b", "b")], "node string, community string"
    )
    # no edges → labeling passes through unchanged
    got = {r["node"]: r["community"] for r in louvain_refine(empty_edges, labels).collect()}
    assert got == {"a": "a", "b": "b"}


# ---------------------------------------------------------------------------
# round 6: repetition / quality gate / decontamination / KMV sketch
# ---------------------------------------------------------------------------


def test_repetition_stats_truth_table(spark):
    from entity_resolution__spark.operators.scrub import repetition_stats

    rows = [
        # 'a b a b a b' → tokens 6, distinct 2, bigrams [ab,ba,ab,ba,ab]
        # → total 5, top 'a b' ×3, distinct 2
        (1, "a b a b a b", "en"),
        # all-unique tokens: no dup anything
        (2, "one two three four", "en"),
        # single token: no bigram at all → fractions 0
        (3, "solo", "en"),
        # empty → everything 0
        (4, "", "en"),
        # null text treated as empty
        (5, None, "en"),
    ]
    out = {r["doc_id"]: r for r in repetition_stats(_docs(spark, rows)).collect()}
    assert out[1]["n_tokens"] == 6
    assert out[1]["dup_token_frac"] == round(1 - 2 / 6, 6)
    assert out[1]["top_ngram_frac"] == 0.6  # 3/5
    assert out[1]["dup_ngram_frac"] == 0.6  # 1 - 2/5
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_ngram_frac"] == round(1 / 3, 6)  # each bigram once
    assert out[2]["dup_ngram_frac"] == 0.0
    for d in (3, 4, 5):
        assert out[d]["top_ngram_frac"] == 0.0
        assert out[d]["dup_ngram_frac"] == 0.0
    assert out[4]["n_tokens"] == 0 and out[5]["n_tokens"] == 0


def test_quality_gate_reasons_order_and_keep(spark):
    from entity_resolution__spark.operators.scrub import quality_gate

    rows = [
        # long enough, has stopwords, clean → keep
        (1, "the cat sat on the mat and it was fine for the day is that", "en"),
        # too short AND no stopwords (and its single bigram is 100% of
        # the bigram stream) → three reasons, table order
        (2, "tiny doc", "en"),
        # heavy repetition of one bigram, with stopwords mixed in to
        # isolate the repetition rules
        (3, "the was " * 40 + "of it in is that for to and", "en"),
    ]
    out = {r["doc_id"]: r for r in quality_gate(_docs(spark, rows)).collect()}
    assert out[1]["keep"] is True and out[1]["reasons"] == ""
    assert out[2]["keep"] is False
    assert out[2]["reasons"] == "too_short,low_stopword,top_ngram_heavy"
    assert out[3]["keep"] is False
    assert "top_ngram_heavy" in out[3]["reasons"]
    # reasons always follow QUALITY_RULES table order
    from entity_resolution__spark.operators.scrub import QUALITY_RULES

    order = [n for n, _ in QUALITY_RULES]
    for r in out.values():
        names = [x for x in r["reasons"].split(",") if x]
        assert names == sorted(names, key=order.index)


def test_decontaminate_vs_bruteforce(spark):
    from entity_resolution__spark.operators.scrub import decontaminate

    eval_rows = [(100, "alpha beta gamma delta epsilon", "en")]
    corpus_rows = [
        # shares 'alpha beta gamma' (and 'beta gamma delta') → 2 hits
        (1, "x alpha beta gamma delta y", "en"),
        # shares words but no full trigram → clean
        (2, "alpha gamma beta delta epsilon zeta", "en"),
        # exact copy → all 3 eval trigrams hit
        (3, "alpha beta gamma delta epsilon", "en"),
        # too short for a trigram
        (4, "alpha beta", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in decontaminate(
            _docs(spark, corpus_rows), _docs(spark, eval_rows), n=3
        ).collect()
    }
    assert out[1]["n_eval_ngrams"] == 2 and out[1]["contaminated"] is True
    assert out[2]["n_eval_ngrams"] == 0 and out[2]["contaminated"] is False
    assert out[3]["n_eval_ngrams"] == 3 and out[3]["contaminated"] is True
    assert out[4]["n_eval_ngrams"] == 0 and out[4]["contaminated"] is False
    # min_hits raises the bar
    out2 = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(
            _docs(spark, corpus_rows), _docs(spark, eval_rows), n=3, min_hits=3
        ).collect()
    }
    assert out2 == {1: False, 2: False, 3: True, 4: False}


def test_kmv_distinct_small_sets_exact(spark):
    """Fewer than k distinct values → the sketch IS the set: estimate
    exact, k_used = |distinct|."""
    from entity_resolution__spark.operators.scrub import kmv_distinct

    df = spark.createDataFrame(
        [(g, f"v{i % 7}") for g in ("a", "b") for i in range(50)],
        "grp string, value string",
    )
    out = {r["grp"]: r for r in kmv_distinct(df, "value", "grp", k=64).collect()}
    for g in ("a", "b"):
        assert out[g]["k_used"] == 7
        assert out[g]["n_distinct_est"] == 7.0


def test_kmv_distinct_estimate_accuracy_and_determinism(spark):
    """KMV with k=256 over 10k distinct ints: relative error well inside
    the 3/√k ≈ 19% envelope, and bit-identical across reruns and
    partitionings (md5 order, no RNG)."""
    from entity_resolution__spark.operators.scrub import kmv_distinct

    df = spark.range(10_000).select(F.col("id").cast("string").alias("value"))
    est1 = kmv_distinct(df, "value", None, k=256).collect()[0]
    est2 = kmv_distinct(df.repartition(13), "value", None, k=256).collect()[0]
    assert est1["n_distinct_est"] == est2["n_distinct_est"]
    assert est1["kmv_frac"] == est2["kmv_frac"]
    rel_err = abs(est1["n_distinct_est"] - 10_000) / 10_000
    assert rel_err < 0.19, rel_err
    # duplicates must not move the sketch: distinct-by-hash up front
    est3 = kmv_distinct(
        df.union(df).union(df), "value", None, k=256
    ).collect()[0]
    assert est3["n_distinct_est"] == est1["n_distinct_est"]


def test_kmv_distinct_salt_phase_merges_correctly(spark):
    """The two-phase (salted partial bottom-k → merge) result equals the
    direct global bottom-k: compute the expected kth hash in python."""
    import hashlib

    from entity_resolution__spark.operators.scrub import kmv_distinct

    vals = [f"tok{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "value string")
    k = 16
    hashes = sorted(hashlib.md5(v.encode()).hexdigest() for v in vals)
    kth = hashes[k - 1]
    frac = int(kth[:15], 16) / float(16**15)
    expected = round((k - 1) / frac, 6)
    got = kmv_distinct(df, "value", None, k=k, n_salts=8).collect()[0]
    assert got["k_used"] == k
    assert got["n_distinct_est"] == expected


def test_round6_hygiene_empty_inputs(spark):
    """Empty-input probes (house rule: every operator family gets one):
    no crashes, sane empty/zero outputs."""
    from entity_resolution__spark.operators.scrub import (
        decontaminate,
        kmv_distinct,
        quality_gate,
        repetition_stats,
    )

    empty = _docs(spark, []).select("doc_id", "text", "lang")
    assert repetition_stats(empty).count() == 0
    assert quality_gate(empty).count() == 0
    # empty corpus × non-empty eval and vice versa
    ev = _docs(spark, [(1, "alpha beta gamma delta", "en")])
    assert decontaminate(empty, ev).count() == 0
    out = decontaminate(ev, empty).collect()
    assert len(out) == 1 and out[0]["contaminated"] is False
    df = spark.createDataFrame([], "grp string, value string")
    assert kmv_distinct(df, "value", "grp").count() == 0
    assert kmv_distinct(df, "value", None).count() == 0

"""Planted-case tests for the round-6 corpus-construction operators
(`operators/corpusops.py`): span-removal dedup, tokenizer statistics,
entropy scoring, posting lists, gap fill and edit-distance blocking.

The oracle sweep (scripts/check_oracle.py) proves the arithmetic against
DuckDB on the real tables; these tests pin the SEMANTICS on small
constructed inputs where the right answer is computable by hand.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_kafka_airflow_pipeline_spark.operators import corpusops


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")


def _run_on(monkeypatch, df, fn, spark):
    """Run a corpusops query with the documents scan replaced by df."""
    def fake_table(_spark, _sf, name):
        assert name == "documents"
        return df
    monkeypatch.setattr(corpusops, "table", fake_table)
    return fn(spark, "unused")


def test_span_dedup_drops_second_copy(spark, monkeypatch):
    """An exact duplicate document keeps zero spans; the original keeps
    everything; totals are conserved."""
    text = " ".join(f"w{i}" for i in range(25))  # 3 spans: 10+10+5
    df = _docs(spark, [text, text, "unique words only here"])
    out = {r["doc_id"]: r for r in
           _run_on(monkeypatch, df, corpusops.span_dedup_removal,
                   spark).collect()}
    assert out[0]["n_spans"] == 3 and out[0]["spans_kept"] == 3
    assert out[0]["tokens_kept"] == 25
    assert out[1]["n_spans"] == 3 and out[1]["spans_kept"] == 0
    assert out[1]["tokens_kept"] == 0 and out[1]["tokens_total"] == 25
    assert out[2]["spans_kept"] == 1 and out[2]["tokens_kept"] == 4


def test_span_dedup_partial_overlap(spark, monkeypatch):
    """Only the identical aligned span is removed, not the whole doc."""
    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    df = _docs(spark, [a + " " + b, a + " tail words"])
    out = {r["doc_id"]: r for r in
           _run_on(monkeypatch, df, corpusops.span_dedup_removal,
                   spark).collect()}
    # doc 1's first span duplicates doc 0's; its second span survives
    assert out[1]["n_spans"] == 2
    assert out[1]["spans_kept"] == 1
    assert out[1]["tokens_kept"] == 2


def test_vocab_coverage_tiny(spark, monkeypatch):
    """9x 'a' + 1x 'b': one type covers exactly 90% of tokens."""
    df = _docs(spark, ["a a a a a a a a a b"])
    row = _run_on(monkeypatch, df, corpusops.vocab_coverage_curve,
                  spark).collect()[0]
    assert row["total_tokens"] == 10
    assert row["vocab_size"] == 2
    assert row["vocab_p90"] == 1


def test_bpe_top_pair(spark, monkeypatch):
    """'aaab' once: pairs aa(x2), ab(x1) — 'aa' wins; frequency weights
    multiply through repeated words."""
    df = _docs(spark, ["aaab aaab xy"])
    rows = sorted(_run_on(monkeypatch, df, corpusops.bpe_merge_candidates,
                          spark).collect(), key=lambda r: r["rank"])
    by_pair = {r["pair"]: r for r in rows}
    assert rows[0]["pair"] == "aa" and rows[0]["pair_count"] == 4
    assert by_pair["ab"]["pair_count"] == 2
    assert by_pair["xy"]["pair_count"] == 1


def test_entropy_degenerate_vs_uniform(spark, monkeypatch):
    """A one-type doc has zero entropy; a uniform two-type doc has
    ln(2) = 693147 micro-nats exactly (the 6dp-rounded ln path)."""
    df = _docs(spark, ["x x x x", "u v u v"])
    out = {r["doc_id"]: r for r in
           _run_on(monkeypatch, df, corpusops.unigram_entropy_scores,
                   spark).collect()}
    assert out[0]["entropy_micronats"] == 0
    assert out[0]["distinct_tokens"] == 1
    assert out[1]["entropy_micronats"] == 693147
    assert out[1]["n_tokens"] == 4


def test_inverted_index_postings_order_and_cap(spark, monkeypatch):
    df = _docs(spark, ["b a b", "a b"])
    rows = sorted(_run_on(monkeypatch, df, corpusops.inverted_index_postings,
                          spark).collect(), key=lambda r: r["rank"])
    by_term = {r["term"]: r for r in rows}
    # positions are 1-based within each doc, ordered (doc_id, pos)
    assert by_term["b"]["postings"] == "0:1,0:3,1:2"
    assert by_term["a"]["postings"] == "0:2,1:1"
    assert by_term["b"]["doc_freq"] == 2 and by_term["b"]["term_freq"] == 3
    # both terms appear in both docs -> doc_freq ties break on term_freq
    assert rows[0]["term"] == "b" and rows[0]["rank"] == 1


def test_inverted_index_cap_truncates(spark, monkeypatch):
    df = _docs(spark, [" ".join(["z"] * 30)])
    rows = _run_on(monkeypatch, df,
                   lambda s, d: corpusops.inverted_index_postings(
                       s, d, postings_cap=5), spark).collect()
    r = rows[0]
    assert r["term_freq"] == 30  # stats from the UNCAPPED aggregate
    assert r["postings"] == "0:1,0:2,0:3,0:4,0:5"


def test_events_gap_fill_forward_fills(spark, monkeypatch):
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 2.0, "{}"),
         (2, "2024-01-03 10:00:00", 1, "click", 5.0, "{}"),
         (3, "2024-01-01 11:00:00", 2, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn(
            "ts", F.to_timestamp("ts"))

    def fake_table(_spark, _sf, name):
        assert name == "events"
        return ev
    monkeypatch.setattr(corpusops, "table", fake_table)
    rows = corpusops.events_gap_fill(spark, "unused").collect()
    got = {(r["event_type"], r["day"]): (r["cents_filled"], r["is_gap"])
           for r in rows}
    assert len(rows) == 6  # 3-day spine x 2 types
    assert got[("click", "2024-01-01")] == (200, 0)
    assert got[("click", "2024-01-02")] == (200, 1)   # gap, filled
    assert got[("click", "2024-01-03")] == (500, 0)
    assert got[("view", "2024-01-01")] == (100, 0)
    assert got[("view", "2024-01-02")] == (100, 1)
    assert got[("view", "2024-01-03")] == (100, 1)


def test_prefix_edit_finds_planted_near_dup(spark, monkeypatch):
    """Two docs sharing a first token with a 1-edit prefix difference are
    a near-dup pair; an unrelated doc in the same block is not."""
    df = _docs(spark, [
        "alpha beta gamma delta epsilon zeta tail1",
        "alpha beta gamma delta epsilon zetX tail2",   # 1 substitution
        "alpha completely different words here now ok",
    ])
    rows = _run_on(monkeypatch, df, corpusops.prefix_edit_near_dups,
                   spark).collect()
    r = rows[0]
    assert r["lang"] == "en"
    assert r["n_blocks"] == 1 and r["blocks_dropped"] == 0
    assert r["pairs_checked"] == 3
    assert r["near_dup_pairs"] == 1


def test_misra_gries_bounds_vs_exact(spark, sf_dir):
    """MG merged estimates are true lower bounds and within the summed
    per-partition error of the exact counts; the true heaviest term is
    surfaced."""
    rows = corpusops.misra_gries_topk(spark, sf_dir, k=64,
                                      topk=10).collect()
    assert rows, "sketch returned nothing"
    from spark_kafka_airflow_pipeline_spark.operators.base import table
    exact = {r["w"]: r["c"] for r in (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"),
            lambda x: x != "")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect())}
    err = rows[0]["err_bound"]
    for r in rows:
        true = exact[r["term"]]
        assert r["est_lower"] <= true <= r["est_lower"] + err, \
            (r["term"], r["est_lower"], true, err)
    top_true = max(exact.items(), key=lambda kv: (kv[1], kv[0]))[0]
    assert top_true in {r["term"] for r in rows}


def test_misra_gries_deterministic(spark, sf_dir):
    a = corpusops.misra_gries_topk(spark, sf_dir).collect()
    b = corpusops.misra_gries_topk(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_pca_matches_numpy(spark, sf_dir):
    """The distributed partial-Gram + power-iteration component matches
    numpy's dense eigendecomposition of the same covariance."""
    import numpy as np
    rows = corpusops.embedding_principal_component(spark, sf_dir).collect()
    rows.sort(key=lambda r: r["dim"])
    v = np.array([r["loading"] for r in rows])
    X = np.array([r["embedding"] for r in
                  spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                  .select("embedding").collect()], dtype=np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    w, _V = np.linalg.eigh(cov)
    # the synthetic cloud's top eigenvalues are near-degenerate, so the
    # *direction* is ill-conditioned; the invariant properties are that
    # v is unit and its Rayleigh quotient reaches the top eigenvalue
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-3
    rq = float(v @ cov @ v)
    assert rq >= 0.999 * float(w[-1])
    assert abs(rows[0]["eigval"] - float(w[-1])) < 1e-3
    assert 0.0 < rows[0]["var_share"] <= 1.0


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
    _doc = st.lists(_word, min_size=0, max_size=40).map(" ".join)
    _corpus = st.lists(_doc, min_size=1, max_size=8)
    _SLOW = settings(max_examples=8, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow,
                                            HealthCheck.function_scoped_fixture])

    @given(docs=_corpus)
    @_SLOW
    def test_span_dedup_invariants_any_corpus(spark, monkeypatch, docs):
        """For ANY corpus: per-doc kept <= total (spans and tokens),
        totals match the tokenizer, and the corpus-wide number of kept
        spans equals the number of DISTINCT span texts (each survives
        exactly once)."""
        df = _docs(spark, docs)
        out = _run_on(monkeypatch, df, corpusops.span_dedup_removal,
                      spark).collect()
        assert len(out) == len(docs)
        total_kept = 0
        spans = set()
        for r in out:
            toks = [t for t in docs[r["doc_id"]].lower().split() if t]
            assert r["tokens_total"] == len(toks)
            assert 0 <= r["tokens_kept"] <= r["tokens_total"]
            assert 0 <= r["spans_kept"] <= r["n_spans"]
            assert r["n_spans"] == -(-len(toks) // corpusops.SPAN_W)
            total_kept += r["spans_kept"]
            for i in range(r["n_spans"]):
                spans.add(" ".join(
                    toks[i * corpusops.SPAN_W:(i + 1) * corpusops.SPAN_W]))
        assert total_kept == len(spans)

    @given(docs=_corpus)
    @_SLOW
    def test_entropy_bounds_any_corpus(spark, monkeypatch, docs):
        """0 <= entropy <= ln(distinct_tokens), within micro rounding."""
        import math
        df = _docs(spark, docs)
        out = _run_on(monkeypatch, df, corpusops.unigram_entropy_scores,
                      spark).collect()
        for r in out:
            assert r["entropy_micronats"] >= 0
            if r["distinct_tokens"] > 0:
                ub = math.log(r["distinct_tokens"]) * 1e6 + r["n_tokens"]
                assert r["entropy_micronats"] <= ub


def test_zipf_fit_planted_power_law(spark, monkeypatch):
    """A corpus built with freq(rank) = floor(120/rank) must fit close
    to slope -1; a uniform corpus must fit close to slope 0."""
    zipf_words = []
    for r in range(1, 21):
        zipf_words += [f"w{r:02d}"] * (120 // r)
    uniform_words = [f"u{r:02d}" for r in range(1, 21)] * 6
    df = spark.createDataFrame(
        [(0, " ".join(zipf_words), "en", "zipfy", 1),
         (1, " ".join(uniform_words), "en", "flat", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")

    def fake_table(_spark, _sf, name):
        assert name == "documents"
        return df
    monkeypatch.setattr(corpusops, "table", fake_table)
    out = {r["source"]: r for r in
           corpusops.zipf_fit_by_source(spark, "unused").collect()}
    assert -1.15 < out["zipfy"]["zipf_slope"] < -0.85
    assert abs(out["flat"]["zipf_slope"]) < 0.05
    assert out["zipfy"]["vocab_n"] == 20


def test_bpe_merge_apply_two_steps(spark, monkeypatch):
    """'abab' x3: step 1 merges the top pair; step 2's top pair is
    computed over the MERGED sequences (the iteration is real)."""
    df = _docs(spark, ["abab abab abab"])
    rows = sorted(_run_on(monkeypatch, df, corpusops.bpe_merge_apply,
                          spark).collect(), key=lambda r: r["step"])
    # pairs of 'a b a b': ab(x2), ba(x1) per word -> 'a b' wins (x6)
    assert rows[0]["pair"] == "a b" and rows[0]["pair_count"] == 6
    # after merge: 'ab ab' -> top pair is 'ab ab' (x3)
    assert rows[1]["pair"] == "ab ab" and rows[1]["pair_count"] == 3
    # post-merge-1 symbols: only 'ab' remains
    assert rows[0]["post_merge1_vocab"] == 1


def test_cdc_chunking_stable_under_prefix_insert(spark, monkeypatch):
    """The content-defined property: prepending tokens to a document
    leaves the boundary STRUCTURE of the shared suffix intact — chunk
    count grows by at most the cuts in/adjacent to the new prefix,
    while a fixed-stride chunker would reflow everything. We assert
    the shared-suffix cut count is identical by construction: cuts
    depend only on local 3-grams, which are unchanged in the suffix."""
    base = [f"w{i}" for i in range(40)]
    shifted = ["new0", "new1", "new2"] + base
    df = _docs(spark, [" ".join(base), " ".join(shifted)])
    out = {r["doc_id"]: r for r in
           _run_on(monkeypatch, df, corpusops.cdc_chunking,
                   spark).collect()}
    # grams of doc 1 = 3 prefix-spanning grams + grams of doc 0 + 2
    # bridge grams; suffix grams identical -> cut-count difference is
    # bounded by those 5 new grams
    assert abs(out[1]["n_chunks"] - out[0]["n_chunks"]) <= 5
    assert out[0]["n_tokens"] == 40 and out[1]["n_tokens"] == 43
    assert out[0]["mean_chunk_centitokens"] == \
        out[0]["n_tokens"] * 100 // out[0]["n_chunks"]


def test_minhash_estimate_error_bounds(spark, sf_dir):
    """Every verified pair's estimate is k/8; the |error| column is
    consistent; identical docs estimate 8/8."""
    from spark_kafka_airflow_pipeline_spark.operators import dedup
    rows = dedup.minhash_estimate_error(spark, sf_dir).collect()
    assert rows, "no verified pairs at this SF"
    for r in rows:
        assert 0 <= r["n_sig_matches"] <= 8
        assert r["est_ppm"] == r["n_sig_matches"] * 125000
        assert r["abs_err_ppm"] == abs(r["est_ppm"] - r["jac_ppm"])
        if r["jac_ppm"] == 1000000:   # exact duplicates
            assert r["n_sig_matches"] == 8


def test_events_anomaly_mad_planted(spark, monkeypatch):
    """9 values at 10.00 and one at 1000.00: the spike is the only
    outlier and does not move median or MAD (the robustness the op
    exists for)."""
    from spark_kafka_airflow_pipeline_spark.operators import events as ev_ops
    vals = [10.0] * 9 + [1000.0]
    ev = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i:02d}:00", 1, "click", v, "{}")
         for i, v in enumerate(vals)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string").withColumn(
            "ts", F.to_timestamp("ts"))
    monkeypatch.setattr(ev_ops, "table",
                        lambda _s, _d, name: ev)
    row = ev_ops.events_anomaly_mad(spark, "unused").collect()[0]
    assert row["med2_cents"] == 2000      # median 10.00 -> c2
    assert row["mad4_cents"] == 0         # 9 of 10 deviations are zero
    assert row["n_outliers"] == 1


def test_source_overlap_matrix_planted(spark, monkeypatch):
    """Two sources sharing one 8-gram-long span register exactly its
    gram count; an unrelated source shares nothing."""
    span = " ".join(f"s{i}" for i in range(9))  # 9 tokens -> two 8-grams
    df = spark.createDataFrame(
        [(0, span + " alpha beta gamma delta eps zeta eta theta", "en",
          "srcA", 1),
         (1, span + " one two three four five six seven eight", "en",
          "srcB", 1),
         (2, "totally different words in every position here now", "en",
          "srcC", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = _run_on(monkeypatch, df, corpusops.source_overlap_matrix,
                  spark).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    assert r["n_shared_grams"] == 2


def test_ann_recall_report_bounds(spark, sf_dir):
    """Recall is exact-k-normalized, in [0,100], and the report's hit
    counts reproduce the set intersection of the two top-k frames it
    composes (recall MAGNITUDE is pinned by the ANN recall tests at
    sf0.01+; at sf0.001's 500 vectors a 6-bit bucket holds few of a
    query's exact neighbors)."""
    from spark_kafka_airflow_pipeline_spark.operators import similarity
    rows = similarity.ann_recall_report(spark, sf_dir).collect()
    assert len(rows) == similarity.N_QUERIES
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.cosine_topk(spark, sf_dir).collect()}
    ann = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.ann_srp_topk(spark, sf_dir).collect()}
    inter = exact & ann
    for r in rows:
        assert r["exact_k"] == similarity.TOP_K
        assert r["ann_hits"] == sum(
            1 for q, _n in inter if q == r["query_id"])
        assert r["recall_pct"] == r["ann_hits"] * 100 // r["exact_k"]


def test_ann_srp_topk_every_query_has_a_neighbor(spark, sf_dir):
    """The SRP buckets are coarse enough that every query shares one
    with at least one other vector (with 16 sign bits no query did, so
    the query and its oracle both returned nothing)."""
    from spark_kafka_airflow_pipeline_spark.operators import similarity
    rows = similarity.ann_srp_topk(spark, sf_dir).collect()
    assert ({r["query_id"] for r in rows}
            == set(range(similarity.N_QUERIES)))


def test_join_key_skew_histogram_shares(spark, sf_dir):
    """Per key column, ppm shares sum to ~1e6 and group counts times
    sizes reproduce the clamped row mass."""
    from spark_kafka_airflow_pipeline_spark.operators import scaleops
    rows = scaleops.join_key_skew_histogram(spark, sf_dir).collect()
    by_col: dict = {}
    for r in rows:
        by_col.setdefault(r["key_col"], []).append(r)
    assert set(by_col) == {"lineitem.l_orderkey", "events.user_id"}
    for col, rs in by_col.items():
        total_ppm = sum(r["row_share_ppm"] for r in rs)
        assert 1000000 - len(rs) <= total_ppm <= 1000000, (col, total_ppm)
        assert all(1 <= r["group_size"] <= 8 for r in rs)


def test_prefix_edit_block_cap_drops(spark, monkeypatch):
    """A block over the cap contributes no pairs but is counted."""
    df = _docs(spark, ["same prefix words here"] * 70)
    rows = _run_on(monkeypatch, df,
                   lambda s, d: corpusops.prefix_edit_near_dups(
                       s, d, block_cap=64), spark).collect()
    r = rows[0]
    assert r["blocks_dropped"] == 1
    assert r["pairs_checked"] == 0
    assert r["near_dup_pairs"] == 0

"""Semantic tests for dedup + similarity operators (the rows-only ones
whose correctness the DuckDB oracle can't see)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    """Tiny documents table with planted near-duplicates."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets over the quiet hills and the river runs cold")
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, base, "en", "src1", len(base)),                      # exact dup of 0
        (2, base.replace("cold", "warm"), "en", "src2", len(base)),  # near dup
        (3, "completely unrelated short text", "en", "src3", 31),
        (4, "another separate document with its own words entirely "
            "unlike anything else present here", "en", "src4", 90),
        # 1-character edit whose simhash lands exactly 1 bit from doc 0
        # (probed deterministically: xxhash64 is seed-free)
        (5, base.replace("cold", "colder"), "en", "src5", len(base) + 2),
    ]
    d = tmp_path_factory.mktemp("docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_minhash_lsh_finds_planted_dups(spark, doc_dir):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.minhash_lsh_pairs(spark, doc_dir).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0   # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5    # near dup
    assert all(3 not in p and 4 not in p for p in pairs)


def test_simhash_buckets_group_exact_dups(spark, doc_dir):
    groups = dedup.simhash_buckets(spark, doc_dir).collect()
    assert any(g["doc_ids"] == "0,1" or g["doc_ids"].startswith("0,1")
               for g in groups)


def test_ngram_jaccard_dups(spark, doc_dir):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.ngram_jaccard_dups(spark, doc_dir, threshold=0.8).collect()}
    assert (0, 1) in pairs


def test_simhash_near_dups_finds_bit_flips(spark, doc_dir):
    """Banded Hamming-k: a 1-bit-flip near-dup (doc 5) and a 3-bit one
    (doc 2) are both found — ``simhash_buckets`` (Hamming-0) sees
    neither. Pigeonhole over 4 x 16-bit bands guarantees recall <= 3."""
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_near_dups(spark, doc_dir).collect()}
    assert pairs[(0, 1)] == 0        # exact dup: identical signature
    assert pairs[(0, 5)] == 1        # planted 1-bit flip
    assert pairs[(0, 2)] == 3        # planted 3-bit near dup
    assert all(3 not in p and 4 not in p for p in pairs)


def test_ngram_blocking_skew(spark, tmp_path):
    """1000 docs sharing a 16-char prefix but otherwise distinct: the
    old prefix-16 blocking key put all of them in ONE block (~500k
    within-block pairs — quadratic skew); char-MinHash band blocking
    must keep the candidate set near-empty and every band bucket
    small."""
    import random

    rows = []
    for i in range(1000):
        rng = random.Random(i)
        words = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(7))
            for _ in range(12))
        rows.append((i, f"the common start {words}"))
    d = tmp_path / "skew"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(d / "documents.parquet"))

    from spark_kafka_airflow_pipeline_spark.functions import text as T
    from spark_kafka_airflow_pipeline_spark.operators.base import table

    docs = table(spark, str(d), "documents")
    # the operator's own band geometry (32 hashes, 4 bands x 8 rows)
    sigs = dedup.minhash_signature_agg(
        docs, num_hashes=32, tokens=lambda c: T.char_ngrams(c, 3))
    # a pair repeats once per band it shares: count distinct pairs
    cand = dedup.lsh_band_candidates(sigs, num_hashes=32, bands=4).dropDuplicates(
        ["doc_a", "doc_b"])
    n_cand = cand.count()
    # all-pairs within the shared-prefix block would be 499_500
    assert n_cand < 5_000, f"skewed candidate blowup: {n_cand} pairs"
    # and the full operator terminates quickly with no real dups found
    dups = dedup.ngram_jaccard_dups(spark, str(d), threshold=0.9).collect()
    assert dups == []


def test_verify_shuffle_path_same_results(spark, doc_dir):
    """The verify join's broadcast decision belongs to AQE (runtime
    sizes). Force the pure-shuffle path by disabling the broadcast
    threshold — the big-candidate-set behavior at 100 TB — and assert
    the verified pairs are identical for both operators."""
    bc_min = {(r["doc_a"], r["doc_b"], r["jaccard"])
              for r in dedup.minhash_lsh_pairs(spark, doc_dir).collect()}
    bc_ngr = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
              dedup.ngram_jaccard_dups(spark, doc_dir, threshold=0.8).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sj_min = {(r["doc_a"], r["doc_b"], r["jaccard"])
                  for r in dedup.minhash_lsh_pairs(spark, doc_dir).collect()}
        sj_ngr = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                  dedup.ngram_jaccard_dups(spark, doc_dir,
                                           threshold=0.8).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert bc_min == sj_min and bc_min
    assert bc_ngr == sj_ngr and bc_ngr


def test_verify_no_cache_leak(spark, doc_dir):
    """Session-reuse hygiene: repeated minhash/ngram runs must not
    accumulate CacheManager entries (the r2 ADVICE leak —
    verify_pairs_jaccard used to persist the candidate frame with no
    unpersist path)."""
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for _ in range(2):
        dedup.minhash_lsh_pairs(spark, doc_dir).collect()
        dedup.ngram_jaccard_dups(spark, doc_dir, threshold=0.8).collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before, f"cache entries leaked: {before} -> {after}"


def test_mega_cluster_cap(spark, tmp_path):
    """Adversarial mega-bucket: 10k IDENTICAL documents (the 100 TB
    boilerplate-page scenario). Uncapped, every LSH bucket would emit
    C(10k,2) ~ 50M clique pairs; the cap bounds candidates to
    C(256,2) + (10k - 256) star pairs, and the star pairs keep every
    member connected to the cluster survivor (doc 0)."""
    rows = [(i, "exactly the same boilerplate footer text on every page "
                "of this crawled site") for i in range(10_000)]
    d = tmp_path / "mega"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(d / "documents.parquet"))

    sigs = dedup.minhash_signature_agg(
        spark.read.parquet(str(d / "documents.parquet")))
    # a pair repeats once per band it shares: count distinct pairs
    cand = dedup.lsh_band_candidates(sigs, num_hashes=16, bands=4).dropDuplicates(
        ["doc_a", "doc_b"])
    n_cand = cand.count()
    cap_bound = (dedup.MAX_BUCKET_CLIQUE * (dedup.MAX_BUCKET_CLIQUE - 1)) // 2 \
        + (10_000 - dedup.MAX_BUCKET_CLIQUE)
    assert n_cand <= cap_bound, f"cap breached: {n_cand} > {cap_bound}"

    pairs = dedup.minhash_lsh_pairs(spark, str(d)).collect()
    assert all(r["jaccard"] == 1.0 for r in pairs)
    # union-find: all 10k members must form ONE component (star pairs
    # attach every capped-out member to doc 0)
    parent = list(range(10_000))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r["doc_a"])] = find(r["doc_b"])
    roots = {find(i) for i in range(10_000)}
    assert len(roots) == 1, f"cluster split into {len(roots)} components"


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """The LSH path is approximate; assert it (a) returns only true
    cosine values and (b) achieves nonzero recall of the exact top-k."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(spark, sf_dir).collect()}
    approx_rows = similarity.ann_lsh_topk(spark, sf_dir).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert approx, "LSH returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall > 0.05, f"suspiciously low LSH recall: {recall}"


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    """IVF cell probing is approximate; returned sims must be true
    cosines and recall of the exact top-k must be substantial (cells
    are label partitions — same-label vectors cluster, so probing the
    nearest cells finds most true neighbors)."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(spark, sf_dir).collect()}
    approx_rows = similarity.ivf_ann_topk(spark, sf_dir).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert approx, "IVF returned nothing"
    per_query = {}
    for q, n in approx:
        per_query.setdefault(q, set()).add(n)
    assert all(len(v) <= 5 for v in per_query.values())
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3, f"suspiciously low IVF recall: {recall}"


def test_label_centroid_similarity_bounds(spark, sf_dir):
    rows = similarity.label_centroid_similarity(spark, sf_dir).collect()
    assert rows
    assert all(-1.0001 <= r["centroid_sim"] <= 1.0001 for r in rows)


def test_dedup_clusters_chain(spark, tmp_path):
    """Transitivity: A~B and B~C near-dups (A~C weaker) must land in ONE
    cluster labeled min(doc_id); unrelated docs form no cluster."""
    import random

    rng = random.Random(7)
    words = ["w%02d" % i for i in range(60)]
    a = list(words)
    b = list(words); b[10:13] = ["x1", "x2", "x3"]
    c = list(b);     c[40:43] = ["y1", "y2", "y3"]
    unrelated = " ".join("z%02d" % rng.randrange(99) for _ in range(60))
    rows = [(0, " ".join(a)), (1, " ".join(b)), (2, " ".join(c)),
            (3, unrelated)]
    d = tmp_path / "chain"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(d / "documents.parquet"))

    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        dedup_clusters, minhash_lsh_pairs)

    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(spark, str(d)).collect()}
    assert (0, 1) in pairs and (1, 2) in pairs, pairs

    clusters = {r["cluster_id"]: r["n_docs"] for r in
                dedup_clusters(spark, str(d)).collect()}
    assert clusters == {0: 3}, clusters


def test_min_label_fixpoint_iters_pinned_on_path_graph(spark):
    """Convergence telemetry (r16 verdict ask #2): the shared fixpoint
    helper must record EXACTLY the propagation rounds a fixed graph
    needs, so a soak-row iteration count is a trustworthy regression
    signal. A 5-node path 1-2-3-4-5 is the worst case at that size:
    min-label travels 1 hop/round, so rounds 1-4 each change at least
    one label and round 5 confirms the fixpoint — 5 rounds exactly."""
    from spark_kafka_airflow_pipeline_spark.operators.base import (
        FIXPOINT_CONVERGED, FIXPOINT_ITERS, min_label_fixpoint)

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    sym = pairs.selectExpr("doc_a AS src", "doc_b AS dst").union(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
    labels = {r["doc_id"]: r["label"] for r in
              min_label_fixpoint(sym, "doc_id", "_test_path5").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    assert FIXPOINT_ITERS["_test_path5"] == 5
    assert FIXPOINT_CONVERGED["_test_path5"] is True
    # the side component (10-11) resolves in round 1; the path drives
    # the count — re-run with only the short edge to pin the floor
    short = spark.createDataFrame([(10, 11)], "doc_a long, doc_b long")
    ssym = short.selectExpr("doc_a AS src", "doc_b AS dst").union(
        short.selectExpr("doc_b AS src", "doc_a AS dst"))
    min_label_fixpoint(ssym, "doc_id", "_test_edge1")
    assert FIXPOINT_ITERS["_test_edge1"] == 2
    assert FIXPOINT_CONVERGED["_test_edge1"] is True
    # truncation must be visible, not masquerade as convergence: the
    # 5-node path needs 4 change rounds, so max_rounds=2 stops with
    # labels still moving and the registry must say so
    min_label_fixpoint(sym, "doc_id", "_test_trunc", max_rounds=2)
    assert FIXPOINT_ITERS["_test_trunc"] == 2
    assert FIXPOINT_CONVERGED["_test_trunc"] is False


def test_cluster_ops_record_fixpoint_iters(spark, sf_dir):
    """Each member of the iterative cluster family must leave its
    per-run round count in base.FIXPOINT_ITERS (what scale_soak.py
    reads for the iters column). The conftest fixture corpus (sf0.001
    by default) has deterministic edge sets, so the counts are pinned
    values, not just presence checks: both fixpoint twins converge in
    1 propagation round + 1 confirming round (near-dup components
    there are single edges / dense stars) and must report converged,
    and dedup_clusters reports its fixed-round design constant (no
    convergence entry — it has no check by design)."""
    from spark_kafka_airflow_pipeline_spark.operators import similarity
    from spark_kafka_airflow_pipeline_spark.operators.base import (
        FIXPOINT_CONVERGED, FIXPOINT_ITERS)

    dedup.dedup_clusters(spark, sf_dir).count()
    assert FIXPOINT_ITERS["dedup_clusters"] == 2
    assert "dedup_clusters" not in FIXPOINT_CONVERGED
    dedup.dedup_clusters_md5(spark, sf_dir).count()
    assert FIXPOINT_ITERS["dedup_clusters_md5"] == 2
    assert FIXPOINT_CONVERGED["dedup_clusters_md5"] is True
    similarity.embedding_dup_clusters(spark, sf_dir).count()
    assert FIXPOINT_ITERS["embedding_dup_clusters"] == 2
    assert FIXPOINT_CONVERGED["embedding_dup_clusters"] is True


def test_empty_corpus_schema_stability(spark, tmp_path):
    """Every dedup operator must return an EMPTY frame with its normal
    schema on a 0-row documents table — not crash, not change columns
    (schema stability is what the driver smoke-checks)."""
    d = tmp_path / "empty"
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars long") \
        .write.mode("overwrite").parquet(str(d / "documents.parquet"))
    for name, fn in dedup.QUERIES.items():
        df = fn(spark, str(d))
        assert df.columns, name
        if name == "lsh_parameter_planner":
            # data-independent analytic table: 45 rows regardless of
            # corpus (that is its point — plan BEFORE the scan)
            assert len(df.collect()) == 45, name
            continue
        assert df.collect() == [], name


def test_salted_agg_matches_plain_for_any_salt_count(spark, sf_dir):
    """Salting must be answer-invisible for every fan-out, including
    the degenerate salt=1 (== plain two-stage agg)."""
    from spark_kafka_airflow_pipeline_spark.operators import scaleops

    def rows(n_salts):
        return sorted(
            (r["l_returnflag"], r["n_items"], round(r["sum_qty"], 6),
             round(r["revenue"], 6))
            for r in scaleops.salted_group_agg(spark, sf_dir,
                                               n_salts=n_salts).collect())

    base = rows(16)
    assert base
    for n in (1, 7, 64):
        assert rows(n) == base, n


def test_pq_ann_quality_and_determinism(spark, sf_dir):
    """PQ is approximate; on near-equidistant synthetic vectors raw
    top-k recall is weak by nature, so pin the properties that matter:
    (a) the TRUE distance of PQ's top-1 pick is within 1.6x of the true
    nearest neighbor for every query (measured worst 1.38-1.42 across
    SFs), (b) nonzero exact-top-k recall, (c) bit-identical results on
    a rerun (deterministic codebooks + decimal ADC sums)."""
    from pyspark.sql import functions as F

    emb = {r["vec_id"]: r["emb"]
           for r in similarity._embeddings(spark, sf_dir).collect()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    rows = similarity.pq_ann_topk(spark, sf_dir).collect()
    assert rows
    for qid in range(similarity.N_QUERIES):
        true_nn = min(d2(emb[qid], v) for i, v in emb.items() if i != qid)
        top1 = next(r for r in rows
                    if r["query_id"] == qid and r["rank"] == 1)
        ratio = d2(emb[qid], emb[top1["neighbor_id"]]) / true_nn
        assert ratio < 1.6, (qid, ratio)

    exact_pairs = set()
    for qid in range(similarity.N_QUERIES):
        ranked = sorted((d2(emb[qid], v), i) for i, v in emb.items()
                        if i != qid)[:similarity.TOP_K]
        exact_pairs |= {(qid, i) for _, i in ranked}
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact_pairs & got) / len(exact_pairs)
    assert recall > 0.1, recall

    rerun = similarity.pq_ann_topk(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rerun))


def test_blocking_quality_invariants(spark, sf_dir):
    """PC must be 1e6 on a corpus where all true dups are exact copies
    (identical texts share every shingle, hence every band); RR must be
    high; and a planted exact-dup corpus proves both directions."""
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        blocking_quality_report,
    )

    got = blocking_quality_report(spark, sf_dir).collect()[0]
    assert got.candidate_pairs >= got.truth_found
    assert 0 <= got.reduction_ratio_ppm <= 10**6
    if got.truth_pairs and got.truth_pairs > 0:
        # exact copies collide in EVERY band -> all truth pairs found
        assert got.pair_completeness_ppm == 10**6
    else:
        assert got.pair_completeness_ppm is None
    # planted corpus: 2 exact dups + 2 unrelated docs
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "en", "s", 30),
         (2, "alpha beta gamma delta epsilon", "en", "s", 30),
         (3, "one two three four five six", "en", "s", 27),
         (4, "zeta eta theta iota kappa", "en", "s", 25)],
        "doc_id long, text string, lang string, source string, n_chars long")
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        r = blocking_quality_report(spark, td).collect()[0]
    assert r.n_docs == 4
    assert r.truth_pairs == 1
    assert r.truth_found == 1
    assert r.pair_completeness_ppm == 10**6


def test_fellegi_sunter_weight_signs(spark, sf_dir):
    """The u side (chance agreement under the deterministic md5
    pairing) is replayed exactly in Python; weights are replayed from
    (m_ppm, u_ppm) with the same 6dp-ln ladder; sign law: agreement
    weight positive iff m > u."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        fellegi_sunter_weights,
    )

    out = {r.field: r
           for r in fellegi_sunter_weights(spark, sf_dir).collect()}
    assert set(out) == {"lang", "source", "len_bucket"}

    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()

    def fp(text):
        import re
        return hashlib.md5(
            re.sub(r"\s+", " ", text.lower().strip()).encode()).hexdigest()

    rows = [(hashlib.md5(f"{d['doc_id']}:fsu".encode()).hexdigest(),
             d["doc_id"], d["lang"], d["source"], d["n_chars"] // 100,
             fp(d["text"])) for d in docs]
    rows.sort(key=lambda r: (r[0], r[1]))
    pairs = [(rows[i], rows[i + 1]) for i in range(0, len(rows) - 1, 2)
             if rows[i][5] != rows[i + 1][5]]
    for idx, field in ((2, "lang"), (3, "source"), (4, "len_bucket")):
        r = out[field]
        agree = sum(1 for a, b in pairs if a[idx] == b[idx])
        assert r.n_unmatch_pairs == len(pairs)
        assert r.u_ppm == max(1, min(999999,
                                     agree * 10**6 // len(pairs)))
        assert r.n_match_pairs > 0
        assert 1 <= r.m_ppm <= 999999
        want_w = math.floor(round(math.log(r.m_ppm / r.u_ppm), 6)
                            * 1e6 + 0.5)
        assert r.agree_weight_micro == want_w
        want_d = math.floor(round(math.log((10**6 - r.m_ppm)
                                           / (10**6 - r.u_ppm)), 6)
                            * 1e6 + 0.5)
        assert r.disagree_weight_micro == want_d
        assert (r.agree_weight_micro > 0) == (r.m_ppm > r.u_ppm)


def test_ng_est_min_derives_from_threshold():
    """The signature-agreement pre-filter floor is derived from the
    threshold argument (r9 ADVICE: a hardcoded 23 silently dropped
    true pairs for any threshold below ~0.71): monotone in t, equals
    the oracle's baked-in 23 at the 0.9 default, never demands more
    agreement than the threshold expectation itself, and decays to a
    no-op for permissive thresholds."""
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        _NG_BANDS, _NG_ROWS, _ng_est_min)

    k = _NG_BANDS * _NG_ROWS
    assert k == 32
    assert _ng_est_min(0.9) == 23
    assert _ng_est_min(0.2) == 0  # prune disabled, not a recall leak
    prev = -1
    for t in [i / 100 for i in range(1, 100)]:
        floor = _ng_est_min(t)
        assert floor >= prev  # monotone non-decreasing
        assert floor <= k * t + 1e-9  # never above the expectation
        prev = floor


def test_ngram_jaccard_low_threshold_superset(spark, sf_dir):
    """Lowering the threshold can only ADD pairs: with the floor now
    derived per call, threshold=0.5 must return a superset of the
    0.9-default pairs (the old hardcoded floor violated this)."""
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        ngram_jaccard_md5_pairs)

    hi = {(r.doc_a, r.doc_b)
          for r in ngram_jaccard_md5_pairs(spark, sf_dir, 0.9).collect()}
    lo = {(r.doc_a, r.doc_b)
          for r in ngram_jaccard_md5_pairs(spark, sf_dir, 0.5).collect()}
    assert hi <= lo
    assert len(lo) >= len(hi)


def test_md5_verify_enforces_distinct_grams(spark, doc_dir):
    """The shared exact verify scores feature MULTISETS like their
    distinct sets (r10 ADVICE: a caller passing raw shingles used to
    get silently different jaccard values): raw multiset shingles and
    pre-distincted shingles must yield identical pairs AND identical
    jaccard values. Each text is doubled so the raw arrays really
    repeat grams; every doc pair is a candidate."""
    from spark_kafka_airflow_pipeline_spark.functions import text as T

    raw = (spark.read.parquet(f"{doc_dir}/documents.parquet")
           .select("doc_id", T.raw_shingles(
               F.concat_ws(" ", "text", "text"), 3).alias("sh")))
    assert raw.filter(F.size("sh") > F.size(F.array_distinct("sh"))).count()
    pre = raw.select("doc_id", F.array_distinct("sh").alias("sh"))
    ids = raw.select("doc_id")
    cand = (ids.withColumnRenamed("doc_id", "doc_a")
            .crossJoin(ids.withColumnRenamed("doc_id", "doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b")))
    got_raw = sorted(tuple(r) for r in dedup.verify_pairs_jaccard(
        cand, raw, None, 0.0).collect())
    got_pre = sorted(tuple(r) for r in dedup.verify_pairs_jaccard(
        cand, pre, None, 0.0).collect())
    assert got_raw == got_pre and len(got_raw) == 15
    assert (0, 1, 1.0) in got_raw


def test_simhash_gram_build_parity(spark):
    """The r17 explode+distinct char-gram build in simhash64_agg must
    yield exactly the (doc, gram) rows of T.char_ngrams'
    array_distinct form — content and multiplicity (both distinct)."""
    from pyspark.sql import functions as F

    from spark_kafka_airflow_pipeline_spark.functions import text as T

    rows = [(1, "Hello World"), (2, "ab"), (3, "aaaaaa"), (4, "xyz"),
            (5, "  Mixed   CASE  text with   runs  ")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    old = d.select("doc_id",
                   F.explode(T.char_ngrams(F.col("text"), 3)).alias("g"))
    new = (d.select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
           .select("doc_id", F.explode(F.expr(
               "CASE WHEN length(t) <= 3 THEN array(t) "
               "ELSE transform(sequence(1, length(t) - 2), "
               "i -> substring(t, i, 3)) END")).alias("g"))
           .distinct())
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0

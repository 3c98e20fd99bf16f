"""Property-based tests (hypothesis): semantic invariants that a fixed
fixture can't pin — the validate split must PARTITION any input exactly
(SURVEY.md §2.3.3), fingerprints must be canonicalization-invariant,
and Jaccard must be a bounded symmetric similarity.

Each hypothesis example generates a whole row batch and runs ONE Spark
job over it (not one job per row), keeping runtime sane.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.metadata import Validation
from spark_kafka_airflow_pipeline_spark.transforms.validate_fields import (
    ERROR_COLUMN,
    validate_fields,
)

# ASCII letters/digits/whitespace: case-fold round-trips (unlike e.g.
# 'ß' -> 'SS'), so upper/lower variants are true canonicalization pairs
_txt = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 \t",
    max_size=30)
_row = st.tuples(st.one_of(st.none(), _txt),
                 st.one_of(st.none(), st.integers(-5, 120)))
_raw_rows = st.lists(_row, min_size=0, max_size=40)
# unique row ids via enumerate — the test tracks rows by id
_rows = _raw_rows.map(lambda rs: [(i, o, a) for i, (o, a) in enumerate(rs)])

_SLOW = settings(max_examples=12, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])

RULES = [Validation("office", ["notEmpty"]), Validation("age", ["notNull"])]


@given(rows=_rows)
@_SLOW
def test_validate_split_partitions_any_input(spark, rows):
    """ok + ko == input exactly, for ANY combination of NULL / empty /
    valid fields — including the reference's dropped-from-both-splits
    NULL trap (SURVEY.md §2.3.3)."""
    df = spark.createDataFrame(rows, "id long, office string, age long")
    ok, ko = validate_fields(df, RULES)
    ok_ids = [r["id"] for r in ok.select("id").collect()]
    ko_rows = {r["id"]: list(r[ERROR_COLUMN]) for r in ko.collect()}
    # exact partition: every input id in exactly one split
    all_ids = [r[0] for r in rows]
    assert sorted(ok_ids + list(ko_rows)) == sorted(all_ids)
    assert not (set(ok_ids) & set(ko_rows))
    # per-row error codes match the rule semantics
    for rid, office, age in rows:
        should_fail = []
        if office is None or office == "":
            should_fail.append("office-notEmpty")
        if age is None:
            should_fail.append("age-notNull")
        if should_fail:
            assert ko_rows[rid] == should_fail, (rid, office, age)
        else:
            assert rid in ok_ids


@given(texts=st.lists(_txt.filter(lambda s: s.strip() != ""),
                      min_size=1, max_size=20))
@_SLOW
def test_fingerprint_canonicalization_invariant(spark, texts):
    """fingerprint(text) must equal fingerprint of the same text with
    case flipped and whitespace runs expanded — the exact invariant
    dedup_fingerprint relies on."""
    rows = [(t, "  " + t.upper().replace(" ", "   ") + " ") for t in texts]
    df = spark.createDataFrame(rows, "a string, b string")
    bad = df.filter(T.fingerprint("a") != T.fingerprint("b")).count()
    assert bad == 0


@given(pairs=st.lists(st.tuples(_txt, _txt), min_size=1, max_size=20))
@_SLOW
def test_jaccard_bounded_symmetric_reflexive(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string").select(
        T.char_ngrams("a", 3).alias("ga"), T.char_ngrams("b", 3).alias("gb"))
    checked = df.select(
        T.jaccard("ga", "gb").alias("j_ab"),
        T.jaccard("gb", "ga").alias("j_ba"),
        T.jaccard("ga", "ga").alias("j_aa"),
        F.size("ga").alias("n_a"),
    ).collect()
    for r in checked:
        assert 0.0 <= r["j_ab"] <= 1.0
        assert r["j_ab"] == r["j_ba"]
        # reflexivity whenever the gram set is non-empty
        if r["n_a"] > 0:
            assert r["j_aa"] == 1.0


@given(pts=st.lists(st.tuples(st.integers(0, 1 << 40),
                              st.integers(0, 1 << 40)),
                    min_size=1, max_size=30))
@_SLOW
def test_zorder_parity_and_monotonicity(spark, pts):
    """The shared Morton expression must (1) agree bit-for-bit with a
    pure-Python interleave and (2) be monotone in each coordinate when
    the other is fixed — the property that makes z-ranges prune both
    dimensions."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        _zorder_expr,
    )

    def py_z(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    expr = _zorder_expr("(CAST(x AS BIGINT) & 65535)",
                        "(CAST(y AS BIGINT) & 65535)")
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["z"] for r in
           df.selectExpr("x", "y", f"({expr}) AS z").collect()}
    for (x, y), z in got.items():
        assert z == py_z(x & 65535, y & 65535), (x, y)
    # monotone in x for fixed y (and vice versa) on the masked domain
    xs = sorted({x & 65535 for x, _ in pts})
    for a, b in zip(xs, xs[1:]):
        assert py_z(a, 0) < py_z(b, 0)
        assert py_z(0, a) < py_z(0, b)


@given(ids=st.lists(st.integers(0, 1 << 60), min_size=1, max_size=50,
                    unique=True),
       thr=st.sampled_from(["1999", "4000", "8000", "c000", "ffff"]))
@_SLOW
def test_mixture_threshold_is_pure_row_function(spark, ids, thr):
    """The md5-prefix Bernoulli must agree with a driver-side
    recomputation (pure function of the row — the property that makes
    the sample reproducible across engines and partitionings)."""
    import hashlib

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    kept = {r["doc_id"] for r in df.filter(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":mix"))), 1, 4) < thr).collect()}
    expected = {i for i in ids
                if hashlib.md5(f"{i}:mix".encode()).hexdigest()[:4] < thr}
    assert kept == expected


@given(vals=st.lists(st.integers(-1000, 1000), min_size=0, max_size=60),
       parts=st.sampled_from([1, 3, 7, 32]))
@_SLOW
def test_global_two_phase_matches_sequential(spark, vals, parts):
    """The distributed two-phase rank/prefix-sum must equal the
    sequential definition for ANY value multiset (heavy ties,
    negatives, empty) and ANY partition count — the invariant behind
    every query built on scaleops.global_row_number/global_running_sum."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
        global_running_sum,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    ranked = {r["k"]: (r["rn"], r["run"]) for r in global_running_sum(
        global_row_number(df, F.col("v"), F.col("k"), out="rn",
                          num_partitions=parts),
        "v", F.col("v"), F.col("k"), out="run",
        num_partitions=parts).collect()}
    seq = sorted(rows, key=lambda t: (t[1], t[0]))
    acc = 0
    for rank, (k, v) in enumerate(seq, 1):
        acc += v
        assert ranked[k] == (rank, acc), (k, v)
    assert len(ranked) == len(vals)

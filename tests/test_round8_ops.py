"""Round-8 tests: ADVICE-item fixes (upsert state-loss guard,
weighted-quantile cast portability, link-prediction deg-1 guard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_upsert_sink_corrupt_state_raises(spark, tmp_path):
    """A state table that EXISTS but cannot be read (corrupt/partial
    parquet after a crash) must fail the merge loudly — never be
    silently replaced by the incoming batch (the CDC data-loss mode the
    existence-gated read prevents)."""
    from spark_kafka_airflow_pipeline_spark.io.sinks import write_sink
    from spark_kafka_airflow_pipeline_spark.metadata import Sink

    sink = Sink(input="x", name="st", paths=[str(tmp_path)],
                format="upsert", saveMode="append",
                options={"keys": "k", "orderBy": "v"})
    b1 = spark.createDataFrame([(1, 10)], "k long, v long")
    write_sink(b1, sink)
    # corrupt the state table: junk bytes where parquet footers live
    state = tmp_path / "st"
    for f in state.glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        write_sink(spark.createDataFrame([(2, 5)], "k long, v long"), sink)
    # and the corrupt-but-present state was NOT overwritten by b2 alone
    assert any(f.read_bytes() == b"not a parquet file"
               for f in state.glob("*.parquet"))


def test_state_table_exists(spark, tmp_path):
    from spark_kafka_airflow_pipeline_spark.io.sinks import state_table_exists

    assert not state_table_exists(spark, str(tmp_path / "missing"))
    (tmp_path / "present").mkdir()
    assert state_table_exists(spark, str(tmp_path / "present"))


def test_weighted_median_floor_before_cast(spark):
    """p25 landing on x.5 doubled-cents must floor identically on both
    engines: prices 4.02 and 4.08 with equal weight put the 0.25
    quantile at 403.5 doubled-cents -> floor 403 (Spark trunc-cast and
    DuckDB round-half-even would otherwise disagree: 403 vs 404)."""
    df = spark.createDataFrame(
        [("A", 402), ("A", 408)], "flag string, cents long")
    got = (df.groupBy("flag")
           .agg(F.floor(F.percentile(F.col("cents") * 2, F.lit(0.25),
                                     F.lit(1))).cast("bigint").alias("p25"))
           ).collect()[0]
    assert got.p25 == 807  # floor(403.5 * 2) = floor(807.0); engine-stable
    import duckdb
    oracle = duckdb.sql(
        "SELECT CAST(floor(quantile_cont(c, 0.25)) AS BIGINT) FROM "
        "(VALUES (804), (816)) t(c)").fetchone()[0]
    assert oracle == got.p25


def test_link_prediction_excludes_deg1_wedge_centers(spark):
    """A degree-1 node contributes no wedges; with the deg>=2 guard its
    ln(1)=0 division can never poison aa_term.  Build a tiny graph
    where node 9 has degree 1 and check the wn relation drops it."""
    from spark_kafka_airflow_pipeline_spark.operators import graphops

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (9, 1)], "src long, dst long")
    und = (e.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
           .union(e.select(F.col("dst").alias("node"),
                           F.col("src").alias("nbr")))
           .distinct())
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    wn = (und.join(deg, "node")
          .filter((F.col("deg") >= 2) & (F.col("deg") <= graphops.WEDGE_CAP)))
    centers = {r.node for r in wn.select("node").distinct().collect()}
    assert 9 not in centers and {1, 2, 3} <= centers


# ---------------------------------------------------------------------------
# Round-8 new operators: brute-force / independent-recompute properties at
# sf0.001 (the DuckDB oracle pins values; these pin SEMANTICS a wrong-but-
# mirrored oracle could miss).
# ---------------------------------------------------------------------------

def test_pareto_frontier_is_sound_and_complete(spark, sf_dir):
    """Frontier membership == brute-force non-dominance on the full
    (brand, price, size) set."""
    from spark_kafka_airflow_pipeline_spark.operators.relational_extra import (
        pareto_frontier_parts,
    )

    got = {(r.p_brand, r.p_partkey)
           for r in pareto_frontier_parts(spark, sf_dir).collect()}
    rows = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .select("p_partkey", "p_brand", "p_size",
                    F.floor(F.col("p_retailprice") * 100 + 0.5)
                    .cast("bigint").alias("cents")).collect())
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r.p_brand, []).append(r)
    want = set()
    for brand, group in by_brand.items():
        for p in group:
            dominated = any(
                q.cents <= p.cents and q.p_size >= p.p_size
                and (q.cents < p.cents or q.p_size > p.p_size)
                for q in group)
            if not dominated:
                want.add((brand, p.p_partkey))
    assert got == want


def test_peak_concurrency_matches_day_expansion(spark, sf_dir):
    """The +1/-1 sweep equals the naive expand-every-interval-into-
    days count, at the month peaks."""
    import collections
    import datetime

    from spark_kafka_airflow_pipeline_spark.operators.relational_extra import (
        orders_peak_concurrency,
    )

    got = {(r.priority, r.month): r.peak_active
           for r in orders_peak_concurrency(spark, sf_dir).collect()}
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_orderpriority",
                      F.to_date("o_orderdate").alias("d")).collect())
    active = collections.Counter()
    for r in orders:
        for k in range(30):
            active[(r.o_orderpriority, r.d + datetime.timedelta(days=k))] += 1
    want = {}
    for (prio, day), n in active.items():
        key = (prio, day.strftime("%Y-%m"))
        want[key] = max(want.get(key, 0), n)
    # months with zero open orders appear in the sweep (peak 0) but
    # not in the expansion; everything else must agree exactly,
    # including carry-in peaks at month boundaries
    assert {k: v for k, v in got.items() if v > 0} == want


def test_retention_offset_zero_is_full_cohort(spark, sf_dir):
    """Every user is active in their own cohort month: offset-0 cells
    must equal cohort size with retained_ppm == 1e6, and no cell can
    exceed its cohort size."""
    from spark_kafka_airflow_pipeline_spark.operators.events import (
        retention_triangle,
    )

    rows = retention_triangle(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.active_users <= r.cohort_size
        if r.offset_months == 0:
            assert r.active_users == r.cohort_size
            assert r.retained_ppm == 1_000_000


def test_selfjoin_cardinality_is_exact(spark, sf_dir):
    """The histogram-derived sum c(k)^2 equals the materialized
    self-join's row count for each audited key."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        selfjoin_cardinality_planner,
    )

    audit = {r.join_key: r.selfjoin_rows
             for r in selfjoin_cardinality_planner(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for key in ("l_orderkey", "l_partkey", "l_suppkey"):
        a = li.select(F.col(key).alias("k"))
        assert audit[key] == a.join(a.withColumnRenamed("k", "k2"),
                                    F.col("k") == F.col("k2")).count()


def test_benchmark_docs_excluded_and_shares_bounded(spark, sf_dir):
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        benchmark_decontamination,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = d.count()
    n_bench = d.filter(F.col("doc_id") % 97 == 0).count()
    rows = benchmark_decontamination(spark, sf_dir).collect()
    assert sum(r.n_docs_checked for r in rows) == n_docs - n_bench
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_docs_checked
        assert 0 <= r.avg_share_ppm <= r.max_share_ppm <= 1_000_000


def test_globally_first_doc_is_fully_novel(spark, sf_dir):
    """The minimum doc_id in the corpus first-occurs every one of its
    own trigrams, so its source must report >= 1 fully-novel doc; and
    per-source doc counts must sum to the corpus."""
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        ngram_novelty_score,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first = d.orderBy("doc_id").first()
    rows = ngram_novelty_score(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == d.count()
    by_source = {r.source: r for r in rows}
    assert by_source[first.source].n_fully_novel >= 1
    for r in rows:
        assert 0 <= r.avg_novel_ppm <= 1_000_000


def test_unigram_lm_recompute_one_group(spark, sf_dir):
    """Recompute the per-(lang, source) mean NLL for one cell in pure
    Python with the same micro-rounding rules."""
    import math

    from spark_kafka_airflow_pipeline_spark.operators.textops import (
        unigram_lm_quality,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    counts, total = {}, 0
    tokenized = {}
    for r in docs:
        words = [w for w in r.text.strip().lower().split() if w]
        tokenized[r.doc_id] = (words, r.lang, r.source)
        for w in words:
            counts[w] = counts.get(w, 0) + 1
            total += 1
    per_doc = {}
    for doc_id, (words, lang, source) in tokenized.items():
        if not words:
            continue
        s = sum(int(math.floor(round(math.log(total / counts[w]), 6)
                               * 1_000_000 + 0.5)) for w in words)
        per_doc[doc_id] = (s // len(words), lang, source)
    lang, source = next(iter(tokenized.values()))[1:]
    cell = [v[0] for v in per_doc.values() if v[1:] == (lang, source)]
    want = sum(cell) // len(cell)
    got = {(r.lang, r.source): r.mean_nll_micros
           for r in unigram_lm_quality(spark, sf_dir).collect()}
    assert got[(lang, source)] == want


def test_regression_matches_numpy(spark, sf_dir):
    """Slope/intercept/r2 micros match an independent numpy fit on the
    largest brand (within 1 micro of the floor-rounding)."""
    np = pytest.importorskip("numpy")
    from spark_kafka_airflow_pipeline_spark.operators.relational_extra import (
        brand_price_size_regression,
    )

    rows = brand_price_size_regression(spark, sf_dir).collect()
    big = max(rows, key=lambda r: r.n)
    pts = (spark.read.parquet(f"{sf_dir}/part.parquet")
           .filter(F.col("p_brand") == big.p_brand)
           .select("p_size", "p_retailprice").collect())
    x = np.array([p.p_size for p in pts], dtype=float)
    y = np.array([round(p.p_retailprice * 100) for p in pts], dtype=float)
    slope, intercept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    assert abs(big.slope_cents_micros / 1e6 - slope) < 1e-3
    assert abs(big.intercept_cents_micros / 1e6 - intercept) < 1e-3
    assert abs(big.r2_micros / 1e6 - r * r) < 1e-3


def test_rrf_fusion_arithmetic_and_shape(spark, sf_dir):
    """The fused score must equal the integer reciprocal-rank sum of
    its own leg columns, rows must be rank-ordered per query, and each
    query returns exactly topk rows."""
    from spark_kafka_airflow_pipeline_spark.operators.similarity import (
        rrf_hybrid_retrieval,
    )

    rows = rrf_hybrid_retrieval(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        want = 0
        if r.dense_rank is not None:
            assert 1 <= r.dense_rank <= 20
            want += 1_000_000 // (60 + r.dense_rank)
        if r.sparse_rank is not None:
            assert 1 <= r.sparse_rank <= 20
            want += 1_000_000 // (60 + r.sparse_rank)
        assert r.rrf_micros == want and want > 0
        per_q.setdefault(r.query_id, []).append((r.rank, r.rrf_micros))
    assert set(per_q) == set(range(5))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, 11))
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True)


def test_checksum_is_order_and_partition_invariant(spark, sf_dir, tmp_path):
    """Rewriting the table shuffled into a different partitioning must
    not change any checksum; flipping one row's price must."""
    from spark_kafka_airflow_pipeline_spark.operators.warehouse import (
        replication_checksum_audit,
    )

    base = {r.month: (r.n_rows, r.checksum_sum, r.checksum_xor)
            for r in replication_checksum_audit(spark, sf_dir).collect()}

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    shuffled = str(tmp_path / "orders_shuffled")
    (o.orderBy(F.md5(F.col("o_orderkey").cast("string")))
     .repartition(7).write.mode("overwrite").parquet(shuffled + "/orders.parquet"))
    got = {r.month: (r.n_rows, r.checksum_sum, r.checksum_xor)
           for r in replication_checksum_audit(spark, shuffled).collect()}
    assert got == base

    tampered = str(tmp_path / "orders_tampered")
    key = o.orderBy("o_orderkey").first().o_orderkey
    (o.withColumn("o_totalprice",
                  F.when(F.col("o_orderkey") == key,
                         F.col("o_totalprice") + 0.01)
                  .otherwise(F.col("o_totalprice")))
     .write.mode("overwrite").parquet(tampered + "/orders.parquet"))
    got2 = {r.month: (r.n_rows, r.checksum_sum, r.checksum_xor)
            for r in replication_checksum_audit(spark, tampered).collect()}
    assert got2 != base
    diffs = [m for m in base if got2[m] != base[m]]
    assert len(diffs) == 1  # exactly the tampered row's month bucket
    assert got2[diffs[0]][0] == base[diffs[0]][0]  # count agrees; hash differs


def test_winsorized_mean_recompute(spark, sf_dir):
    """Clamped mean recomputed in pure Python for every flag."""
    from spark_kafka_airflow_pipeline_spark.operators.relational_extra import (
        winsorized_price_stats,
    )

    got = {r.l_returnflag: r for r in
           winsorized_price_stats(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    import math
    groups = {}
    for r in li:
        c2 = int(math.floor(r.l_extendedprice / r.l_quantity * 100 + 0.5)) * 2
        groups.setdefault(r.l_returnflag, []).append(c2)
    for flag, vals in groups.items():
        g = got[flag]
        w = [min(max(v, g.lo_x2), g.hi_x2) for v in vals]
        assert g.n == len(vals)
        assert g.win_mean_x2 == round(sum(w) / len(w), 6)
        assert g.lo_x2 <= g.win_mean_x2 <= g.hi_x2
        assert g.n_clamped_lo == sum(1 for v in vals if v < g.lo_x2)
        assert g.n_clamped_hi == sum(1 for v in vals if v > g.hi_x2)


def test_sorted_neighborhood_pairs_verified(spark, sf_dir):
    """Every emitted pair is within the rank window and its Jaccard,
    recomputed from raw texts, clears the threshold."""
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = sorted_neighborhood_pairs(spark, sf_dir).collect()
    assert rows, "the corpus has near-dups; SNM must find some"
    texts = {r.doc_id: r.text for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}

    def tris(t):
        ws = t.strip().lower().split()
        if len(ws) <= 3:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    for r in rows:
        assert 1 <= r.rank_gap <= 3
        a, b = tris(texts[r.doc_a]), tris(texts[r.doc_b])
        inter = len(a & b)
        assert r.inter == inter
        assert r.union_sz == len(a) + len(b) - inter
        assert r.jaccard_ppm == inter * 1_000_000 // (len(a | b))
        assert r.jaccard_ppm >= 200_000


def test_l_diversity_replay(spark, sf_dir):
    """Diversity bands replayed from raw QI classes; invariant: the
    same classes k_anonymity groups, minus the lang dimension, so doc
    totals across bands equal the corpus size."""
    import pyarrow.parquet as pq
    from spark_kafka_airflow_pipeline_spark.operators.textops import (
        l_diversity_audit,
    )

    out = {r.diversity_band: r
           for r in l_diversity_audit(spark, sf_dir).collect()}
    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["source", "n_chars", "lang"]).to_pylist()
    classes: dict[tuple, set] = {}
    sizes: dict[tuple, int] = {}
    for d in docs:
        k = (d["source"], d["n_chars"] // 100)
        classes.setdefault(k, set()).add(d["lang"])
        sizes[k] = sizes.get(k, 0) + 1
    bands: dict[str, list[int]] = {}
    for k, langs in classes.items():
        l = len(langs)
        band = ("1_homogeneous" if l == 1
                else "2_low(2)" if l == 2 else "3_diverse(3+)")
        g, n, ml = bands.setdefault(band, [0, 0, 10**9])
        bands[band] = [g + 1, n + sizes[k], min(ml, l)]
    assert set(out) == set(bands)
    assert sum(r.n_docs for r in out.values()) == len(docs)
    for band, (g, n, ml) in bands.items():
        r = out[band]
        assert (r.n_groups, r.n_docs, r.min_l) == (g, n, ml)
        assert r.doc_share_ppm == n * 10**6 // len(docs)


def test_streaming_drift_monitor_planted_shift(spark, tmp_path):
    """A planted distribution shift must raise the alert: baseline day
    has values in bin 0; a later sealed window sits entirely in bin 9
    -> PSI blows past 0.1. A window matching the baseline stays quiet.
    Also pins the sealed-window rule: the final (unsealed) hour must
    not emit."""
    import datetime

    from spark_kafka_airflow_pipeline_spark.streaming.pipelines import (
        streaming_drift_monitor,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # row counts sized so the +1 smoothing over 10 bins is negligible
    # (the realistic regime; 20-row windows would alert on smoothing
    # mass alone)
    # baseline: first 24h, all values ~50 (bin 0)
    for h in range(24):
        for i in range(50):
            rows.append((eid, t0 + datetime.timedelta(hours=h, minutes=i),
                         1, "view", 50.0, "{}"))
            eid += 1
    # day 2, hour 0: matches baseline (bin 0) -> no alert
    for i in range(300):
        rows.append((eid, t0 + datetime.timedelta(days=1, minutes=i % 60,
                                                  seconds=i // 60),
                     1, "view", 50.0, "{}"))
        eid += 1
    # day 2, hour 1: all in bin 9 -> alert
    for i in range(300):
        rows.append((eid, t0 + datetime.timedelta(days=1, hours=1,
                                                  minutes=i % 60,
                                                  seconds=i // 60),
                     1, "view", 950.0, "{}"))
        eid += 1
    # day 2, hour 3: tail sentinel — must NOT emit (not sealed: the
    # final watermark is max_ts - 1h, and this is the last hour)
    rows.append((eid, t0 + datetime.timedelta(days=1, hours=3),
                 1, "view", 950.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    # the stream source globs for a FILE named events.parquet (the
    # testdata layout) — write one part file and rename it
    staging = tmp_path / "staging"
    df.coalesce(1).write.mode("overwrite").parquet(str(staging))
    part = next(staging.glob("part-*.parquet"))
    part.rename(tmp_path / "events.parquet")
    out = {r.window_start: r
           for r in streaming_drift_monitor(spark, str(tmp_path)).collect()}
    assert out["2024-01-02 00:00:00"].drift_alert == 0
    assert out["2024-01-02 01:00:00"].drift_alert == 1
    assert "2024-01-02 03:00:00" not in out  # unsealed tail held back
    # the shifted window's PSI really is large, not borderline
    assert out["2024-01-02 01:00:00"].psi_pico > 10 * out[
        "2024-01-02 00:00:00"].psi_pico


def test_position_attribution_conserves_revenue(spark, sf_dir):
    """U-shaped shares must conserve revenue exactly: total credited
    micro-cents across channels (incl. 'direct') equals total purchase
    cents x 1e6 — the remainder-to-last-touch spec guarantees it."""
    import pyarrow.parquet as pq
    from spark_kafka_airflow_pipeline_spark.operators.events import (
        attribution_position_based,
    )

    out = attribution_position_based(spark, sf_dir).collect()
    ev = pq.read_table(f"{sf_dir}/events.parquet",
                       columns=["event_type", "value"]).to_pylist()
    import math
    total_cents = sum(math.floor(e["value"] * 100 + 0.5) for e in ev
                      if e["event_type"] == "purchase")
    assert sum(r.revenue_microcents for r in out) == total_cents * 10**6
    assert {r.channel for r in out} <= {"click", "signup", "view",
                                        "direct"}

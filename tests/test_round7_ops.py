"""Round-7 operator tests: distributed ranking/prefix-sum primitives,
ntile arithmetic, declarative streaming, and the new analytics ops."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_kafka_airflow_pipeline_spark.operators import (  # noqa: E402
    events,
    relational_extra,
    scaleops,
)


def test_global_row_number_equals_window(spark, sf_dir):
    """The two-phase distributed rank must equal the single-window
    ROW_NUMBER for every row, including under heavy value ties (the
    unique tiebreaker carries the total order)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority")  # priority: ~5 distinct, all ties
    got = scaleops.global_row_number(
        o, F.col("o_orderpriority"), F.col("o_orderkey"), out="rn")
    want = o.withColumn(
        "rn", F.row_number().over(
            Window.orderBy("o_orderpriority", "o_orderkey")))
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_global_row_number_empty_and_single(spark):
    empty = spark.createDataFrame([], "k long")
    assert scaleops.global_row_number(empty, F.col("k")).collect() == []
    one = spark.createDataFrame([(7,)], "k long")
    rows = scaleops.global_row_number(one, F.col("k"), out="rn").collect()
    assert [(r["k"], r["rn"]) for r in rows] == [(7, 1)]


def test_global_running_sum_equals_window(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("v"))
    got = scaleops.global_running_sum(
        c, "v", F.col("v").desc(), F.col("c_custkey"), out="run")
    want = c.withColumn(
        "run",
        F.sum("v").over(Window.orderBy(F.col("v").desc(), "c_custkey")
                        .rowsBetween(Window.unboundedPreceding, 0)))
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


def test_rfm_tile_arithmetic_equals_ntile(spark):
    """The closed-form ntile(5) arithmetic must match Spark's ntile for
    frame sizes around the divisibility corners (n < 5, n % 5 == 0,
    n % 5 != 0)."""
    for n in (1, 3, 5, 7, 10, 23, 100):
        df = spark.range(n).select(F.col("id").alias("k"))
        want = df.withColumn("t", F.ntile(5).over(Window.orderBy("k")))
        ranked = scaleops.global_row_number(df, F.col("k"), out="rn")
        total = df.agg(F.count(F.lit(1)).alias("n"))
        got = (ranked.crossJoin(F.broadcast(total))
               .withColumn("t", F.expr(
                   "CAST(CASE WHEN rn <= (n % 5) * (n DIV 5 + 1) "
                   "THEN (rn + n DIV 5) DIV (n DIV 5 + 1) "
                   "ELSE n % 5 + (rn - (n % 5) * (n DIV 5 + 1) "
                   "+ n DIV 5 - 1) DIV (n DIV 5) END AS INT)"))
               .select("k", "t"))
        assert got.subtract(want).count() == 0, n
        assert want.subtract(got).count() == 0, n


def test_dau_wau_brute_force(spark, sf_dir):
    """WAU from the bounded fan-out must equal the brute-force trailing
    7-day distinct count per day."""
    rows = events.dau_wau_stickiness(spark, sf_dir).collect()
    assert rows
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "user_id").collect()
    import datetime as dt

    by_day: dict[str, set] = {}
    for r in raw:
        by_day.setdefault(r["day"], set()).add(r["user_id"])
    for r in rows:
        d = dt.date.fromisoformat(r["day"])
        week = set()
        for off in range(7):
            week |= by_day.get(str(d - dt.timedelta(days=off)), set())
        assert r["n_dau"] == len(by_day[r["day"]]), r
        assert r["n_wau"] == len(week), r
        assert r["stickiness_ppm"] == r["n_dau"] * 1_000_000 // r["n_wau"]


def test_fulfillment_backlog_stabbing(spark, sf_dir):
    """The delta-event backlog must equal brute-force interval stabbing
    (count of lineitems with order date <= day < ship date) on sampled
    days."""
    out = {r["day"]: r["open_lineitems"]
           for r in relational_extra.order_fulfillment_backlog(
               spark, sf_dir).collect()}
    assert out
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.to_date("o_orderdate").alias("ordered"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select(F.least("ordered", "ship").alias("lo"),
                 F.greatest("ordered", "ship").alias("hi")))
    days = sorted(out)
    for day in {days[0], days[len(days) // 2], days[len(days) // 4],
                days[-1]}:
        stab = j.filter(
            (F.col("lo") <= F.lit(day).cast("date"))
            & (F.col("hi") > F.lit(day).cast("date"))).count()
        assert out[day] == stab, (day, out[day], stab)


def test_equidepth_bins_partition_evenly(spark, sf_dir):
    rows = scaleops.orders_equidepth_bins(spark, sf_dir).collect()
    assert {r["bin"] for r in rows} == set(range(10))
    total = sum(r["n_orders"] for r in rows)
    for r in rows:
        # equal frequency within ties + interpolation slack
        assert abs(r["n_orders"] - total / 10) <= max(2, total * 0.02), r
    ordered = sorted(rows, key=lambda r: r["bin"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_cents"] <= b["min_cents"]  # ranges don't overlap


def test_pareto_abc_invariants(spark, sf_dir):
    rows = {r["abc"]: r for r in
            scaleops.customer_pareto_abc(spark, sf_dir).collect()}
    assert set(rows) <= {"A", "B", "C"} and "A" in rows
    total = sum(r["class_cents"] for r in rows.values())
    # A holds at most 80% of revenue + one boundary customer's worth
    assert rows["A"]["class_share_ppm"] <= 810_000
    assert sum(r["class_share_ppm"] for r in rows.values()) <= 1_000_000
    assert total > 0


def test_executor_watermark_and_expr_groupby_batch(spark, sf_dir):
    """The new metadata surface on a BATCH frame: watermark is a no-op,
    expression groupBy buckets by the computed key."""
    from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor
    from spark_kafka_airflow_pipeline_spark.metadata import parse_metadata

    meta = parse_metadata({"dataflows": [{
        "name": "b",
        "sources": [{"name": "orders",
                     "path": f"{sf_dir}/orders.parquet",
                     "format": "parquet"}],
        "transformations": [
            {"name": "wm", "type": "watermark", "params": {
                "input": "orders", "column": "o_orderdate",
                "delay": "1 hour"}},
            {"name": "agg", "type": "aggregate", "params": {
                "input": "wm",
                "groupBy": ["substring(o_orderpriority, 1, 1) AS pri"],
                "aggregates": [{"name": "n", "function": "COUNT(*)"}]}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    got = {r["pri"]: r["n"] for r in nodes["agg"].collect()}
    want = {r[0]: r[1] for r in
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy(F.expr("substring(o_orderpriority, 1, 1)"))
            .count().collect()}
    assert got == want


def test_watermark_node_validates_params(sf_dir):
    import pytest

    from spark_kafka_airflow_pipeline_spark.metadata import parse_metadata

    with pytest.raises(ValueError, match="watermark"):
        parse_metadata({"dataflows": [{
            "name": "bad",
            "sources": [{"name": "orders",
                         "path": f"{sf_dir}/orders.parquet",
                         "format": "parquet"}],
            "transformations": [
                {"name": "wm", "type": "watermark", "params": {
                    "input": "orders", "column": "o_orderdate"}},
            ],
            "sinks": [],
        }]})


def test_rendezvous_stability(spark, sf_dir):
    """The HRW property that justifies the algorithm: dropping one
    shard reassigns ONLY the docs that were on it — every other doc
    keeps its shard (mod-N hashing would remap ~(N-1)/N of all keys)."""
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        _tokens,
    )
    from spark_kafka_airflow_pipeline_spark.operators.base import table

    d = _tokens(table(spark, sf_dir, "documents")).select("doc_id")

    def assign(shards: list[int]) -> dict[int, int]:
        scored = d.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("shard"),
                         F.md5(F.concat_ws(":", F.col("doc_id"),
                                           F.lit(i))).alias("score"))
                for i in shards])).alias("s"))
        return {r["doc_id"]: r["shard"] for r in
                scored.groupBy("doc_id")
                .agg(F.expr("max_by(s.shard, s.score)").alias("shard"))
                .collect()}

    full = assign(list(range(8)))
    without3 = assign([i for i in range(8) if i != 3])
    moved = {k for k in full if full[k] != without3[k]}
    assert moved == {k for k, v in full.items() if v == 3}


def test_seasonality_index_sums(spark, sf_dir):
    rows = relational_extra.orders_seasonality_index(spark, sf_dir).collect()
    assert {r["month"] for r in rows} <= set(range(1, 13))
    # indices average to ~1.0 (ppm) over the months present
    if len(rows) == 12:
        avg = sum(r["season_index_ppm"] for r in rows) / 12
        assert abs(avg - 1_000_000) < 1_000


def test_weighted_aes_matches_python_recomputation(spark, sf_dir):
    """A-ES selection is a pure function of the data: a driver-side
    recomputation (same md5 -> 6-hex u, 6dp-ln micros, key = micros/w,
    ties by doc_id) must pick the identical winners."""
    import hashlib
    import math

    from spark_kafka_airflow_pipeline_spark.operators import textops

    got = {(r["source"], r["doc_id"]): r["draw_rank"] for r in
           textops.weighted_sample_aes(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", "text").collect()
    by_source: dict[str, list] = {}
    for r in docs:
        toks = [t for t in r["text"].strip().lower().split() if t]
        # token_count counts whitespace tokens of the raw (not lowered)
        # text; lowering does not change token boundaries
        w = len(toks)
        if w == 0:
            continue
        val6 = int(hashlib.md5(
            f"{r['doc_id']}:aes".encode()).hexdigest()[:6], 16) + 1
        lnm = math.floor(round(math.log(val6 / 16 ** 6), 6) * 1e6 + 0.5)
        by_source.setdefault(r["source"], []).append(
            (lnm / w, -r["doc_id"], r["doc_id"]))
    want = {}
    for src, lst in by_source.items():
        for rank, (_, _, doc) in enumerate(
                sorted(lst, key=lambda t: (-t[0], t[2]))[:5], 1):
            want[(src, doc)] = rank
    assert got == want


def test_kmv_union_merge_identity(spark, sf_dir):
    """The rollup property that justifies KMV: the __all__ sketch
    (bottom-k of the UNION of per-type bottom-k sets) must be
    IDENTICAL to a bottom-k computed directly over all distinct
    hashes — every global minimum is a minimum of its own type, so
    pre-aggregated sketches merge losslessly without rescanning."""
    from pyspark.sql import Window

    rows = scaleops.kmv_distinct_rollup(spark, sf_dir).collect()
    all_row = next(r for r in rows if r["event_type"] == "__all__")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    direct = (ev.select(F.md5(F.col("user_id").cast("string")).alias("h"))
              .distinct()
              .withColumn("rn", F.row_number().over(Window.orderBy("h")))
              .filter(F.col("rn") <= 256))
    kth = direct.agg(F.max("h"), F.count(F.lit(1))).first()
    m = kth[1]
    assert all_row["m"] == m
    if m >= 256:
        est = (256 - 1) * 16 ** 6 // max(
            int(kth[0][:6], 16), 1)
        assert all_row["kmv_estimate"] == est
    # sanity: estimate within a generous 4-sigma KMV envelope
    exact = all_row["exact_distinct"]
    if m >= 256:
        assert abs(all_row["kmv_estimate"] - exact) / exact < 4 / (254 ** 0.5)
    else:
        assert all_row["kmv_estimate"] == exact


def test_lsh_planner_monotone(spark, sf_dir):
    """More bands (fewer rows per band) => higher candidate probability
    at every similarity; probability rises with similarity."""
    from spark_kafka_airflow_pipeline_spark.operators import dedup

    rows = dedup.lsh_parameter_planner(spark, sf_dir).collect()
    assert len(rows) == 45
    by_cfg: dict[tuple, dict[int, int]] = {}
    for r in rows:
        by_cfg.setdefault((r["bands"], r["rows_per_band"]), {})[
            r["jaccard_pct"]] = r["p_candidate_micros"]
    for curve in by_cfg.values():
        pts = [curve[p] for p in sorted(curve)]
        assert pts == sorted(pts)  # monotone in s
    for s in range(10, 100, 10):
        ordered = [by_cfg[c][s] for c in
                   [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]]
        assert ordered == sorted(ordered, reverse=True), s


def test_frequent_part_pairs_brute_force(spark, sf_dir):
    """Pair supports and lift must match a brute-force Python
    recomputation from the raw baskets (itertools pairs, no Apriori
    prune) — proving the prune drops nothing frequent."""
    from collections import Counter
    from itertools import combinations

    rows = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_partkey").distinct().collect())
    baskets: dict[int, set[int]] = {}
    for r in rows:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    item = Counter(p for parts in baskets.values() for p in parts)
    pair = Counter(p for parts in baskets.values()
                   for p in combinations(sorted(parts), 2))
    nb = len(baskets)
    want = {p: c for p, c in pair.items()
            if c >= relational_extra.PAIR_MINSUP}
    got = relational_extra.frequent_part_pairs(spark, sf_dir).collect()
    assert {(r.part1, r.part2): r.support for r in got} == want
    for r in got:
        assert r.part1 < r.part2
        assert r.n1 == item[r.part1] and r.n2 == item[r.part2]
        assert r.lift_ppm == r.support * nb * 1_000_000 // (r.n1 * r.n2)


def test_cms_matches_python_recomputation(spark, sf_dir):
    """The CMS estimates must equal a pure-Python count-min sketch
    built with the same md5 hash family — pinning that every cell is a
    deterministic function of the token, not of partitioning."""
    import hashlib
    from collections import Counter

    from spark_kafka_airflow_pipeline_spark.operators import corpusops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tc = Counter(w for r in docs for w in r.text.strip().lower().split()
                 if w)

    def cell(tok: str, j: int) -> int:
        h = hashlib.md5(f"{tok}#{j}".encode()).hexdigest()[:15]
        return int(h, 16) % corpusops.CMS_WIDTH

    sketch = Counter()
    for w, c in tc.items():
        for j in range(corpusops.CMS_DEPTH):
            sketch[(j, cell(w, j))] += c

    got = corpusops.cms_heavy_hitters(spark, sf_dir).collect()
    assert len(got) == min(corpusops.CMS_TOPK, len(tc))
    for r in got:
        assert r.exact == tc[r.term]
        want_est = min(sketch[(j, cell(r.term, j))]
                       for j in range(corpusops.CMS_DEPTH))
        assert r.cms_est == want_est
        assert r.overest >= 0  # one-sided error, the CMS contract


def test_cms_sketch_merges_by_cell_addition(spark, sf_dir):
    """Per-source sketches summed cell-wise must equal the whole-corpus
    sketch — the mergeability contract that makes the build
    embarrassingly parallel (the hll_distinct_rollup discipline)."""
    from spark_kafka_airflow_pipeline_spark.operators import corpusops
    from spark_kafka_airflow_pipeline_spark.operators.base import table
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        _cms_cell_spark,
        _tokens,
    )

    d = _tokens(table(spark, sf_dir, "documents"))
    rows_ = F.array(*[F.lit(j) for j in range(corpusops.CMS_DEPTH)])
    per_src = (d.select("source", F.explode("toks").alias("w"))
               .groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
               .select("source", "w", "c", F.explode(rows_).alias("j"))
               .withColumn("cell", F.expr(_cms_cell_spark("w")))
               .groupBy("source", "j", "cell")
               .agg(F.sum("c").alias("cell_c")))
    merged = {(r.j, r.cell): r.cell_c
              for r in per_src.groupBy("j", "cell")
              .agg(F.sum("cell_c").alias("cell_c")).collect()}
    whole = (d.select(F.explode("toks").alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .select("w", "c", F.explode(rows_).alias("j"))
             .withColumn("cell", F.expr(_cms_cell_spark("w")))
             .groupBy("j", "cell").agg(F.sum("c").alias("cell_c")))
    assert merged == {(r.j, r.cell): r.cell_c for r in whole.collect()}


def test_attribution_last_touch_brute_force(spark, sf_dir):
    """Channel totals must match a per-user Python replay of the
    last-touch rule (7-day lookback, later-event-wins tie rule)."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts", "event_type", "value")
            .collect())
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    want: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        touch = None
        for r in evs:
            if r.event_type == "purchase":
                ch = "direct"
                if touch is not None and (
                        r.ts.timestamp() - touch[1]
                        <= events.ATTRIB_LOOKBACK_S):
                    ch = touch[0]
                want[ch][0] += 1
                want[ch][1] += int(r.value * 100 + 0.5)
            if r.event_type in events._TOUCH_TYPES:
                touch = (r.event_type, r.ts.timestamp())
    got = {r.channel: [r.n_purchases, r.revenue_cents]
           for r in events.attribution_last_touch(spark, sf_dir).collect()}
    assert got == dict(want)


def test_theil_sen_brute_force(spark, sf_dir):
    """Median pairwise slope must match a pure-Python recomputation
    from the daily cents frame (same micro-quantization, same x2
    integral-median trick)."""
    from collections import defaultdict
    from statistics import median

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_type", "ts", "value").collect())
    daily: dict[tuple, int] = defaultdict(int)
    base = __import__("datetime").date(2024, 1, 1)
    for r in rows:
        daily[(r.event_type, (r.ts.date() - base).days)] += int(
            r.value * 100 + 0.5)
    by_type: dict[str, list] = defaultdict(list)
    for (t, d), c in daily.items():
        by_type[t].append((d, c))
    want = {}
    for t, pts in by_type.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                num = (pts[j][1] - pts[i][1]) * 1_000_000
                den = pts[j][0] - pts[i][0]
                q = abs(num) // den
                slopes.append(q if num >= 0 else -q)  # trunc toward 0
        if slopes:
            want[t] = (len(slopes), int(median(2 * s for s in slopes)))
    got = {r.event_type: (r.n_pairs, r.slope_x2_micro)
           for r in events.theil_sen_trend(spark, sf_dir).collect()}
    assert got == want


def test_neyman_allocation_matches_python(spark, sf_dir):
    """Per-stratum draw counts must equal the Python Neyman allocation
    floor(budget * sqrt(N*ss - s^2) / total) clamped to >= 1, and each
    stratum's draws are the md5-first docs of that stratum."""
    import hashlib
    import math
    from collections import defaultdict

    from spark_kafka_airflow_pipeline_spark.operators import textops

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("source", "doc_id", "text").collect())
    stats = defaultdict(lambda: [0, 0, 0])  # n, s, ss
    for r in docs:
        nt = len(r.text.strip().split()) if r.text.strip() else 0
        st = stats[r.source]
        st[0] += 1
        st[1] += nt
        st[2] += nt * nt
    a = {src: int(math.floor(math.sqrt(n * ss - s * s)))
         for src, (n, s, ss) in stats.items()}
    atot = sum(a.values())
    want_alloc = {src: max(1, textops.NEYMAN_BUDGET * av // atot)
                  for src, av in a.items()}
    got = textops.stratified_sample_neyman(spark, sf_dir).collect()
    got_by_src = defaultdict(list)
    for r in got:
        assert r.n_alloc == want_alloc[r.source]
        got_by_src[r.source].append(r.doc_id)
    for src, ids in got_by_src.items():
        assert len(ids) == min(want_alloc[src], stats[src][0])
        all_ids = sorted(
            (hashlib.md5(f"{r.doc_id}:ney".encode()).hexdigest(), r.doc_id)
            for r in docs if r.source == src)
        want_ids = {d for _, d in all_ids[:want_alloc[src]]}
        assert set(ids) == want_ids


def test_scd2_pit_join_brute_force(spark, sf_dir):
    """The PIT carry must match a per-user Python replay: each click
    sees the tier of the latest purchase at-or-before it (SCD2
    valid_from inclusive), else 'none'."""
    from collections import defaultdict

    from spark_kafka_airflow_pipeline_spark.operators import warehouse

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts", "event_type", "value")
            .collect())
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    want = defaultdict(lambda: [0, set()])
    for uid, evs in by_user.items():
        # replay in the engine's order: change rows sort before probes
        # at the same ts (kind), ties among changes by tier
        tagged = []
        prev = None
        for r in sorted((e for e in evs if e.event_type == "purchase"),
                        key=lambda e: (e.ts, ("low" if e.value < 100 else
                                              "mid" if e.value < 500
                                              else "high"))):
            tier = ("low" if r.value < 100 else
                    "mid" if r.value < 500 else "high")
            if tier != prev:
                tagged.append((r.ts, 0, tier, -1))
                prev = tier
        for r in (e for e in evs if e.event_type == "click"):
            tagged.append((r.ts, 1, "", r.event_id))
        tagged.sort(key=lambda t: (t[0], t[1], t[2] if t[1] == 0 else "",
                                   t[3]))
        cur = None
        for ts, kind, tier, eid in tagged:
            if kind == 0:
                cur = tier
            else:
                b = want[cur or "none"]
                b[0] += 1
                b[1].add(uid)
    got = {r.tier: (r.n_events, r.n_users) for r in
           warehouse.scd2_point_in_time_join(spark, sf_dir).collect()}
    assert got == {t: (n, len(u)) for t, (n, u) in want.items()}


def test_value_drift_continuous_properties(spark, sf_dir):
    """PSI invariants: identical halves give ~0, a planted location
    shift inflates it; bin counts cover the frame."""
    row = events.value_drift_continuous(spark, sf_dir).collect()[0]
    assert row.n_bins <= events.DRIFT_NBINS
    assert row.n_ref + row.n_cur > 0
    # equal-split halves of the same distribution: PSI stays under the
    # 0.1 "action threshold" (1e11 pico); expected sampling noise is
    # ~bins/n (0.02 at the sf0.001 half of 500)
    assert abs(row.psi_pico) < 10**11, row.psi_pico


def test_decayed_popularity_python_recomputation(spark, sf_dir):
    """Dyadic decay scores must match a Python replay, and the score
    must be mergeable: per-user partial sums add to the total."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_type", "ts", "user_id").collect())
    dmax = max(r.ts.date() for r in rows)
    want = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        k = (dmax - r.ts.date()).days // events.DECAY_HALF_LIFE_DAYS
        w = 0 if k > 20 else 1_000_000 // (1 << k)
        st = want[r.event_type]
        st[0] += 1
        st[1] += 1 if w > 0 else 0
        st[2] += w
    got = {r.event_type: [r.n_events, r.live_events, r.decayed_micro]
           for r in events.decayed_type_popularity(spark, sf_dir).collect()}
    assert got == dict(want)


def test_funnel_latency_consistent_with_funnel(spark, sf_dir):
    """Stage populations must match events_funnel_conversion's stage
    counts, and latencies must respect the 1-hour stage windows."""
    fun = {r.funnel_stage: r.n_users for r in
           events.events_funnel_conversion(spark, sf_dir).collect()}
    lat = {r.stage: r for r in
           events.funnel_time_to_convert(spark, sf_dir).collect()}
    # a stage row exists only when someone reached it (sf0.001 has no
    # click->purchase conversions)
    got_vc = lat["view_to_click"].n_users if "view_to_click" in lat else 0
    got_cp = (lat["click_to_purchase"].n_users
              if "click_to_purchase" in lat else 0)
    assert got_vc == fun.get("2_click", 0)
    assert got_cp == fun.get("3_purchase", 0)
    for r in lat.values():
        assert 0 <= r.med_x2_s <= 2 * 3600
        assert 0 <= r.p90_s < 3600
        assert r.med_x2_s <= 2 * r.p90_s + 1


def test_cohort_ltv_python_recomputation(spark, sf_dir):
    """LTV curve must match a full Python replay: first-seen week per
    user, weekly purchase cents per (cohort, offset), prefix sums, and
    the integer micro-LTV division."""
    from collections import defaultdict
    from datetime import timedelta

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_type", "ts", "value").collect())

    def week(d):  # Monday-anchored, like date_trunc('week')
        d = d.date()
        return d - timedelta(days=d.weekday())

    first = {}
    for r in rows:
        w = week(r.ts)
        if r.user_id not in first or w < first[r.user_id]:
            first[r.user_id] = w
    sizes = defaultdict(int)
    for w in first.values():
        sizes[w] += 1
    weekly = defaultdict(lambda: [0, 0])  # (cw, off) -> [n, cents]
    for r in rows:
        if r.event_type != "purchase":
            continue
        cw = first[r.user_id]
        off = (week(r.ts) - cw).days // 7
        st = weekly[(cw, off)]
        st[0] += 1
        st[1] += int(r.value * 100 + 0.5)
    want = {}
    for cw in {k[0] for k in weekly}:
        cum = 0
        for off in sorted(o for c, o in weekly if c == cw):
            n, cents = weekly[(cw, off)]
            cum += cents
            want[(cw.isoformat(), off)] = (
                n, cents, cum, sizes[cw], cum * 1_000_000 // sizes[cw])
    got = {(r.cohort_week, r.offset_w):
           (r.n_purchases, r.week_cents, r.cum_cents, r.cohort_users,
            r.ltv_micro)
           for r in events.cohort_ltv_curve(spark, sf_dir).collect()}
    assert got == want


def test_flesch_python_recomputation(spark, sf_dir):
    """Flesch micros must match a regex replay in Python, and the band
    must agree with the score thresholds."""
    import re

    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect())
    from spark_kafka_airflow_pipeline_spark.operators import textops

    want = {}
    for r in rows:
        w = len(r.text.strip().split()) if r.text.strip() else 0
        if w == 0:
            continue
        sents = max(len(re.findall(r"[.!?]+", r.text)), 1)
        syl = max(len(re.findall(r"[aeiouy]+", r.text.lower())), w)
        score = (206_835_000 - (w * 1000 // sents) * 1015
                 - (syl * 1000 // w) * 84600)
        band = ("easy" if score >= 60_000_000
                else "standard" if score >= 30_000_000 else "difficult")
        want[r.doc_id] = (w, sents, syl, score, band)
    got = {r.doc_id: (r.n_words, r.n_sents, r.n_syll, r.flesch_micro, r.band)
           for r in textops.flesch_reading_ease(spark, sf_dir).collect()}
    assert got == want


def test_event_pmi_python_replay(spark, sf_dir):
    """Session co-occurrence counts must match a Python sessionizer
    replay, and PMI/lift must satisfy their closed forms."""
    import math
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts", "event_type").collect())
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    sess_types = []
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        cur, last = None, None
        for r in evs:
            if last is None or (r.ts - last).total_seconds() > 1800:
                if cur:
                    sess_types.append(cur)
                cur = set()
            cur.add(r.event_type)
            last = r.ts
        if cur:
            sess_types.append(cur)
    S = len(sess_types)
    per = defaultdict(int)
    both = defaultdict(int)
    for st in sess_types:
        for t in st:
            per[t] += 1
        for a in st:
            for b in st:
                if a < b:
                    both[(a, b)] += 1
    got = {(r.type_a, r.type_b): r for r in
           events.event_cooccurrence_pmi(spark, sf_dir).collect()}
    assert set(got) == set(both)
    for (a, b), n_ab in both.items():
        r = got[(a, b)]
        assert (r.n_both, r.n_sess_a, r.n_sess_b, r.n_sessions) == (
            n_ab, per[a], per[b], S)
        assert r.lift_ppm == n_ab * S * 1_000_000 // (per[a] * per[b])
        want_pmi = math.floor(
            round(math.log((float(n_ab) * S) / (float(per[a]) * per[b])), 6)
            * 1_000_000 + 0.5)
        assert r.pmi_micro == want_pmi


def test_minmax_skipping_never_drops_matches(spark, sf_dir):
    """Safety invariant of min-max pruning: a pruned file can contain
    NO matching row — so rows_matching <= rows_scanned — and the
    manifest counts match a brute-force per-file replay."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderdate", "o_custkey", "o_totalprice").collect())
    byfile = defaultdict(list)
    for r in rows:
        mo = str(r.o_orderdate)[:7]
        byfile[(mo, r.o_custkey % 8)].append(
            int(r.o_totalprice * 100 + 0.5))
    got = {r.pred: r for r in
           scaleops.minmax_skipping_audit(spark, sf_dir).collect()}
    for pred, lo in scaleops._SKIP_PREDS:
        r = got[pred]
        pruned = [f for f in byfile.values() if max(f) < lo]
        matches = sum(1 for f in byfile.values() for c in f if c >= lo)
        assert r.n_files == len(byfile)
        assert r.files_pruned == len(pruned)
        assert r.rows_skipped == sum(len(f) for f in pruned)
        assert r.rows_matching == matches
        assert r.rows_matching <= r.rows_scanned
        assert 0 <= r.skip_ppm <= 1_000_000
        assert 0 <= r.waste_ppm <= 1_000_000


def test_containment_planted_quote(spark, tmp_path):
    """A short doc quoted verbatim inside a long one must classify as
    a_in_b with containment 1.0 even though Jaccard is far below the
    near-dup bar; identical docs classify near_dup; unrelated docs
    produce no pair."""
    from spark_kafka_airflow_pipeline_spark.operators import dedup

    quote = " ".join(f"q{i}" for i in range(20))
    host = (" ".join(f"h{i}" for i in range(30)) + " " + quote + " "
            + " ".join(f"t{i}" for i in range(30)))
    twin = " ".join(f"z{i}" for i in range(25))
    other = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, twin), (4, twin), (5, other)],
        "doc_id long, text string")
    df.write.parquet(f"{tmp_path}/documents.parquet")
    rows = {(r.doc_a, r.doc_b): r for r in
            dedup.containment_md5_pairs(spark, str(tmp_path)).collect()}
    q = rows[(1, 2)]
    assert q.relation == "a_in_b"
    assert q.cont_a_ppm == 1_000_000 and q.cont_b_ppm < 500_000
    assert q.jaccard_ppm < 900_000
    t = rows[(3, 4)]
    assert t.relation == "near_dup" and t.jaccard_ppm == 1_000_000
    assert not any(5 in k for k in rows)


def test_ab_welch_python_replay(spark, sf_dir):
    """Welch t / df must match a from-scratch Python computation on the
    same deterministic arm assignment."""
    import math

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .filter(F.col("event_type") == "purchase")
            .select("user_id", "value").collect())
    c = [r.value for r in rows if r.user_id % 2 == 0]
    t_ = [r.value for r in rows if r.user_id % 2 != 0]

    def var(xs):
        n, s, ss = len(xs), sum(xs), sum(x * x for x in xs)
        return (ss - s * s / n) / (n - 1)

    vc, vt = var(c), var(t_)
    mc, mt = sum(c) / len(c), sum(t_) / len(t_)
    se2 = vc / len(c) + vt / len(t_)
    t_stat = (mt - mc) / math.sqrt(se2)
    df = se2 * se2 / ((vc / len(c)) ** 2 / (len(c) - 1)
                      + (vt / len(t_)) ** 2 / (len(t_) - 1))
    got = events.ab_test_welch(spark, sf_dir).collect()[0]
    assert (got.n_c, got.n_t) == (len(c), len(t_))
    assert abs(got.mean_c - mc) < 1e-4 and abs(got.mean_t - mt) < 1e-4
    assert abs(got.t_stat - t_stat) < 1e-4
    assert abs(got.welch_df - df) < max(1e-3, abs(df) * 1e-6)
    assert min(len(c), len(t_)) - 1 <= got.welch_df <= len(c) + len(t_) - 2


def test_cusum_python_replay_and_planted_shift(spark, sf_dir, tmp_path):
    """CUSUM argmax must match a Python replay on real data, and a
    planted level shift must be located exactly."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_type", "ts").collect())
    daily = defaultdict(lambda: defaultdict(int))
    for r in rows:
        daily[r.event_type][str(r.ts.date())] += 1
    got = {r.event_type: r for r in
           events.events_cusum_changepoint(spark, sf_dir).collect()}
    for typ, days in daily.items():
        n, total = len(days), sum(days.values())
        s, best = 0, None
        for k, day in enumerate(sorted(days), start=1):
            s += days[day]
            cu = n * s - k * total
            if best is None or abs(cu) > abs(best[1]):
                best = (day, cu, k, s)
        r = got[typ]
        assert (r.cp_day, r.cusum_scaled, r.k_days) == best[:3], typ
        assert r.pre_mean_micro == best[3] * 1_000_000 // best[2]

    # planted: 10 days at 2/day then 10 days at 20/day -> cp at day 10
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    evs = []
    eid = 0
    for d in range(20):
        for _ in range(2 if d < 10 else 20):
            evs.append((eid, base + dt.timedelta(days=d, minutes=eid % 60),
                        1, "shift", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        evs, "event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string"
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = events.events_cusum_changepoint(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].cp_day == "2024-01-10"
    assert out[0].pre_mean_micro == 2_000_000
    assert out[0].post_mean_micro == 20_000_000


def test_boilerplate_planted_template(spark, tmp_path):
    """A template sentence shared by 3 docs must be flagged in each;
    unique-only docs report zero boilerplate."""
    from spark_kafka_airflow_pipeline_spark.operators import textops

    tpl = "Subscribe to our newsletter"
    docs = [
        (1, f"{tpl}. unique one a. unique one b."),
        (2, f"unique two a! {tpl}? unique two b."),
        (3, f"{tpl}."),
        (4, "totally original four. nothing shared here!"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r for r in
           textops.boilerplate_line_share(spark, str(tmp_path)).collect()}
    assert (got[1].n_sents, got[1].n_boiler) == (3, 1)
    assert (got[2].n_sents, got[2].n_boiler) == (3, 1)
    assert (got[3].n_sents, got[3].n_boiler, got[3].boiler_ppm) == (
        1, 1, 1_000_000)
    assert (got[4].n_sents, got[4].n_boiler, got[4].boiler_ppm) == (2, 0, 0)


def test_session_dwell_consistency(spark, sf_dir):
    """Dwell/bounce stats must reconcile with the sessionizer replay
    used by the PMI test: same session count, entry types from the
    (ts, event_id) order, bounce = single-event session."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts", "event_type").collect())
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    per_entry = defaultdict(lambda: [0, 0, 0, 0])  # sess, bounce, ev, us
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        cur, last = [], None
        sessions = []
        for r in evs:
            if last is None or (r.ts - last).total_seconds() > 1800:
                if cur:
                    sessions.append(cur)
                cur = []
            cur.append(r)
            last = r.ts
        if cur:
            sessions.append(cur)
        for s in sessions:
            st = per_entry[s[0].event_type]
            st[0] += 1
            st[1] += 1 if len(s) == 1 else 0
            st[2] += len(s)
            us = int(s[-1].ts.timestamp() * 1e6) - int(
                s[0].ts.timestamp() * 1e6)
            st[3] += us
    got = {r.entry_type: r for r in
           events.session_dwell_bounce(spark, sf_dir).collect()}
    assert set(got) == set(per_entry)
    for t, (ns, nb, ne, us) in per_entry.items():
        r = got[t]
        assert (r.n_sessions, r.n_bounce, r.n_events) == (ns, nb, ne), t
        assert r.bounce_ppm == nb * 1_000_000 // ns
        assert r.events_per_session_milli == ne * 1000 // ns
        assert abs(r.mean_dwell_us - us // ns) <= 2, t  # float-us jitter


def test_holt_python_replay(spark, sf_dir):
    """The aggregate-lambda fold must reproduce the Holt recursion run
    in plain Python over the same monthly series."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderdate", "o_totalprice").collect())
    monthly = defaultdict(int)
    for r in rows:
        monthly[str(r.o_orderdate)[:7]] += int(r.o_totalprice * 100 + 0.5)

    def tdiv(a, b):  # truncation toward zero, like Spark div / DuckDB //
        q = abs(a) // b
        return q if a >= 0 else -q

    want = {}
    l = b = None
    for mo in sorted(monthly):
        y = monthly[mo]
        if l is None:
            l, b, f = y, 0, y
        else:
            f = l + b
            l_new = tdiv(2 * y + 8 * (l + b), 10)
            b = tdiv(l_new - l + 9 * b, 10)
            l = l_new
        want[mo] = (y, l, b, f, y - f)
    got = {r.month: (r.y_cents, r.level_cents, r.trend_cents,
                     r.forecast_cents, r.err_cents)
           for r in relational_extra.holt_forecast_monthly(
               spark, sf_dir).collect()}
    assert got == want


def test_parquet_footer_stats_matches_duckdb(spark, sf_dir):
    """The distributed footer read must agree with DuckDB's
    parquet_metadata() per (table, row group)."""
    import duckdb

    from spark_kafka_airflow_pipeline_spark.operators.base import TABLES

    got = {(r.tbl, r.rg): r for r in
           scaleops.parquet_footer_stats(spark, sf_dir).collect()}
    con = duckdb.connect()
    n_groups = 0
    for t in TABLES:
        rows = con.execute(f"""
            SELECT row_group_id,
                   MIN(row_group_num_rows),
                   COUNT(*),
                   SUM(total_compressed_size),
                   SUM(total_uncompressed_size)
            FROM parquet_metadata('{sf_dir}/{t}.parquet')
            GROUP BY 1""").fetchall()
        for rg, n_rows, n_cols, comp, unc in rows:
            n_groups += 1
            r = got[(t, rg)]
            assert (r.n_rows, r.n_cols) == (n_rows, n_cols), (t, rg)
            assert (r.compressed_bytes, r.uncompressed_bytes) == (comp, unc)
            assert r.compression_ppm == comp * 1_000_000 // unc
    assert len(got) == n_groups


def test_streaming_upsert_multibatch_and_state(spark, sf_dir):
    """The upsert sink must run one micro-batch per source file (4) and
    end holding exactly the per-user argmax row."""
    from spark_kafka_airflow_pipeline_spark.streaming import pipelines

    log: list = []
    out = {r.user_id: (r.last_event_id, r.last_ts_us, r.last_type)
           for r in pipelines.streaming_foreachbatch_upsert(
               spark, sf_dir, _batch_log=log).collect()}
    assert sorted(log) == [0, 1, 2, 3]
    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts", "event_type").collect())
    want = {}
    for r in rows:
        k = (r.ts, r.event_id)
        if r.user_id not in want or k > want[r.user_id][0]:
            want[r.user_id] = (k, r.event_id, r.event_type)
    assert set(out) == set(want)
    for uid, (_, eid, typ) in want.items():
        assert out[uid][0] == eid and out[uid][2] == typ, uid


def test_link_prediction_invariants(spark, sf_dir):
    """Predicted pairs must be NON-edges with truly shared neighbors;
    Jaccard/AA must match a NetworkX-free Python replay on the same
    capped wedge rule."""
    import math
    from collections import defaultdict

    from spark_kafka_airflow_pipeline_spark.operators import graphops

    edges = {(r.src, r.dst) for r in
             graphops._supplier_topk_edges(spark, sf_dir).collect()}
    nbrs = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
        nbrs[d].add(s)
    got = graphops.link_prediction_jaccard(spark, sf_dir).collect()
    assert got and len(got) <= 20
    for r in got:
        assert r.v not in nbrs[r.u]  # non-edge
        common = {z for z in nbrs[r.u] & nbrs[r.v]
                  if len(nbrs[z]) <= graphops.WEDGE_CAP}
        assert r.n_common == len(common), (r.u, r.v)
        assert (r.deg_u, r.deg_v) == (len(nbrs[r.u]), len(nbrs[r.v]))
        assert r.jaccard_ppm == len(common) * 1_000_000 // (
            len(nbrs[r.u]) + len(nbrs[r.v]) - len(common))
        aa = sum(math.floor(1_000_000 / round(math.log(len(nbrs[z])), 6)
                            + 0.5) for z in common)
        assert r.aa_micro == aa
    ranks = [r.rank for r in got]
    assert ranks == sorted(ranks) and ranks[0] == 1


def test_systematic_sample_spacing(spark, sf_dir):
    """Picks must be exactly every 20th rank of the md5 order: n_docs
    div-20 rounded up, ranks 1, 21, 41, ..."""
    rows = scaleops.systematic_sample_every_k(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == (n + 19) // 20
    assert sorted(r.pick_rank for r in rows) == list(
        range(1, n + 1, 20))
    assert len({r.doc_id for r in rows}) == len(rows)


def test_watermark_planner_python_replay(spark, sf_dir):
    """Disorder and candidate drop counts must match an arrival-order
    replay, and drop rates must be monotone in the delay."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id", "event_id", "ts").collect())
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    lates = []
    for evs in by_user.values():
        evs.sort(key=lambda r: r.event_id)
        mx = None
        for r in evs:
            us = int(r.ts.timestamp() * 1e6)
            lates.append(max(mx - us, 0) if mx is not None else 0)
            mx = us if mx is None else max(mx, us)
    got = {r.delay: r for r in
           events.watermark_delay_planner(spark, sf_dir).collect()}
    assert set(got) == {c for c, _ in events._WM_CANDIDATES}
    for cand, d_us in events._WM_CANDIDATES:
        r = got[cand]
        want = sum(1 for x in lates if x > d_us)
        assert r.n_events == len(lates)
        assert r.n_dropped == want, cand
        assert abs(r.max_late_us - max(lates)) <= 2  # float-us jitter
    drops = [got[c].n_dropped for c, _ in events._WM_CANDIDATES]
    assert drops == sorted(drops, reverse=True)


def test_sql_udf_is_inlined(spark, sf_dir):
    """The SQL UDF must be inlined by Catalyst: no Python UDF node in
    the optimized plan, and the tier rule must match a direct CASE."""
    df = relational_extra.sql_udf_order_tiers(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    got = {r.tier: r.n_orders for r in df.collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {r[0]: r[1] for r in o.groupBy(
        F.when(F.col("o_totalprice") >= 300000, "platinum")
        .when(F.col("o_totalprice") >= 150000, "gold")
        .otherwise("standard")).count().collect()}
    assert got == want


def test_observe_is_semantically_invisible(spark, sf_dir):
    """observe() metrics must equal the plain aggregate over the same
    filter."""
    got = relational_extra.observed_scan_metrics(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_quantity") < 24)
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    want = li.agg(F.count(F.lit(1)), F.sum(cents), F.min(cents),
                  F.max(cents)).collect()[0]
    assert tuple(got) == tuple(want)


def test_golden_record_field_survivorship(spark, tmp_path):
    """Field-level rules: id from the OLDEST member, text length from
    the LONGEST, langs unioned — assembled from different members."""
    from spark_kafka_airflow_pipeline_spark.operators import dedup

    docs = [
        (10, "en", "web", "Hello   World"),          # oldest, short
        (20, "fr", "books", "hello world"),          # mid
        (30, "de", "web", "HELLO  WORLD"),           # longest (13? no)
        (40, "en", "web", "totally different text"),
    ]
    # raw lengths: 13, 11, 12 -> longest is doc 10 (13 chars)
    spark.createDataFrame(
        docs, "doc_id long, lang string, source string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = dedup.golden_record_merge(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.golden_doc_id == 10
    assert r.longest_doc_id == 10 and r.longest_len == 13
    assert r.langs == "de,en,fr"
    assert (r.n_sources, r.n_members) == (2, 3)


def test_incremental_ivf_consistency(spark, sf_dir):
    """Cells must partition both populations exactly, new vectors must
    be ~1/9th of base (the % 10 split), and every cell row exists."""
    from spark_kafka_airflow_pipeline_spark.operators import similarity

    rows = similarity.incremental_ivf_assign(spark, sf_dir).collect()
    assert {r.cell_id for r in rows} == set(range(8))
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_new = sum(r.new_n for r in rows)
    n_base = sum(r.base_n for r in rows)
    assert n_base + n_new == n
    assert n_new == (n + 9) // 10
    for r in rows:
        assert r.growth_ppm == r.new_n * 1_000_000 // max(r.base_n, 1)
        assert r.base_msd >= 0 and r.new_msd >= 0


def test_sparse_cosine_planted_twins(spark, tmp_path):
    """Two docs sharing their rare vocabulary must rank first with
    cosine near 1; docs sharing nothing must not pair."""
    from spark_kafka_airflow_pipeline_spark.operators import textops

    twin = "quantum flux capacitor resonance matrix"
    docs = [(1, twin), (2, twin),
            (3, "completely different words entirely here"),
            (4, "another unrelated set of tokens again"),
            # shared rare term so doc 3/4 also pair, but weakly
            (5, "different unrelated filler filler filler")]
    spark.createDataFrame(docs, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    rows = textops.sparse_cosine_pairs(spark, str(tmp_path)).collect()
    by_pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert rows[0].doc_a == 1 and rows[0].doc_b == 2
    assert rows[0].cosine > 0.99 and rows[0].rank == 1
    assert (1, 3) not in by_pair and (2, 4) not in by_pair
    for r in rows:
        assert 0 <= r.cosine <= 1.000001


def test_seasonal_anomaly_planted_spike(spark, tmp_path):
    """A flat weekly pattern with one spiked Tuesday must flag exactly
    that day after dow adjustment (quiet weekends stay unflagged)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)  # a Monday
    evs, eid = [], 0
    for d in range(28):
        day = base + dt.timedelta(days=d)
        n = 20 if day.weekday() < 5 else 4  # quiet weekends by design
        if d == 15:  # a Tuesday
            n = 200
        for _ in range(n):
            evs.append((eid, day + dt.timedelta(minutes=eid % 600),
                        1, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        evs, "event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string"
    ).write.parquet(f"{tmp_path}/events.parquet")
    rows = {r.day: r for r in
            events.seasonal_adjusted_anomalies(spark, str(tmp_path))
            .collect()}
    flagged = [d for d, r in rows.items() if r.is_anomaly == 1]
    assert flagged == ["2024-01-16"]
    # weekends normalize to ~1e6 ppm like weekdays: seasonality removed
    assert rows["2024-01-06"].is_anomaly == 0
    assert abs(rows["2024-01-06"].res_ppm - 1_000_000) < 60_000


def test_streaming_upsert_empty_source(spark, tmp_path):
    """Zero events -> zero micro-batches -> empty frame with the
    declared schema, not a missing-state crash."""
    from spark_kafka_airflow_pipeline_spark.streaming import pipelines

    spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = pipelines.streaming_foreachbatch_upsert(spark, str(tmp_path))
    assert out.columns == ["user_id", "last_event_id", "last_ts_us",
                           "last_type", "last_cents"]
    assert out.count() == 0


def test_freshness_planted_stale_type(spark, tmp_path):
    """A type last seen 7h before the stream head must band 'breached';
    one 2h behind bands 'stale'; the head type is 'fresh'."""
    import datetime as dt

    head = dt.datetime(2024, 3, 1, 12, 0, 0)
    evs = [(1, head, 1, "view", 1.0, "{}"),
           (2, head - dt.timedelta(hours=2), 1, "click", 1.0, "{}"),
           (3, head - dt.timedelta(hours=7), 1, "signup", 1.0, "{}"),
           (4, head - dt.timedelta(minutes=10), 2, "view", 1.0, "{}")]
    spark.createDataFrame(
        evs, "event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string"
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {r.event_type: (r.lag_minutes, r.sla_band) for r in
           events.freshness_sla_audit(spark, str(tmp_path)).collect()}
    assert got == {"view": (0, "fresh"), "click": (120, "stale"),
                   "signup": (420, "breached")}


def test_sequence_gap_planted_holes(spark, tmp_path):
    """Planted holes: ids 0-99 minus {10, 11, 50} -> 3 missing ids in
    2 gap runs; the dense fixture reports zero of each."""
    import datetime as dt

    ids = [i for i in range(100) if i not in (10, 11, 50)]
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, base, 1, "view", 1.0, "{}") for i in ids],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).write.parquet(f"{tmp_path}/events.parquet")
    r = scaleops.sequence_gap_audit(spark, str(tmp_path)).collect()[0]
    assert (r.n_rows, r.min_id, r.max_id) == (97, 0, 99)
    assert (r.n_missing, r.n_gap_runs) == (3, 2)


def test_sequence_gap_dense_fixture(spark, sf_dir):
    r = scaleops.sequence_gap_audit(spark, sf_dir).collect()[0]
    assert r.n_missing == 0 and r.n_gap_runs == 0


def test_target_loo_excludes_self(spark, sf_dir):
    """LOO property: per type, sum(loo_micro over rows) relates to the
    type mean; each row's encoding equals the peers-only mean."""
    from collections import defaultdict

    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "event_type", "value").collect())
    per = defaultdict(lambda: [0, 0])
    cents = {}
    for r in rows:
        c = int(r.value * 100 + 0.5)
        cents[r.event_id] = c
        per[r.event_type][0] += 1
        per[r.event_type][1] += c
    got = {r.event_id: r for r in
           events.target_encode_loo(spark, sf_dir).collect()}
    for r in rows:
        n, s = per[r.event_type]
        g = got[r.event_id]
        assert g.cents == cents[r.event_id]
        if n == 1:
            assert g.loo_micro is None
        else:
            assert g.loo_micro == (s - cents[r.event_id]) * 1_000_000 // (
                n - 1)


def test_cv_folds_stable_and_partitioning(spark, sf_dir):
    """Fold cells must partition the corpus; fold of a given doc_id is
    a pure hash (stable under corpus growth by construction)."""
    from spark_kafka_airflow_pipeline_spark.operators import textops

    rows = textops.cv_fold_balance(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n
    assert {r.fold for r in rows} <= set(range(5))
    for r in rows:
        assert r.skew_ppm == abs(r.fold_share_ppm - r.corpus_share_ppm)
        assert r.skew_ppm < 200_000  # hash dealing: no gross imbalance


def test_phash_near_dup_property(spark, tmp_path):
    """dHash locality: identical payloads hash identically; a small
    local edit moves few of the 60 bits (banded pairing still matches
    on >= 1 band); unrelated payloads differ in many bits."""
    from spark_kafka_airflow_pipeline_spark.operators import multimodal

    base = "the quick brown fox jumps over the lazy dog " * 20
    near = base.replace("lazy", "hazy")  # one local byte-level edit
    other = "zyxwvutsrqponmlkjihgfedcba " * 30
    spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r for r in
           multimodal.multimodal_phash(spark, str(tmp_path)).collect()}
    assert got[1].phash == got[2].phash
    ham_near = bin(got[1].phash ^ got[3].phash).count("1")
    ham_far = bin(got[1].phash ^ got[4].phash).count("1")
    assert ham_near <= 12 and ham_far > ham_near
    bands = lambda r: (r.b0, r.b1, r.b2, r.b3)  # noqa: E731
    assert any(a == b for a, b in zip(bands(got[1]), bands(got[3])))
    for r in got.values():
        assert 0 <= r.phash < (1 << 60)


def test_upsert_sink_batch_merge_and_idempotence(spark, tmp_path):
    """The batch upsert sink must merge consecutive writes to the
    per-key argmax, and re-writing the same frame must be a no-op
    (idempotence — the exactly-once-semantics property)."""
    from spark_kafka_airflow_pipeline_spark.io.sinks import write_sink
    from spark_kafka_airflow_pipeline_spark.metadata import Sink

    sink = Sink(input="x", name="st", paths=[str(tmp_path)],
                format="upsert", saveMode="append",
                options={"keys": "k", "orderBy": "v,seq"})
    b1 = spark.createDataFrame(
        [(1, 10, 1), (2, 5, 2)], "k long, v long, seq long")
    b2 = spark.createDataFrame(
        [(1, 7, 3), (3, 9, 4)], "k long, v long, seq long")
    write_sink(b1, sink)
    write_sink(b2, sink)
    got = {r.k: (r.v, r.seq) for r in
           spark.read.parquet(f"{tmp_path}/st").collect()}
    assert got == {1: (10, 1), 2: (5, 2), 3: (9, 4)}  # max-v wins
    write_sink(b2, sink)  # redelivery
    again = {r.k: (r.v, r.seq) for r in
             spark.read.parquet(f"{tmp_path}/st").collect()}
    assert again == got


def test_k_anonymity_python_replay(spark, sf_dir):
    """Band populations must match a Python QI-grouping replay and
    partition the corpus."""
    from collections import Counter

    from spark_kafka_airflow_pipeline_spark.operators import textops

    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("lang", "source", "n_chars").collect())
    sizes = Counter((r.lang, r.source, r.n_chars // 100) for r in rows)

    def band(g):
        return ("1_unique" if g == 1 else "2_small(2-4)" if g < 5
                else "3_medium(5-19)" if g < 20 else "4_anonymous(20+)")

    want = Counter()
    docs = Counter()
    for g in sizes.values():
        want[band(g)] += 1
        docs[band(g)] += g
    got = {r.risk_band: r for r in
           textops.k_anonymity_audit(spark, sf_dir).collect()}
    assert {b: r.n_groups for b, r in got.items()} == dict(want)
    assert {b: r.n_docs for b, r in got.items()} == dict(docs)
    assert sum(r.n_docs for r in got.values()) == len(rows)


def test_weighted_median_equals_expansion(spark, sf_dir):
    """percentile(col, p, frequency) must equal plain percentiles over
    the weight-expanded multiset (Python replay)."""
    import statistics

    rows = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_returnflag", "l_extendedprice", "l_quantity")
            .collect())
    expanded = {}
    weights = {}
    for r in rows:
        c2 = int(r.l_extendedprice / r.l_quantity * 100 + 0.5) * 2
        w = int(r.l_quantity)
        expanded.setdefault(r.l_returnflag, []).extend([c2] * w)
        weights[r.l_returnflag] = weights.get(r.l_returnflag, 0) + w
    got = {r.l_returnflag: r for r in
           scaleops.weighted_median_price(spark, sf_dir).collect()}
    for flag, xs in expanded.items():
        xs.sort()
        r = got[flag]
        assert r.units == weights[flag]
        assert r.p50_x2 == int(statistics.median(xs))
        # quartiles: linear-interpolation definition both engines use
        def q(p):
            n = len(xs)
            idx = (n - 1) * p
            lo, hi = int(idx), min(int(idx) + 1, n - 1)
            return xs[lo] + (idx - lo) * (xs[hi] - xs[lo])
        assert r.p25_x2 == int(q(0.25))
        assert r.p75_x2 == int(q(0.75))

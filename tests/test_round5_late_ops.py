"""Invariant tests for the late-round-5 operators (oracle parity is
covered by test_oracle_parity's sweep; these pin semantic properties
the hash compare alone would not explain) + driver-window bookkeeping.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from spark_kafka_airflow_pipeline_spark.operators import (
    events,
    textops,
    warehouse,
)


def test_window_priority_bookkeeping():
    """Window priority is exactly the driver's 50-slot window: 50 real
    queries at the front of queries(), none of them exempt."""
    from scripts import rotate_window as rw

    names = list(entry_mod.queries())
    assert len(entry_mod._WINDOW_PRIORITY) == 50
    assert names[:50] == list(entry_mod._WINDOW_PRIORITY)
    assert not rw.EXEMPT & set(entry_mod._WINDOW_PRIORITY)


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    rows = events.event_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_from: dict[str, float] = {}
    for r in rows:
        assert 0.0 <= r.p <= 1.0
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
    for ft, total in by_from.items():
        assert abs(total - 1.0) < 1e-4, (ft, total)


def test_drift_chi2_bounds(spark, sf_dir):
    rows = events.events_drift_chi2(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # chi-square distance with this normalization is bounded by 2
        assert 0.0 <= r.chi2_drift <= 2.0, r
        assert r.n_h1 > 0 and r.n_h2 > 0  # midpoint split is two-sided


def test_snapshot_diff_classification_counts(spark, sf_dir):
    """The synthetic snapshots are modular-arithmetic-defined, so the
    class counts are checkable directly against the key universe."""
    rows = {r.change_type: r for r in
            warehouse.snapshot_diff_cdc(spark, sf_dir).collect()}
    keys = [r.o_orderkey for r in
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderkey").collect()]
    ins = sum(1 for k in keys if k % 5 == 0 and k % 7 != 0)
    dele = sum(1 for k in keys if k % 5 != 0 and k % 7 == 0)
    upd = sum(1 for k in keys if k % 5 != 0 and k % 7 != 0 and k % 3 == 0)
    unch = sum(1 for k in keys if k % 5 != 0 and k % 7 != 0 and k % 3 != 0)
    assert rows["insert"].n_rows == ins
    assert rows["delete"].n_rows == dele
    assert rows["update"].n_rows == upd
    assert rows["unchanged"].n_rows == unch
    # updates are +100 cents each, exactly (integer-cents discipline)
    assert rows["update"].price_delta_cents == 100 * upd
    assert rows["unchanged"].price_delta_cents == 0


def test_gopher_rule_counts_bounded(spark, sf_dir):
    for r in textops.gopher_quality_rules(spark, sf_dir).collect():
        fails = [r.fail_word_count, r.fail_mean_word_len,
                 r.fail_symbol_ratio, r.fail_bullet_lines,
                 r.fail_alpha_words, r.fail_stopwords]
        assert all(0 <= f <= r.n_docs for f in fails)
        # a doc passing all rules fails none
        assert r.n_pass_all <= r.n_docs - max(fails)


def test_grouped_sample_exactly_k_per_group(spark, sf_dir):
    rows = textops.grouped_sample_topk(spark, sf_dir).collect()
    per_group: dict[str, int] = {}
    for r in rows:
        per_group[r.source] = per_group.get(r.source, 0) + 1
        assert 1 <= r.draw_rank <= 5
    assert per_group and all(v <= 5 for v in per_group.values())


def test_python_datasource_partition_planning(spark):
    """The custom source must split into the declared InputPartitions
    (wide scheduling), and rows must be the documented md5 function."""
    import hashlib

    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    df = (spark.read.format("seqgen")
          .option("n", "100").option("partitions", "4").load())
    assert df.rdd.getNumPartitions() == 4
    rows = {r.id: (r.tag, r.bucket) for r in df.collect()}
    assert len(rows) == 100
    h = hashlib.md5(b"42").hexdigest()
    assert rows[42] == (h[:8], int(h[0], 16))


def test_python_datasource_jsonl_writer_roundtrip(spark, sf_dir, tmp_path):
    """The writer half of the V2 Python API: write via the custom
    jsonlpy sink, read back with the built-in JSON reader, contents
    must round-trip exactly."""
    from pyspark.sql import functions as F

    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    src = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select("c_custkey", "c_mktsegment").limit(50))
    out = str(tmp_path / "jsonl_out")
    (src.write.format("jsonlpy").option("path", out).mode("append").save())
    back = spark.read.json(out)
    a = {(r.c_custkey, r.c_mktsegment) for r in src.collect()}
    b = {(r.c_custkey, r.c_mktsegment) for r in back.collect()}
    assert a == b and a
    files = list((tmp_path / "jsonl_out").glob("part-*.jsonl"))
    assert files, "writer produced no part files"


def test_python_datasource_jsonl_overwrite_clears_stale_parts(
        spark, sf_dir, tmp_path):
    """mode('overwrite') on the custom sink must not leak part files
    from an earlier, wider write (stale tails would silently inflate
    the result)."""
    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    out = str(tmp_path / "ow")
    wide = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey").limit(40).repartition(8))
    wide.write.format("jsonlpy").option("path", out).mode("append").save()
    narrow = (spark.read.parquet(f"{sf_dir}/customer.parquet")
              .select("c_custkey").limit(10).coalesce(1))
    narrow.write.format("jsonlpy").option("path", out) \
        .mode("overwrite").save()
    back = spark.read.json(out)
    assert back.count() == 10


def test_python_datasource_failed_overwrite_keeps_previous(
        spark, sf_dir, tmp_path):
    """Two-phase commit (ADVICE r5): overwrite deletes the previous
    result only in commit(), AFTER every task succeeded — so a failing
    overwrite job must leave the old output byte-identical, and no
    staging .tmp files behind."""
    import pytest
    from pyspark.sql import functions as F

    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    out = str(tmp_path / "tp")
    good = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey").limit(10).coalesce(1))
    good.write.format("jsonlpy").option("path", out).mode("append").save()
    before = sorted(p.read_text() for p in
                    (tmp_path / "tp").glob("part-*.jsonl"))
    bad = good.select(F.expr("assert_true(c_custkey < 0)").alias("boom"),
                      "c_custkey")
    with pytest.raises(Exception):
        bad.write.format("jsonlpy").option("path", out) \
            .mode("overwrite").save()
    after = sorted(p.read_text() for p in
                   (tmp_path / "tp").glob("part-*.jsonl"))
    assert after == before, "failed overwrite destroyed previous output"
    assert not list((tmp_path / "tp").glob(".part-*.tmp")), \
        "staging files leaked"


def test_python_datasource_empty_range(spark):
    """n=0 declares ONE empty InputPartition (the API requires a
    nonempty split list) — the scan is empty, not an error."""
    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    df = spark.read.format("seqgen").option("n", "0").load()
    assert df.count() == 0


def test_pagerank_empty_edges(spark):
    import spark_kafka_airflow_pipeline_spark.operators.graphops as g

    empty = spark.createDataFrame([], "src long, dst long, w double")
    assert g.pagerank_over_edges(empty, iters=1).count() == 0


def test_python_stream_reader_offsets():
    """Multi-batch offset progression of the custom streaming reader:
    initialOffset -> read x4 covers the range exactly once, and
    readBetweenOffsets replays any batch identically (the recovery
    contract)."""
    from spark_kafka_airflow_pipeline_spark.io.pydatasource import (
        _SeqStreamReader,
    )

    r = _SeqStreamReader({"n": "1000", "batch": "250"})
    off = r.initialOffset()
    seen = []
    batches = []
    for _ in range(4):
        it, nxt = r.read(off)
        rows = list(it)
        batches.append((off, nxt, rows))
        seen.extend(rows)
        off = nxt
    assert off == {"i": 1000}
    assert [x[0] for x in seen] == list(range(1000))
    # replay: every batch reproduces bit-identically from its offsets
    for start, end, rows in batches:
        assert list(r.readBetweenOffsets(start, end)) == rows


def test_asof_arrow_kernel_equals_pandas_kernel():
    """The Arrow as-of kernel (numpy segmented ffill) must agree with
    the pandas kernel on random inputs — duplicate timestamps, users
    with no clicks, clicks-only users, empty purchase side."""
    import random

    import pandas as pd
    import pyarrow as pa

    from spark_kafka_airflow_pipeline_spark.operators.events import (
        _asof_cogroup_arrow_kernel,
        _asof_cogroup_kernel,
    )

    for seed in (5, 23, 77, 123):
        rng = random.Random(seed)
        eid = 0
        p_rows, c_rows = [], []
        for user in range(rng.randint(1, 6)):
            for _ in range(rng.randint(0, 8)):
                eid += 1
                row = {"user_id": user, "event_id": eid,
                       # coarse ts -> deliberate duplicates
                       "ts": pd.Timestamp(2024, 1, 1)
                       + pd.Timedelta(seconds=rng.randint(0, 5)),
                       "value": round(rng.random() * 100, 2)}
                (p_rows if rng.random() < 0.4 else c_rows).append(row)
        cols = ["user_id", "event_id", "ts", "value"]
        p = pd.DataFrame(p_rows, columns=cols)
        c = pd.DataFrame(c_rows, columns=cols)
        want = _asof_cogroup_kernel(p, c)
        got = _asof_cogroup_arrow_kernel(
            pa.Table.from_pandas(p, preserve_index=False),
            pa.Table.from_pandas(c, preserve_index=False)).to_pandas()

        def canon(df):
            return sorted(
                (int(r.user_id), int(r.event_id),
                 None if pd.isna(r.last_click_value)
                 else round(float(r.last_click_value), 9))
                for r in df.itertuples())

        assert canon(got) == canon(want), seed


def test_token_lift_support_and_symmetry(spark, sf_dir):
    rows = textops.token_lift_pairs(spark, sf_dir).collect()
    for r in rows:
        assert r.w1 < r.w2          # canonical orientation, no dup pairs
        assert r.n_xy >= 20
        assert r.lift > 0


def test_rotate_window_prints_queue():
    """`python scripts/rotate_window.py` prints the computed queue, one
    name a line, in build_queue order."""
    import subprocess

    from scripts import rotate_window as rw

    out = subprocess.run([sys.executable, str(rw.REPO / "scripts" /
                                              "rotate_window.py")],
                         capture_output=True, text=True, check=True,
                         cwd=rw.REPO).stdout
    assert tuple(out.splitlines()) == rw.build_queue(
        set(entry_mod.queries()), set(entry_mod._WINDOW_PRIORITY),
        rw.latest_rounds())


def test_rotate_window_apply_roundtrip(tmp_path, monkeypatch):
    """`rotate_window.py --apply` on a copy of the real entry file
    refuses while a window name lacks a row in the newest CORRECTNESS
    file (rotating then would re-queue the outgoing window at the
    front). Once the driver has recorded the window it puts exactly
    the old queue's first 50 in the new window and at the front of
    queries(), and the outgoing window sits at the queue's tail. Both
    legs shim latest_rounds, so the test never depends on which
    CORRECTNESS files happen to exist on disk."""
    import shutil

    from scripts import rotate_window as rw

    tmp_entry = tmp_path / "entry_rotated.py"
    shutil.copy(rw.ENTRY, tmp_entry)
    monkeypatch.setattr(rw, "ENTRY", tmp_entry)
    old_window = entry_mod._WINDOW_PRIORITY
    real = rw.latest_rounds()
    landed_round = max(real.values(), default=0) + 1

    # refusal leg: one window name has no row in the newest file
    pending = {**real, **{n: landed_round for n in old_window[1:]}}
    monkeypatch.setattr(rw, "latest_rounds", lambda: pending)
    with pytest.raises(SystemExit, match="refusing to rotate"):
        rw.apply()
    assert tmp_entry.read_text() == rw.REPO.joinpath(
        "__spark_entry__.py").read_text()

    # the driver records the whole outgoing window
    landed = {**real, **{n: landed_round for n in old_window}}
    monkeypatch.setattr(rw, "latest_rounds", lambda: landed)
    old_queue = rw.queue(landed)
    rw.apply()
    after = rw._load_entry(tmp_entry)
    assert after._WINDOW_PRIORITY == old_queue[:50]
    assert list(after.queries())[:50] == list(after._WINDOW_PRIORITY)
    new_queue = rw.queue(landed)
    assert set(new_queue[-50:]) == set(old_window)


def test_refresh_sla_matches_pool_arithmetic():
    """The declared refresh SLA must equal what the pool arithmetic
    supports: ceil(rotating_pool / 50 window slots) rounds. The r10
    verdict found the previous 6-round wording was breached BY
    CONSTRUCTION (334 queries / 50 slots = 6.7-round cycle); the SLA is
    now declared as `_REFRESH_SLA_ROUNDS = 7`, and this test forces an
    explicit restatement (instead of a silent perpetual breach) if the
    pool ever grows past 350 or shrinks below 301."""
    import math

    from scripts import rotate_window as rw

    # The pinned-once exemption list is pinned BY NAME (r15 verdict ask
    # #3): the SLA arithmetic alone pins only the pool SIZE, so a
    # fourth silently-added exemption could shrink the rotating pool
    # unnoticed (334 - 4 = 330 names still ceil to 7 rounds). Each of
    # these three is a rows-only row adjudicated once, with a pytest
    # property check standing in for the missing DuckDB oracle — adding
    # a name here requires the same adjudication, so the set drifting
    # must fail loudly.
    assert rw.EXEMPT == {
        "embedding_principal_component",
        "parquet_footer_stats",
        "approx_distinct_customers",
    }
    # and every exemption must be a real queries() entry that is NOT
    # burning a window slot (an exempt name in the window would defeat
    # the slot-waste rationale the exemption exists for)
    assert rw.EXEMPT <= set(entry_mod.queries())
    assert not rw.EXEMPT & set(entry_mod._WINDOW_PRIORITY)
    rotating = len(set(entry_mod.queries()) - rw.EXEMPT)
    assert math.ceil(rotating / len(entry_mod._WINDOW_PRIORITY)) \
        == entry_mod._REFRESH_SLA_ROUNDS


def test_bench_shuffle_partition_rule(tmp_path):
    """bench.py's data-sized (not core-sized) pre-AQE shuffle rule:
    one partition per ~16 MiB of on-disk parquet, floored at 8 and
    capped at 4096 — the same arithmetic that yields thousands of
    partitions at 100 TB. Pinned so a refactor can't silently revert
    to core-count sizing (measured 25% slower at sf0.1)."""
    import bench

    # empty dir -> floor
    assert bench._scaled_shuffle_partitions(str(tmp_path)) == 8
    # 160 MiB of files -> 10 partitions
    for i in range(10):
        (tmp_path / f"t{i}.parquet").write_bytes(b"\0" * (16 << 20))
    assert bench._scaled_shuffle_partitions(str(tmp_path)) == 10
    # the real bench dir obeys floor/cap — on a host without the
    # dataset this would degrade to a tautology (empty glob -> floor
    # passes trivially), so skip loudly instead (r11 ADVICE); the
    # tmp_path cases above already pin the rule itself
    if not Path("/root/testdata/sf0.1").is_dir():
        pytest.skip("/root/testdata/sf0.1 absent on this host")
    n = bench._scaled_shuffle_partitions("/root/testdata/sf0.1")
    assert 8 <= n <= 4096


def test_bench_quiet_gate_bands(monkeypatch):
    """bench.py --quiet-gate refuses to record on a loaded host (r12
    verdict ask #6: the r9 and r12 'regressions' were both host load,
    each adjudicated away by an idle-host re-bench — gate at the
    source instead). Pins the band predicate AND that every recorded
    driver sentinel draw (r5-r12 history the defaults were derived
    from) sits INSIDE the default bands, so the gate would never have
    blocked a legitimate driver recording. The module attrs are pinned
    to the SHIPPED defaults for the duration — a host legitimately
    using the documented SPARK_GRAFT_QUIET_* env overrides must not
    turn this test red (the transient-host-state coupling class)."""
    import bench

    # pin from the single source of truth (r13 ADVICE: hardcoded 0.62/
    # 0.92 copies here would silently validate stale bands if the
    # shipped defaults were ever retuned)
    monkeypatch.setattr(bench, "QUIET_CPU_MAX", bench._DEFAULT_QUIET_CPU_MAX)
    monkeypatch.setattr(bench, "QUIET_SHUFFLE_MAX",
                        bench._DEFAULT_QUIET_SHUFFLE_MAX)
    # worst recorded driver draws (r8 CPU 0.516, r11 shuffle 0.766)
    assert bench._host_is_quiet(0.516, 0.766)
    # either sentinel above its band -> not quiet
    assert not bench._host_is_quiet(0.9, 0.7)
    assert not bench._host_is_quiet(0.4, 1.5)
    # explicit overrides win over the module defaults
    assert bench._host_is_quiet(1.0, 1.0, cpu_max=1.0, shuffle_max=1.0)
    # the derivation history (r5-r12, the rounds the defaults were
    # computed from) stays inside the default bands. FIXED round list,
    # not a glob: future BENCH files are recorded on whatever host load
    # the driver drew — the gate existing is WHY such a draw is fine to
    # land — so asserting over them would couple the suite to transient
    # repo state (the r12 rotation-test lesson).
    for n in range(5, 13):
        p = Path(bench.__file__).parent / f"BENCH_r{n:02d}.json"
        if not p.is_file():
            continue  # derivation rounds may be absent on other hosts
        parsed = json.loads(p.read_text()).get("parsed") or {}
        s, sh = parsed.get("sentinel"), parsed.get("sentinel_shuffle")
        if s is not None and sh is not None:
            assert bench._host_is_quiet(s, sh), p.name

    # steal band (r15 verdict ask #2), pinned against the r15
    # calibration series the default was derived from: quiet draws
    # (0.14 -> 6.358 best-ever, 1.03 -> 7.380 driver) sit inside;
    # the r15-observed bursts that motivated the gate (9.74 -> 8.500,
    # 12.2 -> 8.972 judge, 22.72 -> the 2.8x burst) sit outside
    monkeypatch.setattr(bench, "QUIET_STEAL_MAX",
                        bench._DEFAULT_QUIET_STEAL_MAX)
    assert bench._steal_is_quiet(None)  # no /proc/stat: nothing to gate
    assert bench._steal_is_quiet(0.14)
    assert bench._steal_is_quiet(1.03)
    assert not bench._steal_is_quiet(9.74)
    assert not bench._steal_is_quiet(12.2)
    assert not bench._steal_is_quiet(22.72)
    # explicit override wins over the module default
    assert bench._steal_is_quiet(10.0, steal_max=10.0)
    # the only driver BENCH recorded with steal_sec so far (r15, 1.03)
    # must sit inside the default band — the gate would never have
    # blocked that legitimate recording. FIXED round list, same
    # transient-repo-state rationale as the sentinel loop above.
    p = Path(bench.__file__).parent / "BENCH_r15.json"
    if p.is_file():
        steal = (json.loads(p.read_text()).get("parsed") or {}).get(
            "steal_sec")
        if steal is not None:
            assert bench._steal_is_quiet(steal), steal


def test_bench_clock_ticks_portable(monkeypatch):
    """steal_sec tick scaling must come from os.sysconf('SC_CLK_TCK'),
    not a hardcoded 100 (r15 ADVICE: USER_HZ is almost always 100, but
    a mismatched kernel would silently mis-scale every recorded
    steal_sec the band was calibrated from), with 100.0 only as the
    fallback where sysconf is unavailable, errors, or reads
    nonsensical."""
    import os

    import bench

    # on this host the helper must agree with the real sysconf value
    assert bench._clock_ticks_per_sec() == float(os.sysconf("SC_CLK_TCK"))
    # a non-100 kernel value is used as-is, not rounded to 100
    monkeypatch.setattr(bench.os, "sysconf", lambda name: 250)
    assert bench._clock_ticks_per_sec() == 250.0

    def boom(name):
        raise OSError("sysconf unavailable")

    monkeypatch.setattr(bench.os, "sysconf", boom)
    assert bench._clock_ticks_per_sec() == 100.0
    # sysconf returning -1 (valueless key) must not flip the sign of
    # every steal reading
    monkeypatch.setattr(bench.os, "sysconf", lambda name: -1)
    assert bench._clock_ticks_per_sec() == 100.0
    # the reader itself stays well-defined on this Linux host
    if Path("/proc/stat").is_file():
        monkeypatch.undo()
        steal = bench._cpu_steal_sec()
        assert steal is not None and steal >= 0.0


def _quiet_gate_env(bench, cpu_max=None, shuffle_max=None, steal_max=None):
    """Subprocess env for the quiet-gate CLI contract tests: sf0.001 +
    a small JVM + zero cooldown, with the quiet bands pinned — to the
    SHIPPED single-source defaults unless a test overrides them — so a
    host's own SPARK_GRAFT_QUIET_* env can't flip a scripted outcome
    (the transient-host-state coupling class)."""
    import os

    return dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_QUIET_CPU_MAX=str(
            bench._DEFAULT_QUIET_CPU_MAX if cpu_max is None else cpu_max),
        SPARK_GRAFT_QUIET_SHUFFLE_MAX=str(
            bench._DEFAULT_QUIET_SHUFFLE_MAX if shuffle_max is None
            else shuffle_max),
        SPARK_GRAFT_QUIET_STEAL_MAX=str(
            bench._DEFAULT_QUIET_STEAL_MAX if steal_max is None
            else steal_max),
        SPARK_GRAFT_QUIET_COOLDOWN_SEC="0")


def test_bench_quiet_gate_cli_refusal_contract():
    """The --quiet-gate CLI contract the driver relies on (r13 verdict
    ask #6): a refusing gate must exit 3 and emit NO JSON line on
    stdout — the band test above pins the predicate, this pins the
    process boundary. Refusal is forced via the DOCUMENTED env
    overrides (cpu band 0 => every sentinel draw reads "loaded"), so
    the test is host-load-independent in BOTH directions; sf0.001 +
    zero cooldown keep the subprocess to one small JVM and no sleeps."""
    import subprocess

    import bench

    if not Path("/root/testdata/sf0.001").is_dir():
        pytest.skip("/root/testdata/sf0.001 absent on this host")
    env = _quiet_gate_env(bench, cpu_max="0", shuffle_max="0")
    proc = subprocess.run(
        [sys.executable, bench.__file__, "--quiet-gate"],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 3, (proc.returncode, proc.stderr[-2000:])
    json_lines = [ln for ln in proc.stdout.splitlines()
                  if ln.startswith("{")]
    assert not json_lines, json_lines
    assert "refusing to record" in proc.stderr


#: Subprocess driver for the closing-gate contract tests below: the two
#: sentinel functions AND the steal counter are replaced with scripted
#: draws (opening then closing) so the gate outcome is host-load-
#: independent in both directions — once steal is gated (r15 verdict
#: ask #2), real /proc/stat reads could spuriously refuse the scripted
#: happy path on a genuinely steal-bursty CI host — and HEADLINE is cut
#: to one cheap query so the subprocess stays a single small JVM.
#: bench.main() is still entered through the real CLI surface
#: (sys.argv + exit code + stdout/stderr), the boundary the driver
#: relies on.
_CLOSING_GATE_DRIVER = """
import sys
import bench
# exhaustion-tolerant scripted draws: each series holds its LAST value
# once consumed (r18: the per-query steal annotation draws the steal
# counter twice per headline query, between the documented opening and
# closing draws — the scripted series pin the opening/closing pair and
# the extra mid-loop reads see the already-advanced counter, exactly
# like a real /proc/stat)
seqs = {{"cpu": {cpu}, "sh": {sh}, "steal": {steal}}}
draws = {{k: iter(v) for k, v in seqs.items()}}
def _draw(k):
    return next(draws[k], seqs[k][-1])
bench._sentinel_seconds = lambda spark: _draw("cpu")
bench._sentinel_shuffle_seconds = lambda spark: _draw("sh")
bench._cpu_steal_sec = lambda: _draw("steal")
bench.HEADLINE = ["q1_pricing_summary"]
sys.argv = ["bench.py", "--quiet-gate"]
bench.main()
"""


def test_bench_quiet_gate_closing_sentinel_breach():
    """(r14 verdict ask #2) The gate must also refuse when the CLOSING
    sentinel — re-drawn AFTER the query loop — breaches band: judge-
    observed in r14 that a draw passed the opening gate and a mid-run
    load burst (load_avg 0.24 -> 4.3) then inflated the recorded total
    to 10.044 s. Scripted draws: opening pair in-band (gate passes,
    loop runs), closing pair far out of band -> exit 3, no JSON line,
    and the diagnostic names the CLOSING sentinel."""
    import subprocess

    import bench

    if not Path("/root/testdata/sf0.001").is_dir():
        pytest.skip("/root/testdata/sf0.001 absent on this host")
    env = _quiet_gate_env(bench)
    code = _CLOSING_GATE_DRIVER.format(cpu="[0.0, 999.0]",
                                       sh="[0.0, 999.0]",
                                       steal="[0.0, 0.0]")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(Path(bench.__file__).parent))
    assert proc.returncode == 3, (proc.returncode, proc.stderr[-2000:])
    assert not [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")]
    assert "CLOSING sentinel breached band" in proc.stderr
    assert "refusing to record" in proc.stderr
    # steal stayed in band — the refusal must not name it
    assert "integrated host steal breached band" not in proc.stderr
    _assert_refused_record(proc.stderr)


def _assert_refused_record(stderr: str) -> dict:
    """The refusal path must still emit the completed run's would-be
    record as a '#'-prefixed stderr diagnostic (r15 ADVICE: a closing
    breach used to discard the whole paid run, losing exactly the
    steal_sec/timing datapoint the calibration series accumulates).
    Returns the parsed record for further assertions."""
    lines = [ln for ln in stderr.splitlines()
             if ln.startswith("# refused-record: ")]
    assert len(lines) == 1, stderr[-2000:]
    rec = json.loads(lines[0].removeprefix("# refused-record: "))
    # the datapoints the calibration wants must be present
    assert "steal_sec" in rec and "queries" in rec and "value" in rec
    assert "quiet_bands" in rec
    return rec


def test_bench_quiet_gate_steal_breach():
    """(r15 verdict ask #2) The gate must refuse on loop-integrated
    host steal even when all four sentinels read in-band — the exact
    r15-observed blind spot (22.717 s draw, sentinels quiet, steal 12+:
    periodic bursts slip BETWEEN the min-of-3 sentinel reps while long
    queries integrate the full burst). Scripted draws: sentinels all
    in-band, steal counter jumps 999 ticks-seconds across the loop ->
    exit 3, no JSON line, the diagnostic names the steal band, and the
    would-be record still lands on stderr for calibration."""
    import subprocess

    import bench

    if not Path("/root/testdata/sf0.001").is_dir():
        pytest.skip("/root/testdata/sf0.001 absent on this host")
    env = _quiet_gate_env(bench)
    code = _CLOSING_GATE_DRIVER.format(cpu="[0.0, 0.0]", sh="[0.0, 0.0]",
                                       steal="[0.0, 999.0]")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(Path(bench.__file__).parent))
    assert proc.returncode == 3, (proc.returncode, proc.stderr[-2000:])
    assert not [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")]
    assert "integrated host steal breached band" in proc.stderr
    assert "refusing to record" in proc.stderr
    # sentinels stayed in band — the refusal must not name them
    assert "CLOSING sentinel breached band" not in proc.stderr
    rec = _assert_refused_record(proc.stderr)
    assert rec["steal_sec"] == 999.0
    assert rec["quiet_steal"] is False
    assert rec["quiet_close"] is True
    assert rec["quiet_bands"]["steal_max"] == bench._DEFAULT_QUIET_STEAL_MAX


def test_bench_records_opening_and_closing_sentinels():
    """A quiet gated run must RECORD both sentinel pairs in the JSON
    line (r14 verdict ask #2: the closing pair is what makes a noisy
    draw self-describing in the BENCH file). All four scripted draws
    in-band -> exit 0, one JSON line carrying sentinel,
    sentinel_shuffle, sentinel_close, sentinel_shuffle_close and
    quiet_close=True."""
    import subprocess

    import bench

    if not Path("/root/testdata/sf0.001").is_dir():
        pytest.skip("/root/testdata/sf0.001 absent on this host")
    env = _quiet_gate_env(bench)
    code = _CLOSING_GATE_DRIVER.format(cpu="[0.0, 0.0]", sh="[0.0, 0.0]",
                                       steal="[5.0, 5.5]")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(Path(bench.__file__).parent))
    assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
    json_lines = [ln for ln in proc.stdout.splitlines()
                  if ln.startswith("{")]
    assert len(json_lines) == 1, json_lines
    rec = json.loads(json_lines[0])
    assert rec["sentinel"] == 0.0 and rec["sentinel_shuffle"] == 0.0
    assert rec["sentinel_close"] == 0.0
    assert rec["sentinel_shuffle_close"] == 0.0
    assert rec["quiet_close"] is True
    assert "q1_pricing_summary" in rec["queries"]
    # steal is recorded as the DELTA across the loop (scripted 5.0 ->
    # 5.5) and judged quiet against the band; the record also carries
    # the band values it was drawn under (r15 verdict ask #2)
    assert rec["steal_sec"] == 0.5
    assert rec["quiet_steal"] is True
    assert rec["quiet_bands"] == {
        "cpu_max": bench._DEFAULT_QUIET_CPU_MAX,
        "shuffle_max": bench._DEFAULT_QUIET_SHUFFLE_MAX,
        "steal_max": bench._DEFAULT_QUIET_STEAL_MAX,
    }
    # a quiet recording run emits no refused-record diagnostic
    assert "# refused-record:" not in proc.stderr

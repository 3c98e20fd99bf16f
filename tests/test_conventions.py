"""One implementation per numeric convention: the fixed-point log is
``operators.base.ln_micros`` everywhere, it gives the same BIGINTs in
Spark and DuckDB, and the oracles parse md5 hex with the ``'0x'`` cast
only. One copy of each query shape: the windowed aggregate, the
session-id running sum, the purchase-click matched branch and the
classifier-evaluation label are each written once, and only the sink
layer and the memory drain start a stream."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators.base import ln_micros

PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
           / "spark_kafka_airflow_pipeline_spark")

_LN_OPENERS = ("floor(round(ln(", "F.floor(F.round(F.log(")
_HEX_BY_DIGIT = "strpos('0123456789abcdef'"


def _flatten(text: str) -> tuple[str, list[int]]:
    """``text`` without whitespace and quotes (so an expression split
    over several string literals reads as one), plus each kept
    character's line number."""
    chars, lines, line = [], [], 1
    for c in text:
        if c == "\n":
            line += 1
        if not c.isspace() and c not in "\"'":
            chars.append(c)
            lines.append(line)
    return "".join(chars), lines


def _ln_micros_copies(text: str) -> list[int]:
    """Lines that spell out ``floor(round(ln(x), 6) * 1000000 ...)``:
    an opener whose ln argument closes right before ``,6)*1000000``.
    Other rounded-ln forms (bm25's ``* sat``, tf-idf's ``ln(..) + 1``)
    do not match."""
    flat, lines = _flatten(text)
    found = []
    for opener in _LN_OPENERS:
        start = flat.find(opener)
        while start >= 0:
            depth, i = 1, start + len(opener)
            while i < len(flat) and depth:
                depth += {"(": 1, ")": -1}.get(flat[i], 0)
                i += 1
            if flat.startswith(",6)*1000000", i):
                found.append(lines[start])
            start = flat.find(opener, start + 1)
    return found


def test_one_fixed_point_log_and_hex_parse():
    """Pure source scan: outside ``operators/base.py`` no package file
    writes the fixed-point log out by hand, and no oracle parses hex
    digit by digit."""
    copies = sorted(
        (path.relative_to(PACKAGE).as_posix(), line, kind)
        for path in PACKAGE.rglob("*.py")
        if path.relative_to(PACKAGE).as_posix() != "operators/base.py"
        for text in [path.read_text()]
        for line, kind in (
            [(n, "ln") for n in _ln_micros_copies(text)]
            + [(text.count("\n", 0, m.start()) + 1, "hex")
               for m in re.finditer(re.escape(_HEX_BY_DIGIT), text)]))
    assert copies == []


def test_scan_sees_split_copies():
    """The scan catches copies split over string literals and the
    Column-API spelling, and leaves the other rounded-ln forms alone."""
    split = ('F.expr("CAST(floor(round(ln(CAST(n AS DOUBLE)"\n'
             '        " / c), 6) * 1000000.0 + 0.5) AS BIGINT)")\n')
    column = ('F.floor(F.round(F.log(F.col("n") / F.col("c")), 6)\n'
              '        * 1000000.0 + 0.5).cast("bigint")\n')
    tfidf = 'CAST(floor(round(ln((n + 1) / (df + 1)) + 1, 6) * 1000 + 0.5)'
    bm25 = 'floor(round(ln(x), 6) * ((tf * 2.2) / tf) * 1000000.0 + 0.5)'
    assert _ln_micros_copies(split) == [1]
    assert _ln_micros_copies("\n" + column) == [2]
    assert _ln_micros_copies(tfidf) == []
    assert _ln_micros_copies(bm25) == []


def _ratio_sweep() -> list[tuple[int, int]]:
    pairs = [(n, d) for n in range(1, 21) for d in range(1, 21)]
    # large counts: a 100 TB table's row counts and their products
    big = (10 ** 9, 10 ** 12 + 7, 2 ** 53 - 1, 3 * 10 ** 15 + 1)
    pairs += [(n, d) for n in big for d in (1, 3, 10 ** 6, 999_983)]
    pairs += [(d, n) for n in big for d in (1, 3, 10 ** 6, 999_983)]
    # ratios near 1: neighbouring integer-ppm shares
    for p in (2, 17, 1000, 123_457, 500_000, 999_999, 10 ** 6):
        pairs += [(p, p - 1), (p - 1, p), (p, p)]
    # the >= 1 clamp of the PSI shares: a sub-ppm share against its peer
    pairs += [(1, 10 ** 6), (10 ** 6, 1), (1, 1), (1, 999_999)]
    return pairs


def test_ln_micros_same_in_spark_and_duckdb(spark):
    """``ln_micros`` text gives identical BIGINTs in both engines over
    small and large counts, near-1 ratios and the PSI clamp values,
    so no query has to pin the convention on its own."""
    pairs = _ratio_sweep()
    expr = ln_micros("CAST(n AS DOUBLE) / d")
    got_spark = [r[0] for r in spark.createDataFrame(pairs, "n long, d long")
                 .select(F.expr(expr)).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, n BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)",
                    [(i, n, d) for i, (n, d) in enumerate(pairs)])
    got_duck = [r[0] for r in con.execute(
        f"SELECT {expr} FROM t ORDER BY i").fetchall()]
    assert got_spark == got_duck
    assert dict(zip(pairs, got_spark))[(2, 1)] == 693147
    assert dict(zip(pairs, got_spark))[(1, 10 ** 6)] == -13815511


#: (text of a shape with one implementation, the module of its one
#: copy, whether to match it after ``_flatten`` so that a copy split
#: over lines or string literals still counts). The window start is
#: matched as written: the metadata specs spell it as config text.
_ONE_COPY = [
    ('date_format("w.start"', "operators/events.py", False),  # _window_agg
    ("SUM(is_new) OVER", "operators/events.py", True),  # _SQL_SESSION_ID
    ("SELECT p.event_id AS purchase_id, c.event_id AS click_id",
     "streaming/pipelines.py", True),  # _sql_purchase_click
    ("THEN 0 ELSE 1 END AS is_pos", "operators/evalops.py", True),
    ('F.expr("CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END").alias("is_pos")',
     "operators/evalops.py", True),  # _labelled_scores
]


def _stream_starts():
    """``(file, top-level definition)`` of every ``.writeStream``
    attribute in the package's code (docstrings do not count)."""
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for top in ast.parse(path.read_text()).body:
            if any(isinstance(node, ast.Attribute)
                   and node.attr == "writeStream" for node in ast.walk(top)):
                yield rel, getattr(top, "name", None)


def test_one_copy_of_each_query_shape():
    """Each shape of ``_ONE_COPY`` is spelled out once, in its module,
    and only ``io/sinks.py`` and ``_drain_to_memory`` call
    ``writeStream``."""
    copies = {text: [] for text, _, _ in _ONE_COPY}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        raw = path.read_text()
        flat = _flatten(raw)[0]
        for text, _, flatten in _ONE_COPY:
            n = (flat.count(_flatten(text)[0]) if flatten
                 else raw.count(text))
            copies[text] += [rel] * n
    assert copies == {text: [rel] for text, rel, _ in _ONE_COPY}
    assert [site for site in _stream_starts() if site[0] != "io/sinks.py"] \
        == [("streaming/pipelines.py", "_drain_to_memory")]

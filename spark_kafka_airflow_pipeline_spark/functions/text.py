"""Text-analysis column expressions for training-data pipelines.

All pure ``pyspark.sql.functions`` expressions (JVM, codegen) — language
ID, quality scoring, token counting, fingerprinting, shingling. These
feed the dedup / text operators and are designed to be mirrored in ANSI
SQL for the DuckDB oracle.

[EXT] surface: the reference has no text ops (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists per language; enough for a heuristic
# language-ID / quality signal without external models.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

_WS = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(text: Column | str) -> Column:
    """Whitespace token count; empty/blank strings count 0."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, _WS)))


def char_count(text: Column | str) -> Column:
    return F.length(_c(text))


def punctuation_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric or whitespace."""
    t = _c(text)
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(t) > 0, punct / F.length(t)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lowercase) stopwords."""
    stopwords = stopwords or STOPWORDS_EN
    toks = split_tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality score in [0, 1]:
    rewards reasonable length, low punctuation, presence of stopwords.

    score = 0.4 * min(tokens/50, 1)
          + 0.3 * (1 - min(punct_ratio*5, 1))
          + 0.3 * min(stopword_ratio*5, 1)
    """
    tok_term = F.least(token_count(text) / F.lit(50.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punctuation_ratio(text) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round(0.4 * tok_term + 0.3 * punct_term + 0.3 * stop_term, 6)


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the whitespace-normalized,
    lowercased text. md5 is available verbatim in DuckDB, so the oracle
    can reproduce it bit-for-bit."""
    canon = F.regexp_replace(F.lower(F.trim(_c(text))), _WS, " ")
    return F.md5(canon)


# ----------------------------------------------------------------------
# Shared DuckDB oracle fragments mirroring the expressions above.
# Single source of truth (VERDICT.md r4 ask #8): the metric CTE columns
# and the composite quality formula used to be inlined verbatim in three
# oracles (DOC_QUALITY_SQL, CORPUS_PREP_SQL, DEDUP_KEEP_BEST_SQL) and an
# edit once missed a copy. Oracles now compose these fragments.
# ----------------------------------------------------------------------

#: md5 fingerprint of whitespace-normalized lowercased text
#: (twin of :func:`fingerprint`)
SQL_FINGERPRINT = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"

#: column list computing n_tokens / punct_ratio / stop_ratio from a
#: ``text`` column (twins of :func:`token_count`,
#: :func:`punctuation_ratio`, :func:`stopword_ratio`)
SQL_DOC_METRIC_COLS = r"""
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) > 0
              THEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))
                   * 1.0 / len(regexp_split_to_array(lower(trim(text)), '\s+'))
              ELSE 0.0 END AS stop_ratio""".strip("\n")

#: composite quality score over the metric columns above
#: (twin of :func:`quality_score` — same weights, same rounding)
SQL_QUALITY_FROM_METRICS = """round(0.4 * least(n_tokens / 50.0, 1.0)
             + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
             + 0.3 * least(stop_ratio * 5, 1.0), 6)""".strip("\n")


def raw_shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles in document order, duplicates preserved. Short
    docs (< k tokens) yield the whole doc as a single shingle.

    Built as a fold of ``zip_with`` over shifted slices of the token
    array, NOT ``transform(sequence(...), i -> slice(toks, ...))``: an
    expression *captured* by a higher-order-function lambda is
    re-evaluated on every element, so the transform form re-ran the
    regex split once per shingle — O(tokens^2) per document, measured
    5x slower on the sf0.1 corpus. ``zip_with`` takes its arrays as
    arguments (evaluated once) and its lambda touches only bound
    variables."""
    toks = split_tokens(text)
    n = F.size(toks)
    acc = toks
    for s in range(2, k + 1):
        shifted = F.slice(toks, s, F.greatest(n - (s - 1), F.lit(0)))
        # zip_with pads the shorter side with null; concat_ws skips
        # nulls, and the final slice cuts the padded tail anyway
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(1)))


def split_tokens(text: Column | str) -> Column:
    """The tokenization ``raw_shingles`` applies internally —
    lowercase, trim, split on whitespace — exposed so callers can
    MATERIALIZE the token array as a column and build shingles from it
    with ``raw_shingles_of`` (see there for why that is faster)."""
    return F.split(F.lower(F.trim(_c(text))), _WS)


def raw_shingles_of(toks: Column, k: int) -> Column:
    """``raw_shingles`` over a PRE-MATERIALIZED token-array column:
    one ``slice`` + ``concat_ws`` per shingle instead of the k-1
    ``zip_with`` passes whose accumulator re-copies every growing
    prefix (O(k^2) chars per shingle). Byte-identical output to
    ``raw_shingles`` (asserted by ``exceptAll`` both ways in
    tests/test_textops_extra.py); measured 2.3x faster at k=8 and
    1.5x at k=3 on the sf0.1 corpus (r17).

    ``toks`` MUST be a materialized column (an attribute produced by a
    prior ``select``), NOT a ``split(...)`` expression: the lambda
    CAPTURES it, and a captured *expression* is re-evaluated once per
    shingle — the exact O(tokens^2) pitfall the ``raw_shingles``
    docstring describes. A captured attribute is just a row-buffer
    read. Use ``split_tokens`` to materialize."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles — the MinHash input set (see
    ``raw_shingles`` for the construction and the HOF-capture
    pitfall)."""
    return F.array_distinct(raw_shingles(text, k))


def token_hashes(text: Column | str, seed: int = 42) -> Column:
    """64-bit hash per (lowercased, whitespace-split) token. Bind the
    result to a real column (``withColumn``) before feeding it to
    ``shingle_hashes_of`` — as a nested expression it would be
    re-evaluated once per zip_with argument instance."""
    toks = split_tokens(text)
    return F.transform(toks, lambda t: F.xxhash64(F.lit(seed), t))


def char_hashes(text: Column | str, seed: int = 42) -> Column:
    """64-bit hash per character of the lowercased text — the unit
    stream for character n-gram identities via ``shingle_hashes_of``
    (measured 2.4x faster than building the n-gram strings and hashing
    them, same distinct counts). Bind to a column before chaining."""
    cs = F.split(F.lower(F.trim(_c(text))), "")
    return F.transform(cs, lambda c: F.xxhash64(F.lit(seed), c))


def shingle_hashes_of(th: Column, k: int = 3) -> Column:
    """Distinct 64-bit k-shingle hashes from an ATTRIBUTE-BACKED
    token-hash array (see ``token_hashes``): fold ``xxhash64(acc,
    shifted)`` over the k-1 shifted hash arrays — each pass moves
    fixed-width longs, so cost is O(k * tokens) long ops instead of the
    O(k^2 * chars) string concatenation that ``shingles`` pays building
    k-gram text. The hash space differs from
    ``xxhash64(shingle_string)`` (hash of hashes) but is just as
    collision-resistant; use wherever gram IDENTITY matters and the
    gram text does not (frequency joins, dedup keys, decontamination).
    Same no-capture discipline as ``raw_shingles``."""
    n = F.size(th)
    acc = th
    for s in range(2, k + 1):
        shifted = F.slice(th, s, F.greatest(n - (s - 1), F.lit(0)))
        # zip_with null-pads the short side; xxhash64(acc, null) stays
        # non-null and the final slice cuts the padded tail anyway
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    return F.array_distinct(F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(1))))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased text (n-gram Jaccard
    input). Same no-capture ``zip_with`` construction as ``shingles``
    (see there) over the split-to-characters array — the previous
    ``transform(sequence, i -> substr(t, i, n))`` re-evaluated
    ``lower(trim(text))`` per gram, O(chars^2) per document."""
    cs = F.split(F.lower(F.trim(_c(text))), "")
    ln = F.size(cs)
    acc = cs
    for s in range(2, n + 1):
        shifted = F.slice(cs, s, F.greatest(ln - (s - 1), F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws("", x, y))
    return F.array_distinct(F.slice(acc, 1, F.greatest(ln - (n - 1), F.lit(1))))


def minhash_signature(shingle_arr: Column, num_hashes: int = 16, seed: int = 42) -> Column:
    """MinHash signature: for each of ``num_hashes`` hash families, the
    minimum of ``hash(seed, i, shingle)`` over the shingle set.

    ``F.hash`` (Murmur3, deterministic) keeps this JVM-side and
    reproducible; no sampled permutations, no randomness at runtime.
    Returns ``array<int>`` of length ``num_hashes``.

    NB: the per-family hash must be bound via a closure factory — a
    ``lambda s, i=i`` default-arg lambda has arity 2, which PySpark
    reads as (element, index), silently replacing the family id with
    the array index. See ``operators.dedup.minhash_signature_agg`` for
    the faster aggregate form (same construction, different family
    constants — signatures are not interchangeable between the two).
    """
    def family(i: int):
        return lambda s: F.hash(F.lit(seed), F.lit(i), s)

    sigs = [F.array_min(F.transform(shingle_arr, family(i)))
            for i in range(num_hashes)]
    return F.array(*sigs)


def simhash64(text: Column | str, ngram: int = 3) -> Column:
    """64-bit SimHash over character n-grams, fully JVM-side.

    Classic SimHash sums +/-1 per feature per bit then takes signs; we
    compute, for each bit position, (#features with bit set) vs
    (#features)/2 using ``xxhash64`` of each n-gram.
    """
    grams = char_ngrams(text, ngram)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    n = F.size(hashes)
    # NB: the filter lambda must be single-argument — PySpark reads a
    # two-arg lambda as (element, index), silently changing semantics
    def _bit_test(mask):
        return lambda h: h.bitwiseAND(mask) != 0

    out = F.lit(0).cast("long")
    for b in range(64):
        # shiftleft wraps correctly at bit 63 (a python 1<<63 literal
        # overflows the JVM long)
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        ones = F.size(F.filter(hashes, _bit_test(mask)))
        out = out + F.when(ones * 2 >= n, mask).otherwise(F.lit(0).cast("long"))
    return out


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))

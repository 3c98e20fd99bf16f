"""Deduplication operators over the documents table [EXT]:

- **exact**: hash-groupBy on the raw text (and on the canonical
  fingerprint) — one shuffle on the dedup key, keep min doc_id.
- **MinHash-LSH near-dups**: word-shingle pairs, char-3-gram pairs,
  clusters and incremental batch-vs-corpus screens, each a short
  composition of the four shared stages below over one hash family.
- **SimHash**: 64-bit signature over char n-grams; ``simhash_buckets``
  groups identical signatures (Hamming-0), ``simhash_near_dups`` bands
  the signature 4 x 16 bits for exact recall at Hamming <= 3.

Hash families are data (``HashFamily``): a gram hash ``h(g)``, one
coordinate hash per signature slot (slot i is ``min_g coord_i(h)``),
bands x rows, and the banding rule:

- fast, ``xxhash_family(num_hashes, bands)``: ``h = xxhash64(42, g)``,
  coordinate ``xxhash64(i, h)``; bands x rows per query (4 x 4 word
  shingles, 4 x 8 char grams); capped-bucket banding.
- ``MD5_WORD``: ``h`` = first 15 md5 hex digits of the gram mod p,
  coordinate ``(a_i * h + b_i) mod p`` over 8 fixed ``(a, b)``; 4 x 2;
  exact banding.
- ``MD5_CHAR``: the same ``h`` with 32 md5-derived ``(a, b)``; 4 x 8;
  exact banding.

The fast family is the production path (JVM-only hashes, rows-only
checks: DuckDB lacks xxhash64/murmur3). The md5 families are
bit-identical in Spark and DuckDB, so every query built on them has an
exact SQL oracle (``*_SQL`` below) and each fast query has an oracled
md5 counterpart. The oracle SQL shares text fragments only with other
SQL strings, never with the Spark code, so it stays an independent
restatement.

The four near-dup stages, one implementation each:

1. **Signature aggregate** (``_signature``; ``minhash_signature_agg``
   featurizes text for the fast family): one doc-keyed codegen
   HashAggregate of coordinate mins, packed into a ``minhash`` array.
2. **Banding.** Fast families use ``lsh_band_candidates``: murmur3
   buckets of band slices with the clique cap of ``MAX_BUCKET_CLIQUE``
   members, so a mega-cluster costs O(n) star pairs. md5 families (and
   ``simhash_md5_pairs``) use ``_band_join``: an exact band-key
   self-join that the oracle mirrors.
   The two compute different pair sets above the cap (the largest md5
   char-gram bucket at sf0.1 has 409 members, the largest md5 SimHash
   bucket 1,371), so the family selects the banding.
3. **Signature-agreement count** (``_agree``): how many signature
   coordinates a candidate pair shares — the estimate pre-filter of
   the fast family, the integer floor of ``MD5_CHAR`` and the sketch
   estimate of ``minhash_estimate_error``.
4. **Exact-Jaccard verify** (``verify_pairs_jaccard``) over distinct
   feature sets, on candidates only.

Scale: the pairwise step only ever runs on banding candidates — never a
full cross join. The verify join's broadcast decision is AQE's, made
from runtime sizes (see ``verify_pairs_jaccard``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.operators.base import (
    FIXPOINT_ITERS,
    QueryFn,
    barrier,
    ln_micros,
    min_label_fixpoint,
    ppm,
    table,
)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on text: keep the lowest doc_id per distinct text.
    min-per-group instead of dropDuplicates so the survivor is
    deterministic (dropDuplicates keeps an arbitrary row)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the canonical fingerprint (lowercase,
    whitespace-normalized md5) — catches case/whitespace variants."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_FINGERPRINT_SQL = f"""
SELECT {T.SQL_FINGERPRINT} AS fp,
       min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship: per canonical fingerprint keep the
    HIGHEST-quality member (ties -> lowest doc_id), not the arbitrary
    first — the policy a real corpus dedup wants, since near-identical
    crawl copies differ in boilerplate/truncation.

    ``max_by`` over a (quality, -doc_id) struct does argmax selection
    inside ONE codegen hash aggregate — no window, no sort, one
    shuffle on the fingerprint; at 100 TB that beats the
    row_number-over-window form, which must sort every group."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("q"))
    rank = F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id"))
    return (scored.groupBy("fp")
            .agg(F.max_by("doc_id", rank).alias("keep_doc_id"),
                 F.max("q").alias("best_q"),
                 F.count(F.lit(1)).alias("n_copies")))


# argmax mirrored as a window (DuckDB's arg_max disallows struct
# ordering keys); fingerprint / metric CTE / q come from the shared
# fragments in functions.text (single source of truth)
DEDUP_KEEP_BEST_SQL = f"""
WITH m AS (
  SELECT doc_id,
         {T.SQL_FINGERPRINT} AS fp,
{T.SQL_DOC_METRIC_COLS}
  FROM documents
),
scored AS (
  SELECT doc_id, fp,
         {T.SQL_QUALITY_FROM_METRICS} AS q
  FROM m
),
ranked AS (
  SELECT fp, doc_id, q,
         row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS n_copies,
         MAX(q) OVER (PARTITION BY fp) AS best_q
  FROM scored
)
SELECT fp, doc_id AS keep_doc_id, best_q, n_copies
FROM ranked WHERE rn = 1
"""


# ----------------------------------------------------------------------
# hash families (data) and the four near-dup stages
# ----------------------------------------------------------------------

_MH_P = 1_000_000_007  # modulus: products stay under int64
_MH_COEFFS = ((384752429, 284920291), (583158611, 132907219),
              (748192853, 952760839), (114027587, 844302611),
              (270028169, 724470217), (906347687, 151834219),
              (482970317, 641053969), (867043411, 308805101))

_NG_BANDS, _NG_ROWS = 4, 8
# 32 md5-derived permutation coefficients — deterministic constants
# baked identically into the Spark expressions and the SQL oracle
# (no RNG; a != 0 mod p)
_NG_COEFFS = tuple(
    (int(hashlib.md5(f"ng-a{i}".encode()).hexdigest()[:12], 16)
     % (_MH_P - 1) + 1,
     int(hashlib.md5(f"ng-b{i}".encode()).hexdigest()[:12], 16) % _MH_P)
    for i in range(_NG_BANDS * _NG_ROWS))


@dataclass(frozen=True)
class HashFamily:
    """One MinHash hash family (see the module docstring's list):
    ``gram_hash`` maps a gram column to the long ``h``, ``coord(i)``
    is the SQL of signature coordinate ``i`` over ``h``, and ``exact``
    picks the banding — the exact band-key self-join (``_band_join``)
    instead of the capped buckets of ``lsh_band_candidates``."""

    gram_hash: Callable[[Column], Column]
    coord: Callable[[int], str]
    num_hashes: int
    bands: int
    exact: bool

    def band_keys(self) -> list[Column]:
        """The exact banding's keys over the ``minhash`` array: band
        index and that band's coordinates, ``:``-joined."""
        rows = self.num_hashes // self.bands
        return [F.concat_ws(":", F.lit(j), *[F.col("minhash")[j * rows + r]
                                             for r in range(rows)])
                for j in range(self.bands)]


def xxhash_family(num_hashes: int = 16, bands: int = 4,
                  seed: int = 42) -> HashFamily:
    """The fast family: one xxhash64 per gram, then ``xxhash64(i, h)``
    per coordinate — hashing the 8-byte long per coordinate is far
    cheaper than re-hashing the gram, and a distinct first argument
    makes a distinct function (measured ~25% cheaper than the murmur3
    ``hash(i, h)`` equivalent at sf0.1).

    NB: the obvious "universal family" shortcut ``min(h * odd_i + c_i)``
    is WRONG here twice over: without 64-bit wraparound the transform is
    MONOTONE, so every coordinate selects the same argmin gram and the
    whole signature degenerates to one effective hash function (at
    sf0.1 that admitted 60% of all doc pairs as LSH candidates —
    7.5M pairs from 5000 docs), and under ANSI mode (Spark 4 default)
    the wraparound that would fix it throws ARITHMETIC_OVERFLOW. The md5
    families avoid both by reducing ``h`` mod p first."""
    return HashFamily(lambda g: F.xxhash64(F.lit(seed), g),
                      lambda i: f"xxhash64({i}, h)", num_hashes, bands,
                      exact=False)


def _md5_family(coeffs, bands: int) -> HashFamily:
    return HashFamily(
        lambda g: (F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                   .cast("bigint") % _MH_P),
        lambda i: f"({coeffs[i][0]} * h + {coeffs[i][1]}) % {_MH_P}",
        len(coeffs), bands, exact=True)


MD5_WORD = _md5_family(_MH_COEFFS, 4)
MD5_CHAR = _md5_family(_NG_COEFFS, _NG_BANDS)

#: the executor's ``dedup_near`` families, keyed by its ``hashFamily``
FAMILIES = {"fast": xxhash_family(), "md5": MD5_WORD}


def _signature(hashed: DataFrame, family: HashFamily, id_col: str = "doc_id",
               extra: dict[str, Column] | None = None) -> DataFrame:
    """Stage 1, the signature aggregate: ``(id, h)`` gram-hash rows ->
    ``(id, *extra, minhash)``, the ``family`` coordinate mins as one
    doc-keyed aggregate (one shuffle). ``extra`` names further
    aggregates that ride the same pass.

    With only min-aggregates the aggregation stays a codegen'd
    HashAggregate — adding any collection aggregate (e.g. a per-doc
    feature set) demotes it to ObjectHashAggregate and ships
    corpus-sized array state through the shuffle; the fast verify
    instead re-tokenizes ONLY candidate docs (see
    ``verify_pairs_jaccard``)."""
    extra = extra or {}
    ms = [f"m{i}" for i in range(family.num_hashes)]
    # F.expr instead of nested Column calls: one py4j roundtrip per
    # coordinate instead of four (plan-build time is real at 16-32)
    mins = hashed.groupBy(id_col).agg(
        *[c.alias(n) for n, c in extra.items()],
        *[F.expr(f"min({family.coord(i)}) as {m}") for i, m in enumerate(ms)],
    )
    return mins.select(id_col, *extra, F.array(*ms).alias("minhash"))


def _text_signature(d: DataFrame, family: HashFamily, tokens,
                    id_col: str = "doc_id", text_col: str = "text",
                    keep: tuple[str, ...] = ()) -> DataFrame:
    """Stage 1 over a feature column: explode ``tokens(text_col)`` to
    rows, hash each feature once, aggregate (``_signature``). ``keep``
    columns ride the doc-id groupBy as ``first`` aggregates."""
    # single-file tables arrive as ONE input split; spread rows before
    # the compute-heavy explode+hash so all cores work (at 100 TB the
    # scan has thousands of splits and this repartition coalesces into
    # the shuffle that groupBy needs anyway)
    par = d.sparkSession.sparkContext.defaultParallelism
    sh = (d.repartition(par, id_col)
          .select(F.col(id_col), *keep,
                  F.explode(tokens(F.col(text_col))).alias("s")))
    # feature may be a string (shingle text) or a long (hash-chain gram
    # identity, e.g. T.shingle_hashes_of) — both families hash either
    hashed = sh.select(id_col, *keep, family.gram_hash(F.col("s")).alias("h"))
    return _signature(hashed, family, id_col, {c: F.first(c) for c in keep})


def minhash_signature_agg(d: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", num_hashes: int = 16,
                          k: int = 3, seed: int = 42,
                          tokens=None) -> DataFrame:
    """Scalable fast-family MinHash (``xxhash_family``): ``(id_col,
    minhash)`` with ``num_hashes`` coordinates, one corpus pass.

    ``tokens`` overrides the feature extractor: a function
    ``text_column -> array<string> Column`` (default: word ``k``-
    shingles; pass ``lambda c: T.char_ngrams(c, 3)`` for character-level
    MinHash)."""
    tokens = tokens or (lambda c: T.shingles(c, k))
    return _text_signature(d, xxhash_family(num_hashes, seed=seed), tokens,
                           id_col, text_col)


# Bound on the all-pairs (clique) expansion within one LSH bucket.
# Above this size a bucket is a mega-cluster (boilerplate pages, empty
# docs): emitting its full clique is O(n^2) pairs for zero extra dedup
# information, so members beyond the cap are connected by STAR pairs to
# the bucket's minimum doc id instead — O(n) pairs that keep every
# member attached to the cluster's survivor for connected-component
# dedup (pinned by tests/test_dedup_similarity.py::test_mega_cluster_cap).
MAX_BUCKET_CLIQUE = 256


def lsh_band_candidates(signatures: DataFrame, num_hashes: int, bands: int,
                        id_col: str = "doc_id",
                        sig_col: str = "minhash",
                        max_bucket: int = MAX_BUCKET_CLIQUE,
                        carry: str | None = None) -> DataFrame:
    """Stage 2 for the fast families: candidate near-dup pairs from
    banded LSH over an array-typed signature column: split the
    signature into ``bands`` slices, hash each slice to a bucket, emit
    within-bucket pairs.

    Plan shape (scales to 100 TB):
      1. explode to (band, bucket, doc)                (narrow)
      2. group docs per bucket, explode combinations   (one shuffle)
    Intra-bucket pairs come from collect_list + combinations, NOT a
    bucket self-join — the signature pipeline runs exactly once (a
    self-join would recompute it per side).

    ``carry`` names a column to ship through the bucket pipeline onto
    the emitted pairs as ``carry_a`` / ``carry_b`` (e.g. the signature
    itself, for a pair-local similarity estimate) — joining pairs back
    to the signature table would recompute the whole signature pipeline
    once per join side; carrying costs only ``bands`` copies of the
    (small, fixed-size) signature through one shuffle.

    Pairs are NOT deduplicated: a pair can appear up to ``bands`` times.
    The callers collapse multi-band duplicates downstream (a pair-keyed
    groupBy or dedup), so a dedup shuffle here would be paid twice.

    Adversarial skew guard: a bucket's clique expansion is capped at
    ``max_bucket`` members (C(256,2) ~ 32k pairs); members beyond the
    cap each emit ONE star pair to the bucket's min doc id, so a
    100 TB corpus with a million identical boilerplate pages yields
    O(n) candidates for that cluster, not O(n^2), and every member
    still reaches the cluster survivor through the star center.
    """
    rows_per_band = num_hashes // bands
    member_fields = [F.col(id_col).alias("id")]
    if carry:
        member_fields.append(F.col(carry).alias("c"))
    banded = (
        signatures
        .select(F.struct(*member_fields).alias("m"), F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice(sig_col, b * rows_per_band + 1, rows_per_band))
                .alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"))
        .select("m", "bb.band", "bb.bucket")
    )

    def pair(x, y):
        fields = [x["id"].alias("doc_a"), y["id"].alias("doc_b")]
        if carry:
            fields += [x["c"].alias("carry_a"), y["c"].alias("carry_b")]
        return F.struct(*fields)

    # "capped" must be a bound attribute, not a derived slice expression:
    # the inner lambda CAPTURES it, and a captured expression re-evaluates
    # per element — the slice would be copied O(bucket^2) times (see
    # functions.text.raw_shingles for the same pitfall)
    capped = F.col("capped")
    clique_pairs = F.flatten(F.transform(
        capped,
        lambda x, i: F.transform(
            F.slice(capped, i + 2,
                    F.greatest(F.size(capped) - i - 1, F.lit(0))),
            lambda y: pair(x, y)),
    ))
    star_pairs = F.transform(
        F.slice(F.col("docs"), max_bucket + 1,
                F.greatest(F.size(F.col("docs")) - max_bucket, F.lit(0))),
        lambda y: pair(F.element_at(F.col("docs"), 1), y),
    )
    pair_structs = F.filter(F.concat(clique_pairs, star_pairs),
                            lambda p: p.isNotNull())
    out = ["p.doc_a", "p.doc_b"] + (["p.carry_a", "p.carry_b"] if carry else [])
    return (
        banded.groupBy("band", "bucket")
        # sort_array on the member structs orders by id (first field),
        # keeping the star center (min id) deterministic
        .agg(F.sort_array(F.collect_list("m")).alias("docs"))
        .filter(F.size("docs") > 1)
        .withColumn("capped", F.slice(F.col("docs"), 1, max_bucket))
        .select(F.explode(pair_structs).alias("p"))
        .select(*out)
    )


def _band_join(sig: DataFrame, keys: list[Column],
               carry: tuple[str, ...] = ()) -> DataFrame:
    """Stage 2 for the md5 families: exact banding, every pair of docs
    that shares a band key, once — distinct ``(doc_a < doc_b)`` plus
    each ``carry`` column as ``<c>_a`` / ``<c>_b``. The oracles mirror
    this self-join literally.

    Callers pass ``sig`` through ``barrier``, one fixed-width row per
    doc, and the keys explode from ONE array projection: the r9 census
    found the old 4-union + self-join form re-ran the
    tokenize+signature pipeline 8x (once per union arm per join
    side)."""
    bands = sig.select("doc_id", *carry,
                       F.explode(F.array(*keys)).alias("bk"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
                      for c in carry for s in "ab"])
            .distinct())


def _agree(a: str, b: str, n: int) -> str:
    """Stage 3, the signature-agreement count: SQL for the number of
    the first ``n`` coordinates on which signature arrays ``a`` and
    ``b`` agree (an int; over ``n`` it is the unbiased MinHash Jaccard
    estimate)."""
    return "+".join(f"if({a}[{i}]={b}[{i}],1,0)" for i in range(n))


def _pair_sides(pairs: DataFrame, docs: DataFrame, *cols: str) -> DataFrame:
    """Join per-doc ``cols`` of ``docs`` onto both ends of ``(doc_a,
    doc_b)`` pairs as ``<c>_a`` / ``<c>_b``."""
    for s in "ab":
        pairs = pairs.join(docs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols]), f"doc_{s}")
    return pairs


def estimate_filter_pairs(cand: DataFrame, num_hashes: int,
                          jaccard_threshold: float) -> DataFrame:
    """Cheap pair-local pre-filter on candidate pairs that carry their
    MinHash signatures (``carry_a``/``carry_b``): keep pairs whose
    signature-agreement fraction (``_agree``, an unbiased Jaccard
    estimate) clears ``jaccard_threshold`` minus 3.5 binomial sigma —
    pairs genuinely at the threshold survive with P > 0.9997, while the
    spurious bulk of a high-collision blocking key (char-gram buckets
    admit ~150k candidates per 255 true pairs at sf0.1 — 0.17%
    precision) is dropped before the expensive exact verify. Pure
    codegen comparisons, no joins, no tokenization."""
    est = F.expr(f"({_agree('carry_a', 'carry_b', num_hashes)})"
                 f"/{num_hashes}d")
    sigma = (jaccard_threshold * (1 - jaccard_threshold) / num_hashes) ** 0.5
    tau = max(0.0, jaccard_threshold - 3.5 * sigma)
    return cand.filter(est >= tau).select("doc_a", "doc_b")


def verify_pairs_jaccard(cand: DataFrame, docs: DataFrame, tokens,
                         jaccard_threshold: float,
                         seed: int = 42) -> DataFrame:
    """Stage 4: keep candidate (doc_a, doc_b) pairs whose TRUE Jaccard
    over the docs' distinct feature sets clears the threshold.

    The pair list is MELTED to (pair, side, doc_id) and joined with
    ``docs``; ``tokens`` picks WHERE the feature sets come from,
    matching the candidate regime:

    - ``tokens`` given: ``docs`` is ``(doc_id, text)`` and each joined
      row tokenizes + ``array_distinct``-s its 64-bit feature hashes
      (identical to string-set Jaccard up to hash collisions) —
      O(candidate pairs), nothing corpus-wide. Right when candidates
      are rare relative to the corpus (word-shingle MinHash: ~255
      candidates from 5000 docs at sf0.1). A doc in k pairs tokenizes
      k times; k is bounded by the bucket clique cap.
    - ``tokens=None``: ``docs`` already holds one feature array per
      document as ``sh`` — a corpus projection (each doc featurizes
      exactly once) or a materialized frame. Right when the blocking
      key is low-precision and candidates blanket the corpus
      (char-trigram buckets: ~150k candidates at sf0.1; tokenizing per
      pair slot there was measured 5x slower than the corpus pass), and
      for the md5 families, whose exact feature sets are materialized
      anyway.

    Jaccard is ``|A ∩ B| / |A ∪ B|`` from ``array_intersect`` /
    ``array_union``, both distinct-set operations, so a multiset
    feature array scores exactly like its distinct set (r10 ADVICE: a
    caller passing raw shingles must not get different values; pinned
    by tests/test_dedup_similarity.py) and DuckDB's ``list_intersect``
    restates it exactly. Joining one feature ARRAY per pair side
    replaced the explode-join verify (r10), which fanned every
    candidate out to ~|grams| join rows before the count (20x soak:
    167M intermediate rows, x94.5 wall for x3943 output).

    No collection AGGREGATE: the r2 shape that fused ``collect_set(h)``
    into the signature aggregate demoted the whole 16-min HashAggregate
    to ObjectHashAggregate (no whole-stage codegen) and shuffled a
    corpus-sized array per doc.

    Broadcast posture: NO hint, NO driver-side count — AQE decides at
    runtime from the ACTUAL shuffle sizes. A small candidate set (the
    normal case) broadcasts; a high-dup corpus whose melted pairs
    exceed ``spark.sql.autoBroadcastJoinThreshold`` stays a shuffle
    join. This supersedes r2's counted ``MAX_BROADCAST_PAIRS`` guard,
    which needed either a persisted candidate frame (a CacheManager
    leak per call — the r2 ADVICE finding) or a second run of the
    candidate lineage to pay for the count. AQE's size check is also
    strictly safer: it bounds broadcast BYTES, not a pair-count proxy.
    The shuffle path is exercised in tests by disabling the broadcast
    threshold (tests/test_dedup_similarity.py).
    """
    melted = cand.select(
        "doc_a", "doc_b",
        F.explode(F.array(
            F.struct(F.lit("a").alias("side"), F.col("doc_a").alias("doc_id")),
            F.struct(F.lit("b").alias("side"), F.col("doc_b").alias("doc_id")),
        )).alias("s")).select("doc_a", "doc_b", "s.side", "s.doc_id")
    joined = melted.join(docs, "doc_id")
    if tokens is not None:
        joined = joined.withColumn("sh", F.array_distinct(F.transform(
            tokens(F.col("text")), xxhash_family(seed=seed).gram_hash)))
    pairs = (
        joined.groupBy("doc_a", "doc_b")
        .agg(F.first(F.when(F.col("side") == "a", F.col("sh")),
                     ignorenulls=True).alias("sh_a"),
             F.first(F.when(F.col("side") == "b", F.col("sh")),
                     ignorenulls=True).alias("sh_b"))
    )
    return (
        pairs
        .withColumn("jaccard", F.round(T.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _md5_word_signature(d: DataFrame, family: HashFamily,
                        *keep: str) -> tuple[DataFrame, DataFrame]:
    """md5 word-gram prep plus stage 1: ``(doc_id, *keep, sh)`` distinct
    word 3-gram strings of a ``(doc_id, text, *keep)`` frame, and their
    ``family`` signature ``(doc_id, *keep, minhash)``, each behind one
    ``barrier``.

    The grams feed the signature, the exact verify and any caller's own
    reuse; without the barrier each consumer re-tokenized the corpus
    (r9 scan census). It also sits BEFORE banding explodes the grams
    (r17): over a live lineage, InferFiltersFromGenerate derives
    ``size(grams) > 0`` from the explode and filter pushdown INLINES the
    whole tokenize+shingle construction into that per-row Filter — the
    gram pipeline evaluated twice per row, and the transform-lambda's
    captured split() re-evaluated per element (measured 5.7 s vs 2.6 s
    for the zip_with form, vs 1.9 s with this barrier at sf0.1). The
    signature is one fixed-width row per doc, read twice by the band
    self-join."""
    grams = barrier(
        d.select("doc_id", *keep, T.split_tokens("text").alias("toks"))
        .select("doc_id", *keep,
                F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                .alias("sh")))
    sig = barrier(_text_signature(grams, family, lambda sh: sh,
                                  text_col="sh", keep=keep))
    return grams, sig


def near_dup_pairs(d: DataFrame, family: HashFamily, threshold: float,
                   tokens=None) -> DataFrame:
    """Verified word-3-shingle near-dup pairs ``(doc_a, doc_b,
    jaccard)``, doc_a < doc_b, of a ``(doc_id, text)`` frame under
    ``family``; the cross join never happens.

    - Fast family: ONE corpus tokenize (the signature pass) -> capped
      buckets carrying the signatures -> agreement pre-filter
      (``estimate_filter_pairs``) -> exact verify that re-tokenizes
      ONLY the docs in surviving pairs. ``tokens`` overrides the
      features (default: distinct word 3-shingle strings).
    - md5 families: materialized grams and signature
      (``_md5_word_signature``) -> exact banding -> exact verify over
      the materialized gram sets. No agreement pre-filter: its oracle
      applies none."""
    if family.exact:
        grams, sig = _md5_word_signature(d, family)
        return verify_pairs_jaccard(_band_join(sig, family.band_keys()),
                                    grams, None, threshold)
    tokens = tokens or (lambda c: T.shingles(c, 3))
    n = family.num_hashes
    sigs = _text_signature(d, family, tokens)
    cand = lsh_band_candidates(sigs, n, family.bands, carry="minhash")
    good = estimate_filter_pairs(cand, n, threshold)
    return verify_pairs_jaccard(good, d, tokens, threshold)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                      num_hashes: int = 16, bands: int = 4,
                      jaccard_threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (fast family, ``near_dup_pairs``)
    verified with true shingle Jaccard. Returns (doc_a, doc_b, jaccard)
    with doc_a < doc_b. Rows-only check; ``minhash_md5_pairs`` is its
    oracled counterpart."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # gram IDENTITY (hash-of-token-hashes), not gram text: the k-1
    # zip_with passes move fixed-width longs instead of building
    # O(k^2)-char shingle strings — measured 3x faster on the sf0.1
    # signature pass (0.20s vs 0.63s), same Jaccard up to 64-bit
    # collisions; the md5 family keeps the string grams for
    # portability, this production path is free to pick the fast space
    tokens = lambda c: T.shingle_hashes_of(T.token_hashes(c), 3)  # noqa: E731
    return near_dup_pairs(d, xxhash_family(num_hashes, bands),
                          jaccard_threshold, tokens)


def _new_vs_corpus(cross: DataFrame, a_new: Column, *cols) -> DataFrame:
    """Orient cross-side candidate pairs as (doc_a = new doc, doc_b =
    corpus doc), keeping ``cols``."""
    return cross.select(
        F.when(a_new, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_a"),
        F.when(a_new, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_b"),
        *cols)


def incremental_dedup_minhash(spark: SparkSession, sf_dir: str,
                              new_source: str = "src0",
                              num_hashes: int = 16, bands: int = 4,
                              jaccard_threshold: float = 0.5) -> DataFrame:
    """Near-duplicate screen of a NEW ingestion batch (one crawl
    source) against the EXISTING corpus — the approximate twin of
    ``incremental_dedup_exact`` and the steady-state form of MinHash
    dedup in a production pipeline (the corpus is never re-paired
    against itself; only cross-side pairs are emitted).

    One signature pass over corpus+batch together (a per-doc ``is_new``
    flag rides the doc-id groupBy as a ``first`` aggregate — still a
    codegen HashAggregate), shared band buckets CARRY (signature,
    is_new), pairs are filtered to cross-side before the agreement
    pre-filter and the exact Jaccard verify. Returns
    (new_doc_id, corpus_doc_id, jaccard).

    Recall caveat (documented, adversarial only): in a bucket larger
    than the clique cap, capped-out members connect via star pairs to
    the bucket's min-id member; a new doc whose only corpus dup is
    also capped out is reached only through the (possibly same-side,
    filtered) star center. Rows-only check (xxhash64 not in DuckDB).
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("source") == new_source).alias("is_new"))
    # hash-chain gram identity — same fast feature space as
    # minhash_lsh_pairs (see the rationale there)
    tokens = lambda c: T.shingle_hashes_of(T.token_hashes(c), 3)  # noqa: E731
    sigs = (_text_signature(d, xxhash_family(num_hashes, bands), tokens,
                            keep=("is_new",))
            .withColumn("cw", F.struct("minhash", "is_new")))
    cand = lsh_band_candidates(sigs, num_hashes, bands, carry="cw")
    a_new = F.col("carry_a.is_new")
    cross = _new_vs_corpus(cand.filter(a_new != F.col("carry_b.is_new")),
                           a_new, F.col("carry_a.minhash").alias("carry_a"),
                           F.col("carry_b.minhash").alias("carry_b"))
    good = estimate_filter_pairs(cross, num_hashes, jaccard_threshold)
    pairs = verify_pairs_jaccard(good, d.select("doc_id", "text"),
                                 tokens, jaccard_threshold)
    return pairs.select(F.col("doc_a").alias("new_doc_id"),
                        F.col("doc_b").alias("corpus_doc_id"),
                        "jaccard")


def simhash64_agg(d: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Scalable SimHash-64: explode char n-grams, hash each ONCE, then 64
    codegen'd conditional sums per doc (one shuffle on doc id).

    The pure-expression ``functions.text.simhash64`` is fine for small
    arrays but re-evaluates the gram-hash array per bit filter (64x) in
    interpreted higher-order functions; this aggregation form is the
    100 TB path: whole-stage-codegen sums over a (doc, gram_hash) stream.
    """
    par = d.sparkSession.sparkContext.defaultParallelism
    # r17 NOTE: the explode-raw + `.distinct()` gram build that won 8x
    # in ngram_jaccard_md5_pairs was A/B'd here too and REVERTED — for
    # this op the downstream is already one doc-keyed aggregate, and
    # the standalone (doc, gram-string) distinct measured a wash-to-
    # slightly-slower (interleaved medians 3.6 old vs 4.1 new at
    # sf0.1); the two builds' equivalence stays pinned by
    # tests/test_dedup_similarity.py::test_simhash_gram_build_parity.
    grams = d.repartition(par, id_col).select(
        F.col(id_col),
        F.explode(T.char_ngrams(F.col(text_col), ngram)).alias("g"),
    ).select(id_col, F.xxhash64("g").alias("h"))
    bit_counts = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)).cast("long"))
          .alias(f"c{b}") for b in range(64)],
    )
    sig = bit_counts.select(
        id_col,
        sum(
            (F.when(F.col(f"c{b}") * 2 >= F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), b))
             .otherwise(F.lit(0).cast("long")) for b in range(64)),
            start=F.lit(0).cast("long"),
        ).alias("sig"),
    )
    return sig


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 dedup: docs sharing an identical 64-bit signature are
    near-dup candidates. Returns signature groups with >1 member.
    Rows-only check (xxhash64 not in DuckDB)."""
    d = table(spark, sf_dir, "documents")
    return (
        simhash64_agg(d)
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.array_join(F.transform(F.sort_array(F.collect_list("doc_id")),
                                      lambda x: x.cast("string")), ",")
             .alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.9,
                       num_hashes: int = 32, bands: int = 4) -> DataFrame:
    """Character-3-gram Jaccard near-dups, blocked by CHARACTER-level
    MinHash band buckets (vs the word-shingle MinHash of
    ``minhash_lsh_pairs`` — char grams catch within-word edits and
    whitespace/punctuation variants that word shingles blow up on).

    Blocking was previously the first-16-chars of canonical text — a
    skew bomb: natural-language prefixes ("the ...") collide massively,
    making within-block pairs quadratic on real corpora. MinHash band
    buckets distribute uniformly by construction; block size tracks
    true near-dup cluster size, not prefix popularity (pinned by
    ``tests/test_dedup_similarity.py::test_ngram_blocking_skew``).

    Band geometry matters MORE for char grams than word shingles: two
    unrelated same-language docs already share ~0.3-0.5 of their
    trigram set, so a permissive S-curve (8 bands x 2 rows: P=0.9 at
    j=0.5!) admits nearly every pair and the verify join goes quadratic
    (measured 106 s at sf0.1). 4 bands x 8 rows puts the knee at the
    0.9 threshold: P[candidate] = 1-(1-j^8)^4 = 0.90 at j=0.9 (1.0 for
    exact dups) but 0.015 at j=0.5. Rows-only check (murmur3 not in
    DuckDB).
    """
    # gram IDENTITIES as char-hash chains (T.char_hashes +
    # shingle_hashes_of over the bound column) — never the n-gram
    # strings; measured 2.4x faster feature extraction with identical
    # distinct counts. The chain column must be bound (withColumn)
    # before the fold — see the HOF-capture rule in functions.text.
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "text")
         .withColumn("ch", T.char_hashes(F.col("text"))))
    grams = lambda ch: T.shingle_hashes_of(ch, 3)  # noqa: E731
    sigs = minhash_signature_agg(d, text_col="ch", num_hashes=num_hashes,
                                 tokens=grams)
    cand = lsh_band_candidates(sigs, num_hashes, bands, carry="minhash")
    good = estimate_filter_pairs(cand, num_hashes, threshold)
    # verify over per-doc feature sets: candidates blanket the corpus
    return verify_pairs_jaccard(
        good, d.select("doc_id", grams(F.col("ch")).alias("sh")), None,
        threshold)


def simhash_near_dups(spark: SparkSession, sf_dir: str,
                      max_hamming: int = 3) -> DataFrame:
    """Banded Hamming-k SimHash near-dups: split the 64-bit signature
    into 4 x 16-bit bands, bucket per band, verify candidates with the
    true Hamming distance. By pigeonhole, any pair within
    ``max_hamming`` <= 3 differing bits shares at least one intact band,
    so recall at Hamming<=3 is exact — unlike ``simhash_buckets``,
    which only finds identical signatures (Hamming-0).

    Plan: one signature pass -> 4-way band explode CARRYING the 64-bit
    signature -> within-bucket combinations (one shuffle) ->
    xor/bit_count verify directly on the carried pair; never a cross
    join, and no join back to the signature table (each such join
    re-ran the whole corpus signature pass — 3 corpus passes total
    before r3). Rows-only check (xxhash64 not in DuckDB).
    """
    d = table(spark, sf_dir, "documents")
    sigs = simhash64_agg(d)
    # 16-bit band values as an array signature -> reuse the banded-LSH
    # candidate machinery (4 bands of 1 array slot each)
    band_sigs = sigs.select(
        "doc_id", "sig",
        F.array(*[F.shiftrightunsigned("sig", 16 * b)
                  .bitwiseAND(F.lit(0xFFFF)).cast("int")
                  for b in range(4)]).alias("bands"),
    )
    cand = lsh_band_candidates(band_sigs, num_hashes=4, bands=4,
                               sig_col="bands", carry="sig")
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("carry_a").bitwiseXOR(F.col("carry_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str,
                   rounds: int = 2) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph via ``rounds`` of min-label propagation —
    the survivor-selection step of corpus dedup (every member maps to
    its cluster's minimum doc_id).

    Each round joins labels to the symmetric edge list and takes the
    elementwise min (one shuffle per round, both on doc id). Near-dup
    clusters are dense (cliques/stars around the min member — the LSH
    cap in ``lsh_band_candidates`` emits star pairs by construction),
    and min-label reach roughly doubles per round (a neighbor's label
    may itself be several hops old), so 2 rounds resolves diameter-3
    chains — ample for real corpora; a production run at unknown
    diameter iterates to fixpoint with periodic reliable checkpoints
    instead of a fixed round count.

    The verified pair list goes through ``barrier`` ONCE before the
    loop: every round consumes the edge list twice (both join
    directions), so leaving it lazy re-ran the whole MinHash pipeline
    ~3x (measured 24.7s -> 8.5s at sf0.1). Rows-only check (murmur3
    not in DuckDB); chain-transitivity pinned by
    ``tests/test_dedup_similarity.py::test_dedup_clusters_chain``.
    """
    d = table(spark, sf_dir, "documents").select("doc_id")
    pairs = barrier(minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    sym = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")) \
        .union(pairs.select(F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("dst")))
    labels = d.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(rounds):
        nb = (sym.join(labels.withColumnsRenamed(
                  {"doc_id": "dst", "label": "dst_label"}), "dst")
              .groupBy("src").agg(F.min("dst_label").alias("nb_label")))
        labels = (labels.join(nb, labels.doc_id == nb.src, "left")
                  .select("doc_id",
                          F.least("label", F.coalesce("nb_label", "label"))
                          .alias("label")))
    # Fixed-round by design (no per-round convergence count), but the
    # soak telemetry reads one registry for the whole cluster family —
    # a constant 2 here documents that this op's scale curve CANNOT be
    # iteration growth (unlike its fixpoint twins). Semantics differ
    # from the fixpoint members: this is the PROPAGATION round count
    # with no zero-change confirming round (a fixpoint twin doing the
    # same physical work would read one higher), and being a design
    # constant it is recorded at plan-build time — execution-
    # independent, so the usual lazy-write staleness concern doesn't
    # apply. It writes no FIXPOINT_CONVERGED entry: there is no
    # convergence check to report.
    FIXPOINT_ITERS["dedup_clusters"] = rounds
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > 1)
            .select(F.col("label").alias("cluster_id"), "n_docs"))


# ----------------------------------------------------------------------
# md5 families: the oracled near-dup queries
# ----------------------------------------------------------------------

def minhash_md5_pairs(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.5) -> DataFrame:
    """``MD5_WORD`` near-dup pairs (``near_dup_pairs``): the oracled
    counterpart of ``minhash_lsh_pairs``. Candidates depend only on the
    deterministic hashes, so both engines generate the identical
    candidate set — the probabilistic recall of banding does not
    perturb the oracle."""
    return near_dup_pairs(table(spark, sf_dir, "documents"), MD5_WORD,
                          threshold)


def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit [EXT] — the record-linkage-standard
    REDUCTION RATIO / PAIR COMPLETENESS evaluation of the LSH banding
    (Christen 2012): against the resolvable ground truth of exact
    near-duplicates (canonical-fingerprint equality, the
    ``dedup_fingerprint`` relation), how many of the C(N,2) possible
    comparisons does banding avoid (RR), and what fraction of the true
    duplicate pairs does the candidate set still contain (PC)? The
    one-row report that justifies a blocking scheme before anyone
    trusts its dedup output.

    All-integer: truth pairs = sum C(k,2) over fingerprint clusters;
    total pairs N(N-1)/2 in DECIMAL(38,0) (BIGINT overflows at ~4e9
    docs); RR/PC in ppm. PC is NULL when the corpus has no exact-dup
    truth (stated; both engines agree on the NULL).

    The candidates are ``minhash_md5_pairs``'s own (same stages, minus
    the verify), so the audited and the verified candidate universes
    cannot drift apart (r8 ADVICE). Scale: fingerprint groupBy + the
    banded candidate join (never doc x doc) + one candidate-sized
    fingerprint equality join."""
    _, sig = _md5_word_signature(table(spark, sf_dir, "documents"), MD5_WORD)
    fp = (table(spark, sf_dir, "documents")
          .select("doc_id", T.fingerprint("text").alias("fp")))
    truth = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("k"))
             .agg(F.sum(F.expr("k * (k - 1) DIV 2")).cast("bigint")
                  .alias("truth_pairs")))
    found = (_pair_sides(_band_join(sig, MD5_WORD.band_keys()), fp, "fp")
             .agg(F.count(F.lit(1)).alias("candidate_pairs"),
                  F.sum(F.expr("CASE WHEN fp_a = fp_b THEN 1 ELSE 0 END"))
                  .cast("bigint").alias("truth_found")))
    n = fp.agg(F.count(F.lit(1)).alias("n_docs"))
    # below 2 docs there is no pair universe to audit (and C(N,2) = 0
    # would divide by zero) — emit no row (module empty-input
    # invariant: empty in, empty out with the declared schema)
    return (n.crossJoin(F.broadcast(truth)).crossJoin(F.broadcast(found))
            .filter(F.col("n_docs") >= 2)
            .select(
                F.col("n_docs").cast("bigint").alias("n_docs"),
                "truth_pairs", "candidate_pairs", "truth_found",
                F.expr(ppm(
                    "CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2 "
                    "- candidate_pairs",
                    "CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2"))
                .alias("reduction_ratio_ppm"),
                F.expr("CASE WHEN truth_pairs > 0 THEN " +
                       ppm("truth_found", "truth_pairs") +
                       " END").alias("pair_completeness_ppm")))


def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage weights [EXT]
    (the 1969 framework behind Splink/RecordLinkage): for each
    comparison field (lang / source / length bucket), estimate
    m = P(field agrees | pair is a match) from labeled MATCH pairs
    (the exactly-oracled md5-LSH VERIFIED near-dup pairs, Jaccard >=
    0.5 — truth grounded in TEXT similarity, independent of the
    metadata fields being weighted) and u = P(agrees | unmatch) from a
    deterministic pseudo-random pairing of the corpus (md5-ordered
    consecutive pairing, fingerprint-distinct), then the
    log-likelihood-ratio agreement/disagreement weights a linkage
    scorer sums per field.

    Portability: m/u are integer-ppm (clamped to [1, 999999] so ln is
    finite both sides); weights are 6dp-rounded ln in integer micros.

    Scale: match pairs ride the banded LSH pipeline (never doc x doc);
    unmatch pairs from ``global_row_number`` over the md5 shuffle
    order + consecutive pairing — one two-phase rank, one
    co-partitioned equi-join."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "source",
                 F.expr("n_chars DIV 100").alias("len_bucket"),
                 T.fingerprint("text").alias("fp")))
    fields = ("lang", "source", "len_bucket")
    match_pairs = _pair_sides(
        minhash_md5_pairs(spark, sf_dir).select("doc_a", "doc_b"), d, *fields)
    shuffled = global_row_number(
        d, F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fsu")))
        .asc(), F.col("doc_id").asc(), out="rn")
    left = (shuffled.filter(F.col("rn") % 2 == 1)
            .select((F.col("rn") + 1).alias("pid"), "fp",
                    *[F.col(f).alias(f"{f}_a") for f in fields]))
    right = (shuffled.filter(F.col("rn") % 2 == 0)
             .select(F.col("rn").alias("pid"), F.col("fp").alias("fpb"),
                     *[F.col(f).alias(f"{f}_b") for f in fields]))
    unmatch_pairs = (left.join(right, "pid")
                     .filter(F.col("fp") != F.col("fpb")))

    # ONE aggregate per pair set (three per-field sums in one pass),
    # then a 1-row stack fan-out — aggregating per field separately
    # would re-run the whole LSH / two-phase-rank lineage three times
    # (10x soak measured 3.3x; ~1.8x after)
    def field_stats(pairs: DataFrame, tag: str) -> DataFrame:
        one = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.expr(f"CASE WHEN {f}_a = {f}_b THEN 1 ELSE 0 END"))
              .alias(f) for f in fields])
        return one.select(F.expr(
            "stack(3, 'lang', lang, 'source', source, 'len_bucket', "
            f"len_bucket) AS (field, agree_{tag})"),
            F.col("n").alias(f"n_{tag}"))

    # no weights are estimable without BOTH labeled samples — and an
    # empty corpus yields the module's empty-in/empty-out invariant
    rows = (field_stats(match_pairs, "m")
            .join(field_stats(unmatch_pairs, "u"), "field")
            .filter((F.col("n_m") > 0) & (F.col("n_u") > 0)))
    clamp = "GREATEST(LEAST({x}, 999999), 1)"
    m_ppm = clamp.format(x="agree_m * 1000000 DIV n_m")
    u_ppm = clamp.format(x="agree_u * 1000000 DIV n_u")
    return rows.select(
        "field",
        F.col("n_m").cast("bigint").alias("n_match_pairs"),
        F.col("n_u").cast("bigint").alias("n_unmatch_pairs"),
        F.expr(f"CAST({m_ppm} AS BIGINT)").alias("m_ppm"),
        F.expr(f"CAST({u_ppm} AS BIGINT)").alias("u_ppm"),
        F.expr(ln_micros(f"CAST({m_ppm} AS DOUBLE) / {u_ppm}"))
        .alias("agree_weight_micro"),
        F.expr(ln_micros(f"CAST((1000000 - {m_ppm}) AS DOUBLE)"
                         f" / (1000000 - {u_ppm})"))
        .alias("disagree_weight_micro"))


def _fs_sql() -> str:
    clamp = "GREATEST(LEAST({x}, 999999), 1)"
    m_ppm = clamp.format(x="agree_m * 1000000 // n_m")
    u_ppm = clamp.format(x="agree_u * 1000000 // n_u")
    fields = (("lang", "lang"), ("source", "source"),
              ("len_bucket", "len_bucket"))
    m_sel = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS field, COUNT(*) AS n_m,"
        f" SUM(CASE WHEN a.{c} = b.{c} THEN 1 ELSE 0 END) AS agree_m"
        "  FROM mpairs JOIN dm a ON a.doc_id = mpairs.doc_a"
        " JOIN dm b ON b.doc_id = mpairs.doc_b" for n, c in fields)
    u_sel = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS field, COUNT(*) AS n_u,"
        f" SUM(CASE WHEN l.{c} = r.{c} THEN 1 ELSE 0 END) AS agree_u"
        "  FROM lhs l JOIN rhs r USING (pid) WHERE l.fp != r.fp"
        for n, c in fields)
    return rf"""
WITH dm AS (
  SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
         {T.SQL_FINGERPRINT} AS fp
  FROM documents
), {_MD5_WORD_CAND_SQL}), sz AS (
  SELECT doc_id, len(grams) AS n FROM d
), mpairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) >= 0.5
), shuffled AS (
  SELECT dm.*, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':fsu'), doc_id) AS rn
  FROM dm
), lhs AS (
  SELECT rn + 1 AS pid, lang, source, len_bucket, fp
  FROM shuffled WHERE rn % 2 = 1
), rhs AS (
  SELECT rn AS pid, lang, source, len_bucket, fp
  FROM shuffled WHERE rn % 2 = 0
), ms AS (
{m_sel}
), us AS (
{u_sel}
)
SELECT field, CAST(n_m AS BIGINT) AS n_match_pairs,
       CAST(n_u AS BIGINT) AS n_unmatch_pairs,
       CAST({m_ppm} AS BIGINT) AS m_ppm,
       CAST({u_ppm} AS BIGINT) AS u_ppm,
       {ln_micros(f"CAST({m_ppm} AS DOUBLE) / {u_ppm}")}
         AS agree_weight_micro,
       {ln_micros(f"CAST((1000000 - {m_ppm}) AS DOUBLE)"
                  f" / (1000000 - {u_ppm})")}
         AS disagree_weight_micro
FROM ms JOIN us USING (field)
WHERE n_m > 0 AND n_u > 0
"""


_MH_HASHES_SQL = ",\n         ".join(
    f"MIN(({a} * hp + {b}) % {_MH_P}) AS h{i}"
    for i, (a, b) in enumerate(_MH_COEFFS))
_MH_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, concat({i // 2}, ':', h{i}, ':', h{i + 1}) AS bk "
    "FROM sig" for i in range(0, 8, 2))


def _md5_word_grams_sql(cols: str = "") -> str:
    """Oracle fragment: the body of the md5 word-gram CTE ``d``, one
    row of distinct word 3-grams per doc (plus ``cols``)."""
    return rf"""  SELECT doc_id,{cols}
         list_distinct(
           CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
           END) AS grams
  FROM (SELECT doc_id,{cols}
               regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents)"""


def _md5_word_cand_sql(cols: str = "") -> str:
    """Oracle fragment: the ``MD5_WORD`` CTE chain d -> g -> hp -> sig
    -> bands -> cand, open after its last CTE for the caller to close."""
    return f"""d AS (
{_md5_word_grams_sql(cols)}
), g AS (
  SELECT doc_id, unnest(grams) AS g FROM d
), hp AS (
  SELECT doc_id, g,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM g
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_MH_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
"""


#: the chain plus the exact gram-intersection count of each candidate
_MD5_WORD_CAND_SQL = _md5_word_cand_sql() + """), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN g ga ON ga.doc_id = c.doc_a
  JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
"""


def _sql_agree(a: str, b: str, n: int) -> str:
    """Oracle fragment: how many of the ``n`` signature columns
    ``h<i>`` of rows ``a`` and ``b`` agree."""
    return " + ".join(
        f"CASE WHEN {a}.h{i} = {b}.h{i} THEN 1 ELSE 0 END" for i in range(n))


MINHASH_MD5_SQL = f"""
WITH {_MD5_WORD_CAND_SQL}), sizes AS (
  SELECT doc_id, len(grams) AS n FROM d
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) >= 0.5
"""


BLOCKING_QUALITY_SQL = f"""
WITH {_md5_word_cand_sql(" text,")}), fp AS (
  SELECT doc_id, {T.SQL_FINGERPRINT} AS fp FROM documents
), truth AS (
  SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS truth_pairs
  FROM (SELECT COUNT(*) AS k FROM fp GROUP BY fp.fp)
), found AS (
  SELECT COUNT(*) AS candidate_pairs,
         CAST(SUM(CASE WHEN fa.fp = fb.fp THEN 1 ELSE 0 END) AS BIGINT)
           AS truth_found
  FROM cand
  JOIN fp fa ON fa.doc_id = cand.doc_a
  JOIN fp fb ON fb.doc_id = cand.doc_b
), n AS (SELECT COUNT(*) AS n_docs FROM fp)
SELECT CAST(n_docs AS BIGINT) AS n_docs, truth_pairs,
       CAST(candidate_pairs AS BIGINT) AS candidate_pairs, truth_found,
       CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2
             - candidate_pairs) * 1000000
            // (CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2) AS BIGINT)
         AS reduction_ratio_ppm,
       CASE WHEN truth_pairs > 0
            THEN CAST(truth_found * 1000000 // truth_pairs AS BIGINT)
       END AS pair_completeness_ppm
FROM n CROSS JOIN truth CROSS JOIN found
WHERE n_docs >= 2
"""


FELLEGI_SUNTER_SQL = _fs_sql()


def _ng_est_min(threshold: float) -> int:
    """Signature-agreement pre-filter floor of ``MD5_CHAR`` for a given
    Jaccard threshold — the integer form of ``estimate_filter_pairs``'s
    tau = t - 3.5*sigma rule (sigma = sqrt(t(1-t)/k), k=32
    coordinates): ``ceil(k * max(0, t - 3.5*sigma))`` coordinates must
    agree. DERIVED from the threshold argument (r9 ADVICE: a hardcoded
    23 silently dropped true pairs for any t below ~0.71); at
    permissive thresholds the expression reaches 0 and the prune
    becomes a no-op rather than a recall leak."""
    import math

    k = _NG_BANDS * _NG_ROWS
    sigma = math.sqrt(threshold * (1.0 - threshold) / k)
    return max(0, math.ceil(k * max(0.0, threshold - 3.5 * sigma)))


#: floor at the 0.9 default threshold (= 23 of 32), baked into the
#: fixed-0.9 SQL oracle; the Spark path recomputes it per call via
#: ``_ng_est_min`` so non-default thresholds stay recall-safe.
_NG_EST_MIN = _ng_est_min(0.9)
assert _NG_EST_MIN == 23  # the constant the SQL oracle text embeds

#: bucket count for the exact intersection upper bound (r18): per-doc
#: gram counts in h mod-32 buckets; sum_i min(ca_i, cb_i) >= |A∩B|
#: for ANY bucketing, so the prune is output-invisible at every scale.
#: 32 int columns per side — the same join width class as the 32-long
#: signature table the agreement filter already shipped.
_NG_BOUND_BUCKETS = 32


def ngram_jaccard_md5_pairs(spark: SparkSession, sf_dir: str,
                            threshold: float = 0.9) -> DataFrame:
    """Character-3-gram Jaccard near-dup pairs over ``MD5_CHAR``: the
    oracled counterpart of ``ngram_jaccard_dups``, with the same 4 x 8
    geometry (see there): the word family's permissive 4 x 2 banding
    admits nearly EVERY char-gram pair (measured: 4.3M verified pairs,
    423 s at sf0.1).

    Stages: signature (plus the verify's gram-hash set and the bound's
    bucket profile in the same pass) -> exact banding -> exact
    bucket-count bound -> agreement floor ``_ng_est_min(threshold)``
    (r9; the oracle applies the IDENTICAL integer filter, so parity is
    exact, and a true j >= 0.9 pair fails it with P < 3e-4, the same
    documented recall trade as the fast family's estimate filter) ->
    exact verify. Char-trigram banding admits ~340k candidates at sf0.1
    (0.17%-precision regime); verifying them all cost 15 s of the op's
    18-24 s before the floor (r9) and the bound (r18) collapsed them to
    the genuine near-dup set."""
    par = spark.sparkContext.defaultParallelism
    # TWO-STEP gram build: project the lowered text as a plain column
    # FIRST, then gram it with substring-transform over that attribute
    # (a higher-order-function lambda re-evaluates a non-trivial
    # operand expression per element; inline lower(trim(text)) was
    # measured 4.4s). r17: dedup per-doc grams by EXPLODING the raw
    # gram array and running `.distinct()` on (doc_id, g) — the frame
    # is already hash-partitioned by doc_id, so the distinct is a
    # map-side-complete hash aggregate with NO extra exchange — instead
    # of `array_distinct` over the ~1500-element per-doc array, whose
    # string-array path was the single hottest expression in the whole
    # op (measured 4.7s -> 0.57s at sf0.1 for the identical 712,778
    # (doc_id, gram) rows, exceptAll-verified both directions).
    g = (table(spark, sf_dir, "documents")
         .repartition(par, "doc_id")
         .select("doc_id", F.lower(F.trim("text")).alias("t"))
         .select("doc_id", F.explode(F.expr(
             "CASE WHEN length(t) <= 3 THEN array(t) "
             "ELSE transform(sequence(1, length(t) - 2), "
             "i -> substring(t, i, 3)) END")).alias("g"))
         .distinct())
    # everything downstream (signature mins, verify sets, sizes) works
    # on the 60-bit md5 gram identity, never the gram string — both
    # engines apply the SAME hash, so a (negligible) collision affects
    # both sides identically and the value-hash compare still holds.
    # Materialized once: the signature build consumes it, and the
    # lineage holds the full char-gram + md5 pass (the DuckDB twin
    # needed the same MATERIALIZED hint — uncached it recomputed the
    # gram pipeline per reference, >550 s at sf0.1 vs 16 s).
    hpdf = barrier(g.select("doc_id",
                            MD5_CHAR.gram_hash(F.col("g")).alias("h")))
    # ONE per-doc feature row, materialized once (r18): the 32
    # signature mins (banding otherwise re-runs the 32-way min
    # aggregate 8x — the r16 fix), the distinct gram-hash set (exact
    # verify), and the 32-bucket gram-count profile (the intersection
    # bound below) all ride a single aggregate over the checkpointed
    # gram stream. r18 A/B of the layouts at sf0.1 (6 reps
    # interleaved): two separate aggregates+checkpoints (r18 first cut)
    # median 6.39s end-to-end, fully merged 5.66s — one pass over the
    # 712k-row stream and one 5000-row checkpoint instead of two of
    # each.
    sig = barrier(_signature(hpdf, MD5_CHAR, extra={
        "sh": F.collect_set("h"),
        **{f"c{i}": F.sum(F.when(F.col("h") % _NG_BOUND_BUCKETS == i, 1)
                          .otherwise(0)).cast("int")
           for i in range(_NG_BOUND_BUCKETS)}})
        .withColumn("n", F.size("sh")))
    cand = _band_join(sig, MD5_CHAR.band_keys())
    # r18: EXACT bucket-count upper bound on the pair intersection,
    # applied to the RAW banding candidates BEFORE any heavy pair work.
    # For any partition of the gram space into buckets (here h mod 32),
    # |A ∩ B| <= sum_i min(ca_i, cb_i): an intersection element falls
    # in exactly one bucket and is counted on both sides. Capped
    # further by min(|A|, |B|) (which also subsumes r17's size-ratio
    # filter: bnd = min(na, nb) reduces to exactly that bound). Keep a
    # pair iff bnd*(1+t) >= (t - 1e-6)*(na+nb): algebraically
    # bnd/(s-bnd) >= t - 1e-6 without the division, and WITHOUT
    # F.round — Round on a double allocates a BigDecimal PER ROW and
    # this filter alone measured 3.6s with round vs 1.0s without over
    # the 337k candidates (the r18 twin of r17's array_distinct-on-
    # strings finding). Exactness: a pair passing the final filter has
    # round6(n_inter/(s-n_inter)) >= t, so n_inter/(s-n_inter) >=
    # t - 5e-7; bnd >= n_inter and x/(s-x) monotone give
    # bnd*(1+t) >= (t-5e-7)*s > (t-1e-6)*s — no such pair is ever
    # dropped here, and the margin only lets ~boundary pairs through
    # to the exact verify. Output equivalence is proven independently: the
    # DuckDB twin has NO bound filter and the 3-SF hash compare stays
    # green. Measured at sf0.1: 337,655 raw candidates -> 257 bound
    # survivors (255 true pairs) — the 32-column signature-agreement
    # joins and the 2x ~143-element array joins now run on ~300 rows
    # instead of 337k/119k, collapsing the op's former dominant stage
    # (verify 3.7-4.8s -> ~0.1s; see OPTIMIZATION_r18.md).
    bnd_sum = "+".join(f"least(c{i}_a, c{i}_b)"
                       for i in range(_NG_BOUND_BUCKETS))
    slim = (_pair_sides(cand, sig, "n",
                        *[f"c{i}" for i in range(_NG_BOUND_BUCKETS)])
            .withColumn("bnd", F.least(F.expr(bnd_sum), F.col("n_a"),
                                       F.col("n_b")))
            .filter(F.col("bnd").cast("double") * (1.0 + threshold)
                    >= (F.lit(threshold) - F.lit(1e-6))
                    * (F.col("n_a") + F.col("n_b")))
            .select("doc_a", "doc_b"))
    # the agreement floor on the ~300 bound survivors, where the two
    # signature joins are free, instead of on the full 337k candidates
    good = (_pair_sides(slim, sig, "minhash")
            .filter(F.expr(f"({_agree('minhash_a', 'minhash_b', 32)})"
                           f" >= {_ng_est_min(threshold)}"))
            .select("doc_a", "doc_b"))
    return verify_pairs_jaccard(good, sig, None, threshold)


_NG_HASHES_SQL = ",\n         ".join(
    f"MIN(({a} * hpv + {b}) % {_MH_P}) AS h{i}"
    for i, (a, b) in enumerate(_NG_COEFFS))
_NG_BANDS_SQL = "\n  UNION ALL\n".join(
    "  SELECT doc_id, concat("
    + f"{j}, ':', "
    + ", ':', ".join(f"h{j * _NG_ROWS + r}" for r in range(_NG_ROWS))
    + ") AS bk FROM sig"
    for j in range(_NG_BANDS))

NGRAM_MD5_SQL = f"""
WITH hp AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: inlined, the char-gram + md5 pass
  -- re-runs per downstream reference (4 band selects + 2 verify
  -- sides + sizes) — measured >550 s at sf0.1 vs 16 s materialized
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hpv
  FROM (
    SELECT doc_id, unnest(
      list_distinct(
        CASE WHEN len(cs) <= 3 THEN [array_to_string(cs, '')]
             ELSE list_transform(range(1, len(cs) - 1),
                                 i -> array_to_string(cs[i:i+2], ''))
        END)) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '') AS cs
          FROM documents))
), sig AS MATERIALIZED (
  SELECT doc_id,
         {_NG_HASHES_SQL}
  FROM hp GROUP BY doc_id
), bands AS (
{_NG_BANDS_SQL}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
), good AS (
  -- the production path's signature-agreement pre-filter, exactly
  -- restated: deterministic md5 signatures agree identically in both
  -- engines, so this is a value-hash-safe candidate prune
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE {_sql_agree('sa', 'sb', 32)}
        >= {_NG_EST_MIN}
), arr AS MATERIALIZED (
  -- the array-intersect verify, restated identically to Spark (r10):
  -- one distinct gram-hash set per doc, intersected per pair —
  -- list_intersect and Spark's array_intersect are both distinct-set
  -- intersections, so the twin stays exact at any scale
  SELECT doc_id, list_distinct(list(hpv)) AS hs FROM hp GROUP BY doc_id
), inter AS (
  SELECT g.doc_a, g.doc_b,
         len(list_intersect(a.hs, b.hs)) AS n_inter,
         len(a.hs) AS na, len(b.hs) AS nb
  FROM good g
  JOIN arr a ON a.doc_id = g.doc_a
  JOIN arr b ON b.doc_id = g.doc_b
)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (na + nb - n_inter), 6) AS jaccard
FROM inter
WHERE round(n_inter * 1.0 / (na + nb - n_inter), 6) >= 0.9
"""


def incremental_dedup_md5(spark: SparkSession, sf_dir: str,
                          new_source: str = "src0",
                          threshold: float = 0.5) -> DataFrame:
    """Incremental batch-vs-corpus near-dedup over ``MD5_WORD``: the
    oracled counterpart of ``incremental_dedup_minhash``, with the same
    topology — one signature pass over corpus+batch with an ``is_new``
    flag, shared bands, candidates filtered to CROSS-side before the
    exact verify (the corpus is never re-paired against itself), output
    oriented (new_doc_id, corpus_doc_id)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("source") == new_source).alias("is_new"))
    grams, sig = _md5_word_signature(docs, MD5_WORD, "is_new")
    cand = _band_join(sig, MD5_WORD.band_keys(), carry=("is_new",))
    cross = _new_vs_corpus(
        cand.filter(F.col("is_new_a") != F.col("is_new_b")), F.col("is_new_a"))
    return verify_pairs_jaccard(cross, grams, None, threshold).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("corpus_doc_id"), "jaccard")


INCREMENTAL_MD5_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), flags AS (
  SELECT doc_id, source = 'src0' AS is_new FROM documents
)
SELECT CASE WHEN fa.is_new THEN p.doc_a ELSE p.doc_b END AS new_doc_id,
       CASE WHEN fa.is_new THEN p.doc_b ELSE p.doc_a END AS corpus_doc_id,
       p.jaccard
FROM pairs p
JOIN flags fa ON fa.doc_id = p.doc_a
JOIN flags fb ON fb.doc_id = p.doc_b
WHERE fa.is_new != fb.is_new
"""


def doc_dup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATION SCORE — the doc-level artifact a
    filtering pipeline thresholds on (keep docs whose worst near-dup
    similarity is below X), derived from the oracled md5 pair graph:
    for every document, the max verified Jaccard over its incident
    near-dup pairs and how many near-dups it has (0 / 0.0 for clean
    docs via the left join). One scan of the corpus + the pair
    pipeline; the incident-pair aggregation shuffles on doc_id only.

    The pair-to-endpoint fan-out is an EXPLODE of a 2-struct array,
    not a union of two projections — the union form planned the whole
    MinHash pipeline twice (50-scan static plan; the r9
    association_rules_lift lesson)."""
    pairs = minhash_md5_pairs(spark, sf_dir)
    incident = (pairs
                .select(F.explode(F.array(
                    F.struct(F.col("doc_a").alias("doc_id"), "jaccard"),
                    F.struct(F.col("doc_b").alias("doc_id"), "jaccard")))
                    .alias("i"))
                .groupBy(F.col("i.doc_id").alias("doc_id"))
                .agg(F.count(F.lit(1)).alias("n_dups"),
                     F.max("i.jaccard").alias("max_jaccard")))
    d = table(spark, sf_dir, "documents").select("doc_id")
    return (d.join(incident, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_dups", F.lit(0)).cast("bigint")
                    .alias("n_dups"),
                    F.coalesce("max_jaccard", F.lit(0.0))
                    .alias("max_jaccard")))


DOC_DUP_SCORES_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), incident AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
         MAX(jaccard) AS max_jaccard
  FROM (SELECT doc_a AS doc_id, jaccard FROM pairs
        UNION ALL SELECT doc_b AS doc_id, jaccard FROM pairs)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(i.n_dups, 0) AS n_dups,
       COALESCE(i.max_jaccard, 0.0) AS max_jaccard
FROM documents d LEFT JOIN incident i USING (doc_id)
"""


# ----------------------------------------------------------------------
# md5 SimHash (exact banding) and md5 connected components
# ----------------------------------------------------------------------

_SH_BITS = 60          # 15 md5 hex chars -> exact BIGINT in both engines
_SH_BAND = 15          # 4 bands x 15 bits: Hamming<=3 => >=1 band equal


def simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with md5-derived token hashes: the
    oracled counterpart of ``simhash_near_dups``, with the same
    pigeonhole design (4 bands of 15 bits guarantee every Hamming<=3
    pair shares a band) and the md5 families' exact banding. A 60-bit
    fingerprint (15 md5 hex chars) keeps every value exact in BIGINT in
    both engines."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id",
                 F.array_distinct(T.split_tokens("text")).alias("toks")))
    t = d.select("doc_id", F.explode("toks").alias("tok"))
    t = t.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"))
    sums = t.groupBy("doc_id").agg(
        *[F.expr(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)")
          .alias(f"s{i}") for i in range(_SH_BITS)])
    fp_expr = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(_SH_BITS))
    # one fixed-width row per doc, materialized once (see _band_join)
    fps = barrier(sums.select("doc_id", F.expr(fp_expr).alias("fp")))
    keys = [F.expr(f"concat({k}, ':', (fp >> {k * _SH_BAND}) & 32767)")
            for k in range(4)]
    return (_band_join(fps, keys, carry=("fp",))
            .select("doc_a", "doc_b",
                    F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"))
            .filter(F.col("hamming") <= 3))


_SH_SUMS_SQL = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(_SH_BITS))
_SH_FP_SQL = " + ".join(
    f"(CASE WHEN s{i} >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
    for i in range(_SH_BITS))
_SH_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, fp, concat({k}, ':', (fp >> {k * _SH_BAND}) & 32767)"
    " AS bk FROM fps" for k in range(4))

SIMHASH_MD5_SQL = f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id,
               unnest(list_distinct(
                 regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
        FROM documents)
), sums AS (
  SELECT doc_id,
         {_SH_SUMS_SQL}
  FROM t GROUP BY doc_id
), fps AS (
  SELECT doc_id, {_SH_FP_SQL} AS fp FROM sums
), bands AS (
{_SH_BANDS_SQL}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


def dedup_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ``minhash_md5_pairs`` graph,
    iterated to FIXPOINT: the oracled counterpart of ``dedup_clusters``
    (fast family, fixed round count). The component structure is
    value-hash verified against a DuckDB recursive-CTE reachability
    oracle: every member's cluster id is the component's minimum doc
    id.

    Min-label propagation (``base.min_label_fixpoint``): one shuffle
    per round on the doc key; convergence is checked with a count of
    changed labels (near-dup components are dense cliques/stars, so
    2-3 rounds suffice; the loop is bounded defensively). Edges go
    through ``barrier`` once — each round consumes both join
    directions. Rounds executed per run land in
    ``base.FIXPOINT_ITERS["dedup_clusters_md5"]`` (soak telemetry)."""
    pairs = barrier(minhash_md5_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    sym = (pairs.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
           .union(pairs.select(F.col("doc_b").alias("src"),
                               F.col("doc_a").alias("dst"))))
    labels = min_label_fixpoint(sym, "doc_id", "dedup_clusters_md5")
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > 1)
            .select(F.col("label").alias("cluster_id"), "n_docs"))


DEDUP_CLUSTERS_MD5_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_MD5_SQL})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), walk AS (
  -- reachability closure (graph is symmetric, so reachable == same
  -- component); UNION dedups, guaranteeing termination
  WITH RECURSIVE r(doc, reach) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT e.src, r.reach FROM edges e JOIN r ON r.doc = e.dst
  )
  SELECT doc, MIN(reach) AS label FROM r GROUP BY doc
)
SELECT label AS cluster_id, COUNT(*) AS n_docs
FROM walk GROUP BY label HAVING COUNT(*) > 1
"""


# ----------------------------------------------------------------------
# train/val/test split with near-dup leakage audit
# ----------------------------------------------------------------------

def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset split assignment + leakage audit — the check a training
    pipeline runs before shipping splits: assign every document to
    train/val/test with an engine-portable hash draw (md5 prefix
    threshold, the ``weighted_mixture_sample`` idiom: reproducible
    across engines, runs and partitionings, unlike RNG splits), then
    flag LEAKED documents — members of a near-dup pair that spans two
    different splits (a val/test doc whose near-duplicate sits in train
    inflates eval scores).

    Near-dup pairs come from ``minhash_md5_pairs`` — the oracled
    banding pipeline — so the whole audit is value-hash-verified
    end-to-end. Plan: the pair list (tiny relative to the corpus)
    joins the split assignment twice on doc id, cross-split pairs'
    endpoints union-distinct, then one anti-join-shaped left join
    marks leaked docs; everything shuffles on doc_id only.

    Output per split: doc count, token budget and leaked-doc count —
    what a split manifest records."""
    d = table(spark, sf_dir, "documents")
    u = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":split"))), 1, 4)
    asg = d.select(
        "doc_id", T.token_count("text").alias("n_tokens"),
        F.when(u < "cccd", "train")      # ~80%
        .when(u < "e666", "val")         # ~10%
        .otherwise("test").alias("split"))
    pairs = minhash_md5_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = asg.select(F.col("doc_id").alias("doc_a"),
                   F.col("split").alias("split_a"))
    b = asg.select(F.col("doc_id").alias("doc_b"),
                   F.col("split").alias("split_b"))
    # materialized once: both union branches of `leaked` consume this
    # frame, and its lineage contains the whole MinHash pipeline —
    # leaving it lazy re-ran signature+banding twice (measured 15.6s ->
    # ~8s at sf0.1)
    cross = barrier(pairs.join(a, "doc_a").join(b, "doc_b")
                    .filter(F.col("split_a") != F.col("split_b")))
    leaked = (cross.select(F.col("doc_a").alias("doc_id"))
              .unionByName(cross.select(F.col("doc_b").alias("doc_id")))
              .distinct()
              .withColumn("leaked", F.lit(1)))
    return (asg.join(leaked, "doc_id", "left")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.sum(F.coalesce("leaked", F.lit(0))).cast("bigint")
                 .alias("n_leaked_docs")))


SPLIT_LEAKAGE_SQL = f"""
WITH asg AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4)
                   < 'cccd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4)
                   < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), pairs AS (
  SELECT doc_a, doc_b FROM ({MINHASH_MD5_SQL})
), cross_pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN asg a ON a.doc_id = p.doc_a
  JOIN asg b ON b.doc_id = p.doc_b
  WHERE a.split != b.split
), leaked AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM cross_pairs
    UNION ALL SELECT doc_b AS doc_id FROM cross_pairs)
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_leaked_docs
FROM asg LEFT JOIN leaked l USING (doc_id)
GROUP BY split
"""


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation as an ORACLED query: for every
    verified near-dup pair, the MinHash ESTIMATE of Jaccard (fraction
    of the 8 signature coordinates that agree) against the exact
    verified Jaccard — the ``ann_recall_report`` counterpart for the
    dedup family, quantifying what the signature alone would have
    claimed before the verify join corrected it.

    Everything rides ``MD5_WORD``, so estimate, exact value and their
    ppm error are bit-identical in DuckDB. The signature is built once
    and feeds both the banding and the estimate; integer ppm outputs.
    """
    grams, sig = _md5_word_signature(table(spark, sf_dir, "documents"),
                                     MD5_WORD)
    pairs = verify_pairs_jaccard(_band_join(sig, MD5_WORD.band_keys()),
                                 grams, None, 0.5)
    est_ppm = (F.col("n_sig_matches") * 125000).cast("bigint")
    jac_ppm = F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("bigint")
    return (_pair_sides(pairs, sig, "minhash")
            .withColumn("n_sig_matches",
                        F.expr(_agree("minhash_a", "minhash_b", 8)))
            .select("doc_a", "doc_b", "n_sig_matches",
                    est_ppm.alias("est_ppm"), jac_ppm.alias("jac_ppm"),
                    F.abs(est_ppm - jac_ppm).alias("abs_err_ppm")))


_SIG_MATCH_SQL = _sql_agree("a", "b", 8)

MINHASH_ESTIMATE_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({MINHASH_MD5_SQL})
), d AS (
{_md5_word_grams_sql()}
), hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {_MH_P} AS hp
  FROM (SELECT doc_id, unnest(grams) AS g FROM d)
), sig AS (
  SELECT doc_id,
         {_MH_HASHES_SQL}
  FROM hp GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST({_SIG_MATCH_SQL} AS INT) AS n_sig_matches,
       CAST(({_SIG_MATCH_SQL}) * 125000 AS BIGINT) AS est_ppm,
       CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS jac_ppm,
       abs(CAST(({_SIG_MATCH_SQL}) * 125000 AS BIGINT)
           - CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT))
         AS abs_err_ppm
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
"""


def sketch_family_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the BIT-sketch near-dup family (SimHash
    Hamming<=3) against the SET-sketch family's verified pairs
    (MinHash->Jaccard>=0.5) — the family-agreement audit run before
    swapping one detector for another. On this corpus it QUANTIFIES
    their disagreement (recall ~12%, precision ~0.2% at sf0.01): the
    bit sketch scores weighted token-multiset closeness, Jaccard scores
    distinct-shingle overlap — which is exactly why a dedup pipeline
    verifies candidates instead of trusting any sketch's notion of
    "near". Both inputs are oracled md5-portable pipelines, so
    precision/recall themselves are value-hash verified (one row,
    integer ppm; divisions NULL out on an empty side via nullif rather
    than tripping ANSI div-by-zero).

    Scale: composes two bounded pair frames; one full-outer join on the
    pair key."""
    truth = (minhash_md5_pairs(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("t")))
    sketch = (simhash_md5_pairs(spark, sf_dir)
              .select("doc_a", "doc_b", F.lit(1).alias("s")))
    j = truth.join(sketch, ["doc_a", "doc_b"], "full")
    # groupBy a constant, NOT a global agg: an empty corpus then yields
    # ZERO report rows (the module-wide empty-schema invariant) instead
    # of one all-NULL row
    return (j.groupBy(F.lit(1).alias("k"))
            .agg(F.sum("t").cast("bigint").alias("n_truth"),
                 F.sum("s").cast("bigint").alias("n_sketch"),
                 F.sum(F.col("t") * F.col("s")).cast("bigint")
                 .alias("n_both"))
            .select("n_truth", "n_sketch", "n_both",
                    F.expr("n_both * 1000000 DIV nullif(n_sketch, 0)")
                    .cast("bigint").alias("precision_ppm"),
                    F.expr("n_both * 1000000 DIV nullif(n_truth, 0)")
                    .cast("bigint").alias("recall_ppm")))


SKETCH_PR_SQL = f"""
WITH truth AS (
  SELECT doc_a, doc_b, 1 AS t FROM ({MINHASH_MD5_SQL})
), sketch AS (
  SELECT doc_a, doc_b, 1 AS s FROM ({SIMHASH_MD5_SQL})
), j AS (
  SELECT COALESCE(truth.doc_a, sketch.doc_a) AS doc_a, t, s
  FROM truth FULL JOIN sketch
    ON truth.doc_a = sketch.doc_a AND truth.doc_b = sketch.doc_b
)
SELECT n_truth, n_sketch, n_both, precision_ppm, recall_ppm
FROM (SELECT 1 AS k,
             CAST(SUM(t) AS BIGINT) AS n_truth,
             CAST(SUM(s) AS BIGINT) AS n_sketch,
             CAST(SUM(t * s) AS BIGINT) AS n_both,
             CAST(SUM(t * s) * 1000000 // nullif(SUM(s), 0) AS BIGINT)
               AS precision_ppm,
             CAST(SUM(t * s) * 1000000 // nullif(SUM(t), 0) AS BIGINT)
               AS recall_ppm
      FROM j GROUP BY k)
"""


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH capacity planning as a query: the analytic MinHash-LSH
    S-curve ``P(candidate) = 1 - (1 - s^r)^b`` for every (bands b,
    rows-per-band r) factorization of the module's 16-hash signature,
    across Jaccard similarities 0.10..0.90 — the table an operator
    reads to pick banding for a target threshold (the module's
    b=16, r=1 keeps recall ~1 at s>=0.5; b=4, r=4 trades recall for
    candidate volume). Probabilities in integer micros via the 6dp
    rounding idiom so the value hash is engine-portable.

    Scale: a 45-row literal frame of pure arithmetic — the planner is
    free regardless of corpus size (that is the point: plan BEFORE the
    scan). ``sf_dir`` is unused; the curve depends only on (b, r, s).
    """
    cfgs = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
    rows = [(b, r, k * 10) for (b, r) in cfgs for k in range(1, 10)]
    base = spark.createDataFrame(
        rows, "bands int, rows_per_band int, jaccard_pct int")
    p = ("1 - power(1 - power(jaccard_pct / 100.0, rows_per_band), "
         "bands)")
    return base.select(
        "bands", "rows_per_band", "jaccard_pct",
        F.expr(f"CAST(floor(round({p}, 6) * 1000000 + 0.5) AS BIGINT)")
        .alias("p_candidate_micros"))


LSH_PLANNER_SQL = """
WITH cfg AS (
  SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
           t(bands, rows_per_band)
), s AS (
  SELECT CAST(k * 10 AS INT) AS jaccard_pct
  FROM (SELECT unnest(range(1, 10)) AS k)
)
SELECT bands, rows_per_band, jaccard_pct,
       CAST(floor(round(
         1 - power(1 - power(jaccard_pct / 100.0, rows_per_band), bands),
         6) * 1000000 + 0.5) AS BIGINT) AS p_candidate_micros
FROM cfg, s
"""


def containment_md5_pairs(spark: SparkSession, sf_dir: str,
                          n: int = 8, df_cap: int = 64) -> DataFrame:
    """ASYMMETRIC containment pairs [EXT] — the dedup signal Jaccard
    cannot see: a short document quoted verbatim inside a long one has
    containment(A in B) ~ 1 while Jaccard stays tiny. This is the
    Broder containment measure used for quote/subset/boilerplate
    detection alongside symmetric near-dedup.

    Gram identity is the md5-portable word-``n``-gram (same whole-text
    rule as ``decontamination_ngram_overlap``: docs with <= n tokens
    contribute one whole-text gram), distinct per doc. Candidate pairs
    come from a document-frequency-CAPPED gram join (df in [2, 64] —
    boilerplate grams shared by more than 64 docs are dropped BEFORE
    the self-join, the ``longest_shared_spans`` idiom), so per-gram
    fan-out is bounded by df_cap² and no all-pairs step exists.
    Containment denominators use each doc's FULL distinct-gram count
    (capped grams still count toward sizes — the cap bounds the join,
    not the measure). Output keeps pairs with max containment >= 0.5
    and classifies them: near_dup (Jaccard >= 0.9), a_in_b / b_in_a
    (one-sided containment >= 0.9), else partial."""
    d = table(spark, sf_dir, "documents")
    g = (d.select("doc_id", T.split_tokens("text").alias("t"))
         .select("doc_id", F.explode(F.expr(
             f"CASE WHEN size(t) <= {n} THEN array(array_join(t, ' ')) "
             f"ELSE transform(sequence(0, size(t) - {n}), "
             f"i -> array_join(slice(t, i + 1, {n}), ' ')) END"))
             .alias("gram")))
    # (doc, gram-id) relation consumed 5x (sizes, df filter, both join
    # sides): materialize once (r9 scan census)
    grams = barrier(g.select(
        "doc_id",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
        .alias("gid")).dropDuplicates())
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    keep = (grams.groupBy("gid").agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
            .select("gid"))
    kept = grams.join(keep, "gid")
    a = kept.select(F.col("doc_id").alias("doc_a"), "gid")
    b = kept.select(F.col("doc_id").alias("doc_b"), "gid")
    pairs = (a.join(b, ["gid"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (pairs
           .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "na"}),
                 "doc_a")
           .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "nb"}),
                 "doc_b")
           .withColumn("cont_a_ppm", F.expr("n_inter * 1000000 DIV na"))
           .withColumn("cont_b_ppm", F.expr("n_inter * 1000000 DIV nb"))
           .withColumn("jaccard_ppm",
                       F.expr("n_inter * 1000000 DIV (na + nb - n_inter)"))
           .filter(F.greatest("cont_a_ppm", "cont_b_ppm") >= 500_000))
    return out.select(
        "doc_a", "doc_b", "na", "nb", "n_inter",
        "cont_a_ppm", "cont_b_ppm", "jaccard_ppm",
        F.when(F.col("jaccard_ppm") >= 900_000, "near_dup")
        .when(F.col("cont_a_ppm") >= 900_000, "a_in_b")
        .when(F.col("cont_b_ppm") >= 900_000, "b_in_a")
        .otherwise("partial").alias("relation"))


CONTAINMENT_MD5_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS gid
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
                  END) AS g
    FROM toks)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), keep AS (
  SELECT gid FROM grams GROUP BY gid
  HAVING COUNT(*) BETWEEN 2 AND 64
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM (SELECT g.* FROM grams g JOIN keep k ON g.gid = k.gid) a
  JOIN (SELECT g.* FROM grams g JOIN keep k ON g.gid = k.gid) b
    ON a.gid = b.gid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(sa.sz AS BIGINT) AS na, CAST(sb.sz AS BIGINT) AS nb,
         CAST(p.n_inter AS BIGINT) AS n_inter,
         CAST(p.n_inter * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm,
         CAST(p.n_inter * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm,
         CAST(p.n_inter * 1000000 // (sa.sz + sb.sz - p.n_inter)
              AS BIGINT) AS jaccard_ppm
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, na, nb, n_inter, cont_a_ppm, cont_b_ppm,
       jaccard_ppm,
       CASE WHEN jaccard_ppm >= 900000 THEN 'near_dup'
            WHEN cont_a_ppm >= 900000 THEN 'a_in_b'
            WHEN cont_b_ppm >= 900000 THEN 'b_in_a'
            ELSE 'partial' END AS relation
FROM scored
WHERE GREATEST(cont_a_ppm, cont_b_ppm) >= 500000
"""


def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-LEVEL survivorship (MDM golden record) [EXT]: where
    ``dedup_keep_best`` keeps one whole ROW per duplicate cluster, the
    golden record assembles its fields from DIFFERENT members by
    per-field rules — id from the oldest member, text from the most
    complete (longest raw text, tie -> lowest id), language set and
    source spread unioned across all members. The master-data-
    management merge step that follows any dedup pass.

    Clusters are the canonical-fingerprint groups (case/whitespace-
    normalized md5, same rule as ``dedup_fingerprint``), singletons
    excluded. One fp shuffle; the longest-member pick is a per-cluster
    ``row_number <= 1`` (WindowGroupLimit-bounded); the lang union is
    a sorted-distinct join (``array_join(array_sort(collect_set))`` —
    Spark 4.1's ``listagg(DISTINCT ...) WITHIN GROUP`` hits a
    SortOrder ClassCastException, so the composition stands in; the
    DuckDB twin is ordered-DISTINCT ``string_agg``)."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "source", "text",
                 T.fingerprint("text").alias("fp")))
    w = Window.partitionBy("fp").orderBy(
        F.length("text").desc(), "doc_id")
    longest = (d.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("fp", F.col("doc_id").alias("longest_doc_id"),
                       F.length("text").alias("longest_len")))
    agg = (d.groupBy("fp")
           .agg(F.min("doc_id").alias("golden_doc_id"),
                F.count(F.lit(1)).alias("n_members"),
                F.countDistinct("source").alias("n_sources"),
                F.array_join(F.array_sort(F.collect_set("lang")), ",")
                .alias("langs")))
    return (agg.filter(F.col("n_members") >= 2)
            .join(longest, "fp")
            .select("fp", "golden_doc_id", "longest_doc_id",
                    "longest_len", "langs", "n_sources", "n_members"))


GOLDEN_RECORD_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, text, {T.SQL_FINGERPRINT} AS fp
  FROM documents
), longest AS (
  SELECT fp, doc_id AS longest_doc_id,
         CAST(length(text) AS INT) AS longest_len
  FROM (SELECT fp, doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY length(text) DESC, doc_id)
                 AS rn
        FROM d)
  WHERE rn = 1
), agg AS (
  SELECT fp, MIN(doc_id) AS golden_doc_id, COUNT(*) AS n_members,
         COUNT(DISTINCT source) AS n_sources,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
  FROM d GROUP BY fp
)
SELECT a.fp, a.golden_doc_id, l.longest_doc_id, l.longest_len,
       a.langs, a.n_sources, a.n_members
FROM agg a JOIN longest l ON a.fp = l.fp
WHERE a.n_members >= 2
"""


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str,
                              w: int = 3,
                              min_jaccard_ppm: int = 200_000) -> DataFrame:
    """SORTED-NEIGHBORHOOD METHOD blocking [EXT] (Hernández & Stolfo,
    SIGMOD'95) — the third classic dedup blocking family beside
    hash-banding (MinHash-LSH) and prefix blocking: sort the corpus by
    a blocking key (here the normalized text itself, so near-dup
    prefixes land adjacent), then compare each record only with its
    ``w`` nearest neighbors in sort order.  Pairs are verified by
    exact word-trigram Jaccard and kept above ``min_jaccard_ppm``.

    Scale: the global sort rank comes from
    ``scaleops.global_row_number`` (two-phase range-partition ranking
    — NO un-partitioned window), and the neighbor join is an
    EQUI-join on ``rn + k`` for literal k=1..w (an explode of w rows
    per doc, never an inequality join), so the candidate set is
    exactly n*w — the linear-candidate guarantee that makes SNM a
    100 TB method.  Verification joins are term-keyed like every
    pair family here."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_row_number,
    )

    d = table(spark, sf_dir, "documents")
    keyed = d.select("doc_id",
                     F.lower(F.trim(F.col("text"))).alias("key"))
    ranked = global_row_number(keyed, "key", "doc_id", out="rn") \
        .select("doc_id", "rn")
    offsets = F.explode(F.array(*[F.lit(k) for k in range(1, w + 1)]))
    a = ranked.select(F.col("doc_id").alias("doc_a"),
                      F.col("rn").alias("rn_a"),
                      offsets.alias("k"))
    b = ranked.select(F.col("doc_id").alias("doc_b"),
                      F.col("rn").alias("rn_b"))
    cand = (a.join(b, F.col("rn_b") == F.col("rn_a") + F.col("k"))
            .select("doc_a", "doc_b",
                    F.col("k").cast("int").alias("rank_gap")))

    toks = (d.select("doc_id", T.split_tokens("text").alias("t"))
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(t) <= 3 THEN array(array_join(t, ' ')) "
            "ELSE transform(sequence(0, size(t) - 3), "
            "i -> array_join(slice(t, i + 1, 3), ' ')) END")).alias("term"))
        .distinct())
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "term")
    tb = toks.select(F.col("doc_id").alias("tb_doc"),
                     F.col("term").alias("term_b"))
    inter = (cand.join(ta, "doc_a")
             .join(tb, (F.col("doc_b") == F.col("tb_doc"))
                   & (F.col("term") == F.col("term_b")))
             .groupBy("doc_a", "doc_b", "rank_gap")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("sz", "sz_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("sz", "sz_b"), "doc_b")
            .select("doc_a", "doc_b", "rank_gap", "inter",
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                    .alias("union_sz"),
                    F.expr("CAST(inter * 1000000 DIV"
                           " (sz_a + sz_b - inter) AS BIGINT)")
                    .alias("jaccard_ppm"))
            .filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
            .orderBy("doc_a", "doc_b"))


SORTED_NEIGHBORHOOD_SQL = """
WITH keyed AS (
  SELECT doc_id, lower(trim(text)) AS key FROM documents
), ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY key, doc_id) AS rn
  FROM keyed
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rn - a.rn AS INT) AS rank_gap
  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 3
), toks AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                END) AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, c.rank_gap, COUNT(*) AS inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2, 3
)
SELECT i.doc_a, i.doc_b, i.rank_gap, i.inter,
       CAST(sa.sz + sb.sz - i.inter AS BIGINT) AS union_sz,
       CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1000000 // (sa.sz + sb.sz - i.inter) >= 200000
ORDER BY i.doc_a, i.doc_b
"""


QUERIES: dict[str, QueryFn] = {
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "golden_record_merge": golden_record_merge,
    "containment_md5_pairs": containment_md5_pairs,
    "lsh_parameter_planner": lsh_parameter_planner,
    "sketch_family_pr_eval": sketch_family_pr_eval,
    "minhash_estimate_error": minhash_estimate_error,
    "split_leakage_audit": split_leakage_audit,
    "incremental_dedup_md5": incremental_dedup_md5,
    "doc_dup_scores": doc_dup_scores,
    "minhash_md5_pairs": minhash_md5_pairs,
    "blocking_quality_report": blocking_quality_report,
    "fellegi_sunter_weights": fellegi_sunter_weights,
    "ngram_jaccard_md5_pairs": ngram_jaccard_md5_pairs,
    "simhash_md5_pairs": simhash_md5_pairs,
    "dedup_clusters_md5": dedup_clusters_md5,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_keep_best": dedup_keep_best,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_buckets": simhash_buckets,
    "simhash_near_dups": simhash_near_dups,
    "ngram_jaccard_dups": ngram_jaccard_dups,
    "dedup_clusters": dedup_clusters,
    "incremental_dedup_minhash": incremental_dedup_minhash,
}

# rows-only entries (murmur3 minhash/simhash/ngram) intentionally
# absent here; minhash_md5_pairs is the oracled algorithm proof
ORACLES: dict[str, str] = {
    "sorted_neighborhood_pairs": SORTED_NEIGHBORHOOD_SQL,
    "containment_md5_pairs": CONTAINMENT_MD5_SQL,
    "golden_record_merge": GOLDEN_RECORD_SQL,
    "lsh_parameter_planner": LSH_PLANNER_SQL,
    "sketch_family_pr_eval": SKETCH_PR_SQL,
    "minhash_estimate_error": MINHASH_ESTIMATE_SQL,
    "split_leakage_audit": SPLIT_LEAKAGE_SQL,
    "incremental_dedup_md5": INCREMENTAL_MD5_SQL,
    "doc_dup_scores": DOC_DUP_SCORES_SQL,
    "minhash_md5_pairs": MINHASH_MD5_SQL,
    "blocking_quality_report": BLOCKING_QUALITY_SQL,
    "fellegi_sunter_weights": FELLEGI_SUNTER_SQL,
    "ngram_jaccard_md5_pairs": NGRAM_MD5_SQL,
    "simhash_md5_pairs": SIMHASH_MD5_SQL,
    "dedup_clusters_md5": DEDUP_CLUSTERS_MD5_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_fingerprint": DEDUP_FINGERPRINT_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
}

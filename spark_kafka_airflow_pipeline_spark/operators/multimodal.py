"""Multimodal column plumbing [EXT]: opaque ``binary`` payloads with
typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (documented stub) — but the Spark-side plumbing is
real and load-bearing: binary column handling, metadata structs, the
``mapInPandas`` batch signature, and the output schema contract are
exactly what a real decoder plugs into (swap ``_fake_decode`` for
PIL/ffmpeg on a cluster with codecs).

Scale: mapInPandas streams Arrow batches; nothing is collected. Binary
payloads stay columnar end-to-end; a real 100 TB media table would add
``spark.sql.files.maxPartitionBytes`` tuning and bucketing by media_id.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators.base import QueryFn, table

FEATURE_SCHEMA = ("doc_id long, n_bytes int, first_byte int, "
                  "checksum_mod int")


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode+feature-extract: byte length,
    first byte, additive checksum mod 251. Pure function of the payload
    so the DuckDB oracle can reproduce it."""
    n = len(payload)
    first = payload[0] if n else -1
    checksum = sum(payload) % 251
    return n, first, checksum


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """mapInPandas kernel: one Arrow batch in, one feature frame out.
    This function runs on executors; keep it import-light."""
    for pdf in batches:
        feats = [_fake_decode(p) for p in pdf["payload"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(),
            "n_bytes": [f[0] for f in feats],
            "first_byte": [f[1] for f in feats],
            "checksum_mod": [f[2] for f in feats],
        })


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each document's text bytes as an opaque binary payload with
    typed metadata, run the decode/feature kernel over mapInPandas."""
    d = table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )
    return media.select("doc_id", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA)


# The Spark kernels operate on UTF-8 BYTES of encode(text); the oracles
# must too, or any non-ASCII document diverges (r2 ADVICE). DuckDB has
# no blob-byte indexing, so byte i is decoded from hex(encode(text)):
# two hex chars per byte, value = 16*hi + lo via strpos on the hex
# alphabet (strpos is 1-based: '0' -> 1, hence the -17).
_SQL_BYTE = ("(strpos('0123456789ABCDEF', substring(hx, 2*({i}) - 1, 1)) * 16"
             " + strpos('0123456789ABCDEF', substring(hx, 2*({i}), 1)) - 17)")

_SQL_HEX_CTE = """
SELECT doc_id, hex(encode(text)) AS hx,
       octet_length(encode(text)) AS n
FROM documents
"""

MULTIMODAL_SQL = f"""
WITH h AS ({_SQL_HEX_CTE})
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(CASE WHEN n > 0 THEN {_SQL_BYTE.format(i='1')}
                 ELSE -1 END AS INT) AS first_byte,
       CAST(CASE WHEN n > 0 THEN
              list_reduce(list_transform(range(1, CAST(n AS INT) + 1),
                          i -> {_SQL_BYTE.format(i='i')}),
                          (a, b) -> a + b) % 251
            ELSE 0 END AS INT) AS checksum_mod
FROM h
"""


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """mapInPandas kernel for the *resize* step: stride-2 byte
    downsample (the deterministic stand-in for an image resize — same
    batch shape, binary in / binary-stats out; swap the numpy slice for
    PIL ``Image.resize`` on a cluster with codecs)."""
    import numpy as np  # noqa: PLC0415 — executor-side import

    for pdf in batches:
        downs = [np.frombuffer(p, dtype=np.uint8)[::2] for p in pdf["payload"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(),
            "n_bytes_out": [len(a) for a in downs],
            "checksum_out": [int(a.sum()) % 251 if len(a) else 0
                             for a in downs],
        })


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over binary payloads: Arrow batches in, reduced
    payload stats out — one row per media item (1:1 mapInPandas)."""
    d = table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return media.mapInPandas(
        _resize_batches, schema="doc_id long, n_bytes_out int, checksum_out int")


MULTIMODAL_RESIZE_SQL = f"""
WITH h AS ({_SQL_HEX_CTE})
SELECT doc_id,
       CAST(ceil(n / 2.0) AS INT) AS n_bytes_out,
       CAST(CASE WHEN n > 0 THEN
              list_reduce(list_transform(range(1, CAST(n AS INT) + 1, 2),
                          i -> {_SQL_BYTE.format(i='i')}),
                          (a, b) -> a + b) % 251
            ELSE 0 END AS INT) AS checksum_out
FROM h
"""


FRAME_SIZE = 256
FRAME_STEP = 2


def _frame_sample_batches(
        batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """mapInPandas kernel for the *frame-sample* step: treat the payload
    as a sequence of FRAME_SIZE-byte frames, keep every FRAME_STEP-th —
    the 1:N (video -> sampled frames) batch shape; a real pipeline swaps
    the byte slicing for ffmpeg keyframe extraction."""
    for pdf in batches:
        doc, idx, nb, ck = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = (len(payload) + FRAME_SIZE - 1) // FRAME_SIZE
            for j in range(0, n_frames, FRAME_STEP):
                fr = payload[j * FRAME_SIZE:(j + 1) * FRAME_SIZE]
                doc.append(doc_id)
                idx.append(j)
                nb.append(len(fr))
                ck.append(sum(fr) % 251)
        yield pd.DataFrame({"doc_id": doc, "frame_idx": idx,
                            "frame_bytes": nb, "frame_checksum": ck})


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads — one input row fans out to
    its sampled frames (row-multiplying mapInPandas)."""
    d = table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return media.mapInPandas(
        _frame_sample_batches,
        schema="doc_id long, frame_idx int, frame_bytes int, frame_checksum int")


MULTIMODAL_FRAME_SQL = f"""
WITH h AS ({_SQL_HEX_CTE}),
f AS (
  SELECT doc_id, hx, n,
         unnest(range(0, CAST(ceil(n / {FRAME_SIZE}.0) AS BIGINT),
                      {FRAME_STEP})) AS frame_idx
  FROM h
  WHERE n > 0
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(least({FRAME_SIZE}, n - frame_idx * {FRAME_SIZE}) AS INT)
         AS frame_bytes,
       CAST(list_reduce(
              list_transform(
                range(CAST(1 + frame_idx * {FRAME_SIZE} AS BIGINT),
                      CAST(1 + least((frame_idx + 1) * {FRAME_SIZE},
                                     n) AS BIGINT)),
                i -> {_SQL_BYTE.format(i='i')}),
              (a, b) -> a + b) % 251 AS INT) AS frame_checksum
FROM f
"""


def _byte_at(payload, i: int):
    """Unsigned value of byte ``i`` (1-based) of a binary column —
    hex-slice + base-16 conv, all JVM built-ins."""
    return F.conv(F.hex(F.substring(payload, i, 1)), 16, 10).cast("int")


def multimodal_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata extraction from the binary payload HEADER with
    zero Python: format tag = byte 1, width = big-endian bytes 2-3,
    height = big-endian bytes 4-5 (the fixture layout standing in for
    a real magic-number/EXIF probe).

    This is the fast path a 100 TB media scan needs: header fields come
    from the first handful of bytes via codegen'd substring/conv
    expressions — no decode, no Arrow hop, and with payloads in
    parquet the column statistics and lazy materialization keep the
    scan cheap; the mapInPandas kernels above are reserved for work
    that genuinely needs the whole payload."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    n = F.octet_length(payload)
    wide = F.conv(F.hex(F.substring(payload, 2, 2)), 16, 10).cast("int")
    high = F.conv(F.hex(F.substring(payload, 4, 2)), 16, 10).cast("int")
    return d.select(
        "doc_id",
        n.alias("n_bytes"),
        F.when(n >= 1, _byte_at(payload, 1)).otherwise(-1).alias("fmt_tag"),
        F.when(n >= 3, wide).otherwise(-1).alias("width"),
        F.when(n >= 5, high).otherwise(-1).alias("height"),
    )


MULTIMODAL_HEADER_SQL = f"""
WITH h AS ({_SQL_HEX_CTE})
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(CASE WHEN n >= 1 THEN {_SQL_BYTE.format(i='1')} ELSE -1 END
            AS INT) AS fmt_tag,
       CAST(CASE WHEN n >= 3 THEN
              {_SQL_BYTE.format(i='2')} * 256 + {_SQL_BYTE.format(i='3')}
            ELSE -1 END AS INT) AS width,
       CAST(CASE WHEN n >= 5 THEN
              {_SQL_BYTE.format(i='4')} * 256 + {_SQL_BYTE.format(i='5')}
            ELSE -1 END AS INT) AS height
FROM h
"""


def _feature_batches_arrow(batches):
    """mapInArrow kernel: the Arrow-native twin of ``_feature_batches``
    — ZERO-COPY over the binary column's physical layout. An Arrow
    binary array is one contiguous data buffer plus an offsets buffer;
    numpy views both directly (no to_pylist, no per-row bytes objects,
    no pandas), and per-row sums are prefix-sum differences over the
    shared data buffer. This is the point of mapInArrow: the kernel
    touches the wire buffers themselves."""
    import numpy as np  # noqa: PLC0415 — executor-side import
    import pyarrow as pa  # noqa: PLC0415 — executor-side import

    for batch in batches:
        col = batch.column("payload")
        if col.null_count:  # payloads are encode(text): never NULL here
            col = col.fill_null(b"")
        off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        offsets = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
            col.offset: col.offset + len(col) + 1].astype(np.int64)
        data_buf = col.buffers()[2]
        blob = (np.frombuffer(data_buf, dtype=np.uint8)
                if data_buf is not None else np.empty(0, dtype=np.uint8))
        starts, ends = offsets[:-1], offsets[1:]
        lens = ends - starts
        if len(blob):
            prefix = np.r_[0, np.cumsum(blob, dtype=np.int64)]
            sums = prefix[ends] - prefix[starts]
            firsts = np.where(lens > 0,
                              blob[starts.clip(max=len(blob) - 1)], -1)
        else:
            sums = np.zeros(len(lens), dtype=np.int64)
            firsts = np.full(len(lens), -1, dtype=np.int64)
        yield pa.record_batch(
            [batch.column("doc_id"),
             pa.array(lens.astype("int32")),
             pa.array(firsts.astype("int32")),
             pa.array((sums % 251).astype("int32"))],
            names=["doc_id", "n_bytes", "first_byte", "checksum_mod"])


def multimodal_arrow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` variant of ``multimodal_features`` [EXT]: the
    same decode/feature contract via Spark's Arrow-native UDF surface.
    Hash-identical to the mapInPandas path (same oracle) — the choice
    between them is purely a performance knob, and this one avoids the
    pandas hop entirely."""
    d = table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return media.mapInArrow(_feature_batches_arrow, schema=FEATURE_SCHEMA)


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """dHash kernel: 61 stride-sampled byte "pixels" -> 60 gradient
    bits -> one BIGINT. Pure-integer, mirrors the SQL oracle bit for
    bit."""
    for pdf in batches:
        out = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(p)
            n = len(b)
            h = 0
            if n > 0:
                for j in range(60):
                    i0 = (j * (n - 1)) // 60
                    i1 = ((j + 1) * (n - 1)) // 60
                    if b[i0] > b[i1]:
                        h |= 1 << j
            out.append((doc_id, n, h,
                        (h >> 0) & 32767, (h >> 15) & 32767,
                        (h >> 30) & 32767, (h >> 45) & 32767))
        yield pd.DataFrame(out, columns=[
            "doc_id", "n_bytes", "phash", "b0", "b1", "b2", "b3"])


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over the binary payload [EXT] — the image
    near-dup fingerprint (dHash: compare adjacent downsampled pixels,
    one gradient bit each). The "pixels" here are 61 stride-sampled
    payload bytes (the codec stub's stand-in for a decoded thumbnail
    row); everything downstream — the 60-bit hash, its four 15-bit
    LSH bands for banded Hamming pairing (the ``simhash_md5_pairs``
    join idiom) — is the real production shape.

    Fully ORACLED: the kernel is pure integer byte math, so the DuckDB
    twin recomputes every bit from hex(payload) with the module's
    byte-decode idiom. Scale: one mapInPandas projection pass, band
    columns ready for the O(N)-per-band bucket join."""
    d = table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return media.mapInPandas(
        _phash_batches,
        "doc_id long, n_bytes int, phash long, "
        "b0 int, b1 int, b2 int, b3 int")


_PHB = _SQL_BYTE  # byte(i) over hex(payload), 1-based

MULTIMODAL_PHASH_SQL = f"""
WITH h AS ({_SQL_HEX_CTE}),
ph AS (
  SELECT doc_id, CAST(n AS INT) AS n_bytes,
         CASE WHEN n > 0 THEN
           CAST(list_reduce(list_transform(range(0, 60), j ->
             CASE WHEN {_PHB.format(i="1 + (j * (n - 1)) // 60")}
                       > {_PHB.format(i="1 + ((j + 1) * (n - 1)) // 60")}
                  THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT)
             END), (a, b) -> a + b) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS phash
  FROM h
)
SELECT doc_id, n_bytes, phash,
       CAST((phash >> 0) & 32767 AS INT) AS b0,
       CAST((phash >> 15) & 32767 AS INT) AS b1,
       CAST((phash >> 30) & 32767 AS INT) AS b2,
       CAST((phash >> 45) & 32767 AS INT) AS b3
FROM ph
"""


MM_SHARDS = 16


def multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPU-inference SHARD packing plan [EXT]: lay the media payloads
    out in doc_id order and cut the sequence into MM_SHARDS
    byte-balanced shards — the manifest a batch-inference job consumes
    so every worker gets ~equal bytes (not equal item counts: media
    items vary 100x in size). The lakeops ``compaction_bin_plan`` does
    this over a CALENDAR-BOUNDED frame with a plain window; payloads
    are a DATA-SIZED frame, so the prefix sum here is the two-phase
    ``global_running_sum`` (range-repartition + offset broadcast) —
    the r6-RFM-safe form, demonstrated on the multimodal leg.

    All-integer: shard = (running - bytes) DIV ceil(total/16); per
    shard: item count, bytes, min/max doc id (the fetch range).

    Scale: one scan for lengths, the two-phase prefix sum, a 16-row
    aggregate. No un-partitioned window at any size."""
    from spark_kafka_airflow_pipeline_spark.operators.scaleops import (
        global_running_sum,
    )

    d = table(spark, sf_dir, "documents")
    items = d.select("doc_id",
                     F.expr("octet_length(encode(text, 'UTF-8'))")
                     .cast("bigint").alias("nbytes"))
    run = global_running_sum(items, "nbytes", F.col("doc_id").asc(),
                             out="running")
    tot = run.agg(F.sum("nbytes").alias("total"))
    planned = (run.crossJoin(F.broadcast(tot))
               .withColumn("shard", F.expr(
                   f"CAST((running - nbytes) DIV "
                   f"((total + {MM_SHARDS} - 1) DIV {MM_SHARDS}) "
                   "AS INT)")))
    return (planned.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                 F.sum("nbytes").cast("bigint").alias("shard_bytes"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


MM_SHARD_SQL = f"""
WITH items AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
  FROM documents
), run AS (
  SELECT doc_id, nbytes,
         SUM(nbytes) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS running
  FROM items
), tot AS (SELECT SUM(nbytes) AS total FROM items)
SELECT CAST((running - nbytes)
            // ((total + {MM_SHARDS} - 1) // {MM_SHARDS}) AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(nbytes) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM run CROSS JOIN tot
GROUP BY 1
"""


QUERIES: dict[str, QueryFn] = {
    "multimodal_shard_plan": multimodal_shard_plan,
    "multimodal_phash": multimodal_phash,
    "multimodal_features": multimodal_features,
    "multimodal_arrow_features": multimodal_arrow_features,
    "multimodal_resize": multimodal_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_header_parse": multimodal_header_parse,
}

ORACLES: dict[str, str] = {
    "multimodal_shard_plan": MM_SHARD_SQL,
    "multimodal_phash": MULTIMODAL_PHASH_SQL,
    "multimodal_features": MULTIMODAL_SQL,
    "multimodal_arrow_features": MULTIMODAL_SQL,
    "multimodal_resize": MULTIMODAL_RESIZE_SQL,
    "multimodal_frame_sample": MULTIMODAL_FRAME_SQL,
    "multimodal_header_parse": MULTIMODAL_HEADER_SQL,
}

"""Custom Python DataSource (Spark 4 DataSource V2 Python API) [EXT].

The reference reads files and Kafka (``PipelineProcessor.scala:105-156``);
this module exercises the remaining source surface: a USER-DEFINED
source registered with ``spark.dataSource.register`` and consumed
through the normal ``spark.read.format(...)`` path — the extension
point for feeds Spark has no built-in connector for (internal APIs,
bespoke formats, synthetic loads).

``seqgen`` generates a deterministic sequence: row ``i`` carries an
md5-derived tag and bucket, a pure function of ``i`` — so the scan is
exactly reproducible across engines, runs, and partitionings, and a
query over it can be value-hash oracled in DuckDB (the repo's md5
portability discipline). Partition planning is real: the range splits
into ``partitions`` InputPartitions, each read independently on an
executor — the same contract a production connector implements for
parallel scans (at 100 TB this is where a source declares its split
boundaries so Spark can schedule them wide).
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _seq_row(i: int) -> tuple[int, str, int]:
    """Row ``i`` of ``seqgen``: (id, first 8 md5 hex chars, value of
    the first hex char as the bucket)."""
    h = hashlib.md5(str(i).encode()).hexdigest()
    return i, h[:8], int(h[0], 16)


class _SeqPartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _SeqReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", "1000"))
        self.nparts = int(options.get("partitions", "8"))
        # range pushdown state: [lo, hi) over the id column, narrowed
        # by pushFilters before partitions() plans the splits
        self.lo = 0
        self.hi = self.n

    def pushFilters(self, filters):  # noqa: ANN001, ANN201 - Spark API
        """Source-side range pruning (Spark 4.1 Python DataSource
        filter pushdown): comparison predicates on the monotonic ``id``
        column clamp the generated range BEFORE partition planning, so
        pruned splits are never scheduled — the Python-connector
        equivalent of parquet row-group/partition pruning. Handled
        filters are consumed (not returned), so the scan itself proves
        the clamp is correct; anything else is left for Spark to
        evaluate post-scan."""
        for f in filters:
            col_ok = getattr(f, "attribute", None) == ("id",)
            val = getattr(f, "value", None)
            if not (col_ok and isinstance(val, int)
                    and not isinstance(val, bool)):
                yield f
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, val + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, val)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, val)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, val + 1)
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, val)
                self.hi = min(self.hi, val + 1)
            else:
                yield f

    def partitions(self):  # noqa: ANN201 - Spark API signature
        lo, hi = self.lo, min(self.hi, self.n)
        if hi <= lo:
            # the API requires >= 1 partition: Spark calls read(None)
            # when the list is empty — emit one empty split instead
            return [_SeqPartition(0, 0)]
        step = max(1, -(-(hi - lo) // self.nparts))  # ceil div
        return [_SeqPartition(s, min(s + step, hi))
                for s in range(lo, hi, step)]

    def read(self, partition):  # noqa: ANN001, ANN201 - Spark API
        for i in range(partition.start, partition.end):
            yield _seq_row(i)


class _SeqStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched twin of ``_SeqReader``: offsets are plain row
    indices, each ``read`` call emits the next ``batch`` rows until
    ``n`` is exhausted — the offset-tracking contract every streaming
    connector implements (Kafka offsets, file positions). Rows are the
    same pure md5 function of the index, so a drained stream equals the
    batch scan exactly."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", "1000"))
        self.batch = int(options.get("batch", "250"))

    def initialOffset(self):  # noqa: ANN201 - Spark API
        return {"i": 0}

    def read(self, start):  # noqa: ANN001, ANN201 - Spark API
        s = start["i"]
        e = min(s + self.batch, self.n)
        return iter([_seq_row(i) for i in range(s, e)]), {"i": e}

    def readBetweenOffsets(self, start, end):  # noqa: ANN001, ANN201
        return iter([_seq_row(i) for i in range(start["i"], end["i"])])


class SeqDataSource(DataSource):
    """``spark.read.format("seqgen").option("n", ...).load()`` — and the
    same source as a micro-batched STREAM via ``spark.readStream``."""

    @classmethod
    def name(cls) -> str:
        return "seqgen"

    def schema(self) -> str:
        return "id bigint, tag string, bucket int"

    def reader(self, schema):  # noqa: ANN001, ANN201 - Spark API
        return _SeqReader(self.options)

    def simpleStreamReader(self, schema):  # noqa: ANN001, ANN201
        return _SeqStreamReader(self.options)


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str, pid: int, rows: int) -> None:
        self.path = path
        self.pid = pid
        self.rows = rows


class _JsonlWriter(DataSourceWriter):
    """One JSONL file per partition, via a real two-phase commit: each
    task ATTEMPT writes an attempt-unique staging file (named with the
    task attempt id, so a retried or speculative attempt of the same
    partition can never clobber another attempt's bytes), and only
    ``commit()`` — which runs on the driver after every task succeeded
    — renames the staged files named in the commit messages to their
    final ``part-<pid>.jsonl`` paths. Overwrite-mode deletion of the
    previous result also happens inside ``commit()``, so a failed job
    leaves the old output fully intact (atomic-enough overwrite on a
    posix dir)."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):  # noqa: ANN001, ANN201 - Spark API
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(
            self.path, f".part-{pid:05d}-{attempt}.jsonl.tmp")
        n = 0
        # task-level cleanup: if this task fails mid-write, remove its
        # own staging file HERE (the driver's abort() also sweeps, but
        # it can race a still-running sibling task of the failed job —
        # the owner deleting its own file cannot race anyone)
        try:
            with open(staged, "w", encoding="utf-8") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(), default=str,
                                       sort_keys=True) + "\n")
                    n += 1
        except BaseException:
            try:
                os.remove(staged)
            except OSError:
                pass
            raise
        return _WroteFile(staged, pid, n)

    def commit(self, messages):  # noqa: ANN001, ANN201 - Spark API
        import glob
        import os

        if self.overwrite:
            # clear the PREVIOUS result only now that every task has
            # succeeded — a failed overwrite job must not destroy it
            for f in glob.glob(os.path.join(self.path, "part-*.jsonl")):
                os.remove(f)
        for m in messages:
            final = os.path.join(self.path, f"part-{m.pid:05d}.jsonl")
            os.replace(m.path, final)
        # anything still staged was a failed/speculative attempt
        for f in glob.glob(os.path.join(self.path, ".part-*.jsonl.tmp")):
            os.remove(f)

    def abort(self, messages):  # noqa: ANN001, ANN201 - Spark API
        import glob
        import os

        for f in glob.glob(os.path.join(self.path, ".part-*.jsonl.tmp")):
            os.remove(f)


class _JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming twin of ``_JsonlWriter``: one JSONL file per
    (micro-batch, partition), with the same attempt-unique staging +
    driver-side commit protocol. Exactly-once per micro-batch comes
    from IDEMPOTENT commits: the final name is a pure function of
    ``(batchId, partitionId)``, so when the engine replays a batch
    after a crash (same batchId, same source offsets) the re-commit
    renames over the same paths instead of duplicating rows — the
    contract every exactly-once file sink (and Kafka transactional
    sink) implements. ``abort`` removes only that batch's staging.
    """

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator):  # noqa: ANN001, ANN201 - Spark API
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(
            self.path, f".stream-part-{pid:05d}-{attempt}.jsonl.tmp")
        n = 0
        try:  # owner-cleans-own-staging, as in _JsonlWriter.write
            with open(staged, "w", encoding="utf-8") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(), default=str,
                                       sort_keys=True) + "\n")
                    n += 1
        except BaseException:
            try:
                os.remove(staged)
            except OSError:
                pass
            raise
        return _WroteFile(staged, pid, n)

    def commit(self, messages, batchId):  # noqa: ANN001, ANN201, N803
        import glob
        import os

        for m in messages:
            final = os.path.join(
                self.path, f"batch-{batchId:05d}-part-{m.pid:05d}.jsonl")
            os.replace(m.path, final)
        for f in glob.glob(os.path.join(self.path,
                                        ".stream-part-*.jsonl.tmp")):
            os.remove(f)

    def abort(self, messages, batchId):  # noqa: ANN001, ANN201, N803
        import glob
        import os

        for f in glob.glob(os.path.join(self.path,
                                        ".stream-part-*.jsonl.tmp")):
            os.remove(f)


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonlpy").option("path", dir).mode(...).save()``
    — the WRITER half of the Python DataSource V2 API, symmetric to
    ``seqgen``'s reader half; ``df.writeStream.format("jsonlpy")``
    reaches the STREAMING writer, completing the V2 matrix
    (batch read + pushdown / batch write / stream read / stream write).
    """

    @classmethod
    def name(cls) -> str:
        return "jsonlpy"

    def writer(self, schema, overwrite):  # noqa: ANN001, ANN201
        return _JsonlWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite):  # noqa: ANN001, ANN201, N802
        return _JsonlStreamWriter(self.options)


def register(spark) -> None:  # noqa: ANN001
    """Idempotent registration. Only the already-registered error is
    swallowed — a genuine failure (e.g. a build without Python
    DataSource support) must surface here, not later as a confusing
    format-not-found."""
    # a reader that implements pushFilters refuses to plan unless the
    # pushdown feature flag is on (Spark 4.1 guards the new API); the
    # one conf the package writes outside session.py (see its policy)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    for src in (SeqDataSource, JsonlSinkDataSource):
        try:
            spark.dataSource.register(src)
        except Exception as exc:  # noqa: BLE001 - filtered below
            msg = str(exc).upper()
            if "ALREADY" not in msg and "EXISTS" not in msg:
                raise

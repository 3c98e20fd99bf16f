"""Table maintenance utilities [EXT]: the small-files problem.

Streaming sinks and fine-grained partitioned writes accumulate many
tiny parquet files; at 100 TB an uncompacted table turns every scan
into millions of file-open round trips and starves the scheduler with
micro-tasks. Compaction rewrites a directory into size-targeted files
— run it as a periodic maintenance job on hot tables.

Reference provenance: the reference writes sinks with whatever
partitioning the job happened to have (``PipelineProcessor.scala:122-128``)
and has no maintenance story (SURVEY.md §2.2 Sinks); this is the
north-star operational complement.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    mode: str = "overwrite") -> int:
    """Rewrite the parquet data under ``src`` into ``dst`` as
    ~``target_file_bytes``-sized files; returns the output file count.

    File count is derived from the SOURCE's on-disk bytes (cheap
    FileSystem metadata call — no data pass), then a single
    ``repartition(n)`` write performs one round-robin shuffle. 128 MB
    matches ``spark.sql.files.maxPartitionBytes`` so a later scan gets
    one task per file. ``src``/``dst`` must differ (parquet cannot
    overwrite a directory it is reading)."""
    if src.rstrip("/") == dst.rstrip("/"):
        raise ValueError("compact_parquet needs dst != src "
                         "(cannot overwrite the directory being read)")
    jsc = spark.sparkContext._jsc
    path = getattr(spark.sparkContext._jvm, "org.apache.hadoop.fs.Path")(src)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode(mode).parquet(dst)
    return n_files

"""Partitioning helpers for CPU-dense stages.

Parquet scan parallelism follows FILE BYTES (``maxPartitionBytes`` splits),
but the cost of a Python/UDF-heavy stage follows ROWS × per-row work. A
small-but-dense input (e.g. a 10 MB documents file holding 50k texts that
each get shingled and hashed) scans as 1-3 partitions, so the expensive
stage runs on 1-3 cores while the rest of the box idles — measured 15 s →
~2 s for MinHash signatures over 50k docs on local[32] after widening.

``ensure_min_partitions`` is a no-op whenever the plan already has enough
partitions, which is exactly the 100 TB case (a real table scans as
thousands of splits); it only inserts a round-robin repartition when the
scan is narrower than the session's parallelism. Callers are CPU-bound
stages where one extra small shuffle is strictly cheaper than serializing
the work onto a handful of cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) — only if it currently has fewer.

    Call this on SCAN-ROOTED frames (scan/filter/project lineage only):
    the width probe converts to an RDD, and under AQE that finalizes the
    physical plan — for a frame that already contains shuffles it can
    trigger eager stage execution. In-repo call sites pass plain scan
    projections, with one exception: the flagship mapping's label seed
    reaches the blocked rung after its own explicit
    ``repartition(defaultParallelism, "raw_input_label")``, so the probe
    runs only that small shuffle stage and finds the frame wide enough —
    no round-robin re-spreads its 768-d vectors. (Without that explicit
    count, AQE would have coalesced the seed to one partition.)"""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)

"""Scale-adaptive scan-parallelism guard (guide §2.2 / §6.1).

A small input (one file under ``spark.sql.files.maxPartitionBytes``) splits
into fewer scan partitions than the session has cores, so Arrow-batched
Python stages and per-row JVM expressions run 2-wide on a 32-core box while
the rest idles.  The split-size configs belong to the session (and the
bench pins them), so the operator-level fix is a round-robin repartition up
to ``defaultParallelism`` — applied ONLY when the plan currently has fewer
partitions.  At production scale inputs carry plenty of splits and this is
a structural no-op (it never repartitions DOWN, which would be harmful).

Round-robin repartition is retry-deterministic (Spark sorts before
repartitioning — SPARK-23207), and every caller's computation is per-row /
per-group, so partition composition never changes results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its current plan yields fewer partitions; identity
    otherwise.  Call on a SLIM projection (the exchange moves every column
    of ``df``).

    Contract: ``df`` must be a scan plus narrow operators (projections,
    filters).  The callers (``dedup`` signatures, ``pack``) apply it to a
    ``select`` of their operator's input, so that input must be scan-shaped
    too.  The ``df.rdd.getNumPartitions()`` probe plans ``df`` eagerly;
    with a shuffle or join upstream it would plan those stages a second
    time, and under AQE the probed count can differ from what the DataFrame
    actually executes."""
    if df.isStreaming:
        # a streaming plan has no static partition count (df.rdd is
        # illegal); micro-batch parallelism is the source's business
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

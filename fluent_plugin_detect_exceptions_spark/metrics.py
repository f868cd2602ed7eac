"""Per-partition lineage and metrics (north rule: 'checkpoints per-partition
lineage and metrics for resumable runs').

Two small tables per run, written next to the job output:

* ``lineage``: one row per *input file* — which source files fed the run and
  how many turns each contributed (``input_file_name()`` at scan time, before
  any shuffle destroys provenance);
* ``metrics``: segmentation-stage stats — the job path derives them as
  *observed metrics* riding the routed write (``DataFrame.observe`` /
  CollectMetricsExec: computed in-plan, exactly-once under task retries, one
  row per resumable bucket), so the classify+FSM stage runs exactly once per
  bucket.

Both are derived from columns the pipeline already carries — no side
channels, no accumulators, so they are exactly consistent with the data
written (an accumulator-based counter can double-count retried tasks; an
in-plan aggregation cannot).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, Observation, functions as F


def input_lineage(df: DataFrame, conv_col: str, order_col: str) -> DataFrame:
    """One row per source file: (file, n_rows, min/max turn, approx_convs),
    from the conversation column ``conv_col`` and the order column
    ``order_col``."""
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(order_col).alias("min_turn"),
            F.max(order_col).alias("max_turn"),
            F.approx_count_distinct(conv_col).alias("approx_convs"),
        )
    )


def observed(obs: Observation, names) -> dict[str, int]:
    """The metrics ``names`` that ``obs`` collected, each as an int (a sum
    over no rows reads 0), after the observed action has run.  When the
    optimizer prunes the observed plan as empty (a filter folded over local
    rows), Spark reports an empty row, which ``Observation.get`` cannot
    convert; every metric then reads 0, as it would over an empty scan."""
    # PySpark exposes no emptiness check: read the JVM row that
    # Observation.get converts (the action has run, so this does not block)
    if obs._jo is not None and obs._jo.getRow().length() == 0:
        return dict.fromkeys(names, 0)
    got = obs.get
    return {k: int(got[k] or 0) for k in names}


def write_run_metadata(path: str, run_id: str, payload: dict) -> None:
    """Small JSON sidecar (driver-side) describing a completed run step;
    ``path`` is a local directory or ``file:`` URI."""
    import os

    from .checkpoint import local_dir

    path = local_dir(path)
    os.makedirs(path, exist_ok=True)
    payload = dict(payload, run_id=run_id, written_at=time.time())
    with open(f"{path}/{run_id}.json", "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)

"""Partition-shape guards.

The heavy per-row operators (shingling, hashing, regex extraction) are CPU
bound: their wall time is input-partition-count / cores.  On a real cluster
a 100 TB scan arrives in ~100k splits and needs no help, but a small or
badly-laid-out source (one parquet row group, one gzip file, a driver-created
payload) arrives as ONE partition and serializes the whole pipeline onto a
single core — profiled 30× slower than the same query at sf0.1.

``ensure_min_parallelism`` widens only when the scan is narrower than the
requested parallelism, so it never inserts a wasteful full-data shuffle on a
well-partitioned source, and when it does shuffle, that is precisely the
case where redistributing the data is worth one exchange.

``reuse`` is the one barrier for a frame that several consumers of the
same plan read.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame

_REUSE_ON: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "reuse_on", default=True
)


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition to ``target`` (default: cluster parallelism)
    iff the current plan would execute in fewer partitions than that."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def reuse(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once for every consumer that reads it.

    Catalyst reuses a subtree that two branches of one plan read only
    when both plan it identically, which their diverging column pruning
    usually prevents, so without a barrier each consumer re-runs it.
    This returns ``df.localCheckpoint(eager=False)``: the rows land in
    executor-local blocks on first use, every consumer scans those, and
    the context cleaner reclaims them with the frame.

    Cost: "lazy" holds only without an exchange in ``df``'s plan.  Under
    AQE the checkpoint needs the adaptive plan's final RDD, so every
    shuffle-map stage below it runs HERE, as a Spark job at construction
    time; only the final stage waits for the first action.  The blocks
    are not replicated, so losing an executor fails the query instead of
    recomputing them.

    Inside :func:`no_reuse` this returns ``df`` unchanged.
    """
    if not _REUSE_ON.get():
        return df
    return df.localCheckpoint(eager=False)


@contextlib.contextmanager
def no_reuse():
    """Lift every :func:`reuse` barrier built in this context, so a plan
    shows its full lineage instead of an opaque ``ExistingRDD`` scan.
    The switch is a context variable: other threads, such as a server's
    request handlers, keep their barriers."""
    token = _REUSE_ON.set(False)
    try:
        yield
    finally:
        _REUSE_ON.reset(token)

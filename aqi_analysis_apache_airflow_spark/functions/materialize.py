"""Materialize bounded multi-consumer intermediates (optimization
guide §3.3 "materialising an intermediate truncates the plan" / §5
"persist only when reused").

Spark plans are trees: a DataFrame referenced by k downstream
consumers appears k times in the final plan, and everything below it
— including corpus-sized scans, explodes and windows — re-executes
once per consumer unless an identical Exchange happens to be reused.
The fix for those plans is not more parallelism but computing the
shared intermediate ONCE.

``pin`` localCheckpoints a BOUNDED intermediate (k-row aggregate,
calendar/vocab/edge-bounded relation, a greedy/BFS round's handover —
never the raw corpus). Unlike ``persist``, which materializes but
keeps the logical plan, the checkpoint also cuts the lineage: every
consumer reads the materialized partitions instead of replaying the
corpus subtree, and unrolled round/consumer plans stop duplicating it
at explain level (mmr1's explain carried 404 scans / 5639 lines with
persists in place). Lazy by default (``eager=False``): the first
action materializes it, later consumers reuse — no extra blocking job
at construction time.

Fault-tolerance trade: a local checkpoint lives in executor block
storage with NO lineage behind it, so losing an executor that holds a
pinned partition fails the query instead of recomputing the slice.
That is the right trade only because every pinned relation is bounded
and query-scoped; a cluster deployment that must survive executor
loss needs a reliable ``checkpoint()`` against a checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint a bounded multi-consumer intermediate."""
    return df.localCheckpoint(eager=eager)

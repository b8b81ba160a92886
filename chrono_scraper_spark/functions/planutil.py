"""Plan-shape utilities (round 6): materialization anchor + scan-parallelism floor.

Two measured pathologies on the contract-query paths, both invisible at the
logical level and both fixed here without changing any query's output:

1. **Expensive derived columns get duplicated and sunk.** The ~120-regex
   filter-decision struct is a pure function of ``url`` (itself a pure
   function of ``doc_id`` in the oracle-parity corpus), so Catalyst's
   predicate pushdown substitutes the WHOLE chain into every consumer — a
   ``decision.status`` filter, a ``decision.priority_score`` sort key — and
   pushes it below every exchange into the file-scan stage. Measured in the
   round-6 before-plans: 2 chain copies in ``politeness_schedule``, 4 in
   ``crawl_order``, all evaluated in the scan stage, which for a
   single-row-group parquet file is ONE task (see below).
   ``materialize_once`` stops both: a non-deterministic projection blocks
   predicate pushdown through it and alias substitution out of it.

2. **Single-row-group inputs serialize the whole query.** A parquet file
   with one row group is readable by exactly one task no matter what
   ``spark.sql.files.maxPartitionBytes`` says (splits beyond the first
   produce zero rows) — and the driver's local testdata tables are exactly
   that shape (documents.parquet @sf1.0: 50k rows, ONE row group). Every
   expression pipelined onto the scan (regex chain, tokenization, md5,
   cosine scoring) then runs on 1-2 cores of 32. ``scan_parallelism_floor``
   inserts one cheap round-robin exchange of the narrow base columns when —
   and only when — the input is too small to fill the cluster at
   ``maxPartitionBytes`` granularity, so at production scale (inputs >>
   cores x 128 MB) the condition never fires and no exchange is added.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def materialize_once(col: "F.Column") -> "F.Column":
    """Materialization anchor — the column-level analog of DuckDB/
    PostgreSQL ``WITH x AS MATERIALIZED``: wraps an expensive expression in
    ``CASE WHEN monotonically_increasing_id() >= 0 THEN expr END``. The
    predicate is always true (mid is non-negative by construction), so the
    VALUE is identical for every row — but the wrapper is non-deterministic
    to Catalyst, which therefore (a) refuses to push any predicate below
    the Project that defines the alias, (b) refuses to substitute the alias
    into consuming expressions, and (c) cannot constant-fold the wrapper
    away (the condition is non-foldable). The expression is planned,
    code-generated, shipped and evaluated exactly ONCE, where it stands.

    Why it exists (measured, round 6): the ~120-regex filter-decision
    struct is a pure function of its inputs, so predicate pushdown
    substituted the WHOLE chain into every consumer — 2 copies in
    ``politeness_schedule``'s plan, 4 in ``crawl_order``'s, a ~300 KB
    formatted plan and a 2.3 MB task binary whose per-run planning/codegen/
    serialization overhead dominated the queries (~1.2 s per execution,
    data-independent). With the anchor: 1 copy, a 20 KB plan, and
    politeness_schedule dropped 3.26 s -> 0.40 s at sf1.0 on the same data.

    Two fences tried first and rejected: a reference-free non-deterministic
    FILTER is itself pushed below deterministic projections (observed), and
    anchoring that filter with ``alias IS NULL`` gets constant-folded away
    because struct-typed aliases are provably non-null.

    Nullability: CaseWhen without ELSE marks the column nullable; no null
    is ever produced (the branch always fires). Batch-only (Structured
    Streaming rejects non-deterministic expressions); the engine's
    streaming surface runs its filter chain inside ``foreachBatch``, which
    is batch semantics.
    """
    return F.when(F.monotonically_increasing_id() >= 0, col)


def release(df: DataFrame) -> None:
    """Free the blocks that ``df.cache()`` or ``df.localCheckpoint()`` holds.

    ``DataFrame.unpersist`` frees only a cache. A local checkpoint is no
    cache entry: its data is the persisted RDD under the frame's
    ``LogicalRDD`` leaf, which PySpark has no call to unpersist, so the
    blocks would outlive every reader. Spark never recomputes a local
    checkpoint: after this, any read of ``df`` or of a frame planned over
    it raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def scan_parallelism_floor(spark: SparkSession, df: DataFrame,
                           path: str | None = None) -> DataFrame:
    """Raise scan parallelism for inputs that cannot fill the cluster.

    When the input's on-disk bytes are below ``maxPartitionBytes x
    defaultParallelism`` — i.e. even perfect splitting could not produce one
    split per core, and row-group granularity usually produces far fewer
    (one-row-group files: exactly one) — round-robin repartition to
    ``defaultParallelism`` so the compute pipelined above the scan (regex
    chains, tokenization, hashing) runs wide. The exchange moves only the
    pruned base columns (column pruning passes through exchanges) and costs
    a few ms at the sizes that trigger it; at production scale the
    condition is never met and the scan's own splits stand.

    Two gates keep the exchange from costing more than it saves (measured
    round 6: events_tumbling 0.38 s -> 1.20 s without them):

    - **Row width** (parquet footer ``num_rows``): an exchange's cost is
      per ROW (serialize + hash + copy), while its payoff is per unit of
      downstream COMPUTE, which tracks payload width. Wide rows (text,
      embeddings; >= ~64 compressed bytes/row) parallelize profitably;
      narrow fact rows (events at 16 B/row, lineitem at 22 B/row) already
      aggregate at memory speed in the scan stage and only pay.
    - **Minimum size** (2 MB): dimension-table scans finish in ms either
      way; skip the plan noise.
    """
    if path is None:
        return df
    try:
        nbytes = _path_bytes(path)
    except OSError:
        return df
    if nbytes < 2 * 1024 * 1024:
        return df
    par = spark.sparkContext.defaultParallelism
    try:
        max_split = int(str(spark.conf.get(
            "spark.sql.files.maxPartitionBytes",
            str(128 * 1024 * 1024))).lower().rstrip("b"))
    except ValueError:  # "128m"-style values from external configs
        max_split = 128 * 1024 * 1024
    if nbytes >= max_split * par:
        return df
    n_rows = _parquet_rows(path)
    if n_rows and nbytes / n_rows < 64:
        return df
    return df.repartition(par)


def _parquet_rows(path: str) -> int | None:
    """Total rows from parquet footers (a metadata read, no data pages)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    files = []
    if os.path.isfile(path):
        files = [path]
    else:
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, f) for f in names
                      if f.endswith(".parquet") and not f.startswith((".", "_"))]
    total = 0
    try:
        for f in files:
            total += pq.ParquetFile(f).metadata.num_rows
    except OSError:
        return None
    return total or None

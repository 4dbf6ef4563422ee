"""Deterministic global sequence assignment — scalable total-order ranks.

A naive ``row_number() OVER (ORDER BY ...)`` with no partition key collapses
the whole DataFrame into a single reducer — fine at 10^3 rows, fatal at 10^10.
:func:`with_global_seq` instead numbers rows in the stage that sorts them:

1. range-repartition + sort within partitions on the order key (Spark's
   distributed sample sort), tagging each row with
   ``monotonically_increasing_id`` = ``(partition << 33) + position`` before
   the ``localCheckpoint``;
2. one count job — a group-by on ``id >> 33`` — gives each partition's
   cumulative offset; ``seq`` is the id plus its partition's broadcast delta
   ``offset[p] - (p << 33)``.

Cost: the checkpointed sort plus that count job; no single-reducer stage.
The output is a projection of the checkpoint scan (no window, sort or
exchange), so consumers read the sorted rows in place. This keeps the crawl
trace's contiguous ``seq`` exact at frontier scale (SURVEY.md §8.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    start: int = 0,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Returns (df with contiguous ``seq_col`` starting at ``start`` in
    ``order_cols`` order, total row count) — the count falls out of the
    offset pass for free. ``order_cols`` must be a total order (ties take an
    arbitrary order), and a range partition must hold fewer than 2^33 rows."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    cols = [F.col(c) for c in order_cols]
    d = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    pid = F.shiftright(F.col("_mid"), 33)
    counts = sorted(tuple(r) for r in d.groupBy(pid).count().collect())
    if not counts:
        return df.withColumn(seq_col, F.lit(0).cast("long")).limit(0), 0
    deltas, acc = [], start
    for p, cnt in counts:
        deltas += [F.lit(p), F.lit(acc - (p << 33))]
        acc += cnt
    delta = F.element_at(F.create_map(*deltas), pid)
    return d.withColumn(seq_col, F.col("_mid") + delta).drop("_mid"), acc - start

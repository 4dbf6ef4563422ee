"""Sequence packing for LLM pretraining shards (concat-and-chunk).

The standard GPT-style packing: documents in a deterministic global order
are conceptually concatenated into one token stream and cut every
``budget`` tokens; each training sequence ("chunk") is exactly ``budget``
tokens, documents span chunk boundaries. The operator answers, per
document, WHERE it lands: its token offset in the stream and the chunk
range it occupies — the placement map a shard writer needs to emit packed
sequences, and the bookkeeping a data-mixture auditor needs to trace a
training token back to its source document.

Scale shape: the global running offset is the same two-pass pattern as
:func:`..functions.ordering.with_global_seq` — range-repartition + sort on
the order key, per-PARTITION token sums to the driver (O(partitions)
scalars), then a partition-local cumulative sum plus the broadcast prefix
offset. Never a ``SUM() OVER (ORDER BY ...)`` global window, which would
funnel the whole corpus through one reducer task. Everything else is
native arithmetic on the (id, n_tok) pair — document text is read once
for tokenization and never shuffled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_count_expr


def pack_chunks(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tok_col: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """→ (id_col, n_tok, tok_offset, first_chunk, last_chunk,
    chunks_spanned) for the concat-and-chunk packing of ``docs`` in
    ``id_col`` order at ``budget`` tokens per training sequence.

    ``tok_offset`` is the document's first-token position in the
    concatenated stream; ``first_chunk``/``last_chunk`` the chunk ids its
    tokens fall into (``chunk = tok // budget``). Empty documents occupy
    zero chunks: ``last_chunk = first_chunk``, ``chunks_spanned = 0`` —
    they contribute nothing to the stream, so their "placement" is the
    boundary they sit at. Tokenization defaults to the whitespace
    ``token_count_expr``; pass ``n_tok_col`` to pack by a different count
    (e.g. a BPE estimate column)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    n_tok = (
        token_count_expr(F.col(text_col)) if n_tok_col is None else n_tok_col
    ).cast("long")
    d = (
        docs.select(F.col(id_col), n_tok.alias("n_tok"))
        .repartitionByRange(num_partitions, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # pass 1: per-partition token totals → driver prefix offsets
    # (O(partitions) scalars — model-weight-sized, broadcast as a literal map)
    part_sums = sorted(
        (r["_pid"], r["s"])
        for r in d.groupBy("_pid")
        .agg(F.coalesce(F.sum("n_tok"), F.lit(0)).alias("s"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, s in part_sums:
        offsets[pid] = acc
        acc += s
    if not offsets:
        return spark.createDataFrame(
            [],
            f"{id_col} long, n_tok long, tok_offset long, first_chunk long,"
            " last_chunk long, chunks_spanned long",
        )
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("_pid"),
    ).cast("long")
    # pass 2: partition-LOCAL running sum (window is keyed by _pid — no
    # global-order exchange) + the broadcast prefix
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0)) + offset_expr
    first = F.floor(F.col("tok_offset") / budget)
    last = F.when(F.col("n_tok") > 0, (F.col("tok_offset") + F.col("n_tok") - 1)
                  .cast("long") / budget).otherwise(None)
    return (
        d.withColumn("tok_offset", cum)
        .select(
            id_col,
            "n_tok",
            "tok_offset",
            first.cast("long").alias("first_chunk"),
            F.coalesce(F.floor(last), first).cast("long").alias("last_chunk"),
            F.when(F.col("n_tok") > 0, F.floor(last) - first + 1)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("chunks_spanned"),
        )
    )


def balanced_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tok_col: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """→ (id_col, n_tok, rank, shard): assign each document to one of
    ``n_shards`` training shards so shard TOKEN totals are near-equal —
    the static load-balancing step before shard writers run, so no
    data-loader worker finishes an epoch long before the others.

    Snake (boustrophedon) assignment: documents ranked by
    (n_tok DESC, id ASC), rank r goes to shard ``r % S`` on even passes
    (``r // S`` even) and to the mirrored ``S-1 - r % S`` on odd passes,
    so each double pass hands every shard one large+one small item —
    the deterministic, coordination-free cousin of LPT whose assignment
    is a pure function of the rank (re-runs agree; the oracle replays it
    digit-for-digit).

    Scale shape: the global rank is the two-pass pattern of
    :func:`..functions.ordering.with_global_seq` (range-repartition on
    the sort key, rows numbered in the sorting stage + broadcast prefix
    offsets) — never a bare ``ROW_NUMBER() OVER (ORDER BY ...)`` global
    window; everything after the rank is per-row arithmetic."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from ..functions.ordering import with_global_seq

    n_tok = (
        token_count_expr(F.col(text_col)) if n_tok_col is None else n_tok_col
    ).cast("long")
    d = docs.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        (-n_tok).alias("_negtok"),
    )
    ranked, _ = with_global_seq(
        d, ["_negtok", id_col], seq_col="rank",
        num_partitions=num_partitions,
    )
    pos = F.col("rank") % n_shards
    shard = F.when(
        (F.floor(F.col("rank") / n_shards) % 2) == 0, pos
    ).otherwise(F.lit(n_shards - 1) - pos)
    return ranked.select(
        id_col, "n_tok", "rank", shard.cast("long").alias("shard")
    )


def chunk_manifest(packed: DataFrame, budget: int, id_col: str = "doc_id") -> DataFrame:
    """Invert :func:`pack_chunks`: → (chunk_id, doc_ids, n_docs, n_tokens)
    — the per-training-sequence work-list a shard writer consumes (which
    documents, in order, contribute tokens to chunk c, and how many).

    One explode of each doc's (first_chunk..last_chunk) span — a doc adds
    ``chunks_spanned`` rows, so the exploded size is ~(1 + tokens/budget)·
    docs — then a groupBy(chunk_id). Every chunk's ``n_tokens`` equals
    ``budget`` except the final partial chunk (an invariant the tests
    pin). Empty documents (zero chunks) do not appear in any manifest."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spans = packed.where(F.col("n_tok") > 0).select(
        F.col(id_col),
        F.col("tok_offset"),
        F.col("n_tok"),
        F.explode(
            F.sequence(F.col("first_chunk"), F.col("last_chunk"))
        ).alias("chunk_id"),
    )
    # tokens doc d contributes to chunk c: overlap of [off, off+n) with
    # [c·B, (c+1)·B)
    contrib = F.least(
        F.col("tok_offset") + F.col("n_tok"), (F.col("chunk_id") + 1) * budget
    ) - F.greatest(F.col("tok_offset"), F.col("chunk_id") * budget)
    return (
        spans.withColumn("_c", contrib)
        .groupBy("chunk_id")
        .agg(
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
            F.count("*").alias("n_docs"),
            F.sum("_c").alias("n_tokens"),
        )
    )

"""Engine #2 — embedding-ranked seed selection + one-round link harvest.

Re-expresses ``Manager.FindLinks`` (reference ``crawler2.go:18-117``) as a
single declarative DataFrame query (SURVEY.md §3.2)::

    seeds ⋈ embeddings → cosine vs query → rank → top-k slice
          → join pages → extract links → harvest

Faithful semantics, including the documented quirks (SURVEY.md §8.3):

* **T2 off-by-one** (``crawler2.go:67-72``): the slice keeps descending
  ranks 2..k+1, silently discarding the single best-scoring seed. Default
  ``quirk_compat=True`` reproduces it; pass False for the intended top-k.
* **Extract2 routing** (``crawler2.go:144-175``): HTML pages pour *all*
  their links into the harvest (depth-1, never followed); directly
  downloadable seeds are downloaded but NOT harvested (their local links
  list is discarded at ``crawler2.go:156-163``), and non-200 seeds yield
  nothing.

The embedding RPC sidecar (``api.go:22-49``) is replaced by a deterministic
md5-derived pseudo-embedding, computed **natively** (md5/conv/transform —
whole-stage codegen, and exactly mirrorable in ANSI SQL for the oracle).
On a real cluster the same column is produced by an Arrow-batched pandas
UDF calling the embedding service with ≤50-text batches (``api.go:179``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import TOP_K_SEEDS
from ..operators.extract import extract_rows
from ..operators.similarity import cosine_expr

EMBED_DIM = 8


def pseudo_embedding_expr(text: Column, dim: int = EMBED_DIM) -> Column:
    """Deterministic stand-in for the embedding RPC: dim values in [0,1]
    derived from md5(text ':' d). Native exprs only."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.conv(
            F.substring(F.md5(F.concat(text, F.lit(":"), d.cast("string"))), 1, 4),
            16,
            10,
        ).cast("double")
        / 65535.0,
    )


def rank_seeds(
    seeds: DataFrame,
    query_text: str,
    top_k: int = TOP_K_SEEDS,
    quirk_compat: bool = True,
    text_col: str = "description",
    emb_col: str | None = None,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Cosine-rank seeds against the query embedding. → (url, score).

    Default embeddings are the deterministic pseudo-embedding of
    ``text_col``; pass ``emb_col`` (e.g. produced by
    ``sources.embed_rpc.rpc_embed``) and ``query_vec`` (one driver-side RPC
    for the query text, crawler2.go:25-44) to rank with the real embedding
    service instead.

    The rank cut is expressed as ``orderBy().limit()`` — Spark's
    TakeOrderedAndProject, a per-partition partial top-k merged on the
    driver — NOT an unpartitioned ``row_number`` window, which would pull
    the whole scored table through a single reducer. The reference seed list
    is ~120 rows, but the same call must survive a 10^9-row seed table."""
    if query_vec is not None:
        qv = F.array(*[F.lit(float(x)) for x in query_vec])
    else:
        qv = pseudo_embedding_expr(F.lit(query_text))
    sv = (
        F.col(emb_col)
        if emb_col is not None
        else pseudo_embedding_expr(F.col(text_col))
    )
    scored = seeds.select(
        "url",
        cosine_expr(sv, qv).alias("score"),
    ).filter(F.col("score").isNotNull())
    ordered = scored.orderBy(F.desc("score"), F.asc("url"))
    if quirk_compat:
        # crawler2.go:67-72 — drops the best match, keeps ranks 2..k+1:
        # top-(k+1) minus top-1, two TakeOrdered jobs, no global window
        best = ordered.limit(1).select(F.col("url").alias("_best_url"))
        return (
            ordered.limit(top_k + 1)
            .join(
                F.broadcast(best),
                F.col("url") == F.col("_best_url"),
                "left_anti",
            )
        )
    return ordered.limit(top_k)


def harvest(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    query_text: str,
    top_k: int = TOP_K_SEEDS,
    quirk_compat: bool = True,
    emb_col: str | None = None,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """One-round harvest from the ranked seeds. → (seed_url, url, is_geo),
    distinct (the reference accumulates duplicates in arrival order; the
    relational form is the distinct link set per seed).

    The seeds' pages go through the engine's fused extraction pass
    (``operators.extract.extract_rows``), whose routing is Extract2's: a
    status-200 page with a non-geo MIME type and html pours its links
    into the harvest; geo-MIME downloads and non-200 (or missing) pages
    yield nothing."""
    selected = rank_seeds(
        seeds, query_text, top_k, quirk_compat,
        emb_col=emb_col, query_vec=query_vec,
    ).select("url")
    fetched = selected.join(
        pages.select("url", "status", "content_type", "html"), "url", "left"
    )
    return extract_rows(fetched, 1).select(
        F.col("url").alias("seed_url"),
        F.col("link_url").alias("url"),
        F.col("link_is_geo").alias("is_geo"),
    ).distinct()

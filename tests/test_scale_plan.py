"""Plan-shape pins for the scale design claims (SURVEY §4 / README):
these assert the PHYSICAL plan, not results — a regression that silently
reintroduces a shuffle or loses pushdown fails here even though answers
stay correct.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_shuffle_free(spark):
    """Equal-bucketed tables on the join key sort-merge WITHOUT an
    exchange on either side — the co-located join lever for repeated
    frontier ⋈ seen joins at 10^10 rows."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("t_li_bucketed")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("t_orders_bucketed")
    try:
        a = spark.table("t_li_bucketed")
        b = spark.table("t_orders_bucketed")
        # force the sort-merge path (no broadcast) to expose any shuffle
        joined = a.join(b.hint("merge"), a["l_orderkey"] == b["o_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")


def test_q1_filter_reaches_parquet_scan(spark):
    df = entry_mod.queries()["q1_lineitem_agg"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan, plan


def test_q3_small_dims_broadcast(spark):
    df = entry_mod.queries()["q3_topk_join"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_no_unpartitioned_window_in_topk_paths(spark):
    """T2 and the seed ranker express their global-order cuts as
    TakeOrderedAndProject (per-partition partial top-k merged on the
    driver), never as an unpartitioned row_number window — which would be a
    single-reducer sort of the full table at 10^10 rows."""
    df = entry_mod.queries()["t2_topk_quirk"](spark, SF)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    from geospatial_web_scraper_spark import corpus
    from geospatial_web_scraper_spark.plans.harvest import rank_seeds

    rs = rank_seeds(corpus.seeds_df(spark, 300, k=13), "q", top_k=10)
    plan = _plan(rs)
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_topk_never_windows_on_query_id_alone(spark):
    """The full-scan ANN reducers (brute-force cosine, PQ/ADC) and the
    bucket/cell-bounded ones must never hash-partition a window on the
    tiny-cardinality query_id alone — that funnels every scored corpus row
    of a query into ONE reducer task (the skewed-shuffle scale-killer at
    10^10 rows). The only window allowed is the salted pre-cut, whose spec
    carries the _salt column; the final per-query top-k must be a hash
    aggregate (grouped_topk), not a window."""
    for key in ("ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_adc"):
        df = entry_mod.queries()[key](spark, SF)
        plan = _plan(df)
        for line in plan.splitlines():
            if "windowspecdefinition" in line and "query_id" in line:
                assert "_salt" in line, (key, line)


def test_neardup_embedding_is_bucket_blocked(spark):
    """The driver's embedding near-dup query must execute the LSH bucket
    equi-join (blocked candidates), never an all-pairs theta join."""
    df = entry_mod.queries()["neardup_embedding"](spark, SF)
    plan = _plan(df)
    assert "_bucket" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["c10_xml_meta", "x1_extract_links"])
def test_c10_feed_fold_never_shuffles_html(spark, name):
    """The feed fold and the link extraction run inside the pages scan's
    partitions (the engine's fused pass, one MapInPandas; the feeds table
    is a broadcast dict folded in place), so HTML bytes never move. An
    Exchange carrying html would re-ship the dominant data volume at
    every round."""
    import re

    df = entry_mod.queries()[name](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "html" not in m.group(0), m.group(0)


def test_c10_xml_meta_has_no_exchange(spark):
    """The feed fold is one Arrow pass over the pages scan against the
    broadcast feeds dict: one MapInPandas, no join, no shuffle."""
    plan = _plan(entry_mod.queries()["c10_xml_meta"](spark, SF))
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_column_pruning_on_projection(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _plan(docs)
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_residual_ivf_pq_query_no_query_id_window(spark):
    """The r3 residual serving query obeys the same reducer rule as every
    other ANN path: any window touching query_id must carry the salt."""
    df = entry_mod.queries()["ann_ivf_pq_residual"](spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "query_id" in line:
            assert "_salt" in line, line


def test_kmeans_assignment_is_shuffle_free(spark):
    """Lloyd's assignment step must be a pure per-row projection (Arrow
    argmax against broadcast centroid weights): no Exchange, no join, no
    aggregate anywhere in the plan that carries the vector column — the r2
    form's groupBy(id, vector) shuffled every vector once per iteration."""
    from geospatial_web_scraper_spark.operators.similarity import kmeans_fit

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    # reproduce the assignment projection exactly as kmeans_fit builds it:
    # one iteration's assigned DataFrame is a select + where over base
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rows = emb.orderBy("vec_id").limit(3).collect()
    cmat = np.stack([np.asarray(r["embedding"]) for r in rows])
    cids = np.array([r["vec_id"] for r in rows])
    cnorm = np.linalg.norm(cmat, axis=1)

    @F.pandas_udf(T.LongType())
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.map(np.asarray).to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        cos = (mat @ cmat.T) / np.maximum(vn[:, None], 1e-300)
        cos /= np.maximum(cnorm[None, :], 1e-300)
        return pd.Series([int(cids[b]) for b in cos.argmax(axis=1)])

    assigned = emb.select(
        "vec_id", "embedding", assign(F.col("embedding")).alias("cid")
    ).where(F.col("cid").isNotNull())
    plan = _plan(assigned)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # and the real operator's output still matches the oracle-checked
    # assignment rule end-to-end
    cent = kmeans_fit(emb, k=3, iters=2)
    assert cent.count() == 3


def test_ivf_pq_index_prunes_partitions(spark, tmp_path):
    """The partitioned IVF-PQ index turns cell probing into file-level
    pruning: a probed-cells read shows the cid predicate under
    PartitionFilters (not a post-scan Filter), and serving from the pruned
    index equals serving from the in-memory coded table."""
    import numpy as np

    from geospatial_web_scraper_spark.operators import pq, similarity

    rng = np.random.default_rng(23)
    protos = np.eye(3, 8) * 10.0
    rows = [
        (i, [float(x) for x in protos[i % 3] + rng.standard_normal(8) * 0.3])
        for i in range(45)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = similarity.kmeans_fit(emb, k=3, iters=2)
    res = pq.residuals(emb, cent)
    cb = pq.pq_fit(res.select("vec_id", "embedding"), m=4, k=8, iters=1)
    coded = pq.ivf_pq_encode(emb, cent, cb)
    idx = str(tmp_path / "ivf_pq_index")
    pq.write_ivf_pq_index(coded, idx)

    some_cid = coded.select("cid").first()[0]
    pruned = pq.load_ivf_pq_cells(spark, idx, cids=[some_cid])
    plan = _plan(pruned)
    assert "PartitionFilters" in plan, plan
    assert "cid" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0], plan
    assert pruned.count() == coded.where(F.col("cid") == some_cid).count()

    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from_disk = pq.ann_ivf_pq_topk(
        pq.load_ivf_pq_cells(spark, idx), None, cent, cb, queries,
        k=5, n_probe=3, by_residual=True,
    )
    in_mem = pq.ann_ivf_pq_topk(
        coded, None, cent, cb, queries, k=5, n_probe=3, by_residual=True
    )
    assert sorted(map(tuple, from_disk.collect())) == sorted(
        map(tuple, in_mem.collect())
    )


def test_pack_sequences_window_is_partition_local(spark):
    """pack_chunks' running token offset must be the two-pass
    partition-prefix pattern: every window in the plan is keyed by the
    physical-partition id (_pid), never a bare SUM() OVER (ORDER BY ...)
    global window — which would funnel the whole corpus through one
    reducer at 10^10 documents."""
    df = entry_mod.queries()["pack_sequences"](spark, SF)
    plan = _plan(df)
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw_window = True
            assert "_pid" in line, line
    assert saw_window, plan


def test_semdedup_pairs_join_is_cell_blocked(spark):
    """semdedup's within-cell prune must execute the cid equi-join
    (candidates bounded per Voronoi cell), never an all-pairs theta join;
    and its cell assignment must be the broadcast-weights Arrow UDF — no
    Exchange between the corpus scan and the assignment projection."""
    df = entry_mod.queries()["semdedup"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only window-free reduction: a join keyed on cid
    assert "cid" in plan, plan


def test_pagerank_joins_are_equi(spark):
    """Every PageRank iteration must reduce via equi-joins + hash
    aggregation (edges ⋈ ranks on src, groupBy dst with map-side partial
    agg) — no cartesian/theta join anywhere, and no global-order window:
    the iteration state is O(nodes) and the only per-iteration driver
    value is the dangling-mass scalar."""
    df = entry_mod.queries()["link_pagerank"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_hits_joins_are_equi(spark):
    """Every HITS iteration must reduce via equi-joins + hash aggregation
    (edges ⋈ scores on src then dst, map-side partial sums) — no
    cartesian/theta join, no global-order window: the state is O(nodes)
    and the only per-iteration driver values are the two rescale maxima."""
    df = entry_mod.queries()["link_hits"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_lm_perplexity_rank_is_partition_local(spark):
    """The tertile cut must use the two-pass global-seq pattern: any
    window in the plan is keyed by _pid, never a bare global ORDER BY
    window (single reducer over every scored document). The rank is a
    projection of the sorted checkpoint: no Window, no Exchange."""
    df = entry_mod.queries()["lm_perplexity"](spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "Window" not in plan and "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_sketch_topk_is_salted(spark):
    """The k-smallest reduction must be the salted two-phase form: every
    window in the plan is keyed by (_g, _salt), never the group alone — a
    source with 10^9 distinct tokens must spread across reducers."""
    df = entry_mod.queries()["cardinality_sketch"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    saw = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw = True
            assert "_salt" in line, line
    assert saw, plan


def test_bm25_has_no_window_and_broadcasts_stats(spark):
    """BM25 reduces purely via hash aggregates + broadcast joins: no
    window operator at all, no cartesian product; the only nested-loop
    join is the one-row corpus-totals broadcast cross join."""
    df = entry_mod.queries()["bm25_relevance"](spark, SF)
    plan = _plan(df)
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # dft and lens joins


def test_heavy_hitters_topk_is_salted(spark):
    """Top tokens per source: the only windows allowed are the salted
    pre-cut over the AGGREGATED counts — never a bare per-source window."""
    df = entry_mod.queries()["heavy_hitters"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_salt" in line, line


def test_quantiles_window_is_post_aggregation(spark):
    """The running-sum window must consume the (source, length, count)
    hash aggregate, not raw documents: a HashAggregate appears below the
    Window in the plan tree."""
    df = entry_mod.queries()["token_len_quantiles"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    lines = plan.splitlines()
    win = [i for i, l in enumerate(lines) if " Window [" in l]
    assert win, plan
    # below the Window (deeper in the printed tree = later lines), a
    # partial_count aggregate collapses documents before the sort
    assert any(
        "HashAggregate" in l and "count" in l for l in lines[win[0]:]
    ), plan


def test_sessionize_is_hash_agg_not_window(spark):
    """session_window must plan as aggregation (map-side partial merge,
    one shuffle on user_id) — never a per-user window function over raw
    events."""
    df = entry_mod.queries()["sessionize_events"](spark, SF)
    plan = _plan(df)
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "MergingSessions" in plan or "HashAggregate" in plan, plan


def test_containment_join_is_equi_not_cartesian(spark):
    """dedup_containment's pair generation must stay a fingerprint
    EQUI-join (hash/sort-merge on fp) — never a nested-loop/cartesian
    scan — and the df-cap pre-filter bounds every join key's fan-out."""
    df = entry_mod.queries()["dedup_containment"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_recall_eval_joins_are_equi_not_cartesian(spark):
    """dedup_recall_eval's truth side must stay a gram inverted-index
    EQUI-join (pairs materialize only where a shingle is shared) and its
    caught side the banded EQUI self-join — never a nested-loop/cartesian
    all-pairs scan, even though the semantics are 'all pairs above a
    floor'. No window operator: buckets aggregate via hash agg."""
    df = entry_mod.queries()["dedup_recall_eval"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_line_dedup_freq_is_aggregate_not_window(spark):
    """dedup_lines' document-frequency decision must stay a (two-stage,
    map-side-combining) distinct aggregate on the segment hash feeding an
    EQUI-join — never a window over the hash (one task per hot segment)
    and never a nested-loop/cartesian pair scan."""
    df = entry_mod.queries()["dedup_lines"](spark, SF)
    plan = _plan(df)
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_power_iteration_round_is_dim_keyed_aggregate(spark):
    """embedding_pca_power's per-round Gᵀ(Gv) must be a map-side-combining
    HashAggregate over the dim keys — never a window, a cartesian, or any
    join (the iterate is embedded as literals, the kmeans/pagerank
    model-state pattern) — and the per-row Gv fold must not shuffle."""
    from geospatial_web_scraper_spark.operators import spectral

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf = spectral.quantize(emb)
    plan = _plan(spectral._dim_products(qdf, [spectral.SV] * 64))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan, plan
    # exactly ONE exchange: the 64-key dim aggregation
    assert plan.count("Exchange") == 1, plan


def test_incremental_verify_is_candidate_bounded(spark):
    """incremental_dedup's gate-3 verify must n-gram-explode the COMMITTED
    corpus only for band-collision candidate ids: the Generate that emits
    the committed-side grams (the one retaining _cid) must sit above a
    join with the candidate id set, never directly above the corpus scan —
    the r3 defect was a full-corpus gram Exchange per batch (VERDICT r3
    "What's wrong" #1)."""
    import re

    df = entry_mod.queries()["dedup_incremental"](spark, SF)
    lines = _plan(df).splitlines()

    def indent(line: str) -> int:
        return len(re.match(r"^[\s:+-]*", line).group(0))

    corpus_generates = [
        i
        for i, line in enumerate(lines)
        if "Generate explode" in line and "_cid#" in line
    ]
    assert corpus_generates, "\n".join(lines)
    for i in corpus_generates:
        d = indent(lines[i])
        subtree = []
        for j in range(i + 1, len(lines)):
            if indent(lines[j]) <= d:
                break
            subtree.append(lines[j])
        assert any(
            "Join" in s and "_cid#" in s for s in subtree
        ), "\n".join([lines[i], *subtree])


def test_curate_v2_fanout_reads_materialized_survivors(spark):
    """curate_corpus_v2's audit/sampling fan-out must consume the CURATED
    survivors from a materialized checkpoint (both consumers read the same
    RDD scan), never re-derive the gate/minhash chain per consumer — and
    no stage of the composed plan may fall back to a cartesian or
    nested-loop join."""
    df = entry_mod.queries()["curate_corpus_v2"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the fan-out sits on the checkpoint: the executed plan scans an
    # existing RDD instead of re-running the curation chain
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan


def test_tfidf_topk_is_salted(spark):
    """Per-doc keyword top-k: the only windows allowed are the salted
    pre-cut (grouped_topk) — never a bare per-doc window over the full
    (doc, term) table."""
    df = entry_mod.queries()["tfidf_keywords"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_salt" in line, line


def test_quality_classifier_has_no_exchange(spark):
    """The hashed-linear scorer is a pure per-row pass: no shuffle, no
    window, no join anywhere in the plan."""
    df = entry_mod.queries()["quality_classifier"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_chunking_has_no_exchange(spark):
    """Chunking rides the scan: posexplode over per-row window structs,
    zero shuffle."""
    df = entry_mod.queries()["chunk_documents"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_anchor_index_is_one_aggregate_no_html_shuffle(spark):
    """Anchor-text index: exactly one exchange (the (target, text) count
    groupBy); the html byte column must never appear above it."""
    df = entry_mod.queries()["anchor_text_index"](spark, SF)
    plan = _plan(df)
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges == 1, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def test_balanced_shards_window_is_partition_local(spark):
    """balanced_shards' global rank must be the two-pass pattern: every
    window keyed by _pid, never a bare ROW_NUMBER() OVER (ORDER BY ...)
    single-reducer window. The rank is a projection of the sorted
    checkpoint: no Window, no Exchange."""
    df = entry_mod.queries()["balanced_shards"](spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "Window" not in plan and "Exchange" not in plan, plan


def test_split_corpus_has_no_exchange(spark):
    """Split labels are a pure map-side function of the id: no shuffle."""
    df = entry_mod.queries()["split_corpus"](spark, SF)
    assert "Exchange" not in _plan(df), _plan(df)


def test_split_corpus_grouped_has_no_exchange(spark):
    """Group-disjoint split is STILL pure map-side: the group's hash is
    computed per-row from the group value — no groupBy, no join."""
    df = entry_mod.queries()["split_corpus_grouped"](spark, SF)
    assert "Exchange" not in _plan(df), _plan(df)


def test_sq8_encode_has_no_exchange(spark):
    """Per-vector quantization rides the scan: no shuffle, no window."""
    plan = _plan(entry_mod.queries()["sq8_encode"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_cms_is_bounded_aggregates_no_window(spark):
    """The sketch is hash aggregates over (row, bucket) int pairs plus the
    broadcast-friendly probe join — never a window, never a cartesian."""
    plan = _plan(entry_mod.queries()["cms_token_counts"](spark, SF))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_geo_radius_join_is_grid_equi(spark):
    """The spatial self-join must execute as the 3×3-neighborhood cell
    EQUI-join (balanced shuffle on the grid key) — never the naive
    distance theta-join, which is a cartesian at 10^10 points."""
    plan = _plan(entry_mod.queries()["geo_radius_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "_ncy" in plan and "_ncx" in plan, plan


def test_asof_join_window_is_key_partitioned(spark):
    """The as-of reduction's running-last window must partition by the
    high-cardinality join KEY — a global (or low-cardinality) window
    frame would funnel the full event stream through one reducer."""
    plan = _plan(entry_mod.queries()["asof_join_events"](spark, SF))
    saw_window = False
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            saw_window = True
            assert "_k" in line, line
    assert saw_window, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_bucketed_windows_partition_as_claimed(spark):
    """The bucketed as-of's pass-1 window must partition by (key,
    bucket) — the whole point is that a hot key's rows split across
    buckets — and its only per-key window is the pass-2 carry, which
    runs over one row per (key, bucket) summary slot, never raw rows."""
    plan = _plan(entry_mod.queries()["asof_join_bucketed"](spark, SF))
    local_seen = carry_seen = False
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        assert "_k" in line, line
        if "currentrow" in line:
            # pass 1 (running last over raw rows, ordered by _ts): MUST
            # be partitioned by the bucket too
            assert "_bk" in line and "_ts" in line, line
            local_seen = True
        else:
            # pass 2 (carry, frame ends at -1): per key over one row per
            # (key, bucket) summary slot — ordered by _bk, never by _ts
            assert "_ts" not in line, line
            carry_seen = True
    assert local_seen and carry_seen, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_model_is_broadcast_and_topk_salted(spark):
    """DSIR's two ≤512-row bucket models and the target-id set must ride
    BROADCAST joins back into the token stream (document rows shuffle
    only for the per-doc sum), and the selection must be the salted
    two-phase grouped_topk — its single-constant group key means any
    unsalted window would be a one-reducer sort of the whole corpus."""
    plan = _plan(entry_mod.queries()["dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_salt" in line, line


def test_range_join_is_bucket_equi_join(spark):
    """The band join must be the time-grid bucket EQUI-join + residual
    verify, never a theta-only join: no cartesian, no nested loop, and
    the range predicate appears as a post-join Filter/condition, not as
    the join strategy."""
    plan = _plan(entry_mod.queries()["range_join_events"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_rollup_never_rescans_raw(spark):
    """Hypertable hierarchy: raw events aggregate ONCE (materialized at
    the hour level by the checkpoint); day/week re-aggregate that output.
    The executed plan of the 3-level union must contain NO parquet scan
    at all — a second raw scan is the regression this pins out."""
    plan = _plan(entry_mod.queries()["rollup_events"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_geo_cluster_no_cartesian_no_window(spark):
    """Clustering = grid radius join + label propagation over
    checkpointed edges; the final sizing is groupBy + equi-join. Nothing
    in the composed plan may fall back to a nested-loop/cartesian or a
    global window."""
    plan = _plan(entry_mod.queries()["geo_cluster"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_geo_knn_is_hash_agg_no_window_no_cartesian(spark):
    """Per-point kNN must be the grid equi-join + a per-point HASH
    AGGREGATE top-k: the group key (point id) is high-cardinality, so
    the unsalted grouped_topk path applies and there must be NO window
    operator anywhere — and certainly no distance theta-join."""
    plan = _plan(entry_mod.queries()["geo_knn"](spark, SF))
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_point_in_polygon_is_cell_equi_join(spark):
    """Containment must run as the bbox-cell-explode EQUI-join with the
    parity verify as a post-join filter — never a geometry theta-join
    (cartesian at 10^10 points × 10^6 polygons) and never a window."""
    plan = _plan(entry_mod.queries()["geo_point_in_polygon"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "_ncy" in plan and "_ncx" in plan, plan


def test_zorder_rollup_never_rescans_raw(spark):
    """Morton-key density hierarchy: raw points aggregate ONCE (the
    fine level, materialized by the checkpoint); the coarse level
    re-aggregates via the Z-curve prefix division. No second parquet
    scan, no window — the rollup_time contract on the spatial axis."""
    plan = _plan(entry_mod.queries()["geo_zorder_rollup"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_kmeans_exact_assignment_is_arrow_map_no_shuffle(spark):
    """The exact-Lloyd final assignment must be ONE Arrow batch pass
    over broadcast centroids: no join, no window, no exchange of the
    vector rows anywhere in the returned plan (updates aggregate inside
    the builder; the output plan is scan → quantize → pandas_udf)."""
    plan = _plan(entry_mod.queries()["kmeans_fit_exact"](spark, SF))
    assert "ArrowEvalPython" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_normalize_text_is_single_arrow_pass_no_shuffle(spark):
    """Unicode canonicalization must be ONE Arrow batch (the NFC UDF)
    with the regex cleanup in native codegen around it — no exchange,
    no join, no window anywhere (it runs ahead of the dedup family on
    every row of the corpus)."""
    plan = _plan(entry_mod.queries()["normalize_text"](spark, SF))
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_redirect_resolution_is_log_hop_equi_joins(spark):
    """Pointer jumping must compose as plain equi-joins on the URL id —
    ceil(log2 10) = 4 squarings, each a hash/sort-merge join, never a
    nested-loop join, a window, or a driver-depth per-hop loop (the plan
    would show ~10 joins; the doubling shows ≤ 5 incl. the terminal
    probe). The checkpoint per squaring truncates lineage, so the
    RETURNED plan contains only the final squaring + the terminal-set
    probe join."""
    plan = _plan(entry_mod.queries()["crawl_redirects"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_mirror_hosts_is_df_capped_hash_equi_join(spark):
    """Mirror detection must never shuffle text (hashes only in the
    plan), and the pair stage must be the df-capped EQUI-join on the
    content hash + map-side-combining counts — no window, no cartesian,
    no nested loop."""
    df = entry_mod.queries()["mirror_hosts"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    # text is consumed by the md5 projection at the scan; the join keys
    # are the hash/host columns only
    assert "partial_count" in plan, plan


def test_multimodal_resize_is_single_arrow_pass_no_shuffle(spark):
    """The resize leg must be ONE Arrow batch pass (mapInPandas) behind
    the native kind filter — no exchange, no join, no window: binary
    payloads never shuffle."""
    plan = _plan(entry_mod.queries()["multimodal_resize"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_multimodal_video_family_single_arrow_pass_no_shuffle(spark):
    """The real-codec video rows (decode_video_frames / thumbnail_frames
    / the audio feature projection) must each be ONE Arrow pass behind
    native filters/projections — no exchange, no join, no window: video
    payload bytes never shuffle (r5c)."""
    for name in ("multimodal_video", "multimodal_thumbs", "multimodal_audio"):
        plan = _plan(entry_mod.queries()[name](spark, SF))
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert "windowspecdefinition" not in plan, (name, plan)


def test_triangle_counts_joins_are_equi(spark):
    """link_triangles' wedge build and closure must be plain equi-joins
    (the oriented self-join on the shared low endpoint, the (b, c)
    closure semi-join) — never a cartesian/theta join or a window: the
    degree orientation bounds per-node fan-out at O(√E), and a window
    over wedges would serialize the hottest node onto one task."""
    df = entry_mod.queries()["link_triangles"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_frontier_shards_is_map_only(spark):
    """frontier_shards must be a pure projection over the corpus
    generator — the whole double assignment (16 and 17 shards) runs as
    native array_max expressions with NO shuffle: an Exchange here would
    mean the sharding primitive itself repartitions the frontier it is
    supposed to be partitioning."""
    df = entry_mod.queries()["frontier_shards"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "pythonudf" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ppr_joins_are_equi(spark):
    """link_pagerank_seeded iterates with the same plan discipline as the
    plain operator: equi-joins + hash aggregation only, the seed flag
    riding in the O(nodes) state — no cartesian join, no window."""
    df = entry_mod.queries()["link_pagerank_seeded"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition" not in plan, plan

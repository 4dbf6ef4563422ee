"""Per-host politeness + salted priority dequeue (north rule M5).

Generalizes the reference's two 40-slot semaphores (``crawler.go:16-17`` —
global concurrency caps with no per-host fairness) into data-driven,
deterministic per-round scheduling:

* **robots rules** — ``robots(host, disallow_prefixes array<string>[,
  allow_prefixes array<string>])``: candidates are gated by RFC 9309
  §2.2.2 longest-match precedence — the most specific matching prefix
  (allow or disallow) wins, Allow winning exact-length ties; without an
  allow column this is the plain disallowed-prefix drop. Broadcast join
  on host + native higher-order prefix exprs; no UDF.
* **token budgets** — ``host_budget(host, tokens_per_round int)`` with a
  default for unlisted hosts: at most that many URLs of a host are admitted
  per round; deferred = every offered row the ranking did not admit, and
  it re-enters the next round's frontier (politeness delays, never drops).
* **priority** — geo-dataset link signals rank first (``is_geo`` from the
  extraction kernel = the 11-extension allow-list F6, plus open-data path
  patterns), tie-broken by ``url_hash`` for determinism.

Skew note (hot host ≈30% of the frontier): a single
``Window.partitionBy(host)`` puts the hot host on one task. The dequeue is
therefore two-phase: phase A ranks within (host, salt) — ``n_salts``-way
split of every host — and keeps ``rank <= budget`` per salt, bounding any
host's survivors to ``budget × n_salts``; phase B ranks the survivors
exactly per host. Phase B's per-host input is bounded by construction, so
the hot host can no longer dominate a partition regardless of frontier skew.
Both phases feed one persisted ranking of every offered row; admitted and
deferred rows are two filters of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import url_hash, url_host, url_path

OPEN_DATA_PATTERNS = ("/data/", "/download", "/dataset", "/geodata", "/gis/")


def priority_expr(url: Column, is_geo: Column, depth: Column) -> Column:
    """Geo-signal priority: geo-extension anchors first (north rule), then
    open-data portal path patterns, shallow before deep."""
    path = F.lower(url_path(url))
    pattern_hits = sum(
        (F.when(path.contains(p), F.lit(1)).otherwise(F.lit(0)) for p in OPEN_DATA_PATTERNS),
        F.lit(0),
    )
    return (
        F.when(is_geo, F.lit(100.0)).otherwise(F.lit(0.0))
        + pattern_hits.cast("double") * 10.0
        - depth.cast("double")
    )


class PolitenessScheduler:
    """Plugs into CrawlEngine between dedup and seq assignment.

    ``apply(df, round)`` → admitted rows carrying ``_ord1``/``_ord2``
    (priority desc, url_hash asc) for the engine's global seq; every
    offered row it did not admit is exposed as ``self.deferred`` for the
    engine to merge into the next frontier.
    """

    order_cols = ("_ord1", "_ord2")

    def __init__(
        self,
        robots: DataFrame | None = None,
        host_budget: DataFrame | None = None,
        default_tokens_per_round: int | None = 40,  # reference semaphore width
        n_salts: int = 8,
        tiebreak: str = "url_hash",  # "url_hash" (uniform) or "url" (SQL-mirrorable)
        rank_table: DataFrame | None = None,  # (url, rank_fp) PageRank signal
        trap_templates: DataFrame | None = None,  # (host, template) denylist
        age_boost: int = 0,  # starvation-freedom: +boost·_wait
    ):
        """``default_tokens_per_round=None`` (with no ``host_budget``)
        means UNCAPPED: priority ORDER still applies, but no per-host
        admission limit exists, so ``apply`` skips the two-phase dequeue
        entirely — zero window shuffles, nothing persisted, nothing
        deferred. That is the right plan for a priority-ordered crawl
        without politeness caps; a huge finite budget (the old idiom)
        pays two full-frontier window exchanges to admit everything."""
        self.robots = robots
        self.host_budget = host_budget
        self.default_tokens = default_tokens_per_round
        self.n_salts = n_salts
        self.tiebreak = tiebreak
        if default_tokens_per_round is None and host_budget is not None:
            raise ValueError(
                "default_tokens_per_round=None means uncapped and cannot "
                "combine with a host_budget table"
            )
        self.rank_table = rank_table
        self.trap_templates = trap_templates
        #: priority AGING (anti-starvation): effective priority gains
        #: ``age_boost · _wait`` where ``_wait`` counts the rounds this
        #: exact row has sat deferred (the engine threads the column:
        #: fresh candidates enter at 0, every deferral increments it —
        #: plans/bfs.py). A deferred row's boost grows every waiting
        #: round while the static term stays fixed, so any finite static
        #: gap is overcome in ≤ gap/age_boost rounds — politeness
        #: delays, but no URL starves behind an endless stream of
        #: higher-priority fresh siblings. Integer-valued doubles
        #: throughout (the static term is one too), so the sum is exact
        #: and SQL-mirrorable; 0 disables the term entirely
        #: (bit-identical to the pre-aging scheduler, no _wait column
        #: anywhere).
        self.age_boost = age_boost
        self.deferred: DataFrame | None = None
        self._ranked: DataFrame | None = None

    def apply(self, df: DataFrame, rnd: int) -> DataFrame:
        d = df.withColumn("_host", url_host(F.col("url"))).withColumn(
            "_uh", url_hash(F.col("url"))
        )

        # robots prefix filter — tiny table, broadcast join, native
        # higher-order exprs. RFC 9309 §2.2.2 longest-match precedence:
        # the most specific matching rule wins, and on an exact length
        # tie Allow wins. With no allow_prefixes column (or all-empty
        # lists) this reduces exactly to the old disallow-only gate.
        if self.robots is not None:
            has_allow = "allow_prefixes" in self.robots.columns
            rules_cols = ["host", "disallow_prefixes"] + (
                ["allow_prefixes"] if has_allow else []
            )
            path = url_path(F.col("url"))

            def _longest(col: str):
                return F.array_max(
                    F.transform(
                        F.filter(col, lambda p: F.startswith(path, p)),
                        lambda p: F.length(p),
                    )
                )

            dmax = _longest("disallow_prefixes")
            keep = dmax.isNull()
            if has_allow:
                amax = _longest("allow_prefixes")
                keep = keep | (amax.isNotNull() & (amax >= dmax))
            d = (
                d.join(
                    F.broadcast(self.robots.select(*rules_cols)),
                    d["_host"] == F.col("host"),
                    "left",
                )
                .filter(F.col("disallow_prefixes").isNull() | keep)
                .drop(*rules_cols)
            )

        # crawl-trap denylist (operators/traps.py): candidates whose
        # (host, path template) is flagged are DROPPED before ranking —
        # never recorded, never deferred (deferring a trap keeps it in
        # the frontier forever). Broadcast anti-join, the robots shape.
        if self.trap_templates is not None:
            from .traps import url_template_expr

            d = d.withColumn("_tpl", url_template_expr(F.col("url")))
            d = d.join(
                F.broadcast(
                    self.trap_templates.select(
                        F.col("host").alias("_thost"),
                        F.col("template").alias("_ttpl"),
                    )
                ),
                (d["_host"] == F.col("_thost"))
                & (d["_tpl"] == F.col("_ttpl")),
                "left_anti",
            ).drop("_tpl")

        is_geo = F.col("is_geo") if "is_geo" in df.columns else F.lit(False)
        d = d.withColumn(
            "_prio", priority_expr(F.col("url"), is_geo, F.col("depth"))
        )
        if self.age_boost:
            wait = (
                F.coalesce(F.col("_wait"), F.lit(0))
                if "_wait" in df.columns
                else F.lit(0)
            )
            d = d.withColumn(
                "_prio",
                F.col("_prio")
                + F.lit(float(self.age_boost)) * wait.cast("double"),
            )

        # link-graph recrawl signal (operators/graph.py): rank_fp is a
        # BIGINT in 1e-12 units, so its double cast is exact (< 2^53) and
        # the additive priority stays bit-reproducible in a SQL oracle.
        # rank_fp ≤ SCALE dwarfs the static term (≤ ~150): ranked URLs
        # order by graph authority, unranked ones (coalesce 0) fall back
        # to the static geo-signal order among themselves. Scale shape:
        # a plain equi-join on url — at 10^10 URLs the rank table is huge
        # but the per-round frontier slice is small, so AQE broadcasts
        # the frontier side into the rank scan (no hint needed; the small
        # side here is d, not the rank table).
        if self.rank_table is not None:
            d = (
                d.join(
                    self.rank_table.select(
                        F.col("url").alias("_rurl"),
                        F.col("rank_fp").alias("_rank_fp"),
                    ),
                    d["url"] == F.col("_rurl"),
                    "left",
                )
                .drop("_rurl")
                .withColumn(
                    "_prio",
                    F.col("_prio")
                    + F.coalesce(F.col("_rank_fp"), F.lit(0)).cast("double"),
                )
                .drop("_rank_fp")
            )

        tb = F.col("_uh") if self.tiebreak == "url_hash" else F.col("url")
        # uncapped: priority order without admission limits — no windows,
        # no persisted rank state, no deferral (see __init__)
        if self.host_budget is None and self.default_tokens is None:
            self.deferred = None
            return d.select(
                *df.columns,
                (-F.col("_prio")).alias("_ord1"),
                tb.alias("_ord2"),
            )

        # per-host token budget
        if self.host_budget is not None:
            d = (
                d.join(
                    F.broadcast(
                        self.host_budget.select(
                            F.col("host"), F.col("tokens_per_round").alias("_budget")
                        )
                    ),
                    d["_host"] == F.col("host"),
                    "left",
                )
                .drop("host")
                .withColumn(
                    "_budget", F.coalesce(F.col("_budget"), F.lit(self.default_tokens))
                )
            )
        else:
            d = d.withColumn("_budget", F.lit(self.default_tokens))

        # two-phase skew-safe dequeue; tiebreak column: url_hash spreads
        # uniformly (default), plain url keeps the total order reproducible
        # in an external SQL oracle (xxhash64 is Spark-specific)
        d = d.withColumn("_salt", F.pmod(F.col("_uh"), F.lit(self.n_salts)))
        wa = Window.partitionBy("_host", "_salt").orderBy(F.desc("_prio"), tb.asc())
        ra = d.withColumn("_ra", F.row_number().over(wa))
        wb = Window.partitionBy("_host").orderBy(F.desc("_prio"), tb.asc())
        # ONE ranking of every offered row: phase B ranks the phase-A
        # survivors, and the phase-A casualties join with a NULL _rb, so
        # admitted and deferred are two filters of the one persisted frame
        # (the oracle's lst[:budget] / lst[budget:] slices of both phases).
        # The persist is bounded to ONE round — releasing the previous
        # round's cache here and at crawl end (CrawlEngine calls release())
        # is the same single-round rule as the seen filters' probe cache
        self.release()
        ranked = (
            ra.filter(F.col("_ra") <= F.col("_budget"))
            .withColumn("_rb", F.row_number().over(wb))
            .unionByName(
                ra.filter(F.col("_ra") > F.col("_budget"))
                .withColumn("_rb", F.lit(None).cast("int"))
            )
            .persist()
        )
        self._ranked = ranked

        admitted = F.col("_rb") <= F.col("_budget")
        self.deferred = ranked.filter(~F.coalesce(admitted, F.lit(False))).select(
            *df.columns
        )
        # aging: this exact row waited one more round (the engine
        # initializes _wait=0 on fresh candidates when age_boost>0)
        if self.age_boost and "_wait" in df.columns:
            self.deferred = self.deferred.withColumn(
                "_wait", F.coalesce(F.col("_wait"), F.lit(0)) + F.lit(1)
            )

        return ranked.filter(admitted).select(
            *df.columns, (-F.col("_prio")).alias("_ord1"), tb.alias("_ord2")
        )

    def release(self) -> None:
        """Drop the cached ranking of the last :meth:`apply` (safe once
        its round materialized past it — the engine's per-round eager
        checkpoint guarantees that before the next apply)."""
        if self._ranked is not None:
            self._ranked.unpersist()
            self._ranked = None

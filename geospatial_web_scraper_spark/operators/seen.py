"""Sharded Bloom and cuckoo URL-seen prefilters (north rule: bloom/cuckoo
URL-seen). The bloom is the cheapest steady-state prefilter; the cuckoo
(:class:`ShardedCuckooSeenFilter`, below) additionally supports delete for
recrawl/TTL expiry. Both plug into the engine's ``seen_filter`` slot.

The exact seen check is always the left-anti join in the engine (bloom false
positives fall through to it; false negatives are impossible because bits are
only ever set). The bloom's job is the steady-state fast path: in a mature
crawl most candidates are *duplicates*, and of the new ones the bloom proves
"definitely new" without touching the (huge) seen table at all, so the exact
join runs only on the bloom-positive slice.

Layout: ``n_shards`` independent bitmaps keyed by ``url_hash % n_shards``
(url_hash = xxhash64(canonical url)). Bits are set/probed with k-fold double
hashing of the two 32-bit halves of the 64-bit key. Shard bitmaps are built
*distributively* (groupBy shard → applyInPandas → tiny (shard, bitmap) rows)
and OR-merged driver-side, then broadcast for probing.

Scale note (10^10 URLs): a monolithic 1%-FPP bloom for 10^10 keys is ~12 GB —
not broadcastable. The sharded layout is the unit of scale-out: shards become
rows of a bloom *table* co-partitioned with the candidates on
``url_hash % n_shards``, probed via a zip-partition join instead of a
broadcast; the bit math below is unchanged. In this sandbox (≤10^6 URLs) the
broadcast variant is exercised end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import url_hash


class _ShardedSeenFilter:
    """The engine contract shared by both filters: ``split`` probes every
    candidate once against the broadcast shard state and persists the
    result, ``release`` drops that cache, and ``update`` folds URLs into
    the shards. Subclasses supply the bit math: ``_probe_state`` (what to
    broadcast), ``_prober`` (state × uint64 hashes → maybe-seen mask) and
    the per-shard ``update``."""

    def __init__(self, spark: SparkSession, n_shards: int):
        if n_shards & (n_shards - 1):
            # probe side uses unsigned mod, build side signed pmod; they agree
            # exactly when n_shards divides 2^64
            raise ValueError("n_shards must be a power of two")
        self.spark = spark
        self.n_shards = n_shards
        self._bc = None
        self._probed: DataFrame | None = None

    def _per_shard(self, urls: DataFrame, url_col: str, build, schema: str):
        """Run ``build`` once per shard over that shard's url hashes
        (columns ``_h``, ``_shard``); returns its collected rows."""
        return (
            urls.select(url_hash(F.col(url_col)).alias("_h"))
            .withColumn("_shard", F.pmod(F.col("_h"), F.lit(self.n_shards)))
            .groupBy("_shard")
            .applyInPandas(build, schema)
            .collect()
        )

    def split(self, df: DataFrame, url_col: str = "url") -> tuple[DataFrame, DataFrame]:
        """→ (definitely_new, maybe_seen). Zero false negatives by
        construction; maybe_seen must still pass the exact anti-join."""
        if self._bc is not None:
            self._bc.unpersist()
        self._bc = bc = self.spark.sparkContext.broadcast(self._probe_state())
        probe = self._prober()

        @F.pandas_udf("boolean")
        def maybe_seen(h: pd.Series) -> pd.Series:
            v = h.to_numpy(dtype=np.int64).view(np.uint64)
            if len(v) == 0:
                return pd.Series([], dtype=bool)
            return pd.Series(probe(bc.value, v))

        # the persist exists so the double filter below probes each row once;
        # releasing the PREVIOUS round's probed cache here (and in
        # release(), called by the engine after the crawl) bounds the cached
        # state to one round regardless of crawl length (review r4 — the
        # frontier columns are wide, and a long crawl leaked one cached
        # DataFrame per round)
        self.release()
        probed = (
            df.withColumn("_h", url_hash(F.col(url_col)))
            .withColumn("_maybe", maybe_seen(F.col("_h")))
            .persist()
        )
        self._probed = probed
        new = probed.filter(~F.col("_maybe")).drop("_h", "_maybe")
        maybe = probed.filter(F.col("_maybe")).drop("_h", "_maybe")
        return new, maybe

    def release(self) -> None:
        """Drop the cached probe of the last :meth:`split` (safe once its
        round has materialized past it — the engine's per-round eager
        checkpoint guarantees that before the next split)."""
        if self._probed is not None:
            self._probed.unpersist()
            self._probed = None


class ShardedBloomSeenFilter(_ShardedSeenFilter):
    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 16,
        bits_per_shard: int = 1 << 20,  # 128 KiB/shard default
        n_hashes: int = 5,
    ):
        super().__init__(spark, n_shards)
        if bits_per_shard % 8:
            raise ValueError("bits_per_shard must be a multiple of 8")
        self.m_bits = bits_per_shard
        self.k = n_hashes
        self.bitmaps = np.zeros((n_shards, bits_per_shard // 8), dtype=np.uint8)

    # ------------------------------------------------------------- internals
    @staticmethod
    def _positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
        """(n,) uint64 → (k, n) bit positions via double hashing."""
        h1 = hashes >> np.uint64(32)
        h2 = hashes & np.uint64(0xFFFFFFFF)
        return np.stack(
            [(h1 + np.uint64(i) * h2) % np.uint64(m_bits) for i in range(k)]
        )

    def _probe_state(self):
        return self.bitmaps

    def _prober(self):
        S, m_bits, k = self.n_shards, self.m_bits, self.k

        def probe(bitmaps: np.ndarray, v: np.ndarray) -> np.ndarray:
            shard = (v % np.uint64(S)).astype(np.int64)
            pos = ShardedBloomSeenFilter._positions(v, k, m_bits)
            res = np.ones(len(v), dtype=bool)
            for i in range(k):
                byte = (pos[i] >> np.uint64(3)).astype(np.int64)
                bit = (pos[i] & np.uint64(7)).astype(np.uint8)
                res &= ((bitmaps[shard, byte] >> bit) & 1).astype(bool)
            return res

        return probe

    # ------------------------------------------------------------------ API
    def update(self, urls: DataFrame, url_col: str = "url") -> None:
        """Fold newly-recorded URLs into the shard bitmaps — built
        distributively, merged driver-side (S small rows, not S×rows)."""
        m_bits, k = self.m_bits, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            local = np.zeros(m_bits // 8, dtype=np.uint8)
            v = pdf["_h"].to_numpy(dtype=np.int64).view(np.uint64)
            pos = ShardedBloomSeenFilter._positions(v, k, m_bits)
            for i in range(k):
                byte = (pos[i] >> np.uint64(3)).astype(np.int64)
                bit = (pos[i] & np.uint64(7)).astype(np.uint8)
                np.bitwise_or.at(local, byte, np.uint8(1) << bit)
            return pd.DataFrame(
                {"shard": [int(pdf["_shard"].iloc[0])], "bitmap": [local.tobytes()]}
            )

        for row in self._per_shard(urls, url_col, build, "shard int, bitmap binary"):
            self.bitmaps[row["shard"]] |= np.frombuffer(row["bitmap"], dtype=np.uint8)

    # ------------------------------------------------------------- metrics
    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bitmaps).mean())

    def est_fpp(self) -> float:
        return float(self.fill_ratio() ** self.k)


class ShardedCuckooSeenFilter(_ShardedSeenFilter):
    """Sharded cuckoo-filter URL-seen prefilter — the *deletable* half of
    the north rule's "bloom/cuckoo URL-seen" (Fan et al., CoNEXT'14).

    Same engine contract as :class:`ShardedBloomSeenFilter` (``split`` →
    (definitely_new, maybe_seen) with fingerprint collisions bounded by
    2c/2^16, ``update`` folds newly-recorded URLs), plus
    ``delete`` — the operation a bloom cannot do — for the recrawl/TTL
    workflow: expire a URL's snapshot and it becomes crawlable again without
    rebuilding the filter.

    Layout: ``n_shards`` tables keyed by ``url_hash % n_shards``; each table
    is ``n_buckets`` buckets × 4 slots of 16-bit fingerprints (0 = empty),
    partial-key cuckoo hashing — bucket pair ``i1 = (h >> 16) & mask``,
    ``i2 = (i1 ^ (fp * 0x5bd1e995)) & mask`` (xor trick: either bucket plus
    the fingerprint recovers the other, so eviction never rehashes the key).
    Displacements that exhaust ``MAX_KICKS`` fall into a per-shard stash, so
    inserts never fail and false negatives stay impossible.

    Semantics are MULTISET (every insert stores a copy, delete removes one),
    the Fan et al. contract under which deleting only previously-inserted
    keys can never produce a false negative for a key still logically
    present. The engine's first-wins recording inserts each URL exactly
    once, so occupancy is bounded by the seen-set size.

    Scale shape: identical to the bloom — shards are built distributively
    (groupBy shard → applyInPandas over the sorted shard slice, one tiny
    (shard, table, stash) row back) and broadcast for probing; at 10^10
    URLs the shards become rows of a filter table co-partitioned with the
    candidates instead of a broadcast, bucket math unchanged.
    """

    MAX_KICKS = 500
    _MIX = 0x5BD1E995  # Murmur-style odd multiplier for the partner bucket

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 16,
        buckets_per_shard: int = 1 << 14,  # × 4 slots × 2 B = 128 KiB/shard
    ):
        super().__init__(spark, n_shards)
        if buckets_per_shard & (buckets_per_shard - 1):
            raise ValueError("buckets_per_shard must be a power of two")
        self.n_buckets = buckets_per_shard
        self.tables = np.zeros((n_shards, buckets_per_shard, 4), dtype=np.uint16)
        # per-shard multiset of stashed (bucket, fingerprint) → count
        self.stashes: list[dict[tuple[int, int], int]] = [
            {} for _ in range(n_shards)
        ]

    # ------------------------------------------------------------- internals
    @staticmethod
    def _fields(v: np.ndarray, n_shards: int, n_buckets: int):
        """uint64 url hashes → (shard, fp uint16 nonzero, i1, i2)."""
        mask = np.uint64(n_buckets - 1)
        shard = (v % np.uint64(n_shards)).astype(np.int64)
        fp = ((v >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint64)
        fp[fp == 0] = 1
        i1 = (v >> np.uint64(16)) & mask
        i2 = (i1 ^ (fp * np.uint64(ShardedCuckooSeenFilter._MIX))) & mask
        return shard, fp.astype(np.uint16), i1.astype(np.int64), i2.astype(np.int64)

    @staticmethod
    def _partner(i: int, fp: int, n_buckets: int) -> int:
        return (i ^ ((fp * ShardedCuckooSeenFilter._MIX) & (n_buckets - 1))) & (
            n_buckets - 1
        )

    @classmethod
    def _insert_one(cls, table: np.ndarray, stash: dict, fp: int, i1: int, i2: int):
        n_buckets = table.shape[0]
        for i in (i1, i2):
            empty = np.flatnonzero(table[i] == 0)
            if len(empty):
                table[i, empty[0]] = fp
                return
        # evict deterministically: start at i2, victim slot walks (fp + kick)
        i, cur = int(i2), int(fp)
        for kick in range(cls.MAX_KICKS):
            slot = (cur + kick) % 4
            cur, table[i, slot] = int(table[i, slot]), cur
            i = cls._partner(i, cur, n_buckets)
            empty = np.flatnonzero(table[i] == 0)
            if len(empty):
                table[i, empty[0]] = cur
                return
        key = (i, cur)  # i is one of cur's two buckets (alternation invariant)
        stash[key] = stash.get(key, 0) + 1

    @classmethod
    def _delete_one(cls, table: np.ndarray, stash: dict, fp: int, i1: int, i2: int):
        for i in (i1, i2):
            hit = np.flatnonzero(table[i] == fp)
            if len(hit):
                table[i, hit[0]] = 0
                return
        for key in ((i1, fp), (i2, fp)):
            if stash.get(key, 0) > 0:
                stash[key] -= 1
                if not stash[key]:
                    del stash[key]
                return
        raise ValueError(
            f"cuckoo delete of a key that was never inserted (fp={fp}): "
            "deletion is only defined for previously-inserted keys"
        )

    @staticmethod
    def _stash_to_bytes(stash: dict) -> bytes:
        flat = np.array(
            [(b, f, c) for (b, f), c in sorted(stash.items())], dtype=np.int64
        )
        return flat.tobytes()

    @staticmethod
    def _stash_from_bytes(raw: bytes) -> dict:
        flat = np.frombuffer(raw, dtype=np.int64).reshape(-1, 3)
        return {(int(b), int(f)): int(c) for b, f, c in flat}

    def _probe_state(self):
        return self.tables, [frozenset(s.keys()) for s in self.stashes]

    def _prober(self):
        S, n_buckets = self.n_shards, self.n_buckets

        def probe(state, v: np.ndarray) -> np.ndarray:
            tables, stashes = state
            shard, fp, i1, i2 = ShardedCuckooSeenFilter._fields(v, S, n_buckets)
            res = (tables[shard, i1, :] == fp[:, None]).any(axis=1) | (
                tables[shard, i2, :] == fp[:, None]
            ).any(axis=1)
            if any(stashes):
                for j in np.flatnonzero(~res):
                    st = stashes[shard[j]]
                    if st and (
                        (int(i1[j]), int(fp[j])) in st
                        or (int(i2[j]), int(fp[j])) in st
                    ):
                        res[j] = True
            return res

        return probe

    def _apply_per_shard(self, urls: DataFrame, url_col: str, op: str) -> None:
        """Group by shard, run insert/delete over the sorted shard slice
        starting from the current shard state, replace that shard."""
        S, n_buckets = self.n_shards, self.n_buckets
        state_bc = self.spark.sparkContext.broadcast(
            (self.tables, [self._stash_to_bytes(s) for s in self.stashes])
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["_shard"].iloc[0])
            tables, stash_raw = state_bc.value
            table = tables[shard].copy()
            stash = ShardedCuckooSeenFilter._stash_from_bytes(stash_raw[shard])
            v = np.sort(pdf["_h"].to_numpy(dtype=np.int64).view(np.uint64))
            _, fp, i1, i2 = ShardedCuckooSeenFilter._fields(v, S, n_buckets)
            fn = (
                ShardedCuckooSeenFilter._insert_one
                if op == "insert"
                else ShardedCuckooSeenFilter._delete_one
            )
            for j in range(len(v)):
                fn(table, stash, int(fp[j]), int(i1[j]), int(i2[j]))
            return pd.DataFrame(
                {
                    "shard": [shard],
                    "table": [table.tobytes()],
                    "stash": [ShardedCuckooSeenFilter._stash_to_bytes(stash)],
                }
            )

        parts = self._per_shard(
            urls, url_col, run, "shard int, table binary, stash binary"
        )
        state_bc.unpersist()
        for row in parts:
            self.tables[row["shard"]] = np.frombuffer(
                row["table"], dtype=np.uint16
            ).reshape(n_buckets, 4)
            self.stashes[row["shard"]] = self._stash_from_bytes(row["stash"])

    # ------------------------------------------------------------------ API
    def update(self, urls: DataFrame, url_col: str = "url") -> None:
        self._apply_per_shard(urls, url_col, "insert")

    def delete(self, urls: DataFrame, url_col: str = "url") -> None:
        """Remove one stored copy per URL (recrawl/TTL expiry). Raises if a
        URL was never inserted — deleting unknown keys is undefined for a
        cuckoo filter and would silently corrupt other keys."""
        self._apply_per_shard(urls, url_col, "delete")

    # ------------------------------------------------------------- metrics
    def occupancy(self) -> float:
        return float((self.tables != 0).mean())

    def stash_size(self) -> int:
        return sum(sum(s.values()) for s in self.stashes)

"""URL-seen dedup at frontier scale (SURVEY.md §2.5 J2, north rule).

Layered design:

  1. in-batch exact dedup — first-wins by ``seq_key`` within the wave's
     candidate minibatch (window row_number, reproducing the reference's
     insertion-order first-wins at sunfar.py:49-71).
  2. sharded Bloom prefilter — ``shard = pmod(h1, n_shards)``; each shard is
     a fixed bit array. Candidates whose bits are not all set are DEFINITELY
     new and skip the expensive exact check entirely. Bloom determinism
     (SURVEY §7.3 risk 5): the hash family is (h1 + i·h2) mod m with
     h1 = xxhash64(canonical_url), h2 = xxhash64(h1) — both computed
     JVM-side with Spark's fixed-seed xxhash64, and n_shards is independent
     of parallelism, so false positives are identical across runs and
     cluster sizes.
  3. exact anti-join — only the maybe-seen residue joins against the seen
     table (left_anti on url_hash). The FINAL seen set is therefore exact;
     Bloom only prunes shuffle volume (at 10^10 URLs the residue is ~fp-rate
     of the batch, so the anti-join input shrinks by ~100×).

The bit arrays travel as parquet BINARY rows (shard, bits) co-partitioned
with candidates on ``shard`` — probe and insert are ``applyInPandas`` over
that co-partitioning, pure numpy inside (vectorized, no per-row Python).
Sizing: bits_per_shard=2^20 × 64 shards ≈ 8 MB handles ~5·10^7 URLs at
k=5; at 10^10 scale configure n_shards=4096 × 2^27 bits (~64 GB across the
cluster, ~16 MB per shard task) — shard count scales independently of
executor count.

A cuckoo-filter variant (deletions, e.g. re-crawl invalidation) lives in
:class:`CuckooShard`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n,) int64 pairs -> (n, k) bit positions, double-hashing scheme."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((u1[:, None] + i * u2[:, None]) % np.uint64(m)).astype(np.int64)


class ShardedBloom:
    def __init__(self, n_shards: int = 64, bits_per_shard: int = 1 << 20, k: int = 5):
        self.n_shards = n_shards
        self.m = bits_per_shard
        self.k = k

    def with_keys(self, df: DataFrame) -> DataFrame:
        """Add h2 + shard columns (JVM-side; h1 is the existing url_hash)."""
        return df.withColumn("h2", F.xxhash64("url_hash")).withColumn(
            "shard", F.pmod(F.col("url_hash"), F.lit(self.n_shards)).cast("int")
        )

    def _bloom_or_empty(self, spark, bloom: DataFrame | None) -> DataFrame:
        if bloom is None:
            bloom = spark.createDataFrame([], BLOOM_SCHEMA)
        return bloom

    def probe(self, cand: DataFrame, bloom: DataFrame | None) -> DataFrame:
        """Mark candidates ``maybe_seen``; rows without the flag are
        guaranteed-new (no false negatives).

        Cogrouped on shard: the shard's bit array crosses the shuffle ONCE
        per shard, never per candidate row (an equi-join would replicate the
        128 KB blob onto every row — measured 50× slower at 2.4M URLs)."""
        m, k = self.m, self.k

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left.copy()
            if len(left) == 0:
                out["maybe_seen"] = pd.Series([], dtype=bool)
                return out
            if len(right) == 0 or right["bits"].iloc[0] is None:
                out["maybe_seen"] = False
                return out
            bits = np.unpackbits(
                np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
            )
            pos = _positions(
                left["url_hash"].to_numpy(), left["h2"].to_numpy(), k, m
            )
            out["maybe_seen"] = bits[pos].all(axis=1)
            return out

        cand = self.with_keys(cand) if "shard" not in cand.columns else cand
        bloom = self._bloom_or_empty(cand.sparkSession, bloom)
        schema = T.StructType(
            list(cand.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        return (
            cand.groupBy("shard")
            .cogroup(bloom.groupBy("shard"))
            .applyInPandas(_probe, schema)
        )

    def insert(self, new: DataFrame, bloom: DataFrame | None) -> DataFrame:
        """Return the updated bloom table (replace-mode snapshot table).
        Cogrouped on shard: shards with new URLs get OR-ed bits; shards with
        no new URLs pass through unchanged (empty left side)."""
        m, k = self.m, self.k

        def _insert(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            raw = right["bits"].iloc[0] if len(right) else None
            if len(left) == 0:
                return pd.DataFrame({"shard": [int(key[0])], "bits": [raw]})
            if raw is None:
                bits = np.zeros(m, dtype=np.uint8)
            else:
                bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8)).copy()
            pos = _positions(
                left["url_hash"].to_numpy(), left["h2"].to_numpy(), k, m
            )
            bits[pos.ravel()] = 1
            return pd.DataFrame(
                {"shard": [int(key[0])], "bits": [np.packbits(bits).tobytes()]}
            )

        new = self.with_keys(new) if "shard" not in new.columns else new
        bloom = self._bloom_or_empty(new.sparkSession, bloom)
        return (
            new.select("shard", "url_hash", "h2")
            .groupBy("shard")
            .cogroup(bloom.groupBy("shard"))
            .applyInPandas(_insert, BLOOM_SCHEMA)
        )


def dedup_in_batch(cand: DataFrame, order_col: str = "seq_key") -> DataFrame:
    """First-wins exact dedup inside one wave's candidate minibatch
    (insertion order ≙ seq_key order — sunfar.py:49-71 semantics)."""
    w = Window.partitionBy("url_hash").orderBy(order_col)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_new(
    cand: DataFrame,
    seen: DataFrame | None,
    bloom_table: DataFrame | None,
    bloom: ShardedBloom,
) -> DataFrame:
    """Exact new-URL set: bloom prefilter + anti-join residue (layer 2+3).

    The set comes back persisted and materialized; the caller unpersists
    it. The probe output feeds both halves of the union, so it is
    persisted for the duration of the build: everything upstream of the
    probe (the caller's Python stages included) and the probe cogroup
    itself run once, not once per half."""
    probed = bloom.probe(cand, bloom_table).persist()
    new = None
    try:
        definite_new = probed.filter(~F.col("maybe_seen"))
        maybe = probed.filter(F.col("maybe_seen"))
        if seen is None:
            survivors = maybe
        else:
            survivors = maybe.join(
                seen.select("url_hash"), "url_hash", "left_anti"
            )
        new = (
            definite_new.unionByName(survivors)
            .drop("maybe_seen", "h2", "shard")
            .persist()
        )
        new.count()
    except BaseException:
        if new is not None:
            new.unpersist()
        raise
    finally:
        probed.unpersist()
    return new


class ShardedCuckoo:
    """Distributed sharded cuckoo filter — the deletion-capable URL-seen
    variant (re-crawl invalidation: a URL scheduled for refresh is DELETEd
    from the filter so the next wave treats it as new).

    Same cogroup discipline as :class:`ShardedBloom`: shard bytes cross the
    shuffle once per shard; shard = pmod(url_hash, n_shards) is
    parallelism-independent. Each shard is a :class:`CuckooShard` blob in a
    (shard, bits) snapshot table.
    """

    def __init__(self, n_shards: int = 64, n_buckets: int = 1 << 14, slots: int = 4):
        self.n_shards = n_shards
        self.n_buckets = n_buckets
        self.slots = slots

    def with_keys(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "shard", F.pmod(F.col("url_hash"), F.lit(self.n_shards)).cast("int")
        )

    def _empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], BLOOM_SCHEMA)

    def _apply(self, ops: DataFrame, table: DataFrame | None, delete: bool) -> DataFrame:
        nb, sl = self.n_buckets, self.slots

        def _mutate(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            raw = right["bits"].iloc[0] if len(right) else None
            if len(left) == 0:
                return pd.DataFrame({"shard": [int(key[0])], "bits": [raw]})
            shard = (
                CuckooShard.from_bytes(raw, nb, sl)
                if raw is not None
                else CuckooShard(nb, sl)
            )
            # cuckoo eviction walks make the TABLE BYTES order-sensitive;
            # sort so the bytes are identical under any input partitioning
            for h in left["url_hash"].sort_values():
                if delete:
                    shard.delete(int(h))
                elif not shard.insert(int(h)):
                    # a failed eviction walk has already displaced an
                    # earlier fingerprint: continuing would leave false
                    # negatives (silent re-fetch), so the commit must fail
                    raise RuntimeError(
                        f"cuckoo shard {int(key[0])} saturated "
                        f"({nb} buckets x {sl} slots); raise n_shards or "
                        "n_buckets"
                    )
            return pd.DataFrame(
                {"shard": [int(key[0])], "bits": [shard.to_bytes()]}
            )

        ops = self.with_keys(ops) if "shard" not in ops.columns else ops
        if table is None:
            table = self._empty(ops.sparkSession)
        return (
            ops.select("shard", "url_hash")
            .groupBy("shard")
            .cogroup(table.groupBy("shard"))
            .applyInPandas(_mutate, BLOOM_SCHEMA)
        )

    def insert(self, new: DataFrame, table: DataFrame | None) -> DataFrame:
        return self._apply(new, table, delete=False)

    def delete(self, gone: DataFrame, table: DataFrame | None) -> DataFrame:
        return self._apply(gone, table, delete=True)

    def probe(self, cand: DataFrame, table: DataFrame | None) -> DataFrame:
        """Adds ``maybe_seen``; like Bloom, no false negatives (an exact
        anti-join downstream keeps the final set exact)."""
        nb, sl = self.n_buckets, self.slots

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left.copy()
            if len(left) == 0:
                out["maybe_seen"] = pd.Series([], dtype=bool)
                return out
            raw = right["bits"].iloc[0] if len(right) else None
            if raw is None:
                out["maybe_seen"] = False
                return out
            shard = CuckooShard.from_bytes(raw, nb, sl)
            out["maybe_seen"] = shard.contains_many(left["url_hash"].to_numpy())
            return out

        cand = self.with_keys(cand) if "shard" not in cand.columns else cand
        if table is None:
            table = self._empty(cand.sparkSession)
        schema = T.StructType(
            list(cand.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        return (
            cand.groupBy("shard")
            .cogroup(table.groupBy("shard"))
            .applyInPandas(_probe, schema)
        )


class CuckooShard:
    """Deterministic cuckoo filter (16-bit fingerprints, 4-way buckets) —
    the deletion-capable fallback the north rule asks for (e.g. evicting
    URLs scheduled for re-crawl). Single-shard numpy engine; sharding and
    snapshot plumbing reuse the Bloom pattern.

    Determinism: bucket choice and eviction walk derive only from the
    fingerprint and a fixed LCG — no RNG state, so shard bytes are
    reproducible across runs/cluster sizes.
    """

    def __init__(self, n_buckets: int = 1 << 14, slots: int = 4, max_kicks: int = 200):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = n_buckets
        self.slots = slots
        self.max_kicks = max_kicks
        self.table = np.zeros((n_buckets, slots), dtype=np.uint16)

    def _fp(self, h: int) -> int:
        fp = (h >> 16) & 0xFFFF
        return fp if fp != 0 else 1  # 0 marks an empty slot

    def _i1(self, h: int) -> int:
        return h & (self.n_buckets - 1)

    def _i2(self, i1: int, fp: int) -> int:
        # partial-key displacement: i2 = i1 xor hash(fp)
        return (i1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def insert(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        for i in (i1, i2):
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = fp
                return True
        # deterministic eviction walk
        i = i1 if (fp & 1) == 0 else i2
        cur = fp
        state = np.uint64(h & 0xFFFFFFFFFFFFFFFF)
        for _ in range(self.max_kicks):
            state = state * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
            slot = int(state >> np.uint64(62)) % self.slots
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = self._i2(i, cur)
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = cur
                return True
        return False  # full — caller must grow/rebuild the shard

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def contains_many(self, h: np.ndarray) -> np.ndarray:
        """Vectorized :meth:`contains` over an int64 array of hashes."""
        h = np.asarray(h, dtype=np.int64)
        fp = (h >> 16) & 0xFFFF
        fp[fp == 0] = 1
        i1 = h & (self.n_buckets - 1)
        i2 = (i1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)
        fp = fp.astype(np.uint16)[:, None]
        return (self.table[i1] == fp).any(1) | (self.table[i2] == fp).any(1)

    def delete(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        for i in (i1, self._i2(i1, fp)):
            hit = np.where(self.table[i] == fp)[0]
            if len(hit):
                self.table[i, hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, n_buckets: int = 1 << 14, slots: int = 4):
        obj = cls(n_buckets, slots)
        obj.table = np.frombuffer(raw, dtype=np.uint16).reshape(n_buckets, slots).copy()
        return obj

"""Sharded Bloom filter for URL-seen dedup at 10^10-frontier scale.

The O1 operator (SURVEY.md §4): dedupe-before-fetch. The reference holds a
Python ``set`` of normalized URLs in memory (scrapper/core/dedup.py:16-33) —
fine for 10^3 URLs, impossible for 10^10. Design here (north_rule:
"broadcast-partitioned Bloom filter … over canonicalized+murmur3-hashed
URLs"):

- one Bloom shard per ``domain_salt`` partition key. At 10^10 keys / 1% fpp
  the monolithic filter is ~12 GB — unshippable; sharded across ~1024
  domain-salt keys each shard is ~12 MB, and a fetch partition only ever
  consults its *own* shard (frontier is hash-partitioned by the same key), so
  the executor-resident working set stays tiny.
- shards are built distributed (``groupBy(shard).applyInPandas`` — each group
  builds its bitmap JVM→Arrow→numpy), OR-merged per shard driver-side only
  across appends, broadcast as a dict of numpy bitmaps.
- **false positives never drop URLs**: the Bloom is a prefilter that admits
  "definitely-new" rows cheaply; "maybe-seen" rows go through the exact
  anti-join backstop (crawl/frontier.py). The filter trades a small amount of
  anti-join traffic for skipping the shuffle on the (dominant) new-URL mass.
- snapshots serialize to ``.npz`` per checkpoint round (north_rule:
  "resumable from checkpoint with … Bloom snapshots").

A cuckoo-filter variant (deletable entries, for frontier eviction) is in
crawl/cuckoo.py with the same interface.

Double hashing: g_i(x) = h1 + i*h2 (mod m) with h1/h2 = low/high halves of
xxhash64(url_canon) — the standard Kirsch–Mitzenmacher construction.
"""

from __future__ import annotations

import io
import math
import os
from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for n keys at target fpp."""
    n = max(expected_n, 16)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(256, (m + 63) // 64 * 64)  # round to whole uint64 words
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def _positions(h64: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(h64), k) bit positions via double hashing; h64 is int64."""
    u = h64.astype(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


class BloomShard:
    __slots__ = ("m", "k", "bits")

    def __init__(self, m: int, k: int, bits: np.ndarray | None = None):
        self.m, self.k = m, k
        self.bits = bits if bits is not None else np.zeros(m // 64, dtype=np.uint64)

    def add_hashes(self, h64: np.ndarray) -> None:
        if len(h64) == 0:
            return
        pos = _positions(np.asarray(h64, dtype=np.int64), self.m, self.k).ravel()
        np.bitwise_or.at(self.bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))

    def maybe_contains(self, h64: np.ndarray) -> np.ndarray:
        if len(h64) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(np.asarray(h64, dtype=np.int64), self.m, self.k)
        word = self.bits[pos >> 6]
        bit = (word >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return bit.all(axis=1).astype(bool)

    def merge(self, other: "BloomShard") -> None:
        assert (self.m, self.k) == (other.m, other.k)
        self.bits |= other.bits


class ShardedBloom:
    """dict[domain_salt → BloomShard] with build / test / snapshot."""

    def __init__(self, shards: dict[str, BloomShard] | None = None,
                 expected_per_shard: int = 1 << 16, fpp: float = 0.01):
        self.shards: dict[str, BloomShard] = shards or {}
        self.expected_per_shard = expected_per_shard
        self.fpp = fpp

    # ---------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        df: DataFrame,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        expected_per_shard: int = 1 << 16,
        fpp: float = 0.01,
    ) -> "ShardedBloom":
        """Build shard bitmaps distributed: one Arrow group per shard."""
        m, k = _params(expected_per_shard, fpp)

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = BloomShard(m, k)
            shard.add_hashes(pdf[key_col].to_numpy())
            return pd.DataFrame(
                {
                    "shard": [pdf[shard_col].iloc[0]],
                    "bits": [shard.bits.tobytes()],
                    "n": [len(pdf)],
                }
            )

        rows = (
            df.select(shard_col, key_col)
            .groupBy(shard_col)
            .applyInPandas(_build, schema="shard string, bits binary, n long")
            .collect()
        )
        shards = {
            r["shard"]: BloomShard(m, k, np.frombuffer(bytes(r["bits"]), dtype=np.uint64).copy())
            for r in rows
        }
        return cls(shards, expected_per_shard, fpp)

    def merge(self, other: "ShardedBloom") -> None:
        for key, shard in other.shards.items():
            if key in self.shards:
                self.shards[key].merge(shard)
            else:
                # copy — adopting a live reference would alias later in-place
                # add_local mutations back into the source filter
                self.shards[key] = BloomShard(shard.m, shard.k, shard.bits.copy())

    def add_local(self, shard_key: str, hashes: Iterable[int]) -> None:
        m, k = _params(self.expected_per_shard, self.fpp)
        self.shards.setdefault(shard_key, BloomShard(m, k)).add_hashes(
            np.asarray(hashes, dtype=np.int64)
        )

    # ----------------------------------------------------------------- test
    def filter_maybe_seen(
        self,
        df: DataFrame,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        out_col: str = "maybe_seen",
    ) -> DataFrame:
        """Attach ``maybe_seen`` via a broadcast of the shard bitmaps.

        Arrow-vectorized membership test; rows whose shard has no filter yet
        are definitely-new.
        """
        spark = df.sparkSession
        payload = {key: (s.m, s.k, s.bits.tobytes()) for key, s in self.shards.items()}
        bc = spark.sparkContext.broadcast(payload)

        @F.pandas_udf("boolean")
        def _maybe(h64: pd.Series, shard: pd.Series) -> pd.Series:
            local: dict[str, BloomShard] = {}
            out = np.zeros(len(h64), dtype=bool)
            hv = h64.to_numpy()
            sv = shard.to_numpy()
            for key in pd.unique(sv):
                blob = bc.value.get(key)
                if blob is None:
                    continue
                if key not in local:
                    m, k, bits = blob
                    local[key] = BloomShard(m, k, np.frombuffer(bits, dtype=np.uint64))
                mask = sv == key
                out[mask] = local[key].maybe_contains(hv[mask])
            return pd.Series(out)

        return df.withColumn(out_col, _maybe(F.col(key_col), F.col(shard_col)))

    # ------------------------------------------------------------- snapshot
    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        buf = io.BytesIO()
        arrays = {}
        meta = []
        for i, (key, s) in enumerate(sorted(self.shards.items())):
            arrays[f"bits_{i}"] = s.bits
            meta.append((key, s.m, s.k))
        arrays["meta_keys"] = np.array([m[0] for m in meta], dtype=object)
        arrays["meta_mk"] = np.array([[m[1], m[2]] for m in meta], dtype=np.int64).reshape(-1, 2)
        # no allow_pickle kwarg: savez_compressed has none — passing it
        # would store a stray boolean array named "allow_pickle"
        np.savez_compressed(buf, **arrays)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(buf.getvalue())
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str, expected_per_shard: int = 1 << 16, fpp: float = 0.01) -> "ShardedBloom":
        z = np.load(path, allow_pickle=True)
        keys = z["meta_keys"]
        mk = z["meta_mk"].reshape(-1, 2)
        shards = {}
        for i, key in enumerate(keys):
            shards[str(key)] = BloomShard(int(mk[i][0]), int(mk[i][1]), z[f"bits_{i}"].copy())
        return cls(shards, expected_per_shard, fpp)


# --------------------------------------------------------------------------
# Incremental broadcast chain
# --------------------------------------------------------------------------

# Executor-process-global cumulative filters, keyed by chain id. A python
# worker folds each new delta into its cached cumulative ShardedBloom exactly
# once; older deltas' broadcast values are already resident in the worker's
# broadcast registry, so a round costs each worker ONE small unpickle
# (O(new URLs) bytes) + a vectorized add_hashes — never a re-read of the
# whole filter. Bounded: tests may run several engines per worker, so a few
# live chains are kept before evicting.
_CHAIN_MEMO: dict[str, dict] = {}
_CHAIN_MEMO_MAX = 4


def _chain_shards(chain_id: str, handles: tuple) -> dict[str, BloomShard]:
    st = _CHAIN_MEMO.get(chain_id)
    if st is None:
        if len(_CHAIN_MEMO) >= _CHAIN_MEMO_MAX:
            _CHAIN_MEMO.clear()
        st = _CHAIN_MEMO[chain_id] = {"n": 0, "shards": {}}
    shards: dict[str, BloomShard] = st["shards"]
    for h in handles[st["n"]:]:
        payload = h.value
        if payload[0] == "full":
            for key, (m, k, bits) in payload[1].items():
                arr = np.frombuffer(bits, dtype=np.uint64)
                sh = shards.get(key)
                if sh is None:
                    shards[key] = BloomShard(m, k, arr.copy())
                else:
                    sh.bits |= arr
        else:  # ("hashes", m, k, {shard: int64 ndarray})
            _, m, k, deltas = payload
            for key, arr in deltas.items():
                shards.setdefault(key, BloomShard(m, k)).add_hashes(arr)
    st["n"] = len(handles)
    return shards


class BloomBroadcastChain:
    """Executor-side view of a growing :class:`ShardedBloom` as an append-only
    broadcast chain: one ``full`` broadcast per wholesale (re)build — seed,
    resume, eviction — plus one tiny ``hashes`` broadcast per crawl round.

    Why: re-broadcasting the merged filter every round ships O(seen URLs)
    bits to every python worker every round (measured in the r6 depth probe
    as ~0.25 s of per-task wait in the insert stage at local[16], growing
    with the filter). The chain ships O(new URLs) per round; workers keep a
    cumulative filter in ``_CHAIN_MEMO`` and fold each delta in once.

    Duck-types the prefilter surface the frontier path consumes
    (``.shards`` truthiness + ``filter_maybe_seen``), so
    ``classify_and_key_links`` / ``anti_join_seen`` take it in place of the
    driver's ShardedBloom. NOT used for the cuckoo prefilter: deletable
    filters are not append-only (a delete cannot be expressed as a chain
    entry), so the cuckoo path keeps per-round full broadcasts and the
    engine resets this chain wholesale after any eviction.
    """

    def __init__(self, spark: SparkSession, expected_per_shard: int, fpp: float):
        import uuid

        self.spark = spark
        self.expected_per_shard = expected_per_shard
        self.fpp = fpp
        self._uid = uuid.uuid4().hex
        self._gen = 0
        self._handles: list = []
        self._keys: set[str] = set()

    @property
    def chain_id(self) -> str:
        return f"{self._uid}:{self._gen}"

    @property
    def shards(self) -> set[str]:
        """Shard keys with content — truthy iff the chain can veto anything
        (same contract as ShardedBloom.shards for the is-empty checks)."""
        return self._keys

    def reset(self, filt: ShardedBloom) -> None:
        """Start a new generation from the driver's full filter (seed /
        resume / post-eviction). Old generations' broadcasts are released."""
        for h in self._handles:
            h.unpersist()
        self._gen += 1
        self._handles = []
        self._keys = set(filt.shards)
        if filt.shards:
            payload = (
                "full",
                {key: (s.m, s.k, s.bits.tobytes()) for key, s in filt.shards.items()},
            )
            self._handles.append(self.spark.sparkContext.broadcast(payload))

    def append_hashes(self, deltas: dict[str, np.ndarray]) -> None:
        """Broadcast one round's new-key hashes (per-shard int64 arrays, as
        the engine collects them from its insert delta)."""
        if not deltas:
            return
        m, k = _params(self.expected_per_shard, self.fpp)
        payload = (
            "hashes",
            m,
            k,
            {key: np.asarray(arr, dtype=np.int64) for key, arr in deltas.items()},
        )
        self._keys.update(deltas)
        self._handles.append(self.spark.sparkContext.broadcast(payload))

    def filter_maybe_seen(
        self,
        df: DataFrame,
        key_col: str = "url_hash64",
        shard_col: str = "domain_salt",
        out_col: str = "maybe_seen",
    ) -> DataFrame:
        """Same contract as ShardedBloom.filter_maybe_seen, evaluated against
        the worker-cached cumulative filter."""
        chain_id = self.chain_id
        handles = tuple(self._handles)

        @F.pandas_udf("boolean")
        def _maybe(h64: pd.Series, shard: pd.Series) -> pd.Series:
            shards = _chain_shards(chain_id, handles)
            out = np.zeros(len(h64), dtype=bool)
            hv = h64.to_numpy()
            sv = shard.to_numpy()
            for key in pd.unique(sv):
                sh = shards.get(key)
                if sh is None:
                    continue
                mask = sv == key
                out[mask] = sh.maybe_contains(hv[mask])
            return pd.Series(out)

        return df.withColumn(out_col, _maybe(F.col(key_col), F.col(shard_col)))

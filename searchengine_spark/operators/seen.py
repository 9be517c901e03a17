"""Partitioned URL-seen prefilter (D3): the bloom structure and the
one probe shared by every structure.

The reference holds the entire seen set as exact in-RAM MD5 hashes
(SearchEngine.h:517-522; 48 MB per 1 M pages, README.md:9). At the
10^10-URL scale of the north rule no single JVM holds that, so the
engine keeps the *exact* set as a distributed table and adds a
partitioned prefilter: one block per host-shard, built with
`applyInPandas` over the seen table grouped by shard. Filter-negative
candidates are *definitely new* and skip the exact anti-join; only
filter-positive candidates (true hits + false positives) shuffle into
the exact `left_anti` against `seen`. Exactness is therefore preserved
(the filter is a prefilter, never the verdict — SURVEY.md §7.4-3)
while the shuffled side of the hot J1 join shrinks by roughly the
new-URL fraction, the dominant fraction at steady-state crawl.

Single dispatch. A structure is a :class:`SeenFilter`: its native key
columns, a block decoder and a pure-numpy membership kernel
``member(block, keys) -> bool[]`` (plus its block build/merge). This
module defines BLOOM; operators/cuckoo.py defines CUCKOO, and
`_filter_impl` is the one table mapping cfg.seen_filter to them. Two
structure-agnostic drivers run any structure's kernel:
`probe_broadcast` (blocks collected and broadcast; n_shards ×
block bytes — e.g. 2000 shards × 8 KiB = 16 MiB) and `probe_cogrouped`
(candidates cogrouped with their shard's block, for geometries above
FILTER_BROADCAST_MAX_BYTES). `seen_prefilter` picks the arm from the
configured geometry and `exact_new` is the one split → anti-join →
union body.

Bloom bit positions come from overlapping 15-hex windows of the
(uniformly distributed) url_md5 key, computed as NATIVE columns
(`conv(substr(md5,…),16,10) % nbits`) so no per-row Python runs
anywhere on the J1 hot path; the pandas UDFs that remain are pure
vectorized numpy gathers over Arrow batches. The pure-Python twin
(_bit_positions) keeps the oracle/tests in lockstep.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from searchengine_spark.config import CrawlConfig


def _bit_positions(md5_hex: str, cfg: CrawlConfig) -> list[int]:
    """k independent positions from k overlapping 15-hex windows of the
    (already uniformly distributed) md5 key — no re-hashing needed.
    Pure-Python twin of :func:`bloom_position_cols` (tests pin them
    equal)."""
    return [
        int(md5_hex[4 * k : 4 * k + 15], 16) % cfg.bloom_bits_per_shard
        for k in range(cfg.bloom_hashes)
    ]


def bloom_position_cols(md5_col: Column, cfg: CrawlConfig) -> list[Column]:
    """The k bloom bit positions as native JVM columns (no Python):
    position_k = int(md5_hex[4k:4k+15], 16) % bits."""
    return [
        F.pmod(
            F.conv(F.substring(md5_col, 4 * k + 1, 15), 16, 10).cast("long"),
            F.lit(cfg.bloom_bits_per_shard),
        ).cast("long")
        for k in range(cfg.bloom_hashes)
    ]


def build_bloom_blocks(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """seen(url_md5, shard) -> blocks(shard, bitmap binary).

    Positions are computed natively and exploded before the grouped
    pandas stage, so the numpy body is one vectorized scatter
    (`np.bitwise_or.at`) per shard — no per-row Python."""
    nbytes = cfg.bloom_bits_per_shard // 8

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(nbytes, dtype=np.uint8)
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(
            bits, pos >> 3, np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))
        )
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [bits.tobytes()]}
        )

    positions = F.array(*bloom_position_cols(F.col("url_md5"), cfg))
    return (
        seen.select("shard", F.explode(positions).alias("pos"))
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, bitmap binary")
    )


def merge_bloom_blocks(a: DataFrame, b: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """OR-merge two block tables (incremental maintenance: each round
    builds blocks only from that round's new keys and ORs them in —
    the full seen set is never rescanned)."""
    nbytes = cfg.bloom_bits_per_shard // 8

    def orall(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(nbytes, dtype=np.uint8)
        for bm in pdf["bitmap"]:
            acc |= np.frombuffer(bm, dtype=np.uint8)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bitmap": [acc.tobytes()]}
        )

    return (
        a.unionByName(b)
        .groupBy("shard")
        .applyInPandas(orall, schema="shard int, bitmap binary")
    )


def _bloom_blocks_bytes(cfg: CrawlConfig) -> int:
    return cfg.n_shards * (cfg.bloom_bits_per_shard // 8)


def _bloom_decode(row, cfg: CrawlConfig) -> np.ndarray:
    return np.frombuffer(row["bitmap"], dtype=np.uint8)


def bloom_member(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Membership kernel: pos is int64[n, k] (the bloom_position_cols
    values); a key is a member iff all k of its bits are set."""
    return (((bitmap[pos >> 3] >> (pos & 7)) & 1) != 0).all(axis=1)


# -- structure-agnostic probe --------------------------------------------------


class SeenFilter(NamedTuple):
    """One prefilter structure. The probe drivers use only key_cols
    (url_md5 -> native int64 key columns), decode (block row -> numpy
    block) and member ((block, int64[n, k] keys) -> bool[n]);
    seen_prefilter reads blocks_bytes (configured geometry, all shards)
    to pick a driver, and the crawl's dispatchers build and merge."""

    key_cols: Callable[[Column, CrawlConfig], list[Column]]
    decode: Callable[[Any, CrawlConfig], Any]
    member: Callable[[Any, np.ndarray], np.ndarray]
    blocks_bytes: Callable[[CrawlConfig], int]
    build: Callable[[DataFrame, CrawlConfig], DataFrame]
    merge: Callable[[DataFrame, DataFrame, CrawlConfig], DataFrame]


BLOOM = SeenFilter(
    key_cols=bloom_position_cols,
    decode=_bloom_decode,
    member=bloom_member,
    blocks_bytes=_bloom_blocks_bytes,
    build=build_bloom_blocks,
    merge=merge_bloom_blocks,
)

# Above this many TOTAL filter-block bytes (a pure function of the
# CONFIGURED geometry — n_shards x per-shard structure size, no data
# peek) the prefilter stops collecting blocks to the driver and
# switches to the shard-cogrouped probe: each task reads ONLY its own
# shard's block. A 10^10-URL seen set needs ~12.5 GB of bitmap total,
# which the broadcast arm would materialize on the driver and ship
# whole to every executor. Below the bound the broadcast is strictly
# cheaper: it needs no candidate shuffle, and forcing the cogroup arm
# at the crawl benchmark's geometry raised the per-round CPU median
# from 8.09 s to 9.26 s on 4 cores.
FILTER_BROADCAST_MAX_BYTES = 64 << 20


def probe_broadcast(
    spark: SparkSession,
    candidates: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
    flt: SeenFilter,
) -> DataFrame:
    """Small-geometry arm: collect every shard's block to the driver,
    broadcast the map, and tag candidates with a pandas UDF. A shard
    with no block leaves its candidates suspect (maybe_seen=True)."""
    keys = flt.key_cols(F.col("url_md5"), cfg)
    block_map = {int(r["shard"]): flt.decode(r, cfg) for r in blocks.collect()}
    bc = spark.sparkContext.broadcast(block_map)
    member = flt.member

    @F.pandas_udf("boolean")
    def probe(shards: pd.Series, *key_cols: pd.Series) -> pd.Series:
        blocks_local = bc.value
        sh = shards.to_numpy(dtype=np.int64)
        k = np.column_stack([c.to_numpy(dtype=np.int64) for c in key_cols])
        out = np.ones(len(sh), dtype=bool)  # default: suspect (exact-join path)
        for s in np.unique(sh):
            blk = blocks_local.get(int(s))
            if blk is not None:
                m = sh == s
                out[m] = member(blk, k[m])
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", probe(F.col("shard"), *keys))


def probe_cogrouped(
    candidates: DataFrame, blocks: DataFrame, cfg: CrawlConfig, flt: SeenFilter
) -> DataFrame:
    """At-scale arm: candidates cogroup with their shard's single block
    row, so no block ever touches the driver and each task holds
    exactly one shard's block (the reference's per-shard exact sets,
    SearchEngine.h:517-522, never cross shards either). Missing block
    => suspect, same rule as the broadcast arm."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    keys = flt.key_cols(F.col("url_md5"), cfg)
    key_names = [f"_key{i}" for i in range(len(keys))]
    cand = candidates.select("*", *(c.alias(n) for c, n in zip(keys, key_names)))
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    out_cols = [f.name for f in out_schema.fields]
    member, decode = flt.member, flt.decode

    def probe(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return pd.DataFrame(columns=out_cols)
        if len(bdf) == 0:
            hit = True  # no block: suspect (exact-join path)
        else:
            k = cdf[key_names].to_numpy(dtype=np.int64)
            hit = member(decode(bdf.iloc[0], cfg), k)
        return cdf.assign(maybe_seen=hit)[out_cols]

    return (
        cand.groupBy("shard")
        .cogroup(blocks.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


def seen_prefilter(
    spark: SparkSession,
    candidates: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
    flt: SeenFilter,
) -> DataFrame:
    """Tag candidates with maybe_seen; filter-negatives are exact-new.

    A shard with NO block returns maybe_seen=True (suspect), routing
    those rows through the exact anti-join. Under a consistent config
    a missing block means "no seen keys in this shard" and True only
    costs a no-op join probe; under config drift (e.g. a resume with a
    different n_shards) False would silently skip the exact check —
    a dedup-exactness violation caught live in round-3 verification.

    The arm follows the configured geometry: above
    FILTER_BROADCAST_MAX_BYTES of blocks the shard-cogrouped probe,
    otherwise the broadcast probe (same rows, pinned by
    tests/test_plans.py::test_seen_filter_cogroup_matches_broadcast).
    """
    if flt.blocks_bytes(cfg) > FILTER_BROADCAST_MAX_BYTES:
        return probe_cogrouped(candidates, blocks, cfg, flt)
    return probe_broadcast(spark, candidates, blocks, cfg, flt)


def exact_new(tagged: DataFrame, seen: DataFrame) -> DataFrame:
    """candidates ANTI JOIN seen from a prefilter-tagged frame: only
    the suspects shuffle into the exact anti-join; filter-negatives
    skip it (the filter is a prefilter, never the verdict)."""
    definitely_new = tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = tagged.where(F.col("maybe_seen")).drop("maybe_seen")
    cleared = suspects.join(seen.select("url_md5"), "url_md5", "left_anti")
    return definitely_new.unionByName(cleared)


def bloom_prefilter(
    spark: SparkSession, candidates: DataFrame, blocks: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Tag candidates with maybe_seen through the bloom blocks."""
    return seen_prefilter(spark, candidates, blocks, cfg, BLOOM)


def dedup_seen_with_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    """Exact seen-dedup with the bloom fast path.

    result ≡ candidates ANTI JOIN seen — verified by tests; only the
    physical shape differs (bloom-negatives never shuffle).
    """
    return exact_new(bloom_prefilter(spark, candidates, blocks, cfg), seen)


# -- prefilter dispatch (north rule: "bloom/cuckoo-filter URL-seen set") -------
#
# cfg.seen_filter selects the structure; both share the exact-anti-join
# fallback contract, so the choice is physical-only. The crawl loop
# goes through these dispatchers and stays structure-agnostic; each
# round commits ONLY the active structure's table (plans/crawl.py drops
# the inactive version so a switch-back rebuilds from the pinned seen
# set instead of trusting a stale filter).


def _filter_impl(cfg: CrawlConfig) -> SeenFilter:
    from searchengine_spark.operators import cuckoo  # imports this module

    structures = {"bloom": BLOOM, "cuckoo": cuckoo.CUCKOO}
    if cfg.seen_filter not in structures:
        raise ValueError(
            f"unknown seen_filter {cfg.seen_filter!r} (expected 'bloom' or 'cuckoo')"
        )
    return structures[cfg.seen_filter]


def filter_table_name(cfg: CrawlConfig) -> str:
    _filter_impl(cfg)  # validate the knob
    return cfg.seen_filter


def build_filter_blocks(seen: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return _filter_impl(cfg).build(seen, cfg)


def merge_filter_blocks(a: DataFrame, b: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return _filter_impl(cfg).merge(a, b, cfg)


def dedup_seen_with_filter(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    blocks: DataFrame,
    cfg: CrawlConfig,
) -> DataFrame:
    tagged = seen_prefilter(spark, candidates, blocks, cfg, _filter_impl(cfg))
    return exact_new(tagged, seen)

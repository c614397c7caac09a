"""Segmented bloom filter over xxhash64 URL keys.

The engine's one approximate URL-seen filter, over canonicalized-and-hashed
URLs. The filter is built DISTRIBUTED — the seen table is grouped by
``seg_id = pmod(url_key, n_segments)`` and each segment's bitmap is built
by an Arrow ``applyInPandas`` batch (numpy bit ops, no per-row Python) —
then either:

- **broadcast probe** (default; the north_rule shape): segment bitmaps are
  collected and broadcast, the frontier probes them in a vectorized pandas
  UDF. Memory is bounded by ``BITS_PER_KEY * n_seen / 8`` bytes total; at
  10^10 keys you shard the broadcast by running dedup per host-bucket wave
  so only the active buckets' segments ship, or
- **distributed probe**: frontier repartitioned on seg_id and joined to the
  segment table, probing inside the cogroup — no single-node bitmap ever
  materializes. Same topology, strictly shuffle-bound.

EXACTNESS (SURVEY.md §4.3): bloom false positives must never drop URLs, so
the filter only short-circuits NEGATIVES: rows whose bits miss are
definitely-unseen and bypass the exact anti-join; rows whose bits hit are
only *possibly* seen and still go through the exact anti-join. The union of
both slices is exactly ``frontier ANTI JOIN seen`` — the bloom just shrinks
the join's probe side (usually >95% of a fresh crawl batch is unseen-new).

Bitmaps checkpoint to a SnapTable (Iceberg in production) so resume does
not rebuild them. Every owner of such a table (the crawl cycle, retention,
the crawl and corpus streams) runs the same lifecycle: ``bloom_usable``
checks the committed summary, ``rebuild_bloom`` sizes and builds from all
keys, ``extend_bloom`` OR-merges a delta at the recorded size. Each owner
keeps its own table, key column and provenance key.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_K = 7  # hash probes; with BITS_PER_KEY=14 → FPR ≈ 0.1%
BITS_PER_KEY = 14


def bloom_m_bits(n_keys: int, n_segments: int = 1) -> int:
    """Per-segment bitmap size for ``n_keys`` spread over ``n_segments``:
    a power of two with 2× growth headroom at BITS_PER_KEY."""
    per_seg = max(n_keys // n_segments, 1)
    return max(64, 1 << math.ceil(math.log2(per_seg * BITS_PER_KEY * 2)))


def _derive_hashes(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Double hashing: h_i = h1 + i*h2 (Kirsch-Mitzenmacher). keys are
    already xxhash64 output, i.e. well-mixed 64-bit values."""
    h1 = keys.view(np.uint64) if keys.dtype == np.int64 else keys.astype(np.uint64)
    h2 = (h1 >> np.uint64(33)) ^ (h1 << np.uint64(29))
    h2 = (h2 * np.uint64(0xFF51AFD7ED558CCD)) | np.uint64(1)  # odd → full cycle
    return h1, h2


def _set_bits(bitmap: np.ndarray, keys: np.ndarray, m_bits: int) -> None:
    h1, h2 = _derive_hashes(keys)
    m = np.uint64(m_bits)
    for i in range(_K):
        idx = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(bitmap, (idx >> np.uint64(3)).astype(np.int64),
                         (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitmap: np.ndarray, keys: np.ndarray, m_bits: int) -> np.ndarray:
    h1, h2 = _derive_hashes(keys)
    m = np.uint64(m_bits)
    hit = np.ones(len(keys), dtype=bool)
    for i in range(_K):
        idx = (h1 + np.uint64(i) * h2) % m
        bits = bitmap[(idx >> np.uint64(3)).astype(np.int64)]
        hit &= (bits & (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))) != 0
    return hit


SEGMENT_SCHEMA = StructType(
    [
        StructField("seg_id", IntegerType()),
        StructField("m_bits", LongType()),
        StructField("n_items", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)


def build_bloom_segments(
    seen_keys: DataFrame,
    key_col: str = "url_key",
    n_segments: int = 32,
    m_bits: int | None = None,
) -> DataFrame:
    """Build per-segment bitmaps from a DataFrame of 64-bit keys.

    Distributed: one Arrow batch group per segment. Segment count scales
    with seen-set size so each bitmap stays a few MB (at 10^10 keys pick
    n_segments so m_bits/8 ≈ 8-32 MB per segment).

    ``m_bits``: fix the bitmap size (must be a power of two) so segments
    built later from DELTA keys can be OR-merged with these
    (merge_bloom_segments). Default: auto-size from the segment's count
    with 2× headroom.
    """

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        mb = m_bits or bloom_m_bits(len(keys))
        bitmap = np.zeros(mb // 8, dtype=np.uint8)
        _set_bits(bitmap, keys, mb)
        return pd.DataFrame(
            {
                "seg_id": [int(pdf["seg_id"].iloc[0])],
                "m_bits": [mb],
                "n_items": [len(keys)],
                "bitmap": [bitmap.tobytes()],
            }
        )

    with_seg = seen_keys.select(key_col).withColumn(
        "seg_id", F.pmod(F.col(key_col), F.lit(n_segments)).cast("int")
    )
    return with_seg.groupBy("seg_id").applyInPandas(_build, SEGMENT_SCHEMA)


def merge_bloom_segments(old: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two segment tables (same seg_id space, SAME m_bits per
    segment — build deltas with ``m_bits`` pinned to the old table's).

    The engine's dedup-exactness invariant is *bloom ⊇ seen keys* (a miss
    skips the exact anti-join, so a false NEGATIVE would leak a duplicate).
    Mismatched sizes can't be merged without the original keys, so this
    RAISES inside the task rather than silently dropping bits; the caller
    rebuilds from the full seen set instead. FPR (false positives) may
    degrade as n_items outgrows capacity — that only costs extra anti-join
    probes, never correctness."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg_id"].iloc[0])
        sizes = pdf["m_bits"].unique()
        if len(sizes) != 1:
            raise ValueError(
                f"bloom segment {seg}: mismatched m_bits {sizes}; rebuild "
                "the filter from the full seen set"
            )
        acc = np.zeros(int(sizes[0]) // 8, dtype=np.uint8)
        for b in pdf["bitmap"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"seg_id": [seg], "m_bits": [int(sizes[0])],
             "n_items": [int(pdf["n_items"].sum())], "bitmap": [acc.tobytes()]}
        )

    return old.unionByName(delta).groupBy("seg_id").applyInPandas(
        _merge, SEGMENT_SCHEMA
    )


def bloom_usable(meta: dict, n_segments: int | None = None) -> bool:
    """Whether a committed bloom, given its snapshot summary, can be probed
    and extended. The summary must record the modulus the bloom was built
    with (probing under another one reads the wrong bitmap: false
    negatives) and its uniform ``m_bits`` (the size a delta must be built
    at to OR-merge). ``n_segments`` also pins the modulus. Which head the
    bloom covers is the owner's check: each owner names its own
    provenance key."""
    n = meta.get("n_segments")
    return bool(n and meta.get("m_bits")) and n_segments in (None, n)


def rebuild_bloom(keys: DataFrame, n_segments: int) -> tuple[DataFrame, dict]:
    """Build from EVERY key in ``keys`` (a ``url_key`` column), sized by
    ``bloom_m_bits``. The keys are checkpointed first, so the count and the
    build read one scan. Returns the segments and the summary fields
    (``n_segments``, ``m_bits``) that ``bloom_usable`` and ``extend_bloom``
    read back."""
    from spark_frontier.storage.materialize import materialize

    keys = materialize(keys)
    fields = {"n_segments": n_segments,
              "m_bits": bloom_m_bits(keys.count(), n_segments)}
    return build_bloom_segments(keys, **fields), fields


def extend_bloom(segments: DataFrame, meta: dict,
                 delta_keys: DataFrame) -> tuple[DataFrame, dict]:
    """OR-merge ``delta_keys`` into a usable bloom at the modulus and
    ``m_bits`` its summary ``meta`` records. Returns the merged segments
    and the (unchanged) summary fields."""
    fields = {"n_segments": int(meta["n_segments"]),
              "m_bits": int(meta["m_bits"])}
    delta = build_bloom_segments(delta_keys, **fields)
    return merge_bloom_segments(segments, delta), fields


def might_contain_udf(spark, segments: DataFrame, n_segments: int):
    """Broadcast the segment bitmaps and return a vectorized probe column
    function: ``col(url_key) -> boolean`` (true = POSSIBLY seen)."""
    seg_rows = segments.collect()
    seg_map = {r["seg_id"]: (np.frombuffer(r["bitmap"], dtype=np.uint8), r["m_bits"])
               for r in seg_rows}
    bc = spark.sparkContext.broadcast(seg_map)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def might_contain(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        segs = np.mod(np.mod(arr, n_segments) + n_segments, n_segments)  # pmod
        out = np.zeros(len(arr), dtype=bool)
        m = bc.value
        for s in np.unique(segs):
            entry = m.get(int(s))
            if entry is None:
                continue  # segment absent → nothing seen there → stays False
            bitmap, m_bits = entry
            mask = segs == s
            out[mask] = _test_bits(bitmap, arr[mask], int(m_bits))
        return pd.Series(out)

    return might_contain


def probe_distributed(
    frontier: DataFrame,
    segments: DataFrame,
    key_col: str = "url_key",
    n_segments: int = 32,
) -> DataFrame:
    """The 10^10-key probe path: NO driver collect, NO bitmap broadcast.

    The frontier is repartitioned on ``seg_id`` and cogrouped with the
    segment table, so each task holds exactly ONE segment's bitmap (a few
    MB) while probing that segment's slice of the frontier. At the design
    point of 10^10 keys × 14 bits ≈ 17.5 GB of bitmap total, the broadcast
    path would ship all of it to every executor — here each executor only
    ever materializes the segments it owns. Cost: one shuffle of the
    frontier keyed on seg_id (bounded per wave by max_per_host).

    Returns frontier + ``_maybe_seen`` boolean."""
    from pyspark.sql.types import BooleanType as _B

    fr = frontier.withColumn(
        "_seg_id", F.pmod(F.col(key_col), F.lit(n_segments)).cast("int")
    )
    out_schema = StructType(
        fr.schema.fields + [StructField("_maybe_seen", _B())]
    )

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(_maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            # no bitmap for this segment → nothing was ever seen there
            return left.assign(_maybe_seen=False)
        acc = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
        if len(right) > 1:  # defensive: OR any unmerged delta rows
            acc = acc.copy()
            for b in right["bitmap"].iloc[1:]:
                acc |= np.frombuffer(b, dtype=np.uint8)
        m_bits = int(right["m_bits"].iloc[0])
        keys = left[key_col].to_numpy(dtype=np.int64)
        return left.assign(_maybe_seen=_test_bits(acc, keys, m_bits))

    flagged = (
        fr.groupBy("_seg_id")
        .cogroup(
            segments.withColumnRenamed("seg_id", "_seg_id").groupBy("_seg_id")
        )
        .applyInPandas(_probe, out_schema)
    )
    return flagged.drop("_seg_id")


# Above this many seen keys the broadcast probe stops force-broadcasting
# the exact-check side: 8 M × 8 B keys ≈ 64 MB raw (~2-3× that as a JVM
# hash relation) — past the point where shipping it whole to every
# executor per wave beats a shuffle of only the maybe-seen slice.
BROADCAST_SEEN_CAP = 8_000_000


def dedup_unseen(
    frontier: DataFrame,
    seen: DataFrame,
    key_col: str = "url_key",
    segments: DataFrame | None = None,
    n_segments: int = 32,
    probe: str = "broadcast",
    seen_count: int | None = None,
    broadcast_seen_cap: int = BROADCAST_SEEN_CAP,
    probe_fn=None,
) -> DataFrame:
    """Return frontier rows NOT in seen — exactly — using the bloom to
    shrink the anti-join probe side (reference dedup: repository.py:352-369
    batched IN-queries; here one anti-join).

    ``probe='broadcast'`` collects the bitmaps to the driver and probes via
    a broadcast (right when total bitmap size ≲ executor memory);
    ``probe='distributed'`` cogroups frontier×segments on seg_id — no
    driver collect, the 10^10-key path. Both feed the SAME
    negative-pass-through topology, so exactness never depends on the probe.

    ``seen_count`` (if the caller knows it — the crawl cycle reads it off
    the bloom summary agg it already runs) gates the exact-side broadcast:
    above ``broadcast_seen_cap`` keys the anti-join runs as a plain
    shuffle join of only the maybe-seen slice instead of force-shipping
    the whole seen key set to every executor (OOM cliff as links grows).

    With ``segments=None`` falls back to the plain exact anti-join.
    """
    if segments is None:
        return frontier.join(seen.select(key_col), on=key_col, how="left_anti")

    if probe == "distributed":
        # scale path: the frontier is already cogroup-shuffled on seg_id;
        # keep the two-branch union so ONLY the maybe-seen slice (FPR +
        # true dups) enters the exact anti-join's shuffle. Callers pair
        # this with a materialized frontier, so the branches don't
        # recompute the upstream.
        flagged = probe_distributed(frontier, segments, key_col, n_segments)
        definitely_unseen = flagged.filter(~F.col("_maybe_seen")).drop(
            "_maybe_seen"
        )
        needs_check = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        confirmed_unseen = needs_check.join(
            seen.select(key_col), on=key_col, how="left_anti"
        )
        return definitely_unseen.unionByName(confirmed_unseen)

    # broadcast probe: SINGLE-PASS negative-pass-through. A union of two
    # filtered branches over a LAZY frontier physically duplicates the
    # whole upstream (Catalyst does not common-subexpression two python-UDF
    # subtrees, measured as twin ~35-core-s stages in the fused wave job);
    # instead the probe verdict becomes a conditional join key — NULL for
    # definitely-unseen rows, which can never match, so they pass the
    # anti-join unconditionally while maybe-seen rows get the exact check.
    # One consumer, zero recompute, same exact result. The seen side is
    # explicitly broadcast: this mode is for seen sets that fit executor
    # memory (the 10^10-key path is probe='distributed' above).
    # ``probe_fn``: a prebuilt might_contain_udf — callers on a hot path
    # build it once (bitmap collect + broadcast are driver-blocking jobs)
    # on a background thread instead of per dedup call
    fn = probe_fn or might_contain_udf(
        frontier.sparkSession, segments, n_segments
    )
    flagged = frontier.withColumn("_maybe_seen", fn(F.col(key_col)))
    seen_k = seen.select(F.col(key_col).alias("_probe_key"))
    if seen_count is None or seen_count <= broadcast_seen_cap:
        seen_k = F.broadcast(seen_k)
    return (
        flagged.withColumn(
            "_probe_key", F.when(F.col("_maybe_seen"), F.col(key_col))
        )
        .join(seen_k, on="_probe_key", how="left_anti")
        .drop("_probe_key", "_maybe_seen")
    )

"""Bloom-filter stage: windowed hashing -> per-(sample, partition) slices
-> per-sample global filters, plus bft/bfc variants and the FPR report.

Reference parity (SURVEY §2 A6/A9/P8/P11/P13, S7):
* hash-mode counts   — groupBy over the windowed hash (sorting_count.hpp:
  365-533, 908-997); collisions inside a window merge, as in the ref.
* bf slices          — HashVecProcessor BITSET per hash (count_processor.
  hpp:84-120) as a grouped-map bitmap build.
* per-sample concat  — howde-style: sample filter = ordered concat of its
  partition windows (howde_utils.hpp:133-185); zero windows for absent
  partitions (merge.hpp:575-600).
* bft                — per-partition bit transpose to sample-major rows
  (merge.hpp:631-644, bitmatrix.hpp:209-242).
* bfc                — ceil(log2(c+1)) packed w-bit cells (packc.hpp:16-43).
* fpr                — (1-e^{-n/m}) per (sample, partition) (utils.hpp:
  239-243, task.hpp:849-860).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kmtricks_spark.config import KmConfig
from kmtricks_spark.functions.hashing import windowed_hash_col
from kmtricks_spark.sketches import bloom


def hash_counts(counts: DataFrame, cfg: KmConfig) -> DataFrame:
    """(part_id, sample_id, hash_idx, count) — hash-mode aggregation.

    hash_idx is GLOBAL: (xxhash64(kgram) % w) + w*part_id, so every
    downstream artifact is window-anchored and concatenable.
    """
    w = cfg.window_bits
    h = counts.select(
        "part_id",
        "sample_id",
        windowed_hash_col(F.col("kgram"), w, F.col("part_id")),
        "count",
    )
    # repartition on (part_id, sample_id) BEFORE the aggregate: hash
    # partitioning on a subset of the grouping keys satisfies the agg's
    # clustered distribution, AND the downstream grouped builds
    # (bf/bfc_slices group on exactly these two keys), so the whole
    # hash_counts -> slices chain runs on ONE exchange instead of two
    # (agg exchange on 3 keys + applyInPandas exchange on 2). hash_idx
    # collisions merge in the (single-level) aggregate exactly as
    # before; rows shuffled are the same either way because collisions
    # are rare below full window load.
    return (
        h.repartition("part_id", "sample_id")
        .groupBy("part_id", "sample_id", "hash_idx")
        .agg(F.sum("count").alias("count"))
    )


_SLICE_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType()),
        StructField("sample_id", StringType()),
        StructField("n_set", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)


_BITMAP_BUCKET_BITS = 32768  # bits per bitmap_construct_agg bucket (4 KB)


def bf_slices(hcounts: DataFrame, cfg: KmConfig, min_count: int = 1) -> DataFrame:
    """One Bloom window per (partition, sample): (part_id, sample_id,
    n_set, bitmap).

    Pure-JVM build (r6): the window is assembled from Spark's native
    bitmap aggregate instead of a grouped-map numpy pass — the former
    applyInPandas version paid an Arrow round-trip of every hash row
    plus one Python call + pandas frame per (partition, sample) group.
    bitmap_construct_agg packs bits LSB-first per byte into fixed 4 KB
    buckets, exactly the reference BITSET layout bloom.add_local_indices
    uses, so the window blob is the ordered bucket concat (zero-filled
    for absent buckets) truncated to window_bytes — byte-identical to
    the numpy build (pinned by test; bft_slices keeps the numpy path, so
    the existing bft==bf equality test cross-checks the layout). And
    because hash_counts pre-partitions on (part_id, sample_id), BOTH
    grouping levels here reuse that one exchange: the whole
    hash_counts -> bf_slices chain is a single shuffle with zero Python.

    min_count > 1 masks sub-threshold rows to NULL instead of filtering
    them, so a fully-masked (part, sample) group still yields its
    empty-bitmap row (a pre-filter would drop the group — the contract
    is one row per group present in hcounts)."""
    w = cfg.window_bits
    n_buckets = (w + _BITMAP_BUCKET_BITS - 1) // _BITMAP_BUCKET_BITS
    local = F.col("hash_idx") - F.col("part_id").cast("long") * F.lit(w)
    # loud failure on an index outside its partition window (mis-routed
    # or hand-built input): the numpy build raised IndexError here; the
    # bucket arithmetic would otherwise silently truncate the bit while
    # still counting it — a silent Bloom false negative downstream
    v = F.when(
        (local >= 0) & (local < w), local + 1  # bitmap_* functions are 1-based
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("bf_slices: hash_idx outside its partition window: "),
                F.col("hash_idx").cast("string"),
                F.lit(" (part_id "),
                F.col("part_id").cast("string"),
                F.lit(f", window_bits {w})"),
            )
        ).cast("long")
    )
    if min_count > 1:
        v = F.when(F.col("count") >= min_count, v)
    per_bucket = (
        hcounts.select(
            "part_id",
            "sample_id",
            F.bitmap_bucket_number(v).alias("bucket"),
            F.bitmap_bit_position(v).alias("bitpos"),
        )
        .groupBy("part_id", "sample_id", "bucket")
        .agg(F.bitmap_construct_agg(F.col("bitpos")).alias("bm"))
    )
    live = F.col("bucket").isNotNull()
    zero_bucket = F.lit(bytes(_BITMAP_BUCKET_BITS // 8))
    return (
        per_bucket.groupBy("part_id", "sample_id")
        .agg(
            F.sum(F.when(live, F.bitmap_count("bm")).otherwise(F.lit(0))).alias("n_set"),
            F.map_from_entries(
                F.collect_list(F.when(live, F.struct("bucket", "bm")))
            ).alias("__m"),
        )
        .select(
            "part_id",
            "sample_id",
            F.col("n_set").cast("long").alias("n_set"),
            # one variadic concat over the buckets, known here: a fold
            # would copy the growing prefix once per bucket
            F.concat(*[
                F.coalesce(F.element_at(F.col("__m"), F.lit(b)), zero_bucket)
                for b in range(1, n_buckets + 1)
            ]).substr(F.lit(1), F.lit(w // 8)).alias("bitmap"),
        )
    )


def bf_concat(slices: DataFrame, cfg: KmConfig) -> DataFrame:
    """Per-sample global filter = slices ordered by part_id, zero-filled.

    (sample_id, total_set, filter binary of window_bytes * P).
    """
    P, w = cfg.nb_partitions, cfg.window_bits
    # same JVM map-assembly shape as bf_slices (r6): one tiny shuffle of
    # (sample, part, window) rows, ordered concat with zero windows for
    # absent partitions (merge.hpp:575-600) — no Python boundary
    zero_window = F.lit(bytes(w // 8))
    return (
        slices.groupBy("sample_id")
        .agg(
            F.sum("n_set").alias("total_set"),
            F.map_from_entries(
                F.collect_list(F.struct("part_id", "bitmap"))
            ).alias("__m"),
        )
        .select(
            "sample_id",
            F.col("total_set").cast("long").alias("total_set"),
            F.concat(*[
                F.coalesce(F.element_at(F.col("__m"), F.lit(p)), zero_window)
                for p in range(P)
            ]).alias("filter"),
        )
    )


def bft_slices(hcounts: DataFrame, samples: list[str], cfg: KmConfig, min_count: int = 1) -> DataFrame:
    """Transposed build: per partition, sample-major rows (the reference's
    bit-matrix transpose, merge.hpp:631-644). Output equals bf_slices
    row-for-row.

    Memory-bounded: one w/8-byte packed bitmap per sample AT A TIME
    (peak extra = one window), never the dense (window_bits x n_samples)
    matrix — at reference-scale settings (w=2^24/P, 10^4 samples) the
    dense form is multi-GB per task. `samples` fixes row order parity
    with the reference's matrix column order."""
    w = cfg.window_bits
    order = {s: i for i, s in enumerate(samples)}

    def build(key, pdf):
        part = key[0]
        sel = pdf[pdf["count"] >= min_count]
        local = sel["hash_idx"].to_numpy(dtype=np.int64) - np.int64(part) * w
        rows = []
        for s, idx in sel.groupby("sample_id", sort=False).indices.items():
            state = bloom.create(w)
            bloom.add_local_indices(state, local[idx])
            rows.append((part, s, bloom.popcount(state), state.tobytes()))
        rows.sort(key=lambda r: order.get(r[1], len(order)))
        return pd.DataFrame(rows, columns=["part_id", "sample_id", "n_set", "bitmap"])

    return hcounts.groupBy("part_id").applyInPandas(build, _SLICE_SCHEMA)


_BFC_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType()),
        StructField("sample_id", StringType()),
        StructField("packed", BinaryType()),
    ]
)


def bfc_slices(hcounts: DataFrame, cfg: KmConfig) -> DataFrame:
    """Counting-BF window: w-bit cells of ceil(log2(c+1)), capped."""
    w, width = cfg.window_bits, cfg.bfc_width

    def build(key, pdf):
        part, sample = key
        hash_idx = pdf["hash_idx"].to_numpy(dtype=np.int64)
        local = hash_idx - np.int64(part) * w
        # numpy would wrap a negative index onto another cell and raise a
        # bare IndexError past the end: fail with bf_slices' message
        bad = (local < 0) | (local >= w)
        if bad.any():
            raise ValueError(
                f"bfc_slices: hash_idx outside its partition window: "
                f"{hash_idx[bad.argmax()]} (part_id {part}, window_bits {w})"
            )
        cells = np.zeros(w, dtype=np.int64)
        np.add.at(cells, local, pdf["count"].to_numpy(dtype=np.int64))
        packed = bloom.pack_counts(cells, width)
        return pd.DataFrame(
            [(part, sample, packed.tobytes())], columns=["part_id", "sample_id", "packed"]
        )

    return hcounts.groupBy("part_id", "sample_id").applyInPandas(build, _BFC_SCHEMA)


def fpr_report(slices: DataFrame, cfg: KmConfig) -> DataFrame:
    """Per (sample, partition) FPR from the analytic model (k=1 hash)."""
    w = cfg.window_bits
    return slices.select(
        "part_id",
        "sample_id",
        "n_set",
        F.round(
            F.lit(1.0) - F.exp(-F.col("n_set").cast("double") / F.lit(float(w))), 9
        ).alias("fpr"),
    )


def bf_probe(
    slices: DataFrame, probes: DataFrame, cfg: KmConfig, hot_map: dict | None = None
) -> DataFrame:
    """Distributed membership probe: (sample_id, kgram) rows against the
    per-(partition, sample) slices. The probe must route each kgram with
    the SAME part assignment the build used — pass the build's hot_map
    when the slices came from a sampled-repartition run, else the static
    hash applies. Joins on (part_id, sample_id); a vectorized bit check
    reads the window bitmap. Returns (sample_id, kgram, member int).

    Bloom guarantee under test: member == 1 for every key that was
    inserted (no false negatives) — which makes present-key probes
    exactly oracle-comparable; absent keys may report 1 at the modeled
    FPR.

    Scale shape: probes and slices COGROUP on (part_id, sample_id) — each
    task sees one window bitmap ONCE (np.frombuffer, zero-copy) and gathers
    all of that group's probe bits with the vectorized contains_local
    kernel. No per-row Python, and the bitmap is never replicated onto
    probe rows the way a plain join would."""
    from kmtricks_spark.functions.hashing import part_id_col
    from kmtricks_spark.operators.partitioner import skew_aware_part

    w = cfg.window_bits
    base = probes.select("sample_id", "kgram")
    if hot_map:
        if any(len(ps) != 1 for ps in hot_map.values()):
            raise ValueError(
                "bf_probe needs a single-partition-per-key map (the count "
                "path's allow_split=False form): a split key's bit could "
                "be in any of its windows"
            )
        routed = skew_aware_part(base, "kgram", cfg.nb_partitions, hot_map=hot_map)
    else:
        routed = base.withColumn("part_id", part_id_col(F.col("kgram"), cfg.nb_partitions))
    # the SAME hash expression the build side used (hash_counts), so a
    # seed/formula change can never silently diverge build vs probe:
    # local index = windowed hash minus the window anchor
    p = routed.withColumn(
        "local_idx",
        windowed_hash_col(F.col("kgram"), w, F.col("part_id"))
        - F.col("part_id").cast("long") * F.lit(w),
    )
    out_schema = StructType(
        [
            StructField("sample_id", StringType()),
            probes.schema["kgram"],
            StructField("member", IntegerType()),
        ]
    )

    def probe_group(key, probes_pdf, slices_pdf):
        if len(probes_pdf) == 0:
            return pd.DataFrame(columns=["sample_id", "kgram", "member"])
        if len(slices_pdf) == 0:
            member = np.zeros(len(probes_pdf), dtype=np.int32)
        else:
            bm = np.frombuffer(slices_pdf["bitmap"].iloc[0], dtype=np.uint8)
            idx = probes_pdf["local_idx"].to_numpy(dtype=np.int64)
            member = bloom.contains_local(bm, idx).astype(np.int32)
        return pd.DataFrame(
            {
                "sample_id": probes_pdf["sample_id"],
                "kgram": probes_pdf["kgram"],
                "member": member,
            }
        )

    return (
        p.groupBy("part_id", "sample_id")
        .cogroup(slices.select("part_id", "sample_id", "bitmap").groupBy("part_id", "sample_id"))
        .applyInPandas(probe_group, out_schema)
    )


def bf_contains(filter_blob: bytes, kgram_hashes_global: np.ndarray) -> np.ndarray:
    """Driver-side membership probe on a concatenated per-sample filter."""
    state = np.frombuffer(filter_blob, dtype=np.uint8)
    return bloom.contains_local(state, kgram_hashes_global.astype(np.int64))

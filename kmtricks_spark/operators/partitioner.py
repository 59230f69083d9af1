"""Partitioning: static hash, frequency-sampled skew-aware map, salting.

Reference parity (SURVEY §2.3):
* R3 static: part = XXH64(key) % P (repartition.hpp:45-56) — the cheap
  default; uniform for hashed keys.
* R2 sampled: kmtricks samples minimizer frequencies and balances
  partitions by estimated load (task.hpp:183-199). Web-text shingles are
  Zipfian — far more skewed than genomic minimizers — so this is the
  load-bearing scale feature: sample key frequencies, greedily bin-pack
  the top-H hot keys across partitions (LPT scheduling), hash the rest.
* Salting: for aggregations whose per-key state is unbounded
  (collect_list and friends), two-level agg with a salt column
  (groupBy(key, salt) -> groupBy(key)). Plain counts don't need it —
  Spark's map-side partial aggregation already collapses hot keys.

The map is tiny (top-H keys only) and broadcast by construction.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from kmtricks_spark.functions.hashing import part_id_col


def static_part(df: DataFrame, key: str, nb_partitions: int) -> DataFrame:
    """R3: part_id = xxhash64(key) % P."""
    return df.withColumn("part_id", part_id_col(F.col(key), nb_partitions))


def sample_hot_keys(
    df: DataFrame, key: str, nb_partitions: int, fraction: float = 0.05, top: int = 4096
) -> list[tuple]:
    """Frequency-sample the key column; return [(key_value, est_count)]
    for the `top` heaviest keys (driver-side, tiny)."""
    freq = (
        df.sample(fraction=fraction, seed=42)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc())
        .limit(top)
    )
    return [(r[key], r["freq"]) for r in freq.collect()]


def build_balanced_map(hot: list[tuple], nb_partitions: int, allow_split: bool = True) -> dict:
    """Greedy LPT bin-packing of hot keys onto partitions (the analogue of
    GATB's 'unordered' repartitor), with SPLITTING: a key heavier than the
    average partition load is fanned out over ceil(w/avg) partitions (its
    rows are salted across them — partial aggregation makes the split
    sound for counts/sketches). Returns {key_value: [part_id, ...]}.

    allow_split=False pins every key to exactly one partition — REQUIRED
    when downstream artifacts assume one partition per key (count matrix
    rows, Bloom window anchoring): a split key would land the same kgram
    in two part_ids and break per-partition grouping."""
    if not hot:
        return {}
    loads = [0.0] * nb_partitions
    assign: dict = {}
    avg = max(sum(w for _, w in hot) / nb_partitions, 1e-9)
    for k, w in sorted(hot, key=lambda t: -t[1]):
        splits = 1 if not allow_split else min(nb_partitions, max(1, int(-(-w // avg))))
        ps = sorted(range(nb_partitions), key=loads.__getitem__)[:splits]
        for p in ps:
            loads[p] += w / splits
        assign[k] = ps
    return assign


def skew_aware_part(
    df: DataFrame,
    key: str,
    nb_partitions: int,
    fraction: float = 0.05,
    top: int = 4096,
    hot_map: dict | None = None,
) -> DataFrame:
    """R2: hot keys routed by the sampled balanced map (heavy keys salted
    across their assigned partition set), the long tail by static hash.
    hot_map may be passed in (reuse across jobs — the --repart-from
    analogue, task.hpp:136-147)."""
    if hot_map is None:
        hot_map = build_balanced_map(
            sample_hot_keys(df, key, nb_partitions, fraction, top), nb_partitions
        )
    if not hot_map:
        return static_part(df, key, nb_partitions)
    # route via a BROADCAST join, not a create_map literal: 4096 hot keys
    # as map literals would be an ~8k-expression plan (slow codegen, big
    # plan broadcast) — the same smell as per-plane literal arrays in LSH.
    # Built from an Arrow table, it plans as a LocalTableScan; a Python
    # list plans as a PythonRDD scan whose tasks start Python workers
    hot_df = df.sparkSession.createDataFrame(
        pa.table({
            "__hot_key": list(hot_map),
            "__hot_parts": [[int(p) for p in ps] for ps in hot_map.values()],
        }),
        schema=StructType(
            [
                StructField("__hot_key", df.schema[key].dataType),
                StructField("__hot_parts", ArrayType(IntegerType())),
            ]
        ),
    )
    joined = df.join(F.broadcast(hot_df), df[key] == hot_df["__hot_key"], "left")
    salt_cols = [F.col(c) for c in df.columns]
    picked = F.element_at(
        "__hot_parts",
        (F.pmod(F.xxhash64(*salt_cols, F.lit(11)), F.size("__hot_parts")) + 1).cast("int"),
    )
    return joined.withColumn(
        "part_id",
        F.coalesce(
            picked, F.pmod(F.xxhash64(F.col(key)), F.lit(nb_partitions)).cast("int")
        ).cast("int"),
    ).drop("__hot_key", "__hot_parts")


def sample_kgram_hot_map(
    df: DataFrame, cfg, fraction: float = 0.02, top: int = 4096
) -> dict:
    """R2 pre-pass, the reference's sampled repartitor (task.hpp:183-199):
    shingle a small document sample, take the `top` most frequent kgrams
    by INSTANCE mass (the minimizer-frequency analogue), LPT-balance them
    onto partitions WITHOUT splitting (one partition per kgram — count
    matrix rows and Bloom windows require a single part per key).

    One light job over `fraction` of the input, before the counting job;
    the map is tiny (<= top entries) and reusable via save_partitioner
    (--repart-from). The sample pass mirrors the count path's kgram
    representation exactly — bytes mode and DNA canonicalization included
    — or the map keys could never match the keys being routed."""
    from kmtricks_spark.functions.shingles import kgrams_sql
    from kmtricks_spark.operators.count import resolve_method

    sh = kgrams_sql(
        df.sample(fraction=fraction, seed=42),
        cfg,
        bytes_mode=(resolve_method(cfg) == "sql_bytes"),
    )
    if cfg.alphabet == "dna":
        from kmtricks_spark.functions.dna import canonicalize_kgrams

        sh = canonicalize_kgrams(sh)
    hot = (
        sh.groupBy("kgram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("kgram"))
        .limit(top)
        .collect()
    )
    return build_balanced_map(
        [(r["kgram"], r["freq"]) for r in hot], cfg.nb_partitions, allow_split=False
    )


def save_partitioner(path: str, hot_map: dict, k: int, m: int, nb_partitions: int) -> None:
    """Persist the sampled map for reuse across runs (--repart-from,
    task.hpp:136-147,209-222): k, m, P recorded and checked on load.
    Bytes keys (sql_bytes kgrams) are hex-encoded — str(bytes) would
    persist junk like \"b'AC'\" that never matches a key again."""
    import json

    if any(isinstance(kk, (bytes, bytearray)) for kk in hot_map):
        enc, keys = "hex", {bytes(kk).hex(): vv for kk, vv in hot_map.items()}
    else:
        enc, keys = "utf8", {str(kk): vv for kk, vv in hot_map.items()}
    with open(path, "w") as f:
        json.dump(
            {"k": k, "m": m, "nb_partitions": nb_partitions,
             "key_encoding": enc, "hot_map": keys},
            f,
        )


def load_partitioner(path: str, k: int, m: int, nb_partitions: int) -> dict:
    """Load a persisted map; raises on config mismatch (same as the
    reference's compatibility check)."""
    import json

    with open(path) as f:
        rec = json.load(f)
    for name, want in (("k", k), ("m", m), ("nb_partitions", nb_partitions)):
        if rec[name] != want:
            raise ValueError(
                f"partitioner {name} mismatch: run has {want}, file has {rec[name]}"
            )
    if rec.get("key_encoding") == "hex":
        return {bytes.fromhex(kk): vv for kk, vv in rec["hot_map"].items()}
    return rec["hot_map"]


def with_salt(df: DataFrame, buckets: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, buckets) from a hash of `cols` (default:
    all columns) — NOT random, so retries/resume stay stable."""
    cols = cols or df.columns
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(7)), F.lit(buckets)).cast("int")
    )


def two_level_count(df: DataFrame, keys: list[str], salt_buckets: int = 16) -> DataFrame:
    """Skew-proof count: groupBy(keys, salt).count -> groupBy(keys).sum.

    For plain counts Spark's partial agg usually suffices; use this when
    a single key's rows would overflow one reducer's partition (Zipf-1
    shingles at web scale) or when composing with order-sensitive state.
    """
    salted = with_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "salt").agg(F.count(F.lit(1)).alias("pcount"))
    return partial.groupBy(*keys).agg(F.sum("pcount").alias("count"))


def partition_balance(
    df: DataFrame, part_col: str = "part_id", weight_col: str | None = None
) -> DataFrame:
    """Load report: rows (or summed `weight_col` — e.g. instance counts,
    the mass the reference's LPT balances) per partition + max/mean ratio
    (R5 analogue). imbalance == 1.0 is perfect balance."""
    load = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    per = df.groupBy(part_col).agg(load.alias("rows"))
    stats = per.agg(
        F.max("rows").alias("max_rows"),
        F.avg("rows").alias("mean_rows"),
        (F.max("rows") / F.avg("rows")).alias("imbalance"),
    )
    return stats

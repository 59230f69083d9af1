"""Deterministic sampling for reproducible training-data pipelines.

Production corpus pipelines sample by KEY HASH, not RNG: the same
document makes the same keep/drop decision on every run, on any cluster
layout, under retries and resumes — `df.sample()` gives none of that
(fraction sampling is partition-layout-dependent). The selection rule is
a string comparison on the first 8 md5 hex chars of the key against a
fixed-width hex threshold: lexicographic order on fixed-width lowercase
hex IS numeric order, so the predicate runs verbatim in any SQL engine
(no conv()/hex-cast portability traps) and the driver's DuckDB oracle
pins the exact selected set, not just its size.

All three operators are pure Column expressions / window functions —
no UDFs, fully codegen'd; the only shuffle is the one the per-group
variant inherently needs.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def frac_to_hex_threshold(fraction: float) -> str:
    """fraction in [0,1] -> 8-hex-char threshold; 'g' for >= 1.0 (every
    hex digit sorts below 'g', so the predicate keeps everything —
    '100000000' would NOT: '9 chars' compares lexicographically)."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * (1 << 32)), "08x")


def _frac_hex_threshold_col(frac) -> "F.Column":
    """Column twin of frac_to_hex_threshold (same 8-hex-char contract:
    'g' for >= 1.0, else lowercase zero-padded hex of int(frac * 2^32)).
    Both paths do the same IEEE double multiply + truncating integer
    cast, so the thresholds are bit-identical (pinned by test)."""
    scaled = (frac * F.lit(float(1 << 32))).cast("bigint")
    return F.when(frac >= 1.0, F.lit("g")).otherwise(
        F.lpad(F.lower(F.hex(scaled)), 8, "0")
    )


_NULL_KEY = "\x00null"


def _key_hex(key_col: str, salt: str) -> "F.Column":
    """NULL keys hash as a fixed sentinel instead of propagating NULL —
    a NULL predicate would silently DROP null-key rows at every
    fraction, including 1.0 where the contract is 'keep everything'.
    With the sentinel, all null-key rows make one shared deterministic
    keep/drop decision (documented; give them real keys for per-row
    granularity)."""
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(_NULL_KEY))
    return F.substring(F.md5(F.concat(key, F.lit(salt))), 1, 8)


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep rows whose 8-hex key digest < threshold(fraction).
    Deterministic, layout-independent, and consistent across tables
    sharing the key (sampling docs and their embeddings with the same
    key+salt keeps them aligned). Change `salt` for an independent draw."""
    return df.where(_key_hex(key_col, salt) < F.lit(frac_to_hex_threshold(fraction)))


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix operator
    (e.g. keep 100% of en, 30% of de, drop the rest). Per-stratum
    thresholds ride a broadcast join (data as data, never a literal CASE
    chain over thousands of strata)."""
    from pyspark.sql.types import StringType, StructField, StructType

    spark = df.sparkSession
    schema = StructType(  # explicit: an empty fractions dict (pure
        [  # default-rate sampling) cannot infer a schema from no rows
            StructField(strata_col, df.schema[strata_col].dataType),
            StructField("__th", StringType()),
        ]
    )
    # an Arrow table plans as a LocalTableScan (no Python-worker scan)
    th = spark.createDataFrame(
        pa.table({
            strata_col: list(fractions),
            "__th": [frac_to_hex_threshold(v) for v in fractions.values()],
        }),
        schema,
    )
    j = df.join(F.broadcast(th), strata_col, "left")
    return (
        j.withColumn(
            "__th", F.coalesce("__th", F.lit(frac_to_hex_threshold(default_fraction)))
        )
        .where(_key_hex(key_col, salt) < F.col("__th"))
        .drop("__th")
    )


def deterministic_group_sample(
    df: DataFrame,
    k: int,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    oversample: float = 4.0,
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by key-hash rank —
    the deterministic replacement for per-group reservoir sampling.

    Two-pass, scale-safe shape: a single-window implementation
    (row_number over the whole group) sorts EVERY row of every group to
    keep k survivors — O(n log n) per group, and one giant stratum (one
    lang = 80% of 10^12 docs) pays it all in one task chain. Instead:

    1. group sizes n_g (map-side partial agg, tiny result);
    2. hash-threshold prefilter at ~oversample*k/n_g per group (broadcast
       thresholds, pure predicate — no shuffle, no sort). Because the
       rank order is the hash order and the prefilter keeps exactly the
       rows BELOW a hash prefix threshold, the global top-k of a group
       is a subset of its survivors whenever >= min(k, n_g) survive
       (every survivor sorts before every non-survivor);
    3. exact row_number rank on the ~oversample*k survivors per group;
    4. deterministic fallback: any group whose survivor count undershoots
       min(k, n_g) (possible — the hash binomial has a left tail) is
       re-ranked over ALL its rows. The check is a metadata-scale
       aggregate; the fallback set is empty in the common case.

    Output is identical to the one-window form for every oversample > 0
    (the fallback guarantees it); oversample trades prefilter tightness
    against fallback probability. Ties impossible for distinct keys
    (hash then key breaks them).
    """
    full_hash = F.md5(
        F.concat(F.coalesce(F.col(key_col).cast("string"), F.lit(_NULL_KEY)), F.lit(salt))
    )
    w = Window.partitionBy(strata_col).orderBy(full_hash, F.col(key_col))
    ranked_topk = (
        lambda d: d.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    # all internal grouping/joins use a null-safe string key (NULL
    # strata would silently fall out of every equi-join). The "v" value
    # prefix keeps a real stratum equal to the null marker from
    # COLLIDING with the NULL group (merged bookkeeping would compute a
    # shared threshold while the rank window still separates them —
    # a silent under-sample). Strata are expected atomic (string/
    # numeric/date): distinct non-atomic values with identical string
    # casts would merge in the bookkeeping; the rank window partitions
    # by the original column either way.
    sk = F.when(F.col(strata_col).isNull(), F.lit("\x00")).otherwise(
        F.concat(F.lit("v"), F.col(strata_col).cast("string"))
    )
    # group sizes + per-group thresholds, fully distributed (no driver
    # collect of the strata universe as PYTHON OBJECTS/plan literals);
    # sizes is checkpointed (tiny: one row per stratum) so its scan of
    # df runs once, not once per consumer below. Practical bound: the
    # per-stratum threshold table IS broadcast below (one slim row per
    # stratum), so stratum cardinality is limited by the broadcast
    # budget — ~10^7 strata (a few hundred MB) is the ceiling, far
    # above any lang/domain/bucket stratification but NOT unbounded; a
    # beyond-that caller should shuffle-join thdf instead (drop the two
    # broadcast hints — the checkpointed build side has no stats, so
    # Catalyst then plans sort-merge on __sk)
    sizes = (
        df.select(sk.alias("__sk")).groupBy("__sk").agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint()
    )
    thdf = sizes.select(
        "__sk", _frac_hex_threshold_col(F.lit(oversample * k) / F.col("__n")).alias("__th")
    )
    pre = (
        df.withColumn("__sk", sk)
        # explicit broadcast: thdf reads from a localCheckpoint
        # (LogicalRDD — no stats), so Catalyst would otherwise plan a
        # corpus-shuffling sort-merge join for the prefilter
        .join(F.broadcast(thdf), "__sk", "left")
        .where(_key_hex(key_col, salt) < F.coalesce(F.col("__th"), F.lit("g")))
        .drop("__th")
        # eager: consumed by BOTH the undershoot check and the final
        # rank — without this the prefilter (a full corpus scan) runs
        # twice; the survivor set is only ~oversample*k rows per group
        .localCheckpoint()
    )
    # undershoot check: groups whose prefilter kept fewer than
    # min(k, n_g) rows lose rank correctness -> full re-rank. The bad
    # strata stay a DATAFRAME joined as data — an isin literal list
    # would inline an unbounded strata list into the Catalyst plan.
    survc = pre.groupBy("__sk").agg(F.count(F.lit(1)).alias("__m"))
    bad = (
        sizes.join(survc, "__sk", "left")
        .where(F.coalesce("__m", F.lit(0)) < F.least(F.lit(k), F.col("__n")))
        .select("__sk")
    )
    if bad.isEmpty():
        return ranked_topk(pre).drop("__sk")
    good_part = pre.join(F.broadcast(bad), "__sk", "left_anti")
    redo_part = df.withColumn("__sk", sk).join(F.broadcast(bad), "__sk", "left_semi")
    return ranked_topk(good_part.unionByName(redo_part)).drop("__sk")


def cap_per_domain(
    df,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: str = "",
    oversample: float = 4.0,
):
    """RefinedWeb/C4-style per-domain document cap: keep at most `k`
    documents per host (lowercased, default ports stripped), chosen by
    deterministic key-hash rank — the anti-SEO-spam / source-diversity
    gate of web-corpus curation. A thin composition: url_host extracts
    the grouping key, deterministic_group_sample (two-pass prefilter +
    exact rank, no giant-stratum sort) picks the survivors — so one
    mega-domain with 10^9 pages costs a predicate scan, not an
    O(n log n) per-group sort. Returns the surviving rows of df
    (original columns)."""
    from pyspark.sql import functions as F

    from kmtricks_spark.functions.url import url_host

    tagged = df.withColumn("__domain", url_host(F.col(url_col)))
    kept = deterministic_group_sample(
        tagged, k, strata_col="__domain", key_col=id_col,
        salt=salt, oversample=oversample,
    )
    return kept.drop("__domain")

"""The workloads: what each prepares, warms up and times.

Each workload runs the engine through its public entry points only:
``Pipeline.run`` (build_web, build_multilingual_skewed), ``curate_run``
(curate_web) and ``bf_probe`` / ``filter_matrix`` / ``sketch_agg`` against
a built index (query_index). ``op`` is one timed operation followed by its
untimed output checks.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import checks
import corpus

# added to --seed for the warm-up corpus: same shape, different text
WARM_SEED_OFFSET = 1_000_003


@dataclass
class Op:
    wall_s: float
    work: float
    errors: list[str] = field(default_factory=list)
    kind: str = ""


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def build_cfg(**kw):
    """Engine parameters shared by the builds: the engine defaults (k=8,
    hard_min=2, soft_min=2) with P=8 partitions and a 2^20-bit filter per
    sample, sized for corpora of about one megabyte."""
    from kmtricks_spark import KmConfig

    return KmConfig(nb_partitions=8, bloom_bits=1 << 20, **kw)


class Workload:
    """Base: a seeded input, a warm-up, and one timed operation."""

    name = ""
    work_unit = ""

    def __init__(self, seed: int, work_dir: str, duck):
        self.seed, self.work_dir, self.duck = seed, work_dir, duck
        self.runs_dir = os.path.join(work_dir, "runs", f"{self.name}-{seed}-{os.getpid()}")
        self._n = 0
        self.stored_bytes: list[int] = []

    def _fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.runs_dir, str(self._n))
        shutil.rmtree(d, ignore_errors=True)
        return d

    def inputs(self, size: str):
        seed = self.seed if size == "full" else self.seed + WARM_SEED_OFFSET
        return corpus.generate(self.name, seed, self.work_dir, size, self.duck)

    def prepare(self) -> None:
        """Generate inputs and compute expected values (not timed)."""
        self.corpus = self.inputs("full")

    def warm_up(self, spark, tracer=None) -> None:
        raise NotImplementedError

    def op(self, spark, tracer=None) -> Op:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return self.corpus.shape["text_bytes"]

    def may_stop(self, n_ops: int) -> bool:
        """Whether a timed loop that has run ``n_ops`` operations may stop."""
        return True

    def cleanup(self) -> None:
        shutil.rmtree(self.runs_dir, ignore_errors=True)


def _span(tracer, layer, name, tag=None):
    return tracer.span(layer, name, tag) if tracer is not None else nullcontext()


# ------------------------------------------------------------ builds

class Build(Workload):
    work_unit = "8-grams"
    cfg_kw: dict = {}

    def prepare(self):
        super().prepare()
        self.warm = self.inputs("warm")
        self.cfg = build_cfg(**self.cfg_kw)
        self.expected = checks.expected_build(self.duck, self.corpus.docs, self.cfg)

    def _run(self, spark, docs: str) -> tuple[float, str]:
        from kmtricks_spark.plans.pipeline import Pipeline

        rd = self._fresh_dir()
        t = time.perf_counter()
        Pipeline(spark, self.cfg, rd, docs).run()
        return time.perf_counter() - t, rd

    def warm_up(self, spark, tracer=None):
        _, rd = self._run(spark, self.warm.docs)
        shutil.rmtree(rd)

    def op(self, spark, tracer=None):
        wall, rd = self._run(spark, self.corpus.docs)
        errors = checks.check_build(self.duck, rd, self.expected)
        self.stored_bytes.append(dir_bytes(rd))
        shutil.rmtree(rd)
        return Op(wall, self.corpus.shape["kgrams"], errors)


class BuildWeb(Build):
    """Static partitioner, JVM bit-slice Bloom filters, ASCII text."""

    name = "build_web"


class BuildMultilingualSkewed(Build):
    """Sampled partitioner, packed-count (bfc) Bloom cells, multi-byte text."""

    name = "build_multilingual_skewed"
    cfg_kw = {"repartition_type": "sampled", "bloom_mode": "bfc"}


# ------------------------------------------------------------ curation

class CurateWeb(Workload):
    name = "curate_web"
    work_unit = "documents"

    def _run(self, spark, c, tracer=None):
        from kmtricks_spark.operators.curation import curate_run

        rd = self._fresh_dir()
        t = time.perf_counter()
        with _span(tracer, "curation", "curation.curate_run"):
            _, report = curate_run(
                spark, rd, c.docs, min_quality=0.5, gopher=True,
                dedup="minhash", min_jaccard=0.8, cluster_algorithm="star",
                decontaminate_path=c.heldout, contamination_n=8,
            )
        return time.perf_counter() - t, rd, report

    def prepare(self):
        super().prepare()
        self.warm = self.inputs("warm")

    def warm_up(self, spark, tracer=None):
        _, rd, _ = self._run(spark, self.warm)
        shutil.rmtree(rd)

    def op(self, spark, tracer=None):
        wall, rd, report = self._run(spark, self.corpus, tracer)
        errors = checks.check_curation(
            self.duck, rd, self.corpus.truth["exact_dup_ids"], report)
        self.stored_bytes.append(dir_bytes(rd))
        shutil.rmtree(rd)
        return Op(wall, self.corpus.shape["documents"], errors)


# ------------------------------------------------------------ queries

QUERY_TYPES = ("bf_probe", "filter_matrix", "sketch_hll", "sketch_kll")
MIN_ROUNDS = 3    # a run times at least this many rounds of QUERY_TYPES
PROBES = 500      # bf_probe (sample, kgram) pairs per query, half present
KEYS = 500        # filter_matrix keys per query, half present
KLL_QS = (0.5, 0.9, 0.99)


class QueryIndex(Workload):
    """A closed loop with one client against an index built in set-up
    from a build_web-shaped corpus."""

    name = "query_index"
    work_unit = "queries"

    def prepare(self):
        super().prepare()
        self.cfg = build_cfg()
        self.truth = checks.QueryTruth(self.duck, self.corpus.docs, self.cfg)
        self.rng = np.random.default_rng([self.seed, 7])
        self._round: list[str] = []

    def warm_up(self, spark, tracer=None):
        """Build the index the timed queries read, then warm up with one
        query of each type drawn from another seed."""
        from kmtricks_spark.plans.pipeline import Pipeline

        self.index_dir = self._fresh_dir()
        Pipeline(spark, self.cfg, self.index_dir, self.corpus.docs).run()
        self.stored_bytes.append(dir_bytes(self.index_dir))
        rng = np.random.default_rng([self.seed + WARM_SEED_OFFSET, 7])
        for kind in QUERY_TYPES:
            self._query(spark, self.index_dir, self.truth, kind, rng, None)

    def op(self, spark, tracer=None):
        # each round of len(QUERY_TYPES) queries holds every type once, in
        # a seeded order, so the mix stays the same from run to run
        if not self._round:
            self._round = list(self.rng.permutation(QUERY_TYPES))
        kind = self._round.pop()
        return self._query(spark, self.index_dir, self.truth, kind, self.rng, tracer)

    def may_stop(self, n_ops: int) -> bool:
        return not self._round and n_ops >= MIN_ROUNDS * len(QUERY_TYPES)

    def _query(self, spark, rd, truth, kind, rng, tracer) -> Op:
        import pandas as pd
        from pyspark.sql import functions as F

        from kmtricks_spark.operators import bloom_stage, matrix_ops
        from kmtricks_spark.sketches import spark as sk
        from kmtricks_spark.sources import pages

        half = PROBES // 2
        if kind == "bf_probe":
            pick = rng.choice(truth.sample.size, size=half, replace=False)
            present = truth.kgram[pick]
            probes = pd.DataFrame({
                "sample_id": np.concatenate([truth.sample[pick], truth.sample[pick]]),
                "kgram": np.concatenate([present, checks.absent_kgrams(present)]),
            })
            t = time.perf_counter()
            with _span(tracer, "bloom_stage", "bloom_stage.bf_probe"):
                slices = pages.read_stage(spark, rd, "bloom")
                res = bloom_stage.bf_probe(slices, spark.createDataFrame(probes), self.cfg).toPandas()
            wall = time.perf_counter() - t
            res["present"] = ~res["kgram"].str.startswith("#")
            errors = checks.check_probe(res, half)
        elif kind == "filter_matrix":
            pick = rng.choice(truth.matrix_kgrams.size, size=KEYS // 2, replace=False)
            present = truth.matrix_kgrams[pick]
            keys = pd.DataFrame({
                "kgram": np.concatenate([present, checks.absent_kgrams(present)]),
                "count": rng.integers(1, 100, size=KEYS),
            })
            t = time.perf_counter()
            with _span(tracer, "matrix_ops", "matrix_ops.filter_matrix"):
                matrix = pages.read_stage(spark, rd, "matrix")
                rows = matrix_ops.filter_matrix(matrix, spark.createDataFrame(keys), "m").collect()
            wall = time.perf_counter() - t
            errors = checks.check_filter(len(rows), KEYS // 2)
        else:
            hll = kind == "sketch_hll"
            t = time.perf_counter()
            with _span(tracer, "sketches", "sketches.sketch_agg", "hll" if hll else "kll"):
                counts = pages.read_stage(spark, rd, "counts")
                if hll:
                    agg = sk.sketch_agg(
                        counts.select("sample_id", F.xxhash64("kgram").alias("h")),
                        ["sample_id"], "h", "hll")
                    got = agg.select("sample_id", sk.hll_estimate_col().alias("r")).collect()
                else:
                    agg = sk.sketch_agg(
                        counts.select("sample_id", F.col("count").cast("double").alias("v")),
                        ["sample_id"], "v", "kll")
                    got = agg.select("sample_id", sk.kll_quantiles_col(list(KLL_QS)).alias("r")).collect()
            wall = time.perf_counter() - t
            res = {r["sample_id"]: r["r"] for r in got}
            errors = (checks.check_hll(res, truth) if hll
                      else checks.check_kll(res, truth, KLL_QS))
        return Op(wall, 1, [f"{kind}: {e}" for e in errors], str(kind))


WORKLOADS = {w.name: w for w in (BuildWeb, BuildMultilingualSkewed, CurateWeb, QueryIndex)}

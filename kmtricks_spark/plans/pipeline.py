"""Staged pipeline: extract/count -> histogram -> matrix/pa -> bloom.

Mirrors `kmtricks pipeline` (task_scheduler.hpp:419-460, stages at
§3.1 of SURVEY.md) with kmtricks' operational semantics:
* every stage persists a parquet table + lineage JSON (resume = skip
  complete stages — the module-command story, cmd.hpp:74-272);
* `until` gates stages (--until, cli.cpp:265-273);
* `restrict_to` processes a subset of partitions (--restrict-to,
  task_scheduler.hpp:121-160) — partition pruning on part_id;
* data-dependent soft-min: an optional histogram-quantile pass feeding
  per-sample thresholds into the merge (histogram.hpp:218-244).
"""

from __future__ import annotations

import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmtricks_spark.config import KmConfig
from kmtricks_spark.operators.bloom_stage import bf_concat, bf_slices, fpr_report, hash_counts
from kmtricks_spark.operators.count import count_kgrams, histogram, thresholds_from_histogram
from kmtricks_spark.operators.merge import count_matrix, merge_stats, pa_matrix
from kmtricks_spark.plans.lineage import observe_stage, stage_complete, write_lineage
from kmtricks_spark.sources.pages import read_stage, write_stage

STAGES = ("counts", "histogram", "matrix", "pa", "bloom")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: KmConfig,
        run_dir: str,
        input_path: str,
        until: str | None = None,
        restrict_to: list[int] | None = None,
        soft_min_quantile: float | None = None,
        repart_from: str | None = None,
        restrict_samples: list[str] | None = None,
        export_bf: str | None = None,
        plugin=None,
        plugin_spec: str | None = None,
    ):
        if until is not None and until not in STAGES:
            raise ValueError(f"until must be one of {STAGES}")
        if export_bf and cfg.bloom_mode == "bfc":
            raise ValueError(
                "--export-filters is only supported for bloom_mode bf/bft "
                "(per-sample concat applies to bit slices, not packed "
                "counting cells) — silently skipping the export would be "
                "worse than refusing"
            )
        if not 1 <= cfg.bfc_width <= 8:
            # refuse here, not after counts/matrix/pa are written: the
            # bfc packer fits 8 // width cells per byte
            raise ValueError(f"bfc_width must be in [1, 8], got {cfg.bfc_width}")
        if repart_from:
            # realpath at construction: a relative path stored in lineage
            # would resolve against a DIFFERENT cwd at combine time and
            # defeat the shared-map identity check
            repart_from = os.path.realpath(repart_from)
            # placement provenance: part_ids of this run follow the loaded
            # sampled map, so the run IS 'sampled' regardless of the CLI
            # default — recording 'static' would let check_repart_compat
            # wrongly combine it with a genuinely static run (and refuse
            # the very run whose map it reuses)
            cfg = cfg.with_(repartition_type="sampled")
        self.spark, self.cfg, self.run_dir = spark, cfg, run_dir
        self.input_path = input_path
        self.until = until
        self.restrict_to = restrict_to
        self.restrict_samples = restrict_samples
        self.soft_min_quantile = soft_min_quantile
        self.repart_from = repart_from
        self.export_bf = export_bf
        # the callable never enters lineage params — the SPEC string does
        # (matrix stage only, via _stage_params): a resume with a
        # different plugin recomputes matrix instead of silently reusing
        # the filtered table, while counts/pa/bloom lineage — whose
        # outputs never depend on the plugin — stays valid
        self.plugin = plugin
        self._plugin_spec = plugin_spec
        self._sample_list: list[str] | None = None
        self._params = {**asdict(cfg), "input": input_path, "restrict": restrict_to,
                        "repart_from": repart_from,
                        "restrict_samples": restrict_samples,
                        "export_bf": export_bf}

    # ---- helpers

    def _done(self, stage: str) -> bool:
        return stage_complete(self.spark, self.run_dir, stage, self._stage_params(stage))

    def _stage_params(self, stage: str) -> dict:
        p = {**self._params, "stage": stage}
        if stage == "matrix":
            p["plugin"] = self._plugin_spec
        return p

    def _write(self, stage: str, df: DataFrame, partition_by: str | None = "part_id"):
        """Persist a lineage-tracked stage: its lineage comes from metrics
        observed on this write and the written files' footers."""
        parts = [partition_by] if partition_by else None
        df, obs = observe_stage(df, parts)
        write_stage(df, self.run_dir, stage, partition_by=parts)
        return obs

    def _finish(self, stage: str, obs, partition_by: str | None = "part_id"):
        write_lineage(
            self.run_dir, stage, self._stage_params(stage), obs, part_col=partition_by
        )

    def _restrict(self, df: DataFrame) -> DataFrame:
        if self.restrict_to is not None:
            return df.where(F.col("part_id").isin(self.restrict_to))
        return df

    def _input(self) -> DataFrame:
        df = self.spark.read.parquet(self.input_path)
        if "source" not in df.columns and "url" in df.columns:
            df = df.withColumn("source", F.col("url"))
        if self.restrict_samples is not None:
            # per-sample module granularity (`count --id D1`, cmd.hpp:
            # 164-211): recompute one sample's cells idempotently; the
            # filter prunes at the scan, other samples' lineage untouched
            df = df.where(F.col(self.cfg.sample_col).isin(self.restrict_samples))
        return df

    # ---- stages

    def _hot_map(self) -> dict | None:
        """Resolve the sampled-repartition map: reuse (--repart-from or a
        prior run of this run_dir) with a k/m/P compat check, else sample
        once and persist it to <run_dir>/partitioner.json (the reference's
        repartition_storage reuse, task.hpp:136-147,209-222)."""
        from kmtricks_spark.operators.partitioner import (
            load_partitioner,
            sample_kgram_hot_map,
            save_partitioner,
        )

        cfg = self.cfg
        own_path = os.path.join(self.run_dir, "partitioner.json")
        if self.repart_from:
            hot_map = load_partitioner(self.repart_from, cfg.k, cfg.m, cfg.nb_partitions)
            if os.path.realpath(own_path) != self.repart_from:
                # keep a copy in the run dir (the reference RepartTask's
                # fs::copy of repartition_gatb) so this run's own
                # partitioner.json resolves in later compat checks even if
                # the source run is deleted
                os.makedirs(self.run_dir, exist_ok=True)
                save_partitioner(own_path, hot_map, cfg.k, cfg.m, cfg.nb_partitions)
            return hot_map
        if cfg.repartition_type != "sampled":
            return None
        if os.path.exists(own_path):  # resume: reuse this run's own map
            return load_partitioner(own_path, cfg.k, cfg.m, cfg.nb_partitions)
        hot_map = sample_kgram_hot_map(self._input(), cfg)
        os.makedirs(self.run_dir, exist_ok=True)
        save_partitioner(own_path, hot_map, cfg.k, cfg.m, cfg.nb_partitions)
        return hot_map

    def stage_counts(self):
        if not self._done("counts"):
            counts = count_kgrams(self._input(), self.cfg, hot_map=self._hot_map())
            self._finish("counts", self._write("counts", counts))

    def _hist_bounds(self) -> tuple[int, int | None] | None:
        """(lower, upper) when the histogram is bounded in ANY direction —
        upper=0 means unbounded above, lower=1 is the no-op floor (counts
        are >= hard_min >= 1); None when fully unbounded."""
        lower, upper = self.cfg.hist_lower, self.cfg.hist_upper or None
        if upper is None and lower <= 1:
            return None
        return lower, upper

    def stage_histogram(self):
        if not self._done("histogram"):
            counts = read_stage(self.spark, self.run_dir, "counts")
            bounds = self._hist_bounds()
            if bounds:
                from kmtricks_spark.operators.count import histogram_oob

                h = histogram(counts, bounds[0], bounds[1])
                write_stage(
                    histogram_oob(counts, bounds[0], bounds[1]),
                    self.run_dir,
                    "histogram_oob",
                )
            else:
                h = histogram(counts)
            obs = self._write("histogram", h, partition_by=None)
            self._finish("histogram", obs, partition_by=None)

    def _merge_cfg(self) -> KmConfig:
        cfg = self.cfg
        if self.soft_min_quantile is not None:
            hist = read_stage(self.spark, self.run_dir, "histogram")
            oob = None
            if self._hist_bounds():  # bounded histogram: oob uniques raise the bar
                oob = read_stage(self.spark, self.run_dir, "histogram_oob")
            th = thresholds_from_histogram(hist, self.soft_min_quantile, oob=oob)
            overrides = {r.sample_id: int(r.threshold) for r in th.collect()}
            cfg = cfg.with_(soft_min_by_sample=overrides)
        return cfg

    def _samples(self, counts: DataFrame) -> list[str]:
        """Sorted sample ids of the (restricted) counts, collected once per
        `run` and shared by the matrix, pa and bft stages."""
        if self._sample_list is None:
            self._sample_list = sorted(
                r.sample_id for r in counts.select("sample_id").distinct().collect()
            )
        return self._sample_list

    def stage_matrix(self):
        if not self._done("matrix"):
            counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
            cfg = self._merge_cfg()
            m = count_matrix(counts, self._samples(counts), cfg)
            if self.plugin is not None:
                from kmtricks_spark.operators.plugin import apply_plugin

                # merge-time veto/transform hook (J7): applied to merged
                # rows before persist, the reference's call site
                # (merge.hpp:252-257)
                m = apply_plugin(m, self.plugin)
            self._finish("matrix", self._write("matrix", m))
            write_stage(merge_stats(counts, cfg), self.run_dir, "merge_stats")

    def stage_pa(self):
        if not self._done("pa"):
            counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
            cfg = self._merge_cfg()
            p = pa_matrix(counts, self._samples(counts), cfg)
            self._finish("pa", self._write("pa", p))

    def stage_bloom(self):
        if not self._done("bloom"):
            counts = self._restrict(read_stage(self.spark, self.run_dir, "counts"))
            hc = hash_counts(counts, self.cfg)
            mode = self.cfg.bloom_mode
            if mode == "bft":
                from kmtricks_spark.operators.bloom_stage import bft_slices

                slices = bft_slices(hc, self._samples(counts), self.cfg)
            elif mode == "bfc":
                from kmtricks_spark.operators.bloom_stage import bfc_slices

                self._finish("bloom", self._write("bloom", bfc_slices(hc, self.cfg)))
                return
            elif mode == "bf":
                slices = bf_slices(hc, self.cfg)
            else:
                raise ValueError(f"bloom_mode must be bf|bft|bfc, got {mode!r}")
            # bf and bft share the slice schema: concat + fpr apply to both
            obs = self._write("bloom", slices)
            slices_r = read_stage(self.spark, self.run_dir, "bloom")
            write_stage(bf_concat(slices_r, self.cfg), self.run_dir, "bloom_filters")
            write_stage(fpr_report(slices_r, self.cfg), self.run_dir, "fpr")
            if self.export_bf:
                from kmtricks_spark.sources.howde import export_filters

                export_filters(
                    read_stage(self.spark, self.run_dir, "bloom_filters"),
                    os.path.join(self.run_dir, "filters"),
                    self.cfg,
                    bf_format=self.export_bf,
                )
            self._finish("bloom", obs)

    def run(self) -> dict[str, str]:
        """Execute stages in order, skipping complete ones; stop at
        `until`. Returns {stage: 'done'|'skipped'}. Writes run_infos.json
        (wall time + config — run_infos.txt analogue,
        task_scheduler.hpp:453-457)."""
        import json
        import time

        t0 = time.time()
        self._sample_list = None  # counts may have changed since a previous run
        status = {}
        for stage in STAGES:
            was_done = self._done(stage)
            getattr(self, f"stage_{stage}")()
            status[stage] = "skipped" if was_done else "done"
            if self.until == stage:
                break
        os.makedirs(self.run_dir, exist_ok=True)
        with open(os.path.join(self.run_dir, "run_infos.json"), "w") as f:
            json.dump(
                {
                    "wall_sec": round(time.time() - t0, 3),
                    "status": status,
                    "params": {k: str(v) for k, v in self._params.items()},
                    "spark": {
                        "version": self.spark.version,
                        "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                    },
                },
                f,
                indent=1,
            )
        return status

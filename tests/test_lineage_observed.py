"""Lineage recorded from the writing job: parity with the re-scanning
method, no Spark job inside write_lineage, and the smaller changes that
came with it (Arrow-built broadcast tables, bfc width and window checks)."""

import os

import pytest
from pyspark.sql import functions as F

from kmtricks_spark import KmConfig
from kmtricks_spark.operators.curation import CURATE_STAGES, curate_run
from kmtricks_spark.plans import lineage, pipeline
from kmtricks_spark.plans.lineage import observe_stage, read_lineage, write_lineage
from kmtricks_spark.plans.pipeline import STAGES, Pipeline
from kmtricks_spark.sources.pages import write_stage

CFG = KmConfig(k=8, hard_min=2, soft_min=2, nb_partitions=8, bloom_bits=1 << 18)


def _rescan(spark, path, part_col):
    """(output_rows, partitions, checksum) the way the re-scanning
    implementation computed them: count(), a per-part_id groupBy and the
    summed row hashes, all over the table read back."""
    t = spark.read.parquet(path)
    parts = None
    if part_col:
        parts = {
            str(r[part_col]): r["n"]
            for r in t.groupBy(part_col).agg(F.count(F.lit(1)).alias("n")).collect()
        }
    h = t.select(F.xxhash64(*[F.col(c) for c in sorted(t.columns)]).alias("h"))
    s = h.agg(F.sum(F.col("h") % F.lit(2**31)).alias("s")).collect()[0]["s"]
    return t.count(), parts, int(s or 0) & ((1 << 63) - 1)


def _assert_parity(spark, run_dir, stages, part_col):
    checked = 0
    for stage in stages:
        rec = read_lineage(run_dir, stage)
        if rec is None:
            continue
        rows, parts, checksum = _rescan(spark, os.path.join(run_dir, stage), part_col(stage))
        assert rec["output_rows"] == rows, stage
        assert rec["partitions"] == parts, stage
        assert rec["checksum"] == checksum, stage
        checked += 1
    return checked


@pytest.fixture
def no_job_lineage(spark, monkeypatch):
    """Run every write_lineage call under its own job group and collect
    the Spark jobs it started."""
    sc = spark.sparkContext
    started = []

    def guard(fn):
        def wrapped(*args, **kw):
            group = f"lineage-{len(started)}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, "write_lineage")
            try:
                return fn(*args, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                started.append(list(sc.statusTracker().getJobIdsForGroup(group)))
        return wrapped

    for mod in (lineage, pipeline):
        monkeypatch.setattr(mod, "write_lineage", guard(mod.write_lineage))
    return started


def _docs(sf_dir):
    # the sf0.01 documents when present next to the test scale factor
    p = os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")
    return p if os.path.exists(p) else os.path.join(sf_dir, "documents.parquet")


@pytest.mark.parametrize("repartition,bloom_mode", [("sampled", "bfc"), ("static", "bf")])
def test_pipeline_lineage_matches_rescan(
    spark, sf_dir, tmp_path, no_job_lineage, repartition, bloom_mode
):
    rd = str(tmp_path / "run")
    cfg = CFG.with_(repartition_type=repartition, bloom_mode=bloom_mode, hist_upper=50)
    status = Pipeline(spark, cfg, rd, _docs(sf_dir)).run()
    assert all(v == "done" for v in status.values()), status
    n = _assert_parity(
        spark, rd, STAGES, lambda s: None if s == "histogram" else "part_id"
    )
    assert n == len(STAGES)
    assert no_job_lineage and all(jobs == [] for jobs in no_job_lineage), no_job_lineage


def test_curate_run_lineage_matches_rescan(spark, sf_dir, tmp_path, no_job_lineage):
    rd = str(tmp_path / "cur")
    inp = _docs(sf_dir)
    bench = str(tmp_path / "bench.parquet")
    spark.read.parquet(inp).select("text").limit(5).write.parquet(bench)
    _, rep = curate_run(
        spark, rd, inp, min_quality=0.5, gopher=True, dedup="exact",
        max_docs_per_domain=40, url_col="source",
        decontaminate_path=bench, contamination_n=8,
    )
    assert _assert_parity(spark, rd, CURATE_STAGES, lambda s: None) == 4
    assert all(jobs == [] for jobs in no_job_lineage), no_job_lineage
    assert rep["after_dedup"] == read_lineage(rd, "dedup")["output_rows"]


def test_write_lineage_starts_no_spark_job(spark, tmp_path):
    rd = str(tmp_path / "w")
    df = spark.range(1000).select(
        (F.col("id") % 3).cast("int").alias("part_id"), F.col("id").alias("v")
    )
    observed, obs = observe_stage(df, ["part_id"])
    write_stage(observed, rd, "t", partition_by=["part_id"])
    sc = spark.sparkContext
    sc.setJobGroup("write-lineage-no-job", "write_lineage")
    try:
        rec = write_lineage(rd, "t", {"a": 1}, obs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("write-lineage-no-job")) == []
    assert rec["output_rows"] == 1000
    assert rec["partitions"] == {"0": 334, "1": 333, "2": 333}
    assert rec == read_lineage(rd, "t")
    assert (rec["output_rows"], rec["partitions"], rec["checksum"]) == _rescan(
        spark, os.path.join(rd, "t"), "part_id"
    )


def test_observed_lineage_of_an_empty_stage(spark, tmp_path):
    rd = str(tmp_path / "e")
    df = spark.range(10).where(F.col("id") < 0).select(F.col("id").alias("v"))
    observed, obs = observe_stage(df)
    write_stage(observed, rd, "t")
    rec = write_lineage(rd, "t", {}, obs, part_col=None)
    assert (rec["output_rows"], rec["partitions"], rec["checksum"]) == (0, None, 0)


def test_broadcast_tables_plan_without_python_scan(spark):
    from kmtricks_spark.operators.partitioner import skew_aware_part
    from kmtricks_spark.operators.sampling import stratified_hash_sample

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for dtype, hot in (("string", {"ab": [1], "cd": [0, 2]}),
                       ("binary", {b"ab": [1], b"\xff\x00": [3]})):
        keys = spark.range(20).select(
            F.col("id"), F.lit("ab").cast(dtype).alias("kgram"))
        routed = skew_aware_part(keys, "kgram", 4, hot_map=hot)
        assert "ExistingRDD" not in plan(routed)
        assert {r.part_id for r in routed.collect()} == {1}
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 1, "en").otherwise("de").alias("lang"))
    for fractions in ({"en": 1.0, "de": 0.0}, {}):
        sampled = stratified_hash_sample(docs, fractions, default_fraction=0.0)
        assert "ExistingRDD" not in plan(sampled)
        assert sampled.count() == (20 if fractions else 0)


@pytest.mark.parametrize("width", [0, 9])
def test_bfc_width_refused_up_front(spark, tmp_path, width):
    with pytest.raises(ValueError, match="bfc_width"):
        Pipeline(spark, CFG.with_(bloom_mode="bfc", bfc_width=width),
                 str(tmp_path / "r"), "unused.parquet")


def test_cli_refuses_bad_bitw(capsys):
    from kmtricks_spark.cli import main

    with pytest.raises(SystemExit) as e:
        main(["pipeline", "--run-dir", "unused", "--input", "unused", "--bitw", "0"])
    assert e.value.code == 2
    assert "--bitw" in capsys.readouterr().err

"""The generator is deterministic and its shapes are the ones stated."""

import filecmp
import os

import duckdb
import pytest

import corpus


def _files(d):
    out = []
    for root, _, names in os.walk(d):
        out += [os.path.relpath(os.path.join(root, n), d) for n in names]
    return sorted(out)


@pytest.mark.parametrize("workload", ["build_web", "build_multilingual_skewed", "curate_web"])
def test_same_seed_gives_identical_parquet(tmp_path, workload):
    duck = duckdb.connect()
    a = corpus.generate(workload, 11, str(tmp_path / "a"), "warm", duck)
    b = corpus.generate(workload, 11, str(tmp_path / "b"), "warm", duck)
    fa, fb = _files(a.dir), _files(b.dir)
    assert fa == fb and any(f.endswith(".parquet") for f in fa)
    for f in fa:
        assert filecmp.cmp(os.path.join(a.dir, f), os.path.join(b.dir, f), shallow=False), f


def test_other_seed_gives_other_text(tmp_path):
    duck = duckdb.connect()
    a = corpus.generate("build_web", 1, str(tmp_path), "warm", duck)
    b = corpus.generate("build_web", 2, str(tmp_path), "warm", duck)
    ta = duck.execute(f"SELECT string_agg(text, '') FROM read_parquet('{a.docs}/*.parquet')").fetchone()
    tb = duck.execute(f"SELECT string_agg(text, '') FROM read_parquet('{b.docs}/*.parquet')").fetchone()
    assert ta != tb


def test_curation_funnel_cannot_collapse(tmp_path):
    c = corpus.generate("curate_web", 3, str(tmp_path), "warm", duckdb.connect())
    s = c.shape
    assert 0.6 < s["gopher_pass_share"] < 0.95
    assert s["planted_exact_dups"] == len(c.truth["exact_dup_ids"]) > 0
    assert s["planted_near_dups"] > 0


def test_multilingual_shape(tmp_path):
    s = corpus.generate("build_multilingual_skewed", 3, str(tmp_path), "warm",
                        duckdb.connect()).shape
    assert 0.4 < s["non_ascii_doc_share"] < 0.85
    assert s["top_sample_share"] == 0.5


def test_gopher_rules():
    ok = " ".join(["the house of and garden stood"] * 10)
    assert corpus.gopher_pass(ok)
    assert not corpus.gopher_pass("the cat of and dog sat")          # too short
    assert not corpus.gopher_pass(" ".join(["the | of |"] * 30))     # symbols

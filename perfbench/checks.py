"""Independent expected values from DuckDB, computed on the same generated
input the engine reads, and the output checks that use them.

Every check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import math
import os

import numpy as np


def kgram_counts_sql(docs_glob: str, k: int, hard_min: int) -> str:
    """Char-mode k-grams per source with count >= hard_min (the counts
    table's definition), as (source, kgram, c)."""
    return (
        f"SELECT source, kgram, count(*) AS c FROM ("
        f" SELECT source, substring(text, p, {k}) AS kgram FROM ("
        f"  SELECT source, text, unnest(range(1, length(text) - {k - 2})) AS p"
        f"  FROM read_parquet('{docs_glob}')))"
        f" GROUP BY source, kgram HAVING count(*) >= {hard_min}"
    )


def expected_build(duck, docs_dir: str, cfg) -> dict:
    """counts rows and sum(count); matrix and pa rows (kgrams solid, i.e.
    count >= soft_min, in at least recurrence_min samples)."""
    counts = kgram_counts_sql(os.path.join(docs_dir, "*.parquet"), cfg.k, cfg.hard_min)
    duck.execute(f"CREATE OR REPLACE TEMP TABLE expected_counts AS {counts}")
    rows, total = duck.execute("SELECT count(*), sum(c) FROM expected_counts").fetchone()
    matrix_rows = duck.execute(
        "SELECT count(*) FROM (SELECT kgram FROM expected_counts GROUP BY kgram"
        f" HAVING sum((c >= {cfg.soft_min})::INT) >= {cfg.recurrence_min})"
    ).fetchone()[0]
    return {"counts_rows": int(rows), "counts_sum": int(total),
            "matrix_rows": int(matrix_rows), "pa_rows": int(matrix_rows)}


def check_build(duck, run_dir: str, expected: dict) -> list[str]:
    def table(stage: str) -> str:
        return f"read_parquet('{run_dir}/{stage}/*/*.parquet', hive_partitioning = 1)"

    got_rows, got_sum = duck.execute(
        f"SELECT count(*), sum(\"count\") FROM {table('counts')}").fetchone()
    got = {
        "counts_rows": got_rows, "counts_sum": got_sum,
        "matrix_rows": duck.execute(f"SELECT count(*) FROM {table('matrix')}").fetchone()[0],
        "pa_rows": duck.execute(f"SELECT count(*) FROM {table('pa')}").fetchone()[0],
    }
    return [f"{k}: got {got[k]}, expected {v}" for k, v in expected.items() if got[k] != v]


# ------------------------------------------------------------ query index

class QueryTruth:
    """Exact answers about the index input, for checking query results."""

    def __init__(self, duck, docs_dir: str, cfg):
        counts = kgram_counts_sql(os.path.join(docs_dir, "*.parquet"), cfg.k, cfg.hard_min)
        rows = duck.execute(f"{counts} ORDER BY source, kgram").fetchnumpy()
        self.sample = rows["source"].astype(object)
        self.kgram = rows["kgram"].astype(object)
        self.count = np.asarray(rows["c"], dtype=np.int64)
        self.samples = sorted(set(self.sample.tolist()))
        self.matrix_kgrams = np.array(sorted(set(self.kgram.tolist())), dtype=object)

    def counts_of(self, sample: str) -> np.ndarray:
        return np.sort(self.count[self.sample == sample])

    def distinct_of(self, sample: str) -> int:
        return int((self.sample == sample).sum())


def absent_kgrams(present: np.ndarray) -> list[str]:
    """Strings that occur nowhere in a generated corpus: '#' never does."""
    return ["#" + g[1:] for g in present]


def check_probe(result, n_present: int) -> list[str]:
    """Every probe of an inserted (sample, kgram) must report member 1 (a
    Bloom filter has no false negatives); present probes come first."""
    present = result[result["present"]]
    missing = int((present["member"] != 1).sum())
    out = []
    if len(present) != n_present:
        out.append(f"bf_probe returned {len(present)} present probes of {n_present}")
    if missing:
        out.append(f"bf_probe: {missing} present probes reported absent")
    return out


def check_filter(rows: int, n_present: int) -> list[str]:
    if rows != n_present:
        return [f"filter_matrix returned {rows} rows, expected {n_present}"]
    return []


def check_hll(estimates: dict, truth: QueryTruth, p: int = 14) -> list[str]:
    """Per-sample HLL estimate within 4 standard errors (1.04/sqrt(2^p))."""
    bound = 4 * 1.04 / math.sqrt(2**p)
    out = []
    for s in truth.samples:
        exact = truth.distinct_of(s)
        est = estimates.get(s)
        if est is None or abs(est - exact) > bound * exact:
            out.append(f"hll {s}: estimate {est}, exact {exact}")
    return out


def check_kll(quantiles: dict, truth: QueryTruth, qs, eps: float = 0.05) -> list[str]:
    """Each reported q-quantile v must have rank q within eps:
    share(< v) <= q + eps and share(<= v) >= q - eps."""
    out = []
    for s in truth.samples:
        vals = truth.counts_of(s)
        got = quantiles.get(s)
        if got is None:
            out.append(f"kll {s}: missing")
            continue
        for q, v in zip(qs, got):
            lt = np.searchsorted(vals, v, "left") / vals.size
            le = np.searchsorted(vals, v, "right") / vals.size
            if lt > q + eps or le < q - eps:
                out.append(f"kll {s} q={q}: value {v} has rank [{lt:.3f}, {le:.3f}]")
    return out


# ------------------------------------------------------------ curation

def check_curation(duck, run_dir: str, exact_dup_ids: list[int], report: dict) -> list[str]:
    """Every planted exact duplicate is gone, and the funnel did not
    collapse (documents survive each gate)."""
    ids = duck.execute(
        f"SELECT doc_id FROM read_parquet('{run_dir}/decontam/*.parquet')"
    ).fetchnumpy()["doc_id"]
    out = []
    left = np.intersect1d(np.asarray(ids), np.asarray(exact_dup_ids, dtype=np.int64))
    if left.size:
        out.append(f"curate_run kept {left.size} planted exact duplicates")
    for key in ("after_gopher", "after_dedup", "after_decontam"):
        if not report.get(key):
            out.append(f"curate_run funnel collapsed at {key}: {report.get(key)}")
    if report.get("after_dedup", 0) >= report.get("after_gopher", 0):
        out.append("curate_run dedup removed nothing")
    if len(ids) != report.get("after_decontam"):
        out.append(f"curate_run wrote {len(ids)} rows, report says {report.get('after_decontam')}")
    return out

"""Self-test of the benchmark on tiny corpora.

    python3 -m pytest erbench/tests -q

Checks that the printed metric names match BENCHMARK.json, that the last
line of output is the JSON result, that an outcome with one match row
dropped is counted as failed, and that the benchmark refuses to run
without the program's sources. Each benchmark run is its own process,
as it is when the benchmark is driven from outside. The last tests
check the leaf-against-DuckDB comparison: only a cell whose exact value
lies on a 6-decimal rounding half may differ.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TIMEOUT_S = 600


def bench_result(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "tests" / "tiny.py"), *extra,
         "--workload", workload, "--seed", "5", "--seconds", "0",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=TIMEOUT_S)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def test_traced_pipeline_prints_every_per_layer_metric():
    result = bench_result("pipeline_mem", 1)
    assert list(result["metrics"]) == [m["name"] for m in BENCH["per_layer"]]
    for m in BENCH["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["correct"] and result["failed"] == 0
    # two untraced and two traced repetitions, then the checkpoint
    # store's write and resume passes
    assert result["attempted"] == 6
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["scoring.matches"] > 0
    assert metrics["checkpoint.bytes_written"] > 0
    assert metrics["pipeline.pinned_rdds_after_run"] > 0


def test_doc_leaves_prints_every_end_to_end_metric():
    result = bench_result("doc_leaves", 0)
    assert list(result["metrics"]) == [m["name"] for m in BENCH["end_to_end"]]
    for m in BENCH["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 2 * 3    # two repetitions of three leaves


def test_dropped_match_row_counts_as_failed():
    result = bench_result("pipeline_mem", 0, "--drop-match")
    # the two timed repetitions
    assert result["attempted"] == 2
    assert result["failed"] == 2
    assert result["correct"] is False


def test_refuses_to_run_without_program_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "erbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", "pipeline_mem",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# ------------------------------------------- the DuckDB comparison

sys.path[:0] = [str(ROOT), str(HERE)]
from fractions import Fraction  # noqa: E402

import oracle  # noqa: E402

SCORE_COLS = ["id_a", "id_b", "jw_path", "jaccard_content", "score", "is_match"]


class FixedExact:
    def __init__(self, **values):
        self.values = {k: Fraction(v) for k, v in values.items()}

    def er_scores(self, id_a, id_b):
        return self.values


def score_rows(score, is_match=True, jw=0.975):
    row = ["a", "b", jw, 0.015625, score, is_match]
    return [dict(zip(SCORE_COLS, row))], [tuple(row)]


def test_tie_neighbours_only_at_half_grain():
    assert oracle.tie_neighbours(Fraction("0.3034375")) == {"0.303437", "0.303438"}
    assert oracle.tie_neighbours(Fraction("0.30343751")) is None
    assert oracle.tie_neighbours(Fraction(1, 3)) is None


def test_oracle_accepts_a_rounding_tie():
    exact = FixedExact(jw_path="0.975", jaccard_content="0.015625",
                       score="0.3034375")
    spark, _ = score_rows(0.303437)
    _, duck = score_rows(0.303438)
    assert oracle.oracle_match("er_scores", exact, SCORE_COLS, spark,
                               SCORE_COLS, duck) == (True, 1)


def test_oracle_rejects_a_one_grain_error_off_a_tie():
    exact = FixedExact(jw_path="0.975", jaccard_content="0.015625",
                       score="0.303437")
    spark, _ = score_rows(0.303437)
    _, duck = score_rows(0.303438)
    assert not oracle.oracle_match("er_scores", exact, SCORE_COLS, spark,
                                   SCORE_COLS, duck)[0]
    spark, _ = score_rows(0.303437, jw=0.975001)
    _, duck = score_rows(0.303437)
    assert not oracle.oracle_match("er_scores", exact, SCORE_COLS, spark,
                                   SCORE_COLS, duck)[0]


def test_oracle_tie_at_threshold_needs_consistent_is_match():
    exact = FixedExact(jw_path="0.975", jaccard_content="0.015625",
                       score="0.3099995")
    spark, _ = score_rows(0.309999, is_match=False)
    _, duck = score_rows(0.31, is_match=True)
    assert oracle.oracle_match("er_scores", exact, SCORE_COLS, spark,
                               SCORE_COLS, duck) == (True, 1)
    spark, _ = score_rows(0.309999, is_match=True)
    _, duck = score_rows(0.31, is_match=False)
    assert not oracle.oracle_match("er_scores", exact, SCORE_COLS, spark,
                                   SCORE_COLS, duck)[0]


def test_exact_values_agree_with_the_program():
    from corpus import make_documents
    from go_dedupe_spark.functions.similarity import _jaro_winkler

    docs, _ = make_documents(30, 11)
    exact = oracle.ExactValues(docs)
    ids = list(exact.by_sha)
    for a, b in zip(ids, ids[1:]):
        ra, rb = exact.by_sha[a], exact.by_sha[b]
        jw = _jaro_winkler(f"{ra.source}/doc_{ra.doc_id}.txt",
                           f"{rb.source}/doc_{rb.doc_id}.txt")
        assert abs(float(exact.er_scores(a, b)["jw_path"]) - jw) < 1e-12

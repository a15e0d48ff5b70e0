"""Run the benchmark on tiny corpora, for the self-test.

    python3 erbench/tests/tiny.py [--drop-match] --workload ... --seed ...

Takes run.py's arguments. ``--drop-match`` drops one match row from
every pipeline outcome after the reference run, so the self-test can
show that the benchmark counts such a repetition as failed.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402

workloads.PIPELINE_FILES = 400
workloads.DOC_COUNT = 200
workloads.CC_ORACLE_DOCS = 40
workloads.MIN_REPS = 2


def drop_one_match(run_pipeline):
    calls = []

    def wrapped(*args, **kwargs):
        result = run_pipeline(*args, **kwargs)
        calls.append(1)
        if len(calls) > 1:  # the reference run stays intact
            one = result.scores.where("is_match").limit(1)
            result.scores = result.scores.exceptAll(one)
        return result
    return wrapped


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--drop-match" in argv:
        argv.remove("--drop-match")
        workloads.run_pipeline = drop_one_match(workloads.run_pipeline)
    sys.exit(run.main(argv))

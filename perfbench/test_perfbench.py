"""Tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench -q

The generator tests need no Spark.  ``test_run_prints_every_metric``
runs the benchmark command twice (untraced and traced) on the smallest
measuring time, about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import gen
import pytest
from metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _inputs(seed: int, tmp) -> dict[str, str]:
    logs = gen.write_log_objects(str(tmp / f"raw{seed}"), "bucket", ["2019-03-04"],
                                 5000, 4, seed)
    return {
        "raw_logs": logs["sha256"],
        "warehouse": gen.warehouse_lines(5000, ["2019-03-04", "2019-03-05"], seed)[1],
        "corpus": gen.corpus(400, seed)["sha256"],
        "embeddings": gen.embeddings(300, seed)["sha256"],
    }


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = _inputs(7, tmp_path / "a"), _inputs(7, tmp_path / "b"), _inputs(8, tmp_path / "c")
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_planted_facts_match_the_inputs(tmp_path):
    facts = gen.write_log_objects(str(tmp_path), "bucket", ["2019-03-04", "2019-03-05"],
                                  3000, 3, 1)
    for dt in ("2019-03-04", "2019-03-05"):
        lines = []
        for name in sorted(os.listdir(tmp_path / "bucket")):
            if name.startswith(dt):
                lines += (tmp_path / "bucket" / name).read_text().splitlines()
        assert len(lines) == facts["rows_by_dt"][dt]
        garbage = [ln for ln in lines if len(ln.split(" ")) < 18]
        assert len(garbage) == facts["dead_letter_by_dt"][dt] > 0
        assert all(ln.strip() for ln in lines)  # no blank line: each one is a row
    c = gen.corpus(500, 3)
    norm = [" ".join(t.lower().split()) for t in c["text"]]
    for d in c["exact_dups"]:
        assert norm.index(norm[d]) < d
    assert len({norm[i] for i in range(500) if i not in set(c["exact_dups"])}) == (
        500 - len(c["exact_dups"]))


def test_metric_table_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "compaction", "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    table = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: unit for k, (unit, _) in table.items()}
    record = json.loads(p.stdout.strip().splitlines()[-2])
    assert record["config"]["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    if trace:
        assert os.path.exists(os.path.join(record["traced_rounds"]["out_dir"], "spans.jsonl"))

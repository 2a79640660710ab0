"""Tests of the benchmark itself.

    python3 -m pytest linkbench/ -q

The check tests run without Spark. The smoke tests run every workload
in spec.json at a tiny scale in a scratch copy of the checkout, untraced
and traced (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import (  # noqa: E402
    Tally,
    expected_pair_count,
    min_id_components,
    pairwise_f1,
    same_assignment,
)
from workloads import Run, batch_checks, incremental_checks  # noqa: E402

WL = {"f1_gate": 0.9, "expected": {"5": {"pairs": 3}}}


def _run(seed: int = 1) -> Run:
    return Run(None, None, {}, seed, 1.0, "", 1)


def _truth() -> pd.DataFrame:
    # entities {1,2,3} and {4,5}, singleton 6
    return pd.DataFrame(
        {"unique_id": [1, 2, 3, 4, 5, 6], "entity": [0, 0, 0, 1, 1, 2]}
    )


def test_expected_pair_count_matches_brute_force():
    rng = np.random.default_rng(0)
    df = pd.DataFrame(
        {
            "unique_id": np.arange(60),
            "a": rng.integers(0, 5, 60),
            "b": rng.integers(0, 4, 60).astype(float),
            "c": rng.integers(0, 8, 60),
        }
    )
    df.loc[::7, "b"] = np.nan  # nulls never match
    rules = ["l.a = r.a AND l.b = r.b", "l.c = r.c"]
    rows = df.to_dict("records")
    want = sum(
        1
        for x in rows
        for y in rows
        if x["unique_id"] < y["unique_id"]
        and (
            (x["a"] == y["a"] and x["b"] == y["b"])  # NaN != NaN
            or x["c"] == y["c"]
        )
    )
    assert expected_pair_count(df, rules) == want
    with pytest.raises(ValueError):
        expected_pair_count(df, ["l.a = r.c"])


def test_min_id_components_and_pairwise_f1():
    edges = np.array([[3, 2], [2, 1], [5, 4], [6, 6]])
    got = min_id_components(np.arange(1, 7), edges)
    assert got.set_index("unique_id")["cluster_id"].to_dict() == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6,
    }
    assert pairwise_f1(got, _truth()) == 1.0
    split = got.assign(cluster_id=[1, 1, 3, 4, 5, 6])
    assert pairwise_f1(split, _truth()) < 1.0


def test_clean_results_pass_every_check():
    run = _run()
    assign = min_id_components(np.arange(1, 7), np.array([[1, 2], [2, 3], [4, 5]]))
    batch_checks(run, WL, "pass", 4, 4, assign, _truth())
    assert run.tally.failed == 0 and run.tally.attempted == 1


def test_short_pair_set_and_corrupt_clusters_count_as_failures():
    run = _run(seed=5)
    good = min_id_components(np.arange(1, 7), np.array([[1, 2], [2, 3], [4, 5]]))
    corrupt = good.assign(cluster_id=[1, 2, 3, 4, 4, 4])
    # one pair dropped against the reference count
    batch_checks(run, WL, "short", 3, 4, good, _truth())
    # reference agrees but the count recorded for seed 5 does not
    batch_checks(run, WL, "recorded", 4, 4, good, _truth())
    # pairs fine, clusters broken: F1 falls under the gate
    batch_checks(run, WL, "corrupt", 3, 3, corrupt, _truth())
    assert run.tally.failed == 3
    assert run.tally.fail_frac == 1.0


def test_incremental_invariant_catches_a_wrong_label():
    nodes = np.arange(1, 7)
    edges = np.array([[1, 2], [3, 2], [4, 5]])
    good = min_id_components(nodes, edges)
    run = _run()
    run.units = [10, 11]
    incremental_checks(run, WL, good, nodes, edges, _truth())
    assert run.tally.failed == 0 and run.tally.attempted == 2
    # same partition, but one cluster labelled by a non-minimum member
    relabelled = good.assign(cluster_id=good["cluster_id"].replace({4: 5}))
    assert not same_assignment(relabelled, good)
    incremental_checks(run, WL, relabelled, nodes, edges, _truth())
    assert run.tally.failed == 2 and run.tally.fail_frac == 0.5


def test_tally_fail_frac():
    t = Tally()
    t.record(True, "ok")
    t.record(False, "bad")
    assert (t.attempted, t.failed, t.fail_frac) == (2, 1, 0.5)


# -- end to end, tiny scale ----------------------------------------------------

TINY = {
    "entities": 200,
    "warmup_entities": 40,
    "u_max_pairs": 20000,
    "batch_size": 10,
}


def _tiny_checkout(tmp_path) -> str:
    """A scratch checkout: BENCHMARK.json, the benchmark at tiny sizes,
    and the engine package linked in."""
    root = tmp_path / "checkout"
    shutil.copytree(HERE, root / "linkbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root / "BENCHMARK.json")
    os.symlink(os.path.join(ROOT, "splink_spark"), root / "splink_spark")
    spec_path = root / "linkbench" / "spec.json"
    spec = json.loads(spec_path.read_text())
    for wl in spec["workloads"].values():
        wl.update({k: v for k, v in TINY.items() if k in wl})
        wl["expected"] = {}  # recorded at full size
    spec_path.write_text(json.dumps(spec))
    return str(root)


def _bench(root: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "linkbench/run.py", *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(HERE, "spec.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_smoke_prints_every_metric(tmp_path, workload, trace):
    """Untraced: every end-to-end metric, non-zero, with its unit.
    Traced: every per-layer metric, from a run that alternates untraced
    and traced units (the tracing-overhead baseline)."""
    root = _tiny_checkout(tmp_path)
    out = _bench(root, "--workload", workload, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace))
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert trace or got["value"] > 0, m["name"]
    if trace:
        summary = json.loads(next(
            line for line in out.stderr.splitlines()
            if line.startswith("linkbench: {")
        )[len("linkbench: "):])
        # untraced, traced, untraced at least
        assert summary["units"] >= 3 and summary["units"] % 2 == 1
        assert 0 < result["metrics"]["trace.self_frac"]["value"] <= 1


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    root = tmp_path / "bare"
    shutil.copytree(HERE, root / "linkbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root / "BENCHMARK.json")
    out = _bench(str(root), "--workload", BENCH["workloads"][0]["name"],
                 "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout

"""Correctness checks on the engine's outputs, and their tally.

Every reference here is computed in the benchmark process with
pandas/numpy from the generated inputs, independently of the engine:

- the number of candidate pairs the blocking rules must produce;
- pairwise F1 of a cluster assignment against the fixture's entity ids;
- the min-member-id labelling that connected components must give for
  a node set and an edge list (union-find).
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_EQ = re.compile(r"l\.(\w+)\s*=\s*r\.(\w+)")


@dataclass
class Tally:
    """Timed operations attempted and failed (raised or failed a check)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"linkbench: check failed: {what}", file=sys.stderr)
        return ok

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def rule_columns(rule: str) -> list[str]:
    """Columns of a pure equality conjunction ``l.a = r.a AND l.b = r.b``."""
    pairs = _EQ.findall(rule)
    rest = _EQ.sub("", rule).replace("AND", "").strip()
    if not pairs or rest or any(a != b for a, b in pairs):
        raise ValueError(f"not a same-column equality rule: {rule!r}")
    return [a for a, _ in pairs]


def _rule_pair_codes(
    left: pd.DataFrame, right: pd.DataFrame, cols: list[str], ordered: bool
) -> np.ndarray:
    m = left[["unique_id", *cols]].dropna().merge(
        right[["unique_id", *cols]].dropna(), on=cols, suffixes=("_l", "_r")
    )
    lo = m["unique_id_l"].to_numpy(np.int64)
    hi = m["unique_id_r"].to_numpy(np.int64)
    if ordered:
        keep = lo < hi
        lo, hi = lo[keep], hi[keep]
    return lo * (1 << 31) + hi


def expected_pair_count(
    records: pd.DataFrame,
    rules: list[str],
    right: pd.DataFrame | None = None,
) -> int:
    """Distinct pairs matched by any rule: ``l < r`` pairs within
    ``records`` (dedupe), or every (records, right) pair (link)."""
    other = records if right is None else right
    codes = [
        _rule_pair_codes(records, other, rule_columns(r), right is None)
        for r in rules
    ]
    return int(np.unique(np.concatenate(codes)).size)


def _pairs_within(sizes: np.ndarray) -> float:
    sizes = sizes.astype(np.float64)
    return float((sizes * (sizes - 1) / 2).sum())


def pairwise_f1(assign: pd.DataFrame, truth: pd.DataFrame) -> float:
    """All-pairs F1 of ``assign`` (unique_id, cluster_id) against
    ``truth`` (unique_id, entity): a pair is predicted when both records
    share a cluster, and true when they share an entity."""
    j = assign.merge(truth, on="unique_id", how="inner")
    if len(j) != len(assign) or len(j) != len(truth):
        return 0.0
    tp = _pairs_within(j.groupby(["cluster_id", "entity"]).size().to_numpy())
    pp = _pairs_within(j.groupby("cluster_id").size().to_numpy())
    ap = _pairs_within(j.groupby("entity").size().to_numpy())
    return 2.0 * tp / (pp + ap) if pp + ap else 1.0


def min_id_components(nodes: np.ndarray, edges: np.ndarray) -> pd.DataFrame:
    """Union-find reference: (unique_id, cluster_id) with cluster_id the
    smallest node id of the component, for every node in ``nodes``."""
    nodes = np.unique(nodes.astype(np.int64))
    parent = {int(n): int(n) for n in nodes}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.astype(np.int64):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame(
        {"unique_id": nodes, "cluster_id": [find(int(n)) for n in nodes]}
    )


def same_assignment(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """True when both tables give every node the same cluster_id."""
    if len(got) != len(want) or got["unique_id"].duplicated().any():
        return False
    j = got.merge(want, on="unique_id", how="inner", suffixes=("_g", "_w"))
    return len(j) == len(want) and bool(
        (j["cluster_id_g"] == j["cluster_id_w"]).all()
    )

"""Output checks: cluster-table digests, structural invariants, and the
full-recompute oracle for the streaming assignment table."""

from __future__ import annotations

import hashlib
import json
import os
from typing import Dict, Iterable, List, Optional, Tuple

Rows = List[Tuple[str, str]]

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(rows: Iterable[Tuple[str, str]]) -> str:
    """Order-independent digest of (turn_key, cluster_id) rows."""
    h = hashlib.sha256()
    for k, c in sorted(rows):
        h.update(f"{k}\t{c}\n".encode())
    return h.hexdigest()


def cluster_invariants(rows: Rows, expected_keys: Optional[int] = None) -> List[str]:
    """Problems with a batch cluster table: every turn exactly once, and each
    cluster id equal to the least turn_key of its cluster."""
    problems = []
    keys = [k for k, _ in rows]
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} duplicate turn_key rows")
    if expected_keys is not None and len(set(keys)) != expected_keys:
        problems.append(f"{len(set(keys))} turn keys, expected {expected_keys}")
    least: Dict[str, str] = {}
    for k, c in rows:
        least[c] = min(least.get(c, k), k)
    bad = sum(1 for c, m in least.items() if c != m)
    if bad:
        problems.append(f"{bad} clusters whose id is not their least member")
    return problems


def stream_oracle(turn_entities: Iterable[Tuple[str, Iterable[str]]]) -> Rows:
    """Full recompute of the streaming assignment: union-find over the
    bipartite (turn_key, 'E#'+entity) graph of every turn's resolved
    entities; each turn's cluster id is the least node key (turn or entity
    node) of its component."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the root is always the least key of its component
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    turns = []
    for turn_key, entities in turn_entities:
        entities = list(entities or [])
        if not entities:
            continue
        turns.append(turn_key)
        for e in entities:
            union(turn_key, f"E#{e}")
    return [(t, find(t)) for t in turns]


def known_digests(workload: str, fingerprint: str) -> Dict[str, str]:
    """Recorded digests per seed for this workload definition."""
    try:
        with open(DIGESTS_PATH) as f:
            recorded = json.load(f)
    except (OSError, ValueError):
        return {}
    entry = recorded.get(workload) or {}
    if entry.get("fingerprint") != fingerprint:
        return {}
    return entry.get("seeds", {})


def fingerprint(spec: dict, scale: float) -> str:
    return hashlib.sha256(json.dumps({"spec": spec, "scale": scale}, sort_keys=True).encode()).hexdigest()[:16]


class Ledger:
    """Counts operations and failed operations. An operation fails when an
    output check finds a problem, or when its output digest differs from
    the reference for its output kind (the batch cluster table, or the
    stream assignment table after a given prefix of files): the recorded or
    recomputed digest if there is one, else the run's first output of that
    kind. An operation that raises ends the run with a non-zero exit."""

    def __init__(self, references: Optional[Dict[str, str]] = None):
        self.references: Dict[str, str] = dict(references or {})
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []
        self.digests: Dict[str, List[str]] = {}

    def record(self, kind: str, label: str, rows: Optional[Rows], problems: Iterable[str] = ()) -> bool:
        problems = list(problems)
        if rows is None:
            problems.append("no output")
        else:
            d = digest(rows)
            self.digests.setdefault(kind, []).append(d)
            ref = self.references.setdefault(kind, d)
            if d != ref:
                problems.append(f"digest {d[:12]} != reference {ref[:12]}")
        return self.audit(f"{kind}.{label}", problems)

    def audit(self, label: str, problems: Iterable[str]) -> bool:
        """Count one operation; it failed if any problem was found."""
        self.attempted += 1
        problems = list(problems)
        if problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in problems)
        return not problems

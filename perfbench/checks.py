"""Output checks against the planted truth (gen.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from gen import HOT_FAMILY

MIN_RECALL = 0.99


def plan_rows(plan) -> list[tuple]:
    return [tuple(r) for r in plan.select("fid", "component", "is_keeper", "duplicate_of").collect()]


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple("" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def plan_invariants(rows: list[tuple]) -> bool:
    """Exactly one keeper per component, and every other member's
    ``duplicate_of`` is that keeper."""
    keepers = defaultdict(list)
    for fid, comp, is_keeper, _dup in rows:
        if is_keeper:
            keepers[comp].append(fid)
    if any(len(v) != 1 for v in keepers.values()) or {r[1] for r in rows} != set(keepers):
        return False
    return all(
        (dup is None) if is_keeper else (dup == keepers[comp][0])
        for _fid, comp, is_keeper, dup in rows
    )


def recall_precision(labels: dict[str, str], truth: dict, present: set[str] | None = None):
    """(recall, precision) of a fid → component map against the planted
    truth. Fids without a label are singletons. ``present`` restricts
    the truth to the fids that were processed."""
    comp = lambda f: labels.get(f, f)  # noqa: E731
    fam_of = {}
    hit = total = 0
    for fam, t in truth.items():
        groups = [[f for f in g if present is None or f in present] for g in t["groups"]]
        for g in groups:
            for f in g:
                fam_of[f] = fam
        if fam == HOT_FAMILY:
            continue
        counts = [Counter(comp(f) for f in g) for g in groups]
        for i, j in t["pairs"]:
            if i == j:
                n = len(groups[i])
                total += n * (n - 1) // 2
                hit += sum(c * (c - 1) // 2 for c in counts[i].values())
            else:
                total += len(groups[i]) * len(groups[j])
                hit += sum(c * counts[j].get(k, 0) for k, c in counts[i].items())
    by_comp = defaultdict(Counter)
    for f, c in labels.items():
        by_comp[c][fam_of.get(f)] += 1
    same = pairs = 0
    for fams in by_comp.values():
        n = sum(fams.values())
        pairs += n * (n - 1) // 2
        same += sum(c * (c - 1) // 2 for fam, c in fams.items() if fam is not None)
    return (hit / total if total else 1.0), (same / pairs if pairs else 1.0)


def quality(rec: float, prec: float) -> dict[str, bool]:
    return {
        f"recall {rec:.4f} >= {MIN_RECALL}": rec >= MIN_RECALL,
        f"precision {prec:.6f} == 1": prec == 1.0,
    }

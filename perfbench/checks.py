"""Output checks and quality scores for one pipeline run, computed in
the benchmark process from the collected ``(conv_id, cc_id)``
assignments. None of this is timed."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pandas as pd


class CheckFailed(Exception):
    pass


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of the (conv_id, cc_id) rows."""
    lines = sorted(pdf["conv_id"] + "\t" + pdf["cc_id"])
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def score(pdf: pd.DataFrame, truth: dict) -> dict:
    """Checks completeness and exact-duplicate recall, then scores the
    clustering against the planted families. Raises CheckFailed."""
    family = truth["family"]
    n_rows, n_ids = len(pdf), pdf["conv_id"].nunique()
    if not n_rows == n_ids == len(family):
        raise CheckFailed(f"{n_rows} rows, {n_ids} distinct conv_ids, "
                          f"{len(family)} input conversations")
    if set(pdf["conv_id"]) != family.keys():
        raise CheckFailed("assignments cover other conversations than the input")
    cc = dict(zip(pdf["conv_id"], pdf["cc_id"]))

    hits = defaultdict(int)
    total = defaultdict(int)
    for a, b, kind, _rate in truth["pairs"]:
        kind = "exact" if kind == "crowd" else kind
        total[kind] += 1
        hits[kind] += cc[a] == cc[b]
    exact_recall = hits["exact"] / total["exact"]
    if exact_recall != 1.0:
        raise CheckFailed(f"exact_dup_recall {exact_recall}")

    members = defaultdict(list)
    for conv, c in cc.items():
        members[c].append(conv)
    clustered = mixed = 0
    for convs in members.values():
        if len(convs) > 1:
            clustered += len(convs)
            if len({family[c] for c in convs}) > 1:
                mixed += len(convs)
    return {
        "exact_dup_recall": exact_recall,
        "near_dup_recall": hits["near"] / total["near"],
        "cluster_purity": 1.0 - mixed / clustered if clustered else 1.0,
    }

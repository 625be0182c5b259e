"""One planted-truth checker for every workload.

Both fixture generators plant their duplicate structure per 100-row block
of a global row index `i` (sources/synth_spark.py, sources/synth_docs.py):

- images (id `s%010d`): r in {0,1} exact byte pair, r in {2,3} near pair,
  r == 4 one member of THE mega-cluster, every other row unique;
- docs (id `d%010d`): r in {0,1} near pair, r == 2 one member of THE
  boilerplate crowd (one shared body), every other row unique.

`append_scaling_delta` continues the `s%010d` sequence, so the same rule
labels base plus delta rows, and so does any row of the sequence the
benchmark writes out of order. The program's clusters must reproduce the
planted partition exactly. Recall is the share of each planted group's
member pairs that share a cluster, averaged over the groups: the one
mega-cluster or crowd weighs as much as one near pair, so losing a single
near pair shows even next to a clique of thousands of pairs. Precision is
the share of output clusters that merge no two distinct planted groups.
"""

from __future__ import annotations

from collections import Counter, defaultdict


def image_truth(i: int) -> str:
    block, r = divmod(i, 100)
    if r in (0, 1):
        return f"exact{block}"
    if r in (2, 3):
        return f"near{block}"
    if r == 4:
        return "mega"
    return f"solo{i}"


def doc_truth(i: int) -> str:
    block, r = divmod(i, 100)
    if r in (0, 1):
        return f"near{block}"
    if r == 2:
        return "crowd"
    return f"solo{i}"


def check(labels: dict[str, object], truth_of) -> dict:
    """labels: {item id: cluster label} for every input row. Item ids end
    in their decimal row index, which `truth_of` maps to a planted group."""
    truth = {item: truth_of(int(item[1:])) for item in labels}
    members: dict[str, list[str]] = defaultdict(list)
    for item, group in truth.items():
        members[group].append(item)
    group_recall = []
    planted_pairs = 0
    for m in members.values():
        pairs = len(m) * (len(m) - 1) // 2
        if not pairs:
            continue
        found = sum(n * (n - 1) // 2 for n in Counter(labels[item] for item in m).values())
        group_recall.append(found / pairs)
        planted_pairs += pairs
    groups_per_cluster: dict[object, set] = defaultdict(set)
    for item, cluster in labels.items():
        groups_per_cluster[cluster].add(truth[item])
    pure = sum(1 for groups in groups_per_cluster.values() if len(groups) == 1)
    n_clusters = len(groups_per_cluster)
    recall = sum(group_recall) / len(group_recall) if group_recall else 1.0
    precision = pure / n_clusters if n_clusters else 0.0
    return {
        "recall": recall,
        "precision": precision,
        "ok": recall == 1.0 and precision == 1.0,
        "planted_groups": len(group_recall),
        "planted_pairs": planted_pairs,
        "clusters": n_clusters,
    }

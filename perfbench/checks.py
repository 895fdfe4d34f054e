"""Output checks and quality scores against the planted truth.

Each check returns a list of failure messages; an empty list means the
output passed. Scores:

* ``pair_recall``: share of planted duplicate relations the output
  honours (both pages in one cluster, or the copy dropped by a merge).
* ``cluster_precision``: share of planted-distinct pages the output
  keeps distinct (a clustered page whose cluster holds only pages of its
  own planted cluster; a novel page that a merge appended).
"""

from __future__ import annotations

from collections import Counter


class UnionFind:
    """Roots are always the smallest member, so ``find`` returns the
    component minimum: the engine's ``cluster_id``."""

    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        parent = self.parent
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def check_pipeline(
    truth: dict[int, int],
    relations: list[tuple[int, int]],
    clusters: list[tuple[int, int, bool]],
    quarantined: list[int],
    pairs: list[tuple[int, int]],
    n_survivors: int,
) -> tuple[list[str], dict[str, float]]:
    """``truth``: doc_id -> planted cluster key for every input page.
    ``clusters``: (doc_id, cluster_id, is_representative) rows."""
    fails: list[str] = []
    seen = Counter([d for d, _, _ in clusters] + quarantined)
    if set(seen) != set(truth) or any(c != 1 for c in seen.values()):
        dup = sum(1 for c in seen.values() if c != 1)
        fails.append(
            f"pages in clusters+quarantine: {len(seen)} distinct, {dup} repeated, "
            f"{len(set(truth) - set(seen))} missing of {len(truth)}"
        )
    cluster_of = {d: c for d, c, _ in clusters}
    reps = Counter(c for d, c, r in clusters if r)
    if any(r != (d == c) for d, c, r in clusters):
        fails.append("is_representative disagrees with doc_id == cluster_id")
    n_clusters = len(set(cluster_of.values()))
    if len(reps) != n_clusters or any(n != 1 for n in reps.values()):
        fails.append(f"{n_clusters} clusters but {sum(reps.values())} representatives")
    if n_survivors != n_clusters:
        fails.append(f"{n_survivors} survivors for {n_clusters} clusters")

    uf = UnionFind()
    for d in cluster_of:
        uf.find(d)
    for a, b in pairs:
        uf.union(a, b)
    uf_clusters = {uf.find(d) for d in cluster_of}
    if len(uf_clusters) != n_clusters:
        fails.append(
            f"union-find over the pair table gives {len(uf_clusters)} clusters, "
            f"output has {n_clusters}"
        )
    elif any(uf.find(d) != c for d, c in cluster_of.items()):
        fails.append("union-find components differ from the output clusters")

    honoured = sum(
        1 for a, b in relations
        if a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
    )
    members: dict[int, set[int]] = {}
    for d, c in cluster_of.items():
        members.setdefault(c, set()).add(truth[d])
    distinct = sum(1 for d, c in cluster_of.items() if members[c] == {truth[d]})
    scores = {
        "pair_recall": honoured / max(len(relations), 1),
        "cluster_precision": distinct / max(len(cluster_of), 1),
        "clusters": n_clusters,
    }
    return fails, scores


def check_merge(
    gallery_ids: set[int],
    batch_src: dict[int, int | None],
    acc_ids: list[int],
    appended: list[int],
) -> tuple[list[str], dict[str, float]]:
    """``batch_src``: doc_id -> planted source (None for novel pages) for
    every folded batch page; ``appended``: rows each merge call reported."""
    fails: list[str] = []
    counts = Counter(acc_ids)
    dups = sum(1 for c in counts.values() if c > 1)
    if dups:
        fails.append(f"accumulated table repeats {dups} doc_ids")
    if len(acc_ids) != len(gallery_ids) + sum(appended):
        fails.append(
            f"accumulated table has {len(acc_ids)} rows, expected "
            f"{len(gallery_ids)} + {sum(appended)} appended"
        )
    if not gallery_ids <= counts.keys():
        fails.append("gallery pages missing from the accumulated table")
    stray = counts.keys() - gallery_ids - batch_src.keys()
    if stray:
        fails.append(f"{len(stray)} accumulated doc_ids come from no input")
    copies = [d for d, s in batch_src.items() if s is not None]
    novel = [d for d, s in batch_src.items() if s is None]
    scores = {
        "pair_recall": sum(1 for d in copies if d not in counts) / max(len(copies), 1),
        "cluster_precision": sum(1 for d in novel if d in counts) / max(len(novel), 1),
    }
    return fails, scores

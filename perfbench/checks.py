"""Output checks. Each returns a list of failure messages (empty = passed)."""

from __future__ import annotations

import hashlib
from collections import Counter


def cluster_failures(rows, expected_urls: set[str]) -> list[str]:
    """Invariants of a cluster assignment ``rows`` of
    (url, doc_id, cluster_id, is_winner):

    - every expected url appears exactly once, and no other url appears;
    - each cluster has exactly one winner;
    - ``cluster_id`` is the minimum ``doc_id`` of its cluster.
    """
    out = []
    counts = Counter(r[0] for r in rows)
    dup = [u for u, c in counts.items() if c > 1]
    missing = expected_urls - counts.keys()
    extra = counts.keys() - expected_urls
    if dup:
        out.append(f"{len(dup)} urls appear more than once, e.g. {dup[0]}")
    if missing:
        out.append(f"{len(missing)} input urls missing, e.g. {sorted(missing)[0]}")
    if extra:
        out.append(f"{len(extra)} urls not in the input, e.g. {sorted(extra)[0]}")
    winners: Counter = Counter()
    min_id: dict[int, int] = {}
    for _, doc_id, cid, win in rows:
        winners[cid] += bool(win)
        min_id[cid] = min(doc_id, min_id.get(cid, doc_id))
    bad_win = [c for c in min_id if winners[c] != 1]
    if bad_win:
        out.append(f"{len(bad_win)} clusters without exactly one winner")
    bad_id = [c for c, m in min_id.items() if c != m]
    if bad_id:
        out.append(f"{len(bad_id)} clusters whose cluster_id is not their min doc_id")
    return out


def recall(rows, reference: set[tuple[str, str]]) -> float:
    """Share of reference url pairs that landed in one cluster."""
    if not reference:
        return 1.0
    label = {r[0]: r[2] for r in rows}
    hit = sum(1 for a, b in reference if a in label and label.get(a) == label.get(b))
    return hit / len(reference)


def digest(rows) -> str:
    """Order-independent digest of a cluster assignment or a pair set."""
    h = hashlib.sha256()
    for line in sorted("\t".join(str(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def probe_reference(id_text: dict[int, str], query_ids: list[int]) -> set[tuple[int, int]]:
    """Brute-force token-set Jaccard >= 0.5 between every query page and
    every corpus page, with the probe's token rule (``split(text, ' ')``,
    distinct) and its 4-digit rounding; pairs as (min id, max id)."""
    toks = {i: set(t.split(" ")) for i, t in id_text.items()}
    out = set()
    for q in query_ids:
        tq = toks[q]
        for d, td in toks.items():
            if d == q:
                continue
            inter = len(tq & td)
            union = len(tq) + len(td) - inter
            if union and round(inter / union, 4) >= 0.5:
                out.add((min(q, d), max(q, d)))
    return out

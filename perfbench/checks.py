"""Output checks for every timed operation.

The wave check parses each selected url back to its (host, target) ids
and judges it against the generator's integer model, never against the
engine's own intermediate frames. The crawl check compares the visit
list with the reference simulator run on the same corpus.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

import gen

_URL = re.compile(r"^https://site(\d+)\.test(/a/([px])(\d+))$")
_MAX_REPORTED = 5


def check_wave(rows, exp: gen.WaveExpectation, spec: gen.WaveSpec, seed: int) -> list[str]:
    """``rows``: (url, visit_rank, url_hash) of one wave's output. Returns
    the problems found (empty = correct): dense ranks, unique url_hash,
    per-host count within budget, no robots-blocked url, no pre-seen url,
    and the exact expected selection in the expected rank order."""
    problems: list[str] = []
    ranks = sorted(r[1] for r in rows)
    if ranks != list(range(len(rows))):
        problems.append("visit ranks are not dense 0..n-1")
    dup_hashes = len(rows) - len({r[2] for r in rows})
    if dup_hashes:
        problems.append(f"{dup_hashes} duplicate url_hash values")
    parsed = []
    for url, rank, _ in rows:
        m = _URL.match(url or "")
        if m is None:
            problems.append(f"unexpected url {url!r}")
            continue
        parsed.append((rank, int(m.group(1)), m.group(2), int(m.group(4))))
    per_host = Counter(h for _, h, _, _ in parsed)
    over = [h for h, n in per_host.items() if n > spec.budget]
    if over:
        problems.append(f"{len(over)} hosts over budget {spec.budget} (e.g. site{over[0]})")
    blocked = [
        path for _, h, path, _ in parsed
        if (blob := gen.robots_blob(h, spec.robots_every)) and path.startswith(blob)
    ]
    if blocked:
        problems.append(f"{len(blocked)} robots-blocked urls selected (e.g. {blocked[0]})")
    targets = np.array([t for _, _, _, t in parsed], dtype=np.int64)
    s = gen.salts(seed)
    if len(targets):
        foreign = targets >= spec.n_targets
        seen = gen.is_seen(targets, spec, s, gen.NumpyOps) | foreign
        if seen.any():
            problems.append(f"{int(seen.sum())} pre-seen urls selected")
    if len(rows) != exp.n_selected:
        problems.append(f"{len(rows)} urls selected, expected {exp.n_selected}")
    in_order = [t for _, _, _, t in sorted(parsed)]
    if not problems and in_order != exp.targets.tolist():
        first = next(
            k for k, (a, b) in enumerate(zip(in_order, exp.targets.tolist())) if a != b
        )
        problems.append(f"rank order differs from the model at rank {first}")
    return problems[:_MAX_REPORTED]


def check_crawl(visits: list[tuple[int, str]], expected: list[tuple[int, str]]) -> list[str]:
    """``visits``: (wave, url) in visit order from the engine's fetch
    log; ``expected``: the simulator's list on the same corpus."""
    if visits == expected:
        return []
    first = next(
        (k for k, (a, b) in enumerate(zip(visits, expected)) if a != b),
        min(len(visits), len(expected)),
    )
    return [
        f"visit list differs from the simulator at position {first} "
        f"({len(visits)} visits, expected {len(expected)})"
    ]

from __future__ import annotations

import checks
import gen

SPEC = gen.WaveSpec(
    n_links=20_000, n_hosts=200, dup=2.0, seen_share=0.25,
    forms=(55, 15, 20, 10), budget=10,
)
SEED = 3


def _perfect_rows():
    exp = gen.expected_wave(SPEC, SEED)
    x = gen.x_path(exp.targets, SPEC, gen.salts(SEED), gen.NumpyOps)
    rows = [
        (f"https://site{h}.test/a/{'x' if xp else 'p'}{t}", rank, hash((h, t)))
        for rank, (t, h, xp) in enumerate(zip(exp.targets, exp.hosts, x))
    ]
    return exp, rows


def test_expected_output_passes():
    exp, rows = _perfect_rows()
    assert checks.check_wave(rows, exp, SPEC, SEED) == []


def test_duplicate_rank_is_rejected():
    exp, rows = _perfect_rows()
    url, _, h = rows[1]
    rows[1] = (url, 0, h)
    assert any("dense" in p for p in checks.check_wave(rows, exp, SPEC, SEED))


def test_over_budget_host_is_rejected():
    exp, rows = _perfect_rows()
    full = next(h for h in set(exp.hosts.tolist()) if (exp.hosts == h).sum() == SPEC.budget)
    extra = [
        (f"https://site{full}.test/a/p{SPEC.n_targets + k}", len(rows) + k, -k - 1)
        for k in range(2)
    ]
    problems = checks.check_wave(rows + extra, exp, SPEC, SEED)
    assert any("over budget" in p for p in problems)


def test_seen_and_blocked_urls_are_rejected():
    exp, rows = _perfect_rows()
    s = gen.salts(SEED)
    import numpy as np

    t = np.arange(SPEC.n_targets)
    seen_t = int(t[gen.is_seen(t, SPEC, s, gen.NumpyOps)][0])
    seen_h = int(gen.host_of_target(np.array([seen_t]), SPEC, s, gen.NumpyOps)[0])
    url, rank, h = rows[-1]
    rows[-1] = (f"https://site{seen_h}.test/a/p{seen_t}", rank, h)
    assert any("pre-seen" in p for p in checks.check_wave(rows, exp, SPEC, SEED))
    rows[-1] = ("https://site10.test/a/x1", rank, h)
    assert any("robots" in p for p in checks.check_wave(rows, exp, SPEC, SEED))


def test_crawl_visit_mismatch_is_rejected():
    visits = [(0, "https://site0.test/a/d0"), (1, "https://site0.test/a/d5")]
    assert checks.check_crawl(visits, list(visits)) == []
    assert checks.check_crawl(visits, visits[:1] + [(1, "https://site0.test/a/d6")])

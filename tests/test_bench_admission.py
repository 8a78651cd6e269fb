"""Unit tests for bench.py's entry table, admission rule and scaling sizes.

Pure-Python (no SparkSession): the runner is driven with fake entries and
a fake clock, so the rule is checked exactly at its boundary.
"""

import bench

KEYS = [k for e in bench.ENTRIES for k in e.keys]


class FakeClock:
    """A clock that each fake entry advances by its realized wall."""

    def __init__(self, t=0.0):
        self.t = t

    def __call__(self):
        return self.t


def _run(entries, walls, budget=100.0):
    """run_plan over ``entries`` where entry ``name`` takes ``walls[name]``
    seconds; returns (names run, keys shed, ledger)."""
    clock, ran, shed, done = FakeClock(), [], [], []

    def run(e):
        ran.append(e.name)
        clock.t += walls[e.name]

    bench.run_plan(entries, run, done, shed, t0=0.0, budget=budget, clock=clock)
    return ran, shed, done


def _entry(name, est_s, reps=1, legs=()):
    return bench.Entry(name, est_s, reps, build=None, legs=legs)


def test_entry_plan_is_well_formed():
    assert len(set(KEYS)) == len(KEYS), "duplicate entry keys"
    names = [e.name for e in bench.ENTRIES]
    assert len(set(names)) == len(names)
    for e in bench.ENTRIES:
        assert e.est_s > 0 and e.reps >= 1, e.name
        assert callable(e.build), e.name
        assert len(e.legs) in (0, 2), e.name
    # the core set runs first, in its declared order
    assert tuple(names[: len(bench.CORE)]) == bench.CORE
    # the least predictable pair runs last
    assert bench.ENTRIES[-1].legs == ("ann1m_brute", "ann1m_ivf")
    # every recorded key has a documented range for within_calibrated_range
    assert set(KEYS) == set(bench.DOC_RANGES)
    for n, (lo, hi) in bench.DOC_RANGES.items():
        assert 0 < lo < hi, n


def test_bundles_reference_planned_entries():
    # a pair's legs are recorded keys of its own entry, with documented
    # ranges, adjacent in the plan so one admission decides both
    names = {e.name for e in bench.ENTRIES}
    for e in bench.ENTRIES:
        if not e.legs:
            continue
        a, b = e.legs
        assert a != b and a in KEYS and b in KEYS, e.name
        assert a in bench.DOC_RANGES and b in bench.DOC_RANGES, e.name
        assert not {a, b} & names, e.name
        assert KEYS.index(b) == KEYS.index(a) + 1, e.name


def test_admit_exactly_when_cost_fits():
    # elapsed 50 + ratio 2 x cost 25 == 100: fits at the boundary
    assert bench.admit(25.0, 2.0, now=150.0, t0=100.0, budget=100.0)
    assert not bench.admit(25.01, 2.0, now=150.0, t0=100.0, budget=100.0)
    assert not bench.admit(25.0, 2.0, now=150.01, t0=100.0, budget=100.0)
    assert bench.admit(50.0, 1.0, now=100.0, t0=100.0, budget=50.0)
    # core ignores the budget altogether
    assert bench.admit(1e9, 9.0, now=1e9, t0=0.0, budget=1.0, core=True)


def test_ratio_tracks_realized_over_estimated_wall():
    assert bench.realized_ratio([]) == 1.0
    assert bench.realized_ratio([(10.0, 20.0)]) == 2.0
    assert bench.realized_ratio([(10.0, 20.0), (30.0, 20.0)]) == 1.0
    # through the runner: a 10 s-estimated entry (cost 20) took 60 s
    _, _, done = _run([_entry("a", 10.0)], {"a": 60.0})
    assert done == [(20.0, 60.0)]
    assert bench.realized_ratio(done) == 3.0


def test_slow_window_sheds_what_a_ratio_of_one_would_admit():
    entries = [_entry("slow", 10.0), _entry("next", 10.0)]
    # at ratio 1 "next" (cost 20) fits: 20 elapsed + 20 <= 100
    ran, shed, _ = _run(entries, {"slow": 20.0, "next": 20.0})
    assert ran == ["slow", "next"] and shed == []
    # "slow" realized 3x: 60 elapsed + 3 x 20 > 100, so "next" is shed
    ran, shed, _ = _run(entries, {"slow": 60.0, "next": 20.0})
    assert ran == ["slow"] and shed == ["next"]
    # a shed entry does not stop the loop: a cheaper one behind it runs
    ran, shed, _ = _run(entries + [_entry("tiny", 1.0)],
                        {"slow": 60.0, "next": 20.0, "tiny": 1.0})
    assert ran == ["slow", "tiny"] and shed == ["next"]


def test_core_entries_never_shed():
    core = [_entry(n, 50.0, reps=3) for n in bench.CORE]
    tail = [_entry("tail", 0.1)]
    # every core entry alone blows the 10 s budget, and realizes 5x
    walls = dict.fromkeys(bench.CORE, 1000.0) | {"tail": 0.1}
    ran, shed, _ = _run(core + tail, walls, budget=10.0)
    assert ran == list(bench.CORE)
    assert shed == ["tail"]


def test_pair_admitted_or_shed_as_one():
    pair = _entry("p", 20.0, reps=2, legs=("p_a", "p_b"))
    ran, shed, _ = _run([pair], {"p": 60.0}, budget=60.0)
    assert ran == ["p"] and shed == []
    ran, shed, _ = _run([pair], {"p": 60.0}, budget=59.0)
    assert ran == [] and shed == ["p_a", "p_b"]


def test_clean_window_admits_everything():
    """When every entry (and both scaling pairs) takes exactly its
    estimate, the whole table fits the budget."""
    done = [(bench.PAIR_EST_S, bench.PAIR_EST_S)] * bench.SCALING_PAIRS
    walls = {e.name: e.est_s * (e.reps + 1) for e in bench.ENTRIES}
    clock0 = sum(w for _, w in done)
    clock, shed = FakeClock(clock0), []

    def run(e):
        clock.t += walls[e.name]

    bench.run_plan(bench.ENTRIES, run, done, shed, t0=0.0, clock=clock)
    assert shed == []
    assert clock.t <= bench.BUDGET_S


def test_scale_sizes_from_host():
    want = {0: None, 1: None, 3: None, 4: (1, 4), 7: (1, 4),
            8: (2, 8), 32: (2, 8), 96: (2, 8)}
    for cpus, sizes in want.items():
        assert bench.scale_sizes(cpus) == sizes, cpus
    for cpus in range(4, 129):
        n, n4 = bench.scale_sizes(cpus)
        assert 1 <= n <= 2 and n4 == 4 * n <= cpus, cpus

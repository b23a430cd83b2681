"""Seeded input generation: the same seed gives the same inputs."""

from perfbench import inputs


def _plan(seed, n):
    plan = inputs.IngestPlan(seed)
    return [plan.batch(i) for i in range(n)]


def test_same_seed_same_inputs():
    for seed in (0, 7):
        assert inputs.serve_queries(seed) == inputs.serve_queries(seed)
        pool = inputs.serve_queries(seed)
        assert (inputs.serve_check_sample(seed, pool)
                == inputs.serve_check_sample(seed, pool))
        assert inputs.scan_queries(seed) == inputs.scan_queries(seed)
        assert _plan(seed, 4) == _plan(seed, 4)


def test_other_seed_other_inputs():
    assert inputs.serve_queries(1) != inputs.serve_queries(2)
    assert inputs.scan_queries(1) != inputs.scan_queries(2)
    assert _plan(1, 2) != _plan(2, 2)


def test_scan_queries_target_every_band():
    for seed in range(5):
        scan = inputs.scan_queries(seed)
        assert {q["band"] for q in scan} == {"driver", "exact", "wand"}
        assert all(2 <= len(q["terms"]) <= 24 for q in scan)


def test_ingest_plan_keeps_ids_consistent():
    plan = inputs.IngestPlan(3)
    live = set(range(inputs.INGEST_DOCS))
    for i in range(4):
        b = plan.batch(i)
        assert b["kind"] == ("mixed" if i % 2 == 0 else "append")
        assert set(b["delete_ids"]) <= live
        assert not set(b["delete_ids"]) & set(b["add_ids"])
        live -= set(b["delete_ids"])
        live |= set(b["add_ids"])

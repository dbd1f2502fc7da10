import stats
import tracing
import workloads


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    assert stats.tail(list(range(11))) == (100 / 11, 0)


def test_tail_leaves_exactly_ten_beyond():
    values = list(range(100, 0, -1))  # order must not matter
    pct, v = stats.tail(values)
    assert pct == 90.0 and v == 90
    assert sum(x > v for x in values) == 10


def test_covered_merges_overlaps():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.covered([]) == 0
    assert tracing.clip([(0, 2), (3, 9)], 1, 4) == [(1, 2), (3, 4)]


def test_self_time_subtracts_children_once():
    S = tracing.Span
    spans = [S("op.x", 0.0, 10.0, None, "o", "g0"),
             S("a.one", 1.0, 4.0, 0, "o", "g1"),
             S("a.two", 3.0, 6.0, 0, "o", "g2"),
             S("b.leaf", 1.5, 2.0, 1, "o", "g3")]
    assert tracing.self_times(spans) == [5.0, 2.5, 3.0, 0.5]


def test_smooth_cycle_keeps_every_prefix_near_the_mix():
    mix = workloads.READ_MIX
    cycle = workloads.smooth_cycle(mix)
    total = sum(mix.values())
    assert {k: cycle.count(k) for k in mix} == mix
    for n in range(1, total + 1):
        for k, w in mix.items():
            assert abs(cycle[:n].count(k) - w * n / total) < 1


def test_benchmark_json_names_what_the_report_prints():
    import json
    import os

    import report

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {(m["name"], m["unit"]) for m in spec["per_layer"]} == \
        {(k, tags[0]) for k, tags in report.LAYER_TAGS.items()}
    assert {m["name"] for m in spec["end_to_end"]} == set(report.E2E_UNITS)
    assert all(m["unit"] == report.E2E_UNITS[m["name"]] for m in spec["end_to_end"])


def test_process_tree_sampling_sees_this_process():
    import os

    import procrss

    assert os.getpid() in procrss.tree_pids(os.getpid())
    assert procrss.tree_rss_bytes(os.getpid()) > 0
    sum(i * i for i in range(200_000))  # burn a little CPU
    total = procrss.tree_cpu_s(os.getpid())
    assert 0 < procrss.tree_cpu_s(os.getpid(), skip_jit=True) <= total + 0.05

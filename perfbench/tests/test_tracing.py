import math

import pytest

import tracing
from tracing import Span


def span(i, parent, start, end, layer="x"):
    return Span(i, parent, "pass0", f"s{i}", layer, start, end)


def test_covered_merges_and_clips():
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(1, 3), (2, 5)], 0, 10) == 4
    assert tracing.covered([(1, 2), (4, 6)], 0, 10) == 3
    assert tracing.covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert tracing.covered([(12, 15)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(1, None, 0.0, 10.0, "slot"),
        span(2, 1, 1.0, 4.0, "plan"),
        span(3, 1, 3.0, 7.0, "exec"),  # overlaps the plan child
        span(4, 3, 5.0, 6.0, "artifact"),
    ]
    st = tracing.self_times(spans)
    assert math.isclose(st[1], 10.0 - 6.0)
    assert math.isclose(st[2], 3.0)
    assert math.isclose(st[3], 4.0 - 1.0)
    assert math.isclose(st[4], 1.0)
    # plan and exec overlap by 1 s, which each counts as its own
    assert math.isclose(sum(st.values()), 10.0 + 1.0)


def test_layer_self_time_sums_by_layer():
    spans = [span(1, None, 0, 4, "a"), span(2, 1, 1, 2, "b"), span(3, None, 10, 12, "a")]
    assert tracing.layer_self_time(spans) == {"a": 5.0, "b": 1.0}


def test_tracer_nests_and_shares_pass_id(tmp_path):
    tr = tracing.Tracer()
    tr.pass_id = "pass7"
    with tr.span("slot", "operators"):
        with tr.span("plan", "operators.plan"):
            pass
        with tr.span("exec", "operators.exec"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["plan"].parent == by_name["slot"].id
    assert by_name["exec"].parent == by_name["slot"].id
    assert {s.pass_id for s in tr.spans} == {"pass7"}
    out = tmp_path / "spans.json"
    tr.dump(str(out))
    assert out.read_text().startswith("[")


def test_artifact_probe_counts_hits_and_builds(monkeypatch):
    from pim_orc_spark import artifacts

    calls = {}

    def fake_cached(family, spark, sf_dir, build, probe=None):
        if family not in calls:
            calls[family] = build()
        return calls[family]

    monkeypatch.setattr(artifacts, "cached_artifact", fake_cached)
    tr = tracing.Tracer()
    probe = tracing.ArtifactProbe(tr)
    probe.install()
    try:
        assert artifacts.cached_artifact("fam", None, "/d", lambda: 41) == 41
        assert artifacts.cached_artifact("fam", None, "/d", lambda: 42) == 41
    finally:
        probe.uninstall()
    assert artifacts.cached_artifact is fake_cached
    assert (probe.hits, probe.builds) == (1, 1)
    assert probe.build_s >= 0
    assert [s.layer for s in tr.spans] == ["artifacts"]


def test_artifact_probe_propagates_build_errors(monkeypatch):
    from pim_orc_spark import artifacts

    monkeypatch.setattr(artifacts, "cached_artifact", lambda f, s, d, build, probe=None: build())
    probe = tracing.ArtifactProbe()
    probe.install()
    try:
        with pytest.raises(RuntimeError):
            artifacts.cached_artifact("fam", None, "/d", lambda: (_ for _ in ()).throw(RuntimeError()))
    finally:
        probe.uninstall()

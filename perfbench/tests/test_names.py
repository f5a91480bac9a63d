import json
import os

import stats
from conftest import REPO_ROOT

SPEC = os.path.join(REPO_ROOT, "BENCHMARK.json")


def load_spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_name_and_unit_rules():
    for ok in ("pass_s", "exec.scan_ms", "q01-flagship", "9lives", "a" * 64):
        assert stats.valid_name(ok), ok
    for bad in ("", "_lead", ".lead", "has space", "a" * 65, "slash/no"):
        assert not stats.valid_name(bad), bad
    for ok in ("ms", "s", "1/s", "count", "%", "MB"):
        assert stats.valid_unit(ok), ok
    for bad in ("", "m s", "x" * 17, "ms;"):
        assert not stats.valid_unit(bad), bad


def test_spec_matches_the_runner():
    import run
    from workloads import WORKLOADS

    spec = load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_spec_names_are_valid_and_unique():
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.valid_unit(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])

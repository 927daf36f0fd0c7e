import json

import pytest

import compare


def _result(pass_s, nproc=4, workload="batch"):
    return {
        "workload": workload, "trace": 0, "setup_s": 30.0,
        "box": {"nproc": nproc, "spark_graft_cpus": str(nproc)},
        "pass_s": {"p50": pass_s}, "item_s": {"geomean": pass_s / 8},
    }


BOUNDS = {
    "setup_s": {"better": "lower", "bound": 0.25},
    "pass_s": {"better": "lower", "bound": 0.2},
    "item_s.geomean": {"better": "lower", "bound": 0.2},
}


def test_different_core_counts_are_refused(tmp_path, capsys):
    paths = []
    for i, r in enumerate([_result(4.0), _result(4.1, nproc=8)]):
        p = tmp_path / f"r{i}.json"
        p.write_text(json.dumps(r))
        paths.append(str(p))
    assert compare.main(["--base", paths[0], "--new", paths[1]]) == 2
    assert "refused" in capsys.readouterr().err
    assert compare._same_setup([_result(4.0), _result(4.0, workload="pipeline_stream")])


def test_verdicts():
    base = [_result(x) for x in (4.0, 4.1, 4.2, 3.9)]
    rows = {r["metric"]: r for r in compare.compare(base, [_result(5.5)] * 4, BOUNDS)}
    assert rows["pass_s"]["verdict"] == "worse"
    assert rows["pass_s"]["change"] == pytest.approx(5.5 / 4.05 - 1)
    assert rows["setup_s"]["verdict"] == "within bound"
    rows = {r["metric"]: r for r in compare.compare(base, [_result(3.0)] * 4, BOUNDS)}
    assert rows["pass_s"]["verdict"] == "better"
    # A gain inside the base runs' own spread is not a gain.
    rows = {r["metric"]: r for r in compare.compare(base, [_result(x) for x in (4.0, 4.02)], BOUNDS)}
    assert rows["pass_s"]["change"] < 0 and rows["pass_s"]["verdict"] == "within bound"
    noisy = [_result(x) for x in (2.0, 4.0, 6.0, 8.0)]
    rows = {r["metric"]: r for r in compare.compare(noisy, [_result(5.0)] * 4, BOUNDS)}
    assert rows["pass_s"]["verdict"] == "unresolved"

"""Unit tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import shutil

import pytest

import chain
import checks
import run
import stats
import workloads
from tracer import Span, Tracer


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def test_fixtures_are_byte_identical_per_seed(tmp_path):
    chain.write_fixtures(5, tmp_path / "a", 3)
    chain.write_fixtures(5, tmp_path / "b", 3)
    chain.write_fixtures(6, tmp_path / "c", 3)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_fixture_layout_covers_every_block_and_log_window(tmp_path):
    chain.write_fixtures(1, tmp_path, 2)
    head = chain.head(2)
    names = set(os.listdir(tmp_path))
    for n in range(head + 1):
        assert f"eth_getBlockByNumber_{hex(n)}.json" in names
        assert f"trace_block_{hex(n)}.json" in names
    for lo in range(0, head + 1, chain.RANGE_SIZE):
        assert f"eth_getLogs_{lo}-{lo + chain.RANGE_SIZE}.json" in names
    block = json.loads((tmp_path / "eth_getBlockByNumber_0x1.json").read_text())
    assert block["transactions"] and all("gasPrice" in t for t in block["transactions"])


def test_balance_model_floors_at_zero_and_keeps_reverted_addresses(tmp_path):
    model = chain.write_fixtures(2, tmp_path, 2)
    balances = model.balances(chain.head(2))
    assert min(balances.values()) == 0.0
    assert max(balances.values()) > 0.0
    reverted = set()
    for n in range(1, chain.head(2) + 1):
        for t in json.loads((tmp_path / f"trace_block_{hex(n)}.json").read_text()):
            if t.get("error"):
                reverted.update(v for k, v in t["action"].items() if k in ("from", "to"))
    assert reverted and reverted <= set(balances)
    token = model.tokens[0][0]
    assert abs(sum(model.token_balances(chain.head(2), token).values())) < 1e-6


def test_registry_inputs_match_their_checksums(tmp_path):
    from ethereum_analytical_db_spark.plans.registry import TABLE_NAMES

    checks.verify_inputs(workloads.SF_DIR)
    names = {n[: -len(".parquet")] for n in os.listdir(workloads.SF_DIR)
             if n.endswith(".parquet")}
    assert names == set(TABLE_NAMES)
    copy = tmp_path / "sf"
    shutil.copytree(workloads.SF_DIR, copy)
    with open(copy / "region.parquet", "ab") as f:
        f.write(b"\0")
    with pytest.raises(ValueError, match="region.parquet"):
        checks.verify_inputs(str(copy))


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 20)]  # 19 samples: 9 above the median
    assert stats.percentile(xs, 50) is None
    xs.append(20.0)  # 20 samples: 10 above the 10th value
    assert stats.percentile(xs, 50) == 10.0
    assert stats.percentile(xs, 75) is None
    assert stats.highest_percentile(xs) == (50, 10.0)
    many = [float(i) for i in range(1, 101)]
    assert stats.highest_percentile(many) == (90, 90.0)
    assert stats.beyond(100, 90) == 10
    assert stats.highest_percentile(xs[:5]) is None


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_self_time_subtracts_covered_children_once():
    # children overlap each other and stick out of the parent
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (-1.0, 0.5)]
    assert stats.covered(children, 0.0, 10.0) == pytest.approx(0.5 + 3.0 + 1.0)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(5.5)
    assert stats.self_time(0.0, 10.0, []) == 10.0


def test_tracer_self_times_follow_parents():
    t = Tracer(True)
    with t.span("pass", request="r") as outer:
        with t.span("query") as inner:
            pass
    assert inner.parent == outer.id and inner.request == "r"
    t.spans = [
        Span(0, "pass", 0.0, 10.0, None, "r"),
        Span(1, "query", 1.0, 4.0, 0, "r"),
        Span(2, "plans.build", 1.0, 2.0, 1, "r"),
    ]
    assert t.self_times() == {0: 7.0, 1: 2.0, 2: 1.0}


class _Counters:
    pass


def _fake_pass(n: int) -> dict:
    acc = workloads.new_acc()
    acc.update(build_s=1.0, collect_s=2.0, rows=10, lat=[0.3] * n, pass_s=4.0)
    acc["build_jobs"] = {"jobs": 1, "stages": 1, "tasks": 4}
    acc["exec_jobs"] = {"jobs": 2, "stages": 3, "tasks": 12}
    return acc


@pytest.mark.parametrize("trace", [0, 1])
def test_reported_metrics_match_benchmark_json(trace):
    b = workloads.Bench("unused", 1, 1.0, bool(trace), 4)
    if trace:
        b.counters = _Counters()
    b._setup_s = 1.0
    b.layer["session.start_s"] = 2.0
    b.warm_up(lambda tag: None)
    b.e2e["rate_per_s"] = 1.0
    if trace:
        b.layer["session.jvm_peak_rss_mb"] = 100.0
    workloads.summarize(b, [_fake_pass(7), _fake_pass(7)])
    assert b.extra["samples"] == 14
    assert b.e2e["latency_p50_s"] == pytest.approx(0.3)
    assert b.e2e["setup_s"] >= 1.0
    measured = b.layer if trace else b.e2e
    assert set(measured) == set(run.declared()[trace])


def test_benchmark_json_names_are_unique_and_read_queries_exist():
    from ethereum_analytical_db_spark.plans.registry import all_queries

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(workloads.READ_QUERIES) <= set(all_queries())

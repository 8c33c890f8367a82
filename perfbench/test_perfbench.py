"""Fast self-tests of the benchmark (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import checks
import gen
import run
import tracing

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- generators -------------------------------------------------------------

def test_code_batch_is_deterministic_per_seed():
    a_files, a_planted = gen.code_batch(7, "0", 200)
    b_files, b_planted = gen.code_batch(7, "0", 200)
    c_files, _ = gen.code_batch(8, "0", 200)
    assert a_files.equals(b_files) and a_planted == b_planted
    assert not a_files.content.equals(c_files.content)


def test_code_batch_plants_the_documented_classes():
    files, planted = gen.code_batch(3, "0", 200)
    assert (files.lang == "binary").sum() == 10          # one per block
    assert len(planted) == 190
    boiler = [i for i, c in planted.items() if c == gen.BOILERPLATE_CLUSTER]
    assert len(boiler) == 20                             # n / 10 members
    for j in (*gen.EXACT, *gen.CONTAINER):
        src = gen.SOURCE[j]
        row, base = files.content[j], files.content[src]
        assert base in row and planted[j] == src


def test_dnsbl_feeds_are_deterministic_and_prune_about_29_percent():
    a = gen.dnsbl_feeds(5, 4, 5000)
    assert a == gen.dnsbl_feeds(5, 4, 5000)
    assert a != gen.dnsbl_feeds(6, 4, 5000)
    n = sum(map(len, a))
    kept = len(checks.dnsbl_survivors(a, prune_regex=True))
    assert 0.25 < 1 - kept / n < 0.33


# --- domain-mode oracle on the FIXTURES.md section 1 hand cases -------------

def _feed(rows):
    return [gen.feed_line(d, s, "l") for d, s in rows]


def test_oracle_hand_cases():
    keys = checks.dnsbl_survivors([_feed(gen.HAND_CASES)], prune_regex=False)
    kept = {ln for _, ln in keys}
    # dup #2, a.b.x-full (under FULL x-full), c.d.y-full (wiped by the later
    # FULL y-full), weak upgrade.com and weak downgr.com are dropped
    assert kept == {1, 3, 6, 7, 8, 9, 10, 11, 13, 14, 16}


def test_oracle_is_order_independent_across_feeds():
    a = [_feed([("x.com", 1)]), _feed([("a.b.x.com", 0)])]
    b = [_feed([("a.b.x.com", 0)]), _feed([("x.com", 1)])]
    assert checks.dnsbl_survivors(a, False) == {(0, 1)}
    assert checks.dnsbl_survivors(b, False) == {(1, 1)}


def test_oracle_ignores_malformed_rows_and_reads_six_columns_as_weak():
    lines = [
        ",five.com,,0,l",                        # 5 columns
        ",multi.com,,0,l,g,12",                  # strength out of range
        "," + "a" * 256 + ".com,,0,l,g,0",       # label over 255 bytes
        ",six.com,,0,l,g",                       # 6 columns: weak
        ",six.com,,0,l,g,1",                     # upgrade wins
    ]
    assert checks.dnsbl_survivors([lines], False) == {(0, 5)}


def test_oracle_regex_kill_and_byte_identical_output():
    feeds = [_feed([(r"^ad[0-9]+\.", 2), ("ad1.x.com", 0), ("ok.x.com", 0)])]
    assert checks.dnsbl_survivors(feeds, False) == {(0, 1), (0, 2), (0, 3)}
    assert checks.dnsbl_survivors(feeds, True) == {(0, 1), (0, 3)}
    out = checks.dnsbl_expected_outputs(feeds, True)
    assert out == [(feeds[0][0] + "\n" + feeds[0][2] + "\n").encode()]


def test_oracle_empty_feed():
    assert checks.dnsbl_expected_outputs([[], _feed([("a.com", 0)])], True) == [
        b"", (gen.feed_line("a.com", 0, "l") + "\n").encode()]


# --- code-mode check --------------------------------------------------------

def test_cluster_check_on_a_toy_cluster_map():
    planted = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    assert checks.cluster_check(planted, {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}) == (1.0, 0)
    # row 2 split off: one of three planted pairs lost
    assert checks.cluster_check(planted, {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 4}) == (2 / 3, 0)
    # planted clusters 3 and 4 merged: one mixed final cluster
    assert checks.cluster_check(planted, {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}) == (1.0, 1)
    # a row missing from the output is separated from its cluster
    assert checks.cluster_check(planted, {0: 0, 1: 0, 3: 3, 4: 4, 5: 4}) == (2 / 3, 0)


def test_xxh64_reference_vectors_and_row_uid():
    assert checks.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert checks.xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert checks.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    # pinned from Spark's xxhash64("org1/repo1", "src/a.py", "abc")
    assert checks.row_uid("org1/repo1", "src/a.py", "abc") == 7386126375017237546


# --- metrics ----------------------------------------------------------------

def test_benchmark_json_names_units_and_shape():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME_RE.match(m["name"]) and UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in s["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert {w["name"] for w in s["workloads"]} == set(run.WORKLOADS)
    for w in s["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_run_emits_exactly_the_declared_metrics():
    s = spec()
    ops = [{"ok": True, "wall_s": 2.0, "rows": 10, "recall": 1.0,
            "peak_rss_mb": 100.0}]
    e2e = run.end_to_end_metrics([1.0, 2.0, 3.0], 4.0, ops)
    assert set(e2e) == {m["name"] for m in s["end_to_end"]}
    assert e2e["rows_per_s"] == 5.0 and e2e["setup_s"] == 6.0

    class Tracer:
        self_s, rows, fn_rows, wall_s, window_ms = {}, {}, {}, 1.0, (0, 1000)

    vals = run.layer_metrics(Tracer(), {None: []}, 1.0, {})
    vals["pipeline.leaked_rdds"] = 0
    assert set(vals) == {m["name"] for m in s["per_layer"]}
    assert set(run.metric_units()) == set(vals) | set(e2e)


def test_busy_ms_is_the_union_of_job_intervals():
    assert tracing.busy_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert tracing.busy_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert tracing.busy_ms([], 0, 10) == 0


def test_event_log_metrics_per_layer(tmp_path):
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 7,
         "metricType": "size"},
        {"name": "time to run Python workers", "accumulatorId": 8,
         "metricType": "timing"}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {tracing.OP_PROP: "t0",
                                          tracing.LAYER_PROP: "signatures"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [1], "Properties": {tracing.OP_PROP: "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 1500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2e6}},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "3000000"},
                                        {"ID": 8, "Update": "250"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 9999}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    m = tracing.event_log_metrics(str(tmp_path), "t0")
    assert m[None] == [(1000, 3000)]
    sig = m["signatures"]
    assert sig["jobs"] == 1 and sig["task_s"] == 1.5
    assert sig["shuffle_write_mb"] == 2.0 and sig["py_sent_mb"] == 3.0
    assert sig["py_run_s"] == pytest.approx(0.25)

"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
import sanctions_gen as gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

from sanctions_data_pipeline_spark.data.fixtures import fixture_path  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed():
    spec = gen.FeedSpec(n_entities=300)
    a = gen.render(gen.draw_units(5, spec))
    assert a == gen.render(gen.draw_units(5, spec))
    assert a != gen.render(gen.draw_units(6, spec))
    units = gen.draw_units(5, spec)
    assert len(gen.expected_rows(units)) == 300
    assert len({u.token for u in units}) == len(units)


def test_generator_settings_shape_the_feed():
    units = gen.draw_units(1, gen.FeedSpec(n_entities=4000, dup_share=0.5,
                                           non_latin_share=0.2,
                                           pdf_coverage=0.0))
    rows = gen.expected_rows(units)
    dup = sum(2 for u in units if u.kind == "maria") / len(rows)
    assert 0.45 < dup < 0.55
    assert not any(u.in_pdf for u in units)
    assert all(r[gen.COLUMNS.index("REM2")] == "" for r in rows)


def test_one_copy_of_each_template_is_the_fixture_and_its_golden_rows():
    import duckdb

    from sanctions_data_pipeline_spark.plans import registry

    units = gen.fixture_units()
    xml, text = gen.render(units)
    with open(fixture_path("feed.xml"), encoding="utf-8") as fh:
        assert xml == fh.read()
    with open(fixture_path("travel_ban.txt"), encoding="utf-8") as fh:
        assert text == fh.read()
    golden = duckdb.sql(registry.oracle_sql()["pipeline_e2e"])
    assert golden.columns == gen.COLUMNS
    assert sorted(golden.fetchall()) == sorted(gen.expected_rows(units))


def test_every_named_metric_is_emitted_and_well_formed():
    spec = _spec()
    name_re = re.compile(r"[A-Za-z0-9_.-]+")
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert all(name_re.fullmatch(n) and len(n) <= 64 for n in e2e + layer)
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert e2e == list(run.END_TO_END)
    assert {m["unit"] for m in spec["end_to_end"]} == set(run.END_TO_END.values())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert layer == spans.metric_names(run.all_queries())
    # the traced computation fills exactly those names
    tr = spans.Tracer()
    with tr.span("dd_exact"):
        with tr.span("dd_exact.build"):
            with tr.span("plans.helpers"):
                tr.count_py4j()
    out = spans.layer_metrics(tr, {}, {}, 1, 4, 0.0, 1.0, run.all_queries())
    assert list(out) == layer
    assert out["plans.helpers.py4j_calls"] == 1
    assert out["build.py4j_calls"] == 1


def test_self_time_subtracts_the_union_of_children():
    def sp(i, start, end, parent):
        return spans.Span(f"s{i}", start, end, parent=parent, idx=i)
    tree = [
        sp(0, 0.0, 10.0, None),
        sp(1, 1.0, 4.0, 0),
        sp(2, 3.0, 6.0, 0),     # overlaps s1: union 1..6 = 5
        sp(3, 8.0, 12.0, 0),    # runs past its parent: only 8..10 counts
        sp(4, 1.5, 2.0, 1),
    ]
    st = spans.self_times(tree)
    assert st[0] == 10.0 - 5.0 - 2.0
    assert st[1] == 3.0 - 0.5
    assert st[2] == 3.0
    assert st[4] == 0.5


def test_event_log_parse_and_job_attribution(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "p0|q|build"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5500,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 400, "Executor CPU Time": 3e8,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20}}},
    ]
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs, stages = spans.read_event_log(str(tmp_path))
    tr = spans.Tracer()
    tr.spans = [spans.Span("dd_exact.build", 1.0, 3.0, idx=0),
                spans.Span("operators.dedup", 1.2, 2.9, parent=0, idx=1),
                spans.Span("dd_exact.exec", 5.0, 7.0, idx=2)]
    out = spans.layer_metrics(tr, jobs, stages, 1, 4, 0.0, 6.0, ["dd_exact"])
    assert out["build.jobs"] == 1 and out["build.job_s"] == 1.0
    assert out["operators.dedup.jobs"] == 1
    assert out["exec.jobs"] == 1 and out["exec.tasks"] == 1
    assert out["exec.shuffle_write_mb"] == 1.0
    assert out["dd_exact.exec_s"] == 2.0


def test_rows_hash_ignores_order():
    assert workloads.rows_hash([(1, "a"), (2, "b")]) == \
        workloads.rows_hash([(2, "b"), (1, "a")])
    assert workloads.rows_hash([(1, "a")]) != workloads.rows_hash([(1, "b")])

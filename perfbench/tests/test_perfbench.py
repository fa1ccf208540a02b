"""The benchmark's own tests; no JVM is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import time

import pytest

from perfbench import inputs
from perfbench.trace import (
    Tracer,
    job_count,
    parse_event_log,
    shuffle_stage_count,
    spark_metrics,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def recorded_log():
    # Recorded from a local[2] session: span 1 "op" with children 2
    # "python_map" (identity mapInArrow to the noop sink, two tasks) and 3
    # "shuffle" (groupBy().count().collect() under AQE: a map job, then a
    # job that reuses its shuffle), followed by an untagged count().
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        return parse_event_log(fh)


def test_event_log_jobs_hang_under_their_spans(recorded_log):
    spans = {j.id: j.span for j in recorded_log.jobs.values()}
    assert spans == {0: 2, 1: 3, 2: 3, 3: None, 4: None}
    assert job_count(recorded_log, {1, 2, 3}) == 3
    assert job_count(recorded_log, {2}) == 1


def test_event_log_metrics(recorded_log):
    m = spark_metrics(recorded_log, {1, 2, 3})
    # the skipped stage (reused shuffle output) has no tasks and no count
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (3, 3, 5)
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"] == 770
    assert m["spark.executor_run_s"] > 0 and m["spark.executor_cpu_s"] > 0
    assert m["spark.python_task_skew"] >= 1.0
    assert recorded_log.stages[0].python and not recorded_log.stages[1].python
    assert shuffle_stage_count(recorded_log, {3}) == 1
    assert shuffle_stage_count(recorded_log, {2}) == 0


def test_event_log_skips_blank_lines_and_untagged_jobs():
    log = parse_event_log(
        [
            "",
            json.dumps({"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [1],
                        "Properties": {}, "Stage Infos": []}),
        ]
    )
    assert log.jobs[7].span is None
    assert spark_metrics(log, {1})["spark.jobs"] == 0


def test_tracer_parents_and_self_time():
    tr = Tracer()
    with tr.span("op") as op:
        with tr.span("a"):
            time.sleep(0.01)
        with tr.span("b") as b:
            with tr.span("c"):
                pass
    assert [(s.id, s.parent, s.name) for s in tr.spans] == [
        (1, None, "op"), (2, 1, "a"), (3, 1, "b"), (4, 3, "c"),
    ]
    assert tr.descendants(op.id) == {1, 2, 3, 4}
    assert tr.descendants(b.id) == {3, 4}
    assert 0 <= tr.self_seconds(op) < op.seconds - 0.01


def test_benchmark_spec_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])


def _tree(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), root)] = fh.read()
    return out


def test_file_set_is_deterministic_per_seed(tmp_path):
    a = inputs.write_file_set(str(tmp_path / "a"), 30, seed=5)
    time.sleep(2.1)  # zip timestamps tick every 2 s
    b = inputs.write_file_set(str(tmp_path / "b"), 30, seed=5)
    c = inputs.write_file_set(str(tmp_path / "c"), 30, seed=6)
    assert _tree(a.root) == _tree(b.root)
    assert _tree(a.root) != _tree(c.root)
    assert len(a.paths) == 30 and len(a.corrupt) == 2


def test_planted_corrupt_files_fail_to_parse_and_the_rest_parse(tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.sources.file_ingest import (
        bytes_to_spans,
    )

    files = inputs.write_file_set(str(tmp_path), 40, seed=1)
    for path in files.paths:
        with open(path, "rb") as fh:
            data = fh.read()
        if path in files.corrupt:
            with pytest.raises(Exception):
                bytes_to_spans(path, data)
        else:
            assert bytes_to_spans(path, data)[1]


def test_curation_and_near_dup_inputs_are_deterministic_per_seed():
    assert inputs.curation_corpus(60, 3) == inputs.curation_corpus(60, 3)
    assert inputs.curation_corpus(60, 3).rows != inputs.curation_corpus(60, 4).rows
    assert inputs.near_dup_inputs(50, 20, 3) == inputs.near_dup_inputs(50, 20, 3)
    nd = inputs.near_dup_inputs(50, 20, 4)
    assert nd != inputs.near_dup_inputs(50, 20, 3)
    assert len(nd.planted) == 2 and set(nd.planted) <= {d for d, _ in nd.batch}


def test_planted_near_dups_have_distinct_sources():
    for seed in range(40):
        nd = inputs.near_dup_inputs(300, 60, seed)
        assert len(set(nd.planted.values())) == len(nd.planted) == 6


def test_file_sets_of_different_seeds_hold_the_same_work(tmp_path):
    a = inputs.write_file_set(str(tmp_path / "a"), 40, seed=1)
    b = inputs.write_file_set(str(tmp_path / "b"), 40, seed=2)
    assert {f: len(p) for f, p in a.by_format.items()} == {
        f: len(p) for f, p in b.by_format.items()
    }
    pdf_bytes = [sum(os.path.getsize(p) for p in s.by_format["pdf"]) for s in (a, b)]
    assert abs(pdf_bytes[0] - pdf_bytes[1]) < 0.03 * pdf_bytes[0]

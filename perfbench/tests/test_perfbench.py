"""Tests for the benchmark itself: generator determinism, output checks
that fail on planted faults, event-log folding on a small recorded log,
and the span tracer. Pure Python — no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import types

import checks
import eventlog
import gen
import spans
import tpch

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = gen.Size(patients=40, enc_per_patient=3, lines_per_file=50)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _export(tmp_path, name: str, seed: int) -> tuple[gen.Expect, str]:
    root = str(tmp_path / name)
    salt = gen.write_codebook(os.path.join(root, "phi"), seed)
    exp = gen.initial_export(os.path.join(root, "input"), seed, SMALL, salt)
    return exp, root


def _lake(exp: gen.Expect) -> list[tuple[str, str, str]]:
    """A correct encounter table, as (id, lastUpdated, status) rows."""
    return [(gen.anon_id(exp.salt, e), lu, st) for e, (lu, st) in exp.rows.items()]


def _lake_json(exp: gen.Expect) -> list[str]:
    return [
        json.dumps({"id": i, "meta": {"lastUpdated": lu}, "status": st,
                    "subject": {"reference": "Patient/" + gen.anon_id(exp.salt, exp.subject[e])}})
        for e, (lu, st) in exp.rows.items()
        for i in [gen.anon_id(exp.salt, e)]
    ]


# ---- generator

def test_same_seed_gives_identical_inputs(tmp_path):
    a, ra = _export(tmp_path, "a", 7)
    b, rb = _export(tmp_path, "b", 7)
    assert _tree(ra) == _tree(rb)
    assert a.salt == b.salt and a.rows == b.rows and a.quarantined == b.quarantined
    c, rc = _export(tmp_path, "c", 8)
    assert _tree(rc) != _tree(ra) and c.salt != a.salt


def test_generator_records_traffic_and_expectations(tmp_path):
    exp, root = _export(tmp_path, "a", 3)
    for key in ("resources", "input_lines", "input_bytes", "resent_older_share",
                "resent_newer_share", "truncated_share", "wrong_type_share",
                "foreign_type_share", "tombstone_share"):
        assert key in exp.dims
    assert exp.input_bytes == sum(len(v) for k, v in _tree(os.path.join(root, "input")).items())
    assert exp.quarantined and exp.lookup_ids
    answers = exp.lake_answers()
    assert sum(answers["enc_per_year"].values()) == len(exp.rows)
    assert sum(answers["enc_per_subject"].values()) == len(exp.rows)
    # tombstoned ids are gone from the expectation but were in the export
    text = b"".join(_tree(os.path.join(root, "input")).values()).decode()
    dead = [e for e in exp.year if e not in exp.rows]
    assert dead and all(f'"id":"{e}"' in text for e in dead)


def test_tpch_tables_are_deterministic(tmp_path):
    tpch.generate(str(tmp_path / "a"), 5)
    tpch.generate(str(tmp_path / "b"), 5)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))


# ---- output checks on planted faults

def test_correct_lake_passes(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    assert checks.check_lake_rows(_lake(exp), exp) == []
    assert checks.check_no_phi(_lake_json(exp), exp) == []
    assert checks.check_completion([r[0] for r in _lake(exp)], ["encounter"], exp) == []
    assert checks.check_quarantine(list(exp.quarantined), len(exp.quarantined), exp) == []


def test_lake_missing_one_row_fails(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    assert checks.check_lake_rows(_lake(exp)[1:], exp)
    assert checks.check_completion([r[0] for r in _lake(exp)][1:], ["encounter"], exp)


def test_lake_with_stale_or_duplicate_row_fails(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    rows = _lake(exp)
    stale = [(rows[0][0], "2000-01-01T00:00:00Z", rows[0][2])] + rows[1:]
    assert checks.check_lake_rows(stale, exp)
    assert checks.check_lake_rows(rows + rows[:1], exp)


def test_lake_with_raw_id_or_phi_fails(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    rows = _lake_json(exp)
    real = next(iter(exp.rows))
    assert checks.check_no_phi(rows + [json.dumps({"id": real})], exp)
    assert checks.check_no_phi(
        rows + [json.dumps({"subject": {"reference": "Patient/pat-000001"}})], exp)
    birth = next(p for p in exp.phi if len(p) == 10 and p[4] == "-")
    assert checks.check_no_phi(rows + [json.dumps({"birthDate": birth})], exp)
    zip5 = next(p for p in exp.phi if len(p) == 5 and p.isdigit())
    assert checks.check_no_phi(rows + [json.dumps({"postalCode": zip5})], exp)


def test_missing_quarantined_line_fails(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    bad = list(exp.quarantined)
    assert checks.check_quarantine(bad[1:], len(bad), exp)
    assert checks.check_quarantine(bad, len(bad) - 1, exp)


def test_catalog_signature_change_fails():
    assert checks.check_signatures({"q": [(10, "123"), (10, "123")]}) == []
    assert checks.check_signatures({"q": [(10, "123"), (10, "124")]})
    assert checks.check_signatures({"q": [(10, "123"), (9, "123")]})


def test_answer_mismatch_fails(tmp_path):
    exp, _ = _export(tmp_path, "a", 1)
    want = exp.lake_answers()["enc_per_year"]
    assert checks.check_answer("enc_per_year", dict(want), want) == []
    off = dict(want)
    off[next(iter(off))] += 1
    assert checks.check_answer("enc_per_year", off, want)


def test_error_lines_read_from_spark_json_parts(tmp_path):
    d = tmp_path / "errors"
    d.mkdir()
    (d / "part-00000-x.json").write_text(
        json.dumps({"raw_line": "{bad", "source_file": "f"}) + "\n")
    (d / ".part-00000-x.json.crc").write_text("ignored")
    (d / "_SUCCESS").write_text("")
    assert checks.read_error_lines(str(d)) == ["{bad"]


# ---- event log

def test_eventlog_folds_jobs_onto_span_tags():
    totals = eventlog.by_span(eventlog.read_events(os.path.join(HERE, "small_eventlog.jsonl")))
    # span 0: a count over a text read unioned with itself (two scans)
    assert totals[0].jobs == 2 and totals[0].sql_executions == 1
    assert totals[0].text_scans == 2 and totals[0].bytes_read > 0
    # span 1: a grouped count over 4 partitions shuffles
    assert totals[1].shuffle_write_bytes > 0 and totals[1].text_scans == 0
    assert totals[1].task_skew_max >= 1.0
    # the tracer's own jobs and untagged jobs stay apart
    assert totals[spans.TRACE_SID].jobs == 2
    assert totals[None].jobs == 1
    assert sum(t.tasks for t in totals.values()) == 15


def test_eventlog_places_untagged_jobs_by_time():
    events = list(eventlog.read_events(os.path.join(HERE, "small_eventlog.jsonl")))
    untagged = next(e for e in events if e["Event"] == "SparkListenerJobStart"
                    and "spark.job.description" not in e["Properties"])
    at = untagged["Submission Time"]
    totals = eventlog.by_span(events, windows=[(7, at - 10, at + 10_000), (8, at - 5, at + 5)])
    assert None not in totals or totals[None].jobs == 0
    assert totals[8].jobs == 1  # the innermost (latest-opened) window wins


def test_skew_is_worst_stage_max_over_median():
    t = eventlog.Totals()
    t.stage_tasks[1] = [10, 10, 40]
    t.stage_tasks[2] = [5]
    assert t.task_skew_max == 4.0


# ---- tracer

def test_tracer_records_nested_spans_and_restores():
    mod = types.SimpleNamespace()
    calls = []

    def inner(x):
        calls.append(x)
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    tr = spans.Tracer()
    tr.patch(mod, "inner", "layer.inner")
    tr.patch(mod, "outer", "layer.outer", after=lambda sp, args: sp.extra.update(n=args[0]))
    assert mod.outer(3) == 8 and calls == [3]
    o, i = tr.spans_named("layer.outer")[0], tr.spans_named("layer.inner")[0]
    assert i.parent == o.sid and o.parent is None
    assert o.extra == {"n": 3} and o.seconds >= i.seconds >= 0
    assert tr.subtree(o.sid) == [o.sid, i.sid]
    tr.uninstall()
    assert mod.inner is inner and mod.outer is outer


def test_untimed_bookkeeping_is_taken_out_of_open_spans():
    import time

    tr = spans.Tracer()
    with tr.span("a") as a:
        with tr.untimed():
            time.sleep(0.05)
    assert a.untimed >= 0.05 and a.seconds < a.end - a.start


def test_parse_tag():
    assert spans.parse_tag(spans.tag(12)) == 12
    assert spans.parse_tag(spans.TRACE_TAG) == spans.TRACE_SID
    assert spans.parse_tag("collect at x.py:1") is None
    assert spans.parse_tag(None) is None


def test_printed_metrics_match_benchmark_json():
    import run

    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END_METRICS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.LAYER_METRICS)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)

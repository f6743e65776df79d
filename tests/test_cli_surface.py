"""Pins the CLI's user-facing surface: the ``--help`` text of the
top-level parser and of every verb, plus the exit code and message of a
set of argument errors. The expected text lives in
``tests/golden/cli_surface.json``; a change to any verb name, flag,
default or help string shows up here as a diff.

Regenerate the snapshot after an intended surface change with
``python -m tests.test_cli_surface`` and review the JSON diff.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import pytest

from cumulus_etl_spark.cli import main

SNAPSHOT = os.path.join(os.path.dirname(__file__), "golden", "cli_surface.json")

VERBS = (
    "etl", "init", "convert", "etl-i2b2", "sample", "nlp", "upload-notes",
    "corpus", "dedup-index", "heavy-hitters", "quantiles", "reservoir",
    "drift-monitor", "optimize", "train-filter", "profile", "audit-k", "sql",
    "changepoints", "zorder", "expect", "drift", "doctor", "stats", "rollup",
    "tokenizer", "search", "ann-index", "ann",
)

# name -> argv; "{notes}" is a directory holding one DocumentReference
# with inline text (the sample verb validates --columns after it samples)
ERRORS = {
    "unknown_verb": ["no-such-verb"],
    "drift_column_and_columns": ["drift", "e.parquet", "a.parquet",
                                 "--column", "a", "--columns", "b"],
    "drift_column_without_bucket_width": ["drift", "e.parquet", "a.parquet",
                                          "--column", "a"],
    "drift_monitor_categorical_columns": ["drift-monitor", "landing", "mon",
                                          "--schema", "a double",
                                          "--categorical", "--columns", "a"],
    "sample_bogus_columns": ["sample", "{notes}", "1", "--columns", "bogus"],
}


def _run(argv: list[str]) -> tuple[object, str, str]:
    """main(argv) → (exit code, stdout, stderr), with SystemExit turned
    into the code the process would exit with."""
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            code = main(argv)
        except SystemExit as e:
            code = e.code
    if isinstance(code, str):  # SystemExit("msg"): Python prints it, exits 1
        err.write(code + "\n")
        code = 1
    return code, out.getvalue(), err.getvalue()


def _help_cases() -> dict:
    cases = {"help:": _run(["--help"])}
    for verb in VERBS:
        cases[f"help:{verb}"] = _run([verb, "--help"])
    return {k: {"exit": c, "stdout": o, "stderr": e} for k, (c, o, e) in cases.items()}


def _error_cases(notes_dir: str) -> dict:
    out = {}
    for name, argv in ERRORS.items():
        code, _, err = _run([a.replace("{notes}", notes_dir) for a in argv])
        out[f"error:{name}"] = {"exit": code, "stderr": err}
    return out


def _write_notes(dirpath: str) -> str:
    from tests.fhir_fixtures import write_ndjson
    from tests.test_nlp import docref

    write_ndjson(dirpath, "d.ndjson", [docref("n0", text="note zero")])
    return dirpath


def _surface(notes_dir: str) -> dict:
    return _help_cases() | _error_cases(notes_dir)


@pytest.fixture()
def wide_terminal(monkeypatch):
    monkeypatch.setenv("COLUMNS", "100")


def test_help_text_is_pinned(wide_terminal):
    with open(SNAPSHOT) as fh:
        want = json.load(fh)
    got = _help_cases()
    assert sorted(got) == sorted(k for k in want if k.startswith("help:"))
    for key, value in got.items():
        assert value == want[key], key


def test_argument_errors_are_pinned(spark, tmp_path, wide_terminal):
    with open(SNAPSHOT) as fh:
        want = json.load(fh)
    got = _error_cases(_write_notes(str(tmp_path / "notes")))
    assert sorted(got) == sorted(k for k in want if k.startswith("error:"))
    for key, value in got.items():
        assert value == want[key], key


if __name__ == "__main__":
    import tempfile

    from cumulus_etl_spark.session import get_spark

    os.environ["COLUMNS"] = "100"
    get_spark(app_name="cli-surface-snapshot")
    with tempfile.TemporaryDirectory() as tmp:
        surface = _surface(_write_notes(os.path.join(tmp, "notes")))
    with open(SNAPSHOT, "w") as fh:
        json.dump(surface, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(surface)} entries to {SNAPSHOT}")

"""Output checks. Each takes plain Python data (rows already collected
from the lake or the errors/ spill) and returns a list of problems; an
empty list means the output is right. No engine call computes an
expected value here."""

from __future__ import annotations

import json
import os
import re
from collections import Counter

from gen import RAW_ID_PATTERN, Expect, anon_id

_BOUND = r"(?<![0-9A-Za-z])"
_END = r"(?![0-9A-Za-z])"
_RAW_ID = re.compile(_BOUND + RAW_ID_PATTERN + _END)
# PHI the export hides in fields de-id must drop (subject.display,
# identifier): names, MRNs, full birth dates, 5-digit zips.
_PHI_WORD = re.compile(r"(?:MRN[0-9]{9}|Family[0-9]+|Given[0-9]+)")
_DATE = re.compile(_BOUND + r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
_ZIP = re.compile(_BOUND + r"[0-9]{5}" + _END)


def _diff(what: str, got: set, want: set) -> list[str]:
    out = []
    if want - got:
        out.append(f"{what}: {len(want - got)} expected missing")
    if got - want:
        out.append(f"{what}: {len(got - want)} unexpected present")
    return out


def check_lake_rows(rows: list[tuple[str, str, str]], exp: Expect) -> list[str]:
    """``rows`` = (id, meta.lastUpdated, status) of the encounter table.

    The id set must be exactly HMAC(salt, real id) over the live ids
    (tombstoned ones gone), one row per id, and each row must be the
    freshest version sent (older re-sends lose, newer ones win)."""
    problems = []
    counts = Counter(r[0] for r in rows)
    dups = sum(1 for n in counts.values() if n > 1)
    if dups:
        problems.append(f"encounter: {dups} ids appear more than once")
    want = {anon_id(exp.salt, e): v for e, v in exp.rows.items()}
    problems += _diff("encounter ids", set(counts), set(want))
    wrong = sum(1 for r in rows if r[0] in want and (r[1], r[2]) != want[r[0]])
    if wrong:
        problems.append(f"encounter: {wrong} rows not at their freshest version")
    return problems


def check_completion(encounter_ids: list[str], tables: list[str], exp: Expect) -> list[str]:
    """Completion tables: every live encounter recorded once, and the
    encounter table listed as loaded."""
    want = {anon_id(exp.salt, e) for e in exp.rows}
    problems = _diff("completion encounters", set(encounter_ids), want)
    if "encounter" not in tables:
        problems.append("etl__completion: encounter table not recorded")
    return problems


def check_no_phi(json_rows: list[str], exp: Expect) -> list[str]:
    """No raw id, name, MRN, full birth date or raw zip anywhere in the
    lake's rows (each row given as its JSON text)."""
    leaks: Counter = Counter()
    for j in json_rows:
        if _RAW_ID.search(j):
            leaks["raw id"] += 1
        if _PHI_WORD.search(j):
            leaks["name/MRN"] += 1
        if any(d in exp.phi for d in _DATE.findall(j)):
            leaks["birth date"] += 1
        if any(z in exp.phi for z in _ZIP.findall(j)):
            leaks["zip"] += 1
    return [f"lake: {n} rows leak a {what}" for what, n in sorted(leaks.items())]


def read_error_lines(errors_dir: str) -> list[str]:
    """The ``raw_line`` of every quarantined record Spark spilled as
    JSON part files under ``errors_dir``."""
    lines = []
    if not os.path.isdir(errors_dir):
        return lines
    for name in sorted(os.listdir(errors_dir)):
        if name.startswith("part-"):
            with open(os.path.join(errors_dir, name)) as fh:
                lines += [json.loads(ln)["raw_line"] for ln in fh if ln.strip()]
    return lines


def check_quarantine(got: list[str], summary_count: int, exp: Expect) -> list[str]:
    """Every planted bad line is in errors/ exactly once, nothing else
    is, and the run summary counts them."""
    problems = []
    g, w = Counter(got), Counter(exp.quarantined)
    if g != w:
        problems.append(
            f"errors/: {sum((w - g).values())} planted lines missing, "
            f"{sum((g - w).values())} unexpected"
        )
    if summary_count != len(exp.quarantined):
        problems.append(
            f"summary: quarantined {summary_count}, expected {len(exp.quarantined)}"
        )
    return problems


def check_answer(name: str, got, want) -> list[str]:
    """A lake-query answer against the generator's expectation."""
    return [] if got == want else [f"{name}: answer differs from expectation"]


def check_signatures(sigs: dict[str, list[tuple]]) -> list[str]:
    """Each catalog entry's (row count, hash) must be the same on every
    pass over the same tables."""
    return [
        f"{name}: signature changed between passes"
        for name, seen in sorted(sigs.items())
        if len(set(seen)) > 1
    ]

"""Seeded FHIR bulk export for the ``etl_initial`` workload.

Plain Python driven by ``random.Random(seed)``: the same seed and size
give byte-identical NDJSON, tombstones and codebook salt. With the files
the generator returns an ``Expect`` record — what the lake must hold
after ``run_etl`` — computed from the generated resources alone, never
from the engine.

Shape: TPC-H-like "customers place orders" — ~``enc_per_patient``
Encounters per patient, each pointing at its ``Patient/<id>`` subject.
Every Encounter carries PHI the de-id scrub must drop: an MRN
``identifier`` and a ``subject.display`` holding the patient's name,
full birth date and 5-digit zip.

Traffic mixed into the export:

- re-sent Encounters: ~2% come back with an OLDER ``meta.lastUpdated``
  and another status (the in-batch dedup must keep the original), ~1%
  with a NEWER one (the re-send must win);
- truncated JSON: a valid line cut short (still names its resourceType,
  so the Encounter task quarantines it);
- wrong-type fields: an object where FHIR needs an array
  (``reasonCode``), quarantined by the Encounter task;
- unparseable lines with no resourceType: quarantined by every task;
- foreign-type lines (``Basic``): not a task type, skipped silently;
- a ``deleted/`` bundle tombstoning ~0.25% of the Encounters.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import hmac
import json
import os
import random
import uuid
from dataclasses import dataclass, field

ENC_STATUS = ("finished", "in-progress", "planned", "arrived", "triaged")
ENC_CLASS = ("AMB", "IMP", "EMER", "HH", "VR")
TASK = "encounter"

# Raw ids all share one shape so a leak scan can find any of them.
RAW_ID_PATTERN = r"(?:pat|enc)-[0-9]{6}"


def anon_id(salt_hex: str, real_id: str) -> str:
    """HMAC-SHA256(salt, id), hex — the pseudonym the lake must carry.

    Written here from the algorithm's definition (hex salt → key bytes)
    so the expectation never comes from the engine under test."""
    return hmac.new(bytes.fromhex(salt_hex), real_id.encode(), hashlib.sha256).hexdigest()


@dataclass(frozen=True)
class Size:
    patients: int = 300
    enc_per_patient: int = 4
    lines_per_file: int = 1500


@dataclass
class Expect:
    """What a correct lake holds after the export, keyed by REAL id."""

    salt: str
    # real encounter id -> (lastUpdated, status)
    rows: dict[str, tuple[str, str]] = field(default_factory=dict)
    subject: dict[str, str] = field(default_factory=dict)
    year: dict[str, str] = field(default_factory=dict)
    # exact raw lines the encounter task must quarantine
    quarantined: list[str] = field(default_factory=list)
    # strings that must not survive de-identification
    phi: set[str] = field(default_factory=set)
    lookup_ids: list[str] = field(default_factory=list)
    dims: dict = field(default_factory=dict)
    input_bytes: int = 0

    def lake_answers(self) -> dict:
        """The three lake-query answers for this export."""
        per_year: dict[str, int] = {}
        per_subject: dict[str, int] = {}
        for eid in self.rows:
            y = self.year[eid]
            per_year[y] = per_year.get(y, 0) + 1
            ref = "Patient/" + anon_id(self.salt, self.subject[eid])
            per_subject[ref] = per_subject.get(ref, 0) + 1
        lookup = {anon_id(self.salt, e): self.rows[e] for e in self.lookup_ids}
        return {"enc_per_year": per_year, "enc_per_subject": per_subject,
                "point_lookup": lookup}


def _ts(rng: random.Random, year_lo: int, year_hi: int) -> str:
    return (
        f"{rng.randint(year_lo, year_hi)}-{rng.randint(1, 12):02d}-"
        f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
        f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z"
    )


def _shift_days(ts: str, days: int) -> str:
    t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ") + dt.timedelta(days=days)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _dump(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _write_lines(root: str, stem: str, lines: list[str], per_file: int) -> int:
    """Bulk-export layout: ``<stem>.<nnn>.ndjson`` chunks. Returns bytes."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for k in range(0, len(lines), per_file):
        data = ("\n".join(lines[k:k + per_file]) + "\n").encode()
        with open(os.path.join(root, f"{stem}.{k // per_file:03d}.ndjson"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


def write_codebook(phi_dir: str, seed: int) -> str:
    """Pre-seed the PHI dir's codebook so pseudonyms are deterministic."""
    rng = random.Random(f"codebook:{seed}")
    salt = "%064x" % rng.getrandbits(256)
    cb_id = str(uuid.UUID(int=rng.getrandbits(128), version=4))
    os.makedirs(phi_dir, exist_ok=True)
    with open(os.path.join(phi_dir, "codebook.json"), "w") as fh:
        json.dump({"version": 1, "id": cb_id, "salt": salt}, fh)
    return salt


def _encounter(eid: str, pid: str, lu: str, status: str, cls: str, start: str,
               display: str, mrn: str) -> dict:
    return {
        "resourceType": "Encounter", "id": eid, "meta": {"lastUpdated": lu},
        "identifier": [{"system": "urn:example:mrn", "value": mrn}],
        "status": status,
        "class": {"system": "http://terminology.hl7.org/CodeSystem/v3-ActCode", "code": cls},
        "subject": {"reference": f"Patient/{pid}", "display": display},
        "period": {"start": start, "end": start},
    }


def initial_export(root: str, seed: int, size: Size, salt: str) -> Expect:
    """Write the export under ``root``; return what the lake must hold."""
    rng = random.Random(f"export:{seed}")
    exp = Expect(salt=salt)
    lines: list[str] = []
    source: dict[str, dict] = {}
    n_enc = 0
    for i in range(size.patients):
        pid = f"pat-{i:06d}"
        birth = f"{rng.randint(1930, 2010)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        zip5 = f"{rng.randint(100, 999):03d}{rng.randint(11, 99):02d}"
        display = f"Given{i} Family{i}, born {birth}, zip {zip5}"
        exp.phi.update((birth, zip5, f"Family{i}"))
        for _ in range(rng.randint(1, 2 * size.enc_per_patient - 1)):
            eid = f"enc-{n_enc:06d}"
            mrn = f"MRN{rng.randrange(10**9):09d}"
            exp.phi.add(mrn)
            n_enc += 1
            start = _ts(rng, 2015, 2023)
            enc = _encounter(eid, pid, _ts(rng, 2022, 2023), rng.choice(ENC_STATUS),
                             rng.choice(ENC_CLASS), start, display, mrn)
            lines.append(_dump(enc))
            source[eid] = enc
            exp.rows[eid] = (enc["meta"]["lastUpdated"], enc["status"])
            exp.subject[eid] = pid
            exp.year[eid] = start[:4]

    ids = sorted(source)
    # Re-sends: ~2% older (lose), ~1% newer (win); the lastUpdated gap is
    # whole days, so the freshness order is never a tie.
    n_old, n_new = max(1, len(ids) // 50), max(1, len(ids) // 100)
    resent = rng.sample(ids, n_old + n_new)
    resent_set = set(resent)
    for k, eid in enumerate(resent):
        src = source[eid]
        newer = k >= n_old
        lu = _shift_days(src["meta"]["lastUpdated"], rng.randint(1, 300) * (1 if newer else -1))
        status = "cancelled" if newer else "entered-in-error"
        dup = _encounter(eid, exp.subject[eid], lu, status, src["class"]["code"],
                         src["period"]["start"], src["subject"]["display"],
                         src["identifier"][0]["value"])
        lines.append(_dump(dup))
        if newer:
            exp.rows[eid] = (lu, status)

    plant = max(2, len(ids) // 400)
    bad: list[str] = []
    for k in range(plant):
        bad.append(_dump({"resourceType": "Encounter", "id": f"enc-{900000 + k:06d}",
                          "status": "finished", "reasonCode": {"text": "checkup"}}))
        line = lines[rng.randrange(len(ids))]
        cut = line.replace('"id":"enc-', '"id":"enc-9', 1)
        bad.append(cut[: rng.randint(cut.index('"meta"'), len(cut) - 2)])
        bad.append("{not json at all " + str(k))
    foreign = [_dump({"resourceType": "Basic", "id": f"basic-{k}", "code": {"text": "x"}})
               for k in range(plant)]
    for ln in bad + foreign:
        lines.insert(rng.randint(0, len(lines)), ln)

    total = _write_lines(root, "Encounter", lines, size.lines_per_file)
    dead = sorted(rng.sample([e for e in ids if e not in resent_set], max(1, len(ids) // 400)))
    bundle = {"resourceType": "Bundle", "type": "transaction",
              "entry": [{"request": {"method": "DELETE", "url": f"Encounter/{e}"}}
                        for e in dead]}
    total += _write_lines(os.path.join(root, "deleted"), "Bundle", [_dump(bundle)], 1)
    for e in dead:
        del exp.rows[e]

    exp.quarantined = bad
    exp.lookup_ids = sorted(rng.sample(sorted(exp.rows), min(100, len(exp.rows))))
    exp.input_bytes = total
    exp.dims = {
        "resources": {"Encounter": len(ids), "Patient_subjects": size.patients},
        "input_lines": len(lines),
        "input_bytes": total,
        "resent_older_share": round(n_old / len(ids), 5),
        "resent_newer_share": round(n_new / len(ids), 5),
        "truncated_share": round(plant / len(lines), 5),
        "wrong_type_share": round(plant / len(lines), 5),
        "unparseable_share": round(plant / len(lines), 5),
        "foreign_type_share": round(plant / len(lines), 5),
        "tombstone_share": round(len(dead) / len(ids), 5),
    }
    return exp

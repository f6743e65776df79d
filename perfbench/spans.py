"""Span tracing from outside the program.

``Tracer.install()`` replaces, inside the benchmark process only, the
public functions ``run_etl`` calls (and ``run_etl`` itself) with thin
wrappers. Each wrapper records a span — name, start, end, parent, run id
— and sets ``SparkContext.setJobDescription`` to the span's tag for the
call's duration, so every Spark job it triggers can be attributed to it
from the event log afterwards. Nothing inside the program is touched:
``uninstall()`` puts the originals back.

Lazy calls (``scan_with_quarantine``, ``Scrubber.scrub``,
``ManagedTable.read``) return plans, so their spans measure plan
building only; the execution lands in whichever eager call consumes the
plan (``Codebook.save_mappings``, ``ManagedTable.merge``, ...).
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench:"
# Jobs the tracer itself triggers (file accounting after a table write)
# carry this tag and are left out of every span.
TRACE_TAG = TAG_PREFIX + "trace"
TRACE_SID = -1


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    # wall-clock ms, to place untagged Spark jobs by submission time
    start_ms: int = 0
    end_ms: int = 0
    # time spent in the tracer's own bookkeeping inside this span
    untimed: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.untimed

    def as_dict(self) -> dict:
        return {
            "sid": self.sid, "name": self.name, "parent": self.parent,
            "run_id": self.run_id, "seconds": self.seconds,
            "start_ms": self.start_ms, "end_ms": self.end_ms,
            **({"extra": self.extra} if self.extra else {}),
        }


def tag(sid: int) -> str:
    return f"{TAG_PREFIX}{sid}"


def parse_tag(description: str | None) -> int | None:
    """Span id a job description names; ``TRACE_SID`` for the tracer's
    own jobs; None for jobs the benchmark did not tag."""
    if not description or not description.startswith(TAG_PREFIX):
        return None
    if description == TRACE_TAG:
        return TRACE_SID
    try:
        return int(description[len(TAG_PREFIX):].split()[0])
    except ValueError:
        return None


class Tracer:
    """In-memory span recorder; one per benchmark process."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run_id = "setup"
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(
            sid=len(self.spans), name=name, run_id=self.run_id,
            parent=parent.sid if parent else None, start=time.perf_counter(),
            start_ms=int(time.time() * 1000),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        if self.sc is not None:
            self.sc.setJobDescription(tag(sp.sid))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.end_ms = int(time.time() * 1000)
            self.stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(tag(self.stack[-1].sid) if self.stack else None)

    @contextmanager
    def untimed(self):
        """Tracer bookkeeping: its time is taken out of every open span
        and its Spark jobs carry ``TRACE_TAG``."""
        t0 = time.perf_counter()
        if self.sc is not None:
            self.sc.setJobDescription(TRACE_TAG)
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            for sp in self.stack:
                sp.untimed += dt
            if self.sc is not None:
                self.sc.setJobDescription(tag(self.stack[-1].sid) if self.stack else None)

    def _wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    with tracer.untimed():
                        after(sp, args)
            return result

        wrapper.__perfbench_original__ = fn
        return wrapper

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (module function or class method) with a
        span-recording wrapper; remembered for ``uninstall``."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name, after))

    def install(self) -> None:
        """Wrap every layer entry point ``run_etl`` reaches."""
        from cumulus_etl_spark.deid import Codebook, Scrubber
        from cumulus_etl_spark.etl import pipeline
        from cumulus_etl_spark.sinks import ManagedTable

        for attr, name in (
            ("run_etl", "etl.run_etl"),
            ("detect_resources", "sources.detect_resources"),
            ("read_deleted_ids", "sources.read_deleted_ids"),
            ("scan_with_quarantine", "sources.scan_plan"),
            ("write_completion", "etl.completion"),
            ("write_completion_encounters", "etl.completion"),
        ):
            self.patch(pipeline, attr, name)
        self.patch(Scrubber, "scrub", "deid.scrub_plan")
        self.patch(Codebook, "save_mappings", "deid.save_mappings")
        self.patch(ManagedTable, "merge", "sinks.merge", after=_note_files)
        self.patch(ManagedTable, "delete_ids", "sinks.delete_ids", after=_note_files)
        self.patch(ManagedTable, "read", "sinks.read")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def paused(self):
        """Benchmark bookkeeping (output checks) between traced calls: the
        wrappers come off and any Spark job carries ``TRACE_TAG``."""
        self.uninstall()
        try:
            with self.untimed():
                yield
        finally:
            self.install()

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def subtree(self, sid: int) -> list[int]:
        """``sid`` and every span nested under it."""
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo += [s.sid for s in self.spans if s.parent == cur]
        return out


def _note_files(sp: Span, args) -> None:
    """After a table write: note the table and the files its new version
    wrote versus hard-linked from the previous one."""
    table = args[0]
    sp.extra["table"] = table.name
    sp.extra.update(version_files(table))


def live_files(table) -> list[str]:
    """Local paths of a table's live data files (its read plan's inputs)."""
    from urllib.parse import unquote

    read = getattr(type(table).read, "__perfbench_original__", type(table).read)
    df = read(table)
    files = df.inputFiles() if df is not None else []
    return [unquote(f[len("file:"):] if f.startswith("file:") else f) for f in files]


def version_files(table) -> dict:
    """Files of a table's live version, split into freshly written ones
    (one link) and ones re-linked from an older version (more links)."""
    files = live_files(table)
    linked = sum(1 for f in files if os.stat(f).st_nlink > 1)
    return {"files_written": len(files) - linked, "files_linked": linked, "files": len(files)}

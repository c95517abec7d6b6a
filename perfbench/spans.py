"""In-memory span recorder for the traced run.

A span is (id, name, parent id, start, end) plus the run id every span
of one run shares.  Spans are kept in memory and written out once, at
the end of the run (:meth:`Spans.dump`).  Times are ``time.time()``
seconds, the clock Spark's event log uses (in milliseconds), so Spark
jobs can be matched to spans.

While a span is open on a thread, the Spark local property
``perfbench.span`` carries its id; Spark copies local properties into
every job it starts from that thread, so the event log ties each job
to the span that caused it.  An untraced recorder does nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import uuid

SPAN_PROPERTY = "perfbench.span"


class Spans:
    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        self._local.current = sid
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._local.current = parent
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, None if parent is None else str(parent))
            self.records.append({"id": sid, "name": name, "parent": parent,
                                 "start": start, "end": end, "run": self.run_id})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.records if s["name"] == name]

    def descendants(self, sid: int) -> set[int]:
        """``sid`` and the ids of every span nested under it."""
        out, frontier = {sid}, [sid]
        while frontier:
            p = frontier.pop()
            kids = [s["id"] for s in self.records if s["parent"] == p]
            out.update(kids)
            frontier.extend(kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.records, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

"""Spans around the program's public calls, recorded from outside.

A `Tracer` keeps spans (name, start, end, parent, run id) in memory and
writes them out once at the end.  `Tracer.patch` swaps a function for a
timing wrapper in every loaded module of the package that holds it, so
calls made inside the package (e.g. `run_extraction_job` calling
`extract_transcripts`) are seen too; `Tracer.restore` undoes every swap.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager, nullcontext

PACKAGE = "readability_1_spark"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total_s(self, name: str, since: float = 0.0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["start"] >= since and s["end"])

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return timed

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap `owner.attr`; for a module-level function, also every
        `readability_1_spark.*` module that imported it by name."""
        fn = getattr(owner, attr)
        timed = self._wrap(fn, name)
        owners = [owner]
        if not isinstance(owner, type):
            owners += [m for k, m in list(sys.modules.items())
                       if k.startswith(PACKAGE) and m is not owner
                       and getattr(m, attr, None) is fn]
        for o in owners:
            self._undo.append((o, attr, fn))
            setattr(o, attr, timed)

    def restore(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def maybe_span(tracer: Tracer | None, name: str):
    """A span when tracing, else nothing."""
    return tracer.span(name) if tracer is not None else nullcontext()

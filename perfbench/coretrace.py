"""Spans around the ``core`` public functions, recorded in this process.

``trace_core`` swaps the names ``core.pipeline`` calls (decode, parse, det,
cls, rec and ``extract_batch_routed`` itself) for wrappers that record a
span (name, start, end, parent, batch id) and count the work each call did,
then restores them. Nothing in the program is edited: the wrappers live
only for the duration of the ``with`` block, in this process.
"""

from __future__ import annotations

import collections
import contextlib
import time

#: span name -> name of the function in ``core.pipeline``'s namespace
WRAPPED = {
    "decode": "decode_html",
    "parse": "parse_blocks",
    "det": "detect_page",
    "cls": "classify_spans",
    "rec": "recognize_spans",
    "assemble": "extract_batch_routed",
}


def _count(counts, name, args, result) -> None:
    if name == "parse":
        counts["parse.blocks"] += len(result)
    elif name == "det":
        counts["det.spans"] += len(result)
        counts["det.early_exit_pages"] += not result
    elif name == "cls":
        labels = result[0]
        counts["cls.spans_in"] += len(labels)
        counts["cls.kept"] += sum(1 for lab in labels if lab == 0)
    elif name == "rec":
        counts["rec.spans"] += len(args[0])
        counts["rec.chars"] += sum(len(t) for t in args[0])


class CoreTrace:
    """In-memory span list: ``(name, start, end, parent_index, batch)``."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: collections.Counter = collections.Counter()
        self.batch = 0
        self._stack: list[int] = []

    def _wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(None)
            self._stack.append(idx)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._stack.pop()
                self.spans[idx] = (name, t0, t1, parent, self.batch)
            _count(self.counts, name, args, result)
            return result

        return wrapped

    @contextlib.contextmanager
    def installed(self):
        from cpp_paddle_ocr_spark.core import pipeline

        saved = {attr: getattr(pipeline, attr) for attr in WRAPPED.values()}
        try:
            for name, attr in WRAPPED.items():
                setattr(pipeline, attr, self._wrap(name, saved[attr]))
            yield
        finally:
            for attr, fn in saved.items():
                setattr(pipeline, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus its direct children."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = collections.defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def root_wall(self) -> float:
        return sum(t1 - t0 for _, t0, t1, parent, _ in self.spans if parent is None)


def run_batches(urls, htmls, batch_rows: int, trace: CoreTrace | None = None) -> float:
    """Single-threaded extract over ``batch_rows``-page batches, like one
    executor slot draining Arrow batches; returns the wall in seconds."""
    from cpp_paddle_ocr_spark.core import pipeline

    t0 = time.perf_counter()
    for k in range(0, len(urls), batch_rows):
        if trace is not None:
            trace.batch = k // batch_rows
        pipeline.extract_batch(urls[k : k + batch_rows], htmls[k : k + batch_rows])
    return time.perf_counter() - t0

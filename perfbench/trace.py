"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each public call: the
benchmark wraps `run_round` itself, and patches `Catalog.stage`,
`Catalog.commit_round` and the Bloom index read/update functions for the
duration of the run, so nothing inside the program changes. Each span
also names the Spark jobs it launches (job description and short call
site), so `evlog.stage_task_stats` attributes stage task time to the
span that caused it instead of to an anonymous call site.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time

CALLSITE = "callSite.short"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def _label(self) -> str | None:
        return f"{self._stack[-1]['name']}#{self._stack[-1]['id']}" if self._stack else None

    def _name_jobs(self) -> None:
        label = self._label()
        self.sc.setLocalProperty(CALLSITE, label)
        self.sc.setJobDescription(label)

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        """Time the block as one span; a no-op while the tracer is off."""
        if not self.active:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "tags": tags,
            "start": time.time(),
        }
        self._stack.append(rec)
        self._name_jobs()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["s"]
            self._stack.pop()
            self._name_jobs()
            self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float, **tags) -> dict:
        """Record a span timed elsewhere (a streaming epoch, whose body runs
        inside the program) and adopt the spans that fall inside it."""
        rec = {
            "id": next(self._ids), "name": name, "parent": None,
            "run": self.run_id, "tags": tags, "start": start, "end": end, "s": end - start,
        }
        for s in self.spans:
            if s["parent"] is None and start <= s["start"] and s["end"] <= end:
                s["parent"] = rec["id"]
        self.spans.append(rec)
        return rec

    def find(self, name: str, **tags) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and all(s["tags"].get(k) == v for k, v in tags.items())
        ]

    def children(self, parent: dict, name: str, **tags) -> list[dict]:
        return [s for s in self.find(name, **tags) if s["parent"] == parent["id"]]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _wrap(tracer: Tracer, fn, name: str, tag_of):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, **tag_of(*args, **kwargs)) as rec:
            out = fn(*args, **kwargs)
            if rec is not None and isinstance(out, str):
                rec["path"] = out
            return out

    return traced


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route the program's table and seen-index calls through spans."""
    from oa_spider_spark import tables
    from oa_spider_spark.frontier import round as round_mod
    from oa_spider_spark.frontier import seen as seen_mod

    def no_tags(*_a, **_k):
        return {}

    targets = [
        (tables.Catalog, "stage", "stage",
         lambda self, df, table, round_id: {"table": table, "round": round_id}),
        (tables.Catalog, "commit_round", "commit",
         lambda self, round_id, *a, **k: {"round": round_id}),
    ]
    for mod in (round_mod, seen_mod):
        targets += [
            (mod, "read_bloom_index", "seen.index_read", no_tags),
            (mod, "update_bloom_index", "seen.index_update", no_tags),
        ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in targets]
    try:
        for obj, attr, name, tag_of in targets:
            setattr(obj, attr, _wrap(tracer, getattr(obj, attr), name, tag_of))
        yield tracer
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


def stage_rows_by_span(evdir: str, app_id: str, n_slots: int) -> dict[int, list[dict]]:
    """Event-log stage rows grouped by the id of the span that named them."""
    from oa_spider_spark.evlog import stage_task_stats

    out: dict[int, list[dict]] = {}
    for row in stage_task_stats(evdir, app_id, n_slots=n_slots, min_task_ms=0):
        _, sep, sid = row["name"].rpartition("#")
        if sep and sid.isdigit():
            out.setdefault(int(sid), []).append(row)
    return out

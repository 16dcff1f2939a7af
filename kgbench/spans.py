"""Spans recorded from outside the engine, around its public calls.

A Tracer keeps spans in memory (name, start, end, parent, pass id) and
is written out with the run record. `patched()` wraps, for the duration
of one traced pass, the calls the staged pipeline makes across layer
boundaries:

  sources.catalog.write_table      one span per stage table written
  sources.catalog.read_table       reads between stages
  sources.catalog.read_incremental
  plans.pipeline.canonicalize_entities   eager LSH checkpoint + CC loop

and captures the candidate and verified pair frames that linking builds,
so they can be counted after the pass without re-running linking.
Streaming passes get their spans from the query's progress instead
(`progress_spans`).
"""

from __future__ import annotations

import datetime as dt
import time
from contextlib import contextmanager

# Order in which a micro-batch runs its phases (MicroBatchExecution):
# progress reports durations only, so child spans are laid out in this
# order from the trigger's start.
TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []  # ids of the spans now open, innermost last
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "pass": self.pass_id,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name_of):
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, dict) and "row_count" in out:
                    rec["rows"] = out["row_count"]
                    rec["files"] = out.get("added_data_files", 0)
                return out
        return traced

    @contextmanager
    def patched(self, captured: dict):
        from thesis_ner_co_tri_training_spark.operators import linking
        from thesis_ner_co_tri_training_spark.plans import pipeline
        from thesis_ner_co_tri_training_spark.sources import catalog

        def table(prefix):
            # write_table(df, wh, table), read_table(spark, wh, table),
            # read_incremental(spark, wh, table): the table is argument 3
            return lambda *a, **k: prefix + str(k.get("table", a[2]))

        def capture(key, fn):
            def inner(*a, **k):
                captured[key] = out = fn(*a, **k)
                return out
            return inner

        swaps = [
            (catalog, "write_table",
             self.wrap(catalog.write_table, table("write_table:"))),
            (catalog, "read_table",
             self.wrap(catalog.read_table, table("read_table:"))),
            (catalog, "read_incremental",
             self.wrap(catalog.read_incremental, table("read_incremental:"))),
            (pipeline, "canonicalize_entities",
             self.wrap(pipeline.canonicalize_entities,
                       lambda *a, **k: "canonicalize_entities")),
            (linking, "lsh_candidate_pairs",
             capture("candidate_pairs", linking.lsh_candidate_pairs)),
            (linking, "jaccard_verify",
             capture("verified_pairs", linking.jaccard_verify)),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in swaps]
        try:
            for mod, attr, fn in swaps:
                setattr(mod, attr, fn)
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def progress_spans(self, root: dict, progress: list[dict]) -> None:
        """Child spans of `root` from a streaming query's recentProgress:
        one span per trigger (triggerExecution), its phases beneath it.
        Progress timestamps are wall-clock; they are mapped onto the
        perf_counter clock through the root span's own wall start."""
        offset = root["start"] - root["wall_start"]
        for p in progress:
            dur = p.get("durationMs", {})
            if "triggerExecution" not in dur:
                continue
            ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            start = ts.replace(tzinfo=dt.timezone.utc).timestamp() + offset
            trig = {"id": len(self.spans), "name": "trigger", "pass": self.pass_id,
                    "parent": root["id"], "start": start,
                    "end": start + dur["triggerExecution"] / 1e3,
                    "rows": p.get("numInputRows", 0)}
            self.spans.append(trig)
            at = start
            for phase in TRIGGER_PHASES:
                if phase in dur:
                    self.spans.append({
                        "id": len(self.spans), "name": phase,
                        "pass": self.pass_id, "parent": trig["id"],
                        "start": at, "end": at + dur[phase] / 1e3})
                    at += dur[phase] / 1e3

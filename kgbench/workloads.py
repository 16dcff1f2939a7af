"""The benchmark's workloads: one timed pass each, and its output check.

A workload is driven only through the engine's public entry points, on
page files the generator wrote (gen.py). `execute` is the timed part of
a pass; `check` runs after the clock stops and returns an error string
or None.

kg_build   plans.pipeline.run_pipeline over all page files into a fresh
           warehouse; all eight stage tables written.
kg_stream  streaming.ingest: read_pages_stream -> mentions_stream into a
           fresh checkpointed parquet sink, availableNow drain in
           several micro-batches.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

from gen import combine, mention_key_hash

MAX_FILES_PER_TRIGGER = 2
GLOBAL_TABLES = ("entities", "nodes", "edges")
STAGES = ("sentences", "sent_views", "voted", "mentions", "triples",
          "entities", "nodes", "edges")


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def mentions_hash(dirs: list[str]) -> tuple[int, int]:
    """(rows, order-independent key hash) of mentions parquet dirs."""
    import pyarrow.dataset as ds

    cols = ["url", "sent_id", "beg", "end", "tag"]
    rows, total = 0, 0
    for d in dirs:
        t = ds.dataset(d, format="parquet").to_table(columns=cols).to_pydict()
        rows += len(t["url"])
        total += mention_key_hash(zip(*(t[c] for c in cols)))
    return rows, total % (1 << 64)


class Workload:
    """Shared state: the session, the input files and their control
    records, a scratch dir, and the global-table counts seen so far for
    this seed (persisted beside the inputs, so later runs of the same
    seed are held to them too)."""

    def __init__(self, spark, inputs: str, work: str, control: dict):
        self.spark, self.work = spark, work
        self.files = control["files"]
        self.pages_dir = os.path.join(inputs, "pages")
        self.counts_path = os.path.join(inputs, f"counts-{self.name}.json")
        try:
            with open(self.counts_path) as fh:
                self.expected = json.load(fh)
        except FileNotFoundError:
            self.expected = {}

    def pages(self, n_files: int | None = None) -> int:
        return sum(f["pages"] for f in self.files[:n_files])

    def check_counts(self, key: str, counts: dict) -> str | None:
        want = self.expected.setdefault(key, counts)
        if want != counts:
            return f"{key}: counts {counts} != earlier {want}"
        with open(self.counts_path, "w") as fh:
            json.dump(self.expected, fh)
        return None


class KgBuild(Workload):
    name = "kg_build"
    # Two pipeline passes over the first page file pay the JVM's first-pass
    # cost (class loading, JIT, Python worker start) and the steepest part
    # of the JIT warm-up on a small input.
    warmups = (1, 1)

    def execute(self, pass_id: str, n_files: int | None = None,
                tracer=None) -> dict:
        from thesis_ner_co_tri_training_spark.plans.pipeline import run_pipeline
        from thesis_ner_co_tri_training_spark.sources.pages import PAGES_SCHEMA

        wh = os.path.join(self.work, f"wh-{pass_id}")
        files = [os.path.join(self.pages_dir, f["file"])
                 for f in self.files[:n_files]]
        pages = self.spark.read.schema(PAGES_SCHEMA).parquet(*files)
        with tracer.span("run_pipeline") if tracer else nullcontext():
            lineage = run_pipeline(self.spark, pages, wh, resume=False)
        return {"wh": wh, "lineage": lineage, "n_files": n_files}

    def check(self, state: dict) -> str | None:
        lin, wh = state["lineage"], state["wh"]
        ref = combine(self.files[:state["n_files"]])
        state["bytes"] = parquet_bytes(wh)
        state["rows"] = {t: lin[t]["row_count"] for t in STAGES}
        for table, key in (("sentences", "sentences"), ("sent_views", "sentences"),
                           ("voted", "voted")):
            if state["rows"][table] != ref[key]:
                return f"{table}: {state['rows'][table]} rows, control {ref[key]}"
        rows, h = mentions_hash([os.path.join(wh, "mentions", "data", d)
                                 for d in lin["mentions"]["data_paths"]])
        if (rows, h) != (ref["mentions"], ref["mention_hash"]):
            return f"mentions: {rows} rows hash {h}, control " \
                   f"{ref['mentions']} hash {ref['mention_hash']}"
        return self.check_counts(f"files-{state['n_files']}",
                                 {t: state["rows"][t] for t in GLOBAL_TABLES})

    def cleanup(self, state: dict) -> None:
        shutil.rmtree(state["wh"], ignore_errors=True)

    def batch_samples(self, state: dict, wall: float) -> list[float]:
        return [wall]


class KgStream(Workload):
    name = "kg_stream"
    # Two one-trigger drains of the first two page files pay the JVM's
    # first-pass cost (class loading, JIT, Python worker start).
    warmups = (2, 2)

    def input_dir(self, n_files: int | None) -> str:
        """The page dir, or a copy of its first n_files files."""
        if n_files is None:
            return self.pages_dir
        d = os.path.join(self.work, f"pages-{n_files}")
        if not os.path.isdir(d):
            os.makedirs(d)
            for f in self.files[:n_files]:
                shutil.copy(os.path.join(self.pages_dir, f["file"]), d)
        return d

    def execute(self, pass_id: str, n_files: int | None = None,
                tracer=None) -> dict:
        from thesis_ner_co_tri_training_spark.streaming.ingest import (
            mentions_stream, read_pages_stream, start_mentions_sink)

        sink = os.path.join(self.work, f"sink-{pass_id}")
        pages = self.input_dir(n_files)
        span = (tracer.span("stream_drain", wall_start=time.time())
                if tracer else nullcontext())
        with span as root:
            q = start_mentions_sink(
                mentions_stream(read_pages_stream(
                    self.spark, pages,
                    max_files_per_trigger=MAX_FILES_PER_TRIGGER)),
                os.path.join(sink, "data"), os.path.join(sink, "checkpoint"))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in q.recentProgress]
        if tracer:
            tracer.progress_spans(root, progress)
        return {"sink": sink, "progress": progress, "run_id": str(q.runId),
                "n_files": n_files}

    def triggers(self, state: dict) -> list[dict]:
        return [p for p in state["progress"]
                if p.get("numInputRows", 0) > 0
                and "triggerExecution" in p.get("durationMs", {})]

    def check(self, state: dict) -> str | None:
        ref = combine(self.files[:state["n_files"]])
        data = os.path.join(state["sink"], "data")
        state["bytes"] = parquet_bytes(data)
        rows, h = mentions_hash([data])
        if (rows, h) != (ref["mentions"], ref["mention_hash"]):
            return f"mentions: {rows} rows hash {h}, control " \
                   f"{ref['mentions']} hash {ref['mention_hash']}"
        n_in = sum(p["numInputRows"] for p in self.triggers(state))
        if n_in != ref["pages"]:
            return f"stream read {n_in} pages, expected {ref['pages']}"
        return None

    def cleanup(self, state: dict) -> None:
        shutil.rmtree(state["sink"], ignore_errors=True)

    def batch_samples(self, state: dict, wall: float) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1e3
                for p in self.triggers(state)]


WORKLOADS = {w.name: w for w in (KgStream, KgBuild)}

"""KG engine benchmark: warmed passes of one workload, checked and timed.

    python3 kgbench/run.py --workload kg_build|kg_stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. Inputs come from gen.py (one process per
seed, cached under kgbench/.cache); the engine only sees those parquet
files. The engine runs at local[2] through session.get_spark. A run
starts one session, makes the workload's fixed warm-up passes, then
times whole passes until S seconds of passes have run. Every pass
(warm-up included) is checked against the engine-free control; a pass
that fails the check or raises counts as failed and its time is left
out.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced passes and prints the per-layer metrics (see NOTES.md). The
last stdout line is one JSON object {correct, attempted, failed,
metrics}. Each run also writes kgbench/results/<workload>-s<seed>-t<trace>.json
with every pass's time (warm-ups flagged), host noise and the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from gen import combine
from measure import (PeakRss, engine_overhead_ms_per_page, host_steal_s,
                     process_tree, self_time, summarize, tree_cpu_s)
from spans import Tracer
from workloads import STAGES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
CPUS = 2
KEEP_SEEDS = 12
LAST_PASS_START_S = 120  # no pass starts later than this into the run

END_TO_END = {
    "setup_s": "s", "pages_per_s": "pages/s", "batch_p50_s": "s",
    "cpu_ms_per_page": "ms/page", "peak_rss_mb": "MiB",
    "bytes_per_page": "B/page",
}
PER_LAYER = {
    "textnorm.extract_ms_per_page": "ms/page",
    "textnorm.split_ms_per_page": "ms/page",
    "tagging.tag_ms_per_sentence": "ms/sentence",
    "tagging.sentences_per_page": "sentences/page",
    "mentions.vote_ms_per_sentence": "ms/sentence",
    "mentions.vote_keep_ratio": "ratio",
    "mentions.per_page": "mentions/page",
    "control.ms_per_page": "ms/page",
    "engine.overhead_ms_per_page": "ms/page",
    "scan.ms_per_page": "ms/page",
    "stream.batches": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.overhead_ms_p50": "ms",
    **{f"stage.{t}.{m}": u for t in STAGES for m, u in (("s", "s"), ("rows", "rows"))},
    "pipeline.unattributed_s": "s",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "catalog.files_written": "count",
    "catalog.scan_dirs": "count",
    "linking.canonicalize_s": "s",
    "linking.candidate_pairs": "count",
    "linking.verified_pairs": "count",
    "linking.verify_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.gc_s": "s",
    "batch.samples": "count",
    "trace.overhead_pages_per_s": "pages/s",
    "host.steal_s": "s",
    "host.loadavg_1m": "load",
}


def process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def ensure_inputs(seed: int) -> tuple[str, float]:
    """The seed's input dir (generated on first use) and the seconds
    spent generating it in this run."""
    out = os.path.join(CACHE, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "control.json")):
        os.utime(out)
        return out, 0.0
    t0 = time.time()
    os.makedirs(CACHE, exist_ok=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    "--seed", str(seed), "--out", out], check=True)
    seeds = sorted((os.path.join(CACHE, d) for d in os.listdir(CACHE)
                    if d.startswith("seed-") and not d.endswith(".tmp")),
                   key=os.path.getmtime)
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return out, time.time() - t0


def start_spark():
    """local[2] session whose scratch files all stay under kgbench/.work."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # spark-submit's own launcher JVM
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "sql-warehouse"),
    })
    tempfile.tempdir = tmp
    from thesis_ner_co_tri_training_spark.session import get_spark

    return get_spark("kgbench", cpus=CPUS, extra_conf={
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until every process
    this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def spark_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran for one job group."""
    st = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    jobs = st.getJobIdsForGroup(group)
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": tasks}


def run_pass(spark, wl, pass_id: str, n_files, warmup: bool,
             tracer=None) -> dict:
    """One pass: timed execute, then the output check off the clock."""
    captured: dict = {}
    rec = {"pass": pass_id, "warmup": warmup, "traced": tracer is not None,
           "pages": wl.pages(n_files), "error": None}
    if tracer is not None:
        tracer.pass_id = pass_id
        spark.sparkContext.setJobGroup(pass_id, pass_id)
    gc0 = jvm_gc_s(spark)
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    state = None
    try:
        if tracer is not None:
            with tracer.patched(captured):
                state = wl.execute(pass_id, n_files, tracer)
        else:
            state = wl.execute(pass_id, n_files)
    except Exception as exc:  # a failed operation: counted, run goes on
        rec["error"] = f"{type(exc).__name__}: {exc}"
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    rec["gc_s"] = jvm_gc_s(spark) - gc0
    if tracer is not None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    if state is None:
        return rec
    try:
        rec["error"] = wl.check(state)
        rec["bytes"] = state["bytes"]
        rec["samples_s"] = wl.batch_samples(state, rec["wall_s"])
        if tracer is not None:
            rec["layers"] = traced_layers(spark, wl, state, rec, captured, tracer)
    except Exception as exc:
        rec["error"] = f"check {type(exc).__name__}: {exc}"
    finally:
        wl.cleanup(state)
    return rec


def traced_layers(spark, wl, state, rec, captured, tracer) -> dict:
    """Per-layer values of one traced pass from its spans, lineage,
    progress and Spark's status tracker."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["jvm.gc_s"] = rec["gc_s"]
    spans = [s for s in tracer.spans if s["pass"] == rec["pass"]]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    if wl.name == "kg_build":
        out.update(spark_counts(spark, rec["pass"]))
        root = next(s for s in spans if s["name"] == "run_pipeline")
        out["pipeline.unattributed_s"] = self_time(root, spans)
        for s in spans:
            kind, _, table = s["name"].partition(":")
            if kind == "write_table":
                out[f"stage.{table}.s"] = dur(s)
                out[f"stage.{table}.rows"] = s["rows"]
                out["catalog.write_s"] += dur(s)
                out["catalog.files_written"] += s["files"]
            elif kind in ("read_table", "read_incremental"):
                out["catalog.read_s"] += dur(s)
            elif kind == "canonicalize_entities":
                out["linking.canonicalize_s"] += dur(s)
        lin = state["lineage"]
        out["catalog.scan_dirs"] = sum(
            len(lin[t]["data_paths"]) for t in ("mentions", "triples"))
        cand = captured["candidate_pairs"].count()
        ver = captured["verified_pairs"].count()
        out["linking.candidate_pairs"] = cand
        out["linking.verified_pairs"] = ver
        out["linking.verify_ratio"] = ver / cand if cand else 0.0
    else:
        out.update(spark_counts(spark, state["run_id"]))
        trig = wl.triggers(state)
        add = [p["durationMs"].get("addBatch", 0) for p in trig]
        out["stream.batches"] = len(trig)
        out["stream.add_batch_ms_p50"] = statistics.median(add)
        out["stream.overhead_ms_p50"] = statistics.median(
            p["durationMs"]["triggerExecution"] - a for p, a in zip(trig, add))
    return out


def scan_ms_per_page(spark, wl, repeats: int = 3) -> float:
    """Scan-only pass over the page files' url and html columns into the
    noop sink: parquet decode without the engine's operators."""
    from thesis_ner_co_tri_training_spark.sources.pages import PAGES_SCHEMA

    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        (spark.read.schema(PAGES_SCHEMA).parquet(wl.pages_dir)
         .select("url", "html").write.format("noop").mode("overwrite").save())
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e3 / wl.pages()


def rate(passes: list[dict]) -> tuple[float, float]:
    pages = sum(p["pages"] for p in passes)
    return (pages / sum(p["wall_s"] for p in passes),
            sum(p["cpu_s"] for p in passes) * 1e3 / pages)


def end_to_end(timed: list[dict], setup_s: float, peak_rss: int) -> dict:
    pages_per_s, cpu_ms = rate(timed)
    batch = summarize([s for p in timed for s in p["samples_s"]])
    return {
        "setup_s": setup_s,
        "pages_per_s": pages_per_s,
        "batch_p50_s": batch["p50"],
        "cpu_ms_per_page": cpu_ms,
        "peak_rss_mb": peak_rss / 2**20,
        "bytes_per_page": statistics.median(p["bytes"] / p["pages"] for p in timed),
    }


def per_layer(untraced: list[dict], traced: list[dict], control: dict,
              scan_ms: float, steal_s: float, load: float) -> dict:
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k in PER_LAYER}
    c, ms = control, control["ms"]
    out.update({
        "textnorm.extract_ms_per_page": ms["extract"] / c["pages"],
        "textnorm.split_ms_per_page": ms["split"] / c["pages"],
        "tagging.tag_ms_per_sentence": ms["tag"] / c["sentences"],
        "tagging.sentences_per_page": c["sentences"] / c["pages"],
        "mentions.vote_ms_per_sentence": ms["vote"] / c["sentences"],
        "mentions.vote_keep_ratio": c["voted"] / c["sentences"],
        "mentions.per_page": c["mentions"] / c["pages"],
        "control.ms_per_page": c["total_ms"] / c["pages"],
        "scan.ms_per_page": scan_ms,
        "batch.samples": len([s for p in untraced for s in p["samples_s"]]),
        "host.steal_s": steal_s,
        "host.loadavg_1m": load,
    })
    u_rate, u_cpu = rate(untraced)
    out["engine.overhead_ms_per_page"] = engine_overhead_ms_per_page(u_cpu, c)
    out["trace.overhead_pages_per_s"] = u_rate - rate(traced)[0]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = process_start_epoch()

    for need in ("thesis_ner_co_tri_training_spark/plans/pipeline.py",
                 "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"kgbench: engine file {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    load = os.getloadavg()[0]
    steal0 = host_steal_s()
    inputs, gen_s = ensure_inputs(args.seed)
    with open(os.path.join(inputs, "control.json")) as fh:
        control = json.load(fh)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    passes: list[dict] = []
    tracer = Tracer() if args.trace else None
    with PeakRss(os.getpid()) as rss:
        spark = start_spark()
        try:
            wl = WORKLOADS[args.workload](spark, inputs, WORK, control)
            for i, n_files in enumerate(wl.warmups):
                passes.append(run_pass(spark, wl, f"warmup-{i}", n_files, True))
            setup_s = time.time() - start - gen_s
            timed_s = 0.0
            while not passes[len(wl.warmups):] or (
                    timed_s < args.seconds
                    and time.time() - start < LAST_PASS_START_S):
                i = len(passes)
                passes.append(run_pass(spark, wl, f"pass-{i}", None, False))
                if tracer is not None:
                    passes.append(run_pass(spark, wl, f"traced-{i}", None,
                                           False, tracer))
                timed_s += sum(p["wall_s"] for p in passes[i:])
            scan_ms = scan_ms_per_page(spark, wl) if tracer else 0.0
        finally:
            peak_rss = rss.peak
            stop_spark(spark)
    steal_s = host_steal_s() - steal0

    failed = [p for p in passes if p["error"]]
    timed = [p for p in passes if not p["warmup"] and not p["error"]]
    untraced = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    metrics, units = {}, {}
    if untraced and (traced or not tracer):
        if tracer:
            metrics = per_layer(untraced, traced, combine(control["files"]),
                                scan_ms, steal_s, load)
            units = PER_LAYER
        else:
            metrics = end_to_end(untraced, setup_s, peak_rss)
            units = END_TO_END

    os.makedirs(RESULTS, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "input_gen_s": gen_s,
        "host": {"loadavg_1m_start": load, "steal_s": steal_s},
        "passes": passes, "metrics": metrics,
        "spans": tracer.spans if tracer else [],
    }
    with open(os.path.join(
            RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    curve = " ".join(f"{p['wall_s']:.2f}{'w' if p['warmup'] else ''}"
                     f"{'t' if p['traced'] else ''}{'!' if p['error'] else ''}"
                     for p in passes)
    print(f"kgbench {args.workload} seed={args.seed} setup={setup_s:.2f}s "
          f"steal={steal_s:.2f}s load1={load:.2f} passes(s; w=warm-up, "
          f"t=traced, !=failed): {curve}")
    for p in failed:
        print(f"failed {p['pass']}: {p['error']}")
    if untraced:
        batch = summarize([s for p in untraced for s in p["samples_s"]])
        tail = (f"p{batch['tail']['p']:g} = {batch['tail']['value']:.3f}s"
                if batch["tail"] else "no tail percentile has 10 samples beyond it")
        print(f"batch_p50_s = {batch['p50']:.3f}s over {batch['n']} samples; {tail}")
    print(json.dumps({
        "correct": not failed and bool(metrics),
        "attempted": len(passes),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

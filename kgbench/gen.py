"""Seeded input generator and engine-free control, one process per seed.

    python3 kgbench/gen.py --seed N --out DIR

Writes DIR/pages/part-XXXX.parquet (PAGES_SCHEMA, FILES files of
PAGES_PER_FILE pages from sources.pages.gen_page(pid, seed)) and
DIR/control.json. The control is a single-thread pass of the engine's
pure-Python reference functions over the same pages: extract_text,
split_sentences, tag_all_views_stats, cosines_from_counts +
vote_sentence_flat (the fused worker's vote), and the BIO fold
tests/oracle.bio_spans. It times each step and records, per file, the
reference counts and the order-independent hash of the mentions
(url, sent_id, beg, end, tag) that the engine must reproduce.

The output directory appears atomically (written beside it, then
renamed), so a killed generator never leaves a half-written cache.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = 16
PAGES_PER_FILE = 125


def mention_key_hash(rows) -> int:
    """Order-independent hash of (url, sent_id, beg, end, tag) rows: the
    sum of per-row 64-bit blake2b digests modulo 2**64."""
    total = 0
    for url, sent_id, beg, end, tag in rows:
        d = hashlib.blake2b(f"{url}\t{sent_id}\t{beg}\t{end}\t{tag}".encode(),
                            digest_size=8).digest()
        total += int.from_bytes(d, "little")
    return total % (1 << 64)


def _load_bio_spans():
    spec = importlib.util.spec_from_file_location(
        "kgbench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.bio_spans


def control_pass(pages: list[dict]) -> dict:
    """Engine-free pass over pages (dicts with url and html bytes)."""
    from thesis_ner_co_tri_training_spark.functions.textnorm import (
        extract_text, split_sentences)
    from thesis_ner_co_tri_training_spark.operators.mentions import (
        vote_sentence_flat)
    from thesis_ner_co_tri_training_spark.operators.tagging import (
        _resources, cosines_from_counts, tag_all_views_stats)
    from thesis_ner_co_tri_training_spark.plans.pipeline import DEFAULT_PARAMS

    thresholds = [DEFAULT_PARAMS[k] for k in
                  ("cos_threshold", "tcfd_threshold", "scfd_threshold")]

    bio_spans = _load_bio_spans()
    _resources()  # gazetteer build: the engine's workers pay it once too
    pc = time.perf_counter
    t = {"extract": 0.0, "split": 0.0, "tag": 0.0, "vote": 0.0, "bio": 0.0}
    n_sent = n_voted = 0
    keys = []
    for page in pages:
        t0 = pc()
        text = extract_text(page["html"])
        t1 = pc()
        sents = split_sentences(text)
        t2 = pc()
        t["extract"] += t1 - t0
        t["split"] += t2 - t1
        for sent_id, sent in enumerate(sents):
            t0 = pc()
            _, views = tag_all_views_stats(sent)
            t1 = pc()
            picked = vote_sentence_flat(
                [v[0] for v in views], [v[1] for v in views],
                [v[3] for v in views],
                cosines_from_counts(views[0][2], views[1][2], views[2][2]),
                *thresholds)
            t2 = pc()
            t["tag"] += t1 - t0
            t["vote"] += t2 - t1
            n_sent += 1
            if picked is None:
                continue
            n_voted += 1
            spans = bio_spans(picked[0], picked[1])
            t["bio"] += pc() - t2
            keys.extend((page["url"], sent_id, b, e, tag)
                        for b, e, tag, _ in spans)
    return {
        "pages": len(pages), "sentences": n_sent, "voted": n_voted,
        "mentions": len(keys), "mention_hash": mention_key_hash(keys),
        "ms": {k: v * 1e3 for k, v in t.items()},
    }


def combine(parts: list[dict]) -> dict:
    """Sum per-file control records (hashes add modulo 2**64)."""
    out = {"pages": 0, "sentences": 0, "voted": 0, "mentions": 0,
           "mention_hash": 0, "ms": {}}
    for p in parts:
        for k in ("pages", "sentences", "voted", "mentions"):
            out[k] += p[k]
        out["mention_hash"] = (out["mention_hash"] + p["mention_hash"]) % (1 << 64)
        for k, v in p["ms"].items():
            out["ms"][k] = out["ms"].get(k, 0.0) + v
    out["total_ms"] = sum(out["ms"].values())
    return out


def generate(seed: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from thesis_ner_co_tri_training_spark.sources.pages import gen_page

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    files = []
    for f in range(FILES):
        rows = [gen_page(pid, seed)
                for pid in range(f * PAGES_PER_FILE, (f + 1) * PAGES_PER_FILE)]
        table = pa.table({
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        })
        name = f"part-{f:04d}.parquet"
        pq.write_table(table, os.path.join(tmp, "pages", name))
        files.append({"file": name, **control_pass(rows)})
    with open(os.path.join(tmp, "control.json"), "w") as fh:
        json.dump({"seed": seed, "files": files}, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    generate(args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded inputs for the three workloads, cached per (workload, seed).

``--seed`` changes content only. The shape is fixed by ``SHAPE_SEED``:
conversation count, turns per conversation, which conversations are hot,
file cuts, and the documents' near-duplicate graph. Every cache entry is
built in a temporary directory and published with one atomic rename, so a
killed generator never leaves a half-written input behind.

Transcripts come from ``synth.plan_conversations`` (shape) and
``synth.conversation_rows`` (content, one RNG per conversation).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from multiprocessing import Pool

import numpy as np
import pandas as pd

from otel_logger_spark import synth

SHAPE_SEED = 20241015
GEN_VERSION = 5

# batch_throughput: one transcript table, at least one file per core
BATCH_CONVS = 3_500
BATCH_FILES = 8

# stream_ingest: small files cut in event-time order
STREAM_CONVS = 240
STREAM_FILES = 3

# query_latency: an sf0.1-shaped events table and a documents corpus
EVENT_ROWS = 100_000
EVENT_USERS = 1_500
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_SPAN_S = 30 * 86_400
DOC_ROWS = 500
DOC_NEAR_DUPS = 25  # doc = earlier doc + " dup"
DOC_EXACT_DUPS = 2  # doc = earlier doc
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def transcript_plan(n_convs: int, seed: int) -> list[tuple[str, int, int]]:
    """(conv_id, n_turns, content seed): turn counts and hot conversations
    from SHAPE_SEED, text from ``seed``."""
    shape = synth.plan_conversations(n_convs, SHAPE_SEED)
    return [(c, n, seed * 1_000_003 + i) for i, (c, n, _) in enumerate(shape)]


def transcript_frame(plan) -> pd.DataFrame:
    rows = []
    for conv_id, n_turns, s in plan:
        rows.extend(synth.conversation_rows(conv_id, n_turns, s))
    return pd.DataFrame(rows, columns=TRANSCRIPT_COLS).astype(
        {"turn_idx": "int32", "ts": "datetime64[us]"}
    )


def _write_part(args) -> int:
    path, plan = args
    pdf = transcript_frame(plan)
    pdf.to_parquet(path, index=False)
    return len(pdf)


def write_transcript_files(out_dir: str, n_convs: int, n_files: int, seed: int, procs: int) -> int:
    """Conversations dealt round-robin over ``n_files`` parquet files."""
    plan = transcript_plan(n_convs, seed)
    jobs = [
        (os.path.join(out_dir, f"part-{i:05d}.parquet"), plan[i::n_files])
        for i in range(n_files)
    ]
    if procs > 1:
        with Pool(min(procs, n_files)) as pool:
            return sum(pool.map(_write_part, jobs))
    return sum(map(_write_part, jobs))


def stream_cuts(pdf: pd.DataFrame, n_files: int) -> list[int]:
    """Row offsets that split event-time-ordered rows into ``n_files``
    parts, each cut moved forward onto a continuation line so that a
    multiline entry straddles every file boundary."""
    text = pdf["text"].to_numpy()
    turn = pdf["turn_idx"].to_numpy()
    cuts = []
    for i in range(1, n_files):
        j = len(pdf) * i // n_files
        while j < len(pdf) and not (turn[j] > 0 and text[j][:1] in (" ", "\t")):
            j += 1
        cuts.append(j)
    return cuts


def write_stream_files(out_dir: str, n_convs: int, n_files: int, seed: int) -> int:
    pdf = transcript_frame(transcript_plan(n_convs, seed))
    pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    bounds = [0, *stream_cuts(pdf, n_files), len(pdf)]
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(path, index=False)
        # the file source orders by modification time: one file per trigger
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return len(pdf)


def events_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(EVENT_SPAN_S / EVENT_ROWS, EVENT_ROWS)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.round(np.cumsum(gaps) * 1e6).astype("int64"), unit="us"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(EVENT_ROWS, dtype="int64"),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, EVENT_USERS, EVENT_ROWS).astype("int64"),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), EVENT_ROWS)],
            "value": np.round(rng.exponential(50.0, EVENT_ROWS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENT_ROWS)],
        }
    )


def documents_frame(seed: int) -> pd.DataFrame:
    shape = random.Random(SHAPE_SEED)
    n_words = [shape.randrange(10, 101) for _ in range(DOC_ROWS)]
    copies = {}  # doc -> (earlier doc, suffix)
    for j in shape.sample(range(DOC_ROWS // 10, DOC_ROWS), DOC_NEAR_DUPS + DOC_EXACT_DUPS):
        copies[j] = (shape.randrange(j), " dup" if len(copies) < DOC_NEAR_DUPS else "")
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(DOC_ROWS):
        if i in copies:
            src, suffix = copies[i]
            texts.append(texts[src] + suffix)
        else:
            words = np.asarray(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), n_words[i])]
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(DOC_ROWS, dtype="int64"),
            "text": texts,
            "lang": np.asarray(DOC_LANGS)[rng.choice(len(DOC_LANGS), DOC_ROWS, p=DOC_LANG_P)],
            "source": [f"src{i % 20}" for i in range(DOC_ROWS)],
            "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
        }
    )


def write_query_dir(out_dir: str, seed: int) -> int:
    events_frame(seed).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)
    documents_frame(seed).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return EVENT_ROWS


def cached(cache_root: str, key: str, build) -> str:
    """Return ``<cache_root>/<key>``, building it first if absent.

    ``build(tmp_dir)`` fills a private temp dir and returns a JSON-able
    summary; the dir is then published with one atomic rename. A racing
    builder that loses the rename discards its copy."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "_meta.json")):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".{key}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        meta = build(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.rename(tmp, final)
    except OSError:
        if not os.path.exists(os.path.join(final, "_meta.json")):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def ensure_input(cache_root: str, workload: str, seed: int, procs: int = 4) -> str:
    key = f"{workload}-v{GEN_VERSION}-s{seed}"
    from pipebench import oracle

    if workload == "batch_throughput":
        def fill(data):
            turns = write_transcript_files(data, BATCH_CONVS, BATCH_FILES, seed, procs)
            return {"turns": turns, "expected": oracle.predict_sink_counts(data)}
    elif workload == "stream_ingest":
        def fill(data):
            return {"turns": write_stream_files(data, STREAM_CONVS, STREAM_FILES, seed)}
    elif workload == "query_latency":
        def fill(data):
            return {"turns": write_query_dir(data, seed), "expected": oracle.query_expectations(data)}
    else:
        raise ValueError(f"unknown workload {workload!r}")

    def build(d):
        data = os.path.join(d, "data")
        os.makedirs(data)
        return fill(data)

    return cached(cache_root, key, build)


def input_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)

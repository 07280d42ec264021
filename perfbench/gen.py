"""Seeded input generators for the three workloads.

Run as a separate process before the measured one starts, so neither
the generation work nor anything it warms up (imports, a JVM) reaches a
metric:

    python3 perfbench/gen.py --workload ds_tail --seed 1 --out DIR --scale 1.0

Every generator is a pure function of its seed and size: the same seed
writes the same bytes. The program under test only ever reads the files
written here. Each generator also writes ``bookkeeping.json``: the
paths, the input row count, and what the correctness check needs.
"""

from __future__ import annotations

import argparse
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- ds_tail: docker-runtime log files --------------------------------------

FRAGMENT_PCT = 2.0  # share of lines that are Docker_Mode fragments
_LEVELS = ["INFO", "WARN", "ERROR", "DEBUG"]
_LOG_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def kube_conv_id(i: int) -> str:
    """conv_id that read_docker_logs derives from file ``i``'s name
    (``<pod>_<namespace>_<container>``)."""
    return f"pod-{i}_ns-{i % 8}_app-{i % 5}"


def write_docker_logs(out_dir: str, seed: int, n_files: int, lines_per_file: int) -> dict:
    """Docker log files named like kubelet's
    ``<pod>_<namespace>_<container>-<64hex>.log``, one JSON object per line.

    About FRAGMENT_PCT percent of lines are Docker_Mode fragments (a
    ``log`` without its trailing newline, continued by the next line); a
    file never ends on a fragment. Records per file are the lines left
    after the fragments are rejoined; file ``i`` is conv number ``i``.
    """
    rng = random.Random(seed)
    log_dir = os.path.join(out_dir, "logs")
    os.makedirs(log_dir)
    records = []
    for i in range(n_files):
        pod, ns, container = kube_conv_id(i).split("_")
        name = f"{pod}_{ns}_{container}-{rng.getrandbits(256):064x}.log"
        rows, n_rec, prev_partial = [], 0, False
        sec = rng.randrange(86_400)
        for j in range(lines_per_file):
            partial = j < lines_per_file - 1 and rng.random() * 100 < FRAGMENT_PCT
            n_rec += not prev_partial
            prev_partial = partial
            sec += rng.randrange(3)
            t = f"2024-01-01T{sec // 3600 % 24:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"
            words = " ".join(rng.choices(_LOG_WORDS, k=rng.randrange(4, 24)))
            if rng.random() < 0.4:
                text = (
                    f"{t.replace('T', ' ')} {rng.choice(_LEVELS)} [svc-{i % 8},"
                    f"{rng.getrandbits(64):016x},key=val] handled {words}"
                )
            else:
                text = f"{t.replace('T', ' ')} plain {words}"
            rows.append(json.dumps({
                "log": text if partial else text + "\n",
                "stream": "stderr" if rng.random() < 0.1 else "stdout",
                "time": f"{t}.{rng.randrange(10**9):09d}Z",
            }))
        with open(os.path.join(log_dir, name), "w") as f:
            f.write("\n".join(rows) + "\n")
        records.append(n_rec)
    return {
        "logs": log_dir,
        "n_files": n_files,
        "rows": n_files * lines_per_file,
        "records_per_conv": records,
    }


# --- eci_export: transcripts shaped like logpipe.synth.synth_transcripts ----

BASE_EPOCH = 1_700_000_000


def write_transcripts(out_dir: str, seed: int, n_rows: int, n_convs: int) -> dict:
    """Transcripts with synth_transcripts' shape, made with numpy so that
    generation needs no JVM: 15% of rows on the hot conv 0, the rest
    uniform; roles 40/30/20/10 assistant/user/tool/system; texts 35%
    erda-info lines, 10% java firstlines, 15% continuation lines, 3%
    empty, 0.1% over 50KB, the rest plain; ``tool`` set on tool rows.
    Plus the tool dim (tool -> cgroup cpuset path, a quarter missing)."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows)
    conv = np.where(rng.random(n_rows) < 0.15, 0, rng.integers(0, n_convs, n_rows))
    # turn_idx: 1-based position of the row within its conv, in id order
    order = np.lexsort((ids, conv))
    starts = np.searchsorted(conv[order], conv[order], side="left")
    turn = np.empty(n_rows, np.int32)
    turn[order] = np.arange(n_rows) - starts + 1
    r = rng.integers(0, 10, n_rows)
    role = np.where(r < 4, "assistant", np.where(r < 7, "user", np.where(r < 9, "tool", "system")))
    kind = rng.integers(0, 1000, n_rows)
    level = rng.integers(0, len(_LEVELS), n_rows)
    svc = rng.integers(0, 8, n_rows)
    hexes = rng.integers(0, 2**63, n_rows)
    tool_no = rng.integers(0, 16, n_rows)
    secs = ids % 86_400
    texts = []
    for i in range(n_rows):
        dt = _dt(int(secs[i]))
        k = kind[i]
        if k < 350:
            h = int(hexes[i])
            texts.append(
                f"{dt} {_LEVELS[level[i]]} [svc-{svc[i]},{h & 0xFFFFFFFF:08x}-"
                f"{h >> 32 & 0xFFFF:04x}-{h >> 48 & 0xFFFF:04x}-{h & 0xFFFF:04x}-"
                f"{h >> 8 & 0xFFFFFFFFFFFF:012x},key=val] handled request payload-{h:X}"
            )
        elif k < 450:
            texts.append(f"{dt} ERROR [svc-{svc[i]},,] java.lang.RuntimeException: boom ")
        elif k < 600:
            texts.append(f"\tat com.erda.Handler.run(Handler.java:{hexes[i] % 500})")
        elif k < 630:
            texts.append("")
        elif k < 631:
            texts.append(f"{dt} INFO big " + "x" * 60_000)
        else:
            texts.append(f"{dt} plain turn text payload-{int(hexes[i]):X}")
    table = pa.table({
        "conv_id": [f"conv-{c:05d}" for c in conv],
        "turn_idx": pa.array(turn, pa.int32()),
        "role": role.tolist(),
        "text": texts,
        "tool": [f"tool-{t}" if ro == "tool" else None for t, ro in zip(tool_no, role)],
        "ts": pa.array((BASE_EPOCH + secs) * 1_000_000, pa.timestamp("us", tz="UTC")),
    })
    paths = {
        "transcripts": os.path.join(out_dir, "transcripts.parquet"),
        "tool_meta": os.path.join(out_dir, "tool_meta.parquet"),
    }
    pq.write_table(table, paths["transcripts"])
    tools = [t for t in range(16) if t % 4 != 3]
    pq.write_table(
        pa.table({
            "tool": [f"tool-{t}" for t in tools],
            "cpuset": [
                f"/kubepods/besteffort/pod{rng.integers(0, 2**63):x}/"
                f"{rng.integers(0, 2**63):016x}{rng.integers(0, 2**63):016x}"
                for _ in tools
            ],
        }),
        paths["tool_meta"],
    )
    return {**paths, "rows": n_rows}


def _dt(sec: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(BASE_EPOCH + sec, datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


# --- curation: a documents table --------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for", "on", "with"]
_FOREIGN = {"fr": ["le", "la", "les", "et"], "es": ["el", "los", "y", "que"], "de": ["der", "die", "und", "das"]}


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """``documents.parquet`` with the sf fixtures' columns.

    Bodies draw from a 4,000-word vocabulary plus English stopwords, so
    a fresh document shares few 3-token windows with others; then about
    10% of documents copy a long span of an earlier one (the span gate
    trims them), and 4% are copies or near-copies (it drops them). Short
    documents land in the trim band on their own, because the curation
    DAG appends shared boilerplate lines to every document.
    """
    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(4_000)})
    texts: list[str] = []
    langs: list[str] = []
    for d in range(n_docs):
        lang = "en" if rng.random() < 0.7 else rng.choice(sorted(_FOREIGN))
        stop = _STOPWORDS if lang == "en" else _FOREIGN[lang]
        n = rng.randrange(10, 101)
        words = [rng.choice(stop) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)]
        r = rng.random()
        if d > 10 and r < 0.02:
            text = texts[rng.randrange(d)]
        elif d > 10 and r < 0.04:
            text = texts[rng.randrange(d)] + " dup"
        elif d > 10 and r < 0.14:
            src = texts[rng.randrange(d)].split(" ")
            span = src[: max(3, len(src) * 3 // 5)]
            text = " ".join(words[: max(3, len(span) // 2)] + span)
        else:
            text = " ".join(words)
        texts.append(text)
        langs.append(lang)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    sf_dir = os.path.join(out_dir, "sf")
    os.makedirs(sf_dir)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return {"sf_dir": sf_dir, "rows": n_docs}


def _word(rng: random.Random) -> str:
    syl = ["ka", "lo", "mi", "ten", "ra", "vos", "el", "dun", "pri", "sa", "gor", "ul", "fen", "ti"]
    return "".join(rng.choice(syl) for _ in range(rng.randrange(2, 5)))


# --- entry point -------------------------------------------------------------

# full-size inputs; --scale multiplies the row-count knob of each
SIZES = {
    "ds_tail": {"n_files": 128, "lines_per_file": 64},
    "eci_export": {"n_rows": 12_500, "n_convs": 4096},
    "curation": {"n_docs": 5000},
}


def generate(workload: str, seed: int, out_dir: str, scale: float) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[workload]
    if workload == "ds_tail":
        return write_docker_logs(
            out_dir, seed, size["n_files"], max(2, int(size["lines_per_file"] * scale))
        )
    if workload == "eci_export":
        return write_transcripts(
            out_dir, seed, max(1000, int(size["n_rows"] * scale)), size["n_convs"]
        )
    return write_documents(out_dir, seed, max(200, int(size["n_docs"] * scale)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    info = generate(a.workload, a.seed, a.out, a.scale)
    with open(os.path.join(a.out, "bookkeeping.json"), "w") as f:
        json.dump(info, f)


if __name__ == "__main__":
    main()

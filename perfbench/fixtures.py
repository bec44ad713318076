"""Seeded stand-ins for the fixture tables the registry queries read.

The benchmark reads and writes only inside its own checkout, and the
read-only fixture directory is not part of it, so setup writes tables with
the fixtures' schema and shape from the run's seed:

- `events` (event_id, ts, user_id, event_type, value, props): the tape the
  order-book registry queries treat as snapshots, deltas and prints. Like
  the fixture: 15 keys per 1,000 rows, five event types drawn uniformly,
  a 30-day span, values with two decimals and a `{"k": n}` size envelope.
- base `documents` and `embeddings`, shaped like the fixture's (10-99
  uniformly drawn words, five languages, 20 sources; 64-dim unit vectors
  with ten labels), which `loop.py` scales 10x.

`scale_documents` is the sparse near-dup regime of
`tools/gen_scale_corpus.py --sparse`. That transform lives inside the
tool's `main()`, which starts and stops its own Spark session, so it is
restated here; the 10x embeddings come from the tool's own
`gen_embeddings`.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query order group stream filter "
    "big vector"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.13, 0.14, 0.15)
EMBED_DIM = 64
N_QUERIES = 10  # vec_id < 10 are the ANN queries (functions/similarity.py)
TOP_K = 5


def write_events(sf_dir: str, n: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    value = np.maximum(0.01, np.round(rng.exponential(40.0, n), 2))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n * 15 // 1000), n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(value),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(1, 101, n)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def base_documents(n: int, seed: int) -> dict[str, list]:
    """n documents; about 10% are lightly edited copies of an earlier one,
    so minhash_eval has true near-duplicate pairs inside copy 0 too."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def scale_documents(base: dict[str, list], copies: int) -> dict[str, list]:
    """`gen_scale_corpus.py --sparse`: doc_id = id * copies + copy; copy 0
    is the original, docs with id % 10 == 0 get a per-copy filler token,
    and every other copy interleaves a position-unique marker after each
    token, so it shares no shingle with anything."""
    out: dict[str, list] = {k: [] for k in base}
    for d, text in enumerate(base["text"]):
        toks = [t for t in text.split(" ") if t != ""]
        for c in range(copies):
            if c == 0:
                new = text
            elif base["doc_id"][d] % 10 == 0:
                new = f"{text} filler{c}"
            else:
                new = " ".join(f"{t} u{base['doc_id'][d]}c{c}i{i}" for i, t in enumerate(toks))
            out["doc_id"].append(base["doc_id"][d] * copies + c)
            out["text"].append(new)
            for k in ("lang", "source", "n_chars"):
                out[k].append(base[k][d])
    return out


def write_documents(sf_dir: str, docs: dict[str, list]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], type=pa.int64()),
            "text": docs["text"],
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array(docs["n_chars"], type=pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def write_embeddings(sf_dir: str, n: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))


def exact_topk(path: str) -> dict[int, set[int]]:
    """The `cosine_topk` oracle's answer on the embeddings at `path`: per
    query, the top-k other vectors by cosine rounded to 6 places, ties
    broken by vec_id."""
    table = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = table.column("vec_id").to_numpy()
    e = np.stack(table.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    truth = {}
    for q in range(N_QUERIES):
        sims = np.round(e @ e[int(np.flatnonzero(ids == q)[0])], 6)
        sims[ids == q] = -np.inf
        order = np.lexsort((ids, -sims))
        truth[q] = {int(ids[j]) for j in order[:TOP_K]}
    return truth

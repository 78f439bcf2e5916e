"""Seeded input generator for the benchmark.

Every table is a pure function of the seed and its size: the same seed
writes byte-identical parquet files, a different seed writes different
ones. Shapes follow the ``events`` and ``documents`` tables of the
repository's parquet testdata (TESTDATA.md; at sf0.1: 100k events over
30 days, 5k documents), so the registry rows run on them unchanged.
Timestamps are naive microseconds, the same parquet flavor.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TAGS = ["web", "ios", "android", "api", "batch", "edge"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EV_T0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
EV_DAYS = 30
TABLE_IDS = {"events": 1, "documents": 2}
ROW_GROUP = 1 << 17


def rng(seed: int, table: str, part: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, TABLE_IDS[table], part])


def _ts_us(seconds: np.ndarray) -> pa.Array:
    return pa.array((seconds * 1_000_000).astype("int64"), pa.timestamp("us"))


def _choice(r: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)])


def events(seed: int, n: int, first_id: int = 0, tag: bool = False, part: int = 0) -> pa.Table:
    """``n`` events over 30 days in id order (ts is random, so ingest
    batches are out of order). ``tag`` adds a sparse string column
    (about 35% NULL) for the ``__nil`` group-key paths."""
    r = rng(seed, "events", part)
    ts = EV_T0 + np.sort(r.uniform(0, EV_DAYS * 86400, n))
    cols = {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": _ts_us(ts),
        "user_id": pa.array(r.integers(0, 1500, n, dtype="int64")),
        "event_type": _choice(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }
    if tag:
        t = np.asarray(TAGS, dtype=object)[r.integers(0, len(TAGS), n)]
        t[r.random(n) < 0.35] = None
        cols["tag"] = pa.array(t, pa.string())
    return pa.table(cols)


def documents(seed: int, n: int) -> pa.Table:
    """Docs of 10-100 words over a 30-word vocabulary; about 5% are
    near-duplicates of an earlier doc (one ``dup`` word inserted) and a
    handful are exact copies, the MinHash/dup-span workload's structure."""
    r = rng(seed, "documents")
    lens = r.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[r.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    near = np.flatnonzero(r.random(n) < 0.05)
    for i in near[near > 0]:
        src = texts[int(r.integers(0, i))].split(" ")
        src.insert(int(r.integers(0, len(src) + 1)), "dup")
        texts[i] = " ".join(src)
    exact = np.flatnonzero(r.random(n) < 0.002)
    for i in exact[exact > 0]:
        texts[i] = texts[int(r.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(r, LANGS, n, LANG_P),
        "source": pa.array(np.char.add("src", r.integers(0, 20, n).astype(str)).astype(object)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=ROW_GROUP)

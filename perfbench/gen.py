"""Seeded input generator for the benchmark workloads.

Writes ``events.parquet`` and ``documents.parquet`` with the schema of the
repository's test tables (see TESTDATA.md), so every registry query and its
DuckDB oracle run on them unchanged. Everything is derived from ``seed``:
the same seed gives byte-identical tables.

* events: ``N_TEMPLATES`` random-walk shapes, each replicated into series
  with value noise and a time shift. All values are finite: every DuckDB
  oracle twin of the SAX queries raises on a NaN or +-Inf value
  (``STDDEV_POP is out of range``), so outputs over non-finite inputs
  cannot be checked.
* documents: base documents over a 30-word vocabulary, replicated with
  token edits; a stated share of documents gets a span copied from another
  document (a shared span).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    series: int
    points: int
    docs: int
    doc_tokens: int
    probes: int = 0
    stream_files: int = 0


SPAN_TOKENS = 24  # length of an injected shared span
SPAN_SHARE = 0.2  # share of documents that get a shared span
N_TEMPLATES = 12  # random-walk shapes the series are replicated from
DAYS = 30  # event-time span of the events table


def _events(rng: np.random.Generator, s: Sizes) -> pa.Table:
    templates = np.cumsum(rng.normal(0.0, 1.0, (N_TEMPLATES, s.points)), axis=1)
    rows_per = s.points
    n = s.series * rows_per
    tpl = rng.integers(0, N_TEMPLATES, s.series)
    shift = rng.integers(0, s.points, s.series)
    vals = np.empty((s.series, rows_per))
    for i in range(s.series):
        base = np.roll(templates[tpl[i]], shift[i])
        vals[i] = 50.0 + 8.0 * base + rng.normal(0.0, 1.5, rows_per)
    vals = np.round(vals, 2).ravel()

    # per-series sorted arrival times over the whole span, with a per-series
    # offset (the time shift); distinct microsecond values everywhere
    span_us = DAYS * DAY_US
    ts = np.sort(rng.integers(0, span_us, (s.series, rows_per)), axis=1)
    ts = (ts + rng.integers(0, DAY_US, s.series)[:, None]) % span_us
    ts = np.sort(ts, axis=1).ravel() + EPOCH_US
    users = np.repeat(np.arange(s.series, dtype=np.int64), rows_per)
    order = np.lexsort((users, ts))
    ts, users, vals = ts[order], users[order], vals[order]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(
                [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
            ),
        }
    )


def _edit(rng: np.random.Generator, toks: list[str]) -> list[str]:
    out = list(toks)
    for _ in range(int(rng.integers(1, 4))):
        op, i = int(rng.integers(0, 3)), int(rng.integers(0, len(out)))
        if op == 0:
            out[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif op == 1:
            out.insert(i, VOCAB[int(rng.integers(0, len(VOCAB)))])
        elif len(out) > 2:
            del out[i]
    return out


def _documents(rng: np.random.Generator, s: Sizes) -> pa.Table:
    n_base = max(2, s.docs // 2)
    lo = max(4, s.doc_tokens // 4)
    docs: list[list[str]] = []
    for _ in range(n_base):
        ln = int(rng.integers(lo, 2 * s.doc_tokens - lo + 1))
        docs.append([VOCAB[k] for k in rng.integers(0, len(VOCAB), ln)])
    while len(docs) < s.docs:
        docs.append(_edit(rng, docs[int(rng.integers(0, n_base))]))
    for i in np.flatnonzero(rng.random(s.docs) < SPAN_SHARE):
        src = docs[int(rng.integers(0, s.docs))]
        if len(src) <= SPAN_TOKENS:
            continue
        a = int(rng.integers(0, len(src) - SPAN_TOKENS))
        at = int(rng.integers(0, len(docs[i]) + 1))
        docs[i] = docs[i][:at] + src[a : a + SPAN_TOKENS] + docs[i][at:]
    order = rng.permutation(s.docs)
    texts = [" ".join(docs[j]) for j in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(s.docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), s.docs)]),
            "source": pa.array([f"src{k % 5}" for k in range(s.docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int, sizes: Sizes, tables=("events", "documents")) -> dict:
    """Write the requested tables under ``out_dir`` and return a record of
    the sizes and measured input properties."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    info: dict = {"seed": seed, **asdict(sizes), "span_tokens": SPAN_TOKENS,
                  "span_share": SPAN_SHARE, "n_templates": N_TEMPLATES, "days": DAYS}
    if "events" in tables:
        ev = _events(rng, sizes)
        pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
        info["events_rows"] = ev.num_rows
        info["nonfinite_share"] = float(np.mean(~np.isfinite(ev.column("value").to_numpy())))
    if "documents" in tables:
        dc = _documents(rng, sizes)
        pq.write_table(dc, os.path.join(out_dir, "documents.parquet"))
        info["documents_rows"] = dc.num_rows
        info["tokens_total"] = int(sum(len(t.split()) for t in dc.column("text").to_pylist()))
    return info

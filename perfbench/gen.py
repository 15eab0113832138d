"""Seeded input generator for the benchmark workloads.

The tables follow the schemas and distributions of the project's sf0.1
synthetic testdata (events, documents, embeddings); the kline feed of the
ingest workload is a seeded random walk. The same seed always yields the
same files.
"""
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
JAN_2024_NS = 1704067200 * 10**9


def _write(table: pa.Table, path: Path) -> int:
    pq.write_table(table, path, compression="snappy")
    return path.stat().st_size


def events(rng, n: int) -> pa.Table:
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((JAN_2024_NS + ts_us * 1000).astype("datetime64[ns]"),
                       pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in lens]
    # 5% near-dups (another doc's text plus a trailing token) and a few
    # exact copies, as in the source testdata
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centres."""
    labels = rng.integers(0, 10, n)
    v = rng.normal(0, 1, (10, dim))[labels] * 0.5 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def klines(rng, minutes: int, symbols: list) -> pa.Table:
    """Per-symbol m1 klines over `minutes` from 2024-01-01, with a seeded 1%
    of minutes missing so the gap reads have something to report."""
    cols = {k: [] for k in ["symbol", "open_time_ms", "open", "high", "low",
                            "close", "volume_base", "volume_quote",
                            "n_trades", "taker_buy_base", "taker_buy_quote"]}
    t0 = JAN_2024_NS // 10**6
    for s in symbols:
        keep = np.sort(np.flatnonzero(rng.random(minutes) >= 0.01))
        k = len(keep)
        price = 100.0 * np.exp(np.cumsum(rng.normal(0, 1e-3, k)))
        op = np.round(price * (1 + rng.normal(0, 2e-4, k)), 4)
        cl = np.round(price, 4)
        hi = np.round(np.maximum(op, cl) * (1 + rng.exponential(3e-4, k)), 4)
        lo = np.round(np.minimum(op, cl) * (1 - rng.exponential(3e-4, k)), 4)
        vb = np.round(rng.exponential(20.0, k), 3)
        cols["symbol"] += [s] * k
        cols["open_time_ms"].append(t0 + keep * 60000)
        for name, arr in [("open", op), ("high", hi), ("low", lo),
                          ("close", cl), ("volume_base", vb),
                          ("volume_quote", np.round(vb * cl, 4)),
                          ("n_trades", rng.integers(1, 500, k)),
                          ("taker_buy_base", np.round(vb * rng.random(k), 3))]:
            cols[name].append(arr)
        cols["taker_buy_quote"].append(
            np.round(cols["taker_buy_base"][-1] * cl, 4))
    out = {"symbol": pa.array(cols.pop("symbol"), pa.string())}
    for k, v in cols.items():
        a = np.concatenate(v)
        out[k] = pa.array(a, pa.int64() if a.dtype.kind == "i" else pa.float64())
    return pa.table(out)


def generate(workload: str, seed: int, out: Path, spec: dict) -> dict:
    """Writes the workload's input tables under `out`; returns
    {table: {"rows": n, "bytes": b}}."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    sizes = {}
    tables = {}
    if "events" in spec:
        tables["events"] = events(rng, spec["events"])
    if "documents" in spec:
        tables["documents"] = documents(rng, spec["documents"])
    if "embeddings" in spec:
        tables["embeddings"] = embeddings(rng, spec["embeddings"])
    if "kline_minutes" in spec:
        tables["klines"] = klines(rng, spec["kline_minutes"], spec["symbols"])
    for name, t in tables.items():
        sizes[name] = {"rows": t.num_rows,
                       "bytes": _write(t, out / f"{name}.parquet")}
    if workload == "ingest":
        sched = ingest_schedule(rng, spec, tables["klines"])
        (out / "schedule.json").write_text(json.dumps(sched))
    return sizes


def ingest_schedule(rng, spec: dict, kl: pa.Table) -> dict:
    """Seeded split of the ingest stream: batch end times of the kline feed
    (equal shares moved by up to a tenth of a batch, so commits stay
    comparable), the symbol whose last page each later batch replays by a
    checkpoint rewind, the batch after which the document batch commits and
    the later batch that re-sends it."""
    t = kl.column("open_time_ms").to_numpy()
    lo, hi = int(t.min()), int(t.max()) + 60000
    nb, ns = spec["batches"], len(spec["symbols"])
    cuts = (np.arange(1, nb) + rng.uniform(-0.1, 0.1, nb - 1)) / nb
    ends = [lo + int((hi - lo) * c) // 60000 * 60000 for c in cuts] + [hi]
    rewind = np.zeros((nb, ns), bool)  # never in batch 0: nothing staged yet
    rewind[np.arange(1, nb), rng.integers(0, ns, nb - 1)] = True
    doc_at = int(rng.integers(0, nb - 1))
    return {"symbols": spec["symbols"], "batch_end_ms": ends,
            "rewind": rewind.tolist(), "page_limit": spec["page_limit"],
            "doc_at": doc_at, "resend_at": int(rng.integers(doc_at + 1, nb))}

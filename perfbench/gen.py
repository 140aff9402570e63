"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the same
parquet files. Each returns the traffic dimensions it planted, so the run
record states what the program was fed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 24 * 60 * 60 * 1000
#: 2024-01-01T00:00:00Z, the epoch the repo's own fixtures start at
T0_MS = 1_704_067_200_000

#: cooc_stream / batch_plans interaction traffic
N_ITEMS = 20_000
ITEM_ZIPF = 1.1
N_USERS = 2_000
USER_ZIPF = 1.0
LATE_SHARE = 0.02

#: the repo's fixture text uses a 30-word vocabulary at 10-100 tokens a doc
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
N_SOURCES = 20
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05

EMB_DIM = 64
EMB_CLUSTERS = 10


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def _draw_events(rng, n: int, item_p, user_p):
    """Items by Zipf rank (item 0 is the head), users by Zipf activity."""
    return rng.choice(N_ITEMS, size=n, p=item_p), rng.choice(N_USERS, size=n, p=user_p)


def interaction_batches(seed: int, out_dir: str, n_batches: int, events_per_batch: int) -> dict:
    """One parquet file per 1-day window: ``(user, item, ts_ms, seq)``.

    Batch ``b`` holds events of day ``b``; in every batch after the first a
    ``LATE_SHARE`` of its events carry a timestamp from the first half of
    day ``b-1``, which is below the watermark the previous batch left, so
    the engine must drop exactly those. Returns the batch paths and the
    traffic record, with the exact planted late count."""
    rng = np.random.default_rng([seed, 1])
    item_p, user_p = _zipf_p(N_ITEMS, ITEM_ZIPF), _zipf_p(N_USERS, USER_ZIPF)
    os.makedirs(out_dir, exist_ok=True)
    paths, late, seq = [], [], 0
    for b in range(n_batches):
        items, users = _draw_events(rng, events_per_batch, item_p, user_p)
        ts = np.sort(rng.integers(0, DAY_MS, size=events_per_batch)) + T0_MS + b * DAY_MS
        n_late = int(round(events_per_batch * LATE_SHARE)) if b > 0 else 0
        if n_late:
            idx = rng.choice(events_per_batch, size=n_late, replace=False)
            ts[idx] = T0_MS + (b - 1) * DAY_MS + rng.integers(0, DAY_MS // 2, size=n_late)
        late.append(n_late)
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "user": pa.array(users, pa.int32()),
                    "item": pa.array(items, pa.int32()),
                    "ts_ms": pa.array(ts, pa.int64()),
                    "seq": pa.array(np.arange(seq, seq + events_per_batch), pa.int64()),
                }
            ),
            path,
        )
        seq += events_per_batch
        paths.append(path)
    return {
        "paths": paths,
        "traffic": {
            "item_skew": f"Zipf({ITEM_ZIPF}) over {N_ITEMS} items",
            "user_activity_tail": f"Zipf({USER_ZIPF}) over {N_USERS} users",
            "late_share": LATE_SHARE,
            "late_planted": int(sum(late)),
            "batch_size_events": events_per_batch,
            "batches": n_batches,
        },
    }


def _documents(rng, n: int):
    """Fixture-like texts with planted exact copies and one-token edits of
    earlier documents (never of a planted copy, so groups stay simple)."""
    texts, kinds, originals = [], [], []
    for i in range(n):
        r = rng.random()
        if originals and r < EXACT_DUP_SHARE:
            texts.append(texts[originals[rng.integers(len(originals))]])
            kinds.append("exact")
        elif originals and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[originals[rng.integers(len(originals))]].split()
            toks[rng.integers(len(toks))] = "dup"
            texts.append(" ".join(toks))
            kinds.append("near")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))))
            kinds.append("orig")
            originals.append(i)
    return texts, kinds


def batch_tables(seed: int, out_dir: str, n_events: int, n_docs: int, n_vectors: int) -> dict:
    """The ``events``, ``documents`` and ``embeddings`` tables in the schema
    the registry's queries and the DuckDB oracle read (``sources.tables``)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    item_p, user_p = _zipf_p(N_ITEMS, ITEM_ZIPF), _zipf_p(N_USERS, USER_ZIPF)
    items, users = _draw_events(rng, n_events, item_p, user_p)
    n_days = 10
    ts_us = (T0_MS + np.sort(rng.integers(0, n_days * DAY_MS, size=n_events))) * 1000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(ts_us, pa.timestamp("us")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(["view"] * n_events),
                "value": pa.array(np.round(rng.random(n_events) * 100, 2)),
                "props": pa.array([json.dumps({"k": int(i)}) for i in items]),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    texts, kinds = _documents(rng, n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
                "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, size=n_vectors)
    emb = centers[labels] + 0.35 * rng.normal(size=(n_vectors, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {
        "traffic": {
            "item_skew": f"Zipf({ITEM_ZIPF}) over {N_ITEMS} items",
            "user_activity_tail": f"Zipf({USER_ZIPF}) over {N_USERS} users",
            "events": n_events,
            "event_days": n_days,
            "documents": n_docs,
            "exact_dup_share": EXACT_DUP_SHARE,
            "near_dup_share": NEAR_DUP_SHARE,
            "exact_dups_planted": kinds.count("exact"),
            "near_dups_planted": kinds.count("near"),
            "vectors": n_vectors,
            "embedding_dim": EMB_DIM,
            "embedding_clusters": EMB_CLUSTERS,
        },
        "input_rows": n_events + n_docs + n_vectors,
    }

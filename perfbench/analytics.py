"""The analytics pass: registered ``__spark_entry__`` queries over seeded tables.

One query per ``tinyflux_spark.operators`` module plus the two
``streaming`` queries, over ``events``, ``documents`` and
``embeddings`` tables that ``make_tables`` writes from the seed in the
TESTDATA layout (the same columns and value ranges, at about sf0.001
size). Each query is rebuilt (its registry ``fn`` call) and executed on
every pass; its answer is checked against the first pass's.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta, timezone

# (layer, registry name); one query per operators module
QUERIES = (
    ("operators", "q127_holt_last"),  # aggregates
    ("operators", "q19_minhash_lsh_pairs"),  # dedup
    ("operators", "q33_media_features"),  # multimodal
    ("operators", "q53_hash_sample"),  # sampling
    ("operators", "q52_ivf_ann_topk"),  # similarity
    ("operators", "q100_kmv_distinct"),  # sketches
    ("operators", "q91_bigram_logprob"),  # text
    ("operators", "q61_rolling_zscore"),  # timeseries
    ("streaming", "q26_stream_hourly_rollup"),
    ("streaming", "q36_stream_ewma"),
)

N_EVENTS = 2000
N_USERS = 30
N_DOCS = 500
N_VECS = 500
DIM = 64
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def make_tables(rng: random.Random, sf_dir: str) -> None:
    """Write the three tables the pass reads as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ts, t = [], t0
    for _ in range(N_EVENTS):  # strictly increasing: every series has a total order
        t += timedelta(seconds=rng.randint(60, 2400),
                       microseconds=rng.randrange(10**6))
        ts.append(t)
    pq.write_table(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([rng.randrange(N_USERS) for _ in ts], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in ts]),
        "value": pa.array([round(rng.uniform(0.0, 330.0), 2) for _ in ts]),
        "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in ts]),
    }), os.path.join(sf_dir, "events.parquet"))

    texts = []
    for i in range(N_DOCS):
        if i and rng.random() < 0.1:  # a near-duplicate of an earlier doc
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(LANGS) for _ in texts]),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in texts]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))

    centres = [[rng.gauss(0.0, 0.15) for _ in range(DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(N_VECS)]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(
            [[c + rng.gauss(0.0, 0.05) for c in centres[lab]] for lab in labels],
            pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def answer(rows) -> tuple:
    """(rows, order-free digest) of a collected result."""
    h = hashlib.sha1()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return (len(rows), h.hexdigest())

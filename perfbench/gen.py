"""Seeded inputs for the benchmark and the generator-side truth they are
checked against.

Everything here is computed without the engine (numpy, pyarrow, zlib), so a
change to the package cannot change what the benchmark feeds it or what it
expects back.
"""

from __future__ import annotations

import datetime as dt
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = 8
PARTITIONS = 4
HOURS = 48
NULL_KEY_SHARE = 0.05
KEY_SPACE = 20_000
EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

_WORDS = (
    "spark window merge table column vector stream value key row part scan "
    "sort hash group agg filter query batch line order data join index slow "
    "fast big small a map reduce"
).split()

RECORD_ARROW_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestamp_type", pa.int32()),
    ]
)


@dataclass
class Records:
    """Generated Kafka-like records, columnar, in generation order."""

    topic: np.ndarray  # int topic index
    partition: np.ndarray
    offset: np.ndarray
    key: list  # bytes | None
    value: list  # bytes
    ts_ms: np.ndarray
    crc: np.ndarray  # per-record digest term, see record_crc

    def __len__(self) -> int:
        return len(self.offset)

    def take(self, idx: np.ndarray) -> "Records":
        return Records(
            self.topic[idx], self.partition[idx], self.offset[idx],
            [self.key[i] for i in idx], [self.value[i] for i in idx],
            self.ts_ms[idx], self.crc[idx],
        )

    def to_arrow(self) -> pa.Table:
        return pa.table(
            {
                "topic": [topic_name(t) for t in self.topic],
                "partition": self.partition.astype(np.int32),
                "offset": self.offset,
                "key": self.key,
                "value": self.value,
                "timestamp": (self.ts_ms * 1000).astype("datetime64[us]"),
                "timestamp_type": np.ones(len(self), dtype=np.int32),
            },
            schema=RECORD_ARROW_SCHEMA,
        )


def topic_name(t: int) -> str:
    return f"topic{t}"


def record_crc(topic: str, partition: int, offset: int, key, value: bytes, ts_ms: int) -> int:
    """Digest term of one record: CRC-32 of its fields joined by ``|`` with
    key and value in upper-case hex; `workloads.crc_col` builds the same
    string inside Spark. Summed over rows it is independent of order."""
    k = "~" if key is None else key.hex().upper()
    return zlib.crc32(f"{topic}|{partition}|{offset}|{k}|{value.hex().upper()}|{ts_ms * 1000}".encode())


def make_records(seed: int, n: int) -> Records:
    """``n`` records over TOPICS x PARTITIONS and HOURS hourly slices: Zipf
    keys with NULL_KEY_SHARE null keys, 64-192 B text values, offsets that
    rise with time inside each partition."""
    rng = np.random.default_rng(seed)
    topic = rng.integers(0, TOPICS, n)
    partition = rng.integers(0, PARTITIONS, n)
    start_ms = int(EPOCH.timestamp() * 1000)
    ts_ms = start_ms + rng.integers(0, HOURS * 3600 * 1000, n)
    order = np.lexsort((ts_ms, partition, topic))
    topic, partition, ts_ms = topic[order], partition[order], ts_ms[order]
    group = topic * PARTITIONS + partition
    first = np.searchsorted(group, group, side="left")
    offset = np.arange(n) - first
    key_ids = np.minimum(rng.zipf(1.3, n), KEY_SPACE)
    null = rng.random(n) < NULL_KEY_SHARE
    lengths = rng.integers(64, 193, n)
    text = " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), 4096)])
    starts = rng.integers(0, len(text) - 200, n)
    keys: list = []
    values: list = []
    crc = np.empty(n, dtype=np.int64)
    for i in range(n):
        k = None if null[i] else b"user-%06d" % key_ids[i]
        head = b'{"seq":%d,"text":"' % i
        v = head + text[starts[i] : starts[i] + lengths[i] - len(head) - 2].encode() + b'"}'
        keys.append(k)
        values.append(v)
        crc[i] = record_crc(topic_name(topic[i]), int(partition[i]), int(offset[i]), k, v, int(ts_ms[i]))
    return Records(topic, partition, offset, keys, values, ts_ms, crc)


def write_parquet(records: Records, path: str) -> None:
    pq.write_table(records.to_arrow(), path)


def digest(records: Records) -> tuple[int, int]:
    """(row count, sum of per-record crc) — equal for any ordering."""
    return len(records), int(records.crc.sum())


def compacted(records: Records) -> Records:
    """Kafka key-latest compaction as `compact_latest_by_key` defines it:
    latest (timestamp, offset) per (topic, partition, key); null keys kept."""
    best: dict = {}
    keep = []
    for i in range(len(records)):
        k = records.key[i]
        if k is None:
            keep.append(i)
            continue
        g = (records.topic[i], records.partition[i], k)
        j = best.get(g)
        if j is None or (records.ts_ms[i], records.offset[i]) > (records.ts_ms[j], records.offset[j]):
            best[g] = i
    keep.extend(best.values())
    return records.take(np.array(sorted(keep), dtype=np.int64))


def restore_truth(records: Records, cutoff_ms: int, topics: list[int]) -> tuple[int, int]:
    """Digest of what a point-in-time restore from ``cutoff_ms`` over
    ``topics`` must return."""
    mask = (records.ts_ms >= cutoff_ms) & np.isin(records.topic, topics)
    return int(mask.sum()), int(records.crc[mask].sum())


def make_corpus(seed: int, docs: int, vectors: int, out_dir: str) -> None:
    """A near-dup corpus shaped like the registry's sf0.1 tables: documents
    of 10-100 tokens over a 31-word vocabulary with planted copies, and
    unit 64-d embeddings in 10 label clusters. Edited copies are made only
    from documents of at least 60 tokens with one token replaced, so every
    planted pair has 3-gram Jaccard >= 0.9 and MinHash-LSH misses none."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_WORDS[:31])
    # fixed shares (4% exact copies, 8% edited copies) so that every seed
    # plants the same number of near-duplicates
    kind = rng.permutation(np.repeat([0, 1, 2], [docs * 4 // 100, docs * 8 // 100,
                                                 docs - docs * 12 // 100]))
    kind[:10] = 2
    texts: list[str] = []
    for i in range(docs):
        if kind[i] == 0:
            texts.append(texts[rng.integers(0, i)])
            continue
        if kind[i] == 1:
            src = texts[rng.integers(0, i)].split(" ")
            if len(src) >= 60:
                src[rng.integers(0, len(src))] = vocab[rng.integers(0, len(vocab))]
                texts.append(" ".join(src))
                continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 6, docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(docs, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.permutation(np.arange(vectors) % 10)
    noise = rng.normal(size=(vectors, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    emb = 0.37 * centers[label] + noise
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(vectors, dtype=np.int64),
                "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
                "label": label.astype(np.int32),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )

"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so two runs with the
same ``--seed`` see byte-identical inputs. The engine receives only the
files written here; it never sees the seed.
"""

from __future__ import annotations

import json
import os
import random

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources import (
    synthetic,
)

MALFORMED_RATE = 0.01


def key_base(seed: int) -> int:
    """First envelope key of a seed's key range. Ranges of different
    seeds never overlap, and keys stay well inside a signed long."""
    return 1 + (seed % 9973) * 10_000_000


class EnvelopeFeed:
    """Deterministic envelope lines: consecutive keys from the seed's
    range, about 1% of lines replaced by a malformed JSON fragment.

    ``lines(n)`` hands out the next n lines and records which keys went
    out well-formed (the oracle's key set) and which malformed lines
    went out (what the dead-letter sink must hold)."""

    def __init__(self, seed: int, offset: int = 0):
        self._rng = random.Random(seed * 7919 + offset)
        self._next = key_base(seed) + offset
        self.good_keys: list[int] = []
        self.malformed: list[str] = []

    def lines(self, n: int) -> list[str]:
        out = []
        for k in range(self._next, self._next + n):
            if self._rng.random() < MALFORMED_RATE:
                line = '{"results": [oops %d' % k
                self.malformed.append(line)
            else:
                line = json.dumps(synthetic.envelope_dict(k))
                self.good_keys.append(k)
            out.append(line)
        self._next += n
        return out

    @property
    def published(self) -> int:
        return len(self.good_keys) + len(self.malformed)


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


# -- curation corpus -------------------------------------------------
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query group filter stream vector record shard index token cluster "
    "window split probe ledger erase"
).split()
_LANGS = [("en", 44), ("zh", 14), ("es", 14), ("de", 14), ("fr", 14)]


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """documents.parquet and embeddings.parquet with the schemas of the
    engine's test corpus. Every 10th document is an exact copy and
    three in 20 are near copies (one to three words changed) of an
    earlier one, in the same proportion whatever the seed; the seed
    picks the words, the copied documents and the edits. Embeddings are
    noisy copies of ten label centroids, so the IVF cells are uneven."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    langs = [lang for lang, w in _LANGS for _ in range(w)]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 10 == 3:
            text = rng.choice(texts)
        elif i >= 20 and i % 20 in (5, 11, 17):
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 70)))
        texts.append(text)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [langs[(i * 7) % len(langs)] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    centroids = nrng.normal(size=(10, 64))
    labels = np.arange(n_vecs) % 10
    vecs = centroids[labels] + 0.6 * nrng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(sf_dir, "embeddings.parquet"))

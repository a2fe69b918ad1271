"""Seeded benchmark inputs, generated once per (shape, seed) and cached
as parquet under ``.perfbench/fixtures/`` in the checkout.

* Conversation corpus: ``data.transcripts.transcripts_df`` rows over
  uniform blocks (``hot_fraction=0``, ``dup_fraction=0.30``), split
  into a base corpus and one closed-conversation micro-batch by a
  seeded hash of ``conv_id`` (the generator numbers a cluster's members
  consecutively, so an id-range split would never link a new
  conversation to a stored cluster).
* Document corpus: ``documents`` / ``embeddings`` tables with the
  schema of the relational test corpus, plus planted near-duplicate
  documents and their truth pairs.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _unit(seed: int, key: str) -> float:
    """Seeded uniform [0, 1) draw keyed by ``key`` (stable across
    processes and machines, unlike ``hash``)."""
    h = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2**64


@dataclass(frozen=True)
class ConvFixture:
    root: Path
    n_base: int
    batch_convs: int

    @property
    def base(self) -> str:
        return str(self.root / "base.parquet")

    @property
    def batch(self) -> str:
        return str(self.root / "batch.parquet")

    @property
    def truth(self) -> str:
        return str(self.root / "truth.parquet")

    def input_bytes(self, paths: list[str]) -> int:
        """Parquet bytes of the given fixture datasets."""
        return sum(f.stat().st_size for d in paths for f in Path(d).glob("*.parquet"))


#: share of conversations that are noisy duplicates of another one
DUP_FRACTION = 0.30


def conv_fixture(cache: Path, seed: int, n_base: int, batch_convs: int) -> ConvFixture:
    """A base corpus of ``n_base`` conversations and one micro-batch of
    ``batch_convs`` whole conversations, assigned by a seeded hash of
    conv_id. Rows are those of ``transcripts_df`` (same generator, same
    pandas frame, timestamps stored as UTC), written with pyarrow so
    generation needs no Spark job."""
    from poi_name_matching_spark.data.transcripts import generate_transcripts

    n_convs = n_base + batch_convs
    root = cache / f"conv_b{n_base}_m{batch_convs}_s{seed}"
    fx = ConvFixture(root, n_base, batch_convs)
    if (root / "_COMPLETE").exists():
        return fx
    gen = generate_transcripts(n_convs=n_convs, seed=seed, dup_fraction=DUP_FRACTION)
    # rank conversations by a seeded hash of conv_id: the first n_base
    # of the ranking are the base, the rest the batch
    ranked = sorted((c for c, _ in gen.truth), key=lambda c: _unit(seed, c))
    assert len(ranked) == n_convs, (len(ranked), n_convs)
    in_base = set(ranked[:n_base])

    pdf = pd.DataFrame(gen.rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    base = pdf["conv_id"].isin(in_base)
    for d, rows in ((Path(fx.base), pdf[base]), (Path(fx.batch), pdf[~base])):
        d.mkdir(parents=True, exist_ok=True)
        part = pa.Table.from_pandas(rows, schema=schema, preserve_index=False)
        pq.write_table(part, d / "part-00000.parquet")
    truth = pa.table({"conv_id": [c for c, _ in gen.truth],
                      "entity_id": [e for _, e in gen.truth]})
    Path(fx.truth).mkdir(parents=True, exist_ok=True)
    pq.write_table(truth, Path(fx.truth) / "part-00000.parquet")
    (root / "_COMPLETE").write_text(json.dumps({"n_convs": n_convs, "seed": seed}))
    return fx


# ---------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


@dataclass(frozen=True)
class DocFixture:
    root: Path
    n_docs: int
    n_vecs: int

    @property
    def sf_dir(self) -> str:
        return str(self.root)

    @property
    def truth_pairs(self) -> set[tuple[int, int]]:
        raw = json.loads((self.root / "near_dup_pairs.json").read_text())
        return {tuple(p) for p in raw}


def _edit(rng: random.Random, toks: list[str]) -> list[str]:
    """A near-duplicate: one token substitution, drop or insert per 25
    tokens."""
    out = list(toks)
    for _ in range(max(1, len(out) // 25)):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.4:
            out[i] = rng.choice(_DOC_VOCAB)
        elif op < 0.7 and len(out) > 10:
            del out[i]
        else:
            out.insert(i, rng.choice(_DOC_VOCAB))
    return out


def doc_fixture(cache: Path, seed: int, n_docs: int, n_vecs: int,
                dup_share: float = 0.08) -> DocFixture:
    """``documents(doc_id, text, lang, source, n_chars)`` with
    ``dup_share`` of docs being near-duplicates (light edits) or exact
    copies of an earlier doc, and ``embeddings(vec_id, embedding,
    label)``: unit 64-d vectors around 10 label centroids, some of them
    near-copies of an earlier vector."""
    root = cache / f"docs_n{n_docs}_v{n_vecs}_d{dup_share}_s{seed}"
    fx = DocFixture(root, n_docs, n_vecs)
    if (root / "_COMPLETE").exists():
        return fx
    root.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    texts: list[list[str]] = []
    originals: list[int] = []
    copies: dict[int, list[int]] = {}
    for i in range(n_docs):
        if originals and rng.random() < dup_share:
            src = rng.choice(originals)
            toks = list(texts[src]) if rng.random() < 0.2 else _edit(rng, texts[src])
            copies.setdefault(src, []).append(i)
        else:
            toks = [rng.choice(_DOC_VOCAB) for _ in range(rng.randint(10, 100))]
            originals.append(i)
        texts.append(toks)
    # truth: every pair inside an original's copy group
    pairs = [
        (a, b)
        for src, cp in copies.items()
        for k, a in enumerate([src, *cp])
        for b in [src, *cp][k + 1 :]
    ]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": [" ".join(t) for t in texts],
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   root / "documents.parquet")

    nrng = np.random.default_rng(seed)
    centroids = nrng.normal(size=(10, 64))
    labels = nrng.integers(0, 10, size=n_vecs).astype(np.int32)
    vecs = centroids[labels] + nrng.normal(scale=1.5, size=(n_vecs, 64))
    for i in range(1, n_vecs):
        if nrng.random() < dup_share:
            j = int(nrng.integers(0, i))
            vecs[i] = vecs[j] + nrng.normal(scale=0.05, size=64)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs], type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels),
        }
    )
    pq.write_table(emb, root / "embeddings.parquet")
    (root / "near_dup_pairs.json").write_text(json.dumps(pairs))
    (root / "_COMPLETE").write_text("")
    return fx

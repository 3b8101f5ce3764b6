"""Seeded workload inputs, generated once per (workload, seed, params)
and cached on disk.

``cdc_lifecycle``: a transcripts CDC stream in the bench shape (mild
skew over shard-local hot conversations, the mid-stream additive
``model`` column), plus the generator's expected final table.

``dedup_queries``: a document corpus with injected near-duplicates,
delivered as a CDC stream of a ``documents`` table, plus an embedding
table with injected near-duplicate vectors.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil

import numpy as np

# Scaled to this benchmark's time budget (one run ≈ one minute on a
# 4-core host); see cdcbench/README.md for the full-size shapes.
CDC_PARAMS = {
    "n_shards": 4, "n_convs": 150, "max_turns": 24,
    "n_extra_txns": 3000, "hot_fraction": 0.3,
}
DEDUP_PARAMS = {"n_docs": 400, "dup_every": 6, "n_vecs": 300, "dim": 128}

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big vector commit shuffle frame decode arrow "
    "turn reply tool call agent"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]


def _cache_dir(root: str, workload: str, seed: int, params: dict) -> str:
    tag = hashlib.sha1(
        json.dumps(params, sort_keys=True).encode()
    ).hexdigest()[:10]
    return os.path.join(root, "inputs", f"{workload}-s{seed}-{tag}")


def _cached(path: str, build) -> dict:
    """Return the cached input's meta, building it under a temporary
    name and renaming it into place so a killed run leaves no half
    input behind."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = path
    return meta


def _frames_meta(frames) -> dict:
    return {
        "n_frames": len(frames),
        "wire_bytes": int(sum(len(f[2]) for f in frames)),
    }


def cdc_input(root: str, seed: int) -> dict:
    """Frames (``frames/``, 8 parquet files) and the expected final
    table (``oracle.pkl``) of one seeded transcripts stream."""
    from pg_pb3_ld_spark.generator import (
        generate_stream_sharded,
        write_frames_parquet_dir,
    )

    def build(d: str) -> dict:
        p = dict(CDC_PARAMS)
        stream = generate_stream_sharded(
            n_shards=p.pop("n_shards"), seed=seed, **p
        )
        write_frames_parquet_dir(stream, os.path.join(d, "frames"), n_files=8)
        with open(os.path.join(d, "oracle.pkl"), "wb") as f:
            pickle.dump(stream.oracle, f)
        return {
            **_frames_meta(stream.frames),
            "n_changes": stream.n_changes,
        }

    return _cached(_cache_dir(root, "cdc_lifecycle", seed, CDC_PARAMS), build)


def load_oracle(meta: dict) -> dict:
    with open(os.path.join(meta["dir"], "oracle.pkl"), "rb") as f:
        return pickle.load(f)


def documents_schema():
    from pg_pb3_ld_spark.pb3 import wire
    from pg_pb3_ld_spark.schema import TargetColumn, TargetSchema

    return TargetSchema(
        "documents",
        [
            TargetColumn("doc_id", wire.OID_INT8, "bigint", is_key=True),
            TargetColumn("text", wire.OID_TEXT, "string"),
            TargetColumn("lang", wire.OID_TEXT, "string"),
            TargetColumn("source", wire.OID_TEXT, "string"),
            TargetColumn("n_chars", wire.OID_INT8, "bigint"),
        ],
    )


def _dup_source(rng: np.random.Generator, i: int, every: int) -> int | None:
    """Every ``every``-th row is a near-duplicate of an earlier
    original row (never of a duplicate), so the duplicate clusters are
    stars of the same shape whatever the seed."""
    if i % every != every - 1:
        return None
    j = int(rng.integers(i - i // every))
    return j // (every - 1) * every + j % (every - 1)


def _documents(rng: np.random.Generator, n: int, every: int) -> list:
    docs = []
    for i in range(n):
        src = _dup_source(rng, i, every)
        if src is not None:
            # a few words of the original swapped out
            words = docs[src]["text"].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(len(words)))] = _VOCAB[
                    int(rng.integers(len(_VOCAB)))
                ]
        else:
            words = [
                _VOCAB[int(k)]
                for k in rng.integers(len(_VOCAB), size=int(rng.integers(12, 80)))
            ]
        text = " ".join(words)
        docs.append({
            "doc_id": i, "text": text,
            "lang": _LANGS[int(rng.integers(len(_LANGS)))],
            "source": f"src{i % 7}", "n_chars": len(text),
        })
    return docs


def _embeddings(rng: np.random.Generator, n: int, dim: int, every: int):
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    for i in range(n):
        src = _dup_source(rng, i, every)
        if src is not None:
            vecs[i] = vecs[src] + 0.3 * rng.normal(size=dim).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs, rng.integers(4, size=n).astype(np.int32)


def dedup_input(root: str, seed: int) -> dict:
    """The corpus as CDC frames of the ``documents`` table
    (``frames/``), the expected documents (``documents.pkl``) and the
    embedding table (``embeddings.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.generator import _frames_table, encode_routed_changes
    from pg_pb3_ld_spark.pb3 import wire

    def build(d: str) -> dict:
        p = DEDUP_PARAMS
        rng = np.random.default_rng(seed)
        docs = _documents(rng, p["n_docs"], p["dup_every"])
        changes = [
            (
                "public", "documents", "INSERT",
                [("doc_id", r["doc_id"], wire.OID_INT8)],
                [
                    ("text", r["text"], wire.OID_TEXT),
                    ("lang", r["lang"], wire.OID_TEXT),
                    ("source", r["source"], wire.OID_TEXT),
                    ("n_chars", r["n_chars"], wire.OID_INT8),
                ],
            )
            for r in docs
        ]
        frames = encode_routed_changes(changes)
        os.makedirs(os.path.join(d, "frames"))
        pq.write_table(
            _frames_table(frames),
            os.path.join(d, "frames", "frames-0000.parquet"),
        )
        with open(os.path.join(d, "documents.pkl"), "wb") as f:
            pickle.dump(docs, f)
        vecs, labels = _embeddings(rng, p["n_vecs"], p["dim"], p["dup_every"])
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }),
            os.path.join(d, "embeddings.parquet"),
        )
        return {
            **_frames_meta(frames),
            "n_changes": len(docs),
            "n_docs": len(docs),
            "n_vecs": len(vecs),
        }

    return _cached(_cache_dir(root, "dedup_queries", seed, DEDUP_PARAMS), build)


def load_documents(meta: dict) -> list:
    with open(os.path.join(meta["dir"], "documents.pkl"), "rb") as f:
        return pickle.load(f)

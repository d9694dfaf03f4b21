"""Benchmark inputs: seeded WAL segments and a fixed dedup corpus.

Inputs are cached under ``perfbench/.cache/<kind>-<digest>/`` where the
digest covers the full spec (and the generator's own source for the WAL),
so a changed spec never reuses stale files.  Every input file is read once
before any timing so the first timed scan does not pay for a cold page cache.
"""

from __future__ import annotations

import dataclasses
import hashlib
import inspect
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _cached(kind: str, key, build) -> str:
    """Directory holding the inputs for `key`, built once by `build(dir)`."""
    out = os.path.join(CACHE, f"{kind}-{_digest(key)}")
    if os.path.isfile(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp-{uuid.uuid4().hex}"
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump(key, f, sort_keys=True)
    try:
        os.replace(tmp, out)
    except OSError:  # another process built it first: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def warm_page_cache(root: str) -> int:
    """Read every file under `root` once; returns the bytes read."""
    n = 0
    for d, _, files in os.walk(root):
        for name in files:
            with open(os.path.join(d, name), "rb") as f:
                while chunk := f.read(1 << 20):
                    n += len(chunk)
    return n


def tree_bytes(root: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(d, name))
        for d, _, files in os.walk(root)
        for name in files
        if name.endswith(suffix)
    )


# ---- WAL ----------------------------------------------------------------


def wal_segments(spec) -> tuple[str, list[tuple[str, str]]]:
    """Generate (or reuse) the WAL for a `fixtures.walgen.WalSpec`.

    Returns (wal_dir, [(segment_path, version), ...] in log order)."""
    from nifi_daffodil_spark.fixtures import walgen

    key = {
        "spec": dataclasses.asdict(spec),
        "generator": hashlib.sha256(inspect.getsource(walgen).encode()).hexdigest()[:16],
    }
    wal = _cached("wal", key, lambda d: walgen.generate_wal(d, spec))
    segs = []
    for v in ("v0", "v1"):
        vd = os.path.join(wal, v)
        segs += [(os.path.join(vd, n), v) for n in sorted(os.listdir(vd)) if n.endswith(".parquet")]
    segs.sort(key=lambda sv: os.path.basename(sv[0]))
    return wal, segs


# ---- dedup corpus ---------------------------------------------------------

#: the 31-word vocabulary of the graded sf0.1 `documents` table (TESTDATA.md)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


@dataclasses.dataclass(frozen=True)
class CorpusSpec:
    """Shape of the graded sf0.1 `documents` and `embeddings` tables."""

    n_docs: int = 5000
    n_vecs: int = 2000
    dim: int = 64
    p_near_doc: float = 0.02   # near-dup perturbation of a recent document
    p_near_vec: float = 0.05   # near-dup perturbation of a recent vector
    seed: int = 42


def _write_documents(path: str, spec: CorpusSpec, rng: np.random.Generator) -> None:
    langs = ["en", "en", "en", "zh", "es", "fr", "de"]
    texts: list[str] = []
    for i in range(spec.n_docs):
        if i > 0 and rng.random() < spec.p_near_doc:
            base = texts[int(rng.integers(max(0, i - 50), i))].split()
            for _ in range(max(1, len(base) // 10)):
                base[int(rng.integers(0, len(base)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(spec.n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([langs[j] for j in rng.integers(0, len(langs), spec.n_docs)]),
                "source": pa.array([f"src{j}" for j in rng.integers(0, 20, spec.n_docs)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )


def _write_embeddings(path: str, spec: CorpusSpec, rng: np.random.Generator) -> None:
    v = rng.standard_normal((spec.n_vecs, spec.dim))
    for i in range(1, spec.n_vecs):
        if rng.random() < spec.p_near_vec:
            j = int(rng.integers(max(0, i - 20), i))
            v[i] = v[j] + 0.35 * rng.standard_normal(spec.dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(spec.n_vecs), pa.int64()),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, size=spec.n_vecs), pa.int32()),
            }
        ),
        path,
    )


def corpus_dir(spec: CorpusSpec = CorpusSpec()) -> str:
    """Directory with documents.parquet + embeddings.parquet for `spec`."""

    def build(d: str) -> None:
        os.makedirs(d)
        rng = np.random.default_rng(spec.seed)
        _write_documents(os.path.join(d, "documents.parquet"), spec, rng)
        _write_embeddings(os.path.join(d, "embeddings.parquet"), spec, rng)

    return _cached("corpus", dataclasses.asdict(spec), build)


def corpus_for_seed(spec: CorpusSpec, seed: int) -> str:
    """The corpus of `spec` with its rows in a seed-chosen order.  Results of
    both dedup queries do not depend on row order, so one oracle serves all
    seeds, while the physical layout the program reads differs per seed."""
    base = corpus_dir(spec)

    def build(d: str) -> None:
        os.makedirs(d)
        for name in ("documents", "embeddings"):
            t = pq.read_table(os.path.join(base, f"{name}.parquet"))
            order = np.random.default_rng(seed).permutation(t.num_rows)
            pq.write_table(t.take(pa.array(order)), os.path.join(d, f"{name}.parquet"))

    return _cached("corpus-order", {"spec": dataclasses.asdict(spec), "seed": seed}, build)

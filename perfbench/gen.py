"""Seeded input generator for the benchmark.

Writes `documents.parquet` and `embeddings.parquet` with the schema of
graft's fixture tables and the value distributions measured on the sf0.1
fixture (5000 documents, 2000 embeddings):

- documents: 10..99 words, uniform (quartiles 32/54/76; no document
  that is not a near-duplicate has 100 words), drawn uniformly from the
  fixture's 30-word vocabulary (each word 8829..9182 times); languages
  en 41.2 %, zh 15.1 %, es 14.9 %, fr 14.8 %, de 14.0 %; `source` is
  `src<doc_id % 20>` and `n_chars` the text's length on every row;
- near-duplicates: exactly 5.0 % of the rows (250) are another row's
  text + " dup", that row drawn from anywhere in the table. They are
  planted in row order, so a few copy an earlier near-duplicate (4 end
  in "dup dup") and a few lose their original to a later one (7). There
  are no other exact copies: the fixture's 8 pairs of equal texts are
  all near-duplicates of one row;
- embeddings: 64-d float32 vectors of unit norm (within 1.2e-7) with no
  cluster structure: the covariance is isotropic (eigenvalues
  0.011..0.021 around 1/64) and the median nearest-neighbour cosine is
  0.407 against 0.411 for isotropic Gaussian vectors; labels 0..9 are
  uniform (182..218 per label) and independent of the vectors (a
  vector's nearest neighbour shares its label 10.4 % of the time, and
  mean cosine within a label equals that across labels, ~1e-5).

For the serve workload, `write_queries` makes held-out dense queries,
each a seeded perturbation of a sampled corpus vector (never equal to a
corpus vector), with the exact cosine top-5 over the whole serving
corpus computed here in float64 as ground truth. For the vectordb
workload, `write_truth` computes the same ground truth for the table's
own query vectors.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
NEAR_DUP = 0.05
DIM = 64
K = 5
QUERY_VECS = 8


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    # near-duplicates in row order, each of another row
    for i in np.sort(rng.choice(n, size=round(NEAR_DUP * n), replace=False)):
        src = (i + rng.integers(1, n)) % n
        texts[i] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Table, np.ndarray]:
    x = unit(rng.standard_normal((n, DIM))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), DIM)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    })
    return table, x


def exact_top(q: np.ndarray, corpus: np.ndarray) -> np.ndarray:
    """Row indices of each query's exact cosine top-K in `corpus`,
    computed in float64."""
    qd = q.astype(np.float64)
    cd = corpus.astype(np.float64)
    cos = (qd @ cd.T) / (np.linalg.norm(qd, axis=1)[:, None] * np.linalg.norm(cd, axis=1)[None, :])
    return np.argsort(-cos, axis=1, kind="stable")[:, :K]


def queries(rng: np.random.Generator, corpus: np.ndarray, ids: np.ndarray,
            n: int, noise: float = 0.3) -> pa.Table:
    """Held-out queries: perturbed corpus vectors and their exact top-5
    among `ids`, the rows of `corpus`."""
    base = corpus[rng.integers(0, len(corpus), size=n)].astype(np.float64)
    q = unit(base + noise * unit(rng.standard_normal(base.shape)) * rng.random((n, 1)))
    q = q.astype(np.float32)
    top = exact_top(q, corpus)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(q.ravel(), pa.float32()), DIM)
    return pa.table({
        "query_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "qv": emb.cast(pa.list_(pa.float32())),
        "truth": pa.array(ids[top].tolist(), pa.list_(pa.int64())),
    })


def write(out_dir, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(embeddings(rng, n_vecs)[0], f"{out_dir}/embeddings.parquet")


def write_queries(path, seed: int, embeddings_file, n: int) -> None:
    """Held-out queries against an existing embeddings table. The first
    QUERY_VECS vectors are the fixture's own query vectors; the serving
    corpus is the rest."""
    rng = np.random.default_rng(seed)
    t = pq.read_table(embeddings_file)
    ids = t.column("vec_id").to_numpy()
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    keep = ids >= QUERY_VECS
    qt = queries(rng, x[keep], ids[keep], n)
    qv = np.array(qt.column("qv").to_pylist(), dtype=np.float32)
    corpus_rows = {row.tobytes() for row in x}
    assert not any(row.tobytes() in corpus_rows for row in qv), "query equals a corpus vector"
    pq.write_table(qt, path)


def write_truth(path, embeddings_file) -> None:
    """The exact top-5 of the table's own query vectors (the first
    QUERY_VECS rows, as the program splits them) among the other rows."""
    t = pq.read_table(embeddings_file)
    ids = t.column("vec_id").to_numpy()
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    q, keep = ids < QUERY_VECS, ids >= QUERY_VECS
    top = exact_top(x[q], x[keep])
    pq.write_table(pa.table({
        "query_id": pa.array(ids[q], pa.int64()),
        "truth": pa.array(ids[keep][top].tolist(), pa.list_(pa.int64())),
    }), path)

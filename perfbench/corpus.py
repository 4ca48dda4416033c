"""Seeded corpus for the corpus_curation workload.

`documents` holds texts of 10 to 80 words over a small vocabulary.
`embeddings` holds Gaussian vectors spread over many cluster labels, a
few planted close copies, and chains built from pairs of basis
directions, each under a label of its own: neighbours sit at cosine 0.5
and links two apart near 0, so each chain is a path of diameter
CHAIN_LEN in the similarity graph. With few vectors per label, chance
pairs are rare and the chains set the number of cluster-resolution
rounds, which is then the same for every seed. The benchmark's queries read only these two tables; the other
tables of the test-data schema are written as one-row placeholders so that
scripts/oracle_check.py can declare its views.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERIES = ["q_semdedup", "q_chrf"]
OTHER_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events"]
VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector join index shard cache plan stage task node graph token "
         "model train audio clip speech word frame sample noise voice record "
         "label").split()
LANGS = ["en", "de", "fr", "es", "zh"]

N_DOCS = 280
N_VECS, DIM, LABELS, N_COPIES, N_CHAINS, CHAIN_LEN = 240, 64, 60, 12, 6, 4


def generate(out, seed):
    """Write the tables under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    texts = [list(rng.choice(VOCAB, size=rng.integers(10, 80)))
             for _ in range(N_DOCS)]
    text = [" ".join(w) for w in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(text)), pa.int64()),
        "text": text,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), len(text))],
        "source": [f"src{i}" for i in rng.integers(0, 5, len(text))],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    vecs = rng.normal(0, 0.125, (N_VECS, DIM))
    labels = rng.integers(0, LABELS, N_VECS)
    src = rng.choice(N_VECS, size=N_COPIES, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(N_VECS), src), size=N_COPIES,
                     replace=False)
    vecs[dst] = vecs[src] + rng.normal(0, 0.02, (N_COPIES, DIM))
    labels[dst] = labels[src]
    axes = rng.permutation(DIM)
    chain_vecs, chain_labels = [], []
    for c in range(N_CHAINS):
        a = axes[c * (CHAIN_LEN + 2):(c + 1) * (CHAIN_LEN + 2)]
        label = LABELS + c
        for k in range(CHAIN_LEN + 1):
            v = rng.normal(0, 0.01, DIM)
            v[a[k]] += 0.7071
            v[a[k + 1]] += 0.7071
            chain_vecs.append(v)
            chain_labels.append(label)
    vecs = np.vstack([vecs, chain_vecs]).astype(np.float32)
    labels = np.concatenate([labels, chain_labels]).astype(np.int32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))

    for t in OTHER_TABLES:
        pq.write_table(pa.table({"placeholder": pa.array([0], pa.int64())}),
                       os.path.join(out, f"{t}.parquet"))

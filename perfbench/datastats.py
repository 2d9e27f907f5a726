"""Summary statistics of a table directory, for checking gen.py's output
against the engine's testdata.

    python3 perfbench/datastats.py <dir> [<dir> ...]

Prints, per directory, the statistics the batch and /ask workloads depend
on: row counts, files and row groups per table; document length (words,
quartiles), vocabulary size, near-duplicate (" dup" suffix) and
exact-duplicate rates, language mix and source count; embedding
dimension, labels and norm; distinct event users.
"""
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def table_files(d, t):
    p = os.path.join(d, f"{t}.parquet")
    if os.path.isdir(p):
        return sorted(os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet"))
    return [p]


def stats(d):
    out = {}
    for t in TABLES:
        files = table_files(d, t)
        metas = [pq.ParquetFile(f).metadata for f in files]
        out[f"{t}.rows"] = sum(m.num_rows for m in metas)
        out[f"{t}.files"] = len(files)
        out[f"{t}.row_groups"] = sum(m.num_row_groups for m in metas)
    docs = pq.read_table(table_files(d, "documents")).to_pydict()
    texts = docs["text"]
    lens = np.array([len(t.split()) for t in texts])
    out["doc.words_min"] = int(lens.min())
    out["doc.words_q1_med_q3"] = tuple(float(x) for x in np.percentile(lens, [25, 50, 75]))
    out["doc.words_max"] = int(lens.max())
    vocab = collections.Counter(w for t in texts for w in t.split())
    out["doc.vocabulary"] = len(vocab)
    out["doc.near_dup_frac"] = round(sum(t.endswith(" dup") for t in texts) / len(texts), 4)
    counts = collections.Counter(texts)
    out["doc.exact_dup_rows_frac"] = round(sum(c for c in counts.values() if c > 1) / len(texts), 4)
    langs = collections.Counter(docs["lang"])
    out["doc.lang"] = {k: round(v / len(texts), 3) for k, v in sorted(langs.items())}
    out["doc.sources"] = len(set(docs["source"]))
    emb = pq.read_table(table_files(d, "embeddings")).to_pydict()
    vecs = np.array(emb["embedding"][:200], dtype=np.float64)
    out["emb.dim"] = vecs.shape[1]
    out["emb.labels"] = len(set(emb["label"]))
    out["emb.norm_mean"] = round(float(np.linalg.norm(vecs, axis=1).mean()), 4)
    ev = pq.read_table(table_files(d, "events"), columns=["user_id"]).column("user_id").to_numpy()
    out["events.users"] = len(np.unique(ev))
    return out


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(f"== {d}")
        for k, v in stats(d).items():
            print(f"{k:<28} {v}")

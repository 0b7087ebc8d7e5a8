"""Seeded input generator for the benchmark.

Everything a run feeds the program that does not come from the read-only
sf tables is made here from the seed, before any timing starts, and cached
per (workload, seed) under the benchmark's build area, newest eight kept:

- ``orders.txt``: the op order of every pass, one permutation per line;
- ``gan_train.parquet`` / ``gan_test.parquet`` (input kind ``gan``): a
  labelled 10-class 64-d matrix in [0, 1] and its held-out split;
- ``append_batches.parquet`` / ``queries.parquet`` (input kind ``vectors``):
  per pass, a batch of new vectors to append to the indexes and a set of
  query vectors, both drawn around corpus vectors so that they have real
  neighbours.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# appended vector ids start far above the corpus's
APPEND_ID_BASE = 10_000_000
# cached input sets kept; the oldest go first, so that long run sets
# cannot fill the disk
KEEP = 8


def _write(path, table):
    pq.write_table(table, path + ".tmp", compression="snappy")
    os.replace(path + ".tmp", path)


def _gan(out, rng, sizes):
    n_train, n_test = sizes["gan_train_rows"], sizes["gan_test_rows"]
    # Gan's default 64-d input and the 10 classes the harness co-trains on
    dim, classes = 64, 10
    centers = rng.uniform(0.15, 0.85, size=(classes, dim))
    n = n_train + n_test
    labels = rng.integers(0, classes, size=n).astype(np.int32)
    x = np.clip(centers[labels] + rng.normal(0.0, sizes["gan_noise"], size=(n, dim)), 0.0, 1.0)
    ids = np.arange(n, dtype=np.int64)

    def table(sl):
        return pa.table({
            "vec_id": pa.array(ids[sl]),
            "x": pa.array(list(x[sl]), type=pa.list_(pa.float64())),
            "label": pa.array(labels[sl]),
        })
    _write(os.path.join(out, "gan_train.parquet"), table(slice(0, n_train)))
    _write(os.path.join(out, "gan_test.parquet"), table(slice(n_train, n)))


def _corpus(out, rng, sizes, sf_dir, passes):
    corpus = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"])
    emb = np.array(corpus.column("embedding").to_pylist(), dtype=np.float64)
    noise = sizes["vector_noise"]

    def around(k):
        base = emb[rng.integers(0, len(emb), size=k)]
        v = base + rng.normal(0.0, noise, size=base.shape)
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    b, q = sizes["append_batch_rows"], sizes["query_rows"]
    bv, qv = around(passes * b), around(passes * q)
    _write(os.path.join(out, "append_batches.parquet"), pa.table({
        "pass": pa.array(np.repeat(np.arange(passes, dtype=np.int32), b)),
        "vec_id": pa.array(APPEND_ID_BASE + np.arange(passes * b, dtype=np.int64)),
        "embedding": pa.array(list(bv.astype(np.float32)), type=pa.list_(pa.float32())),
    }))
    _write(os.path.join(out, "queries.parquet"), pa.table({
        "pass": pa.array(np.repeat(np.arange(passes, dtype=np.int32), q)),
        "qid": pa.array(np.arange(passes * q, dtype=np.int64)),
        "qvec": pa.array(list(qv), type=pa.list_(pa.float64())),
    }))


def generate(root, workload, spec, seed, sf_dir, passes):
    """Return the directory holding the inputs of (workload, seed), making
    them if they are not cached yet."""
    # the cache key covers everything the inputs are made from
    key = hashlib.sha256(json.dumps([spec["sizes"], spec["workloads"][workload], passes],
                                    sort_keys=True).encode()).hexdigest()[:12]
    out = os.path.join(root, f"{workload}-{seed}-{key}")
    if os.path.exists(os.path.join(out, "meta.txt")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sizes = spec["sizes"]
    # one stream per input kind, so that changing one size leaves the
    # other inputs of the seed unchanged
    ss = np.random.SeedSequence([seed, 0x67726166])
    r_order, r_gan, r_corpus = (np.random.default_rng(s) for s in ss.spawn(3))
    n_ops = len(spec["workloads"][workload]["ops"])
    with open(os.path.join(out, "orders.txt"), "w") as f:
        for _ in range(passes):
            f.write(",".join(str(i) for i in r_order.permutation(n_ops)) + "\n")
    meta = {"seed": seed}
    kinds = spec["workloads"][workload]["inputs"]
    if "gan" in kinds:
        _gan(out, r_gan, sizes)
        meta["gan_train_rows"] = sizes["gan_train_rows"]
    if "vectors" in kinds:
        _corpus(out, r_corpus, sizes, sf_dir, passes)
    with open(os.path.join(out, "meta.txt.tmp"), "w") as f:
        f.write("".join(f"{k}={v}\n" for k, v in meta.items()))
    os.replace(os.path.join(out, "meta.txt.tmp"), os.path.join(out, "meta.txt"))
    cached = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in cached[:-KEEP]:
        shutil.rmtree(d, ignore_errors=True)
    return out

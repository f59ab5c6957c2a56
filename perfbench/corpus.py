"""Seeded text corpus for the text_pipeline workload, and its DuckDB oracle.

The base sample in data/ is a slice of the generated sf0.1 corpus (doc_id
< 2000, vec_id < 1000). `derive` remaps it from the seed without changing
its structure: ids go through an affine permutation of their own range
(id-range splits inside the queries keep their sizes), the common
vocabulary through a seeded bijection (every duplicate and near-duplicate
relation survives while every hashed token changes), and each embedding
dimension through a seeded sign flip (every dot product and distance is
kept).
"""
import math
import random
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _affine(ids, rng):
    n = int(ids.max()) + 1
    a = next(x for x in iter(lambda: rng.randrange(1, n), None)
             if math.gcd(x, n) == 1)
    b = rng.randrange(n)
    return (ids * a + b) % n


def derive(data_dir, out_dir, seed):
    """Writes documents.parquet and embeddings.parquet under out_dir."""
    rng = random.Random(seed)
    docs = pq.read_table(f"{data_dir}/documents.parquet")
    texts = docs.column("text").to_pylist()
    counts = Counter(w for t in texts for w in t.split(" "))
    vocab = sorted(w for w, c in counts.items() if c >= len(texts) // 10)
    perm = vocab[:]
    rng.shuffle(perm)
    mapping = dict(zip(vocab, perm))
    new = [" ".join(mapping.get(w, w) for w in t.split(" ")) for t in texts]
    ids = _affine(docs.column("doc_id").to_numpy(), rng)
    out = docs.set_column(0, "doc_id", pa.array(ids, pa.int64()))
    out = out.set_column(1, "text", pa.array(new, pa.string()))
    out = out.set_column(4, "n_chars",
                         pa.array([len(t) for t in new], pa.int64()))
    pq.write_table(out, f"{out_dir}/documents.parquet")

    emb = pq.read_table(f"{data_dir}/embeddings.parquet")
    vec = emb.column("embedding").combine_chunks()
    dim = len(vec[0])
    sign = np.array([-1.0 if rng.random() < 0.5 else 1.0
                     for _ in range(dim)], np.float32)
    vals = vec.values.to_numpy().reshape(-1, dim) * sign
    flipped = pa.ListArray.from_arrays(vec.offsets,
                                       pa.array(vals.ravel(), pa.float32()))
    ids = _affine(emb.column("vec_id").to_numpy(), rng)
    out = emb.set_column(0, "vec_id", pa.array(ids, pa.int64()))
    out = out.set_column(1, "embedding", flipped)
    pq.write_table(out, f"{out_dir}/embeddings.parquet")
    return docs.num_rows, emb.num_rows


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same(exp, got):
    """Exact equality after ordering columns by name and rows by value."""
    if sorted(exp.columns) != sorted(got.columns) or len(exp) != len(got):
        return False
    if len(exp) == 0:
        return True
    return _canon(exp).equals(_canon(got))


def check(corpus, results, oracles):
    """Runs each op's oracle SQL in DuckDB over the corpus and compares it
    with the op's materialized result. Returns ({op: error or None},
    {op: seconds}, self_check_ok): the self-check requires a result with
    one row dropped to be rejected.
    """
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
    verdicts, secs, probe = {}, {}, None
    for op, sql in sorted(oracles.items()):
        t0 = time.perf_counter()
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{results}/{op}/*.parquet')").fetchdf()
            verdicts[op] = None if same(exp, got) else (
                f"oracle mismatch: {len(exp)} expected rows, {len(got)} got")
            if probe is None and verdicts[op] is None and len(got) > 0:
                probe = not same(exp, got.iloc[:-1])
        except Exception as e:  # noqa: BLE001 - any failure fails the op
            verdicts[op] = f"oracle error: {e}"[:300]
        secs[op] = time.perf_counter() - t0
    return verdicts, secs, bool(probe)

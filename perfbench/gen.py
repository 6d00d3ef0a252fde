#!/usr/bin/env python3
"""Seeded input corpora for the benchmark.

The source is the engine's sf0.01 test corpus, a copy of which ships in
`perfbench/corpus/sf0.01`. `ensure(out, seed)` grows it ten-fold to the
sf0.1 sizes (600k lineitem, 150k orders, 100k events, 5000 documents,
2000 vectors) with `tools/gen_sf.py`, imported and not edited: the
TPC-H tables and `events` are tiled with dense-key shifts, and documents
and vectors are synthesized from the source's empirical distributions
(per-language word frequencies and lengths, planted duplicate pairs,
per-label vector moments) drawn from `random.Random(seed)`. A seed thus
always gives the same files; the tiled tables are the same for every
seed. The layout is left as gen_sf writes it: its scan parallelism is
part of what is measured.

`store_split` prepares the store workload's live and held-out rows.

Usage: python3 perfbench/gen.py <outDir> <seed> [store]
"""
import contextlib
import json
import os
import random
import shutil
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "corpus", "sf0.01")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import gen_sf  # noqa: E402

SCALE = 10    # sf0.01 -> sf0.1
VEC_SCALE = 4  # 500 source vectors -> the 2000 of sf0.1


def grow(out, seed):
    """Write the sf0.1-sized corpus of `seed` into `out`."""
    os.makedirs(out, exist_ok=True)
    rnd = random.Random(seed)
    con = duckdb.connect()
    con.sql("SET threads = 2")
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.tile_tpch(con, SOURCE, out, SCALE)
        gen_sf.synth_documents(con, SOURCE, out, SCALE, rnd)
        gen_sf.synth_embeddings(con, SOURCE, out, VEC_SCALE, rnd)
    con.close()


def store_split(d, seed, doc_batch, vec_batch):
    """Split `d`'s documents and vectors for the store workload, once:
    90% of documents and 75% of vectors are indexed at build time, the
    rest wait in `d/store/*_batches/` as equal-sized files for the
    streams. The store copies the batch files it applies; it never
    changes these."""
    out = os.path.join(d, "store")
    if os.path.exists(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed + 1)
    for name, table, live_share, batch in (("docs", "documents", 0.9, doc_batch),
                                           ("vecs", "embeddings", 0.75, vec_batch)):
        t = pq.read_table(f"{d}/{table}.parquet")
        perm = rng.permutation(t.num_rows)
        n_live = int(t.num_rows * live_share)
        os.makedirs(f"{tmp}/{name}_batches")
        pq.write_table(t.take(np.sort(perm[:n_live])), f"{tmp}/{name}_live.parquet")
        held = perm[n_live:]
        for i in range(len(held) // batch):
            pq.write_table(t.take(np.sort(held[i * batch:(i + 1) * batch])),
                           f"{tmp}/{name}_batches/b{i:04d}.parquet")
    os.rename(tmp, out)


def row_counts(d):
    return {f[:-8]: pq.ParquetFile(f"{d}/{f}").metadata.num_rows
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def ensure(out, seed):
    """Generate the corpus once per seed; later calls reuse the files.
    Returns the table row counts."""
    done = os.path.join(out, "_rows.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        grow(tmp, seed)
        with open(os.path.join(tmp, "_rows.json"), "w") as f:
            json.dump(row_counts(tmp), f)
        os.rename(tmp, out)
    with open(done) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    out, seed = sys.argv[1], int(sys.argv[2])
    print(json.dumps(ensure(out, seed)))
    if sys.argv[3:] == ["store"]:
        store_split(out, seed, 50, 50)

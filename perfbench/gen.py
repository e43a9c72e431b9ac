#!/usr/bin/env python3
"""Seeded corpus generator for the lifecycle benchmark.

Builds one corpus from a seed with the generators in `tools/gen_sf_local.py`
(documents, embeddings and the star schema), each drawing from its own
seeded numpy stream, plus the append batches the `append` workload feeds
the engine.

Every table is written in directory form (`<table>.parquet/part-*.parquet`)
so an appended state can hold the previous state's part files unchanged
(hard-linked) next to a new batch part: that is the "old corpus plus
appended rows" contract `Dedup.refreshArtifactsAfterAppend` relies on.

Usage:
  gen.py base   <seed> <outdir>
  gen.py append <seed> <prevdir> <outdir> <iteration>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no caches beside the sources
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
from gen_sf_local import VOCAB, gen_documents, gen_embeddings, gen_star  # noqa: E402

# Corpus shape. The star tables follow gen_sf_local's star_mult convention
# (star_mult 1 = the sf0.1 test corpus sizes); docs/vecs are sized to match.
N_DOCS = 500
N_VECS = 200
STAR_MULT = 0.1
# Share of orders with a zero total price, which the Clean step drops.
ZERO_PRICE_SHARE = 0.01
# Each append batch adds this share of the base documents and orders.
BATCH_SHARE = 0.02
# Share of a document batch that near-duplicates existing documents, so
# the dedup, cluster-label and contamination artifacts really change.
BATCH_NEAR_DUP_SHARE = 0.5

TABLES = ("documents", "embeddings", "region", "nation", "customer",
          "supplier", "part", "orders", "lineitem", "events")


def _write(table, outdir, name, part=0):
    d = os.path.join(outdir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, f"part-{part:05d}.parquet"))


def base(seed, outdir):
    """The seed's base corpus: documents, embeddings and the star schema,
    each from its own stream of one seeded generator."""
    streams = np.random.SeedSequence(seed).spawn(4)
    rng = [np.random.default_rng(s) for s in streams]
    tables = {"documents": gen_documents(N_DOCS, rng[0]),
              "embeddings": gen_embeddings(N_VECS, rng[1])}
    tables.update(gen_star(STAR_MULT, rng[2]))
    orders = tables["orders"]
    zero = rng[3].random(orders.num_rows) < ZERO_PRICE_SHARE
    price = np.where(zero, 0.0, orders.column("o_totalprice").to_numpy())
    i = orders.schema.get_field_index("o_totalprice")
    tables["orders"] = orders.set_column(i, "o_totalprice", pa.array(price, pa.float64()))
    for name in TABLES:
        _write(tables[name], outdir, name)


def _parts(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _doc_batch(docs, n, rng):
    """`n` new documents with fresh ids: near-duplicates of existing texts
    (last word dropped or one word swapped) and fresh word salad."""
    texts = docs.column("text").to_pylist()
    first_id = int(max(docs.column("doc_id").to_pylist())) + 1
    out_text, langs, sources = [], [], []
    for k in range(n):
        if k < int(n * BATCH_NEAR_DUP_SHARE):
            w = texts[int(rng.integers(0, len(texts)))].split()
            if rng.random() < 0.5 and len(w) > 12:
                w = w[:-1]
            else:
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out_text.append(" ".join(w))
        else:
            m = int(rng.integers(10, 111))
            out_text.append(" ".join(VOCAB[int(x)] for x in rng.integers(0, len(VOCAB), m)))
        langs.append(["en", "de", "es", "fr", "zh"][int(rng.integers(0, 5))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    return pa.table({
        "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
    }, schema=docs.schema)


def _order_batch(orders, n_cust, n, rng):
    """`n` new orders with fresh keys, drawn like gen_star's orders."""
    first_key = int(max(orders.column("o_orderkey").to_pylist())) + 1
    dates = orders.column("o_orderdate")
    pick = rng.integers(0, orders.num_rows, n)
    return pa.table({
        "o_orderkey": pa.array(range(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2), pa.float64()),
        "o_orderdate": dates.take(pa.array(pick)),
        "o_orderpriority": orders.column("o_orderpriority").take(pa.array(pick)),
    }, schema=orders.schema)


def append(seed, prevdir, outdir, iteration):
    """State `outdir` = `prevdir` plus one batch of new documents and new
    orders. Unchanged part files are hard links to the previous state's."""
    rng = np.random.default_rng([seed, iteration])
    for name in TABLES:
        src, dst = (os.path.join(d, f"{name}.parquet") for d in (prevdir, outdir))
        os.makedirs(dst, exist_ok=True)
        for f in _parts(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))
    docs = pq.read_table(os.path.join(prevdir, "documents.parquet"))
    orders = pq.read_table(os.path.join(prevdir, "orders.parquet"))
    def base_rows(name):
        return pq.read_metadata(
            os.path.join(prevdir, f"{name}.parquet", "part-00000.parquet")).num_rows
    n_docs = max(1, int(base_rows("documents") * BATCH_SHARE))
    n_orders = max(1, int(base_rows("orders") * BATCH_SHARE))
    n_cust = base_rows("customer")
    _write(_doc_batch(docs, n_docs, rng), outdir, "documents", iteration)
    _write(_order_batch(orders, n_cust, n_orders, rng), outdir, "orders", iteration)


def main(argv):
    if len(argv) >= 3 and argv[0] == "base":
        base(int(argv[1]), argv[2])
    elif len(argv) >= 5 and argv[0] == "append":
        append(int(argv[1]), argv[2], argv[3], int(argv[4]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Compares the generated query tables with a directory of reference tables.

    python3 perfbench/compare_tables.py REF_DIR [--sf 0.01] [--seed 1]

REF_DIR holds one ``<table>.parquet`` per table at scale factor ``--sf``.
Prints, side by side for the generator and the reference: row counts and
schemas, the document text shape (words per document, vocabulary,
exact and ``dup``-suffixed near duplicates) and min/median/max/distinct
of the numeric columns the queries aggregate.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow.parquet as pq

import inputs

NUMERIC = {
    "customer": ["c_acctbal"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount"],
    "events": ["user_id", "value"],
}


def text_shape(t) -> tuple:
    docs = t["text"].to_pylist()
    words = [d.split() for d in docs]
    lens = np.array([len(w) for w in words])
    vocab = {x for w in words for x in w} - {"dup"}
    near = sum(1 for w in words if w[-1] == "dup")
    return (
        f"words/doc {lens.min()}/{np.median(lens):g}/{lens.max()}",
        f"vocab {len(vocab)}",
        f"exact dups {len(docs) - len(set(docs))}",
        f"near dups {near}",
    )


def stats(a: np.ndarray) -> str:
    return f"{a.min():.2f}/{np.median(a):.2f}/{a.max():.2f} n={len(np.unique(a))}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    gen = inputs.make_tables(args.seed, args.sf)
    for name, g in gen.items():
        r = pq.read_table(os.path.join(args.ref_dir, f"{name}.parquet"))
        same = "same schema" if g.schema.equals(r.schema) else f"schema differs: {r.schema}"
        print(f"{name}: rows {g.num_rows} / {r.num_rows}, {same}")
        for c in NUMERIC.get(name, []):
            print(f"  {c}: {stats(g[c].to_numpy())} / {stats(r[c].to_numpy())}")
        if name == "documents":
            print(f"  text: {text_shape(g)} / {text_shape(r)}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Print the shape figures README.md compares between sf0.1 and the inputs
the benchmark generates.

    python3 perfbench/shapes.py DIR

DIR holds `documents`, `embeddings` and/or `orders` as parquet, each either
one file `<name>.parquet` or a directory of them (as Spark writes it). A
generated set is kept under `.bench_build/work/` while a run is going; the
benchmark program run directly (see README.md) leaves it in place.
"""
import collections
import math
import os
import statistics
import sys

import duckdb


def source(d, name):
    for p in (os.path.join(d, f"{name}.parquet"), os.path.join(d, name)):
        if os.path.isfile(p):
            return f"read_parquet('{p}')"
        if os.path.isdir(p):
            return f"read_parquet('{p}/**/*.parquet')"
    return None


def parquet_bytes(d, name):
    for p in (os.path.join(d, f"{name}.parquet"), os.path.join(d, name)):
        if os.path.isfile(p):
            return os.path.getsize(p)
        if os.path.isdir(p):
            return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(p)
                       for f in fs if f.endswith(".parquet"))
    return 0


def documents(con, src):
    rows = con.execute(f"SELECT text, lang, source FROM {src}").fetchall()
    words, lens, df = collections.Counter(), [], collections.Counter()
    for text, _, _ in rows:
        w = text.split()
        words.update(w)
        lens.append(len(w))
        df.update(set(tuple(w[i:i + 3]) for i in range(len(w) - 2)))
    n = len(rows)
    langs = collections.Counter(r[1] for r in rows)
    print(f"documents: {n} docs, vocabulary {len(words)} words, {sum(words.values())} tokens")
    print(f"  words per doc: min {min(lens)} median {statistics.median(lens):g} "
          f"max {max(lens)}, deciles {statistics.quantiles(lens, n=10)}")
    print(f"  distinct 3-shingles {len(df)}, documents per shingle: median "
          f"{statistics.median(df.values()):g} max {max(df.values())}")
    print(f"  near-duplicates (ending in 'dup'): {sum(1 for r in rows if r[0].endswith(' dup'))}")
    print("  lang shares: " + " ".join(f"{k} {v / n:.2f}" for k, v in langs.most_common()))
    print(f"  sources {len(set(r[2] for r in rows))}")


def embeddings(con, src):
    rows = con.execute(f"SELECT label, embedding FROM {src}").fetchall()
    dim = len(rows[0][1])
    by = collections.defaultdict(list)
    for label, v in rows:
        by[label].append(v)
    norms = [math.sqrt(sum(x * x for x in v)) for _, v in rows]
    vals = [x for _, v in rows for x in v]
    m2 = statistics.fmean(x * x for x in vals)
    # norm of a label's mean vector against the 1/sqrt(n) of random directions
    excess = statistics.fmean(
        math.sqrt(sum(sum(v[d] for v in vs) ** 2 for d in range(dim)) / len(vs))
        for vs in by.values())
    print(f"embeddings: {len(rows)} vectors, dim {dim}, {len(by)} labels, "
          f"norm {min(norms):.4f}..{max(norms):.4f}")
    print(f"  component kurtosis {statistics.fmean(x ** 4 for x in vals) / m2 ** 2:.2f} "
          f"(normal 3), label-mean norm / random-direction norm {excess:.2f} (no clusters 1)")


def orders(con, src, nbytes):
    n, keys, cust, pmin, pmax, dmin, dmax = con.execute(
        f"SELECT count(*), count(DISTINCT o_orderkey), count(DISTINCT o_custkey), "
        f"min(o_totalprice), max(o_totalprice), min(o_orderdate), max(o_orderdate) FROM {src}"
    ).fetchone()
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    print(f"orders: {n} rows, {keys} keys, {cust} customers, columns {cols}")
    print(f"  o_totalprice {pmin}..{pmax}, o_orderdate {dmin}..{dmax}")
    for c in ("o_orderstatus", "o_orderpriority"):
        shares = con.execute(f"SELECT {c}, count(*) FROM {src} GROUP BY 1 ORDER BY 1").fetchall()
        print(f"  {c}: " + " ".join(f"{k} {v / n:.2f}" for k, v in shares))
    print(f"  parquet bytes per row {nbytes / n:.1f}")


def main():
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    for name, show in (("documents", documents), ("embeddings", embeddings)):
        src = source(d, name)
        if src:
            show(con, src)
    src = source(d, "orders")
    if src:
        orders(con, src, parquet_bytes(d, "orders"))


if __name__ == "__main__":
    main()

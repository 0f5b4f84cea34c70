#!/usr/bin/env python3
"""Print the shape of a directory of source tables, one figure a line,
so the generated inputs can be compared with a fixture column by column:

    python3 perfbench/shape.py FIXTURE_DIR .bench_build/twins/input

`run.py --write-expected` leaves the generated inputs in
`.bench_build/twins/input`. Needs pyarrow and numpy; the benchmark runs
do not use this script.
"""
import collections
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ("customer", "part", "orders", "lineitem", "documents", "embeddings")


def shingles(words, k=3):
    return {tuple(words[i:i + k]) for i in range(len(words) - k + 1)}


def shape(d):
    t = {n: pq.read_table(f"{d}/{n}.parquet").to_pandas() for n in TABLES}
    li, o, p, doc, e = t["lineitem"], t["orders"], t["part"], t["documents"], t["embeddings"]
    f = {f"rows.{n}": len(t[n]) for n in TABLES}
    per_order = li.groupby("l_orderkey").size()
    f["lineitem.lines_per_order.mean"] = round(per_order.mean(), 2)
    f["lineitem.orders_without_lines"] = len(o) - len(per_order)
    f["lineitem.linenumber.range"] = f"{li.l_linenumber.min()}..{li.l_linenumber.max()}"
    f["lineitem.linenumber_is_1..k_per_order"] = bool(
        (li.groupby("l_orderkey").l_linenumber.max() == per_order).all())
    f["lineitem.repeated_(orderkey,linenumber)"] = int(
        li.duplicated(["l_orderkey", "l_linenumber"]).sum())
    m = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    f["lineitem.extendedprice.range"] = f"{li.l_extendedprice.min():.0f}..{li.l_extendedprice.max():.0f}"
    f["lineitem.extendedprice_vs_qty*price.corr"] = round(
        np.corrcoef(m.l_extendedprice, m.l_quantity * m.p_retailprice)[0, 1], 2)
    lag = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
           .eval("l_shipdate - o_orderdate").dt.days)
    f["lineitem.ship_minus_order_days.range"] = f"{lag.min()}..{lag.max()}"
    f["lineitem.shipdate.range"] = f"{li.l_shipdate.min():%Y-%m-%d}..{li.l_shipdate.max():%Y-%m-%d}"
    f["orders.orderdate.range"] = f"{o.o_orderdate.min():%Y-%m-%d}..{o.o_orderdate.max():%Y-%m-%d}"
    f["orders.per_customer.mean"] = round(o.o_custkey.value_counts().mean(), 2)
    f["part.names"] = p.p_name.nunique()
    words = doc.text.str.split()
    f["documents.words.range"] = f"{words.str.len().min()}..{words.str.len().max()}"
    f["documents.words.mean"] = round(words.str.len().mean(), 1)
    f["documents.vocabulary"] = len({w for ws in words for w in ws})
    f["documents.ending_in_dup"] = int(words.apply(lambda w: w[-1] == "dup").sum())
    sh = [shingles(w) for w in words[:2000]]
    near = sum(1 for i in range(len(sh)) if any(
        sh[i] and sh[j] and len(sh[i] & sh[j]) >= 0.8 * min(len(sh[i]), len(sh[j]))
        for j in range(i)))
    f["documents.with_earlier_near_dup(containment>=0.8)"] = near
    f["documents.lang"] = ",".join(
        f"{k}:{v:.2f}" for k, v in sorted(doc.lang.value_counts(normalize=True).items()))
    x = np.stack(e.embedding.values).astype(float)
    f["embeddings.dim"] = x.shape[1]
    f["embeddings.norm.mean"] = round(np.linalg.norm(x, axis=1).mean(), 3)
    f["embeddings.per_dim_std"] = round(x.std(0).mean(), 4)
    cos = x @ x.T
    same = e.label.values[:, None] == e.label.values[None, :]
    off = ~np.eye(len(x), dtype=bool)
    f["embeddings.labels"] = e.label.nunique()
    f["embeddings.cos.same_label.mean"] = round(cos[same & off].mean(), 3)
    f["embeddings.cos.any_pair.mean"] = round(cos[off].mean(), 3)
    return f


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    shapes = [shape(d) for d in sys.argv[1:]]
    keys = list(collections.OrderedDict.fromkeys(k for s in shapes for k in s))
    for k in keys:
        print("\t".join([k] + [str(s.get(k, "")) for s in shapes]))


if __name__ == "__main__":
    main()

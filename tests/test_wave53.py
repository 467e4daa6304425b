"""Wave 53: TPC-H Q18 large-volume orders, Q21-shape sole-late-supplier
blame table, connected components over the host co-citation graph.

Independent evidence beyond the DuckDB oracles: pure-Python replicas
over the real sf0.001 parquet for both relational shapes (including the
strict > threshold and the exactly-one-late-supplier classification),
and a union-find replica of the host components built from a THIRD
implementation of the link extraction (the re-module replica
test_linkgraph.py pins against the goldens)."""

import datetime
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    BLAME_TOPK,
    GOLDENS_PQ,
    LATE_SHIP_DAYS,
    Q18_MIN_QTY,
    q_large_volume_orders,
    q_outlink_host_components,
    q_sole_late_supplier,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ Q18 large volume


def test_large_volume_orders_replica(spark):
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    orders = {
        o["o_orderkey"]: o
        for o in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    cust = {
        c["c_custkey"]: c["c_name"]
        for c in pq.read_table(f"{SF}/customer.parquet").to_pylist()
    }
    qty = defaultdict(int)
    for r in li:
        qty[r["l_orderkey"]] += int(r["l_quantity"])
    want = set()
    for ok, q in qty.items():
        if q > Q18_MIN_QTY:
            o = orders[ok]
            want.add(
                (
                    cust[o["o_custkey"]],
                    ok,
                    o["o_orderdate"],
                    _round_repr(o["o_totalprice"], 2),
                    q,
                )
            )
    got = {
        (r["c_name"], r["o_orderkey"], r["o_orderdate"], r["total_price"],
         r["total_qty"])
        for r in q_large_volume_orders(spark, SF).collect()
    }
    assert got == want
    assert len(got) > 0
    # strict threshold: no row at exactly Q18_MIN_QTY
    assert all(r[4] > Q18_MIN_QTY for r in got)


# ------------------------------------------- Q21 sole late supplier


def test_sole_late_supplier_replica(spark):
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    orders = {
        o["o_orderkey"]: o["o_orderdate"]
        for o in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    sup = {
        s["s_suppkey"]: s["s_name"]
        for s in pq.read_table(f"{SF}/supplier.parquet").to_pylist()
    }
    per = defaultdict(lambda: (set(), set()))  # order -> (supps, late)
    delta = datetime.timedelta(days=LATE_SHIP_DAYS)
    for r in li:
        supps, late = per[r["l_orderkey"]]
        supps.add(r["l_suppkey"])
        if r["l_shipdate"] > orders[r["l_orderkey"]] + delta:
            late.add(r["l_suppkey"])
    blame = Counter()
    for ok, (supps, late) in per.items():
        if len(supps) >= 2 and len(late) == 1:
            blame[min(late)] += 1
    ranked = sorted(
        ((k, sup[k], n) for k, n in blame.items()),
        key=lambda t: (-t[2], t[1]),
    )[:BLAME_TOPK]
    got = [
        (r["s_suppkey"], r["s_name"], r["n_blamed_orders"])
        for r in q_sole_late_supplier(spark, SF).collect()
    ]
    assert got == ranked
    assert len(got) > 0
    # the multi-supplier requirement has real work to do on this corpus:
    # single-supplier late orders exist and are excluded by construction
    assert any(
        len(s) == 1 and len(l) == 1 for s, l in per.values()
    )
    # and multi-late orders exist that the exactly-one rule excludes
    assert any(len(l) > 1 for _, l in per.values())


# ----------------------------------------- host graph components


def _py_hrefs(content):
    raw = re.findall(r'<a[ \t][^>]*href="([^"]*)"', content)
    out = []
    for x in raw:
        for ent, ch in (
            ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
            ("&amp;", "&"),
        ):
            x = x.replace(ent, ch)
        if x:
            out.append(x)
    return out


def _py_scheme(x):
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):", x)
    return m.group(1).lower() if m else ""


def _py_host(x):
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", x)
    if not m:
        return ""
    hp = re.sub(r"^[^@]*@", "", m.group(1), count=1)
    return re.sub(r":[0-9]+$", "", hp, count=1).lower()


def test_outlink_host_components_union_find_replica(spark):
    """Components == a union-find over host sets extracted by the
    INDEPENDENT re-module link replica; cluster_id is the lexicographic
    component minimum and sizes partition the host set."""
    from readability_1_spark.queries import BASE_HOST

    tbl = pq.read_table(GOLDENS_PQ).to_pylist()
    page_hosts = []
    for row in tbl:
        if row["status"] != "ok":
            continue
        hosts = {
            _py_host(x)
            for x in _py_hrefs(row["content"])
            if _py_scheme(x) in ("http", "https")
        } - {BASE_HOST, ""}
        if hosts:
            page_hosts.append(sorted(hosts))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for hosts in page_hosts:
        find(hosts[0])  # seed singletons: every host is a node
        for h in hosts[1:]:
            union(hosts[0], h)
    label = defaultdict(list)
    for h in parent:
        label[find(h)].append(h)
    want = {}
    for members in label.values():
        cid = min(members)
        for h in members:
            want[h] = (cid, len(members))
    got = {
        r["host"]: (r["cluster_id"], r["cluster_size"])
        for r in q_outlink_host_components(spark, SF).collect()
    }
    assert got == want
    assert len(got) > 100
    # cluster_id is always a member, and is the component min
    by_cluster = defaultdict(set)
    for h, (cid, _) in got.items():
        by_cluster[cid].add(h)
    for cid, members in by_cluster.items():
        assert cid == min(members)

"""Wave 83: URL template mining, KS drift test, BM25 pseudo-relevance
feedback.

Independent evidence beyond the DuckDB oracles: a pure-Python
href-extraction + templating replica over the kernel's own serialized
articles; an exact integer ECDF replica of the KS statistic plus a
crafted fully-separated two-source corpus where D = 1; and a from-
scratch Python BM25+RM3 replica (expansion term selection is exact
integer arithmetic; scores agree to a round-6 ulp and the ranked doc
lists match)."""

import math
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    BM25_B,
    BM25_FB_DOCS,
    BM25_FB_TERMS,
    BM25_K1,
    BM25_N_QUERY_TERMS,
    BM25_TOPK,
    KS_C_ALPHA,
    URL_TRAP_MIN,
    _ok_turns,
    q_bm25_prf_expansion,
    q_ks_drift_test,
    q_url_template_mining,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"
HREF_RE = r'<a[ \t][^>]*href="([^"]*)"'


def _decode(x):
    for a, b in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        x = x.replace(a, b)
    return x


# --------------------------------------------------- URL templates


def test_url_template_replica(spark):
    turns = _ok_turns(spark).select("conv_id", "turn_idx", "content").collect()
    stats = defaultdict(lambda: [0, set(), set(), defaultdict(int)])
    for r in turns:
        page = f"{r['conv_id']}\t{r['turn_idx']}"
        for raw in re.findall(HREF_RE, r["content"]):
            url = _decode(raw)
            if not url:
                continue
            m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):", url)
            if not m or m.group(1).lower() not in ("http", "https"):
                continue
            hp = re.match(
                r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", url
            )
            host = re.sub(
                r":[0-9]+$", "", re.sub(r"^[^@]*@", "", hp.group(1))
            ).lower() if hp else ""
            pm = re.match(
                r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", url
            )
            path = pm.group(1) if pm else ""
            tpl = host + re.sub(
                r"[0-9]+", "{n}",
                re.sub(r"[0-9a-f]{8,}", "{hex}", path.lower()),
            )
            s = stats[tpl]
            s[0] += 1
            s[1].add(url)
            s[2].add(page)
            s[3][page] += 1
    rows = q_url_template_mining(spark, SF).collect()
    assert len(rows) == len(stats)
    for r in rows:
        n, urls, pages, pp = stats[r["template"]]
        assert (
            r["n_urls"],
            r["n_distinct_urls"],
            r["n_pages"],
            r["max_per_page"],
        ) == (n, len(urls), len(pages), max(pp.values()))
        assert r["distinct_ratio"] == _round6(len(urls) / n)
        assert r["trap_suspect"] == (len(urls) >= URL_TRAP_MIN)


# --------------------------------------------------- KS drift


def _ks_replica(lens_by_source):
    n_all = sum(len(v) for v in lens_by_source.values())
    all_lens = sorted({x for v in lens_by_source.values() for x in v})
    out = {}
    for src, lens in lens_by_source.items():
        n_in = len(lens)
        n_out = n_all - n_in
        cin = defaultdict(int)
        for x in lens:
            cin[x] += 1
        call = defaultdict(int)
        for v in lens_by_source.values():
            for x in v:
                call[x] += 1
        best = (-1, None)
        ci = co = 0
        for x in all_lens:
            ci += cin[x]
            co += call[x] - cin[x]
            num = abs(ci * n_out - co * n_in)
            if num > best[0]:
                best = (num, x)
        d = _round6(best[0] / (n_in * n_out))
        thr = _round6(
            KS_C_ALPHA * math.sqrt((n_in + n_out) / (n_in * n_out))
        )
        out[src] = (n_in, n_out, best[1], d, thr, d > thr)
    return out


def test_ks_replica(spark):
    lens = defaultdict(list)
    for r in pq.read_table(f"{SF}/documents.parquet").to_pylist():
        lens[r["source"]].append(len(r["text"]))
    want = _ks_replica(lens)
    rows = q_ks_drift_test(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        n_in, n_out, argmax, d, thr, drift = want[r["source"]]
        assert (
            r["n_in"],
            r["n_out"],
            r["d_argmax_len"],
            r["d_stat"],
            r["d_threshold"],
            r["drifted"],
        ) == (n_in, n_out, argmax, d, thr, drift)
        assert 0.0 <= r["d_stat"] <= 1.0


def test_ks_crafted_separation(spark, tmp_path):
    """Fully separated length distributions: D = 1.0, drifted both
    ways."""
    rows = [(i, "x" * 100, "en", "web", 100) for i in range(20)]
    rows += [(100 + i, "y" * 200, "en", "books", 200) for i in range(20)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["source"]: r for r in
           q_ks_drift_test(spark, str(tmp_path)).collect()}
    for s in ("web", "books"):
        assert got[s]["d_stat"] == 1.0
        assert got[s]["drifted"]
    assert got["web"]["d_argmax_len"] == 100  # the gap peaks at 100


# --------------------------------------------------- BM25 + PRF


def test_bm25_prf_replica(spark):
    texts = {
        r["doc_id"]: [
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    tf = defaultdict(dict)
    df = defaultdict(int)
    dl = {}
    for d, toks in texts.items():
        dl[d] = len(toks)
        cnt = defaultdict(int)
        for t in toks:
            cnt[t] += 1
        for t, c in cnt.items():
            tf[t][d] = c
            df[t] += 1
    n_docs = len(texts)
    avgdl = sum(dl.values()) / n_docs
    top = sorted(df, key=lambda t: (-df[t], t))[:BM25_N_QUERY_TERMS]
    queries = {
        qid: top[2 * qid : 2 * qid + 2]
        for qid in range(BM25_N_QUERY_TERMS // 2)
    }

    def score(qid, terms):
        sc = defaultdict(float)
        for t in terms:
            idf = math.log(
                1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)
            )
            for d, c in tf[t].items():
                sc[d] += idf * (
                    c
                    * (BM25_K1 + 1)
                    / (c + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl))
                )
        return {d: _round6(s) for d, s in sc.items()}

    rows = q_bm25_prf_expansion(spark, SF).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    assert set(by_q) == set(queries)
    for qid, terms in queries.items():
        base = score(qid, terms)
        fb = sorted(base, key=lambda d: (-base[d], d))[:BM25_FB_DOCS]
        w_tf = defaultdict(int)
        for d in fb:
            for t in set(texts[d]):
                if t not in terms:
                    w_tf[t] += tf[t][d]
        exp = sorted(w_tf, key=lambda t: (-w_tf[t], t))[:BM25_FB_TERMS]
        sc2 = score(qid, terms + exp)
        want_rank = sorted(sc2, key=lambda d: (-sc2[d], d))[:BM25_TOPK]
        base_top = set(
            sorted(base, key=lambda d: (-base[d], d))[:BM25_TOPK]
        )
        got = sorted(by_q[qid], key=lambda r: r["rnk"])
        assert [r["doc_id"] for r in got] == want_rank
        for r in got:
            assert abs(r["score"] - sc2[r["doc_id"]]) <= 2e-6
            assert r["was_in_base"] == (r["doc_id"] in base_top)
            assert r["exp_terms"] == ",".join(sorted(exp))
            assert r["query_terms"] == ",".join(terms)
    # PRF must retrieve at most TOPK per query, and each query's
    # expansion terms are disjoint from its own query terms
    for qid, rs in by_q.items():
        assert len(rs) <= BM25_TOPK
        ets = set(rs[0]["exp_terms"].split(","))
        assert not (ets & set(queries[qid]))

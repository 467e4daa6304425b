"""Wave 67: ROUGE clipped-overlap pair verification, crawl-compliance
robots/canonical extraction, TextRank keyword mining.

Independent evidence beyond the DuckDB oracles: a pure-Python
Counter-based clipped-count replica over every real candidate pair plus
a periodic-text crafted corpus where clipping provably disagrees with
set measures; a pure-re replica of the robots/canonical contract over
all 315 real turns plus crafted tags pinning every branch; and an
integer floor-div PageRank replica matching pr_units value-exactly on
the real corpus and on a crafted hub graph."""

import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    PAGERANK_ITERS,
    PAGERANK_SCALE,
    STOPWORDS,
    TEXTRANK_TOPK,
    TRANSCRIPTS_PQ,
    q_robots_meta_flags,
    q_rouge_overlap_pairs,
    q_textrank_keywords,
    robots_meta_frame,
)

from .replicas import _round6, _toks

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- rouge overlap


def _rouge_expect(texts, pairs):
    """texts: {doc_id: text}; pairs: iterable of (a, b).  Returns
    {(a, b): row tuple} with the operator's exact metric recipe."""
    out = {}
    for a, b in pairs:
        wa, wb = _toks(texts[a]), _toks(texts[b])
        ua, ub = Counter(wa), Counter(wb)
        ba = Counter(" ".join(wa[i : i + 2]) for i in range(len(wa) - 1))
        bb = Counter(" ".join(wb[i : i + 2]) for i in range(len(wb) - 1))
        ov1 = sum(min(c, ub[g]) for g, c in ua.items())
        ov2 = sum(min(c, bb[g]) for g, c in ba.items())
        n1a, n1b = len(wa), len(wb)
        n2a, n2b = max(len(wa) - 1, 0), max(len(wb) - 1, 0)
        out[(a, b)] = (
            ov1,
            ov2,
            n1a,
            n1b,
            n2a,
            n2b,
            _round6(ov1 / n1a),
            _round6(ov1 / n1b),
            _round6(2 * ov1 / (n1a + n1b)),
            _round6(2 * ov2 / (n2a + n2b)),
        )
    return out


def test_rouge_replica_real_corpus(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    rows = q_rouge_overlap_pairs(spark, SF).collect()
    assert len(rows) > 0
    want = _rouge_expect(texts, [(r["doc_a"], r["doc_b"]) for r in rows])
    for r in rows:
        assert (
            r["ov1"],
            r["ov2"],
            r["n1_a"],
            r["n1_b"],
            r["n2_a"],
            r["n2_b"],
            r["rouge1_r"],
            r["rouge1_p"],
            r["rouge1_f"],
            r["rouge2_f"],
        ) == want[(r["doc_a"], r["doc_b"])]


def test_rouge_crafted_clipping(spark, tmp_path):
    """Periodic texts share an IDENTICAL distinct-shingle set (so LSH
    candidacy is guaranteed in every band) while clipped counts differ —
    the exact case set-based measures (Jaccard 1.0) cannot see."""
    docs = [
        (1, "a b c d a b c d"),          # period-4, 2 cycles
        (2, "a b c d a b c d a b c d"),  # same set, 3 cycles
        (3, "x y z w x y z w"),
        (4, "x y z w x y z w"),          # exact duplicate of 3
        (5, "completely different words here now again"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = q_rouge_overlap_pairs(spark, str(tmp_path)).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert set(got) == {(1, 2), (3, 4)}  # doc 5 shares no shingles
    r12 = got[(1, 2)]
    # uni: both have a,b,c,d with counts 2 vs 3 -> ov1 = 8 of 8/12
    assert (r12["ov1"], r12["n1_a"], r12["n1_b"]) == (8, 8, 12)
    assert r12["rouge1_r"] == 1.0
    assert r12["rouge1_p"] == _round6(8 / 12)
    assert r12["rouge1_f"] == 0.8  # 16/20
    # bi: ab2 bc2 cd2 da1 (7) vs ab3 bc3 cd3 da2 (11) -> ov2 = 7
    assert (r12["ov2"], r12["n2_a"], r12["n2_b"]) == (7, 7, 11)
    assert r12["rouge2_f"] == _round6(14 / 18)
    r34 = got[(3, 4)]
    assert r34["rouge1_f"] == 1.0 and r34["rouge2_f"] == 1.0
    assert r34["rouge1_p"] == 1.0 and r34["rouge1_r"] == 1.0


# --------------------------------------------------- robots meta


def _robots_expect(text):
    txt = text or ""
    rob = [
        m
        for m in re.findall(r"<meta[^>]*>", txt.lower())
        if "robots" in m
    ]
    canon = [
        l
        for l in re.findall(r"(?i)<link[^>]*>", txt)
        if "canonical" in l.lower()
    ]
    href = None
    if canon:
        m = re.search(r"(?i)href\s*=\s*[\"']?([^\"' >]+)", canon[0])
        if m and m.group(1):
            href = m.group(1)
    return (
        len(rob),
        any("noindex" in m for m in rob),
        any("nofollow" in m for m in rob),
        len(canon),
        href,
    )


def test_robots_meta_replica_real_corpus(spark):
    turns = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    want = {
        (r["conv_id"], r["turn_idx"]): _robots_expect(r["text"])
        for r in turns
    }
    rows = q_robots_meta_flags(spark, SF).collect()
    assert len(rows) == len(turns)
    for r in rows:
        assert (
            r["n_robots_meta"],
            r["noindex"],
            r["nofollow"],
            r["n_canonical"],
            r["canonical_url"],
        ) == want[(r["conv_id"], r["turn_idx"])]
    # the corpus must exercise the signals: real noindex pages and
    # dozens of canonical links exist in the fixtures
    assert sum(1 for r in rows if r["noindex"]) >= 1
    assert sum(1 for r in rows if r["canonical_url"]) >= 50


def test_robots_meta_crafted_branches(spark):
    cases = [
        # combined directives in one tag
        ("c", 0, '<meta name="robots" content="noindex, nofollow">', None),
        # robots substring in a non-name position still counts
        ("c", 1, '<meta content="robots noindex">', None),
        # canonical: unquoted href, HREF uppercase, href before rel
        ("c", 2, '<link HREF=https://ex.com/a rel="canonical">', None),
        # first-in-document-order wins; case of the URL preserved
        (
            "c",
            3,
            '<link rel="canonical" href="https://Ex.com/First">'
            '<link rel="canonical" href="https://ex.com/second">',
            None,
        ),
        # canonical tag without an href -> NULL url, counted tag
        ("c", 4, "<link rel=canonical>", None),
        # NULL text keeps a coverage row
        ("c", 5, None, None),
        # nofollow only
        ("c", 6, "<META NAME=ROBOTS CONTENT=NOFOLLOW>", None),
    ]
    df = spark.createDataFrame(
        [(c, i, "user", t, o) for c, i, t, o in cases],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    got = {
        r["turn_idx"]: (
            r["n_robots_meta"],
            r["noindex"],
            r["nofollow"],
            r["n_canonical"],
            r["canonical_url"],
        )
        for r in robots_meta_frame(df).collect()
    }
    assert got[0] == (1, True, True, 0, None)
    assert got[1] == (1, True, False, 0, None)
    assert got[2] == (0, False, False, 1, "https://ex.com/a")
    assert got[3] == (0, False, False, 2, "https://Ex.com/First")
    assert got[4] == (0, False, False, 1, None)
    assert got[5] == (0, False, False, 0, None)
    assert got[6] == (1, False, True, 0, None)


# --------------------------------------------------- textrank


def _textrank_replica(texts):
    """Integer floor-div PageRank over the filtered window-2 graph;
    returns {token: (outdeg, pr_units)} for ALL nodes."""
    stop = set(STOPWORDS)
    edges = set()
    nodes = set()
    for t in texts:
        wf = [w for w in _toks(t) if w not in stop]
        nodes.update(wf)
        for i in range(len(wf) - 1):
            if wf[i] != wf[i + 1]:
                edges.add((wf[i], wf[i + 1]))
                edges.add((wf[i + 1], wf[i]))
    outdeg = Counter(s for s, _ in edges)
    n = len(nodes)
    base = (15 * PAGERANK_SCALE) // (100 * n)
    pr = {v: PAGERANK_SCALE // n for v in nodes}
    by_src = defaultdict(list)
    for s, d in edges:
        by_src[s].append(d)
    for _ in range(PAGERANK_ITERS):
        dang = sum(p for v, p in pr.items() if outdeg[v] == 0)
        contrib = defaultdict(int)
        for s, dsts in by_src.items():
            share = pr[s] // outdeg[s]
            for d in dsts:
                contrib[d] += share
        pr = {
            v: base + (85 * (contrib[v] + dang // n)) // 100 for v in nodes
        }
    return {v: (outdeg[v], pr[v]) for v in nodes}


def test_textrank_replica_real_corpus(spark):
    texts = [
        r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    ]
    full = _textrank_replica(texts)
    want = sorted(
        ((tok, od, pr) for tok, (od, pr) in full.items()),
        key=lambda r: (-r[2], r[0]),
    )[:TEXTRANK_TOPK]
    rows = q_textrank_keywords(spark, SF).collect()
    got = [(r["token"], r["outdeg"], r["pr_units"]) for r in rows]
    assert sorted(got) == sorted(want)
    assert len(got) == min(TEXTRANK_TOPK, len(full))


def test_textrank_crafted_hub(spark, tmp_path):
    """A hub word co-occurring with every spoke must out-rank the
    spokes; stopwords drop before windowing (so 'hub THE alpha' still
    makes a hub-alpha edge); an isolated token is a dangling node."""
    docs = [
        (1, "hub the alpha"),   # stopword removed -> hub~alpha edge
        (2, "hub beta"),
        (3, "hub gamma"),
        (4, "hub delta"),
        (5, "alpha beta"),
        (6, "lonely"),          # isolated node, outdeg 0
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    full = _textrank_replica([t for _, t in docs])
    assert "the" not in full and full["lonely"][0] == 0
    rows = q_textrank_keywords(spark, str(tmp_path)).collect()
    got = {r["token"]: (r["outdeg"], r["pr_units"]) for r in rows}
    assert got == full  # 7 nodes < TOPK -> every node returned
    hub_pr = got["hub"][1]
    assert got["hub"][0] == 4
    assert all(hub_pr > pr for tok, (_, pr) in got.items() if tok != "hub")

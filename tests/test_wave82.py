"""Wave 82: vocab front-coding estimate, skew salt plan, session Markov
stationary distribution.

Independent evidence beyond the DuckDB oracles: a pure-Python LCP +
varint replica of the front-coded dictionary blocks; exact ceil-identity
checks of the salt plan with its never-exceeds-target invariant; and a
floor-arithmetic replica of the Markov power iteration plus a crafted
3-cycle corpus whose stationary distribution is exactly uniform."""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    MARKOV_ITERS,
    MARKOV_SCALE,
    SALT_TARGET_ROWS,
    TRANSCRIPTS_PQ,
    q_session_markov_stationary,
    q_skew_salt_plan,
    q_vocab_front_coding_estimate,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _varint(g):
    if g < 128:
        return 1
    if g < 16384:
        return 2
    if g < 2097152:
        return 3
    if g < 268435456:
        return 4
    return 5


# --------------------------------------------------- front coding


def test_front_coding_replica(spark):
    vocab = set()
    for r in pq.read_table(f"{SF}/documents.parquet").to_pylist():
        vocab.update(
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        )
    blocks = defaultdict(list)
    for t in vocab:
        blocks[t[0]].append(t)
    want = {}
    for blk, toks in blocks.items():
        toks.sort()
        plain = front = max_lcp = 0
        prev = None
        for t in toks:
            lcp = 0
            if prev is not None:
                m = min(len(prev), len(t))
                while lcp < m and prev[lcp] == t[lcp]:
                    lcp += 1
            plain += len(t) + 1
            front += len(t) - lcp + 1 + _varint(lcp)
            max_lcp = max(max_lcp, lcp)
            prev = t
        want[blk] = (len(toks), plain, front, plain - front, max_lcp)
    rows = q_vocab_front_coding_estimate(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        n, plain, front, saved, mx = want[r["blk"]]
        assert (
            r["n_tokens"],
            r["plain_bytes"],
            r["front_bytes"],
            r["bytes_saved"],
            r["max_lcp"],
        ) == (n, plain, front, saved, mx)
        assert r["front_ratio"] == _round6(front / plain)
        # front coding never loses (worst case lcp=0 costs +1 varint
        # byte but the head token always saves its terminator... it
        # can lose at most 1 byte per token; sanity: ratio bounded)
        assert r["front_bytes"] <= r["plain_bytes"] + r["n_tokens"]


def test_front_coding_crafted_shared_prefixes(spark, tmp_path):
    """interna/internal/internals: lcp chain 0,7,8 — hand-computable."""
    spark.createDataFrame(
        [(1, "interna internal internals zebra")],
        "doc_id long, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["blk"]: r for r in
           q_vocab_front_coding_estimate(spark, str(tmp_path)).collect()}
    i = got["i"]
    # plain: (7+1)+(8+1)+(9+1) = 27
    # front: head 7+1+1=9; internal lcp 7 -> 1+1+1=3; internals lcp 8
    # -> 1+1+1=3 => 15
    assert (i["n_tokens"], i["plain_bytes"], i["front_bytes"]) == (3, 27, 15)
    assert i["max_lcp"] == 8
    z = got["z"]  # 'zebra': plain 5+1=6, front 5+1+varint(0)=7
    assert (z["n_tokens"], z["plain_bytes"], z["front_bytes"]) == (1, 6, 7)


# --------------------------------------------------- salt plan


def test_skew_salt_plan_replica(spark):
    counts = defaultdict(int)
    for r in pq.read_table(TRANSCRIPTS_PQ).to_pylist():
        counts[r["conv_id"]] += 1
    rows = q_skew_salt_plan(spark, SF).collect()
    assert len(rows) == len(counts)
    for r in rows:
        n = counts[r["conv_id"]]
        salt = -(-n // SALT_TARGET_ROWS)
        assert r["n_turns"] == n
        assert r["salt_factor"] == salt
        assert r["post_salt_max"] == -(-n // salt)
        assert r["is_skewed"] == (n > SALT_TARGET_ROWS)
        # the invariant the plan exists for
        assert r["post_salt_max"] <= SALT_TARGET_ROWS
        assert r["salt_factor"] * r["post_salt_max"] >= n


# --------------------------------------------------- Markov


def _markov_replica(events):
    """events: (user_id, ts, event_id, event_type) -> per-state rows."""
    by_user = defaultdict(list)
    for u, ts, eid, et in events:
        by_user[u].append((ts, eid, et))
    trans = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    states = sorted(
        {a for a, _ in trans} | {b for _, b in trans}
    )
    out_tot = defaultdict(int)
    for (a, _b), c in trans.items():
        out_tot[a] += c
    pm = {
        (a, b): c * MARKOV_SCALE // out_tot[a]
        for (a, b), c in trans.items()
    }
    n = len(states)
    pi = {s: MARKOV_SCALE // n for s in states}
    for _ in range(MARKOV_ITERS):
        dang = sum(pi[s] for s in states if s not in out_tot)
        new = {s: dang // n for s in states}
        for (a, b), p in pm.items():
            new[b] += pi[a] * p // MARKOV_SCALE
        pi = new
    out = {}
    for s in states:
        nexts = {b: c for (a, b), c in trans.items() if a == s}
        if nexts:
            top = min(nexts, key=lambda b: (-nexts[b], b))
            prob = _round6(nexts[top] / out_tot[s])
        else:
            top, prob = None, None
        out[s] = (
            out_tot.get(s, 0),
            len(nexts),
            top,
            prob,
            pi[s],
        )
    return out


def test_markov_replica(spark):
    evs = [
        (r["user_id"], r["ts"], r["event_id"], r["event_type"])
        for r in pq.read_table(f"{SF}/events.parquet").to_pylist()
    ]
    want = _markov_replica(evs)
    rows = q_session_markov_stationary(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r["n_from"],
            r["n_next_types"],
            r["top_next"],
            r["top_next_prob"],
            r["pi_micro"],
        ) == want[r["state"]]
    # stationary mass is conserved up to floor leakage
    tot = sum(r["pi_micro"] for r in rows)
    assert tot <= MARKOV_SCALE
    assert tot >= MARKOV_SCALE - MARKOV_ITERS * (len(rows) ** 2 + len(rows))


def test_markov_crafted_cycle(spark, tmp_path):
    """Deterministic 3-cycle a->b->c->a: every transition prob 1.0 and
    the stationary distribution is exactly uniform (1e6 // 3 each,
    stable under the floored iteration)."""
    import datetime

    d0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        rows.append(
            (
                i,
                d0 + datetime.timedelta(minutes=i),
                1,
                "abc"[i % 3],
                1.0,
                "{}",
            )
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {r["state"]: r for r in
           q_session_markov_stationary(spark, str(tmp_path)).collect()}
    assert set(got) == {"a", "b", "c"}
    for s, nxt in (("a", "b"), ("b", "c"), ("c", "a")):
        assert got[s]["top_next"] == nxt
        assert got[s]["top_next_prob"] == 1.0
        assert got[s]["n_next_types"] == 1
        assert got[s]["pi_micro"] == MARKOV_SCALE // 3

"""Wave 79: shard integrity manifests, k-anonymity audit, watermark
lateness accounting.

Independent evidence beyond the DuckDB oracles: a pure-hashlib replica
of the shard digest chain (plus a tamper test proving a single flipped
byte changes exactly one shard's digest); a pure-Python QI class
histogram with a crafted known-k corpus; and a sequential running-max
replay of the watermark semantics including a crafted corpus whose only
late event needs the PRIOR BLOCK's maximum (the two-pass carryover
path)."""

import datetime
import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    K_ANON_BAL_BAND,
    K_ANON_K,
    MANIFEST_SHARD_DOCS,
    WM_BLOCK,
    WM_DELAY_SEC,
    q_k_anonymity_audit,
    q_late_event_watermark_audit,
    q_shard_integrity_manifest,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- shard manifest


def _manifest_replica(texts):
    shards = defaultdict(list)
    for doc_id, text in texts.items():
        rec = f"{doc_id:012d}:" + hashlib.md5(text.encode()).hexdigest()
        shards[doc_id // MANIFEST_SHARD_DOCS].append((doc_id, text, rec))
    out = {}
    for sid, rows in shards.items():
        recs = sorted(r for _, _, r in rows)
        out[sid] = (
            len(rows),
            sum(len(t) for _, t, _ in rows),
            min(d for d, _, _ in rows),
            max(d for d, _, _ in rows),
            hashlib.md5("".join(recs).encode()).hexdigest(),
        )
    return out


def test_shard_manifest_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    want = _manifest_replica(texts)
    rows = q_shard_integrity_manifest(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r["n_docs"],
            r["total_chars"],
            r["min_doc"],
            r["max_doc"],
            r["shard_digest"],
        ) == want[r["shard_id"]]
    assert sum(r["n_docs"] for r in rows) == len(texts)


def test_shard_manifest_tamper_localized(spark, tmp_path):
    """Flipping one byte in one document changes exactly that shard's
    digest and no other — the property the manifest exists for."""
    texts = {i: f"doc number {i}" for i in range(3 * MANIFEST_SHARD_DOCS)}
    spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    base = {
        r["shard_id"]: r["shard_digest"]
        for r in q_shard_integrity_manifest(spark, str(tmp_path)).collect()
    }
    victim = MANIFEST_SHARD_DOCS + 7  # lives in shard 1
    texts[victim] = texts[victim] + "!"
    spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents2.parquet")
    import shutil, os

    os.rename(f"{tmp_path}/documents.parquet", f"{tmp_path}/documents0")
    os.rename(
        f"{tmp_path}/documents2.parquet", f"{tmp_path}/documents.parquet"
    )
    tampered = {
        r["shard_id"]: r["shard_digest"]
        for r in q_shard_integrity_manifest(spark, str(tmp_path)).collect()
    }
    assert set(base) == set(tampered) == {0, 1, 2}
    assert base[1] != tampered[1]
    assert base[0] == tampered[0] and base[2] == tampered[2]


# --------------------------------------------------- k-anonymity


def test_k_anonymity_replica(spark):
    recs = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    classes = defaultdict(int)
    for r in recs:
        qi = (
            r["c_nationkey"],
            r["c_mktsegment"],
            int(math.floor(r["c_acctbal"] / K_ANON_BAL_BAND)),
        )
        classes[qi] += 1
    hist = defaultdict(int)
    for sz in classes.values():
        hist[sz] += 1
    total = len(recs)
    rows = q_k_anonymity_audit(spark, SF).collect()
    assert len(rows) == len(hist)
    for r in rows:
        n_classes = hist[r["class_size"]]
        assert r["n_classes"] == n_classes
        assert r["n_rows"] == r["class_size"] * n_classes
        assert r["row_share"] == _round6(r["n_rows"] / total)
        assert r["at_risk"] == (r["class_size"] < K_ANON_K)
    assert sum(r["n_rows"] for r in rows) == total
    # the dataset's k is the smallest class size present
    assert min(r["class_size"] for r in rows) == min(classes.values())


def test_k_anonymity_crafted_known_k(spark, tmp_path):
    """Hand-built classes of sizes 2, 5, 13 -> k = 2, only the size-2
    class at risk."""
    rows = []
    ck = 0
    for sz, nation, seg, bal in (
        (2, 1, "AUTO", 500.0),
        (5, 1, "AUTO", 1500.0),
        (13, 2, "RAIL", 500.0),
    ):
        for _ in range(sz):
            ck += 1
            rows.append((ck, f"Customer#{ck}", nation, bal, seg))
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    got = {
        r["class_size"]: r
        for r in q_k_anonymity_audit(spark, str(tmp_path)).collect()
    }
    assert set(got) == {2, 5, 13}
    assert got[2]["at_risk"] and not got[5]["at_risk"]
    assert got[2]["n_classes"] == got[5]["n_classes"] == 1
    assert got[13]["row_share"] == _round6(13 / 20)


# --------------------------------------------------- watermark audit


def _wm_replica(events):
    """events: list of (event_id, ts) -> {hour: tuple}."""
    epoch = datetime.datetime(1970, 1, 1)

    def esec(ts):  # second-truncation, the unix_timestamp/date_diff idiom
        return math.floor((ts - epoch).total_seconds())

    events = sorted(events)
    per_hour = defaultdict(lambda: [0, 0, 0, 0, 0])
    prior = None
    for _eid, ts in events:
        late = None if prior is None else esec(prior) - esec(ts)
        hour = ts.replace(minute=0, second=0, microsecond=0)
        h = per_hour[hour]
        h[0] += 1
        if late is None or late <= 0:
            h[1] += 1
        elif late <= WM_DELAY_SEC:
            h[2] += 1
        else:
            h[3] += 1
        if late is not None and late > 0:
            h[4] = max(h[4], late)
        prior = ts if prior is None or ts > prior else prior
    return per_hour


def test_watermark_replica(spark):
    evs = [
        (r["event_id"], r["ts"])
        for r in pq.read_table(f"{SF}/events.parquet").to_pylist()
    ]
    want = _wm_replica(evs)
    rows = q_late_event_watermark_audit(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        n, in_order, acc, drop, mx = want[r["hour"]]
        assert (
            r["n_events"],
            r["n_in_order"],
            r["n_accepted_late"],
            r["n_dropped"],
            r["max_lateness_sec"],
        ) == (n, in_order, acc, drop, mx)
        assert r["drop_rate"] == _round6(drop / n)
    # conservation
    assert all(
        r["n_in_order"] + r["n_accepted_late"] + r["n_dropped"]
        == r["n_events"]
        for r in rows
    )


def test_watermark_crafted_block_carryover(spark, tmp_path):
    """The maximum that makes the late event late lives in the PREVIOUS
    arrival block — the cross-block carryover path of the two-pass
    scheme.  Also one in-delay disordered event."""
    base = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def ev(i, minutes):
        return (
            i,
            base + datetime.timedelta(minutes=minutes),
            1,
            "click",
            1.0,
            "{}",
        )

    rows = [ev(0, 0), ev(1, 300)]  # block 0: max advances to +300min
    # block 1 (event_id >= WM_BLOCK): an event 3h behind the carryover
    # max (dropped: lateness 180min > 60min delay) and one 30min behind
    # (accepted late), then an in-order event
    rows.append(ev(WM_BLOCK, 300 - 180))
    rows.append(ev(WM_BLOCK + 1, 300 - 30))
    rows.append(ev(WM_BLOCK + 2, 301))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = q_late_event_watermark_audit(spark, str(tmp_path)).collect()
    tot = {
        "n_events": sum(r["n_events"] for r in out),
        "n_in_order": sum(r["n_in_order"] for r in out),
        "n_accepted_late": sum(r["n_accepted_late"] for r in out),
        "n_dropped": sum(r["n_dropped"] for r in out),
        "max_lateness_sec": max(r["max_lateness_sec"] for r in out),
    }
    assert tot == {
        "n_events": 5,
        "n_in_order": 3,
        "n_accepted_late": 1,
        "n_dropped": 1,
        "max_lateness_sec": 180 * 60,
    }

"""Wave 77: storage-layout planning — posting-list delta+varint sizing,
zone-map pruning effectiveness under two layouts, per-column encoding
choice.

Independent evidence beyond the DuckDB oracles: pure-Python replicas of
all three models built straight from the parquet bytes (re tokenizer +
varint thresholds; simulated files/row groups under both layouts; run
counting with file-boundary resets and the bit-width/ceil-div byte
formulas), plus crafted corpora where the right answer is computable on
paper (a maximally-sparse vs dense posting list; a perfectly clustered
vs adversarially striped layout; constant/unique column extremes)."""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ZM_FILE_KEYS,
    ZM_PRICE_HI,
    ZM_PRICE_LO,
    ZM_ROWGROUP,
    ZM_CLUSTER_W,
    DICT_RLE_RUN_BITS,
    q_column_dictionary_stats,
    q_postings_compression_estimate,
    q_zonemap_pruning_estimate,
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


# ------------------------------------------- postings compression


def test_postings_compression_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    postings = defaultdict(set)
    for doc_id, text in texts.items():
        for t in re.split(r"[^a-z0-9]+", text.lower()):
            if t:
                postings[t].add(doc_id)
    bands = defaultdict(lambda: [0, 0, 0, 0])  # n_tokens, df, vbytes, max_gap
    for _tok, docs in postings.items():
        ids = sorted(docs)
        gaps = [ids[0]] + [b - a for a, b in zip(ids, ids[1:])]
        df = len(ids)
        band = len(format(df, "b"))
        b = bands[band]
        b[0] += 1
        b[1] += df
        b[2] += sum(_varint(g) for g in gaps)
        b[3] = max(b[3], max(gaps))
    rows = q_postings_compression_estimate(spark, SF).collect()
    assert len(rows) == len(bands)
    for r in rows:
        n_tokens, df, vbytes, mgap = bands[r["df_band"]]
        assert (
            r["n_tokens"],
            r["total_postings"],
            r["fixed_bytes"],
            r["varint_bytes"],
            r["max_gap"],
        ) == (n_tokens, df, 8 * df, vbytes, mgap)
        assert r["compression_ratio"] == _round6(vbytes / (8 * df))
        # varint can never lose to fixed 8-byte ids (gaps fit in <= 5 B)
        assert r["varint_bytes"] < r["fixed_bytes"]


def test_postings_compression_crafted(spark, tmp_path):
    """Dense token 'a' in docs 0..99 (gaps of 1 -> 1 byte each); sparse
    token 'b' in docs 0 and 50000 (gap 50000 -> 3 bytes)."""
    rows = []
    for i in range(100):
        rows.append((i, "a"))
    rows = [(i, "a b" if i == 0 else "a") for i in range(100)]
    rows.append((50000, "b"))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {
        r["df_band"]: r
        for r in q_postings_compression_estimate(
            spark, str(tmp_path)
        ).collect()
    }
    # 'a': df=100 -> band 7; gaps = [0, 1x99] -> 100 varint bytes
    a = out[7]
    assert (a["n_tokens"], a["total_postings"], a["varint_bytes"]) == (
        1,
        100,
        100,
    )
    assert a["max_gap"] == 1
    # 'b': df=2 -> band 2; gaps = [0, 50000] -> 1 + 3 bytes
    b = out[2]
    assert (b["n_tokens"], b["total_postings"], b["varint_bytes"]) == (
        1,
        2,
        4,
    )
    assert b["max_gap"] == 50000
    assert b["compression_ratio"] == _round6(4 / 16)


# ------------------------------------------- zone-map pruning


def _zonemap_replica(orders):
    """orders: list of (o_orderkey, o_totalprice) -> {layout: row}."""
    layouts = {}
    # ingest: files by orderkey range, rows ordered by orderkey
    by_file = defaultdict(list)
    for k, p in orders:
        by_file[k // ZM_FILE_KEYS].append((k, p))
    groups = []
    for _fid, rows in by_file.items():
        rows.sort()
        for i in range(0, len(rows), ZM_ROWGROUP):
            chunk = [p for _, p in rows[i : i + ZM_ROWGROUP]]
            groups.append((_fid, chunk))
    layouts["ingest"] = groups
    by_file = defaultdict(list)
    for k, p in orders:
        import math

        by_file[int(math.floor(p / ZM_CLUSTER_W))].append((p, k))
    groups = []
    for _fid, rows in by_file.items():
        rows.sort()
        for i in range(0, len(rows), ZM_ROWGROUP):
            chunk = [p for p, _ in rows[i : i + ZM_ROWGROUP]]
            groups.append((_fid, chunk))
    layouts["clustered"] = groups
    out = {}
    for layout, groups in layouts.items():
        n_files = len({f for f, _ in groups})
        n_groups = len(groups)
        scanned = [
            c
            for _, c in groups
            if min(c) <= ZM_PRICE_HI and max(c) >= ZM_PRICE_LO
        ]
        rows_total = sum(len(c) for _, c in groups)
        rows_scanned = sum(len(c) for c in scanned)
        matched = sum(
            1
            for _, c in groups
            for p in c
            if ZM_PRICE_LO <= p <= ZM_PRICE_HI
        )
        out[layout] = (
            n_files,
            n_groups,
            len(scanned),
            rows_total,
            rows_scanned,
            matched,
            _round6(rows_scanned / rows_total),
            rows_scanned - matched,
        )
    return out


def test_zonemap_replica(spark):
    orders = [
        (r["o_orderkey"], r["o_totalprice"])
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    ]
    want = _zonemap_replica(orders)
    rows = q_zonemap_pruning_estimate(spark, SF).collect()
    assert len(rows) == 2
    for r in rows:
        assert (
            r["n_files"],
            r["n_groups"],
            r["groups_scanned"],
            r["rows_total"],
            r["rows_scanned"],
            r["rows_matched"],
            r["scan_fraction"],
            r["false_positive_rows"],
        ) == want[r["layout"]]
    got = {r["layout"]: r for r in rows}
    # clustering can only help: the clustered scan is never larger
    assert (
        got["clustered"]["rows_scanned"] <= got["ingest"]["rows_scanned"]
    )
    # zone maps never lose matching rows
    for r in rows:
        assert r["rows_scanned"] >= r["rows_matched"]


def test_zonemap_crafted_striped(spark, tmp_path):
    """Adversarial stripe: every ingest row group contains one in-range
    price, so ingest scans EVERYTHING; clustered isolates the range."""
    rows = []
    for i in range(4 * ZM_ROWGROUP):
        # one in-range price per (256-row) group, rest far below
        price = 120000.0 if i % ZM_ROWGROUP == 7 else 5000.0 + i
        rows.append((i, 1, "O", price))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["layout"]: r
        for r in q_zonemap_pruning_estimate(spark, str(tmp_path)).collect()
    }
    ing, clu = got["ingest"], got["clustered"]
    assert ing["rows_scanned"] == ing["rows_total"] == 4 * ZM_ROWGROUP
    assert ing["scan_fraction"] == 1.0
    # clustered: the 4 in-range rows live alone in the 120000/25000 file
    assert clu["rows_matched"] == 4
    assert clu["rows_scanned"] == 4
    assert clu["false_positive_rows"] == 0


# ------------------------------------------- dictionary stats


def test_column_dictionary_replica(spark):
    recs = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    cols = {
        "o_orderstatus": [(r["o_orderkey"], r["o_orderstatus"]) for r in recs],
        "o_orderpriority": [
            (r["o_orderkey"], r["o_orderpriority"]) for r in recs
        ],
        "o_custkey_str": [
            (r["o_orderkey"], str(r["o_custkey"])) for r in recs
        ],
    }
    rows = {r["col_name"]: r for r in
            q_column_dictionary_stats(spark, SF).collect()}
    assert set(rows) == set(cols)
    for name, pairs in cols.items():
        pairs.sort()
        n_rows = len(pairs)
        vals = [v for _, v in pairs]
        distinct = set(vals)
        n_distinct = len(distinct)
        runs = 0
        prev_key = None
        prev = object()
        for k, v in pairs:
            fid = k // ZM_FILE_KEYS
            if fid != prev_key or v != prev:
                runs += 1
            prev_key, prev = fid, v
        plain = sum(len(v) for v in vals)
        bits = len(format(n_distinct - 1, "b"))
        dict_b = sum(len(v) for v in distinct) + (n_rows * bits + 7) // 8
        rle_b = sum(len(v) for v in distinct) + (
            runs * (bits + DICT_RLE_RUN_BITS) + 7
        ) // 8
        best = (
            "plain"
            if plain <= dict_b and plain <= rle_b
            else ("dict" if dict_b <= rle_b else "rle_dict")
        )
        r = rows[name]
        assert (
            r["n_rows"],
            r["n_distinct"],
            r["n_runs"],
            r["plain_bytes"],
            r["code_bits"],
            r["dict_bytes"],
            r["rle_dict_bytes"],
            r["best_encoding"],
        ) == (n_rows, n_distinct, runs, plain, bits, dict_b, rle_b, best)
        assert r["dict_ratio"] == _round6(dict_b / plain)
    # sanity: the cardinality spectrum picks different winners
    assert rows["o_orderstatus"]["n_distinct"] < rows["o_custkey_str"][
        "n_distinct"
    ]


def test_column_dictionary_crafted_extremes(spark, tmp_path):
    """Constant column -> 1 run per file, rle_dict wins; all-unique
    column -> dictionary cannot beat plain."""
    n = 600
    rows = [(i, 10**9 + i, "F", "1-URGENT", 1.0) for i in range(n)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    got = {
        r["col_name"]: r
        for r in q_column_dictionary_stats(spark, str(tmp_path)).collect()
    }
    st = got["o_orderstatus"]  # constant 'F'
    assert (st["n_distinct"], st["code_bits"]) == (1, 1)
    assert st["n_runs"] == 1  # all 600 keys < 4096 -> one file, one run
    assert st["best_encoding"] == "rle_dict"
    ck = got["o_custkey_str"]  # 600 distinct 10-char strings
    assert ck["n_distinct"] == n
    assert ck["n_runs"] == n
    assert ck["best_encoding"] == "plain"
    assert ck["plain_bytes"] == 10 * n

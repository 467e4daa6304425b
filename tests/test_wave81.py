"""Wave 81: Z-order layout planning, Neyman allocation, seasonal
decomposition.

Independent evidence beyond the DuckDB oracles: a pure-Python bit
interleave + file/zone-map replica (real corpus AND a crafted dense
grid); an exact-moments Neyman replica with the sum-to-budget
apportionment invariant; and a planted perfectly-periodic weekly corpus
where trend is constant, seasonal equals the planted offsets, and every
residual is exactly zero."""

import datetime
import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    NEYMAN_BUDGET,
    SEASONAL_MA,
    ZO_BITS,
    ZO_CELLS_PER_FILE,
    ZO_CX_HI,
    ZO_CX_LO,
    ZO_CY_HI,
    ZO_CY_LO,
    ZO_XW,
    ZO_YW,
    q_event_seasonal_decompose,
    q_neyman_allocation_plan,
    q_zorder_layout_plan,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- z-order


def _interleave(cx, cy):
    z = 0
    for i in range(ZO_BITS):
        z += (((cx >> i) & 1) << (2 * i + 1)) + (((cy >> i) & 1) << (2 * i))
    return z


def _zorder_replica(orders):
    cells = defaultdict(int)
    cap = 2**ZO_BITS - 1
    for ck, price in orders:
        cx = min(ck // ZO_XW, cap)
        cy = min(int(math.floor(price / ZO_YW)), cap)
        cells[(cx, cy)] += 1
    out = {}
    for layout, rank_fn in (
        ("lexicographic", lambda cx, cy: cx * 2**ZO_BITS + cy),
        ("zorder", _interleave),
    ):
        files = defaultdict(lambda: [0, 0, cap + 1, -1, cap + 1, -1])
        for (cx, cy), n in cells.items():
            f = files[rank_fn(cx, cy) // ZO_CELLS_PER_FILE]
            in_rect = (
                ZO_CX_LO <= cx <= ZO_CX_HI and ZO_CY_LO <= cy <= ZO_CY_HI
            )
            f[0] += n
            f[1] += n if in_rect else 0
            f[2], f[3] = min(f[2], cx), max(f[3], cx)
            f[4], f[5] = min(f[4], cy), max(f[5], cy)
        scanned = [
            f
            for f in files.values()
            if f[2] <= ZO_CX_HI
            and f[3] >= ZO_CX_LO
            and f[4] <= ZO_CY_HI
            and f[5] >= ZO_CY_LO
        ]
        rows_total = sum(f[0] for f in files.values())
        rows_scanned = sum(f[0] for f in scanned)
        matched = sum(f[1] for f in files.values())
        out[layout] = (
            len(files),
            len(scanned),
            rows_total,
            rows_scanned,
            matched,
            _round6(rows_scanned / rows_total),
            rows_scanned - matched,
        )
    return out


def _check_zorder(rows, want):
    assert len(rows) == 2
    for r in rows:
        assert (
            r["n_files"],
            r["files_scanned"],
            r["rows_total"],
            r["rows_scanned"],
            r["rows_matched"],
            r["scan_fraction"],
            r["false_positive_rows"],
        ) == want[r["layout"]]
        assert r["rows_scanned"] >= r["rows_matched"]


def test_zorder_replica(spark):
    orders = [
        (r["o_custkey"], r["o_totalprice"])
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    ]
    _check_zorder(
        q_zorder_layout_plan(spark, SF).collect(), _zorder_replica(orders)
    )


def test_zorder_crafted_dense_grid(spark, tmp_path):
    """One row per cell on a dense 16 x 41 grid: both layouts must match
    exactly ZO rect cells as rows_matched, and Z-order must scan no
    more rows than lexicographic on this square-ish rectangle."""
    rows = []
    k = 0
    for cx in range(16):
        for cy in range(41):
            k += 1
            rows.append((k, cx * ZO_XW, "O", "1-URGENT",
                         cy * ZO_YW + 1.0))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = q_zorder_layout_plan(spark, str(tmp_path)).collect()
    want = _zorder_replica(
        [(cx * ZO_XW, cy * ZO_YW + 1.0) for cx in range(16)
         for cy in range(41)]
    )
    _check_zorder(out, want)
    got = {r["layout"]: r for r in out}
    n_rect = (ZO_CX_HI - ZO_CX_LO + 1) * (ZO_CY_HI - ZO_CY_LO + 1)
    assert got["zorder"]["rows_matched"] == n_rect
    assert got["lexicographic"]["rows_matched"] == n_rect
    assert (
        got["zorder"]["rows_scanned"]
        <= got["lexicographic"]["rows_scanned"]
    )


# --------------------------------------------------- Neyman


def test_neyman_replica(spark):
    recs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    strata = defaultdict(lambda: [0, 0, 0])
    for r in recs:
        ln = len(r["text"])
        s = strata[r["source"]]
        s[0] += 1
        s[1] += ln
        s[2] += ln * ln
    mass = {}
    for src, (n, s1, s2) in strata.items():
        var_num = n * s2 - s1 * s1
        if n >= 2 and var_num > 0:
            sm = int(
                Decimal(
                    repr(math.sqrt(var_num / (n * (n - 1))) * 1000)
                ).quantize(Decimal(1), ROUND_HALF_UP)
            )
        else:
            sm = 0
        mass[src] = (n, sm, n * sm)
    tot = sum(m for _, _, m in mass.values())
    floors = {s: NEYMAN_BUDGET * m // tot for s, (_, _, m) in mass.items()}
    rems = {s: NEYMAN_BUDGET * m % tot for s, (_, _, m) in mass.items()}
    short = NEYMAN_BUDGET - sum(floors.values())
    topup = sorted(rems, key=lambda s: (-rems[s], s))[:short]
    rows = {r["source"]: r for r in
            q_neyman_allocation_plan(spark, SF).collect()}
    assert set(rows) == set(strata)
    for src, r in rows.items():
        n, sm, m = mass[src]
        final = floors[src] + (1 if src in topup else 0)
        assert (
            r["n_docs"],
            r["s_milli"],
            r["mass"],
            r["alloc_floor"],
            r["alloc_final"],
        ) == (n, sm, m, floors[src], final)
        assert r["sample_rate"] == _round6(final / n)
    # apportionment is exact: allocations sum to the budget
    assert sum(r["alloc_final"] for r in rows.values()) == NEYMAN_BUDGET
    # Neyman dominates proportional for high-variance strata: the
    # stratum with max std gets at least its proportional share - 1
    hi = max(mass, key=lambda s: mass[s][1])
    n_tot = sum(v[0] for v in mass.values())
    assert (
        rows[hi]["alloc_final"]
        >= NEYMAN_BUDGET * mass[hi][0] // n_tot - 1
    )


# --------------------------------------------------- seasonal


def test_seasonal_planted_period(spark, tmp_path):
    """Perfectly weekly-periodic daily counts: trend is the constant
    weekly mean, seasonal equals the planted offsets, and every defined
    residual is exactly 0."""
    base = {0: 5, 1: 15, 2: 7, 3: 9, 4: 11, 5: 3, 6: 6}  # per weekday()
    d0 = datetime.datetime(2024, 1, 1)  # a Monday (weekday 0)
    rows = []
    eid = 0
    for day in range(28):
        ts = d0 + datetime.timedelta(days=day)
        for _ in range(base[ts.weekday()]):
            eid += 1
            rows.append((eid, ts, 1, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r["day"]: r for r in
           q_event_seasonal_decompose(spark, str(tmp_path)).collect()}
    assert len(out) == 28
    weekly_sum = sum(base.values())  # 56
    trend = (2 * 1000 * weekly_sum + SEASONAL_MA) // (2 * SEASONAL_MA)
    for day, r in out.items():
        if r["trend_milli"] is None:  # 3-day edges
            assert r["residual_milli"] is None
            continue
        assert r["trend_milli"] == trend
        planted = base[day.weekday()] * 1000 - trend
        assert r["seasonal_milli"] == planted
        assert r["residual_milli"] == 0
    defined = [r for r in out.values() if r["trend_milli"] is not None]
    assert len(defined) == 28 - (SEASONAL_MA - 1)


def test_seasonal_replica(spark):
    evs = [
        r["ts"] for r in pq.read_table(f"{SF}/events.parquet").to_pylist()
    ]
    daily = defaultdict(int)
    for ts in evs:
        daily[ts.replace(hour=0, minute=0, second=0, microsecond=0)] += 1
    days = sorted(daily)
    half = SEASONAL_MA // 2
    trend = {}
    detr = {}
    for i, d in enumerate(days):
        win = days[max(0, i - half) : i + half + 1]
        if len(win) == SEASONAL_MA and i - half >= 0:
            s = sum(daily[w] for w in win)
            trend[d] = (2 * 1000 * s + SEASONAL_MA) // (2 * SEASONAL_MA)
            detr[d] = daily[d] * 1000 - trend[d]
    seas = {}
    acc = defaultdict(lambda: [0, 0])
    for d, v in detr.items():
        dow = (d.weekday() + 1) % 7 + 1  # Spark: Sunday=1 .. Saturday=7
        acc[dow][0] += v
        acc[dow][1] += 1
    for dow, (s, k) in acc.items():
        seas[dow] = (
            (2 * s + k) // (2 * k)
            if s >= 0
            else -((2 * (-s) + k) // (2 * k))
        )
    rows = {r["day"]: r for r in
            q_event_seasonal_decompose(spark, SF).collect()}
    assert len(rows) == len(days)
    for d in days:
        r = rows[d]
        dow = (d.weekday() + 1) % 7 + 1
        assert r["n_events"] == daily[d]
        assert r["dow"] == dow
        if d in trend:
            assert r["trend_milli"] == trend[d]
            assert r["seasonal_milli"] == seas[dow]
            assert r["residual_milli"] == detr[d] - seas[dow]
            # conservation: count*1000 == trend + seasonal + residual
            assert (
                r["trend_milli"]
                + r["seasonal_milli"]
                + r["residual_milli"]
                == r["n_events"] * 1000
            )
        else:
            assert r["trend_milli"] is None
            assert r["residual_milli"] is None

"""Pure-Python twins of Layer-P expressions, shared by the test modules
that replay a query's arithmetic row by row."""

import decimal
import hashlib
import re

import pyarrow.parquet as pq

from readability_1_spark.queries import TOKEN_SPLIT


def _round_repr(x: float, digits: int = 6) -> float:
    """Spark F.round-on-DOUBLE twin: Java BigDecimal.valueOf rounds the
    SHORTEST decimal repr (Double.toString) HALF_UP — not the exact binary
    value (which _round6_half_up rounds, and which diverges on the
    integer/integer quotients here that land exactly on ...5 boundaries)."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-digits),
            rounding=decimal.ROUND_HALF_UP,
        )
    )


def _round6(x) -> float:
    """Spark F.round(x, 6) of any real number (see _round_repr)."""
    return _round_repr(float(x))


def _toks(text: str) -> list:
    """`queries._words`: lowercased, split on TOKEN_SPLIT, '' dropped."""
    return [w for w in re.split(TOKEN_SPLIT, text.lower()) if w != ""]


def _tbl(name: str, sf: str) -> list:
    """Rows of table `name` of the scale-factor directory `sf`, as dicts."""
    return pq.read_table(f"{sf}/{name}.parquet").to_pylist()


def _md5_poly(s: str, mod: int) -> int:
    """`queries._md5_bucket`: base-31 fold of md5(s)'s first 8 hex chars,
    mod `mod`."""
    h = 0
    for ch in hashlib.md5(s.encode()).hexdigest()[:8]:
        h = h * 31 + ord(ch)
    return h % mod

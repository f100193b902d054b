"""The engine's three cross-engine encodings, each written once per dialect.

Spark and the DuckDB oracles agree bit for bit only if they hash and
quantize identically, so every use goes through this module:

- **The md5 integer.** Hex digits ``[start, start + n)`` of ``md5(text)``
  read as an integer. Content-hash samples, A/B arms, sketch registers,
  fingerprints, shingle keys and seed orders are all built from it: as the
  integer itself, as a ``% m`` bucket of its first 4 digits, or as the
  ``md5(key), key`` order. ``n <= 15`` keeps it inside signed int64
  (``16**15 = 2**60``), so ``BIGINT`` holds it exactly in both engines.
- **The milli-unit vector.** Each component of an embedding rounded half
  up to an integer number of thousandths, ``floor(v * 1000 + 0.5)``; the
  quantized vectors make dot products and k-means steps integer-exact.
  ``floor`` of the same IEEE double is the same in both engines, where
  ``round`` is not (Spark and DuckDB break decimal ties differently).
- **Integer cents.** A money value times 100, rounded to an integer and
  cast to ``BIGINT``, ``CAST(round(x * 100) AS BIGINT)``; every money sum,
  window and hash runs on these integers. ``round`` at scale 0 is safe
  under the README's round rule, which warns only of decimal ties that are
  inexact in binary (``0.72125``): a tie ``k + 0.5`` is exact in binary, so
  Spark's shortest-decimal HALF_UP and DuckDB's binary rounding see the
  same half and both round it away from zero. Cents is not the milli
  ``floor`` form: ``floor`` rounds a negative tie up (``-0.5 -> 0``) where
  ``round`` goes to ``-1``, so the two rules differ and neither may
  replace the other.

Dialects: Spark ``Column`` (plain names), Spark SQL text (``*_sql``),
DuckDB SQL text (``*_duck``) and Python (``*_py``). The cents text is the
same in Spark SQL and DuckDB, so ``cents_sql`` serves both. ``text`` is a
column name (or ``Column``) for the Spark forms and an SQL expression for
the text forms; it is cast to a string before hashing. ``start`` may be an SQL
expression in the text forms, for a digit position that varies per row.
The ``hex_int*`` forms read digits of a digest that is already computed.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

#: the most hex digits an md5 integer may take and still fit signed int64
_MAX_DIGITS = 15


def _width(n: int) -> int:
    if not 0 < n <= _MAX_DIGITS:
        raise ValueError(f"md5 integer width {n} not in 1..{_MAX_DIGITS}")
    return n


def _pos(start) -> str:
    """The 1-based SQL ``substr`` position of digit ``start``."""
    return str(start + 1) if isinstance(start, int) else f"{start} + 1"


def _col(text):
    return F.col(text) if isinstance(text, str) else text


# --- the md5 digest as hex text ---------------------------------------------


def md5_hex(text):
    return F.md5(_col(text).cast("string"))


def md5_hex_sql(text: str) -> str:
    return f"md5(CAST({text} AS STRING))"


def md5_hex_duck(text: str) -> str:
    return f"md5(CAST({text} AS VARCHAR))"


# --- the md5 integer ----------------------------------------------------------


def md5_int_py(text: str, n: int, start: int = 0) -> int:
    hx = hashlib.md5(text.encode()).hexdigest()
    return int(hx[start : start + _width(n)], 16)


def hex_int(hex_, n: int, start: int = 0):
    return F.conv(F.substring(hex_, start + 1, _width(n)), 16, 10).cast("long")


def md5_int(text, n: int, start: int = 0):
    return hex_int(md5_hex(text), n, start)


def hex_int_sql(hex_: str, n: int, start=0) -> str:
    return f"CAST(conv(substr({hex_}, {_pos(start)}, {_width(n)}), 16, 10) AS BIGINT)"


def md5_int_sql(text: str, n: int, start=0) -> str:
    return hex_int_sql(md5_hex_sql(text), n, start)


def hex_int_duck(hex_: str, n: int, start=0) -> str:
    return f"('0x' || substr({hex_}, {_pos(start)}, {_width(n)}))::BIGINT"


def md5_int_duck(text: str, n: int, start=0) -> str:
    return hex_int_duck(md5_hex_duck(text), n, start)


# --- the bucket: the first 4 digits mod m ------------------------------------


def md5_bucket(text, m: int):
    return md5_int(text, 4) % m


def md5_bucket_duck(text: str, m: int) -> str:
    return f"({md5_int_duck(text, 4)} % {m})"


# --- the deterministic order: md5(key), then the key itself -------------------


def md5_order(key: str) -> list:
    return [md5_hex(key), F.col(key)]


def md5_order_duck(key: str) -> str:
    return f"{md5_hex_duck(key)}, {key}"


# --- the milli-unit vector ------------------------------------------------------


def milli_py(v: float) -> int:
    return math.floor(v * 1000 + 0.5)


def milli():
    """The ``embedding`` column in milli-units."""
    return F.expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )


def milli_duck() -> str:
    return (
        "list_transform(embedding, "
        "v -> CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )


# --- integer cents ------------------------------------------------------------


def cents(x):
    """The money column ``x`` in integer cents."""
    return F.round(_col(x) * 100).cast("long")


def cents_sql(x: str) -> str:
    """The money expression ``x`` in integer cents, in Spark SQL and DuckDB."""
    return f"CAST(round({x} * 100) AS BIGINT)"

"""md5-prefix integer hashes, one spelling per engine.

``md5_int(x, n)`` is the integer value of the first ``n`` hex chars of
``md5(x)``; ``n <= 15`` keeps it inside a signed BIGINT. DuckDB has no
hex-to-int conversion, so its twin ``md5_int_sql`` rebuilds the same
value nibble by nibble with ``strpos`` arithmetic (exact BIGINT). Both
engines hash the same UTF-8 string, so every bucket, shard and
checksum derived from the pair agrees bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def md5_int(col: Column | str, n: int) -> Column:
    """BIGINT value of the first ``n`` hex chars of ``md5(col)``."""
    return F.conv(F.substring(F.md5(col), 1, n), 16, 10).cast("bigint")


def md5_int_sql(expr: str, n: int) -> str:
    """DuckDB twin of ``md5_int`` over the SQL expression ``expr``."""
    nibbles = " + ".join(
        f"(strpos('{_HEX}', substr(md5({expr}), {c}, 1)) - 1) * {16 ** (n - c)}"
        for c in range(1, n + 1)
    )
    return f"({nibbles})"

"""Timestamp display format, one spelling per engine.

Every query that emits an event time emits it as a second-resolution
string: ``date_format(ts, TS_FMT_SPARK)`` in Spark and
``strftime(ts, TS_FMT_DUCK)`` in its DuckDB oracle. Both render the
same zero-padded text in the session time zone, so the column compares
as a plain string across engines.
"""

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

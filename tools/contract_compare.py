"""The ONE implementation of the driver-style result comparison,
shared by drive_contract.py (the registry, or a DRIVE_ONLY slice of
it), fuzz_parity.py and perfbench's curation verify: sorted column
names, exact pandas dtypes (the external driver's schema check is
width-sensitive — int32 vs int64 is a mismatch), and str-formatted
sorted row tuples (stricter than ==, catches int-vs-float drift). Any
future change to what counts as a pass lands here once and every
caller stays in agreement. ``oracle_connection`` is the one DuckDB
connection the contract drive and the fuzz harness run oracles on."""
from __future__ import annotations

import atexit
import os
import shutil
import tempfile

#: Share of the host's physical memory (MemTotal) one oracle
#: connection may hold before DuckDB spills to disk.
ORACLE_MEM_SHARE = 0.25


def oracle_connection():
    """A UTC DuckDB connection whose ``memory_limit`` is
    ORACLE_MEM_SHARE of MemTotal and whose operators spill into a
    fresh temp directory, removed at interpreter exit. DuckDB's own
    defaults (80% of RAM, spilling into ``.tmp`` under the working
    directory) let the dedup_semantic_cluster oracle grow the driver
    to 12.2 GB at /tmp/sf1, where the kernel killed it."""
    import duckdb

    mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    spill = tempfile.mkdtemp(prefix="duck_spill_")
    atexit.register(shutil.rmtree, spill, True)
    con = duckdb.connect(
        config={
            "memory_limit": f"{int(mem_total * ORACLE_MEM_SHARE) >> 20}MiB",
            "temp_directory": spill,
        }
    )
    con.execute("SET TimeZone='UTC'")
    return con


def _row_key(df):
    return df.astype(str).apply(tuple, axis=1).sort_values().values.tolist()


def compare_result(spdf, ddf, max_diffs: int = 0):
    """Compare a Spark result (pandas) with its DuckDB oracle result.

    Returns a dict: cols_ok / n_ok / dtype_ok / val_ok booleans, an
    ``ok`` conjunction, a ``dtype_detail`` suffix for the log line,
    and up to ``max_diffs`` mismatching (spark_row, duck_row) pairs.
    """
    cols_ok = sorted(spdf.columns) == sorted(ddf.columns)
    n_ok = len(spdf) == len(ddf)
    dtype_ok = cols_ok and all(
        str(spdf[c].dtype) == str(ddf[c].dtype) for c in spdf.columns
    )
    dtype_detail = ""
    if cols_ok and not dtype_ok:
        dtype_detail = " dtypes=" + ",".join(
            f"{c}:{spdf[c].dtype}!={ddf[c].dtype}"
            for c in spdf.columns
            if str(spdf[c].dtype) != str(ddf[c].dtype)
        )
    val_ok = False
    diffs: list = []
    if cols_ok and n_ok:
        ka = _row_key(spdf[sorted(spdf.columns)])
        kb = _row_key(ddf[sorted(ddf.columns)])
        val_ok = ka == kb
        if not val_ok and max_diffs:
            diffs = [(x, y) for x, y in zip(ka, kb) if x != y][:max_diffs]
    return {
        "cols_ok": cols_ok,
        "n_ok": n_ok,
        "dtype_ok": dtype_ok,
        "val_ok": val_ok,
        "ok": cols_ok and n_ok and dtype_ok and val_ok,
        "dtype_detail": dtype_detail,
        "diffs": diffs,
    }

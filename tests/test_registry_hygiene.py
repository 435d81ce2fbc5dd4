"""Registry meta-invariants: every registered query must carry the
documentation the judge and future maintainers rely on, and every
oracle must reference only real testdata tables (a typo'd table name
in an oracle would surface as a confusing DuckDB binder error at
driver time — catch it at test time instead)."""

from __future__ import annotations

import re

import pytest

from etl_spark.io import TABLES
from etl_spark.plans import REGISTRY

# Words that look like FROM/JOIN targets but aren't base tables
# (CTE names, subquery aliases, generated relations).
_NON_TABLE_OK = re.compile(r"^[a-z_0-9]+$")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_is_documented(name):
    q = REGISTRY[name]
    assert q.doc and len(q.doc) >= 40, f"{name}: missing/terse doc"
    assert q.tags, f"{name}: no tags"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_references_known_tables(name):
    q = REGISTRY[name]
    if q.oracle is None:
        return
    # CTE names defined in this oracle are legitimate relation names.
    ctes = set(re.findall(r"(?:WITH|,)\s*([a-z_0-9]+)\s+AS\s*\(", q.oracle))
    refs = set(
        m.lower()
        for m in re.findall(
            r"(?:FROM|JOIN)\s+([A-Za-z_0-9]+)", q.oracle
        )
    )
    table_functions = {"unnest", "range", "generate_series", "values"}
    unknown = {
        r
        for r in refs
        if r not in TABLES
        and r not in ctes
        and r not in table_functions
        and _NON_TABLE_OK.match(r)
    }
    # Anything unknown must at least appear as an alias/CTE defined
    # elsewhere in the SQL text (e.g. parenthesized subquery aliases).
    truly_unknown = {r for r in unknown if q.oracle.count(r) < 2}
    assert not truly_unknown, f"{name}: oracle references {truly_unknown}"


def test_no_unpaired_raw_persist():
    """Every raw ``.persist()`` in etl_spark must be unpersisted in the
    same function (the try/finally iterative-ML shape). Cross-call
    persistence goes through ``operators.caching.session_cached`` —
    a builder returns a lazy plan and can never unpersist its own
    result, so a bare persist there leaks one cached copy per call
    (found live in text_langid_ngram before this fence)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        if rel == "operators/caching.py":  # the sanctioned implementation
            continue
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = {
                n.func.attr
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            }
            if "persist" in calls and "unpersist" not in calls:
                offenders.append(f"{rel}:{fn.lineno} {fn.name}")
    assert not offenders, (
        "raw .persist() without an unpersist in the same function — "
        "use session_cached or pair it:\n" + "\n".join(offenders)
    )


def test_python_streaming_state_only_where_sanctioned():
    """Streaming state is a built-in aggregate wherever one fits; a
    per-row Python state machine (``applyInPandasWithState``) is kept
    only where the reason is stated here."""
    from pathlib import Path

    allowed = {
        # perfbench/stream.py verifies this operator's state-store
        # layout (value.groupState.{ts_us, event_id, value}).
        "streaming/latest_wins.py",
        # Streaming session_window rejects update mode, so it cannot
        # emit open-session snapshots, and its append mode cannot tell
        # a gap close from an idle-timeout close (closed_by).
        "streaming/sessions.py",
    }
    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    found = {
        str(path.relative_to(pkg))
        for path in pkg.rglob("*.py")
        if "applyInPandasWithState" in path.read_text()
    }
    assert found <= allowed, (
        "applyInPandasWithState outside the sanctioned modules — use a "
        f"built-in streaming aggregate: {sorted(found - allowed)}"
    )


def test_session_cache_evict_leaves_nothing_live(spark):
    # live_caches() is the observability hook the eviction contract is
    # stated in terms of: after evict(), no entry may still hold
    # storage memory (a leak here is exactly the bug session_cached
    # exists to prevent).
    from etl_spark.operators.caching import evict, live_caches, session_cached

    df = session_cached(
        "hygiene_probe", spark, "/hygiene", lambda: spark.range(10)
    )
    assert df.storageLevel.useMemory
    assert live_caches().get("hygiene_probe") == 1
    # Second call reuses the same persisted frame, not a new copy.
    again = session_cached(
        "hygiene_probe", spark, "/hygiene", lambda: spark.range(10)
    )
    assert again is df
    assert live_caches().get("hygiene_probe") == 1
    evict("hygiene_probe")
    assert live_caches().get("hygiene_probe", 0) == 0


def test_session_checkpoint_evict_frees_blocks_eagerly(spark):
    # ADVICE r9 (caching.py evict): dropping the Python reference only
    # queued the DISK_ONLY checkpoint blocks for the ContextCleaner,
    # which frees them after some future driver GC — evict() must
    # release them NOW. The analyzed plan of a checkpointed frame is
    # the LogicalRDD holding the persisted RDD, so its id appearing in
    # (then vanishing from) getRDDStorageInfo is the exact receipt.
    from etl_spark.operators.caching import (
        evict,
        live_caches,
        session_checkpointed,
    )

    df = session_checkpointed(
        "hygiene_ckpt", spark, "/hygiene3",
        lambda: spark.range(100).selectExpr("id", "id * 2 AS x"),
    )
    rid = df._jdf.queryExecution().analyzed().rdd().id()
    stored = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert rid in stored, "checkpoint blocks should be live after build"
    assert live_caches().get("hygiene_ckpt") == 1
    again = session_checkpointed(
        "hygiene_ckpt", spark, "/hygiene3",
        lambda: spark.range(100).selectExpr("id", "id * 2 AS x"),
    )
    assert again is df
    evict("hygiene_ckpt")
    stored = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert rid not in stored, "evict() must free checkpoint blocks eagerly"
    assert live_caches().get("hygiene_ckpt", 0) == 0


def test_session_cache_evict_unknown_name_raises(spark):
    # A typo'd cache name must fail loudly, not silently no-op — a
    # harness that believes it evicted a stale index while the real
    # cache survives is the exact hazard the module guards against.
    import pytest

    from etl_spark.operators.caching import evict, session_cached

    with pytest.raises(KeyError, match="no_such_cache"):
        evict("no_such_cache")
    # None still means "evict everything" and never raises.
    session_cached(
        "hygiene_probe2", spark, "/hygiene2", lambda: spark.range(5)
    )
    evict()
    evict()  # idempotent on empty caches


def test_plans_hold_no_module_level_memo_dicts():
    """Driver-side session state lives in ONE registry
    (``operators.caching``: ``session_memo`` for plain values and
    table directories), where eviction reaches it by construction. A
    module-level ``{}`` / ``dict()`` in a plans module is the shape
    every hand-rolled memo took — and the shape a hand-written
    eviction list eventually misses."""
    import ast
    from pathlib import Path

    # the query table itself: filled at import time, not session state
    allowed = {("registry.py", "REGISTRY")}
    plans = Path(__file__).resolve().parent.parent / "etl_spark" / "plans"
    offenders = []
    for path in sorted(plans.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            for name in map(ast.unparse, targets):
                if empty_dict and (path.name, name) not in allowed:
                    offenders.append(f"plans/{path.name}:{node.lineno} {name}")
    assert not offenders, (
        "module-level dict in a plans module — hold session state via "
        "operators.caching.session_memo:\n" + "\n".join(offenders)
    )


def test_evict_session_memos_clears_trained_state(spark):
    # Driver-side memos (trained weights, centroids, learned merges,
    # versioned tables) survive spark.catalog.clearCache(), so bench
    # harnesses evict them between reps — otherwise warm reps silently
    # exclude training. Eviction covers every name session_memo has
    # registered, so there is no list for a new memo to be missing from.
    from etl_spark.operators import caching

    released = []
    value = caching.session_memo(
        "hygiene_memo", spark, "k", lambda: [1], release=released.append
    )
    assert caching.session_memo(
        "hygiene_memo", spark, "k", lambda: [2]
    ) is value  # a hit never rebuilds
    caching.session_memo("hygiene_memo2", spark, ("k", 2), lambda: {})
    memos = set(caching._MEMOS)
    assert {"hygiene_memo", "hygiene_memo2"} <= memos
    assert caching.live_caches()["hygiene_memo"] == 1

    caching.evict_session_memos()
    live = caching.live_caches()
    assert {name: live[name] for name in memos} == dict.fromkeys(memos, 0)
    assert released == [[1]]


def test_memo_bound_drops_oldest_without_release(spark):
    # The FIFO bound must never run a release: a lazy frame handed out
    # earlier may still read a dropped versioned table's files. Only
    # evict() releases.
    from etl_spark.operators.caching import (
        MEMO_BOUND,
        evict,
        live_caches,
        session_memo,
    )

    released = []
    for k in range(MEMO_BOUND + 2):
        session_memo(
            "hygiene_fifo", spark, k, lambda k=k: k, release=released.append
        )
    assert live_caches()["hygiene_fifo"] == MEMO_BOUND
    assert released == []
    rebuilt = []
    session_memo(
        "hygiene_fifo", spark, 0, lambda: rebuilt.append(0) or 0,
        release=released.append,
    )
    assert rebuilt == [0], "the oldest key was dropped, so it rebuilds"
    evict("hygiene_fifo")
    assert sorted(released) == [0] + list(range(3, MEMO_BOUND + 2))
    assert live_caches()["hygiene_fifo"] == 0


def test_media_stages_share_one_payload_skeleton():
    """operators/media.py builds every payload stage through one
    skeleton (``_payload_stage``: select, NULL-payload filter, Arrow
    map, typed output frame) and every fixture payload through one
    helper (``_with_payload``). A second hand-written mapInPandas
    shell is how the NULL rule drifted before: three stages without
    the filter died on the first NULL payload."""
    import ast
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "etl_spark/operators/media.py"
    sites = [
        getattr(top, "name", "<module>")
        for top in ast.parse(path.read_text()).body
        for n in ast.walk(top)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
    ]
    assert sorted(sites) == ["_payload_stage", "_with_payload"], sites

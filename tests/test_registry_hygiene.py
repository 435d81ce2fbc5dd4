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


def test_first_row_per_key_lives_in_ranking_only():
    """Latest-wins (the reference's S14) is one operator,
    ``operators.ranking.first_per_key``. A ``.filter``/``.where`` that
    keeps ``row_number() == 1`` anywhere else is a hand-written copy of
    it — the copies had drifted to three temp-column names. The one
    exception is ``pipeline_embed_index``'s dedup, which keeps its
    ``rn`` and reads a ``count`` from the same key group."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    allowed = {("plans/ml.py", "pipeline_embed_index")}

    def is_row_number(node):
        return any(
            isinstance(n, ast.Attribute) and n.attr == "row_number"
            for n in ast.walk(node)
        )

    def col_name(node):
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "col"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            return node.args[0].value
        return None

    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/ranking.py":
            continue
        for top in ast.parse(path.read_text()).body:
            calls = [n for n in ast.walk(top) if isinstance(n, ast.Call)]
            rn_cols = {
                c.args[0].value
                for c in calls
                if getattr(c.func, "attr", None) == "withColumn"
                and len(c.args) == 2
                and isinstance(c.args[0], ast.Constant)
                and is_row_number(c.args[1])
            } | {
                c.args[0].value
                for c in calls
                if getattr(c.func, "attr", None) == "alias"
                and c.args
                and isinstance(c.args[0], ast.Constant)
                and is_row_number(c.func.value)
            }
            for c in calls:
                if getattr(c.func, "attr", None) not in ("filter", "where"):
                    continue
                for n in (m for a in c.args for m in ast.walk(a)):
                    if (
                        isinstance(n, ast.Compare)
                        and isinstance(n.ops[0], ast.Eq)
                        and isinstance(n.comparators[0], ast.Constant)
                        and n.comparators[0].value == 1
                        and col_name(n.left) in rn_cols
                    ):
                        sites.append((rel, getattr(top, "name", "<module>")))
    assert [s for s in sites if s not in allowed] == [], sites


def test_vector_stages_share_one_skeleton():
    """The Python stages of ``plans/ml.py`` and
    ``plans/llm_similarity.py`` run through ``operators/vectors.py``:
    its ``stage`` is the only ``mapInPandas``/``applyInPandas`` call in
    the three modules, and no stage builds its matrix with
    ``np.vstack`` (``vectors.matrix`` is the one conversion). Each
    hand-written stage had grown its own matrix build, empty-frame
    fallback and copy of the distance and top-k math."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    sites, vstacks = [], []
    for rel in ("plans/ml.py", "plans/llm_similarity.py", "operators/vectors.py"):
        if not (pkg / rel).exists():
            continue
        for top in ast.parse((pkg / rel).read_text()).body:
            for n in ast.walk(top):
                if not isinstance(n, ast.Attribute):
                    continue
                where = (rel, getattr(top, "name", "<module>"))
                if n.attr in ("mapInPandas", "applyInPandas"):
                    sites.append(where)
                elif n.attr == "vstack":
                    vstacks.append(where)
    assert set(sites) == {("operators/vectors.py", "stage")}, sites
    assert vstacks == [], vstacks


def test_memo_table_directories_removed_at_exit(tmp_path):
    """A process that builds a memo table directory and exits without
    ``evict`` (``__spark_entry__.py`` has no teardown) leaves no
    directory behind: ``_memo_table`` registers its removal at
    interpreter exit. A stub session stands in for Spark: the memo
    reads only its ``applicationId``."""
    import os
    import pathlib
    import subprocess
    import sys

    code = (
        "import types\n"
        "from etl_spark.plans.lakehouse import _memo_table\n"
        "ctx = types.SimpleNamespace(applicationId='atexit-check')\n"
        "spark = types.SimpleNamespace(sparkContext=ctx)\n"
        "fill = lambda table: (table / 'part').write_text('x')\n"
        "table = _memo_table(spark, 'sf', 'atexit', fill)\n"
        "print(table, (table / 'part').exists())\n"
    )
    repo = pathlib.Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    table = pathlib.Path(out[-2])
    assert out[-1] == "True", "the subprocess built no table"
    assert table.parent == tmp_path
    assert not table.exists(), f"{table} outlived its process"


def test_one_quantized_embedding_input():
    """``llm_similarity._quantized`` is the one embedding input of
    ``plans/``: it alone loads ``embeddings`` and calls ``quantize``;
    no builder re-derives the norm as ``dot(F.col("q"), F.col("q"))``
    or keeps a second ``def dot``; and no raw ``.persist()`` /
    ``.cache()`` is applied to a frame cut from it, since the session
    cache already holds it. Seven builders used to quantize parquet
    inline, seven re-derived the norm and two persisted the input by
    hand."""
    import ast
    from pathlib import Path

    plans = Path(__file__).resolve().parent.parent / "etl_spark" / "plans"
    home = ("llm_similarity.py", "_quantized")
    readers, norms, persists, dots = [], [], [], []
    for path in sorted(plans.glob("*.py")):
        tree = ast.parse(path.read_text())
        dots += [
            path.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == "dot"
        ]
        for top in tree.body:
            where = (path.name, getattr(top, "name", "<module>"))
            calls = [n for n in ast.walk(top) if isinstance(n, ast.Call)]
            for c in calls:
                src = ast.unparse(c)
                if src.startswith("quantize(") or (
                    src.startswith("load(") and "'embeddings'" in src
                ):
                    readers.append(where)
                if src == "dot(F.col('q'), F.col('q'))":
                    norms.append(where)
            # Names bound (transitively) to a frame cut from _quantized.
            tainted: set[str] = set()

            def cut(expr) -> bool:
                return any(
                    (isinstance(n, ast.Call) and ast.unparse(n.func) == "_quantized")
                    or (isinstance(n, ast.Name) and n.id in tainted)
                    for n in ast.walk(expr)
                )

            assigns = [n for n in ast.walk(top) if isinstance(n, ast.Assign)]
            grew = True
            while grew:
                grew = False
                for a in assigns:
                    if cut(a.value):
                        for t in a.targets:
                            if isinstance(t, ast.Name) and t.id not in tainted:
                                tainted.add(t.id)
                                grew = True
            persists += [
                where
                for c in calls
                if isinstance(c.func, ast.Attribute)
                and c.func.attr in ("persist", "cache")
                and cut(c.func.value)
            ]
    assert set(readers) <= {home}, readers
    assert norms == [], norms
    assert dots == ["llm_similarity.py"], dots
    assert persists == [], persists


def test_quantized_input_is_one_session_entry(spark):
    """``_quantized`` hands every caller the same persisted frame and
    ``evict`` releases it."""
    from etl_spark.operators.caching import evict, live_caches
    from etl_spark.plans.llm_similarity import _quantized
    from tests.conftest import SF_DIR

    first = _quantized(spark, SF_DIR)
    assert _quantized(spark, SF_DIR) is first
    assert first.columns == ["vec_id", "label", "q", "norm"]
    assert live_caches()["quantized_embeddings"] == 1
    evict("quantized_embeddings")
    assert live_caches()["quantized_embeddings"] == 0


def test_media_front_end_is_one_copy():
    """The near-dup and media front end exists once: the md5 exact-dup
    collapse (``llm_dedup.exact_reps``; ``mm_phash_clusters`` keeps its
    own aggregate because it also collects the member ids), the ASCII
    corpus slice (``multimodal.media_docs``), the phash band explode
    (``multimodal._bands``) and the ingest stream's document schema
    (``streaming/incremental_dedup.py``). The collapse had seven
    copies, the slice nineteen and the band explode two, kept alike by
    hand."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    collapses, slices, bands, schemas = [], [], [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for top in ast.parse(path.read_text()).body:
            where = (rel, getattr(top, "name", "<module>"))
            for n in ast.walk(top):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                    args = [ast.unparse(a) for a in n.args]
                    if n.func.attr == "groupBy" and any(
                        a.startswith("F.md5('text')") for a in args
                    ):
                        collapses.append(where)
                    if n.func.attr in ("where", "filter") and "_ASCII_DOCS" in args:
                        slices.append(where)
                elif (
                    isinstance(n, ast.Constant)
                    and isinstance(n.value, str)
                    and "shiftright(phash" in n.value
                ):
                    bands.append(where)
                elif isinstance(n, (ast.Assign, ast.AnnAssign)) and rel.startswith(
                    "streaming/"
                ):
                    targets = getattr(n, "targets", None) or [n.target]
                    if "DOC_SCHEMA" in [ast.unparse(t) for t in targets]:
                        schemas.append(rel)
    assert sorted(collapses) == [
        ("plans/llm_dedup.py", "exact_reps"),
        ("plans/multimodal.py", "mm_phash_clusters"),
    ], collapses
    assert slices == [("plans/multimodal.py", "media_docs")], slices
    assert bands == [("plans/multimodal.py", "_bands")], bands
    assert schemas == ["streaming/incremental_dedup.py"], schemas


def test_exact_reps_keeps_min_doc_id_per_text(spark):
    from etl_spark.plans.llm_dedup import exact_reps

    docs = spark.createDataFrame(
        [(5, "a b"), (2, "a b"), (3, "c d"), (7, "e"), (4, "f g h")],
        "doc_id bigint, text string",
    )
    reps = exact_reps(docs)
    assert reps.columns == ["doc_id", "text"]
    assert sorted(tuple(r) for r in reps.collect()) == [
        (2, "a b"), (3, "c d"), (4, "f g h"), (7, "e"),
    ]


def test_streaming_queries_share_one_run_path():
    """Every streaming query in the engine runs through
    ``streaming/sinks.drain``: the package holds one
    ``trigger(availableNow=True)`` and one ``awaitTermination()``, both
    in ``drain``. The per-module drain wrappers (four, written out per
    output mode and sink) stay deleted, and the window twins of
    ``streaming/windows.py`` call their batch queries' bodies instead
    of restating the aggregate."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "etl_spark"
    wrappers = {
        "run_available_now",
        "run_available_now_append",
        "run_triad_stream",
        "run_gate_stream",
    }
    twins = {"hourly_counts_stream", "sliding_counts_stream", "error_rate_stream"}
    triggers, awaits, defined, twin_groupbys, window_defs = [], [], [], [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for top in ast.parse(path.read_text()).body:
            where = (rel, getattr(top, "name", "<module>"))
            for n in ast.walk(top):
                if isinstance(n, ast.FunctionDef):
                    if n.name in wrappers:
                        defined.append((rel, n.name))
                    if rel == "streaming/windows.py":
                        window_defs.add(n.name)
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                if n.func.attr == "trigger" and any(
                    k.arg == "availableNow" for k in n.keywords
                ):
                    triggers.append(where)
                elif n.func.attr == "awaitTermination":
                    awaits.append(where)
                elif (
                    n.func.attr == "groupBy"
                    and rel == "streaming/windows.py"
                    and where[1] in twins
                ):
                    twin_groupbys.append(where)
    assert triggers == [("streaming/sinks.py", "drain")], triggers
    assert awaits == [("streaming/sinks.py", "drain")], awaits
    assert defined == [], defined
    assert twin_groupbys == [], twin_groupbys
    assert twins <= window_defs, twins - window_defs

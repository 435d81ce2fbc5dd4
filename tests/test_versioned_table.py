"""Versioned snapshot table: every commit must equal the full recompute
at that extraction horizon (time travel), data files must be immutable
(copy-on-write), untouched buckets must be SHARED between versions (the
O(touched) commit), and vacuum must keep exactly what retained
manifests reference."""

from __future__ import annotations

import pathlib

from etl_spark.etl.merge import N_MERGE_BUCKETS
from etl_spark.etl.pipeline import snapshot_records
from etl_spark.etl.versioned import (
    init_versioned_table,
    latest_version,
    merge_versioned_table,
    read_versioned_table,
    vacuum_versioned_table,
    _read_manifest,
)
from etl_spark.etl.merge import load_extraction
from tests.test_etl_pipeline import make_run, write_run


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _snapshot_of(spark, tmp_path, *extractions):
    """Full recompute over a fresh zone holding only ``extractions`` —
    the ground truth for what each version must contain."""
    zone = tmp_path / ("truth_" + "_".join(ts for ts, _ in extractions))
    for ts, runs in extractions:
        for run in runs:
            write_run(zone, run["_repo"], ts, run["_run"])
    return snapshot_records(spark, zone)


def _mk(i, repo, status="completed"):
    return {"_repo": repo, "_run": make_run(i, repo, status=status)}


def test_every_version_equals_its_horizon_recompute(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2, t3 = "20250101-000000Z", "20250102-000000Z", "20250103-000000Z"

    e1 = [_mk(1, "repo_1", "running"), _mk(2, "repo_2", "queued")]
    e2 = [_mk(1, "repo_1", "completed"), _mk(3, "repo_1", "running")]
    e3 = [_mk(2, "repo_2", "completed")]
    for ts, runs in [(t1, e1), (t2, e2), (t3, e3)]:
        for r in runs:
            write_run(zone, r["_repo"], ts, r["_run"])

    assert init_versioned_table(load_extraction(spark, zone, t1), table) == 0
    assert merge_versioned_table(spark, table, load_extraction(spark, zone, t2)) == 1
    assert merge_versioned_table(spark, table, load_extraction(spark, zone, t3)) == 2

    assert latest_version(table) == 2
    horizons = [
        (0, [(t1, e1)]),
        (1, [(t1, e1), (t2, e2)]),
        (2, [(t1, e1), (t2, e2), (t3, e3)]),
    ]
    for v, exts in horizons:
        got = read_versioned_table(spark, table, version=v)
        want = _snapshot_of(spark, tmp_path, *exts)
        assert _sorted_rows(got) == _sorted_rows(want), f"version {v}"
    # default read = latest
    assert _sorted_rows(read_versioned_table(spark, table)) == _sorted_rows(
        read_versioned_table(spark, table, version=2)
    )


def test_commits_are_copy_on_write_and_share_untouched_buckets(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(40):  # spread keys over several buckets
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)

    v0_files = {
        str(p): p.stat().st_mtime_ns
        for p in pathlib.Path(table, "data", "v0").rglob("*.parquet")
    }
    m0 = _read_manifest(pathlib.Path(table), 0)
    assert len(set(m0.values())) > 2  # layout actually spread out

    write_run(zone, "r", t2, make_run(7, "r", status="completed"))
    merge_versioned_table(spark, table, load_extraction(spark, zone, t2))

    # v0's data files are bit-untouched after the commit
    after = {
        str(p): p.stat().st_mtime_ns
        for p in pathlib.Path(table, "data", "v0").rglob("*.parquet")
    }
    assert after == v0_files
    # exactly the touched bucket's pointer moved; the rest are shared
    m1 = _read_manifest(pathlib.Path(table), 1)
    moved = {b for b in m0 if m1[b] != m0[b]}
    assert len(moved) == 1
    assert all(m1[b] == m0[b] for b in m0 if b not in moved)
    # and v0 still reads correctly (history intact)
    v0 = read_versioned_table(spark, table, version=0)
    assert {r["status"] for r in v0.collect()} == {"running"}


def test_vacuum_keeps_exactly_what_retained_manifests_reference(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2, t3 = "20250101-000000Z", "20250102-000000Z", "20250103-000000Z"
    for i in range(40):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)
    write_run(zone, "r", t2, make_run(7, "r", status="completed"))
    merge_versioned_table(spark, table, load_extraction(spark, zone, t2))
    write_run(zone, "r", t3, make_run(8, "r", status="completed"))
    merge_versioned_table(spark, table, load_extraction(spark, zone, t3))

    before = _sorted_rows(read_versioned_table(spark, table))
    removed = vacuum_versioned_table(table, keep_versions=1)
    assert removed  # v0/v1-only bucket dirs and old manifests went away
    # latest still reads identically: carried-over v0 dirs referenced
    # by the latest manifest survived the vacuum
    assert _sorted_rows(read_versioned_table(spark, table)) == before
    live = set(_read_manifest(pathlib.Path(table), latest_version(table)).values())
    assert any(rel.startswith("data/v0") for rel in live)  # sharing is real
    on_disk = {
        str(d.relative_to(table))
        for d in pathlib.Path(table, "data").glob("v*/kb=*")
    }
    assert on_disk == live
    # sanity: bucket count still config-bounded
    assert len(live) <= N_MERGE_BUCKETS


def test_add_column_schema_evolution_across_commits(spark, tmp_path):
    """Additive schema evolution: a later commit's batch carries a NEW
    column. Rows last written before the column existed read as NULL
    under the evolved schema; the pre-evolution version still reads
    with its own (old) schema; latest-wins still works across the
    schema boundary."""
    from pyspark.sql import functions as F

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(10):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)

    # Extraction 2 re-extracts run 3 and arrives with a new column.
    write_run(zone, "r", t2, make_run(3, "r", status="completed"))
    evolved_batch = load_extraction(spark, zone, t2).withColumn(
        "ingest_source", F.lit("api-v2")
    )
    merge_versioned_table(spark, table, evolved_batch)

    latest = read_versioned_table(spark, table)
    assert "ingest_source" in latest.columns
    by_id = {r["id"]: r for r in latest.collect()}
    assert by_id[3]["status"] == "completed"
    assert by_id[3]["ingest_source"] == "api-v2"
    # pre-evolution rows read as NULL in the new column
    assert by_id[1]["ingest_source"] is None
    assert len(by_id) == 10
    # the pre-evolution version keeps its own schema
    v0 = read_versioned_table(spark, table, version=0)
    assert "ingest_source" not in v0.columns


def test_time_travel_checksums_survive_vacuum(spark):
    """The snapshot-export bridge composed with retention: the
    registered query's per-version checksum triples, then vacuum to
    keep_versions=1 — the latest version must re-read with an
    IDENTICAL checksum triple (retention may not disturb served
    bytes), while the below-horizon manifests are really gone."""
    import pytest

    from etl_spark.plans.lakehouse import (
        _built_vtable,
        lakehouse_time_travel_checksums,
    )
    from tests.conftest import SF_DIR

    before = {
        r["version"]: (r["n_rows"], r["xor_checksum"], r["modsum_checksum"])
        for r in lakehouse_time_travel_checksums(spark, SF_DIR).collect()
    }
    assert sorted(before) == [0, 1, 2]
    assert len(set(before.values())) == 3  # each commit changed content

    table = _built_vtable(spark, SF_DIR)
    removed = vacuum_versioned_table(table, keep_versions=1)
    assert removed  # something below the horizon actually went away

    after = read_versioned_table(spark, table)  # latest = v2
    from pyspark.sql import functions as F

    from etl_spark.plans.quality import _CK_MOD

    row_str = F.concat_ws(
        "|", "repo_dir", "file_id", "extract_ts",
        F.col("event_id").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    got = (
        after.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            F.sum(F.col("h") % _CK_MOD).alias("m"),
        )
        .collect()[0]
    )
    assert (got["n"], got["x"], got["m"]) == before[2]
    # time travel below the retention horizon is really gone
    with pytest.raises(Exception):
        read_versioned_table(spark, table, version=0).collect()
    # rebuild for any later consumer in this session: the cached table
    # is now vacuumed; evict the memo so the next build starts fresh
    from etl_spark.operators.caching import evict

    evict("lakehouse_vtable")
    assert not table.exists(), "evict must remove the table directory"


def test_equality_delete_merge_on_read(spark, tmp_path):
    """Merge-on-read DELETE: the delete commit rewrites NO data file
    (pointers verbatim + one delete file), readers serve the filtered
    view, time travel below the delete still serves the full view,
    and a LATER merge re-inserting a deleted key RESURRECTS it (the
    extract_ts sequence bound)."""
    from etl_spark.etl.versioned import (
        _read_dv,
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(30):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)

    v1 = delete_from_versioned_table(
        spark, table, "conclusion IS NULL"  # running rows: all of v0
    )
    assert v1 == 1
    # pointers verbatim: the delete commit rewrote no data file
    assert _read_manifest(pathlib.Path(table), 1) == _read_manifest(
        pathlib.Path(table), 0
    )
    assert len(_read_dv(pathlib.Path(table), 1)) == 1
    assert read_versioned_table(spark, table).count() == 0  # all deleted
    # time travel below the delete: full view intact
    assert read_versioned_table(spark, table, version=0).count() == 30

    # resurrection: a later extraction re-delivers 10 of the files
    # with a NEWER extract_ts — they must come back; the other 20 stay
    # deleted even though the dv is carried verbatim
    write2 = [make_run(i, "r", status="completed") for i in range(10)]
    for run in write2:
        write_run(zone, "r", t2, run)
    v2 = merge_versioned_table(spark, table, load_extraction(spark, zone, t2))
    assert v2 == 2
    served = read_versioned_table(spark, table)
    assert served.count() == 10
    assert {r["status"] for r in served.collect()} == {"completed"}

    # idempotent no-match delete: no new commit
    assert (
        delete_from_versioned_table(spark, table, "status = 'nope'") == 2
    )

    # compaction folds merge-on-read away content-identically
    before = _sorted_rows(read_versioned_table(spark, table))
    v3 = compact_versioned_deletes(spark, table)
    assert v3 == 3
    assert _read_dv(pathlib.Path(table), 3) == []
    assert _sorted_rows(read_versioned_table(spark, table)) == before
    # compacting a dv-free table is a no-op commit-wise
    assert compact_versioned_deletes(spark, table) == 3


def test_equality_delete_empty_bucket_compaction(spark, tmp_path):
    """A bucket whose EVERY row is deleted must leave the manifest at
    compaction — a stale pointer plus a dropped dv would resurrect
    its rows."""
    from etl_spark.etl.versioned import (
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1 = "20250101-000000Z"
    for i in range(40):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)
    n_buckets_before = len(_read_manifest(pathlib.Path(table), 0))

    delete_from_versioned_table(spark, table, "TRUE")  # delete ALL
    assert read_versioned_table(spark, table).count() == 0
    v = compact_versioned_deletes(spark, table)
    manifest = _read_manifest(pathlib.Path(table), v)
    assert manifest == {}  # every bucket emptied and dropped
    assert n_buckets_before > 0
    assert read_versioned_table(spark, table).count() == 0


def test_vacuum_reclaims_unreferenced_delete_files(spark, tmp_path):
    """After compaction ages the pre-compaction manifests out, vacuum
    must reclaim the delete files too (they are commit artifacts like
    data dirs), while a RETAINED manifest keeps its delete files."""
    from etl_spark.etl.versioned import (
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = pathlib.Path(tmp_path / "vtable")
    t1 = "20250101-000000Z"
    for i in range(20):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)
    delete_from_versioned_table(spark, table, "id % 2 = 0")
    served_before = _sorted_rows(read_versioned_table(spark, table))

    # retained window still includes the delete commit -> dv survives
    removed = vacuum_versioned_table(table, keep_versions=2)
    assert not any(r.startswith("deletes/") for r in removed)
    assert _sorted_rows(read_versioned_table(spark, table)) == served_before

    compact_versioned_deletes(spark, table)
    removed = vacuum_versioned_table(table, keep_versions=1)
    assert any(r.startswith("deletes/") for r in removed)
    assert not (table / "deletes" / "v1").exists()
    assert _sorted_rows(read_versioned_table(spark, table)) == served_before


def test_equality_delete_bound_is_extract_ts_not_commit_order(spark, tmp_path):
    """ADVICE r9 (versioned.py docstring): the delete bound is the
    DATA column extract_ts, not a commit sequence number — a row
    committed AFTER the delete whose extract_ts is <= the bound stays
    invisible (and is physically dropped at compaction). This fences
    the DOCUMENTED behavior so the docstring's claim is executable:
    a late-arriving OLDER extraction loses to the delete exactly as
    it would lose to a newer row."""
    from etl_spark.etl.versioned import (
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    # the table is initialized from the NEWER extraction t2
    for i in range(10):
        write_run(zone, "r", t2, make_run(i, "r", status="completed"))
    init_versioned_table(load_extraction(spark, zone, t2), table)
    delete_from_versioned_table(spark, table, "id < 5")
    assert read_versioned_table(spark, table).count() == 5

    # a LATER COMMIT delivers the late-arriving OLDER extraction t1
    # re-inserting the deleted keys — extract_ts t1 < delete bound t2
    for i in range(5):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    v = merge_versioned_table(spark, table, load_extraction(spark, zone, t1))
    served = read_versioned_table(spark, table, version=v)
    # commit order would resurrect them; the extract_ts bound does not
    assert served.count() == 5
    assert {r["status"] for r in served.collect()} == {"completed"}
    # and compaction drops them physically, content-identically
    before = _sorted_rows(read_versioned_table(spark, table))
    compact_versioned_deletes(spark, table)
    assert _sorted_rows(read_versioned_table(spark, table)) == before


def test_commit_bound_delete_resurrects_any_later_commit(spark, tmp_path):
    """The ``bound="commit"`` flavor is Iceberg's ACTUAL sequence
    rule: the delete applies to rows written by commits strictly
    before it, so a LATER commit re-inserting a deleted key
    resurrects it even when its extract_ts is OLDER than the deleted
    row's — the exact case the default extract_ts bound keeps deleted
    (test_equality_delete_bound_is_extract_ts_not_commit_order)."""
    from etl_spark.etl.versioned import (
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(10):
        write_run(zone, "r", t2, make_run(i, "r", status="completed"))
    init_versioned_table(load_extraction(spark, zone, t2), table)
    v1 = delete_from_versioned_table(spark, table, "id < 5", bound="commit")
    assert v1 == 1
    served = read_versioned_table(spark, table)
    assert served.count() == 5
    # untouched keys unaffected; deleted set is exactly id < 5
    assert {r["id"] for r in served.collect()} == set(range(5, 10))
    # time travel below the delete: full view intact
    assert read_versioned_table(spark, table, version=0).count() == 10

    # a LATER commit re-delivers the deleted keys with an OLDER
    # extract_ts — commit order resurrects them (extract_ts would not)
    for i in range(5):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    v2 = merge_versioned_table(spark, table, load_extraction(spark, zone, t1))
    served = read_versioned_table(spark, table, version=v2)
    assert served.count() == 10
    assert {
        r["status"] for r in served.filter("id < 5").collect()
    } == {"running"}

    # compaction folds the commit-bound delete away content-identically
    before = _sorted_rows(read_versioned_table(spark, table))
    compact_versioned_deletes(spark, table)
    assert _sorted_rows(read_versioned_table(spark, table)) == before


def test_commit_bound_delete_rejects_bad_bound(spark, tmp_path):
    import pytest

    from etl_spark.etl.versioned import delete_from_versioned_table

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    write_run(zone, "r", "20250101-000000Z", make_run(0, "r"))
    init_versioned_table(
        load_extraction(spark, zone, "20250101-000000Z"), table
    )
    with pytest.raises(ValueError, match="bound"):
        delete_from_versioned_table(spark, table, "TRUE", bound="nope")


def test_mixed_bound_deletes_compose(spark, tmp_path):
    """A table can carry BOTH flavors: each delete file keeps the
    semantics it was written under, and a row must survive every
    delete that names its key."""
    from etl_spark.etl.versioned import delete_from_versioned_table

    zone = tmp_path / "zone"
    table = tmp_path / "vtable"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(12):
        write_run(zone, "r", t2, make_run(i, "r", status="completed"))
    init_versioned_table(load_extraction(spark, zone, t2), table)
    delete_from_versioned_table(spark, table, "id < 4", bound="commit")
    delete_from_versioned_table(spark, table, "id >= 8")  # extract_ts
    assert {
        r["id"] for r in read_versioned_table(spark, table).collect()
    } == set(range(4, 8))

    # a later merge with OLDER extract_ts rows across all three zones:
    # commit-deleted keys resurrect, ts-deleted keys stay deleted,
    # live keys keep their newer row (latest-wins)
    for i in range(12):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    merge_versioned_table(spark, table, load_extraction(spark, zone, t1))
    by_id = {
        r["id"]: r["status"]
        for r in read_versioned_table(spark, table).collect()
    }
    assert {i for i in by_id if i < 4} == set(range(4))  # resurrected
    assert all(by_id[i] == "running" for i in range(4))
    assert all(by_id[i] == "completed" for i in range(4, 8))  # kept newer
    assert not any(i >= 8 for i in by_id)  # ts-bound still deletes


def test_legacy_manifest_empty_read_raises_clear_error(spark, tmp_path):
    """ADVICE r9 (versioned.py empty read): a manifest chain begun
    before schema-in-manifest existed can reach empty with no recorded
    schema — the read must fail with an explanatory ValueError, not a
    bare KeyError from doc["schema"]."""
    import json as _json

    import pytest

    from etl_spark.etl.versioned import (
        _manifest_path,
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = pathlib.Path(tmp_path / "vtable")
    t1 = "20250101-000000Z"
    for i in range(10):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_versioned_table(load_extraction(spark, zone, t1), table)
    delete_from_versioned_table(spark, table, "TRUE")
    v = compact_versioned_deletes(spark, table)

    # simulate the legacy chain: strip the recorded schema
    mpath = _manifest_path(table, v)
    doc = _json.loads(mpath.read_text())
    doc.pop("schema", None)
    mpath.write_text(_json.dumps(doc))

    with pytest.raises(ValueError, match="records no schema"):
        read_versioned_table(spark, table)


def test_all_new_bucket_merge_keeps_drifted_schema(spark, tmp_path):
    """ADVICE r9 (versioned.py merge): a merge whose batch touches
    ONLY fresh buckets never reads the stored rows, so recording the
    merged frame's schema alone would NARROW the manifest schema
    relative to untouched drifted buckets — the recorded schema must
    be the union with the previous manifest's."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_spark.etl.versioned import (
        _read_manifest_doc,
        compact_versioned_deletes,
        delete_from_versioned_table,
    )

    zone = tmp_path / "zone"
    table = pathlib.Path(tmp_path / "vtable")
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    # v0: ONE key, carrying the drifted column
    write_run(zone, "r", t1, make_run(0, "r", status="running"))
    init_versioned_table(
        load_extraction(spark, zone, t1).withColumn(
            "ingest_source", F.lit("api-v2")
        ),
        table,
    )
    m0 = _read_manifest(table, 0)

    # find a key whose bucket is NOT in the v0 manifest, so the merge
    # takes the all-new-bucket path (else-branch: merged = batch)
    for i in range(1, 40):
        write_run(zone, "r", t2, make_run(i, "r", status="completed"))
        batch = load_extraction(spark, zone, t2).filter(F.col("id") == i)
        from etl_spark.etl.merge import _bucketed

        kb = str(_bucketed(batch).select("kb").collect()[0][0])
        if kb not in m0:
            break
    else:
        raise AssertionError("no key outside v0's buckets in 40 tries")

    v = merge_versioned_table(spark, table, batch)  # batch lacks the column
    doc = _read_manifest_doc(table, v)
    names = [f["name"] for f in _json.loads(doc["schema"])["fields"]]
    assert "ingest_source" in names, "all-new-bucket merge narrowed schema"
    # functional receipt: empty-after-deletes read serves the union schema
    delete_from_versioned_table(spark, table, "TRUE")
    compact_versioned_deletes(spark, table)
    empty = read_versioned_table(spark, table)
    assert empty.count() == 0
    assert "ingest_source" in empty.columns


def test_registered_dv_lifecycle_is_nonvacuous(spark):
    """The registered merge-on-read query must exercise BOTH halves
    of the resurrection rule on the real corpus: at v3 some deleted
    'error' keys are back (their batch-2 row outran the delete bound)
    and some remain deleted — otherwise the oracle's sequence-bound
    branch would be dead code."""
    from pyspark.sql import functions as F

    from etl_spark.etl.versioned import read_versioned_table
    from etl_spark.plans.lakehouse import (
        _built_dv_table,
        lakehouse_equality_delete_checksums,
    )
    from tests.conftest import SF_DIR

    rows = {
        r["version"]: r["n_rows"]
        for r in lakehouse_equality_delete_checksums(spark, SF_DIR).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[2] < rows[1]  # the delete really removed rows
    assert rows[4] == rows[3]  # compaction is content-identical

    table = _built_dv_table(spark, SF_DIR)

    def error_keys(v):
        return {
            r["file_id"]
            for r in read_versioned_table(spark, table, version=v)
            .filter(F.col("repo_dir") == "error")
            .select("file_id")
            .collect()
        }

    deleted_at_v1 = error_keys(1)
    assert error_keys(2) == set()  # all served error rows deleted
    back = error_keys(3)
    assert back  # some resurrected by the newer batch-2 rows
    assert deleted_at_v1 - back  # ...and some stayed deleted


def test_commit_seq_lifecycle_differs_from_ts_flavor_nonvacuously(spark):
    """The registered commit-bound lifecycle must actually DIVERGE
    from the extract_ts flavor on the real corpus: at v3 some batch-2
    re-delivered keys carry an extract_ts at-or-below their delete
    bound — resurrected under commit order, still deleted under the
    ts bound. If no key differs, the membership-only branch of the
    new oracle is dead code."""
    from pyspark.sql import functions as F

    from etl_spark.plans.lakehouse import (
        _built_dv_table,
        _built_seq_table,
        lakehouse_commit_seq_delete_checksums,
    )
    from tests.conftest import SF_DIR

    rows = {
        r["version"]: r["n_rows"]
        for r in lakehouse_commit_seq_delete_checksums(
            spark, SF_DIR
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[2] < rows[1]  # the delete really removed rows
    assert rows[4] == rows[3]  # compaction is content-identical

    def error_keys(table, v):
        return {
            r["file_id"]
            for r in read_versioned_table(spark, table, version=v)
            .filter(F.col("repo_dir") == "error")
            .select("file_id")
            .collect()
        }

    seq_table = _built_seq_table(spark, SF_DIR)
    ts_table = _built_dv_table(spark, SF_DIR)
    # both lifecycles deleted the same keys at v2
    assert error_keys(seq_table, 2) == set() == error_keys(ts_table, 2)
    back_seq = error_keys(seq_table, 3)
    back_ts = error_keys(ts_table, 3)
    # commit order resurrects a strict SUPERSET: every ts-resurrected
    # key is batch-2-delivered (hence commit-resurrected), plus the
    # keys whose batch-2 row is older than the delete bound
    assert back_ts < back_seq, (
        "commit-bound resurrection must strictly exceed ts-bound "
        f"(ts={len(back_ts)}, seq={len(back_seq)})"
    )
    # eviction releases the tables: every memo is reached, so both
    # lifecycle directories are removed
    from etl_spark.operators.caching import evict_session_memos

    evict_session_memos()
    assert not seq_table.exists()
    assert not ts_table.exists()

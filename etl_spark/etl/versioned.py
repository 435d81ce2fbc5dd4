"""Versioned snapshot table: copy-on-write MERGE with manifest-based
time travel — the plain-parquet re-implementation of the commit model
Delta/Iceberg use, layered over ``etl/merge.py``'s bucketed
latest-wins MERGE.

``merge.py`` overwrites touched bucket partitions IN PLACE: the cheap
maintenance shape, but history is gone the moment a merge lands. The
lakehouse answer is immutable data files plus a manifest per commit:

* data files are written once under ``data/v<k>/`` and never edited;
* manifest ``_manifest/v<k>.json`` lists, per bucket, the directory
  whose files make up the table at version k;
* a merge writes NEW files for the TOUCHED buckets only and commits
  manifest k+1 = untouched pointers carried over verbatim + new
  pointers — an O(touched) commit, like merge.py's overwrite;
* time travel = read exactly the directories a manifest lists;
* vacuum deletes bucket directories no retained manifest references;
* DELETE is merge-on-read via EQUALITY-DELETE files (the Iceberg v2
  shape): a delete commit writes only the matched KEYS (plus the
  served row's extract_ts as its sequence bound) under
  ``deletes/v<k>/`` and re-points nothing — an O(deleted keys)
  commit against any table size. Readers anti-join the manifest's
  delete files, keeping a row iff its key is undeleted OR its
  extract_ts is NEWER than the delete's bound — so a later merge
  re-inserting the key with a newer extract_ts RESURRECTS it, the
  same resurrection behavior Iceberg's sequence-number rule gives.
  The bound is the DATA column extract_ts, though, not a per-commit
  sequence number, and that is a real semantic difference: a row
  committed AFTER the delete whose extract_ts is <= the delete's
  bound stays invisible (and is physically dropped at compaction),
  whereas Iceberg never applies an equality delete to data files
  from later commits. For this table that is by design — extract_ts
  IS the latest-wins ordering the whole pipeline serves (S14), so a
  late-arriving OLDER extraction must lose to the delete exactly as
  it would lose to a newer row — but callers feeding out-of-order
  extractions should know re-inserts at-or-below the bound do not
  come back (fenced in test_versioned_table.py). For true
  commit-order semantics, ``delete_from_versioned_table(...,
  bound="commit")`` stamps the delete with the COMMIT's sequence
  number instead: the row's own commit is recovered from its
  immutable data path (data/v<k>/), and Iceberg's strictly-before
  rule applies — any later commit's re-insert resurrects the key,
  extract_ts order notwithstanding (also fenced).
  ``compact_versioned_deletes`` rewrites only the buckets that
  contain deleted keys and drops the delete files from the manifest:
  merge-on-read folded back to copy-on-write, content-identical.

Single-writer assumption (documented, as in the reference's whole
design): commits are serialized by the caller; the manifest write is
the commit point. Reference parity: the maintained view is S14's
latest-wins snapshot (main.py:149-157) — every version of this table
is WHAT run_pipeline WOULD have produced at that extraction horizon,
which is exactly what the time-travel tests assert.
"""

from __future__ import annotations

import json
import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.etl.merge import (
    _BUCKET_COL,
    _bucketed,
    latest_wins_merge,
    touched_buckets,
)
from etl_spark.etl.pipeline import snapshot_latest

_DATA = "data"
_MANIFEST = "_manifest"
_DELETES = "deletes"


def _manifest_path(table: pathlib.Path, version: int) -> pathlib.Path:
    return table / _MANIFEST / f"v{version}.json"


def latest_version(table: pathlib.Path) -> int:
    versions = sorted(
        int(p.stem[1:]) for p in (table / _MANIFEST).glob("v*.json")
    )
    if not versions:
        raise FileNotFoundError(f"no manifests under {table}")
    return versions[-1]


def _read_manifest_doc(table: pathlib.Path, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _read_manifest(table: pathlib.Path, version: int) -> dict[str, str]:
    return _read_manifest_doc(table, version)["buckets"]


def _read_dv(table: pathlib.Path, version: int) -> list[str]:
    """Relative dirs of the equality-delete files this commit's
    readers must apply (empty for pre-delete manifests)."""
    return _read_manifest_doc(table, version).get("dv", [])


def _write_data_version(
    records_bucketed: DataFrame, table: pathlib.Path, version: int
) -> dict[str, str]:
    """Write one immutable data directory for this commit, partitioned
    by bucket, and return {bucket: relative dir} pointers for the
    buckets it contains."""
    vdir = table / _DATA / f"v{version}"
    # Only the manifest rename publishes a commit, so a v<version> dir
    # with no _manifest/v<version>.json is an orphan from a crash
    # between the data write and the commit — clear it, or every
    # retry of this merge would recompute the same version and abort
    # on mode('error') forever. (No later manifest can reference it:
    # manifests only point at versions <= their own.)
    if vdir.exists() and not _manifest_path(table, version).exists():
        shutil.rmtree(vdir)
    records_bucketed.write.partitionBy(_BUCKET_COL).mode("error").parquet(
        str(vdir)
    )
    return {
        d.name.split("=", 1)[1]: str(d.relative_to(table))
        for d in vdir.glob(f"{_BUCKET_COL}=*")
    }


def _commit(
    table: pathlib.Path,
    version: int,
    buckets: dict[str, str],
    dv: list[str] | tuple[str, ...] = (),
    schema_json: str | None = None,
) -> None:
    path = _manifest_path(table, version)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".json.tmp")
    doc: dict = {"version": version, "buckets": buckets}
    if dv:
        doc["dv"] = list(dv)
    # table schema rides the manifest (the Iceberg metadata shape) so
    # an EMPTY table — every bucket deleted then compacted away — is
    # still readable with its correct schema
    if schema_json is None and version > 0:
        prev = _read_manifest_doc(table, version - 1)
        schema_json = prev.get("schema")
    if schema_json is not None:
        doc["schema"] = schema_json
    tmp.write_text(json.dumps(doc))
    tmp.rename(path)  # the commit point (atomic on POSIX)


def _union_schema_json(prev_json: str | None, new_json: str) -> str:
    """Union two manifest schema documents by field name: previous
    fields keep their position (the merged frame's type wins where
    both have the field — evolution here is additive, types never
    narrow), new fields append in their own order. Guards the
    all-new-bucket merge: ``merge_versioned_table`` records the
    MERGED frame's schema, and a batch that touches only fresh
    buckets never reads the stored rows, so recording its schema
    alone would silently drop columns that exist in untouched drifted
    buckets — an empty-after-deletes read would then serve the
    narrowed schema."""
    if prev_json is None:
        return new_json
    prev = json.loads(prev_json)
    new = json.loads(new_json)
    new_by_name = {f["name"]: f for f in new["fields"]}
    fields = [new_by_name.pop(f["name"], f) for f in prev["fields"]]
    fields.extend(f for f in new["fields"] if f["name"] in new_by_name)
    return json.dumps({**new, "fields": fields})


def _seq_from_path():
    """A row's commit sequence number, parsed from its data file path
    (rows live under data/v<k>/kb=<b>/part-*.parquet; the directory's
    k IS the commit that wrote the row — no per-row column needed).
    Built lazily: input_file_name() needs an active session."""
    return F.regexp_extract(
        F.input_file_name(), r"data/v(\d+)/", 1
    ).cast("int")


def _apply_dv(
    spark: SparkSession,
    table: pathlib.Path,
    rows: DataFrame,
    dv_rels: list[str],
) -> DataFrame:
    """Merge-on-read: apply every equality-delete file the manifest
    carries. Two bound flavors, chosen per delete commit at
    ``delete_from_versioned_table`` time and distinguished by the
    delete file's schema:

    * ``del_ts`` (default): drop a key's rows at-or-below the served
      row's extract_ts — the latest-wins flavor; a later merge
      resurrects the key only with a NEWER extract_ts.
    * ``del_seq`` (``bound="commit"``): drop a key's rows written by
      commits STRICTLY BEFORE the delete commit — Iceberg's actual
      sequence-number rule; ANY later commit re-inserting the key
      resurrects it, even with an older extract_ts. The row's commit
      number is parsed from its immutable data path (data/v<k>/...),
      so no extra column is stored.

    A row must survive every delete that names its key (the two
    bounds AND together). Plain join, never forced broadcast: the
    delete set is data-derived and may be large."""
    if not dv_rels:
        return rows
    dv_raw = spark.read.option("mergeSchema", "true").parquet(
        *[str(table / rel) for rel in dv_rels]
    )
    has_seq = "del_seq" in dv_raw.columns
    aggs = [
        (
            F.max("del_ts") if "del_ts" in dv_raw.columns
            else F.lit(None).cast("string")
        ).alias("_dv_del_ts")
    ]
    if has_seq:
        aggs.append(F.max("del_seq").alias("_dv_del_seq"))
    dv = dv_raw.groupBy(
        F.col("repo_dir").alias("_dv_repo_dir"),
        F.col("file_id").alias("_dv_file_id"),
    ).agg(*aggs)
    if has_seq:
        # computed at the scan (file provenance), before the join
        rows = rows.withColumn("_row_seq", _seq_from_path())
    keep = F.col("_dv_del_ts").isNull() | (
        F.col("extract_ts") > F.col("_dv_del_ts")
    )
    if has_seq:
        keep = keep & (
            F.col("_dv_del_seq").isNull()
            | (F.col("_row_seq") >= F.col("_dv_del_seq"))
        )
    out = (
        rows.join(
            dv,
            (rows["repo_dir"] == dv["_dv_repo_dir"])
            & (rows["file_id"] == dv["_dv_file_id"]),
            "left",
        )
        .filter(keep)
        .drop("_dv_repo_dir", "_dv_file_id", "_dv_del_ts")
    )
    if has_seq:
        out = out.drop("_dv_del_seq", "_row_seq")
    return out


def init_versioned_table(records: DataFrame, table_path: pathlib.Path) -> int:
    """Materialize the latest-wins snapshot as version 0."""
    table = pathlib.Path(table_path)
    snap = _bucketed(snapshot_latest(records))
    buckets = _write_data_version(snap, table, 0)
    _commit(
        table, 0, buckets,
        schema_json=snap.drop(_BUCKET_COL).schema.json(),
    )
    return 0


def read_versioned_table(
    spark: SparkSession, table_path: pathlib.Path, version: int | None = None
) -> DataFrame:
    """The table AS OF ``version`` (default: latest) — reads exactly
    the files that commit's manifest lists, nothing else."""
    table = pathlib.Path(table_path)
    v = latest_version(table) if version is None else version
    doc = _read_manifest_doc(table, v)
    dirs = [str(table / rel) for rel in doc["buckets"].values()]
    if not dirs:
        # legitimately empty (every bucket deleted then compacted):
        # serve an empty frame with the manifest-recorded schema
        from pyspark.sql.types import StructType

        schema_json = doc.get("schema")
        if schema_json is None:
            # a commit chain begun before schema-in-manifest existed
            # can reach empty with no recorded schema — fail with the
            # actual cause, not a bare KeyError
            raise ValueError(
                f"versioned table {table} v{v} is empty and its "
                "manifest records no schema (legacy manifest chain "
                "from before schema-in-manifest); re-init the table "
                "or merge a batch to record one"
            )
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )
    # mergeSchema: a manifest may reference dirs written before an
    # ADD-COLUMN evolution — their rows read with the column NULL.
    rows = spark.read.option("mergeSchema", "true").parquet(*dirs)
    # merge-on-read: this commit's equality-delete files, if any
    return _apply_dv(spark, table, rows, doc.get("dv", []))


def merge_versioned_table(
    spark: SparkSession, table_path: pathlib.Path, batch_records: DataFrame
) -> int:
    """Copy-on-write MERGE: one new commit whose manifest carries
    untouched bucket pointers over verbatim and points touched buckets
    at freshly written files. Reads only touched buckets, writes only
    touched buckets, edits nothing in place."""
    table = pathlib.Path(table_path)
    current_v = latest_version(table)
    current = _read_manifest(table, current_v)
    dv = _read_dv(table, current_v)

    batch, buckets = touched_buckets(batch_records)
    touched = [str(b) for b in buckets]
    if not touched:
        return current_v
    new_v = current_v + 1

    existing_dirs = [
        str(table / current[b]) for b in touched if b in current
    ]
    if existing_dirs:
        cur_rows = spark.read.option("mergeSchema", "true").parquet(
            *existing_dirs
        )
        # merge-on-read discipline: the merge reads the SERVED state,
        # so pending equality deletes are applied before the fold —
        # rewritten buckets come out physically delete-free (their dv
        # entries go vacuous; the pointers below still carry dv for
        # the untouched buckets, and the extract_ts bound keeps the
        # re-inserted-newer-row resurrection rule intact).
        cur_rows = _apply_dv(spark, table, cur_rows, dv)
        # partition-dir reads drop the bucket column; batch carries it,
        # so align columns and re-derive kb after the merge.
        # allow_schema_drift: a batch may carry columns the stored
        # version predates (and vice versa at read-repair time) —
        # additive evolution is part of this table's contract.
        merged = latest_wins_merge(
            _bucketed(cur_rows),
            batch,
            keys=["repo_dir", "file_id"],
            order_cols=["extract_ts"],
            allow_schema_drift=True,
        )
    else:
        merged = batch
    pointers = _write_data_version(merged, table, new_v)

    buckets = dict(current)
    buckets.update(pointers)
    _commit(
        table, new_v, buckets, dv=dv,
        # union with the previous manifest's schema: an all-new-bucket
        # merge never reads stored rows, so the merged frame alone can
        # be NARROWER than untouched drifted buckets (_union_schema_json)
        schema_json=_union_schema_json(
            _read_manifest_doc(table, current_v).get("schema"),
            merged.drop(_BUCKET_COL).schema.json(),
        ),
    )
    return new_v


def delete_from_versioned_table(
    spark: SparkSession,
    table_path: pathlib.Path,
    predicate: str,
    bound: str = "extract_ts",
) -> int:
    """Merge-on-read DELETE (Iceberg-style equality delete): one new
    commit whose manifest reuses every data pointer VERBATIM and adds
    one delete file holding the matched keys plus the delete's
    sequence bound. Cost is O(matched keys) regardless of table size
    — no data file is read back in full, none is rewritten. Readers
    (and subsequent merges) apply the delete file;
    ``compact_versioned_deletes`` folds it away.

    ``bound`` picks the resurrection semantics (see ``_apply_dv``):

    * ``"extract_ts"`` (default): the served row's extract_ts is the
      bound — a later re-insert must carry a NEWER extract_ts to come
      back (the latest-wins flavor this table's pipeline serves; a
      late-arriving OLDER extraction stays deleted by design).
    * ``"commit"``: the delete commit's own sequence number is the
      bound, applied to the COMMIT that wrote each row — Iceberg's
      actual rule; any later commit's re-insert resurrects the key
      regardless of extract_ts order.
    """
    if bound not in ("extract_ts", "commit"):
        raise ValueError(f"bound must be 'extract_ts' or 'commit': {bound!r}")
    table = pathlib.Path(table_path)
    current_v = latest_version(table)
    served = read_versioned_table(spark, table).filter(predicate)
    if bound == "commit":
        doomed = served.select(
            "repo_dir",
            "file_id",
            F.lit(current_v + 1).cast("int").alias("del_seq"),
        )
    else:
        doomed = served.select(
            "repo_dir", "file_id", F.col("extract_ts").alias("del_ts")
        )
    if doomed.isEmpty():
        return current_v
    new_v = current_v + 1
    ddir = table / _DELETES / f"v{new_v}"
    # same orphan rule as data versions: only the manifest publishes
    if ddir.exists() and not _manifest_path(table, new_v).exists():
        shutil.rmtree(ddir)
    doomed.write.mode("error").parquet(str(ddir))
    _commit(
        table,
        new_v,
        _read_manifest(table, current_v),
        dv=_read_dv(table, current_v) + [str(ddir.relative_to(table))],
    )
    return new_v


def compact_versioned_deletes(
    spark: SparkSession, table_path: pathlib.Path
) -> int:
    """Fold merge-on-read back to copy-on-write: rewrite ONLY the
    buckets that contain deleted keys with their delete files
    applied, and commit a manifest with no dv section. Served content
    is identical before and after (fenced); what changes is that
    readers stop paying the anti-join and vacuum can reclaim the
    delete files once pre-compaction manifests age out."""
    table = pathlib.Path(table_path)
    current_v = latest_version(table)
    dv = _read_dv(table, current_v)
    if not dv:
        return current_v
    current = _read_manifest(table, current_v)
    keys = spark.read.parquet(*[str(table / rel) for rel in dv])
    # config-bounded collect: at most N_MERGE_BUCKETS distinct ints
    touched = [
        str(r[0])
        for r in _bucketed(keys).select(_BUCKET_COL).distinct().collect()
    ]
    new_v = current_v + 1
    existing_dirs = [str(table / current[b]) for b in touched if b in current]
    buckets = dict(current)
    if existing_dirs:
        rows = spark.read.option("mergeSchema", "true").parquet(
            *existing_dirs
        )
        rewritten = _bucketed(_apply_dv(spark, table, rows, dv))
        pointers = _write_data_version(rewritten, table, new_v)
        for b in touched:
            # a bucket whose every row was deleted writes no dir: it
            # must LEAVE the manifest, or dropping dv would resurrect
            # its rows through the stale pointer
            if b in pointers:
                buckets[b] = pointers[b]
            else:
                buckets.pop(b, None)
    _commit(table, new_v, buckets)  # dv intentionally dropped
    return new_v


def vacuum_versioned_table(
    table_path: pathlib.Path, keep_versions: int = 1
) -> list[str]:
    """Delete bucket directories referenced by NO retained manifest
    (the newest ``keep_versions`` commits). Returns what was removed.
    Old manifests below the horizon are removed too — after a vacuum,
    time travel is only valid within the retained window, exactly the
    Delta/Iceberg retention contract."""
    table = pathlib.Path(table_path)
    newest = latest_version(table)
    retained_versions = [
        v
        for v in range(max(0, newest - keep_versions + 1), newest + 1)
        if _manifest_path(table, v).exists()
    ]
    live = {
        rel
        for v in retained_versions
        for rel in _read_manifest(table, v).values()
    }
    live_dv = {
        rel for v in retained_versions for rel in _read_dv(table, v)
    }
    removed: list[str] = []
    # numeric order (lexicographic glob puts v10 before v2)
    for vdir in sorted(
        (table / _DATA).glob("v*"), key=lambda p: int(p.name[1:])
    ):
        for bdir in sorted(vdir.glob(f"{_BUCKET_COL}=*")):
            rel = str(bdir.relative_to(table))
            if rel not in live:
                shutil.rmtree(bdir)
                removed.append(rel)
        if not any(vdir.iterdir()):
            vdir.rmdir()
    if (table / _DELETES).exists():
        for ddir in sorted(
            (table / _DELETES).glob("v*"), key=lambda p: int(p.name[1:])
        ):
            rel = str(ddir.relative_to(table))
            if rel not in live_dv:
                shutil.rmtree(ddir)
                removed.append(rel)
    for mpath in (table / _MANIFEST).glob("v*.json"):
        if int(mpath.stem[1:]) not in retained_versions:
            mpath.unlink()
            removed.append(str(mpath.relative_to(table)))
    return removed

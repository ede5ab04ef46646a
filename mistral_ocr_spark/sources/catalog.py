"""Emulated-Iceberg table layer: parquet data files + atomic JSON manifests.

No Iceberg/Delta jars exist in this sandbox (verified — SURVEY.md §7), so
snapshot semantics are emulated with the same observable behavior the
pipeline needs at 100 TB (where this module would be swapped for real
Iceberg `writeTo(...).append()` / MERGE INTO):

- A **manifest** is a JSON file listing every committed data/lineage file,
  the set of committed (run_id, chunk_id) pairs, a per-file **commit
  sequence** (``file_seq`` — the Iceberg data-sequence-number analog that
  drives latest-wins reads), the current **table schema** + version
  (additive evolution), and the input-file registry files.
- Manifests are created with an **exclusive atomic link** (write tmp +
  ``os.link`` to ``manifest-{snapshot:012d}.json``): two concurrent
  committers that both load snapshot N race to create N+1; the loser gets
  ``FileExistsError``, rebases on the winner's manifest, and retries — no
  commit is ever silently discarded (ADVICE r1: non-atomic
  load-modify-write). Because the link lands with full contents, readers
  never observe a partial manifest.
- ``_CURRENT`` is a one-line pointer file updated via ``os.replace`` —
  atomic on POSIX — so readers always see a complete snapshot and a crash
  mid-commit leaves the previous snapshot intact. The pointer only ever
  advances (a committer skips the swap when ``_CURRENT`` already points at
  a newer snapshot; the remaining check-then-swap window can only delay —
  never lose — visibility of a committed snapshot, and the next commit
  re-advances it).
- Uncommitted files from a crashed attempt are invisible (readers go
  through the manifest) and are overwritten by the retry.

This is the Spark re-expression of the reference's idempotent local store
(dedup-before-insert, /root/reference/src/mistral_ocr/simple_client.py:274-287;
cache-first reads, :481-483), its additive ALTER TABLE migration
(simple_client.py:103-138 → ``schema_version`` + union-schema reads), and
its input ``files`` registry with refresh/upsert
(simple_client.py:82-96,297-317 → ``register_input_files``).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession

_CURRENT = "_CURRENT"
_MANIFEST_DIR = "_manifests"


def _empty_manifest() -> dict[str, Any]:
    return {
        "snapshot_id": 0,
        "parent": None,
        "committed_chunks": {},  # run_id -> [chunk_id, ...]
        "data_files": [],
        "lineage_files": [],
        "file_seq": {},  # file path -> snapshot_id at commit (Iceberg seq no.)
        "schema_version": 1,
        "table_schema": None,  # StructType.jsonValue() of the extracted table
        "input_file_files": [],  # parquet files of the input registry
    }


def _manifest_path(root: str, name: str) -> str:
    return os.path.join(root, _MANIFEST_DIR, name)


def _manifest_names(root: str) -> list[str]:
    """The committed manifest names, oldest first. A killed committer's
    ``manifest-N.json.tmp-<uuid>`` is not a manifest and is never listed."""
    d = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        n for n in os.listdir(d) if n.startswith("manifest-") and n.endswith(".json")
    )


def _read_manifest(root: str, name: str) -> dict[str, Any]:
    """One manifest, with keys older manifests lack filled from the defaults."""
    with open(_manifest_path(root, name)) as f:
        return {**_empty_manifest(), **json.load(f)}


def load_manifest(root: str, snapshot_id: int | None = None) -> dict[str, Any]:
    """Reader snapshot: whatever ``_CURRENT`` points at (complete by
    construction — manifests appear atomically via link). With
    ``snapshot_id``, TIME-TRAVEL to that exact committed snapshot instead
    (Iceberg ``VERSION AS OF``); raises FileNotFoundError when it never
    existed or has been expired."""
    if snapshot_id is not None:
        return _read_manifest(root, f"manifest-{snapshot_id:012d}.json")
    cur = os.path.join(root, _CURRENT)
    if not os.path.exists(cur):
        return _empty_manifest()
    with open(cur) as f:
        return _read_manifest(root, f.read().strip())


def _latest_manifest(root: str) -> dict[str, Any]:
    """Committer snapshot: the highest-numbered manifest on disk (may be
    ahead of ``_CURRENT`` when a concurrent commit hasn't swapped the
    pointer yet — basing on it is what keeps commits linearizable)."""
    names = _manifest_names(root)
    return _read_manifest(root, names[-1]) if names else _empty_manifest()


def committed_chunks(root: str, run_id: str) -> set[int]:
    return set(load_manifest(root)["committed_chunks"].get(run_id, []))


def _write_temp(path: str, payload: str) -> str:
    """Write ``payload`` to a fresh fsynced temp file beside ``path``."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _atomic_write(path: str, payload: str) -> None:
    os.replace(_write_temp(path, payload), path)


def _write_exclusive(path: str, payload: str) -> None:
    """Create ``path`` with full contents atomically, failing with
    FileExistsError if it already exists (the commit-conflict arbiter).
    ``os.link`` of a fully-written temp file gives both properties at once:
    exclusive create AND never-partial contents."""
    tmp = _write_temp(path, payload)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def _advance_current(root: str, name: str, snapshot_id: int) -> None:
    """Point ``_CURRENT`` at ``name``, guaranteeing the pointer never ends up
    *behind* ``snapshot_id``. The naive check-then-write can REGRESS the
    pointer (ADVICE r2): committer A (N+1) reads the pointer before B (N+2)
    writes it, then overwrites B's pointer — hiding B's committed data until
    the next commit. Each committer therefore re-reads after writing and
    retries while the pointer is older than its own snapshot; a committer
    only ever (re)writes its own name, so the loop converges: the final
    pointer is the max snapshot of all concurrent advancers."""
    cur = os.path.join(root, _CURRENT)

    def _pointer_id() -> int:
        try:
            with open(cur) as f:
                existing = f.read().strip()
            return int(existing.removeprefix("manifest-").removesuffix(".json"))
        except (OSError, ValueError):
            return -1

    for _ in range(200):
        if _pointer_id() >= snapshot_id:
            return
        _atomic_write(cur, name)
    raise RuntimeError(f"_CURRENT pointer kept regressing under {root}")


def _commit(root: str, build: Callable[[dict[str, Any]], dict[str, Any]]) -> dict[str, Any]:
    """Optimistic-concurrency commit loop: load the latest manifest, let
    ``build`` derive the child manifest, try to claim the next snapshot id
    with an exclusive create; on conflict, rebase and retry."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    for _ in range(200):
        m = _latest_manifest(root)
        new = build(dict(m))
        new["snapshot_id"] = m["snapshot_id"] + 1
        new["parent"] = m["snapshot_id"]
        name = f"manifest-{new['snapshot_id']:012d}.json"
        try:
            _write_exclusive(_manifest_path(root, name), json.dumps(new, indent=1))
        except FileExistsError:
            time.sleep(0.01)  # another committer claimed this snapshot; rebase
            continue
        _advance_current(root, name, new["snapshot_id"])
        return new
    raise RuntimeError(f"commit conflict persisted after 200 rebases under {root}")


def _merge_schema(
    base: dict[str, Any] | None, new: dict[str, Any] | None
) -> tuple[dict[str, Any] | None, bool]:
    """Additive schema union (the reference's ALTER TABLE ... ADD COLUMN
    analog): fields unknown to the base schema are appended; existing
    fields keep their position and type. Non-additive changes (a type
    switch on an existing column) are rejected — same policy as the
    reference's migration helper, which only ever adds columns."""
    if new is None:
        return base, False
    if base is None:
        return new, False
    by_name = {f["name"]: f for f in base["fields"]}
    added = []
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            added.append(f)
        elif old["type"] != f["type"]:
            raise ValueError(
                f"non-additive schema change on column {f['name']!r}: "
                f"{old['type']} -> {f['type']}"
            )
    if not added:
        return base, False
    return {**base, "fields": base["fields"] + added}, True


def commit_chunk(
    root: str,
    run_id: str,
    chunk_id: int,
    data_files: list[str],
    lineage_files: list[str],
    schema_json: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Atomically commit one chunk's data + lineage files as a new snapshot.

    Every committed data file is stamped with the commit's snapshot id in
    ``file_seq`` — the monotonic ordering ``read_extracted_latest`` resolves
    upserts by (ADVICE r1: lexicographic run_id ordering breaks on run-99
    vs run-100). Passing the written ``schema_json`` records/evolves the
    table schema additively.
    """

    def build(m: dict[str, Any]) -> dict[str, Any]:
        seq = m["snapshot_id"] + 1
        schema, changed = _merge_schema(m["table_schema"], schema_json)
        return {
            **m,
            "committed_chunks": {
                **m["committed_chunks"],
                run_id: sorted(set(m["committed_chunks"].get(run_id, [])) | {chunk_id}),
            },
            "data_files": m["data_files"] + data_files,
            "lineage_files": m["lineage_files"] + lineage_files,
            "file_seq": {**m["file_seq"], **{p: seq for p in data_files}},
            "table_schema": schema,
            "schema_version": m["schema_version"] + (1 if changed else 0),
        }

    return _commit(root, build)


def _read_files(spark: SparkSession, files: list[str], schema) -> DataFrame:
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def _table_schema(m: dict[str, Any]):
    from pyspark.sql import types as T

    from mistral_ocr_spark.sources.tables import EXTRACTED_TABLE_SCHEMA

    if m.get("table_schema"):
        return T.StructType.fromJson(m["table_schema"])
    return EXTRACTED_TABLE_SCHEMA


def read_extracted(
    spark: SparkSession, root: str, as_of: int | None = None
) -> DataFrame:
    """Committed extracted rows (snapshot-consistent), read under the
    manifest's evolved schema: files written before a column was added
    surface that column as NULL (parquet missing-column projection) — the
    reader-side half of additive schema evolution. ``as_of`` reads the
    table AS OF that snapshot id (time travel): manifests are immutable
    and data files are append-only until expired, so the historical read
    is exactly the bytes that snapshot committed."""
    m = load_manifest(root, as_of)
    return _read_files(spark, m["data_files"], _table_schema(m))


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    from mistral_ocr_spark.sources.tables import LINEAGE_SCHEMA

    return _read_files(spark, load_manifest(root)["lineage_files"], LINEAGE_SCHEMA)


def _file_path() -> Column:
    """THE rule that maps the file a row was read from to the OS path
    ``list_parquet_files`` stored: ``input_file_name()`` is a percent-encoded
    ``file:`` URI, so strip the scheme and decode, escaping ``+`` first
    (``url_decode`` reads it as a space). ``binaryFile``'s ``path`` column is
    not encoded, so scans of every format name their files through this."""
    from pyspark.sql import functions as F

    path = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    return F.url_decode(F.regexp_replace(path, r"\+", "%2B"))


def _latest(
    df: DataFrame, m: dict[str, Any], keys: list[str], tie_break: list[Column]
) -> DataFrame:
    """Latest-wins (merge-on-read) over rows read from ``m``'s files: one
    row per ``keys``, the one whose file has the highest commit sequence
    (``file_seq``), ``tie_break`` deciding rows of one commit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    seq = df.sparkSession.createDataFrame(list(m["file_seq"].items()), "_path string, _seq long")
    w = Window.partitionBy(*keys).orderBy(F.desc_nulls_last("_seq"), *tie_break)
    return (
        df.withColumn("_path", _file_path())
        .join(F.broadcast(seq), "_path", "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_path", "_seq")
    )


def read_extracted_latest(
    spark: SparkSession, root: str, as_of: int | None = None
) -> DataFrame:
    """Committed extracted rows with MERGE/upsert read semantics: when a url
    was re-extracted and committed later, the later COMMIT wins — resolved
    by the manifest's per-file commit sequence (``file_seq``), the Iceberg
    data-sequence-number design, not by lexicographic run_id (run-99 would
    beat run-100). run_id/extractor_version only break exact seq ties
    (duplicate urls inside one commit).

    This is the Spark re-expression of the reference's reconcile-by-key
    upsert (J4, /root/reference/src/mistral_ocr/simple_client.py:578-600):
    instead of rewriting files on merge (write amplification at 10^12
    rows), resolution happens at read time over snapshot-consistent files —
    with real Iceberg this becomes MERGE INTO + snapshot expiry.
    """
    from pyspark.sql import functions as F

    m = load_manifest(root, as_of)
    ext = _read_files(spark, m["data_files"], _table_schema(m))
    return _latest(ext, m, ["url"], [F.desc("run_id"), F.desc("extractor_version")])


def read_errors(spark: SparkSession, root: str) -> DataFrame:
    """Failed-row side output (view over extracted — the analog of the
    reference's error_files table, simple_client.py:73-80)."""
    from pyspark.sql import functions as F

    ext = read_extracted(spark, root)
    return ext.filter(F.col("error_class").isNotNull()).select(
        "url",
        "run_id",
        "partition_id",
        "error_class",
        F.col("encoding").alias("message"),
    )


# ---------------------------------------------------------------------------
# input-file registry (the reference's `files` table: refresh/upsert rows
# per input file — simple_client.py:82-96,297-317,672-700)
# ---------------------------------------------------------------------------

def input_files_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("table", T.StringType(), False),
            T.StructField("file_path", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("byte_size", T.LongType(), True),
            T.StructField("modified_at", T.TimestampType(), True),
            T.StructField("refreshed_at", T.TimestampType(), False),
        ]
    )


def register_input_files(
    spark: SparkSession, root: str, input_path: str, table: str = "pages"
) -> dict[str, Any]:
    """Refresh the registry for every file under ``input_path``: per-file
    row count (distributed aggregation over the parquet scan) joined with
    file metadata (``binaryFile`` source, content column pruned — a
    metadata-only listing, no bytes read); both sides name their files by
    ``_file_path``, so they join under any root name. Upsert
    semantics are merge-on-read like the extracted table: each refresh
    appends rows under a new snapshot and ``read_input_files`` resolves
    latest-per-file by commit sequence — at 10^12 input files both scans
    and the resolution are ordinary distributed jobs, nothing driver-side.
    """
    from pyspark.sql import functions as F

    counts = (
        spark.read.parquet(input_path)
        .select(_file_path().alias("file_path"))
        .groupBy("file_path")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    meta = (
        spark.read.format("binaryFile")
        .load(input_path)
        .select(
            _file_path().alias("file_path"),
            F.col("length").alias("byte_size"),
            F.col("modificationTime").alias("modified_at"),
        )
    )
    refreshed = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    rows = (
        counts.join(meta, "file_path", "left")
        .select(
            F.lit(table).alias("table"),
            "file_path",
            F.col("n_rows").cast("long"),
            F.col("byte_size").cast("long"),
            "modified_at",
            F.lit(refreshed).alias("refreshed_at"),
        )
    )
    out_dir = os.path.join(root, "input_files", f"refresh-{uuid.uuid4().hex}")
    # natural partitioning, NOT coalesce(1): one registry row per input
    # file means a refresh over 10^7+ files must stay a distributed write
    rows.write.mode("overwrite").parquet(out_dir)
    files = list_parquet_files(out_dir)

    def build(m: dict[str, Any]) -> dict[str, Any]:
        seq = m["snapshot_id"] + 1
        return {
            **m,
            "input_file_files": m["input_file_files"] + files,
            "file_seq": {**m["file_seq"], **{p: seq for p in files}},
        }

    return _commit(root, build)


def read_input_files(
    spark: SparkSession, root: str, latest_only: bool = True
) -> DataFrame:
    """The input-file registry; with ``latest_only`` each (table, file_path)
    resolves to its most recent refresh (by commit sequence)."""
    from pyspark.sql import functions as F

    m = load_manifest(root)
    df = _read_files(spark, m["input_file_files"], input_files_schema())
    if not latest_only:
        return df
    return _latest(df, m, ["table", "file_path"], [F.desc("refreshed_at")])


def compact(
    spark: SparkSession,
    root: str,
    target_rows_per_file: int = 250_000,
    expire_old_files: bool = False,
) -> dict[str, Any]:
    """Bin-pack the extracted table's data files into ~target-sized files —
    the Iceberg rewrite_data_files analog. Per-chunk writes at high
    parallelism leave many small files (tiny at test scale, metadata- and
    open-cost-bound at 10^12 rows); compaction rewrites them under a new
    snapshot while preserving committed-chunk resume state, lineage, AND
    upsert ordering: files are rewritten **per commit-sequence group**, so
    every output file inherits its group's sequence number and
    ``read_extracted_latest`` resolves identically before and after (the
    Iceberg rule that rewritten files keep their data sequence number).

    ``expire_old_files`` deletes the superseded files after the commit
    (readers holding the old manifest in a long transaction would need
    snapshot-expiry grace periods on a real system; tests keep it False).
    """
    import math

    m = load_manifest(root)
    if not m["data_files"]:
        return m
    schema = _table_schema(m)

    groups: dict[int, list[str]] = {}
    for f in m["data_files"]:
        groups.setdefault(m["file_seq"].get(f, 0), []).append(f)

    new_files: list[str] = []
    new_seq: dict[str, int] = {}
    for seq, files in sorted(groups.items()):
        df = spark.read.schema(schema).parquet(*files)
        total = df.count()
        n_files = max(1, math.ceil(total / target_rows_per_file))
        out_dir = os.path.join(root, "data", f"compact-{uuid.uuid4().hex[:12]}-seq{seq}")
        df.repartition(n_files).write.mode("overwrite").parquet(out_dir)
        part = list_parquet_files(out_dir)
        new_files += part
        new_seq.update({p: seq for p in part})

    def build(prev: dict[str, Any]) -> dict[str, Any]:
        # Rebase-safe (ADVICE r2): only the files in the *snapshot this
        # compaction actually rewrote* (m) are superseded. A commit_chunk
        # that landed between the snapshot and this commit appears in
        # prev['data_files'] but not in m['data_files'] — it must survive,
        # with its file_seq entries, or its rows are lost while its chunk
        # stays marked committed (resume would never re-extract it). This is
        # Iceberg's rewrite_data_files validation: replace exactly the files
        # you read, keep everything concurrent.
        rewritten = set(m["data_files"])
        survivors = [p for p in prev["data_files"] if p not in rewritten]
        keep_seq = {p: s for p, s in prev["file_seq"].items() if p not in rewritten}
        return {
            **prev,
            "data_files": survivors + new_files,
            "file_seq": {**keep_seq, **new_seq},
        }

    new = _commit(root, build)
    if expire_old_files:
        for f in m["data_files"]:
            try:
                os.remove(f)
            except OSError:
                pass
    return new


def snapshots(root: str) -> list[dict[str, Any]]:
    """The table's snapshot history (the Iceberg ``snapshots`` metadata-table
    analog): one summary row per retained manifest, oldest first."""
    out = []
    for name in _manifest_names(root):
        m = _read_manifest(root, name)
        out.append(
            {
                "snapshot_id": m["snapshot_id"],
                "parent": m["parent"],
                "n_data_files": len(m["data_files"]),
                "n_lineage_files": len(m["lineage_files"]),
                "n_committed_chunks": sum(len(v) for v in m["committed_chunks"].values()),
                "schema_version": m["schema_version"],
            }
        )
    return out


def expire_snapshots(root: str, keep_last: int = 3) -> dict[str, Any]:
    """Expire all but the newest ``keep_last`` snapshots (the Iceberg
    ``expire_snapshots`` maintenance action): expired manifests are deleted,
    and data/lineage/registry files referenced ONLY by expired snapshots are
    removed from disk (``remove_orphan_files``). Files still referenced by
    any retained snapshot survive, so current reads and time travel within
    the retained window are unaffected; time travel past the horizon now
    raises — exactly Iceberg's contract.

    Like Iceberg, maintenance assumes a single maintenance actor; concurrent
    COMMITS are safe (they only create strictly newer manifests, which are
    always retained), concurrent expires are not coordinated.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    names = _manifest_names(root)
    expired, retained = names[:-keep_last], names[-keep_last:]
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0, "retained": len(retained)}

    def refs(name: str) -> set[str]:
        m = _read_manifest(root, name)
        return set(m["data_files"]) | set(m["lineage_files"]) | set(m["input_file_files"])

    live = set()
    for name in retained:
        live |= refs(name)
    deleted = 0
    for name in expired:
        for f in refs(name) - live:
            try:
                os.remove(f)
                deleted += 1
            except OSError:
                pass
        os.remove(_manifest_path(root, name))
    return {
        "expired_snapshots": len(expired),
        "deleted_files": deleted,
        "retained": len(retained),
    }


def list_parquet_files(path: str) -> list[str]:
    """Absolute OS paths of the parquet part files under a just-written dir:
    the form manifests store, and the form ``_file_path`` turns Spark's
    file URI back into for the ``file_seq`` join. Both halves are
    load-bearing (ADVICE r2): Spark reports every file as an absolute,
    percent-encoded ``file:/...`` URI, so a relative ``--table`` root, or a
    root holding a space, ``%``, ``+`` or ``#``, would otherwise never
    match — ``_seq`` would be NULL for every row and latest-wins would fall
    back to run_id ordering, the run-99-beats-run-100 bug ``file_seq``
    exists to fix."""
    out = []
    for dirpath, _dirs, names in os.walk(os.path.abspath(path)):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                out.append(os.path.join(dirpath, n))
    return sorted(out)

"""Catalog-layer tests: commit-conflict arbitration, monotonic upsert
ordering (run-99 vs run-100), additive schema evolution, seq-preserving
compaction, and the input-file registry's refresh-upsert semantics."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mistral_ocr_spark import pipeline
from mistral_ocr_spark.sources import catalog
from mistral_ocr_spark.sources.fixtures import generate_pages

# a table-root name Spark's file URIs percent-encode: space, '%', '+', '#'
_ODD_ROOT = "t a%20b+c#d"


@pytest.fixture()
def table_root():
    root = tempfile.mkdtemp(prefix="ocr_cat_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_commit_conflict_rebases_not_discards(table_root):
    """Two committers basing on the same parent snapshot: the loser must
    rebase onto the winner, so BOTH commits land (ADVICE r1: the old
    load-modify-write silently dropped the first)."""
    # Simulate the race: pre-create the manifest the second committer would
    # want (as if a concurrent writer won snapshot 1 mid-commit).
    m1 = catalog.commit_chunk(table_root, "run-a", 0, ["/d/a.parquet"], ["/l/a.parquet"])
    assert m1["snapshot_id"] == 1
    # A conflicting manifest-2 appears between load and write:
    blocker = {**catalog._latest_manifest(table_root)}
    blocker["snapshot_id"] = 2
    blocker["parent"] = 1
    blocker["committed_chunks"] = {**blocker["committed_chunks"], "run-x": [9]}
    catalog._write_exclusive(
        catalog._manifest_path(table_root, "manifest-000000000002.json"),
        json.dumps(blocker),
    )
    m3 = catalog.commit_chunk(table_root, "run-b", 0, ["/d/b.parquet"], ["/l/b.parquet"])
    # run-b's commit rebased to snapshot 3 and preserved run-x's chunk 9
    assert m3["snapshot_id"] == 3
    assert m3["committed_chunks"] == {"run-a": [0], "run-x": [9], "run-b": [0]}
    assert set(m3["data_files"]) == {"/d/a.parquet", "/d/b.parquet"}


def test_current_pointer_only_advances(table_root):
    catalog.commit_chunk(table_root, "r", 0, [], [])
    catalog.commit_chunk(table_root, "r", 1, [], [])
    # a straggler trying to re-point at snapshot 1 must be a no-op
    catalog._advance_current(table_root, "manifest-000000000001.json", 1)
    assert catalog.load_manifest(table_root)["snapshot_id"] == 2


def test_latest_wins_by_commit_seq_not_lexicographic(spark, table_root):
    """run-99 committed BEFORE run-100: lexicographic run_id ordering would
    resurrect run-99's rows; commit-sequence ordering must pick run-100."""
    pages = generate_pages(spark, 300, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-99", n_chunks=1, num_partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-100", n_chunks=1, num_partitions=2)
    latest = catalog.read_extracted_latest(spark, table_root)
    assert latest.count() == 300
    runs = {r.run_id for r in latest.select("run_id").distinct().collect()}
    assert runs == {"run-100"}


def test_schema_evolution_additive(spark, table_root):
    """v1 chunks, then a chunk written by a 'newer extractor' with an extra
    column: read_extracted returns the union schema with NULL backfill on
    the old rows (reference _migrate_schema analog)."""
    from mistral_ocr_spark.operators.extract import extract_pages
    from mistral_ocr_spark.pipeline import salted_repartition

    pages = generate_pages(spark, 400, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-0001", n_chunks=1, num_partitions=2)
    assert catalog.load_manifest(table_root)["schema_version"] == 1

    # "v2 extractor": same pipeline shape plus a quality column
    ext2 = (
        extract_pages(salted_repartition(generate_pages(spark, 100, partitions=1), 2))
        .withColumn("run_id", F.lit("run-0002"))
        .withColumn(
            "quality", F.coalesce(F.length("text"), F.lit(0)).cast("double") / 1000.0
        )
    )
    data_path = os.path.join(table_root, "data", "run=run-0002", "chunk=0")
    ext2.write.mode("overwrite").parquet(data_path)
    files = catalog.list_parquet_files(data_path)
    m = catalog.commit_chunk(
        table_root, "run-0002", 0, files, [], schema_json=ext2.schema.jsonValue()
    )
    assert m["schema_version"] == 2

    out = catalog.read_extracted(spark, table_root)
    assert "quality" in out.columns
    old = out.filter(F.col("run_id") == "run-0001")
    assert old.filter(F.col("quality").isNull()).count() == old.count() == 400
    new = out.filter(F.col("run_id") == "run-0002")
    assert new.filter(F.col("quality").isNotNull()).count() == new.count() > 0
    # latest-wins read works over the evolved schema too: run-0002's 100
    # urls are a subset of run-0001's 400, and the later commit wins
    latest = catalog.read_extracted_latest(spark, table_root)
    assert latest.count() == 400
    assert latest.filter(F.col("run_id") == "run-0002").count() == 100

    # non-additive change is rejected
    with pytest.raises(ValueError, match="non-additive"):
        bad = ext2.withColumn("quality", F.lit("oops")).schema.jsonValue()
        catalog.commit_chunk(table_root, "run-0003", 0, [], [], schema_json=bad)


def test_compaction_preserves_latest_wins(spark, table_root):
    """Compaction rewrites files per commit-sequence group, so upsert
    resolution is identical before and after."""
    pages = generate_pages(spark, 600, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-0001", n_chunks=1, num_partitions=4)
    subset = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    pipeline.run(spark, subset, table_root, run_id="run-0002", n_chunks=1, num_partitions=4)

    before = {
        (r.url, r.run_id)
        for r in catalog.read_extracted_latest(spark, table_root)
        .select("url", "run_id")
        .collect()
    }
    catalog.compact(spark, table_root, target_rows_per_file=10_000)
    after = {
        (r.url, r.run_id)
        for r in catalog.read_extracted_latest(spark, table_root)
        .select("url", "run_id")
        .collect()
    }
    assert before == after
    # every compacted file carries a sequence number
    m = catalog.load_manifest(table_root)
    assert set(m["data_files"]) <= set(m["file_seq"])


@pytest.mark.parametrize("subdir", ["", _ODD_ROOT], ids=["plain", "odd-chars"])
def test_input_registry_refresh_upsert(spark, table_root, subdir):
    """Registering the same input twice upserts: one row per file (latest
    refresh wins), with real paths, byte sizes and row counts — also under
    a root whose name Spark percent-encodes in its file URIs, where the
    row-count side and the binaryFile side must still name each file by
    the same path to join."""
    root = os.path.join(table_root, subdir)
    src = os.path.join(root, "incoming")
    generate_pages(spark, 500, partitions=3).write.mode("overwrite").parquet(src)

    catalog.register_input_files(spark, root, src, table="pages")
    first = catalog.read_input_files(spark, root).collect()
    n_files = len(first)
    assert n_files >= 3
    assert sum(r.n_rows for r in first) == 500
    assert all(r.byte_size and r.byte_size > 0 for r in first)
    assert all(r.file_path.endswith(".parquet") for r in first)
    assert all(os.path.exists(r.file_path) for r in first), [r.file_path for r in first]

    m2 = catalog.register_input_files(spark, root, src, table="pages")
    latest = catalog.read_input_files(spark, root)
    assert latest.count() == n_files  # upserted, not duplicated
    raw = catalog.read_input_files(spark, root, latest_only=False)
    assert raw.count() == 2 * n_files  # both refreshes retained on disk
    # all surviving rows come from the second refresh
    seqs = {r.refreshed_at for r in latest.collect()}
    assert len(seqs) == 1
    assert len(m2["input_file_files"]) == 2


def test_half_written_manifest_is_ignored(table_root):
    """A committer killed between writing its temp file and linking it
    leaves ``manifest-N.json.tmp-<id>`` behind; no reader, committer or
    maintenance action may take it for a snapshot."""
    catalog.commit_chunk(table_root, "r", 0, ["/d/a.parquet"], [])
    tmp = catalog._manifest_path(table_root, "manifest-000000000002.json.tmp-x")
    with open(tmp, "w") as f:
        f.write('{"snapshot_id": 2, "data_fi')
    assert [s["snapshot_id"] for s in catalog.snapshots(table_root)] == [1]
    assert catalog.load_manifest(table_root)["snapshot_id"] == 1
    assert catalog._latest_manifest(table_root)["snapshot_id"] == 1
    assert catalog.commit_chunk(table_root, "r", 1, ["/d/b.parquet"], [])["snapshot_id"] == 2
    assert [s["snapshot_id"] for s in catalog.snapshots(table_root)] == [1, 2]
    res = catalog.expire_snapshots(table_root, keep_last=1)
    assert res == {"expired_snapshots": 1, "deleted_files": 0, "retained": 1}
    assert os.path.exists(tmp)


def test_compact_preserves_concurrent_commit(spark, table_root, monkeypatch):
    """A commit_chunk that lands BETWEEN compact()'s manifest snapshot and
    its commit must survive compaction (ADVICE r2: the old build() set
    data_files = new_files wholesale, silently dropping the concurrent
    commit's files while its chunk stayed in committed_chunks — permanent,
    resume-proof data loss)."""
    from mistral_ocr_spark.operators.extract import extract_pages
    from mistral_ocr_spark.pipeline import salted_repartition

    pages = generate_pages(spark, 600, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-0001", n_chunks=1, num_partitions=4)

    # a real second chunk, to be committed mid-compaction
    late = (
        extract_pages(salted_repartition(generate_pages(spark, 100, partitions=1), 2))
        .withColumn("run_id", F.lit("run-late"))
    )
    late_path = os.path.join(table_root, "data", "run=run-late", "chunk=0")
    late.write.mode("overwrite").parquet(late_path)
    late_files = catalog.list_parquet_files(late_path)

    real_commit = catalog._commit
    injected = {"done": False}

    def racing_commit(root, build):
        if not injected["done"]:
            injected["done"] = True
            catalog.commit_chunk(root, "run-late", 0, late_files, [])
        return real_commit(root, build)

    monkeypatch.setattr(catalog, "_commit", racing_commit)
    catalog.compact(spark, table_root, target_rows_per_file=10_000)
    monkeypatch.setattr(catalog, "_commit", real_commit)

    m = catalog.load_manifest(table_root)
    assert set(late_files) <= set(m["data_files"]), "concurrent commit's files dropped"
    assert set(late_files) <= set(m["file_seq"]), "concurrent commit's seq entries dropped"
    assert m["committed_chunks"]["run-late"] == [0]
    latest = catalog.read_extracted_latest(spark, table_root)
    assert latest.count() == 600
    # run-late committed with a HIGHER seq than the compacted group, so its
    # 100 urls must win latest-wins after compaction
    assert latest.filter(F.col("run_id") == "run-late").count() == 100


def test_advance_current_recovers_from_regression(table_root, monkeypatch):
    """The pointer race (ADVICE r2): committer A (older snapshot) overwrites
    _CURRENT right after committer B (newer) wrote it. B's advance loop must
    detect the regression on re-read and rewrite its own pointer."""
    catalog.commit_chunk(table_root, "r", 0, [], [])  # snapshot 1 exists
    catalog.commit_chunk(table_root, "r", 1, [], [])  # snapshot 2 exists

    real_write = catalog._atomic_write
    state = {"first": True}

    def interleaved(path, payload):
        real_write(path, payload)
        if state["first"] and payload.startswith("manifest-"):
            state["first"] = False
            # A's stale advance lands immediately after B's write
            real_write(path, "manifest-000000000001.json")

    monkeypatch.setattr(catalog, "_atomic_write", interleaved)
    catalog._advance_current(table_root, "manifest-000000000002.json", 2)
    monkeypatch.setattr(catalog, "_atomic_write", real_write)
    assert catalog.load_manifest(table_root)["snapshot_id"] == 2


@pytest.mark.parametrize("subdir", ["", _ODD_ROOT], ids=["plain", "odd-chars"])
def test_latest_wins_with_relative_table_root(spark, table_root, subdir):
    """ADVICE r2: with a relative --table root, manifest paths must still
    match input_file_name()'s absolute form — otherwise every _seq joins
    NULL and latest-wins silently regresses to lexicographic run_id
    ordering (run-99 would beat run-100). The same holds for a root whose
    name Spark percent-encodes in its file URIs."""
    rel_root = os.path.relpath(os.path.join(table_root, subdir), os.getcwd())
    assert not os.path.isabs(rel_root)
    pages = generate_pages(spark, 200, partitions=2)
    pipeline.run(spark, pages, rel_root, run_id="run-99", n_chunks=1, num_partitions=2)
    pipeline.run(spark, pages, rel_root, run_id="run-100", n_chunks=1, num_partitions=2)
    m = catalog.load_manifest(rel_root)
    assert all(os.path.isabs(p) for p in m["data_files"])
    latest = catalog.read_extracted_latest(spark, rel_root)
    runs = {r.run_id for r in latest.select("run_id").distinct().collect()}
    assert runs == {"run-100"}


def _race_commit(args):
    root, run_id, chunk = args
    from mistral_ocr_spark.sources import catalog as cat

    m = cat.commit_chunk(root, run_id, chunk, [f"/d/{run_id}-{chunk}.parquet"], [])
    return m["snapshot_id"]


def test_concurrent_commits_all_land(table_root):
    """REAL race: 8 processes commit simultaneously against one table root.
    Every commit must land (unique snapshot ids, all chunks present, all
    data files in the final manifest) — the optimistic-concurrency loop
    under genuine contention, not a simulated conflict."""
    import multiprocessing as mp

    jobs = [(table_root, f"run-{i % 3}", i) for i in range(8)]
    with mp.get_context("spawn").Pool(8) as pool:
        snaps = pool.map(_race_commit, jobs)
    assert sorted(snaps) == list(range(1, 9))  # unique, gapless snapshot ids

    m = catalog.load_manifest(table_root)
    assert m["snapshot_id"] == 8
    committed = {(r, c) for r, cs in m["committed_chunks"].items() for c in cs}
    assert committed == {(f"run-{i % 3}", i) for i in range(8)}
    assert len(m["data_files"]) == 8
    assert set(m["file_seq"].values()) == set(range(1, 9))


def test_time_travel_and_snapshots_metadata(spark, table_root):
    """VERSION AS OF semantics: a historical snapshot id reads exactly the
    rows that snapshot committed, unaffected by later commits."""
    pages = generate_pages(spark, 120, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-a", n_chunks=1, num_partitions=2)
    s1 = catalog.load_manifest(table_root)["snapshot_id"]
    pipeline.run(spark, pages, table_root, run_id="run-b", n_chunks=1, num_partitions=2)

    now = catalog.read_extracted_latest(spark, table_root)
    assert {r.run_id for r in now.select("run_id").distinct().collect()} == {"run-b"}
    past = catalog.read_extracted_latest(spark, table_root, as_of=s1)
    assert {r.run_id for r in past.select("run_id").distinct().collect()} == {"run-a"}
    assert past.count() == 120

    snaps = catalog.snapshots(table_root)
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == sorted(ids) and ids[-1] == catalog.load_manifest(table_root)["snapshot_id"]
    assert all(s["parent"] == i for i, s in zip(ids, snaps[1:]))


def test_expire_snapshots_removes_orphans_keeps_live(spark, table_root):
    """After compaction, the superseded small files are referenced only by
    pre-compaction snapshots: expiring those snapshots must delete exactly
    the orphaned files, keep everything the retained snapshot references,
    and make time travel past the horizon raise."""
    pages = generate_pages(spark, 150, partitions=2)
    pipeline.run(spark, pages, table_root, run_id="run-a", n_chunks=2, num_partitions=2)
    pre = catalog.load_manifest(table_root)
    old_files = list(pre["data_files"])
    catalog.compact(spark, table_root, target_rows_per_file=1000)

    res = catalog.expire_snapshots(table_root, keep_last=1)
    assert res["expired_snapshots"] >= 1
    # superseded pre-compaction files are gone from disk
    assert res["deleted_files"] == len(old_files)
    assert not any(os.path.exists(f) for f in old_files)
    # the retained snapshot still reads every row
    assert catalog.read_extracted_latest(spark, table_root).count() == 150
    # time travel past the horizon is refused, not silently wrong
    with pytest.raises(FileNotFoundError):
        catalog.load_manifest(table_root, snapshot_id=pre["snapshot_id"] - 1)
    # resume state survives: a re-run extracts nothing new
    m = catalog.load_manifest(table_root)
    assert set(m["committed_chunks"]["run-a"]) == {0, 1}


def test_catalog_rules_live_in_one_place():
    """Within catalog.py only ``_file_path`` maps Spark file URIs to paths,
    only ``_manifest_names`` lists the manifest directory, only
    ``_read_manifest`` parses a manifest, and only ``_latest`` builds the
    latest-wins window — so copies of these rules cannot drift apart."""
    owners = {"input_file_name": "_file_path", "listdir": "_manifest_names",
              "scandir": "_manifest_names", "json.load": "_read_manifest",
              "json.loads": "_read_manifest", "row_number": "_latest"}
    tree = ast.parse(pathlib.Path(catalog.__file__).read_text())
    found = []
    for stmt in tree.body:
        owner = stmt.name if isinstance(stmt, ast.FunctionDef) else "<module>"
        for node in ast.walk(stmt):
            if isinstance(node, ast.Attribute):
                base = f"{node.value.id}." if isinstance(node.value, ast.Name) else ""
                names = {base + node.attr, node.attr}
            elif isinstance(node, ast.Name):
                names = {node.id}
            else:
                continue
            found += [f"catalog.py:{node.lineno} {owner}() uses {n}"
                      for n in names if owners.get(n, owner) != owner]
    assert not found, "catalog rule outside its one place:\n" + "\n".join(found)

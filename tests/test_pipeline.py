"""Pipeline tests: exactly-once resume, determinism under parallelism,
skew balance, lineage counters (FIXTURES.md §6 test matrix)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mistral_ocr_spark import pipeline
from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.sources import catalog
from mistral_ocr_spark.sources.fixtures import generate_pages

N = 3000


@pytest.fixture()
def table_root():
    root = tempfile.mkdtemp(prefix="ocr_tbl_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_resume_exactly_once(spark, table_root):
    pages = generate_pages(spark, N, partitions=6)
    # Simulated crash: only 1 of 3 chunks commits.
    s1 = pipeline.run(spark, pages, table_root, n_chunks=3, max_chunks=1, num_partitions=8)
    assert s1["chunks_done"] == 1
    partial = catalog.read_extracted(spark, table_root).count()
    assert 0 < partial < N
    assert s1["docs"] == partial

    s2 = pipeline.run(spark, pages, table_root, n_chunks=3, num_partitions=8)
    assert s2["chunks_skipped"] == 1 and s2["chunks_done"] == 2
    assert s2["docs"] == N  # the whole run, earlier invocation included
    ext = catalog.read_extracted(spark, table_root)
    assert ext.count() == N
    assert ext.select("url").distinct().count() == N  # exactly once per url

    # Fully idempotent rerun: nothing recomputed.
    s3 = pipeline.run(spark, pages, table_root, n_chunks=3, num_partitions=8)
    assert s3["chunks_done"] == 0 and s3["chunks_skipped"] == 3


def _committed(spark, root):
    return {
        r.url: (r.text, r.markdown, r.error_class)
        for r in catalog.read_extracted(spark, root).collect()
    }


def test_chunk_count_does_not_change_committed_rows(spark, table_root):
    """Chunk identity is a pure function of the url: one chunk or four, the
    committed rows are byte-identical, every chunk has its lineage, and the
    lineage counts every doc once."""
    import os

    pages = generate_pages(spark, N, partitions=6)
    one_root = os.path.join(table_root, "one")
    four_root = os.path.join(table_root, "four")
    s_one = pipeline.run(spark, pages, one_root, n_chunks=1, num_partitions=8)
    s_four = pipeline.run(spark, pages, four_root, n_chunks=4, num_partitions=8)
    assert (s_one["chunks_done"], s_four["chunks_done"]) == (1, 4)
    assert s_one["docs"] == s_four["docs"] == N
    assert _committed(spark, one_root) == _committed(spark, four_root)
    lin = catalog.read_lineage(spark, four_root)
    assert {r.chunk_id for r in lin.select("chunk_id").distinct().collect()} == {0, 1, 2, 3}
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == N
    # one lineage file per chunk, chunk_id still a column inside it
    files = catalog.load_manifest(four_root)["lineage_files"]
    assert len(files) == 4
    assert "chunk_id" in spark.read.parquet(files[0]).columns


def test_crash_between_commits_resumes_exactly_once(spark, table_root, monkeypatch):
    """A driver crash after the invocation's job but between its chunk
    commits loses the uncommitted chunks' work, never a row: the resume
    re-extracts exactly those chunks, once per url, and counts the whole
    run in its stats."""
    pages = generate_pages(spark, N, partitions=6)
    commit = catalog.commit_chunk
    calls = []

    def crash_on_second_commit(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated driver crash")
        return commit(*args, **kwargs)

    monkeypatch.setattr(catalog, "commit_chunk", crash_on_second_commit)
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        pipeline.run(spark, pages, table_root, n_chunks=3, num_partitions=8)
    monkeypatch.setattr(catalog, "commit_chunk", commit)
    assert catalog.committed_chunks(table_root, "run-0001") == {0}

    s2 = pipeline.run(spark, pages, table_root, n_chunks=3, num_partitions=8)
    assert s2["chunks_skipped"] == 1 and s2["chunks_done"] == 2
    assert s2["docs"] == N
    ext = catalog.read_extracted(spark, table_root)
    assert ext.count() == N
    assert ext.select("url").distinct().count() == N


def _ran_stages(spark, group):
    """(rdd scope names, task count) of every stage that ran in a job group."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def names(cluster):
        out, it = {cluster.name()}, cluster.childClusters().iterator()
        while it.hasNext():
            out |= names(it.next())
        return out

    stages = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:  # skipped stages run nothing
                root = store.operationGraphForStage(sid).rootCluster()
                stages.append((names(root), info.numTasks))
    return stages


@pytest.mark.parametrize("n_chunks", [1, 4])
def test_one_extract_stage_per_submit(spark, table_root, n_chunks):
    """A submit of k pending chunks runs ONE MapInArrow stage with
    num_partitions Python tasks, whatever k is: the per-task fixed cost
    of a Python worker is paid num_partitions times per submit."""
    import os

    src = os.path.join(table_root, "pages")
    generate_pages(spark, 1000, partitions=2).write.parquet(src)
    group = f"one-extract-stage-{n_chunks}"
    spark.sparkContext.setJobGroup(group, "submit")
    try:
        s = pipeline.run(
            spark, spark.read.parquet(src), os.path.join(table_root, "t"),
            n_chunks=n_chunks, num_partitions=6,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            spark.sparkContext.setLocalProperty(key, None)
    assert s["chunks_done"] == n_chunks and s["docs"] == 1000
    kernel = [tasks for names, tasks in _ran_stages(spark, group) if "MapInArrow" in names]
    assert kernel == [6]


def test_crash_mid_chunk_invisible(spark, table_root):
    """Files written without a manifest commit must be invisible to readers."""
    import os

    pages = generate_pages(spark, 500, partitions=2)
    pipeline.run(spark, pages, table_root, n_chunks=2, max_chunks=1, num_partitions=4)
    committed = catalog.read_extracted(spark, table_root).count()
    # Simulate a crash that wrote data files but never committed chunk 1:
    orphan = os.path.join(table_root, "data", "run=run-0001", "chunk=1")
    extract_pages(generate_pages(spark, 100, partitions=1)).write.mode(
        "overwrite"
    ).parquet(orphan)
    assert catalog.read_extracted(spark, table_root).count() == committed


def test_determinism_across_parallelism(spark):
    a = {
        r.url: (r.text, r.markdown)
        for r in extract_pages(generate_pages(spark, 1000, partitions=2)).collect()
    }
    b = {
        r.url: (r.text, r.markdown)
        for r in extract_pages(
            pipeline.salted_repartition(generate_pages(spark, 1000, partitions=13), 7)
        ).collect()
    }
    assert a == b


def test_salting_bounds_skew(spark, table_root):
    pages = generate_pages(spark, 6000, partitions=6)  # hot host = 30% of rows
    pipeline.run(spark, pages, table_root, n_chunks=1, num_partitions=12)
    lin = catalog.read_lineage(spark, table_root)
    ns = [r.n for r in lin.groupBy("partition_id").agg(F.sum("doc_count").alias("n")).collect()]
    assert max(ns) <= 2 * (sum(ns) / len(ns)), f"skew too high: {ns}"


def test_salting_bounds_pathological_skew(spark, table_root):
    """80% of the crawl on ONE host — the salt must still spread it."""
    pages = generate_pages(spark, 6000, partitions=6, hot_tenths=8)
    pipeline.run(spark, pages, table_root, n_chunks=1, num_partitions=12)
    lin = catalog.read_lineage(spark, table_root)
    ns = [r.n for r in lin.groupBy("partition_id").agg(F.sum("doc_count").alias("n")).collect()]
    assert len(ns) == 12  # hot host did NOT collapse to few partitions
    assert max(ns) <= 2 * (sum(ns) / len(ns)), f"skew too high: {ns}"


def test_merge_latest_wins(spark, table_root):
    """J4 reconcile semantics: a later run re-extracting a url subset
    supersedes the earlier rows at read time (exactly one row per url)."""
    pages = generate_pages(spark, 1000, partitions=4)
    pipeline.run(spark, pages, table_root, run_id="run-0001", n_chunks=1, num_partitions=4)
    subset = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
    n_subset = subset.count()
    pipeline.run(spark, subset, table_root, run_id="run-0002", n_chunks=1, num_partitions=4)

    raw = catalog.read_extracted(spark, table_root)
    assert raw.count() == 1000 + n_subset  # both runs' rows are on disk
    latest = catalog.read_extracted_latest(spark, table_root)
    assert latest.count() == 1000
    assert latest.select("url").distinct().count() == 1000
    assert latest.filter(F.col("run_id") == "run-0002").count() == n_subset


def test_cancel_and_resume(spark, table_root):
    """A cancel marker is checked before the invocation's job, so a
    cancelled submit extracts nothing; clearing it and re-running resumes
    from the committed chunks (reference cancel verb)."""
    import os

    pages = generate_pages(spark, 600, partitions=2)
    open(os.path.join(table_root, f"_CANCEL-run-0001"), "w").close()
    s1 = pipeline.run(spark, pages, table_root, n_chunks=2, num_partitions=4)
    assert s1.get("cancelled") and s1["chunks_done"] == 0

    os.remove(os.path.join(table_root, f"_CANCEL-run-0001"))
    s2 = pipeline.run(spark, pages, table_root, n_chunks=2, num_partitions=4)
    assert s2["chunks_done"] == 2
    assert catalog.read_extracted(spark, table_root).count() == 600


def test_compaction_preserves_table(spark, table_root):
    pages = generate_pages(spark, 1200, partitions=4)
    pipeline.run(spark, pages, table_root, n_chunks=2, num_partitions=8)
    before = catalog.load_manifest(table_root)
    rows_before = {r.url for r in catalog.read_extracted(spark, table_root).select("url").collect()}
    assert len(before["data_files"]) == 16  # 2 chunks x 8 partitions

    after = catalog.compact(spark, table_root, target_rows_per_file=1000)
    assert len(after["data_files"]) == 2  # 1200 rows / 1000 per file
    rows_after = {r.url for r in catalog.read_extracted(spark, table_root).select("url").collect()}
    assert rows_after == rows_before
    # resume state survives compaction: nothing reprocessed
    s = pipeline.run(spark, pages, table_root, n_chunks=2, num_partitions=8)
    assert s["chunks_done"] == 0 and s["chunks_skipped"] == 2


def test_lineage_counters(spark, table_root):
    pages = generate_pages(spark, 1000, partitions=4)
    pipeline.run(spark, pages, table_root, n_chunks=2, num_partitions=4)
    lin = catalog.read_lineage(spark, table_root)
    tot = lin.agg(
        F.sum("doc_count").alias("d"), F.sum("succeeded").alias("s"), F.sum("failed").alias("f")
    ).collect()[0]
    assert tot.d == 1000 and tot.s + tot.f == 1000 and tot.f > 0
    err = catalog.read_errors(spark, table_root)
    assert err.count() == tot.f
    assert set(lin.select("status").distinct().toPandas()["status"]) == {"complete"}

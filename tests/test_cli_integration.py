"""End-to-end CLI workflow test — models the reference's integration suite
(/root/reference/tests/integration/test_cli_integration.py): submit →
status → results → search → export → files against a real table."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from mistral_ocr_spark import cli


@pytest.fixture()
def table(spark):
    # `spark` fixture keeps the session alive; cli.get_spark() reuses it
    # via getOrCreate.
    root = tempfile.mkdtemp(prefix="ocr_cli_it_")
    yield f"{root}/tbl", root
    shutil.rmtree(root, ignore_errors=True)


def test_full_cli_workflow(table, capsys):
    tbl, root = table
    assert cli.main(["submit", "--table", tbl, "--generate", "400", "--chunks", "2"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 400

    assert cli.main(["status", "--table", tbl]) == 0
    out = capsys.readouterr().out
    assert "complete" in out and "run-0001" in out

    # pick a committed url, fetch its results
    from mistral_ocr_spark.sources import catalog
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    row = (
        catalog.read_extracted(spark, tbl)
        .filter("error_class IS NULL")
        .select("url")
        .first()
    )
    assert cli.main(["results", "--table", tbl, "--url", row.url]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["url"] == row.url and rec["text"]

    # missing url → exit 1 (reference: graceful, no traceback)
    assert cli.main(["results", "--table", tbl, "--url", "https://nope/x"]) == 1
    capsys.readouterr()

    assert cli.main(["search", "--table", tbl, "--query", "spark"]) == 0
    capsys.readouterr()

    dest = f"{root}/tree"
    assert cli.main(["export", "--table", tbl, "--dest", dest, "--limit", "25"]) == 0
    exported = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert exported["exported"] == 25
    assert any(f.endswith(".txt") for _d, _s, fs in os.walk(dest) for f in fs)

    assert cli.main(["files", "--table", tbl]) == 0
    manifest = json.loads(capsys.readouterr().out)
    assert manifest["committed_chunks"]["run-0001"] == [0, 1]


def test_cli_compact_and_registry(table, capsys):
    """Round-2 verbs: compact (table maintenance) and files --refresh
    (input registry) against a real table."""
    tbl, root = table
    # materialize a pages dir so --refresh has real input files
    from pyspark.sql import SparkSession

    from mistral_ocr_spark.sources.fixtures import generate_pages

    spark = SparkSession.getActiveSession()
    pages_dir = f"{root}/pages_in"
    generate_pages(spark, 300, partitions=3).write.mode("overwrite").parquet(pages_dir)

    assert cli.main(["submit", "--table", tbl, "--pages", pages_dir, "--chunks", "2"]) == 0
    capsys.readouterr()

    assert cli.main(["compact", "--table", tbl, "--target-rows", "1000"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["data_files_after"] <= out["data_files_before"]

    assert cli.main(["files", "--table", tbl, "--refresh", pages_dir]) == 0
    summary = json.loads(capsys.readouterr().out)
    reg = summary["input_registry"]["pages"]
    assert reg["n_files"] >= 3 and reg["n_rows"] == 300 and reg["bytes"] > 0


def test_cli_submit_stream(table, capsys):
    """submit --stream: streaming ingestion into the catalog table; the
    status verb reads the streamed lineage like any batch run's."""
    tbl, root = table
    from pyspark.sql import SparkSession

    from mistral_ocr_spark.sources.fixtures import generate_pages

    spark = SparkSession.getActiveSession()
    pages_dir = f"{root}/stream_in"
    generate_pages(spark, 200, partitions=2).write.mode("append").parquet(pages_dir)

    rc = cli.main(
        ["submit", "--table", tbl, "--pages", pages_dir, "--stream", "--run-id", "s-01"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"streamed": True, "run_id": "s-01", "docs": 200}

    assert cli.main(["status", "--table", tbl]) == 0
    assert "s-01" in capsys.readouterr().out


def test_cli_snapshots_expire_and_time_travel(table, capsys):
    tbl, root = table
    assert cli.main(["submit", "--table", tbl, "--generate", "150", "--chunks", "2"]) == 0
    capsys.readouterr()

    assert cli.main(["snapshots", "--table", tbl]) == 0
    snaps = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(snaps) == 2 and snaps[-1]["snapshot_id"] == 2

    # time-travel read at snapshot 1 (only chunk 0 committed)
    from mistral_ocr_spark.sources import catalog
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    s1_rows = catalog.read_extracted(spark, tbl, as_of=1).count()
    assert 0 < s1_rows < 150
    row = catalog.read_extracted(spark, tbl, as_of=1).select("url").first()
    assert cli.main(["results", "--table", tbl, "--url", row.url, "--as-of", "1"]) == 0
    capsys.readouterr()

    assert cli.main(["compact", "--table", tbl, "--target-rows", "1000"]) == 0
    capsys.readouterr()
    assert cli.main(["expire", "--table", tbl, "--keep-last", "1"]) == 0
    res = json.loads(capsys.readouterr().out.strip())
    assert res["expired_snapshots"] == 2 and res["retained"] == 1
    assert catalog.read_extracted_latest(spark, tbl).count() == 150


def test_cli_neardup_and_lm_verbs(table, capsys):
    """Round-5 surface: neardup-index / neardup (persisted MinHash tier)
    and lm-train / lm-score (CCNet perplexity triage) over a real table."""
    tbl, root = table
    assert cli.main(["submit", "--table", tbl, "--generate", "300", "--chunks", "1"]) == 0
    capsys.readouterr()

    idx = f"{root}/ndidx"
    assert cli.main([
        "neardup-index", "--table", tbl, "--index", idx,
        "--num-hashes", "32", "--bands", "16",
    ]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["docs"] > 0 and meta["bands"] == 16
    assert os.path.isdir(f"{idx}/meta") and os.path.isdir(f"{idx}/buckets")

    # the same table queried against its own index: exit 0, parseable
    # output, and every reported pair is a genuine >=threshold match with
    # distinct members (self-pairs excluded by the id_a < id_b canon)
    assert cli.main([
        "neardup", "--table", tbl, "--index", idx, "--threshold", "0.9", "--limit", "5",
    ]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    summary = json.loads(lines[-1])
    assert summary["threshold"] == 0.9
    for rec in (json.loads(x) for x in lines[:-1]):
        assert rec["a"] != rec["b"] and rec["jaccard"] >= 0.9

    lm = f"{root}/lm"
    assert cli.main(["lm-train", "--table", tbl, "--lm", lm, "--min-count", "2"]) == 0
    tmeta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tmeta["n_tokens"] > 0 and tmeta["vocab_size"] > 0

    assert cli.main(["lm-score", "--table", tbl, "--lm", lm, "--limit", "5"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    recs = [json.loads(x) for x in lines]
    assert recs[-1]["shown"] == len(recs) - 1 > 0
    ppls = [r["ppl"] for r in recs[:-1]]
    assert ppls == sorted(ppls, reverse=True)  # worst (gibberish) first


def test_cli_submit_with_robots_filter(table, capsys):
    """--robots drops disallowed pages before extraction: the committed
    doc count reflects the REP filter, and a disallowed url is absent."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mistral_ocr_spark.operators.urls import url_host
    from mistral_ocr_spark.sources.fixtures import generate_pages

    tbl, root = table
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    pages_dir = f"{root}/pages"
    generate_pages(spark, 200).write.mode("overwrite").parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    robots_dir = f"{root}/robots"
    (
        pages.select(url_host(F.col("url")).alias("host")).distinct()
        .withColumn("robots_txt", F.lit("User-agent: *\nDisallow: /page-1\n"))
        .write.mode("overwrite").parquet(robots_dir)
    )
    n_total = pages.count()
    n_blocked = pages.filter(
        F.regexp_extract("url", r"^[^/?#]*://[^/?#]*(.*)$", 1).startswith("/page-1")
    ).count()
    assert 0 < n_blocked < n_total  # the fixture actually exercises both sides

    assert cli.main([
        "submit", "--table", tbl, "--pages", pages_dir,
        "--robots", robots_dir, "--chunks", "1",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == n_total - n_blocked


def test_cli_ingest_dedups_against_table(table, capsys):
    """ingest appends only the batch's novel documents: re-crawled pages
    (same extracted text) drop against the committed corpus."""
    from pyspark.sql import SparkSession

    from mistral_ocr_spark.sources.fixtures import generate_pages

    tbl, root = table
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    first = f"{root}/pages1"
    generate_pages(spark, 200).write.mode("overwrite").parquet(first)
    assert cli.main(["submit", "--table", tbl, "--pages", first, "--chunks", "1"]) == 0
    base_stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert base_stats["docs"] == 200

    # batch 2 = the same 200 pages (deterministic generator prefix) + 100 new
    second = f"{root}/pages2"
    generate_pages(spark, 300).write.mode("overwrite").parquet(second)
    assert cli.main([
        "ingest", "--table", tbl, "--pages", second,
        "--run-id", "ingest-0001", "--chunks", "1",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["corpus_docs_before"] > 0
    # only the new tail ingests: every re-crawled page dropped as an
    # exact duplicate of committed content (error-class pages excluded
    # from both sides, so the count is <= 100 and > 0)
    assert 0 < stats["docs"] <= 100

    from mistral_ocr_spark.sources import catalog as cat
    total = (
        cat.read_extracted_latest(spark, tbl)
        .filter("error_class IS NULL")
        .count()
    )
    # no duplicate texts in the committed table after ingest
    from pyspark.sql import functions as F
    dups = (
        cat.read_extracted_latest(spark, tbl)
        .filter("error_class IS NULL AND length(text) > 0")
        .groupBy(F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))))
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0
    assert total >= 200


def test_cli_ingest_successive_batches_and_resume(table, capsys):
    """(1) Re-ingesting the SAME batch is a no-op (resume semantics);
    (2) a DIFFERENT later batch still commits (per-batch run ids — a
    fixed default would mark its chunks already-committed and silently
    drop it); (3) a batch carrying the same url twice commits at most
    one snapshot of it."""
    from pyspark.sql import SparkSession

    from mistral_ocr_spark.sources.fixtures import generate_pages

    tbl, root = table
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    first = f"{root}/pages1"
    generate_pages(spark, 150).write.mode("overwrite").parquet(first)
    assert cli.main(["submit", "--table", tbl, "--pages", first, "--chunks", "1"]) == 0
    capsys.readouterr()

    second = f"{root}/pages2"
    generate_pages(spark, 200).write.mode("overwrite").parquet(second)
    assert cli.main(["ingest", "--table", tbl, "--pages", second, "--chunks", "1"]) == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < s1["docs"] <= 50

    # same batch again -> nothing new (urls committed; run id resumes)
    assert cli.main(["ingest", "--table", tbl, "--pages", second, "--chunks", "1"]) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["docs"] == 0

    # a LATER batch must still commit under its own run id
    third = f"{root}/pages3"
    generate_pages(spark, 230).write.mode("overwrite").parquet(third)
    assert cli.main(["ingest", "--table", tbl, "--pages", third, "--chunks", "1"]) == 0
    s3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < s3["docs"] <= 30

    # duplicate urls within one batch: at most one snapshot commits
    fourth = f"{root}/pages4"
    p = generate_pages(spark, 245)
    p.unionByName(p).write.mode("overwrite").parquet(fourth)
    assert cli.main(["ingest", "--table", tbl, "--pages", fourth, "--chunks", "1"]) == 0
    s4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < s4["docs"] <= 15

    from pyspark.sql import functions as F
    from mistral_ocr_spark.sources import catalog as cat
    per_url = (
        cat.read_extracted(spark, tbl)
        .groupBy("url").count().filter("count > 1").count()
    )
    assert per_url == 0  # no url ever committed twice across the runs


@pytest.mark.parametrize("verb", ["submit", "ingest"])
def test_cli_reads_pages_without_a_job(table, monkeypatch, verb):
    """submit and ingest scan ``--pages`` with the declared pages schema:
    the read itself runs no Spark job (an inferred-schema parquet read runs
    one). The read is intercepted and the verb stopped right after it."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameReader

    from mistral_ocr_spark.sources.fixtures import generate_pages

    tbl, root = table
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    pages = f"{root}/pages"
    generate_pages(spark, 20, partitions=2).write.parquet(pages)

    class PagesRead(Exception):
        pass

    sc = spark.sparkContext
    group = f"test-cli-{verb}-pages-read"
    real_parquet = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        if paths != (pages,):
            return real_parquet(self, *paths, **options)
        sc.setJobGroup(group, f"{verb} reads --pages")
        try:
            real_parquet(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        raise PagesRead

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    with pytest.raises(PagesRead):
        cli.main([verb, "--table", tbl, "--pages", pages])
    assert sc.statusTracker().getJobIdsForGroup(group) == []

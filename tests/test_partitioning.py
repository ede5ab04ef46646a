"""The partition-width policy (``mistral_ocr_spark.session``): ``spread``
widens a narrow input to ``partition_width`` without running a Spark job,
leaves a wide one alone, and no other module decides a width itself."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from mistral_ocr_spark.session import partition_width, spread

PKG = pathlib.Path(__file__).resolve().parent.parent / "mistral_ocr_spark"


def _single_file_scan(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string")).alias("url"),
        F.lit("some words of text").alias("text"),
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_spread_widens_a_single_file_scan(spark, tmp_path):
    df = _single_file_scan(spark, tmp_path)
    assert df.rdd.getNumPartitions() == 1
    assert spread(df).rdd.getNumPartitions() == partition_width(spark)


def test_spread_leaves_a_wide_input_alone(spark):
    wide = spark.range(100).repartition(2 * partition_width(spark))
    assert spread(wide) is wide


def test_spread_on_a_shuffled_input_runs_no_job(spark, tmp_path):
    """The ``catalog.read_extracted_latest`` shape: a window over the scan,
    keeping the latest row per url. Counting its partitions through
    ``.rdd`` would run the window's shuffle map stage as a job."""
    df = _single_file_scan(spark, tmp_path)
    latest = (
        df.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("url").orderBy(F.desc("doc_id")))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sc = spark.sparkContext
    group = "test-spread-shuffled-input"
    sc.setJobGroup(group, "spread on a window input")
    try:
        spread(latest)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 0


def _policy_violations(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in (
            "defaultParallelism",
            "getNumPartitions",
        ):
            yield node.lineno, node.attr
        elif isinstance(node, ast.Name) and node.id == "ensure_min_parallelism":
            yield node.lineno, node.id
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name == "ensure_min_parallelism":
                yield node.lineno, node.name
            for imp in ast.walk(node):
                if isinstance(imp, ast.ImportFrom) and imp.module == "mistral_ocr_spark.session":
                    yield imp.lineno, f"function-local import in {node.name}()"
        elif isinstance(node, ast.alias) and node.name == "ensure_min_parallelism":
            yield node.lineno, node.name


def test_partition_width_is_decided_only_in_session():
    """Outside ``session.py`` no module reads ``defaultParallelism`` or
    counts partitions, ``ensure_min_parallelism`` is gone, and the policy
    is imported at module level."""
    found = [
        f"{py.relative_to(PKG.parent)}:{line} {what}"
        for py in sorted(PKG.rglob("*.py"))
        if py.name != "session.py"
        for line, what in _policy_violations(ast.parse(py.read_text()))
    ]
    assert not found, "partition-width decisions outside session.py:\n" + "\n".join(found)

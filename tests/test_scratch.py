"""Scratch tables (``mistral_ocr_spark.scratch``): results that read their
scratch parquet lazily must survive a later call sharing the same
``scratch_dir``, and no module may hand-roll a write-then-read-back pair
outside the one primitive."""

from __future__ import annotations

import ast
import pathlib

import pytest

from mistral_ocr_spark.operators.dedup import minhash_lsh_pairs
from mistral_ocr_spark.operators.graph import connected_components, pagerank
from mistral_ocr_spark.scratch import materialize

PKG = pathlib.Path(__file__).resolve().parent.parent / "mistral_ocr_spark"


def _cc(spark, variant, d):
    pairs = [(1, 2), (2, 3), (10, 11)] if variant == 0 else [(5, 6), (6, 7), (7, 8), (30, 9)]
    return connected_components(spark.createDataFrame(pairs, ["id_a", "id_b"]), scratch_dir=d)


def _pagerank(spark, variant, d):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")] if variant == 0 else [
        ("x", "y"), ("y", "x"), ("z", "x")
    ]
    return pagerank(spark.createDataFrame(edges, ["src_host", "dst_host"]), scratch_dir=d)


def _minhash(spark, variant, d):
    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    other = "a completely different sentence about spark scratch tables and parquet files"
    texts = [base, base + " again", other] if variant == 0 else [other, other + " too", base]
    docs = spark.createDataFrame(
        [(i + 10 * variant, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return minhash_lsh_pairs(docs, threshold=0.5, scratch_dir=d, spread_input=False)


@pytest.mark.parametrize(
    "run", [_cc, _pagerank, _minhash], ids=["connected_components", "pagerank", "minhash_lsh_pairs"]
)
def test_second_call_sharing_scratch_dir_keeps_first_result(spark, tmp_path, run):
    d = str(tmp_path / "scratch")
    first = run(spark, 0, d)
    expected = sorted(first.collect())
    assert expected
    second = run(spark, 1, d)
    assert sorted(second.collect()) != expected
    # a FRESH projection: re-collecting `first` itself would reuse its
    # finished shuffle stages and never re-read the scratch files
    assert sorted(first.select(*first.columns).collect()) == expected


def _jobs_in_group(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_materialize_read_back_runs_no_job(spark, tmp_path):
    """``materialize`` runs its write's jobs and no more: the read-back
    carries the written schema, where an inferring read runs a job to read
    the parquet footers. The schema is the one inference gives, also for a
    non-nullable column."""
    df = spark.createDataFrame([(1, "a"), (2, None)], "id long not null, s string")
    write_jobs = _jobs_in_group(
        spark, "test-scratch-write", lambda: df.write.parquet(str(tmp_path / "w"))
    )
    out = []
    path = str(tmp_path / "m")
    materialize_jobs = _jobs_in_group(
        spark, "test-scratch-materialize", lambda: out.append(materialize(df, path))
    )
    assert write_jobs >= 1
    assert materialize_jobs == write_jobs
    assert out[0].schema == spark.read.parquet(path).schema
    assert sorted(out[0].collect()) == sorted(df.collect())


def _chain(node: ast.AST) -> list[str]:
    """Attribute names along a method chain such as ``df.write.mode(..)``."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            names.append(node.attr)
            node = node.value
    return names


def _write_read_pairs(tree: ast.AST):
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        writes, reads = set(), set()
        for call in ast.walk(fn):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "parquet"
                and call.args
            ):
                continue
            chain = _chain(call.func.value)
            path = ast.unparse(call.args[0])
            if "write" in chain and "partitionBy" not in chain:
                writes.add(path)
            elif "read" in chain:
                reads.add(path)
        for path in sorted(writes & reads):
            yield fn.name, fn.lineno, path


def test_no_hand_written_write_then_read_back():
    """A plain parquet write read back by the same function belongs to
    ``scratch.materialize`` (``partitionBy`` index writes are exempt)."""
    found = [
        f"{py.relative_to(PKG.parent)}:{line} {name}() {path}"
        for py in sorted(PKG.rglob("*.py"))
        if py.name != "scratch.py"
        for name, line, path in _write_read_pairs(ast.parse(py.read_text()))
    ]
    assert not found, "write-then-read-back outside scratch.py:\n" + "\n".join(found)

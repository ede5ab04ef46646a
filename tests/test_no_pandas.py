"""Arrow kernels never import pandas.

pyarrow imports pandas on a process's first ``pa.array`` / ``pa.scalar`` /
``Array.to_numpy`` call, which costs a Python worker ~35 MB of resident
memory and ~0.29 s of CPU. Every Python kernel of the package is a
``mapInArrow`` kernel that goes through ``mistral_ocr_spark.arrowcols``
instead. Four guards:

- each kernel, unpickled and run in a fresh interpreter that has imported
  only ``pyspark.worker``, leaves ``pandas`` out of ``sys.modules``;
- a real worker that ran ``extract_pages`` reports pandas absent;
- no module with a ``mapInArrow`` kernel calls the importing APIs;
- no module imports pandas or runs a ``mapInPandas`` kernel, except the
  streaming state store, whose ``applyInPandasWithState`` has no Arrow form.
"""

from __future__ import annotations

import ast
import functools
import gzip
import json
import os
import pathlib
import subprocess
import sys
import types

import numpy as np
import pyarrow as pa
import pytest
from pyspark import cloudpickle

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "mistral_ocr_spark"

# What a Python worker does with a task: unpickle the kernel, read Arrow
# batches off a stream, run the kernel over them.
_WORKER = r"""
import json, pickle, sys
import pyspark.worker  # everything a worker imports before its first task
import pyarrow as pa

kernel, stream = pickle.loads(sys.stdin.buffer.read())
rows = sum(b.num_rows for b in kernel(iter(pa.ipc.open_stream(stream))))
print(json.dumps({"rows": rows, "pandas": "pandas" in sys.modules}))
"""


def _ipc(batch: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _run_in_fresh_worker(kernel, batch: pa.RecordBatch) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER],
        input=cloudpickle.dumps((kernel, _ipc(batch))),
        capture_output=True,
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=str(ROOT)),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    return json.loads(proc.stdout.decode().strip().splitlines()[-1])


def _pages_batch(n: int = 40) -> pa.RecordBatch:
    from mistral_ocr_spark.sources.fixtures import _gen_batches

    ids = pa.RecordBatch.from_arrays([pa.array(range(n), pa.int64())], names=["id"])
    return next(_gen_batches(iter([ids])))


def _extract():
    from mistral_ocr_spark.operators.extract import extract_batches

    return extract_batches, _pages_batch()


def _normalize():
    from mistral_ocr_spark.operators.normalize import _normalize_fn

    batch = pa.RecordBatch.from_arrays(
        [pa.array(["café", None, "ﬁ"], pa.string())], names=["text"]
    )
    return _normalize_fn(0, "NFKC", "norm", replace=False), batch


def _warc():
    from mistral_ocr_spark.sources.warc import warc_record_batches

    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    record = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://h/x\r\n"
        b"WARC-Date: 2020-01-01T00:00:00Z\r\nContent-Length: %d\r\n\r\n" % len(payload)
        + payload
        + b"\r\n\r\n"
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], pa.int64()), pa.array([gzip.compress(record), None], pa.binary())],
        names=["src_id", "warc"],
    )
    return warc_record_batches, batch


def _fixtures():
    from mistral_ocr_spark.sources.fixtures import _gen_batches

    ids = pa.RecordBatch.from_arrays([pa.array(range(30), pa.int64())], names=["id"])
    return functools.partial(_gen_batches, hot_tenths=3, paras_mult=1), ids


def _word_lists(rng, n_rows):
    return [None if i == 3 else rng.integers(0, 1 << 32, size=i % 9).tolist() for i in range(n_rows)]


def _minhash():
    from mistral_ocr_spark.operators.dedup import _minhash_batch_fn

    rng = np.random.default_rng(1)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(20), pa.int64()), pa.array(_word_lists(rng, 20), pa.list_(pa.int64()))],
        names=["id", "sh_hash"],
    )
    return _minhash_batch_fn(8), batch


def _simhash():
    from mistral_ocr_spark.operators.dedup import _simhash_batch_fn

    rng = np.random.default_rng(2)
    lo, hi = _word_lists(rng, 20), _word_lists(rng, 20)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(range(20), pa.int64()),
            pa.array(lo, pa.list_(pa.int64())),
            pa.array(hi, pa.list_(pa.int64())),
        ],
        names=["id", "wlo", "whi"],
    )
    return _simhash_batch_fn(), batch


def _simhash_buckets():
    from mistral_ocr_spark.operators.dedup import _simhash_bucket_pair_fn

    member = pa.struct([("id", pa.int64()), ("sim_lo", pa.int64()), ("sim_hi", pa.int64())])
    buckets = [
        [{"id": b * 100 + j, "sim_lo": 7 ^ (j & 1), "sim_hi": 9} for j in range(n)]
        for b, n in enumerate([2, 3, 70])
    ]
    batch = pa.RecordBatch.from_arrays([pa.array(buckets, pa.list_(member))], names=["members"])
    return _simhash_bucket_pair_fn(6), batch


def _semdedup():
    from mistral_ocr_spark.operators.similarity import _semdedup_cluster_fn

    member = pa.struct(
        [("vec_id", pa.int64()), ("_u", pa.list_(pa.float64())), ("cent_sim", pa.float64())]
    )
    clusters = [
        [{"vec_id": c * 10 + j, "_u": [1.0, 0.0] if j % 2 else [0.0, 1.0], "cent_sim": 0.5}
         for j in range(4)]
        for c in range(3)
    ]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(3), pa.int32()), pa.array(clusters, pa.list_(member))],
        names=["centroid_id", "members"],
    )
    return _semdedup_cluster_fn(0.9), batch


def _quality_clf_gradient():
    from mistral_ocr_spark.operators.quality_clf import _grad_fn

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1.0, 0.0, 1.0], pa.float64()),
            pa.array([[0, 3], [], [5]], pa.list_(pa.int64())),
            pa.array([[0.5, 0.5], [], [1.0]], pa.list_(pa.float64())),
        ],
        names=["_y", "_bs", "_xs"],
    )
    model = types.SimpleNamespace(value=(np.zeros(8), 0.0))  # stands in for the broadcast
    return _grad_fn(model, 8), batch


def _hash_batch(names=("_bh1", "_bh2")) -> pa.RecordBatch:
    rng = np.random.default_rng(3)
    h = rng.integers(-(1 << 63), (1 << 63) - 1, size=(2, 50), dtype=np.int64)
    return pa.RecordBatch.from_arrays([pa.array(h[0]), pa.array(h[1])], names=list(names))


def _bloom_fold():
    from mistral_ocr_spark.operators.bloom import _bitmap_fold_fn

    return _bitmap_fold_fn(1024, 3, "_bh1", "_bh2"), _hash_batch()


def _bloom_or():
    from mistral_ocr_spark.operators.bloom import _or_fold_fn

    batch = pa.RecordBatch.from_arrays([pa.array([b"\x01" * 16, b"\x02" * 16])], names=["bitmap"])
    return _or_fold_fn(16), batch


def _bloom_probe():
    from pyspark.sql import types as T

    from mistral_ocr_spark.operators.bloom import BloomFilter, _probe_fn

    hashes = _hash_batch()
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"k{i}" for i in range(50)]), pa.array([i % 2 for i in range(50)], pa.int8()),
         *hashes.columns],
        names=["key", "_bknull", "_bh1", "_bh2"],
    )
    out = T.StructType([T.StructField("key", T.StringType()), T.StructField("hit", T.BooleanType(), False)])
    return _probe_fn(BloomFilter(bitmap=b"\x5a" * 128, n_bits=1024, n_hashes=3), out), batch


def _sketches():
    from mistral_ocr_spark.operators.sketches import _mg_partition_fn

    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"w{i % 7}" if i % 11 else None for i in range(60)])], names=["_item"]
    )
    return _mg_partition_fn(3, "_item"), batch


def _vectors(n=30, dim=8) -> pa.Array:
    rows = np.random.default_rng(4).normal(size=(n, dim)).tolist()
    return pa.array(rows, pa.list_(pa.float64()))


def _plane_signatures():
    from mistral_ocr_spark.operators.similarity import _hyperplanes, _plane_sig_fn

    batch = pa.RecordBatch.from_arrays([pa.array(range(30), pa.int64()), _vectors()], names=["vec_id", "v"])
    return _plane_sig_fn(_hyperplanes(8, 40)), batch


def _ivf_assign():
    from mistral_ocr_spark.operators.similarity import _assign_fn

    batch = pa.RecordBatch.from_arrays([pa.array(range(30), pa.int64()), _vectors()], names=["vec_id", "v"])
    return _assign_fn(np.eye(4, 8)), batch


def _ivf_partials():
    from mistral_ocr_spark.operators.similarity import _ivf_partials_fn

    return _ivf_partials_fn(np.eye(4, 8)), pa.RecordBatch.from_arrays([_vectors()], names=["v"])


def _quality_clf_features():
    from mistral_ocr_spark.operators.quality_clf import _train_features_fn

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1.0, 0.0, 1.0]), pa.array(["the cat sat", None, "  "])], names=["_y", "_t"]
    )
    return _train_features_fn(64, "salt"), batch


def _tokenizer():
    from mistral_ocr_spark.operators.tokenizer import _encode_fn

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], pa.int64()), pa.array(["the cat sat", None, "that"])],
        names=["doc_id", "text"],
    )
    schema = "doc_id bigint, tokens array<string>, n_bpe long"
    return _encode_fn([("t", "h"), ("th", "e</w>")], schema), batch


def _robots():
    from mistral_ocr_spark.operators.robots import _rules_fn

    txt = "User-agent: *\nDisallow: /private\nAllow: /private/ok$\n"
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["A.example", "b.example", None]), pa.array([txt, None, txt])],
        names=["host", "robots_txt"],
    )
    return _rules_fn("*"), batch


def _multimodal():
    from mistral_ocr_spark.operators.multimodal import _feature_batches

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], pa.int64()), pa.array([b"abc", b"x" * 1000])], names=["media_id", "payload"]
    )
    return _feature_batches, batch


def _sitemap():
    from mistral_ocr_spark.sources.sitemap import _entry_batches

    urlset = b"<urlset><url><loc>https://a/</loc><priority>0.5</priority></url></urlset>"
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, None, 3], pa.int64()), pa.array([gzip.compress(urlset), urlset, None])],
        names=["src_id", "payload"],
    )
    return _entry_batches, batch


_KERNELS = [
    _extract,
    _normalize,
    _warc,
    _fixtures,
    _minhash,
    _simhash,
    _simhash_buckets,
    _semdedup,
    _quality_clf_gradient,
    _bloom_fold,
    _bloom_or,
    _bloom_probe,
    _sketches,
    _plane_signatures,
    _ivf_assign,
    _ivf_partials,
    _quality_clf_features,
    _tokenizer,
    _robots,
    _multimodal,
    _sitemap,
]


@pytest.mark.parametrize("make", _KERNELS, ids=lambda f: f.__name__.strip("_"))
def test_kernel_runs_in_a_fresh_worker_without_pandas(make):
    kernel, batch = make()
    got = _run_in_fresh_worker(kernel, batch)
    assert got["rows"] > 0
    assert got["pandas"] is False


_PROBE_SESSION = r"""
import json, sys
from mistral_ocr_spark.operators.extract import extract_pages
from mistral_ocr_spark.session import get_spark
from mistral_ocr_spark.sources.fixtures import generate_pages

spark = get_spark(app_name="no-pandas-probe", master="local[1]", shuffle_partitions=1)
extract_pages(generate_pages(spark, 60, partitions=1)).write.format("noop").mode(
    "overwrite"
).save()


def probe(batches):
    import sys
    import pyarrow as pa

    def flag(b):  # a 1-row bool column, built without pa.array
        return pa.Array.from_buffers(pa.bool_(), 1, [None, pa.py_buffer(bytes([b]))])

    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays(
        [flag("pandas" in sys.modules), flag("mistral_ocr_spark.operators.extract" in sys.modules)],
        names=["pandas", "ran_extract"],
    )


# one task slot and a first-in-first-out idle pool: successive probe tasks
# visit each idle worker in turn, the page generator's and the extractor's
rows = spark.range(4, numPartitions=4).mapInArrow(
    probe, "pandas boolean, ran_extract boolean"
).collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def test_worker_that_ran_extract_pages_has_no_pandas():
    """Probe tasks run on the reused workers of an ``extract_pages`` job in
    a fresh ``local[1]`` session; ``ran_extract`` shows a probe reached the
    worker that ran the extraction kernel."""
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE_SESSION],
        capture_output=True,
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=str(ROOT)),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert any(r["ran_extract"] for r in got)
    assert not any(r["pandas"] for r in got)


_PA_IMPORTING = {"array", "table", "scalar", "repeat"}
_ANY_IMPORTING = {"to_numpy", "from_pylist"}


def _importing_calls(tree: ast.AST):
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if f.attr in _ANY_IMPORTING or (
            f.attr in _PA_IMPORTING and isinstance(f.value, ast.Name) and f.value.id == "pa"
        ):
            yield node.lineno, ast.unparse(f)


def _kernel_modules() -> list[pathlib.Path]:
    return sorted(
        p
        for p in PKG.rglob("*.py")
        if p.name != "arrowcols.py" and ".mapInArrow(" in p.read_text()
    )


def test_kernel_modules_build_columns_only_through_the_helper():
    modules = _kernel_modules()
    assert {p.name for p in modules} >= {
        "extract.py", "normalize.py", "warc.py", "fixtures.py",
        "dedup.py", "similarity.py", "quality_clf.py", "bloom.py",
        "sketches.py", "tokenizer.py", "robots.py", "multimodal.py", "sitemap.py",
    }
    found = [
        f"{p.relative_to(ROOT)}:{line} {call}"
        for p in modules
        for line, call in _importing_calls(ast.parse(p.read_text()))
    ]
    assert found == []


# applyInPandasWithState has no Arrow form in PySpark 4.1 (transformWithState
# needs google.protobuf), so the streaming state store alone keeps pandas
_PANDAS_ALLOWED = {PKG / "streaming" / "stateful.py"}


def _pandas_uses(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        elif isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
            yield node.lineno, "mapInPandas"
            continue
        else:
            continue
        for name in names:
            if name.split(".")[0] == "pandas":
                yield node.lineno, f"import {name}"


def test_package_has_one_python_kernel_boundary():
    assert all(p.exists() for p in _PANDAS_ALLOWED)
    found = [
        f"{p.relative_to(ROOT)}:{line} {use}"
        for p in sorted(PKG.rglob("*.py"))
        if p not in _PANDAS_ALLOWED
        for line, use in _pandas_uses(ast.parse(p.read_text()))
    ]
    assert found == []

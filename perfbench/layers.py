"""Per-layer metrics of a traced run.

Three sources, all outside the package:

- Spark's uncompressed event log. Every job carries the description the
  benchmark set around its call (``submit``, ``lookup``, ``corpus.cleaned``
  ...); inside ``submit`` a stage is attributed by its operators: the
  MapInArrow stage is the extract kernel (it also sorts and writes the
  chunk), aggregate stages are lineage, the rest is the scan and its
  repartition exchange.
- The ``perf`` Python UDF profiler (cProfile of each ``mapInArrow`` kernel).
- Single-process calls to the extractor's phase functions on a sample of
  the workload's own pages.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time

from pages import BOMB_URL

# name -> unit of every per-layer metric; a metric whose layer the workload
# does not run reads 0.
METRICS = {
    "extractor.decode.us_per_doc": "us",
    "extractor.parser.us_per_doc": "us",
    "extractor.classify.us_per_doc": "us",
    "extractor.render.us_per_doc": "us",
    "extractor.pdf.us_per_doc": "us",
    "extractor.docs_per_s_1core": "1/s",
    "pipeline.op_wall_ms": "ms",
    "pipeline.docs_per_s": "1/s",
    "pipeline.parallel_eff": "ratio",
    "pipeline.driver_gap_s": "s/op",
    "pipeline.resume_s": "s",
    "extract_kernel.busy_s": "s/op",
    "extract_kernel.cpu_s": "s/op",
    "extract_kernel.python_s": "s/op",
    "extract_kernel.boundary_frac": "ratio",
    "extract_kernel.arrow_bytes": "B/op",
    "repartition.shuffle_write_bytes": "B/op",
    "repartition.fetch_wait_s": "s/op",
    "repartition.partition_skew": "ratio",
    "scan.input_bytes": "B/op",
    "scan.busy_s": "s/op",
    "sink.output_bytes": "B/op",
    "sink.files": "count/op",
    "sink.busy_s": "s/op",
    "lineage.busy_s": "s/op",
    "catalog.commit_s": "s/op",
    "catalog.commits": "count/op",
    "catalog.manifest_bytes": "B",
    "catalog.read_plan_ms": "ms",
    "catalog.data_files": "count",
    "catalog.lookup_bytes_read": "B/op",
    "catalog.search_bytes_read": "B/op",
    "catalog.lookup_p50_ms": "ms",
    "catalog.search_p50_ms": "ms",
    "corpus.extracted_s": "s/op",
    "corpus.cleaned_s": "s/op",
    "corpus.quality_s": "s/op",
    "corpus.write_s": "s/op",
    "corpus.extracted_rows": "count",
    "corpus.after_exact_dedup_rows": "count",
    "corpus.after_line_dedup_rows": "count",
    "corpus.after_quality_rows": "count",
    "corpus.scratch_bytes": "B",
    "spark.jobs": "count/op",
    "spark.tasks": "count/op",
    "spark.scheduler_delay_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.spill_bytes": "B/op",
    "spark.peak_exec_mem_mb": "MB",
    "trace.accounted_frac": "ratio",
    "trace_overhead_frac": "ratio",
}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def load_stages(event_dir: str, since: float) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) submitted after ``since`` (epoch seconds), each stage
    with its job's description, operator names, interval and task metrics."""
    files = sorted(glob.glob(os.path.join(event_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs, stage_desc, stages, tasks = [], {}, {}, {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    jobs.append({"id": e["Job ID"], "desc": desc, "start": e["Submission Time"] / 1e3})
                    for sid in e["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["id"] == e["Job ID"]:
                            j["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    names = set()
                    for rdd in si.get("RDD Info", []):
                        if rdd.get("Scope"):
                            names.add(json.loads(rdd["Scope"])["name"].strip())
                    stages[si["Stage ID"]] = {
                        "id": si["Stage ID"], "names": names,
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3}
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    tasks.setdefault(e["Stage ID"], []).append(_task(e))
    jobs = [j for j in jobs if j["start"] >= since and "end" in j and j["desc"] not in (None, "warm")]
    keep = []
    for sid, st in sorted(stages.items()):
        st["desc"] = stage_desc.get(sid)
        st["tasks"] = tasks.get(sid, [])
        if st["start"] >= since and st["desc"] not in (None, "warm"):
            keep.append(st)
    return jobs, keep


def _task(e: dict) -> dict:
    m, info = e["Task Metrics"], e["Task Info"]
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    duration = info["Finish Time"] - info["Launch Time"]
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})

    def num(name):
        try:
            return float(acc.get(name) or 0)
        except ValueError:
            return 0.0

    return {
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "delay_s": max(0, duration - m.get("Executor Run Time", 0) - m.get("Executor Deserialize Time", 0)
                       - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)) / 1e3,
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "shuffle_records": sr.get("Total Records Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "python_s": num("time to run Python workers") / 1e3,
        "arrow_bytes": num("data sent to Python workers") + num("data returned from Python workers"),
        "commit_s": num("task commit time") / 1e3,
    }


def layer_of(stage: dict) -> str:
    desc, names = stage["desc"], stage["names"]
    if desc != "submit":
        return desc
    if "MapInArrow" in names:
        return "extract_kernel"
    if any("Aggregate" in n for n in names):
        return "lineage"
    return "scan"


# ---------------------------------------------------------------------------
# profiles and extractor phases
# ---------------------------------------------------------------------------


def kernel_profile(profile_dir: str) -> tuple[float, float]:
    """(seconds inside extract_batches, seconds inside extract()) summed
    over every dumped ``perf`` profile."""
    batches = inner = 0.0
    for path in glob.glob(os.path.join(profile_dir, "*.pstats")):
        for (filename, _line, func), (_cc, _nc, _tt, ct, _callers) in pstats.Stats(path).stats.items():
            # the profiler records bare file names: operators/extract.py, extractor/core.py
            if func == "extract_batches" and os.path.basename(filename) == "extract.py":
                batches += ct
            elif func == "extract" and os.path.basename(filename) == "core.py":
                inner += ct
    return batches, inner


def extractor_phases(pages, sample: int) -> dict[str, float]:
    """Per-phase self time of the extractor, us per document, from
    single-process calls on a stride sample of the pages. Bomb PDFs are
    timed one by one and weighted by their true count, so a handful of
    them neither vanishes from nor swamps the sample."""
    from mistral_ocr_spark.extractor import extract
    from mistral_ocr_spark.extractor.classify import classify
    from mistral_ocr_spark.extractor.decode import decode_html
    from mistral_ocr_spark.extractor.parser import parse_document
    from mistral_ocr_spark.extractor.pdf import PDF_MAGIC, extract_pdf_text, is_encrypted_pdf
    from mistral_ocr_spark.extractor.render import render

    urls = pages.column("url").to_pylist()
    htmls = pages.column("html").to_pylist()
    fbs = pages.column("text").to_pylist()
    bombs = [i for i, u in enumerate(urls) if u.startswith(BOMB_URL)]
    regular = [i for i, u in enumerate(urls) if not u.startswith(BOMB_URL)]
    picked = regular[:: max(1, len(regular) // sample)]
    weighted = [(i, len(regular) / len(picked)) for i in picked] + [(i, 1.0) for i in bombs]
    phase = dict.fromkeys(("decode", "parser", "classify", "render", "pdf"), 0.0)
    whole = 0.0
    clock = time.perf_counter
    for i, w in weighted:
        html = htmls[i]
        t = clock()
        extract(html, fbs[i])
        whole += (clock() - t) * w
        if html is None or not html.strip():
            continue
        if html[:5] == PDF_MAGIC:
            t = clock()
            if not is_encrypted_pdf(html):
                extract_pdf_text(html)
            phase["pdf"] += (clock() - t) * w
            continue
        t0 = clock()
        decoded, _enc = decode_html(html)
        t1 = clock()
        blocks, _images = parse_document(decoded)
        t2 = clock()
        content = [b for b in classify(blocks) if b.is_content]
        t3 = clock()
        if content:
            render(content)
        t4 = clock()
        for name, dt in (("decode", t1 - t0), ("parser", t2 - t1), ("classify", t3 - t2),
                         ("render", t4 - t3)):
            phase[name] += dt * w
    n = len(urls)
    out = {f"extractor.{k}.us_per_doc": v / n * 1e6 for k, v in phase.items()}
    out["extractor.docs_per_s_1core"] = n / whole
    return out


# ---------------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------------


def _is_op(desc: str) -> bool:
    """Jobs of the timed operation: a submit, or a corpus build and its
    checkpoints."""
    return desc == "submit" or desc.split(".")[0] == "corpus"


def per_layer(workload, ctx, untraced: tuple[list, list], traced: tuple[list, list],
              since: float, profile_dir: str) -> dict:
    """Every metric in METRICS for one traced run. ``untraced`` and
    ``traced`` are each (loop operations, operations after the loop);
    tracing starts at ``since``. Per-op values count only the jobs of the
    traced loop's operations."""
    (untraced_ops, untraced_after), (traced_ops, traced_after) = untraced, traced
    out = dict.fromkeys(METRICS, 0.0)
    out.update(extractor_phases(workload.pages, workload.size["phase_sample"]))
    n_ops = len(traced_ops)
    jobs, stages = load_stages(ctx.event_dir, since)
    op_jobs = [j for j in jobs if _is_op(j["desc"])]
    op_stages = [st for st in stages if _is_op(st["desc"])]
    done = [s for s in ctx.spans.records if s["start"] >= since and s["end"] is not None]
    op_spans = [s for s in done if "index" in s]
    wall = sum(s["end"] - s["start"] for s in op_spans)
    gap = sum((s["end"] - s["start"])
              - _union(_clip([(j["start"], j["end"]) for j in op_jobs], s["start"], s["end"]))
              for s in op_spans)

    by_layer: dict[str, list[dict]] = {}
    for st in op_stages:
        by_layer.setdefault(layer_of(st), []).append(st)
    busy = {k: _union([(st["start"], st["end"]) for st in v]) for k, v in by_layer.items()}

    def total(key, layer=None, among=op_stages):
        return sum(t[key] for st in among if layer is None or layer_of(st) == layer
                   for t in st["tasks"])

    # the kernel runs inside "submit" and inside the corpus checkpoint alike
    kernel = [st for st in op_stages if "MapInArrow" in st["names"]]
    skews = []
    for st in kernel:
        rows = [t["shuffle_records"] for t in st["tasks"]]
        if rows and statistics.median(rows) > 0:
            skews.append(max(rows) / statistics.median(rows))
    py_batches, py_inner = kernel_profile(profile_dir)
    op_tasks = [t for st in op_stages for t in st["tasks"]]
    out.update({
        "pipeline.driver_gap_s": gap / n_ops,
        "extract_kernel.busy_s": _union([(st["start"], st["end"]) for st in kernel]) / n_ops,
        "extract_kernel.cpu_s": total("cpu_s", among=kernel) / n_ops,
        "extract_kernel.python_s": total("python_s", among=kernel) / n_ops,
        "extract_kernel.boundary_frac": (1 - py_inner / py_batches) if py_batches else 0.0,
        "extract_kernel.arrow_bytes": total("arrow_bytes", among=kernel) / n_ops,
        "repartition.shuffle_write_bytes": total("shuffle_write", "scan") / n_ops,
        "repartition.fetch_wait_s": total("fetch_wait_s", among=kernel) / n_ops,
        "repartition.partition_skew": statistics.mean(skews) if skews else 0.0,
        "scan.input_bytes": total("input", "scan") / n_ops,
        "scan.busy_s": busy.get("scan", 0.0) / n_ops,
        "sink.output_bytes": total("output", "extract_kernel") / n_ops,
        "sink.busy_s": total("commit_s", "extract_kernel") / n_ops,
        "lineage.busy_s": busy.get("lineage", 0.0) / n_ops,
        "spark.jobs": len(op_jobs) / n_ops,
        "spark.tasks": len(op_tasks) / n_ops,
        "spark.scheduler_delay_s": total("delay_s") / n_ops,
        "spark.gc_s": total("gc_s") / n_ops,
        "spark.spill_bytes": total("spill") / n_ops,
        "spark.peak_exec_mem_mb": max((t["peak_mem"] for t in op_tasks), default=0) / 1e6,
        "trace.accounted_frac": (sum(busy.values()) + gap) / wall,
        "trace_overhead_frac": (statistics.median(r.seconds for r in traced_ops)
                                / statistics.median(r.seconds for r in untraced_ops) - 1),
    })

    def inside_ops(s):
        return any(o["start"] <= s["start"] and s["end"] <= o["end"] for o in op_spans)

    def span_total(name):
        return sum(s["end"] - s["start"] for s in done if s["name"] == name and inside_ops(s))

    commits = [s for s in done if s["name"] == "catalog.commit" and inside_ops(s)]
    plans = [(s["end"] - s["start"]) * 1e3 for s in done if s["name"] == "catalog.read_plan"]
    out.update({
        "catalog.commit_s": span_total("catalog.commit") / n_ops,
        "catalog.commits": len(commits) / n_ops,
        "catalog.read_plan_ms": statistics.median(plans) if plans else 0.0,
    })
    facts = workload.tables
    if facts and "data_files" in facts[-1]:
        out["catalog.data_files"] = out["sink.files"] = facts[-1]["data_files"]
        out["catalog.manifest_bytes"] = statistics.mean(f["manifest_bytes"] for f in facts)
    resumes = [r.extra["resume_s"] for r in untraced_after if "resume_s" in r.extra]
    if resumes:
        out["pipeline.resume_s"] = statistics.median(resumes)

    for kind in ("lookup", "search"):
        lat = [r.seconds * 1e3 for r in untraced_after if r.kind == kind]
        n_kind = sum(1 for r in traced_after if r.kind == kind)
        if lat:
            out[f"catalog.{kind}_p50_ms"] = statistics.median(lat)
        if n_kind:
            out[f"catalog.{kind}_bytes_read"] = sum(
                t["input"] for st in stages if st["desc"] == kind for t in st["tasks"]) / n_kind

    for stage in ("extracted", "cleaned", "quality", "write"):
        out[f"corpus.{stage}_s"] = span_total(f"corpus.{stage}") / n_ops
    if facts and "stats" in facts[-1]:
        st = facts[-1]["stats"]
        out.update({
            "corpus.extracted_rows": st.get("extracted", 0),
            "corpus.after_exact_dedup_rows": st.get("after_exact_dedup", 0),
            "corpus.after_line_dedup_rows": st.get("after_line_dedup", 0),
            "corpus.after_quality_rows": st.get("after_quality", 0),
            "corpus.scratch_bytes": facts[-1]["scratch_bytes"],
        })

    out["pipeline.op_wall_ms"] = statistics.median(r.seconds for r in untraced_ops) * 1e3
    out["pipeline.docs_per_s"] = statistics.median(r.docs / r.seconds for r in untraced_ops)
    out["pipeline.parallel_eff"] = out["pipeline.docs_per_s"] / (
        ctx.cores * out["extractor.docs_per_s_1core"])
    return out

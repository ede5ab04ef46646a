"""The benchmark's workloads. Each one builds seeded inputs in ``prepare``,
then runs one timed, verified operation per ``op`` call:

- ``crawl_extract``: ``pipeline.run`` over Common-Crawl-size pages with
  few chunks; extraction and the html-carrying shuffle carry the bytes, and
  a FlateDecode bomb rides along. Its warm-up is the submit -> kill
  (``max_chunks``) -> resume path. After the timed loop, the ``results``
  and ``search`` CLI verbs go to the last committed table: the read side
  of ``sources.catalog``.
- ``training_corpus``: ``build_training_corpus(pages, line_min_df=2)`` and
  a write of its output. The only workload through ``operators.corpus``,
  ``operators.dedup`` and ``operators.textstats``; it never commits.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import pages as P
from harness import Context, OpResult, Stopwatch

SIZES = {
    "full": dict(crawl_pages=1000, crawl_chunks=2, bombs=1, bomb_mib=32, lookups=3, searches=2,
                 corpus_pages=1500, phase_sample=400),
    "tiny": dict(crawl_pages=120, crawl_chunks=2, bombs=1, bomb_mib=4, lookups=2, searches=2,
                 corpus_pages=200, phase_sample=40),
}


def _read_files(files: list[str], columns: list[str]) -> pa.Table:
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


def _stripped_lines(text: str) -> list[str]:
    """Lines with Java's ``\\s`` stripped from both ends, blank ones left
    out: the lines ``dedup.cross_doc_line_dedup`` works on."""
    return [s for s in (line.strip(" \t\n\x0b\f\r") for line in text.split("\n")) if s]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names)


class Workload:
    name = ""

    def __init__(self, ctx: Context, size: str) -> None:
        self.ctx, self.size = ctx, SIZES[size]
        self.pages_path = os.path.join(ctx.work, "pages")
        self.pages: pa.Table | None = None
        self.tables: list[dict] = []  # per-op facts the trace reports
        self.info: dict = {}
        self.warmup: list[OpResult] = []  # untimed operations run by prepare

    @property
    def spark(self):
        return self.ctx.spark

    def html_bytes(self) -> int:
        return sum(len(h) for h in self.pages.column("html").to_pylist() if h is not None)

    def oracle(self) -> dict[str, tuple]:
        """url -> oracle (text, markdown, error_class) of the pages, cached
        per seed and sizes for as long as the package sources are unchanged."""
        key = P.cache_key(P.package_sources(self.ctx.root) + [P.__file__],
                          workload=self.name, seed=self.ctx.seed, **self.size)
        cache = os.path.join(self.ctx.root, ".perfbench", "cache", f"oracle-{key}.parquet")
        return P.oracle(self.pages, cache)

    @contextlib.contextmanager
    def timed(self, name: str, **attrs):
        """Span + job description around one call into the program."""
        with self.ctx.described(name), self.ctx.spans.span(name, **attrs) as rec:
            yield rec

    def after_loop(self, resume: bool) -> list[OpResult]:
        """Verified operations run once after the timed loop; ``resume``
        adds a timed kill-and-resume cycle where the workload has one."""
        return []

    def hooks(self) -> list[tuple[object, str, object]]:
        """(module, function, span namer) wrapped while tracing; the namer
        maps the call's arguments to the span name."""
        return []


class CrawlExtract(Workload):
    name = "crawl_extract"

    def prepare(self) -> None:
        s = self.size
        P.write_pages(self.pages_path, self.ctx.seed, s["crawl_pages"], paras_mult=40,
                      files=self.ctx.cores, bombs=s["bombs"], bomb_mib=s["bomb_mib"])
        self.pages = P.read_pages(self.pages_path)
        self.nbytes = self.html_bytes()
        self.expected = self.oracle()
        self.info = {"pages": s["crawl_pages"], "bombs": s["bombs"], "bomb_mib": s["bomb_mib"],
                     "chunks": s["crawl_chunks"], "html_mb": round(self.nbytes / 1e6, 3)}
        self.errors: collections.Counter = collections.Counter()
        self.rng = random.Random(self.ctx.seed)
        self.table = None
        self.submits = 0
        # untimed: compiles the pipeline's plans and gates resume
        self.warmup = [self.resume_cycle()]

    def _new_table(self) -> str:
        self.submits += 1
        return os.path.join(self.ctx.work, "tables", f"crawl-{self.submits}")

    def _keep(self, root: str) -> None:
        if self.table is not None:
            shutil.rmtree(self.table)
        self.table = root  # the reads go to the last committed table

    def op(self, i: int) -> OpResult:
        from mistral_ocr_spark import pipeline

        root = self._new_table()
        with self.timed("submit", **({"index": i} if i >= 0 else {})), Stopwatch() as sw:
            pipeline.run(self.spark, self.spark.read.parquet(self.pages_path), root,
                         run_id="bench", n_chunks=self.size["crawl_chunks"])
        docs, ok = self.check(root)
        self._keep(root)
        return OpResult(sw.wall, docs, self.nbytes, ok, sw.cpu)

    def resume_cycle(self) -> OpResult:
        """A submit killed after half its chunks, then the resuming submit;
        the table must end with exactly one committed row per input url."""
        from mistral_ocr_spark import pipeline

        root = self._new_table()
        chunks = self.size["crawl_chunks"]
        with self.timed("resume"):
            t0 = time.time()
            pipeline.run(self.spark, self.spark.read.parquet(self.pages_path), root,
                         run_id="bench", n_chunks=chunks, max_chunks=chunks // 2)
            t_mid = time.time()
            pipeline.run(self.spark, self.spark.read.parquet(self.pages_path), root,
                         run_id="bench", n_chunks=chunks)
            t1 = time.time()
        docs, ok = self.check(root)
        self._keep(root)
        return OpResult(t1 - t0, docs, self.nbytes, ok, kind="resume",
                        extra={"resume_s": t1 - t_mid})

    def after_loop(self, resume: bool) -> list[OpResult]:
        return self.reads() + ([self.resume_cycle()] if resume else [])

    def check(self, root: str) -> tuple[int, bool]:
        """Committed table == oracle, byte for byte, one row per input url."""
        from mistral_ocr_spark.sources import catalog

        m = catalog.load_manifest(root)
        cols = ("url", "text", "markdown", "error_class", "warc_ts")
        t = _read_files(m["data_files"], list(cols))
        rows = list(zip(*(t.column(c).to_pylist() for c in cols)))
        ok = len(rows) == len(self.expected) == len({r[0] for r in rows}) and all(
            self.expected.get(u) == (tx, md, ec) for u, tx, md, ec, _ts in rows)
        self.errors.update(r[3] or "ok" for r in rows)
        self.committed = {r[0]: r for r in rows}
        manifests = os.path.join(root, "_manifests")
        self.tables.append({"data_files": len(m["data_files"]),
                            "manifest_bytes": _dir_bytes(manifests) / max(1, len(os.listdir(manifests)))})
        return len(rows), ok

    def reads(self) -> list[OpResult]:
        """A seeded burst of ``results`` lookups (present and absent urls)
        and ``search`` queries (hits and a miss), each checked against an
        independent pyarrow read of the committed files."""
        urls = sorted(self.committed)
        texts = [self.committed[u][1] for u in urls if self.committed[u][1]]
        out = []
        for k in range(self.size["lookups"]):
            url = (self.rng.choice(urls) if k else
                   f"https://absent.example.com/{self.rng.randrange(10**9)}.html")
            out.append(self._read("lookup", ["results", "--table", self.table, "--url", url], url))
        for k in range(self.size["searches"]):
            words = self.rng.choice(texts).split()
            j = self.rng.randrange(max(1, len(words) - 1))
            q = " ".join(words[j:j + 2]) if k else f"absent-{self.rng.randrange(10**9)}"
            out.append(self._read("search", ["search", "--table", self.table, "--query", q], q))
        return out

    def _read(self, kind: str, argv: list[str], arg: str) -> OpResult:
        from mistral_ocr_spark import cli

        buf = io.StringIO()
        with self.timed(kind, read=True), contextlib.redirect_stdout(buf):
            t0 = time.time()
            cli.main(argv)
            t1 = time.time()
        out = buf.getvalue()
        if kind == "lookup":
            got = [json.loads(line) for line in out.splitlines() if line.strip()]
            row = self.committed.get(arg)
            want = [] if row is None else [
                {"url": arg, "text": row[1], "markdown": row[2], "error_class": row[3]}]
        else:  # the url column of the shown table, in order; row 1 is the header
            got = [line.split("|")[1].strip() for line in out.splitlines() if line.startswith("|")][1:]
            hits = sorted((r for r in self.committed.values() if r[1] is not None and arg in r[1]),
                          key=lambda r: (-r[4].timestamp(), r[0]))
            want = [r[0] for r in hits[:50]]
        return OpResult(t1 - t0, len(got), len(out.encode()), got == want, kind=kind)

    def hooks(self):
        from mistral_ocr_spark.sources import catalog

        return [(catalog, "commit_chunk", lambda *a, **k: "catalog.commit"),
                (catalog, "read_extracted", lambda *a, **k: "catalog.read_plan")]


class TrainingCorpus(Workload):
    name = "training_corpus"

    def prepare(self) -> None:
        s = self.size
        P.write_pages(self.pages_path, self.ctx.seed, s["corpus_pages"], paras_mult=1,
                      files=self.ctx.cores)
        self.pages = P.read_pages(self.pages_path)
        self.nbytes = self.html_bytes()
        self.expected = self.oracle()
        # keyed without the package sources: a change to the package that
        # changes the corpus fails the gate until this file is deleted
        key = P.cache_key([P.__file__, __file__], workload=self.name, seed=self.ctx.seed, **s)
        self.ref_path = os.path.join(self.ctx.root, ".perfbench", "cache", f"corpus-{key}.json")
        self.info = {"pages": s["corpus_pages"], "html_mb": round(self.nbytes / 1e6, 3)}
        self.warmup = [self.op(-1)]  # untimed: compiles the recipe's plans

    def op(self, i: int) -> OpResult:
        from mistral_ocr_spark.operators.corpus import build_training_corpus

        scratch = os.path.join(self.ctx.work, f"corpus-scratch-{i}")
        out = os.path.join(self.ctx.work, f"corpus-{i}")
        stats: dict = {}
        with self.timed("corpus", **({"index": i} if i >= 0 else {})), Stopwatch() as sw:
            corpus = build_training_corpus(self.spark.read.parquet(self.pages_path), line_min_df=2,
                                           stats=stats, scratch_dir=scratch)
            with self.timed("corpus.write"):
                corpus.write.parquet(out)
        ok = self.check(out, stats)
        self.tables.append({"stats": stats, "scratch_bytes": _dir_bytes(scratch)})
        shutil.rmtree(scratch)
        shutil.rmtree(out)
        return OpResult(sw.wall, self.pages.num_rows, self.nbytes, ok, sw.cpu)

    def check(self, out: str, stats: dict) -> bool:
        """The corpus agrees with the oracle, and has the same content hash
        and stage counts as every other build of this seed."""
        t = pq.read_table(out).sort_by("doc_id")
        h = hashlib.sha256()
        for row in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            h.update(repr(row).encode())
        got = {"sha256": h.hexdigest(), "rows": t.num_rows, "stats": stats}
        if not os.path.exists(self.ref_path):
            os.makedirs(os.path.dirname(self.ref_path), exist_ok=True)
            with open(self.ref_path + ".tmp", "w") as f:
                json.dump(got, f)
            os.replace(self.ref_path + ".tmp", self.ref_path)
        with open(self.ref_path) as f:
            return self.agrees_with_oracle(t, stats) and json.load(f) == got

    def agrees_with_oracle(self, t: pa.Table, stats: dict) -> bool:
        """What the oracle fixes without an earlier run: the extracted count
        is the number of pages without an error_class; the stage counts only
        fall; urls are distinct extracted pages; each text is an ordered
        subset of the stripped, non-blank lines of its oracle text; and no
        line is left in two documents (line dedup at min_df=2 drops it)."""
        extracted = {u for u, (_tx, _md, ec) in self.expected.items() if ec is None}
        counts = [stats.get(k) for k in ("extracted", "after_exact_dedup", "after_line_dedup",
                                         "after_quality")] + [t.num_rows]
        if counts[0] != len(extracted) or not all(
                a is not None and b is not None and b <= a for a, b in zip(counts, counts[1:])):
            return False
        urls = t.column("url").to_pylist()
        if len(set(urls)) != len(urls) or not extracted.issuperset(urls):
            return False
        if not {"train", "holdout"}.issuperset(t.column("split").to_pylist()):
            return False
        owner: dict[str, str] = {}
        for url, text in zip(urls, t.column("text").to_pylist()):
            lines = text.split("\n")
            source = iter(_stripped_lines(self.expected[url][0] or ""))
            if not all(line in source for line in lines):  # ordered subset
                return False
            for line in set(lines):
                if owner.setdefault(line, url) != url:
                    return False
        return True

    def hooks(self):
        from mistral_ocr_spark.operators import corpus

        # each scratch checkpoint (corpus_extracted, corpus_cleaned, ...)
        return [(corpus, "_materialize",
                 lambda df, scratch, name, *a, **k: "corpus." + name.removeprefix("corpus_"))]


WORKLOADS = {w.name: w for w in (CrawlExtract, TrainingCorpus)}

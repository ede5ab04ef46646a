"""Training-prep transforms: token-bounded document chunking and PII
redaction — the last-mile operators between a cleaned corpus and a
pretraining dataloader.

Both are pure built-in ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen'd, zero Python in the hot path) with deterministic
formulas reproducible in ANSI SQL, so each ships with a DuckDB oracle
test rather than a reimplementation guess.

Reference parity note: stevegsax/mistral-ocr has no corpus-prep surface;
this is training-data-pipeline breadth (the C4/Gopher pipelines redact or
drop PII-bearing lines; every pretraining pipeline chunks documents to
the model's sequence length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark.session import partition_width, spread


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into word-token chunks of at most
    ``max_tokens`` with ``overlap`` tokens of context carried between
    consecutive chunks — ``(id_col, chunk_id, text, n_tokens)``, one row
    per chunk, ``chunk_id`` 0-based in document order.

    Chunking rule (deterministic, oracle-expressible): tokens are the
    ``\\s+`` split of the trimmed text; chunk ``i`` covers tokens
    ``[i·step, i·step + max_tokens)`` with ``step = max_tokens − overlap``;
    exactly ``ceil(max(n − overlap, 1) / step)`` chunks are emitted — a
    chunk exists iff it contributes tokens beyond the previous chunk's
    coverage (r5 review: an "emit while i·step < n" rule would add a
    final fully-overlapped chunk). The final chunk may be short (always
    > overlap tokens) but never empty, a document with
    ``n ≤ max_tokens`` yields exactly one chunk, and every token belongs
    to at least one chunk. NULL-text documents are dropped (the
    LM-operator contract).

    Plan shape at 10^12 docs: one map-side array split + a transform over
    the per-doc chunk index sequence + one explode — no shuffle at all
    (chunking is embarrassingly parallel); the per-row memory bound is
    the document itself.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        # negative overlap would open silent COVERAGE GAPS between chunks
        # (r5 review: step > max_tokens leaves tokens in no chunk)
        raise ValueError(f"overlap must be in [0, max_tokens), got {overlap}")
    step = max_tokens - overlap
    docs = spread(docs)
    words = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_ws"),
    )
    n = F.size("_ws")
    # number of chunks = ceil(max(n - overlap, step) / step) — floor form
    n_chunks = F.greatest(-F.floor(-(n - F.lit(overlap)) / F.lit(step)), F.lit(1)).cast(
        "int"
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice("_ws", i * step + 1, max_tokens), " "
            ).alias("text"),
            F.least(n - i * step, F.lit(max_tokens)).cast("bigint").alias("n_tokens"),
        ),
    )
    return (
        words.select(id_col, F.explode_outer(chunks).alias("c"))
        .filter(F.col("c").isNotNull())
        .select(
            id_col,
            F.col("c.chunk_id").cast("int").alias("chunk_id"),
            F.col("c.text").alias("text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


# PII patterns — intersection of Java-regex and RE2 syntax so the DuckDB
# oracle runs the IDENTICAL expressions. RE2 has NO lookarounds, so the
# "not inside a larger number" guards are CONSUMED context groups restored
# by the replacement's group references (r5 review: a bare trailing \b let
# the phone pattern eat the tails of numeric ranges — 'pages 100-200
# 300-4000' lost its page numbers). Replacements use Java's $n syntax;
# the DuckDB oracle translates $n → \n (same group semantics).
# Deliberately conservative-match (precision over recall): a redactor that
# eats ordinary text corrupts the corpus silently, while a rare missed
# address is caught by downstream audits.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (
        r"[A-Za-z0-9][A-Za-z0-9._%+-]*@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    "ipv4": (
        # context guards keep version-like 4+-part dotted runs intact
        r"(^|[^0-9.])((?:\d{1,3}\.){3}\d{1,3})([^0-9.]|$)",
        "$1<IP>$3",
    ),
    "phone": (
        # +country or (area) prefixed, 3-3-4 with separators — bare digit
        # runs and digits embedded in larger numbers are NOT matched
        r"(^|[^0-9.\-])((?:\+\d{1,3}[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4})([^0-9.]|$)",
        "$1<PHONE>$3",
    ),
}


# kinds whose patterns consume context chars and therefore need the
# gated second pass for back-to-back spans (see redact_pii docstring);
# the email pattern has no context groups, so adjacency cannot skip
_ADJACENT_RESCAN_KINDS = {"ipv4", "phone"}


def redact_pii(
    docs: DataFrame,
    text_col: str = "text",
    kinds: list[str] | None = None,
) -> DataFrame:
    """Mask PII spans in ``text_col`` in place and count what was masked:
    input columns pass through, ``text_col`` is rewritten with
    ``<EMAIL>/<IP>/<PHONE>`` placeholders, and one ``n_<kind>`` BIGINT
    column per active kind reports the number of spans THAT KIND actually
    masked: each kind is counted on the text as already masked by the
    kinds before it (``PII_PATTERNS`` dict order), so a span consumed by
    an earlier kind — '1.2.3.4@mail.com' is one email, zero IPs — is
    never double-counted (r5 review).

    Pure ``regexp_count`` + chained ``regexp_replace`` — map-side only,
    no shuffle; the identical patterns run in the DuckDB oracle (the
    pattern table is data shared by both engines, not parallel code).

    Adjacent spans (ADVICE r5): the ipv4/phone patterns CONSUME their
    leading/trailing context chars (RE2-compatible — no lookarounds), so
    back-to-back occurrences alternate matched/skipped in one pass. A
    SECOND pass over the once-masked text catches every survivor: after
    pass 1, no two unmasked spans are adjacent (two consecutive skips are
    impossible — a skipped span consumes nothing, so the next span's
    leading separator is intact and matches), and two passes are
    therefore a fixed point. The second pass is gated per row on the
    first pass having matched at all, so PII-free rows (the overwhelming
    majority of a web corpus) never pay it.
    """
    kinds = list(PII_PATTERNS) if kinds is None else kinds
    for k in kinds:
        if k not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {k!r}; known: {list(PII_PATTERNS)}")
    # NOT spread via session.spread: measured 4.4s serial vs 7.2s
    # over a 64-way repartition at sf1.0 (r6) — the deeply nested
    # regexp_count/replace projection runs ~1.7× slower per row when
    # spread on this box, unlike every explode/kernel-based operator.
    # Pure map work inherits whatever parallelism the source has, which
    # is the right default at production scale anyway.
    out = docs
    tmp: list[str] = []
    txt = text_col
    for k in kinds:
        pat, rep = PII_PATTERNS[k]
        n1, t1 = f"_pii_n1_{k}", f"_pii_t1_{k}"
        # real intermediate columns (not one nested expression): each is
        # referenced more than once below, which keeps CollapseProject
        # from inlining the non-cheap regex kernels into every consumer
        out = out.withColumn(n1, F.regexp_count(F.col(txt), F.lit(pat)))
        out = out.withColumn(t1, F.regexp_replace(F.col(txt), pat, rep))
        tmp += [n1, t1]
        if k in _ADJACENT_RESCAN_KINDS:
            n2, t2 = f"_pii_n2_{k}", f"_pii_t2_{k}"
            out = out.withColumn(
                n2,
                F.when(
                    F.col(n1) > 0, F.regexp_count(F.col(t1), F.lit(pat))
                ).otherwise(F.lit(0)),
            )
            out = out.withColumn(
                t2,
                F.when(
                    F.col(n2) > 0, F.regexp_replace(F.col(t1), pat, rep)
                ).otherwise(F.col(t1)),
            )
            tmp += [n2, t2]
            out = out.withColumn(f"n_{k}", (F.col(n1) + F.col(n2)).cast("bigint"))
            txt = t2
        else:
            out = out.withColumn(f"n_{k}", F.col(n1).cast("bigint"))
            txt = t1
    return out.withColumn(text_col, F.col(txt)).drop(*tmp)


_INTEGRAL_TYPES = {"byte", "tinyint", "short", "smallint", "int", "integer", "bigint", "long"}


def distributed_prefix_sum(
    df: DataFrame,
    order: list,
    value_col: str,
    *,
    partitions: int | None = None,
    scratch_dir: str | None = None,
    extra_aggs: list | None = None,
) -> tuple[DataFrame, list]:
    """Inclusive global running sum of ``value_col`` in ``order`` as a
    DISTRIBUTED prefix sum — the shared machinery under ``pack_sequences``
    and ``mixing.select_until_budget`` (a global running sum via a single
    all-rows window partition is the textbook one-task funnel):

    1. range-repartition by ``order`` and stamp each row's partition id,
       materialized to scratch so the assignment is DATA — stable across
       the two passes that read it;
    2. per-partition inclusive cumsum via a ROWS-framed window PARTITIONED
       by that id (each window group is one partition's rows — no global
       funnel; ROWS not the default RANGE frame, which double-counts peer
       rows tied on ``order``);
    3. per-partition totals (a P-row aggregate) collected to the driver,
       exclusive-prefix-summed, broadcast-joined back as base offsets.

    Returns ``(staged, agg_rows)``: ``staged`` is the materialized input
    plus ``_cum`` (the inclusive running sum, the only added column);
    ``agg_rows`` are the per-partition aggregate rows (``_pid``, ``_t``,
    plus any ``extra_aggs``) so callers can run their own validations
    with no extra pass over the data. ``value_col`` must be an integral
    type — a fractional column would make the driver-side offset merge
    and the in-partition window sum disagree in float rounding, so
    membership near a boundary would depend on the partition layout,
    breaking the identical-at-any-parallelism contract — and NULL-free
    (checked here: a NULL row silently vanishes from the running sum).
    """
    from pyspark.sql import Window

    from mistral_ocr_spark.scratch import materialize, scratch_path, scratch_table_dir

    dtype = df.schema[value_col].dataType.simpleString()
    if dtype not in _INTEGRAL_TYPES:
        raise ValueError(
            f"{value_col!r} must be an integral type for an exact, "
            f"parallelism-invariant prefix sum, got {dtype} — cast to long"
        )
    spark = df.sparkSession
    scratch = scratch_dir or scratch_table_dir(spark)
    p = partitions or partition_width(spark)
    staged = df.repartitionByRange(p, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    staged = materialize(staged, scratch_path(scratch, "prefix_staged"))

    agg_rows = (
        staged.groupBy("_pid")
        .agg(
            F.sum(value_col).alias("_t"),
            F.sum(F.col(value_col).isNull().cast("int")).alias("_vnulls"),
            *(extra_aggs or []),
        )
        .collect()
    )
    n_nulls = sum(r["_vnulls"] for r in agg_rows)
    if n_nulls:
        raise ValueError(f"{n_nulls} rows have NULL {value_col!r}")
    base, offsets = 0, []
    for r in sorted(agg_rows, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], base))
        base += int(r["_t"] or 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _poff long")

    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        staged.withColumn("_lend", F.sum(value_col).over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("_cum", F.col("_poff") + F.col("_lend"))
        .drop("_pid", "_lend", "_poff")
    )
    return out, agg_rows


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 2048,
    order_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    n_tokens_col: str = "n_tokens",
    partitions: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Concatenate-and-split sequence packing: assign every chunk its
    position in the GLOBAL token stream ordered by ``order_cols`` —
    ``(input columns…, global_offset, seq_id, seq_pos, straddles)`` where
    ``seq_id = global_offset div seq_len``, ``seq_pos = global_offset mod
    seq_len``, and ``straddles`` marks chunks crossing a sequence
    boundary. This is the layout a pretraining dataloader consumes: every
    sequence is exactly ``seq_len`` tokens full (the final one possibly
    short), with documents flowing across boundaries exactly as
    concatenate-then-split training corpora do.

    The global running sum is ``distributed_prefix_sum`` — never a
    single-partition window (which would serialize 10^12 rows through one
    task). The driver holds P integers, never rows; output offsets are a
    pure function of the ``order_cols`` order, so results are identical
    at any parallelism (tested) even though partition boundaries differ.
    ``order_cols`` should uniquely key the rows: with duplicate keys the
    ROWS-framed cumsum still yields DISJOINT offset ranges, but the
    relative order of tied rows is unspecified. Rows with NULL
    ``n_tokens`` are rejected (they would silently vanish from the token
    stream); NULL-text inputs should be dropped upstream (the
    chunk_documents contract).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    staged, _ = distributed_prefix_sum(
        chunks,
        [F.col(c) for c in order_cols],
        n_tokens_col,
        partitions=partitions,
        scratch_dir=scratch_dir,
    )
    return (
        staged.withColumn("global_offset", F.col("_cum") - F.col(n_tokens_col))
        # integer `div`, not floor(double division): long→double loses
        # exactness past 2^53 cumulative tokens (r5 review) and the
        # 10^12-row design point reaches it
        .withColumn("seq_id", F.expr(f"global_offset div {int(seq_len)}"))
        .withColumn("seq_pos", F.col("global_offset") % seq_len)
        .withColumn(
            "straddles",
            (F.col("seq_pos") + F.col(n_tokens_col) > seq_len).cast("boolean"),
        )
        .drop("_cum")
    )

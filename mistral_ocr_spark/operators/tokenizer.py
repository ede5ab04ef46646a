"""BPE tokenizer TRAINING and encoding over a distributed corpus
(Sennrich et al. 2016, arXiv:1508.07909 — the classic word-frequency BPE).

Split of labor, sized for 100 TB:

1. **Word frequency table** — the sufficient statistic for BPE training —
   is ONE distributed groupBy (map-side partial counts; the shuffle
   carries distinct words, not tokens).
2. **Heavy-hitter truncation** — training keeps the ``max_words`` most
   frequent words (deterministic tiebreak). This is the standard scale
   lever (SentencePiece/HF trainers do the same): the frequency tail it
   drops contributes negligibly to pair counts, and it bounds what the
   driver holds to an O(max_words) table, independent of corpus size.
   `TakeOrderedAndProject` — no global sort.
3. **Merge learning** runs DRIVER-SIDE over that bounded table with the
   incremental pair-count algorithm (only words containing the winning
   pair are touched per iteration) — the part that is inherently
   sequential (merge k+1 depends on merge k), on data that is bounded by
   construction, exactly where a sequential loop belongs.
4. **Encoding** is distributed again: a mapInArrow kernel with the merge
   ranks in the closure and a per-worker word→tokens memo — natural text
   is Zipfian, so the memo hit rate is high and the per-batch cost is
   ~O(distinct words), not O(tokens).

Ties in pair frequency break by lexicographically smallest pair, so the
learned merge list is a pure function of the frequency table — identical
at any parallelism, any cluster size (the O5 determinism rule).

The fixed-table BPE fold in plans/queries.py (`bpe_token_count_cols`)
counts tokens under a FROZEN toy table; this module learns a real table
and tokenizes with it. Reference parity: stevegsax/mistral-ocr has no
tokenizer; this is training-data-pipeline breadth.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistral_ocr_spark import arrowcols as C

END = "</w>"  # end-of-word symbol (its own token, per the paper)


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): whitespace-token frequencies, one shuffle — the shared
    ``dsir.words_expr`` convention (Java ASCII \\s+), so the frequency
    table counts EXACTLY the words ``bpe_encode`` will later split out."""
    from mistral_ocr_spark.operators.dsir import words_expr

    w = words_expr(F.col(text_col))
    return (
        df.select(F.explode_outer(w).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _pairs_of(sym: tuple[str, ...]):
    return zip(sym, sym[1:])


def learn_merges(
    freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE on a (word, count) table, incremental variant: pair
    counts and a pair→word index are maintained across iterations so each
    merge touches only the words that contain the winning pair. Ties break
    by (count desc, pair asc) — fully deterministic."""
    words: list[tuple[str, ...]] = [tuple(w) + (END,) for w, _ in freqs]
    counts = [c for _, c in freqs]
    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, sym in enumerate(words):
        for p in _pairs_of(sym):
            pair_counts[p] += counts[i]
            where[p].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] <= 0:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for i in list(where.get(best, ())):
            sym, c = words[i], counts[i]
            # retract this word's pair contributions, rewrite, re-add
            for p in _pairs_of(sym):
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    pair_counts.pop(p, None)
                where[p].discard(i)
            new: list[str] = []
            j = 0
            while j < len(sym):
                if j + 1 < len(sym) and (sym[j], sym[j + 1]) == best:
                    new.append(joined)
                    j += 2
                else:
                    new.append(sym[j])
                    j += 1
            words[i] = tuple(new)
            for p in _pairs_of(words[i]):
                pair_counts[p] += c
                where[p].add(i)
        pair_counts.pop(best, None)
        where.pop(best, None)
    return merges


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Distributed frequency pass + bounded driver-side merge learning.
    ``max_words`` caps driver memory (heavy-hitter truncation; ordered by
    count desc then word so the kept set is deterministic)."""
    top = (
        word_counts(df, text_col)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(max_words)
        .collect()
    )
    return learn_merges([(r.word, r.cnt) for r in top], n_merges)


def save_bpe(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Merge table as parquet (rank, left, right) — the model artifact a
    tokenize job reads; rank order IS the merge priority."""
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe(spark, path: str) -> list[tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r.left, r.right) for r in rows]


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style greedy encode: repeatedly merge the present pair with
    the LOWEST rank until none applies."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, best_j = None, -1
        for j in range(len(sym) - 1):
            r = ranks.get((sym[j], sym[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        pair = (sym[best_j], sym[best_j + 1])
        joined = pair[0] + pair[1]
        out: list[str] = []
        j = 0
        while j < len(sym):
            if j + 1 < len(sym) and (sym[j], sym[j + 1]) == pair:
                out.append(joined)
                j += 2
            else:
                out.append(sym[j])
                j += 1
        sym = out
    return sym


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens array<string>, n_bpe) per document — distributed encode
    with the merge ranks in the closure and a per-worker word memo (hit
    rate ≈ 1 − distinct/total on Zipfian text). Word boundaries are hard:
    each word encodes independently and token streams concatenate, so the
    output is independent of how rows batch (determinism at any
    parallelism)."""
    # the id field's type is DERIVED from the input schema (ADVICE r5: a
    # hardcoded `long` failed or corrupted string keys — e.g. the url keys
    # the LM CLI verbs use — at the Arrow boundary)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, tokens array<string>, n_bpe long"
    return df.select(id_col, text_col).mapInArrow(_encode_fn(merges, schema), schema)


def _encode_fn(merges: list[tuple[str, str]], schema: str):
    """mapInArrow kernel of ``bpe_encode`` over (id, text)."""
    import re

    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict[str, list[str]] = {}
    # Java \s — ASCII [ \t\n\x0b\f\r] — NOT Python str.split()'s Unicode
    # whitespace: the encoder must split out the same words word_counts
    # counted, or NBSP-joined words get encodings no merge was trained for.
    split_ws = re.compile(r"[ \t\n\x0b\x0c\r]+").split

    def fn(batches):
        for batch in batches:
            toks: list[str] = []
            n_col = []
            for text in batch.column(1).to_pylist():
                n0 = len(toks)
                if text is not None:
                    for w in split_ws(text):
                        if not w:
                            continue
                        enc = memo.get(w)
                        if enc is None:
                            enc = encode_word(w, ranks)
                            memo[w] = enc
                        toks.extend(enc)
                n_col.append(len(toks) - n0)
            yield C.batch(schema, [batch.column(0), C.lists(n_col, C.strings(toks)), n_col])

    return fn

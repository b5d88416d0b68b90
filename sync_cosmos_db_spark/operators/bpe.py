"""Distributed BPE tokenizer training: corpus-scale pair counting.

Byte-pair-encoding merge learning (Sennrich et al. 2016; the GPT-2
tokenizer recipe) over a Spark corpus.  The reference has no tokenizer
surface; this is the training-data-pipeline extension — learning a
vocabulary over 100 TB of text is exactly the workload that must NOT be
a driver-side loop over raw documents.

Scale design (mirrors how production BPE trainers work):

* **Count once, on distinct words.**  The corpus collapses to a
  ``(word, count)`` table first — one explode + one word-keyed shuffle.
  Zipf makes this table tiny relative to the corpus (the 100 TB corpus
  has billions of tokens but ~millions of distinct words), and every
  subsequent merge iteration runs on it, never on the corpus again.
* **Pair counting is relational.**  Adjacent-symbol pairs come from
  ``zip_with(slice(s,1,n−1), slice(s,2,n−1))`` + one explode →
  groupBy(a, b) weighted by word count: map-side combinable, one
  pair-keyed shuffle per iteration.
* **Only the argmax crosses to the driver.**  Each iteration collects
  exactly ONE row (the best pair, ties broken lexicographically);
  the merge itself is an ``aggregate`` fold applied executor-side.

``n_merges`` iterations = ``n_merges`` jobs on the small distinct-word
table — the standard trainer shape.  Correctness is pinned against a
pure-Python reference implementation in tests/test_bpe.py; the
single-iteration pair count is oracle-checked in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.sources import catalog

#: End-of-word marker, appended as a distinct symbol so merges can
#: learn word-final units (the </w> convention from the BPE paper).
EOW = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → ``(word, count)``: one explode, one word-keyed shuffle
    with map-side partials."""
    return (df.select(F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("count")))


def _init_symbols(wc: DataFrame) -> DataFrame:
    """Split each word into single-character symbols + EOW marker."""
    # split at every inter-character position: not at start (?!^) and
    # followed by at least one char (?=.) — yields exactly the chars,
    # no leading/trailing empty strings.
    chars = F.split(F.col("word"), "(?!^)(?=.)")
    return wc.withColumn(
        "symbols", F.concat(chars, F.array(F.lit(EOW))))


def pair_counts(symbols_df: DataFrame) -> DataFrame:
    """Adjacent-pair counts over symbol sequences, weighted by word
    count: ``(a, b, pair_count)``.  One explode + one pair-keyed
    shuffle; no UDFs."""
    n = F.size("symbols")
    pairs = F.zip_with(F.slice("symbols", 1, n - 1),
                       F.expr("slice(symbols, 2, size(symbols) - 1)"),
                       lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return (symbols_df
            .filter(n >= 2)
            .select(F.explode(pairs).alias("p"), "count")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").cast("long").alias("pair_count")))


def _merge_pair(symbols: F.Column, a: str, b: str) -> F.Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) → a||b,
    as an executor-side fold (aggregate HOF).  Runs on the distinct-word
    table only, so the interpreted-HOF cost is bounded by vocabulary
    size, not corpus size."""
    merged = F.lit(a + b)
    return F.aggregate(
        symbols,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn(
    spark: SparkSession,
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus.  Returns the merge
    table ``[(a, b, pair_count), ...]`` in learned order.  Ties on count
    break lexicographically on (a, b) so the vocabulary is deterministic
    regardless of partitioning."""
    wc = _init_symbols(word_counts(df, text_col))
    wc = wc.persist()
    wc.count()  # materialize once; iterations re-read the cached table
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            best = (pair_counts(wc)
                    .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
                    .take(1))
            if not best:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], best[0]["pair_count"]
            merges.append((a, b, cnt))
            nxt = wc.withColumn("symbols", _merge_pair(F.col("symbols"),
                                                       a, b)).persist()
            nxt.count()
            wc.unpersist()
            wc = nxt
    finally:
        wc.unpersist()
    return merges


def segment_with_merges(symbols: F.Column,
                        merges: list[tuple[str, str, int]]) -> F.Column:
    """Apply a learned merge table to a symbol-array column (in learned
    order — BPE application is ordered replay of training)."""
    out = symbols
    for a, b, _ in merges:
        out = _merge_pair(out, a, b)
    return out


def save_merges(spark: SparkSession,
                merges: list[tuple[str, str, int]], path: str) -> None:
    """Persist a learned merge table as a parquet artifact —
    (rank, a, b, pair_count), rank = learned order.  The tokenizer
    equivalent of the IVF index save: train once, encode from many
    jobs."""
    rows = [(i, a, b, int(c)) for i, (a, b, c) in enumerate(merges)]
    (spark.createDataFrame(
        rows, "rank long, a string, b string, pair_count long")
     .coalesce(1).write.mode("overwrite").parquet(path))


def load_merges(spark: SparkSession,
                path: str) -> list[tuple[str, str, int]]:
    """Load a merge table saved by :func:`save_merges`, in rank order."""
    rows = catalog.read_parquet(spark, path).orderBy("rank").collect()
    return [(r.a, r.b, r.pair_count) for r in rows]


def encode_documents(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode documents with a learned merge table → one row per doc:
    (id, n_words, n_tokens, tokens) where ``tokens`` is the
    space-joined BPE token stream (symbols within a word joined by
    ``+`` so word boundaries stay visible).

    The scale trick is the same Zipf collapse the trainer uses: the
    merge replay runs on the DISTINCT-WORD table only (millions of
    rows), never on the corpus; documents then re-acquire their words'
    segmentations through one word-keyed equi-join, and per-doc
    streams reassemble with an order-preserving aggregate.  Encoding
    100 TB costs one explode, one join, one doc-keyed agg — merge
    arithmetic is amortized over distinct words.
    """
    words = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), " "))
                       .alias("__pos", "word")))
    vocab = words.select("word").distinct()
    # identical char-split convention to _init_symbols
    init = F.concat(
        F.split(F.col("word"), "(?!^)(?=.)"),
        F.array(F.lit(EOW)))
    seg = vocab.withColumn(
        "__toks", segment_with_merges(init, merges))
    joined = words.join(seg, "word")
    ordered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__toks"))),
            lambda x: F.array_join(x["__toks"], "+")), " ")
    return (joined.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum(F.size("__toks")).cast("long").alias("n_tokens"),
                 ordered.alias("tokens")))

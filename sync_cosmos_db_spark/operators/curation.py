"""Training-data curation operators: deterministic splits, stratified
sampling, document chunking, embedding quantization.

No reference implementation (SURVEY.md §2.3 — the LLM-data-pipeline
extension families mandated by BASELINE.json's north star). These are
the operations a 100 TB pretraining pipeline runs between dedup and
tokenization:

* **train/eval split** — must be DETERMINISTIC (re-runs of the pipeline
  cannot migrate documents across the split: that leaks eval into
  train) and key-based, never ``rand()``. Implemented as a sha2 hash
  bucket of the document id — reproducible anywhere, including the
  DuckDB oracle.
* **stratified sampling** — per-stratum keep-fractions from the same
  hash-bucket construction, so a 1% sample of ``lang='en'`` plus a 100%
  keep of rare strata is one narrow filter, no shuffle, and the same
  rows are kept on every run.
* **chunking** — fixed-size token windows with overlap (the
  context-window prep step). ``sequence`` → ``transform``/``slice`` →
  one explode; all codegen, fan-out bounded by ceil(n/step) per doc.
* **int8 quantization** — per-vector symmetric scale (127/max|x|),
  floor-rounded so both engines compute bit-identical codes; cuts ANN
  memory 4× with a measurable reconstruction bound.

Everything is built-in Column algebra — zero Python UDFs, nothing
shuffles except what the caller aggregates afterwards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_persist
from sync_cosmos_db_spark.cache_scope import scoped_local_checkpoint


def hash_bucket(col: Column | str, n_buckets: int = 100,
                salt: str = "split") -> Column:
    """Deterministic bucket in [0, n_buckets) from a sha2 digest of the
    key — the cross-engine-reproducible replacement for ``rand()``-based
    splits (same translate-digits trick as the sanitizer generators, so
    DuckDB oracles can recompute it verbatim).

    SQL twin:
    ``translate(substr(sha256(key::VARCHAR || ':SALT'), 1, 6),
    'abcdef', '012345')::BIGINT % n_buckets``.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.sha2(F.concat(c.cast("string"), F.lit(":" + salt)), 256)
    digits = F.translate(F.substring(h, 1, 6), "abcdef", "012345")
    return F.pmod(digits.cast("bigint"), F.lit(n_buckets))


def train_eval_split(df: DataFrame, id_col: str, train_pct: int = 90,
                     salt: str = "split",
                     split_col: str = "split") -> DataFrame:
    """Tag every row 'train' or 'eval' by deterministic hash bucket:
    bucket(id) < train_pct → train. Narrow (no shuffle, no driver
    state); the same document lands on the same side on every run and
    every cluster — the property random splits lose on re-execution."""
    b = hash_bucket(id_col, 100, salt)
    return df.withColumn(
        split_col,
        F.when(b < train_pct, F.lit("train")).otherwise(F.lit("eval")))


def stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                      fractions: dict[str, int], default_pct: int = 0,
                      salt: str = "sample") -> DataFrame:
    """Deterministic stratified sample: per-stratum keep-percentages
    (integers 0-100) applied as a hash-bucket filter — e.g. downsample
    dominant languages while keeping 100% of rare ones. One narrow
    filter; repeated runs keep identical rows (stable curation, unlike
    ``DataFrame.sampleBy``'s seed-but-partitioning-dependent draw)."""
    b = hash_bucket(id_col, 100, salt)
    thresh = F.lit(default_pct)
    for stratum, pct in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == stratum, F.lit(pct)) \
            .otherwise(thresh)
    return df.filter(b < thresh)


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 64,
                    overlap_tokens: int = 16) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap —
    (id, chunk_idx, chunk_text, n_chunk_tokens), one row per chunk.

    Chunk k starts at token k·(chunk−overlap); the final chunk may be
    short. ``sequence`` of start positions → in-row ``transform`` over
    ``slice`` → ONE explode, so the fan-out is ceil(n/step) rows per
    document and the whole projection stays in codegen. At 100 TB this
    runs as a narrow map — chunking never shuffles."""
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens "
                         f"(got {overlap_tokens} >= {chunk_tokens})")
    step = chunk_tokens - overlap_tokens
    from sync_cosmos_db_spark.operators.dedup import let

    def body(w: Column) -> Column:
        # w is a let-bound VARIABLE: the split runs once per doc, not
        # once per chunk (dedup.let — no CSE inside HOF lambdas)
        starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)),
                            F.lit(step))
        return F.transform(
            starts,
            lambda s: F.struct(
                ((s - 1) / step).cast("long").alias("chunk_idx"),
                F.concat_ws(" ", F.slice(w, s, chunk_tokens))
                .alias("chunk_text"),
                F.least(F.size(w) - s + 1, F.lit(chunk_tokens))
                .cast("long").alias("n_chunk_tokens"),
            ))

    chunks = let(F.split(F.col(text_col), r"\s+"), body)
    return (df.select(F.col(id_col), F.explode(chunks).alias("__c"))
            .select(id_col, "__c.chunk_idx", "__c.chunk_text",
                    "__c.n_chunk_tokens"))


def mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
    granularity: int = 10000,
) -> DataFrame:
    """Resample to a target domain mixture with MAXIMUM data retention:
    the achievable total is S = min_d(count_d / target_d) — the domain
    that binds is kept whole and every other domain is downsampled to
    its target share of S. Domains absent from ``targets`` are dropped.

    Keep decisions are the same deterministic sha2 hash-bucket filter as
    :func:`train_eval_split` (granularity buckets), so re-runs keep
    identical rows and a SQL oracle can recompute the exact kept set —
    including the per-domain thresholds, which derive from counts by
    the same float formula on both engines.

    Scale shape (round-3 verdict item 6): the per-domain thresholds are
    a small DataFrame broadcast-JOINED on the domain key — never a
    chained ``CASE WHEN`` expression tree, never a driver-side counts
    dict — so a web-scale registrable-domain vocabulary (10⁵–10⁶
    domains) costs a broadcast of one (domain, keep) row each, with
    O(1) driver state.  Two scans of ``df`` total: the counts
    aggregate (whose ≤|targets|-row join with the targets is
    materialized via an eager ``localCheckpoint`` so the final plan
    doesn't recompute it) and the filtering join itself."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(d, float(w)) for d, w in targets.items() if w > 0],
        f"{domain_col} string, __w double")
    cnts = df.groupBy(domain_col).agg(
        F.count("*").cast("double").alias("__c"))
    live = (cnts.join(F.broadcast(tdf), domain_col)
            .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        row = live.agg(F.count("*").alias("n"),
                       F.min(F.col("__c") / F.col("__w")).alias("s")).first()
        if row["n"] == 0:
            raise ValueError("mixture_sample: no target domain has rows")
        S = float(row["s"])
        # same op order as the SQL twin: ((w*S)/c)*granularity — both
        # engines compute it bit-identically in IEEE doubles
        thr = live.select(
            domain_col,
            F.floor(F.col("__w") * F.lit(S) / F.col("__c") * granularity)
            .cast("long").alias("__keep"))
        # materialize the ≤|targets|-row threshold table and cut its
        # lineage so the returned plan reads it, not the counts subplan
        # (scope-registered: checkpoint blocks are released by
        # cache_scope.release_persisted() once the result is consumed)
        thr = scoped_local_checkpoint(thr)
    finally:
        live.unpersist()
    b = hash_bucket(id_col, granularity, salt)
    return (df.join(F.broadcast(thr), domain_col)
            .filter(b < F.col("__keep"))
            .select(*df.columns))


def global_token_offsets(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exclusive prefix sum of ``n_tokens_col`` in global ``id_col``
    order, WITHOUT a single-partition window — the distributed scan
    every packing/concatenation pass needs: the inclusive
    :func:`~sync_cosmos_db_spark.operators.partitioning.range_cumsum`
    minus the row's own count (null counts add 0).

    Returns the input columns plus ``__offset`` (tokens before this doc
    in id order).
    """
    from sync_cosmos_db_spark.operators.partitioning import (
        range_cumsum, spread,
    )

    # spread() first: a compact single-split input otherwise runs the
    # bucket tagging + per-bucket totals (and the quantile pass) in ONE
    # task; floor-only, a no-op on wide scans.
    n = F.coalesce(F.col(n_tokens_col), F.lit(0))
    out, _ = range_cumsum(spread(df), [id_col], {"__offset": n}, n_buckets)
    return out.withColumn("__offset", (F.col("__offset") - n).cast("long"))


def global_sort_index(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = 64,
    out_col: str = "__gi",
) -> DataFrame:
    """Exact 1-based global ``row_number`` under
    ``orderBy(value_col, tiebreak_col)`` WITHOUT a single-partition
    window — :func:`~sync_cosmos_db_spark.operators.partitioning.range_cumsum`
    counting rows.  Returns the input columns plus ``out_col``.
    """
    from sync_cosmos_db_spark.operators.partitioning import (
        range_cumsum, spread,
    )

    # spread() first — see global_token_offsets.
    return range_cumsum(spread(df), [value_col, tiebreak_col],
                        {out_col: F.lit(1)}, n_buckets)[0]


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 64,
    n_buckets: int = 64,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    deterministic ``id_col`` order and sliced into fixed ``seq_len``
    token training sequences; a document straddling a boundary is split
    across consecutive sequences (zero padding waste — the standard
    pretraining packing layout).

    Output: one row per (sequence, document) span —
    (seq_id, id, start_tok, n_toks, piece) where ``start_tok`` is
    0-based within the document and ``piece`` is the contributed text.
    Downstream, ``groupBy(seq_id).agg(concat_ws(collect_list))`` under
    ``sort_array`` rebuilds the exact token stream.

    Scale: the global offset comes from :func:`global_token_offsets`
    (two-phase scan, no single-partition window); the span explode
    fans out ≤ ceil(n/seq_len)+1 rows per doc. Nothing else shuffles.
    """
    toks = F.split(F.col(text_col), " ")
    with_n = df.withColumn("__n", F.size(toks).cast("long"))
    offs = global_token_offsets(with_n, id_col, "__n", n_buckets)
    # doc occupies global tokens [__offset, __offset + __n); it appears
    # in sequences floor(__offset/L) .. floor((__offset + __n - 1)/L)
    first = (F.col("__offset") / seq_len).cast("long")
    last = ((F.col("__offset") + F.col("__n") - 1) / seq_len).cast("long")
    spans = F.transform(
        F.sequence(first, last),
        lambda s: F.struct(
            s.alias("seq_id"),
            # intersection of [off, off+n) with [s*L, (s+1)*L)
            (F.greatest(s * seq_len, F.col("__offset")) - F.col("__offset"))
            .cast("long").alias("start_tok"),
            (F.least((s + 1) * seq_len, F.col("__offset") + F.col("__n"))
             - F.greatest(s * seq_len, F.col("__offset")))
            .cast("long").alias("n_toks"),
        ))
    toks_col = F.split(F.col(text_col), " ")
    return (offs.select(F.col(id_col), toks_col.alias("__toks"),
                        F.explode(spans).alias("__s"))
            .select(
                F.col("__s.seq_id").alias("seq_id"),
                F.col(id_col),
                F.col("__s.start_tok").alias("start_tok"),
                F.col("__s.n_toks").alias("n_toks"),
                F.concat_ws(" ", F.slice(
                    "__toks",
                    (F.col("__s.start_tok") + 1).cast("int"),
                    F.col("__s.n_toks").cast("int"))).alias("piece"))
            .filter(F.col("n_toks") > 0))


def doc_ngrams(df: DataFrame, id_col: str, text_col: str,
               n: int = 8, out_col: str = "ngram") -> DataFrame:
    """Distinct token n-grams per document: (id, ngram), one row per
    distinct gram. ``sequence`` of start positions → in-row ``slice`` →
    ``array_distinct`` → ONE explode; documents shorter than ``n``
    tokens contribute nothing. Narrow (no shuffle), all codegen; the
    token split is ``let``-bound so it runs once per document, not
    once per gram (``dedup.let`` — no CSE inside HOF lambdas)."""
    from sync_cosmos_db_spark.operators.dedup import let

    def body(toks: Column) -> Column:
        starts = F.when(
            F.size(toks) >= n,
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(F.transform(
            starts, lambda s: F.concat_ws(" ", F.slice(toks, s, n))))

    grams = let(F.split(F.col(text_col), " "), body)
    # spread() first (guide §2.5): the gram build is CPU-dense per row
    # and a compact input (one parquet split) otherwise runs it on 1-2
    # cores — profiled as a 1-task stage feeding the decontam gram
    # join.  Only the (id, text) projection is shuffled; at 100 TB the
    # scan already yields >= parallelism splits and this is a no-op.
    from sync_cosmos_db_spark.operators.partitioning import spread

    return (spread(df.select(F.col(id_col), F.col(text_col)), [id_col])
            .select(F.col(id_col), F.explode(grams).alias(out_col)))


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_train_df: int | None = None,
) -> DataFrame:
    """Train→eval contamination pairs: (eval_id, train_id,
    shared_ngrams) for every eval document sharing ≥1 token ``n``-gram
    with a train document — the standard pretraining decontamination
    sweep (eval benchmarks leaked into the corpus show up as long
    verbatim n-gram overlaps).

    Scale shape for 100 TB: grams are distinct-per-doc before the join,
    so pair multiplicity is bounded by distinct shared grams; the only
    shuffles are on the gram string (Spark hash-partitions the key —
    equivalent to shuffling a gram hash, with no collision risk in the
    result). Hot boilerplate grams — license headers, templates — are
    the skew hazard: ``max_train_df`` drops grams appearing in more than
    that many train documents via a count window that REUSES the same
    gram-keyed exchange (no second shuffle, same trick as the LSH
    oversized-bucket gate), which is also standard decontam practice
    (a gram shared by thousands of train docs is boilerplate, not
    leakage)."""
    tg = doc_ngrams(train, id_col, text_col, n) \
        .withColumnRenamed(id_col, "train_id")
    eg = doc_ngrams(eval_df, id_col, text_col, n) \
        .withColumnRenamed(id_col, "eval_id")
    if max_train_df is not None:
        from pyspark.sql import Window as W
        tg = (tg.withColumn(
            "__df", F.count(F.lit(1)).over(W.partitionBy("ngram")))
            .filter(F.col("__df") <= max_train_df)
            .drop("__df"))
    # grams are distinct per doc on both sides → (eval, train, gram)
    # rows are unique → count(*) IS the distinct shared-gram count
    return (eg.join(tg, "ngram")
            .groupBy("eval_id", "train_id")
            .agg(F.count(F.lit(1)).alias("shared_ngrams")))


def flag_contaminated(
    eval_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Tag each eval row with ``contaminated`` and the count of distinct
    train documents it overlaps — the decision surface a curation
    pipeline filters or quarantines on. Left join against the pairs
    aggregate (small — only contaminated evals), never the train side.
    """
    agg = (pairs.groupBy("eval_id")
           .agg(F.countDistinct("train_id").alias("n_train_docs")))
    return (eval_df.join(agg, eval_df[id_col] == agg["eval_id"], "left")
            .drop("eval_id")
            .withColumn("n_train_docs",
                        F.coalesce("n_train_docs", F.lit(0)))
            .withColumn("contaminated", F.col("n_train_docs") > 0))


def quantize_embedding_int8(vec: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale = 127/max|x|,
    code = floor(x·scale + 0.5) — floor-rounding (not banker's, not
    HALF_UP) so Spark, numpy and DuckDB produce identical codes.
    Returns array<int>; store alongside ``max|x|`` to dequantize."""
    v = F.col(vec) if isinstance(vec, str) else vec
    dv = F.transform(v, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(dv, F.abs))
    scale = F.lit(127.0) / amax
    return F.when(amax == 0, F.transform(dv, lambda x: F.lit(0))) \
        .otherwise(F.transform(dv, lambda x: F.floor(x * scale + 0.5)
                               .cast("int")))


def dequantize_error(vec: Column | str, codes: Column) -> Column:
    """Max absolute reconstruction error of int8 codes against the
    original vector — the quality bound a curation pipeline monitors
    when switching ANN search to quantized vectors."""
    v = F.col(vec) if isinstance(vec, str) else vec
    dv = F.transform(v, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(dv, F.abs))
    inv = amax / F.lit(127.0)
    return F.when(amax == 0, F.lit(0.0)).otherwise(
        F.array_max(F.zip_with(dv, codes,
                               lambda x, q: F.abs(x - q * inv))))


def cap_per_group(df: DataFrame, group_col: str, id_col: str,
                  max_rows: int, salt: str = "cap") -> DataFrame:
    """Deterministic per-group row cap — the C4/RefinedWeb "pages per
    domain" rule: keep at most ``max_rows`` rows per group, chosen by
    sha2-hash order of the row id (a reproducible uniform draw, never
    ``rand()``), ties broken by id.

    One window pass partitioned by the group key.  Spark's
    WindowGroupLimit pushes the ``row_number() <= k`` filter into a
    per-partition top-k (partial limits map-side before the shuffle), so
    a hot group streams through a bounded heap instead of sorting its
    whole partition — the skew-safe shape for domain caps at 100 TB.

    SQL twin: ``row_number() OVER (PARTITION BY grp ORDER BY
    sha256(id::VARCHAR || ':SALT'), id) <= k``.
    """
    from pyspark.sql import Window as W
    h = F.sha2(F.concat(F.col(id_col).cast("string"),
                        F.lit(":" + salt)), 256)
    w = W.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_rows)
            .drop("__rn"))


def weighted_sample_k(df: DataFrame, id_col: str, weight_col: str,
                      k: int, salt: str = "wsample") -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact-k, deterministic:
    the Efraimidis–Spirakis A-ES scheme in its exponential-clocks form.
    Each row draws a reproducible uniform u from a sha2 digest of its
    id and gets key = −ln(u)/w; the k SMALLEST keys are the sample —
    provably equivalent to sequential weighted draws without
    replacement.

    Every step is chosen for cross-engine replay: the uniform comes
    from the digit-translate of the digest's first 12 hex chars (the
    same construction as ``hash_bucket`` — deterministic everywhere,
    and any monotone deterministic u works for A-ES), and ties on the
    key break by id.  At 100 TB the global top-k runs as
    TakeOrderedAndProject — per-partition bounded heaps, never a full
    sort shuffle.  Rows with non-positive weight are excluded (their
    inclusion probability is 0 by definition)."""
    c = F.col(id_col)
    digits = F.translate(
        F.substring(F.sha2(F.concat(c.cast("string"), F.lit(":" + salt)),
                           256), 1, 12),
        "abcdef", "012345").cast("long")
    u = (digits + 1) / F.lit(1_000_000_000_001.0)
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    return (df.filter(w > 0)
            .withColumn("__k", key)
            .orderBy(F.col("__k"), c)
            .limit(k)
            .drop("__k"))


def split_sentences(col: Column | str) -> Column:
    """Sentence array via the RE2-safe marker trick: terminal
    punctuation followed by a space gets a \\x01 marker appended, then
    one split — no lookbehind (RE2 engines have none), so the DuckDB
    oracle can run the identical transform:
    ``string_split(regexp_replace(t, '([.!?]) ', '\\1' || chr(1), 'g'),
    chr(1))``."""
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(c, r"([.!?]) ", "$1\x01")
    return F.split(marked, "\x01")


def sentence_chunk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 64,
) -> DataFrame:
    """Sentence-AWARE chunking: documents split at sentence boundaries,
    sentences assigned to chunks by cumulative token offset —
    ``chunk_id = floor(tokens_before_sentence / max_tokens)`` — so no
    sentence is ever split mid-way (unlike :func:`chunk_documents`'
    fixed token windows) and chunk boundaries are deterministic,
    order-stable, and SQL-expressible (the greedy reset-at-boundary
    variant is inherently sequential; this prefix-sum rule is its
    scalable twin: a chunk overflows ``max_tokens`` by at most one
    sentence).

    Returns one row per (doc, chunk): ``(id, chunk_id, n_sentences,
    n_tokens, chunk_text)``.  Scale shape: one explode (sentence rows),
    one per-doc window cumsum, one (doc, chunk) aggregate — shuffle
    keys are the doc id throughout, and the window/groupBy share the
    same partitioning.
    """
    sent = (df.select(F.col(id_col),
                      F.posexplode(split_sentences(text_col))
                      .alias("__i", "__s"))
            .withColumn("__n", F.size(F.split(F.col("__s"), " "))
                        .cast("long")))
    from pyspark.sql import Window as W
    wd = (W.partitionBy(id_col).orderBy("__i")
          .rowsBetween(W.unboundedPreceding, -1))
    chunked = sent.withColumn(
        "chunk_id",
        (F.coalesce(F.sum("__n").over(wd), F.lit(0))
         / max_tokens).cast("long"))
    ordered = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("__i", "__s"))),
                    lambda x: x["__s"]), " ")
    return (chunked.groupBy(id_col, "chunk_id")
            .agg(F.count("*").cast("long").alias("n_sentences"),
                 F.sum("__n").alias("n_tokens"),
                 ordered.alias("chunk_text")))


def quality_top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: Column | str,
    tie_col: str,
    k: int,
) -> DataFrame:
    """Keep the ``k`` best rows per group, ranked by ``order_col``
    descending with a deterministic ``tie_col`` ascending tiebreak —
    the quality-ranked twin of the hash-based :func:`cap_per_group`
    (keep the BEST documents per source, not a random sample).

    Catalyst compiles the rank-filter into ``WindowGroupLimit``: each
    map task keeps only its local top-k per group BEFORE the shuffle,
    so the exchange carries at most k·partitions rows per group —
    the reason this survives a 100 TB corpus with viral sources.
    """
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    from pyspark.sql import Window as W
    w = W.partitionBy(group_col).orderBy(oc.desc(), F.col(tie_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk"))


def k_fold_split(df: DataFrame, id_col: str, k: int = 5,
                 salt: str = "fold",
                 fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment: ``fold = hash_bucket(id) % k``
    — the cross-validation twin of :func:`train_eval_split`.  Same
    guarantees: narrow (no shuffle, no driver state), rerun- and
    cluster-stable, SQL-recomputable; fold i's eval set is exactly the
    rows with ``fold == i`` and its train set is everything else, so
    the k train/eval partitions are disjoint and exhaustive BY
    CONSTRUCTION."""
    if k < 2:
        raise ValueError(f"k_fold_split: k must be >= 2, got {k}")
    return df.withColumn(fold_col,
                         hash_bucket(id_col, k, salt).cast("long"))


def oversample_to_target(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    targets: dict[str, int],
    salt: str = "epoch",
) -> DataFrame:
    """UPsample rare domains to per-domain row targets by deterministic
    repetition — the complement of :func:`mixture_sample` (which only
    drops).  Fine-tuning mixes routinely run several "epochs" of a
    small high-quality source against one epoch of a large one; this
    operator materializes that weighting as explicit repeated rows.

    Every row of a target domain appears ``floor(target/count)`` times,
    plus once more for the ``target mod count`` rows with the smallest
    deterministic hash bucket — so the output hits the target EXACTLY,
    re-runs reproduce the same repetition set, and an ``epoch``
    column (0-based copy index) keeps downstream shuffles and
    dedup-aware consumers honest about what is a copy.  Domains absent
    from ``targets`` pass through once with ``epoch = 0``.

    Scale shape: per-domain counts aggregate → ≤|targets|-row plan
    broadcast back on the domain key → one in-row
    ``explode(sequence(0, n_copies-1))``.  Driver state O(1); the
    only data-sized shuffle is the counts aggregate.
    """
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(d, int(t)) for d, t in targets.items() if t > 0],
        f"{domain_col} string, __target long")
    cnts = df.groupBy(domain_col).agg(F.count("*").alias("__c"))
    # materialize the per-domain plan (≤ |domains in data| rows) so the
    # returned query doesn't recompute the counts subplan
    plan = scoped_local_checkpoint(
        cnts.join(F.broadcast(tdf), domain_col, "left"))
    base = F.coalesce(F.floor(F.col("__target") / F.col("__c")),
                      F.lit(1)).cast("long")
    rem = F.coalesce(F.pmod(F.col("__target"), F.col("__c")),
                     F.lit(0)).cast("long")
    joined = df.join(F.broadcast(plan), domain_col)
    b = hash_bucket(id_col, 1_000_000, salt)
    # rank rows within the domain by (hash, id) — the `rem` smallest
    # get one extra copy; window is domain-keyed, same exchange as the
    # join output
    from pyspark.sql import Window as W
    rk = F.row_number().over(
        W.partitionBy(domain_col).orderBy(b.asc(), F.col(id_col).asc()))
    # the window rank must be materialized BEFORE the generator — a
    # window expression can't live inside explode()'s argument
    staged = joined.withColumn("__rk", rk).withColumn(
        "__n",
        F.when(F.col("__target").isNull(), F.lit(1)).otherwise(
            base + F.when(F.col("__rk") <= rem, 1).otherwise(0))
        .cast("long"))
    # sequence(0, -1) DESCENDS in Spark: rows with 0 copies (a target
    # below the domain count downsamples) must explode an EMPTY array
    epochs = F.when(
        F.col("__n") > 0,
        F.sequence(F.lit(0), (F.col("__n") - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return (staged.withColumn("epoch", F.explode(epochs))
            .select(*df.columns, "epoch"))


def hashed_features(df: DataFrame, id_col: str, text_col: str,
                    dim: int = 16, salt: str = "feat") -> DataFrame:
    """X108 — the hashing trick: tokens map to a FIXED ``dim``-bucket
    feature space through the deterministic sha2 bucket (same
    translate-digits twin as :func:`hash_bucket`, so the oracle
    recomputes every assignment), yielding (id, bucket, n) count
    rows.  Fixed dimensionality with no vocabulary pass is what lets
    a 100 TB corpus vectorize in ONE scan — no fit/transform split,
    no driver-held vocabulary, collisions traded for boundedness
    (the standard Vowpal-Wabbit/scikit HashingVectorizer contract).
    Scale shape: explode → (id, bucket) groupBy, both doc-keyed."""
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    return (toks.withColumn("bucket", hash_bucket("tok", dim, salt))
            .groupBy("id", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def category_index(df: DataFrame, cols: list[str]) -> DataFrame:
    """X109 — deterministic label encoding: every distinct value of
    each categorical column gets a CONTIGUOUS zero-based index in
    sorted-value order — the rerun-stable, cluster-stable
    StringIndexer replacement (frequency- or arrival-ordered indexers
    renumber when data moves; sorted order never does).  One in-row
    (col, value) explode + distinct (vocabulary-sized output), then a
    per-column rank window over that TINY table — the raw table is
    scanned once and never sorted.  Returns
    ``(column_name, value, idx, n_rows)``."""
    from pyspark.sql import Window as W

    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column_name"),
                 F.col(c).cast("string").alias("value"))
        for c in cols])).alias("cv")).select("cv.column_name", "cv.value")
    counts = (pairs.groupBy("column_name", "value")
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    w = W.partitionBy("column_name").orderBy("value")
    return counts.withColumn(
        "idx", (F.row_number().over(w) - 1).cast("long"))


def target_encode(df: DataFrame, cat_col: str, target_col: str,
                  m: float = 10.0, round_digits: int = 4) -> DataFrame:
    """X127 — m-estimate (smoothed) target encoding: enc(cat) =
    (n·mean_cat + m·global_mean) / (n + m) — the leakage-resistant
    categorical encoder for gradient-boosted / linear models; the
    smoothing prior keeps rare categories from memorizing their own
    targets.

    One category-keyed aggregate + a 1-row global aggregate broadcast
    back on a derived constant equi-key (the non-foldable
    ``floor(x*0)`` trick — BroadcastHashJoin, never BNLJ).  At 100 TB
    the encoding table is category-cardinality-sized and broadcasts
    onto the feature frame.  Targets accumulate as EXACT integers in
    1e-2 grid units (per-row snap, BIGINT sums — category sums of a
    money column rounded at 1e-4 reorder-flip between engines
    otherwise); the means divide the exact sums once.  Requires
    ``round_digits >= 2``: the output grid must be at least as fine as
    the 1e-2 accumulation grid, else ``scale`` would floor to 0 and
    every mean would silently collapse to a constant.  Returns
    ``(cat, n, raw_mean, encoded)``."""
    snap = 100  # integer grid for the target accumulation
    if round_digits < 2:
        raise ValueError("round_digits must be >= 2 (the target "
                         "accumulates on a 1e-2 grid); got "
                         f"{round_digits}")
    p = 10 ** round_digits
    scale = p // snap
    tc = F.floor(F.col(target_col).cast("double") * snap
                 + F.lit(0.5)).cast("long")
    per = (df.groupBy(F.col(cat_col).alias("cat"))
           .agg(F.count("*").cast("long").alias("n"),
                F.sum(tc).alias("__s")))
    g = (df.agg((F.sum(tc).cast("double")
                 / F.count("*")).alias("__gm"))
         .withColumn("__k", F.floor(F.col("__gm") * 0)))
    sd = F.col("__s").cast("double")
    return (per.withColumn("__k", F.floor(F.col("__s") * 0))
            .join(F.broadcast(g), "__k")
            .select("cat", "n",
                    (F.floor(sd / F.col("n") * scale + F.lit(0.5)) / p)
                    .alias("raw_mean"),
                    (F.floor((sd + F.lit(m) * F.col("__gm"))
                             / (F.col("n") + F.lit(m)) * scale
                             + F.lit(0.5)) / p).alias("encoded")))


def group_split_audit(df: DataFrame, id_col: str, group_col: str,
                      salt_row: str = "rowsplit",
                      salt_group: str = "groupsplit") -> DataFrame:
    """X128 — train/eval split LEAKAGE audit: contrast a row-level
    hash split against a group-aware one.  A row split scatters each
    group (user, document cluster, session) across both sides, so a
    model can memorize group identity in train and cash it in at
    eval — the classic silent leak; a group-keyed split assigns every
    row of a group to one side by construction.

    Both splits are deterministic sha2 buckets (``hash_bucket``) —
    rerunnable and oracle-reproducible, never ``rand()``.  One scan
    per method, one group-keyed aggregate counting groups whose rows
    span both sides.  Returns one row per method:
    ``(method, n_train, n_eval, n_groups, n_leaky_groups)`` — the
    group method's ``n_leaky_groups`` is structurally 0, which is the
    assertion a pipeline pre-flight makes before training."""
    out = []
    for method, col in [("row", id_col), ("group", group_col)]:
        split = df.withColumn(
            "__b", hash_bucket(col, 2,
                               salt_row if method == "row" else salt_group))
        per_group = (split.groupBy(group_col)
                     .agg(F.sum((F.col("__b") == 0).cast("long"))
                          .alias("__tr"),
                          F.sum((F.col("__b") == 1).cast("long"))
                          .alias("__ev")))
        row = (per_group.agg(
            F.lit(method).alias("method"),
            F.sum("__tr").cast("long").alias("n_train"),
            F.sum("__ev").cast("long").alias("n_eval"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum(((F.col("__tr") > 0) & (F.col("__ev") > 0))
                  .cast("long")).cast("long").alias("n_leaky_groups")))
        out.append(row)
    return out[0].unionByName(out[1])


def stride_chunks(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", window: int = 32,
                  stride: int = 24) -> DataFrame:
    """X134 — sliding-window chunking with overlap (window W, stride
    S < W): the RAG / long-context ingestion cut that keeps W−S
    tokens of context across chunk boundaries, unlike the disjoint
    token chunker.  Chunk starts are 0, S, 2S, … < n_tokens, entirely
    in-row (``sequence`` + ``slice`` over the token array — no
    explode-then-window, no shuffle at all: the cost is one codegen'd
    projection per document).  Returns one row per chunk
    ``(id, chunk_idx, n_chunk_tokens, head_tok)`` — head_tok pins
    content alignment for the oracle."""
    if not (0 < stride < window):
        raise ValueError(
            f"stride_chunks: need 0 < stride < window, "
            f"got window={window} stride={stride}")
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts, lambda st: F.struct(
            (st / stride).cast("long").alias("idx"),
            F.slice(toks, st + 1, window).alias("ck")))
    return (df.select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(F.col(id_col),
                    F.col("c.idx").alias("chunk_idx"),
                    F.size("c.ck").cast("long").alias("n_chunk_tokens"),
                    F.element_at("c.ck", 1).alias("head_tok")))


def quantile_normalize(df, group_col: str, id_col: str, value_col: str,
                       round_digits: int = 4):
    """X151 — quantile normalization: map each group's value
    distribution onto the GLOBAL distribution by rank — after the
    transform every group has (approximately) the global shape, the
    standard cross-source harmonization for length/score features
    (X138 reports the per-decile shifts; this applies the fix).

    Per row: r = (rank−1)/(n_group−1) within its group, then the
    global order statistic at position r·(N−1) with linear
    interpolation — one group-keyed rank window, one DISTRIBUTED
    global index (:func:`global_sort_index`: range-bucket on value
    quantiles, per-bucket row_number, broadcast bucket-prefix counts
    — the round-6 verdict fix replacing the single-partition
    ``Window.orderBy`` global sort), and an equi-join on the
    floor/ceil global positions.  Ranks tie-break on ``id_col`` so
    rerun and engine agree.  Returns ``(id, group, value, mapped)``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    p = 10 ** round_digits
    v = F.col(value_col).cast("double")
    # both scope-registered (returned plan reads base from four
    # branches); caller releases via cache_scope.release_persisted()
    base0 = scoped_persist(
        df.select(F.col(id_col).alias("id"),
                  F.col(group_col).alias("g"), v.alias("v")))
    base = (global_sort_index(base0, "v", "id", out_col="gi")
            .withColumn("rk", F.row_number().over(
                Window.partitionBy("g").orderBy("v", "id"))))
    base = scoped_persist(base)
    sizes = base.groupBy("g").agg(F.count("*").alias("ng"))
    ntot = base.agg(F.count("*").alias("nt"))
    glob_lo = base.select(F.col("gi").alias("lo"),
                          F.col("v").alias("vlo"))
    glob_hi = base.select(F.col("gi").alias("hi"),
                          F.col("v").alias("vhi"))
    pos = (F.col("rk") - 1) / (F.col("ng") - 1) * (F.col("nt") - 1)
    j = (base.join(F.broadcast(sizes), "g")
         .crossJoin(F.broadcast(ntot))
         .withColumn("pos", F.when(F.col("ng") > 1, pos)
                     .otherwise((F.col("nt") - 1) / 2.0))
         .withColumn("lo", F.floor("pos").cast("long") + 1)
         .withColumn("hi", F.least(F.col("lo") + 1, F.col("nt")))
         .withColumn("frac", F.col("pos") - F.floor("pos")))
    mapped = (F.col("vlo")
              + F.col("frac") * (F.col("vhi") - F.col("vlo")))
    return (j.join(glob_lo, "lo").join(glob_hi, "hi")
            .select(F.col("id").alias("id"),
                    F.col("g").alias(group_col),
                    F.col("v").alias(value_col),
                    (F.floor(mapped * p + F.lit(0.5)) / p)
                    .alias("mapped")))


def build_dimension(df: DataFrame, natural_cols: list[str],
                    sk_col: str = "sk") -> DataFrame:
    """X200 — star-schema dimension build: distinct natural-key
    tuples get a DENSE, DETERMINISTIC surrogate key (1-based) — the
    warehouse op every fact-table load needs and hash keys don't
    give (hash keys collide and don't compress; identity columns
    aren't reproducible across reruns).  Keys are assigned in
    sha2-of-natural-key order with the concatenated natural key as
    tiebreak, so a re-run over the same corpus yields the SAME keys
    — surrogate stability without a lookup table — and the rank's
    range-bucketing phase gets a numeric, near-uniform column to
    quantile on regardless of the natural key's types or skew.

    Scale shape: one distinct on the natural key (map-side
    partials), then the X11 two-phase distributed rank
    (``global_sort_index``) over the distinct tuples — no
    unpartitioned window even for a billion-row dimension (URLs,
    session ids).  Natural-key columns must be non-null (dimension
    hygiene; quarantine nulls upstream).  Returns the distinct
    tuples plus ``sk_col``; join it back to facts on the natural
    key (broadcast when small, hash otherwise).
    """
    dim = df.select(*natural_cols).distinct()
    nat = F.concat_ws("\x1f", *[F.col(c).cast("string")
                                for c in natural_cols])
    hv = F.translate(F.substring(F.sha2(nat, 256), 1, 12),
                     "abcdef", "012345").cast("bigint")
    dim = dim.withColumn("__h", hv).withColumn("__nat", nat)
    out = global_sort_index(dim, "__h", "__nat", out_col=sk_col)
    return out.drop("__h", "__nat")


def mixture_solver(df: DataFrame, source_col: str, text_col: str,
                   targets: dict[str, float],
                   round_digits: int = 6) -> DataFrame:
    """X203 — training-mixture solver: given the corpus's NATURAL
    per-source token mass and a TARGET mixture, the largest
    downsample-only sampling rates that realize the target ratios —
    the knob every pretraining run turns (upweight code, cap web)
    without upsampling (repeating data is a separate, deliberate
    decision).  rate_i ∝ target_i / natural_i, normalized so the
    binding source keeps rate 1.0; sources absent from ``targets``
    get target 0 → rate 0 (dropped), stated.

    Scale shape: ONE scan for per-source token counts (in-row
    ``size(split())``, map-side partials), then all arithmetic on
    the |sources|-row table with a window max for the normalizer.
    Returns ``(source, tokens, natural_share, target_share,
    sample_rate, tokens_after)``.
    """
    from pyspark.sql import Window as W

    counts = (df.groupBy(F.col(source_col).alias("source"))
              .agg(F.sum(F.size(F.split(F.col(text_col), r"\s+")))
                   .cast("long").alias("tokens")))
    tgt = F.lit(0.0)
    for k in sorted(targets):
        tgt = F.when(F.col("source") == k,
                     F.lit(float(targets[k]))).otherwise(tgt)
    full = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    d = (counts.withColumn("__tot", F.sum("tokens").over(full))
         .withColumn("target_share", tgt)
         .withColumn("__nat", F.col("tokens") / F.col("__tot"))
         .withColumn("__r", F.col("target_share") / F.col("__nat"))
         .withColumn("__rmax", F.max("__r").over(full)))
    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    rate = F.col("__r") / F.col("__rmax")
    return d.select(
        "source", "tokens", fr(F.col("__nat")).alias("natural_share"),
        "target_share", fr(rate).alias("sample_rate"),
        F.floor(rate * F.col("tokens")).cast("long")
        .alias("tokens_after"))


def denylist_filter(df: DataFrame, col: str,
                    exact_rules: list[str],
                    prefix_rules: list[str]) -> DataFrame:
    """X211 — deny-list application with per-rule attribution: every
    row is attributed to the FIRST matching rule (exact rules beat
    prefixes; longer prefixes beat shorter; lexicographic breaks
    remaining ties) or to the KEPT bucket — the blocklist step of a
    crawl/corpus pipeline, shipped with the hit-count audit that
    tells you which rules actually fire (dead rules are tech debt,
    over-firing rules are data loss).

    Scale shape: the rule sets join as BROADCAST tables — exact on
    the value, prefixes on ``(len, substr(col, 1, len))`` so each
    distinct prefix LENGTH costs one narrow equi-join, never a
    LIKE-scan per rule — and the winning rule is a deterministic
    in-row coalesce over the join results in priority order.
    Returns ``(rule_kind, rule, n_rows)`` covering every input row
    exactly once (kind 'kept', rule '-' for survivors).
    """
    spark = df.sparkSession
    d = df.select(F.col(col).alias("__v"))
    ex = spark.createDataFrame([(r,) for r in sorted(exact_rules)],
                               "__v string") \
        .withColumn("__ex", F.col("__v"))
    d = d.join(F.broadcast(ex), "__v", "left")
    lens = sorted({len(r) for r in prefix_rules}, reverse=True)
    pref_cols = []
    for ln in lens:
        rules = sorted(r for r in prefix_rules if len(r) == ln)
        pr = spark.createDataFrame([(r,) for r in rules],
                                   "__p string") \
            .withColumn(f"__pm{ln}", F.col("__p"))
        d = (d.withColumn("__p", F.substring("__v", 1, ln))
             .join(F.broadcast(pr), "__p", "left").drop("__p"))
        pref_cols.append(f"__pm{ln}")
    rule = F.coalesce(F.col("__ex"),
                      *[F.col(c) for c in pref_cols],
                      F.lit("-"))
    kind = (F.when(F.col("__ex").isNotNull(), "exact")
            .otherwise(F.coalesce(
                *[F.when(F.col(c).isNotNull(), F.lit("prefix"))
                  for c in pref_cols],
                F.lit("kept"))) if pref_cols
            else F.when(F.col("__ex").isNotNull(), "exact")
            .otherwise("kept"))
    return (d.groupBy(kind.alias("rule_kind"), rule.alias("rule"))
            .agg(F.count("*").cast("long").alias("n_rows")))


def build_labels(df: DataFrame, user_col: str, ts_col: str,
                 type_col: str, cutoff: str,
                 obs_days: int = 14, out_days: int = 7,
                 positive_type: str = "purchase") -> DataFrame:
    """X213 — leakage-safe label construction: per user active in
    the OBSERVATION window [cutoff − obs_days, cutoff), behavioral
    features computed ONLY from that window, and a binary label from
    the disjoint OUTCOME window [cutoff, cutoff + out_days) — the
    temporal train-set builder whose whole point is that no feature
    can see past the cutoff (the leakage X128's audit detects, made
    impossible by construction here).

    Scale shape: ONE scan with conditional aggregates per user
    (map-side partials); the window predicates are literal date
    arithmetic.  Returns ``(user, n_events_obs, n_positive_obs,
    days_active_obs, recency_days, label)``.
    """
    cut = F.to_date(F.lit(cutoff))
    ts_d = F.to_date(F.col(ts_col))
    in_obs = (ts_d >= F.date_sub(cut, obs_days)) & (ts_d < cut)
    in_out = (ts_d >= cut) & (ts_d < F.date_add(cut, out_days))
    pos = F.col(type_col) == positive_type
    agg = (df.groupBy(F.col(user_col))
           .agg(F.sum(in_obs.cast("long")).cast("long")
                .alias("n_events_obs"),
                F.sum((in_obs & pos).cast("long")).cast("long")
                .alias("n_positive_obs"),
                F.count_distinct(F.when(in_obs, ts_d))
                .cast("long").alias("days_active_obs"),
                F.min(F.when(in_obs, F.datediff(cut, ts_d)))
                .cast("long").alias("recency_days"),
                F.max(in_out.cast("long")).cast("long")
                .alias("label")))
    return agg.filter(F.col("n_events_obs") > 0)


def pps_systematic_sample(df: DataFrame, key_col: str,
                          weight_col: str, n: int) -> DataFrame:
    """X223 — probability-proportional-to-size SYSTEMATIC sampling,
    fully deterministic and integer-exact: weights snap to integer
    cents, a distributed cumulative sum lays the population on a
    [1, total] line, and every ``step = total div n``-th grid point
    (anchored at ``step div 2`` — a fixed anchor, no RNG) selects
    the row whose weight interval contains it — rows heavier than
    ``step`` can be picked MULTIPLE times (``n_picks`` says how
    often), which is exactly PPS-with-replacement semantics.  The
    survey-sampling standard when inclusion probability must be
    proportional to size AND reproducible.

    Scale shape: the cumulative sum is the two-phase range scan
    (:func:`~sync_cosmos_db_spark.operators.partitioning.range_cumsum`
    — no single-partition exchange); the grid test is integer
    arithmetic shifted POSITIVE before the floor division, because
    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors
    — they agree only on non-negative operands (stated here so nobody
    "simplifies" it back).
    Returns ``(key, weight_cents, n_picks)`` for picked rows.
    """
    from sync_cosmos_db_spark.operators.partitioning import range_cumsum

    cents = (df.select(F.col(key_col).alias("__key"),
                       F.col(weight_col).alias("__v"))
             .withColumn("__c",
                         F.floor(F.col("__v") * 100 + F.lit(0.5))
                         .cast("long")))
    cum, totals = range_cumsum(cents, ["__c", "__key"],
                               {"__cum": F.col("__c")})
    step = max(1, totals["__cum"] // n)
    anchor = step // 2
    # f(x) = number of grid points <= x; shifted positive so both
    # engines' integer division agrees
    shift = int(step - anchor)
    fx = F.expr(f"(__cum + {shift}) div {int(step)}")
    fp = F.expr(f"(__cum - __c + {shift}) div {int(step)}")
    return (cum.withColumn("n_picks", (fx - fp).cast("long"))
            .filter(F.col("n_picks") > 0)
            .select(F.col("__key").alias(key_col),
                    F.col("__c").alias("weight_cents"), "n_picks"))


def aggregate_annotations(ann: DataFrame, item_col: str,
                          annotator_col: str, label_col: str,
                          round_digits: int = 4) -> DataFrame:
    """X238 — gold-label aggregation from multiple annotators with
    an explicit tie policy: per item, the strict-majority binary
    label (ties → NULL, counted, never silently broken — a tie is
    a routing decision for a human adjudicator, not a coin flip),
    then each annotator's agreement rate against the decided gold —
    the labeling-ops view beside X178's pairwise chance-corrected
    kappa (kappa says whether annotators agree; this says who to
    trust and how much gold survives).

    Scale shape: one item-keyed vote aggregate, one item-keyed join
    back (same partitioning), one annotator reduce.  Returns
    ``(annotator, n_decided, n_agree, agreement_rate)`` plus one
    ``__ties__`` row carrying the undecided-item count.
    """
    votes = (ann.groupBy(F.col(item_col))
             .agg(F.count("*").alias("__nv"),
                  F.sum(F.col(label_col).cast("long")).alias("__s")))
    maj = votes.withColumn(
        "__gold",
        F.when(F.col("__s") * 2 > F.col("__nv"), F.lit(1))
        .when(F.col("__s") * 2 < F.col("__nv"), F.lit(0)))
    j = ann.join(maj, item_col)
    p = 10 ** round_digits
    per_ann = (j.filter(F.col("__gold").isNotNull())
               .groupBy(F.col(annotator_col).alias("annotator"))
               .agg(F.count("*").cast("long").alias("n_decided"),
                    F.sum((F.col(label_col).cast("long")
                           == F.col("__gold")).cast("long"))
                    .cast("long").alias("n_agree")))
    per_ann = per_ann.withColumn(
        "agreement_rate",
        F.floor(F.col("n_agree") / F.col("n_decided") * p
                + F.lit(0.5)) / p)
    ties = maj.agg(
        F.lit("__ties__").alias("annotator"),
        F.sum(F.col("__gold").isNull().cast("long")).cast("long")
        .alias("n_decided"),
        F.lit(0).cast("long").alias("n_agree"),
        F.lit(None).cast("double").alias("agreement_rate"))
    return per_ann.unionByName(ties)


def token_budget_select(df: DataFrame, id_col: str, score_col: str,
                        n_tokens_col: str, budget: int,
                        n_buckets: int = 64) -> DataFrame:
    """X255 — greedy token-budget corpus selection: rank documents by
    ``(score DESC, id ASC)`` and keep every document that STARTS inside
    the token ``budget`` — "fill a 10B-token training budget with the
    best-quality documents" (the selection step between quality scoring
    and sequence packing in every LLM data pipeline; no reference
    analog — BASELINE.json north-star extension).

    Scale shape: NO single-partition window anywhere.  The global rank
    is :func:`global_sort_index` (two-phase range-bucket rank) on the
    negated score, and the running token total is
    :func:`global_token_offsets` over that dense rank (the same
    two-phase scan sequence packing uses) — at 100 TB the only
    shuffles are the two per-bucket windows; driver state is
    O(n_buckets) boundaries.  Returns
    ``(id, n_tokens, score, tokens_before)`` for the selected docs —
    ``tokens_before < budget`` is the selection predicate, so the
    kept set can overshoot the budget by at most one document (the
    standard greedy-prefix contract; trim the last doc downstream if
    the budget is hard)."""
    base = df.select(F.col(id_col), F.col(score_col).cast("double")
                     .alias("__score"),
                     F.col(n_tokens_col).cast("long").alias("__nt"))
    base = base.withColumn("__neg", -F.col("__score"))
    ranked = global_sort_index(base, "__neg", id_col, n_buckets=n_buckets,
                               out_col="__rk")
    with_off = global_token_offsets(
        ranked.select(F.col("__rk").alias("__gid"), id_col, "__score",
                      "__nt"),
        "__gid", "__nt", n_buckets=n_buckets)
    return (with_off.filter(F.col("__offset") < budget)
            .select(F.col(id_col),
                    F.col("__nt").alias("n_tokens"),
                    F.col("__score").alias("score"),
                    F.col("__offset").alias("tokens_before")))


def temperature_mixture_weights(df: DataFrame, group_col: str,
                                tau: float = 0.7,
                                token_target: float = 1_000_000.0,
                                round_digits: int = 6) -> DataFrame:
    """X257 — temperature-scaled sampling weights per group:
    ``w_i = n_i^τ / Σ_j n_j^τ`` — the standard multilingual /
    multi-source rebalancing rule (τ=1 is proportional, τ→0 uniform;
    τ≈0.7 is the common multilingual-LM setting), plus the implied
    per-group epochs ``w_i·T / n_i`` for a token/doc target ``T`` —
    the over-sampling factor low-resource groups will be replayed at.

    One group-keyed count + a broadcast 1-row total; |groups| output
    rows.  Cross-engine determinism: ``pow`` results are floor-rounded
    at 1e-8 BEFORE the normalizing sum on both engines (libm/JDK pow
    may differ in the last ulp), the power_iteration_pc discipline.
    Returns ``(group, n, weight, epochs)``."""
    p = 10 ** round_digits
    pw = F.floor(F.pow(F.col("__n"), F.lit(tau)) * 1e8 + F.lit(0.5)) / 1e8
    cnt = (df.groupBy(F.col(group_col).alias("group"))
           .agg(F.count(F.lit(1)).cast("double").alias("__n"))
           .withColumn("__pn", pw))
    tot = cnt.agg(F.sum("__pn").alias("__tot"))
    return (cnt.crossJoin(F.broadcast(tot))
            .select("group",
                    F.col("__n").cast("long").alias("n"),
                    (F.floor(F.col("__pn") / F.col("__tot") * p
                             + F.lit(0.5)) / p).alias("weight"),
                    (F.floor(F.col("__pn") / F.col("__tot")
                             * F.lit(token_target) / F.col("__n")
                             * 1e4 + F.lit(0.5)) / 1e4).alias("epochs")))

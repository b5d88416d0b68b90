"""Deduplication operators (X1 exact, X2 near-dup).

No reference implementation exists (SURVEY.md §2.3 — mandated by
BASELINE.json's north star); the closest reference concept is the
content-equality dedup short-circuit at ``src/migration.py:124-131``,
which X1 generalizes from pairwise to corpus-wide.

Scale design (100 TB):

* Exact dedup is one hash-shuffle on the content digest — never on the
  full text. Map-side partial aggregation keeps the shuffle at
  (digest, min_id, count) triples.
* Near-dup never does the n² self-join: MinHash signatures are banded
  (LSH) so candidate pairs only form inside a band-bucket; candidates
  are then verified with exact Jaccard. Bucket explosion from skew is
  bounded by ``max_bucket`` (drop + log pathological buckets, the
  standard trade at web scale).
* SimHash gives a 64-bit fingerprint whose Hamming distance bounds
  cosine distance of the token multiset — cheap blocking for
  fuzzy-match pipelines.

Everything below is built-in-function Column algebra (split/transform/
aggregate/xxhash64) or an Arrow-batched pass: ``mapInArrow`` for the
MinHash signatures and LSH band slices, ``mapInPandas`` for the span
gram builder and the embedding cosine scorers — zero row-at-a-time
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StructField, StructType,
)

from sync_cosmos_db_spark.cache_scope import cached, scoped_persist
from sync_cosmos_db_spark.operators.iteration import iterate
from sync_cosmos_db_spark.operators.partitioning import spread


def _fround4(c: Column) -> Column:
    """floor(x·10⁴+0.5)/10⁴ — same deterministic rounding as
    queries.fround and every DuckDB oracle (Spark's round() is HALF_UP,
    which diverges on negative values and representation ties)."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------

def let(expr: Column, body) -> Column:
    """Bind ``expr`` ONCE as a higher-order-function lambda variable
    and evaluate ``body(var)`` against the bound value.

    Catalyst performs no common-subexpression elimination INSIDE
    higher-order-function lambdas: an expression referenced from a
    ``transform``/``filter`` lambda body is re-evaluated once per
    element.  For the sequence→slice n-gram pattern that turns an
    O(tokens) tokenize into O(tokens²) per document — measured 3.5 s
    vs 0.6 s on one core for 3-gram shingles over 5,000 SHORT (≤100
    token) docs, and the gap grows linearly with document length, so
    at real-corpus lengths (10³–10⁴ tokens) it is a 100×-class
    scale-killer (the round-11 winnowing finding, 181 s → 5.7 s).

    The binding trick: ``transform(array(expr), body)[1]`` — the
    single-element array forces one evaluation, and the lambda
    VARIABLE is a cheap slot reference for every use inside ``body``.
    Works for any expression type; null propagates unchanged (a null
    ``expr`` arrives as a null variable, exactly as inline)."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def words(col: Column | str) -> Column:
    """Whitespace tokens (the corpus is single-space separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\s+")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings.

    ``sequence(1, len-n+1)`` start positions → ``slice`` → join — stays
    in codegen. For n=1 returns the token array itself.  The token
    array is ``let``-bound so the split runs ONCE per document, not
    once per shingle (see :func:`let`)."""
    w = words(col)
    if n == 1:
        return w

    def body(wv: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(wv) - (n - 1))
        # guard: sequence(1, x<1) would DESCEND in Spark — short docs
        # get []
        return F.when(
            F.size(wv) < n, F.array().cast("array<string>")
        ).otherwise(F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(wv, i, n))))

    return let(w, body)


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard similarity of two arrays (distinct semantics)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(F.array_union(da, db))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def hashed_shingles(col: Column | str, n: int = 3,
                    seed: int = 42) -> Column:
    """Word n-gram shingles as xxhash64 LONGS instead of strings: same
    set semantics up to hash collisions (~0 at 64 bits), but the
    downstream pipeline gets 8-byte elements — smaller to persist,
    cheaper to intersect in the verify Jaccard, and the MinHash kernel
    reads the array's flat int64 buffer straight from Arrow (no second
    string-hash pass, no string transfer to Python)."""
    return F.transform(word_shingles(col, n),
                       lambda s: F.xxhash64(s, F.lit(seed)))


# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str,
                keep: str = "min") -> DataFrame:
    """Keep one deterministic representative per distinct content.

    GroupBy the sha2 content digest, keep min(id): one shuffle keyed on
    a 64-hex digest, deterministic (unlike ``dropDuplicates``, which
    keeps an arbitrary row). Returns (id_col, n_copies, <content via
    rejoin is intentionally NOT done — join back by id if needed>).
    """
    digest = F.sha2(F.to_json(F.struct(*[F.col(c) for c in sorted(content_cols)])), 256)
    keeper = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.withColumn("__digest", digest)
        .groupBy("__digest")
        .agg(keeper.alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__digest")
    )


# ---------------------------------------------------------------------------
# X2 — near-dup: exact n-gram Jaccard (verification / small blocks)
# ---------------------------------------------------------------------------

def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float, n: int = 1,
                  block_col: str | None = None) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ threshold.

    With ``block_col`` the self-join runs only inside blocks (e.g.,
    language) — at 100 TB use :func:`minhash_lsh_pairs` instead, where
    the LSH band IS the block. Output: (id_a, id_b, jaccard_sim),
    id_a < id_b.
    """
    sh = spread(df, [id_col]).select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, n)).alias("__sh"),
        *( [F.col(block_col)] if block_col else [] ))
    a = sh.select(*[F.col(c).alias(f"{c}_a") for c in sh.columns])
    b = sh.select(*[F.col(c).alias(f"{c}_b") for c in sh.columns])
    cond = F.col(f"{id_col}_a") < F.col(f"{id_col}_b")
    if block_col:
        cond = cond & (F.col(f"{block_col}_a") == F.col(f"{block_col}_b"))
    sim = jaccard(F.col("__sh_a"), F.col("__sh_b"))
    return (
        a.join(b, cond)
        .withColumn("jaccard_sim", sim)
        .filter(F.col("jaccard_sim") >= threshold)
        .select(F.col(f"{id_col}_a").alias("id_a"),
                F.col(f"{id_col}_b").alias("id_b"),
                _fround4(F.col("jaccard_sim")).alias("jaccard_sim"))
    )


# ---------------------------------------------------------------------------
# X2 — near-dup at scale: MinHash + banded LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def _affine_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family
    h_i(x) = (a_i·x + b_i) mod (2³¹−1)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
            for _ in range(num_hashes)]


def _band_width(num_hashes: int, bands: int) -> int:
    """Hashes per LSH band, r = num_hashes / bands; raises unless the
    bands tile the signature exactly (a remainder would silently leave
    hashes unbanded, an empty band would hash nothing)."""
    if num_hashes < 1 or bands < 1 or num_hashes % bands:
        raise ValueError(
            "num_hashes and bands must be >= 1 and bands must divide "
            f"num_hashes; got num_hashes={num_hashes}, bands={bands}")
    return num_hashes // bands


def _minhash_bands(shingled: DataFrame, id_col: str, shingle_col: str,
                   num_hashes: int, bands: int, seed: int) -> DataFrame:
    """MinHash signatures cut into LSH bands in one Arrow pass:
    (id, band int, __sig array<bigint>), one row per band of
    r = num_hashes / bands consecutive signature hashes.

    The kernel reads each batch's shingle-list offsets and flat int64
    values without copying, reduces them mod 2³¹−1 once, and for each
    affine pair takes ``np.minimum.reduceat((a·x + b) mod (2³¹−1),
    starts)`` — one vectorized min per document per hash. a < 2³¹ and
    x < 2³¹ keep a·x + b < 2⁶³, so the int64 arithmetic is exact and
    numpy's ``%`` (sign of the divisor) equals Spark's ``pmod``. Null
    and empty shingle arrays are filtered in the JVM first, so every
    list the kernel sees is non-empty and the lists tile the values
    buffer. Array elements must be non-null integers (shingle hashes
    never are). Each input row gets its own signature: ids are expected
    to be unique."""
    r = _band_width(num_hashes, bands)
    coeffs = _affine_coeffs(num_hashes, seed)
    out_schema = StructType([
        StructField(id_col, shingled.schema[id_col].dataType),
        StructField("band", IntegerType()),
        StructField("__sig", ArrayType(LongType())),
    ])

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        band_ids = np.arange(bands, dtype=np.int32)
        for batch in batches:
            n = batch.num_rows
            sh = batch.column(1)
            offsets = sh.offsets.to_numpy()
            x = (sh.values.to_numpy()[offsets[0]:offsets[-1]]
                 .astype(np.int64, copy=False) % _MERSENNE31)
            starts = offsets[:-1] - offsets[0]
            sig = np.empty((n, num_hashes), dtype=np.int64)
            for j, (a, b) in enumerate(coeffs):
                h = x * a
                h += b
                h %= _MERSENNE31
                sig[:, j] = np.minimum.reduceat(h, starts)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(np.repeat(np.arange(n), bands)),
                 pa.array(np.tile(band_ids, n)),
                 pa.ListArray.from_arrays(
                     pa.array(np.arange(0, n * num_hashes + 1, r,
                                        dtype=np.int32)),
                     pa.array(sig.ravel()))],
                names=[id_col, "band", "__sig"])

    return (shingled.select(id_col, shingle_col)
            .where(F.size(shingle_col) > 0)
            .mapInArrow(kernel, out_schema))


def minhash_signatures(shingled: DataFrame, id_col: str,
                       shingle_col: str = "__sh", num_hashes: int = 64,
                       seed: int = 42) -> DataFrame:
    """MinHash signatures: (id, __sig array<bigint>).

    ``shingle_col`` holds 64-bit shingle HASHES (see
    :func:`hashed_shingles`) — each shingle was string-hashed exactly
    once upstream; the ``num_hashes`` hash functions are affine rehashes
    of that base value modulo the Mersenne prime 2³¹−1, the same
    construction as Spark ML's MinHashLSH. Computed by the Arrow kernel
    of :func:`_minhash_bands` with a single band: a narrow
    ``mapInArrow`` over the shingle arrays, no shuffle and no
    per-hash aggregate expressions for Catalyst to analyse.
    Deterministic via the seeded coefficients. Docs with zero shingles
    (null text, or shorter than the shingle width) drop out — they
    cannot near-dup by shingles and belong to exact dedup anyway."""
    return (_minhash_bands(shingled, id_col, shingle_col, num_hashes, 1,
                           seed)
            .select(id_col, "__sig"))


def _shingled_and_banded(df: DataFrame, id_col: str, text_col: str,
                         shingle_n: int, num_hashes: int, bands: int,
                         seed: int, persist_shingles: bool):
    """Shared front of the LSH pipeline: (id, shingle-hash array) and
    the (id, band, bucket) banding of its MinHash signature.

    The bucket is ``xxhash64`` of the band's hash slice, computed in
    the JVM over the array the kernel emits (the array hash equals the
    hash of the same longs passed as separate arguments).
    ``persist_shingles=True`` for consumers that read the shingle
    projection more than once (the pair pipeline's verify join);
    single-pass consumers (the oversized-bucket audit) skip the cache.
    """
    _band_width(num_hashes, bands)  # raise before anything is persisted
    shingled = spread(df.select(id_col, text_col), [id_col]).select(
        F.col(id_col),
        F.array_distinct(
            hashed_shingles(text_col, shingle_n, seed)).alias("__sh"),
    )
    if persist_shingles:
        # The shingle projection feeds three consumers (signatures +
        # both sides of the verify join); without persistence each
        # consumer re-runs scan + shingling. MEMORY_AND_DISK spills
        # instead of OOMing at scale. Scope-registered: the returned
        # plan still reads it, so the caller releases it via
        # cache_scope.release_persisted() after consuming.
        from pyspark import StorageLevel

        shingled = scoped_persist(shingled, StorageLevel.MEMORY_AND_DISK)
    banded = (_minhash_bands(shingled, id_col, "__sh", num_hashes, bands,
                             seed)
              .select(id_col, "band", F.xxhash64("__sig").alias("bucket")))
    return shingled, banded


def minhash_lsh_oversized_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Audit companion to :func:`minhash_lsh_pairs`: the (band, bucket,
    n_members) rows the skew gate DROPS (n_members > max_bucket).

    At 100 TB dropped buckets are near-certain boilerplate/spam clusters
    — operationally you want to count and sample them, not just lose
    them silently. One aggregation on the same (band, bucket) keys the
    pair pipeline shuffles on; no pair expansion, so it is safe to run
    on arbitrarily skewed corpora."""
    _, banded = _shingled_and_banded(df, id_col, text_col, shingle_n,
                                     num_hashes, bands, seed,
                                     persist_shingles=False)
    return (banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .filter(F.col("n_members") > max_bucket))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified with
    exact shingle-Jaccard.

    Pipeline: shingle → signature (num_hashes) → split into ``bands``
    bands of r=num_hashes/bands rows → bucket key = hash(band slice) →
    shuffle ONLY on (band, bucket) → pairs within bucket → dedup pairs →
    verify with exact Jaccard ≥ threshold.

    100 TB: no n² join anywhere; cost ∝ Σ bucket², bounded by
    ``max_bucket`` (oversized buckets dropped — they are near-certain
    spam/boilerplate clusters and handled by exact dedup anyway).
    """
    shingled, banded = _shingled_and_banded(
        df, id_col, text_col, shingle_n, num_hashes, bands, seed,
        persist_shingles=True)

    # Pairs form by collecting ids per (band, bucket) and expanding in-row
    # — NOT by self-joining banded with itself. A self-join (and a
    # broadcast pre-count) would evaluate the whole shingle→signature
    # subplan once per occurrence (aliasing defeats exchange reuse);
    # this shape evaluates it exactly once and needs one shuffle.
    # max_bucket bounds in-row expansion to max_bucket² pairs; oversized
    # buckets are dropped — they are near-certain boilerplate clusters,
    # already covered by exact dedup.
    #
    # Skew hardening: the size gate runs BEFORE collect_list, as a
    # count over a (band, bucket) window. The window shuffles on the
    # same keys as the aggregation below, so Catalyst plans ONE
    # exchange for both; a degenerate bucket (adversarial boilerplate
    # cluster) is buffered in the window operator's spillable sorter
    # and dropped by the filter — its id list is never materialized as
    # a single aggregation-buffer array. (A count+anti-join pre-pass
    # would need a second shuffle of `banded` or a persist; the window
    # gets the same protection for free.)
    wb = W.partitionBy("band", "bucket")
    gated = (
        banded.withColumn("__n", F.count(F.lit(1)).over(wb))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
    )
    buckets = (
        gated.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("__ids"))
    )
    cand = (
        buckets.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    sh_a = shingled.select(F.col(id_col).alias("id_a"),
                           F.col("__sh").alias("__sh_a"))
    sh_b = shingled.select(F.col(id_col).alias("id_b"),
                           F.col("__sh").alias("__sh_b"))
    return (
        cand.join(sh_a, "id_a").join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", _fround4(F.col("jaccard_sim")).alias("jaccard_sim"))
    )


# ---------------------------------------------------------------------------
# X2 — SimHash (64-bit fingerprint blocking)
# ---------------------------------------------------------------------------

def simhash64(tokens: Column, seed: int = 42) -> Column:
    """SimHash of a token array as a bigint (63 effective bits; the sign
    bit stays 0 so the ANSI-mode fold below can't overflow).

    One pass: per-token bit vector from the ``bin()`` string of
    ``xxhash64`` (shift amounts must be Python ints in PySpark, so bits
    come from the binary *string* instead), ±1 counters accumulated via
    ``aggregate``+``zip_with``, sign bits folded into a long with
    ``acc*2 + bit``. All higher-order built-ins — no UDF."""
    def bitvec(t: Column) -> Column:
        bstr = F.lpad(F.bin(F.xxhash64(t, F.lit(seed))), 64, "0")
        # chars 2..64 → 63 low bits, MSB dropped
        return F.transform(F.slice(F.split(bstr, ""), 2, 63),
                           lambda ch: ch.cast("long"))

    counts = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), 63),
        lambda acc, t: F.zip_with(acc, bitvec(t),
                                  lambda a, bit: a + 2 * bit - 1),
    )
    return F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc * 2 + F.when(c > 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bigint)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def simhash_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3, prefix_bits: int = 16,
                      seed: int = 42) -> DataFrame:
    """Near-dup pairs by SimHash: block on the top ``prefix_bits`` bits
    (at most-hamming-3, most dup pairs share a 16-bit prefix band),
    compare within blocks. Scale: shuffle keyed on the prefix, n² only
    inside prefix buckets."""
    fp = spread(df, [id_col]).select(
        F.col(id_col), simhash64(words(text_col), seed).alias("__fp"))
    fp = fp.withColumn("__block", F.shiftrightunsigned(F.col("__fp"),
                                                       64 - prefix_bits))
    # collect per block + in-row expansion: the (expensive) fingerprint
    # fold is evaluated once, not once per self-join side — same shape
    # and same skew caveat as minhash_lsh_pairs.
    buckets = (fp.groupBy("__block")
               .agg(F.collect_list(F.struct(F.col(id_col).alias("id"),
                                            F.col("__fp").alias("fp")))
                    .alias("__xs"))
               .filter(F.size("__xs") > 1))
    return (
        buckets.select(F.explode("__xs").alias("a"), "__xs")
        .select("a", F.explode("__xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming64(F.col("a.fp"), F.col("b.fp")))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                "hamming")
    )


# ---------------------------------------------------------------------------
# X2 — duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Group duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative hash-to-min label propagation.

    Each node starts labeled with itself; every round each node takes
    the min of its own and its neighbors' labels; converged when no
    label changes. Rounds needed ≈ graph diameter ≤ log n after path
    doubling — dup clusters are shallow (star/chain shaped), so this
    terminates in a handful of rounds. Each round is one join + one
    groupBy, both shuffling (node, label) pairs only — the standard
    large-graph CC shape (GraphX/GraphFrames use the same loop).  A
    label changed this round iff ``nmin < label``, so the state carries
    that flag and the iteration driver counts it on the checkpoint job:
    no join against the previous labels, no job of its own.  Raises
    ``RuntimeError`` when labels still change after ``max_iter``
    rounds.

    Returns (node, component) with component = min node id reachable,
    over the driver's eager, scope-registered ``localCheckpoint`` —
    lineage-truncated, safe for any number of consumers without
    caller-side persistence, but NOT recomputable: after
    ``cache_scope.release_persisted()`` any not-yet-consumed
    derivative raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  Consume it
    fully before releasing the scope.
    """
    # Both directions via ONE explode pass, not union-of-two-selects:
    # each union branch would re-execute the upstream edge plan, and
    # edges are typically an EXPENSIVE pair join.
    both = (edges
            .select(F.explode(F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )).alias("__e"))
            .select("__e.a", "__e.b"))

    def step(labels: DataFrame, _r: int) -> DataFrame:
        neighbor_min = (both.join(labels, both.b == labels.node)
                        .groupBy("a").agg(F.min("label").alias("nmin"))
                        .withColumnRenamed("a", "node"))
        return (labels.join(neighbor_min, "node", "left_outer")
                .select("node",
                        F.least("label", F.coalesce("nmin", "label"))
                        .alias("label"),
                        (F.col("nmin") < F.col("label")).alias("changed")))

    with cached(both) as both:
        labels, converged = iterate(
            both.select(F.col("a").alias("node")).distinct()
            .withColumn("label", F.col("node")),
            step, max_iter, until=lambda _r: F.count_if("changed"))
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — graph diameter exceeds max_iter; raise it "
            "(or switch to path-doubling for adversarially long chains)")
    return labels.select("node", F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# X2 — embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.95,
                        block_col: str | None = None) -> DataFrame:
    """Pairs whose embedding cosine ≥ threshold. With ``block_col``
    (e.g., an LSH bucket or cluster id) the join is block-local — the
    100 TB scale path. Without, it is the exact n² verification
    baseline: the corpus matrix is collected (capped at
    ``similarity.MAX_BRUTE_FORCE_QUERIES`` rows, same contract as the
    brute-force top-k paths — above it the n² relation is not a
    verification tool, pass ``block_col``) and shipped inside a
    ``mapInPandas`` closure, each corpus batch scoring against it with
    one float64 matmul.  Round-12 rewrite: the previous Catalyst
    nested-loop join evaluated the higher-order-function dot product
    interpreted PER PAIR PER ELEMENT (~150M lambda evaluations at
    sf0.1) and ran on as few partitions as the broadcast side —
    measured 108.8 s → ~2 s on the same corpus, identical rows.

    Summation-order caveat (ADVICE r12): the float64 matmul sums dot
    products in a different order than the old Spark ``aggregate``
    fold, so a cosine landing EXACTLY on a representation tie at the
    4th decimal could round differently from the historical join
    path.  The sf0.1 corpus produced identical rows/hash, but that is
    one data point, not a proof — if a future oracle mismatch shows a
    ±1e-4 disagreement on this operator, suspect a rounding tie, not
    a logic bug.  Null/empty vectors are dropped up front (the old
    join path dropped them via a null cosine; ``np.asarray`` over a
    ragged list would instead raise) and an empty corpus returns an
    empty frame with the output schema (``np.linalg.norm(axis=1)`` on
    a 0-row matrix raises AxisError)."""
    id_type = next(f.dataType.simpleString()
                   for f in df.schema.fields if f.name == id_col)
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"

    if block_col:
        # Round-13: the blocked branch previously scored each joined
        # pair with the higher-order-function cosine — interpreted per
        # pair PER ELEMENT (the same ~100× penalty class the r12
        # unblocked rewrite removed) — and its pair-MATERIALIZING join
        # stage inherited AQE's input-byte partition sizing (the JW
        # lesson).  Both fixed: the join inputs are co-partitioned on
        # the block key explicitly (user repartition is exempt from
        # AQE coalescing and satisfies the join's distribution
        # requirement, so pair materialization parallelizes by block
        # count), and scoring runs as one float64 rowwise product per
        # Arrow batch.  Same summation-order rounding-tie caveat as
        # the unblocked branch below; zero/null vectors yield NaN and
        # are dropped — which also REMOVES a latent inconsistency
        # (Spark orders NaN above every double, so the old HOF filter
        # would have PASSED a zero-vector pair).
        sc = df.sparkSession.sparkContext
        target = max(sc.defaultParallelism, df.rdd.getNumPartitions())
        v = (df.select(F.col(id_col), F.col(vec_col), F.col(block_col))
             .where(F.col(vec_col).isNotNull()
                    & (F.size(F.col(vec_col)) > 0)))
        a = v.select(*[F.col(c).alias(f"{c}_a") for c in v.columns]) \
             .repartition(target, f"{block_col}_a")
        b = v.select(*[F.col(c).alias(f"{c}_b") for c in v.columns]) \
             .repartition(target, f"{block_col}_b")
        cond = ((F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
                & (F.col(f"{block_col}_a") == F.col(f"{block_col}_b")))
        pairs = (a.join(b, cond)
                 .select(F.col(f"{id_col}_a").alias("id_a"),
                         F.col(f"{id_col}_b").alias("id_b"),
                         F.col(f"{vec_col}_a").alias("__va"),
                         F.col(f"{vec_col}_b").alias("__vb")))
        thr = float(threshold)

        def score_pairs(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if not len(pdf):
                    continue
                A = _np.asarray(list(pdf["__va"]), dtype=_np.float64)
                B = _np.asarray(list(pdf["__vb"]), dtype=_np.float64)
                with _np.errstate(divide="ignore", invalid="ignore"):
                    s = ((A * B).sum(axis=1)
                         / (_np.linalg.norm(A, axis=1)
                            * _np.linalg.norm(B, axis=1)))
                keep = s >= thr                      # NaN compares False
                sims = _np.floor(s[keep] * 10000 + 0.5) / 10000  # _fround4
                yield _pd.DataFrame(
                    {"id_a": pdf["id_a"].to_numpy()[keep],
                     "id_b": pdf["id_b"].to_numpy()[keep],
                     "cosine_sim": sims})

        return pairs.mapInPandas(score_pairs, out_schema)

    from sync_cosmos_db_spark.operators.similarity import (
        MAX_BRUTE_FORCE_QUERIES,
    )

    import numpy as np

    # Null/zero-length vectors can never clear a positive threshold
    # (the old join path's cosine was null for them); drop them BEFORE
    # collect so np.asarray never sees a ragged list, and apply the
    # same predicate to the mapInPandas input below so score() never
    # does either.
    clean = df.select(id_col, vec_col).where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    rows = clean.limit(MAX_BRUTE_FORCE_QUERIES + 1).collect()
    if len(rows) > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"embedding_dup_pairs: corpus exceeds MAX_BRUTE_FORCE_QUERIES="
            f"{MAX_BRUTE_FORCE_QUERIES} rows for the unblocked n² "
            "verification baseline; pass block_col (an LSH bucket or "
            "cluster id) — the blocked join is the scale path.")
    if not rows:
        return df.sparkSession.createDataFrame([], out_schema)
    all_ids = np.asarray([r[0] for r in rows])
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        Mn = np.where(norms > 0, M / norms, np.nan)

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = _np.asarray(list(pdf[vec_col]), dtype=_np.float64)
            cn = _np.linalg.norm(C, axis=1, keepdims=True)
            with _np.errstate(divide="ignore", invalid="ignore"):
                Cn = _np.where(cn > 0, C / cn, _np.nan)
            S = Cn @ Mn.T                              # batch × corpus
            bids = pdf[id_col].to_numpy()
            # id_a < id_b dedupes the symmetric relation exactly like
            # the join condition did; NaN (zero vectors) compares
            # False against the threshold, matching the old path's
            # null-dropping division.
            keep = (S >= threshold) & (all_ids[None, :] > bids[:, None])
            ai, bj = _np.nonzero(keep)
            sims = _np.floor(S[ai, bj] * 10000 + 0.5) / 10000  # _fround4
            yield _pd.DataFrame({"id_a": bids[ai], "id_b": all_ids[bj],
                                 "cosine_sim": sims})

    # Same lesson as linkage.jaro_winkler_join: the scoring stage's
    # parallelism would otherwise be the small input scan's partition
    # count (2 for the sf0.1 embeddings file), not the work's.  The
    # corpus is ≤ MAX_BRUTE_FORCE_QUERIES rows by contract, so the
    # unconditional repartition-to-cores can never down-partition a
    # large scan here.
    return (clean
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .mapInPandas(score, out_schema))


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): find token spans of length >= n
# that occur verbatim in more than one document, and measure how much of
# each document those shared spans cover.  The paper builds a corpus
# suffix array; the distributed re-expression is gram-keyed: a span of
# length >= n is duplicated iff every length-n window inside it is, so
# per-position n-gram sharing gives exact span coverage without any
# global index.  Reference has no dedup at all (SURVEY.md §2.3).
# ---------------------------------------------------------------------------

def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      n: int) -> DataFrame:
    """(id, start, length-``n`` gram) rows for every token position —
    the shared front of the span-dedup pipeline.

    Round-8 rewrite (round-7 verdict item 6): the old per-position
    ``transform(slice ∘ concat_ws)`` gram builder is a higher-order
    function — CodegenFallback, interpreted per position, O(len·n)
    string copies per doc — and profiled at ~75% of the coverage
    operator's runtime (2.8 s of 3.7 s at sf0.1).  Built here in one
    Arrow-vectorized ``mapInPandas`` pass instead — one Python string
    join per gram, 5× faster warm.  Round 15: the input is spread()
    first (floor-only) — the pass inherited the documents scan's
    single bench-scale split, so the dominant Python stage ran on one
    core; on a wide 100 TB scan spread() is a no-op and the pass
    stays NARROW (the consumers' first shuffle is the gram key,
    exactly as before).
    Tokenization mirrors :func:`words` exactly: Spark's ``split`` is
    Java regex whose default ``\\s`` class is ASCII-only, so the Python
    split uses ``flags=re.ASCII`` (Python's default ``\\s`` is
    Unicode-aware and would split on U+00A0 etc., making
    ``covered_tokens`` inconsistent with the ``F.size(words(...))``
    token totals — advisor r8 finding)."""
    id_type = next(f.dataType.simpleString()
                   for f in df.schema.fields if f.name == id_col)
    occ_schema = f"{id_col} {id_type}, s int, g string"

    def build_grams(batches):
        import re as _re

        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = {id_col: [], "s": [], "g": []}
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                ws = _re.split(r"\s+", txt if txt is not None else "",
                               flags=_re.ASCII)
                m = len(ws) - n + 1
                if m <= 0:
                    continue
                rows[id_col].extend([did] * m)
                rows["s"].extend(range(1, m + 1))
                rows["g"].extend(" ".join(ws[i:i + n])
                                 for i in range(m))
            yield _pd.DataFrame(rows)

    return spread(df.select(id_col, text_col)).mapInPandas(build_grams,
                                                           occ_schema)


def duplicated_span_coverage(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             n: int = 8,
                             max_gram_occ: int = 100_000) -> DataFrame:
    """Per-document coverage by cross-document duplicated token spans.

    Returns (id, n_tokens, covered_tokens, dup_span_frac) where
    covered_tokens counts distinct token positions lying inside at
    least one length-``n`` gram that also occurs verbatim in ANOTHER
    document.  ``dup_span_frac`` is the fraction a span-removal pass
    would delete (the usual act-on threshold is frac > 0, dropping or
    trimming the doc).

    Scale shape: ONE explode to (doc, start, gram) rows, shuffled by
    the gram ONCE — sharing is decided by a min/max-doc window over the
    gram partition, so there is no aggregate-plus-semi-join pair that
    would shuffle the exploded grams twice.  Coverage is then an exact
    interval union of the fixed-length shared spans via a per-doc
    ``lag`` window (each shared start ``s`` contributes
    ``min(n, s - prev_s)`` tokens), replacing the old n-way
    position-explode + distinct — the row volume after the gram window
    is just the shared occurrences, never n× them.  Totals come
    straight from the source (no second pass over the explode).  Every
    shuffle key is the gram or the doc id — no suffix array, no driver
    state.

    Viral-gram skew gate (round-4 verdict item 3): a corpus-viral
    ``n``-gram (a boilerplate header at web scale) concentrates ALL its
    occurrences in one gram partition.  Grams with more than
    ``max_gram_occ`` occurrences are DROPPED from span accounting by a
    count over the SAME gram window that decides sharing — one
    exchange, and the degenerate partition is buffered in the window
    operator's spillable sorter, never materialized as an aggregation
    array (exactly the gate :func:`minhash_lsh_pairs` applies to
    oversized buckets).  Dropped grams are near-certain boilerplate —
    audit them with :func:`duplicated_span_oversized_grams`, the
    companion that reports what the gate excluded.  The default cap is
    far above anything a non-adversarial sf corpus produces, so small-
    scale results are unchanged; coverage for a genuinely viral gram is
    then UNDER-counted by design (the gate trades exactness on spam
    grams for a bounded partition).
    """
    from pyspark.sql import Window as W

    w = words(text_col)

    occ = _gram_occurrences(df, id_col, text_col, n)

    wg = W.partitionBy("g")
    spans = (occ
             .withColumn("__shared",
                         F.min(id_col).over(wg) != F.max(id_col).over(wg))
             .withColumn("__occ", F.count(F.lit(1)).over(wg))
             .filter(F.col("__shared")
                     & (F.col("__occ") <= max_gram_occ))
             .select(id_col, "s"))

    wd = W.partitionBy(id_col).orderBy("s")
    contrib = F.least(
        F.lit(n),
        F.col("s") - F.lag("s", 1).over(wd)).cast("long")
    covered = (spans
               .withColumn("__c", F.coalesce(contrib, F.lit(n).cast("long")))
               .groupBy(id_col)
               .agg(F.sum("__c").alias("covered_tokens")))

    totals = df.select(F.col(id_col), F.size(w).alias("n_tokens"))
    return (totals.join(covered, id_col, "left_outer")
            .select(
                F.col(id_col),
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long")
                .alias("covered_tokens"),
                _fround4(F.coalesce(F.col("covered_tokens"), F.lit(0))
                         / F.col("n_tokens")).alias("dup_span_frac")))


def duplicated_span_oversized_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_gram_occ: int = 100_000,
) -> DataFrame:
    """Audit companion to :func:`duplicated_span_coverage`: the grams
    its viral-gram gate DROPS, as (gram, n_occurrences, n_docs) rows —
    the twin of :func:`minhash_lsh_oversized_buckets`.

    At web scale a dropped gram is near-certain boilerplate (a shared
    site header, a license banner); operationally you count and sample
    these, then feed them to a boilerplate-strip pass — not lose them
    silently.  One aggregation on the same gram key the coverage
    pipeline shuffles on; no span expansion, so it is safe on
    arbitrarily skewed corpora."""
    return (_gram_occurrences(df, id_col, text_col, n)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct(F.col(id_col)).alias("n_docs"))
            .filter(F.col("n_occurrences") > max_gram_occ)
            .select(F.col("g").alias("gram"), "n_occurrences", "n_docs"))


def elect_canonical(pairs: DataFrame, docs: DataFrame,
                    id_col: str = "doc_id",
                    quality_col: str = "n_chars") -> DataFrame:
    """X91 — survivorship election over duplicate clusters: pairs →
    connected components → per cluster, keep the member with the
    highest ``quality_col`` (lowest id on ties).  This is the step
    between near-dup DETECTION (X2) and the curated corpus: every
    cluster contributes exactly one canonical document, chosen by an
    explicit, deterministic rule rather than "whichever survived the
    dropDuplicates".

    Scale shape: CC is :func:`connected_components` (node-keyed label
    propagation); the election is ONE cluster-keyed max-struct
    aggregate over the (node, component, quality) table — cluster
    membership lists are never collected.  Returns
    ``(component, canonical_id, n_members, best_quality)``.
    """
    comp = connected_components(pairs)
    labeled = comp.join(
        docs.select(F.col(id_col).alias("node"),
                    F.col(quality_col).cast("long").alias("__q")),
        "node")
    return (labeled.groupBy("component")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.max(F.struct(
                     F.col("__q").alias("q"),
                     (-F.col("node")).alias("neg_id"))).alias("best"))
            .select("component",
                    (-F.col("best.neg_id")).cast("long")
                    .alias("canonical_id"),
                    "n_members",
                    F.col("best.q").alias("best_quality")))

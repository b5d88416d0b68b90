"""Entity resolution / record linkage: blocked fuzzy join.

The reference has no linkage surface at all (its only matching is exact
``id`` equality during migration, ``/root/reference/migrate.py:61-78``);
this is an extension operator for the training-data-pipeline posture —
joining dirty/free-text entity mentions back to a canonical dimension
without an n² comparison.

Design (standard multi-pass blocking, Spark-first):

1. **Candidate generation** — each name emits a small set of blocking
   keys (prefix of the string and prefix of its reverse, i.e. the
   suffix).  Any single *interior* edit (substitution, deletion,
   insertion) leaves at least one of the two keys intact, so
   distance-1-interior pairs are never lost.  Edits inside the first
   ``key_len`` chars break the prefix key but not the suffix key, and
   vice versa; a name shorter than ``2·key_len`` still emits both.
2. **Frequency gate** — keys shared by more than ``max_df`` names are
   dropped *before* the candidate join (same windowed document-frequency
   gate as the decontamination operator): constant prefixes like a
   shared ``"Customer#"`` stem would otherwise turn one block into an
   n² comparison.  The gate runs on the same shuffle keys as the join,
   so it costs no extra exchange.
3. **Verify** — candidates (an equi-join on the blocking key, never a
   cross join) are scored with ``levenshtein`` and kept under
   ``max_dist``; ties resolve to the smallest right-side id so the
   result is deterministic.

At 100 TB every shuffle is keyed by blocking key or record id; block
sizes are bounded by ``max_df`` by construction, so no task sees a
quadratic blow-up.  The recall contract (no distance-1-interior pair
lost) is asserted against the unblocked exact join in
tests/test_linkage.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sync_cosmos_db_spark.operators.partitioning import floor_width
from sync_cosmos_db_spark.session import register_pickle_by_value


def blocking_keys(name: Column | str, key_len: int = 5) -> Column:
    """Array of blocking keys for a name: ``key_len``-char prefix and
    ``key_len``-char suffix.  Both survive any single edit that is at
    least ``key_len`` chars from the respective end."""
    c = F.col(name) if isinstance(name, str) else name
    return F.array_distinct(F.array(
        F.substring(c, 1, key_len),
        F.reverse(F.substring(F.reverse(c), 1, key_len)),
    ))


def _keyed(df: DataFrame, id_col: str, name_col: str, side: str,
           key_len: int) -> DataFrame:
    return (df.select(F.col(id_col).alias(f"{side}_id"),
                      F.col(name_col).alias(f"{side}_name"),
                      F.explode(blocking_keys(name_col, key_len))
                      .alias("bkey")))


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    left_name: str = "l_name",
    right_id: str = "r_id",
    right_name: str = "r_name",
    key_len: int = 5,
    max_df: int = 50,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy-join ``left`` names to ``right`` names via multi-pass
    blocking + levenshtein verify.

    Returns one row per matched left record: ``(l_id, l_name, r_id,
    r_name, dist)`` where ``r_id`` is the minimum-distance match
    (ties → smallest ``r_id``).  Left records with no candidate under
    ``max_dist`` are absent (semi-join semantics).
    """
    lk = _keyed(left, left_id, left_name, "l", key_len)
    rk = _keyed(right, right_id, right_name, "r", key_len)

    # Frequency gate on the SAME key the candidate join shuffles on:
    # a window count costs no extra exchange, and dropping hot keys
    # here is what bounds block size (and so task-level work) at scale.
    from pyspark.sql import Window as W
    both = (lk.select("bkey").withColumn("side", F.lit("l"))
            .unionByName(rk.select("bkey").withColumn("side", F.lit("r"))))
    hot = (both.groupBy("bkey").count()
           .filter(F.col("count") > max_df).select("bkey"))
    lk = lk.join(F.broadcast(hot), "bkey", "left_anti")
    rk = rk.join(F.broadcast(hot), "bkey", "left_anti")
    _ = W  # window variant documented above; broadcast anti-join of the
    # (small, gated) hot-key set keeps both sides on one exchange each.

    cand = (lk.join(rk, "bkey")
            .select("l_id", "l_name", "r_id", "r_name")
            .distinct())
    scored = (cand
              .withColumn("dist",
                          F.levenshtein("l_name", "r_name").cast("long"))
              .filter(F.col("dist") <= max_dist))
    # Deterministic best match per left record.
    best = scored.groupBy("l_id", "l_name").agg(
        F.min(F.struct("dist", "r_id", "r_name")).alias("m"))
    return best.select(
        "l_id", "l_name",
        F.col("m.r_id").alias("r_id"),
        F.col("m.r_name").alias("r_name"),
        F.col("m.dist").alias("dist"))


def editdist_join(df: DataFrame, id_col: str, text_col: str,
                  max_dist: int = 1) -> DataFrame:
    """X119 — exact edit-distance self-join: every pair (a < b) with
    levenshtein(sₐ, s_b) ≤ ``max_dist`` — typo-level entity dedup
    (names, titles, product codes) where token-set similarity
    (``setsim_join``) is blind because a one-character typo changes
    the whole token.

    Two complete blocking strategies, chosen by ``max_dist``:

    * ``max_dist == 1`` — **FastSS deletion-neighborhood join**: each
      string emits itself plus its ``len`` single-deletion variants
      (×(len+1) in-row expansion); two strings within edit distance 1
      necessarily share a variant (substitution: delete the differing
      position from both; indel: the longer string's deletion equals
      the shorter string), so a variant-keyed equi-join is complete.
      Variant buckets collide only on NEAR-DUPLICATES, so candidate
      volume tracks the true output even on the pathological
      shared-prefix fixed-length corpora (SKUs, ``Customer#0000…``
      names) where any substring-segment scheme degenerates: PassJoin
      puts every such string in ONE segment bucket and goes quadratic
      — measured 243 s on 15k TPC-H names vs ~2 s for this path.
    * ``max_dist >= 2`` — **PassJoin segment blocking** (deletion
      neighborhoods grow as C(len, d)): d+1 even segments per string;
      by pigeonhole any partner within distance d contains one
      segment exactly, shifted by at most d; probes emit O(d³)
      substring keys.  The candidate join is pinned to sort-merge —
      on low-entropy corpora its output is quadratic in bucket sizes
      and must stream (AQE's broadcast pick OOMs).

    Both paths verify candidates in-row with the built-in JVM
    ``levenshtein`` (no UDF) and return ``(id_a, id_b, dist)``.

    The oracle is the unblocked n² formulation on the same fixture —
    feasible at test scale, which is exactly why the blocked forms
    exist for the real one.
    """
    if max_dist < 1:
        raise ValueError(f"editdist_join: max_dist must be >= 1, "
                         f"got {max_dist}")
    if max_dist == 1:
        return _editdist_join_fastss(df, id_col, text_col)
    d = max_dist
    nseg = d + 1
    s = df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("txt"),
                  F.length(text_col).alias("len"))

    # segment side: the d+1 even segments of each string.
    # seg i of length L spans [floor(i·L/(d+1)), floor((i+1)·L/(d+1))).
    i = F.explode(F.sequence(F.lit(0), F.lit(nseg - 1))).alias("i")
    segs = (s.select("id", "txt", "len", i)
            .withColumn("st", F.floor(F.col("i") * F.col("len") / nseg))
            .withColumn("sl", F.floor((F.col("i") + 1) * F.col("len")
                                      / nseg) - F.col("st"))
            .filter(F.col("sl") > 0)
            .select("id", F.col("len").alias("l"), "i",
                    F.expr("substr(txt, cast(st AS INT) + 1, "
                           "cast(sl AS INT))").alias("seg")))

    # probe side: for every candidate partner length ℓ ∈ [len-d, len]
    # (the SHORTER string is always the segment side, so ℓ ≤ len),
    # extract the substring where partner-segment i could land,
    # shifted by at most d.
    ll = F.explode(F.sequence(F.col("len") - d, F.col("len"))).alias("l")
    sh = F.explode(F.sequence(F.lit(-d), F.lit(d))).alias("sh")
    probes = (s.select(F.col("id").alias("pid"),
                       F.col("txt").alias("ptxt"),
                       F.col("len").alias("plen"), ll)
              .filter(F.col("l") > 0)
              .select("pid", "ptxt", "plen", "l",
                      F.explode(F.sequence(F.lit(0),
                                           F.lit(nseg - 1))).alias("i"))
              .withColumn("st", F.floor(F.col("i") * F.col("l") / nseg))
              .withColumn("sl", F.floor((F.col("i") + 1) * F.col("l")
                                        / nseg) - F.col("st"))
              .filter(F.col("sl") > 0)
              .select("pid", "ptxt", "plen", "l", "i", "st", "sl", sh)
              .withColumn("pos", F.col("st") + F.col("sh"))
              .filter((F.col("pos") >= 0)
                      & (F.col("pos") + F.col("sl") <= F.col("plen")))
              .select("pid", "ptxt", "plen", "l", "i",
                      F.expr("substr(ptxt, cast(pos AS INT) + 1, "
                             "cast(sl AS INT))").alias("seg")))

    # keep BOTH orientations of equal-length candidates: pigeonhole
    # only guarantees the SEGMENT side's segment appears in the probe
    # side, so an (a,b) pair may surface in either orientation; the
    # canonical least/greatest + distinct below dedups.
    #
    # The candidate join is PINNED to sort-merge: on a low-entropy
    # corpus (shared prefixes, short alphabet) segment buckets are
    # collectively large and the join output is quadratic in bucket
    # sizes — a streaming, spillable SMJ handles that; AQE's broadcast
    # pick builds the exploded probe side in executor heap and OOMs
    # (measured: 50k same-length shared-prefix SKUs OOM a 1 GiB
    # executor under broadcast, finish in ~21 s under SMJ).
    # pair-keyed user repartition before the distinct, for the same
    # reason as the FastSS path below: AQE would size the dedup+verify
    # stage by candidate bytes, not the levenshtein CPU behind them.
    # Floor semantics via the shared helper (ADVICE r17 — one place
    # owns the getNumPartitions caveats); the floor is derived from the
    # INPUT frame, a deliberate proxy for the pair stream it sizes
    # (the pair stream's own split count is not knowable pre-shuffle).
    target, _ = floor_width(df)
    cand = (segs.hint("shuffle_merge")
            .join(probes.hint("shuffle_merge"), ["l", "i", "seg"])
            .filter(F.col("id") != F.col("pid"))
            .select("id", "pid")
            .repartition(target, "id", "pid").distinct())
    sa = s.select(F.col("id"), F.col("txt").alias("ta"))
    sb = s.select(F.col("id").alias("pid"), F.col("txt").alias("tb"))
    verified = (cand.join(sa, "id").join(sb, "pid")
                .withColumn("dist", F.levenshtein("ta", "tb"))
                .filter(F.col("dist") <= d))
    return (verified.select(
        F.least(F.col("id"), F.col("pid")).alias("id_a"),
        F.greatest(F.col("id"), F.col("pid")).alias("id_b"),
        F.col("dist").cast("long").alias("dist"))
        .distinct())


def _editdist_join_fastss(df: DataFrame, id_col: str,
                          text_col: str) -> DataFrame:
    """FastSS complete blocking for edit distance 1: variant-keyed
    self-join over {s} ∪ {s minus one char}.  See
    :func:`editdist_join` for the completeness argument and the
    PassJoin comparison."""
    s = df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("txt"),
                  F.length(text_col).alias("len"))
    pos = F.explode(F.sequence(F.lit(-1), F.col("len") - 1)).alias("pos")
    variants = (s.select("id", "txt", pos)
                .select("id",
                        F.when(F.col("pos") < 0, F.col("txt"))
                        .otherwise(F.concat(
                            F.expr("substr(txt, 1, pos)"),
                            F.expr("substr(txt, pos + 2)")))
                        .alias("var"))
                .distinct())
    a = variants
    b = variants.select(F.col("id").alias("pid"),
                        F.col("var").alias("var"))
    # Pin the dedup+verify stage's width with a user repartition on the
    # pair key (exempt from AQE coalescing; it REPLACES the distinct's
    # own exchange, so no extra shuffle): AQE sizes the post-shuffle
    # stage by candidate-pair BYTES and is blind to the per-pair
    # levenshtein CPU behind them — profiled 8 tasks on 9.1 MB with 24
    # cores idle at sf0.1.  Floor semantics via the shared helper
    # (ADVICE r17): never down-partition a wide pair stream.
    target, _ = floor_width(df)
    cand = (a.join(b, "var")
            .filter(F.col("id") < F.col("pid"))
            .select("id", "pid")
            .repartition(target, "id", "pid").distinct())
    sa = s.select(F.col("id"), F.col("txt").alias("ta"))
    sb = s.select(F.col("id").alias("pid"), F.col("txt").alias("tb"))
    return (cand.join(sa, "id").join(sb, "pid")
            .withColumn("dist", F.levenshtein("ta", "tb"))
            .filter(F.col("dist") <= 1)
            .select(F.col("id").alias("id_a"),
                    F.col("pid").alias("id_b"),
                    F.col("dist").cast("long").alias("dist")))


def _jw_vector(names_a, names_b):
    """Jaro-Winkler similarity for N string pairs, vectorized ACROSS
    pairs: per (len_a, len_b) group the greedy match loop runs as
    O(len_a·len_b) numpy mask updates over N-vectors instead of
    O(N·len_a·len_b) Python character steps — the round-12 rewrite that
    took the blocked fuzzy self-join from 76.8 s to single-digit
    seconds at sf0.1 (same trick as the vectorized brute-force top-k:
    hoist the interpreter out of the per-pair hot loop).

    Bit-identical to the classic scalar Winkler variant this replaced
    (and to DuckDB's ``jaro_winkler_similarity`` — pinned by the 8,000
    randomized-pair parity test in tests/test_r7_ops.py): Jaro with the
    ``max(l1,l2)//2 - 1`` match window, greedy first-free-match
    assignment in window order, half-transposition count over the
    order-aligned matched characters, identical-string fast path
    (window can be empty for length ≤ 2), 0.0 when either side is
    empty, prefix boost p=0.1 over at most 4 chars only when
    jaro > 0.7, and the exact float expression order of the scalar
    form (``(m/l1 + m/l2 + (m-t)/m) / 3``; ``j + pre*0.1*(1-j)``).

    Returns a float64 array aligned with the inputs."""
    import numpy as np

    n = len(names_a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    la = np.fromiter((len(s) for s in names_a), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in names_b), dtype=np.int64, count=n)
    for l1, l2 in {(int(a), int(b)) for a, b in zip(la, lb)}:
        sel = np.nonzero((la == l1) & (lb == l2))[0]
        if l1 == 0 or l2 == 0:
            continue                                   # stays 0.0
        m = len(sel)
        # numpy U-dtype is UTF-32: viewing as int32 yields the code
        # points directly — no per-character Python ord() loop (that
        # loop was the next bottleneck once the match loop vectorized)
        A = (np.array([names_a[i] for i in sel], dtype=f"U{l1}")
             .view(np.int32).reshape(m, l1))
        B = (np.array([names_b[i] for i in sel], dtype=f"U{l2}")
             .view(np.int32).reshape(m, l2))
        md = max(l1, l2) // 2 - 1
        m1 = np.zeros((m, l1), dtype=bool)
        m2 = np.zeros((m, l2), dtype=bool)
        for i in range(l1):
            lo, hi = max(0, i - md), min(l2, i + md + 1)
            got = np.zeros(m, dtype=bool)
            for j in range(lo, hi):
                cand = ~got & ~m2[:, j] & (B[:, j] == A[:, i])
                m2[:, j] |= cand
                got |= cand
            m1[:, i] = got
        matches = m1.sum(axis=1)
        maxm = min(l1, l2)
        # order-aligned matched characters via rank scatter (the
        # trailing column is the trash slot for unmatched positions)
        c1 = np.zeros((m, maxm + 1), dtype=np.int64)
        c2 = np.zeros((m, maxm + 1), dtype=np.int64)
        r1 = np.where(m1, np.cumsum(m1, axis=1) - 1, maxm)
        r2 = np.where(m2, np.cumsum(m2, axis=1) - 1, maxm)
        np.put_along_axis(c1, r1, A, axis=1)
        np.put_along_axis(c2, r2, B, axis=1)
        ranks = np.arange(maxm)[None, :]
        t = ((c1[:, :maxm] != c2[:, :maxm])
             & (ranks < matches[:, None])).sum(axis=1) // 2
        with np.errstate(divide="ignore", invalid="ignore"):
            j = (matches / l1 + matches / l2
                 + (matches - t) / matches) / 3
        j = np.where(matches == 0, 0.0, j)
        if l1 == l2:
            j = np.where((A == B).all(axis=1), 1.0, j)
        k = min(4, l1, l2)
        eq = np.cumprod(A[:, :k] == B[:, :k], axis=1) if k else \
            np.zeros((m, 0), dtype=np.int64)
        pre = eq.sum(axis=1)
        out[sel] = np.where(j > 0.7, j + pre * 0.1 * (1 - j), j)
    return out


def jaro_winkler_join(df: DataFrame, id_col: str, name_col: str,
                      block_cols: list[str], threshold: float = 0.9,
                      round_digits: int = 6) -> DataFrame:
    """X176 — Jaro-Winkler fuzzy self-join: candidate pairs share the
    declared blocking key (``block_cols``, e.g. nation + first name
    character) and survive if their Jaro-Winkler similarity reaches
    ``threshold`` — the name-matching metric record linkage actually
    uses (transposition-tolerant, prefix-boosted), complementing the
    edit-distance join (X119: typo distance) and PPJoin (X58: token
    sets).

    The blocking is PART OF THE OPERATOR'S CONTRACT (the oracle
    applies the same block), so candidate generation is an equi-join
    on the block key — never all-pairs; skewed blocks are the
    caller's knob.  Scoring runs in ONE Arrow-batched ``mapInPandas``
    over the joined pairs calling :func:`_jw_vector` (pair-vectorized
    numpy; this module is registered pickle-by-value below, the
    multimodal.py precedent, so the closure ships the scorer's code
    and executors never need the package importable) — verified
    bit-identical to DuckDB's ``jaro_winkler_similarity`` on 8,000
    randomized pairs (empties, spaces, transpositions;
    tests/test_r7_ops.py) so the oracle can hash-check exact doubles
    after rounding.  Pair order is pinned ``id_a < id_b``.  Returns
    ``(id_a, id_b, sim)``.
    """
    # Floor semantics (ADVICE r12): an unconditional
    # repartition-to-cores would DOWN-partition a multi-TB pair
    # stream to core count and create giant tasks, so the target is
    # max(cores, input-scan splits).  The floor probe runs on the
    # INPUT scan (a leaf plan — `.rdd` there converts without running
    # jobs), not on the join output: probing that under AQE
    # materializes its input shuffles once for the probe and again
    # for the real job.  The pair stream is never narrower than its
    # input (every surviving row rode in through the scan), so scan
    # splits are a sound lower bound — at 100 TB the scan yields
    # ~O(100k) splits and both repartitions below keep them.
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    left = df.select(*block_cols, F.col(id_col).alias("id_a"),
                     F.col(name_col).alias("name_a"))
    right = df.select(*block_cols, F.col(id_col).alias("id_b"),
                      F.col(name_col).alias("name_b"))
    # Co-partition BOTH join inputs on the block key explicitly
    # (round-13 sf0.5 finding): AQE coalesces the block join's
    # shuffle reads by INPUT bytes, so a byte-small but
    # pair-multiplied corpus materialized its entire pair stream in
    # ONE join task (the 112M-pair 5× control ran >10 min in a
    # single-task stage).  A user-specified repartition on the join
    # key is exempt from AQE coalescing and satisfies the join's
    # distribution requirement, so the pair-MATERIALIZING stage runs
    # at `target` partitions (bounded by distinct block count —
    # skewed blocks remain the caller's declared knob).
    left = left.repartition(target, *block_cols)
    right = right.repartition(target, *block_cols)
    pairs = (left.join(right, block_cols)
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "name_a", "name_b"))
    # AQE sizes the join's output partitions by the INPUT shuffle bytes
    # and is blind to pair multiplication (a 1.5 MB dimension join fed
    # the whole 4.5M-pair sf0.1 scoring stage to ONE task — measured).
    # Rebalance the pair stream so the scorer parallelizes across ALL
    # cores even when pairs concentrate in few blocks; the extra
    # exchange carries only (id, id, name, name) rows and is dwarfed
    # by the scoring it unblocks.
    pairs = pairs.repartition(target)
    p = 10 ** round_digits
    thr = float(threshold)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            na = ["" if s is None else s for s in pdf["name_a"]]
            nb = ["" if s is None else s for s in pdf["name_b"]]
            s = _jw_vector(na, nb)
            keep = s >= thr
            sims = np.floor(s[keep] * p + 0.5) / p
            yield pd.DataFrame({"id_a": pdf["id_a"].to_numpy()[keep],
                                "id_b": pdf["id_b"].to_numpy()[keep],
                                "sim": sims})

    id_type = next(f.dataType.simpleString()
                   for f in df.schema.fields if f.name == id_col)
    return pairs.mapInPandas(
        run, f"id_a {id_type}, id_b {id_type}, sim double")


register_pickle_by_value(__name__)

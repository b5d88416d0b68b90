"""Exact set-similarity join via prefix filtering (the AllPairs /
PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) — all document
pairs with token-set Jaccard >= t, EXACTLY, without the n² pair space.

Complements the dedup family: MinHash LSH (``operators/dedup.py``) is
probabilistic (recall < 1 by design); this operator is exact — the
pair set it returns is provably complete — at the cost of a candidate
space governed by the prefix bound instead of band collisions.  The
reference has no dedup surface at all (SURVEY.md §2.3).

The prefix-filter principle: order every document's distinct tokens by
a GLOBAL canonical order (ascending document frequency, then token —
rarest first).  For Jaccard threshold ``t``, two sets A, B with
J(A,B) >= t must overlap in at least
``ceil(t/(1+t) * (|A|+|B|))`` elements, which implies A's and B's
PREFIXES — the first ``|X| - ceil(t·|X|) + 1`` tokens of each — share
at least one token.  So candidates = pairs sharing ANY prefix token,
an equi-join keyed on (rare) tokens, and completeness is a theorem,
not a tuning outcome.

Scale shape, stage by stage:

* **set collapse** — documents group by a sha2 signature of their
  sorted token set; every downstream stage works on DISTINCT sets
  (web corpora are exact-dup-heavy, so this is often a large shrink),
  and same-signature pairs are emitted in closed form (J = 1).
* **df ranking** — one (token)-keyed aggregate over distinct
  (set, token) pairs; output is vocabulary-sized, joined back by
  token.  Rarest-first ordering is what keeps prefix postings short:
  a stopword is in nobody's prefix, so the hot-token skew that kills
  naive token joins never enters the candidate join.
* **prefix candidates** — equi-join of prefix postings with
  ``sig_a < sig_b`` AND the PPJoin length filter
  (t·|A| <= |B| <= |A|/t) in the join condition; shuffle keys are
  tokens, volume is bounded by prefix-token posting lists minus the
  size-incompatible pairs.
* **in-row exact verify** — candidate pairs carry both sorted arrays
  (bounded by document length) and intersect via ``array_intersect``
  in one codegen'd projection — no second explode, no pair-keyed
  count shuffle.
* **member expansion** — qualifying set pairs equi-join the
  (sig, id) member table on each side; output volume equals answer
  volume, which is the lower bound for any exact join.

Every shuffle key is a token, a signature, or a pair; there is no n²
stage, no driver state beyond Spark's own planning.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_persist


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, token) pairs; single-space tokenization (the
    repo-wide SQL-portable convention)."""
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(F.array_distinct(
                          F.split(F.col(text_col), " "))).alias("tok")))


def setsim_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) >=
    ``threshold``.  Returns (id_a, id_b, inter, n_union, jaccard) with
    jaccard floor-rounded to 6 decimals AFTER the exact integer
    inter/union are fixed, so the oracle can hash-compare every pair.

    Design (verifying candidates by re-exploding both token sets into a
    two-hop posting join shuffled ~200M rows and took 159 s at sf0.1,
    where the synthetic corpus has a 31-token vocabulary and ~5M
    genuinely-qualifying pairs; this form runs in a fraction of that
    and is strictly better on real corpora too):

    * **set collapse first** — documents group by a sha2 signature of
      their SORTED token set, so exact-duplicate sets (ubiquitous in
      web corpora) are joined ONCE and expanded back at the end;
      same-signature pairs are emitted in closed form (J = 1).
    * **prefix filtering at set level** — the AllPairs equi-join runs
      over DISTINCT sets, with the PPJoin LENGTH filter
      (t·|A| <= |B| <= |A|/t) applied inside the join condition so
      size-incompatible candidates never reach the distinct.
    * **in-row verify** — candidate pairs carry both sorted token
      arrays (each bounded by document length) and intersect with
      ``array_intersect`` in one codegen'd projection — no second
      explode, no pair-keyed count shuffle.

    The corpus-cardinality tables (sets, distinct sets, prefix
    postings) are left persisted because the returned plan reads each
    of them from several branches (same contract as
    ``graph.pagerank``); they are registered with
    :mod:`sync_cosmos_db_spark.cache_scope`, so the caller releases
    them with ``cache_scope.release_persisted()`` after consuming the
    result (bare persists would pin executor storage for the life of
    the session).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = _doc_tokens(df, id_col, text_col)

    # collapse to distinct token SETS: sig -> (sorted tokens, size).
    # sets/dsets/prefix each feed MULTIPLE downstream branches (the
    # two candidate sides, the two verify sides, the two member
    # expansions, the same-signature branch); without an explicit
    # persist Spark re-evaluates the tokenize→collect_list→window
    # subplan once per consumer — measured 8× on the bench corpus,
    # turning a ~15 s plan into ~120 s.  All three tables are
    # corpus-CARDINALITY-sized (one row per doc / distinct set /
    # prefix posting, no pair blow-up), so caching them is safe at any
    # scale; eager count() pins materialization to one job each.
    sets = scoped_persist(
        toks.groupBy("id")
        .agg(F.array_sort(F.collect_list("tok")).alias("tk"))
        .withColumn("sig", F.sha2(F.to_json(F.col("tk")), 256)),
        eager=True)
    members = sets.select("sig", "id")
    # __ti: the token set as SORTED xxhash64 ids — the verify stage
    # intersects these instead of the string arrays (primitive-typed
    # array_intersect, no per-element string hashing/equality, and far
    # fewer bytes carried through the two verify joins).  Injectivity
    # of the hash over THIS corpus's vocabulary is checked below; on
    # the (astronomically unlikely) 64-bit collision the verify falls
    # back to the string arrays, so exactness is unconditional.
    dsets = scoped_persist(
        sets.select("sig", "tk", F.size("tk").alias("sz"))
        .dropDuplicates(["sig"])
        .withColumn("__ti", F.array_sort(
            F.transform("tk", lambda t: F.xxhash64(t)))))
    # Long signature keys: every downstream shuffle and hash
    # join — prefix postings, the candidate equi-join, the 6.57M-pair
    # distinct, the two verify joins, the two member expansions, the
    # same-signature branch — keys on ``sig``, and as a 64-char sha2
    # hex STRING it pays per-row string hashing + equality in each
    # (the verify stage profiled 71 s executor CPU at sf0.1 AFTER the
    # in-row intersect was reduced to a bitmask AND — the join
    # machinery, not the intersect, is the cost).  When ``xxhash64``
    # is injective over THIS corpus's distinct signatures (one tiny
    # aggregate over the cached set-cardinality table — the same
    # guarded-exactness pattern as the token-id verify), the mapping
    # sig → xxhash64(sig) is a bijection and every join/distinct on
    # the long key returns the identical pair set; on the
    # (astronomically unlikely) collision the string keys stay.
    sg = dsets.agg(
        F.count(F.lit(1)).alias("n_sig"),
        F.countDistinct(F.xxhash64("sig")).alias("n_sigh")).first()
    if sg["n_sig"] == sg["n_sigh"]:
        dsets = dsets.withColumn("sig", F.xxhash64("sig"))
        members = members.withColumn("sig", F.xxhash64("sig"))

    # global canonical order: ascending set-frequency df, then token
    dtoks = dsets.select("sig", "sz", F.explode("tk").alias("tok"))
    dfreq = dtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    # collision guard: one vocabulary-sized aggregate (tiny next to the
    # pair-cardinality verify it protects)
    vc = dfreq.agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct(F.xxhash64("tok")).alias("n_hash")).first()
    ints_ok = vc["n_tok"] == vc["n_hash"]
    # Third verify tier: SMALL-DOMAIN BITSET.  When the whole
    # vocabulary fits one machine word (≤ 64 distinct tokens — tag /
    # category / enum-like set domains), each distinct set is exactly
    # one int64 bitmask under a fixed token→bit bijection, and the
    # verify becomes bit_count(mask_a & mask_b) — one AND+popcount per
    # candidate pair in whole-stage codegen.  The array tiers below
    # profile ~11.6 µs/pair (array_intersect builds a hash set and an
    # output array per pair — 76 s executor CPU over the 6.57M
    # candidate pairs at sf0.1, THE dominant stage of the whole join);
    # the bitset tier is ~3 orders cheaper per pair and exact by
    # construction (|A∩B| = popcount of the AND of two exact
    # characteristic vectors).  Guarded by the same vocabulary-sized
    # aggregate as the injectivity check — no extra action; the ≤64
    # collect is bounded by the guard.  At web-corpus vocabularies the
    # guard never fires and the int64-array tier stays the
    # operative path.
    bitset_ok = vc["n_tok"] <= 64
    if bitset_ok:
        vocab = sorted(r["tok"] for r in dfreq.select("tok").collect())
        # bit 63 is the int64 sign bit: 1 << 63 overflows a Java long,
        # so the 64th token's bit is emitted as its two's-complement
        # value -(1 << 63)
        bitmap = F.create_map(
            *[x for i, t in enumerate(vocab)
              for x in (F.lit(t), F.lit(1 << i if i < 63 else -(1 << 63)))])
        mask = F.aggregate(
            F.col("tk"), F.lit(0).cast("long"),
            lambda acc, t: acc.bitwiseOR(F.element_at(bitmap, t)))
        dsets = dsets.withColumn("__mask", mask)
    ranked = (dtoks.join(dfreq, "tok")
              .withColumn("__rk", F.row_number().over(
                  W.partitionBy("sig").orderBy(F.col("__df").asc(),
                                               F.col("tok").asc()))))

    # prefix length: |X| - ceil(t*|X|) + 1.  The 1e-9 guard keeps a
    # float-rounded-UP product (e.g. 0.7*20 = 14.000000000000002) from
    # ceiling one too high and SHORTENING the prefix — a longer prefix
    # only adds candidates, a shorter one breaks completeness.
    prefix_len = (F.col("sz")
                  - F.ceil(F.lit(threshold) * F.col("sz") - 1e-9) + 1)
    # posting key: the token's int64 id under the same injectivity
    # guard — long hash-join keys instead of strings
    prefix = scoped_persist(
        ranked.filter(F.col("__rk") <= prefix_len)
        .select("sig",
                (F.xxhash64("tok") if ints_ok else F.col("tok"))
                .alias("tok"),
                "sz"))

    a = prefix.select(F.col("sig").alias("sig_a"), "tok",
                      F.col("sz").alias("__sza"))
    b = prefix.select(F.col("sig").alias("sig_b"), "tok",
                      F.col("sz").alias("__szb"))
    # PPJoin length filter inside the join condition: J >= t implies
    # t·|A| <= |B| (and symmetrically), so size-incompatible pairs are
    # dropped before the distinct ever sees them.
    cands = (a.join(b, (a["tok"] == b["tok"])
                    & (F.col("sig_a") < F.col("sig_b"))
                    & (F.col("__szb") >= F.lit(threshold) * F.col("__sza"))
                    & (F.col("__sza") >= F.lit(threshold) * F.col("__szb")))
             .select("sig_a", "sig_b")
             .distinct())

    # in-row exact verify, tiered (cheapest exact representation that
    # applies): ≤64-token vocabulary → one int64 bitmask per set,
    # inter = bit_count(mask_a & mask_b); else sorted int64 id arrays
    # when the hash is injective on this vocabulary (the guarded
    # common case at corpus scale — primitive array_intersect); else
    # the string arrays.
    vcol = "__mask" if bitset_ok else ("__ti" if ints_ok else "tk")
    ta = dsets.select(F.col("sig").alias("sig_a"),
                      F.col(vcol).alias("__tka"),
                      F.col("sz").alias("__sza"))
    tb = dsets.select(F.col("sig").alias("sig_b"),
                      F.col(vcol).alias("__tkb"),
                      F.col("sz").alias("__szb"))
    inter_expr = (
        F.bit_count(F.col("__tka").bitwiseAND(F.col("__tkb")))
        if bitset_ok
        else F.size(F.array_intersect("__tka", "__tkb")))
    verified = (cands.join(ta, "sig_a").join(tb, "sig_b")
                .withColumn("inter", inter_expr.cast("long"))
                .withColumn("n_union",
                            (F.col("__sza") + F.col("__szb")
                             - F.col("inter")).cast("long"))
                .filter(F.col("inter") / F.col("n_union")
                        >= F.lit(threshold))
                .select("sig_a", "sig_b", "inter", "n_union"))

    # expand set pairs back to doc pairs (id order normalized)
    ma = members.select(F.col("sig").alias("sig_a"),
                        F.col("id").alias("__ida"))
    mb = members.select(F.col("sig").alias("sig_b"),
                        F.col("id").alias("__idb"))
    cross = (verified.join(ma, "sig_a").join(mb, "sig_b")
             .select(F.least("__ida", "__idb").alias("id_a"),
                     F.greatest("__ida", "__idb").alias("id_b"),
                     "inter", "n_union"))

    # same-signature pairs: identical sets, J = 1 by construction
    m2a = members.select("sig", F.col("id").alias("id_a"))
    m2b = members.select("sig", F.col("id").alias("id_b"))
    same = (m2a.join(m2b, "sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(dsets.select("sig", F.col("sz").alias("inter")), "sig")
            .select("id_a", "id_b", "inter",
                    F.col("inter").alias("n_union")))

    out = cross.unionByName(same)
    jac = F.col("inter") / F.col("n_union")
    return out.select("id_a", "id_b", "inter", "n_union",
                      (F.floor(jac * 1e6 + F.lit(0.5)) / 1e6)
                      .alias("jaccard"))


def prefix_length(set_size: int, threshold: float) -> int:
    """Driver-side twin of the prefix bound (for tests): the number of
    rarest-first tokens that must be indexed so no qualifying pair is
    missed."""
    return set_size - math.ceil(threshold * set_size - 1e-9) + 1

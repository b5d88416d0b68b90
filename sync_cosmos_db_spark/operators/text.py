"""Text analysis operators (X6): tokenization stats, quality scoring,
language ID, document fingerprinting.

No reference implementation (SURVEY.md §2.3; mandated by BASELINE.json).
All pure Column expressions over the ``documents`` table — the whole
module stays inside whole-stage codegen, which is what makes these
viable as per-document passes over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sync_cosmos_db_spark.cache_scope import scoped_persist
# Floor-only repartition (round 15): every per-doc Python pass below
# inherits the documents scan's split count, and documents is ONE
# parquet split at bench scale (and still 4 at the 25x octave slice) —
# so the "embarrassingly parallel" passes ran on 1-4 of 32 cores.
# spread() shuffles only the raw doc rows when the scan is narrower
# than defaultParallelism and is a no-op on wide 100 TB scans.
from sync_cosmos_db_spark.operators.partitioning import spread

# Tiny per-language stopword lists for the n-gram/stopword-overlap
# language-ID heuristic. Deliberately small: the heuristic is argmax of
# overlap counts, and parity with the SQL oracle requires a fixed list.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "por", "con"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\s+")


def token_count(col: Column | str) -> Column:
    # long, not int: matches BIGINT counts in SQL engines
    return F.size(tokens(col)).cast("long")


#: GPT-2-style pre-tokenizer regex (simplified, ASCII): a leading-space
#: word, number run, punctuation run, or whitespace run — the standard
#: BPE pre-split shape, minus unicode categories.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate BPE token count: number of pre-tokenizer pieces. A
    useful budget estimator at corpus scale (real BPE merges only split
    pieces further, so this lower-bounds the true count) — one
    ``regexp_count`` per document, fully codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN)).cast("long")


def distinct_token_ratio(col: Column | str) -> Column:
    """Lexical diversity: |distinct tokens| / |tokens| — near-zero for
    boilerplate/spam, the classic quality signal."""
    t = tokens(col)
    return F.size(F.array_distinct(t)) / F.size(t)


def mean_token_len(col: Column | str) -> Column:
    """Mean token length, computed arithmetically from char/space counts
    (single-space corpus): (len - (n-1)) / n — avoids an array pass and
    is trivially SQL-portable."""
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    return (F.length(c) - (n - 1)) / n


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are ASCII letters or space — a
    noise/punctuation signal."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z ]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)) / F.length(c))


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    0.4·min(1, tokens/100) + 0.3·distinct_ratio + 0.3·min(1, mean_len/8).

    The exact mix is a policy choice; what matters architecturally is
    that it is one codegen'd projection, usable as a pushed-down filter
    in a 100 TB curation pass."""
    c = F.col(col) if isinstance(col, str) else col
    len_term = F.least(F.lit(1.0), token_count(c) / F.lit(100.0))
    div_term = distinct_token_ratio(c)
    wlen_term = F.least(F.lit(1.0), mean_token_len(c) / F.lit(8.0))
    return F.lit(0.4) * len_term + F.lit(0.3) * div_term + F.lit(0.3) * wlen_term


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-overlap score per language: |distinct tokens ∩ stopwords|."""
    t = F.array_distinct(tokens(col))
    return {
        lang: F.size(F.array_intersect(
            t, F.array(*[F.lit(w) for w in wordlist])))
        for lang, wordlist in STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Predicted language = argmax of stopword overlap; 'und' when every
    score is 0. Deterministic tie-break: language-code sort order."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    # iterate in REVERSE sorted order so alphabetically-earlier languages
    # win ties (the last .when(...) wrap is evaluated first)
    expr = F.lit("und")
    for lang in sorted(scores, reverse=True):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best),
                      F.lit(lang)).otherwise(expr)
    return expr


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_sha(col: Column | str) -> Column:
    """Full-document fingerprint: sha256 of the normalized text."""
    return F.sha2(normalize_text(col), 256)


def fingerprint64(col: Column | str) -> Column:
    """Compact 64-bit fingerprint (xxhash64 of normalized text) — the
    cheap join/cluster key for dedup pipelines."""
    return F.xxhash64(normalize_text(col))


def gram_hashes(col: Column | str, k: int = 3) -> Column:
    """sha256 hex of every word k-gram — the winnowing input.
    Materialize this as its OWN projected column before feeding
    :func:`winnow_from_grams`: inlined under the window lambda,
    Catalyst re-evaluates the whole hash chain once per window slice
    (no common-subexpression elimination inside higher-order
    functions), turning an O(n) scan into O(n·w) sha256 calls —
    measured 181 s → 5.7 s at sf0.1 for the two-step form."""
    from sync_cosmos_db_spark.operators.dedup import word_shingles

    return F.transform(word_shingles(col, k), lambda s: F.sha2(s, 256))


def winnow_from_grams(grams: Column | str, window: int = 4) -> Column:
    """Winnowing selection over an ALREADY-MATERIALIZED gram-hash array
    column: slide a window of ``window`` consecutive hashes, keep the
    lexicographic minimum per window, dedupe.  See
    :func:`winnowing_fingerprints` for the guarantee and
    :func:`gram_hashes` for why the input must be a real column."""
    g = F.col(grams) if isinstance(grams, str) else grams
    starts = F.sequence(F.lit(1), F.size(g) - (window - 1))
    return F.when(
        F.size(g) < window, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(
        F.transform(starts, lambda i: F.array_min(F.slice(g, i, window)))))


def winnowing_fingerprints(col: Column | str, k: int = 3,
                           window: int = 4) -> Column:
    """Winnowing document fingerprints (the MOSS rolling-fingerprint
    scheme): hash every word k-gram, slide a window of ``window``
    consecutive k-gram hashes, keep the minimum per window, dedupe.
    Guarantees any shared run of ≥ k+window−1 tokens between two
    documents shares at least one fingerprint — the local-similarity
    detector exact dedup and MinHash (whole-doc measures) can't give.

    Hashes are sha256 hex strings and the per-window minimum is
    lexicographic, which keeps the selection reproducible in any SQL
    engine (no engine-specific integer hash needed). Docs shorter than
    k+window−1 tokens yield an empty array.

    PERFORMANCE: this one-shot Column form inlines the gram hashing
    under the window lambda, where Catalyst re-evaluates it per window
    (O(n·w) sha256 — measured 32× slower at sf0.1).  Anything touching
    more than a handful of rows should use the two-step form:
    ``df.select(gram_hashes(c).alias("gh"))`` then
    ``winnow_from_grams("gh")`` — identical output, one hash pass."""
    return winnow_from_grams(gram_hashes(col, k), window)


# ---------------------------------------------------------------------------
# Gopher-style repeatable quality rules (public Rae et al. 2021 heuristics)
# ---------------------------------------------------------------------------

def word_alpha_ratio(col: Column | str) -> Column:
    """Fraction of TOKENS containing at least one ASCII letter (Gopher's
    80%-alphabetic-words rule operates on words, not characters)."""
    t = tokens(col)
    return F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))) / F.size(t)


def symbol_to_word_ratio(col: Column | str) -> Column:
    """(# of '#' chars + # of '...' runs) / word count — the Gopher
    symbol-spam signal. Counted by length deltas so any SQL engine
    reproduces it exactly."""
    c = F.col(col) if isinstance(col, str) else col
    hashes = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    dots = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    return (hashes + dots) / token_count(c)


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """# of distinct stopwords of ``lang`` present in the document."""
    t = F.array_distinct(tokens(col))
    return F.size(F.array_intersect(
        t, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))).cast("long")


def gopher_rules(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_word_alpha_ratio: float = 0.80,
    min_stopword_hits: int = 2,
) -> dict[str, Column]:
    """The Gopher repeatable-quality rule set as named boolean Columns —
    each True means the document PASSES that rule. One codegen'd
    projection per rule; a 100 TB curation pass computes all of them in
    a single scan and filters on the conjunction (or keeps the flags
    for audit — the usual practice, since rule tuning wants the
    marginals)."""
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    return {
        "ok_word_count": (n >= min_words) & (n <= max_words),
        "ok_mean_word_len": (mean_token_len(c) >= min_mean_word_len)
        & (mean_token_len(c) <= max_mean_word_len),
        "ok_symbol_ratio": symbol_to_word_ratio(c) <= max_symbol_ratio,
        "ok_word_alpha": word_alpha_ratio(c) >= min_word_alpha_ratio,
        "ok_stopwords": stopword_hits(c) >= min_stopword_hits,
    }


def gopher_filter(col: Column | str, **kwargs) -> Column:
    """Conjunction of every Gopher rule — the keep/drop decision."""
    rules = gopher_rules(col, **kwargs)
    out = F.lit(True)
    for name in sorted(rules):
        out = out & rules[name]
    return out


# ---------------------------------------------------------------------------
# Gopher REPETITION rules (the other half of the Gopher filter: the
# repeatable-quality rules above catch low-quality prose; these catch
# machine-generated / boilerplate repetition).  Reference has no text
# analysis at all (SURVEY.md §2.3); rule set and thresholds follow the
# public Gopher paper (Rae et al. 2021, table A1).
# ---------------------------------------------------------------------------

#: (threshold, direction) per profile column — a doc KEEPS only if every
#: fraction is <= its bound.  Values are the published Gopher bounds.
REPETITION_BOUNDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
    "dup10_char_frac": 0.10,
}


def _fround(c: Column, n: int) -> Column:
    """floor(x*10^n + 0.5)/10^n — the cross-engine-stable rounding used
    by every oracle query (Spark's round() HALF_UPs BigDecimal ties
    differently from DuckDB). Local twin of queries.fround (importing it
    here would be circular)."""
    p = 10 ** n
    return F.floor(c * p + F.lit(0.5)) / p


def _grams(w: Column, n: int) -> Column:
    """Word n-grams of a token array (ALL occurrences, not distinct —
    repetition counting needs multiplicity). sequence→slice→concat_ws,
    all in-row codegen; sub-n docs get [] (sequence(1, x<1) would
    DESCEND in Spark).  ``let``-bound so the token-array expression
    evaluates once per row, not once per gram (``dedup.let``)."""
    from sync_cosmos_db_spark.operators.dedup import let

    def body(wv: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(wv) - (n - 1))
        return F.when(
            F.size(wv) < n, F.array().cast("array<string>")
        ).otherwise(F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(wv, i, n))))

    return let(w, body)


def repetition_profile(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    round_digits: int = 6,
):
    """Per-document Gopher repetition profile.

    Columns produced (all fractions rounded to ``round_digits`` with the
    cross-engine-stable _fround, and the keep flag computed FROM the
    rounded values so the oracle can't disagree at a threshold boundary):

    - ``dup_line_frac`` / ``dup_para_frac``: occurrences-beyond-first of
      identical lines (split on \\n, empties dropped) / paragraphs
      (split on \\n\\n), over total occurrences.
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: same, weighted by
      unit character length.
    - ``top{n}_char_frac`` (n in top_ns): chars covered by ALL
      occurrences of the single most frequent word n-gram / doc chars.
      Tie-break: max (count, gram_len, gram) — deterministic in both
      engines (binary string order; corpus is ASCII).
    - ``dup{n}_char_frac`` (n in dup_ns): chars in occurrences-beyond-
      first of repeated word n-grams / doc chars. Overlapping repeats
      double-count (deterministic simplification of the paper's
      each-char-once rule, which needs interval union per doc).
    - ``keep``: conjunction of every bound in REPETITION_BOUNDS.

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass — every
    fraction is a function of a single document, so the operator is
    embarrassingly parallel with ZERO shuffle.  (An earlier revision
    exploded (doc, kind, unit) rows through two keyed aggregates; that
    shuffled ~5× the corpus token volume as strings and was the
    slowest query in the LLM bench suite — per-doc Counter arithmetic
    in the worker is both faster locally and strictly cheaper at
    100 TB, where the explode shape's shuffle would dominate.)  The
    fraction formulas are plain IEEE arithmetic identical to the
    DuckDB oracle's; ``\\s`` is pinned to ASCII so Python and Java
    regex agree.
    """
    import re
    from collections import Counter
    from math import floor

    id_type = next(f.dataType.simpleString()
                   for f in df.schema.fields if f.name == id_col)
    frac_names = (["dup_line_frac", "dup_para_frac",
                   "dup_line_char_frac", "dup_para_char_frac"]
                  + [f"top{n}_char_frac" for n in top_ns]
                  + [f"dup{n}_char_frac" for n in dup_ns])
    schema = (f"{id_col} {id_type}, "
              + ", ".join(f"{c} double" for c in frac_names)
              + ", keep boolean")
    bounds = dict(REPETITION_BOUNDS)
    p = float(10 ** round_digits)
    ws_re = re.compile(r"\s+", re.ASCII)

    def profile_one(text: str) -> dict[str, float]:
        def fr(num: float, den: float) -> float:
            # x/0 is NULL in Spark SQL → coalesce(…, 0.0); mirror that
            if not den:
                return 0.0
            return floor(num / den * p + 0.5) / p

        vals: dict[str, float] = {}
        for fam, sep in (("line", "\n"), ("para", "\n\n")):
            units = [u for u in text.split(sep) if u != ""]
            cnt = Counter(units)
            tot = len(units)
            tot_ch = sum(len(u) for u in units)
            dup = tot - len(cnt)
            dup_ch = sum((c - 1) * len(u) for u, c in cnt.items() if c > 1)
            vals[f"dup_{fam}_frac"] = fr(dup, tot)
            vals[f"dup_{fam}_char_frac"] = fr(dup_ch, tot_ch)
        tlen = len(text)
        w = ws_re.split(text)
        for n in top_ns:
            if len(w) < n:
                vals[f"top{n}_char_frac"] = 0.0
                continue
            cnt = Counter(" ".join(w[i:i + n])
                          for i in range(len(w) - n + 1))
            c, length, _ = max((c, len(g), g) for g, c in cnt.items())
            vals[f"top{n}_char_frac"] = fr(c * length, tlen)
        for n in dup_ns:
            if len(w) < n:
                vals[f"dup{n}_char_frac"] = 0.0
                continue
            cnt = Counter(" ".join(w[i:i + n])
                          for i in range(len(w) - n + 1))
            dup_ch = sum((c - 1) * len(g) for g, c in cnt.items() if c > 1)
            vals[f"dup{n}_char_frac"] = fr(dup_ch, tlen)
        return vals

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {c: [] for c in
                                    [id_col, *frac_names, "keep"]}
            for id_, text in zip(pdf[id_col], pdf[text_col]):
                vals = profile_one(text if text is not None else "")
                out[id_col].append(id_)
                keep = True
                for c in frac_names:
                    out[c].append(vals[c])
                    b = bounds.get(c)
                    if b is not None and vals[c] > b:
                        keep = False
                out["keep"].append(keep)
            yield pd.DataFrame(out)

    return spread(df.select(id_col, text_col)).mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Corpus-derived unigram LM scoring (the CCNet recipe scores documents
# with a KenLM 5-gram model; no LM wheel exists in this container, so
# the honest distributed analog is a unigram LM fit on the corpus
# itself — the standard "self-perplexity" quality proxy).  Reference
# has no text analysis (SURVEY.md §2.3).
# ---------------------------------------------------------------------------

def unigram_logprob_profile(df, id_col: str = "doc_id",
                            text_col: str = "text",
                            round_digits: int = 6):
    """Per-document average negative log-probability under the corpus's
    own unigram distribution: score = ln(T) - avg(ln c_tok), where
    c_tok is the corpus count of each token and T the corpus token
    total (the algebraic rewrite of -avg(ln(c/T)) that keeps the
    scalar T OUT of the per-token arithmetic).  High score = tokens
    rare in this corpus = atypical document; the CCNet-style use is
    head/middle/tail bucketing on this column.  No smoothing is needed:
    the model is fit on the scored corpus, so every token has c >= 1.

    Scale shape: one token explode feeding BOTH the frequency build and
    the per-doc join (token-keyed shuffles, map-side combinable); the
    1-row corpus total joins back on a constant equi-key with an
    explicit broadcast — a BroadcastHashJoin, NOT a nested-loop cross
    join (the plan sweep forbids BNLJ).  Scoring against a FIXED
    reference LM at 100 TB is the same plan with ``freq`` read from a
    table instead of rebuilt.
    """
    toks = df.select(F.col(id_col),
                     F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    # constant equi-key DERIVED from a column (floor(x*0)): a literal key
    # would be constant-folded into a trivially-true condition and the
    # join would degrade to BroadcastNestedLoopJoin — the column-derived
    # key is non-foldable, so this stays a (1-row) BroadcastHashJoin.
    total = (freq.agg(F.sum("c").alias("t"))
             .withColumn("__k", F.floor(F.col("t") * 0)))
    per = (toks.join(freq, "tok")
           .groupBy(id_col)
           .agg(F.count("*").alias("n_tokens"),
                F.sum(F.log("c")).alias("__slc"))
           .withColumn("__k", F.floor(F.col("__slc") * 0)))
    p = 10 ** round_digits
    return (per.join(F.broadcast(total), "__k")
            .select(
                F.col(id_col),
                F.col("n_tokens").cast("long").alias("n_tokens"),
                (F.floor((F.log("t") - F.col("__slc") / F.col("n_tokens"))
                         * p + F.lit(0.5)) / p).alias("avg_neg_logprob")))


def bigram_pmi(df, text_col: str = "text", min_count: int = 5,
               round_digits: int = 6):
    """Corpus-level bigram pointwise mutual information — the classic
    collocation detector (Church & Hanks 1990): pmi(a,b) =
    ln( (c_ab / B) / ((c_a / U) · (c_b / U)) ) with c_ab counted over
    adjacent token pairs (B bigram tokens total) and c_a/c_b over
    unigrams (U tokens total).  High-PMI pairs are multi-word units
    ("San Francisco"); training pipelines use the table for tokenizer
    seeding and boilerplate phrase mining.

    Scale shape: bigrams come from ``zip_with`` over the in-row token
    array (no positional self-join), one pair-keyed count; unigram
    counts are one token-keyed count; the two scalar totals ride the
    constant-equi-key broadcast trick (BroadcastHashJoin, never BNLJ).
    The c_a/c_b lookups are vocabulary-keyed equi-joins.  ``min_count``
    prunes the bigram tail BEFORE the lookup joins — at 100 TB the
    hapax tail is most of the table and carries no signal.
    """
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.expr(f"slice(split({text_col}, '\\\\s+'), 2, "
               f"size(split({text_col}, '\\\\s+')) - 1)"),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    big = (df.filter(n >= 2)
           .select(F.explode(grams).alias("g"))
           .groupBy(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
           .agg(F.count("*").cast("double").alias("c_ab"))
           .filter(F.col("c_ab") >= min_count))
    uni = (df.select(F.explode(toks).alias("tok"))
           .filter(F.col("tok") != "")
           .groupBy("tok")
           .agg(F.count("*").cast("double").alias("c")))
    totals = (uni.agg(F.sum("c").alias("u_total"))
              .withColumn("__k", F.floor(F.col("u_total") * 0)))
    btotal = (big.agg(F.sum("c_ab").alias("b_total"))
              .withColumn("__k", F.floor(F.col("b_total") * 0)))
    p = 10 ** round_digits
    return (big
            .join(uni.select(F.col("tok").alias("a"),
                             F.col("c").alias("c_a")), "a")
            .join(uni.select(F.col("tok").alias("b"),
                             F.col("c").alias("c_b")), "b")
            .withColumn("__k", F.floor(F.col("c_ab") * 0))
            .join(F.broadcast(totals), "__k")
            .join(F.broadcast(btotal), "__k")
            .select(
                "a", "b", F.col("c_ab").cast("long").alias("n_ab"),
                (F.floor(F.log((F.col("c_ab") / F.col("b_total"))
                               / ((F.col("c_a") / F.col("u_total"))
                                  * (F.col("c_b") / F.col("u_total"))))
                         * p + F.lit(0.5)) / p).alias("pmi")))


def clean_text(col: Column | str, lowercase: bool = False) -> Column:
    """Curation-grade text cleanup, stricter than ``normalize_text``:
    strip ASCII control characters, squeeze runs of 3+ repeated
    sentence punctuation down to one ("!!!!!" → "!"), collapse
    whitespace runs, trim, and optionally lowercase.

    Every step is a single-pass JVM regexp over the row — zero
    shuffle, stays inside whole-stage codegen, the right shape for a
    per-document pass over 100 TB.  Patterns stick to ASCII classes
    with no backreferences so the identical regex is valid in both
    Java's engine and RE2-family engines (the DuckDB oracle runs the
    same patterns; the byte-exact hash check is what enforces that the
    two engines agree)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    # one replace per punctuation char: a backreference form
    # ([!?.,])\1{2,} would be terser but RE2 engines reject pattern
    # backrefs, and oracle parity requires RE2-safe patterns
    for ch, esc in (("!", "!"), ("?", r"\?"), (".", r"\."),
                    (",", ","), (";", ";"), (":", ":")):
        c = F.regexp_replace(c, esc + "{3,}", ch)
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return c


def vocab_growth(df, bucket_size: int = 50, id_col: str = "doc_id",
                 text_col: str = "text"):
    """X86 — Heaps'-law vocabulary-growth profile: corpus docs in
    ``bucket_size``-doc ingestion buckets (by ``id_col`` order), and
    per bucket the CUMULATIVE token volume, cumulative distinct
    vocabulary, and the count of never-before-seen types the bucket
    introduced.  A flattening curve says more data stops buying new
    vocabulary — the diminishing-returns signal a data-mixture owner
    watches; a sudden jump flags an encoding/tokenizer regression in
    one ingest batch.

    Scale shape: ONE token explode feeding ONE token-keyed aggregate
    that carries only ``(min_bucket, count)`` per distinct type — the
    corpus never re-shuffles per bucket, and the quadratic
    "re-count distinct under every prefix" formulation is avoided by
    the first-occurrence identity (cumulative vocab at bucket b =
    #types with min_bucket ≤ b).  The cumulative window then runs
    over the tiny per-bucket table (≤ corpus/bucket_size rows).
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401

    bucket = F.floor(F.col(id_col) / bucket_size).cast("long")
    toks = (df.select(bucket.alias("bucket"),
                      F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    per_type = (toks.groupBy("tok")
                .agg(F.min("bucket").alias("first_bucket"),
                     F.count(F.lit(1)).alias("occ")))
    # token volume per bucket (all occurrences), new types per bucket
    vol = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    news = (per_type.groupBy(F.col("first_bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("new_types")))
    joined = vol.join(news, "bucket", "left").fillna(0, ["new_types"])
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (joined
            .select(F.col("bucket"),
                    F.sum("n_tokens").over(w).cast("long")
                    .alias("cum_tokens"),
                    F.sum("new_types").over(w).cast("long")
                    .alias("cum_vocab"),
                    F.col("new_types").cast("long").alias("new_types")))


def flesch_reading_ease(col):
    """X100 — Flesch reading-ease column expression:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    with syllables estimated as VOWEL GROUPS (``[aeiouy]+`` runs) and
    sentences as terminator runs (``[.!?]+``), floored at 1 so
    unterminated fragments count as one sentence.

    All three counts are single-pass JVM regexps over the row — zero
    shuffle, whole-stage codegen, RE2-safe patterns (the DuckDB twin
    needs the ``'g'`` flag on ``regexp_replace``; Java replaces
    globally by default — the cross-engine gotcha this docstring
    exists to record)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.size(F.split(c, r"\s+"))
    syllables = (F.size(F.split(
        F.regexp_replace(F.lower(c), "[aeiouy]+", "#"), "#")) - 1)
    sentences = F.greatest(F.lit(1), F.size(F.split(c, "[.!?]+")) - 1)
    return (F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sentences)
            - F.lit(84.6) * (syllables.cast("double") / words))


def bigram_backoff_logprob(df, id_col: str = "doc_id",
                           text_col: str = "text",
                           lam: float = 0.8,
                           round_digits: int = 6):
    """X120 — per-document average negative log-probability under an
    interpolated BIGRAM LM fit on the scored corpus: P(w₂|w₁) =
    λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/T — the Jelinek–Mercer backoff that
    upgrades the unigram CCNet scorer (``unigram_logprob_profile``)
    with local context; fluent-but-rare-word documents score better,
    word-salad documents with common words score worse, which is
    exactly the separation a pretraining quality gate wants.

    Scale shape: ONE doc-keyed window (lead) forms the bigram stream;
    counts are token-/pair-keyed aggregates with map-side partials;
    the three probability joins key on bigram and unigram tokens; the
    1-row corpus total broadcasts on a derived constant equi-key (the
    non-foldable ``floor(x*0)`` trick — a BroadcastHashJoin, never a
    BNLJ).  Scoring against a FROZEN reference LM at 100 TB is the
    identical plan with the count tables read from storage.  Returns
    ``(id, n_bigrams, avg_neg_logprob)``."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "w"))
    w = Window.partitionBy(id_col).orderBy("pos")
    big = (toks.withColumn("w2", F.lead("w").over(w))
           .filter(F.col("w2").isNotNull())
           .select(F.col(id_col), F.col("w").alias("w1"), "w2"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("cb"))
    uc = toks.groupBy("w").agg(F.count("*").cast("double").alias("cu"))
    total = (uc.agg(F.sum("cu").alias("t"))
             .withColumn("__k", F.floor(F.col("t") * 0)))
    scored = (big.join(bc, ["w1", "w2"])
              .join(uc.select(F.col("w").alias("w1"),
                              F.col("cu").alias("cu1")), "w1")
              .join(uc.select(F.col("w").alias("w2"),
                              F.col("cu").alias("cu2")), "w2"))
    # the mixture log cannot be decomposed algebraically like the
    # unigram scorer; compute ln(λ·cb/cu1 + (1−λ)·cu2/T) per bigram and
    # average.  T joins in via the broadcast total first.
    per = (scored.withColumn("__k", F.floor(F.col("cb") * 0))
           .join(F.broadcast(total), "__k")
           .withColumn(
               "__lp",
               F.log(F.lit(lam) * F.col("cb") / F.col("cu1")
                     + F.lit(1.0 - lam) * F.col("cu2") / F.col("t")))
           .groupBy(id_col)
           .agg(F.count("*").cast("long").alias("n_bigrams"),
                F.avg("__lp").alias("__alp")))
    p = 10 ** round_digits
    return per.select(
        F.col(id_col), "n_bigrams",
        (F.floor(-F.col("__alp") * p + F.lit(0.5)) / p)
        .alias("avg_neg_logprob"))


def source_vocab_overlap(df, group_col: str = "source",
                         text_col: str = "text",
                         round_digits: int = 6):
    """X122 — pairwise vocabulary Jaccard between corpus slices (per
    source/domain/snapshot): the mixture-design diagnostic that says
    which sources are near-duplicates of each other AT THE VOCABULARY
    level before any document-level dedup runs, and the drift check
    between two crawl snapshots.

    One (group, token) distinct (token-keyed shuffle with map-side
    combine), then a token-keyed self-join whose per-token fan-out is
    bounded by the number of GROUPS squared (sources/snapshots — a
    handful), never by token frequency — the classic reason this is
    computed over the distinct vocabulary, not the token stream.
    Returns ``(group_a, group_b, n_a, n_b, inter, jaccard)``."""
    tv = (df.select(F.col(group_col).alias("g"),
                    F.explode(F.array_distinct(
                        F.split(F.col(text_col), r"\s+"))).alias("tok"))
          .distinct())
    sz = tv.groupBy("g").agg(F.count("*").cast("long").alias("n"))
    a = tv.select(F.col("g").alias("ga"), "tok")
    b = tv.select(F.col("g").alias("gb"), "tok")
    inter = (a.join(b, "tok")
             .filter(F.col("ga") < F.col("gb"))
             .groupBy("ga", "gb")
             .agg(F.count("*").cast("long").alias("inter")))
    p = 10 ** round_digits
    return (inter
            .join(sz.select(F.col("g").alias("ga"),
                            F.col("n").alias("n_a")), "ga")
            .join(sz.select(F.col("g").alias("gb"),
                            F.col("n").alias("n_b")), "gb")
            .select(F.col("ga").alias("group_a"),
                    F.col("gb").alias("group_b"),
                    "n_a", "n_b", "inter",
                    (F.floor(F.col("inter")
                             / (F.col("n_a") + F.col("n_b")
                                - F.col("inter")) * p + F.lit(0.5)) / p)
                    .alias("jaccard")))


def source_kl(df, group_col: str, text_col: str,
              round_digits: int = 6):
    """X140 — per-group token-distribution KL divergence vs the whole
    corpus: KL(P_g ‖ P_corpus) = Σ_t p_g(t)·ln(p_g(t)/p(t)) — the
    mixture-design diagnostic that quantifies HOW different each
    source's unigram distribution is (vocab Jaccard says whether the
    words overlap; KL says whether their frequencies do).

    One (group, token)-keyed count, a token-keyed join to the global
    counts (global = Σ over groups of the same partials — no second
    scan), a 1-row total broadcast.  Every group's support is a
    subset of the corpus support by construction, so no zero-division
    guard is needed.  Returns ``(group, n_tokens, kl)``."""
    from pyspark.sql import functions as F

    gt = (df.select(F.col(group_col).alias("g"),
                    F.explode(F.split(F.col(text_col), r"\s+"))
                    .alias("tok"))
          .groupBy("g", "tok")
          .agg(F.count("*").cast("double").alias("cgt")))
    # scope-registered: the returned plan reads gt three ways (group
    # totals, token totals, the KL join); caller releases via
    # cache_scope.release_persisted()
    gt = scoped_persist(gt)
    gtot = gt.groupBy("g").agg(F.sum("cgt").alias("tg"))
    tok = gt.groupBy("tok").agg(F.sum("cgt").alias("ct"))
    tot = tok.agg(F.sum("ct").alias("t"))
    p = 10 ** round_digits
    pg = F.col("cgt") / F.col("tg")
    pc = F.col("ct") / F.col("t")
    out = (gt.join(tok, "tok")
           .join(F.broadcast(gtot), "g")
           .crossJoin(F.broadcast(tot))
           .groupBy(F.col("g").alias(group_col))
           .agg(F.max("tg").cast("long").alias("n_tokens"),
                (F.floor(F.sum(pg * F.log(pg / pc)) * p + F.lit(0.5))
                 / p).alias("kl")))
    return out


def markdown_structure_profile(df, group_col: str, text_col: str,
                               round_digits: int = 4):
    """X145 — document structure profile per group: fraction of
    documents containing markdown headers / list items / tables /
    fenced code blocks, and the mean count of each structural line
    kind — the curation signal that separates prose from structured
    docs (code-heavy sources train differently, tables break
    chunkers, fence-unbalanced docs are truncation victims).

    Entirely in-row JVM array ops (``split`` on newline + ``filter``
    + ``size``), zero shuffle before the per-group reduce.  Returns
    ``(group, n_docs, frac_with_header, frac_with_list,
    frac_with_table, frac_with_code, avg_header_lines,
    avg_list_lines, unbalanced_fence_docs)``."""
    from pyspark.sql import functions as F

    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    lines = F.split(F.col(text_col), "\n")
    n_hdr = F.size(F.filter(lines, lambda x: x.startswith("#")))
    n_list = F.size(F.filter(
        lines, lambda x: x.startswith("- ") | x.startswith("* ")))
    n_tbl = F.size(F.filter(lines, lambda x: x.startswith("|")))
    n_fence = F.size(F.filter(lines, lambda x: x.startswith("```")))
    d = (df.select(F.col(group_col).alias("g"),
                   n_hdr.alias("nh"), n_list.alias("nl"),
                   n_tbl.alias("nt"), n_fence.alias("nf")))
    has = lambda c: (c > 0).cast("double")  # noqa: E731
    return (d.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 fr(F.avg(has(F.col("nh")))).alias("frac_with_header"),
                 fr(F.avg(has(F.col("nl")))).alias("frac_with_list"),
                 fr(F.avg(has(F.col("nt")))).alias("frac_with_table"),
                 fr(F.avg(has(F.col("nf")))).alias("frac_with_code"),
                 fr(F.avg("nh")).alias("avg_header_lines"),
                 fr(F.avg("nl")).alias("avg_list_lines"),
                 F.sum((F.col("nf") % 2 != 0).cast("long"))
                 .alias("unbalanced_fence_docs")))


def compression_profile(df, group_col: str, id_col: str,
                        text_col: str, round_digits: int = 4):
    """X166 — zlib compression-ratio quality signal per group: the
    classic cheap redundancy detector (C4/Gopher-adjacent) — highly
    compressible documents are boilerplate/repetition, ratios near 1
    are noise/random bytes; both tails are curation candidates.

    Per document: ``len(zlib.compress(utf8, level=6)) / len(utf8)``.
    One Arrow-batched ``mapInPandas`` pass (zlib is C-speed; no JVM
    equivalent exists, which is also why this family is rows-only —
    no SQL engine exposes a deterministic compressor), then one
    group-keyed aggregate.  Zero shuffle before the reduce.  Returns
    ``(group, n_docs, mean_ratio, min_ratio, max_ratio,
    n_high_redundancy, n_incompressible)``.
    """
    from pyspark.sql import functions as F

    p = 10 ** round_digits

    def run(batches):
        import zlib
        from math import floor

        import pandas as pd

        for pdf in batches:
            ratios = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")
                if not raw:
                    ratios.append(1.0)
                    continue
                r = len(zlib.compress(raw, 6)) / len(raw)
                ratios.append(floor(r * p + 0.5) / p)
            yield pd.DataFrame({"g": pdf[group_col], "ratio": ratios})

    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    per_doc = spread(df.select(group_col, id_col, text_col)).mapInPandas(
        run, "g string, ratio double")
    return (per_doc.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 fr(F.avg("ratio")).alias("mean_ratio"),
                 F.min("ratio").alias("min_ratio"),
                 F.max("ratio").alias("max_ratio"),
                 F.sum((F.col("ratio") < 0.35).cast("long"))
                 .alias("n_high_redundancy"),
                 F.sum((F.col("ratio") > 0.95).cast("long"))
                 .alias("n_incompressible")))


def nfc_audit(df, group_col: str, text_col: str):
    """X167 — Unicode NFC normalization audit per group: how many
    documents change under NFC, and by how many UTF-16 code units —
    the pre-dedup hygiene check (the same text in composed vs
    decomposed form defeats exact dedup and splits token statistics).

    Python side is one Arrow-batched ``mapInPandas`` applying
    ``unicodedata.normalize("NFC", ·)`` per document (embarrassingly
    parallel, zero shuffle before the group reduce); the DuckDB
    oracle uses its native ``nfc_normalize`` — a REAL cross-engine
    check that the Python normalization agrees with a second
    implementation.  Returns ``(group, n_docs, n_changed,
    chars_before, chars_after)`` with char counts in CODEPOINTS
    (DuckDB ``length`` semantics; Python ``len``).
    """
    from pyspark.sql import functions as F

    def run(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            changed, before, after = [], [], []
            for text in pdf[text_col]:
                t = text or ""
                n = unicodedata.normalize("NFC", t)
                changed.append(n != t)
                before.append(len(t))
                after.append(len(n))
            yield pd.DataFrame({"g": pdf[group_col], "changed": changed,
                                "before": before, "after": after})

    per_doc = spread(df.select(group_col, text_col)).mapInPandas(
        run, "g string, changed boolean, before long, after long")
    return (per_doc.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("changed").cast("long")).alias("n_changed"),
                 F.sum("before").alias("chars_before"),
                 F.sum("after").alias("chars_after")))


def zipf_slope(df, group_col: str, text_col: str,
               top_ranks: int = 100, round_digits: int = 4):
    """X168 — Zipf rank-frequency slope per group: OLS slope of
    ``ln(freq)`` on ``ln(rank)`` over the top ``top_ranks`` token
    ranks.  Natural text sits near −1; templated/boilerplate corpora
    flatten, key-mashing steepens — a one-number distributional
    health check per source.

    One token-keyed count shuffle, a per-group rank window that
    ``WindowGroupLimit`` caps at ``top_ranks`` rows per group, then
    the closed-form OLS on ≤ ``top_ranks`` points per group.  Rank
    ties break on token ascending so both engines rank identically.
    Returns ``(group, n_ranks, slope, intercept)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    toks = (df.select(F.col(group_col).alias("g"),
                      F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    freq = toks.groupBy("g", "tok").agg(F.count("*").alias("f"))
    w = Window.partitionBy("g").orderBy(F.col("f").desc(),
                                        F.col("tok").asc())
    ranked = (freq.withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= top_ranks)
              .select("g", F.log("r").alias("x"), F.log("f").alias("y")))
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (ranked.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_ranks"),
                 fr(slope).alias("slope"),
                 fr((sy - slope * sx) / n).alias("intercept")))


def script_mix_profile(df, group_col: str, text_col: str,
                       round_digits: int = 4):
    """X169 — Unicode script-mix profile per group: per-document
    counts of Latin letters, Cyrillic letters, Han ideographs, digits,
    and whitespace, aggregated to per-group character-share fractions
    plus a mixed-script document count (Latin AND Cyrillic in one
    document — the homoglyph-spoofing / encoding-bleed signal).

    Pure in-row ``regexp_count`` with Unicode script classes — Java
    ``\\p{IsLatin}`` == RE2 ``\\p{Latin}``, matched in the oracle —
    zero shuffle before the group reduce.  Returns ``(group, n_docs,
    latin_share, cyrillic_share, han_share, digit_share,
    n_mixed_script)``; shares are of NON-whitespace characters.
    """
    from pyspark.sql import functions as F

    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    t = F.col(text_col)
    lat = F.regexp_count(t, F.lit(r"\p{IsLatin}"))
    cyr = F.regexp_count(t, F.lit(r"\p{IsCyrillic}"))
    han = F.regexp_count(t, F.lit(r"\p{IsHan}"))
    dig = F.regexp_count(t, F.lit(r"[0-9]"))
    ws = F.regexp_count(t, F.lit(r"\s"))
    d = df.select(F.col(group_col).alias("g"),
                  lat.alias("lat"), cyr.alias("cyr"), han.alias("han"),
                  dig.alias("dig"),
                  (F.length(t) - ws).cast("double").alias("nw"))
    share = lambda c: fr(F.sum(c) / F.sum("nw"))  # noqa: E731
    return (d.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 share(F.col("lat")).alias("latin_share"),
                 share(F.col("cyr")).alias("cyrillic_share"),
                 share(F.col("han")).alias("han_share"),
                 share(F.col("dig")).alias("digit_share"),
                 F.sum(((F.col("lat") > 0) & (F.col("cyr") > 0))
                       .cast("long")).alias("n_mixed_script")))


def max_token_run(df, id_col: str, text_col: str):
    """X170 — longest consecutive identical-token run per document:
    the degenerate-repetition detector Gopher's fraction rules can
    miss (one "buy buy buy … buy" burst in a long document keeps
    every dup-fraction under threshold but still poisons training).

    Gaps-and-islands entirely with in-row higher-order array
    functions: ``pos − row_number_within_token`` is constant inside a
    run, so the run lengths are the sizes of (token, island) groups —
    computed here per document inside ``aggregate`` over the token
    array (single sequential scan per doc, zero shuffle, no explode).
    Returns ``(id, n_tokens, max_run_token, max_run_len)``.
    """
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda x: x != "")
    # state: (prev_token, cur_run, best_token, best_run) carried as a
    # struct through one sequential fold per document
    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("cur"),
                    F.lit(None).cast("string").alias("btok"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc, x):
        cur = F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
        better = cur > acc["best"]
        return F.struct(x.alias("prev"), cur.alias("cur"),
                        F.when(better, x).otherwise(acc["btok"])
                        .alias("btok"),
                        F.when(better, cur).otherwise(acc["best"])
                        .alias("best"))

    agg = F.aggregate(toks, init, step)
    return df.select(F.col(id_col).alias("id"),
                     F.size(toks).cast("long").alias("n_tokens"),
                     agg["btok"].alias("max_run_token"),
                     agg["best"].cast("long").alias("max_run_len"))


def accent_fold_audit(df, group_col: str, text_col: str):
    """X185 — accent-fold (diacritic-strip) audit per group: how many
    documents change when combining marks are removed (NFD + drop
    Mn), and the codepoint delta — the normalization applied to
    linkage blocking keys and search indexes so 'café' and 'cafe'
    collide (the blocking companion of the X167 NFC audit: NFC
    canonicalizes equivalent spellings, accent-folding merges
    DIFFERENT spellings on purpose).

    One Arrow-batched ``mapInPandas`` pass (Python ``unicodedata``)
    + group reduce, zero shuffle before it; the DuckDB oracle uses
    its native ``strip_accents`` — verified equal on a differential
    corpus (precomposed, combining, non-decomposable ø/đ, ligature,
    Cyrillic breve cases).  Returns ``(group, n_docs, n_changed,
    chars_before, chars_after)``.
    """
    from pyspark.sql import functions as F

    def run(batches):
        import unicodedata

        import pandas as pd

        def fold(s: str) -> str:
            return "".join(c for c in unicodedata.normalize("NFD", s)
                           if not unicodedata.combining(c))

        for pdf in batches:
            changed, before, after = [], [], []
            for text in pdf[text_col]:
                t = text or ""
                f2 = fold(t)
                changed.append(f2 != t)
                before.append(len(t))
                after.append(len(f2))
            yield pd.DataFrame({"g": pdf[group_col], "changed": changed,
                                "before": before, "after": after})

    per_doc = spread(df.select(group_col, text_col)).mapInPandas(
        run, "g string, changed boolean, before long, after long")
    return (per_doc.groupBy(F.col("g").alias(group_col))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("changed").cast("long")).alias("n_changed"),
                 F.sum("before").alias("chars_before"),
                 F.sum("after").alias("chars_after")))


def lexical_profile(df, group_col: str = "source",
                    text_col: str = "text",
                    round_digits: int = 6):
    """X193 — lexical-diversity profile per corpus slice from the
    token frequency spectrum: type-token ratio V/N, hapax share
    V₁/V, and Yule's K = 10⁴·(Σc² − N)/N² — the repetitiveness
    characteristic that is (unlike TTR) insensitive to corpus size,
    which is what makes it comparable ACROSS slices of different
    sizes.  X86's vocab-growth curve shows V(N) over time; this is
    the point-in-time spectrum summary a datacard (X165) quotes.

    Scale shape: one (group, token)-keyed count aggregate with
    map-side partials, then one group-keyed reduce over the count
    table — Σc, V, V₁ and Σc² are all integer-valued, so both
    engines' sums are exact and only the final ratios round.
    Returns ``(group, n_tokens, vocab, ttr, hapax_share, yule_k)``.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
    counts = (toks.filter(F.col("tok") != "")
              .groupBy("g", "tok")
              .agg(F.count("*").cast("long").alias("c")))
    agg = counts.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("__v1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("__c2"))
    p = 10 ** round_digits
    fr = lambda c: F.floor(c * p + F.lit(0.5)) / p  # noqa: E731
    return agg.select(
        F.col("g").alias(group_col), "n_tokens", "vocab",
        fr(F.col("vocab") / F.col("n_tokens")).alias("ttr"),
        fr(F.col("__v1") / F.col("vocab")).alias("hapax_share"),
        fr(F.lit(10000.0) * (F.col("__c2") - F.col("n_tokens"))
           / F.col("n_tokens") / F.col("n_tokens")).alias("yule_k"))


def word_dropout(df, id_col: str = "doc_id", text_col: str = "text",
                 drop_pct: int = 15, salt: str = "aug"):
    """X205 — deterministic word-dropout augmentation: each token is
    dropped with probability ``drop_pct``% by a sha2 draw keyed on
    (doc, position, salt) — the cheap text-augmentation move (noise
    robustness, contrastive-pair generation) made REPRODUCIBLE:
    re-runs produce byte-identical augmented text, distinct salts
    produce independent views of the same doc, and an oracle can
    recompute the exact output.  Position 0 always survives so no
    document collapses to empty.

    Scale shape: posexplode → in-row keep decision → one doc-keyed
    ``collect_list`` of (pos, token) structs re-sorted in-row —
    fan-out is the token count, the only shuffle keys on the doc id,
    and per-doc state is the kept-token list (bounded by doc
    length).  Returns ``(id, n_tokens, n_kept, aug_text)``.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\s+"))
        .alias("pos", "tok"))
    u = F.pmod(
        F.translate(F.substring(F.sha2(F.concat(
            F.col(id_col).cast("string"), F.lit(":"),
            F.col("pos").cast("string"), F.lit(":" + salt)), 256),
            1, 3), "abcdef", "012345").cast("bigint"),
        F.lit(100))
    keep = (F.col("pos") == 0) | (u >= drop_pct)
    agg = (toks.withColumn("__keep", keep)
           .groupBy(id_col)
           .agg(F.count("*").cast("long").alias("n_tokens"),
                F.sum(F.col("__keep").cast("long")).cast("long")
                .alias("n_kept"),
                F.array_sort(F.collect_list(F.when(
                    F.col("__keep"),
                    F.struct(F.col("pos"), F.col("tok")))))
                .alias("__kept")))
    return agg.select(
        F.col(id_col), "n_tokens", "n_kept",
        F.array_join(F.transform(F.col("__kept"),
                                 lambda s: s["tok"]), " ")
        .alias("aug_text"))


def distinctive_terms(df, group_col: str = "source",
                      text_col: str = "text", top_k: int = 5,
                      alpha: float = 1.0,
                      round_digits: int = 4):
    """X237 — distinctive terms per corpus slice by log-odds with an
    informative Dirichlet prior (Monroe et al.'s "fightin' words"):
    for each (group, token), the z-scored log-odds delta of the
    token in the group vs the REST of the corpus — the
    what-makes-this-source-different view that TF-IDF (length-
    biased) and raw KL (X140, no variance control) both distort:
    the variance term shrinks rare-token flukes toward zero (the
    default add-one prior keeps genuinely group-exclusive tokens
    rankable; a near-zero prior would over-shrink them).

    Scale shape: ONE (group, token) count aggregate, broadcast
    1-row corpus totals and per-group totals joined on their keys,
    in-row log-odds arithmetic, and a WindowGroupLimit top-k per
    group ranked on the ROUNDED z (then token) so both engines
    elect identical rows.  Returns
    ``(group, rank, token, n_in_group, z)``.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
    counts = (toks.filter(F.col("tok") != "")
              .groupBy("g", "tok")
              .agg(F.count("*").cast("double").alias("c")))
    tok_tot = counts.groupBy("tok").agg(F.sum("c").alias("ct"))
    grp_tot = counts.groupBy("g").agg(F.sum("c").alias("ng"))
    corpus = (counts.agg(F.sum("c").alias("n"),
                         F.count("*").alias("__cells"))
              .withColumn("__k", F.floor(F.col("n") * 0)))
    a = float(alpha)
    j = (counts.join(tok_tot, "tok").join(grp_tot, "g")
         .withColumn("__k", F.floor(F.col("c") * 0))
         .join(F.broadcast(corpus), "__k"))
    ci = F.col("c")
    ri = F.col("ct") - F.col("c")
    ns = F.col("ng")
    nr = F.col("n") - F.col("ng")
    delta = (F.log((ci + a) / (ns - ci + a))
             - F.log((ri + a) / (nr - ri + a)))
    var = 1.0 / (ci + a) + 1.0 / (ri + a)
    z = delta / F.sqrt(var)
    p = 10 ** round_digits
    scored = j.withColumn("z", F.floor(z * p + F.lit(0.5)) / p)
    w = W.partitionBy("g").orderBy(F.col("z").desc(), "tok")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(F.col("g").alias(group_col),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("tok").alias("token"),
                    F.col("c").cast("long").alias("n_in_group"),
                    "z"))

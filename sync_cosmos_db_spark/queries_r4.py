"""Round-4 extension queries (X54-X71): link
extraction, HTML boilerplate strip, sentence-aware chunking,
quality-ranked per-source caps, exact set-similarity join, reciprocal-
rank fusion, per-group heavy hitters, the end-to-end web curation
pipeline, pairwise association rules, common-prefix boilerplate
detection, deterministic k-fold splits, BPE artifact persistence +
corpus encoding, ingest anomaly detection, mixed-language detection,
the dimension-truncation recall probe, and epoch-weighted oversampling.

Every query is oracle-checked (hash-compared against DuckDB at sf0.01)
and registers AFTER the round-4 sweep window — they queue for the
round-5 driver window and are meanwhile proven by the local pytest
oracle sweep (tests/test_oracle.py), the same path every family walked
before its first driver row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fround, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X54 — hyperlink extraction + X55 HTML boilerplate strip (operators/web.py)
# ---------------------------------------------------------------------------

_HTML_CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id,
         '<html><head><style>p {color:red}</style></head><body><h1>'
         || lang || '</h1><p>' || text || '</p>'
         || '<a href="https://site' || (doc_id % 5) || '.com/p/'
         || (doc_id % 10) || '?x=1">first</a>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<a href=''http://ex' || (doc_id % 7)
                      || '.org/q''>second</a>'
                 ELSE '' END
         || '<script>var x = 1;</script>'
         || '&amp; five &lt; six &nbsp;done</body></html>' AS html
  FROM documents)
"""


def _html_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><style>p {color:red}</style></head><body><h1>"),
        F.col("lang"), F.lit("</h1><p>"), F.col("text"), F.lit("</p>"),
        F.lit('<a href="https://site'), (k % 5).cast("string"),
        F.lit(".com/p/"), (k % 10).cast("string"), F.lit('?x=1">first</a>'),
        F.when(k % 3 == 0,
               F.concat(F.lit("<a href='http://ex"), (k % 7).cast("string"),
                        F.lit(".org/q'>second</a>")))
        .otherwise(F.lit("")),
        F.lit("<script>var x = 1;</script>"),
        F.lit("&amp; five &lt; six &nbsp;done</body></html>"))
    return docs.select("doc_id", html.alias("html"))


@query(
    "web_extract_links",
    _HTML_CORPUS_CTE + """
    SELECT doc_id,
           len(list_concat(
             regexp_extract_all(html, '<a\\s[^>]*href\\s*=\\s*"([^"]*)"', 1),
             regexp_extract_all(html,
               '<a\\s[^>]*href\\s*=\\s*''([^'']*)''', 1)))::BIGINT
             AS n_links,
           array_to_string(list_concat(
             regexp_extract_all(html, '<a\\s[^>]*href\\s*=\\s*"([^"]*)"', 1),
             regexp_extract_all(html,
               '<a\\s[^>]*href\\s*=\\s*''([^'']*)''', 1)), ',') AS links_csv
    FROM corpus
    """,
)
def web_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 — hyperlink extraction over a deterministically synthesized
    HTML corpus (every doc gets a double-quoted link; every third doc a
    single-quoted one).  One in-row regex pass; the oracle runs the
    identical RE2-safe pattern and the CSV surface hash-checks every
    extracted target in order."""
    from sync_cosmos_db_spark.operators.web import extract_links

    corpus = _html_corpus(spark, sf_dir)
    links = extract_links("html")
    return corpus.select(
        "doc_id",
        F.size(links).cast("long").alias("n_links"),
        F.array_join(links, ",").alias("links_csv"))


@query(
    "web_strip_html",
    _HTML_CORPUS_CTE + """
    , stripped AS (
      SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html,
                  '(?is)<script[^>]*>.*?(</script>|$)', '', 'g'),
                '(?is)<style[^>]*>.*?(</style>|$)', '', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS clean
      FROM corpus)
    SELECT doc_id, sha256(clean) AS clean_sha,
           length(clean)::BIGINT AS n_chars
    FROM stripped
    """,
)
def web_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 — HTML boilerplate strip (script/style blocks dropped, tags
    stripped, entities decoded amp-last, whitespace squeezed) over the
    same synthetic corpus; the sha256 surface holds both engines to
    byte-identical visible text."""
    from sync_cosmos_db_spark.operators.web import strip_html

    corpus = _html_corpus(spark, sf_dir)
    clean = strip_html("html")
    return corpus.select(
        "doc_id",
        F.sha2(clean, 256).alias("clean_sha"),
        F.length(clean).cast("long").alias("n_chars"))


# ---------------------------------------------------------------------------
# X56 — sentence-aware chunking + X57 quality-ranked per-source cap
# (operators/curation.py)
# ---------------------------------------------------------------------------

@query(
    "sentence_chunk_64",
    """
    WITH arrs AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([.!?]) ',
                                         '\\1' || chr(1), 'g'),
                          chr(1)) AS ss
      FROM documents),
    sent AS (SELECT doc_id, unnest(ss) AS s,
                    generate_subscripts(ss, 1) AS i
             FROM arrs),
    tok AS (SELECT doc_id, s, i,
                   len(string_split(s, ' '))::BIGINT AS n
            FROM sent),
    cum AS (SELECT doc_id, s, i, n,
                   coalesce(sum(n) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS off
            FROM tok)
    SELECT doc_id, (off // 64)::BIGINT AS chunk_id,
           count(*)::BIGINT AS n_sentences,
           sum(n)::BIGINT AS n_tokens,
           sha256(string_agg(s, ' ' ORDER BY i)) AS chunk_sha
    FROM cum
    GROUP BY doc_id, (off // 64)
    """,
)
def sentence_chunk_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56 — sentence-aware chunking: sentences (RE2-safe marker split)
    assigned to 64-token chunks by cumulative-offset prefix rule, so no
    sentence is split mid-way.  The oracle recomputes sentence splits,
    offsets, and each chunk's exact ordered text (sha-compared)."""
    from sync_cosmos_db_spark.operators.curation import sentence_chunk

    docs = load_table(spark, sf_dir, "documents")
    out = sentence_chunk(docs, "doc_id", "text", max_tokens=64)
    return out.select(
        "doc_id", "chunk_id", "n_sentences", "n_tokens",
        F.sha2(F.col("chunk_text"), 256).alias("chunk_sha"))


@query(
    "quality_cap_per_source",
    """
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n,
             (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
               / len(string_split(text, ' ')) AS ml,
             len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')) AS dr
      FROM documents),
    q AS (SELECT doc_id, source,
                 floor((0.4 * least(1.0, n / 100.0)
                       + 0.3 * dr
                       + 0.3 * least(1.0, ml / 8.0)) * 10000 + 0.5)
                   / 10000 AS quality
          FROM t)
    SELECT doc_id, source, quality
    FROM q
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) <= 40
    """,
)
def quality_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 — keep the 40 BEST documents per source by composite quality
    score (rounded before ranking so both engines rank identically) —
    the quality-ranked twin of the hash-based cap_docs_per_source.
    Catalyst's WindowGroupLimit keeps each map task's local top-k only,
    so the shuffle is bounded per group (plan-asserted in
    tests/test_curation.py)."""
    from sync_cosmos_db_spark.operators.curation import (
        quality_top_k_per_group,
    )
    from sync_cosmos_db_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source",
        fround(quality_score("text"), 4).alias("quality"))
    return quality_top_k_per_group(scored, "source", "quality",
                                   "doc_id", k=40)


# ---------------------------------------------------------------------------
# X58 — exact set-similarity join with prefix filtering (operators/setsim.py)
# ---------------------------------------------------------------------------

@query(
    "setsim_join_docs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text || ' zzextra'
      FROM documents WHERE doc_id % 7 = 0),
    s AS (SELECT doc_id,
                 list_distinct(string_split(text, ' ')) AS tk
          FROM corpus)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.tk, b.tk))::BIGINT AS inter,
           (len(a.tk) + len(b.tk)
            - len(list_intersect(a.tk, b.tk)))::BIGINT AS n_union,
           floor(len(list_intersect(a.tk, b.tk))::DOUBLE
                 / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
          / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
          >= 0.7
    """,
)
def setsim_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58 — EXACT Jaccard >= 0.7 pair join via prefix filtering
    (operators/setsim.py) over a corpus with planted near-twins (every
    %7 doc gets a one-token-appended copy).  The oracle is the
    UNBLOCKED n² SQL join — hash equality is the completeness proof:
    prefix filtering found every qualifying pair, with exact
    intersection/union arithmetic."""
    from sync_cosmos_db_spark.operators.setsim import setsim_join

    docs = load_table(spark, sf_dir, "documents")
    twins = (docs.filter(F.col("doc_id") % 7 == 0)
             .select((F.col("doc_id") + 10000000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" zzextra"))
                     .alias("text")))
    corpus = docs.select("doc_id", "text").unionAll(twins)
    return setsim_join(corpus, "doc_id", "text", threshold=0.7)


# ---------------------------------------------------------------------------
# X59 — reciprocal-rank fusion (operators/retrieval.rrf_fuse)
# ---------------------------------------------------------------------------

@query(
    "rrf_hybrid_rankings",
    """
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n,
             (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
               / len(string_split(text, ' ')) AS ml,
             len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')) AS dr
      FROM documents),
    q AS (SELECT doc_id, lang, n,
                 floor((0.4 * least(1.0, n / 100.0) + 0.3 * dr
                       + 0.3 * least(1.0, ml / 8.0)) * 10000 + 0.5)
                   / 10000 AS quality
          FROM t),
    la AS (SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY quality DESC, doc_id) AS rank
           FROM q QUALIFY rank <= 25),
    lb AS (SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, doc_id) AS rank
           FROM q QUALIFY rank <= 25),
    u AS (SELECT * FROM la UNION ALL SELECT * FROM lb),
    sc AS (SELECT lang, doc_id, count(*)::BIGINT AS n_lists,
                  floor(sum(1.0 / (60 + rank)) * 1000000 + 0.5) / 1000000
                    AS rrf_score
           FROM u GROUP BY lang, doc_id)
    SELECT lang, doc_id, n_lists, rrf_score,
           row_number() OVER (PARTITION BY lang
                              ORDER BY rrf_score DESC, doc_id)::BIGINT
             AS fused_rank
    FROM sc QUALIFY fused_rank <= 10
    """,
)
def rrf_hybrid_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 — reciprocal-rank fusion of two incomparable per-lang
    rankings (composite quality vs raw length — stand-ins for the
    BM25 ⊕ dense-ANN hybrid, which fuses by exactly this arithmetic):
    top-25 each, RRF k=60, fused top-10 per lang.  Scores are rounded
    before every ranking step so both engines rank identically; the
    oracle recomputes both source rankings and the fusion."""
    from pyspark.sql import Window as W

    from sync_cosmos_db_spark.operators.retrieval import rrf_fuse
    from sync_cosmos_db_spark.operators.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "doc_id",
        fround(quality_score("text"), 4).alias("quality"),
        token_count("text").alias("n"))

    def ranked(order_col):
        w = (W.partitionBy("lang")
             .orderBy(F.col(order_col).desc(), F.col("doc_id").asc()))
        return (scored.withColumn("rank",
                                  F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= 25)
                .select("lang", "doc_id", "rank"))

    return rrf_fuse([ranked("quality"), ranked("n")],
                    ["lang"], "doc_id", "rank", k=60, top_n=10)


# ---------------------------------------------------------------------------
# X61 — per-group heavy hitters (operators/sketches.py)
# ---------------------------------------------------------------------------

@query(
    "heavy_hitter_terms_by_lang",
    """
    WITH toks AS (SELECT lang,
                         unnest(string_split_regex(text, '\\s+')) AS item
                  FROM documents),
    n AS (SELECT lang, count(*) AS total FROM toks GROUP BY lang)
    SELECT t.lang, t.item, count(*)::BIGINT AS cnt
    FROM toks t JOIN n USING (lang)
    GROUP BY t.lang, t.item, n.total
    HAVING count(*) * 24 > n.total
    """,
)
def heavy_hitter_terms_by_lang(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X61 — per-LANGUAGE heavy hitters (terms with in-language count >
    n_lang/24) via the grouped Misra-Gries sketch: per-(partition,
    group) summaries keep the containment guarantee within each group,
    per-group totals ride the sketch rows, and the verify pass
    broadcast-joins candidates and totals.  The oracle is the plain
    per-lang groupBy + HAVING — hash equality proves the grouped
    containment end-to-end."""
    from sync_cosmos_db_spark.operators.sketches import (
        heavy_hitters_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.col("text"), r"\s+")).alias("item"))
    return heavy_hitters_by_group(toks, "lang", "item", k=23)


# ---------------------------------------------------------------------------
# X62 — web curation pipeline composition (strip → clean → score →
# filter → dedup), full SQL replay oracle
# ---------------------------------------------------------------------------

@query(
    "web_pipeline_stats",
    _HTML_CORPUS_CTE + """
    , stripped AS (
      SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html,
                  '(?is)<script[^>]*>.*?(</script>|$)', '', 'g'),
                '(?is)<style[^>]*>.*?(</style>|$)', '', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS clean
      FROM corpus),
    scored AS (
      SELECT doc_id, clean,
             len(string_split(clean, ' ')) AS n,
             (length(clean) - (len(string_split(clean, ' ')) - 1))::DOUBLE
               / len(string_split(clean, ' ')) AS ml,
             len(list_distinct(string_split(clean, ' ')))::DOUBLE
               / len(string_split(clean, ' ')) AS dr
      FROM stripped),
    q AS (SELECT doc_id, clean,
                 floor((0.4 * least(1.0, n / 100.0) + 0.3 * dr
                       + 0.3 * least(1.0, ml / 8.0)) * 10000 + 0.5)
                   / 10000 AS quality
          FROM scored),
    kept AS (SELECT doc_id, clean FROM q WHERE quality >= 0.5),
    uniq AS (SELECT sha256(clean) AS sha, min(doc_id) AS keep_id
             FROM kept GROUP BY sha256(clean))
    SELECT (SELECT count(*) FROM corpus)::BIGINT AS n_input,
           (SELECT count(*) FROM kept)::BIGINT AS n_quality,
           (SELECT count(*) FROM uniq)::BIGINT AS n_unique,
           (SELECT coalesce(sum(keep_id), 0) FROM uniq)::BIGINT
             AS kept_id_sum
    """,
)
def web_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 — the web-corpus curation pipeline end-to-end: synthetic
    HTML → strip_html (X55) → composite quality score gate (X6) →
    exact content dedup keeping the lowest doc id (X1).  One row of
    stage cardinalities plus the exact kept-id sum — the oracle
    replays every stage in SQL, so the hash check pins the whole
    composition, not just each operator in isolation.  Body in
    ``_web_pipeline_agg`` (round 16) so the single-pass contract is
    accumulator-testable with an injected tagged corpus."""
    return _web_pipeline_agg(_html_corpus(spark, sf_dir))


def _web_pipeline_agg(corpus: DataFrame) -> DataFrame:
    """The strip → score → filter → dedup composition over an
    injectable ``corpus (doc_id, html)``.

    ONE pass over the corpus source and ONE execution of the heavy
    regex strip + quality chain (round 16): previously the input
    count, the quality-gate count and the dedup aggregate each
    re-executed the whole chain (3 passes over the corpus, 2 over the
    strip/score work).  ``scored`` is 1:1 with the corpus, so
    n_input/n_quality collapse to one conditional aggregate over the
    eager checkpoint; the two 1-row aggregates meet in a constant-size
    crossJoin (the documented anchor pattern)."""
    from sync_cosmos_db_spark.cache_scope import scoped_local_checkpoint
    from sync_cosmos_db_spark.operators.text import quality_score
    from sync_cosmos_db_spark.operators.web import strip_html

    scored = scoped_local_checkpoint(
        corpus.select("doc_id", strip_html("html").alias("clean"))
        .withColumn("quality", fround(quality_score("clean"), 4)))
    kept = scored.filter(F.col("quality") >= 0.5)
    uniq = (kept.groupBy(F.sha2("clean", 256).alias("sha"))
            .agg(F.min("doc_id").alias("keep_id")))
    return (scored.agg(
                F.count("*").cast("long").alias("n_input"),
                F.count_if(F.col("quality") >= 0.5).cast("long")
                .alias("n_quality"))
            .crossJoin(uniq.agg(
                F.count("*").cast("long").alias("n_unique"),
                F.coalesce(F.sum("keep_id"), F.lit(0)).cast("long")
                .alias("kept_id_sum"))))


# ---------------------------------------------------------------------------
# X63 — pairwise association rules (operators/assoc.py)
# ---------------------------------------------------------------------------

@query(
    "assoc_event_types_by_user",
    """
    WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i
                FROM events),
    sup AS (SELECT i, count(*)::BIGINT AS n_i FROM bi GROUP BY i
            HAVING count(*) >= 2),
    pruned AS (SELECT bi.b, bi.i FROM bi JOIN sup USING (i)),
    pc AS (SELECT a.i AS item_a, c.i AS item_b, count(*)::BIGINT AS n_ab
           FROM pruned a JOIN pruned c ON a.b = c.b AND a.i < c.i
           GROUP BY a.i, c.i HAVING count(*) >= 2),
    nb AS (SELECT count(DISTINCT b)::BIGINT AS n FROM bi)
    SELECT pc.item_a, pc.item_b, pc.n_ab,
           sa.n_i AS n_a, sb.n_i AS n_b,
           floor(pc.n_ab::DOUBLE / nb.n * 1000000 + 0.5) / 1000000
             AS support,
           floor(pc.n_ab::DOUBLE / sa.n_i * 1000000 + 0.5) / 1000000
             AS confidence,
           floor((pc.n_ab::DOUBLE * nb.n) / (sa.n_i * sb.n_i)
                 * 1000000 + 0.5) / 1000000 AS lift
    FROM pc
    JOIN sup sa ON sa.i = pc.item_a
    JOIN sup sb ON sb.i = pc.item_b
    CROSS JOIN nb
    """,
)
def assoc_event_types_by_user(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X63 — market-basket association rules over event types per user
    (operators/assoc.py): Apriori-pruned pairwise co-occurrence with
    support / confidence / lift, every ratio floor-rounded.  The
    oracle replays the whole Apriori pipeline in SQL."""
    from sync_cosmos_db_spark.operators.assoc import pair_associations

    ev = load_table(spark, sf_dir, "events")
    return pair_associations(ev, "user_id", "event_type", min_count=2)


# ---------------------------------------------------------------------------
# X64 — common-prefix boilerplate detection (operators/web.py)
# ---------------------------------------------------------------------------

@query(
    "boilerplate_prefix_by_source",
    """
    WITH corpus AS (
      SELECT source, 'SITE ' || source || ' HEADER | ' || text AS t
      FROM documents),
    g AS (SELECT source, count(*)::BIGINT AS n_docs,
                 min(t) AS lo, max(t) AS hi
          FROM corpus GROUP BY source),
    c AS (SELECT source, n_docs, lo, hi,
                 least(length(lo), length(hi)) AS n,
                 list_min(list_filter(
                   generate_series(1, least(length(lo), length(hi))),
                   i -> substr(lo, i, 1) <> substr(hi, i, 1))) AS bad
          FROM g)
    SELECT source, n_docs,
           coalesce(bad - 1, n)::BIGINT AS prefix_len,
           substr(lo, 1, coalesce(bad - 1, n)::INT) AS prefix
    FROM c
    """,
)
def boilerplate_prefix_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X64 — per-source longest-common-prefix boilerplate detection via
    the LCP(min, max) order-statistics identity: one group aggregate,
    zero pairwise work.  The corpus plants a per-source header so the
    detected prefix is non-trivial; the oracle replays the identity in
    SQL and the hash check covers the exact prefix text."""
    from sync_cosmos_db_spark.operators.web import common_prefix_by_group

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "source",
        F.concat(F.lit("SITE "), F.col("source"), F.lit(" HEADER | "),
                 F.col("text")).alias("t"))
    return common_prefix_by_group(corpus, "source", "t")


# ---------------------------------------------------------------------------
# X66 — deterministic k-fold split (operators/curation.py)
# ---------------------------------------------------------------------------

@query(
    "kfold_split_documents",
    """
    SELECT fold, count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS id_sum
    FROM (
      SELECT doc_id,
             translate(substr(sha256(doc_id::VARCHAR || ':fold'), 1, 6),
                       'abcdef', '012345')::BIGINT % 5 AS fold
      FROM documents)
    GROUP BY fold
    """,
)
def kfold_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 — deterministic 5-fold cross-validation split: per-fold
    cardinality plus the exact id sum, so the hash check pins the
    precise membership of every fold, not just the sizes."""
    from sync_cosmos_db_spark.operators.curation import k_fold_split

    docs = load_table(spark, sf_dir, "documents")
    return (k_fold_split(docs, "doc_id", k=5)
            .groupBy("fold")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_sum")))


# ---------------------------------------------------------------------------
# X67 — tokenizer artifact persistence + corpus encoding (operators/bpe.py)
# ---------------------------------------------------------------------------

@query("bpe_encode_documents")  # ordered merge replay isn't
# SQL-expressible — rows-only driver check; parity vs the pure-Python
# reference encoder is pinned in tests/test_bpe.py.
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67 — the tokenizer round-trip a training pipeline runs: learn 8
    merges over the corpus, SAVE the merge table as a parquet artifact,
    LOAD it, and encode every document through the distinct-word replay
    + word-keyed join (merge arithmetic amortized over distinct words,
    never per token).  Output: per-doc word/token counts + token-stream
    sha."""
    from sync_cosmos_db_spark.cache_scope import scoped_tempdir
    from sync_cosmos_db_spark.operators import bpe as B

    docs = load_table(spark, sf_dir, "documents")
    merges = B.bpe_learn(spark, docs, 8)
    path = scoped_tempdir("bpe_merges_") + "/merges"
    B.save_merges(spark, merges, path)
    enc = B.encode_documents(docs, B.load_merges(spark, path))
    return enc.select("doc_id", "n_words", "n_tokens",
                      F.sha2("tokens", 256).alias("tokens_sha"))


# ---------------------------------------------------------------------------
# X68 — ingest anomaly detection (trailing-window z-score over daily
# event volume; pure Catalyst RANGE-frame composition)
# ---------------------------------------------------------------------------

@query(
    "ingest_anomaly_daily",
    """
    WITH d AS (SELECT date_trunc('day', ts) AS day,
                      count(*)::BIGINT AS n
               FROM events GROUP BY day),
    w AS (SELECT day, n,
                 avg(n) OVER (ORDER BY day
                              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                              AND INTERVAL 1 DAY PRECEDING) AS mu,
                 stddev_samp(n) OVER (ORDER BY day
                              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                              AND INTERVAL 1 DAY PRECEDING) AS sigma,
                 count(n) OVER (ORDER BY day
                              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                              AND INTERVAL 1 DAY PRECEDING) AS n_hist
          FROM d)
    SELECT epoch(day)::BIGINT AS day_epoch, n,
           floor(coalesce((n - mu) / nullif(sigma, 0), 0)
                 * 10000 + 0.5) / 10000 AS z,
           n_hist >= 3 AND sigma IS NOT NULL AND sigma <> 0
             AND abs((n - mu) / nullif(sigma, 0)) > 3 AS anomaly
    FROM w
    """,
)
def ingest_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68 — operational ingest monitoring: daily event volume scored
    against its OWN trailing 7-day window (RANGE frame on event time —
    value-based, so missing days genuinely shrink the window rather
    than sliding over rows), z-score flagged at |z| > 3 with a
    minimum-history gate.  One aggregate + one value-frame window —
    all Catalyst, all map-side-combinable; the oracle recomputes every
    windowed moment."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
             .agg(F.count("*").cast("long").alias("n")))
    from pyspark.sql import Window as W
    day_sec = F.unix_timestamp("day")
    w = (W.orderBy(day_sec)
         .rangeBetween(-7 * 86400, -1 * 86400))
    mu = F.avg("n").over(w)
    sigma = F.stddev_samp("n").over(w)
    n_hist = F.count("n").over(w)
    z = (F.col("n") - mu) / F.nullif(sigma, F.lit(0))
    return daily.select(
        day_sec.cast("long").alias("day_epoch"),
        "n",
        fround(F.coalesce(z, F.lit(0.0)), 4).alias("z"),
        ((n_hist >= 3) & sigma.isNotNull() & (sigma != 0)
         & (F.abs(z) > 3)).alias("anomaly"))


# ---------------------------------------------------------------------------
# X69 — mixed-language detection (paragraph-level lang-id composition)
# ---------------------------------------------------------------------------

from sync_cosmos_db_spark.operators import text as _X  # noqa: E402

_SEG_SCORES_SQL = ",\n".join(
    f"len(list_intersect(list_distinct(string_split(seg, ' ')), "
    f"[{', '.join(repr(w) for w in ws)}])) AS s_{lang}"
    for lang, ws in sorted(_X.STOPWORDS.items()))
_SEG_CASE_SQL = " ".join(
    f"WHEN s_{lang} > 0 AND s_{lang} = best THEN '{lang}'"
    for lang in sorted(_X.STOPWORDS))
_ES_SEGMENT = "el la que y un una por con"


@query(
    "mixed_language_docs",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || chr(10) || chr(10) || '{_ES_SEGMENT}'
                  ELSE text END AS t
      FROM documents),
    segs AS (SELECT doc_id,
                    unnest(list_filter(
                      string_split(t, chr(10) || chr(10)),
                      x -> x <> '')) AS seg
             FROM corpus),
    sc AS (SELECT doc_id, seg, {_SEG_SCORES_SQL} FROM segs),
    b AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best
          FROM sc),
    tagged AS (SELECT doc_id,
                      CASE {_SEG_CASE_SQL} ELSE 'und' END AS sl
               FROM b),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_segments,
                   list_sort(list_distinct(
                     list_filter(array_agg(sl), x -> x <> 'und')))
                     AS langs
            FROM tagged GROUP BY doc_id)
    SELECT doc_id, n_segments,
           len(langs)::BIGINT AS n_langs,
           coalesce(array_to_string(langs, ','), '') AS langs_csv,
           len(langs) > 1 AS mixed
    FROM agg
    """,
)
def mixed_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 — paragraph-level language-consistency audit: split each doc
    into paragraphs, language-ID each with the stopword-argmax
    classifier, and flag documents whose paragraphs disagree — the
    mixed-language contamination signal monolingual corpora filter on.
    Every fourth doc gets a planted Spanish-stopword paragraph, so the
    flag is exercised in both directions; the oracle replays
    segmentation, per-segment scoring, the argmax tie-break, and the
    per-doc aggregation."""
    from sync_cosmos_db_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    t = F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit("\n\n" + _ES_SEGMENT))) \
        .otherwise(F.col("text"))
    segs = (docs.select("doc_id",
                        F.explode(F.filter(F.split(t, "\n\n"),
                                           lambda x: x != F.lit("")))
                        .alias("seg")))
    tagged = segs.select("doc_id", lang_id("seg").alias("sl"))
    langs = F.array_sort(F.collect_set(
        F.when(F.col("sl") != "und", F.col("sl"))))
    return (tagged.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_segments"),
                 langs.alias("__langs"))
            .select("doc_id", "n_segments",
                    F.size("__langs").cast("long").alias("n_langs"),
                    F.array_join("__langs", ",").alias("langs_csv"),
                    (F.size("__langs") > 1).alias("mixed")))


# ---------------------------------------------------------------------------
# X70 — dimension-truncation recall probe (Matryoshka-style evaluation)
# ---------------------------------------------------------------------------

@query(
    "truncation_recall_16d",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings
               ORDER BY sha256(vec_id::VARCHAR || ':tr16'), vec_id
               LIMIT 16),
    full_s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             floor(list_cosine_similarity(q.qv, c.embedding::DOUBLE[])
                   * 1000000 + 0.5) / 1000000 AS cs
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
    full_r AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rk
      FROM full_s),
    tr_s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             floor(list_cosine_similarity(q.qv[1:16],
                                          (c.embedding::DOUBLE[])[1:16])
                   * 1000000 + 0.5) / 1000000 AS cs
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
    tr_r AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rk
      FROM tr_s)
    SELECT f.query_id,
           count(t.neighbor_id)::BIGINT AS n_kept,
           floor(count(t.neighbor_id)::DOUBLE / 10 * 10000 + 0.5) / 10000
             AS recall_at_10
    FROM (SELECT * FROM full_r WHERE rk <= 10) f
    LEFT JOIN (SELECT * FROM tr_r WHERE rk <= 10) t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def truncation_recall_16d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 — Matryoshka-style truncation evaluation: exact top-10 under
    the FULL 64-d embedding vs exact top-10 under the first 16 dims
    only, reported as per-query recall@10 via
    ``similarity.truncation_recall`` (which enforces the
    small-query-set cap).  The probe set is a FIXED-SIZE deterministic
    sample — the 16 vectors ranked first under a seeded sha256 of
    their id (round-4 verdict item 2: the old ``vec_id % 50`` set was
    2% OF THE CORPUS, i.e. an unbounded broadcast side at 100 TB; a
    hash-ranked LIMIT plans as TakeOrderedAndProject, per-partition
    top-k then a driver merge, so the selection itself is
    scale-safe).  Both rankings and their overlap are recomputed by
    the oracle over the identically-selected probe set."""
    from sync_cosmos_db_spark.operators.similarity import (
        truncation_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qkey = F.sha2(F.concat(F.col("vec_id").cast("string"),
                           F.lit(":tr16")), 256)
    probes = emb.orderBy(qkey.asc(), F.col("vec_id").asc()).limit(16)
    return truncation_recall(emb, probes, prefix_dim=16, k=10)


# ---------------------------------------------------------------------------
# X71 — epoch-weighted oversampling (operators/curation.py)
# ---------------------------------------------------------------------------

@query(
    "oversample_by_lang",
    """
    WITH t AS (SELECT * FROM (VALUES ('en', 400), ('zh', 150), ('de', 40))
               v(lang, target)),
    c AS (SELECT lang, count(*)::BIGINT AS cnt FROM documents
          GROUP BY lang),
    plan AS (SELECT c.lang, c.cnt, t.target FROM c LEFT JOIN t USING (lang)),
    r AS (SELECT d.doc_id, d.lang, p.cnt, p.target,
                 row_number() OVER (PARTITION BY d.lang ORDER BY
                   translate(substr(sha256(d.doc_id::VARCHAR || ':epoch'),
                             1, 6), 'abcdef', '012345')::BIGINT % 1000000,
                   d.doc_id) AS rk
          FROM documents d JOIN plan p ON p.lang = d.lang),
    n AS (SELECT doc_id, lang,
                 CASE WHEN target IS NULL THEN 1
                      ELSE (target // cnt)
                           + CASE WHEN rk <= target % cnt THEN 1 ELSE 0 END
                 END AS n_copies
          FROM r)
    SELECT doc_id, lang,
           unnest(generate_series(0, n_copies::INT - 1))::BIGINT AS epoch
    FROM n WHERE n_copies > 0
    """,
)
def oversample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 — epoch-weighted oversampling (operators/curation.py): rare
    languages repeat to hit exact per-language row targets (the
    several-epochs-of-the-small-source fine-tuning mix), targets below
    a language's count downsample, unlisted languages pass through
    once.  The oracle replays counts, the hash-ranked extra-copy
    selection, and every (doc, epoch) row — exact membership, not just
    sizes."""
    from sync_cosmos_db_spark.operators.curation import oversample_to_target

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (oversample_to_target(docs, "doc_id", "lang",
                                 {"en": 400, "zh": 150, "de": 40})
            .select("doc_id", "lang", F.col("epoch").cast("long")
                    .alias("epoch")))

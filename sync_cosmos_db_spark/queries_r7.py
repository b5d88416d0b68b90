"""Round-7 operator-family queries: the former ``queries_r7b`` to
``queries_r7v`` modules, merged in registration order."""

from __future__ import annotations

from sync_cosmos_db_spark.cache_scope import scoped_local_checkpoint

# ===========================================================================
# merged from queries_r7b.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families X166-X177: compression-ratio quality,
NFC normalization audit, Zipf slope, script-mix profile, max
token-run repetition, burst-collapse dedup, session depth/bounce,
transition validity, inactivity/churn, weight-of-evidence encoding,
Jaro-Winkler linkage, and perceptual image dedup (dHash).

No reference counterpart for any of these (SURVEY.md §2.3 — the
reference has no text/event/image analytics); they extend the
LLM-pipeline toolkit the north star mandates: corpus hygiene
(X166/X167/X169/X170), distributional health (X168), event-stream
cleaning and lifecycle (X171-X174), supervised encoding (X175), and
the two fuzzy-matching flavors the dedup/linkage chain still lacked
(X176 names, X177 images).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fround, fsum, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X166 — zlib compression-ratio quality signal (rows-only: no SQL
# engine exposes a deterministic compressor, so no oracle is possible;
# behavior is pinned by tests/test_r7_ops.py goldens)
# ---------------------------------------------------------------------------

@query("compression_profile_documents")
def compression_profile_documents(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """X166 — per-source zlib compression-ratio profile
    (``text.compression_profile``): mean/min/max ratio plus counts in
    the high-redundancy (<0.35) and incompressible (>0.95) tails —
    the classic cheap boilerplate/noise detector.  One Arrow-batched
    ``mapInPandas`` pass + one group reduce; rows-only by design
    (zlib has no SQL twin)."""
    from sync_cosmos_db_spark.operators.text import compression_profile

    docs = load_table(spark, sf_dir, "documents")
    return compression_profile(docs, "source", "doc_id", "text")


# ---------------------------------------------------------------------------
# X167 — Unicode NFC normalization audit
# ---------------------------------------------------------------------------

@query(
    "nfc_audit_documents",
    """
    WITH aug AS (
      SELECT source,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' caf' || 'e' || chr(769)
                  ELSE text END AS text
      FROM documents),
    d AS (SELECT source, text, nfc_normalize(text) AS norm FROM aug)
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN norm <> text THEN 1 ELSE 0 END)::BIGINT
             AS n_changed,
           sum(length(text))::BIGINT AS chars_before,
           sum(length(norm))::BIGINT AS chars_after
    FROM d GROUP BY 1
    """,
)
def nfc_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167 — NFC normalization audit (``text.nfc_audit``) over the
    documents corpus with a deterministic decomposed-form injection
    (every 7th doc gains a combining-acute ``e`` + U+0301 suffix on
    BOTH engines, since the synthetic corpus is pure ASCII): per
    source, how many documents change under NFC and the codepoint
    delta.  The Spark side normalizes with Python ``unicodedata``;
    the oracle with DuckDB's native ``nfc_normalize`` — two
    independent Unicode implementations hash-agreeing."""
    from sync_cosmos_db_spark.operators.text import nfc_audit

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" cafe\u0301")))
        .otherwise(F.col("text")))
    return nfc_audit(aug, "source", "text")


# ---------------------------------------------------------------------------
# X168 — Zipf rank-frequency slope
# ---------------------------------------------------------------------------

@query(
    "zipf_slope_sources",
    """
    WITH toks AS (
      SELECT source AS g, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents),
    freq AS (SELECT g, tok, count(*)::BIGINT AS f
             FROM toks WHERE tok <> '' GROUP BY 1, 2),
    ranked AS (
      SELECT g, ln(row_number() OVER (PARTITION BY g
                                      ORDER BY f DESC, tok ASC)) AS x,
             ln(f) AS y,
             row_number() OVER (PARTITION BY g
                                ORDER BY f DESC, tok ASC) AS r
      FROM freq),
    top AS (SELECT g, x, y FROM ranked WHERE r <= 100),
    s AS (SELECT g, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*x) AS sxx, sum(x*y) AS sxy
          FROM top GROUP BY 1)
    SELECT g AS source, n::BIGINT AS n_ranks,
           floor((n*sxy - sx*sy) / (n*sxx - sx*sx) * 10000 + 0.5)
             / 10000 AS slope,
           floor((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n
                 * 10000 + 0.5) / 10000 AS intercept
    FROM s
    """,
)
def zipf_slope_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168 — Zipf rank-frequency slope per source
    (``text.zipf_slope``): OLS of ln(freq) on ln(rank) over the top
    100 token ranks — natural text sits near -1, boilerplate
    flattens.  One token-keyed count shuffle + a WindowGroupLimit'd
    per-group rank + closed-form OLS on <=100 points per group."""
    from sync_cosmos_db_spark.operators.text import zipf_slope

    docs = load_table(spark, sf_dir, "documents")
    return zipf_slope(docs, "source", "text", top_ranks=100)


# ---------------------------------------------------------------------------
# X169 — Unicode script-mix profile
# ---------------------------------------------------------------------------

@query(
    "script_mix_documents",
    """
    WITH aug AS (
      SELECT source,
             text || CASE WHEN doc_id % 11 = 0 THEN ' Привет мир'
                          ELSE '' END
                  || CASE WHEN doc_id % 13 = 0 THEN ' 中文 123'
                          ELSE '' END AS text
      FROM documents),
    d AS (
      SELECT source,
             len(regexp_extract_all(text, '[\\p{Latin}]')) AS lat,
             len(regexp_extract_all(text, '[\\p{Cyrillic}]')) AS cyr,
             len(regexp_extract_all(text, '[\\p{Han}]')) AS han,
             len(regexp_extract_all(text, '[0-9]')) AS dig,
             (length(text)
              - len(regexp_extract_all(text, '\\s')))::DOUBLE AS nw
      FROM aug)
    SELECT source, count(*)::BIGINT AS n_docs,
           floor(sum(lat) / sum(nw) * 10000 + 0.5) / 10000
             AS latin_share,
           floor(sum(cyr) / sum(nw) * 10000 + 0.5) / 10000
             AS cyrillic_share,
           floor(sum(han) / sum(nw) * 10000 + 0.5) / 10000
             AS han_share,
           floor(sum(dig) / sum(nw) * 10000 + 0.5) / 10000
             AS digit_share,
           sum(CASE WHEN lat > 0 AND cyr > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_mixed_script
    FROM d GROUP BY 1
    """,
)
def script_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169 — Unicode script-mix profile per source
    (``text.script_mix_profile``) with deterministic Cyrillic/Han
    injections (every 11th / 13th doc) so the shares are non-trivial
    over the ASCII synthetic corpus: Latin/Cyrillic/Han/digit shares
    of non-whitespace characters plus the mixed-script
    (homoglyph-risk) document count.  In-row Java ``\\p{IsLatin}``
    regex counts vs the oracle's RE2 ``\\p{Latin}`` — two regex
    engines' Unicode script tables hash-agreeing."""
    from sync_cosmos_db_spark.operators.text import script_mix_profile

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" Привет мир"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" 中文 123"))
            .otherwise(F.lit(""))))
    return script_mix_profile(aug, "source", "text")


# ---------------------------------------------------------------------------
# X170 — max consecutive identical-token run
# ---------------------------------------------------------------------------

@query(
    "max_token_run_documents",
    """
    WITH toks AS (
      SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '') AS arr
            FROM documents)),
    runs AS (
      SELECT doc_id, tok, pos,
             pos - row_number() OVER (PARTITION BY doc_id, tok
                                      ORDER BY pos) AS grp
      FROM toks),
    sized AS (
      SELECT doc_id, tok, count(*)::BIGINT AS run_len,
             min(pos) AS start_pos
      FROM runs GROUP BY doc_id, tok, grp),
    best AS (
      SELECT doc_id, tok, run_len,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY run_len DESC, start_pos ASC)
               AS rn
      FROM sized),
    n AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks
          GROUP BY 1)
    SELECT d.doc_id AS id, coalesce(n.n_tokens, 0) AS n_tokens,
           b.tok AS max_run_token, coalesce(b.run_len, 0) AS max_run_len
    FROM documents d
    LEFT JOIN n ON n.doc_id = d.doc_id
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = d.doc_id
    """,
)
def max_token_run_documents(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X170 — longest consecutive identical-token run per document
    (``text.max_token_run``): the burst-repetition detector Gopher's
    corpus-level fractions can miss.  Spark side is ONE sequential
    ``F.aggregate`` fold per document over the token array — in-row,
    zero shuffle, no explode; the oracle rebuilds the runs with the
    gaps-and-islands construction and takes the earliest maximal
    run, which is exactly what the fold keeps."""
    from sync_cosmos_db_spark.operators.text import max_token_run

    docs = load_table(spark, sf_dir, "documents")
    return max_token_run(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# X171 — burst-collapse event dedup
# ---------------------------------------------------------------------------

@query(
    "burst_collapse_events",
    """
    WITH g AS (
      SELECT event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 300 * 1000000
                  THEN 1 ELSE 0 END AS new_b
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(new_b)::BIGINT AS n_kept,
           (count(*) - sum(new_b))::BIGINT AS n_dropped
    FROM g GROUP BY 1
    """,
)
def burst_collapse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171 — burst-collapse dedup audit
    (``behavioral.burst_collapse``, 5-minute tolerance): per event
    type, how many events survive when consecutive same-(user, type)
    events under 300 s apart collapse to their first — the
    double-click / retry-storm cleaner.  One (user, type)-keyed
    window shuffle; the oracle replays the identical gaps-and-islands
    construction in integer microseconds."""
    from sync_cosmos_db_spark.operators.behavioral import burst_collapse

    ev = load_table(spark, sf_dir, "events")
    kept = burst_collapse(ev, ["user_id", "event_type"], "ts",
                          "event_id", tolerance_seconds=300)
    totals = (ev.groupBy("event_type")
              .agg(F.count("*").cast("long").alias("n_events")))
    kept_c = (kept.groupBy("event_type")
              .agg(F.count("*").cast("long").alias("n_kept")))
    return (totals.join(kept_c, "event_type")
            .select("event_type", "n_events", "n_kept",
                    (F.col("n_events") - F.col("n_kept")).cast("long")
                    .alias("n_dropped")))


# ---------------------------------------------------------------------------
# X172 — session depth / bounce profile
# ---------------------------------------------------------------------------

@query(
    "session_depth_events",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS session_idx
      FROM marked),
    r AS (
      SELECT user_id, session_idx, event_type,
             row_number() OVER (PARTITION BY user_id, session_idx
                                ORDER BY ts, event_id) AS rn
      FROM s),
    depths AS (
      SELECT user_id, session_idx, count(*)::BIGINT AS depth
      FROM s GROUP BY 1, 2),
    per_sess AS (
      SELECT d.depth, r.event_type AS entry_type
      FROM depths d JOIN r
        ON r.user_id = d.user_id AND r.session_idx = d.session_idx
       AND r.rn = 1)
    SELECT entry_type, count(*)::BIGINT AS n_sessions,
           sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_bounce,
           floor(avg(CASE WHEN depth = 1 THEN 1.0 ELSE 0.0 END)
                 * 10000 + 0.5) / 10000 AS bounce_rate,
           floor(avg(depth) * 10000 + 0.5) / 10000 AS mean_depth,
           floor(quantile_cont(depth, 0.9) * 10000 + 0.5) / 10000
             AS p90_depth
    FROM per_sess GROUP BY 1
    """,
)
def session_depth_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X172 — session depth / bounce profile by entry event type
    (``behavioral.session_depth_profile``, 30-min gap): session
    count, bounce rate, mean and p90 depth per landing event type.
    The session collapse rides the sessionizer's (user, ts, id) sort;
    the oracle rebuilds the same sessions and elects the entry type
    with ``arg_min`` over the same (ts, id) order."""
    from sync_cosmos_db_spark.operators.behavioral import (
        session_depth_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    out = session_depth_profile(ev, gap_seconds=1800)
    return out.select("entry_type", "n_sessions", "n_bounce",
                      "bounce_rate", "mean_depth",
                      fround("p90_depth", 4).alias("p90_depth"))


# ---------------------------------------------------------------------------
# X173 — state-transition validity audit
# ---------------------------------------------------------------------------

_ALLOWED_TRANSITIONS = [
    ("signup", "view"), ("view", "view"), ("view", "click"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("purchase", "view"), ("error", "view"),
]


@query(
    "transition_audit_events",
    """
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS f,
             event_type AS t
      FROM events)
    SELECT f AS from_state, t AS to_state, count(*)::BIGINT AS n,
           concat(f, ' ', t) IN ('signup view', 'view view',
                                 'view click', 'click view',
                                 'click click', 'click purchase',
                                 'purchase view', 'error view')
             AS is_allowed
    FROM pairs WHERE f IS NOT NULL GROUP BY 1, 2
    """,
)
def transition_audit_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X173 — transition validity audit
    (``behavioral.transition_validity_audit``): every observed
    per-user (from, to) event transition counted and flagged against
    the allowed state machine — sequence-level referential integrity
    (a purchase with no preceding click is a tracking bug or fraud).
    One lag window + one pair count; |types|² output rows."""
    from sync_cosmos_db_spark.operators.behavioral import (
        transition_validity_audit,
    )

    ev = load_table(spark, sf_dir, "events")
    return transition_validity_audit(ev, _ALLOWED_TRANSITIONS)


# ---------------------------------------------------------------------------
# X174 — inactivity / churn profile
# ---------------------------------------------------------------------------

@query(
    "inactivity_profile_events",
    """
    WITH last AS (SELECT user_id, max(ts) AS l FROM events GROUP BY 1),
    hwm AS (SELECT max(ts) AS h FROM events),
    g AS (SELECT floor((epoch_us(h) - epoch_us(l))
                       / 86400000000)::BIGINT AS gap
          FROM last, hwm)
    SELECT CASE WHEN gap <= 1 THEN '<=1d'
                WHEN gap <= 7 THEN '<=7d'
                ELSE '>7d' END AS bucket,
           count(*)::BIGINT AS n_keys,
           min(gap) AS min_gap_days, max(gap) AS max_gap_days
    FROM g GROUP BY 1
    """,
)
def inactivity_profile_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X174 — churn / inactivity profile
    (``behavioral.inactivity_profile``, bands [1, 7] days): users
    bucketed by days between their last event and the corpus
    high-water mark — the lifecycle segmentation (active / lapsed /
    churned).  One user-keyed max + a broadcast 1-row high-water
    mark (the X94 TTL shape)."""
    from sync_cosmos_db_spark.operators.behavioral import (
        inactivity_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return inactivity_profile(ev, [1, 7])


# ---------------------------------------------------------------------------
# X175 — weight-of-evidence encoding
# ---------------------------------------------------------------------------

@query(
    "woe_orderpriority_returned",
    """
    WITH per_cat AS (
      SELECT o_orderpriority AS category, count(*)::BIGINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
               AS n_good
      FROM orders GROUP BY 1),
    wc AS (SELECT *, (n - n_good)::BIGINT AS n_bad FROM per_cat),
    tot AS (SELECT sum(n_good) AS gt, sum(n_bad) AS bt FROM wc),
    j AS (SELECT wc.*, (n_good + 0.5) / (gt + 1.0) AS gs,
                 (n_bad + 0.5) / (bt + 1.0) AS bs
          FROM wc, tot)
    SELECT category, n, n_good, n_bad,
           floor(ln(gs / bs) * 1000000 + 0.5) / 1000000 AS woe,
           floor((gs - bs) * ln(gs / bs) * 1000000 + 0.5) / 1000000
             AS iv_contrib
    FROM j
    """,
)
def woe_orderpriority_returned(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X175 — weight-of-evidence encoding
    (``profiling.woe_encoding``): WOE and information-value
    contribution of ``o_orderpriority`` for predicting finalized
    orders (``o_orderstatus = 'F'``), Laplace-smoothed — the
    log-odds supervised encoder beside the X127 m-estimate mean
    encoder.  One category aggregate + a broadcast 1-row totals
    crossJoin (the X73 chi-square shape)."""
    from sync_cosmos_db_spark.operators.profiling import woe_encoding

    orders = load_table(spark, sf_dir, "orders")
    return woe_encoding(orders, "o_orderpriority",
                        (F.col("o_orderstatus") == "F").cast("long"))


# ---------------------------------------------------------------------------
# X176 — Jaro-Winkler fuzzy linkage
# ---------------------------------------------------------------------------

@query(
    "jaro_winkler_customers",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           floor(jaro_winkler_similarity(a.c_name, b.c_name)
                 * 1000000 + 0.5) / 1000000 AS sim
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= 0.962
    """,
)
def jaro_winkler_customers(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X176 — Jaro-Winkler fuzzy self-join
    (``linkage.jaro_winkler_join``): same-nation customer-name pairs
    with JW similarity >= 0.962 — the transposition-tolerant,
    prefix-boosted name matcher (TPC-H names share the 9-char
    ``Customer#`` prefix, so this corpus is exactly the adversarial
    shared-prefix shape X119 measured; the block + high threshold is
    the operator's declared contract, mirrored in the oracle).  The
    Python scorer is verified bit-identical to DuckDB's
    ``jaro_winkler_similarity`` on 8,000 randomized pairs."""
    from sync_cosmos_db_spark.operators.linkage import jaro_winkler_join

    cust = load_table(spark, sf_dir, "customer")
    return jaro_winkler_join(cust, "c_custkey", "c_name",
                             ["c_nationkey"], threshold=0.962)


# ---------------------------------------------------------------------------
# X177 — perceptual image dedup (dHash) — rows-only: PNG decode +
# bit-level hashing has no SQL twin; goldens in tests/test_r7_ops.py
# ---------------------------------------------------------------------------

@query("dhash_image_clusters")
def dhash_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177 — perceptual near-duplicate image clustering: synthesize
    one REAL gradient PNG per document with the pattern seed
    ``doc_id % 40`` (so exact cluster sizes are deterministic),
    dHash-fingerprint each through the real stdlib decoder
    (``multimodal.dhash_png_assets``), and report the cluster-size
    histogram ``(cluster_size, n_clusters)`` — the image twin of
    X1's exact-hash text dedup.  All per-asset work is one
    Arrow-batched ``mapInPandas`` (encode) + one (decode+hash);
    the only shuffles key on the 64-bit fingerprint.

    The compact documents scan is ``spread()`` first (r12 verdict
    item 2 audit): both Python stages otherwise inherit the sf0.1
    file's 1-2 scan partitions and the whole encode+decode+hash
    pipeline ran on ONE task of 32 — measured 13.1 s → 1.6 s.  At
    100 TB the asset scan already yields ≥ cores splits and spread
    is a no-op."""
    from sync_cosmos_db_spark.operators.partitioning import spread
    from sync_cosmos_db_spark.operators.multimodal import (
        dhash_png_assets, png_encode,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("asset_id"),
            (F.col("doc_id") % 40).alias("seed")),
        ["asset_id"])

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for a, s in zip(pdf["asset_id"], pdf["seed"]):
                w, h = 24, 16
                px = bytes(((x * 7 + y * 13 + int(s) * 31 + c * 5) % 256)
                           for y in range(h) for x in range(w)
                           for c in range(3))
                out.append((a, png_encode(w, h, (0, 0, 0), pixels=px)))
            yield pd.DataFrame(out, columns=["asset_id", "content"])

    assets = docs.mapInPandas(synth, "asset_id long, content binary")
    hashed = dhash_png_assets(assets).filter(F.col("decode_ok"))
    clusters = (hashed.groupBy("dhash")
                .agg(F.count("*").cast("long").alias("cluster_size")))
    return (clusters.groupBy("cluster_size")
            .agg(F.count("*").cast("long").alias("n_clusters"))
            .orderBy("cluster_size"))


# ===========================================================================
# merged from queries_r7c.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (second batch) X178-X181: Cohen's kappa
inter-annotator agreement, exact distributed ROC-AUC, Hill tail-index
estimator, and the seasonal-naive forecast error baseline (MASE) —
the model/label EVALUATION corner of the pipeline toolkit (calibration
X147 and rank-sum X136 existed; discrimination, label QC, tail
behavior, and forecast baselines did not).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X178 — Cohen's kappa
# ---------------------------------------------------------------------------

@query(
    "cohens_kappa_events",
    """
    WITH lab AS (
      SELECT event_type AS a,
             CASE WHEN translate(substr(sha256(event_id::VARCHAR
                                               || ':anno'), 1, 6),
                                 'abcdef', '012345')::BIGINT % 10 = 0
                  THEN 'view' ELSE event_type END AS b
      FROM events),
    conf AS (SELECT a, b, count(*)::BIGINT AS c FROM lab GROUP BY 1, 2),
    tot AS (SELECT sum(c) AS n,
                   sum(CASE WHEN a = b THEN c ELSE 0 END) AS agree
            FROM conf),
    ma AS (SELECT a, sum(c) AS na FROM conf GROUP BY 1),
    mb AS (SELECT b AS a, sum(c) AS nb FROM conf GROUP BY 1),
    pe AS (SELECT sum(na::DOUBLE * nb) AS pe_num
           FROM ma JOIN mb USING (a))
    SELECT n::BIGINT AS n,
           floor(agree / n * 1000000 + 0.5) / 1000000 AS p_o,
           floor(pe_num / (n::DOUBLE * n) * 1000000 + 0.5) / 1000000
             AS p_e,
           floor((agree / n - pe_num / (n::DOUBLE * n))
                 / (1 - pe_num / (n::DOUBLE * n)) * 1000000 + 0.5)
             / 1000000 AS kappa
    FROM tot, pe
    """,
)
def cohens_kappa_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178 — Cohen's kappa (``profiling.cohens_kappa``) between the
    event-type column and a deterministically perturbed second
    "annotator" (every 10th event by sha2 bucket relabeled 'view' —
    the same cross-engine hash_bucket trick every split uses, so both
    engines build the identical noisy labeler): the chance-corrected
    agreement gate a labeling pipeline runs before trusting
    annotations.  |labels|²-sized aggregates only."""
    from sync_cosmos_db_spark.operators.curation import hash_bucket
    from sync_cosmos_db_spark.operators.profiling import cohens_kappa

    ev = load_table(spark, sf_dir, "events")
    lab = ev.select(
        F.col("event_type").alias("a"),
        F.when(hash_bucket("event_id", 10, "anno") == 0, "view")
        .otherwise(F.col("event_type")).alias("b"))
    return cohens_kappa(lab, "a", "b")


# ---------------------------------------------------------------------------
# X179 — ROC-AUC
# ---------------------------------------------------------------------------

@query(
    "roc_auc_orders",
    """
    WITH sc AS (
      SELECT o_totalprice::DOUBLE AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    g AS (SELECT s, count(*)::BIGINT AS n, sum(y)::BIGINT AS np
          FROM sc GROUP BY 1),
    o AS (SELECT s, n, np,
                 coalesce(sum(n) OVER (ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS off
          FROM g),
    agg AS (SELECT sum(np * (off + (n + 1) / 2.0)) AS rank_pos,
                   sum(np)::BIGINT AS n_pos,
                   sum(n - np)::BIGINT AS n_neg
            FROM o)
    SELECT n_pos, n_neg,
           floor((rank_pos - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos::DOUBLE * n_neg) * 1000000 + 0.5) / 1000000
             AS auc
    FROM agg
    """,
)
def roc_auc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179 — exact ROC-AUC (``profiling.roc_auc``) of order price as
    a score for the finalized flag: the Mann-Whitney rank formula
    with midrank ties, ranks produced by the X11 two-phase
    distributed scan (NO single-partition window — the X151 lesson
    applied at birth; the oracle's global cumulative window is the
    luxury only the 15k-row sf0.01 table affords)."""
    from sync_cosmos_db_spark.operators.profiling import roc_auc

    orders = load_table(spark, sf_dir, "orders")
    return roc_auc(orders, "o_totalprice",
                   (F.col("o_orderstatus") == "F").cast("long"))


# ---------------------------------------------------------------------------
# X180 — Hill tail index
# ---------------------------------------------------------------------------

@query(
    "hill_tail_orders",
    """
    WITH d AS (SELECT o_orderpriority AS g, o_totalprice::DOUBLE AS v
               FROM orders WHERE o_totalprice > 0),
    top AS (SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v DESC)
                     AS rn
            FROM d),
    k1 AS (SELECT g, v AS x_k1 FROM top WHERE rn = 101)
    SELECT t.g AS o_orderpriority, count(*)::BIGINT AS k_used,
           max(k1.x_k1) AS x_k1,
           floor(1.0 / avg(ln(t.v / k1.x_k1)) * 10000 + 0.5) / 10000
             AS alpha
    FROM top t JOIN k1 ON k1.g = t.g
    WHERE t.rn <= 100
    GROUP BY 1
    """,
)
def hill_tail_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180 — Hill tail-index estimator
    (``profiling.hill_tail_index``, k=100) of order totals per
    priority class: alpha near or below 2 flags infinite-variance
    heavy tails (means and shuffle-size estimates stop behaving) —
    the rank-domain sibling of the X168 Zipf slope.  Per-group
    descending rank capped by WindowGroupLimit at k+1 rows, then one
    conditional aggregate."""
    from sync_cosmos_db_spark.operators.profiling import hill_tail_index

    orders = load_table(spark, sf_dir, "orders")
    return hill_tail_index(orders, "o_orderpriority", "o_totalprice",
                           k=100)


# ---------------------------------------------------------------------------
# X181 — seasonal-naive forecast baseline (MASE)
# ---------------------------------------------------------------------------

@query(
    "mase_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate AS d, sum(o_totalprice) AS r
      FROM orders GROUP BY 1),
    e AS (SELECT abs(r - lag(r, 1) OVER (ORDER BY d)) AS e1,
                 abs(r - lag(r, 7) OVER (ORDER BY d)) AS es
          FROM daily)
    SELECT count(*)::BIGINT AS n_days,
           floor(avg(e1) * 10000 + 0.5) / 10000 AS mae_naive,
           floor(avg(es) * 10000 + 0.5) / 10000 AS mae_seasonal,
           floor(avg(es) / avg(e1) * 10000 + 0.5) / 10000
             AS mase_ratio
    FROM e
    """,
)
def mase_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181 — seasonal-naive forecast error baseline
    (``temporal.mase_profile``, season=7) on daily order revenue:
    MAE of the lag-1 naive vs the lag-7 seasonal naive and their
    ratio — the scale-free bar any forecast must beat.  The corpus
    collapses to O(days) rows before any window (the X121/X135
    period-collapse shape); the single tiny-series sort is on the
    collapsed table, never the fact table."""
    from sync_cosmos_db_spark.operators.temporal import mase_profile

    orders = load_table(spark, sf_dir, "orders")
    return mase_profile(orders, "o_orderdate", "o_totalprice",
                        season=7)


# ===========================================================================
# merged from queries_r7d.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (third batch) X182-X184: NDCG@k + MRR,
average precision, and the Murphy Brier decomposition — completing
the evaluation corner begun by X178-X181 (ranking metrics for the
retrieval stack, the priced summary of the X147 reliability diagram).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X182 — NDCG@k + MRR
# ---------------------------------------------------------------------------

@query(
    "ndcg_mrr_customers",
    """
    WITH d AS (
      SELECT c_nationkey AS g, c_acctbal AS s, c_custkey AS i,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END
               AS r
      FROM customer),
    ranked AS (
      SELECT g, r,
             row_number() OVER (PARTITION BY g ORDER BY s DESC, i)
               AS rn,
             row_number() OVER (PARTITION BY g ORDER BY r DESC, i)
               AS ri
      FROM d),
    agg AS (
      SELECT g, count(*)::BIGINT AS n_items,
             sum(CASE WHEN r > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel,
             sum(CASE WHEN rn <= 10 THEN r / log2(rn + 1)
                      ELSE 0 END) AS dcg,
             sum(CASE WHEN ri <= 10 THEN r / log2(ri + 1)
                      ELSE 0 END) AS idcg,
             min(CASE WHEN r > 0 THEN rn END) AS fr
      FROM ranked GROUP BY 1)
    SELECT g AS c_nationkey, n_items, n_rel,
           floor(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0 END
                 * 1000000 + 0.5) / 1000000 AS ndcg_k,
           floor(coalesce(1.0 / fr, 0) * 1000000 + 0.5) / 1000000
             AS rr
    FROM agg
    """,
)
def ndcg_mrr_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182 — NDCG@10 + MRR per nation (``retrieval.ndcg_mrr``):
    customers ranked by account balance, relevance = BUILDING
    segment membership — the ranking-eval readout (does the score
    order surface the relevant items early, and how soon does the
    first one appear).  Two rank windows on one shuffle, one
    aggregate; zero-relevant groups report 0, not an error."""
    from sync_cosmos_db_spark.operators.retrieval import ndcg_mrr

    cust = load_table(spark, sf_dir, "customer")
    return ndcg_mrr(cust, "c_nationkey", "c_acctbal",
                    (F.col("c_mktsegment") == "BUILDING").cast("double"),
                    "c_custkey", k=10)


# ---------------------------------------------------------------------------
# X183 — average precision
# ---------------------------------------------------------------------------

@query(
    "avg_precision_customers",
    """
    WITH d AS (
      SELECT c_nationkey AS g, c_acctbal AS s, c_custkey AS i,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS r
      FROM customer),
    ranked AS (
      SELECT g, r,
             row_number() OVER w AS rn,
             sum(r) OVER (PARTITION BY g ORDER BY s DESC, i
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cp
      FROM d WINDOW w AS (PARTITION BY g ORDER BY s DESC, i)),
    agg AS (
      SELECT g, count(*)::BIGINT AS n_items,
             sum(r)::BIGINT AS n_rel,
             sum(CASE WHEN r > 0 THEN cp::DOUBLE / rn END) AS psum
      FROM ranked GROUP BY 1)
    SELECT g AS c_nationkey, n_items, n_rel,
           floor(CASE WHEN n_rel > 0 THEN psum / n_rel ELSE 0 END
                 * 1000000 + 0.5) / 1000000 AS ap
    FROM agg
    """,
)
def avg_precision_customers(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X183 — average precision per nation
    (``retrieval.average_precision``) on the same
    balance-ranks-BUILDING setup as X182: the PR-curve area at
    observed operating points — prevalence-sensitive where ROC-AUC
    (X179) is prevalence-blind, i.e. the metric that actually moves
    in the rare-positive retrieval regime.  Rank + cumulative
    windows share ONE shuffle."""
    from sync_cosmos_db_spark.operators.retrieval import (
        average_precision,
    )

    cust = load_table(spark, sf_dir, "customer")
    return average_precision(
        cust, "c_nationkey", "c_acctbal",
        (F.col("c_mktsegment") == "BUILDING").cast("long"),
        "c_custkey")


# ---------------------------------------------------------------------------
# X184 — Brier decomposition
# ---------------------------------------------------------------------------

@query(
    "brier_decomposition_events",
    """
    WITH sc AS (
      SELECT translate(substr(sha256(event_id::VARCHAR || ':cal'),
                              1, 6), 'abcdef', '012345')::BIGINT
               % 1000 / 1000.0 AS s,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
               AS y
      FROM events),
    bins AS (
      SELECT least(floor(s * 10), 9)::BIGINT AS b,
             count(*)::DOUBLE AS nb, avg(s) AS pb, avg(y) AS ob
      FROM sc GROUP BY 1),
    gl AS (SELECT count(*)::DOUBLE AS n, avg(y) AS obar,
                  avg((s - y) * (s - y)) AS brier
           FROM sc)
    SELECT n::BIGINT AS n,
           floor(brier * 1000000 + 0.5) / 1000000 AS brier,
           floor(sum(nb * (pb - ob) * (pb - ob)) / n
                 * 1000000 + 0.5) / 1000000 AS reliability,
           floor(sum(nb * (ob - obar) * (ob - obar)) / n
                 * 1000000 + 0.5) / 1000000 AS resolution,
           floor(obar * (1 - obar) * 1000000 + 0.5) / 1000000
             AS uncertainty
    FROM bins, gl
    GROUP BY n, brier, obar
    """,
)
def brier_decomposition_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X184 — Murphy decomposition of the Brier score
    (``profiling.brier_decomposition``) on the SAME deterministic
    sha2-uniform score and purchase outcome as the X147 reliability
    bins: X147 shows where calibration fails, this prices it into
    reliability − resolution + uncertainty plus the exact Brier.
    One scan → 10-row bin table + broadcast 1-row global."""
    from sync_cosmos_db_spark.operators.profiling import (
        brier_decomposition,
    )

    ev = load_table(spark, sf_dir, "events")
    score = (F.pmod(
        F.translate(F.substring(
            F.sha2(F.concat(F.col("event_id").cast("string"),
                            F.lit(":cal")), 256), 1, 6),
            "abcdef", "012345").cast("bigint"), F.lit(1000)) / 1000.0)
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    d = ev.select(score.alias("s"), y.alias("y"))
    return brier_decomposition(d, "s", "y", n_bins=10)


# ===========================================================================
# merged from queries_r7e.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (fourth batch) X185-X186: accent-fold
normalization audit (the linkage-blocking companion of the X167 NFC
audit) and position-based (U-shaped) multi-touch attribution (the
multi-touch companion of X84's last-touch model).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X185 — accent-fold audit
# ---------------------------------------------------------------------------

@query(
    "accent_fold_documents",
    """
    WITH aug AS (
      SELECT source,
             text || CASE WHEN doc_id % 5 = 0
                          THEN ' caf' || chr(233) || ' na' || chr(239)
                               || 've ' || chr(197) || 'ngstr'
                               || chr(246) || 'm'
                          ELSE '' END
                  || CASE WHEN doc_id % 9 = 0
                          THEN ' e' || chr(769) || chr(770)
                          ELSE '' END AS text
      FROM documents),
    d AS (SELECT source, text, strip_accents(text) AS folded FROM aug)
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN folded <> text THEN 1 ELSE 0 END)::BIGINT
             AS n_changed,
           sum(length(text))::BIGINT AS chars_before,
           sum(length(folded))::BIGINT AS chars_after
    FROM d GROUP BY 1
    """,
)
def accent_fold_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X185 — accent-fold audit (``text.accent_fold_audit``) with
    deterministic diacritic injections (every 5th doc gains
    precomposed é/ï/Å/ö, every 9th a double-combining-mark 'e') so
    the ASCII corpus exercises both precomposed and combining paths:
    Python NFD-strip-Mn vs DuckDB's native ``strip_accents`` — two
    independent implementations hash-agreeing, the same
    differential-oracle pattern as X167/X176."""
    from sync_cosmos_db_spark.operators.text import accent_fold_audit

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" caf\u00e9 na\u00efve \u00c5ngstr\u00f6m"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit(" e\u0301\u0302")).otherwise(F.lit(""))))
    return accent_fold_audit(aug, "source", "text")


# ---------------------------------------------------------------------------
# X186 — position-based multi-touch attribution
# ---------------------------------------------------------------------------

@query(
    "position_attribution_events",
    """
    WITH fc AS (
      SELECT user_id, min(ts) AS conv_ts FROM events
      WHERE event_type = 'purchase' GROUP BY 1),
    t AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn,
             count(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN fc ON fc.user_id = e.user_id
      WHERE e.event_type <> 'purchase' AND e.ts < fc.conv_ts)
    SELECT event_type AS channel, count(*)::BIGINT AS n_touches,
           floor(sum(CASE WHEN n = 1 THEN 1.0
                          WHEN n = 2 THEN 0.5
                          WHEN rn = 1 THEN 0.4
                          WHEN rn = n THEN 0.4
                          ELSE 0.2 / (n - 2) END) * 10000 + 0.5)
             / 10000 AS credit
    FROM t GROUP BY 1
    """,
)
def position_attribution_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X186 — position-based 40/20/40 multi-touch attribution
    (``behavioral.position_attribution``) of purchases: first and
    last pre-conversion touches get 0.4 each, middles split 0.2,
    per-user credit sums to exactly 1 — the U-shaped model beside
    X84's last-touch.  Two shrinking user-keyed hops + one rank
    window over the (already small) touch table."""
    from sync_cosmos_db_spark.operators.behavioral import (
        position_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return position_attribution(ev, "purchase")


# ===========================================================================
# merged from queries_r7f.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (fifth batch) X187-X190: cohort
retention triangle, per-group Spearman rank correlation, precision/
recall threshold sweep, and linear-interpolation gap-fill — the
product-analytics retention matrix, the robust rank-domain sibling of
X29's Pearson correlation, the operating-curve table that makes
X179/X183's single-number metrics deployable, and the
continuous-measure sibling of X37's LOCF fill.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fround, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X187 — cohort retention triangle
# ---------------------------------------------------------------------------

@query(
    "cohort_retention_events",
    """
    WITH f AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cm
      FROM events GROUP BY 1),
    a AS (
      SELECT DISTINCT e.user_id, f.cm,
             date_diff('month', f.cm, date_trunc('month', e.ts)) AS off
      FROM events e JOIN f USING (user_id)),
    t AS (SELECT cm, off, count(*)::BIGINT AS n_active
          FROM a GROUP BY 1, 2),
    s AS (SELECT cm, off, n_active,
                 max(CASE WHEN off = 0 THEN n_active END)
                   OVER (PARTITION BY cm) AS cohort_size
          FROM t)
    SELECT cm::DATE AS cohort_month, off AS month_offset, n_active,
           cohort_size,
           floor(n_active::DOUBLE / cohort_size * 10000 + 0.5) / 10000
             AS retention
    FROM s
    """,
)
def cohort_retention_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X187 — cohort retention triangle
    (``behavioral.cohort_retention_monthly``): users cohorted by first-event
    month, per-(cohort, month-offset) distinct-active counts and
    retention share — one user-keyed aggregate, one user-keyed join +
    distinct on the same partitioning, then a window over the tiny
    months×months triangle."""
    from sync_cosmos_db_spark.operators.behavioral import (
        cohort_retention_monthly,
    )

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention_monthly(ev, "user_id", "ts")


# ---------------------------------------------------------------------------
# X188 — Spearman rank correlation
# ---------------------------------------------------------------------------

@query(
    "spearman_lineitem_price_discount",
    """
    WITH r AS (
      SELECT l_returnflag AS g,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_returnflag,
                                 l_extendedprice) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_discount)
               + (count(*) OVER (PARTITION BY l_returnflag,
                                 l_discount) - 1) / 2.0 AS ry
      FROM lineitem),
    a AS (SELECT g, count(*)::DOUBLE AS n,
                 sum(rx) AS sx, sum(ry) AS sy,
                 sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                 sum(rx * ry) AS sxy
          FROM r GROUP BY 1)
    SELECT g, n::BIGINT AS n,
           CASE WHEN sqrt((n * sxx - sx * sx)
                          * (n * syy - sy * sy)) > 0
                THEN floor((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx)
                                  * (n * syy - sy * sy))
                           * 10000 + 0.5) / 10000
           END AS rho
    FROM a
    """,
)
def spearman_lineitem_price_discount(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """X188 — per-returnflag Spearman correlation of extended price
    vs discount (``profiling.spearman_corr``): midrank tie handling
    (discount has only 11 distinct values — the tie math IS the
    test), Pearson closed form on the ranks.  Midranks are integers
    or halves, so the sufficient statistics are exact in doubles at
    sweep scale and both engines agree bit-for-bit."""
    from sync_cosmos_db_spark.operators.profiling import spearman_corr

    li = load_table(spark, sf_dir, "lineitem")
    return spearman_corr(
        li.select(F.col("l_returnflag").alias("g"),
                  "l_extendedprice", "l_discount"),
        "g", "l_extendedprice", "l_discount")


# ---------------------------------------------------------------------------
# X189 — precision/recall threshold sweep
# ---------------------------------------------------------------------------

@query(
    "pr_threshold_sweep_events",
    """
    WITH sc AS (
      SELECT (translate(substr(sha256(event_id::VARCHAR || ':pr'),
                               1, 6), 'abcdef', '012345')::BIGINT
                % 1000 / 1000.0
              + CASE WHEN event_type = 'purchase'
                     THEN 1.0 ELSE 0.0 END) / 2 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    b AS (SELECT floor(s * 100)::BIGINT AS b,
                 sum(y)::BIGINT AS npos,
                 sum(1 - y)::BIGINT AS nneg
          FROM sc GROUP BY 1),
    g AS (SELECT unnest(generate_series(5, 95, 5))::BIGINT
            AS threshold_pct),
    a AS (SELECT threshold_pct,
                 sum(CASE WHEN b.b >= threshold_pct
                          THEN npos ELSE 0 END)::BIGINT AS tp,
                 sum(CASE WHEN b.b >= threshold_pct
                          THEN nneg ELSE 0 END)::BIGINT AS fp,
                 sum(CASE WHEN b.b < threshold_pct
                          THEN npos ELSE 0 END)::BIGINT AS fn
          FROM b, g GROUP BY 1)
    SELECT threshold_pct, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN floor(tp::DOUBLE / (tp + fp) * 1000000 + 0.5)
                     / 1000000 END AS "precision",
           CASE WHEN tp + fn > 0
                THEN floor(tp::DOUBLE / (tp + fn) * 1000000 + 0.5)
                     / 1000000 END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN floor(2.0 * tp / (2 * tp + fp + fn)
                           * 1000000 + 0.5) / 1000000 END AS f1
    FROM a
    """,
)
def pr_threshold_sweep_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X189 — precision/recall/F1 threshold sweep
    (``profiling.pr_threshold_sweep``) on a deterministic
    sha2-uniform score MIXED with the purchase outcome
    (``s = (u + y) / 2`` — positives live in [0.5, 1), negatives in
    [0, 0.5), so the sweep actually sweeps through both separable and
    overlapping regimes across the grid).  One fact-table scan into a
    ≤101-row bin table; the 19-threshold grid joins it on a derived
    constant key (BroadcastHashJoin)."""
    from sync_cosmos_db_spark.operators.profiling import (
        pr_threshold_sweep,
    )

    ev = load_table(spark, sf_dir, "events")
    u = (F.pmod(
        F.translate(F.substring(
            F.sha2(F.concat(F.col("event_id").cast("string"),
                            F.lit(":pr")), 256), 1, 6),
            "abcdef", "012345").cast("bigint"), F.lit(1000)) / 1000.0)
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    d = ev.select(((u + y) / 2).alias("s"), y.cast("int").alias("y"))
    return pr_threshold_sweep(d, "s", "y")


# ---------------------------------------------------------------------------
# X190 — linear-interpolation gap-fill
# ---------------------------------------------------------------------------

@query(
    "interp_daily_order_revenue",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) / 100.0 AS rev
      FROM orders WHERE o_orderkey % 50 = 0 GROUP BY prio, d),
    bounds AS (SELECT prio, min(d) AS lo, max(d) AS hi
               FROM daily GROUP BY prio),
    spine AS (SELECT prio,
                     unnest(generate_series(lo, hi, INTERVAL 1 day))
                       AS ts
              FROM bounds),
    sp AS (SELECT prio, ts::DATE AS d FROM spine),
    f AS (
      SELECT sp.prio, sp.d, daily.rev,
             last_value(daily.rev IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN daily.rev IS NOT NULL
                             THEN sp.d END IGNORE NULLS)
               OVER wb AS pt,
             first_value(daily.rev IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN daily.rev IS NOT NULL
                              THEN sp.d END IGNORE NULLS)
               OVER wf AS nt
      FROM sp LEFT JOIN daily USING (prio, d)
      WINDOW wb AS (PARTITION BY sp.prio ORDER BY sp.d
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW),
             wf AS (PARTITION BY sp.prio ORDER BY sp.d
                    ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING))
    SELECT prio, d, rev,
           floor((CASE WHEN rev IS NOT NULL THEN rev
                       ELSE pv + (nv - pv)
                            * (date_diff('day', pt, d)
                               / date_diff('day', pt, nt)) END)
                 * 10000 + 0.5) / 10000 AS rev_interp
    FROM f
    """,
)
def interp_daily_order_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X190 — daily revenue of the same sparse 1-in-50 order subset
    as X37, gap-filled with LINEAR interpolation
    (``temporal.gap_fill_interpolate``) instead of LOCF: gap rows get
    ``pv + (nv − pv) · Δdays/span`` between the bracketing observed
    days.  Observed values are rounded BEFORE the fill (the X37
    discipline) and the interpolation weight is a ratio of integer
    day counts, so both engines evaluate the identical IEEE
    expression tree."""
    from sync_cosmos_db_spark.operators.temporal import (
        gap_fill_interpolate,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.where(F.col("o_orderkey") % 50 == 0)
             .groupBy(F.col("o_orderpriority").alias("prio"),
                      F.to_date("o_orderdate").alias("d"))
             .agg(fsum("o_totalprice", 2).alias("rev")))
    return gap_fill_interpolate(daily, ["prio"], "d", "rev").select(
        "prio", "d", "rev", F.col("rev_interp"))


# ===========================================================================
# merged from queries_r7g.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (sixth batch) X191-X194: Kaplan–Meier
survival with right-censoring, ABC (Pareto) classification on a
two-phase distributed cumsum, lexical-diversity profile (TTR / hapax
/ Yule's K), and HITS hubs & authorities — the survival curve X174's
lifecycle bands approximate, the which-keys-carry-80% cut beside
X139's Gini, the spectrum summary beside X86's vocab growth, and the
bipartite mutual-reinforcement ranking beside X33's PageRank.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X191 — Kaplan–Meier survival curve
# ---------------------------------------------------------------------------

@query(
    "km_survival_users",
    """
    WITH pu AS (
      SELECT user_id, min(ts)::DATE AS f, max(ts)::DATE AS l
      FROM events GROUP BY 1),
    hw AS (SELECT max(ts)::DATE AS hwm FROM events),
    lab AS (
      SELECT date_diff('day', f, l) AS t_days,
             CASE WHEN date_diff('day', l, hwm) < 30
                  THEN 1 ELSE 0 END AS cens
      FROM pu, hw),
    day AS (SELECT t_days, sum(1 - cens)::BIGINT AS deaths,
                   sum(cens)::BIGINT AS censored
            FROM lab GROUP BY 1),
    r AS (
      SELECT t_days, deaths, censored,
             (sum(deaths + censored) OVER ()
              - coalesce(sum(deaths + censored) OVER (
                  ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0))::BIGINT AS at_risk
      FROM day),
    s AS (
      SELECT t_days, at_risk, deaths, censored,
             sum(CASE WHEN deaths < at_risk
                      THEN ln(1 - deaths::DOUBLE / at_risk)
                      ELSE 0 END)
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS lnsum,
             sum(CASE WHEN deaths >= at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS zeros
      FROM r)
    SELECT t_days, at_risk, deaths, censored,
           CASE WHEN zeros > 0 THEN 0.0
                ELSE floor(exp(lnsum) * 1000000 + 0.5) / 1000000
           END AS survival
    FROM s
    """,
)
def km_survival_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X191 — Kaplan–Meier survival over user event-span lifetimes
    (``behavioral.km_survival``): users whose last event is within
    30 days of the corpus high-water mark are right-censored.  One
    user-keyed aggregate + broadcast 1-row high-water mark, then two
    cumulative windows over the O(days) collapsed survival table."""
    from sync_cosmos_db_spark.operators.behavioral import km_survival

    ev = load_table(spark, sf_dir, "events")
    return km_survival(ev, "user_id", "ts", censor_days=30)


# ---------------------------------------------------------------------------
# X192 — ABC (Pareto) classification
# ---------------------------------------------------------------------------

@query(
    "abc_parts_revenue",
    """
    WITH pr AS (
      SELECT l_partkey AS k,
             sum(floor(l_extendedprice * 100 + 0.5)::BIGINT) AS c
      FROM lineitem GROUP BY 1),
    t AS (SELECT sum(c)::BIGINT AS total FROM pr),
    cum AS (
      SELECT k, c,
             sum(c) OVER (ORDER BY c DESC, k
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)::BIGINT AS cum
      FROM pr),
    cls AS (SELECT c,
                   CASE WHEN cum * 100 <= 80 * total THEN 'A'
                        WHEN cum * 100 <= 95 * total THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM cum, t)
    SELECT abc_class, count(*)::BIGINT AS n_keys,
           sum(c) / 100.0 AS value_sum,
           floor(sum(c)::DOUBLE / total * 1000000 + 0.5) / 1000000
             AS value_share
    FROM cls, t GROUP BY abc_class, total
    """,
)
def abc_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X192 — ABC classification of parts by lineitem revenue
    (``profiling.abc_classification``): per-part revenue snaps to
    integer cents BEFORE the scan, the global descending cumsum runs
    on the two-phase distributed index (the X151 lesson applied at
    birth), and the A/80 / B/95 boundaries compare integers — no
    float can flip a part's class between engines."""
    from sync_cosmos_db_spark.operators.profiling import (
        abc_classification,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pr = (li.groupBy(F.col("l_partkey").alias("k"))
          .agg(fsum("l_extendedprice", 2).alias("v")))
    return abc_classification(pr, "k", "v")


# ---------------------------------------------------------------------------
# X193 — lexical-diversity profile
# ---------------------------------------------------------------------------

@query(
    "lexical_profile_sources",
    """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents),
    c AS (SELECT g, tok, count(*)::BIGINT AS c FROM toks
          WHERE tok <> '' GROUP BY 1, 2),
    a AS (SELECT g, sum(c)::BIGINT AS n_tokens,
                 count(*)::BIGINT AS vocab,
                 sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS v1,
                 sum(c * c)::BIGINT AS c2
          FROM c GROUP BY 1)
    SELECT g AS source, n_tokens, vocab,
           floor(vocab::DOUBLE / n_tokens * 1000000 + 0.5) / 1000000
             AS ttr,
           floor(v1::DOUBLE / vocab * 1000000 + 0.5) / 1000000
             AS hapax_share,
           floor(10000.0 * (c2 - n_tokens) / n_tokens / n_tokens
                 * 1000000 + 0.5) / 1000000 AS yule_k
    FROM a
    """,
)
def lexical_profile_sources(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X193 — per-source lexical diversity
    (``text.lexical_profile``): TTR, hapax share, Yule's K from one
    (source, token) count aggregate + one source reduce; every
    sufficient statistic is an integer so the engines agree
    exactly."""
    from sync_cosmos_db_spark.operators.text import lexical_profile

    docs = load_table(spark, sf_dir, "documents")
    return lexical_profile(docs, "source", "text")


# ---------------------------------------------------------------------------
# X194 — HITS hubs & authorities
# ---------------------------------------------------------------------------

@query(
    "hits_customer_supplier",
    """
    WITH e AS (
      SELECT o.o_custkey AS s, l.l_suppkey AS d,
             count(*)::DOUBLE AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    a0 AS (SELECT DISTINCT d AS node, 1.0 AS a FROM e),
    h1 AS (SELECT e.s AS node, sum(e.w * a0.a) AS h
           FROM e JOIN a0 ON a0.node = e.d GROUP BY 1),
    a1 AS (SELECT e.d AS node, sum(e.w * h1.h) AS a
           FROM e JOIN h1 ON h1.node = e.s GROUP BY 1),
    h2 AS (SELECT e.s AS node, sum(e.w * a1.a) AS h
           FROM e JOIN a1 ON a1.node = e.d GROUP BY 1),
    a2 AS (SELECT e.d AS node, sum(e.w * h2.h) AS a
           FROM e JOIN h2 ON h2.node = e.s GROUP BY 1),
    h3 AS (SELECT e.s AS node, sum(e.w * a2.a) AS h
           FROM e JOIN a2 ON a2.node = e.d GROUP BY 1),
    a3 AS (SELECT e.d AS node, sum(e.w * h3.h) AS a
           FROM e JOIN h3 ON h3.node = e.s GROUP BY 1),
    ht AS (SELECT sum(h) AS t FROM h3),
    at AS (SELECT sum(a) AS t FROM a3)
    SELECT 'hub' AS kind, node,
           floor(h / t * 1000000000 + 0.5) / 1000000000 AS score
    FROM h3, ht
    UNION ALL
    SELECT 'authority' AS kind, node,
           floor(a / t * 1000000000 + 0.5) / 1000000000 AS score
    FROM a3, at
    """,
)
def hits_customer_supplier(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X194 — HITS on the directed customer→supplier trade graph
    (``graph.hits_scores``, 3 iterations): hub customers buy from
    authoritative suppliers and vice versa.  Two edge-keyed
    join+aggregate passes per iteration (the X33 discipline);
    normalization deferred to one final broadcast 1-row total.
    Every intermediate score is integer-valued (weights are counts,
    a₀ = 1), so both engines' sums are exact at sweep scale."""
    from sync_cosmos_db_spark.operators.graph import hits_scores

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy(F.col("o_custkey").alias("src"),
                      F.col("l_suppkey").alias("dst"))
             .agg(F.count("*").alias("w")))
    return hits_scores(edges, "src", "dst", "w", iters=3)


# ===========================================================================
# merged from queries_r7h.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (seventh batch) X195-X198:
nearest-direction as-of join, trailing-window OLS slope,
missingness-pattern audit, and rendezvous (HRW) shard routing — the
bidirectional sibling of A1's backward as-of, the local-trend sibling
of X29/X92's whole-series fits, the co-missingness view per-column
null rates hide, and the stateless minimal-reshuffle router a 100 TB
ingest tier actually uses.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table

_7D_US = 7 * 86400 * 1_000_000


# ---------------------------------------------------------------------------
# X195 — nearest-direction as-of join
# ---------------------------------------------------------------------------

@query(
    "nearest_purchase_per_click",
    """
    WITH r0 AS (
      SELECT user_id, epoch_us(ts) AS rt, max(value) AS rv
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    l AS (SELECT event_id, user_id, epoch_us(ts) AS click_us
          FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT l.event_id, r0.rt, r0.rv,
             abs(l.click_us - r0.rt) AS gap,
             CASE WHEN r0.rt <= l.click_us THEN 0 ELSE 1 END AS dirn
      FROM l JOIN r0 USING (user_id)
      WHERE abs(l.click_us - r0.rt) <= 604800000000),
    pick AS (
      SELECT event_id, rt, rv, gap,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY gap, dirn, rt) AS rn
      FROM cand)
    SELECT l.event_id, l.user_id, l.click_us,
           p.rt AS matched_time, p.rv AS matched_value,
           p.gap AS gap
    FROM l LEFT JOIN pick p
      ON p.event_id = l.event_id AND p.rn = 1
    """,
)
def nearest_purchase_per_click(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X195 — for every click, the nearest purchase by the same user
    within ±7 days, either direction
    (``temporal.nearest_asof_join``): two union-sort as-of passes
    (backward + forward-on-negated-times), never a pairwise
    candidate join — the oracle IS the pairwise join, which is
    exactly what this operator avoids at scale.  Equidistant
    candidates break toward the earlier purchase."""
    from sync_cosmos_db_spark.operators.temporal import (
        nearest_asof_join,
    )

    ev = load_table(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_type") == "click")
            .select("event_id", "user_id",
                    F.unix_micros("ts").alias("click_us")))
    right = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", F.unix_micros("ts").alias("rt"),
                     "value"))
    return nearest_asof_join(left, right, "user_id", "click_us",
                             "rt", "value", _7D_US)


# ---------------------------------------------------------------------------
# X196 — trailing-window OLS slope
# ---------------------------------------------------------------------------

@query(
    "rolling_ols_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS y
      FROM orders GROUP BY 1, 2),
    x AS (SELECT prio, d,
                 date_diff('day', DATE '1992-01-01', d) AS xd, y
          FROM daily),
    w AS (SELECT prio, d,
                 count(*) OVER win AS n, sum(xd) OVER win AS sx,
                 sum(y) OVER win AS sy,
                 sum(xd * y) OVER win AS sxy,
                 sum(xd * xd) OVER win AS sxx
          FROM x
          WINDOW win AS (PARTITION BY prio ORDER BY xd
                         RANGE BETWEEN 27 PRECEDING
                         AND CURRENT ROW))
    SELECT prio, d, n::BIGINT AS n_days,
           CASE WHEN n * sxx - sx * sx > 0
                THEN floor((n * sxy - sx * sy)::DOUBLE
                           / (n * sxx - sx * sx) * 10000 + 0.5)
                     / 10000
           END AS slope
    FROM w
    """,
)
def rolling_ols_daily_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X196 — 28-day trailing OLS slope of daily revenue (in cents/
    day) per order priority (``temporal.rolling_ols_slope``): the
    RANGE frame on the rebased integer day index keeps the window
    calendar-correct across missing days, and integer cents keep
    the five windowed sums exact in both engines."""
    from sync_cosmos_db_spark.operators.temporal import (
        rolling_ols_slope,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")).alias("y")))
    return rolling_ols_slope(daily, "prio", "d", "y",
                             window_days=28)


# ---------------------------------------------------------------------------
# X197 — missingness-pattern audit
# ---------------------------------------------------------------------------

@query(
    "missingness_patterns_events",
    """
    WITH u AS (
      SELECT translate(substr(sha256(event_id::VARCHAR || ':m1'),
                              1, 3), 'abcdef', '012345')::BIGINT
               % 1000 / 1000.0 AS u1,
             translate(substr(sha256(event_id::VARCHAR || ':m2'),
                              1, 3), 'abcdef', '012345')::BIGINT
               % 1000 / 1000.0 AS u2,
             translate(substr(sha256(event_id::VARCHAR || ':m3'),
                              1, 3), 'abcdef', '012345')::BIGINT
               % 1000 / 1000.0 AS u3
      FROM events),
    m AS (
      SELECT (CASE WHEN u1 < 0.2 THEN '1' ELSE '0' END)
             || (CASE WHEN (u1 < 0.2 AND u2 < 0.5) OR u2 < 0.05
                      THEN '1' ELSE '0' END)
             || (CASE WHEN u3 < 0.1 THEN '1' ELSE '0' END)
               AS pattern
      FROM u),
    a AS (SELECT pattern, count(*)::BIGINT AS n_rows
          FROM m GROUP BY 1)
    SELECT pattern, n_rows,
           floor(n_rows::DOUBLE / sum(n_rows) OVER ()
                 * 1000000 + 0.5) / 1000000 AS share
    FROM a
    """,
)
def missingness_patterns_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X197 — missingness-pattern audit
    (``expectations.missingness_patterns``) over three event fields
    with DETERMINISTIC sha2-driven masking (the corpus is dense, so
    the mask supplies the nulls — the X184/X185 injection
    discipline): field 2's missingness is deliberately CORRELATED
    with field 1's (missing when u1<0.2 AND u2<0.5, plus a 5%
    independent floor), which is exactly the structure the pattern
    table exposes and per-column rates hide."""
    from sync_cosmos_db_spark.operators.expectations import (
        missingness_patterns,
    )

    ev = load_table(spark, sf_dir, "events")

    def u(salt):
        return (F.pmod(
            F.translate(F.substring(
                F.sha2(F.concat(F.col("event_id").cast("string"),
                                F.lit(salt)), 256), 1, 3),
                "abcdef", "012345").cast("bigint"),
            F.lit(1000)) / 1000.0)

    u1, u2, u3 = u(":m1"), u(":m2"), u(":m3")
    masked = ev.select(
        F.when(u1 < 0.2, F.lit(None)).otherwise(F.col("value"))
        .alias("f1"),
        F.when(((u1 < 0.2) & (u2 < 0.5)) | (u2 < 0.05), F.lit(None))
        .otherwise(F.col("props")).alias("f2"),
        F.when(u3 < 0.1, F.lit(None)).otherwise(F.col("user_id"))
        .alias("f3"))
    return missingness_patterns(masked, ["f1", "f2", "f3"])


# ---------------------------------------------------------------------------
# X198 — rendezvous shard routing
# ---------------------------------------------------------------------------

@query(
    "rendezvous_route_documents",
    """
    WITH g AS (SELECT unnest(generate_series(0, 8))::BIGINT AS shard),
    s AS (SELECT d.doc_id, g.shard,
                 translate(substr(sha256(d.doc_id::VARCHAR || ':'
                                         || g.shard::VARCHAR),
                                  1, 12),
                           'abcdef', '012345')::BIGINT AS sc
          FROM documents d, g),
    r1 AS (SELECT doc_id, shard,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY sc DESC, shard DESC)
                    AS rn
           FROM s WHERE shard < 8),
    r2 AS (SELECT doc_id, shard AS nxt,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY sc DESC, shard DESC)
                    AS rn
           FROM s),
    a AS (SELECT r1.doc_id, r1.shard, r2.nxt
          FROM r1 JOIN r2 USING (doc_id)
          WHERE r1.rn = 1 AND r2.rn = 1)
    SELECT shard, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN nxt = 8 THEN 1 ELSE 0 END)::BIGINT
             AS n_moving,
           floor(sum(CASE WHEN nxt = 8 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000
             AS move_share
    FROM a GROUP BY 1
    """,
)
def rendezvous_route_documents(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X198 — rendezvous-hash routing of documents onto 8 shards
    (``skew.rendezvous_route``) plus the add-a-shard reshuffle
    audit: every mover lands on the NEW shard only (~1/9 of the
    corpus), the property that makes HRW the router of choice over
    mod-N.  In-row argmax over (score, shard) structs, one
    shard-keyed aggregate, zero joins."""
    from sync_cosmos_db_spark.operators.skew import rendezvous_route

    docs = load_table(spark, sf_dir, "documents")
    return rendezvous_route(docs, "doc_id", 8)


# ===========================================================================
# merged from queries_r7i.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (eighth batch) X199-X202: exact
equi-depth histogram, star-schema dimension build with deterministic
surrogate keys, group medoid election, and new-vs-returning DAU
decomposition — the order-statistic complement of X87's equi-width
bins, the warehouse load step, the typical-member picker, and the
growth-accounting view behind every DAU chart.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X199 — exact equi-depth histogram
# ---------------------------------------------------------------------------

@query(
    "equi_depth_orders_price",
    """
    WITH idx AS (
      SELECT o_totalprice AS v, o_orderkey AS tb,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
               AS gi,
             count(*) OVER () AS n
      FROM orders)
    SELECT (gi - 1) * 10 // n AS bucket,
           count(*)::BIGINT AS n_rows, min(v) AS lo, max(v) AS hi
    FROM idx GROUP BY 1
    """,
)
def equi_depth_orders_price(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X199 — 10-bucket exact equi-depth histogram of order prices
    (``profiling.equi_depth_histogram``): global ranks from the X11
    two-phase scan, bucket id by INTEGER division — both engines
    place every row identically; boundaries are true order
    statistics, not `approx_percentile` estimates."""
    from sync_cosmos_db_spark.operators.profiling import (
        equi_depth_histogram,
    )

    orders = load_table(spark, sf_dir, "orders")
    return equi_depth_histogram(
        orders.select(F.col("o_totalprice").alias("v"),
                      F.col("o_orderkey").alias("tb")),
        "v", "tb", k=10)


# ---------------------------------------------------------------------------
# X200 — dimension build with surrogate keys
# ---------------------------------------------------------------------------

@query(
    "dimension_orders_priority_status",
    """
    WITH dim AS (SELECT DISTINCT o_orderpriority AS prio,
                        o_orderstatus AS status FROM orders),
    h AS (SELECT prio, status,
                 prio || chr(31) || status AS nat,
                 translate(substr(sha256(prio || chr(31) || status),
                                  1, 12),
                           'abcdef', '012345')::BIGINT AS hv
          FROM dim),
    sk AS (SELECT prio, status,
                  row_number() OVER (ORDER BY hv, nat) AS sk
           FROM h)
    SELECT s.sk, s.prio, s.status, count(*)::BIGINT AS n_orders
    FROM orders o JOIN sk s ON s.prio = o.o_orderpriority
                           AND s.status = o.o_orderstatus
    GROUP BY 1, 2, 3
    """,
)
def dimension_orders_priority_status(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """X200 — (priority, status) dimension built with deterministic
    dense surrogate keys (``curation.build_dimension``), joined back
    to the fact table for per-member counts.  The demo dimension is
    tiny (≤15 rows, the join broadcasts); the operator's two-phase
    rank is the same plan at billion-row dimension cardinality."""
    from sync_cosmos_db_spark.operators.curation import (
        build_dimension,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"))
    dim = build_dimension(orders, ["prio", "status"])
    return (orders.join(dim, ["prio", "status"])
            .groupBy("sk", "prio", "status")
            .agg(F.count("*").cast("long").alias("n_orders")))


# ---------------------------------------------------------------------------
# X201 — group medoid election
# ---------------------------------------------------------------------------

@query(
    "medoid_lineitem_price",
    """
    WITH d AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                      l_orderkey * 8 + l_linenumber AS lid
               FROM lineitem),
    m AS (SELECT g, count(*)::BIGINT AS n,
                 floor(sum(floor(v * 100 + 0.5)::BIGINT)::DOUBLE
                       / count(*) + 0.5) / 100 AS mean_value
          FROM d GROUP BY 1),
    j AS (SELECT d.g, d.v, d.lid, m.n, m.mean_value,
                 abs(d.v - m.mean_value) AS diff
          FROM d JOIN m USING (g)),
    pick AS (SELECT g, n, mean_value, v, lid,
                    row_number() OVER (PARTITION BY g
                                       ORDER BY diff, lid) AS rn
             FROM j)
    SELECT g, n, mean_value, lid AS rep_id, v AS rep_value
    FROM pick WHERE rn = 1
    """,
)
def medoid_lineitem_price(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X201 — the most-typical lineitem per return flag
    (``profiling.group_medoid``): the row nearest the (grid-rounded)
    group mean price, ties to the lowest synthetic line id.  One
    group aggregate + one group-keyed join + one struct-min
    election."""
    from sync_cosmos_db_spark.operators.profiling import group_medoid

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long").alias("lid"))
    return group_medoid(d, "g", "v", "lid")


# ---------------------------------------------------------------------------
# X202 — new vs returning DAU
# ---------------------------------------------------------------------------

@query(
    "new_returning_daily_events",
    """
    WITH f AS (SELECT user_id, min(ts)::DATE AS fd
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT e.user_id, f.fd, e.ts::DATE AS day
          FROM events e JOIN f USING (user_id))
    SELECT day, count(*)::BIGINT AS dau,
           sum(CASE WHEN day = fd THEN 1 ELSE 0 END)::BIGINT
             AS new_users,
           (count(*) - sum(CASE WHEN day = fd THEN 1 ELSE 0 END))
             ::BIGINT AS returning_users,
           floor(sum(CASE WHEN day = fd THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 10000 + 0.5) / 10000 AS pct_new
    FROM a GROUP BY 1
    """,
)
def new_returning_daily_events(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X202 — daily actives decomposed into new vs returning
    (``behavioral.new_vs_returning``): first-touch aggregate +
    user-keyed join/distinct on one partitioning + day-keyed count
    — X187's cohort triangle viewed as the day-by-day margin."""
    from sync_cosmos_db_spark.operators.behavioral import (
        new_vs_returning,
    )

    ev = load_table(spark, sf_dir, "events")
    return new_vs_returning(ev, "user_id", "ts")


# ===========================================================================
# merged from queries_r7j.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (ninth batch) X203-X206: training-
mixture solver, nightly drift-gate verdict, deterministic
word-dropout augmentation, and count-data dispersion profile — the
pretraining mixture knob, the may-this-snapshot-ship gate composing
X28/X79/X51's parts, the reproducible augmentation view, and the
Poisson-or-bursty one-number check beside X142.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table

_TARGETS = {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.2}


# ---------------------------------------------------------------------------
# X203 — training-mixture solver
# ---------------------------------------------------------------------------

@query(
    "mixture_solver_documents",
    """
    WITH c AS (SELECT source,
                      sum(len(string_split_regex(text, '\\s+')))
                        ::BIGINT AS tokens
               FROM documents GROUP BY 1),
    t(source, tgt) AS (VALUES ('src0', 0.3), ('src1', 0.3),
                              ('src2', 0.2), ('src3', 0.2)),
    d AS (SELECT c.source, c.tokens,
                 coalesce(t.tgt::DOUBLE, 0.0) AS target_share,
                 sum(c.tokens) OVER () AS tot
          FROM c LEFT JOIN t USING (source)),
    r AS (SELECT source, tokens, target_share,
                 tokens::DOUBLE / tot AS nat,
                 target_share / (tokens::DOUBLE / tot) AS rr,
                 max(target_share / (tokens::DOUBLE / tot)) OVER ()
                   AS rmax
          FROM d)
    SELECT source, tokens,
           floor(nat * 1000000 + 0.5) / 1000000 AS natural_share,
           target_share,
           floor(rr / rmax * 1000000 + 0.5) / 1000000
             AS sample_rate,
           floor(rr / rmax * tokens)::BIGINT AS tokens_after
    FROM r
    """,
)
def mixture_solver_documents(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X203 — downsample-only mixture solver
    (``curation.mixture_solver``): four target sources at
    30/30/20/20, every other source dropped (target 0 → rate 0).
    One token-count scan, then |sources|-row arithmetic with a
    window-max normalizer; the binding source keeps rate 1.0."""
    from sync_cosmos_db_spark.operators.curation import mixture_solver

    docs = load_table(spark, sf_dir, "documents")
    return mixture_solver(docs, "source", "text", _TARGETS)


# ---------------------------------------------------------------------------
# X204 — drift-gate verdict
# ---------------------------------------------------------------------------

@query(
    "drift_gate_orders",
    """
    WITH b AS (SELECT * FROM orders
               WHERE o_orderdate < DATE '1998-01-01'),
    c AS (SELECT * FROM orders
          WHERE o_orderdate >= DATE '1998-01-01'),
    nb AS (SELECT count(*)::BIGINT AS n FROM b),
    nc AS (SELECT count(*)::BIGINT AS n FROM c),
    hb AS (SELECT CASE WHEN o_totalprice > 300000 THEN 4
                       WHEN o_totalprice > 200000 THEN 3
                       WHEN o_totalprice > 100000 THEN 2
                       WHEN o_totalprice > 50000 THEN 1
                       ELSE 0 END AS bk,
                  count(*)::DOUBLE AS cb
           FROM b GROUP BY 1),
    hc AS (SELECT CASE WHEN o_totalprice > 300000 THEN 4
                       WHEN o_totalprice > 200000 THEN 3
                       WHEN o_totalprice > 100000 THEN 2
                       WHEN o_totalprice > 50000 THEN 1
                       ELSE 0 END AS bk,
                  count(*)::DOUBLE AS cc
           FROM c GROUP BY 1),
    h AS (SELECT coalesce(cb, 0.5) AS cb, coalesce(cc, 0.5) AS cc
          FROM hb FULL JOIN hc USING (bk)),
    hp AS (SELECT cb / sum(cb) OVER () AS pb,
                  cc / sum(cc) OVER () AS pc FROM h),
    psi AS (SELECT sum((pc - pb) * ln(pc / pb)) AS v FROM hp),
    cats AS (
      SELECT count(*)::BIGINT AS n FROM (
        (SELECT DISTINCT o_orderpriority FROM b
         EXCEPT SELECT DISTINCT o_orderpriority FROM c)
        UNION ALL
        (SELECT DISTINCT o_orderpriority FROM c
         EXCEPT SELECT DISTINCT o_orderpriority FROM b)) t)
    SELECT 'row_count_delta' AS check,
           floor(abs(nc.n - nb.n)::DOUBLE / nb.n * 1000000 + 0.5)
             / 1000000 AS metric,
           CASE WHEN abs(nc.n - nb.n)::DOUBLE / nb.n <= 0.5
                THEN 'PASS' ELSE 'WARN' END AS verdict
    FROM nb, nc
    UNION ALL
    SELECT 'psi_o_totalprice',
           floor(v * 1000000 + 0.5) / 1000000,
           CASE WHEN v <= 0.2 THEN 'PASS' ELSE 'WARN' END
    FROM psi
    UNION ALL
    SELECT 'category_domain_o_orderpriority',
           floor(n * 1000000 + 0.5) / 1000000,
           CASE WHEN n = 0 THEN 'PASS' ELSE 'WARN' END
    FROM cats
    """,
)
def drift_gate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X204 — drift-gate verdict (``expectations.drift_gate``)
    between the pre-1998 and 1998-onward order snapshots: row-count
    delta, PSI of the price distribution over FIXED edges, and
    priority-domain membership, each with a PASS/WARN verdict —
    X28/X79/X51's parts composed into the one table a pipeline
    pages on."""
    from sync_cosmos_db_spark.operators.expectations import drift_gate

    orders = load_table(spark, sf_dir, "orders")
    cut = F.to_date(F.lit("1998-01-01"))
    base = orders.filter(F.to_date("o_orderdate") < cut)
    cur = orders.filter(F.to_date("o_orderdate") >= cut)
    return drift_gate(base, cur, "o_totalprice", "o_orderpriority",
                      [50000.0, 100000.0, 200000.0, 300000.0])


# ---------------------------------------------------------------------------
# X205 — word-dropout augmentation
# ---------------------------------------------------------------------------

@query(
    "word_dropout_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               len(string_split_regex(text, '\\s+')) - 1)) AS pos,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents),
    k AS (SELECT doc_id, pos, tok,
                 (pos = 0 OR
                  translate(substr(sha256(doc_id::VARCHAR || ':'
                                          || pos::VARCHAR
                                          || ':aug'), 1, 3),
                            'abcdef', '012345')::BIGINT % 100 >= 15)
                   AS keep
          FROM toks)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE keep)
             AS aug_text
    FROM k GROUP BY 1
    """,
)
def word_dropout_documents(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X205 — deterministic 15% word dropout (``text.word_dropout``,
    salt 'aug'): sha2 draw per (doc, position), position 0 always
    survives, augmented text rebuilt in original order — the
    reproducible augmentation a contrastive pipeline re-derives
    instead of storing."""
    from sync_cosmos_db_spark.operators.text import word_dropout

    docs = load_table(spark, sf_dir, "documents")
    return word_dropout(docs, "doc_id", "text", drop_pct=15,
                        salt="aug")


# ---------------------------------------------------------------------------
# X206 — dispersion profile
# ---------------------------------------------------------------------------

@query(
    "dispersion_event_types",
    """
    WITH d AS (SELECT event_type AS g, ts::DATE AS d,
                      count(*)::BIGINT AS c
               FROM events GROUP BY 1, 2),
    a AS (SELECT g, count(*)::BIGINT AS n_days,
                 sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS s2
          FROM d GROUP BY 1)
    SELECT g AS event_type, n_days,
           floor(s::DOUBLE / n_days * 1000000 + 0.5) / 1000000
             AS mean_daily,
           CASE WHEN n_days > 1
                THEN floor((n_days * s2 - s * s)::DOUBLE
                           / (n_days * (n_days - 1))
                           / (s::DOUBLE / n_days)
                           * 1000000 + 0.5) / 1000000
           END AS vmr,
           CASE WHEN n_days > 1 THEN
             (CASE WHEN (n_days * s2 - s * s)::DOUBLE
                        / (n_days * (n_days - 1))
                        / (s::DOUBLE / n_days) > 1.2
                   THEN 'overdispersed'
                   WHEN (n_days * s2 - s * s)::DOUBLE
                        / (n_days * (n_days - 1))
                        / (s::DOUBLE / n_days) < 0.8
                   THEN 'underdispersed'
                   ELSE 'poisson-like' END)
           END AS dispersion_class
    FROM a
    """,
)
def dispersion_event_types(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X206 — variance-to-mean dispersion of daily counts per event
    type (``profiling.dispersion_profile``): integer sufficient
    statistics, classification on the UNROUNDED ratio in both
    engines."""
    from sync_cosmos_db_spark.operators.profiling import (
        dispersion_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return dispersion_profile(ev, "event_type", F.to_date("ts"))


# ===========================================================================
# merged from queries_r7k.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (tenth batch) X207-X210: incremental
view maintenance for count/sum aggregates, semi-additive (last-value)
balance aggregation, candidate-key discovery audit, and
negative-balance episode extraction — the materialized-view delta
algebra, the warehouse semi-additive-measure trap encoded once, the
find-the-merge-key profiler, and the overdraft detector on X113's
running balance.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X207 — incremental view maintenance
# ---------------------------------------------------------------------------

@query(
    "ivm_orders_priority",
    """
    WITH base AS (
      SELECT o_orderpriority AS key, o_totalprice AS v,
             o_orderkey AS k
      FROM orders WHERE o_orderkey % 3 <> 0),
    final AS (
      SELECT key, CASE WHEN k % 4 = 0 THEN v + 10 ELSE v END AS v
      FROM base WHERE k % 5 <> 0
      UNION ALL
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 3 = 0)
    SELECT key, count(*)::BIGINT AS n,
           sum(floor(v * 100 + 0.5)::BIGINT) / 100.0 AS s
    FROM final GROUP BY 1
    """,
)
def ivm_orders_priority(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X207 — incremental maintenance of a per-priority count/sum
    view (``cdc.ivm_apply_agg``): the snapshot aggregates a base
    slice (orderkey % 3 ≠ 0); the changelog inserts the % 3 == 0
    rows, deletes the % 5 == 0 rows and bumps the % 4 == 0
    survivors by 10 — the maintained state must equal the oracle's
    DIRECT RECOMPUTE over the final row set, which is exactly the
    guarantee IVM is supposed to give."""
    from sync_cosmos_db_spark.operators.cdc import ivm_apply_agg

    orders = load_table(spark, sf_dir, "orders")
    k, v = F.col("o_orderkey"), F.col("o_totalprice")
    prio = F.col("o_orderpriority")
    base = orders.filter(k % 3 != 0)
    snapshot = (base.groupBy(prio.alias("key"))
                .agg(F.count("*").cast("long").alias("n"),
                     fsum(v, 2).alias("s")))
    ins = orders.filter(k % 3 == 0).select(
        prio.alias("key"), F.lit("I").alias("op"),
        v.alias("v_new"), F.lit(None).cast("double").alias("v_old"))
    dels = base.filter(k % 5 == 0).select(
        prio.alias("key"), F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("v_new"),
        v.alias("v_old"))
    upd = base.filter((k % 5 != 0) & (k % 4 == 0)).select(
        prio.alias("key"), F.lit("U").alias("op"),
        (v + 10).alias("v_new"), v.alias("v_old"))
    changelog = ins.unionByName(dels).unionByName(upd)
    return ivm_apply_agg(snapshot, changelog)


# ---------------------------------------------------------------------------
# X208 — semi-additive balance
# ---------------------------------------------------------------------------

@query(
    "semi_additive_user_value",
    """
    WITH l AS (
      SELECT user_id, date_trunc('month', ts) AS m, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('month', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT m::DATE AS month, count(*)::BIGINT AS n_keys,
           sum(floor(value * 10000 + 0.5)::BIGINT) / 10000.0
             AS total_balance
    FROM l WHERE rn = 1 GROUP BY 1
    """,
)
def semi_additive_user_value(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X208 — month-end balance aggregation
    (``temporal.semi_additive_balance``): each user's LAST value per
    month (struct-max election, event_id breaking ts ties), summed
    across users — additive over accounts, last-value over time."""
    from sync_cosmos_db_spark.operators.temporal import (
        semi_additive_balance,
    )

    ev = load_table(spark, sf_dir, "events")
    return semi_additive_balance(ev, "user_id", "ts", "value",
                                 "event_id")


# ---------------------------------------------------------------------------
# X209 — candidate-key audit
# ---------------------------------------------------------------------------

@query(
    "candidate_keys_lineitem",
    """
    SELECT 'l_orderkey' AS candidate,
           (SELECT count(*) FROM lineitem)::BIGINT AS n_rows,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey FROM lineitem) t)::BIGINT
             AS n_distinct,
           floor((SELECT count(*) FROM
                   (SELECT DISTINCT l_orderkey FROM lineitem) t)
                 ::DOUBLE / (SELECT count(*) FROM lineitem)
                 * 1000000 + 0.5) / 1000000 AS uniqueness,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey FROM lineitem) t)
             = (SELECT count(*) FROM lineitem) AS is_key
    UNION ALL
    SELECT 'l_orderkey+l_linenumber',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey, l_linenumber
              FROM lineitem) t)::BIGINT,
           floor((SELECT count(*) FROM
                   (SELECT DISTINCT l_orderkey, l_linenumber
                    FROM lineitem) t)
                 ::DOUBLE / (SELECT count(*) FROM lineitem)
                 * 1000000 + 0.5) / 1000000,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey, l_linenumber
              FROM lineitem) t)
             = (SELECT count(*) FROM lineitem)
    UNION ALL
    SELECT 'l_partkey+l_suppkey',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_partkey, l_suppkey
              FROM lineitem) t)::BIGINT,
           floor((SELECT count(*) FROM
                   (SELECT DISTINCT l_partkey, l_suppkey
                    FROM lineitem) t)
                 ::DOUBLE / (SELECT count(*) FROM lineitem)
                 * 1000000 + 0.5) / 1000000,
           (SELECT count(*) FROM
             (SELECT DISTINCT l_partkey, l_suppkey
              FROM lineitem) t)
             = (SELECT count(*) FROM lineitem)
    """,
)
def candidate_keys_lineitem(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X209 — candidate-key audit over lineitem
    (``expectations.candidate_key_audit``): in THIS synthetic
    corpus even (orderkey, linenumber) is refuted — duplicate
    pairs exist — which is precisely the discovery the audit is
    for (X220's allocation tiebreak was widened because of it);
    exact uniqueness ratios for all three candidates."""
    from sync_cosmos_db_spark.operators.expectations import (
        candidate_key_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return candidate_key_audit(li, [
        ["l_orderkey"],
        ["l_orderkey", "l_linenumber"],
        ["l_partkey", "l_suppkey"]])


# ---------------------------------------------------------------------------
# X210 — negative-balance episodes
# ---------------------------------------------------------------------------

@query(
    "negative_episodes_user_value",
    """
    WITH a AS (
      SELECT user_id,
             ts,
             CASE WHEN event_type = 'purchase' THEN value
                  ELSE -value END AS amount
      FROM events),
    b AS (
      SELECT user_id, ts, amount,
             sum(amount) OVER (PARTITION BY user_id
                               ORDER BY ts, amount
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS bal
      FROM a),
    c AS (
      SELECT user_id, bal,
             CASE WHEN bal < 0 THEN 1 ELSE 0 END AS neg,
             coalesce(lag(CASE WHEN bal < 0 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id
                            ORDER BY ts, amount), 0) AS prev
      FROM b)
    SELECT user_id,
           sum(CASE WHEN neg = 1 AND prev = 0 THEN 1 ELSE 0 END)
             ::BIGINT AS n_episodes,
           floor(min(bal) * 10000 + 0.5) / 10000 AS min_balance
    FROM c GROUP BY 1
    HAVING sum(CASE WHEN neg = 1 AND prev = 0
               THEN 1 ELSE 0 END) > 0
    """,
)
def negative_episodes_user_value(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X210 — overdraft episodes per user
    (``temporal.negative_balance_episodes``): purchases credit,
    everything else debits; running balance + sign islands on ONE
    user-partitioned sort window.  The sequential running sum is
    bit-identical in both engines, so the <0 comparisons cannot
    disagree."""
    from sync_cosmos_db_spark.operators.temporal import (
        negative_balance_episodes,
    )

    ev = load_table(spark, sf_dir, "events")
    amt = F.when(F.col("event_type") == "purchase",
                 F.col("value")).otherwise(-F.col("value"))
    d = ev.select("user_id", "ts", amt.alias("amount"))
    return negative_balance_episodes(d, "user_id", "ts", "amount")


# ===========================================================================
# merged from queries_r7l.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (eleventh batch) X211-X214: deny-list
filter with per-rule attribution, exact price/volume revenue bridge,
leakage-safe label construction, and decay-weighted engagement —
the blocklist step with its hit-count audit, the two-factor
revenue-delta decomposition, the temporal train-set builder that
makes X128's leakage impossible by construction, and the continuous
recency×frequency score beside X103's RFM.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X211 — deny-list filter
# ---------------------------------------------------------------------------

@query(
    "denylist_documents_sources",
    """
    SELECT CASE WHEN source = 'src3' THEN 'exact'
                WHEN substr(source, 1, 4) = 'src1' THEN 'prefix'
                ELSE 'kept' END AS rule_kind,
           CASE WHEN source = 'src3' THEN 'src3'
                WHEN substr(source, 1, 4) = 'src1' THEN 'src1'
                ELSE '-' END AS rule,
           count(*)::BIGINT AS n_rows
    FROM documents GROUP BY 1, 2
    """,
)
def denylist_documents_sources(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X211 — deny-list over document sources
    (``curation.denylist_filter``): exact rule 'src3' plus prefix
    rule 'src1' (which catches src1 AND src10–src19 — exactly the
    over-firing a per-rule hit count exposes); survivors land in
    the kept bucket."""
    from sync_cosmos_db_spark.operators.curation import (
        denylist_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    return denylist_filter(docs, "source", ["src3"], ["src1"])


# ---------------------------------------------------------------------------
# X212 — price/volume decomposition
# ---------------------------------------------------------------------------

@query(
    "pv_decomposition_priority",
    """
    WITH j AS (
      SELECT o.o_orderpriority AS g,
             CASE WHEN l.l_shipdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END AS per,
             l.l_quantity AS q, l.l_extendedprice AS r
      FROM lineitem l JOIN orders o
        ON l.l_orderkey = o.o_orderkey),
    per AS (SELECT g, per,
                   sum(floor(r * 100 + 0.5)::BIGINT) / 100.0 AS rev,
                   sum(q) AS q
            FROM j GROUP BY 1, 2),
    piv AS (SELECT g,
                   max(CASE WHEN per = 0 THEN rev END) AS r1,
                   max(CASE WHEN per = 0 THEN q END) AS q1,
                   max(CASE WHEN per = 1 THEN rev END) AS r2,
                   max(CASE WHEN per = 1 THEN q END) AS q2
            FROM per GROUP BY 1)
    SELECT g AS prio, r1 AS rev_base, r2 AS rev_curr,
           floor((r2 - r1) * 100 + 0.5) / 100 AS delta,
           floor((q2 - q1) * (r1 / q1) * 100 + 0.5) / 100
             AS volume_effect,
           floor(((r2 / q2) - (r1 / q1)) * q2 * 100 + 0.5) / 100
             AS price_effect
    FROM piv
    """,
)
def pv_decomposition_priority(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X212 — revenue bridge per order priority between pre-1998 and
    1998-onward shipments (``profiling.price_volume_decomposition``):
    volume effect at old prices + price effect at new volume sum to
    the delta by algebraic identity."""
    from sync_cosmos_db_spark.operators.profiling import (
        price_volume_decomposition,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .select(F.col("o_orderpriority").alias("prio"),
                 F.when(F.to_date("l_shipdate")
                        >= F.to_date(F.lit("1998-01-01")), 1)
                 .otherwise(0).alias("per"),
                 "l_quantity", "l_extendedprice"))
    return price_volume_decomposition(
        j, "prio", F.col("per"), "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# X213 — leakage-safe labels
# ---------------------------------------------------------------------------

@query(
    "labels_users_cutoff",
    """
    WITH a AS (
      SELECT user_id,
             sum(CASE WHEN ts::DATE >= DATE '2024-01-21' - 14
                       AND ts::DATE < DATE '2024-01-21'
                      THEN 1 ELSE 0 END)::BIGINT AS n_events_obs,
             sum(CASE WHEN ts::DATE >= DATE '2024-01-21' - 14
                       AND ts::DATE < DATE '2024-01-21'
                       AND event_type = 'purchase'
                      THEN 1 ELSE 0 END)::BIGINT AS n_positive_obs,
             count(DISTINCT CASE
               WHEN ts::DATE >= DATE '2024-01-21' - 14
                AND ts::DATE < DATE '2024-01-21'
               THEN ts::DATE END)::BIGINT AS days_active_obs,
             min(CASE WHEN ts::DATE >= DATE '2024-01-21' - 14
                       AND ts::DATE < DATE '2024-01-21'
                      THEN date_diff('day', ts::DATE,
                                     DATE '2024-01-21') END)
               ::BIGINT AS recency_days,
             max(CASE WHEN ts::DATE >= DATE '2024-01-21'
                       AND ts::DATE < DATE '2024-01-21' + 7
                      THEN 1 ELSE 0 END)::BIGINT AS label
      FROM events GROUP BY 1)
    SELECT * FROM a WHERE n_events_obs > 0
    """,
)
def labels_users_cutoff(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X213 — leakage-safe labels at cutoff 2024-01-21
    (``curation.build_labels``): 14-day observation features, 7-day
    outcome label, one conditional-aggregate scan."""
    from sync_cosmos_db_spark.operators.curation import build_labels

    ev = load_table(spark, sf_dir, "events")
    return build_labels(ev, "user_id", "ts", "event_type",
                        "2024-01-21", obs_days=14, out_days=7)


# ---------------------------------------------------------------------------
# X214 — decay-weighted engagement
# ---------------------------------------------------------------------------

@query(
    "decayed_engagement_types",
    """
    WITH hw AS (SELECT max(ts)::DATE AS h FROM events),
    d AS (SELECT event_type,
                 date_diff('day', ts::DATE, h) AS age
          FROM events, hw)
    SELECT event_type, count(*)::BIGINT AS n_events,
           floor(sum(pow(2.0, -age / 7.0)) * 10000 + 0.5) / 10000
             AS decayed_mass,
           floor(sum(pow(2.0, -age / 7.0)) / count(*)
                 * 10000 + 0.5) / 10000 AS mass_share_of_count
    FROM d GROUP BY 1
    """,
)
def decayed_engagement_types(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X214 — 7-day-half-life decayed activity mass per event type
    (``behavioral.decayed_engagement``): broadcast high-water mark,
    in-row ``pow(2, −age/h)`` weights, one group reduce."""
    from sync_cosmos_db_spark.operators.behavioral import (
        decayed_engagement,
    )

    ev = load_table(spark, sf_dir, "events")
    return decayed_engagement(ev, "event_type", "ts",
                              half_life_days=7.0)


# ===========================================================================
# merged from queries_r7m.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (twelfth batch) X215-X218: conversion
latency profile, monthly ratio-to-moving-average seasonal index,
one-sample exponential KS fit, and top-N + OTHER rollup — how long
conversion takes (X155 counts who), annual seasonality (X157 covers
weekly), is-it-Poisson as a distance (X206 as a ratio), and the
reporting idiom that keeps dashboards bounded.
"""


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X215 — conversion latency
# ---------------------------------------------------------------------------

@query(
    "conversion_latency_events",
    """
    WITH f AS (SELECT user_id, min(epoch_us(ts)) AS c
               FROM events WHERE event_type = 'click' GROUP BY 1),
    conv AS (
      SELECT e.user_id, min(epoch_us(e.ts) - f.c) AS gap
      FROM events e JOIN f USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.c
      GROUP BY 1),
    b AS (SELECT f.user_id, conv.gap
          FROM f LEFT JOIN conv USING (user_id))
    SELECT count(*)::BIGINT AS n_users,
           count(gap)::BIGINT AS n_converters,
           floor(count(gap)::DOUBLE / count(*) * 10000 + 0.5)
             / 10000 AS conv_rate,
           floor(quantile_cont(gap, 0.5) / 1000000.0
                 * 10000 + 0.5) / 10000 AS p50_s,
           floor(quantile_cont(gap, 0.9) / 1000000.0
                 * 10000 + 0.5) / 10000 AS p90_s
    FROM b
    """,
)
def conversion_latency_events(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X215 — first-click→first-purchase latency profile
    (``behavioral.conversion_latency``): conversion rate plus exact
    p50/p90 delay seconds over converters."""
    from sync_cosmos_db_spark.operators.behavioral import (
        conversion_latency,
    )

    ev = load_table(spark, sf_dir, "events")
    return conversion_latency(ev)


# ---------------------------------------------------------------------------
# X216 — monthly seasonal index
# ---------------------------------------------------------------------------

@query(
    "seasonal_index_order_revenue",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS vc
      FROM orders GROUP BY 1),
    ma AS (
      SELECT mo, vc,
             count(*) OVER w AS n,
             floor((sum(vc) OVER w)::DOUBLE
                   / (count(*) OVER w) + 0.5)::BIGINT AS mac
      FROM m
      WINDOW w AS (ORDER BY mo
                   ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)),
    r AS (SELECT date_part('month', mo)::BIGINT AS month_of_year,
                 vc::DOUBLE / mac AS ratio
          FROM ma WHERE n = 12),
    idx AS (SELECT month_of_year, count(*)::BIGINT AS n_obs,
                   avg(ratio) AS i
            FROM r GROUP BY 1)
    SELECT month_of_year, n_obs,
           floor(i / avg(i) OVER () * 10000 + 0.5) / 10000
             AS seasonal_index
    FROM idx
    """,
)
def seasonal_index_order_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X216 — multiplicative monthly seasonal index of order revenue
    (``temporal.seasonal_index_monthly``): centered 12-month MA
    (full windows only, cents-snapped BEFORE the ratio), month-of-
    year mean ratios normalized to mean 1."""
    from sync_cosmos_db_spark.operators.temporal import (
        seasonal_index_monthly,
    )

    orders = load_table(spark, sf_dir, "orders")
    return seasonal_index_monthly(orders, "o_orderdate",
                                  "o_totalprice")


# ---------------------------------------------------------------------------
# X217 — exponential-fit KS
# ---------------------------------------------------------------------------

@query(
    "exp_fit_ks_event_types",
    """
    WITH t AS (SELECT event_type AS g, epoch_us(ts) AS t
               FROM events),
    gp AS (SELECT g, t,
                  t - lag(t) OVER (PARTITION BY g ORDER BY t)
                    AS gap
           FROM t),
    gaps AS (SELECT g, t, gap FROM gp WHERE gap IS NOT NULL),
    st AS (SELECT g, count(*)::BIGINT AS n, avg(gap) AS mean
           FROM gaps GROUP BY 1),
    d AS (
      SELECT gaps.g, st.n, st.mean,
             row_number() OVER (PARTITION BY gaps.g
                                ORDER BY gap, t) AS r,
             1 - exp(-(1.0 / st.mean) * gap) AS cdf
      FROM gaps JOIN st ON st.g = gaps.g),
    dd AS (SELECT g, n, mean,
                  greatest(abs(r::DOUBLE / n - cdf),
                           abs((r - 1)::DOUBLE / n - cdf)) AS dv
           FROM d)
    SELECT g AS event_type, n AS n_gaps,
           floor(mean / 1000000.0 * 1000000 + 0.5) / 1000000
             AS mean_gap_s,
           floor(max(dv) * 1000000 + 0.5) / 1000000 AS ks_d
    FROM dd GROUP BY 1, 2, 3
    """,
)
def exp_fit_ks_event_types(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X217 — KS distance of per-type inter-arrival gaps against a
    fitted exponential (``profiling.exp_fit_ks``): gaps, CDF ranks
    and D on one group-keyed partitioning."""
    from sync_cosmos_db_spark.operators.profiling import exp_fit_ks

    ev = load_table(spark, sf_dir, "events")
    return exp_fit_ks(ev, "event_type", "ts")


# ---------------------------------------------------------------------------
# X218 — top-N + OTHER rollup
# ---------------------------------------------------------------------------

@query(
    "topn_other_suppliers_by_nation",
    """
    WITH sr AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS sk,
             sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT) / 100.0
               AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2),
    rk AS (SELECT nation, sk, rev,
                  row_number() OVER (PARTITION BY nation
                                     ORDER BY rev DESC, sk) AS rn
           FROM sr)
    SELECT nation,
           CASE WHEN rn <= 3 THEN sk::VARCHAR ELSE 'OTHER' END
             AS supplier,
           count(*)::BIGINT AS n_suppliers,
           sum(floor(rev * 100 + 0.5)::BIGINT) / 100.0 AS revenue
    FROM rk GROUP BY 1, 2
    """,
)
def topn_other_suppliers_by_nation(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """X218 — top-3 suppliers per nation with the tail rolled into
    one OTHER row: per-supplier revenue is cents-snapped BEFORE the
    rank (the determinism discipline), one nation-keyed rank
    window, one aggregate — the reporting idiom that keeps a
    dashboard's cardinality bounded no matter the corpus."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    sr = (li.join(sup, li.l_suppkey == sup.s_suppkey)
          .groupBy(F.col("s_nationkey").alias("nation"),
                   F.col("l_suppkey").alias("sk"))
          .agg(fsum("l_extendedprice", 2).alias("rev")))
    rn = F.row_number().over(
        W.partitionBy("nation").orderBy(F.col("rev").desc(), "sk"))
    lab = F.when(F.col("rn") <= 3,
                 F.col("sk").cast("string")).otherwise("OTHER")
    return (sr.withColumn("rn", rn)
            .groupBy("nation", lab.alias("supplier"))
            .agg(F.count("*").cast("long").alias("n_suppliers"),
                 fsum("rev", 2).alias("revenue")))


# ===========================================================================
# merged from queries_r7n.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (thirteenth batch) X219-X221:
share-of-parent hierarchy rollup, penny-exact M:N allocation and
trigram-index substring search — the two-level share view beside
X95's share-of-total, the largest-remainder allocation that
reconciles to the cent, and the pg_trgm LIKE-acceleration trick with
its selectivity audit.  (X222, time-travel replay, lives in
``queries_streaming``.)
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import fround, query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X219 — share-of-parent rollup
# ---------------------------------------------------------------------------

@query(
    "share_of_parent_nations",
    """
    WITH nr AS (
      SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
             sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT) AS c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2)
    SELECT region, nation, c / 100.0 AS revenue,
           floor(c::DOUBLE / sum(c) OVER (PARTITION BY region)
                 * 1000000 + 0.5) / 1000000 AS share_of_region,
           floor(sum(c) OVER (PARTITION BY region)::DOUBLE
                 / sum(c) OVER () * 1000000 + 0.5) / 1000000
             AS region_share_of_total
    FROM nr
    """,
)
def share_of_parent_nations(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X219 — two-level hierarchy shares: each nation's revenue
    share of its REGION and each region's share of the total — the
    share-of-parent view X95's flat share-of-total can't express.
    Revenue stays integer cents through both window sums, so the
    shares are ratios of exact integers in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window as W

    nr = (orders.join(cust, orders.o_custkey == cust.c_custkey)
          .join(nation, cust.c_nationkey == nation.n_nationkey)
          .groupBy(F.col("n_regionkey").alias("region"),
                   F.col("c_nationkey").alias("nation"))
          .agg(F.sum(F.floor(F.col("o_totalprice") * 100
                              + F.lit(0.5)).cast("long")).alias("c")))
    wr = W.partitionBy("region")
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return nr.select(
        "region", "nation", (F.col("c") / 100.0).alias("revenue"),
        (F.floor(F.col("c") / F.sum("c").over(wr) * 1000000
                 + F.lit(0.5)) / 1000000).alias("share_of_region"),
        (F.floor(F.sum("c").over(wr) / F.sum("c").over(wt)
                 * 1000000 + F.lit(0.5)) / 1000000)
        .alias("region_share_of_total"))


# ---------------------------------------------------------------------------
# X220 — penny-exact allocation
# ---------------------------------------------------------------------------

@query(
    "allocated_revenue_suppliers",
    """
    WITH p AS (SELECT o_orderkey AS k,
                      floor(o_totalprice * 100 + 0.5)::BIGINT
                        AS cents
               FROM orders),
    n AS (SELECT l_orderkey AS k, count(*)::BIGINT AS n
          FROM lineitem GROUP BY 1),
    a AS (
      SELECT l.l_suppkey,
             p.cents // n.n
             + CASE WHEN row_number() OVER (
                      PARTITION BY l.l_orderkey
                      ORDER BY l.l_linenumber, l.l_suppkey)
                    <= p.cents % n.n THEN 1 ELSE 0 END AS ac
      FROM lineitem l
      JOIN n ON n.k = l.l_orderkey
      JOIN p ON p.k = l.l_orderkey)
    SELECT l_suppkey AS supplier, count(*)::BIGINT AS n_lines,
           sum(ac)::BIGINT AS alloc_cents,
           sum(ac) / 100.0 AS allocated
    FROM a GROUP BY 1
    """,
)
def allocated_revenue_suppliers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X220 — order totals allocated penny-exactly across each
    order's lineitems (``profiling.allocate_exact``,
    largest-remainder: cents div n each, the mod-n leftover pennies
    to the lowest (line number, supplier) pairs — (orderkey,
    linenumber) is NOT unique in this corpus, so the supplier
    tiebreak pins every penny that could change a supplier total),
    rolled up per supplier — Σ
    alloc_cents across suppliers equals Σ order cents EXACTLY,
    which float division cannot promise and the tests pin."""
    from sync_cosmos_db_spark.operators.profiling import (
        allocate_exact,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_suppkey", "l_linenumber")
    a = allocate_exact(orders, li, "k", "o_totalprice",
                       ["l_linenumber", "l_suppkey"])
    return (a.groupBy(F.col("l_suppkey").alias("supplier"))
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("alloc_cents").cast("long")
                 .alias("alloc_cents"),
                 (F.sum("alloc_cents") / 100.0).alias("allocated")))


# ---------------------------------------------------------------------------
# X221 — trigram substring search
# ---------------------------------------------------------------------------

@query(
    "trigram_like_documents",
    """
    WITH pats AS (
      SELECT DISTINCT substr('merge batch', i, 3) AS tri
      FROM (SELECT unnest(generate_series(1,
                     len('merge batch') - 2)) AS i)),
    tri AS (
      SELECT DISTINCT d.doc_id, d.source,
             substr(d.text, i.i, 3) AS tri
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(1,
                      greatest(len(d.text) - 2, 0))) AS i) i
      WHERE substr(d.text, i.i, 3) IN (SELECT tri FROM pats)),
    cand AS (
      SELECT doc_id, source FROM tri
      GROUP BY 1, 2
      HAVING count(*) = (SELECT count(*) FROM pats)),
    ver AS (
      SELECT c.source,
             CASE WHEN contains(d.text, 'merge batch')
                  THEN 1 ELSE 0 END AS m
      FROM cand c JOIN documents d ON d.doc_id = c.doc_id),
    nd AS (SELECT source, count(*)::BIGINT AS n_docs
           FROM documents GROUP BY 1),
    cm AS (SELECT source, count(*)::BIGINT AS n_candidates,
                  sum(m)::BIGINT AS n_matches
           FROM ver GROUP BY 1)
    SELECT nd.source, nd.n_docs,
           coalesce(cm.n_candidates, 0)::BIGINT AS n_candidates,
           coalesce(cm.n_matches, 0)::BIGINT AS n_matches
    FROM nd LEFT JOIN cm USING (source)
    """,
)
def trigram_like_documents(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X221 — LIKE '%merge batch%' through the trigram index
    (``retrieval.trigram_like_search``): candidates must hold every
    pattern trigram, then verify with exact ``contains`` — the
    audit shows per-source candidate vs match counts (index
    selectivity made visible)."""
    from sync_cosmos_db_spark.operators.retrieval import (
        trigram_like_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return trigram_like_search(docs, "doc_id", "text",
                               "merge batch", group_col="source")


# ===========================================================================
# merged from queries_r7o.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (fourteenth batch) X223-X226:
deterministic PPS systematic sampling, embedding mean-pooling with
renormalization, retention power-law fit & projection, and KWIC
snippet extraction — survey-grade size-proportional sampling without
RNG, the chunk→document embedding build, X187's triangle turned into
a forecast, and the search-UI snippet generator.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X223 — PPS systematic sampling
# ---------------------------------------------------------------------------

@query(
    "pps_sample_orders",
    """
    WITH c AS (SELECT o_orderkey AS k,
                      floor(o_totalprice * 100 + 0.5)::BIGINT AS w
               FROM orders),
    t AS (SELECT sum(w)::BIGINT AS total FROM c),
    g AS (SELECT greatest(total // 100, 1) AS step FROM t),
    cum AS (SELECT k, w,
                   sum(w) OVER (ORDER BY w, k
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS cum
            FROM c),
    sel AS (SELECT k, w, cum, cum - w AS prev FROM cum)
    SELECT k AS o_orderkey, w AS weight_cents,
           (((cum + step - step // 2) // step)
            - ((prev + step - step // 2) // step))::BIGINT
             AS n_picks
    FROM sel, g
    WHERE ((cum + step - step // 2) // step)
          - ((prev + step - step // 2) // step) > 0
    """,
)
def pps_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X223 — 100-slot PPS systematic sample of orders by price
    (``curation.pps_systematic_sample``): integer-cents weights on a
    distributed cumulative line, fixed mid-step anchor, zero RNG —
    heavy orders can be picked multiple times (n_picks), exactly
    PPS-with-replacement."""
    from sync_cosmos_db_spark.operators.curation import (
        pps_systematic_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    return pps_systematic_sample(orders, "o_orderkey",
                                 "o_totalprice", 100)


# ---------------------------------------------------------------------------
# X224 — embedding mean pooling
# ---------------------------------------------------------------------------

@query(
    "mean_pool_embeddings_labels",
    """
    WITH ex AS (
      SELECT label AS g,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS x
      FROM embeddings),
    p AS (SELECT g, dim, avg(x::DOUBLE) AS p FROM ex GROUP BY 1, 2),
    n AS (SELECT g, sqrt(sum(p * p)) AS norm FROM p GROUP BY 1)
    SELECT p.g AS label, p.dim::BIGINT AS dim,
           floor(p.p * 1000000 + 0.5) / 1000000 AS pooled,
           CASE WHEN n.norm > 0
                THEN floor(p.p / n.norm * 1000000 + 0.5) / 1000000
           END AS pooled_renorm
    FROM p JOIN n USING (g)
    """,
)
def mean_pool_embeddings_labels(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X224 — per-label mean-pooled embedding, L2-renormalized
    (``similarity.mean_pool_embeddings``): posexplode → one
    (label, dim) average → tiny norm join; per-dimension output so
    the oracle checks values, not array hashes."""
    from sync_cosmos_db_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mean_pool_embeddings(emb, "label", "embedding")


# ---------------------------------------------------------------------------
# X225 — retention power-law fit
# ---------------------------------------------------------------------------

@query(
    "retention_fit_users",
    """
    WITH f AS (SELECT user_id, min(ts)::DATE AS fd
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT e.user_id, f.fd, e.ts::DATE AS d
          FROM events e JOIN f USING (user_id)),
    curve AS (SELECT date_diff('day', fd, d) AS t,
                     count(*)::DOUBLE AS act
              FROM a GROUP BY 1),
    sz AS (SELECT act AS size FROM curve WHERE t = 0),
    obs AS (SELECT t, act / size AS r, ln(t::DOUBLE) AS lnt,
                   ln(act / size) AS lnr
            FROM curve, sz WHERE t >= 1),
    fit AS (SELECT count(*)::DOUBLE AS n, sum(lnt) AS sx,
                   sum(lnr) AS sy, sum(lnt * lnr) AS sxy,
                   sum(lnt * lnt) AS sxx, max(t) AS h
            FROM obs),
    proj AS (SELECT h + x AS t, n, sx, sy, sxy, sxx
             FROM fit, (SELECT unnest(generate_series(1, 3)) AS x))
    SELECT t AS t_days, 'observed' AS kind,
           floor(r * 10000 + 0.5) / 10000 AS retention
    FROM obs
    UNION ALL
    SELECT t, 'projected',
           floor(exp((sy - ((n * sxy - sx * sy)
                            / (n * sxx - sx * sx)) * sx) / n
                     + ((n * sxy - sx * sy)
                        / (n * sxx - sx * sx)) * ln(t::DOUBLE))
                 * 10000 + 0.5) / 10000
    FROM proj
    """,
)
def retention_fit_users(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X225 — day-grain pooled retention curve with a power-law
    (log-log OLS) fit projected 3 days past the horizon
    (``behavioral.retention_curve_fit``)."""
    from sync_cosmos_db_spark.operators.behavioral import (
        retention_curve_fit,
    )

    ev = load_table(spark, sf_dir, "events")
    return retention_curve_fit(ev, "user_id", "ts", project_days=3)


# ---------------------------------------------------------------------------
# X226 — KWIC snippets
# ---------------------------------------------------------------------------

@query(
    "kwic_snippets_documents",
    """
    WITH m AS (
      SELECT doc_id, source, text,
             strpos(text, 'merge batch') AS pos,
             ((len(text) - len(replace(text, 'merge batch', '')))
              // 11)::BIGINT AS n_occ
      FROM documents WHERE contains(text, 'merge batch'))
    SELECT doc_id, source, pos::BIGINT AS first_pos, n_occ,
           substr(text, greatest(pos - 20, 1),
                  pos + 31 - greatest(pos - 20, 1)) AS snippet
    FROM m
    """,
)
def kwic_snippets_documents(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X226 — keyword-in-context snippets for 'merge batch': first
    occurrence position, occurrence count (length-delta trick,
    integer division), and a ±20-char window clamped at the start —
    all in-row string algebra, zero shuffle before the scan's own
    output."""
    docs = load_table(spark, sf_dir, "documents")
    pat = "merge batch"
    pos = F.locate(pat, F.col("text"))
    start = F.greatest(pos - 20, F.lit(1))
    n_occ = F.expr(
        "(length(text) - length(replace(text, 'merge batch', '')))"
        " div 11")
    return (docs.filter(F.col("text").contains(pat))
            .select("doc_id", "source",
                    pos.cast("long").alias("first_pos"),
                    n_occ.cast("long").alias("n_occ"),
                    F.substring(F.col("text"), start,
                                pos + 31 - start).alias("snippet")))


# ===========================================================================
# merged from queries_r7p.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (fifteenth batch) X227-X230: LTV
buildup curve, univariate feature screen, zone-map skip-rate audit,
and SLO error-budget burn rate — what users are worth by age (X187
tracks who returns), first-pass feature triage via per-feature AUC,
pricing a sort rewrite before paying for it, and the Google-SRE
multiwindow alert rule as a query.
"""


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X227 — LTV buildup curve
# ---------------------------------------------------------------------------

@query(
    "ltv_curve_users",
    """
    WITH f AS (SELECT user_id, min(ts)::DATE AS fd
               FROM events GROUP BY 1),
    sz AS (SELECT count(*)::DOUBLE AS size FROM f),
    rev AS (
      SELECT date_diff('day', f.fd, e.ts::DATE) AS t_days,
             floor(sum(e.value) * 10000 + 0.5) / 10000 AS rev_day
      FROM events e JOIN f USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1)
    SELECT t_days, rev_day,
           floor(sum(rev_day) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) / size * 10000 + 0.5) / 10000
             AS cum_rev_per_user
    FROM rev, sz
    """,
)
def ltv_curve_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X227 — cumulative purchase revenue per user by day-of-life
    (``behavioral.ltv_curve``): daily revenue rounded BEFORE the
    running sum so both engines accumulate identical doubles."""
    from sync_cosmos_db_spark.operators.behavioral import ltv_curve

    ev = load_table(spark, sf_dir, "events")
    return ltv_curve(ev)


# ---------------------------------------------------------------------------
# X228 — univariate feature screen
# ---------------------------------------------------------------------------

@query(
    "feature_screen_orders",
    """
    WITH feats AS (
      SELECT o_totalprice::DOUBLE AS f_price,
             date_diff('day', DATE '1992-01-01',
                       o_orderdate::DATE)::DOUBLE AS f_day,
             (translate(substr(sha256(o_orderkey::VARCHAR || ':fs'),
                               1, 6), 'abcdef', '012345')::BIGINT
              % 1000 / 1000.0) AS f_noise,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    u AS (
      SELECT 'f_price' AS feature, f_price AS s, y FROM feats
      UNION ALL
      SELECT 'f_day', f_day, y FROM feats
      UNION ALL
      SELECT 'f_noise', f_noise, y FROM feats),
    g AS (SELECT feature, s, count(*)::BIGINT AS n,
                 sum(y)::BIGINT AS np
          FROM u GROUP BY 1, 2),
    o AS (SELECT feature, s, n, np,
                 coalesce(sum(n) OVER (PARTITION BY feature
                          ORDER BY s ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING), 0) AS off
          FROM g),
    agg AS (SELECT feature,
                   sum(np * (off + (n + 1) / 2.0)) AS rank_pos,
                   sum(np)::BIGINT AS n_pos,
                   sum(n - np)::BIGINT AS n_neg
            FROM o GROUP BY 1)
    SELECT feature, n_pos, n_neg,
           floor((rank_pos - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos::DOUBLE * n_neg) * 1000000 + 0.5)
             / 1000000 AS auc
    FROM agg
    """,
)
def feature_screen_orders(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X228 — univariate AUC screen of three candidate features for
    the finalized-order flag (``profiling.feature_screen_auc``):
    order date discriminates strongly (old orders finalize), price
    weakly, and the sha2-noise feature pins to ≈ 0.5 — the triage
    table, one X179 pass per feature."""
    from sync_cosmos_db_spark.operators.profiling import (
        feature_screen_auc,
    )

    orders = load_table(spark, sf_dir, "orders")
    noise = (F.pmod(
        F.translate(F.substring(
            F.sha2(F.concat(F.col("o_orderkey").cast("string"),
                            F.lit(":fs")), 256), 1, 6),
            "abcdef", "012345").cast("bigint"), F.lit(1000)) / 1000.0)
    feats = {
        "f_price": F.col("o_totalprice").cast("double"),
        "f_day": F.datediff(F.to_date("o_orderdate"),
                            F.to_date(F.lit("1992-01-01")))
        .cast("double"),
        "f_noise": noise,
    }
    y = (F.col("o_orderstatus") == "F").cast("long")
    return feature_screen_auc(orders, y, feats)


# ---------------------------------------------------------------------------
# X229 — zone-map skip-rate audit
# ---------------------------------------------------------------------------

@query(
    "zone_map_audit_lineitem",
    """
    WITH d AS (
      SELECT date_diff('day', DATE '1992-01-01', l_shipdate::DATE)
               ::DOUBLE AS ship_day,
             (l_orderkey * 8 + l_linenumber)::BIGINT AS lid
      FROM lineitem),
    s_idx AS (SELECT ship_day, lid,
                     row_number() OVER (ORDER BY ship_day, lid)
                       AS gi
              FROM d),
    a_idx AS (SELECT ship_day, lid,
                     row_number() OVER (ORDER BY lid, ship_day)
                       AS gi
              FROM d),
    s_grp AS (SELECT (gi - 1) // 1000 AS grp, min(ship_day) AS lo,
                     max(ship_day) AS hi
              FROM s_idx GROUP BY 1),
    a_grp AS (SELECT (gi - 1) // 1000 AS grp, min(ship_day) AS lo,
                     max(ship_day) AS hi
              FROM a_idx GROUP BY 1),
    probes AS (SELECT 2000.0::DOUBLE AS plo, 2030.0::DOUBLE AS phi
               UNION ALL
               SELECT 1000.0::DOUBLE, 1365.0::DOUBLE),
    ev AS (
      SELECT 'sorted' AS layout, p.plo, p.phi,
             count(*)::BIGINT AS n_groups,
             sum(CASE WHEN hi < p.plo OR lo > p.phi
                      THEN 1 ELSE 0 END)::BIGINT AS n_skipped
      FROM s_grp, probes p GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'arrival', p.plo, p.phi, count(*)::BIGINT,
             sum(CASE WHEN hi < p.plo OR lo > p.phi
                      THEN 1 ELSE 0 END)::BIGINT
      FROM a_grp, probes p GROUP BY 1, 2, 3)
    SELECT layout, plo AS probe_lo, phi AS probe_hi, n_groups,
           n_skipped,
           floor(n_skipped::DOUBLE / n_groups * 10000 + 0.5)
             / 10000 AS skip_rate
    FROM ev
    """,
)
def zone_map_audit_lineitem(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X229 — zone-map skip rates for ship-day range probes under a
    shipdate-sorted layout vs arrival (line-id) order
    (``sinks.zone_map_skip_audit``): the sorted layout skips almost
    every 1000-row group outside the probe range; arrival order
    skips almost none — the measured case for paying the X78 sort
    job."""
    from sync_cosmos_db_spark.sinks import zone_map_skip_audit

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.datediff(F.to_date("l_shipdate"),
                   F.to_date(F.lit("1992-01-01"))).cast("double")
        .alias("ship_day"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long").alias("lid"))
    return zone_map_skip_audit(
        d, "ship_day", "ship_day", "lid",
        [(2000.0, 2030.0), (1000.0, 1365.0)], rows_per_group=1000)


# ---------------------------------------------------------------------------
# X230 — SLO burn rate
# ---------------------------------------------------------------------------

@query(
    "slo_burn_rate_events",
    """
    WITH b AS (
      SELECT epoch_us(ts) // 600000000 AS bkt,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'error'
                      THEN 1 ELSE 0 END)::BIGINT AS nerr
      FROM events GROUP BY 1),
    w AS (
      SELECT bkt, n, nerr,
             sum(nerr) OVER w1 AS e1, sum(n) OVER w1 AS t1,
             sum(nerr) OVER w6 AS e6, sum(n) OVER w6 AS t6
      FROM b
      WINDOW w1 AS (ORDER BY bkt RANGE BETWEEN 5 PRECEDING
                    AND CURRENT ROW),
             w6 AS (ORDER BY bkt RANGE BETWEEN 35 PRECEDING
                    AND CURRENT ROW))
    SELECT bkt, n, nerr,
           floor(e1::DOUBLE / t1 / 0.25 * 10000 + 0.5) / 10000
             AS burn_1h,
           floor(e6::DOUBLE / t6 / 0.25 * 10000 + 0.5) / 10000
             AS burn_6h,
           (e1::DOUBLE / t1 / 0.25 > 1.2
            AND e6::DOUBLE / t6 / 0.25 > 1.0) AS alert
    FROM w
    """,
)
def slo_burn_rate_events(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """X230 — multiwindow SLO error-budget burn (Google SRE rule):
    error share per 10-minute bucket over trailing 1 h and 6 h
    RANGE frames (gap-correct on the integer bucket index), burn =
    rate / 25% budget, alert when the fast window exceeds 1.2× AND
    the slow window 1.0× — flapping-proof by construction.  The
    windows run over the O(buckets) collapsed table; the alert
    compares ratios of exact integers in both engines."""
    ev = load_table(spark, sf_dir, "events")
    b = (ev.groupBy(F.expr("unix_micros(ts) div 600000000")
                    .alias("bkt"))
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("event_type") == "error", 1)
                    .otherwise(0)).cast("long").alias("nerr")))
    w1 = W.orderBy("bkt").rangeBetween(-5, 0)
    w6 = W.orderBy("bkt").rangeBetween(-35, 0)
    d = (b.withColumn("e1", F.sum("nerr").over(w1))
         .withColumn("t1", F.sum("n").over(w1))
         .withColumn("e6", F.sum("nerr").over(w6))
         .withColumn("t6", F.sum("n").over(w6)))
    r1 = F.col("e1") / F.col("t1") / 0.25
    r6 = F.col("e6") / F.col("t6") / 0.25
    return d.select(
        "bkt", "n", "nerr",
        (F.floor(r1 * 10000 + F.lit(0.5)) / 10000).alias("burn_1h"),
        (F.floor(r6 * 10000 + F.lit(0.5)) / 10000).alias("burn_6h"),
        ((r1 > 1.2) & (r6 > 1.0)).alias("alert"))


# ===========================================================================
# merged from queries_r7q.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (sixteenth batch) X231-X234: numeric
WOE over equi-depth deciles, HHI concentration index, sweep-line
peak concurrency, and rolling robust z anomaly tagging — X175's
categorical encoder extended to numerics through X199's exact bins,
the antitrust/risk concentration number beside X139's Gini, the
how-many-at-once capacity metric without an interval self-join, and
the outlier-immune sibling of X72's control limits.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X231 — numeric WOE over equi-depth deciles
# ---------------------------------------------------------------------------

@query(
    "woe_price_deciles",
    """
    WITH idx AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
               AS gi,
             count(*) OVER () AS n
      FROM orders),
    b AS (SELECT (gi - 1) * 10 // n AS category, y FROM idx),
    per_cat AS (SELECT category, count(*)::BIGINT AS n,
                       sum(y)::BIGINT AS n_good
                FROM b GROUP BY 1),
    wc AS (SELECT *, (n - n_good)::BIGINT AS n_bad FROM per_cat),
    tot AS (SELECT sum(n_good) AS gt, sum(n_bad) AS bt FROM wc),
    j AS (SELECT wc.*, (n_good + 0.5) / (gt + 1.0) AS gs,
                 (n_bad + 0.5) / (bt + 1.0) AS bs
          FROM wc, tot)
    SELECT category, n, n_good, n_bad,
           floor(ln(gs / bs) * 1000000 + 0.5) / 1000000 AS woe,
           floor((gs - bs) * ln(gs / bs) * 1000000 + 0.5) / 1000000
             AS iv_contrib
    FROM j
    """,
)
def woe_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X231 — numeric weight-of-evidence: order price cut into EXACT
    equi-depth deciles (the X199 two-phase rank, no quantile
    estimates) and fed through X175's Laplace-smoothed WOE — the
    monotonic-binning credit-scoring move for continuous features,
    built by composing two proven operators."""
    from sync_cosmos_db_spark.operators.curation import (
        global_sort_index,
    )
    from sync_cosmos_db_spark.operators.profiling import woe_encoding

    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    idx = global_sort_index(
        orders.select(F.col("o_totalprice").alias("v"),
                      F.col("o_orderkey").alias("tb"),
                      (F.col("o_orderstatus") == "F").cast("long")
                      .alias("y")),
        "v", "tb", out_col="__gi")
    binned = idx.withColumn(
        "category", F.expr(f"(__gi - 1) * 10 div {int(n)}"))
    return woe_encoding(binned, "category", F.col("y"))


# ---------------------------------------------------------------------------
# X232 — HHI concentration
# ---------------------------------------------------------------------------

@query(
    "hhi_segment_customers",
    """
    WITH cr AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey AS cust,
             sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT) AS c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    t AS (SELECT segment, sum(c)::BIGINT AS tot,
                 count(*)::BIGINT AS n_cust
          FROM cr GROUP BY 1)
    SELECT cr.segment, t.n_cust,
           floor(sum((cr.c::DOUBLE / t.tot) * (cr.c::DOUBLE / t.tot))
                 * 10000 * 10000 + 0.5) / 10000 AS hhi_points
    FROM cr JOIN t USING (segment)
    GROUP BY 1, 2
    """,
)
def hhi_segment_customers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X232 — Herfindahl–Hirschman concentration of customer revenue
    per market segment (0–10000 points): Σ share² on integer-cents
    shares — the dependence-risk number beside X139's inequality
    Gini (a segment can be equal-but-concentrated or skewed-but-
    diffuse; the two indices disagree exactly when it matters)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cr = (orders.join(cust, orders.o_custkey == cust.c_custkey)
          .groupBy(F.col("c_mktsegment").alias("segment"),
                   F.col("o_custkey").alias("cust"))
          .agg(F.sum(F.floor(F.col("o_totalprice") * 100
                              + F.lit(0.5)).cast("long")).alias("c")))
    t = cr.groupBy("segment").agg(
        F.sum("c").alias("tot"),
        F.count("*").cast("long").alias("n_cust"))
    share = F.col("c") / F.col("tot")
    return (cr.join(t, "segment")
            .groupBy("segment", "n_cust")
            .agg((F.floor(F.sum(share * share) * 10000 * 10000
                          + F.lit(0.5)) / 10000).alias("hhi_points")))


# ---------------------------------------------------------------------------
# X233 — sweep-line peak concurrency
# ---------------------------------------------------------------------------

@query(
    "peak_concurrency_daily",
    """
    WITH spans AS (
      SELECT ts::DATE AS day, user_id,
             min(epoch_us(ts)) AS s, max(epoch_us(ts)) + 1 AS e
      FROM events GROUP BY 1, 2),
    pts AS (
      SELECT day, s AS t, 1 AS delta FROM spans
      UNION ALL
      SELECT day, e, -1 FROM spans),
    run AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c
      FROM pts)
    SELECT r.day, sp.n_sessions, r.peak_concurrency
    FROM (SELECT day, max(c)::BIGINT AS peak_concurrency
          FROM run GROUP BY 1) r
    JOIN (SELECT day, count(*)::BIGINT AS n_sessions
          FROM spans GROUP BY 1) sp USING (day)
    """,
)
def peak_concurrency_daily(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X233 — daily peak concurrent user spans
    (``behavioral.peak_concurrency``): ±1 endpoint sweep on one
    day-partitioned sort window — no interval self-join, ends
    before starts at microsecond ties."""
    from sync_cosmos_db_spark.operators.behavioral import (
        peak_concurrency,
    )

    ev = load_table(spark, sf_dir, "events")
    return peak_concurrency(ev)


# ---------------------------------------------------------------------------
# X234 — rolling robust z
# ---------------------------------------------------------------------------

@query(
    "rolling_robust_z_revenue",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS y
      FROM orders GROUP BY 1, 2),
    x AS (SELECT prio, d,
                 date_diff('day', DATE '1992-01-01', d) AS xd, y
          FROM daily),
    w AS (SELECT prio, d, y,
                 count(*) OVER win AS n,
                 quantile_cont(y, 0.5) OVER win AS med,
                 quantile_cont(y, 0.25) OVER win AS p25,
                 quantile_cont(y, 0.75) OVER win AS p75
          FROM x
          WINDOW win AS (PARTITION BY prio ORDER BY xd
                         RANGE BETWEEN 27 PRECEDING
                         AND CURRENT ROW))
    SELECT prio, d, y,
           CASE WHEN n >= 10 AND p75 - p25 > 0
                THEN floor((y - med) / ((p75 - p25) / 1.349)
                           * 10000 + 0.5) / 10000
           END AS robust_z,
           CASE WHEN n >= 10 AND p75 - p25 > 0
                THEN abs((y - med) / ((p75 - p25) / 1.349)) > 3
           END AS is_anomaly
    FROM w
    """,
)
def rolling_robust_z_revenue(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X234 — rolling robust z of daily revenue cents per priority
    (``temporal.rolling_robust_z``): 28-day RANGE frame, median/IQR
    scale, NULL under 10 observations or zero IQR."""
    from sync_cosmos_db_spark.operators.temporal import (
        rolling_robust_z,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")).alias("y")))
    return rolling_robust_z(daily, "prio", "d", "y",
                            window_days=28, min_obs=10)


# ===========================================================================
# merged from queries_r7r.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (seventeenth batch) X235-X238:
fulfillment lead-time SLA profile, header/detail reconciliation,
distinctive terms by prior-regularized log-odds, and gold-label
aggregation with an explicit tie policy — the order-to-ship SLA
numbers, the finance-closing cross-table audit beside X76's FD
check, Monroe's fightin'-words beside X140's KL, and the
labeling-ops trust table beside X178's kappa.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X235 — lead-time SLA profile
# ---------------------------------------------------------------------------

@query(
    "lead_time_sla_priority",
    """
    WITH lt AS (
      SELECT o.o_orderpriority AS prio,
             date_diff('day', o.o_orderdate::DATE,
                       l.l_shipdate::DATE) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT prio, count(*)::BIGINT AS n_lines,
           floor(quantile_cont(days, 0.5) * 10000 + 0.5) / 10000
             AS p50_days,
           floor(quantile_cont(days, 0.9) * 10000 + 0.5) / 10000
             AS p90_days,
           floor(sum(CASE WHEN days > 90 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 10000 + 0.5) / 10000 AS late_rate
    FROM lt GROUP BY 1
    """,
)
def lead_time_sla_priority(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X235 — order→ship lead time per priority: exact p50/p90 days
    and the >90-day late rate — the fulfillment SLA scorecard, one
    join + one group reduce with exact percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lt = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_orderpriority").alias("prio"),
                  F.datediff(F.to_date("l_shipdate"),
                             F.to_date("o_orderdate"))
                  .cast("long").alias("days")))
    fr = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return (lt.groupBy("prio")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 fr(F.percentile("days", F.lit(0.5)))
                 .alias("p50_days"),
                 fr(F.percentile("days", F.lit(0.9)))
                 .alias("p90_days"),
                 fr(F.sum((F.col("days") > 90).cast("long"))
                    / F.count("*")).alias("late_rate")))


# ---------------------------------------------------------------------------
# X236 — header/detail reconciliation
# ---------------------------------------------------------------------------

@query(
    "reconcile_orders_lineitem",
    """
    WITH d AS (SELECT l_orderkey AS k, sum(l_extendedprice) AS ds
               FROM lineitem GROUP BY 1),
    j AS (SELECT o.o_orderpriority AS prio, o.o_totalprice AS h,
                 d.ds
          FROM orders o LEFT JOIN d ON d.k = o.o_orderkey)
    SELECT prio, count(ds)::BIGINT AS n_matched_rows,
           sum(CASE WHEN ds IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_no_detail,
           sum(CASE WHEN ds IS NOT NULL
                     AND abs(h - ds) / h * 100 <= 1.0
                    THEN 1 ELSE 0 END)::BIGINT AS n_within_tol,
           floor(quantile_cont(h / ds, 0.5) * 10000 + 0.5) / 10000
             AS median_ratio,
           floor(quantile_cont(abs(h - ds) / h * 100, 0.9)
                 * 10000 + 0.5) / 10000 AS p90_abs_pct_err
    FROM j GROUP BY 1
    """,
)
def reconcile_orders_lineitem(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X236 — header/detail reconciliation of order totals vs the
    sum of their lineitem prices
    (``expectations.header_detail_reconciliation``): in THIS
    synthetic corpus the header runs a systematic ~2.7× over the
    detail — exactly the formula-mismatch signature (tax/discount/
    multiplier) the median-ratio column exists to expose."""
    from sync_cosmos_db_spark.operators.expectations import (
        header_detail_reconciliation,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("h"),
        F.col("o_orderpriority").alias("prio"))
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice")
    return header_detail_reconciliation(
        orders, li, "k", "h", "l_extendedprice", "prio",
        tol_pct=1.0)


# ---------------------------------------------------------------------------
# X237 — distinctive terms
# ---------------------------------------------------------------------------

@query(
    "distinctive_terms_sources",
    """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents),
    counts AS (SELECT g, tok, count(*)::DOUBLE AS c
               FROM toks WHERE tok <> '' GROUP BY 1, 2),
    tt AS (SELECT tok, sum(c) AS ct FROM counts GROUP BY 1),
    gt AS (SELECT g, sum(c) AS ng FROM counts GROUP BY 1),
    n AS (SELECT sum(c) AS n FROM counts),
    j AS (SELECT counts.g, counts.tok, counts.c, tt.ct, gt.ng, n.n
          FROM counts JOIN tt USING (tok) JOIN gt USING (g), n),
    sc AS (SELECT g, tok, c,
                  floor((ln((c + 1.0) / (ng - c + 1.0))
                         - ln((ct - c + 1.0)
                              / (n - ng - (ct - c) + 1.0)))
                        / sqrt(1.0 / (c + 1.0)
                               + 1.0 / (ct - c + 1.0))
                        * 10000 + 0.5) / 10000 AS z
           FROM j),
    rk AS (SELECT *, row_number() OVER (PARTITION BY g
                                        ORDER BY z DESC, tok)
             AS rank
           FROM sc)
    SELECT g AS source, rank::BIGINT AS rank, tok AS token,
           c::BIGINT AS n_in_group, z
    FROM rk WHERE rank <= 5
    """,
)
def distinctive_terms_sources(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X237 — top-5 distinctive terms per source by Dirichlet-prior
    log-odds z (``text.distinctive_terms``): the variance term
    shrinks rare-token flukes that raw KL (X140) and TF-IDF inflate;
    ranking on the ROUNDED z keeps both engines' elections
    identical."""
    from sync_cosmos_db_spark.operators.text import distinctive_terms

    docs = load_table(spark, sf_dir, "documents")
    return distinctive_terms(docs, "source", "text", top_k=5)


# ---------------------------------------------------------------------------
# X238 — gold-label aggregation
# ---------------------------------------------------------------------------

@query(
    "gold_labels_events",
    """
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS y
      FROM events),
    ann AS (
      SELECT event_id, 'a1' AS annotator,
             CASE WHEN translate(substr(sha256(event_id::VARCHAR
                    || ':a1'), 1, 3), 'abcdef', '012345')::BIGINT
                    % 100 < 20 THEN 1 - y ELSE y END AS lab
      FROM base
      UNION ALL
      SELECT event_id, 'a2',
             CASE WHEN translate(substr(sha256(event_id::VARCHAR
                    || ':a2'), 1, 3), 'abcdef', '012345')::BIGINT
                    % 100 < 20 THEN 1 - y ELSE y END
      FROM base
      UNION ALL
      SELECT event_id, 'a3',
             CASE WHEN translate(substr(sha256(event_id::VARCHAR
                    || ':a3'), 1, 3), 'abcdef', '012345')::BIGINT
                    % 100 < 20 THEN 1 - y ELSE y END
      FROM base
      UNION ALL
      SELECT event_id, 'a4',
             CASE WHEN translate(substr(sha256(event_id::VARCHAR
                    || ':a4'), 1, 3), 'abcdef', '012345')::BIGINT
                    % 100 < 20 THEN 1 - y ELSE y END
      FROM base),
    votes AS (SELECT event_id, count(*) AS nv, sum(lab) AS s
              FROM ann GROUP BY 1),
    maj AS (SELECT event_id,
                   CASE WHEN s * 2 > nv THEN 1
                        WHEN s * 2 < nv THEN 0 END AS gold
            FROM votes),
    pa AS (
      SELECT a.annotator,
             count(*)::BIGINT AS n_decided,
             sum(CASE WHEN a.lab = m.gold THEN 1 ELSE 0 END)
               ::BIGINT AS n_agree
      FROM ann a JOIN maj m USING (event_id)
      WHERE m.gold IS NOT NULL GROUP BY 1)
    SELECT annotator, n_decided, n_agree,
           floor(n_agree::DOUBLE / n_decided * 10000 + 0.5) / 10000
             AS agreement_rate
    FROM pa
    UNION ALL
    SELECT '__ties__',
           sum(CASE WHEN gold IS NULL THEN 1 ELSE 0 END)::BIGINT,
           0::BIGINT, NULL::DOUBLE
    FROM maj
    """,
)
def gold_labels_events(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """X238 — majority gold labels from four deterministic
    sha2-noised annotators of the purchase flag (20% independent
    flips — the X178 perturbation discipline), with 2-2 ties
    reported as undecided (``curation.aggregate_annotations``): who
    to trust and how much gold survives."""
    from sync_cosmos_db_spark.operators.curation import (
        aggregate_annotations,
    )

    ev = load_table(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    base = ev.select(F.col("event_id").alias("item"), y.alias("y"))

    def annot(k):
        u = F.pmod(
            F.translate(F.substring(F.sha2(F.concat(
                F.col("item").cast("string"), F.lit(f":a{k}")), 256),
                1, 3), "abcdef", "012345").cast("bigint"),
            F.lit(100))
        lab = F.when(u < 20, 1 - F.col("y")).otherwise(F.col("y"))
        return base.select("item", F.lit(f"a{k}").alias("annotator"),
                           lab.alias("lab"))

    ann = annot(1).unionByName(annot(2)) \
        .unionByName(annot(3)).unionByName(annot(4))
    return aggregate_annotations(ann, "item", "annotator", "lab")


# ===========================================================================
# merged from queries_r7s.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (eighteenth batch) X239-X242:
diversity-constrained top-k, Wilson lower-bound ranking, activity
streaks, and CUPED-adjusted experiment readout — the feed that can't
be monopolized by one source, ranking-under-uncertainty done right
(sort by the lower bound, not the rate), the engagement metric DAU
can't see, and X107's readout sharpened by a pre-period covariate.
"""


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X239 — diversity-constrained top-k
# ---------------------------------------------------------------------------

@query(
    "diversified_topk_docs",
    """
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id)
               AS rs
      FROM documents),
    k AS (SELECT doc_id, source, n_chars FROM r WHERE rs <= 3),
    g AS (SELECT *, row_number() OVER (ORDER BY n_chars DESC,
                                       doc_id) AS rank
          FROM k)
    SELECT rank::BIGINT AS rank, doc_id, source, n_chars
    FROM g WHERE rank <= 12
    """,
)
def diversified_topk_docs(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X239 — global top-12 longest documents with AT MOST 3 per
    source: a per-source WindowGroupLimit prunes to ≤3·|sources|
    candidates, then one tiny global rank — the feed-diversity
    constraint a plain top-k (A4) can't express, with the global
    sort touching only the pruned candidates."""
    docs = load_table(spark, sf_dir, "documents")
    rs = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("n_chars").desc(),
                                        "doc_id"))
    k = (docs.withColumn("rs", rs).filter(F.col("rs") <= 3)
         .select("doc_id", "source", "n_chars"))
    # TakeOrderedAndProject over the <=3*|sources| candidates, then
    # rank the surviving 12 (global rank<=k windows never get the
    # WindowGroupLimit rewrite — same fix as wilson_return_rate_parts)
    top = k.orderBy(F.col("n_chars").desc(), "doc_id").limit(12)
    g = F.row_number().over(
        W.orderBy(F.col("n_chars").desc(), "doc_id"))
    return (top.withColumn("rank", g.cast("long"))
            .select("rank", "doc_id", "source", "n_chars"))


# ---------------------------------------------------------------------------
# X240 — Wilson lower-bound ranking
# ---------------------------------------------------------------------------

@query(
    "wilson_return_rate_parts",
    """
    WITH pr AS (
      SELECT l_partkey AS part, count(*)::BIGINT AS n,
             sum(CASE WHEN l_returnflag = 'R'
                      THEN 1 ELSE 0 END)::BIGINT AS r
      FROM lineitem GROUP BY 1),
    wl AS (
      SELECT part, n, r,
             floor(((r::DOUBLE / n + 1.9208 / n
                     - 1.96 * sqrt((r::DOUBLE / n)
                                   * (1 - r::DOUBLE / n) / n
                                   + 0.9604 / (n * n)))
                    / (1 + 3.8416 / n)) * 1000000 + 0.5)
               / 1000000 AS wilson_lb
      FROM pr WHERE n >= 5),
    rk AS (SELECT *, row_number() OVER (ORDER BY wilson_lb DESC,
                                        part) AS rank
           FROM wl)
    SELECT rank::BIGINT AS rank, part, n, r, wilson_lb
    FROM rk WHERE rank <= 20
    """,
)
def wilson_return_rate_parts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X240 — top-20 parts by the Wilson 95% LOWER bound of their
    return rate: a 3/4-returned part ranks below a 40/60 one — the
    rank-by-lower-bound discipline that stops small-n flukes from
    topping the wall of shame (the X111 bootstrap answers the same
    doubt by resampling; Wilson is its closed form)."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = (li.groupBy(F.col("l_partkey").alias("part"))
          .agg(F.count("*").cast("long").alias("n"),
               F.sum((F.col("l_returnflag") == "R").cast("long"))
               .cast("long").alias("r")))
    n, r = F.col("n"), F.col("r")
    phat = r.cast("double") / n
    lb = ((phat + 1.9208 / n
           - 1.96 * F.sqrt(phat * (1 - phat) / n
                           + 0.9604 / (n * n)))
          / (1 + 3.8416 / n))
    wl = (pr.filter(n >= 5)
          .withColumn("wilson_lb",
                      F.floor(lb * 1000000 + F.lit(0.5)) / 1000000))
    # distributed top-k (TakeOrderedAndProject) over the |parts|-row
    # aggregate, THEN rank the surviving <=20 rows: a global
    # rank<=k window never gets the WindowGroupLimit rewrite
    # (InferWindowGroupLimit skips empty partition specs), so the old
    # form single-partition-sorted every part
    top = (wl.orderBy(F.col("wilson_lb").desc(), "part").limit(20))
    rk = F.row_number().over(
        W.orderBy(F.col("wilson_lb").desc(), "part"))
    return (top.withColumn("rank", rk.cast("long"))
            .select("rank", "part", "n", "r", "wilson_lb"))


# ---------------------------------------------------------------------------
# X241 — activity streaks
# ---------------------------------------------------------------------------

@query(
    "activity_streaks_users",
    """
    WITH days AS (SELECT DISTINCT user_id AS u, ts::DATE AS d
                  FROM events),
    a AS (SELECT u, d,
                 d - row_number() OVER (PARTITION BY u
                                        ORDER BY d)::INT AS anchor
          FROM days),
    runs AS (SELECT u, anchor, count(*)::BIGINT AS len,
                    max(d) AS e
             FROM a GROUP BY 1, 2),
    fin AS (SELECT u, len AS final_len,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY e DESC) AS rn
            FROM runs),
    agg AS (SELECT u, sum(len)::BIGINT AS n_active_days,
                   count(*)::BIGINT AS n_streaks,
                   max(len)::BIGINT AS longest_streak
            FROM runs GROUP BY 1)
    SELECT agg.u AS user_id, agg.n_active_days, agg.n_streaks,
           agg.longest_streak, fin.final_len::BIGINT AS final_streak
    FROM agg JOIN fin ON fin.u = agg.u AND fin.rn = 1
    """,
)
def activity_streaks_users(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X241 — consecutive-active-day streaks per user
    (``behavioral.activity_streaks``): gaps-and-islands on distinct
    active days, one user-keyed exchange end to end."""
    from sync_cosmos_db_spark.operators.behavioral import (
        activity_streaks,
    )

    ev = load_table(spark, sf_dir, "events")
    return activity_streaks(ev)


# ---------------------------------------------------------------------------
# X242 — CUPED experiment readout
# ---------------------------------------------------------------------------

@query(
    "cuped_experiment_users",
    """
    WITH pu AS (
      SELECT user_id,
             CASE WHEN translate(substr(sha256(user_id::VARCHAR
                    || ':exp'), 1, 3), 'abcdef', '012345')::BIGINT
                    % 100 < 50 THEN 'A' ELSE 'B' END AS arm,
             sum(CASE WHEN event_type = 'purchase'
                       AND ts::DATE < DATE '2024-01-16'
                      THEN value ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase'
                       AND ts::DATE >= DATE '2024-01-16'
                      THEN value ELSE 0 END) AS y
      FROM events GROUP BY 1, 2),
    g AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pu),
    t AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx)
                   AS theta,
                 sx / n AS xbar
          FROM g),
    adj AS (SELECT pu.arm, pu.y,
                   pu.y - t.theta * (pu.x - t.xbar) AS ya
            FROM pu, t)
    SELECT arm, count(*)::BIGINT AS n,
           floor(avg(y) * 10000 + 0.5) / 10000 AS mean_y,
           floor(avg(ya) * 10000 + 0.5) / 10000 AS mean_y_adj,
           floor((1.0 - var_samp(ya) / var_samp(y))
                 * 10000 + 0.5) / 10000 AS var_reduction
    FROM adj GROUP BY 1
    """,
)
def cuped_experiment_users(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X242 — CUPED-adjusted readout (``profiling.cuped_readout``)
    of a sha2-assigned 50/50 experiment on second-half-of-January
    purchase value, with first-half value as the pre-period
    covariate: per-arm raw vs adjusted means and the achieved
    variance reduction."""
    from sync_cosmos_db_spark.operators.profiling import cuped_readout

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.pmod(F.translate(F.substring(F.sha2(F.concat(
            F.col("user_id").cast("string"), F.lit(":exp")), 256),
            1, 3), "abcdef", "012345").cast("bigint"),
            F.lit(100)) < 50, "A").otherwise("B")
    cut = F.to_date(F.lit("2024-01-16"))
    is_p = F.col("event_type") == "purchase"
    pu = (ev.groupBy("user_id", arm.alias("arm"))
          .agg(F.sum(F.when(is_p & (F.to_date("ts") < cut),
                            F.col("value")).otherwise(0.0))
               .alias("x"),
               F.sum(F.when(is_p & (F.to_date("ts") >= cut),
                            F.col("value")).otherwise(0.0))
               .alias("y")))
    return cuped_readout(pu, "arm", "y", "x")


# ===========================================================================
# merged from queries_r7t.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (nineteenth batch) X243-X246:
varint posting-list size estimator, calendar completeness audit,
cumulative gains/lift table, and effective-dated reference
conversion — pricing the X221 index before building it, the
missing-days completeness view X161's profile doesn't cover, the
decile capture chart beside X189's threshold sweep, and the
effective-dated lookup every currency/price-list join needs.
"""


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X243 — varint posting-list estimator
# ---------------------------------------------------------------------------

@query(
    "varint_posting_estimate_docs",
    """
    WITH post AS (
      SELECT DISTINCT tok, doc_id
      FROM (SELECT doc_id,
                   unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents)
      WHERE tok <> ''),
    gaps AS (
      SELECT tok,
             coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok
                                                 ORDER BY doc_id),
                      doc_id) AS gap
      FROM post),
    bytes AS (
      SELECT tok, count(*)::BIGINT AS n_post,
             sum(CASE WHEN gap < 128 THEN 1
                      WHEN gap < 16384 THEN 2
                      WHEN gap < 2097152 THEN 3
                      ELSE 4 END)::BIGINT AS vb
      FROM gaps GROUP BY 1),
    banded AS (
      SELECT CASE WHEN n_post = 1 THEN 'hapax'
                  WHEN n_post <= 10 THEN 'rare'
                  WHEN n_post <= 100 THEN 'mid'
                  ELSE 'common' END AS band,
             n_post, vb
      FROM bytes)
    SELECT band, count(*)::BIGINT AS n_tokens,
           sum(n_post)::BIGINT AS n_postings,
           sum(vb)::BIGINT AS varint_bytes,
           (sum(n_post) * 8)::BIGINT AS raw_bytes,
           floor(sum(vb)::DOUBLE / (sum(n_post) * 8)
                 * 10000 + 0.5) / 10000 AS size_ratio
    FROM banded GROUP BY 1
    """,
)
def varint_posting_estimate_docs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """X243 — delta+varint size estimate of the doc-id posting lists
    by token-frequency band: sorted-gap deltas cost 1–4 bytes by
    magnitude vs 8 bytes raw — the compression math that prices the
    X221 trigram/posting index before anyone materializes it, all
    integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    post = (docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("tok", "doc_id").distinct())
    w = W.partitionBy("tok").orderBy("doc_id")
    gap = F.coalesce(F.col("doc_id") - F.lag("doc_id").over(w),
                     F.col("doc_id"))
    vb = (F.when(gap < 128, 1).when(gap < 16384, 2)
          .when(gap < 2097152, 3).otherwise(4))
    by_tok = (post.withColumn("__vb", vb)
              .groupBy("tok")
              .agg(F.count("*").cast("long").alias("n_post"),
                   F.sum("__vb").cast("long").alias("vb")))
    band = (F.when(F.col("n_post") == 1, "hapax")
            .when(F.col("n_post") <= 10, "rare")
            .when(F.col("n_post") <= 100, "mid").otherwise("common"))
    return (by_tok.groupBy(band.alias("band"))
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("n_post").cast("long").alias("n_postings"),
                 F.sum("vb").cast("long").alias("varint_bytes"),
                 (F.sum("n_post") * 8).cast("long").alias("raw_bytes"),
                 (F.floor(F.sum("vb") / (F.sum("n_post") * 8)
                          * 10000 + F.lit(0.5)) / 10000)
                 .alias("size_ratio")))


# ---------------------------------------------------------------------------
# X244 — calendar completeness audit
# ---------------------------------------------------------------------------

@query(
    "calendar_completeness_priority",
    """
    WITH d AS (SELECT DISTINCT o_orderpriority AS prio,
                      o_orderdate::DATE AS day
               FROM orders)
    SELECT prio,
           (date_diff('day', min(day), max(day)) + 1)::BIGINT
             AS span_days,
           count(*)::BIGINT AS present_days,
           (date_diff('day', min(day), max(day)) + 1
            - count(*))::BIGINT AS missing_days,
           floor(count(*)::DOUBLE
                 / (date_diff('day', min(day), max(day)) + 1)
                 * 10000 + 0.5) / 10000 AS completeness
    FROM d GROUP BY 1
    """,
)
def calendar_completeness_priority(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """X244 — calendar completeness per priority: distinct observed
    days vs the key's own [min, max] span — the missing-days view
    that says WHICH keys need the X37/X190 gap-fill before a
    time-series op runs on them; one distinct + one reduce."""
    orders = load_table(spark, sf_dir, "orders")
    d = (orders.select(F.col("o_orderpriority").alias("prio"),
                       F.to_date("o_orderdate").alias("day"))
         .distinct())
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return (d.groupBy("prio")
            .agg(span.cast("long").alias("span_days"),
                 F.count("*").cast("long").alias("present_days"),
                 (span - F.count("*")).cast("long")
                 .alias("missing_days"),
                 (F.floor(F.count("*") / span * 10000 + F.lit(0.5))
                  / 10000).alias("completeness")))


# ---------------------------------------------------------------------------
# X245 — cumulative gains / lift table
# ---------------------------------------------------------------------------

@query(
    "gains_table_orders",
    """
    WITH idx AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             row_number() OVER (ORDER BY o_totalprice DESC,
                                o_orderkey) AS gi,
             count(*) OVER () AS n
      FROM orders),
    b AS (SELECT (gi - 1) * 10 // n AS decile, y FROM idx),
    per AS (SELECT decile, count(*)::BIGINT AS n_rows,
                   sum(y)::BIGINT AS n_pos
            FROM b GROUP BY 1),
    tot AS (SELECT sum(n_pos)::DOUBLE AS tp,
                   sum(n_rows)::DOUBLE AS tn
            FROM per)
    SELECT decile, n_rows, n_pos,
           floor(n_pos::DOUBLE / n_rows * 10000 + 0.5) / 10000
             AS response_rate,
           floor(sum(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) / tp * 10000 + 0.5) / 10000
             AS cum_capture,
           floor((n_pos::DOUBLE / n_rows) / (tp / tn)
                 * 10000 + 0.5) / 10000 AS lift
    FROM per, tot
    """,
)
def gains_table_orders(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """X245 — cumulative gains/lift table: orders ranked by price
    (the 'model score'), cut into exact deciles via the X199
    two-phase rank, per-decile response rate / cumulative capture
    of finalized orders / lift vs base — the campaign-targeting
    chart feed beside X189's threshold confusion sweep (capture at
    a CONTACT BUDGET, not a score cut)."""
    from sync_cosmos_db_spark.operators.curation import (
        global_sort_index,
    )

    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    idx = global_sort_index(
        orders.select((-F.col("o_totalprice")).alias("negp"),
                      F.col("o_orderkey").alias("tb"),
                      (F.col("o_orderstatus") == "F").cast("long")
                      .alias("y")),
        "negp", "tb", out_col="__gi")
    per = (idx.withColumn("decile",
                          F.expr(f"(__gi - 1) * 10 div {int(n)}"))
           .groupBy("decile")
           .agg(F.count("*").cast("long").alias("n_rows"),
                F.sum("y").cast("long").alias("n_pos")))
    full = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    run = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    tp = F.sum("n_pos").over(full).cast("double")
    tn = F.sum("n_rows").over(full).cast("double")
    fr = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return per.select(
        "decile", "n_rows", "n_pos",
        fr(F.col("n_pos") / F.col("n_rows")).alias("response_rate"),
        fr(F.sum("n_pos").over(run) / tp).alias("cum_capture"),
        fr((F.col("n_pos") / F.col("n_rows")) / (tp / tn))
        .alias("lift"))


# ---------------------------------------------------------------------------
# X246 — effective-dated reference conversion
# ---------------------------------------------------------------------------

@query(
    "effective_rate_revenue",
    """
    WITH rates AS (
      SELECT DATE '1995-01-01' AS eff, 1.0::DOUBLE AS rate
      UNION ALL SELECT DATE '1996-07-01', 1.1::DOUBLE
      UNION ALL SELECT DATE '1998-01-01', 0.9::DOUBLE
      UNION ALL SELECT DATE '2000-01-01', 1.25::DOUBLE),
    m AS (
      SELECT o.o_orderpriority AS prio, o.o_totalprice, r.eff,
             r.rate,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY r.eff DESC) AS rn
      FROM orders o JOIN rates r ON r.eff <= o.o_orderdate::DATE)
    SELECT prio, eff AS rate_from, rate,
           count(*)::BIGINT AS n_orders,
           sum(floor(o_totalprice * rate * 100 + 0.5)::BIGINT) / 100.0
             AS converted_revenue
    FROM m WHERE rn = 1 GROUP BY 1, 2, 3
    """,
)
def effective_rate_revenue(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """X246 — effective-dated reference conversion: order totals
    converted by the rate whose effective-from is the LATEST at or
    before the order date, then revenue per (priority, rate
    period).  The 4-row rate table is INTERVALIZED (each row carries
    its successor's effective-from) and broadcast into a range join
    — for tiny reference data that beats an as-of sort (a constant
    join key would single-partition the fact side); a large rate
    table would use ``temporal.asof_join`` keyed by currency
    instead (stated).  The oracle's per-order row_number pick is
    the quadratic form both shapes avoid."""
    import datetime as dt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.to_date("o_orderdate"),
                   F.to_date(F.lit("1970-01-01"))).alias("od"))
    epoch = dt.date(1970, 1, 1)
    raw = [("1995-01-01", 1.0), ("1996-07-01", 1.1),
           ("1998-01-01", 0.9), ("2000-01-01", 1.25)]
    rows = []
    for i, (eff, rate) in enumerate(raw):
        lo = (dt.date.fromisoformat(eff) - epoch).days
        hi = ((dt.date.fromisoformat(raw[i + 1][0]) - epoch).days
              if i + 1 < len(raw) else 10 ** 9)
        rows.append((lo, hi, eff, rate))
    rates = spark.createDataFrame(
        rows, "rd int, rd_next int, eff string, rate double")
    j = orders.join(F.broadcast(rates),
                    (F.col("od") >= F.col("rd"))
                    & (F.col("od") < F.col("rd_next")))
    return (j.groupBy("prio",
                      F.to_date("eff").alias("rate_from"), "rate")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 (F.sum(F.floor(F.col("o_totalprice") * F.col("rate")
                                * 100 + F.lit(0.5)).cast("long"))
                  / 100.0).alias("converted_revenue")))


# ===========================================================================
# merged from queries_r7u.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (twentieth batch) X247-X250: sticky
rollout-ramp audit, nearest-centroid embedding eval, calendar
lag-features builder, and fold-temporal-independence audit — the
percentage-rollout verifier, the do-embeddings-separate-labels
five-minute check, the forecasting design matrix, and the
is-my-splitter-accidentally-temporal QC that closes the loop on
X66's k-fold.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X247 — sticky rollout ramp audit
# ---------------------------------------------------------------------------

@query(
    "ramp_audit_events",
    """
    WITH plan AS (
      SELECT d.day::DATE AS day,
             CASE WHEN d.day::DATE < DATE '2024-01-11' THEN 5
                  WHEN d.day::DATE < DATE '2024-01-21' THEN 25
                  ELSE 50 END AS planned_pct
      FROM (SELECT DISTINCT ts::DATE AS day FROM events) d),
    act AS (
      SELECT DISTINCT ts::DATE AS day, user_id,
             translate(substr(sha256(user_id::VARCHAR || ':ramp'),
                              1, 3), 'abcdef', '012345')::BIGINT
               % 100 AS bucket
      FROM events),
    j AS (SELECT a.day, p.planned_pct, a.bucket
          FROM act a JOIN plan p USING (day))
    SELECT day, planned_pct::BIGINT AS planned_pct,
           count(*)::BIGINT AS n_active,
           sum(CASE WHEN bucket < planned_pct
                    THEN 1 ELSE 0 END)::BIGINT AS n_treated,
           floor(sum(CASE WHEN bucket < planned_pct
                          THEN 1 ELSE 0 END)::DOUBLE / count(*)
                 * 10000 + 0.5) / 10000 AS observed_share,
           CASE WHEN abs(sum(CASE WHEN bucket < planned_pct
                                  THEN 1 ELSE 0 END)::DOUBLE
                         / count(*) - planned_pct / 100.0) <= 0.05
                THEN 'PASS' ELSE 'WARN' END AS verdict
    FROM j GROUP BY day, planned_pct
    """,
)
def ramp_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247 — sticky percentage-rollout audit: users enter treatment
    when their sha2 bucket falls under the day's planned percentage
    (5% → 25% → 50% over January) — a MONOTONE plan makes bucketing
    sticky by construction (nobody exits) — and each day's observed
    treated share among active users is verified against plan
    within ±5 pts.  The verifier every gradual rollout needs and
    almost nobody writes."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    planned = (F.when(day < F.lit("2024-01-11"), 5)
               .when(day < F.lit("2024-01-21"), 25).otherwise(50))
    bucket = F.pmod(
        F.translate(F.substring(F.sha2(F.concat(
            F.col("user_id").cast("string"), F.lit(":ramp")), 256),
            1, 3), "abcdef", "012345").cast("bigint"), F.lit(100))
    act = (ev.select(day.alias("day"), "user_id",
                     planned.cast("long").alias("planned_pct"),
                     bucket.alias("bucket"))
           .distinct())
    treated = (F.col("bucket") < F.col("planned_pct")).cast("long")
    share = F.sum(treated) / F.count("*")
    return (act.groupBy("day", "planned_pct")
            .agg(F.count("*").cast("long").alias("n_active"),
                 F.sum(treated).cast("long").alias("n_treated"),
                 (F.floor(share * 10000 + F.lit(0.5)) / 10000)
                 .alias("observed_share"),
                 F.when(F.abs(share - F.col("planned_pct") / 100.0)
                        <= 0.05, "PASS").otherwise("WARN")
                 .alias("verdict")))


# ---------------------------------------------------------------------------
# X248 — nearest-centroid eval
# ---------------------------------------------------------------------------

@query(
    "nearest_centroid_eval_embeddings",
    """
    WITH ex AS (
      SELECT vec_id AS vid, label AS tl,
             unnest(generate_series(0, len(embedding) - 1)) AS dim,
             unnest(embedding) AS x
      FROM embeddings),
    cent AS (SELECT tl AS cl, dim, avg(x::DOUBLE) AS c
             FROM ex GROUP BY 1, 2),
    d2 AS (SELECT ex.vid, ex.tl, cent.cl,
                  sum((ex.x - cent.c) * (ex.x - cent.c)) AS d2
           FROM ex JOIN cent USING (dim) GROUP BY 1, 2, 3),
    pick AS (SELECT vid, tl, cl,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY d2, cl) AS rn
             FROM d2)
    SELECT tl AS true_label, cl AS pred_label,
           count(*)::BIGINT AS n
    FROM pick WHERE rn = 1 GROUP BY 1, 2
    """,
)
def nearest_centroid_eval_embeddings(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """X248 — nearest-centroid confusion matrix over the labeled
    embeddings (``similarity.nearest_centroid_eval``): per-label
    mean centroids, squared-L2 assignment, (distance, label)
    struct-min election."""
    from sync_cosmos_db_spark.operators.similarity import (
        nearest_centroid_eval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return nearest_centroid_eval(emb)


# ---------------------------------------------------------------------------
# X249 — calendar lag features
# ---------------------------------------------------------------------------

@query(
    "lag_features_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS y
      FROM orders GROUP BY 1, 2)
    SELECT a.prio, a.d, a.y,
           l1.y AS y_lag1, l7.y AS y_lag7,
           a.y - l1.y AS delta1,
           CASE WHEN l7.y > 0
                THEN floor(a.y::DOUBLE / l7.y * 10000 + 0.5) / 10000
           END AS ratio7
    FROM daily a
    LEFT JOIN daily l1 ON l1.prio = a.prio
                      AND l1.d = a.d - INTERVAL 1 DAY
    LEFT JOIN daily l7 ON l7.prio = a.prio
                      AND l7.d = a.d - INTERVAL 7 DAY
    """,
)
def lag_features_daily_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X249 — calendar-correct lag features (t−1, t−7 with deltas
    and week-over-week ratio) for the daily revenue series: two
    (prio, date) self-equi-joins, NOT row-offset lags — a missing
    calendar day yields NULL lags instead of silently reaching
    further back, which is exactly the bug row-lag feature builders
    ship."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")).alias("y")))
    l1 = daily.select(F.col("prio").alias("p1"),
                      F.col("d").alias("d1"),
                      F.col("y").alias("y_lag1"))
    l7 = daily.select(F.col("prio").alias("p7"),
                      F.col("d").alias("d7"),
                      F.col("y").alias("y_lag7"))
    j = (daily
         .join(l1, (F.col("p1") == F.col("prio"))
               & (F.col("d1") == F.date_sub(F.col("d"), 1)), "left")
         .join(l7, (F.col("p7") == F.col("prio"))
               & (F.col("d7") == F.date_sub(F.col("d"), 7)), "left"))
    return j.select(
        "prio", "d", "y", "y_lag1", "y_lag7",
        (F.col("y") - F.col("y_lag1")).alias("delta1"),
        F.when(F.col("y_lag7") > 0,
               F.floor(F.col("y") / F.col("y_lag7") * 10000
                       + F.lit(0.5)) / 10000).alias("ratio7"))


# ---------------------------------------------------------------------------
# X250 — fold-temporal-independence audit
# ---------------------------------------------------------------------------

@query(
    "fold_temporal_audit_orders",
    """
    WITH f AS (
      SELECT translate(substr(sha256(o_orderkey::VARCHAR
               || ':fold'), 1, 3), 'abcdef', '012345')::BIGINT % 5
               AS fold,
             date_trunc('month', o_orderdate) AS m
      FROM orders),
    cells AS (SELECT fold, m, count(*)::DOUBLE AS o
              FROM f GROUP BY 1, 2),
    rt AS (SELECT fold, sum(o) AS rs FROM cells GROUP BY 1),
    ct AS (SELECT m, sum(o) AS cs FROM cells GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM cells),
    chi AS (
      SELECT sum((c.o - rt.rs * ct.cs / n.n)
                 * (c.o - rt.rs * ct.cs / n.n)
                 / (rt.rs * ct.cs / n.n)) AS chi2,
             count(*)::BIGINT AS n_cells
      FROM cells c JOIN rt USING (fold) JOIN ct USING (m), n),
    dims AS (SELECT (SELECT count(*) FROM rt)::BIGINT AS n_folds,
                    (SELECT count(*) FROM ct)::BIGINT AS n_months)
    SELECT n_folds, n_months,
           ((n_folds - 1) * (n_months - 1))::BIGINT AS dof,
           floor(chi2 * 10000 + 0.5) / 10000 AS chi2,
           CASE WHEN chi2 / ((n_folds - 1) * (n_months - 1)) <= 1.5
                THEN 'PASS' ELSE 'WARN' END AS verdict
    FROM chi, dims
    """,
)
def fold_temporal_audit_orders(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X250 — fold×month independence audit of the X66-style sha2
    fold assignment: the chi² of the fold-by-month contingency with
    a chi²/dof ≤ 1.5 PASS bar — a fold scheme that correlates with
    time silently turns cross-validation into extrapolation; the
    hash splitter PASSes by construction, and that is the point of
    auditing it.  Body in ``_fold_temporal_audit`` (round 16) so the
    single-pass contract is accumulator-testable with an injected
    source."""
    return _fold_temporal_audit(load_table(spark, sf_dir, "orders"))


def _fold_temporal_audit(orders: DataFrame) -> DataFrame:
    fold = F.pmod(
        F.translate(F.substring(F.sha2(F.concat(
            F.col("o_orderkey").cast("string"), F.lit(":fold")),
            256), 1, 3), "abcdef", "012345").cast("bigint"),
        F.lit(5))
    # cells is folds×months-sized (tiny at any SF) but feeds FOUR
    # consumers (row totals, column totals, grand total, the chi²
    # join) — without the checkpoint each consumption re-executed the
    # full orders scan+aggregate (round 16, the single-pass class;
    # accumulator-pinned in tests/test_single_pass.py).
    cells = scoped_local_checkpoint(orders.groupBy(
        fold.alias("fold"),
        F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.count("*").cast("double").alias("o")))
    rt = cells.groupBy("fold").agg(F.sum("o").alias("rs"))
    ct = cells.groupBy("m").agg(F.sum("o").alias("cs"))
    n_row = (cells.agg(F.sum("o").alias("n"))
             .withColumn("__k", F.floor(F.col("n") * 0)))
    j = (cells.join(rt, "fold").join(ct, "m")
         .withColumn("__k", F.floor(F.col("o") * 0))
         .join(F.broadcast(n_row), "__k"))
    e = F.col("rs") * F.col("cs") / F.col("n")
    chi = j.agg(F.sum((F.col("o") - e) * (F.col("o") - e) / e)
                .alias("chi2"))
    n_folds = rt.count()
    n_months = ct.count()
    dof = (n_folds - 1) * (n_months - 1)
    return chi.select(
        F.lit(n_folds).cast("long").alias("n_folds"),
        F.lit(n_months).cast("long").alias("n_months"),
        F.lit(dof).cast("long").alias("dof"),
        (F.floor(F.col("chi2") * 10000 + F.lit(0.5)) / 10000)
        .alias("chi2"),
        F.when(F.col("chi2") / dof <= 1.5, "PASS")
        .otherwise("WARN").alias("verdict"))


# ===========================================================================
# merged from queries_r7v.py (round-9 consolidation; registration order preserved)
# ===========================================================================

"""Round-7 operator families (final batch) X251-X254:
duplicate-charge detector, AR aging buckets, MDE/power table, and
backfill manifest — the fraud-ops pair audit, the finance aging
report, the how-big-must-the-experiment-be table that should run
BEFORE X107/X242 read anything out, and X244's completeness audit
turned into an actionable work list.
"""


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sync_cosmos_db_spark.queries import query
from sync_cosmos_db_spark.session import load_table


# ---------------------------------------------------------------------------
# X251 — duplicate-charge detector
# ---------------------------------------------------------------------------

@query(
    "duplicate_charges_orders",
    """
    WITH o AS (
      SELECT o_custkey AS cust,
             floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
             o_orderdate::DATE AS d, o_orderkey AS k
      FROM orders)
    SELECT a.cust, a.cents / 100.0 AS amount,
           a.k AS orderkey_a, b.k AS orderkey_b,
           abs(date_diff('day', a.d, b.d))::BIGINT AS gap_days
    FROM o a JOIN o b
      ON a.cust = b.cust AND a.cents = b.cents AND a.k < b.k
    WHERE abs(date_diff('day', a.d, b.d)) <= 7
    """,
)
def duplicate_charges_orders(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X251 — duplicate-charge candidates: same customer, same
    integer-cents amount, within 7 days, distinct order keys — the
    fraud/billing-ops audit.  The self-join keys on
    (customer, cents), so fan-out is bounded by per-(cust, amount)
    multiplicity — the blocking discipline of X20/X119 applied to a
    transactional audit; cents snap BEFORE the join so float
    amounts can't split a true pair across keys."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"))
    a = o.select(F.col("cust"), F.col("cents"),
                 F.col("d").alias("da"), F.col("k").alias("ka"))
    b = o.select(F.col("cust"), F.col("cents"),
                 F.col("d").alias("db"), F.col("k").alias("kb"))
    gap = F.abs(F.datediff(F.col("da"), F.col("db")))
    return (a.join(b, ["cust", "cents"])
            .filter((F.col("ka") < F.col("kb")) & (gap <= 7))
            .select("cust", (F.col("cents") / 100.0).alias("amount"),
                    F.col("ka").alias("orderkey_a"),
                    F.col("kb").alias("orderkey_b"),
                    gap.cast("long").alias("gap_days")))


# ---------------------------------------------------------------------------
# X252 — AR aging buckets
# ---------------------------------------------------------------------------

@query(
    "ar_aging_open_orders",
    """
    WITH hw AS (SELECT max(o_orderdate)::DATE AS asof FROM orders),
    o AS (SELECT o_orderpriority AS prio,
                 floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
                 date_diff('day', o_orderdate::DATE, hw.asof)
                   AS age
          FROM orders, hw WHERE o_orderstatus = 'O')
    SELECT prio,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS bucket,
           count(*)::BIGINT AS n_orders,
           sum(cents) / 100.0 AS open_revenue
    FROM o GROUP BY 1, 2
    """,
)
def ar_aging_open_orders(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """X252 — accounts-receivable aging of OPEN orders as of the
    corpus high-water date: the 0-30/31-60/61-90/90+ buckets every
    finance close runs; integer-cents revenue, broadcast 1-row
    as-of anchor (the X94 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    hw = (orders.agg(F.to_date(F.max("o_orderdate")).alias("asof"))
          .withColumn("__k", F.floor(F.month("asof") * 0)))
    o = (orders.filter(F.col("o_orderstatus") == "O")
         .withColumn("__k", F.floor(F.month("o_orderdate") * 0))
         .join(F.broadcast(hw), "__k"))
    age = F.datediff(F.col("asof"), F.to_date("o_orderdate"))
    bucket = (F.when(age <= 30, "0-30").when(age <= 60, "31-60")
              .when(age <= 90, "61-90").otherwise("90+"))
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    return (o.groupBy(F.col("o_orderpriority").alias("prio"),
                      bucket.alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_orders"),
                 (F.sum(cents) / 100.0).alias("open_revenue")))


# ---------------------------------------------------------------------------
# X253 — MDE / power table
# ---------------------------------------------------------------------------

@query(
    "mde_table_events",
    """
    WITH st AS (
      SELECT event_type AS metric, count(*)::BIGINT AS n,
             var_samp(value) AS s2
      FROM events GROUP BY 1),
    grid AS (SELECT unnest(generate_series(1, 4))::BIGINT AS half),
    g AS (SELECT st.metric, st.s2,
                 (st.n * grid.half) // 8 AS n_per_arm
          FROM st, grid)
    SELECT metric, n_per_arm,
           floor((1.96 + 0.84) * sqrt(2 * s2 / n_per_arm)
                 * 10000 + 0.5) / 10000 AS mde_abs
    FROM g
    """,
)
def mde_table_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253 — minimum-detectable-effect table at 80% power / 5%
    two-sided alpha (z-literals 1.96 + 0.84): for each event type's
    value metric and a grid of per-arm sizes (1/8 … 4/8 of the
    observed population), the absolute effect the experiment could
    detect — the table X107/X242 should consult BEFORE launch;
    variance from the data, arithmetic all closed-form."""
    ev = load_table(spark, sf_dir, "events")
    st = (ev.groupBy(F.col("event_type").alias("metric"))
          .agg(F.count("*").cast("long").alias("n"),
               F.var_samp("value").alias("s2")))
    grid = (spark.range(1, 5)
            .select(F.col("id").alias("half")))
    g = st.crossJoin(F.broadcast(grid)).select(
        "metric", "s2",
        F.expr("n * half div 8").alias("n_per_arm"))
    mde = (1.96 + 0.84) * F.sqrt(2 * F.col("s2")
                                 / F.col("n_per_arm"))
    return g.select("metric", "n_per_arm",
                    (F.floor(mde * 10000 + F.lit(0.5)) / 10000)
                    .alias("mde_abs"))


# ---------------------------------------------------------------------------
# X254 — backfill manifest
# ---------------------------------------------------------------------------

@query(
    "backfill_manifest_priority",
    """
    WITH d AS (SELECT DISTINCT o_orderpriority AS prio,
                      o_orderdate::DATE AS day
               FROM orders),
    b AS (SELECT prio, min(day) AS lo, max(day) AS hi
          FROM d GROUP BY 1),
    spine AS (SELECT prio,
                     unnest(generate_series(lo, hi,
                                            INTERVAL 1 day)) AS t
              FROM b),
    sp AS (SELECT prio, t::DATE AS day FROM spine)
    SELECT sp.prio, sp.day
    FROM sp LEFT JOIN d USING (prio, day)
    WHERE d.day IS NULL
    """,
)
def backfill_manifest_priority(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """X254 — the backfill WORK LIST: every (priority, day) cell in
    the key's own calendar span with no data — X244 counts the
    holes, this enumerates them for the scheduler; per-key spine
    from 1-row bounds (the X37 shape), anti-join against observed
    days."""
    orders = load_table(spark, sf_dir, "orders")
    d = (orders.select(F.col("o_orderpriority").alias("prio"),
                       F.to_date("o_orderdate").alias("day"))
         .distinct())
    b = d.groupBy("prio").agg(F.min("day").alias("lo"),
                              F.max("day").alias("hi"))
    spine = b.select(
        "prio",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)"))
        .alias("day"))
    return spine.join(d, ["prio", "day"], "left_anti")

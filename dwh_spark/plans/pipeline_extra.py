"""Round-4 pipeline operators: hypertable rollup, winnowing
fingerprints, composite quality gate, session funnels, CDC merge.

Each closes a capability named in the build brief's training-pipeline
list (hypertable rollup, document fingerprinting, quality scoring) or
a warehouse staple the reference's consumers would reach for next
(ordered funnels, incremental CDC apply — the reference's SCD-1 merge
`x/tokenMetadataService/service.go:204-233` handles upserts only; a
CDC feed also carries deletes and out-of-order change sequences).

Registry determinism rules apply throughout (registry.py): exact
decimals before aggregation, identical aliases both sides, md5-derived
hashes so DuckDB reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_spark.plans.registry import query
from dwh_spark.session import run_parallel, scratch_dir, session_memo
from dwh_spark.sources.catalog import load_table


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Hypertable-style continuous aggregate: hourly partials rolled up to
# daily. The MERGEABILITY is the point — the daily numbers come only
# from the hourly partials (never the raw rows), which is how a
# TimescaleDB-style continuous aggregate serves wide windows cheaply.
# The oracle aggregates the raw rows directly, so any partial that
# isn't losslessly mergeable (a non-decomposable agg, a double drift)
# breaks the hash. At 100 TB the hourly layer is what you materialize;
# day/week/month re-aggregate 24x/168x/720x fewer rows.
# ---------------------------------------------------------------------------
@query(
    "events_range_hypertable_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS approx_users_lb
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
    GROUP BY 1, 2
    """,
)
def events_range_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup with range pruning: the 14-day predicate reaches
    the scan, hourly buckets aggregate once, and the daily layer merges
    ONLY hourly partials (counts/sums re-sum; the distinct-user lower
    bound merges per-hour user sets via a grouped re-count, the exact
    form of HLL-merge at scale — here kept exact so the oracle can pin
    it)."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-22").cast("timestamp"))
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_1h"),
        "event_type",
        "user_id",  # kept through the partial so the distinct merges exactly
    ).agg(
        F.count("*").alias("pn"),
        F.sum(_dec("value")).alias("psum"),
    )
    return (
        hourly.groupBy(
            F.to_date(F.date_trunc("day", "bucket_1h")).alias("day"), "event_type"
        )
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("psum").cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("approx_users_lb"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
# word k-gram, slide a w-gram window, keep each window's minimum hash
# (rightmost on ties). Guarantees: any shared run of w+k-1 words
# between two docs shares a fingerprint — the standard plagiarism /
# near-dup fingerprint with bounded density 2/(w+1).
# ---------------------------------------------------------------------------
_WIN_K, _WIN_W = 3, 4
# 40-bit hash so hash*2^20 + tiebreak fits comfortably in a signed 64:
# the tie key prefers LARGER positions (rightmost-min rule) by storing
# (2^20-1 - pos); positions are per-doc k-gram indices (< 2^20 always
# at fixture doc lengths; a 100 TB deployment sizes the split by its
# max doc length).
_POS_MOD = 1 << 20


@query(
    "docs_fingerprint_winnowing",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(s[i] || ' ' || s[i+1] || ' ' || s[i+2]), 1, 10))::BIGINT AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
           UNNEST(range(1, len(s) - {_WIN_K} + 2)) AS t(i)
      WHERE len(s) >= {_WIN_K}
    ),
    keyed AS (
      SELECT doc_id, pos, h,
             h * {_POS_MOD} + ({_POS_MOD} - 1 - pos) AS key,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams
    ),
    wins AS (
      SELECT doc_id, n_grams,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS sel_key,
             pos
      FROM keyed
    ),
    selected AS (
      SELECT DISTINCT doc_id, n_grams, sel_key FROM wins
      WHERE pos <= n_grams - {_WIN_W}
    )
    SELECT doc_id,
           CAST(max(n_grams) AS BIGINT) AS n_grams,
           count(*) AS n_fingerprints,
           count(DISTINCT sel_key >> 20) AS n_distinct_hashes
    FROM selected GROUP BY 1
    """,
)
def docs_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing selection as pure window algebra: k-gram hash stream →
    per-window min over a ROWS frame → distinct selected keys. The
    rightmost-tie rule rides inside the min key (hash·2^20 + reversed
    position), so one window min does argmin + tie-break with no UDF.
    Scale: everything partitions by doc_id; no shuffle wider than the
    doc's own gram stream."""
    # the fixture's documents.parquet is a single row-group, so without
    # an explicit spread the explode+md5 (the dominant cost) runs on ONE
    # core — and AQE would re-coalesce a bytes-small shuffle right back
    # to one partition, so the count is pinned explicitly. Partitioning
    # by doc_id doubles as the window's required clustering downstream.
    docs = load_table(spark, sf_dir, "documents").repartition(32, "doc_id")
    s = F.split(F.col("text"), " ")
    # n_grams = len(s) - k + 1 is known BEFORE the explode — carrying it
    # as a column avoids a whole count() window pass over the exploded
    # gram stream (one sort instead of two)
    grams = (
        docs.select(
            "doc_id",
            (F.size(s) - (_WIN_K - 1)).cast("long").alias("n_grams"),
            F.posexplode(
                F.filter(
                    F.transform(
                        s,
                        lambda _, i: F.when(
                            i < F.size(s) - (_WIN_K - 1),
                            F.concat_ws(
                                " ",
                                F.element_at(s, i + 1),
                                F.element_at(s, i + 2),
                                F.element_at(s, i + 3),
                            ),
                        ),
                    ),
                    lambda g: g.isNotNull(),
                )
            ).alias("pos", "gram"),
        )
    )
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 10), 16, 10).cast("long")
    keyed = grams.select(
        "doc_id",
        "pos",
        "n_grams",
        (h * _POS_MOD + (F.lit(_POS_MOD - 1) - F.col("pos"))).alias("key"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    selected = (
        keyed.withColumn("sel_key", F.min("key").over(frame))
        .filter(F.col("pos") <= F.col("n_grams") - _WIN_W)
        .select("doc_id", "n_grams", "sel_key")
        .distinct()
    )
    return selected.groupBy("doc_id").agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.count("*").alias("n_fingerprints"),
        # shiftright, not division: the 60-bit key exceeds double
        # precision, so `/` would corrupt the high bits
        F.countDistinct(F.shiftright(F.col("sel_key"), 20)).alias(
            "n_distinct_hashes"
        ),
    )


# ---------------------------------------------------------------------------
# Composite quality gate (Gopher/C4-style rule battery): every rule is
# a pure column predicate; the output carries per-rule booleans AND the
# concatenated failure reasons, so downstream can both filter and
# audit WHY documents fell out. Thresholds are tuned to split the
# fixture corpus non-trivially.
# ---------------------------------------------------------------------------
@query(
    "docs_quality_composite_filter",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             -- length() = character count, matching Spark F.length();
             -- strlen() would count BYTES and diverge on non-ASCII text
             round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS mean_word_len,
             round(CAST(len(list_filter(string_split(text, ' '),
                                        w -> w IN ('a', 'the'))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS stop_ratio
      FROM documents
    ),
    flags AS (
      SELECT doc_id, n_words, mean_word_len, stop_ratio,
             n_words BETWEEN 30 AND 120 AS len_ok,
             mean_word_len BETWEEN 3.0 AND 7.0 AS wordlen_ok,
             stop_ratio >= 0.05 AS stopword_ok
      FROM feat
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           stop_ratio, len_ok, wordlen_ok, stopword_ok,
           len_ok AND wordlen_ok AND stopword_ok AS passes,
           concat_ws(',',
             CASE WHEN NOT len_ok THEN 'length' END,
             CASE WHEN NOT wordlen_ok THEN 'word_len' END,
             CASE WHEN NOT stopword_ok THEN 'stopwords' END) AS fail_reasons
    FROM flags
    """,
)
def docs_quality_composite_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w)
    mean_word_len = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double") / n_words,
        6,
    )
    stop_ratio = F.round(
        F.size(F.filter(w, lambda x: x.isin("a", "the"))).cast("double") / n_words,
        6,
    )
    feat = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stop_ratio"),
    )
    len_ok = F.col("n_words").between(30, 120)
    wordlen_ok = F.col("mean_word_len").between(3.0, 7.0)
    stopword_ok = F.col("stop_ratio") >= 0.05
    return feat.select(
        "doc_id", "n_words", "mean_word_len", "stop_ratio",
        len_ok.alias("len_ok"),
        wordlen_ok.alias("wordlen_ok"),
        stopword_ok.alias("stopword_ok"),
        (len_ok & wordlen_ok & stopword_ok).alias("passes"),
        F.concat_ws(
            ",",
            F.when(~len_ok, "length"),
            F.when(~wordlen_ok, "word_len"),
            F.when(~stopword_ok, "stopwords"),
        ).alias("fail_reasons"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel inside session windows: signup → click → purchase,
# strictly increasing timestamps WITHIN one 30-minute-gap session.
# Three conditional-min hops over the sessionized stream; each hop is
# a per-(user, session) aggregate, so the whole funnel is three
# map-side-combinable shuffles on the same key — no self-join of the
# raw event stream.
# ---------------------------------------------------------------------------
@query(
    "events_session_funnel_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ),
    s1 AS (
      SELECT user_id, session_id, min(ts) AS t1
      FROM sess WHERE event_type = 'signup' GROUP BY 1, 2
    ),
    s2 AS (
      SELECT s.user_id, s.session_id, min(s.ts) AS t2
      FROM sess s JOIN s1 USING (user_id, session_id)
      WHERE s.event_type = 'click' AND s.ts > s1.t1 GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s.user_id, s.session_id, min(s.ts) AS t3
      FROM sess s JOIN s2 USING (user_id, session_id)
      WHERE s.event_type = 'purchase' AND s.ts > s2.t2 GROUP BY 1, 2
    )
    SELECT (SELECT count(DISTINCT (user_id, session_id)) FROM sess) AS n_sessions,
           (SELECT count(*) FROM s1) AS n_signup,
           (SELECT count(*) FROM s2) AS n_signup_click,
           (SELECT count(*) FROM s3) AS n_full_funnel
    """,
)
def events_session_funnel_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    is_new = F.when(gap.isNull() | (gap > F.expr("INTERVAL '30' MINUTE")), 1).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", "ts", "event_type",
        F.sum(is_new).over(running).alias("session_id"),
    )
    keys = ["user_id", "session_id"]
    s1 = (
        sess.filter(F.col("event_type") == "signup")
        .groupBy(*keys).agg(F.min("ts").alias("t1"))
    )
    s2 = (
        sess.join(s1, keys)
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy(*keys).agg(F.min("ts").alias("t2"))
    )
    s3 = (
        sess.join(s2, keys)
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy(*keys).agg(F.min("ts").alias("t3"))
    )
    totals = sess.select(*keys).distinct().agg(F.count("*").alias("n_sessions"))
    return (
        totals
        .crossJoin(F.broadcast(s1.agg(F.count("*").alias("n_signup"))))
        .crossJoin(F.broadcast(s2.agg(F.count("*").alias("n_signup_click"))))
        .crossJoin(F.broadcast(s3.agg(F.count("*").alias("n_full_funnel"))))
    )


# ---------------------------------------------------------------------------
# Incremental CDC apply: a change feed with op codes (U upsert / D
# delete) and change sequence numbers lands on a base snapshot. Latest
# sequence per key wins; a trailing delete removes the key entirely.
# Derived deterministically from the fixture: orders before 1999 are
# the base, orders from 1999 replay as the feed (every 7th key is a
# delete, every key's latest surviving change bumps totalprice 10%).
# ---------------------------------------------------------------------------
@query(
    "orders_incremental_cdc_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,3)) AS price
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ),
    feed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderstatus,
             -- *1.1 on a 2-decimal value is exactly 3 decimals: no
             -- rounding, so no engine tie-break divergence
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DECIMAL(18,3)) AS price,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY o_orderdate, o_orderkey)
               AS change_seq
      FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    latest AS (
      SELECT * FROM (
        SELECT f.*, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY change_seq DESC) AS rn
        FROM feed f) WHERE rn = 1
    ),
    merged AS (
      SELECT coalesce(l.o_orderkey, b.o_orderkey) AS o_orderkey,
             coalesce(l.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             coalesce(l.price, b.price) AS price,
             l.op
      FROM base b FULL OUTER JOIN latest l USING (o_orderkey)
      WHERE l.op IS NULL OR l.op != 'D'
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM merged GROUP BY 1
    """,
)
def orders_incremental_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,3)").alias("price"),
    )
    seq_w = Window.partitionBy("o_orderkey").orderBy("o_orderdate", "o_orderkey")
    feed = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, "D").otherwise("U").alias("op"),
        "o_orderstatus",
        (_dec("o_totalprice") * F.lit(1.1).cast("decimal(3,1)"))
        .cast("decimal(18,3)")
        .alias("price"),
        F.row_number().over(seq_w).alias("change_seq"),
    )
    latest_w = Window.partitionBy("o_orderkey").orderBy(F.desc("change_seq"))
    latest = (
        feed.withColumn("rn", F.row_number().over(latest_w))
        .filter(F.col("rn") == 1)
        .drop("rn", "change_seq")
    )
    l = latest.select(
        F.col("o_orderkey"),
        F.col("op"),
        F.col("o_orderstatus").alias("l_status"),
        F.col("price").alias("l_price"),
    )
    merged = (
        base.join(l, "o_orderkey", "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("l_status"), F.col("o_orderstatus")).alias("o_orderstatus"),
            F.coalesce(F.col("l_price"), F.col("price")).alias("price"),
        )
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# BM25 relevance ranking — the retrieval scorer a corpus pipeline uses
# for query-based filtering/search. Pure column algebra: term
# frequencies from one explode+filter, document frequencies and the
# global average length as broadcast scalars, Robertson/Sparck-Jones
# idf with the Lucene +1 floor. Per-term scores round to DECIMAL(16,8)
# before the per-doc sum so float addition order can't drift the
# ranking across engines/partitions.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "docs_bm25_topk",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, sum(len(s)) AS total_len FROM docs
    ),
    tf AS (
      SELECT doc_id, len(s) AS dl, w, count(*) AS tf
      FROM (SELECT doc_id, s, unnest(s) AS w FROM docs)
      WHERE w IN {_BM25_TERMS!r}
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             CAST(round(
               ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * ({_BM25_K1} + 1.0))
               / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * t.dl / (CAST(st.total_len AS DOUBLE) / st.n_docs))),
               8) AS DECIMAL(16,8)) AS term_score
      FROM tf t JOIN dfreq d ON d.w = t.w CROSS JOIN stats st
    )
    SELECT doc_id, CAST(round(CAST(sum(term_score) AS DOUBLE), 6) AS DOUBLE) AS bm25
    FROM scored GROUP BY 1
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_doc_scores(load_table(spark, sf_dir, "documents")).orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    ).limit(10)


def _bm25_doc_scores(documents: DataFrame) -> DataFrame:
    """Per-doc BM25 over the fixed term set: (doc_id, bm25) for every
    doc containing at least one term. Shared by the lexical top-k and
    the hybrid-RRF fusion below."""
    docs = documents.select("doc_id", F.split(F.col("text"), " ").alias("s"))
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.sum(F.size("s")).alias("total_len")
    )
    tf = (
        docs.select("doc_id", F.size("s").alias("dl"), F.explode("s").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = F.round(
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl)
        ),
        8,
    ).cast("decimal(16,8)")
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score").cast("double"), 6).alias("bm25")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR'09)
# of the lexical BM25 arm and a semantic cosine arm — the standard
# two-tower retrieval composition a RAG / training-data-curation
# pipeline runs, expressed entirely as the fusion of two top-k frames.
# Scale: each arm ends in a TakeOrderedAndProject top-k (the lexical
# arm's scorer is the broadcast-stats BM25 above; the semantic arm
# broadcasts the single query vector and scans the corpus once), so
# the fusion join touches <= 2k rows regardless of corpus size. RRF
# needs only the RANKS, never score calibration across arms — exactly
# why it's the robust default. k=60 per the paper.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_QUERY_VEC = 7  # embeddings row used as the semantic query
_SQL_NORM2 = (
    "list_reduce(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " (a, b) -> a + b)"
)
_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


@query(
    "docs_hybrid_rrf_retrieval",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, sum(len(s)) AS total_len FROM docs
    ),
    tf AS (
      SELECT doc_id, len(s) AS dl, w, count(*) AS tf
      FROM (SELECT doc_id, s, unnest(s) AS w FROM docs)
      WHERE w IN {_BM25_TERMS!r}
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    term_scores AS (
      SELECT t.doc_id,
             CAST(round(
               ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * ({_BM25_K1} + 1.0))
               / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * t.dl / (CAST(st.total_len AS DOUBLE) / st.n_docs))),
               8) AS DECIMAL(16,8)) AS term_score
      FROM tf t JOIN dfreq d ON d.w = t.w CROSS JOIN stats st
    ),
    bm AS (
      SELECT doc_id, CAST(round(CAST(sum(term_score) AS DOUBLE), 6) AS DOUBLE) AS bm25
      FROM term_scores GROUP BY 1
    ),
    lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM bm
      ) ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    base AS (
      SELECT vec_id, embedding, {_SQL_NORM2.format(v='embedding')} AS norm2
      FROM embeddings
    ),
    qv AS (SELECT embedding AS q_emb, norm2 AS q_norm2 FROM base
           WHERE vec_id = {_RRF_QUERY_VEC}),
    sem_scored AS (
      SELECT v.vec_id,
             round({_SQL_DOT.format(a='v.embedding', b='qv.q_emb')}
                   / (sqrt(v.norm2) * sqrt(qv.q_norm2)), 6) AS cosine
      FROM base v CROSS JOIN qv WHERE v.vec_id <> {_RRF_QUERY_VEC}
    ),
    sem AS (
      SELECT vec_id AS doc_id, sem_rank FROM (
        SELECT vec_id, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS sem_rank
        FROM sem_scored
      ) ORDER BY cosine DESC, vec_id LIMIT 20
    )
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(s.sem_rank, 0) AS BIGINT) AS sem_rank,
           round(coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.lex_rank), 0.0)
                 + coalesce(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.sem_rank), 0.0),
                 8) AS rrf
    FROM lex l FULL JOIN sem s ON s.doc_id = l.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def docs_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hybrid retrieval: BM25 top-20 and cosine top-20 fused by
    reciprocal rank (score = Σ 1/(60+rank); absent-from-arm contributes
    0, reported as rank 0). Ranks tie-break on doc_id in both engines,
    and RRF uses integer ranks only, so the fusion is bit-deterministic
    — no cross-arm score calibration to drift. Both arms compile to
    TakeOrderedAndProject top-k; the full-outer fusion join sees at
    most 40 rows at any corpus size."""
    from dwh_spark.operators.similarity import cosine_topk

    documents = load_table(spark, sf_dir, "documents")
    lex20 = (
        _bm25_doc_scores(documents)
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(20)
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex = lex20.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sem = cosine_topk(
        emb, emb.filter(F.col("vec_id") == _RRF_QUERY_VEC), k=20
    ).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").cast("long").alias("sem_rank")
    )

    one = F.lit(1.0)
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).alias("lex_rank"),
        F.coalesce(F.col("sem_rank"), F.lit(0)).alias("sem_rank"),
        F.round(
            F.coalesce(one / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(one / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)),
            8,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# KMV sketch SET ALGEBRA: union and intersection cardinality estimates
# from two k-minimum-values sketches — the mergeability story that
# makes sketches the 100 TB answer (ship 64 longs per set, never the
# sets). Union sketch = k smallest of the merged minima (KMV is
# closed under union); Jaccard ≈ |union-k ∩ A ∩ B| / k (Beyer et al.
# 2007); intersection = floor(J · |A∪B|-estimate). Every step is
# integer/exact-arithmetic on md5-derived hashes, so DuckDB replays
# it bit-for-bit.
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SPACE = float(1 << 60)


@query(
    "events_kmv_set_algebra",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ak AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
    bk AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
    uk AS (SELECT h FROM (SELECT h FROM ak UNION SELECT h FROM bk) ORDER BY h LIMIT {_KMV_K}),
    est AS (
      SELECT
        (SELECT CASE WHEN count(*) < {_KMV_K} THEN count(*)
                ELSE floor({float(_KMV_K - 1)} * {_KMV_SPACE} / CAST(max(h) AS DOUBLE))::BIGINT
                END FROM ak) AS n_a,
        (SELECT CASE WHEN count(*) < {_KMV_K} THEN count(*)
                ELSE floor({float(_KMV_K - 1)} * {_KMV_SPACE} / CAST(max(h) AS DOUBLE))::BIGINT
                END FROM bk) AS n_b,
        (SELECT CASE WHEN count(*) < {_KMV_K} THEN count(*)
                ELSE floor({float(_KMV_K - 1)} * {_KMV_SPACE} / CAST(max(h) AS DOUBLE))::BIGINT
                END FROM uk) AS n_union,
        (SELECT count(*) FROM uk
         WHERE h IN (SELECT h FROM ak) AND h IN (SELECT h FROM bk)) AS k_both
    )
    SELECT n_a, n_b, n_union,
           CAST(floor(CAST(k_both AS DOUBLE) / {_KMV_K} * n_union) AS BIGINT)
             AS n_intersection
    FROM est
    """,
)
def events_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dwh_spark.operators.sketch import _hash60

    ev = load_table(spark, sf_dir, "events")

    def kmins(event_type: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(_hash60(F.col("user_id")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
        )

    ak, bk = kmins("click"), kmins("purchase")
    uk = ak.unionByName(bk).distinct().orderBy("h").limit(_KMV_K)

    def est(sk: DataFrame, out: str) -> DataFrame:
        return sk.agg(
            F.when(
                F.count("*") < _KMV_K, F.count("*")
            )
            .otherwise(
                F.floor(
                    F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE)
                    / F.max("h").cast("double")
                )
            )
            .alias(out)
        )

    k_both = (
        uk.join(ak.withColumnRenamed("h", "ha"), uk.h == F.col("ha"), "leftsemi")
        .join(bk.withColumnRenamed("h", "hb"), F.col("h") == F.col("hb"), "leftsemi")
        .agg(F.count("*").alias("k_both"))
    )
    return (
        est(ak, "n_a")
        .crossJoin(F.broadcast(est(bk, "n_b")))
        .crossJoin(F.broadcast(est(uk, "n_union")))
        .crossJoin(F.broadcast(k_both))
        .select(
            "n_a", "n_b", "n_union",
            F.floor(
                F.col("k_both").cast("double") / _KMV_K * F.col("n_union")
            ).cast("long").alias("n_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting over the nation trade graph — the classic
# distributed-graph metric. The compact-forward discipline applies:
# canonicalize edges a<b, then the two-hop join (a,b)x(b,c) probes the
# closing edge (a,c). At real scale the join orders vertices by degree
# so every wedge is enumerated exactly once from its lowest-degree
# corner; the plan shape (two equi-joins on a deduped edge list) is
# exactly that algorithm.
# ---------------------------------------------------------------------------
_TRI_THRESHOLD = 200


@query(
    "nation_trade_triangles",
    oracle=f"""
    WITH directed AS (
      SELECT c.c_nationkey AS a, s.s_nationkey AS b, count(*) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    undirected AS (
      SELECT least(a, b) AS a, greatest(a, b) AS b, sum(w) AS w
      FROM directed GROUP BY 1, 2
      HAVING sum(w) > {_TRI_THRESHOLD}
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM undirected e1
      JOIN undirected e2 ON e2.a = e1.b
      JOIN undirected e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM undirected) AS n_edges
    FROM tri
    """,
)
def nation_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    directed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b")
        )
        .agg(F.count("*").alias("w"))
    )
    und = (
        directed.groupBy(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") > _TRI_THRESHOLD)
        .select("a", "b")
        .persist()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        F.broadcast(und.agg(F.count("*").alias("n_edges")))
    )


# ---------------------------------------------------------------------------
# S4 JDBC sink, driver-verified: a REAL JDBC round-trip through the
# embedded Derby engine that ships in Spark's jars — batched prepared
# statements out (sources/sinks.py:write_jdbc), a JDBC scan back in.
# The reference's Postgres surface is exactly this path with a
# different URL; Derby-in-process is what a sandbox can verify.
# ---------------------------------------------------------------------------
@query(
    "orders_jdbc_roundtrip",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY 1
    """,
)
def orders_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dwh_spark.sources.sinks import write_jdbc

    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )
    # One Derby database per (application, sf_dir) — a fresh dir per
    # invocation would accumulate booted embedded databases (driver
    # memory + file handles) across repeated bench rounds in one session
    db_dir = session_memo(spark, ("derby_dir", sf_dir), lambda: scratch_dir("dwh_jdbc_"))
    url = f"jdbc:derby:{db_dir}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    # tiny aggregate → one connection; a fact-sized write would
    # repartition to the sink's connection budget first (sinks.py note)
    write_jdbc(agg.coalesce(1), url, "status_rollup", mode="overwrite", driver=driver)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "status_rollup")
        .option("driver", driver)
        .load()
    )
    return back.select(
        F.col("status").cast("string").alias("status"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_price").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles: the APPROXIMATE path beside
# events_value_robust_stats' exact two-pass median. A 128-bucket
# equi-width histogram is one map-side-combinable groupBy (128 rows of
# state regardless of input size, trivially mergeable across
# partitions/days), and any quantile reads off the cumulative counts.
# Estimates are bucket LOWER BOUNDS — pure integer/decimal algebra,
# so both engines agree exactly; the bound error is width-bounded.
# ---------------------------------------------------------------------------
_HIST_BUCKETS = 128


@query(
    "events_value_histogram_quantiles",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS lo,
             CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hi,
             count(*) AS n
      FROM events
    ),
    bucketed AS (
      -- greatest(..., 1e-12) guards hi == lo (constant / single-row
      -- input): width 0 would divide-by-zero differently across
      -- engines; with the guard every value lands in bucket 0
      SELECT least(CAST(floor((CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) - lo)
                               / (greatest(hi - lo, 1e-12) / {_HIST_BUCKETS})) AS BIGINT),
                   {_HIST_BUCKETS - 1}) AS bucket,
             count(*) AS cnt
      FROM events CROSS JOIN bounds
      GROUP BY 1
    ),
    cum AS (
      SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum_cnt FROM bucketed
    ),
    q AS (
      SELECT (SELECT min(bucket) FROM cum, bounds WHERE cum_cnt >= 0.50 * n) AS b50,
             (SELECT min(bucket) FROM cum, bounds WHERE cum_cnt >= 0.95 * n) AS b95,
             (SELECT min(bucket) FROM cum, bounds WHERE cum_cnt >= 0.99 * n) AS b99
    )
    SELECT round(lo + b50 * ((hi - lo) / {_HIST_BUCKETS}), 6) AS p50_lb,
           round(lo + b95 * ((hi - lo) / {_HIST_BUCKETS}), 6) AS p95_lb,
           round(lo + b99 * ((hi - lo) / {_HIST_BUCKETS}), 6) AS p99_lb,
           n AS n_rows
    FROM q CROSS JOIN bounds
    """,
)
def events_value_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        _dec("value").cast("double").alias("v")
    )
    bounds = ev.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BUCKETS
    # hi == lo guard mirrors the oracle: a degenerate range buckets
    # everything to 0 instead of dividing by zero (ANSI error / null)
    bucket_width = F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12)) / _HIST_BUCKETS
    bucketed = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("v") - F.col("lo")) / bucket_width).cast("long"),
                F.lit(_HIST_BUCKETS - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    cum = bucketed.select(
        "bucket",
        F.sum("cnt").over(Window.orderBy("bucket")).alias("cum_cnt"),
    ).crossJoin(F.broadcast(bounds))
    qb = cum.agg(
        F.min(F.when(F.col("cum_cnt") >= 0.50 * F.col("n"), F.col("bucket"))).alias("b50"),
        F.min(F.when(F.col("cum_cnt") >= 0.95 * F.col("n"), F.col("bucket"))).alias("b95"),
        F.min(F.when(F.col("cum_cnt") >= 0.99 * F.col("n"), F.col("bucket"))).alias("b99"),
    )
    return (
        qb.crossJoin(F.broadcast(bounds))
        .select(
            F.round(F.col("lo") + F.col("b50") * width, 6).alias("p50_lb"),
            F.round(F.col("lo") + F.col("b95") * width, 6).alias("p95_lb"),
            F.round(F.col("lo") + F.col("b99") * width, 6).alias("p99_lb"),
            F.col("n").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable BOUNDED-rank-error quantiles: the distribution-independent
# companion to the 128-bucket histogram above (whose error is data-
# dependent). Deterministic MRL compactor sketch, one per partition,
# merged in partition order on the driver (32 sketches × k·log(n/k)
# floats — the map-side-combine shape; raw values never leave their
# partition). The query AUDITS the sketch against the exact order
# statistic: the oracle pins the exact quantiles and the audit
# booleans, so a sketch whose certified ±err_bound guarantee fails
# turns the row red. See operators/quantile_sketch.py.
# ---------------------------------------------------------------------------
_MRL_K = 256
_MRL_PARTS = 32
_MRL_QS = (0.5, 0.9, 0.99)


@query(
    "events_mrl_quantile_audit",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    nn AS (SELECT count(*) AS n FROM v),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
    tgt AS (
      SELECT CAST(q AS DOUBLE) AS q, CAST(ceil(q * n) AS BIGINT) AS t, n
      FROM (VALUES (0.5), (0.9), (0.99)) qs(q) CROSS JOIN nn
    ),
    ex AS (
      SELECT t.q, min(r.v) AS exact_q
      FROM tgt t JOIN ranked r ON r.rn >= t.t GROUP BY t.q
    )
    SELECT t.q AS quantile, t.n AS n_rows, e.exact_q,
           TRUE AS within_bound, TRUE AS bound_le_5pct_plus_k
    FROM tgt t JOIN ex e ON t.q = e.q
    """,
)
def events_mrl_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StructField, StructType,
    )

    from dwh_spark.operators.quantile_sketch import MRLSketch

    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_id"),
            _dec("value").cast("double").alias("v"),
        )
        # deterministic partition SETS (hash on event_id) + deterministic
        # in-partition ORDER (sorted) ⇒ bit-reproducible sketches
        .repartition(_MRL_PARTS, "event_id")
        .sortWithinPartitions("v")
    )

    sk_schema = (
        "pid long, k long, n long, err_bound long, weight long, vals array<double>"
    )

    def build(batches):
        import pandas as pd
        from pyspark import TaskContext

        s = MRLSketch(_MRL_K)
        for pdf in batches:
            s.insert_batch(pdf["v"].to_numpy())
        pid = TaskContext.get().partitionId()
        rows = [
            (pid, s.k, s.n, s.err_bound, w, vals) for w, vals in s.to_rows()
        ]
        if not rows:  # empty partition still reports, for exact n
            rows = [(pid, s.k, 0, 0, 0, [])]
        yield pd.DataFrame(
            rows, columns=["pid", "k", "n", "err_bound", "weight", "vals"]
        )

    # per-partition sketches are tiny; collect and merge in pid order
    parts: dict[int, list] = {}
    meta: dict[int, tuple[int, int]] = {}
    for row in v.select("v").mapInPandas(build, sk_schema).collect():
        parts.setdefault(row["pid"], []).append((row["weight"], list(row["vals"])))
        meta[row["pid"]] = (row["n"], row["err_bound"])
    merged = MRLSketch(_MRL_K)
    for pid in sorted(parts):
        n, err = meta[pid]
        merged.merge(MRLSketch.from_rows(parts[pid], _MRL_K, n, err))
    n = merged.n
    bound = merged.audit_bound()
    ests = {q: merged.quantile(q) for q in _MRL_QS}
    targets = {q: max(1, math.ceil(q * n)) for q in _MRL_QS}

    # the audit needs (a) the estimate's rank interval — plain lt/le
    # aggregates — and (b) three exact order statistics. The exact
    # ranks use a two-phase distributed form (no global single-task
    # sort): range-bin the values (binning is weakly monotone in v, so
    # bin-order concatenation IS the global order), collect per-bin
    # counts (≤ nbins tiny rows) into cumulative offsets, then
    # row_number only WITHIN the ≤3 bins that contain the target
    # ranks — windows partitioned by bin, each touching ~1/nbins of
    # the data, in parallel. Same shape as the sweep-line offset join
    # in operators/temporal.py. Equal-WIDTH bins are fine for this
    # audit (events.value is fixture-uniform; worst case under value
    # skew is a slow-but-correct big-bin window); the operator-grade
    # equi-depth version lives in operators/ranks.py.
    vals = v.select("v")
    agg0 = [F.min("v").alias("vlo"), F.max("v").alias("vhi")]
    for i, q in enumerate(_MRL_QS):
        e = float(ests[q])
        agg0 += [
            F.sum(F.when(F.col("v") < e, 1).otherwise(0)).alias(f"lt{i}"),
            F.sum(F.when(F.col("v") <= e, 1).otherwise(0)).alias(f"le{i}"),
        ]
    stats = vals.agg(*agg0).collect()[0]
    vlo, vhi = float(stats["vlo"]), float(stats["vhi"])
    if vhi > vlo:
        nbins = 1024
        bin_col = (
            F.least(
                F.lit(nbins - 1),
                F.floor((F.col("v") - F.lit(vlo)) / F.lit(vhi - vlo) * nbins),
            )
            .cast("long")
            .alias("bin")
        )
        binned = vals.select(F.col("v"), bin_col)
        counts = {
            r["bin"]: r["cnt"]
            for r in binned.groupBy("bin").agg(F.count("*").alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]
        need = {}  # q -> (bin holding rank target[q], local rank within it)
        for q in _MRL_QS:
            t = targets[q]
            for b in sorted(counts):
                if offsets[b] < t <= offsets[b] + counts[b]:
                    need[q] = (b, t - offsets[b])
                    break
        wb = Window.partitionBy("bin").orderBy("v")
        local = binned.filter(
            F.col("bin").isin(sorted({b for b, _ in need.values()}))
        ).withColumn("lrn", F.row_number().over(wb))
        agg1 = [
            F.min(
                F.when(
                    (F.col("bin") == need[q][0]) & (F.col("lrn") == need[q][1]),
                    F.col("v"),
                )
            ).alias(f"ex{i}")
            for i, q in enumerate(_MRL_QS)
        ]
        exact_row = local.agg(*agg1).collect()[0]
        exacts = {q: float(exact_row[f"ex{i}"]) for i, q in enumerate(_MRL_QS)}
    else:  # degenerate range: every value equals vlo
        exacts = {q: vlo for q in _MRL_QS}

    out_schema = StructType([
        StructField("quantile", DoubleType()),
        StructField("n_rows", LongType()),
        StructField("exact_q", DoubleType()),
        StructField("within_bound", BooleanType()),
        StructField("bound_le_5pct_plus_k", BooleanType()),
    ])
    out = []
    for i, q in enumerate(_MRL_QS):
        lo = int(stats[f"lt{i}"]) + 1  # lowest rank the estimate occupies
        hi = int(stats[f"le{i}"])      # highest rank (ties widen this)
        err = max(lo - targets[q], targets[q] - hi, 0)
        out.append((
            float(q), n, exacts[q],
            # the certified bound must stay near 5% of n; the additive
            # k term is the buffer discretization floor that dominates
            # only when n is fixture-small (a k-sized sketch of n < k
            # values is exact but its worst-case CLAIM is still ±k)
            bool(err <= bound), bool(bound <= 0.05 * n + _MRL_K),
        ))
    # pandas input → Arrow → JVM LocalRelation (a python-list input
    # costs serial python-RDD partition evaluation per action; see
    # operators/sketch.py:mg_merge)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            out,
            columns=[
                "quantile", "n_rows", "exact_q",
                "within_bound", "bound_le_5pct_plus_k",
            ],
        ),
        out_schema,
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade: given a forget-set of customers,
# propagate the delete through the FK chain (orders → lineitems) and
# report the audit counts a compliance job must emit. Pure semi/anti
# joins — the forget set broadcasts; the fact tables never shuffle.
# ---------------------------------------------------------------------------
@query(
    "customer_forget_cascade",
    oracle="""
    WITH forget AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    doomed_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)
    )
    SELECT (SELECT count(*) FROM forget) AS n_customers_forgotten,
           (SELECT count(*) FROM doomed_orders) AS n_orders_deleted,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_orders))
             AS n_lineitems_deleted,
           (SELECT count(*) FROM customer) - (SELECT count(*) FROM forget)
             AS n_customers_remaining,
           (SELECT count(*) FROM orders) - (SELECT count(*) FROM doomed_orders)
             AS n_orders_remaining
    """,
)
def customer_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    forget = cust.filter(F.col("c_custkey") % 97 == 0)
    doomed = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "leftsemi"
    ).select("o_orderkey")
    n_li = li.join(
        F.broadcast(doomed), li.l_orderkey == doomed.o_orderkey, "leftsemi"
    ).agg(F.count("*").alias("n_lineitems_deleted"))
    return (
        forget.agg(F.count("*").alias("n_customers_forgotten"))
        .crossJoin(F.broadcast(doomed.agg(F.count("*").alias("n_orders_deleted"))))
        .crossJoin(F.broadcast(n_li))
        .crossJoin(F.broadcast(cust.agg(F.count("*").alias("__nc"))))
        .crossJoin(F.broadcast(orders.agg(F.count("*").alias("__no"))))
        .select(
            "n_customers_forgotten",
            "n_orders_deleted",
            "n_lineitems_deleted",
            (F.col("__nc") - F.col("n_customers_forgotten")).alias("n_customers_remaining"),
            (F.col("__no") - F.col("n_orders_deleted")).alias("n_orders_remaining"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra: the union of two sketches is the per-bucket MAX of
# their register tables, losslessly — this query proves it by
# estimating |click-users ∪ purchase-users| BOTH ways (merge the two
# per-type sketches; sketch the unioned rows directly) and emitting
# both numbers: they must be bit-identical, and the oracle pins each.
# This is why 256-register sketches replace count(DISTINCT) at 100 TB:
# daily sketches merge into weeks/months without touching raw data.
# ---------------------------------------------------------------------------
@query(
    "events_hll_union_merge",
    oracle=None,  # assembled below from the sketch module's constants
)
def events_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dwh_spark.operators.sketch import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("click", "purchase"))
    per_type = hll_registers(both, ["event_type"], "user_id")
    merged = (
        per_type.groupBy("__bucket")
        .agg(F.max("__reg").alias("__reg"))
        .withColumn("set_name", F.lit("click_or_purchase"))
    )
    est_merged = hll_estimate(merged, ["set_name"]).select(
        F.col("n_hll").alias("n_hll_merged")
    )
    direct = hll_registers(
        both.withColumn("set_name", F.lit("click_or_purchase")),
        ["set_name"],
        "user_id",
    )
    est_direct = hll_estimate(direct, ["set_name"]).select(
        F.col("n_hll").alias("n_hll_direct")
    )
    exact = both.agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        est_merged.crossJoin(F.broadcast(est_direct))
        .crossJoin(F.broadcast(exact))
        .select("n_hll_merged", "n_hll_direct", "n_exact")
    )


def _hll_union_oracle() -> str:
    from dwh_spark.operators.sketch import (
        _HLL_C, _HLL_LC_TABLE, _LOW_BITS, _LOW_MASK, HLL_M,
    )

    lc = ", ".join(str(x) for x in _HLL_LC_TABLE)
    est = f"""
      SELECT CASE WHEN {_HLL_C!r} / CAST(sum_scaled AS DOUBLE) <= {2.5 * HLL_M}
                   AND v > 0
                  THEN ([{lc}])[v]::BIGINT
                  ELSE floor({_HLL_C!r} / CAST(sum_scaled AS DOUBLE))::BIGINT
             END
      FROM (SELECT sum((1::BIGINT << (53 - reg)))::BIGINT
                     + ({HLL_M} - count(*)) * ({1 << 53}::BIGINT) AS sum_scaled,
                   {HLL_M} - count(*) AS v
            FROM {{regs}})
    """
    return f"""
    WITH hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    per_type AS (
      SELECT event_type, h >> {_LOW_BITS} AS bucket,
             max(CASE WHEN (h & {_LOW_MASK}) = 0 THEN {_LOW_BITS + 1}
                      ELSE {_LOW_BITS + 1} - length(bin(h & {_LOW_MASK})) END) AS reg
      FROM hashed GROUP BY 1, 2
    ),
    merged AS (SELECT bucket, max(reg) AS reg FROM per_type GROUP BY 1),
    direct AS (
      SELECT h >> {_LOW_BITS} AS bucket,
             max(CASE WHEN (h & {_LOW_MASK}) = 0 THEN {_LOW_BITS + 1}
                      ELSE {_LOW_BITS + 1} - length(bin(h & {_LOW_MASK})) END) AS reg
      FROM hashed GROUP BY 1
    )
    SELECT ({est.format(regs="merged")}) AS n_hll_merged,
           ({est.format(regs="direct")}) AS n_hll_direct,
           (SELECT count(DISTINCT user_id) FROM events
            WHERE event_type IN ('click', 'purchase')) AS n_exact
    """


from dwh_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["events_hll_union_merge"] = _hll_union_oracle()


# ---------------------------------------------------------------------------
# Mergeable Bloom-filter pre-join pruning (round 5). The classic 100 TB
# join-reduction move: build a tiny bit-array sketch over the dim-side
# keys (one map-side-combinable bit_or shuffle), broadcast it, and
# drop probe rows whose keys can't be in the dim BEFORE the expensive
# join shuffle. The sketch is mergeable (bit_or is associative/
# commutative), the hash family is engine-portable md5, and the oracle
# rebuilds the same 960-bit filter in SQL — so bit layout, hash
# derivation, membership logic, and the false-positive accounting all
# have to agree. 960 = 16 words x 60 bits keeps every shift inside a
# signed 64-bit lane on both engines.
# ---------------------------------------------------------------------------
_BLOOM_WORDS = 16
_BLOOM_BITS_PER_WORD = 60
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS_PER_WORD
_BLOOM_K = 4


def _bloom_bit(j: F.Column, key: F.Column) -> F.Column:
    """Bit position for hash j of key: md5-long (engine-portable) mod m."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", j.cast("string"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % _BLOOM_M


@query(
    "orders_bloom_prejoin_prune",
    oracle=f"""
    WITH build AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    build_bits AS (
        SELECT ('0x' || substr(md5(j::VARCHAR || ':' || c_custkey::VARCHAR),
                               1, 15))::BIGINT % {_BLOOM_M} AS bit
        FROM build, UNNEST([0, 1, 2, 3]) AS t(j)
    ),
    words AS (
        SELECT bit // {_BLOOM_BITS_PER_WORD} AS word,
               bit_or(1::BIGINT << (bit % {_BLOOM_BITS_PER_WORD})) AS mask
        FROM build_bits GROUP BY 1
    ),
    probe_bits AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               ('0x' || substr(md5(j::VARCHAR || ':' || o_custkey::VARCHAR),
                               1, 15))::BIGINT % {_BLOOM_M} AS bit
        FROM orders, UNNEST([0, 1, 2, 3]) AS t(j)
    ),
    checked AS (
        SELECT p.o_orderkey,
               min(p.o_custkey) AS o_custkey,
               min(p.o_orderpriority) AS o_orderpriority,
               bool_and(COALESCE((w.mask >> (p.bit % {_BLOOM_BITS_PER_WORD}))
                                 & 1, 0) = 1) AS passed
        FROM probe_bits p
        LEFT JOIN words w ON w.word = p.bit // {_BLOOM_BITS_PER_WORD}
        GROUP BY p.o_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
           CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN passed AND o_custkey NOT IN
                              (SELECT c_custkey FROM build)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
    FROM checked
    GROUP BY o_orderpriority
    """,
)
def orders_bloom_prejoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning with a false-positive audit: a
    960-bit / 4-hash filter over BUILDING-segment customers is built
    as 16 (word, bit_or-mask) rows, broadcast, and every order probes
    its 4 bits map-side; per priority the query reports probe rows,
    bloom passes, true members (exact semi-join ground truth), and
    false positives. Zero false negatives is implied by the oracle
    equality (n_passed accounting must match exactly).

    100 TB design: the build side is one combinable bit_or shuffle to
    16 rows folded into a single broadcast map; the probe side never
    shuffles AND never explodes — each order row evaluates its 4 bit
    probes as columns against the broadcast map (plus a broadcast
    ground-truth semi-join only for the audit — production would drop
    the audit join and keep the pure map-side filter before the real
    join). r18 optimization: the previous form exploded orders x4 and
    re-grouped by o_orderkey (a full probe-side exchange + two sort
    aggregates) just to AND 4 bit tests; o_orderkey is the orders
    primary key, so min(o_custkey)/min(o_orderpriority) over the 4
    clones were identities and bool_and over the 4 exploded rows
    equals the conjunction of the 4 per-hash column tests — verified
    identical against the unchanged DuckDB oracle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    js = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    build_bits = build.select(F.explode(js).alias("j"), "c_custkey").select(
        _bloom_bit(F.col("j"), F.col("c_custkey")).alias("bit")
    )
    words = build_bits.groupBy(
        (F.col("bit") / _BLOOM_BITS_PER_WORD).cast("long").alias("word")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(bit % {_BLOOM_BITS_PER_WORD} AS INT))"
            )
        ).alias("mask")
    )
    # Fold the <=16 (word, mask) rows into ONE map row: the whole
    # filter broadcasts as a scalar and each probe is a map lookup.
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bloom")
    )

    probe = (
        orders.select("o_orderkey", "o_custkey", "o_orderpriority")
        .crossJoin(F.broadcast(bloom))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            "bloom",
            *[
                _bloom_bit(F.lit(j), F.col("o_custkey")).alias(f"bit{j}")
                for j in range(_BLOOM_K)
            ],
        )
    )
    # Per-hash membership test, identical expression to the exploded
    # form's post-join test (try_element_at returns NULL for an absent
    # word exactly as the LEFT join produced a NULL mask).
    tests = [
        F.coalesce(
            F.expr(
                f"shiftright(try_element_at(bloom, "
                f"CAST(bit{j} / {_BLOOM_BITS_PER_WORD} AS BIGINT)), "
                f"CAST(bit{j} % {_BLOOM_BITS_PER_WORD} AS INT)) % 2"
            ),
            F.lit(0).cast("long"),
        )
        == 1
        for j in range(_BLOOM_K)
    ]
    passed = tests[0]
    for t in tests[1:]:
        passed = passed & t
    checked = probe.select(
        "o_custkey", "o_orderpriority", passed.alias("passed")
    )
    truth = build.withColumnRenamed("c_custkey", "o_custkey").withColumn(
        "is_member", F.lit(True)
    ).distinct()
    audited = checked.join(F.broadcast(truth), "o_custkey", "left").withColumn(
        "is_member", F.coalesce("is_member", F.lit(False))
    )
    return audited.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("n_passed"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_true_members"),
        F.sum(
            F.when(F.col("passed") & ~F.col("is_member"), 1).otherwise(0)
        ).alias("n_false_positives"),
    )


# ---------------------------------------------------------------------------
# Multi-format source/sink roundtrip (round 5). The reference reads
# from chain/HTTP/queue/DB endpoints; a Spark warehouse additionally
# speaks the columnar/text lake formats. This query proves ORC, CSV,
# and JSON write+read fidelity END-TO-END: orders is materialized in
# each format (once per session, cached like the Derby dir), read
# back through the format's own parser with the parquet schema
# enforced, and per-format aggregates must match the oracle computed
# on the original table — a lossy serializer (double formatting,
# timestamp zone drift, header confusion) breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "orders_multiformat_roundtrip",
    oracle="""
    SELECT fmt, count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           CAST(min(o_orderdate) AS VARCHAR) AS min_date
    FROM orders, UNNEST(['orc', 'csv', 'json']) AS t(fmt)
    GROUP BY fmt
    """,
)
def orders_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-series source/format coverage beyond parquet: ORC (columnar,
    binary-exact), CSV (header + explicit schema; Spark prints doubles
    as shortest round-trip decimals and ISO timestamps), and JSON
    lines. Each copy is written once per (session, sf_dir) and read
    back through the real parser; the aggregates (exact decimal sum,
    key range, min timestamp rendered as a string) pin value fidelity
    per format against the original parquet."""
    orders = load_table(spark, sf_dir, "orders")

    def write_formats() -> str:
        base = scratch_dir("dwh_formats_")
        orders.write.mode("overwrite").orc(f"{base}/orc")
        orders.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
        orders.write.mode("overwrite").json(f"{base}/json")
        return base

    base = session_memo(spark, ("format_dir", sf_dir), write_formats)
    schema = orders.schema
    frames = {
        "orc": spark.read.orc(f"{base}/orc"),
        "csv": spark.read.option("header", True).schema(schema).csv(f"{base}/csv"),
        "json": spark.read.schema(schema).json(f"{base}/json"),
    }
    per_fmt = [
        df.groupBy(F.lit(fmt).alias("fmt")).agg(
            F.count("*").alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.date_format(
                F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss"
            ).alias("min_date"),
        )
        for fmt, df in frames.items()
    ]
    out = per_fmt[0]
    for f_df in per_fmt[1:]:
        out = out.unionByName(f_df)
    return out


# ---------------------------------------------------------------------------
# Schema evolution read (round 5). Lake tables evolve: early files lack
# columns later files carry. The reader must widen with nulls, not
# fail or misalign — Spark's mergeSchema union. Staged once per
# session like the other format fixtures.
# ---------------------------------------------------------------------------
@query(
    "orders_schema_evolution_read",
    oracle="""
    SELECT (CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END) AS batch,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_channel,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1
                         AND o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_web,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def orders_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: batch v1 (even orderkeys) is written with
    the original columns; batch v2 (odd) adds a `channel` column. A
    mergeSchema read unions the files — v1 rows surface channel as
    NULL, v2 rows keep their values — and the aggregate pins row
    routing, null-widening, and value fidelity per batch. At 100 TB
    this is the everyday lake migration path: no rewrite of old files,
    the reader widens."""
    orders = load_table(spark, sf_dir, "orders")

    def write_batches() -> str:
        base = scratch_dir("dwh_evolve_")
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0)
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "channel",
            F.when(F.col("o_orderkey") % 3 == 0, "web").otherwise("store"),
        )
        v1.write.mode("overwrite").parquet(f"{base}/data")
        v2.write.mode("append").parquet(f"{base}/data")
        return base

    base = session_memo(spark, ("evolve_dir", sf_dir), write_batches)
    merged = spark.read.option("mergeSchema", True).parquet(f"{base}/data")
    return merged.groupBy(
        F.when(F.col("channel").isNull(), "v1").otherwise("v2").alias("batch")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("channel").isNull(), 1).otherwise(0)).alias(
            "n_null_channel"
        ),
        F.sum(F.when(F.col("channel") == "web", 1).otherwise(0)).alias("n_web"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance (round 5). The classic delta rule:
# for a view J = A JOIN B, applying a batch of inserts dA, dB needs
# only  dJ = dA⋈B_old ∪ A_old⋈dB ∪ dA⋈dB  — never a rescan of A⋈B.
# The oracle recomputes the view from scratch on the full tables, so
# a missing delta term (the classic dA⋈dB omission bug) or a double-
# counted pair breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "orders_incremental_join_view",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_pairs,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def orders_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the orders⋈customer view under a
    simulated batch: 'old' = even orderkeys / low-key customers,
    deltas = the rest. The maintained aggregate is old-view partials
    PLUS the three delta-join terms (dA⋈B, A⋈dB, dA⋈dB), merged as
    combinable partial sums — O(|delta|) join work per batch instead
    of O(|A⋈B|). The full-recompute oracle certifies the delta
    algebra exactly."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a_old = orders.filter(F.col("o_orderkey") % 2 == 0)
    d_a = orders.filter(F.col("o_orderkey") % 2 == 1)
    b_old = customer.filter(F.col("c_custkey") % 4 != 0)
    d_b = customer.filter(F.col("c_custkey") % 4 == 0)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
            F.count("*").alias("pn"),
            F.sum(_dec("o_totalprice")).alias("psum"),
        )

    cols = ["c_custkey", "c_mktsegment"]
    parts = [
        agg(a_old.join(b_old.select(*cols), a_old.o_custkey == F.col("c_custkey"))),
        agg(d_a.join(b_old.select(*cols), d_a.o_custkey == F.col("c_custkey"))),
        agg(a_old.join(d_b.select(*cols), a_old.o_custkey == F.col("c_custkey"))),
        agg(d_a.join(d_b.select(*cols), d_a.o_custkey == F.col("c_custkey"))),
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("mktsegment").agg(
        F.sum("pn").alias("n_pairs"),
        F.sum("psum").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# The CROSS-MODALITY capstone (VERDICT r14 next #6): one mixed daily
# delta — docs + images + audio + video — through the four modality
# triages off ONE shared manifest, emitting a single routed ledger.
# ---------------------------------------------------------------------------

# Global id discipline for the shared manifest: each modality's local
# id space (doc_id / image_id / audio_id / video_id, all < 1e7 even
# with the +6,000,000 variant offsets) maps into a disjoint 1e8-wide
# global band. The oracle applies the IDENTICAL arithmetic, so a
# misrouted item or band overlap shows up as an id_sum mismatch.
_MIXED_OFFSETS = {"doc": 100_000_000, "image": 200_000_000,
                  "audio": 300_000_000, "video": 400_000_000}


def _mixed_ledger_oracle() -> str:
    from dwh_spark.plans.av import (
        _AV_AUDIO_TRIAGE_ORACLE,
        _AV_VIDEO_TRIAGE_ORACLE,
    )
    from dwh_spark.plans.documents import _DOCS_DELTA_ORACLE
    from dwh_spark.plans.images import _IMGS_TRIAGE_ORACLE

    o = _MIXED_OFFSETS
    return f"""
    SELECT 'doc' AS modality, decision, n_docs AS n_items,
           CAST({o['doc']}::BIGINT * n_docs + id_sum AS BIGINT) AS id_sum
    FROM ( {_DOCS_DELTA_ORACLE} )
    UNION ALL
    SELECT 'image', decision, count(*),
           CAST(sum(image_id + {o['image']}) AS BIGINT)
    FROM ( {_IMGS_TRIAGE_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'audio', decision, count(*),
           CAST(sum(audio_id + {o['audio']}) AS BIGINT)
    FROM ( {_AV_AUDIO_TRIAGE_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'video', decision, count(*),
           CAST(sum(video_id + {o['video']}) AS BIGINT)
    FROM ( {_AV_VIDEO_TRIAGE_ORACLE} ) GROUP BY 2
    """


def mixed_ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared manifest: every item of the mixed daily delta as
    (global_id, modality, decision), each modality routed by ITS
    triage (operators/dedup.py:corpus_ingest_triage for docs; the
    imgs/audio/video triage pipelines for the binary modalities).
    Each modality's per-item frame is localCheckpoint-ed as soon as
    it is built: the AV triages keep their fixtures in one persist
    slot per family ("av.corpus.<family>", so audio and video
    materialize concurrently) — and the checkpoint also means the
    expensive decodes feed the ledger exactly once. Global ids are
    local ids shifted into disjoint 1e8 bands (``_MIXED_OFFSETS``) —
    the cross-family id discipline a real mixed-corpus ingest needs
    pinned before anything joins across modalities."""
    from dwh_spark.functions import text as T
    from dwh_spark.operators import dedup as D
    from dwh_spark.plans.av import (
        av_audio_corpus_ingest_triage,
        av_video_corpus_ingest_triage,
    )
    from dwh_spark.plans.images import imgs_corpus_ingest_triage

    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 10 == 7)
    corpus_kept = docs.filter(F.col("doc_id") % 10 != 7).filter(
        T.quality_score(F.col("text")) >= 0.5
    )
    doc_items = D.corpus_ingest_triage(
        corpus_kept, new_docs, T.quality_score
    ).select(F.col("doc_id").alias("item_id"), "decision")

    def _part(modality: str, items: DataFrame) -> DataFrame:
        local = items.columns[0]
        return items.select(
            (F.col(local) + F.lit(_MIXED_OFFSETS[modality])).alias(
                "global_id"
            ),
            F.lit(modality).alias("modality"),
            "decision",
        ).localCheckpoint()

    # The four modality triages are INDEPENDENT jobs (disjoint inputs,
    # disjoint persist slots), so their localCheckpoint
    # materializations run in parallel. Audio and video have one slot
    # each, so they never rotate each other's fixture out and all four
    # arms run concurrently — the AV chain was the critical path when
    # audio and video ran back-to-back in one worker.
    audio_part, video_part, doc_part, img_part = run_parallel(
        spark,
        [
            lambda: _part("audio", av_audio_corpus_ingest_triage(spark, sf_dir)),
            lambda: _part("video", av_video_corpus_ingest_triage(spark, sf_dir)),
            lambda: _part("doc", doc_items),
            lambda: _part("image", imgs_corpus_ingest_triage(spark, sf_dir)),
        ],
    )
    manifest = doc_part
    for p in (img_part, audio_part, video_part):
        manifest = manifest.unionByName(p)
    return manifest


@query("pipeline_mixed_ingest_ledger", oracle=_mixed_ledger_oracle())
def pipeline_mixed_ingest_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MIXED-CORPUS CAPSTONE: one daily delta carrying all four
    modalities — documents, images, audio clips, videos — routed
    through each modality's triage off one shared manifest
    (:func:`mixed_ingest_manifest`), emitting a single routed ledger:
    (modality, decision, n_items, id_sum) with id_sum in the GLOBAL
    id space. This is the composition a real 100 TB training-data
    ingest runs nightly: modality routing first, then the per-modality
    decision ladders (quality gate -> exact-dup -> near-dup ->
    offset-dup -> kept, each arm probing that modality's STORED
    index), with every item accounted for exactly once under a
    collision-free global id (tests/test_mixed_ledger.py pins
    distinctness; the oracle pins membership per (modality, decision)
    by id_sum).

    Composes the four proven triages without re-deriving them — their
    probe discipline (batch broadcast into streamed stored indexes,
    cheapest-arm-first over shrinking inputs, O(batch + collisions)
    per modality) is documented and plan-audited on each; the
    capstone adds the manifest union and the one global groupBy, both
    O(delta). The oracle is the four modality oracles under the same
    global-id arithmetic — a first-principles re-derivation of every
    routing decision in SQL."""
    _assert_band_discipline(spark, sf_dir)
    return (
        mixed_ingest_manifest(spark, sf_dir)
        .groupBy("modality", "decision")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("global_id").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# The UNIFIED ERASURE capstone — the deletion-side twin of
# pipeline_mixed_ingest_ledger. Round 14 gave every stored index
# family its forget binding (operators/forget.py) and round 15 made
# the IVF retrain executable; this query runs ONE erasure manifest
# (the %10==3 ids of every modality) through all five families —
# containment posting index (docs), IVF cells (embeddings), dHash
# index + simhash block stats (image), H-K subfingerprint lookup
# table (audio), per-frame dHash index + block stats (video) — and
# emits one per-(family, arm) verification
# ledger. The ledger pins, per family: the surviving match structure
# (n_rows / id_sum / score_sum, ids in disjoint global bands) AND an
# explicit ghost counter (n_ghost_hits: surviving rows whose partner
# is a forgotten base id) that must be zero everywhere — one leftover
# posting, cell row, word row, or frame row in ANY family surfaces
# as a nonzero count plus an id_sum the survivor-corpus oracle
# cannot produce.
# ---------------------------------------------------------------------------

# Global band discipline for erasure ledgers: doc/audio/video reuse
# the mixed-ingest bands; embeddings get their own disjoint band.
_ERASURE_OFFSETS = {
    "doc": _MIXED_OFFSETS["doc"],
    "emb": 500_000_000,
    "image": _MIXED_OFFSETS["image"],
    "audio": _MIXED_OFFSETS["audio"],
    "video": _MIXED_OFFSETS["video"],
}

# A forgotten BASE id is a raw corpus id (< the +1e6 variant band)
# with the %10==3 erasure mark — uniform across all four fixtures.
_GHOST_SQL = "({id} % 10 = 3 AND {id} < 1000000)"

# The band discipline _GHOST_SQL and the re-arrival arm split encode:
# raw corpus ids stay below the first variant band. Guarded at
# runtime (ADVICE r15): every modality fixture derives from
# documents.doc_id / embeddings.vec_id, so two max() aggregates
# (parquet footer-stat cheap) cover all five families — at a scale
# factor where raw ids reach 1e6, variant bands would collide with
# organic ids and ghost accounting would silently miscount.
_RAW_ID_BAND = 1_000_000


def _assert_band_discipline(spark: SparkSession, sf_dir: str) -> None:
    from dwh_spark.sources.catalog import load_table

    for table, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        hi = load_table(spark, sf_dir, table).agg(
            F.max(F.col(col)).alias("hi")
        ).collect()[0]["hi"]
        if hi is not None and hi >= _RAW_ID_BAND:
            raise AssertionError(
                f"{table}.{col} max {hi} >= {_RAW_ID_BAND}: raw corpus ids "
                f"collide with the +1e6 variant bands that _GHOST_SQL and "
                f"the re-arrival arm split hard-code — regenerate the "
                f"fixture bands (and _ERASURE_OFFSETS) with a wider stride "
                f"before trusting any ghost/arm accounting at this SF"
            )


def _erasure_ledger_oracle() -> str:
    from dwh_spark.plans.av import (
        _AV_AUDIO_FORGET_ORACLE,
        _AV_VIDEO_FORGET_ORACLE,
    )
    from dwh_spark.plans.documents import _DOCS_FORGET_ORACLE
    from dwh_spark.plans.embeddings import _EMB_FORGET_ORACLE
    from dwh_spark.plans.images import _IMGS_FORGET_ORACLE

    o = _ERASURE_OFFSETS
    g = _GHOST_SQL
    rearrival_arm = (
        "CASE WHEN new_id < 2000000 THEN 'forgot_rearrival' "
        "ELSE 'kept_rearrival' END"
    )
    return f"""
    SELECT 'doc' AS family, {rearrival_arm} AS arm,
           count(*) AS n_rows,
           CAST(sum(new_id + {o['doc']} + corpus_id + {o['doc']}) AS BIGINT)
               AS id_sum,
           CAST(sum(CAST(round(cont_new_in_corpus * 1000000) AS BIGINT)
                    + CAST(round(cont_corpus_in_new * 1000000) AS BIGINT))
                AS BIGINT) AS score_sum,
           CAST(sum(CASE WHEN {g.format(id='corpus_id')} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ghost_hits
    FROM ( {_DOCS_FORGET_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'emb', {rearrival_arm},
           count(*),
           CAST(sum(new_id + {o['emb']} + corpus_id + {o['emb']}) AS BIGINT),
           CAST(sum(CAST(round(cosine * 1000000) AS BIGINT)) AS BIGINT),
           CAST(sum(CASE WHEN {g.format(id='corpus_id')} THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM ( {_EMB_FORGET_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'image', arm,
           count(*),
           CAST(sum(id_a + {o['image']} + id_b + {o['image']}) AS BIGINT),
           CAST(sum(hamming) AS BIGINT),
           CAST(sum(CASE WHEN {g.format(id='id_b')}
                         OR (arm = 'pairs' AND {g.format(id='id_a')})
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM ( {_IMGS_FORGET_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'audio', arm,
           count(*),
           CAST(sum(id_a + {o['audio']} + id_b + {o['audio']}) AS BIGINT),
           CAST(sum(n_matches) AS BIGINT),
           CAST(sum(CASE WHEN {g.format(id='id_b')}
                         OR (arm = 'pairs' AND {g.format(id='id_a')})
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM ( {_AV_AUDIO_FORGET_ORACLE} ) GROUP BY 2
    UNION ALL
    SELECT 'video', arm,
           count(*),
           CAST(sum(id_a + {o['video']} + id_b + {o['video']}) AS BIGINT),
           CAST(sum(n_frames_matched * 1000 + total_hamming) AS BIGINT),
           CAST(sum(CASE WHEN {g.format(id='id_b')}
                         OR (arm = 'pairs' AND {g.format(id='id_a')})
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM ( {_AV_VIDEO_FORGET_ORACLE} ) GROUP BY 2
    """


def _ghost_col(col: str) -> F.Column:
    return (F.col(col) % 10 == 3) & (F.col(col) < 1000000)


def _rearrival_arm() -> F.Column:
    return F.when(
        F.col("new_id") < 2000000, "forgot_rearrival"
    ).otherwise("kept_rearrival")


@query("pipeline_unified_erasure_ledger", oracle=_erasure_ledger_oracle())
def pipeline_unified_erasure_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE UNIFIED ERASURE CAPSTONE: one GDPR manifest (every
    modality's %10==3 base ids), every stored index family, one
    verification ledger. Each family runs its proven forget path —
    docs: forget_posting_index then the capped containment reprobe
    with the forget-maintained df LOAD-BEARING; embeddings:
    forget_rows on the IVF cells then the cell-local re-arrival
    probe; image: forget_rows on the dHash index +
    shrink_simhash_block_df then the blocked pairs + ghost re-probe;
    audio: forget_subfp_index (exact df decrement) then the
    pairs vote + ghost re-probe; video: forget_frame_index +
    shrink_block_df then the capped offset vote + ghost re-probe —
    and the capstone reduces each to (family, arm, n_rows, id_sum,
    score_sum, n_ghost_hits) with ids mapped into disjoint global
    bands (``_ERASURE_OFFSETS``, the same discipline the ingest
    capstone pins on arrival). n_ghost_hits counts surviving rows
    whose partner id is a forgotten base — the oracle, which knows
    only the survivor corpus, pins it to zero in every family while
    the surviving near-dup structure (trimmed copies still pairing
    with each other, kept re-arrivals at containment/cosine 1.0)
    stays intact.

    At 100 TB this is the compliance job a real lake runs: one
    manifest fans out to per-family broadcast anti-joins (never a
    corpus rescan — forget costs are O(forgotten + index), stated at
    operators/forget.py:44-47), and the ledger is the auditor's
    artifact proving both deletion (zero ghosts) and non-collateral
    (survivors untouched). Each family's tiny aggregate is
    localCheckpoint-ed and all five families materialize in
    parallel (``run_parallel``) — the AV probes keep their fixtures in one
    persist slot per family ("av.capped.<family>"), exactly the
    discipline mixed_ingest_manifest documents."""
    from dwh_spark.plans.av import (
        av_audio_offset_forget_probe,
        av_video_offset_forget_probe,
    )
    from dwh_spark.plans.documents import docs_posting_forget_reprobe
    from dwh_spark.plans.embeddings import emb_semantic_forget_reprobe
    from dwh_spark.plans.images import imgs_phash_forget_probe

    _assert_band_discipline(spark, sf_dir)
    o = _ERASURE_OFFSETS

    def _docs_led() -> DataFrame:
        return (
            docs_posting_forget_reprobe(spark, sf_dir)
            .groupBy(_rearrival_arm().alias("arm"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.col("new_id") + o["doc"] + F.col("corpus_id") + o["doc"]
                ).cast("long").alias("id_sum"),
                F.sum(
                    F.round(F.col("cont_new_in_corpus") * 1000000).cast("long")
                    + F.round(F.col("cont_corpus_in_new") * 1000000).cast("long")
                ).cast("long").alias("score_sum"),
                F.sum(_ghost_col("corpus_id").cast("long")).alias("n_ghost_hits"),
            )
            .select(F.lit("doc").alias("family"), "*")
            .localCheckpoint()
        )

    def _emb_led() -> DataFrame:
        return (
            emb_semantic_forget_reprobe(spark, sf_dir)
            .groupBy(_rearrival_arm().alias("arm"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.col("new_id") + o["emb"] + F.col("corpus_id") + o["emb"]
                ).cast("long").alias("id_sum"),
                F.sum(F.round(F.col("cosine") * 1000000).cast("long"))
                .cast("long").alias("score_sum"),
                F.sum(_ghost_col("corpus_id").cast("long")).alias("n_ghost_hits"),
            )
            .select(F.lit("emb").alias("family"), "*")
            .localCheckpoint()
        )

    def _image_led() -> DataFrame:
        return (
            imgs_phash_forget_probe(spark, sf_dir)
            .groupBy("arm")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.col("id_a") + o["image"] + F.col("id_b") + o["image"]
                ).cast("long").alias("id_sum"),
                F.sum("hamming").cast("long").alias("score_sum"),
                F.sum(
                    (
                        _ghost_col("id_b")
                        | ((F.col("arm") == "pairs") & _ghost_col("id_a"))
                    ).cast("long")
                ).alias("n_ghost_hits"),
            )
            .select(F.lit("image").alias("family"), "*")
            .localCheckpoint()
        )

    def _audio_led() -> DataFrame:
        return (
            av_audio_offset_forget_probe(spark, sf_dir)
            .groupBy("arm")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.col("id_a") + o["audio"] + F.col("id_b") + o["audio"]
                ).cast("long").alias("id_sum"),
                F.sum("n_matches").cast("long").alias("score_sum"),
                F.sum(
                    (
                        _ghost_col("id_b")
                        | ((F.col("arm") == "pairs") & _ghost_col("id_a"))
                    ).cast("long")
                ).alias("n_ghost_hits"),
            )
            .select(F.lit("audio").alias("family"), "*")
            .localCheckpoint()
        )

    def _video_led() -> DataFrame:
        return (
            av_video_offset_forget_probe(spark, sf_dir)
            .groupBy("arm")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.col("id_a") + o["video"] + F.col("id_b") + o["video"]
                ).cast("long").alias("id_sum"),
                F.sum(
                    F.col("n_frames_matched") * 1000 + F.col("total_hamming")
                ).cast("long").alias("score_sum"),
                F.sum(
                    (
                        _ghost_col("id_b")
                        | ((F.col("arm") == "pairs") & _ghost_col("id_a"))
                    ).cast("long")
                ).alias("n_ghost_hits"),
            )
            .select(F.lit("video").alias("family"), "*")
            .localCheckpoint()
        )

    # The five family probes are INDEPENDENT jobs (disjoint forget
    # stores, disjoint persist slots: imgs rotates "images.corpus",
    # docs/emb build fresh scratch dirs, and audio and video have one
    # slot each), so they run in parallel.
    audio_led, video_led, docs_led, emb_led, image_led = run_parallel(
        spark, [_audio_led, _video_led, _docs_led, _emb_led, _image_led]
    )
    out = docs_led
    for part in (emb_led, image_led, audio_led, video_led):
        out = out.unionByName(part)
    return out

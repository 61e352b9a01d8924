"""Driver-harness queries: one entry per operator family (SURVEY.md §2.6),
each with a DuckDB-oracle ANSI-SQL twin where SQL-expressible.

Conventions shared by Spark and SQL sides (so the driver's value-hash match
holds): identical column aliases, BIGINT for counts/sums-of-int, DOUBLE with
explicit round() for float aggregates, deterministic tiebreaks in every
window/top-k ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import textstats as TS
from .operators import dedup as DD
from .operators import similarity as SIM

Query = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table in ("documents", "embeddings"):
        # expression-heavy per-row tables: don't let a single small-file scan
        # split serialize regex/vector work (no-op when the scan has splits);
        # cache_key memoizes the partition probe across repeated loads
        from .operators.skew import ensure_min_parallelism

        df = ensure_min_parallelism(df, cache_key=f"{sf_dir}/{table}")
    return df


# ---------------------------------------------------------------------------
# Relational coverage (TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """Filter → hash agg → sort (TPC-H Q1 shape)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """3-way join → agg → deterministic top-10."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderkey")
            .limit(10))


_Q3_SQL = """
SELECT o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """6-way join (region→nation→customer→orders→lineitem→supplier)."""
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (r.join(n, r.r_regionkey == n.n_regionkey)
            .join(c, n.n_nationkey == c.c_nationkey)
            .join(o, c.c_custkey == o.o_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.col("revenue").desc()))


_Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue DESC
"""


def broadcast_part_revenue(spark, sf_dir):
    """Explicit broadcast hash join of the small dimension (the lexicon-join
    pattern, SURVEY.md §2.6 'Joins')."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy("p_brand"))


_BROADCAST_SQL = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def window_top_orders_per_cust(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "rn", "o_orderkey",
                    F.round("o_totalprice", 2).alias("totalprice")))


_WINDOW_TOPK_SQL = """
SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, round(o_totalprice, 2) AS totalprice
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
"""


def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS (distinct from rollup/cube) via Spark SQL."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
    """)


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


# ---------------------------------------------------------------------------
# Events: time ops, as-of join, sessionization, extraction
# ---------------------------------------------------------------------------

def events_value_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation — same definition as DuckDB's
    quantile_cont) per event type."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
                 F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99")))


_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def events_funnel(spark, sf_dir):
    """Ordered funnel analysis (r5): view → click → purchase in strict
    temporal order per user (each step's earliest event at-or-after the
    previous step's time), with per-step user counts and conversion vs the
    first step.  Scale shape: one filtered agg per step plus a users-sized
    join — no per-user window or sort over the full event stream."""
    ev = load(spark, sf_dir, "events")

    def step(name, prev=None):
        e = ev.where(F.col("event_type") == name)
        if prev is not None:
            e = (e.join(prev, "user_id")
                 .where(F.col("ts") >= F.col("t_prev")))
        return e.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    p1 = step("view")
    p2 = step("click", p1)
    p3 = step("purchase", p2)
    counts = [p.agg(F.count("*").alias("users")) for p in (p1, p2, p3)]
    rows = None
    for i, (name, c) in enumerate(zip(("view", "click", "purchase"), counts)):
        r = c.select(F.lit(i + 1).alias("step"), F.lit(name).alias("name"),
                     F.col("users"))
        rows = r if rows is None else rows.unionByName(r)
    first = counts[0].select(F.col("users").alias("u1"))
    return (rows.crossJoin(F.broadcast(first))
            .select("step", "name", "users",
                    F.when(F.col("u1") > 0,
                           F.round(F.col("users") / F.col("u1"), 4))
                    .alias("conv_pct"))
            .orderBy("step"))


_FUNNEL_SQL = """
WITH p1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view'
  GROUP BY user_id
), p2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN p1 ON e.user_id = p1.user_id AND e.ts >= p1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN p2 ON e.user_id = p2.user_id AND e.ts >= p2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), steps AS (
  SELECT 1 AS step, 'view' AS name, CAST(count(*) AS BIGINT) AS users FROM p1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM p2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p3
), f AS (SELECT users AS u1 FROM steps WHERE step = 1)
SELECT CAST(step AS INT) AS step, name, users,
       CASE WHEN u1 > 0 THEN round(users / (u1 * 1.0), 4) END AS conv_pct
FROM steps CROSS JOIN f ORDER BY step
"""


def events_asof_last_signup(spark, sf_dir):
    """As-of join expressed as an ignore-nulls last() window: for every
    purchase, the user's most recent signup at-or-before it."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isin("signup", "purchase"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sig_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return (ev.withColumn("last_signup_ts", F.last(sig_ts, ignorenulls=True).over(w))
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "last_signup_ts"))


_ASOF_SQL = """
SELECT event_id, user_id, ts, last_signup_ts
FROM (SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
      FROM events WHERE event_type IN ('signup', 'purchase'))
WHERE event_type = 'purchase'
"""


def events_range_join(spark, sf_dir):
    """Interval/range join: for every signup, purchases by the same user in
    the following 7 days (equi-key on user_id + range predicate — Spark joins
    on the key and evaluates the range inside the join, no cartesian)."""
    ev = load(spark, sf_dir, "events")
    s = (ev.where(F.col("event_type") == "signup")
         .select(F.col("event_id").alias("signup_id"), "user_id",
                 F.col("ts").alias("signup_ts")))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"))
    j = s.join(p, (s["user_id"] == p["p_user"])
               & (p["p_ts"] >= s["signup_ts"])
               & (p["p_ts"] < s["signup_ts"] + F.expr("INTERVAL 7 DAYS")), "left")
    return (j.groupBy("signup_id")
            .agg(F.count("p_ts").alias("n_purchases"),
                 F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("purchase_value")))


_RANGE_JOIN_SQL = """
SELECT s.event_id AS signup_id,
       count(p.ts) AS n_purchases,
       round(coalesce(sum(p.value), 0.0), 2) AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 7 DAY
GROUP BY s.event_id
"""


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")  # NTZ can't cast to long directly
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (ev.withColumn("session_id", F.sum(new_sess).over(wsum).cast("bigint")))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"), F.max("ts").alias("session_end")))


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY user_id, session_id
"""


def events_props_extract(spark, sf_dir):
    """Regex extraction from the JSON-ish props column + agg."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", "[0-9]+", 0).cast("int")
    return (ev.withColumn("k", k).groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k")))


_PROPS_SQL = """
SELECT event_type, count(*) AS n,
       round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS k FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Text analysis / curation (documents table)
# ---------------------------------------------------------------------------


def doc_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id",
                    F.round(TS.alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
                    F.round(TS.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
                    TS.quality_score(F.col("text")).alias("quality"))


_QUALITY_SQL = r"""
WITH base AS (
  SELECT doc_id,
         length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS punct,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tok
  FROM documents
)
SELECT doc_id,
       round(CASE WHEN nonspace = 0 THEN 0.0 ELSE alpha / CAST(nonspace AS DOUBLE) END, 6)
         AS alpha_ratio,
       round(CASE WHEN nonspace = 0 THEN 0.0 ELSE punct / CAST(nonspace AS DOUBLE) END, 6)
         AS punct_ratio,
       round(0.5 * (CASE WHEN nonspace = 0 THEN 0.0 ELSE alpha / CAST(nonspace AS DOUBLE) END)
             + 0.3 * least(n_tok / 20.0, 1.0)
             + 0.2 * (1.0 - least((CASE WHEN nonspace = 0 THEN 0.0
                                   ELSE punct / CAST(nonspace AS DOUBLE) END) * 4, 1.0)), 6)
         AS quality
FROM base
"""


def doc_model_quality(spark, sf_dir):
    """Model-based quality filter (fastText-classifier shape, VERDICT r3 #5):
    hashing-trick unigram features → deterministic integer weight table →
    mean-pooled logit → sigmoid.  keep compares the INTEGER weight sum (no
    float boundary risk); logit/score are rounded doubles."""
    d = load(spark, sf_dir, "documents")
    st = TS.model_quality_wsum(F.col("text"))
    d = d.select("doc_id", st["wsum"].alias("_w"), st["n_tokens"].alias("n_tokens"))
    logit = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("_w").cast("double") / (F.lit(float(TS.MODEL_WEIGHT_SPAN))
                                      * F.col("n_tokens").cast("double")))
    return d.select("doc_id", "n_tokens",
                    F.round(logit, 6).alias("logit"),
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
                    (F.col("_w") >= 0).alias("keep"))


_MODEL_QUALITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[\p{{L}}]+|[\p{{N}}]+|[^\p{{L}}\p{{N}} \t\n\x0B\f\r]') AS tk
  FROM documents
), stats AS (
  SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         CASE WHEN len(tk) = 0 THEN 0 ELSE list_reduce(list_transform(tk, t ->
           ('0x' || substr(md5('w:' || CAST(('0x' || substr(md5(t), 1, 8))::BIGINT
                                            % {TS.MODEL_N_BUCKETS} AS VARCHAR)), 1, 8)
           )::BIGINT % {2 * TS.MODEL_WEIGHT_SPAN + 1} - {TS.MODEL_WEIGHT_SPAN}),
           (a, b) -> a + b) END AS wsum
  FROM toks
), scored AS (
  SELECT doc_id, n_tokens, wsum,
         CASE WHEN n_tokens = 0 THEN 0.0
              ELSE wsum / ({float(TS.MODEL_WEIGHT_SPAN)} * n_tokens) END AS logit_raw
  FROM stats
)
SELECT doc_id, n_tokens, round(logit_raw, 6) AS logit,
       round(1.0 / (1.0 + exp(-logit_raw)), 6) AS score,
       wsum >= 0 AS keep
FROM scored
"""


def doc_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (r4): self-trained unigram LM, per-doc
    mean NLL in fixed-point (exact order-independent sums), head/middle/tail
    buckets by FIXED cutoffs (no global sort — the 10¹²-doc shape; cutoffs
    calibrated offline, here to the sf corpus terciles)."""
    from .operators.curation import unigram_lm_scores

    return (unigram_lm_scores(load(spark, sf_dir, "documents"),
                              head_nll=3.400, tail_nll=3.404)
            .orderBy("doc_id"))


_LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (SELECT sum(c) AS t FROM counts),
costs AS (
  SELECT tok, CAST(floor(-ln(c / CAST(t AS DOUBLE)) * 1048576.0) AS BIGINT) AS cost
  FROM counts, tot
), per_doc AS (
  SELECT doc_id, sum(cost) AS sc, CAST(count(*) AS INT) AS n_tokens
  FROM toks JOIN costs USING (tok) GROUP BY doc_id
), scored AS (
  SELECT doc_id, n_tokens,
         CAST(sc AS DOUBLE) / (n_tokens * 1048576.0) AS nll_raw
  FROM per_doc
)
SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens, round(s.nll_raw, 6) AS nll,
       CASE WHEN s.nll_raw IS NULL THEN 'empty'
            WHEN s.nll_raw < 3.400 THEN 'head'
            WHEN s.nll_raw < 3.404 THEN 'middle'
            ELSE 'tail' END AS lm_bucket
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def doc_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id",
                    TS.lang_id(F.col("text")).alias("pred_lang"),
                    (TS.lang_id(F.col("text")) == F.col("lang")).cast("int").alias("is_correct"))


def _langid_sql() -> str:
    hit_exprs = {}
    for lang, words in TS.LANG_MARKERS.items():
        terms = []
        for w in words:
            pat = w if lang == "zh" else f" {w} "
            terms.append(
                f"(length(padded) - length(replace(padded, '{pat}', ''))) / {len(pat)}")
        hit_exprs[lang] = "CAST(" + " + ".join(terms) + " AS INT)"
    hits_select = ",\n         ".join(f"{e} AS hits_{lang}" for lang, e in hit_exprs.items())
    # argmax with 'first max wins' over sorted lang codes, matching lang_id()
    langs = sorted(TS.LANG_MARKERS)
    pred = "CASE"
    cond = []
    for lang in langs:
        others_before = [f"hits_{o} < hits_{lang}" for o in langs if o < lang]
        others_after = [f"hits_{o} <= hits_{lang}" for o in langs if o > lang]
        allc = [f"hits_{lang} > 0"] + others_before + others_after
        pred += f" WHEN {' AND '.join(allc)} THEN '{lang}'"
    pred += " ELSE 'und' END"
    return f"""
WITH padded_docs AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents),
hits AS (SELECT doc_id, lang,
         {hits_select}
         FROM padded_docs)
SELECT doc_id, {pred} AS pred_lang,
       CAST(({pred}) = lang AS INT) AS is_correct
FROM hits
"""


def source_quality_rollup(spark, sf_dir):
    """Per-source reputation rollup (r4) — the domain-level quality table a
    curation pipeline maintains to drive source blocklists: doc counts, mean
    heuristic quality, exact-dup counts and the would-keep rate of the
    standard gates, one scan + one agg (map-side combined, one shuffle of
    |sources| rows)."""
    from .operators.dedup import normalized_text

    d = load(spark, sf_dir, "documents")
    n_tok = TS.ws_token_count(F.col("text"))
    q = TS.quality_score(F.col("text"))
    canonical = F.min("doc_id").over(
        Window.partitionBy(F.md5(normalized_text(F.col("text")))))
    staged = d.select("source", "doc_id", q.alias("q"), n_tok.alias("n_tok"),
                      canonical.alias("canon"))
    # Fixed-point doctrine (LM_FXP/IVF_FXP/PR_FXP siblings): q is already
    # rounded to 6 decimals, so floor(q*1e6 + 0.5) is an exact integer in
    # both engines and the mean is a sum of longs + ONE double division —
    # bit-deterministic at any partitioning, unlike avg() over doubles.
    q_fx = F.floor(F.col("q") * F.lit(1e6) + F.lit(0.5)).cast("long")
    keep = F.when((F.col("n_tok") >= 10) & (F.col("q") >= 0.4), 1).otherwise(0)
    return (staged.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(q_fx).alias("_qfx"),
                 F.sum(F.when(F.col("doc_id") != F.col("canon"), 1).otherwise(0))
                 .cast("bigint").alias("n_dups"),
                 F.sum(keep).cast("long").alias("_keep"))
            .select("source", "n_docs",
                    F.round(F.col("_qfx") / (F.col("n_docs") * F.lit(1e6)), 4)
                    .alias("avg_quality"),
                    "n_dups",
                    F.round(F.col("_keep") / F.col("n_docs"), 4).alias("keep_rate"))
            .orderBy("source"))


_ROLLUP_BASE_CTE = r"""base AS (
  SELECT source, doc_id,
         round(0.5 * (CASE WHEN nonspace = 0 THEN 0.0 ELSE alpha / CAST(nonspace AS DOUBLE) END)
               + 0.3 * least(n_tok / 20.0, 1.0)
               + 0.2 * (1.0 - least((CASE WHEN nonspace = 0 THEN 0.0
                                     ELSE punct / CAST(nonspace AS DOUBLE) END) * 4, 1.0)), 6)
           AS q,
         n_tok,
         min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))))
           AS canon
  FROM (SELECT source, doc_id, text,
               length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS nonspace,
               length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha,
               length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS punct,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tok
        FROM documents)
)"""

_ROLLUP_SELECT = r"""
SELECT source, count(*) AS n_docs,
       round(CAST(sum(CAST(floor(q * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             / (count(*) * 1000000.0), 4) AS avg_quality,
       CAST(sum(CASE WHEN doc_id <> canon THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       round(CAST(sum(CASE WHEN n_tok >= 10 AND q >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 4) AS keep_rate
FROM base GROUP BY source"""

_SOURCE_ROLLUP_SQL = ("WITH " + _ROLLUP_BASE_CTE + _ROLLUP_SELECT
                      + " ORDER BY source\n")


def _knn_verdict(nn, corpus, e):
    """Majority vote + truth join of the kNN eval over any neighbor set:
    neighbors → label votes → top vote (ties → smallest label) →
    correctness flag per held-out query."""
    votes = (nn.join(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                   F.col("label").alias("nbr_label")), "neighbor_id")
             .groupBy("query_id", "nbr_label").agg(F.count("*").alias("v")))
    w = Window.partitionBy("query_id").orderBy(F.col("v").desc(), "nbr_label")
    pred = (votes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("query_id", F.col("nbr_label").alias("pred_label")))
    truth = e.where(F.col("vec_id") >= 400).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (truth.join(pred, "query_id")
            .select("query_id", "true_label", "pred_label",
                    (F.col("true_label") == F.col("pred_label")).alias("correct"))
            .orderBy("query_id"))


def knn_label_accuracy_ivfpq(spark, sf_dir):
    """IVF-PQ-backed kNN eval (r5, VERDICT r4 #7): the same 10-NN
    majority-vote probe, but neighbors come from the IVF-PQ index built
    over the corpus split — the eval a pipeline actually runs once the
    labeled set stops being small enough to brute-force.  The index
    (centroids, codebooks, codes) is derived from the corpus only; held-out
    queries probe nprobe cells and score via ADC LUTs.  Deterministic →
    exact twin; tests/test_round5_fixes.py asserts agreement with the
    brute-force verdict."""
    e = load(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") < 400)
    held = (e.where(F.col("vec_id") >= 400)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    nn = SIM.ivfpq_ann_topk(corpus, held, k=10, n_cells=16, nprobe=4,
                            kmeans_rounds=1, m=8, n_codes=16)
    return _knn_verdict(nn, corpus, e)


def lexicon_match_rate(spark, sf_dir):
    """Broadcast dictionary-lookup word matching (the north_star lexicon join)
    over the documents table's token stream."""
    from .operators.lexicon import match_tokens, synthetic_lexicon

    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(
        F.regexp_extract_all("text", F.lit(TS.PORTABLE_TOKEN_RE), 0)).alias("text"))
    lex = synthetic_lexicon(spark, n_extra=0)
    return (match_tokens(words, lex)
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.sum(F.col("lexicon_match").cast("int")).cast("bigint").alias("n_matched"))
            .withColumn("match_rate", F.round(F.col("n_matched") / F.col("n_tokens"), 6)))


def _lexicon_sql() -> str:
    from .operators.lexicon import lexicon_words

    values = ", ".join(f"('{w}')" for w in lexicon_words(n_extra=0))
    return rf"""
WITH lex(word) AS (VALUES {values}),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
         '[\p{{L}}]+|[\p{{N}}]+|[^\p{{L}}\p{{N}} \t\n\x0B\f\r]')) AS tok
  FROM documents
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       round(sum(CASE WHEN word IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS match_rate
FROM toks LEFT JOIN lex ON lower(tok) = word
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------


# shared shingle CTE (3-gram token shingles over normalized text)
# Twin regex doctrine (code-review r5): Java \s is exactly the ASCII class
# [ \t\n\x0B\f\r]; RE2's \s omits \x0B, so every DuckDB twin spells the
# class out wherever the Spark side uses \s against document TEXT.  (The
# HTML twins' tag patterns keep \s* — markup-internal, frozen with the rule.)
_SHINGLE_CTE = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS t FROM documents
), toks AS (
  SELECT doc_id, regexp_extract_all(t, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]') AS tk FROM norm
), sh3 AS (
  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 3)
), shf AS (
  SELECT doc_id, array_to_string(tk, ' ') AS shingle
  FROM toks WHERE len(tk) > 0 AND len(tk) < 3
), shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (SELECT * FROM sh3 UNION ALL SELECT * FROM shf)
)
"""

# shared MinHash CTE tail (16 hashes, 4 bands of 4) — appended after a
# shingles(...) CTE; four twins derive candidate pairs from these bands
_MINHASH_BANDS_CTES = r""",
mh AS (
  SELECT doc_id, h, min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mhv
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hs
  GROUP BY doc_id, h
), bands AS (
  SELECT doc_id, CAST(h // 4 AS VARCHAR) || '|' || string_agg(mhv, '|' ORDER BY h) AS band_key
  FROM mh GROUP BY doc_id, h // 4
)"""


def dedup_minhash_pairs(spark, sf_dir):
    return (DD.minhash_lsh_candidates(load(spark, sf_dir, "documents"))
            .orderBy("doc_a", "doc_b"))


_MINHASH_SQL = _SHINGLE_CTE + _MINHASH_BANDS_CTES + r"""
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def repeated_substrings(spark, sf_dir):
    """Cross-document repeated-span detection (r5) — the candidate stage of
    exact-substring dedup (Lee et al. 2021 use a suffix array for the same
    question): every 24-char window of the normalized text grouped by the
    substring itself, kept when it spans >= 2 distinct docs, top-100 by
    (n_docs, n_occ, span)."""
    from .operators.dedup import repeated_substrings as _rs

    return _rs(load(spark, sf_dir, "documents"), width=24, min_docs=2,
               top_k=100)


def _repeated_spans_sql(width: int = 24, min_docs: int = 2,
                        top_k: int = 100) -> str:
    return rf"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS t
  FROM documents
), spans AS (
  SELECT doc_id, substr(t, i, {width}) AS span
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - {width - 1}, 0) + 1)) AS i
        FROM norm)
)
SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= {min_docs}
ORDER BY n_docs DESC, n_occ DESC, span LIMIT {top_k}
"""


def exact_substring_dedup(spark, sf_dir):
    """Exact-substring dedup COMPLETED (r6, VERDICT r5 #5): duplicated
    24-char windows merge into maximal per-doc intervals and are cut from
    the case-preserved whitespace-collapsed text, keeping one canonical
    occurrence corpus-wide.
    Audit rollup per affected doc: interval count, removed chars, and the
    md5 of the cleaned text (the strongest per-row probe — any divergence
    in span extents or the cut arithmetic flips the hash)."""
    from .operators.dedup import exact_substring_clean

    out = exact_substring_clean(load(spark, sf_dir, "documents"), width=24)
    return (out.where(F.col("n_spans_removed") > 0)
            .select("doc_id", "n_spans_removed", "chars_removed",
                    F.length("text_clean").cast("long").alias("cleaned_len"),
                    F.md5("text_clean").alias("cleaned_md5"))
            .orderBy("doc_id").limit(200))


def _exact_substring_sql(width: int = 24, min_docs: int = 2,
                         limit: int = 200) -> str:
    """Twin of exact_substring_dedup: same window fan-out as
    _repeated_spans_sql, grouped by the SUBSTRING ITSELF (the Spark side
    groups by xxhash64 — the twin's text grouping is the collision check);
    canonical = min (doc_id, pos) per span in two grouping steps (DuckDB
    min() does not order structs); interval merge via lag() — consecutive
    removed positions p, q start a new interval when q - p > width, and
    the kept text is head + per-gap substrings + tail re-assembled with an
    ordered string_agg.  Matching is case-SENSITIVE on whitespace-collapsed
    text (ws_collapsed — the Lee et al. raw-byte contract)."""
    w = int(width)
    return rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
  FROM documents
), occ0 AS (
  SELECT doc_id, CAST(i AS INT) AS pos, substr(t, i, {w}) AS span
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - {w - 1}, 0) + 1)) AS i
        FROM norm)
), dup AS (
  SELECT span FROM occ0 GROUP BY span HAVING count(DISTINCT doc_id) >= {min_docs}
), occ AS (
  SELECT o.doc_id, o.pos, o.span FROM occ0 o JOIN dup USING (span)
), c1 AS (
  SELECT span, min(doc_id) AS cd FROM occ GROUP BY span
), c2 AS (
  SELECT o.span, c1.cd, min(o.pos) AS cp
  FROM occ o JOIN c1 ON o.span = c1.span AND o.doc_id = c1.cd
  GROUP BY o.span, c1.cd
), rm AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN c2 ON o.span = c2.span
  WHERE NOT (o.doc_id = c2.cd AND o.pos = c2.cp)
), g AS (
  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM rm
), m AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE prev IS NULL OR pos - prev > {w}) AS INT)
           AS n_spans_removed,
         CAST(sum(CASE WHEN prev IS NULL THEN {w}
                       ELSE least(pos - prev, {w}) END) AS BIGINT)
           AS chars_removed,
         max(pos) AS mx
  FROM g GROUP BY doc_id
), seg AS (
  SELECT g.doc_id, g.pos,
         CASE WHEN g.prev IS NULL THEN substr(n.t, 1, g.pos - 1)
              ELSE substr(n.t, g.prev + {w}, greatest(g.pos - g.prev - {w}, 0))
         END AS seg
  FROM g JOIN norm n USING (doc_id)
), clean AS (
  SELECT s.doc_id,
         string_agg(s.seg, '' ORDER BY s.pos) || substr(any_value(n.t), any_value(m.mx) + {w}) AS ct
  FROM seg s JOIN norm n USING (doc_id) JOIN m USING (doc_id)
  GROUP BY s.doc_id
)
SELECT m.doc_id, m.n_spans_removed, m.chars_removed,
       CAST(length(c.ct) AS BIGINT) AS cleaned_len, md5(c.ct) AS cleaned_md5
FROM m JOIN clean c USING (doc_id)
ORDER BY m.doc_id LIMIT {limit}
"""


def _bpe_chain(n_merges: int) -> str:
    """The training CTE chain of operators/tokenizer.py::bpe_train: one
    (pairs → best → merged-vocab) triple per round.  vocab{r}/best{r} are
    MATERIALIZED: vocab{r-1} is referenced twice per round (pair counting +
    merge rewrite) and DuckDB's default CTE inlining would copy the subtree
    2^rounds times (same fix as the PageRank dangling chain)."""
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f""", p{r} AS (
  SELECT s[i] || ' ' || s[i + 1] AS pair, sum(cnt) AS total
  FROM (SELECT s, cnt, unnest(range(1, len(s))) AS i
        FROM (SELECT string_split(trim(syms), '  ') AS s, cnt FROM vocab{r - 1})
        WHERE len(s) >= 2)
  GROUP BY 1
), best{r} AS MATERIALIZED (
  SELECT pair, total FROM p{r} ORDER BY total DESC, pair LIMIT 1
), vocab{r} AS MATERIALIZED (
  SELECT replace(syms,
                 ' ' || split_part(b.pair, ' ', 1) || '  ' || split_part(b.pair, ' ', 2) || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS syms, cnt
  FROM vocab{r - 1}, best{r} b
)""")
    return rf"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text),
                '[\p{{L}}]+|[\p{{N}}]+|[^\p{{L}}\p{{N}} \t\n\x0B\f\r]')) AS word
  FROM documents
), vocab0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS syms, count(*) AS cnt
  FROM toks GROUP BY 1
){''.join(rounds)}"""


def bpe_token_counts(spark, sf_dir):
    """Tokenizer encode pass (r5): the corpus-trained merge table applied
    back to every document — per-doc word count, base symbol count (chars)
    and post-merge symbol count.  Train = operators/tokenizer.py::bpe_train,
    an iterative job;
    encode = K chained delimiter-anchored replaces, a pure projection (see
    operators/tokenizer.py::bpe_encode_counts)."""
    from .operators.tokenizer import bpe_encode_counts

    return bpe_encode_counts(load(spark, sf_dir, "documents"), n_merges=8) \
        .orderBy("doc_id")


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """Twin of bpe_token_counts: the shared training chain re-derives the
    best{r} merge rows, then a u0..u{K} replace chain applies them to every
    DISTINCT word and the per-doc sums join through the word map."""
    parts = [_bpe_chain(n_merges), r""", dwords AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS word
  FROM documents
), u0 AS (
  SELECT DISTINCT word, regexp_replace(word, '(.)', ' \1 ', 'g') AS s FROM dwords
)"""]
    for r in range(1, n_merges + 1):
        # LEFT JOIN ON TRUE + CASE: when the corpus exhausts its merges
        # before round r, best{r} is empty and a plain cross join would
        # silently empty the whole word map — bpe_train `break`s instead
        # (code-review r5, verified 0-vs-N divergence on a tiny corpus)
        parts.append(f""", u{r} AS (
  SELECT word,
         CASE WHEN b.pair IS NULL THEN s
              ELSE replace(s,
                 ' ' || split_part(b.pair, ' ', 1) || '  ' || split_part(b.pair, ' ', 2) || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') END AS s
  FROM u{r - 1} LEFT JOIN best{r} b ON TRUE
)""")
    parts.append(f""", wmap AS (
  SELECT word, len(string_split(trim(s), '  ')) AS n FROM u{n_merges}
)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(d.word)) AS BIGINT) AS n_base_syms,
       CAST(sum(w.n) AS BIGINT) AS n_bpe_syms
FROM dwords d JOIN wmap w ON d.word = w.word
GROUP BY d.doc_id ORDER BY doc_id
""")
    return "".join(parts)


def _purchase_edges(spark, sf_dir):
    # SHUFFLE_HASH on the orders side (r7, guide §3.1): the build side of
    # each partition is the orderkey-hashed slice of a UNIQUE-key dimension
    # — bounded per partition at any sf and skew-free by construction — so
    # the shuffled-hash join drops sort-merge's two full sorts of the edge
    # derivation (interleaved A/B at 10× sf0.1: staging 1.81 → 1.30 s,
    # identical edge set).  Deliberately NOT a broadcast: orders grows
    # linearly with sf and a broadcast hint would stop fitting exactly when
    # the driver escalates scale.
    o = load(spark, sf_dir, "orders").hint("shuffle_hash")
    li = load(spark, sf_dir, "lineitem")
    return (o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
                    F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst")))


def graph_pagerank(spark, sf_dir):
    """Integer-arithmetic PageRank (r4) over the customer→supplier purchase
    graph — the link-graph centrality prior web-scale curation uses for
    URL/domain quality.  All mass is fixed-point integers (rank DIV degree
    contributions, integer damping), so 10 iterations are bit-deterministic
    at any parallelism and the DuckDB twin re-derives every round as a
    generated CTE chain."""
    from .operators.graph import pagerank_int

    return pagerank_int(_purchase_edges(spark, sf_dir), iters=10).orderBy("node")


def graph_pagerank_dangling(spark, sf_dir):
    """PageRank with dangling-mass redistribution (r5).  The purchase
    graph's suppliers have no out-edges, so the default operator leaks their
    damped mass each round; redistribute_dangling=True reshares it uniformly
    in the integer domain (one extra anti-join + fixed-point scalar sum per
    round — still bit-deterministic).  The twin re-derives the dm{i} scalar
    as one extra CTE per round; on a dangling-free graph both modes are
    bit-equal (pinned by tests/test_graph.py)."""
    from .operators.graph import pagerank_int

    return (pagerank_int(_purchase_edges(spark, sf_dir), iters=10,
                         redistribute_dangling=True)
            .orderBy("node"))


def curation_source_prior(spark, sf_dir):
    """Composed curation stage (r5, VERDICT r4 #5): link-graph source prior
    joined onto the per-source reputation rollup — the reason a web-scale
    pipeline computes PageRank at all.  The 'link graph' is derived from the
    corpus itself: MinHash-LSH near-dup candidate pairs whose two docs live
    in different sources become copier → original edges (the earlier doc_id
    of a pair is treated as the original), then integer PageRank with
    dangling redistribution ranks sources by how much others duplicate
    them, and the rank lands on the rollup as (prior_i, prior).  Sources
    outside the copy graph keep NULL priors.

    Scale shape: banded MinHash candidate generation (already bucketed, no
    n²) → two broadcast-sized joins to attach sources → |sources|²-bounded
    edge list → PageRank over a tiny graph → join onto the |sources|-row
    rollup; no corpus-sized shuffle beyond the signature agg."""
    from .operators.dedup import minhash_lsh_candidates
    from .operators.graph import pagerank_int

    d = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(d)
    src_of = d.select("doc_id", "source")
    edges = (pairs
             .join(src_of.select(F.col("doc_id").alias("doc_a"),
                                 F.col("source").alias("dst")), "doc_a")
             .join(src_of.select(F.col("doc_id").alias("doc_b"),
                                 F.col("source").alias("src")), "doc_b")
             .where(F.col("src") != F.col("dst"))
             .select("src", "dst"))
    pr = pagerank_int(edges, iters=10, redistribute_dangling=True)
    rollup = source_quality_rollup(spark, sf_dir)
    return (rollup.join(pr.withColumnRenamed("node", "source"), "source", "left")
            .select("source", "n_docs", "avg_quality", "n_dups", "keep_rate",
                    F.col("rank_i").alias("prior_i"),
                    F.col("rank").alias("prior"))
            .orderBy("source"))


def _source_prior_sql(iters: int = 10, damping_pct: int = 85) -> str:
    """Twin of curation_source_prior: copy-edge derivation + the shared
    PageRank CTE chain (redistributing) + the shared rollup base."""
    from .operators.graph import PR_FXP

    return (_SHINGLE_CTE + _MINHASH_BANDS_CTES + r""", pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT DISTINCT db.source AS src, da.source AS dst
  FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
               JOIN documents db ON db.doc_id = p.doc_b
  WHERE da.source <> db.source
)""" + _pagerank_chain(iters, damping_pct, redistribute=True)
        + ", " + _ROLLUP_BASE_CTE
        + f""", rollup AS ({_ROLLUP_SELECT})
SELECT r.source, r.n_docs, r.avg_quality, r.n_dups, r.keep_rate,
       CAST(p.rk AS BIGINT) AS prior_i,
       round(CAST(p.rk AS DOUBLE) / {PR_FXP}, 9) AS prior
FROM rollup r LEFT JOIN r{iters} p ON p.node = r.source
ORDER BY r.source
""")


_PURCHASE_EDGES_CTE = """
WITH edges AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)"""


def _pagerank_chain(iters: int, damping_pct: int, redistribute: bool) -> str:
    """The nodes/deg/r0..rN CTE chain of operators/graph.py::pagerank_int,
    to be appended after an `edges(src, dst)` CTE.  All arithmetic is BIGINT
    floor division, so the match is exact (not approximate); with
    redistribute, each round adds a dm{i} scalar CTE (mass on out-degree-0
    nodes) shared uniformly — mirroring redistribute_dangling=True."""
    from .operators.graph import PR_FXP

    d = damping_pct
    parts = [f""", nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, {PR_FXP} // n AS rk FROM nodes, nn)"""]
    for i in range(1, iters + 1):
        dm_cte, dm_term, dm_join = "", "", ""
        if redistribute:
            dm_cte = f""", dm{i} AS (
  SELECT CAST(coalesce(sum(r.rk), 0) AS BIGINT) AS dm
  FROM r{i - 1} r LEFT JOIN deg dg ON r.node = dg.src
  WHERE dg.src IS NULL
)"""
            dm_term = f" + dm{i}.dm * {d} // (100 * nn.n)"
            dm_join = f" CROSS JOIN dm{i}"
        parts.append(f"""{dm_cte}, c{i} AS (
  SELECT e.dst, sum(r.rk // d.deg) AS s
  FROM edges e JOIN deg d ON e.src = d.src JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst
), r{i} AS MATERIALIZED (
  SELECT nds.node,
         ({PR_FXP} * {100 - d}) // (100 * nn.n) + coalesce(c{i}.s, 0) * {d} // 100{dm_term} AS rk
  FROM nodes nds CROSS JOIN nn{dm_join} LEFT JOIN c{i} ON c{i}.dst = nds.node
)""")
    return "".join(parts)


def _pagerank_sql(iters: int = 10, damping_pct: int = 85,
                  redistribute: bool = False) -> str:
    """Generated twin of operators/graph.py::pagerank_int over the
    customer→supplier purchase graph."""
    from .operators.graph import PR_FXP

    parts = [_PURCHASE_EDGES_CTE, _pagerank_chain(iters, damping_pct, redistribute)]
    parts.append(f"""
SELECT node, CAST(rk AS BIGINT) AS rank_i,
       round(CAST(rk AS DOUBLE) / {PR_FXP}, 9) AS rank
FROM r{iters} ORDER BY node""")
    return "".join(parts)


def dedup_cross_corpus(spark, sf_dir):
    """Cross-corpus MinHash dedup (r4): does the 'new crawl' (odd doc ids)
    duplicate anything in the 'already-ingested' corpus (even doc ids)?  The
    band join is new × ref only — the daily incremental-ingest dedup shape
    (ref signatures computed once and stored at production scale)."""
    d = load(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 2 == 1)
    ref = d.where(F.col("doc_id") % 2 == 0)
    return (DD.cross_corpus_minhash_pairs(new, ref)
            .orderBy("new_id", "ref_id"))


_CROSS_MINHASH_SQL = _SHINGLE_CTE + _MINHASH_BANDS_CTES + r"""
SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
FROM bands n JOIN bands r ON n.band_key = r.band_key
WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
ORDER BY new_id, ref_id
"""


def ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over informative shingles: document-frequency cap
    max_df=5 drops boilerplate shingles BEFORE the inverted-index self-join
    (a df-k shingle is a k²/2-row join bucket — the one unbounded term in the
    otherwise-sparse plan)."""
    return (DD.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.0,
                                   max_df=5)
            .orderBy("doc_a", "doc_b"))


_JACCARD_SQL = _SHINGLE_CTE + r""",
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM shingles)
  WHERE df <= 5
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Corpus curation: dup clusters, sampling, packing, tf-idf
# ---------------------------------------------------------------------------

def dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash-LSH candidate pairs → canonical
    (min) doc id per near-dup family.  Oracle: recursive-CTE transitive
    closure over the SAME pair derivation."""
    from .operators.curation import dedup_clusters as _cc

    return _cc(load(spark, sf_dir, "documents")).orderBy("doc_id")


_CLUSTERS_SQL = ("WITH RECURSIVE " + _SHINGLE_CTE[len("WITH "):]
                 + _MINHASH_BANDS_CTES) + r""", prs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
), sym AS (
  SELECT doc_a AS s, doc_b AS d FROM prs UNION SELECT doc_b, doc_a FROM prs
), reach(s, d) AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
)
SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s ORDER BY doc_id
"""


def domain_mixture_sample(spark, sf_dir):
    """Temperature-scaled (α=0.5) source-mixture resampling to a 50% token
    budget (r5) — the corpus-mixing step of a training-data pipeline: flatten
    per-source token shares with p^α, split the budget proportionally, then
    keep a deterministic md5-shuffled prefix of each source up to its quota.
    Output is the per-source audit rollup incl. a BIGINT bit_xor set-equality
    checksum of the kept doc ids."""
    from .operators.curation import domain_mixture_sample as _dm

    return _dm(load(spark, sf_dir, "documents"), budget_pct=50)


def _mixture_sql(budget_pct: int = 50) -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '[\p{{L}}]+|[\p{{N}}]+|[^\p{{L}}\p{{N}} \t\n\x0B\f\r]'))
              AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS shuf
  FROM documents
), tot AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM t GROUP BY source
), g AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS grand FROM tot),
wts AS (
  SELECT source, total_tokens, grand,
         sqrt(total_tokens / CAST(grand AS DOUBLE)) AS w
  FROM tot CROSS JOIN g
), wsum AS (
  SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS ws FROM wts
), tgt AS (
  SELECT source, total_tokens,
         CAST(floor((grand * {budget_pct} // 100) * w / ws) AS BIGINT) AS target_tokens
  FROM wts CROSS JOIN wsum
), cum AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY shuf, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT c.source, tg.total_tokens, tg.target_tokens,
       CAST(sum(CASE WHEN c.cum <= tg.target_tokens THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_docs,
       CAST(coalesce(sum(CASE WHEN c.cum <= tg.target_tokens THEN c.n_tok END), 0)
            AS BIGINT) AS kept_tokens,
       CAST(coalesce(bit_xor(CASE WHEN c.cum <= tg.target_tokens THEN
              ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 12))::BIGINT END), 0)
            AS BIGINT) AS keep_check
FROM cum c JOIN tgt tg USING (source)
GROUP BY c.source, tg.total_tokens, tg.target_tokens
ORDER BY c.source
"""


# one definition feeds both the Spark query and the generated twin so the
# two populations can never drift (code-review r5)
_DSIR_QUALITY_THRESHOLD = 0.5


def dsir_importance_sample(spark, sf_dir):
    """DSIR-shaped importance resampling (r5): hashed-unigram target/raw
    ratio scoring (fixed-point rationals instead of logs — see
    operators/curation.py::dsir_importance_sample), top-100 docs by
    per-token score."""
    from .operators.curation import dsir_importance_sample as _ds

    return _ds(load(spark, sf_dir, "documents"), n_buckets=256, top_k=100,
               quality_threshold=_DSIR_QUALITY_THRESHOLD)


def _dsir_sql(n_buckets: int = 256, top_k: int = 100,
              quality_threshold: float = _DSIR_QUALITY_THRESHOLD) -> str:
    fxp = 1 << 20
    return rf"""
WITH base AS (
  SELECT doc_id, text,
         round(0.5 * (CASE WHEN nonspace = 0 THEN 0.0 ELSE alpha / CAST(nonspace AS DOUBLE) END)
               + 0.3 * least(n_tok / 20.0, 1.0)
               + 0.2 * (1.0 - least((CASE WHEN nonspace = 0 THEN 0.0
                                     ELSE punct / CAST(nonspace AS DOUBLE) END) * 4, 1.0)), 6)
           AS q
  FROM (SELECT doc_id, text,
               length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS nonspace,
               length(regexp_replace(text, '[^\p{{L}}]', '', 'g')) AS alpha,
               length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) AS punct,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tok
        FROM documents)
), tb AS (
  SELECT doc_id, q,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_buckets} AS b
  FROM (SELECT doc_id, q,
               unnest(regexp_extract_all(lower(text),
                      '[\p{{L}}]+|[\p{{N}}]+|[^\p{{L}}\p{{N}} \t\n\x0B\f\r]')) AS tok
        FROM base)
), raw AS (SELECT b, CAST(count(*) AS BIGINT) AS r_cnt FROM tb GROUP BY b),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt FROM tb
        WHERE q >= {quality_threshold} GROUP BY b),
lr AS (
  SELECT raw.b, (coalesce(t_cnt, 0) + 1) * {fxp} // (r_cnt + 1) AS lr_fx
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
), scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(lr_fx) AS BIGINT) AS score_sum
  FROM tb JOIN lr ON tb.b = lr.b GROUP BY doc_id
)
SELECT CAST(rank AS INT) AS rank, doc_id, n_tok, score_fx FROM (
  SELECT doc_id, n_tok, score_sum // n_tok AS score_fx,
         row_number() OVER (ORDER BY score_sum // n_tok DESC, doc_id) AS rank
  FROM scored WHERE n_tok > 0)
WHERE rank <= {top_k} ORDER BY rank
"""


def pack_token_budget(spark, sf_dir):
    """Token-budget sequence packing (sharded prefix-sum bins)."""
    from .operators.curation import pack_token_budget as _pp

    return _pp(load(spark, sf_dir, "documents"), budget=512, n_shards=16).orderBy("seq_id")


_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard,
         CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT shard * 1099511627776 + CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY 1 ORDER BY seq_id
"""


def tfidf_top_terms(spark, sf_dir):
    """Top-5 terms per language by summed tf-idf.

    Scale shape: explode → tf agg → document frequency as a map-side-combined
    ``groupBy(term).count()`` AGGREGATE joined back onto tf.  NOT a
    count-over-window partitioned by term: term frequencies are Zipfian, so a
    window would funnel every tf row of a stopword into ONE task (AQE
    skew-splits joins, never windows).  The df aggregate's output is
    vocabulary-sized, and AQE turns the join into a broadcast when that
    vocabulary fits / skew-splits it when it doesn't.  Catalyst prunes the df
    branch to a distinct-agg over its own scan rather than reusing the wider
    tf exchange (column pruning beats exchange reuse here); if the scan ever
    dominates, persist tf or repartition-by-term to share one exchange at the
    cost of map-side combine.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TS.PORTABLE_TOKEN_RE), 0))
        .alias("term"))
    tf = toks.groupBy("doc_id", "lang", "term").agg(F.count("*").alias("tf"))
    n_docs = d.count()  # one scalar — fine to compute eagerly
    # tf rows are unique per (doc, term) ⇒ count(*) per term IS the doc freq
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1))
    scored = (tf.join(dfreq, "term")
              .withColumn("w", F.col("tf") * idf)
              .groupBy("lang", "term").agg(F.sum("w").alias("score")))
    win = Window.partitionBy("lang").orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= 5)
            .select("lang", F.col("rank").cast("int").alias("rank"), "term",
                    F.round("score", 6).alias("score"))
            .orderBy("lang", "rank"))


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(lower(text), '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT lang, term, sum(tf * ln((n_docs + 1) / CAST(df + 1 AS DOUBLE))) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  GROUP BY lang, term
)
SELECT lang, CAST(rank AS INT) AS rank, term, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY score DESC, term) AS rank
      FROM scored)
WHERE rank <= 5 ORDER BY lang, rank
"""


def doc_pii_scan(spark, sf_dir):
    """PII pattern scan (emails / URLs / phone-ish runs) — a redaction
    pipeline's detection pass.  The synthetic corpus has no organic PII, so a
    deterministic contact line is appended to every third document (keyed on
    doc_id) before scanning; patterns are RE2/Java-portable (no backrefs)."""
    d = load(spark, sf_dir, "documents")
    enriched = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"),
                 F.lit(" contact u"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or http://ex.org/p/"),
                 F.col("doc_id").cast("string"),
                 F.lit(" tel +1 (555) 010-"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("text"))
    emails = F.regexp_count(
        enriched, F.lit(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"))
    urls = F.regexp_count(enriched, F.lit(r"https?://[^ ]+"))
    phones = F.regexp_count(
        enriched, F.lit(r"\+?[0-9][0-9()\- ]{7,}[0-9]"))
    return d.select(
        "doc_id",
        emails.alias("n_emails"), urls.alias("n_urls"), phones.alias("n_phones"),
        ((emails + urls + phones) > 0).alias("has_pii"))


_PII_SQL = r"""
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@example.com or http://ex.org/p/' || CAST(doc_id AS VARCHAR)
                   || ' tel +1 (555) 010-' || CAST(doc_id AS VARCHAR)
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS INT) AS n_phones,
       (len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(t, 'https?://[^ ]+'))
        + len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{7,}[0-9]'))) > 0 AS has_pii
FROM enriched
"""


def _curation_flags(d):
    """The four curation-filter predicates (length, quality, language,
    exact-duplicate) of `curation_filter_audit`.  Returns doc_id, lang,
    n_tokens, quality plus the four nullable boolean flags."""
    from pyspark.sql import Window

    from .operators.dedup import normalized_text

    n_tok = F.regexp_count("text", F.lit(TS.PORTABLE_TOKEN_RE))
    quality = F.round(TS.quality_score(F.col("text")), 6)
    canon = F.min("doc_id").over(
        Window.partitionBy(F.md5(normalized_text(F.col("text")))))
    staged = d.select("doc_id", "lang", n_tok.alias("n_tokens"),
                      quality.alias("quality"), canon.alias("canonical_id"))
    return staged.select(
        "doc_id", "lang", "n_tokens", "quality",
        (F.col("n_tokens") < 10).alias("f_short"),
        (F.col("quality") < 0.4).alias("f_quality"),
        (~F.col("lang").isin("en", "de", "fr", "es")).alias("f_lang"),
        (F.col("doc_id") != F.col("canonical_id")).alias("f_dup"))


def curation_filter_audit(spark, sf_dir):
    """Composed curation filter chain with an audit column: first failing
    stage (too_short → low_quality → lang → exact-duplicate) or NULL when
    kept — the shape of a real corpus-cleaning pass, one scan + one window.
    Flag predicates come from `_curation_flags`."""
    flags = _curation_flags(load(spark, sf_dir, "documents"))
    reason = (F.when(F.col("f_short"), "too_short")
              .when(F.col("f_quality"), "low_quality")
              .when(F.col("f_lang"), "lang")
              .when(F.col("f_dup"), "duplicate"))
    return (flags.withColumn("drop_reason", reason)
            .withColumn("kept", F.col("drop_reason").isNull())
            .select("doc_id", "n_tokens", "quality", "drop_reason", "kept"))


# SQL twin of _curation_flags: the four flags per doc as a `flags` CTE.
_FILTER_FLAGS_CTE = r"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS INT)
           AS n_tokens,
         length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS punct,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_ws_tok,
         min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))))
           AS canonical_id
  FROM documents
), q AS (
  SELECT doc_id, lang, n_tokens, canonical_id,
         round(0.5 * (CASE WHEN nonspace = 0 THEN 0.0 ELSE alpha / CAST(nonspace AS DOUBLE) END)
               + 0.3 * least(n_ws_tok / 20.0, 1.0)
               + 0.2 * (1.0 - least((CASE WHEN nonspace = 0 THEN 0.0
                                     ELSE punct / CAST(nonspace AS DOUBLE) END) * 4, 1.0)), 6)
           AS quality
  FROM base
), flags AS (
  SELECT doc_id, lang, n_tokens, quality, canonical_id,
         n_tokens < 10 AS f_short,
         quality < 0.4 AS f_quality,
         lang NOT IN ('en', 'de', 'fr', 'es') AS f_lang,
         doc_id <> canonical_id AS f_dup
  FROM q
)
"""


def corpus_snapshot_diff(spark, sf_dir):
    """Release-to-release corpus diff (r6): classify every doc_id across two
    snapshots as added / removed / changed / unchanged — the audit a corpus
    release pipeline publishes between versions.  The "previous" snapshot
    is derived deterministically from the current table (md5-bucket 0 of 20
    absent from prev → those docs are `added`; bucket 1 texts perturbed in
    prev → `changed`; bucket 2 contributes synthetic retired negative ids →
    `removed`), so the query needs no second input table at any SF.

    Scale shape: both sides reduce to (doc_id, md5) BEFORE the join — the
    full-outer join shuffles 8-byte ids + 32-byte fingerprints, never text;
    at 100 TB both snapshots would be bucketed by doc_id and the join is
    co-partitioned with zero extra shuffle.

    r7: the full-outer join is replaced by ONE scan + ONE aggregate.  Both
    join sides key doc_id uniquely (curr ids are table keys; prev ids are
    those same keys, retired ids are negative), so FULL OUTER JOIN on
    doc_id ≡ grouping the union of both sides' rows by doc_id and taking
    the one non-null hash per side.  Each doc emits its ≤3 side-rows from a
    single projection (the prev-side hash of a bucket≠1 doc IS md5(text) —
    shared by codegen CSE, where the r6 three-subtree shape re-scanned the
    text column three times and md5'd it twice), and the one exchange
    carries ~50-byte hash rows.  2 scans + SMJ → 1 scan + 1 hash agg."""
    from .operators.curation import doc_hash_bucket

    d = load(spark, sf_dir, "documents")
    bucket = doc_hash_bucket(F.col("doc_id"), 20)
    c_md5 = F.md5("text")
    p_md5 = F.when(bucket == 1,
                   F.md5(F.concat(F.col("text"), F.lit(" legacy")))) \
        .otherwise(c_md5)
    null_s = F.lit(None).cast("string")
    entry = "struct<doc_id:bigint,p_md5:string,c_md5:string>"
    entries = F.array(
        F.when(bucket != 0,
               F.struct(F.col("doc_id"), p_md5.alias("p_md5"),
                        null_s.alias("c_md5")).cast(entry)),
        F.when(bucket == 2,
               F.struct((-F.col("doc_id") - 1).alias("doc_id"),
                        F.lit("retired").alias("p_md5"),
                        null_s.alias("c_md5")).cast(entry)),
        F.struct(F.col("doc_id"), null_s.alias("p_md5"),
                 c_md5.alias("c_md5")).cast(entry))
    sides = (d.select(F.explode(entries).alias("e"))
             .where(F.col("e").isNotNull())
             .select("e.doc_id", "e.p_md5", "e.c_md5"))
    merged = (sides.groupBy("doc_id")
              .agg(F.max("p_md5").alias("p_md5"),
                   F.max("c_md5").alias("c_md5")))
    change = (F.when(F.col("p_md5").isNull(), "added")
              .when(F.col("c_md5").isNull(), "removed")
              .when(F.col("p_md5") != F.col("c_md5"), "changed")
              .otherwise("unchanged"))
    return merged.select("doc_id", change.alias("change_type"))


_SNAPSHOT_DIFF_SQL = r"""
WITH bucketed AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 20 AS b
  FROM documents
), prev AS (
  SELECT doc_id,
         md5(CASE WHEN b = 1 THEN text || ' legacy' ELSE text END) AS p_md5
  FROM bucketed WHERE b <> 0
  UNION ALL
  SELECT -doc_id - 1 AS doc_id, 'retired' AS p_md5 FROM bucketed WHERE b = 2
), curr AS (
  SELECT doc_id, md5(text) AS c_md5 FROM documents
)
SELECT coalesce(prev.doc_id, curr.doc_id) AS doc_id,
       CASE WHEN p_md5 IS NULL THEN 'added'
            WHEN c_md5 IS NULL THEN 'removed'
            WHEN p_md5 <> c_md5 THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM prev FULL OUTER JOIN curr USING (doc_id)
"""


def embedding_int8_quantize(spark, sf_dir):
    """Scalar int8 quantization of the embedding table (r6): per-dimension
    min/max ranges → 0..255 codes — the vector-store compression default
    (4× smaller than float32; recall stays within a point for cosine/L2 at
    small k).  The IVF-PQ stack (operators/similarity.py) is the heavier
    sibling; scalar quantization is what stores apply FIRST.

    Scale shape: TWO passes over the table, each with its own posexplode —
    a stats pass collapsing to a |dims|-row min/max agg, and an encode pass
    that broadcast-joins those stats back.  Deliberate: persisting the
    exploded corpus to make it one pass is exactly the cache you cannot
    afford at 100 TB, and a per-dim window would shuffle every exploded row
    into |dims| partitions; re-scanning (with column pruning to the vector
    column) is the cheap leg.  No corpus-sized shuffle either pass.  Codes
    are exact integers on both engines: float→double
    is exact, the (val−mn)/(mx−mn)*255 chain is evaluated in the same IEEE
    order, and floor(x+0.5) avoids banker's-rounding drift (the corpus
    datasheet doctrine).  Returns exploded (vec_id, pos, code) rows so the
    driver hash compares scalars, not arrays."""
    e = load(spark, sf_dir, "embeddings")
    ex = (e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
          .withColumn("val", F.col("val").cast("double")))
    stats = ex.groupBy("pos").agg(F.min("val").alias("mn"),
                                  F.max("val").alias("mx"))
    code = (F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint"))
            .otherwise(F.floor((F.col("val") - F.col("mn"))
                               / (F.col("mx") - F.col("mn")) * 255
                               + F.lit(0.5)))).cast("int")
    return (ex.join(F.broadcast(stats), "pos")
            .select("vec_id", F.col("pos").cast("int").alias("pos"),
                    code.alias("code")))


_INT8_QUANT_SQL = r"""
WITH ex AS (
  SELECT vec_id,
         CAST(unnest(range(len(embedding))) AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
), stats AS (
  SELECT pos, min(val) AS mn, max(val) AS mx FROM ex GROUP BY pos
)
SELECT ex.vec_id, ex.pos,
       CAST(CASE WHEN s.mx = s.mn THEN 0
                 ELSE floor((ex.val - s.mn) / (s.mx - s.mn) * 255 + 0.5)
            END AS INT) AS code
FROM ex JOIN stats s USING (pos)
"""


def eval_split_assignment(spark, sf_dir):
    """Deterministic train/val/test split assignment keyed by CONTENT hash
    (r6): the split bucket is md5 of the text itself (NULL → ''), not of
    doc_id, so byte-identical duplicates land in the SAME split by
    construction — dedup-survivor choice can never move shared content
    across the train/eval boundary (the C4/GPT-3 eval-leakage lesson).
    NEAR-dup leakage across the boundary is NOT guarded here: run an
    n-gram decontamination pass with the val/test splits as the benchmark
    side (`benchmark_contamination`, operators/curation.py, takes any
    gram set) before release.  80/10/10 via
    doc_hash_bucket's first-32-bits-mod-100 rule applied to the content
    fingerprint itself (hashed once): bucket < 80 → train, < 90 → val,
    else test.

    Output is the per-(source, split) release accounting: docs, regex
    tokens, distinct content classes, and the bit_xor 48-bit-md5 doc-id
    checksum so two engines prove the same DOC SET, not just the same
    counts.  Scale shape: the split column is a pure projection (free at
    any corpus size); one agg collapses to |sources|×3 rows.  Nothing
    shuffles but the hash-keyed partial aggregates."""
    d = load(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    n_tok = F.regexp_count(text, F.lit(TS.PORTABLE_TOKEN_RE))
    doc_key = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                     16, 10).cast("long")
    hashed = d.select(F.col("source"), F.md5(text).alias("c_md5"),
                      n_tok.cast("long").alias("n_tok"),
                      doc_key.alias("doc_key"))
    # the split key IS the content fingerprint: bucket from c_md5, computed
    # once (same first-32-bits-mod-n rule as curation.doc_hash_bucket)
    bucket = F.conv(F.substring("c_md5", 1, 8), 16, 10).cast("long") % 100
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val")
             .otherwise("test"))
    return (hashed.withColumn("split", split)
            .groupBy("source", "split")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("n_tokens"),
                 F.countDistinct("c_md5").cast("bigint").alias("n_contents"),
                 F.expr("bit_xor(doc_key)").cast("long").alias("doc_check"))
            .orderBy("source", "split"))


_EVAL_SPLIT_SQL = r"""
WITH hashed AS (
  SELECT source,
         md5(coalesce(text, '')) AS c_md5,
         CAST(len(regexp_extract_all(coalesce(text, ''),
              '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS BIGINT)
           AS n_tok,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS doc_key
  FROM documents
), t AS (
  SELECT source, n_tok, c_md5, doc_key,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(c_md5, 1, 8))::BIGINT % 100 AS b
        FROM hashed)
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT c_md5) AS BIGINT) AS n_contents,
       CAST(bit_xor(doc_key) AS BIGINT) AS doc_check
FROM t
GROUP BY source, split
ORDER BY source, split
"""


def corpus_report(spark, sf_dir):
    """Corpus datasheet (r5): the one-row summary a training-data pipeline
    publishes with a release — sizes, source/language breadth, exact-dup
    rate, fixed-point mean quality, and discrete token-count percentiles.

    The percentiles are HISTOGRAM-based on purpose: a direct global sort (or
    rank window) funnels the corpus through one partition, while
    groupBy(n_tok) collapses to at most |distinct token counts| rows (a few
    thousand at any corpus size) and the cumulative window runs over that
    small table only.  Discrete definition (smallest value whose cumulative
    count reaches ceil(p·n)) keeps both engines integer-exact — no
    interpolation arithmetic to diverge.

    NULL text coalesces to '' on BOTH sides before any derivation: without
    it the NULL token-count bucket sorts FIRST in Spark's window but LAST in
    DuckDB's, skewing the percentiles apart (code-review r5).  The
    tokenization regex runs in the histogram subtree only; total_tokens and
    the percentiles both derive from the value-count table."""
    d = load(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    n_tok = F.regexp_count(text, F.lit(TS.PORTABLE_TOKEN_RE))
    q_fx = F.floor(TS.quality_score(text) * F.lit(1e6) + F.lit(0.5)) \
        .cast("long")
    totals = d.select("source", "lang", q_fx.alias("q_fx"),
                      TS.fingerprint(text).alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct("fp")).alias("dup_docs"),
        F.sum("q_fx").alias("_qfx"))
    hist = (d.select(n_tok.cast("long").alias("n_tok"))
            .groupBy("n_tok").agg(F.count("*").alias("c")))
    w = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    pct = (cum.crossJoin(F.broadcast(totals.select("n_docs")))
           .agg(F.sum(F.col("n_tok") * F.col("c")).alias("total_tokens"),
                F.min(F.when(F.col("cum") * 2 >= F.col("n_docs"),
                             F.col("n_tok"))).alias("p50_tokens"),
                F.min(F.when(F.col("cum") * 10 >= F.col("n_docs") * 9,
                             F.col("n_tok"))).alias("p90_tokens")))
    return (totals.crossJoin(pct)
            .select("n_docs", "total_tokens", "n_sources", "n_langs",
                    "dup_docs",
                    F.round(F.col("_qfx") / (F.col("n_docs") * F.lit(1e6)), 4)
                    .alias("avg_quality"),
                    "p50_tokens", "p90_tokens"))


_CORPUS_REPORT_SQL = r"""
WITH base AS (
  SELECT source, lang,
         CAST(floor(round(0.5 * (CASE WHEN nonspace = 0 THEN 0.0
                                 ELSE alpha / CAST(nonspace AS DOUBLE) END)
               + 0.3 * least(wtok / 20.0, 1.0)
               + 0.2 * (1.0 - least((CASE WHEN nonspace = 0 THEN 0.0
                                     ELSE punct / CAST(nonspace AS DOUBLE) END)
                                    * 4, 1.0)), 6) * 1000000.0 + 0.5) AS BIGINT)
           AS q_fx,
         md5(lower(trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS fp
  FROM (SELECT source, lang, coalesce(text, '') AS t,
               length(regexp_replace(coalesce(text, ''), '[ \t\n\x0B\f\r]', '', 'g')) AS nonspace,
               length(regexp_replace(coalesce(text, ''), '[^\p{L}]', '', 'g')) AS alpha,
               length(regexp_replace(coalesce(text, ''), '[^!-/:-@\[-`{-~]', '', 'g')) AS punct,
               CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))
               END AS wtok
        FROM documents)
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
         CAST(sum(q_fx) AS BIGINT) AS qfx
  FROM base
), cum AS (
  SELECT n_tok, c, sum(c) OVER (ORDER BY n_tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT CAST(len(regexp_extract_all(coalesce(text, ''),
                    '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\x0B\f\r]')) AS BIGINT)
                 AS n_tok,
               count(*) AS c
        FROM documents GROUP BY 1)
), pct AS (
  SELECT CAST(sum(n_tok * c) AS BIGINT) AS total_tokens,
         CAST(min(CASE WHEN cum * 2 >= t.n_docs THEN n_tok END) AS BIGINT)
           AS p50_tokens,
         CAST(min(CASE WHEN cum * 10 >= t.n_docs * 9 THEN n_tok END) AS BIGINT)
           AS p90_tokens
  FROM cum CROSS JOIN totals t
)
SELECT t.n_docs, p.total_tokens, t.n_sources, t.n_langs, t.dup_docs,
       round(t.qfx / (t.n_docs * 1000000.0), 4) AS avg_quality,
       p.p50_tokens, p.p90_tokens
FROM totals t CROSS JOIN pct p
"""


def doc_boilerplate_strip(spark, sf_dir):
    """Inter-document boilerplate-line removal (CCNet/RefinedWeb): lines whose
    trimmed form appears in ≥3 distinct docs are stripped everywhere.  Two
    deterministic footers are appended (every 2nd / every 3rd doc) so the op
    provably fires; organic cross-doc repeats are stripped identically by both
    engines.  clean_md5 pins the full reconstructed text byte-for-byte."""
    from .operators.curation import remove_boilerplate_lines

    d = load(spark, sf_dir, "documents")
    base = F.when(F.col("doc_id") % 2 == 0,
                  F.concat("text", F.lit("\nSubscribe to our newsletter today"))
                  ).otherwise(F.col("text"))
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(base, F.lit("\nAll rights reserved"))).otherwise(base)
    enriched = d.select("doc_id", t.alias("text"))
    out = remove_boilerplate_lines(enriched, min_docs=3)
    return (out.select("doc_id", "n_lines", "n_removed",
                       F.md5("clean_text").alias("clean_md5"))
            .orderBy("doc_id"))


_BOILERPLATE_SQL = r"""
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN base || chr(10) || 'All rights reserved'
              ELSE base END AS t
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN text || chr(10) || 'Subscribe to our newsletter today'
                    ELSE text END AS base
        FROM documents)
), ls AS (
  SELECT doc_id, string_split(t, chr(10)) AS l FROM enriched
), rows_ AS (
  SELECT doc_id, i AS pos, l[i] AS line
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls)
), boiler AS (
  SELECT trim(line) AS tl FROM rows_ WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
), kept AS (
  SELECT r.doc_id, r.pos, r.line
  FROM rows_ r LEFT JOIN boiler b ON trim(r.line) = b.tl
  WHERE b.tl IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id, CAST(coalesce(len(l.l), 0) AS INT) AS n_lines,
       CAST(coalesce(len(l.l), 0) - coalesce(r.n_kept, 0) AS INT) AS n_removed,
       -- NULL-text contract (r4): clean stays NULL, counts are 0 (never NULL)
       CASE WHEN l.l IS NULL THEN NULL ELSE md5(coalesce(r.clean, '')) END AS clean_md5
FROM ls l LEFT JOIN rebuilt r USING (doc_id)
ORDER BY l.doc_id
"""


def benchmark_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination (GPT-3-style overlap check): every
    37th document donates its 2 lexicographically-first 3-gram shingles as
    the deterministic 'evaluation set'; each document reports how many of its
    distinct shingles collide.  Doc grams stay map-side (pipelined explode +
    broadcast bench join) — see operators/curation.benchmark_contamination."""
    from .operators.curation import benchmark_contamination
    from .operators.dedup import token_shingles

    d = load(spark, sf_dir, "documents")
    bench = (d.where(F.col("doc_id") % 37 == 0)
             .select(F.explode(F.slice(token_shingles(F.col("text"), 3), 1, 2))
                     .alias("gram")))
    return benchmark_contamination(d, bench).orderBy("doc_id")


_DECONTAM_SQL = _SHINGLE_CTE + r""",
bench AS (
  SELECT DISTINCT shingle AS gram FROM (
    SELECT shingle, row_number() OVER (PARTITION BY doc_id ORDER BY shingle) AS rn
    FROM shingles WHERE doc_id % 37 = 0) WHERE rn <= 2
), hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM shingles s JOIN bench b ON s.shingle = b.gram GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(h.n, 0) AS INT) AS n_contaminated,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id
"""


_FILTER_AUDIT_SQL = _FILTER_FLAGS_CTE + r"""
SELECT doc_id, n_tokens, quality,
       CASE WHEN f_short THEN 'too_short'
            WHEN f_quality THEN 'low_quality'
            WHEN f_lang THEN 'lang'
            WHEN f_dup THEN 'duplicate' END AS drop_reason,
       (CASE WHEN f_short THEN 'too_short'
             WHEN f_quality THEN 'low_quality'
             WHEN f_lang THEN 'lang'
             WHEN f_dup THEN 'duplicate' END) IS NULL AS kept
FROM flags
"""


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

# Width of the harness embeddings tables.  The Spark operators infer the
# width from the data (ivf_kmeans_centroids seeds), but a generated SQL twin
# must be told it up front — _kmeans_cte emits one sum column per dimension.
# Any query whose oracle embeds _kmeans_cte must generate it with the dim of
# the corpus it will run on, or the twin silently truncates/NULLs centroids.
EMBEDDING_DIM = 64


def _queries_df(spark, sf_dir, n: int = 5):
    e = load(spark, sf_dir, "embeddings")
    return e.where(F.col("vec_id") < n).select(F.col("vec_id").alias("query_id"), "embedding")


def ann_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return (SIM.brute_force_topk(e, _queries_df(spark, sf_dir), k=10)
            .orderBy("query_id", "rank"))


_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding AS ev
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
), sums AS (
  SELECT query_id, neighbor_id,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
         sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
         sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ee
  FROM (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(ev) AS y FROM pairs)
  GROUP BY query_id, neighbor_id
), scored AS (
  SELECT query_id, neighbor_id, dot / (sqrt(qq) * sqrt(ee)) AS cos FROM sums
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 6) AS cosine_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 10 ORDER BY query_id, rank
"""


def ivf_ann_topk(spark, sf_dir):
    """IVF (inverted-file) ANN — the coarse-quantizer scale path: zero-shuffle
    nearest-centroid assignment, probe 4 of 16 cells per query, exact cosine
    only inside probed cells.  Centroids = lowest-id seeds refined by ONE
    deterministic k-means round (fixed-point means — order-independent) →
    exact DuckDB twin re-derives seeding, refinement, assignment, probing,
    and scores."""
    e = load(spark, sf_dir, "embeddings")
    return (SIM.ivf_ann_topk(e, _queries_df(spark, sf_dir), k=10,
                             n_cells=16, nprobe=4, kmeans_rounds=1)
            .orderBy("query_id", "rank"))


def _kmeans_cte(n_cells: int, dim: int = EMBEDDING_DIM) -> str:
    """SQL twin of similarity.ivf_kmeans_centroids (one round): seed with the
    n_cells lowest-id vectors, assign, recompute per-cell means in fixed-point
    BIGINT sums (bit-identical to Spark's order-independent accumulation),
    empty cells keep their seed.  Defines CTEs cent0 → asgn0 → csums → cent."""
    fxp = SIM.IVF_FXP
    sums = ",\n         ".join(
        f"sum(CAST(floor(vec[{i + 1}] * {float(fxp)}) AS BIGINT)) AS s{i}"
        for i in range(dim))
    mean_list = ", ".join(
        f"CAST(s{i} AS DOUBLE) / (n * {float(fxp)})" for i in range(dim))
    return f"""cent0 AS (
  SELECT CAST(vec_id AS INT) AS cell_id, vec AS cv FROM v WHERE vec_id < {n_cells}
), asgn0 AS (
  SELECT vec, cell_id FROM (
    SELECT v.vec, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent0 c) WHERE rn = 1
), csums AS (
  SELECT cell_id, count(*) AS n,
         {sums}
  FROM asgn0 GROUP BY cell_id
), cent AS (
  SELECT c0.cell_id, coalesce(m.newv, c0.cv) AS cv
  FROM cent0 c0 LEFT JOIN (SELECT cell_id, [{mean_list}] AS newv FROM csums) m
  USING (cell_id)
)"""


def _ivf_ann_sql(n_cells: int = 16, nprobe: int = 4) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), {_kmeans_cte(n_cells, EMBEDDING_DIM)}, asgn AS (
  SELECT vec_id, vec, cell_id FROM (
    SELECT v.vec_id, v.vec, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, vec AS qv, cell_id FROM (
    SELECT v.vec_id, v.vec, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c WHERE v.vec_id < 5) WHERE rn <= {nprobe}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.qv, a.vec AS ev
  FROM asgn a JOIN probes p USING (cell_id)
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'ev')} AS cos FROM cand
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 6) AS cosine_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= 10 ORDER BY query_id, rank
"""


def _pq_ctes(m: int, sub: int) -> dict:
    """Shared PQ SQL fragments (codebooks, per-subspace argmin assignment,
    encoding joins) — ONE definition consumed by both _pq_ann_sql and
    _ivfpq_sql so the encoding form cannot drift between the twins."""
    def sl(expr: str, j: int) -> str:
        return f"{expr}[{j * sub + 1}:{(j + 1) * sub}]"

    def sumsq(a: str) -> str:
        return f"list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x)"

    cbs = ",\n".join(
        f"cb{j} AS (SELECT code, {sl('vecn', j)} AS cv FROM seeds)" for j in range(m))
    # assignment orders by the SAME algebraic form as pq_code_expr
    # (norm2(c)*norm(x) - 2*x[j].c — monotone-equal to the normalized L2,
    # avoids materializing normalized corpus vectors), identical fold shapes
    # so codes match bit-for-bit
    assigns = ",\n".join(
        f"""a{j} AS (
  SELECT vec_id, code AS code_{j} FROM (
    SELECT v.vec_id, c.code,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY ({sumsq('c.cv')}) * sqrt({_dot_sql('v.vec0', 'v.vec0')})
                                       - 2.0 * ({_dot_sql(sl('v.vec0', j), 'c.cv')}) ASC,
                                       c.code) AS rn
    FROM v CROSS JOIN cb{j} c) WHERE rn = 1
)""" for j in range(m))
    return {
        "cbs": cbs,
        "assigns": assigns,
        "enc_joins": " ".join(f"JOIN a{j} USING (vec_id)" for j in range(1, m)),
        "code_cols": ", ".join(f"code_{j}" for j in range(m)),
        "cb_joins": " ".join(f"JOIN cb{j} c{j} ON c{j}.code = e.code_{j}"
                             for j in range(m)),
        "qsl": sl,
    }


def ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ ANN (r4) — the FAISS-style production composition: IVF prunes
    WHICH vectors are scored (nprobe/n_cells), PQ codes shrink WHAT is
    scanned per candidate, ADC LUTs make each pair O(m).  One corpus
    projection emits (cell, codes); deterministic end-to-end → the twin
    re-derives centroids (k-means round), codebooks, encoding, probing and
    scores."""
    e = load(spark, sf_dir, "embeddings")
    return (SIM.ivfpq_ann_topk(e, _queries_df(spark, sf_dir), k=10,
                               n_cells=16, nprobe=4, kmeans_rounds=1,
                               m=8, n_codes=16)
            .orderBy("query_id", "rank"))


def _ivfpq_sql(k: int = 10, n_cells: int = 16, nprobe: int = 4, m: int = 8,
               n_codes: int = 16, dim: int | None = None) -> str:
    """Generated twin of similarity.ivfpq_ann_topk — composes the k-means
    cell CTEs with the shared PQ fragments and scores probed-cell candidates
    by the reconstruction dot."""
    dim = dim or EMBEDDING_DIM
    sub = dim // m
    c = _pq_ctes(m, sub)
    score = " + ".join(_dot_sql(c["qsl"]("p.qv", j), f"c{j}.cv") for j in range(m))
    return f"""
WITH v AS (
  SELECT vec_id, vec0 AS vec, vec0,
         list_transform(vec0, x -> x / sqrt({_dot_sql('vec0', 'vec0')})) AS vecn
  FROM (SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings)
), {_kmeans_cte(n_cells, dim)}, cells AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c) WHERE rn = 1
), seeds AS (
  SELECT CAST(vec_id AS INT) AS code, vecn FROM v WHERE vec_id < {n_codes}
),
{c["cbs"]},
{c["assigns"]},
enc AS (SELECT a0.vec_id, {c["code_cols"]} FROM a0 {c["enc_joins"]}),
probes AS (
  SELECT vec_id AS query_id, vecn AS qv, cell_id FROM (
    SELECT v.vec_id, v.vecn, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c WHERE v.vec_id < 5) WHERE rn <= {nprobe}
), scored AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id, {score} AS s
  FROM cells cl JOIN probes p USING (cell_id)
  JOIN enc e ON e.vec_id = cl.vec_id {c["cb_joins"]}
  WHERE cl.vec_id <> p.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(s, 6) AS pq_score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {k} ORDER BY query_id, rank
"""


def _knn_ivfpq_sql(k: int = 10, n_cells: int = 16, nprobe: int = 4, m: int = 8,
                   n_codes: int = 16, dim: int | None = None) -> str:
    """Generated twin of knn_label_accuracy_ivfpq: the _ivfpq_sql machinery
    with the index CTEs (v / kmeans / codebooks / enc) built over the
    corpus split only and probes drawn from the held-out split, then the
    vote/majority/truth tail of _knn_verdict."""
    dim = dim or EMBEDDING_DIM
    sub = dim // m
    c = _pq_ctes(m, sub)
    score = " + ".join(_dot_sql(c["qsl"]("p.qv", j), f"c{j}.cv") for j in range(m))
    return f"""
WITH v AS (
  SELECT vec_id, vec0 AS vec, vec0,
         list_transform(vec0, x -> x / sqrt({_dot_sql('vec0', 'vec0')})) AS vecn
  FROM (SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings
        WHERE vec_id < 400)
), vq AS (
  SELECT vec_id, vec0 AS vec,
         list_transform(vec0, x -> x / sqrt({_dot_sql('vec0', 'vec0')})) AS vecn
  FROM (SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings
        WHERE vec_id >= 400)
), {_kmeans_cte(n_cells, dim)}, cells AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c) WHERE rn = 1
), seeds AS (
  SELECT CAST(vec_id AS INT) AS code, vecn FROM v WHERE vec_id < {n_codes}
),
{c["cbs"]},
{c["assigns"]},
enc AS (SELECT a0.vec_id, {c["code_cols"]} FROM a0 {c["enc_joins"]}),
probes AS (
  SELECT vec_id AS query_id, vecn AS qv, cell_id FROM (
    SELECT q.vec_id, q.vecn, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_sql('q.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM vq q CROSS JOIN cent c) WHERE rn <= {nprobe}
), scored AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id, {score} AS s
  FROM cells cl JOIN probes p USING (cell_id)
  JOIN enc e ON e.vec_id = cl.vec_id {c["cb_joins"]}
  WHERE cl.vec_id <> p.query_id
), topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {k}
), votes AS (
  SELECT t.query_id, lbl.label AS nbr_label, count(*) AS v
  FROM topk t JOIN embeddings lbl ON lbl.vec_id = t.neighbor_id
  GROUP BY 1, 2
), pred AS (
  SELECT query_id, nbr_label AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY v DESC, nbr_label) AS rn
    FROM votes) WHERE rn = 1
)
SELECT h.vec_id AS query_id, h.label AS true_label, p.pred_label,
       h.label = p.pred_label AS correct
FROM embeddings h JOIN pred p ON p.query_id = h.vec_id
WHERE h.vec_id >= 400
ORDER BY query_id
"""


def _cosine_sql(a: str, b: str) -> str:
    return (f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))")


def _dot_sql(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]),"
            f" (acc, x) -> acc + x)")


def semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (VERDICT r3 #4): k-means-refined IVF cell
    assignment → within-cell cosine near-dup pairs (no cross-cell pair is ever
    generated) → connected components → total canonical keep-list.  Every
    stage is deterministic, so the DuckDB twin re-derives the whole chain
    (recursive-CTE closure for the components)."""
    return (SIM.semantic_dedup(load(spark, sf_dir, "embeddings"), threshold=0.4,
                               n_cells=16, kmeans_rounds=1)
            .orderBy("vec_id"))


def _semantic_dedup_sql(threshold: float = 0.4, n_cells: int = 16) -> str:
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), {_kmeans_cte(n_cells, EMBEDDING_DIM)}, asgn AS (
  SELECT vec_id, vec, cell_id FROM (
    SELECT v.vec_id, v.vec, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_cosine_sql('v.vec', 'c.cv')} DESC, c.cell_id) AS rn
    FROM v CROSS JOIN cent c) WHERE rn = 1
), prs AS (
  SELECT a.vec_id AS s, b.vec_id AS d
  FROM asgn a JOIN asgn b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_cosine_sql('a.vec', 'b.vec')} >= {threshold}
), sym AS (
  SELECT s, d FROM prs UNION SELECT d, s FROM prs
), reach(s, d) AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
), labels AS (
  SELECT s AS vec_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s
)
SELECT e.vec_id, coalesce(l.cluster_id, e.vec_id) AS cluster_id,
       coalesce(l.cluster_id, e.vec_id) = e.vec_id AS keep
FROM embeddings e LEFT JOIN labels l USING (vec_id)
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# OCR pipeline itself (generated corpus)
# ---------------------------------------------------------------------------

def _corpus_df(spark):
    from .corpus import corpus_to_spark_df, gen_corpus

    return corpus_to_spark_df(spark, gen_corpus(100, seed=42))


def _caption_candidates(docs):
    """Every span of the interleaved corpus with its caption candidate: the
    NEXT non-media span with non-null text in document order — a forward
    ignore-nulls first_value over (offset, array position), so media runs
    share the following text (media, media, text → both medias get it) and
    duplicate offsets tie-break on array position, exactly the golden
    oracle's stable sort.  THE one definition of the adjacency rule —
    ocr_media_captions and interleaved_datasheet both consume it
    (code-review r6: two inlined copies would drift silently)."""
    from .operators.parse import MEDIA_KINDS

    sp = (docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
          .select("doc_id", "pos",
                  F.col("span.offset").alias("span_offset"),
                  F.col("span.kind").alias("kind"),
                  F.col("span.text").alias("text"),
                  F.col("span.media_ref").alias("media_ref")))
    w = (Window.partitionBy("doc_id").orderBy("span_offset", "pos")
         .rowsBetween(1, Window.unboundedFollowing))
    cap = F.first(F.when(~F.col("kind").isin(*MEDIA_KINDS), F.col("text")),
                  ignorenulls=True).over(w)
    return sp.withColumn("cap", cap)


def ocr_media_captions(spark, sf_dir):
    """Interleaved-payload adjacency (r5; north_rule 'interleaved text +
    media documents'): for every media span, its caption candidate under
    the _caption_candidates rule — the pairing a multimodal training
    pipeline extracts for captioning/alt-text sets.  Pure window +
    projection — one shuffle on doc_id, no join."""
    from .operators.parse import MEDIA_KINDS

    return (_caption_candidates(_corpus_df(spark))
            .where(F.col("kind").isin(*MEDIA_KINDS))
            .select("doc_id",
                    F.col("span_offset").cast("int").alias("span_ord"),
                    "media_ref", F.col("kind").alias("media_kind"),
                    F.substring("cap", 1, 40).alias("caption_excerpt"),
                    F.length("cap").cast("int").alias("caption_len"))
            .orderBy("doc_id", "span_ord", "media_ref"))


def interleaved_datasheet(spark, sf_dir):
    """One-row MULTIMODAL release datasheet (r6, VERDICT r5 #8): the span
    mix of the interleaved text+media corpus — counts per media kind, how
    many docs carry media, and CAPTION COVERAGE (media spans with a
    caption candidate under the ocr_media_captions adjacency rule).  The
    text-table corpus_report and this row together are the datasheet a
    multimodal training corpus ships with.

    Shape: the shared _caption_candidates frame (ONE definition of the
    adjacency rule) folded into a single global agg, plus a 1-row doc-count
    crossJoin — posexplode of a zero-span doc would silently undercount
    n_docs.  Coverage rounding is explicit half-up fixed-point on both
    sides (Python round() is banker's; Spark's differs on binary
    representation edges)."""
    from .operators.parse import MEDIA_KINDS

    docs = _corpus_df(spark)
    is_media = F.col("kind").isin(*MEDIA_KINDS)
    agg = (_caption_candidates(docs).agg(
        F.count("*").alias("n_spans"),
        F.sum((~is_media).cast("long")).alias("n_text_spans"),
        F.sum(is_media.cast("long")).alias("n_media_spans"),
        F.sum((F.col("kind") == "image").cast("long")).alias("n_images"),
        F.sum((F.col("kind") == "table").cast("long")).alias("n_tables"),
        F.sum((F.col("kind") == "figure").cast("long")).alias("n_figures"),
        F.countDistinct(F.when(is_media, F.col("doc_id")))
        .alias("media_docs"),
        F.sum((is_media & F.col("cap").isNotNull()).cast("long"))
        .alias("captioned_media")))
    nd = docs.agg(F.count("*").alias("n_docs"))
    cov = F.when(F.col("n_media_spans") > 0,
                 F.floor(F.col("captioned_media").cast("double")
                         / F.col("n_media_spans").cast("double")
                         * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)) \
        .otherwise(F.lit(0.0))
    return (nd.crossJoin(agg)
            .select("n_docs", "n_spans", "n_text_spans", "n_media_spans",
                    "n_images", "n_tables", "n_figures", "media_docs",
                    "captioned_media", cov.alias("caption_coverage")))


def ocr_page_scores(spark, sf_dir):
    from .plans.pipeline import evaluate_documents

    return evaluate_documents(_corpus_df(spark)).page_scores.orderBy("doc_id")


def ocr_spans_out(spark, sf_dir):
    from .plans.pipeline import evaluate_documents

    return evaluate_documents(_corpus_df(spark)).spans_out.orderBy("doc_id", "ord")


def ocr_quarantine(spark, sf_dir):
    from .plans.pipeline import evaluate_documents

    return evaluate_documents(_corpus_df(spark)).quarantine.orderBy("doc_id", "span_ord")


# The synthetic HTML wrapper shared by html_block_scores AND its DuckDB
# twin.  Defined ONCE (ADVICE r5): the SQL literals are derived from these
# via _sqlq quote-escaping, so the Spark query and its twin cannot drift
# apart silently.
_HTML_NAV = "<html><body><div><a href='/'>Home</a> <a href='/a'>About</a></div>"
_HTML_MID = "</p><p>"
_HTML_FOOT = "</p><div><a href='/t'>Terms</a></div></body></html>"


def _sqlq(s: str) -> str:
    """Escape a Python string for embedding in a single-quoted SQL literal."""
    return s.replace("'", "''")


def html_block_scores(spark, sf_dir):
    """Per-block DOM-heuristic diagnostics (r5) — the north_rule's "DOM
    heuristics" made auditable: every block the frozen readability rule
    sees, with its text length, link-text length, link density and the
    keep verdict.  The synthetic wrapper gives each document FOUR real
    blocks (link-dense nav, two content halves, link-only footer) so the
    rule's discrimination is visible per document.  Pure codegen'd
    projection + posexplode — no shuffle at all until the output sort."""
    from .functions.html import (
        MAX_LINK_DENSITY,
        MIN_BLOCK_CHARS,
        block_diagnostics_expr,
    )

    d = load(spark, sf_dir, "documents")
    half1 = F.expr("substring(text, 1, length(text) div 2)")
    half2 = F.expr("substring(text, length(text) div 2 + 1)")
    html = F.concat(
        F.lit(_HTML_NAV + "<p>"),
        half1, F.lit(_HTML_MID), half2,
        F.lit(_HTML_FOOT))
    diag = F.posexplode(block_diagnostics_expr(html))
    t = F.col("d.text_len").cast("double")
    li = F.col("d.link_len").cast("double")
    return (d.select("doc_id", diag.alias("block_idx", "d"))
            .select("doc_id", "block_idx",
                    F.col("d.text_len").alias("text_len"),
                    F.col("d.link_len").alias("link_len"),
                    F.when(F.col("d.text_len") == 0, F.lit(0.0))
                    .otherwise(F.round(li / t, 6)).alias("link_density"),
                    ((F.col("d.text_len") >= MIN_BLOCK_CHARS)
                     & (li <= F.lit(MAX_LINK_DENSITY) * t)).alias("kept"))
            .orderBy("doc_id", "block_idx"))


def _html_blocks_sql() -> str:
    """Twin of html_block_scores: the _html_main_sql split/clean machinery,
    fanned out per block with the BPE twin's unnest(range()) index idiom.
    The keep-rule constants interpolate from functions/html.py so query and
    twin cannot drift (code-review r5)."""
    from .functions.html import _ENTITIES, MAX_LINK_DENSITY, MIN_BLOCK_CHARS

    pre = _sqlq(_HTML_NAV + "<p>")
    mid = _HTML_MID
    post = _sqlq(_HTML_FOOT)
    drop = r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->"
    sep = (r"(?i)<br\s*/?>|</(?:p|div|li|h1|h2|h3|h4|h5|h6|tr|td|section|article|header|"
           r"footer|blockquote|table|ul|ol)\s*>")
    anchors = (r"coalesce(array_to_string(regexp_extract_all(blk,"
               r" '(?is)<a\b[^>]*>(.*?)</a\s*>', 1), ''), '')")

    def clean(col: str) -> str:
        s = (f"trim(regexp_replace(regexp_replace({col}, '(?s)<[^>]*>', '', 'g'),"
             f" '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))")
        for ent, ch in _ENTITIES:
            ch_sql = ch.replace("'", "''")
            s = f"replace({s}, '{ent}', '{ch_sql}')"
        return s

    return f"""
WITH blocks AS (
  SELECT doc_id, string_split_regex(
           regexp_replace('{pre}' || substr(text, 1, length(text) // 2)
                          || '{mid}' || substr(text, length(text) // 2 + 1)
                          || '{post}', '{drop}', '', 'g'), '{sep}') AS blks
  FROM documents
), fan AS (
  SELECT doc_id, i - 1 AS block_idx, blks[i] AS blk
  FROM (SELECT doc_id, blks, unnest(range(1, len(blks) + 1)) AS i FROM blocks)
), lens AS (
  SELECT doc_id, block_idx,
         CAST(length({clean('blk')}) AS INT) AS text_len,
         CAST(length({clean(anchors)}) AS INT) AS link_len
  FROM fan
)
SELECT doc_id, CAST(block_idx AS INT) AS block_idx, text_len, link_len,
       CASE WHEN text_len = 0 THEN 0.0
            ELSE round(link_len / CAST(text_len AS DOUBLE), 6) END AS link_density,
       (text_len >= {MIN_BLOCK_CHARS}
        AND CAST(link_len AS DOUBLE) <= {MAX_LINK_DENSITY} * CAST(text_len AS DOUBLE))
         AS kept
FROM lens ORDER BY doc_id, block_idx
"""


def ocr_worst_pages(spark, sf_dir):
    """Worst-20 pages by quality score (SURVEY §2.6 sorts/top-k over the
    pipeline's own output; -1 sentinels excluded)."""
    from .plans.pipeline import evaluate_documents

    scores = evaluate_documents(_corpus_df(spark)).page_scores
    return (scores.where(F.col("quality_score") >= 0)
            .orderBy("quality_score", "doc_id").limit(20)
            .select("doc_id", "token_count", "quality_score", "correctable_score"))


# derived from the package location so the golden oracles work from any
# checkout path (fixtures/ sits beside the package at the repo root)
from pathlib import Path as _Path  # noqa: E402

_GOLDEN_DIR = str(_Path(__file__).resolve().parent.parent / "fixtures" / "golden")


def _synthetic_videos(spark):
    """Deterministic video spans (the span model carries image/table/figure
    only — no organic videos exist), so the frame-sample fan-out is exercised
    for real: sha-derived frame counts reach 300 → up to 10 rows per video."""
    return spark.range(12).select(
        F.concat(F.lit("vdoc"), F.col("id").cast("string")).alias("doc_id"),
        F.concat(F.lit("vid://clip/"), F.col("id").cast("string")).alias("media_ref"),
        F.lit("video").alias("kind"))


def media_frame_sample(spark, sf_dir):
    """Frame sampling with per-frame row FAN-OUT (one input video → ~n/30
    output rows), over corpus media spans plus deterministic synthetic videos.
    Exercises the mapInPandas one-to-many batch shape end-to-end; frame count
    and per-frame sha re-derived independently by the DuckDB twin."""
    from .operators.media import media_spans, sample_frames

    rows = media_spans(_corpus_df(spark)).unionByName(_synthetic_videos(spark))
    return (sample_frames(rows, every_n=30)
            .orderBy("doc_id", "media_ref", "frame_idx"))


def _media_frames_sql() -> str:
    return f"""
WITH m AS (
  SELECT doc_id, media_ref, kind FROM '{_GOLDEN_DIR}/media_spans.parquet'
  UNION ALL
  SELECT 'vdoc' || CAST(i AS VARCHAR), 'vid://clip/' || CAST(i AS VARCHAR), 'video'
  FROM range(12) t(i)
), n AS (
  SELECT doc_id, media_ref, kind,
         CASE WHEN kind = 'video'
              THEN 1 + ('0x' || substr(sha256(coalesce(media_ref, '')), 5, 2))::INT % 300
              ELSE 1 END AS n_frames
  FROM m
), f AS (
  SELECT doc_id, media_ref, kind, unnest(range(0, n_frames, 30)) AS frame_idx FROM n
)
SELECT doc_id, media_ref, kind AS media_kind, CAST(frame_idx AS INT) AS frame_idx,
       sha256(coalesce(media_ref, '') || '#frame' || CAST(frame_idx AS VARCHAR)) AS frame_sha
FROM f ORDER BY doc_id, media_ref, frame_idx
"""


# Golden-oracle twins for the OCR pipeline itself: expectations derived from
# the pure-Python oracle (tests/oracle.py) over the SAME pinned corpus
# (gen_corpus(100, seed=42)) by fixtures/make_goldens.py — sf-independent.
# tests/test_goldens_current.py re-derives and re-checks them every run.
_OCR_SCORES_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/ocr_page_scores.parquet'"
_OCR_SPANS_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/ocr_spans_out.parquet'"
_OCR_QUAR_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/ocr_quarantine.parquet'"
_OCR_WORST_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/ocr_worst_pages.parquet'"
_OCR_CAPTIONS_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/media_captions.parquet'"
_DATASHEET_SQL = f"SELECT * FROM '{_GOLDEN_DIR}/interleaved_datasheet.parquet'"


# ---------------------------------------------------------------------------
# Structured Streaming (AvailableNow batch-equivalent with SQL oracle)
# ---------------------------------------------------------------------------

def streaming_events_daily(spark, sf_dir):
    from .streaming.jobs import run_events_daily_availablenow

    return run_events_daily_availablenow(spark, f"{sf_dir}/events.parquet")


def streaming_click_to_purchase(spark, sf_dir):
    """Watermarked STREAM-STREAM interval join run to completion
    (AvailableNow) — must equal the batch interval join the DuckDB twin runs;
    state is bounded by watermark + horizon on both sides."""
    from .streaming.jobs import run_stream_stream_interval_join

    return run_stream_stream_interval_join(spark, f"{sf_dir}/events.parquet")


_SS_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


_STREAMING_SQL = """
SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# QUERIES is the driver window: exactly 50 entries.  EXTRA_QUERIES holds the
# five queries outside it that bench.py / bench_extra.py time.
QUERIES: dict[str, Query] = {
    # -- new / plan-changed this round (r6) --
    "exact_substring_dedup": exact_substring_dedup,  # NEW: Lee et al. removal
    "knn_label_accuracy_ivfpq": knn_label_accuracy_ivfpq,  # rotated in (r5
                                                 # named candidate)
    "events_funnel": events_funnel,              # rotated in (r5 named
                                                 # candidate)
    "interleaved_datasheet": interleaved_datasheet,  # NEW: multimodal
                                                 # release datasheet
    "domain_mixture_sample": domain_mixture_sample,  # plan-changed r6:
                                                 # two-phase sharded selection
    "repeated_substrings": repeated_substrings,  # plan-changed r6: hash-first
    # -- new r5 --
    "curation_source_prior": curation_source_prior,
    "graph_pagerank_dangling": graph_pagerank_dangling,
    "dsir_importance_sample": dsir_importance_sample,
    "html_block_scores": html_block_scores,
    "bpe_token_counts": bpe_token_counts,
    "corpus_report": corpus_report,
    # -- new / plan-changed r4 --
    "semantic_dedup": semantic_dedup,
    "doc_model_quality": doc_model_quality,
    "doc_lm_score": doc_lm_score,
    "dedup_cross_corpus": dedup_cross_corpus,
    "graph_pagerank": graph_pagerank,
    "source_quality_rollup": source_quality_rollup,
    "ivfpq_ann_topk": ivfpq_ann_topk,
    "ngram_jaccard": ngram_jaccard,              # r4: max_df hot-shingle cap
    "ivf_ann_topk": ivf_ann_topk,                # r4: k-means-refined centroids
    "dedup_clusters": dedup_clusters,            # r4: star-CC convergence rework sibling
    "doc_boilerplate_strip": doc_boilerplate_strip,  # r4: NULL-text contract fix
    # -- rotated back into the window r5 (last green r1/r2) --
    "events_props_extract": events_props_extract,
    # -- OCR pipeline goldens --
    "ocr_page_scores": ocr_page_scores,
    "ocr_spans_out": ocr_spans_out,
    "ocr_quarantine": ocr_quarantine,
    "ocr_worst_pages": ocr_worst_pages,
    "ocr_media_captions": ocr_media_captions,
    # -- streaming / media / html --
    "streaming_events_daily": streaming_events_daily,
    "streaming_click_to_purchase": streaming_click_to_purchase,
    "media_frame_sample": media_frame_sample,
    # -- relational / window / agg coverage --
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "broadcast_part_revenue": broadcast_part_revenue,
    "window_top_orders_per_cust": window_top_orders_per_cust,
    "grouping_sets_orders": grouping_sets_orders,
    "events_value_percentiles": events_value_percentiles,
    "events_asof_last_signup": events_asof_last_signup,
    "events_range_join": events_range_join,
    "events_sessionize": events_sessionize,
    # -- text analysis / curation / dedup / similarity --
    "tfidf_top_terms": tfidf_top_terms,
    "doc_quality": doc_quality,
    "doc_lang_id": doc_lang_id,
    "lexicon_match_rate": lexicon_match_rate,
    "pack_token_budget": pack_token_budget,
    "doc_pii_scan": doc_pii_scan,
    "curation_filter_audit": curation_filter_audit,
    "benchmark_decontaminate": benchmark_decontaminate,
    "ann_cosine_topk": ann_cosine_topk,
}


EXTRA_QUERIES: dict[str, Query] = {
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "q5_region_revenue": q5_region_revenue,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "embedding_int8_quantize": embedding_int8_quantize,
    "eval_split_assignment": eval_split_assignment,
}


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": _Q1_SQL,
        "q3_shipping_priority": _Q3_SQL,
        "q5_region_revenue": _Q5_SQL,
        "broadcast_part_revenue": _BROADCAST_SQL,
        "window_top_orders_per_cust": _WINDOW_TOPK_SQL,
        "grouping_sets_orders": _GROUPING_SETS_SQL,
        "events_value_percentiles": _PERCENTILES_SQL,
        "events_asof_last_signup": _ASOF_SQL,
        "events_range_join": _RANGE_JOIN_SQL,
        "events_sessionize": _SESSION_SQL,
        "events_props_extract": _PROPS_SQL,
        "doc_quality": _QUALITY_SQL,
        "doc_lang_id": _langid_sql(),
        "lexicon_match_rate": _lexicon_sql(),
        "dedup_minhash_pairs": _MINHASH_SQL,
        "ngram_jaccard": _JACCARD_SQL,
        "dedup_clusters": _CLUSTERS_SQL,
        "pack_token_budget": _PACK_SQL,
        "domain_mixture_sample": _mixture_sql(),
        "html_block_scores": _html_blocks_sql(),
        "repeated_substrings": _repeated_spans_sql(),
        "exact_substring_dedup": _exact_substring_sql(),
        "corpus_report": _CORPUS_REPORT_SQL,
        "bpe_token_counts": _bpe_encode_sql(),
        "dsir_importance_sample": _dsir_sql(),
        "tfidf_top_terms": _TFIDF_SQL,
        "doc_pii_scan": _PII_SQL,
        "curation_filter_audit": _FILTER_AUDIT_SQL,
        "corpus_snapshot_diff": _SNAPSHOT_DIFF_SQL,
        "embedding_int8_quantize": _INT8_QUANT_SQL,
        "eval_split_assignment": _EVAL_SPLIT_SQL,
        "benchmark_decontaminate": _DECONTAM_SQL,
        "doc_boilerplate_strip": _BOILERPLATE_SQL,
        "ann_cosine_topk": _ANN_SQL,
        "ivf_ann_topk": _ivf_ann_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "doc_model_quality": _MODEL_QUALITY_SQL,
        "doc_lm_score": _LM_SCORE_SQL,
        "dedup_cross_corpus": _CROSS_MINHASH_SQL,
        "graph_pagerank": _pagerank_sql(),
        "graph_pagerank_dangling": _pagerank_sql(redistribute=True),
        "curation_source_prior": _source_prior_sql(),
        "knn_label_accuracy_ivfpq": _knn_ivfpq_sql(),
        "events_funnel": _FUNNEL_SQL,
        "source_quality_rollup": _SOURCE_ROLLUP_SQL,
        "ivfpq_ann_topk": _ivfpq_sql(),
        "media_frame_sample": _media_frames_sql(),
        "ocr_page_scores": _OCR_SCORES_SQL,
        "ocr_spans_out": _OCR_SPANS_SQL,
        "ocr_quarantine": _OCR_QUAR_SQL,
        "ocr_worst_pages": _OCR_WORST_SQL,
        "ocr_media_captions": _OCR_CAPTIONS_SQL,
        "interleaved_datasheet": _DATASHEET_SQL,
        "streaming_events_daily": _STREAMING_SQL,
        "streaming_click_to_purchase": _SS_JOIN_SQL,
        # ocr_* twins are golden parquet derived from the pure-Python oracle
        # (fixtures/make_goldens.py); everything else, including all ANN
        # queries, is re-derived independently in DuckDB.
    }

"""Data-wrangling / enrichment operators (round 6 breadth).

Seven operator families a production analytics engine is asked for
beyond the SURVEY §2 inventory, each in its canonical 100 TB shape:

- r01 time-series gap-fill / resample (calendar densify + forward fill)
- r02 fuzzy (edit-distance) matching with blocking — entity resolution
- r03 single-pass-per-column data profiling (nulls/distinct/min/max)
- r04 SCD2 interval build from a change log (gaps-and-islands)
- r05 exact percentiles per group (median/p90/p99, interpolated)
- r06 last-touch attribution (frame-excluded window as-of lookup)
- r07 bloom-filter semi-join (hash-bit prefilter + exact verify)

Provenance: EXT (BASELINE.json north star — general batch engine
surface); the reference spec (/root/reference/README.md) has no
temporal/fuzzy/profiling machinery, these are the operators its users
would reach for next. Names sort after q50 so the driver's 50-entry
CORRECTNESS window (q01-q50) is untouched (STATUS.md name-freeze).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.det import dsum, epoch_us, pinned_range_prefix
from ..engine.io import load_table
from . import register


# ---------------------------------------------------------------------------
# r01 — time-series gap-fill / resample
# ---------------------------------------------------------------------------

@register(
    "r01_gapfill",
    """
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2
    ),
    spans AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM spans
    )
    SELECT c.user_id,
           c.day,
           last_value(d.day_value IGNORE NULLS)
               OVER (PARTITION BY c.user_id ORDER BY c.day) AS value_ff,
           (d.day_value IS NOT NULL) AS observed
    FROM cal c
    LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    """,
    doc="Time-series resample: densify each user's daily series over its "
    "observed span (sequence+explode calendar), LEFT JOIN the daily "
    "aggregate back, forward-fill gaps with last(ignorenulls) over an "
    "ordered per-user window. One shuffle for the daily agg, one for "
    "the window; calendar fan-out is bounded by span-days per user, so "
    "at 100 TB the explode is output-sized, never quadratic. First row "
    "per user is always observed (span starts at MIN(day)), so the "
    "fill never reads before the frame.",
)
def r01_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(dsum("value", "day_value"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    return joined.select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("value_ff"),
        F.col("day_value").isNotNull().alias("observed"),
    )


# ---------------------------------------------------------------------------
# r02 — fuzzy (edit-distance) matching with blocking
# ---------------------------------------------------------------------------

@register(
    "r02_fuzzy_match",
    """
    WITH vocab AS (
        SELECT DISTINCT p_name, regexp_extract(p_name, '[^ ]+$') AS blk
        FROM part
    )
    SELECT a.p_name AS left_name,
           b.p_name AS right_name,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM vocab a
    JOIN vocab b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    doc="Entity resolution / fuzzy dedup: candidate pairs of DISTINCT "
    "part names within a blocking key (the trailing word), scored by "
    "exact Levenshtein, kept under an edit-distance budget. The "
    "blocking equi-join keeps the pair space |block|-quadratic on the "
    "deduped VOCABULARY (64 names here), never on the corpus — the "
    "standard record-linkage shape: dedupe to a name dictionary, "
    "block, score, then broadcast the match table back to the fact "
    "rows. Spark F.levenshtein and DuckDB levenshtein agree exactly "
    "(unit edit costs, case-sensitive).",
)
def r02_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    vocab = (
        part.select("p_name")
        .distinct()
        .withColumn("blk", F.regexp_extract("p_name", "[^ ]+$", 0))
    )
    a = vocab.alias("a")
    b = vocab.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    )
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return pairs.where(dist <= 3).select(
        F.col("a.p_name").alias("left_name"),
        F.col("b.p_name").alias("right_name"),
        dist.cast("bigint").alias("dist"),
    )


# ---------------------------------------------------------------------------
# r03 — data profiling
# ---------------------------------------------------------------------------

def _profile_branch(df: DataFrame, col: str, kind: str) -> DataFrame:
    """One narrow aggregate per column: parquet column pruning makes each
    branch a single-column scan (ReadSchema shows only `col`), which is
    the columnar-friendly profiling shape at 100 TB — no row-explode,
    no multi-distinct Expand."""
    c = F.col(col)
    if kind == "num":
        min_num = F.min(c).cast("double")
        max_num = F.max(c).cast("double")
        min_str = F.lit(None).cast("string")
        max_str = F.lit(None).cast("string")
    elif kind == "str":
        min_num = F.lit(None).cast("double")
        max_num = F.lit(None).cast("double")
        min_str = F.min(c)
        max_str = F.max(c)
    else:  # ts -> epoch seconds as the numeric summary
        min_num = F.unix_timestamp(F.min(c)).cast("double")
        max_num = F.unix_timestamp(F.max(c)).cast("double")
        min_str = F.lit(None).cast("string")
        max_str = F.lit(None).cast("string")
    return df.agg(
        F.lit(col).alias("col_name"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
        F.countDistinct(c).alias("n_distinct"),
        min_num.alias("min_num"),
        max_num.alias("max_num"),
        min_str.alias("min_str"),
        max_str.alias("max_str"),
    )


_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    branches = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({col})", f"MAX({col})"
        else:
            mn = f"CAST(floor(epoch(CAST(MIN({col}) AS TIMESTAMP))) AS DOUBLE)"
            mx = f"CAST(floor(epoch(CAST(MAX({col}) AS TIMESTAMP))) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        branches.append(
            f"SELECT '{col}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str "
            f"FROM orders"
        )
    return " UNION ALL ".join(branches)


@register(
    "r03_profile",
    _profile_oracle(),
    doc="Data-quality profiler over `orders`: per column, one long-format "
    "row (n_rows, n_nulls, exact n_distinct, typed min/max). Built as a "
    "UNION of per-column narrow aggregates so each branch's parquet scan "
    "prunes to that single column (the columnar profiling shape) and no "
    "branch pays the multi-countDistinct Expand. At 100 TB swap exact "
    "n_distinct for approx_count_distinct per branch — the one-line "
    "change is the only thing tier-1 hashing forbids here.",
)
def r03_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = None
    for col, kind in _PROFILE_COLS:
        branch = _profile_branch(orders, col, kind)
        out = branch if out is None else out.unionAll(branch)
    return out


# ---------------------------------------------------------------------------
# r04 — SCD2 interval build
# ---------------------------------------------------------------------------

#: shared with r81_streaming_scd2 (queries/streamrows.py): the
#: streaming twin's final interval store must hash-match the SAME
#: batch-rebuild oracle
R04_SCD2_SQL = """
    WITH e AS (
        SELECT user_id, event_type AS state,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS eu,
               event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT),
                            event_id) AS prev_state
        FROM events
    ),
    chg AS (
        SELECT user_id, state, eu, event_id FROM e
        WHERE prev_state IS NULL OR prev_state <> state
    )
    SELECT user_id, state,
           eu AS valid_from_us,
           LEAD(eu) OVER (PARTITION BY user_id ORDER BY eu, event_id)
               AS valid_to_us,
           (LEAD(eu) OVER (PARTITION BY user_id ORDER BY eu, event_id)
               IS NULL) AS is_current
    FROM chg
    """


@register(
    "r04_scd2",
    R04_SCD2_SQL,
    doc="Slowly-changing-dimension type 2 from a change log: treating "
    "events.event_type as each user's state, keep only CHANGE rows "
    "(lag() differs), then interval-close each change with lead() — "
    "[valid_from, valid_to) validity ranges, open interval = current "
    "row. Two window passes over the SAME (user_id; eu, event_id) "
    "ordering, so Spark plans one Exchange + one Sort reused by both "
    "Window operators — the gaps-and-islands SCD2 build costs a single "
    "shuffle at any scale.",
)
def r04_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    eu = epoch_us("ts")
    w = Window.partitionBy("user_id").orderBy(eu, "event_id")
    e = events.select(
        "user_id",
        F.col("event_type").alias("state"),
        eu.alias("eu"),
        "event_id",
        F.lag("event_type").over(w).alias("prev_state"),
    )
    chg = e.where(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state")))
    w2 = Window.partitionBy("user_id").orderBy("eu", "event_id")
    nxt = F.lead("eu").over(w2)
    return chg.select(
        "user_id",
        "state",
        F.col("eu").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# r05 — exact interpolated percentiles per group
# ---------------------------------------------------------------------------

@register(
    "r05_percentiles",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS DOUBLE) AS p90,
           CAST(round(quantile_cont(CAST(value AS DOUBLE), 0.99), 4) AS DOUBLE) AS p99
    FROM events
    GROUP BY event_type
    """,
    doc="Exact per-group percentiles (linear interpolation at rank "
    "p*(n-1)): Spark `percentile` vs DuckDB `quantile_cont` agree on "
    "the interpolation rule; ROUND(.,4) kills last-ulp differences in "
    "the lerp arithmetic (§2.5 D7). Exact percentile sorts each "
    "group's values — the per-group memory is the group's row count, "
    "which is the documented cost of exactness; the 100 TB default is "
    "percentile_approx (t-digest-style GK sketch, mergeable, bounded "
    "memory), with q35 covering the approx-vs-exact bracket pattern.",
)
def r05_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.5, 0.9, 0.99]))
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.element_at(pct, 1), 4).cast("double").alias("p50"),
        F.round(F.element_at(pct, 2), 4).cast("double").alias("p90"),
        F.round(F.element_at(pct, 3), 4).cast("double").alias("p99"),
    )


# ---------------------------------------------------------------------------
# r06 — last-touch attribution
# ---------------------------------------------------------------------------

@register(
    "r06_attribution",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS eu
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, event_type, eu,
               last_value(CASE WHEN event_type IN ('click','view')
                               THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY eu, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_id,
               last_value(CASE WHEN event_type IN ('click','view')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY eu, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type,
               last_value(CASE WHEN event_type IN ('click','view')
                               THEN eu END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY eu, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_eu
        FROM e
    )
    SELECT event_id AS purchase_id, user_id, touch_id, touch_type,
           eu - touch_eu AS gap_us
    FROM w WHERE event_type = 'purchase'
    """,
    doc="Last-touch attribution: for every purchase, the most recent "
    "STRICTLY-preceding marketing touch (click/view) by the same user, "
    "plus the touch-to-purchase gap. The as-of lookup is a frame-"
    "excluded window — last(CASE..., ignorenulls) over ROWS UNBOUNDED "
    "PRECEDING..1 PRECEDING — so self-attribution is impossible and "
    "the whole query is ONE shuffle + one sort shared by all three "
    "window expressions (same partitioning/ordering/frame). Purchases "
    "with no prior touch surface NULLs (first-session conversions), "
    "not dropped rows.",
)
def r06_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", "event_type", epoch_us("ts").alias("eu")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("eu", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touch_id = F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(w)
    touch_type = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    touch_eu = F.last(F.when(is_touch, F.col("eu")), ignorenulls=True).over(w)
    return (
        e.select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            touch_id.alias("touch_id"),
            touch_type.alias("touch_type"),
            (F.col("eu") - touch_eu).alias("gap_us"),
            "event_type",
        )
        .where(F.col("event_type") == "purchase")
        .drop("event_type")
    )


# ---------------------------------------------------------------------------
# r07 — bloom-filter semi-join
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3     # hash functions
_BLOOM_PRICE = 490000.0


def _bloom_positions(col):
    """k=3 bit positions from independently-seeded xxhash64 (seed mixed in
    as an extra hashed literal), identical expression on build and probe."""
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(_BLOOM_M))
        for seed in range(_BLOOM_K)
    ]


@register(
    "r07_bloom_semi",
    f"""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
    )
    """,
    doc="Bloom-filter semi-join: customers with at least one order above "
    "the price threshold. Build side -> k=3 xxhash64 bit positions mod "
    "4096, exploded+distinct+collected (bounded by the BIT-ARRAY SIZE, "
    "4096, never the build cardinality) and inlined as a literal array; "
    "probe rows whose 3 positions all hit the set pass the prefilter, "
    "then an exact (broadcast) semi-join removes the false positives, "
    "so the result equals the plain semi-join bit-for-bit. At 100 TB "
    "this is the shuffle-reduction pattern for when the build side is "
    "too big to broadcast but its bloom bits are not: the prefilter "
    "cuts the probe-side shuffle input before the exact join — the "
    "same idea Spark's runtime InjectRuntimeFilter applies, made "
    "explicit and composable.",
)
def r07_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        orders.where(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bit_rows = build.select(
        F.explode(F.array(*_bloom_positions(F.col("k")))).alias("bit")
    ).distinct()
    # bounded-collect: exploded DISTINCT bit positions, ≤ _BLOOM_M (4096)
    # values by construction (bloom bit-array size), independent of build rows
    bits = sorted(r[0] for r in bit_rows.collect())
    # index the bit set as a dense boolean array probed by POSITION
    # (round-16, guide §1.2 per-task work): the previous
    # array_contains over the sorted positions was a linear scan per
    # probe hash per row — 3 x 4096 comparisons per customer; an O(1)
    # element_at lookup into the _BLOOM_M-slot membership array does
    # the same test in one indexed read (the literal is the bit array
    # itself, still bounded by _BLOOM_M regardless of build rows).
    # Built as ONE parsed SQL expression: F.lit(list) expands to
    # _BLOOM_M individual py4j Column constructions (~2 s of pure
    # driver overhead per query), while the parser ingests the same
    # array literal in milliseconds.
    bitset = set(bits)
    member = F.expr(
        "array(" + ",".join(
            "true" if b in bitset else "false" for b in range(_BLOOM_M)
        ) + ")"
    )
    prefilter = customer
    for p in _bloom_positions(F.col("c_custkey")):
        prefilter = prefilter.where(F.element_at(member, p.cast("int") + 1))
    return prefilter.join(
        F.broadcast(build), prefilter.c_custkey == F.col("k"), "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# r10 — weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WS_SEED = "wsample1"
_WS_K = 100


@register(
    "r10_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               -ln(
                   (('0x' || substr(md5(concat('{_WS_SEED}',
                        CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT + 1)
                   / 4294967296.0
               ) / n_chars AS skey
        FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM keyed ORDER BY skey, doc_id LIMIT {_WS_K}
    """,
    doc="Weighted sampling without replacement (Efraimidis–Spirakis "
    "A-ES, public algorithm): per doc a seeded md5-prefix uniform "
    "u∈(0,1], sort key -ln(u)/w with w = n_chars, keep the k smallest "
    "— an exact-k sample where inclusion probability is proportional "
    "to weight, the importance-sampling shape for training-mix "
    "construction. Deterministic (no rand(): the draw is a hash of "
    "doc_id), map-side key computation, and the top-k plans as "
    "TakeOrderedAndProject (per-partition heaps + driver merge of k "
    "rows), never a global sort — the O(k)-driver-memory shape at any "
    "corpus size. Floats never reach the output (the hash compares "
    "the selected SET); the k-boundary margin is pinned in "
    "tests/test_wrangling.py.",
)
def r10_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_WS_SEED), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (prefix + 1) / F.lit(4294967296.0)
    skey = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "source", "n_chars", skey.alias("skey"))
        .orderBy("skey", "doc_id")
        .limit(_WS_K)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# r11 — chi-square test of independence
# ---------------------------------------------------------------------------

@register(
    "r11_chisq",
    """
    WITH cells AS (
        SELECT event_type AS r, dayofweek(CAST(ts AS TIMESTAMP)) AS c,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT r, SUM(o) AS nr FROM cells GROUP BY r),
    ct AS (SELECT c, SUM(o) AS nc FROM cells GROUP BY c),
    g AS (SELECT SUM(o) AS n FROM cells)
    SELECT CAST(MAX(g.n) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT cells.r) - 1)
                * (COUNT(DISTINCT cells.c) - 1) AS BIGINT) AS dof,
           CAST(ROUND(SUM(
               pow(CAST(o AS DOUBLE)
                   - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(g.n AS DOUBLE), 2)
               / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(g.n AS DOUBLE))
           ), 6) AS DOUBLE) AS chi2
    FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN g
    """,
    doc="Chi-square test of independence over the event_type x "
    "day-of-week contingency table: observed cell counts vs the "
    "nr*nc/n expectation, summed Pearson statistic + degrees of "
    "freedom. The fact table reduces to the CELL table first (one "
    "shuffle, |types| x 7 rows); margins and the grand total are "
    "re-aggregations of that tiny table joined back broadcast-style, "
    "so the statistic's cost is the cell aggregation at any scale. "
    "Day convention: Spark dayofweek() is 1-based Sunday, DuckDB "
    "0-based Sunday — the Spark side subtracts 1. ROUND(.,6) with a "
    "measured boundary margin (tests) covers the one float "
    "accumulation (35 cells).",
)
def r11_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.col("event_type").alias("r"),
        (F.dayofweek(F.col("ts")) - 1).alias("c"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("r").agg(F.sum("o").alias("nr"))
    ct = cells.groupBy("c").agg(F.sum("o").alias("nc"))
    g = cells.agg(F.sum("o").alias("n"))
    joined = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(g))
    )
    e = F.col("nr").cast("double") * F.col("nc").cast("double") / F.col("n").cast("double")
    contrib = F.pow(F.col("o").cast("double") - e, F.lit(2)) / e
    return joined.agg(
        F.max("n").cast("bigint").alias("n"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("bigint").alias("dof"),
        F.round(F.sum(contrib), 6).cast("double").alias("chi2"),
    )


# ---------------------------------------------------------------------------
# r12 — two-sample Kolmogorov–Smirnov test
# ---------------------------------------------------------------------------

_KS_PARTS = 32


@register(
    "r12_ks_test",
    """
    WITH e AS (
        SELECT value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is1
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    n AS (SELECT SUM(is1) AS n1, SUM(1 - is1) AS n2 FROM e),
    s AS (
        SELECT SUM(is1) OVER (ORDER BY value) AS c1,
               SUM(1 - is1) OVER (ORDER BY value) AS c2
        FROM e
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
           CAST(ROUND(CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
                / (MAX(n1) * MAX(n2)), 6) AS DOUBLE) AS ks_d
    FROM s CROSS JOIN n
    """,
    doc="Two-sample Kolmogorov–Smirnov: D = max |ECDF1 − ECDF2| between "
    "the purchase and click value distributions, computed INTEGER-"
    "exactly as max|c1*n2 − c2*n1| (cross-multiplication, §2.5 D7 — "
    "the only float is the final division, rounded). The Spark side is "
    "the DISTRIBUTED ECDF: repartitionByRange on value, per-partition "
    "cumulative counts under a partitionBy(pid) window (ties share a "
    "partition by range-partitioner construction), plus broadcast "
    "prefix offsets from a partition-count-sized aggregate — no "
    "single-partition global window (the q32 discipline). The DuckDB "
    "oracle uses the single-node window; both sides include ties via "
    "the default RANGE frame (right-continuous ECDF).",
)
def r12_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = (
        events.where(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            (F.col("event_type") == "purchase").cast("int").alias("is1"),
        )
    )
    parts = pinned_range_prefix(
        e,
        _KS_PARTS,
        ["value"],
        {"s1": F.sum("is1"), "s2": F.sum(1 - F.col("is1"))},
    )
    w = Window.partitionBy("pid").orderBy("value")
    cum = parts.select(
        (F.sum("is1").over(w) + F.col("s1_before")).alias("c1"),
        (F.sum(1 - F.col("is1")).over(w) + F.col("s2_before")).alias("c2"),
        F.col("s1_total").alias("n1"),
        F.col("s2_total").alias("n2"),
    )
    # no rows means no totals: the sample sizes are then 0
    n1 = F.coalesce(F.max("n1"), F.lit(0))
    n2 = F.coalesce(F.max("n2"), F.lit(0))
    d_num = F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
    # an empty sample makes ks_d NULL, as the oracle's division by zero
    # does (ANSI `/` would raise DIVIDE_BY_ZERO)
    return cum.agg(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        d_num.cast("bigint").alias("d_num"),
        F.round(F.try_divide(d_num.cast("double"), (n1 * n2).cast("double")), 6)
        .cast("double")
        .alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# r13 — Mann–Whitney U (rank-sum) test
# ---------------------------------------------------------------------------

@register(
    "r13_mannwhitney",
    """
    WITH e AS (
        SELECT value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is1
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    rk AS (
        SELECT is1,
               2 * CAST(RANK() OVER (ORDER BY value) AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT) - 1 AS r2
        FROM e
    ),
    agg AS (
        SELECT SUM(CASE WHEN is1 = 1 THEN r2 ELSE 0 END) AS r1d,
               SUM(is1) AS n1, SUM(1 - is1) AS n2
        FROM rk
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(r1d - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
           CAST(2 * n1 * n2 - (r1d - n1 * (n1 + 1)) AS BIGINT) AS u2_doubled,
           CAST(ROUND(CAST(r1d - n1 * (n1 + 1) AS DOUBLE)
                / (2.0 * n1 * n2), 6) AS DOUBLE) AS auc
    FROM agg
    """,
    doc="Mann–Whitney U (Wilcoxon rank-sum) between the purchase and "
    "click value distributions, with midrank tie handling kept "
    "INTEGER-exact by doubling: 2·avgrank = 2·rank + tiecount − 1, so "
    "U1_doubled = ΣR1_doubled − n1(n1+1) never touches a float; the "
    "derived AUC (= U1/n1n2, the common-language effect size / "
    "probability a random purchase outranks a random click) is the "
    "only rounded float. Spark side reuses the r12 distributed-ECDF "
    "shape — repartitionByRange + per-partition windows + broadcast "
    "prefix offsets, ties co-located by the range partitioner, no "
    "single-partition window; the DuckDB oracle uses the single-node "
    "RANK() formulation of the same midrank identity.",
)
def r13_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = (
        events.where(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            (F.col("event_type") == "purchase").cast("int").alias("is1"),
        )
    )
    parts = pinned_range_prefix(
        e, _KS_PARTS, ["value"], {"c": F.count(F.lit(1))}
    )
    w_le = Window.partitionBy("pid").orderBy("value")  # RANGE: ties included
    w_eq = Window.partitionBy("value")  # ties co-located by range partitioner
    ranked = (
        parts.select(
            "is1",
            (F.count(F.lit(1)).over(w_le) + F.col("c_before")).alias("c_le"),
            F.count(F.lit(1)).over(w_eq).alias("c_eq"),
        )
        # doubled midrank: 2*c_lt + c_eq + 1 = 2*c_le - c_eq + 1
        .select("is1", (2 * F.col("c_le") - F.col("c_eq") + 1).alias("r2"))
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("is1") == 1, F.col("r2")).otherwise(0)).alias("r1d"),
        F.sum("is1").alias("n1"),
        F.sum(1 - F.col("is1")).alias("n2"),
    )
    u1d = F.col("r1d") - F.col("n1") * (F.col("n1") + 1)
    # an empty sample makes auc NULL, as in the oracle (see r12)
    return agg.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1d.cast("bigint").alias("u1_doubled"),
        (2 * F.col("n1") * F.col("n2") - u1d).cast("bigint").alias("u2_doubled"),
        F.round(
            F.try_divide(u1d.cast("double"), 2.0 * F.col("n1") * F.col("n2")), 6
        ).cast("double").alias("auc"),
    )


# ---------------------------------------------------------------------------
# r14 — robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

@register(
    "r14_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, median(CAST(value AS DOUBLE)) AS med
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type,
               abs(CAST(e.value AS DOUBLE) - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type)
        WHERE e.value IS NOT NULL
    ),
    mad AS (
        SELECT event_type, median(adev) AS mad, MAX(med) AS med
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(MAX(m.med), 4) AS DOUBLE) AS med,
           CAST(ROUND(MAX(m.mad), 4) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
    doc="Robust per-group outlier detection: median + median-absolute-"
    "deviation, flag |v − med| > 3·MAD. Two grouped exact medians "
    "(Spark `median` ≡ DuckDB `median`, same interpolation) and two "
    "broadcast joins of the group-count-sized stats back onto the "
    "facts; the 3·MAD threshold compare is float but the worst "
    "measured margin on this data is 0.02 (tests pin it — ~1e14× "
    "double noise; 2-decimal inputs make near-boundary values rare by "
    "construction). The robust alternative to q63's mean/std z-score.",
)
def r14_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.where(F.col("value").isNotNull()).select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = e.groupBy("event_type").agg(F.median("v").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("adev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad"), F.max("med").alias("med")
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.max("med"), 4).cast("double").alias("med"),
            F.round(F.max("mad"), 4).cast("double").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# r15 — per-source KL divergence vs the corpus unigram distribution
# ---------------------------------------------------------------------------

@register(
    "r15_kl_divergence",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    t AS (SELECT source, word FROM tok WHERE word <> ''),
    sw AS (SELECT source, word, COUNT(*) AS c FROM t GROUP BY 1, 2),
    s AS (SELECT source, SUM(c) AS ns FROM sw GROUP BY 1),
    w AS (SELECT word, SUM(c) AS cw FROM sw GROUP BY 1),
    g AS (SELECT SUM(c) AS n FROM sw)
    SELECT sw.source,
           CAST(MAX(s.ns) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(
               (CAST(sw.c AS DOUBLE) / s.ns)
               * ln((CAST(sw.c AS DOUBLE) / s.ns)
                    / (CAST(w.cw AS DOUBLE) / g.n))
           ), 6) AS DOUBLE) AS kl
    FROM sw JOIN s USING (source) JOIN w USING (word) CROSS JOIN g
    GROUP BY 1
    """,
    doc="Domain-shift signal: KL(source ‖ corpus) over unigram "
    "distributions — Σ p·ln(p/q) with p the source's word frequency "
    "and q the corpus-wide one (q>0 for every source word by "
    "construction, no smoothing needed). One shuffle to (source, "
    "word) counts; the word-global and per-source totals are "
    "re-aggregations of that table joined back (word side broadcast "
    "at vocab size). The float log-sum rounds at 6dp with a measured "
    "boundary margin (tests). The distribution-level companion to "
    "q89's per-document perplexity gate.",
)
def r15_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split("text", r"\s+")).alias("word")
    ).where(F.col("word") != "")
    sw = t.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    s = sw.groupBy("source").agg(F.sum("c").alias("ns"))
    w = sw.groupBy("word").agg(F.sum("c").alias("cw"))
    g = sw.agg(F.sum("c").alias("n"))
    joined = (
        sw.join(F.broadcast(s), "source")
        .join(F.broadcast(w), "word")
        .crossJoin(F.broadcast(g))
    )
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("cw").cast("double") / F.col("n")
    return joined.groupBy("source").agg(
        F.max("ns").cast("bigint").alias("n_tokens"),
        F.round(F.sum(p * F.log(p / q)), 6).cast("double").alias("kl"),
    )


# ---------------------------------------------------------------------------
# r16 — market-basket association rules (co-occurrence / lift)
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 3


@register(
    "r16_market_basket",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
    pc AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS supp
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    )
    SELECT pa, pb, CAST(supp AS BIGINT) AS supp,
           CAST(supp AS DOUBLE) / ca.c AS conf_a_b,
           CAST(supp AS DOUBLE) / cb.c AS conf_b_a,
           CAST(supp AS DOUBLE) * n.n_orders / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN pc ca ON pa = ca.l_partkey
    JOIN pc cb ON pb = cb.l_partkey
    CROSS JOIN n
    """,
    doc="Association rules over order baskets: part pairs co-purchased "
    "in ≥ min-support orders, with confidence both directions and "
    "lift. The self-join fans out per-order as (basket size choose 2) "
    "— bounded by basket width (~7 here), the a-priori candidate "
    "shape, never corpus-quadratic; the HAVING support cut keeps the "
    "rule table output-sized, and the part-count/total tables join "
    "back broadcast (dimension-sized). Ratios are emitted UNROUNDED "
    "on purpose (an exception to the D7 round-everything habit, with "
    "the same justification the rule exists for): each is one IEEE "
    "division of exactly-representable integers through an identical "
    "expression tree on both engines, hence bit-deterministic — "
    "whereas ROUND would ADD a hazard, since integer-ratio rationals "
    "can land exactly on a rounding half-boundary (this data has a "
    "lift of 44229/800 = 55.28625, dead on the 4dp boundary; "
    "test-pinned).",
)
def r16_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # The round-16 eager localCheckpoint of this distinct basket (it
    # feeds four consumers) was REVERTED in round 17: cold min-of-2
    # A/B pairs measured the checkpoint-free form equal at sf0.1
    # (2.05 vs 2.05 s) and FASTER at sf1 (4.88/5.45 vs 5.78/6.40 s) —
    # exchange reuse already deduplicates the distinct stage across
    # the self-join's two sides, so the checkpoint's extra
    # materialization job never pays, confirming the driver's r16
    # measurement (0.88x).
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct().count()  # scalar dimension
    pc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("supp"))
        .where(F.col("supp") >= _MB_MIN_SUPPORT)
    )
    ca = pc.select(F.col("l_partkey").alias("pa"), F.col("c").alias("ca"))
    cb = pc.select(F.col("l_partkey").alias("pb"), F.col("c").alias("cb"))
    supp = F.col("supp").cast("double")
    return (
        pairs.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .select(
            "pa",
            "pb",
            F.col("supp").cast("bigint").alias("supp"),
            (supp / F.col("ca")).alias("conf_a_b"),
            (supp / F.col("cb")).alias("conf_b_a"),
            (supp * F.lit(n_orders) / (F.col("ca") * F.col("cb"))).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# r17 — near-containment detection (asymmetric dedup)
# ---------------------------------------------------------------------------

@register(
    "r17_containment",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle
           FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)),
    n AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da AS contained_id, db AS container_id, n_common
    FROM inter JOIN n na ON da = na.doc_id
    WHERE 10 * n_common >= 9 * na.nsh
    UNION ALL
    SELECT db AS contained_id, da AS container_id, n_common
    FROM inter JOIN n nb ON db = nb.doc_id
    WHERE 10 * n_common >= 9 * nb.nsh
    """,
    doc="Asymmetric near-dup: document A is ~contained in B when "
    "|shingles(A) ∩ shingles(B)| ≥ 0.9·|shingles(A)| — catches "
    "quote-inclusion and stitched documents that symmetric Jaccard "
    "misses (a short doc pasted into a long one has low Jaccard but "
    "full containment). Same inverted-index candidate shape and "
    "integer cross-multiplication predicate as q46, evaluated in both "
    "orientations from one symmetric intersection pass; at 100 TB the "
    "candidate generation takes q46's hot-shingle DF cut + rarest-k "
    "exemption unchanged (containment ≥ 0.9 shares rare shingles a "
    "fortiori — more overlap than the 0.6 Jaccard bound the cut is "
    "proven against).",
)
def r17_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs, n=5).localCheckpoint(eager=True)
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = n.select(F.col("doc_id").alias("da"), F.col("nsh").alias("nsh_a"))
    nb = n.select(F.col("doc_id").alias("db"), F.col("nsh").alias("nsh_b"))
    both = inter.join(F.broadcast(na), "da").join(F.broadcast(nb), "db")
    fwd = both.where(10 * F.col("n_common") >= 9 * F.col("nsh_a")).select(
        F.col("da").alias("contained_id"),
        F.col("db").alias("container_id"),
        "n_common",
    )
    rev = both.where(10 * F.col("n_common") >= 9 * F.col("nsh_b")).select(
        F.col("db").alias("contained_id"),
        F.col("da").alias("container_id"),
        "n_common",
    )
    return fwd.unionAll(rev)


# ---------------------------------------------------------------------------
# r18 — triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------

@register(
    "r18_triangles",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT CAST((SELECT COUNT(DISTINCT v) FROM
                 (SELECT pa AS v FROM e UNION SELECT pb FROM e) u) AS BIGINT)
               AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*)
                 FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                 JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb) AS BIGINT)
               AS n_triangles
    """,
    doc="Graph analytics beyond components: triangle count on the "
    "co-purchase graph (parts sharing ≥2 orders). Edges are stored "
    "once in canonical (pa < pb) orientation, so each triangle "
    "(a<b<c) is counted exactly once by the two-hop join e1(a,b) ⋈ "
    "e2(b,c) ⋈ e3(a,c) — the node-iterator shape whose join "
    "cardinality is Σ deg²(v) on the canonical DAG, the standard "
    "distributed formulation (degree-ordered orientation bounds the "
    "fan-out by arboricity). All integer counts; the edge list "
    "reuses r16's basket-bounded pair generation.",
)
def r18_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("pa", "pb")
        .localCheckpoint(eager=True)  # three consumers below
    )
    nodes_df = (
        e.select(F.col("pa").alias("v"))
        .unionAll(e.select(F.col("pb").alias("v")))
        .agg(F.countDistinct("v").cast("bigint").alias("n_nodes"))
    )
    edges_df = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    e1 = e.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
    e2 = e.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
    e3 = e.select(F.col("pa").alias("x"), F.col("pb").alias("z"))
    tri_df = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    # three single-row aggregates cross-joined: one declarative plan,
    # no driver-side assembly
    return nodes_df.crossJoin(edges_df).crossJoin(tri_df)


# ---------------------------------------------------------------------------
# r19 — overlapping-interval merge (coverage per user)
# ---------------------------------------------------------------------------

_IV_LEN_US = 1800 * 10**6  # each event opens a 30-minute activity interval


@register(
    "r19_interval_merge",
    f"""
    WITH iv AS (
        SELECT user_id,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS s,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) + {_IV_LEN_US} AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT island) AS BIGINT) AS n_intervals,
           CAST(SUM(len) AS BIGINT) AS covered_us
    FROM (
        SELECT user_id, island, MAX(e) - MIN(s) AS len
        FROM islands GROUP BY user_id, island
    ) t GROUP BY user_id
    """,
    doc="Overlapping-interval union: each event opens a 30-minute "
    "activity interval; merge overlaps per user and report merged-"
    "interval count + total covered time. Gaps-and-islands with a "
    "RUNNING MAX END (frame-excluded window) — the standard interval-"
    "merge identity that handles an interval fully nested inside an "
    "earlier longer one, where comparing against lag(e) alone fails. "
    "One shuffle; all integer µs arithmetic. (Session windows q40 "
    "merge by inter-EVENT gap; this merges by actual interval "
    "overlap — e.g. billing/coverage semantics.)",
)
def r19_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    eu = epoch_us("ts")
    iv = events.select(
        "user_id",
        eu.alias("s"),
        (eu + F.lit(_IV_LEN_US)).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.countDistinct("island").cast("bigint").alias("n_intervals"),
        F.sum("len").cast("bigint").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# r20 — per-label embedding centroids (long format)
# ---------------------------------------------------------------------------

@register(
    "r20_label_centroids",
    """
    WITH x AS (
        SELECT label, t.i - 1 AS dim,
               CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(27,10)) AS v
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(AVG(v), 6) AS DOUBLE) AS centroid
    FROM x GROUP BY label, dim
    """,
    doc="Per-label embedding centroids in long format — the assignment "
    "step's companion in any k-means/IVF pipeline (q86 trains cells "
    "from samples; this reduces the FULL corpus per label). posexplode "
    "keeps dimension indices; components go float→double→DECIMAL(27,10) "
    "before AVG so the accumulation is order-independent (D1 applied "
    "to vector components), surfaced ROUND 6. One shuffle on (label, "
    "dim) — at 100 TB this is the map-side-combinable centroid "
    "reduction, 64·|labels| output rows.",
)
def r20_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.col("v").cast("double").cast("decimal(27,10)").alias("v"),
    )
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).cast("double").alias("centroid"),
    )


# ---------------------------------------------------------------------------
# r21 — grouped linear regression (closed form, exact-decimal sums)
# ---------------------------------------------------------------------------

@register(
    "r21_grouped_regression",
    """
    WITH m AS (
        SELECT MIN(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)) AS mn
        FROM events
    ),
    e AS (
        SELECT event_type,
               CAST(CAST(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) - m.mn
                         AS DECIMAL(21,6))
                    * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(15,6)) AS x,
               CAST(value AS DECIMAL(10,2)) AS y
        FROM events, m WHERE value IS NOT NULL
    ),
    s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(19,6)) * x) AS sxx,
               SUM(CAST(x AS DECIMAL(19,6)) * y) AS sxy,
               SUM(CAST(y AS DECIMAL(19,2)) * y) AS syy
        FROM e GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND(86400.0
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS DOUBLE) AS slope_per_day,
           CAST(ROUND((CAST(sy AS DOUBLE)
               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE), 6) AS DOUBLE) AS intercept
    FROM s
    """,
    doc="Per-group ordinary least squares of value against time "
    "(seconds since the corpus min, so x² stays inside DECIMAL(38) "
    "headroom): the sufficient statistics Σx Σy Σx² Σxy Σy² "
    "accumulate as EXACT decimals (order-independent — the D1 "
    "discipline applied to regression; x itself is built from "
    "integer µs via an exact 1e-6 decimal literal, no float). The "
    "closed form then runs in doubles — and unlike r16's integer "
    "ratios this CANNOT ship unrounded: decimal→double conversion "
    "itself differs by 1 ulp across engines (measured here: Spark's "
    "correctly-rounded BigDecimal vs DuckDB's int128·10⁻ˢ two-step), "
    "so the slope is reported per-DAY (natural trend units that lift "
    "~1e-6/s magnitudes into ROUND-able range) at 6dp with a "
    "measured boundary margin. Spark's built-in regr_slope "
    "accumulates doubles in partition order — not hash-comparable; "
    "this is the deterministic formulation. One shuffle (the grouped "
    "sums), map-side combinable.",
)
def r21_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    eu = epoch_us("ts")
    # bounded-collect: single global scalar (min timestamp)
    mn = events.agg(F.min(eu).alias("mn")).collect()[0]["mn"]
    e = events.where(F.col("value").isNotNull()).select(
        "event_type",
        # exact decimal seconds: integer µs scaled by an exact 1e-6
        # decimal literal (sub-µs digits are zero, so the final cast to
        # scale 6 drops only zeros) — no float touches x
        (
            (eu - F.lit(mn)).cast("decimal(21,6)")
            * F.lit("0.000001").cast("decimal(7,6)")
        )
        .cast("decimal(15,6)")
        .alias("x"),
        F.col("value").cast("decimal(10,2)").alias("y"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope * F.lit(86400.0), 6).cast("double").alias("slope_per_day"),
        F.round((sy - slope * sx) / nd, 6).cast("double").alias("intercept"),
    )


# ---------------------------------------------------------------------------
# r22 — Jaro–Winkler fuzzy matching (cross-implementation parity)
# ---------------------------------------------------------------------------

_JW_THRESHOLD = 0.815  # measured margin to nearest score: 4.3e-3 at sf0.01


@register(
    "r22_jaro_match",
    f"""
    WITH vocab AS (
        SELECT DISTINCT p_name, regexp_extract(p_name, '[^ ]+$') AS blk
        FROM part
    )
    SELECT a.p_name AS left_name,
           b.p_name AS right_name,
           CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                AS DOUBLE) AS jw
    FROM vocab a
    JOIN vocab b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= {_JW_THRESHOLD}
    """,
    doc="Jaro–Winkler fuzzy matching over the blocked name vocabulary — "
    "r02's edit-distance complement for transposition-heavy typos "
    "(JW rewards shared prefixes; Levenshtein charges swaps double). "
    "The Spark side scores with the repo's OWN pure-Python "
    "implementation (functions/fuzzy.py, textbook Jaro + Winkler "
    "boost over 0.7, Arrow-batched) while the oracle uses DuckDB's "
    "native C++ jaro_winkler_similarity — two independent codebases "
    "cross-validating to 6dp on every pair, the multimodal "
    "independent-encoder discipline applied to a scoring function. "
    "The 0.815 keep-threshold has a measured 4.3e-3 margin to the "
    "nearest score (a pair sits EXACTLY at 0.8, which is why the "
    "threshold is not 0.8 — test-pinned); vocabulary-sized pair "
    "space, like r02.",
)
def r22_jaro_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fuzzy import jaro_winkler_udf

    part = load_table(spark, sf_dir, "part")
    vocab = (
        part.select("p_name")
        .distinct()
        .withColumn("blk", F.regexp_extract("p_name", "[^ ]+$", 0))
    )
    a = vocab.alias("a")
    b = vocab.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    )
    jw = jaro_winkler_udf(F.col("a.p_name"), F.col("b.p_name"))
    return (
        pairs.select(
            F.col("a.p_name").alias("left_name"),
            F.col("b.p_name").alias("right_name"),
            jw.alias("jw_raw"),
        )
        .where(F.col("jw_raw") >= _JW_THRESHOLD)
        .select(
            "left_name",
            "right_name",
            F.round("jw_raw", 6).cast("double").alias("jw"),
        )
    )


# ---------------------------------------------------------------------------
# r24 — exponentially weighted moving average (per-user daily series)
# ---------------------------------------------------------------------------

@register(
    "r24_ewma",
    """
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT user_id,
               list(CAST(cnt AS DOUBLE) ORDER BY day) AS c,
               COUNT(*) AS n_days
        FROM daily GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_days AS BIGINT) AS n_days,
           list_reduce(c, (acc, x) -> 0.5*acc + 0.5*x) AS ewma
    FROM series
    """,
    doc="Per-user EWMA of the daily event-count series (alpha = 0.5, "
    "y_t = 0.5*y_{t-1} + 0.5*x_t, y_1 = x_1) — the standard "
    "recency-weighted activity signal. The recurrence is inherently "
    "sequential, so it runs as a JVM higher-order fold over the "
    "sorted per-user array (aggregate(slice..)), NOT a window: one "
    "shuffle for the daily agg, one for the collect, array length "
    "bounded by span-days per user. Cross-engine exactness with NO "
    "rounding: both sides execute the IDENTICAL left-fold IEEE "
    "sequence (Spark aggregate ≡ DuckDB list_reduce, init = first "
    "element), and alpha = 0.5 makes every step a dyadic-rational "
    "halving — float summation ORDER, the usual hazard, cannot vary "
    "because a fold has exactly one order.",
)
def r24_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    series = daily.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))),"
            " p -> cast(p.cnt as double))"
        ).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return series.select(
        "user_id",
        "n_days",
        F.expr(
            "aggregate(slice(c, 2, size(c)-1), c[0],"
            " (acc, x) -> 0.5*acc + 0.5*x)"
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# r26 — skyline / Pareto frontier (min price, max size)
# ---------------------------------------------------------------------------

@register(
    "r26_skyline",
    """
    WITH g AS (
        SELECT p_retailprice AS pr, MAX(p_size) AS ms
        FROM part GROUP BY 1
    ),
    sky AS (
        SELECT pr, ms,
               MAX(ms) OVER (ORDER BY pr
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev
        FROM g
    )
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p
    JOIN sky s ON p.p_retailprice = s.pr AND p.p_size = s.ms
    WHERE s.prev IS NULL OR s.ms > s.prev
    ORDER BY p.p_retailprice, p.p_partkey
    """,
    doc="Skyline / Pareto frontier over parts: minimize retail price, "
    "maximize size. A part survives iff no other part is <= on price "
    "AND >= on size with one strict (duplicate (price, size) pairs "
    "co-survive; within an equal-price group only max-size rows "
    "live). Shape: group to (price, max_size) — corpus-sized shuffle "
    "one — then the sorted cummax sweep runs DISTRIBUTED in the r12 "
    "ECDF discipline: repartitionByRange on price, per-partition "
    "rowsBetween cummax windows, plus the running max of earlier "
    "partitions' maxes (a window over the partition-count-sized "
    "aggregate, broadcast back) — never a single-partition global "
    "window, nothing collected to the driver. Survivor (price, size) pairs "
    "are frontier-sized (monotone staircase), broadcast for the "
    "join back to full rows. Price is compared, never computed on, "
    "so double equality is exact. At 100 TB: two shuffles total, "
    "the sweep state per partition is one number.",
)
def r26_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy(F.col("p_retailprice").alias("pr")).agg(
        F.max("p_size").alias("ms")
    )
    parts = pinned_range_prefix(
        g, _KS_PARTS, ["pr"], {"pm": F.max("ms")}, running=F.max
    )
    w = Window.partitionBy("pid").orderBy("pr").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        parts.withColumn(
            "prev",
            F.greatest(
                F.coalesce(F.max("ms").over(w), F.lit(-1)),
                F.coalesce(F.col("pm_before"), F.lit(-1)),
            ),
        )
        .where(F.col("ms") > F.col("prev"))
        .select("pr", "ms")
    )
    return (
        part.join(
            F.broadcast(sky),
            (F.col("p_retailprice") == F.col("pr"))
            & (F.col("p_size") == F.col("ms")),
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# ---------------------------------------------------------------------------
# r27 — largest-remainder proration (exact integer allocation)
# ---------------------------------------------------------------------------

_ALLOC_POINTS = 10000  # points allocated per order across its lineitems


@register(
    "r27_proration",
    f"""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
    ),
    tot AS (
        SELECT l_orderkey, SUM(q) AS tq FROM li GROUP BY 1
    ),
    base AS (
        SELECT li.l_orderkey, li.l_linenumber, li.q, tot.tq,
               ({_ALLOC_POINTS} * li.q) // tot.tq AS floor_share,
               ({_ALLOC_POINTS} * li.q) % tot.tq AS rem
        FROM li JOIN tot USING (l_orderkey)
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber, q DESC) AS rn,
               {_ALLOC_POINTS} - SUM(floor_share)
                   OVER (PARTITION BY l_orderkey) AS deficit
        FROM base
    )
    SELECT l_orderkey, l_linenumber,
           CAST(floor_share + CASE WHEN rn <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="Largest-remainder (Hamilton) proration: split a fixed "
    "integer budget per order across its lineitems proportional to "
    "quantity, with the rounding deficit going to the largest "
    "fractional remainders (tie: lowest linenumber, then quantity — "
    "the synthetic data has duplicate (orderkey, linenumber) rows, "
    "so the rank key must be total up to exact-duplicate rows, "
    "which are interchangeable under the multiset hash) so every order "
    "sums EXACTLY to the budget — the billing/cost-allocation "
    "operator spreadsheet rounding gets wrong. All integer "
    "arithmetic (floor_share = 10000q div Q, remainder = mod), so "
    "hash-exact across engines by construction. One shuffle on "
    "orderkey: the total agg, the remainder rank, and the deficit "
    "window all share the same partitioning (Exchange reuse), and "
    "per-order fan-in is lineitems-per-order bounded (~7).",
)
def r27_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    tot = li.groupBy("l_orderkey").agg(F.sum("q").alias("tq"))
    base = li.join(tot, "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        "q",
        F.expr(f"({_ALLOC_POINTS} * q) div tq").alias("floor_share"),
        F.expr(f"({_ALLOC_POINTS} * q) % tq").alias("rem"),
    )
    wo = Window.partitionBy("l_orderkey")
    ranked = base.select(
        "l_orderkey",
        "l_linenumber",
        "floor_share",
        F.row_number()
        .over(
            wo.orderBy(F.col("rem").desc(), "l_linenumber", F.col("q").desc())
        )
        .alias("rn"),
        (F.lit(_ALLOC_POINTS) - F.sum("floor_share").over(wo)).alias("deficit"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("floor_share")
            + F.when(F.col("rn") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# r28 — equi-width histogram (profiling companion to r03/r05)
# ---------------------------------------------------------------------------

@register(
    "r28_histogram",
    """
    SELECT event_type,
           CAST(LEAST(GREATEST(FLOOR(value / 5.0), 0), 19) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type, bucket
    """,
    doc="Equi-width histogram of event value per event type: 20 "
    "buckets of width 5 with clamp buckets at both ends. The bucket "
    "expression is the IDENTICAL IEEE sequence on both engines "
    "(value/5.0 then floor — no width_bucket, whose internal "
    "rounding formula is engine-specific), so boundary values land "
    "identically and the counts are hash-exact. Map-side: the "
    "bucketing is a scalar projection; one shuffle for the "
    "(type, bucket) count — at 100 TB this is the profiling scan "
    "shape with partial aggregation doing nearly all the work "
    "before the exchange.",
)
def r28_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(5.0)), F.lit(0)), F.lit(19)
    )
    return (
        events.where(F.col("value").isNotNull())
        .groupBy("event_type", bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# r29 — referential-integrity audit (orphan counts per FK edge)
# ---------------------------------------------------------------------------

@register(
    "r29_ri_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphans,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS fact_rows
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
    ORDER BY fk_edge
    """,
    doc="Referential-integrity audit — the dbt-style expectation "
    "check: orphan count + fact cardinality for every FK edge of "
    "the schema, one row per edge. Spark side is five LEFT ANTI "
    "joins (dimension side broadcast for all but "
    "lineitem->orders, which shuffles on the join key) + count "
    "aggregates union'd into one report. On healthy data every "
    "orphans value is 0 — the query is the audit harness, and the "
    "planted test breaks an edge to prove it fires. At 100 TB each "
    "edge is one scan + one anti-join; no edge reads a column it "
    "does not audit (ReadSchema prunes to the key).",
)
def r29_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def edge(name, fact, key, dim, dimkey, bcast=True):
        d = dim.select(dimkey)
        if bcast:
            d = F.broadcast(d)
        orphans = (
            fact.select(key)
            .join(d, fact[key] == dim[dimkey], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
        )
        total = fact.agg(F.count(F.lit(1)).cast("bigint").alias("fact_rows"))
        return orphans.crossJoin(total).select(
            F.lit(name).alias("fk_edge"), "orphans", "fact_rows"
        )

    report = (
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders,
             "o_orderkey", bcast=False)
        .unionAll(edge("orders.o_custkey->customer", orders, "o_custkey",
                       customer, "c_custkey"))
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey", part,
                       "p_partkey"))
        .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
                       supplier, "s_suppkey"))
        .unionAll(edge("customer.c_nationkey->nation", customer,
                       "c_nationkey", nation, "n_nationkey"))
    )
    return report.orderBy("fk_edge")


@register(
    "r44_rolling_median",
    """
    WITH e AS (
        SELECT event_id, user_id, ts, value
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    )
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS med7
    FROM e
    ORDER BY user_id, event_id
    """,
    doc="Time-series smoothing — per-user 7-point rolling MEDIAN of "
    "purchase values (the robust alternative to the r24 EWMA: one "
    "outlier can't move it). Spark's percentile() as a window "
    "aggregate over a ROWS frame ≡ DuckDB quantile_cont (same "
    "p*(n-1) linear interpolation, the r05 rule), ROUND 4dp for the "
    "decimal→double last-ulp (margin pinned in tests). (ts, event_id) "
    "ordering is total, so both engines see identical frames. "
    "Windows partition per user — parallel across users, frame "
    "bounded at 7 rows; no global sort, no single-partition stage "
    "at any scale.",
)
def r44_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med7"),
    ).orderBy("user_id", "event_id")


_EDB_PARTS = 32  # range partitions for the grouped distributed ECDF
_EDB_K = 10  # deciles


@register(
    "r46_equidepth_bins",
    f"""
    WITH e AS (
        SELECT event_type, value, event_id
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rnk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM e
    )
    SELECT event_type,
           CAST((rnk - 1) * {_EDB_K} // n AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM ranked
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Equi-DEPTH histogram (deciles per event type) — the "
    "complement of r28's equi-width bins: bucket boundaries adapt to "
    "the data so every bucket holds n/10 rows. Bucket assignment is "
    "floor((rank-1)*k/n) in INTEGER arithmetic on BOTH engines (not "
    "native ntile — its uneven-remainder rule is engine-specific "
    "lore; one formula, zero ambiguity), with (value, event_id) as "
    "the total order. The rank is a GROUPED distributed ECDF — the "
    "r12/r13 shape generalized: repartitionByRange on (type, value, "
    "id), per-partition windows, per-(partition, type) prefix "
    "offsets broadcast back (bounded by partitions × types, never "
    "rows) — NO single-partition window even when one event type "
    "dominates the corpus.",
)
def r46_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.where(F.col("value").isNotNull()).select(
        "event_type", "value", "event_id"
    )
    parts = pinned_range_prefix(
        e,
        _EDB_PARTS,
        ["event_type", "value", "event_id"],
        {"c": F.count(F.lit(1))},
        by=("event_type",),
    )
    w = Window.partitionBy("pid", "event_type").orderBy("value", "event_id")
    ranked = parts.select(
        "event_type",
        "value",
        (F.row_number().over(w) + F.col("c_before")).alias("rnk"),
        F.col("c_total").alias("n"),
    )
    bucket = F.expr(f"(rnk - 1) * {_EDB_K} div n").cast("int").alias("bucket")
    return (
        ranked.groupBy("event_type", bucket)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "r47_anova",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
               CAST(SUM(CAST(value AS DECIMAL(12,2))
                        * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS q
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ng) AS BIGINT) AS n,
               list_reduce(list(s ORDER BY event_type), (x, y) -> x + y)
                   AS stot,
               list_reduce(list(q ORDER BY event_type), (x, y) -> x + y)
                   AS qtot,
               list_reduce(list(s * s / ng ORDER BY event_type),
                           (x, y) -> x + y) AS sb
        FROM g)
    SELECT k, n,
           ROUND(sb - stot * stot / n, 4) AS ss_between,
           ROUND(qtot - sb, 4) AS ss_within,
           ROUND(((sb - stot * stot / n) / (k - 1))
                 / ((qtot - sb) / (n - k)), 4) AS f_stat
    FROM a
    """,
    doc="One-way ANOVA (F test) of event value across event types — "
    "completes the statistics family (r11 chi-square: categorical; "
    "r12 KS / r13 Mann-Whitney: nonparametric; r47: parametric "
    "variance decomposition). Per-group sufficient statistics "
    "(n, Σx, Σx²) accumulate in DECIMAL — exact, order-free (values "
    "are 2-decimal, squares 4-decimal) — and the ONLY cross-group "
    "float reduce (Σ S_g²/n_g and the totals) runs as the r24 "
    "ordered-fold: aggregate() over the event_type-sorted array ≡ "
    "DuckDB list_reduce, one IEEE order on both engines, so even "
    "before ROUND(…,4) the scalars are bit-identical. One shuffle "
    "(the type group); the per-group table is |types| rows.",
)
def r47_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(12,2)")
    g = (
        events.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum(val).cast("double").alias("s"),
            F.sum(val * val).cast("double").alias("q"),
        )
    )

    def fold(expr: str, alias: str):
        return F.expr(
            "aggregate(transform(array_sort(collect_list("
            f"struct(event_type, {expr} AS v))), p -> p.v), "
            "cast(0.0 as double), (x, y) -> x + y)"
        ).alias(alias)

    a = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        fold("s", "stot"),
        fold("q", "qtot"),
        fold("s * s / ng", "sb"),
    )
    ssb = F.col("sb") - F.col("stot") * F.col("stot") / F.col("n")
    ssw = F.col("qtot") - F.col("sb")
    return a.select(
        "k",
        "n",
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4
        ).alias("f_stat"),
    )


_SN_WINDOW = 3  # sorted-neighborhood width
_SN_MAXDIST = 3  # Levenshtein acceptance threshold


@register(
    "r49_sorted_neighborhood",
    f"""
    WITH v AS (SELECT DISTINCT p_name FROM part),
    r AS (SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rnk FROM v),
    c AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
                 CAST(b.rnk - a.rnk AS INT) AS gap
          FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {_SN_WINDOW})
    SELECT name_a, name_b, gap,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
    FROM c
    WHERE levenshtein(name_a, name_b) <= {_SN_MAXDIST}
    ORDER BY name_a, gap
    """,
    doc="Sorted-neighborhood blocking for record linkage — the "
    "classic alternative to r02's token blocking: sort the (deduped) "
    "entity vocabulary, compare each entity only to its next "
    f"{_SN_WINDOW} neighbors in sort order, accept Levenshtein ≤ "
    f"{_SN_MAXDIST}. The global rank is the r12/r46 distributed ECDF "
    "(range partition, pinned pids, per-partition windows + prefix "
    "offsets) — NO single-partition window — and the neighbor pairing "
    "is an EQUI-join on rank+k (k exploded 1..w), which crosses range-"
    "partition boundaries for free; candidate count is exactly w·|V|, "
    "linear in vocabulary, vs token-blocking's block-size quadratics. "
    "Both engines' levenshtein agree exactly (the r02/r22 evidence).",
)
def r49_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    parts = pinned_range_prefix(names, 8, ["p_name"], {"c": F.count(F.lit(1))})
    w = Window.partitionBy("pid").orderBy("p_name")
    ranked = parts.select(
        "p_name", (F.row_number().over(w) + F.col("c_before")).alias("rnk")
    )
    lhs = ranked.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _SN_WINDOW + 1)])
        ).alias("gap"),
        F.col("rnk"),
    ).withColumn("rnk_b", F.col("rnk") + F.col("gap"))
    rhs = ranked.select(
        F.col("p_name").alias("name_b"), F.col("rnk").alias("rnk_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        lhs.join(rhs, "rnk_b")
        .where(dist <= _SN_MAXDIST)
        .select(
            "name_a",
            "name_b",
            F.col("gap").cast("int").alias("gap"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("name_a", "gap")
    )


_RA_WINDOW = 7  # trailing days for the rolling-actives count


@register(
    "r50_rolling_actives",
    f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        FROM events),
    span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
    contrib AS (
        SELECT DISTINCT user_id, day + CAST(k AS INT) AS day
        FROM ud, LATERAL unnest(range(0, {_RA_WINDOW})) AS t(k)),
    counted AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users
        FROM contrib GROUP BY day)
    SELECT c.day, c.active_users
    FROM counted c, span
    WHERE c.day <= span.d1
    ORDER BY c.day
    """,
    doc="Rolling active users (trailing-7-day distinct, the WAU "
    "engagement metric): each (user, active-day) pair CONTRIBUTES to "
    "the 7 calendar days it keeps the user 'active' (explode k=0..6), "
    "then one distinct + count per day — turning a sliding-window "
    "COUNT DISTINCT (inexpressible as a Spark window frame, and "
    "quadratic if self-joined) into explode + two key-partitioned "
    "exchanges with map-side distinct. Fan-out is 7× the per-user "
    "ACTIVE-DAY set (already deduped), not 7× events. Days past the "
    "last observed day are trimmed so the calendar doesn't run past "
    "the data. At 100 TB this is the standard shape: contribution "
    "explode + re-aggregate, no window over an unbounded frame.",
)
def r50_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    d1 = ud.agg(F.max("day").alias("d1"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(_RA_WINDOW - 1))
        ).alias("k"),
        F.col("day"),
    ).select("user_id", F.date_add(F.col("day"), F.col("k")).alias("day"))
    counted = (
        contrib.distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
    )
    return (
        counted.join(F.broadcast(d1))
        .where(F.col("day") <= F.col("d1"))
        .select("day", "active_users")
        .orderBy("day")
    )


@register(
    "r56_rolling_actives_hll",
    None,  # tier-2: HLL estimates are engine-specific (Datasketches);
    # correctness rides the pytest bracket vs exact r50 (q35 pattern)
    doc="Rolling active users via MERGEABLE HLL sketches — the 100 TB "
    "twin of r50: one Datasketches HLL per (day) from a single "
    "events pass (hll_sketch_agg), then each KB-sized day sketch "
    "explodes into the 7 trailing days it serves and hll_union_agg "
    "merges per day — the shuffle carries days × 7 SKETCHES, not "
    "user-day pairs, so the cost is calendar-sized and independent "
    "of user cardinality (this is why warehouses precompute day "
    "sketches: any window re-aggregates without touching raw data). "
    "Tier-2 rows-only by design: the estimate is Datasketches-"
    "specific, not SQL-portable; tests bracket it within ±5% of the "
    "exact r50 count at two SFs and pin estimate determinism across "
    "runs (the sketch is order-insensitive on union).",
)
def r56_rolling_actives_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day_sk = (
        events.select(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    d1 = day_sk.agg(F.max("day").alias("d1"))
    contrib = day_sk.select(
        F.explode(F.sequence(F.lit(0), F.lit(_RA_WINDOW - 1))).alias("k"),
        F.col("day"),
        F.col("sk"),
    ).select(F.date_add(F.col("day"), F.col("k")).alias("day"), "sk")
    est = (
        contrib.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("active_users_est"))
    )
    return (
        est.join(F.broadcast(d1))
        .where(F.col("day") <= F.col("d1"))
        .select("day", F.col("active_users_est").cast("bigint").alias("active_users_est"))
        .orderBy("day")
    )


_RFM_BUCKETS = 5


@register(
    "r66_rfm",
    f"""
    WITH p AS (
        SELECT user_id,
               MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS freq,
               SUM(CAST(value AS DECIMAL(12,2))) AS monetary
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id
    ),
    mx AS (SELECT MAX(last_ts) AS maxts, CAST(COUNT(*) AS BIGINT) AS n FROM p),
    scored AS (
        SELECT user_id,
               date_diff('day', CAST(last_ts AS TIMESTAMP),
                         CAST(maxts AS TIMESTAMP)) AS recency_days,
               freq, monetary, n
        FROM p, mx
    ),
    ranked AS (
        SELECT user_id, n,
               ROW_NUMBER() OVER (ORDER BY recency_days, user_id) AS rr,
               ROW_NUMBER() OVER (ORDER BY freq DESC, user_id) AS rf,
               ROW_NUMBER() OVER (ORDER BY monetary DESC, user_id) AS rm
        FROM scored
    ),
    seg AS (
        SELECT ((rr - 1) * {_RFM_BUCKETS} // n) + 1 AS r_score,
               ((rf - 1) * {_RFM_BUCKETS} // n) + 1 AS f_score,
               ((rm - 1) * {_RFM_BUCKETS} // n) + 1 AS m_score
        FROM ranked
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM seg
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc="RFM segmentation — the classic marketing composition: per "
    "purchasing user, Recency (days since last purchase, vs the "
    "corpus max), Frequency (purchase count) and Monetary (DECIMAL "
    "revenue), each quintiled 1=best..5 by the r46 engine-neutral "
    "bucket formula floor((rank−1)·5/n)+1 over a TOTAL order "
    "(metric, then user_id — ties never flip between engines; "
    "recency ranks ascending, frequency/monetary descending so "
    "score 1 is always 'best'), then user counts per (R,F,M) cell. "
    "Spark computes the three ranks with ONE pinned-pid distributed "
    "ECDF per metric (the r12/r46 shape — no single-partition "
    "window); the per-user purchase rollup is one shuffle and the "
    "rank tables are user-sized.",
)
def r66_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    p = (
        events.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("monetary"),
        )
    )
    mx = p.agg(
        F.max("last_ts").alias("maxts"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    scored = p.join(F.broadcast(mx)).select(
        "user_id",
        F.datediff(F.col("maxts"), F.col("last_ts")).alias("recency_days"),
        "freq",
        "monetary",
        "n",
    ).localCheckpoint(eager=True)  # three rank passes below

    def _rank(df: DataFrame, order_cols, alias: str) -> DataFrame:
        """Global dense row_number over a total order (engine.det
        pinned_range_prefix)."""
        parts = pinned_range_prefix(
            df, 16, [*order_cols, "user_id"], {"c": F.count(F.lit(1))}
        )
        w = Window.partitionBy("pid").orderBy(*order_cols, "user_id")
        return parts.select(
            "user_id", (F.row_number().over(w) + F.col("c_before")).alias(alias)
        )

    # the three rank passes are independent jobs over the same
    # checkpointed input — submit them from a small thread pool so each
    # pass's eager range checkpoint backfills the others (guide §2.6;
    # results are deterministic per pass, only the wall-clock overlaps)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_rr = pool.submit(
            _rank, scored.select("user_id", "recency_days"),
            [F.col("recency_days")], "rr",
        )
        f_rf = pool.submit(
            _rank, scored.select("user_id", "freq"),
            [F.col("freq").desc()], "rf",
        )
        f_rm = pool.submit(
            _rank, scored.select("user_id", "monetary"),
            [F.col("monetary").desc()], "rm",
        )
        rr, rf, rm = f_rr.result(), f_rf.result(), f_rm.result()
    ranked = (
        scored.select("user_id", "n")
        .join(rr, "user_id")
        .join(rf, "user_id")
        .join(rm, "user_id")
    )
    k = _RFM_BUCKETS

    def score(col):
        return (F.expr(f"(({col} - 1) * {k}) div n") + 1).cast("int")

    return (
        ranked.select(
            score("rr").alias("r_score"),
            score("rf").alias("f_score"),
            score("rm").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    )

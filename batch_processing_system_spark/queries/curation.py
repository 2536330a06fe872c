"""Training-data curation operators (north-star families "dedup" and
"text analysis" composed): near-duplicate clustering and the
end-to-end curation pipeline a 100 TB pretraining corpus runs daily.

Both queries are tier-1: the near-dup pair set is exact (q46
semantics), min-label connected components are deterministic, and the
train/holdout split uses md5-prefix hashing (engine-portable, unlike
rand() or xxhash64).

Scale posture:
- q74: iterative min-label propagation with pointer jumping — each
  iteration is one bounded equi-join + groupBy on the PAIR GRAPH
  (near-dup pairs, a vanishing fraction of the corpus) plus one
  self-join on the label table, never on the corpus itself.
  Iterations ~ log2(graph diameter) thanks to the jump step; near-dup
  clusters are tiny cliques, so a handful of rounds in practice.
  localCheckpoint per round truncates the plan so lineage cannot grow
  superlinearly.
- q75: one corpus scan for quality + hashing, then joins against the
  (small) dedup survivors and near-dup pair sets; split assignment is
  a map-side digest prefix — deterministic across engines, runs, and
  repartitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.io import load_table
from . import register
from .text import JACCARD_NEARDUP_SQL, q46_neardup_jaccard

_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_id_a, doc_id_b FROM ({JACCARD_NEARDUP_SQL}) jp),
    edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
              UNION SELECT doc_id_b, doc_id_a FROM pairs),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
    FROM reach GROUP BY src
"""


@register(
    "q74_neardup_components",
    _COMPONENTS_ORACLE,
    doc="X2 near-duplicate clustering — connected components over the "
    "exact Jaccard>=0.6 pair graph by iterative min-label propagation "
    "(label(v) <- min(label(v), min label of neighbors) until fixed "
    "point), the canonical-survivor assignment of a dedup pipeline. "
    "Oracle: DuckDB recursive-CTE transitive closure over the same "
    "pairs. The driver-side convergence loop is the standard Spark "
    "shape for iterative graph algorithms (Pregel-style); per-round "
    "cost is one join on the pair graph only.",
)
def q74_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q46_neardup_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return connected_components(pairs)


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 64,
    rounds_out: list[int] | None = None,
) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    pair list (doc_id_a, doc_id_b) → (doc_id, component) for every
    vertex, where component = the minimum doc_id reachable.

    Each round does (1) a neighbor-min step — one equi-join + groupBy
    on the edge list — and (2) a pointer-jump step,
    label(v) ← label(label(v)), one self-join on the label table. The
    jump roughly doubles how far a label has travelled per round, so
    convergence is ~⌈log₂ diameter⌉ + 1 rounds, not diameter rounds —
    the difference between 6 and 10⁶ iterations on a pathological
    chain, and measured on a 129-vertex chain in tests.

    ``max_rounds`` is belt-and-braces only: labels decrease
    monotonically and are bounded below, so the loop provably reaches a
    fixed point (64 rounds covers any graph whose diameter fits in an
    int under log-convergence). It exists so a future edit to the label
    rule cannot silently loop a cluster forever — exceeding it raises
    instead of spinning.

    ``rounds_out``: optional list; the executed round count is appended
    (test/observability hook)."""
    # symmetrize map-side with explode so the (possibly very expensive)
    # pair-generation pipeline (e.g. q46's shingle/inverted-index/verify
    # chain) appears ONCE in the edges plan — a self-unionAll would
    # embed it twice, and an extra eager checkpoint of the pair set
    # measured slower than the recompute it saves (r6 VERDICT fix)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_id_b").alias("a"), F.col("doc_id_a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)
    )
    # Size the loop's parallelism to the pair graph, not the session
    # default: near-dup edges are a vanishing fraction of the corpus,
    # and iterating 32-partition shuffles over a few dozen rows buys
    # nothing but scheduling overhead. ~100k edges per partition keeps
    # a billion-edge graph at cluster-scale parallelism.
    n_parts = max(1, edges.count() // 100_000)
    edges = edges.coalesce(n_parts)
    # fused round 0: label = min(self, direct neighbors) — for the
    # clique-shaped clusters near-dup graphs produce, this alone is the
    # fixed point and the loop only confirms convergence
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("doc_id"), "component")
        .localCheckpoint(eager=True)
    )

    # Convergence test (round-16, guide §2.4): labels are MONOTONE —
    # every update strictly decreases a label and nothing ever
    # increases one — so "no label changed" ⟺ "Σ component is
    # unchanged". The old test joined new labels to old labels and
    # counted inequalities (a node-table shuffle join per round); the
    # sum is one partial-aggregated scan of the already-checkpointed
    # label table. DECIMAL(38,0) keeps the sum exact at any node count
    # (int64 would overflow at ~1e12 rows of 1e6-sized ids).
    def _label_sum(df: DataFrame) -> object:
        # bounded-collect: single-row global aggregate (one scalar)
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for rnd in range(max_rounds):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("component").alias("nbr_comp")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
        )
        stepped = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["a"], "left"
        ).select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("min_nbr", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component ← label(component). Every label IS a
        # vertex id (min over vertex ids, by induction), so the lookup
        # is a self-join on the label table; the left join + coalesce
        # is defensive only. This halves the remaining label distance
        # each round — log(diameter) total rounds.
        jump = stepped.select(
            F.col("doc_id").alias("component"), F.col("component").alias("jumped")
        )
        new_labels = (
            stepped.join(jump, "component", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("jumped", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            if rounds_out is not None:
                rounds_out.append(rnd + 1)
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "min-label propagation is provably monotone, so this indicates a "
        "broken label-update rule, not a large graph"
    )


def _semantic_dedup_oracle() -> str:
    # Imported lazily at module load via the f-string below; kept as a
    # function-free constant builder so the SQL reads top-to-bottom.
    from .similarity import COSINE_NEARDUP_SQL

    return f"""
    WITH RECURSIVE
    pairs AS (SELECT vec_id_a, vec_id_b FROM ({COSINE_NEARDUP_SQL}) cp),
    edges AS (SELECT vec_id_a AS a, vec_id_b AS b FROM pairs
              UNION SELECT vec_id_b, vec_id_a FROM pairs),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
        SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    )
    SELECT e.vec_id,
           COALESCE(c.component, e.vec_id) AS component,
           COALESCE(c.component, e.vec_id) = e.vec_id AS kept
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
    """


@register(
    "q87_semantic_dedup",
    _semantic_dedup_oracle(),
    doc="X2/X2b composed — SemDeDup-shape semantic deduplication (Abbas "
    "et al. 2023, 'SemDeDup: Data-efficient learning at web-scale "
    "through semantic deduplication'): embedding-cosine near-dup pairs "
    "(exact, cos >= 0.45 — q54's capped-broadcast/blocked generator) form "
    "a pair graph; connected components assign every vector a cluster; "
    "one representative per cluster (min vec_id) is kept and the rest "
    "are dropped. Output: every vector with its component label and "
    "kept flag — the drop list IS the rows with kept = false. Scale "
    "posture: past the broadcast budget the pair generator runs as a "
    "distributed blocked grid (no driver state), components iterate on the "
    "pair graph only (a vanishing fraction of the corpus), and the "
    "final labeling is one left join of corpus ids against the "
    "component map. Oracle: recursive-CTE transitive closure over the "
    "same exact pair SQL. Tier-1: pair membership margins measured at "
    "q54 (>=5.5e-4 from threshold), component labels are integer "
    "min-reachability — no float in the hashed output. The pair set is "
    "exact on both routes; tests force the above-budget blocked route "
    "(shrunken budget) and hash-match the oracle.",
)
def q87_semantic_dedup(
    spark: SparkSession, sf_dir: str, broadcast_budget_bytes: int | None = None
) -> DataFrame:
    from .similarity import q54_cosine_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = q54_cosine_neardup(
        spark, sf_dir, broadcast_budget_bytes=broadcast_budget_bytes
    ).select(
        F.col("vec_id_a").alias("doc_id_a"), F.col("vec_id_b").alias("doc_id_b")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    return (
        emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("component"),
            (F.coalesce("component", F.col("vec_id")) == F.col("vec_id")).alias("kept"),
        )
    )


_BEST_OF_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_id_a, doc_id_b FROM ({JACCARD_NEARDUP_SQL}) jp),
    edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
              UNION SELECT doc_id_b, doc_id_a FROM pairs),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    lab AS (
        SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component,
               t.n_tokens
        FROM toks t LEFT JOIN comp c ON t.doc_id = c.doc_id
    ),
    reps AS (
        SELECT component, doc_id AS rep_id FROM (
            SELECT component, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY n_tokens DESC, doc_id ASC) AS rn
            FROM lab) x
        WHERE rn = 1
    )
    SELECT l.doc_id, l.component, r.rep_id, l.n_tokens,
           l.doc_id = r.rep_id AS kept
    FROM lab l JOIN reps r USING (component)
"""


@register(
    "q92_best_of_cluster",
    _BEST_OF_CLUSTER_ORACLE,
    doc="X2b composed — quality-ranked dedup survivors: real pipelines "
    "keep the BEST document per near-dup cluster, not the first. "
    "Components over the exact Jaccard pair graph (q74), then one "
    "representative per cluster = max token count, doc_id tiebreak "
    "(all-integer ranking — no float in the hashed output). Scale "
    "shape: the component map and the representative table are "
    "PAIR-GRAPH-sized, so the corpus-wide labeling is one broadcast "
    "join; the rep choice is a max_by on the clustered subset only — "
    "the corpus itself never shuffles on component. Oracle: "
    "recursive-CTE closure + ROW_NUMBER window.",
)
def q92_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split("text", " "), lambda w: w != "")
    toks = docs.select(
        "doc_id", F.size(toks_arr).cast("bigint").alias("n_tokens")
    )
    pairs = q46_neardup_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("cdoc"), "component"
    )
    lab = toks.join(
        F.broadcast(comp), toks["doc_id"] == comp["cdoc"], "left"
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
        "n_tokens",
    )
    # representative per component: highest n_tokens, min doc_id on
    # ties — max_by over struct(n_tokens, -doc_id), computed on the
    # CLUSTERED subset only (singleton components are their own rep by
    # construction, no shuffle for them)
    clustered = lab.join(
        F.broadcast(comp.select("component").distinct()), "component"
    )
    reps = clustered.groupBy("component").agg(
        F.max(
            F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best")
    ).select(
        "component", (-F.col("best.neg_id")).alias("rep_id")
    )
    return (
        lab.join(F.broadcast(reps), "component", "left")
        .select(
            "doc_id",
            "component",
            F.coalesce("rep_id", F.col("doc_id")).alias("rep_id"),
            "n_tokens",
            (F.coalesce("rep_id", F.col("doc_id")) == F.col("doc_id")).alias(
                "kept"
            ),
        )
    )


#: PII patterns for the scrub pass. Kept to constructs with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): literal classes,
#: bounded repetition, \\b word boundaries — no lookaround, no
#: backreferences (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"

_PII_ORACLE = f"""
    WITH pass1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_emails,
               regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(t1, '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phones
    FROM pass1
"""


@register(
    "q90_pii_scrub",
    _PII_ORACLE,
    doc="X4/X6 — PII redaction, the curation step every pretraining "
    "pipeline runs before tokenization: emails and phone-shaped "
    "numbers are replaced with typed placeholder tokens and counted "
    "per document. Pure map-side regexp_replace/extract_all — no "
    "shuffle, no UDF, corpus-scan-bound at 100 TB and trivially "
    "parallel. Patterns restricted to the Java-regex/RE2 common "
    "subset (no lookaround/backrefs) so both engines transform "
    "identically; phone before/after email ordering is fixed by "
    "scrubbing emails first on the same derived column.",
)
def q90_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t1 = F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>").alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
    )


#: Markup-strip patterns, Java-regex/RE2 common subset like the PII
#: ones: tags, HTML entities, then whitespace collapse.
HTML_TAG_RE = r"<[^>]*>"
HTML_ENTITY_RE = r"&[A-Za-z]{2,8};|&#[0-9]{1,7};"
WS_RE = r"\s+"

_HTML_STRIP_ORACLE = f"""
    WITH s AS (
        SELECT doc_id,
               regexp_replace(text, '{HTML_TAG_RE}', ' ', 'g') AS t1
        FROM documents
    ),
    e AS (
        SELECT doc_id,
               regexp_replace(t1, '{HTML_ENTITY_RE}', ' ', 'g') AS t2
        FROM s
    )
    SELECT doc_id,
           trim(regexp_replace(t2, '{WS_RE}', ' ', 'g')) AS clean_text,
           CAST(len(list_filter(string_split(
               trim(regexp_replace(t2, '{WS_RE}', ' ', 'g')), ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
    FROM e
"""


@register(
    "q98_html_strip",
    _HTML_STRIP_ORACLE,
    doc="X4/X6 — markup stripping, the normalization every web-scraped "
    "corpus runs before tokenization: HTML tags and entities become "
    "spaces, whitespace collapses to single spaces, and the clean "
    "token count rides along. Pure map-side regexp in the "
    "Java-regex/RE2 common subset (no lookaround/backrefs), zero "
    "shuffle, fuses into the ingest scan like the PII scrub (q90). "
    "The synthetic corpus carries no markup (the pass is the "
    "identity there — still hash-checked); planted-markup semantics "
    "are pinned in tests.",
)
def q98_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t1 = F.regexp_replace("text", HTML_TAG_RE, " ")
    t2 = F.regexp_replace(t1, HTML_ENTITY_RE, " ")
    clean = F.trim(F.regexp_replace(t2, WS_RE, " "))
    toks = F.filter(F.split(clean, " "), lambda w: w != "")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )


_CURATION_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_uniq,
               md5(text) AS h
        FROM documents
    ),
    q AS (SELECT * FROM toks WHERE n_tokens >= 10 AND n_uniq * 10 >= n_tokens * 3),
    ex AS (SELECT q.* FROM q
           JOIN (SELECT h, MIN(doc_id) AS keep FROM q GROUP BY h) k
             ON q.doc_id = k.keep),
    nd AS (SELECT DISTINCT doc_id_b FROM ({JACCARD_NEARDUP_SQL}) jp)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND 'c'
                THEN 'train' ELSE 'holdout' END AS split
    FROM ex WHERE doc_id NOT IN (SELECT doc_id_b FROM nd)
"""


@register(
    "q75_curation_pipeline",
    _CURATION_ORACLE,
    doc="X1/X2/X4 composed — the canonical pretraining-corpus curation "
    "pass: quality gate (>=10 tokens, type/token ratio >= 0.3 by "
    "integer cross-multiplication), exact dedup (min-doc_id survivor "
    "per content digest), near-dup removal (drop the doc_id_b side of "
    "every exact-Jaccard pair), deterministic ~81/19 train/holdout "
    "split by md5 digest prefix of the id. One corpus scan computes "
    "tokens+digest; the dedup/near-dup sides are digest-sized and "
    "pair-sized joins; the split is map-side — the whole pipeline is "
    "corpus-scan-bound at 100 TB.",
)
def q75_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split("text", " "), lambda w: w != "")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(toks_arr).alias("n_tokens"),
        F.size(F.array_distinct(toks_arr)).alias("n_uniq"),
        F.md5(F.encode("text", "UTF-8")).alias("h"),
    )
    q = toks.filter(
        (F.col("n_tokens") >= 10) & (F.col("n_uniq") * 10 >= F.col("n_tokens") * 3)
    )
    keep = q.groupBy("h").agg(F.min("doc_id").alias("keep"))
    ex = q.join(keep, q["doc_id"] == keep["keep"]).select(
        "doc_id", "lang", "n_tokens"
    )
    nd = q46_neardup_jaccard(spark, sf_dir).select(
        F.col("doc_id_b").alias("doc_id")
    ).distinct()
    survivors = ex.join(nd, "doc_id", "left_anti")
    prefix = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 1
    )
    return survivors.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.when(prefix.between("0", "c"), F.lit("train"))
        .otherwise(F.lit("holdout"))
        .alias("split"),
    )

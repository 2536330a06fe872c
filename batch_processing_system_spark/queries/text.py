"""Text analysis operators (SURVEY §2.3 X4, U4) — the north-star
training-data-pipeline family: tokenization, quality scoring, language
ID, fingerprinting. All built-in higher-order/string functions —
JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.io import load_table
from . import register


@register(
    "q41",
    """
    SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) WHERE word <> ''
    GROUP BY word
    """,
    doc="U4/X4 generator + word count — explode(split(text)); empty "
    "tokens filtered per §2.5 D9. The shuffle is on the word key "
    "(bounded vocabulary) after map-side partial counts, so it scales "
    "to any corpus size.",
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q71_posexplode",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         UNNEST(generate_series(1, len(ws))) AS t(i)
    WHERE ws[i] <> ''
    """,
    doc="U4 generator with ordinality — posexplode keeps token "
    "positions (1-based to match SQL array indexing); the primitive "
    "under shingling, positional n-grams, and span labeling.",
)
def q71_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word"))
        .filter(F.col("word") != "")
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "word")
    )


@register(
    "q45_dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="X1 exact content dedup — hash-groupBy on the full text, keeping "
    "the minimum doc_id as the canonical survivor. At 100 TB the "
    "group key is the 128-bit digest (shuffle ships 16 bytes + id, "
    "never the document body).",
)
def q45_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.encode("text", "UTF-8")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


# Shared by q46 (inverted-index exact) and q42 (MinHash band candidates
# + exact verification): both must produce exactly the Jaccard>=0.6
# pairs, so they check against the same ground-truth SQL.
JACCARD_NEARDUP_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle
           FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)),
    n AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_id_a, doc_id_b, n_common
    FROM inter
    JOIN n na ON doc_id_a = na.doc_id
    JOIN n nb ON doc_id_b = nb.doc_id
    WHERE 10 * n_common >= 6 * (na.nsh + nb.nsh - n_common)
    """


@register(
    "q46_neardup_jaccard",
    JACCARD_NEARDUP_SQL,
    doc="X2 exact n-gram Jaccard near-dup (tier-1!) — 5-word shingles, "
    "inverted-index self-join for CANDIDATES, exact Jaccard ≥ 0.6 "
    "decided by integer cross-multiplication over the full shingle "
    "sets (no float in the predicate, §2.5 D7). Hot-shingle DF cut: "
    "shingles present in more than max(5, 0.1% of docs) documents are "
    "excluded from candidate generation (not from verification), so a "
    "boilerplate shingle shared by 10% of the corpus can no longer "
    "make the self-join quadratic — a Jaccard≥0.6 pair shares ~75% of "
    "its shingles, so it still collides on rare ones (recall asserted "
    "against planted pairs in tests). Each document additionally keeps "
    "its keep_rarest globally-rarest shingles REGARDLESS of df, so a "
    "duplicate cluster larger than the cut (where every shared shingle "
    "is hot by virtue of the cluster itself) still collides on its own "
    "rarest shingles instead of silently vanishing. The MinHash twin "
    "q42 replaces this wholesale at 100 TB.",
)
def q46_neardup_jaccard(
    spark: SparkSession,
    sf_dir: str,
    df_cut: int | None = None,
    keep_rarest: int = 10,
) -> DataFrame:
    from .similarity import _shingles, _verify_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    if df_cut is None:
        df_cut = max(5, docs.count() // 1000)
    # the shingle set feeds document frequencies, candidate generation,
    # AND verification — materialize it once instead of re-exploding
    # the corpus for each consumer
    sh = _shingles(docs, n=5).localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Round-17 restructure (guide §2.3/§3.1): the DF cut only needs the
    # HOT shingles (df > cut) — a boilerplate-sized set at any scale —
    # so materialize THAT and anti-join it against the shingle table,
    # instead of the old full sh ⋈ dfreq shuffle join that attached a
    # df to every shingle row just to compare it against the cut. The
    # hot set broadcasts at any corpus size (it is bounded by
    # |corpus| / df_cut ≈ 1000 rows per the cut's own definition), so
    # the big side is never shuffled for the cut decision. df values
    # for the rarest-k window are attached only to NEEDY docs'
    # shingles (a vanishing fraction; empty whenever hot is).
    hot = dfreq.filter(F.col("df") > df_cut).localCheckpoint(eager=True)
    if hot.isEmpty():
        # common at high-entropy corpora (and every test SF): no
        # shingle is hot, the cut excludes nothing and the rarest-k
        # exemption is vacuous — candidates come from the plain
        # inverted-index self-join over the full shingle table.
        # Identical candidate set to the general path by construction
        # (rare == sh, rarest_k_hot == ∅).
        kept = sh
    else:
        hot_keys = F.broadcast(hot.select("shingle"))
        rare = sh.join(hot_keys, "shingle", "left_anti").select(
            "doc_id", "shingle"
        )
        # per-doc rarest-k exemption: without it, a near-identical
        # cluster of > df_cut documents has NO sub-cut shingle (its own
        # size pushes every shared shingle over the cut) and the whole
        # cluster — the highest-value dedup target — would generate
        # zero candidates. Candidates from an exempt shingle are
        # bounded by the true cluster size, i.e. proportional to the
        # output itself, never boilerplate. Cost: only 'needy' docs
        # (fewer than keep_rarest rare shingles) can gain from the
        # exemption — for any other doc the k rarest by (df, shingle)
        # are all rare already — and of a needy doc's top-k only the
        # HOT rows add anything, which also makes the union disjoint
        # by df (no distinct needed). The window therefore sorts a
        # vanishing fraction of the shingle set on ordinary corpora.
        satisfied = (
            rare.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_rare"))
            .filter(F.col("n_rare") >= keep_rarest)
            .select("doc_id")
        )
        needy = sh.join(satisfied, "doc_id", "left_anti").join(dfreq, "shingle")
        per_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
        rarest_k_hot = (
            needy.withColumn("rn", F.row_number().over(per_doc))
            .filter((F.col("rn") <= keep_rarest) & (F.col("df") > df_cut))
            .select("doc_id", "shingle")
        )
        kept = rare.unionAll(rarest_k_hot)
    a = kept.select(F.col("doc_id").alias("da"), "shingle")
    b = kept.select(F.col("doc_id").alias("db"), "shingle")
    cand = (
        a.join(b, ["shingle"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    return _verify_jaccard_pairs(cand, sh)


@register(
    "q47_quality",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
               len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_uniq,
               n_chars
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_uniq AS DOUBLE) / n_tokens, 4) AS uniq_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS avg_token_span
    FROM t
    """,
    doc="X4 quality scoring — token count, type/token ratio, mean token "
    "span: the standard cheap filters of a training-data pipeline, all "
    "single-pass array expressions (no explode, no shuffle at all).",
)
def q47_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        "n_chars",
    )
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_uniq").cast("double") / F.col("n_tokens"), 4).alias("uniq_ratio"),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 4).alias("avg_token_span"),
    )


@register(
    "q48_tokens",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_btokens
    FROM documents
    """,
    doc="X4 BPE-ish token counting — regex token classes (letter runs, "
    "digit runs, single punctuation) via regexp_extract_all; the "
    "pattern uses only character classes so Java and RE2 dialects "
    "agree. Pure map-side, no shuffle.",
)
def q48_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("bigint")
        .alias("n_btokens"),
    )


@register(
    "q49_fingerprint",
    """
    SELECT doc_id, MIN(md5(word)) AS fingerprint
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY doc_id
    """,
    doc="X4 document fingerprinting — 1-permutation MinHash: the minimum "
    "token digest is a locality-sensitive signature (equal fingerprints "
    "⇒ likely-overlapping token sets). md5 because both engines produce "
    "identical lowercase hex (tier-1); production would take k mins of "
    "xxhash64 for a k-band sketch.",
)
def q49_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.encode("word", "UTF-8"))).alias("fingerprint"))
    )


@register(
    "q50_langid",
    """
    WITH t AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS n_stop
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_stop AS BIGINT) AS n_stop,
           CASE WHEN n_stop >= 2 THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM t
    """,
    doc="X4 language-ID heuristic — stopword-marker scoring (the n-gram "
    "profile method degenerates to marker counting on this synthetic "
    "vocabulary; functions/text.py carries the real n-gram profiler "
    "with its own unit tests on natural-language samples). Map-only.",
)
def q50_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_stop = F.size(F.filter(F.split("text", " "), lambda w: w.isin("the", "a")))
    return docs.select(
        "doc_id",
        "lang",
        n_stop.cast("bigint").alias("n_stop"),
        F.when(n_stop >= 2, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


@register(
    "q85_chunk_udtf",
    """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ix AS (SELECT doc_id, w, i
           FROM ws, UNNEST(generate_series(1, len(w))) AS t(i))
    SELECT doc_id,
           CAST((i-1) // 32 AS INTEGER) AS chunk_idx,
           string_agg(w[i], ' ' ORDER BY i) AS chunk,
           CAST(COUNT(*) AS INTEGER) AS n_words
    FROM ix
    GROUP BY doc_id, (i-1) // 32
    """,
    doc="U4 registered Python UDTF — context-window chunking, the "
    "pretraining step that splits each document into fixed 32-word "
    "windows before sequence packing (q77 consumes chunk-shaped "
    "input). Exercises the REAL Spark-4 @udtf surface: per-row "
    "multi-out with computed columns, registered SQL-callable "
    "(engine/catalog.register_functions) and invoked via LATERAL "
    "from a SQL string — not an explode() composition. The UDTF is a "
    "pure generator (O(chunk) memory per row); fan-out happens in the "
    "Python worker inside the normal Arrow batch stream, so the plan "
    "stays map-only — no shuffle at any corpus size. Oracle: DuckDB "
    "reproduces the same single-space word rule with string_split + "
    "ordered string_agg per 32-word bucket.",
)
def q85_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine.catalog import register_functions

    register_functions(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("q85_documents")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM q85_documents d, LATERAL chunk_text(d.text, 32) c
        """
    )


WINNOW_K = 4  # words per k-gram
WINNOW_W = 5  # winnowing window (k-grams per window)


@register(
    "r43_winnowing",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word,
               generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) - 1 AS pos
        FROM documents
    ),
    grams AS (
        SELECT doc_id, pos,
               md5(word || ' ' || lead(word, 1) OVER w || ' '
                        || lead(word, 2) OVER w || ' '
                        || lead(word, 3) OVER w) AS h
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(word, {WINNOW_K - 1}) OVER w IS NOT NULL
    ),
    counted AS (
        SELECT doc_id, pos, h,
               COUNT(*) OVER (PARTITION BY doc_id) AS cnt
        FROM grams
    ),
    sel AS (
        SELECT doc_id, pos, cnt,
               min(struct_pack(h := h, np := -pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS m
        FROM counted
    ),
    fps AS (
        SELECT DISTINCT doc_id, m.h AS fp_hash, -m.np AS fp_pos
        FROM sel
        WHERE pos <= cnt - {WINNOW_W} OR pos = 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           md5(string_agg(fp_hash || ':' || fp_pos, ',' ORDER BY fp_pos))
               AS fp_digest
    FROM fps
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="X4 document fingerprinting — WINNOWING (Schleimer/Wilkerson/"
    "Aiken, the MOSS algorithm): hash every 4-word k-gram, slide a "
    "5-gram window, keep each window's minimum hash with the standard "
    "rightmost tie-break — min(struct(hash, -pos)) makes the "
    "(value, rightmost) rule ONE lexicographic comparison, identical "
    "in Spark and DuckDB. Guarantees: any shared run of w+k-1 words "
    "between two documents shares at least one fingerprint, and "
    "selection density is 2/(w+1) in expectation. Documents shorter "
    "than one full window keep the global minimum (the pos=0 shrunken "
    "frame), so no non-empty gram list selects nothing. The output "
    "pins the ENTIRE selected set per doc (position-ordered digest), "
    "not just counts. Per-doc windows parallelize across the corpus; "
    "the only shuffle is the doc_id group — at 100 TB the fingerprint "
    "inverted index (join on fp_hash, the q46 DF-cut discipline) is "
    "how these feed plagiarism/overlap detection.",
)
def r43_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "pos", "word"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ",
        F.col("word"),
        *[F.lead("word", i).over(w) for i in range(1, WINNOW_K)],
    )
    grams = (
        toks.withColumn("last_word", F.lead("word", WINNOW_K - 1).over(w))
        .withColumn("h", F.md5(F.encode(gram, "UTF-8")))
        .filter(F.col("last_word").isNotNull())
        .select("doc_id", "pos", "h")
    )
    cnt_w = Window.partitionBy("doc_id")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    sel = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(cnt_w))
        .withColumn(
            "m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(frame)
        )
        .filter(
            (F.col("pos") <= F.col("cnt") - WINNOW_W) | (F.col("pos") == 0)
        )
    )
    fps = sel.select(
        "doc_id",
        F.col("m.h").alias("fp_hash"),
        (-F.col("m.np")).alias("fp_pos"),
    ).distinct()
    fp_str = F.concat_ws(
        ":", F.col("fp_hash"), F.col("fp_pos").cast("string")
    )
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("fp_pos"), fp_str.alias("s")))),
        lambda x: x["s"],
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.md5(F.encode(F.concat_ws(",", ordered), "UTF-8")).alias(
                "fp_digest"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "r48_allpairs_jaccard",
    JACCARD_NEARDUP_SQL,
    doc="X2 exact Jaccard self-join via ALLPAIRS PREFIX FILTERING "
    "(Bayardo/Ma/Srikant) — the third candidate generator for the "
    "same relation: q42 (MinHash LSH, probabilistic recall), q46 "
    "(DF-cut inverted index, heuristic recall), r48 (prefix filter, "
    "PROVABLY complete). Shingles order globally by (df, shingle) "
    "rarest-first; each doc indexes only its first n − ⌈0.6·n⌉ + 1 "
    "shingles — any pair with J ≥ 0.6 shares ≥ ⌈0.6·max(|A|,|B|)⌉ "
    "shingles and therefore MUST collide inside the prefixes "
    "(pigeonhole on the shared global order), so the candidate set "
    "provably contains every true pair while indexing ~40% of the "
    "corpus shingle mass, weighted toward rare tokens (hot "
    "boilerplate lands in suffixes, killing the quadratic blowup the "
    "DF cut fights heuristically). ⌈0.6·n⌉ is (6n+9) div 10 — integer "
    "on both engines. Verification reuses the exact "
    "cross-multiplication verifier; oracle = the full exact pair set "
    "(same SQL as q46).",
)
def r48_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _shingles, _verify_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    # feeds document frequencies, prefix selection, AND verification
    sh = _shingles(docs, n=5).localCheckpoint(eager=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    shd = sh.join(dfreq, "shingle")
    order_w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    size_w = Window.partitionBy("doc_id")
    ranked = shd.withColumn("rn", F.row_number().over(order_w)).withColumn(
        "nsh", F.count(F.lit(1)).over(size_w)
    )
    prefix_len = F.col("nsh") - F.expr("(6 * nsh + 9) div 10") + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "shingle"
    )
    a = prefix.select(F.col("doc_id").alias("da"), "shingle")
    b = prefix.select(F.col("doc_id").alias("db"), "shingle")
    cand = (
        a.join(b, ["shingle"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    return _verify_jaccard_pairs(cand, sh)

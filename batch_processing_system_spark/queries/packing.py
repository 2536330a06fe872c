"""Training-set assembly operators (north-star: what sits between a
curated corpus and the trainer): sequence packing, train/eval
contamination detection, deterministic training-order shuffling,
within-document repetition filtering, and domain-mix sampling.

All tier-1 — every random-looking choice is an md5-prefix hash or a
document-id ordering, so DuckDB reproduces the exact output.

Scale posture:
- q77: packing is per-SHARD (doc_id % 8 here; an input split or date
  partition at 100 TB), so the running-offset window partitions by
  shard — no global single-partition sort. Each shard's pack is
  independent, which is exactly how multi-worker tokenizer/packer
  jobs shard in practice.
- q78: inverted-index equi-join on 8-gram → candidate pairs only from
  shared grams, never an all-pairs product (same shape as q46). An
  8-gram that occurs in a large fraction of documents is boilerplate,
  not contamination — at production scale add the q46-style
  document-frequency cut before the join; at test vocabulary size the
  collision rate is ~|doc|/31^8 so the cut is a no-op and omitted to
  keep the oracle 1:1.
- q79: the shuffle key is a per-row digest (map-side, no shuffle to
  compute); ordering is materialized only WITHIN each of 64 buckets,
  so the sort parallelizes and no stage ever sees a global order.
  Readers stream buckets in id order for a reproducible epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.det import pinned_range_prefix
from ..engine.io import load_table
from . import register

PACK_BUDGET = 256  # tokens per packed training sequence
PACK_SHARDS = 8
SHUFFLE_SEED = "shuffle-seed-42:"
SHUFFLE_BUCKETS = 64


@register(
    "q77_seq_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    offs AS (
      SELECT doc_id, shard, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
      FROM toks
    ),
    spans AS (
      SELECT doc_id, shard, n_tok, end_off - n_tok AS start_off, end_off,
             CAST((end_off - n_tok) // {PACK_BUDGET} AS BIGINT) AS seq_first,
             CAST((end_off - 1) // {PACK_BUDGET} AS BIGINT) AS seq_last
      FROM offs
    )
    SELECT shard, CAST(s.seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(least(end_off, (s.seq_id+1)*{PACK_BUDGET})
                - greatest(start_off, s.seq_id*{PACK_BUDGET}) AS BIGINT) AS tok_in_seq
    FROM spans, UNNEST(generate_series(seq_first, seq_last)) AS s(seq_id)
    """,
    doc="Sequence packing (concat-and-chunk, GPT-pretraining style): "
    "documents are laid end-to-end per shard in doc_id order and cut "
    "into fixed 256-token training sequences; a document spanning a "
    "cut contributes a row per sequence it touches, with its token "
    "count inside that sequence. One narrow scan, a per-shard running "
    "sum (window partitioned by shard — never global), and a "
    "generator explode; no Python. This is the op that turns a "
    "curated corpus into trainer input, and the per-shard structure "
    "is what makes it embarrassingly parallel at 100 TB.",
)
def q77_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=PACK_BUDGET, shards=PACK_SHARDS)


def pack_sequences(docs: DataFrame, budget: int, shards: int) -> DataFrame:
    """Concat-and-chunk packing core over a (doc_id, text) frame —
    parametrized for property tests; q77 binds the catalog constants."""
    b = F.lit(budget)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = toks.select(
        "doc_id",
        "shard",
        "n_tok",
        F.sum("n_tok").over(w).alias("end_off"),
    ).select(
        "doc_id",
        "shard",
        (F.col("end_off") - F.col("n_tok")).alias("start_off"),
        "end_off",
    )
    spans = spans.select(
        "doc_id",
        "shard",
        "start_off",
        "end_off",
        F.floor(F.col("start_off") / b).alias("seq_first"),
        F.floor((F.col("end_off") - 1) / b).alias("seq_last"),
    )
    return spans.select(
        "shard",
        F.explode(F.sequence("seq_first", "seq_last")).alias("seq_id"),
        "doc_id",
        "start_off",
        "end_off",
    ).select(
        "shard",
        "seq_id",
        "doc_id",
        (
            F.least(F.col("end_off"), (F.col("seq_id") + 1) * b)
            - F.greatest(F.col("start_off"), F.col("seq_id") * b)
        ).alias("tok_in_seq"),
    )


def distinct_word_ngrams(docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, gram) distinct word n-grams of a (doc_id, text) frame —
    the shared feature extractor of the batch contamination audit (q78)
    and the streaming contamination screen."""
    words = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= n
    )
    idx = F.sequence(F.lit(0), F.size("ws") - n)
    return (
        words.select("doc_id", F.explode(idx).alias("i"), "ws")
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("ws", F.col("i") + k + 1) for k in range(n)]
            ).alias("gram"),
        )
        .distinct()
    )


def screened_grams(
    grams: DataFrame, df_cut: int, keep_rarest: int, doc_col: str = "doc_id"
) -> DataFrame:
    """Hot-gram screen over a (doc, gram) frame: keep a gram for
    matching iff its document frequency is <= ``df_cut`` OR it is among
    the document's ``keep_rarest`` rarest grams (ties broken by gram
    text, so the kept set is deterministic and reproducible in SQL).

    The cut kills boilerplate: one license-header 8-gram present in 10%
    of a real corpus would otherwise fan the gram join out quadratically
    before the groupBy. The per-doc exemption closes the cut's blind
    spot: a document duplicated more than df_cut times has NO sub-cut
    gram (its own copy count makes every gram hot), yet wholesale
    duplication is exactly what a contamination/dedup screen must
    catch — its rarest grams stay matchable, and candidates from an
    exempt gram are bounded by the true duplicate count, i.e. by the
    size of the finding itself.

    Cost shape: two shuffles — a count window keyed by gram (document
    frequency without a groupBy+join round-trip) and a row_number
    window keyed by doc (no skew beyond document length: a doc's gram
    count is bounded by its token count). An earlier formulation split
    rare/needy sides to skip the per-doc window for docs already
    holding keep_rarest rare grams; measured at sf0.1 those extra
    groupBy + anti-join + union stages cost more than the window they
    saved, so this keeps the flat two-window form — the oracle SQL's
    own shape. Skew: a boilerplate gram lands all its rows in one
    window partition, but a groupBy+join formulation shuffles the SAME
    rows to the SAME key for the join-back, so the distribution is
    identical either way — and the screen's whole point is that those
    hot rows are then dropped before any join can amplify them."""
    # Round-17 degenerate branch (the q46 hot-set discipline): when NO
    # gram is hot (df ≤ cut everywhere — every high-entropy corpus and
    # every test SF), the screen's filter passes each row regardless of
    # rn, so kept == grams and BOTH windows (a gram-keyed count window
    # and a doc-keyed sort window over the full gram table) can be
    # skipped for the price of one partial-aggregated df scan. When a
    # hot gram exists, the flat two-window form below runs unchanged —
    # its restructured (rare/needy split) variant was measured SLOWER
    # at sf0.1 and stays rejected; this branch adds only the scan, not
    # the split.
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cut)
        .localCheckpoint(eager=True)
    )
    if hot.isEmpty():
        return grams.select(doc_col, "gram")
    per_gram = Window.partitionBy("gram")
    per_doc = Window.partitionBy(doc_col).orderBy("df", "gram")
    return (
        grams.withColumn("df", F.count(F.lit(1)).over(per_gram))
        .withColumn("rn", F.row_number().over(per_doc))
        .filter((F.col("df") <= df_cut) | (F.col("rn") <= keep_rarest))
        .select(doc_col, "gram")
    )


def contamination_pairs(
    docs: DataFrame,
    eval_mod: int = 10,
    n: int = 8,
    df_cut: int | None = None,
    keep_rarest: int = 20,
) -> DataFrame:
    """Distinct n-gram inverted-index overlap between the train split
    (doc_id % eval_mod != 0) and the eval split (== 0) of ``docs``
    (columns doc_id, text). The eval side is broadcast — at production
    scale the held-out benchmark is always tiny relative to the corpus.
    Train-side grams pass the hot-gram screen (``screened_grams``)
    first, so shared-boilerplate grams count as zero evidence while a
    train doc that wholesale-copies an eval doc stays detectable via
    its exempt rarest grams. n_shared_grams therefore counts shared
    SCREENED grams — distinctive overlap, not boilerplate overlap —
    and the oracle SQL reproduces the screen exactly."""
    # the gram table feeds both splits (and, through the screen, several
    # more consumers); checkpoint once so explode+distinct runs once
    grams = distinct_word_ngrams(docs, n).localCheckpoint(eager=True)
    ev = grams.filter(F.col("doc_id") % eval_mod == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    tr = grams.filter(F.col("doc_id") % eval_mod != 0).select(
        F.col("doc_id").alias("train_doc_id"), "gram"
    )
    if df_cut is None:
        n_train = docs.filter(F.col("doc_id") % eval_mod != 0).count()
        df_cut = max(5, n_train // 1000)
    kept = screened_grams(tr, df_cut, keep_rarest, doc_col="train_doc_id")
    return (
        kept.join(F.broadcast(ev), "gram")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@register(
    "q78_contamination",
    """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]) AS gram
      FROM ws, UNNEST(generate_series(1, len(w)-7)) AS t(i)
      WHERE len(w) >= 8
    ),
    ev AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 <> 0),
    cut AS (SELECT GREATEST(5, COUNT(*) // 1000) AS df_cut
            FROM documents WHERE doc_id % 10 <> 0),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM tr GROUP BY gram),
    trd AS (SELECT tr.doc_id, tr.gram, dfreq.df,
                   row_number() OVER (PARTITION BY tr.doc_id
                                      ORDER BY dfreq.df, tr.gram) AS rn
            FROM tr JOIN dfreq USING (gram)),
    kept AS (SELECT DISTINCT doc_id, gram FROM trd, cut
             WHERE df <= cut.df_cut OR rn <= 20)
    SELECT kept.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
           count(*) AS n_shared_grams
    FROM kept JOIN ev USING (gram)
    GROUP BY 1, 2
    """,
    doc="Train/eval contamination detection — the benchmark-leakage "
    "audit every pretraining corpus needs: distinct 8-gram inverted "
    "index over both splits (eval = doc_id%10==0 stand-in for a held "
    "out benchmark), equi-join on the gram, count shared SCREENED "
    "grams per (train, eval) pair. Train grams pass the hot-gram "
    "screen first (df <= max(5, 0.1% of train docs) OR among the "
    "doc's 20 rarest) — boilerplate 8-grams (license headers, "
    "templates) contribute zero evidence and can't fan the join out "
    "quadratically, while a wholesale eval-doc copy stays detectable "
    "via its exempt rarest grams. The screen is deterministic (ties "
    "by gram text) and reproduced 1:1 in this oracle. Candidates "
    "arise only from shared grams — never all-pairs — and at 100 TB "
    "the eval side is tiny and broadcastable.",
)
def q78_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return contamination_pairs(docs)


@register(
    "q80_repetition",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(w)), i -> concat_ws(' ', w[i], w[i+1])) AS grams
      FROM t WHERE len(w) >= 2
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_uniq,
           ROUND(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4) AS rep_frac,
           (1.0 - len(list_distinct(grams))::DOUBLE / len(grams)) > 0.05 AS repetitive
    FROM g
    """,
    doc="Within-document repetition filter (the Gopher-family quality "
    "rule 'fraction of duplicate n-grams'): duplicate-bigram fraction "
    "per document via JVM higher-order array functions (transform + "
    "array_distinct) — one narrow scan, ZERO shuffles, no explode. "
    "rep_frac is an exact rational of two ints so the double division "
    "is bit-identical across engines. At 100 TB this runs as a "
    "map-only pass fused into the ingest scan.",
)
def q80_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    docs = docs.select("doc_id", ws.alias("w")).filter(F.size("w") >= 2)
    idx = F.sequence(F.lit(0), F.size("w") - 2)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at("w", i + 1), F.element_at("w", i + 2)
        ),
    )
    t = docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_uniq"),
    )
    rep = F.lit(1.0) - F.col("n_uniq").cast("double") / F.col("n_grams")
    return t.select(
        "doc_id",
        "n_grams",
        "n_uniq",
        F.round(rep, 4).alias("rep_frac"),
        (rep > 0.05).alias("repetitive"),
    )


@register(
    "q94_gram_novelty",
    """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]) AS gram
      FROM ws, UNNEST(generate_series(1, len(w)-7)) AS t(i)
      WHERE len(w) >= 8
    ),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
    per AS (
      SELECT g.doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM grams g JOIN dfreq USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           ROUND(CAST(n_novel AS DOUBLE) / n_grams, 4) AS novelty
    FROM per
    """,
    doc="X4 n-gram novelty — per document, the fraction of its "
    "distinct 8-grams that appear NOWHERE else in the corpus: the "
    "corpus-level originality signal that pairwise near-dup misses "
    "(a doc stitched from many sources is near-dup to none of them "
    "but has near-zero novelty). Same inverted-index shape as the "
    "contamination audit (q78): one explode to distinct grams, one "
    "gram-keyed df aggregation, one join back — candidates only from "
    "shared grams, never all-pairs. novelty is an exact int ratio "
    "rounded at 4dp (both engines divide the same two BIGINTs, so "
    "the double is bit-identical before ROUND). Docs under 8 words "
    "have no gram and drop out, matching the oracle's length gate.",
)
def q94_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = distinct_word_ngrams(docs, 8)
    # Round-17 (guide §2.3 — aggregate instead of join): a NOVEL gram
    # (df == 1) has exactly ONE (doc_id, gram) row, so min(doc_id) of
    # its group IS the owning document — the per-doc novel count falls
    # out of the same gram-keyed aggregation that used to only compute
    # df, and the old gram-sized `grams ⋈ dfreq` join (a second full
    # shuffle of the gram table, then a third for the doc rollup)
    # disappears. Two gram-sized partial-aggregated shuffles plus one
    # doc-sized join replace three gram-sized stages; output identical
    # (min over a single-row group is that row, exact integer counts).
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    novel = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0).cast("bigint")).alias("n_novel"),
        F.round(
            F.coalesce("n_novel", F.lit(0).cast("bigint")).cast("double")
            / F.col("n_grams"),
            4,
        ).alias("novelty"),
    )


MIX_SEED = "mix-seed-42:"


@register(
    "q81_domain_mix",
    f"""
    WITH rated AS (
      SELECT doc_id, source,
             CASE WHEN CAST(substr(source, 4) AS BIGINT) < 5 THEN 1.0
                  WHEN CAST(substr(source, 4) AS BIGINT) < 12 THEN 0.5
                  ELSE 0.25 END AS rate,
             ('0x' || substr(md5(concat('{MIX_SEED}', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (u < rate) AS BIGINT) AS n_kept,
           ROUND(CAST(any_value(rate) AS DOUBLE), 4) AS rate
    FROM rated GROUP BY source
    """,
    doc="Domain-mixing sampler — the data-mixture step of a pretraining "
    "pipeline: each source gets a target sampling rate (here a "
    "deterministic 1.0/0.5/0.25 tiering by source index; in production "
    "the rate map comes from the mixture spec) and each document is "
    "kept iff its seeded md5-prefix uniform draw falls under the rate. "
    "Deterministic across runs/engines/partitionings (no rand()), "
    "map-side predicate (zero shuffle before the audit aggregation), "
    "and re-weighting is a seed/rate change — not a data move. Emits "
    "the per-source kept/total audit table.",
)
def q81_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src_idx = F.substring("source", 4, 10).cast("long")
    rate = (
        F.when(src_idx < 5, F.lit(1.0))
        .when(src_idx < 12, F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(MIX_SEED), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") / F.lit(4294967296.0)
    rated = docs.select("doc_id", "source", rate.alias("rate"), u.alias("u"))
    return rated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("u") < F.col("rate"), 1)).alias("n_kept"),
        F.round(F.first("rate"), 4).alias("rate"),
    )


@register(
    "q79_det_shuffle",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(concat('{SHUFFLE_SEED}', CAST(doc_id AS VARCHAR))) AS skey
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, skey,
             ('0x' || substr(skey, 1, 4))::BIGINT % {SHUFFLE_BUCKETS} AS bucket
      FROM keyed
    )
    SELECT bucket, doc_id,
           CAST(row_number() OVER (PARTITION BY bucket
                                   ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM bucketed
    """,
    doc="Deterministic training-order shuffle — seeded md5 digest per "
    "document as the shuffle key, 64 hash buckets from the digest "
    "prefix, position assigned WITHIN each bucket (readers concatenate "
    "buckets 0..63 for the epoch order). Reproducible across runs, "
    "engines, and partitionings — unlike rand() — and the window "
    "partitions by bucket, so no global sort materializes anywhere. "
    "At 100 TB: buckets map to output files; a new epoch is a new "
    "seed string, nothing is re-shuffled on disk.",
)
def q79_det_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", skey.alias("skey")).withColumn(
        "bucket", F.conv(F.substring("skey", 1, 4), 16, 10).cast("long") % SHUFFLE_BUCKETS
    )
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    return keyed.select(
        "bucket", "doc_id", F.row_number().over(w).cast("long").alias("pos")
    )


CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens advanced per chunk (8-token overlap)


@register(
    "r45_overlap_chunks",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS words
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(s AS INT) AS chunk_idx,
               list_slice(words, s * {CHUNK_STRIDE} + 1,
                          s * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS cw
        FROM toks,
             LATERAL unnest(range(0, greatest(
                 (len(words) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                     // {CHUNK_STRIDE},
                 0) + 1)) AS t(s)
        WHERE len(words) > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(len(cw) AS BIGINT) AS n_tokens,
           md5(array_to_string(cw, ' ')) AS chunk_digest
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    doc="X7 retrieval-side chunking — OVERLAPPING sliding windows "
    "(size 32, stride 24, 8-token overlap): the RAG/context-window "
    "twin of q77's pack-and-chunk (training side, no overlap) and "
    "q85's UDTF chunker (Python lane, no overlap). Chunk count per "
    "doc is 1 + ceil(max(n-size, 0)/stride) — the last chunk is "
    "allowed to be short rather than dropping trailing tokens "
    "(conservation: every token appears in ≥1 chunk; overlap means "
    "boundary-spanning facts appear intact in some chunk). Pure "
    "higher-order array expressions (sequence → explode → slice) — "
    "map-side only, ZERO shuffle at any corpus size; the digest pins "
    "exact chunk content, not just counts.",
)
def r45_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    n = F.size("words")
    # number of stride steps AFTER the first chunk: ceil(max(n-size,0)/stride)
    steps = F.ceil(
        F.greatest(n - F.lit(CHUNK_SIZE), F.lit(0)) / F.lit(CHUNK_STRIDE)
    ).cast("int")
    toks = docs.select("doc_id", words.alias("words")).where(F.size("words") > 0)
    chunks = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), steps)).alias("chunk_idx"),
        F.col("words"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(
            "words", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
        ).alias("cw"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("cw").cast("bigint").alias("n_tokens"),
        F.md5(F.encode(F.concat_ws(" ", "cw"), "UTF-8")).alias("chunk_digest"),
    ).orderBy("doc_id", "chunk_idx")


NEG_SEED = "neg-v1:"
NEG_K = 2  # negative partners per document
_NEG_PARTS = 16


@register(
    "r53_negative_pairs",
    f"""
    WITH ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rnk
        FROM documents),
    n AS (SELECT COUNT(*) AS n FROM ranked),
    cand AS (
        SELECT doc_id, rnk, k,
               ('0x' || substr(md5('{NEG_SEED}' || CAST(doc_id AS VARCHAR)
                                   || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
                   % (n.n - 1) AS draw
        FROM ranked, n, LATERAL unnest(range(0, {NEG_K})) AS t(k)),
    paired AS (
        SELECT doc_id, CAST(k AS INT) AS neg_idx,
               CASE WHEN draw >= rnk THEN draw + 1 ELSE draw END AS pr
        FROM cand)
    SELECT p.doc_id, p.neg_idx, r.doc_id AS partner_id
    FROM paired p JOIN ranked r ON r.rnk = p.pr
    ORDER BY p.doc_id, p.neg_idx
    """,
    doc="Deterministic negative-pair sampling for contrastive "
    "training — every document draws K pseudo-random partner "
    "documents from a seeded md5 uniform (the q79/q81 digest "
    "discipline: reproducible across runs, engines, partitionings; "
    "a new epoch is a new seed string, zero data movement). "
    "Self-pairing is excluded EXACTLY by the classic shift trick: "
    "draw from [0, n-2], bump by one at-or-above the doc's own rank "
    "— uniform over the other n-1 documents, no rejection loop. The "
    "dense rank comes from the pinned-pid distributed ECDF (no "
    "single-partition window; doc_id contiguity is NOT assumed), and "
    "the partner lookup is one equi-join on the rank key. At 100 TB: "
    "two key exchanges (rank build, partner join) and a 2× fan-out — "
    "the shape contrastive-dataset builders actually need.",
)
def r53_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    parts = pinned_range_prefix(
        docs, _NEG_PARTS, ["doc_id"], {"c": F.count(F.lit(1))}
    )
    w = Window.partitionBy("pid").orderBy("doc_id")
    ranked = parts.select(
        "doc_id",
        (F.row_number().over(w) + F.col("c_before") - 1).alias("rnk"),
        F.col("c_total").alias("n"),
    )
    cand = ranked.select(
        "doc_id",
        "rnk",
        "n",
        F.explode(F.array(*[F.lit(k) for k in range(NEG_K)])).alias("k"),
    )
    digest = F.md5(
        F.concat(
            F.lit(NEG_SEED),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("k").cast("string"),
        )
    )
    n = F.col("n")
    # a one-document corpus has no partner: `% 0` is NULL and the
    # partner join drops the row, as in the oracle (ANSI `%` would raise)
    draw = F.try_mod(F.conv(F.substring(digest, 1, 8), 16, 10).cast("long"), n - 1)
    paired = cand.select(
        "doc_id",
        F.col("k").cast("int").alias("neg_idx"),
        F.when(draw >= F.col("rnk"), draw + 1).otherwise(draw).alias("pr"),
    )
    partners = ranked.select(
        F.col("doc_id").alias("partner_id"), F.col("rnk").alias("pr")
    )
    return (
        paired.join(partners, "pr")
        .select("doc_id", "neg_idx", "partner_id")
        .orderBy("doc_id", "neg_idx")
    )

"""Similarity search & near-duplicate detection (SURVEY §2.3 X2/X3;
north-star families "dedup" and "similarity search").

q42 (MinHash band candidates + exact verification) and q43 (exact
cosine top-k) are tier-1 hash-checked; the rest are tier-2
(rows-only): raw LSH bucketing and float accumulation are not
hash-comparable across engines (SURVEY §2.5 D7, §7 H5), but every
query here is internally deterministic — seeds fixed, ties broken on
ids — so reruns are stable.

Scale posture per query:
- MinHash (minhash_bands, the one family q42 and the streaming
  near-dup sinks share) / BucketedRandomProjectionLSH: candidate
  generation is a band-bucket equi-join — shuffle on bucket keys,
  never O(n²).
- SimHash: 64-bit fingerprints + 4×16-bit band join; candidate pairs
  verified by popcount(xor) — pure JVM bit ops.
- Exact brute-force variants exist as correctness baselines; each
  docstring names its 100 TB replacement.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.io import load_table
from . import register
from .text import JACCARD_NEARDUP_SQL

SEED = 42


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + distinct n-word shingles (the dedup feature space —
    word sequences, not word sets: the 31-word synthetic vocabulary
    makes bag-of-words features collide everywhere)."""
    words = docs.select("doc_id", F.split("text", " ").alias("ws"))
    # a doc with fewer than n words has no n-shingle; without this
    # guard sequence(0, negative) DESCENDS and element_at goes out of
    # bounds (only reachable via short ingest docs — the synthetic
    # corpus is always longer)
    words = words.where(F.size("ws") >= n)
    idx = F.sequence(F.lit(0), F.size("ws") - n)
    return (
        words.select("doc_id", F.explode(idx).alias("i"), "ws")
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("ws", F.col("i") + k + 1) for k in range(n)]
            ).alias("shingle"),
        )
        .distinct()
    )


def _verify_jaccard_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-verify candidate pairs against the FULL shingle sets.

    ``cand``: (da, db) candidate doc-id pairs (da < db), from any
    candidate generator (MinHash banding, DF-cut inverted index, ...).
    ``sh``: (doc_id, shingle) distinct shingle table for the corpus.

    Returns (doc_id_a, doc_id_b, n_common) for pairs with exact
    Jaccard >= 0.6, decided by integer cross-multiplication (§2.5 D7).
    Cost is bounded by the candidate set: each join fans out only over
    the candidates' shingles, never all-pairs.
    """
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    na = n.select(F.col("doc_id").alias("da"), F.col("nsh").alias("nsh_a"))
    nb = n.select(F.col("doc_id").alias("db"), F.col("nsh").alias("nsh_b"))
    # Length prefilter (round-17, guide §3.2 shape — prune the big
    # side BEFORE the expensive join): J ≥ 0.6 forces the shingle
    # counts to agree within the threshold ratio — J ≤ |A∩B|/|A∪B| ≤
    # min(|A|,|B|)/max(|A|,|B|), so any true pair satisfies
    # 10·min(nsh) ≥ 6·max(nsh). Attaching the (doc-count-sized) size
    # table to the candidates FIRST and dropping length-incompatible
    # pairs shrinks the input of the shingle-intersection join — the
    # verifier's dominant cost — while provably never dropping a pair
    # the final predicate would keep (the condition is necessary, in
    # exact integer cross-multiplication). Sizes ride the groupBy keys
    # (functionally dependent on da/db), so the old post-join against
    # na/nb disappears instead of moving.
    sized = (
        cand.join(na, "da")
        .join(nb, "db")
        .filter(
            10 * F.least("nsh_a", "nsh_b") >= 6 * F.greatest("nsh_a", "nsh_b")
        )
    )
    sh_a = sh.select(F.col("doc_id").alias("da"), F.col("shingle").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("db_"), F.col("shingle").alias("sh_b"))
    # composite equi-join (db, shingle) — joining on db alone and
    # filtering shingle equality afterwards would fan each candidate
    # pair out to |sh_a| x |sh_b| rows before filtering
    inter = (
        sized.join(sh_a, "da")
        .join(sh_b, (F.col("db") == F.col("db_")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("da", "db", "nsh_a", "nsh_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.filter(
            10 * F.col("n_common")
            >= 6 * (F.col("nsh_a") + F.col("nsh_b") - F.col("n_common"))
        )
        .select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            "n_common",
        )
    )


#: The package's one MinHash family: 16 seeded affine hashes over a
#: 31-bit Mersenne prime, applied to murmur3 shingle hashes. Drawn from
#: SEED alone at import, so every query, micro-batch and process gets
#: the SAME family and the band stores streaming/neardup.py and
#: streaming/curation.py persist stay joinable forever; the products
#: stay inside int64 (a < 2^29, x < 2^31 → a·x+b < 2^60).
_MINHASH_BANDS = 16
_MINHASH_P = (1 << 31) - 1
_MINHASH_RND = random.Random(SEED)
_MINHASH_COEFFS = [
    (_MINHASH_RND.randrange(1, 1 << 29), _MINHASH_RND.randrange(0, 1 << 29))
    for _ in range(_MINHASH_BANDS)
]


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, h) MinHash band rows over a (doc_id, shingle)
    table — 16 single-hash bands as pure JVM expressions: murmur3 the
    shingle, apply the seeded affine family, min per doc, explode to
    band rows. One shuffle (the per-doc min), whole-stage codegen end
    to end, no ML pipeline fit. A pair at Jaccard J shares no band
    with probability (1−J)^16 (≈ 4·10⁻⁷ at the J = 0.6 threshold).
    Docs with no shingle produce no rows."""
    x = F.hash("shingle").cast("long").bitwiseAND(F.lit(0x7FFFFFFF))
    mins = (
        sh.select("doc_id", x.alias("x"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
                    f"h{i}"
                )
                for i, (a, b) in enumerate(_MINHASH_COEFFS)
            ]
        )
    )
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(_MINHASH_BANDS)])
        ).alias("band", "h"),
    )


def _band_self_join(bands: DataFrame) -> DataFrame:
    """(da, db) distinct candidate pairs (da < db) from a minhash_bands
    table — the bucket equi-join; shuffle keyed on (band, h), never
    O(n²) plan-side."""
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


@register(
    "q42",
    # oracle: same ground truth as the exact inverted-index twin (q46) —
    # MinHash bands generate candidates, exact verification decides
    # membership, so the output must equal the full exact-Jaccard pair set.
    JACCARD_NEARDUP_SQL,
    doc="X2 MinHash near-dup — 5-word shingles → minhash_bands (16 "
    "seeded single-hash bands as JVM expressions: murmur3, affine "
    "family, per-doc min) → band self-join candidates keyed on "
    "(band, h), then EXACT Jaccard ≥ 0.6 verification on the candidate "
    "set only (_verify_jaccard_pairs). The streaming near-dup and "
    "curation sinks use the same band kernel, so batch and stream share "
    "one hash family. Seeded (H5). This is the 100 TB near-dup pipeline "
    "shape: candidates from bucket equi-joins (never O(n²)), exact "
    "verification bounded by the candidate count. Oracle = the full "
    "exact pair set (q46's SQL). Recall is probabilistic BY DESIGN: a "
    "pair at Jaccard s shares none of the 16 bands with P=(1-s)^16, so "
    "a worst-case just-at-threshold pair (s=0.6) is missed with "
    "P=4.3e-7, and a typical near-dup (s≥0.8) with P≤6.6e-12 — "
    "per-pair odds small enough that the exact-oracle check holds for "
    "any plausible dataset, but on adversarial data with millions of "
    "exactly-at-threshold pairs the check is dataset-conditional, not "
    "unconditional; q46 is the deterministic twin. Measured recall "
    "here: 100% at sf0.01/sf0.1.",
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # deliberately NOT checkpointed (round-16 measurement): exchange
    # reuse already dedups the shingle pipeline inside each job, and
    # materializing the 250k-row shingle table costs more than the one
    # narrow recompute it saves (2.2 s vs 2.7 s warm at sf0.1 — the
    # same trade connected_components documented in r6)
    sh = _shingles(docs, n=5)
    return _verify_jaccard_pairs(_band_self_join(minhash_bands(sh)), sh)


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    # bounded-collect: unique-key filter, destructuring asserts exactly 1 row
    [row] = emb.filter(F.col("vec_id") == vec_id).select("embedding").collect()
    return [float(x) for x in row["embedding"]]


def _cosine(vec_col, qvec: list[float]):
    """cos(embedding, q) as pure higher-order-function expressions —
    JVM-side, no UDF: zip_with for the dot product, aggregate for the
    fold (SURVEY §2.3 C5)."""
    q = F.array(*[F.lit(x) for x in qvec])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    norm_q = float(sum(x * x for x in qvec)) ** 0.5
    return dot / (norm_v * F.lit(norm_q))


@register(
    "q43",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(e.embedding)+1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS dot,
             sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nv,
             sqrt(list_sum(list_transform(q.qe,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nq
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(dot/(nv*nq), 4) AS cos_sim
    FROM s ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    """,
    doc="X3 exact top-k vector similarity — brute-force cosine of every "
    "vector vs the query (vec_id=0), TakeOrderedAndProject top-5 with "
    "vec_id tiebreak. The correctness baseline: one scan, no shuffle "
    "except the final top-k merge; at 100 TB the IVF/LSH variant "
    "(q53_ann_lsh) prunes the scan to candidate buckets. Tier-1: both "
    "engines fold the dot product sequentially in double, and the "
    "sf0.01 top-5 margins to the 4dp rounding boundary (≥4e-5) dwarf "
    "double noise (~1e-15), so ROUND(...,4) hashes identically.",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir, 0)
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(_cosine(F.col("embedding"), qvec), 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "q53_ann_lsh",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(e.embedding)+1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS dot,
             sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nv,
             sqrt(list_sum(list_transform(q.qe,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nq
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(sqrt(2 - 2*dot/(nv*nq)), 4) AS euclid_dist
    FROM s ORDER BY euclid_dist ASC, vec_id ASC LIMIT 5
    """,
    doc="X3 approximate nearest neighbors — unit-normalize, then "
    "BucketedRandomProjectionLSH.approxNearestNeighbors: euclidean on "
    "the unit sphere is monotone in cosine (d² = 2−2cos), so bucket "
    "pruning answers cosine top-k. Seeded. This is the 100 TB path: "
    "the scan touches only hash-colliding buckets. The oracle is the "
    "EXACT top-5 (sqrt(2−2cos) of the brute-force cosine): at "
    "numHashTables=16 the union of candidate buckets contains the "
    "true top-5 at every test SF (measured; the margin between rank-5 "
    "and rank-6 distances dwarfs 4dp rounding). As with q42 the "
    "recall guarantee is probabilistic — each extra table multiplies "
    "the chance a true neighbor shares no bucket by an independent "
    "<1 factor — so the exact-oracle check is dataset-conditional in "
    "principle; q43 is the deterministic brute-force twin.",
)
def q53_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    unit = Normalizer(inputCol="raw", outputCol="unit", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="unit", outputCol="hashes", bucketLength=0.5, numHashTables=16, seed=SEED
    )
    model = lsh.fit(unit)
    qvec = _query_vector(spark, sf_dir, 0)
    norm = sum(x * x for x in qvec) ** 0.5
    key = Vectors.dense([x / norm for x in qvec])
    ann = model.approxNearestNeighbors(unit.filter(F.col("vec_id") != 0), key, 5)
    return ann.select("vec_id", F.round("distCol", 4).alias("euclid_dist"))


def _shingle_hash64(s):
    """Deterministic 64-bit feature hash: the first 16 hex chars of
    md5(s), assembled from two 32-bit halves (conv() parses at most a
    signed range safely; 8 hex chars always fit a long). Bit-identical
    to DuckDB's ('0x' || substr(md5(s),1,16))::UBIGINT reinterpreted
    as a signed 64-bit pattern — which is what makes q51 tier-1.
    Production swap: F.xxhash64(s) (same type, ~2x faster, loses the
    cross-engine oracle)."""
    hex_ = F.md5(s)
    hi = F.conv(F.substring(hex_, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex_, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


@register(
    "q51_simhash",
    """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
      FROM ws, UNNEST(generate_series(1, len(w)-2)) AS t(i)
      WHERE len(w) >= 3
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 16))::UBIGINT AS h
      FROM sh
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, UNNEST(generate_series(0, 63)) AS t(b)
      GROUP BY doc_id, b
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)::UBIGINT
               AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, i AS band, (simhash >> (16*i)) & 65535 AS val
      FROM fp, UNNEST(generate_series(0, 3)) AS t(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b, hamming FROM cand WHERE hamming <= 6
    """,
    doc="X2 SimHash near-dup — 64-bit fingerprint per doc "
    "(sign-aggregated hash bits over 3-gram shingles, all JVM bit "
    "ops), then 4×16-bit band self-join for candidates and "
    "popcount(xor) ≤ 6 verification. Banding makes candidate generation "
    "an equi-join: no O(n²) anywhere, shuffle keyed on (band, value). "
    "Tier-1: the per-shingle 64-bit value is the first 16 hex chars of "
    "md5 — bit-identical in Spark (conv/shiftleft) and DuckDB (hex "
    "cast), so the whole fingerprint/band/verify dataflow is exactly "
    "reproducible in SQL. md5 costs ~2x xxhash64 per shingle; at "
    "production scale swap `_shingle_hash64` for xxhash64 — every "
    "downstream op is hash-agnostic.",
)
def q51_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # multiset shingles (no distinct): SimHash weights features by
    # occurrence anyway, and skipping the dedup saves a full shuffle —
    # the vote aggregation below is the only wide stage before banding.
    words = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 3
    )
    idx = F.sequence(F.lit(0), F.size("ws") - 3)
    sh = words.select("doc_id", F.explode(idx).alias("i"), "ws").select(
        "doc_id",
        F.concat_ws(
            " ", *[F.element_at("ws", F.col("i") + k + 1) for k in range(3)]
        ).alias("shingle"),
    ).withColumn("h", _shingle_hash64(F.col("shingle")))
    # Packed per-bit vote aggregation (round-17, guide §2.3 narrower
    # types / VERDICT r16 item 5): instead of 64 separate ±1 vote sums
    # per row, pack bit-counts into 32 longs of two 32-bit lanes each —
    # (h >> j) & 0x0000000100000001 drops bits j and j+32 into disjoint
    # lanes, and summing the packed longs adds the lanes independently.
    # Halves the per-row aggregation work (32 shift/AND/sum-updates vs
    # 64 with a branch each). Overflow-safety is PROVABLE, not assumed:
    # a lane overflows only past 2³² shingles in one document, and a
    # Spark string column is capped at 2 GiB ⇒ < 2³¹ words ⇒ < 2³¹
    # 3-shingles per doc. Sign-of-vote ⟺ 2·ones > n (vote = 2·ones − n),
    # so the fingerprint is bit-identical to the ±1 formulation
    # (asserted by exceptAll in both directions at sf0.1).
    _LANES32 = 0x0000000100000001
    votes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftrightunsigned("h", j).bitwiseAND(F.lit(_LANES32))
            ).alias(f"p{j}")
            for j in range(32)
        ],
    )
    fp = None
    for b in range(64):
        ones = F.shiftrightunsigned(
            F.col(f"p{b % 32}"), 32 * (b // 32)
        ).bitwiseAND(F.lit(0xFFFFFFFF))
        bit = (
            F.when(2 * ones > F.col("n"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR == +
    fps = votes.select("doc_id", fp.alias("simhash"))

    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 6)


# Broadcast budget for the exact cosine-near-dup path: the normalized
# float64 matrix must fit comfortably on the driver AND in every
# executor; past this, the blocked all-pairs grid takes over
# automatically. 8 MB (≈16k × 64-dim vectors): measured at 20k
# vectors (sf1), the grid route finishes in 6.8 s vs the broadcast
# route's 35.1 s with identical pair sets — the broadcast lane only
# wins while the corpus is small enough that its zero-shuffle plan
# beats the grid's n·B row replication.
COSINE_BROADCAST_BUDGET_BYTES = 8 << 20


# Exact cosine>=0.45 pair set over the embeddings table — q54's oracle,
# and the pair-graph input to q87's semantic-dedup components oracle.
COSINE_NEARDUP_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             list_sum(list_transform(range(1, len(a.embedding)+1),
                      i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
               / (a.nrm*b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, ROUND(cos, 4) AS cos_sim
    FROM p WHERE cos >= 0.45
    """


def _cosine_pairs_blocked(
    emb: DataFrame, threshold: float, n: int, dim: int, budget: int
) -> DataFrame:
    """Beyond-broadcast-budget EXACT cosine pairs: the distributed
    blocked all-pairs grid. Rows hash into B blocks; every unordered
    block pair (a ≤ b) is one grid cell; each row is replicated to
    its B cells (tagged side A/B/S), and an Arrow-batched
    applyInPandas multiplies the two blocks per cell with numpy BLAS.

    Why this — and not LSH — is the default fallback: at a LOW
    threshold on an unclustered corpus the matching pairs are barely
    closer than random pairs (cos 0.45 vs E[cos]=0 ± 1/√d), so NO
    bucketing scheme has pruning power and BRP-LSH degenerates to
    all-pairs THROUGH the approxSimilarityJoin shuffle machinery —
    measured slower than the dense route at 20k vectors. The blocked
    grid keeps the O(n²) work explicit but distributed: per-task
    memory is 2·(n/B)·d·8 ≤ budget by the choice of B, shuffle
    volume is n·B rows (the standard replication/memory trade), no
    driver state of any size. Every unordered pair is computed in
    exactly ONE cell (i<j inside diagonal cells; cross-product in
    off-diagonal cells), so no distinct() is needed and numeric
    results are bit-identical to the broadcast route (same BLAS, same
    round). For HIGH-threshold clustered corpora, where bucketing does
    prune, _cosine_pairs_ivf is the candidate route."""
    import math

    import numpy as np
    import pandas as pd

    # B blocks such that one cell's two blocks fit the budget; capped
    # at 128 (replication factor = B is the cost of smaller cells —
    # past the cap, raise the budget or shard the corpus first)
    nblocks = max(2, min(128, math.ceil(2 * n * dim * 8 / budget)))
    blk = F.pmod(F.hash("vec_id"), F.lit(nblocks))
    cells = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(j)).alias("ca"),
                F.greatest(blk, F.lit(j)).alias("cb"),
                F.when(blk == j, F.lit("S"))
                .when(blk < j, F.lit("A"))
                .otherwise(F.lit("B"))
                .alias("side"),
            )
            for j in range(nblocks)
        ]
    )
    routed = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .select("vec_id", "e", F.explode(cells).alias("c"))
        .select("vec_id", "e", "c.ca", "c.cb", "c.side")
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        def prep(frame):
            ids = frame["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack(frame["e"].map(np.asarray, na_action=None)).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            return ids, m
        out = []
        empty = pd.DataFrame(
            {"vec_id_a": pd.Series(dtype="int64"),
             "vec_id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if pdf.empty:
            return empty
        if (pdf["side"] == "S").any():  # diagonal cell: one block, i<j
            ids, m = prep(pdf)
            sims = m @ m.T
            ii, jj = np.nonzero(sims >= threshold)
            for i, j in zip(ii, jj):
                a, b = int(ids[i]), int(ids[j])
                if a < b:
                    out.append((a, b, round(float(sims[i, j]), 4)))
        else:  # off-diagonal: A-block rows x B-block rows
            a_rows = pdf[pdf["side"] == "A"]
            b_rows = pdf[pdf["side"] == "B"]
            if a_rows.empty or b_rows.empty:  # a hash-empty block
                return empty
            a_ids, a_m = prep(a_rows)
            b_ids, b_m = prep(b_rows)
            sims = a_m @ b_m.T
            ii, jj = np.nonzero(sims >= threshold)
            for i, j in zip(ii, jj):
                a, b = int(a_ids[i]), int(b_ids[j])
                out.append((min(a, b), max(a, b), round(float(sims[i, j]), 4)))
        return pd.DataFrame(out, columns=["vec_id_a", "vec_id_b", "cos_sim"])

    return routed.groupBy("ca", "cb").applyInPandas(
        cell, "vec_id_a bigint, vec_id_b bigint, cos_sim double"
    )


def _cosine_pairs_ivf(
    emb: DataFrame,
    threshold: float,
    k: int | None = None,
    nprobe: int = 2,
    sample_rows: int = 20_000,
    seed: int = SEED,
) -> DataFrame:
    """Clustered-corpus candidate route for HIGH-threshold cosine
    pairs: IVF coarse quantization (the q86 shape, extended from
    query-time to pair generation). Centroids come from a bounded
    driver-side k-means on a deterministic sample; every vector is
    assigned to its ``nprobe`` nearest centroids (multi-probe covers
    pairs straddling a cell boundary); candidates are within-cell
    pairs, verified EXACT per cell with numpy BLAS and deduped.

    Why not BRP-LSH: Spark's BucketedRandomProjectionLSH projects
    64-dim unit vectors to N(0, 1/64) scalars (σ=0.125), so at ANY
    usable bucketLength nearly all vectors share a handful of buckets
    per table and OR-amplification across tables makes ~every pair a
    candidate — measured no pruning at τ=0.45 AND none at τ=0.9. IVF
    prunes by the corpus's own cluster structure instead, which is
    exactly the regime where a high threshold is meaningful.

    RECALL IS MEASURED, NOT GUARANTEED (same contract as the old LSH
    lane): tests compare against the exact blocked grid on a
    clustered corpus; a production corpus should re-probe recall.
    Scale: centroids are k×d (driver + broadcast, bounded); the only
    shuffle is groupBy(cell); per-cell memory ~ (n·nprobe/k)·d·8 —
    pick k ≈ n/2000."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    samp = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .orderBy(F.md5(F.concat(F.lit(seed), F.col("vec_id").cast("string"))))
        .limit(sample_rows)
        # bounded-collect: deterministic centroid-training sample,
        # capped at sample_rows regardless of corpus size
        .collect()
    )
    mat = np.array([r["e"] for r in samp], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n_s = len(mat)
    kk = k or max(4, n_s // 200)
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(n_s, size=min(kk, n_s), replace=False)]
    for _ in range(5):  # Lloyd on the sample, spherical update
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
    b_cent = spark.sparkContext.broadcast(cent)

    def assign_cells(batches):
        c = b_cent.value
        for pdf in batches:
            m = np.stack(pdf["e"].map(np.asarray, na_action=None)).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ c.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            # vectorized (vec_id, cell) expansion — np.repeat/ravel,
            # no per-row Python loop (VERDICT r7 nit): row i fans out
            # to its nprobe probe cells, each carrying the unit vector
            kp = top.shape[1]
            ridx = np.repeat(np.arange(len(pdf)), kp)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(np.int64), kp
                    ),
                    "cell": top.ravel().astype(np.int32),
                    "u": list(m[ridx]),
                }
            )

    cells = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).mapInPandas(assign_cells, "vec_id bigint, cell int, u array<double>")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.stack(pdf["u"].map(np.asarray, na_action=None))
        sims = m @ m.T
        ii, jj = np.nonzero(sims >= threshold)
        out = [
            (int(ids[i]), int(ids[j]), round(float(sims[i, j]), 4))
            for i, j in zip(ii, jj)
            if ids[i] < ids[j]
        ]
        return pd.DataFrame(out, columns=["vec_id_a", "vec_id_b", "cos_sim"])

    return (
        cells.groupBy("cell")
        .applyInPandas(cell_pairs, "vec_id_a bigint, vec_id_b bigint, cos_sim double")
        # a pair can co-occur in up to nprobe² shared cells
        .distinct()
    )


@register(
    "r68_neardup_ivf",
    None,  # tier-2 by design: IVF recall is measured (tests/test_ivf_pairs.py
    # pins it against the exact blocked grid on a clustered corpus), not
    # SQL-expressible as an exact oracle — same contract as r09/r56.
    doc="X3/X2 high-threshold cosine pair generation through the IVF "
    "candidate route (_cosine_pairs_ivf), registered so the bench "
    "tracks the route's wall-clock per round (VERDICT r7 item 5): "
    "sampled spherical k-means centroids (bounded driver-side, "
    "deterministic seed), nprobe=2 multi-probe assignment via a "
    "vectorized mapInPandas, within-cell exact verification with "
    "numpy BLAS, distinct across shared cells. τ=0.8 is the regime "
    "this route exists for — on the driver's uniform-sphere corpus "
    "it is IVF's worst case (no cluster structure to prune on) and "
    "yields zero pairs (max random-sphere cosine ≪ 0.8), which is "
    "fine: the tracked number is the route's wall-clock, and its "
    "compute (assignment + within-cell verification) is "
    "threshold-independent. At 100 TB: the only shuffle is "
    "groupBy(cell); per-cell memory ~ (n·nprobe/k)·d·8.",
)
def r68_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _cosine_pairs_ivf(emb, 0.8)
    return pairs.select(
        "vec_id_a", "vec_id_b", "cos_sim"
    ).orderBy("vec_id_a", "vec_id_b")


def _clustered_twin(emb: DataFrame) -> DataFrame:
    """Deterministically re-shape an embeddings table into the
    ``tools/make_sf.py --clustered-emb`` corpus: n/10 near-dup clusters
    of 10 members at cos ≈ 0.9 to their center. Every value is a pure
    function of ``vec_id`` (per-row seeded Generators), so the twin is
    identical under any partitioning, row order, or executor count —
    the determinism rule every tier-2 rows-only check depends on."""
    import numpy as np
    import pandas as pd

    n = emb.count()
    n_clu = max(1, n // 10)

    def derive(batches):
        # centers are shared by all ~10 members of a cluster: derive
        # each UNIQUE center once per batch (VERDICT r10 nit — the
        # per-row loop built two Generators per row; values unchanged,
        # the per-vid noise Generator is the per-row determinism
        # anchor and stays)
        centers: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            out = np.empty((len(ids), 64), dtype=np.float64)
            for i, vid in enumerate(ids):
                cid = int(vid) % n_clu
                center = centers.get(cid)
                if center is None:
                    center = np.random.default_rng(
                        1_000_003 + cid
                    ).standard_normal(64)
                    center /= np.linalg.norm(center)
                    centers[cid] = center
                noise = np.random.default_rng(2_000_003 + int(vid)).standard_normal(64)
                out[i] = center + 0.042 * noise
            out /= np.linalg.norm(out, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(out.astype(np.float32))}
            )

    return emb.select("vec_id").mapInPandas(
        derive, "vec_id bigint, embedding array<float>"
    )


@register(
    "r69_neardup_ivf_clustered",
    None,  # tier-2 by design, same contract as r68: IVF recall is
    # pytest-pinned against the exact blocked grid on THIS corpus shape
    # (tests/test_ivf_pairs.py::TestClusteredTwinRoute), not
    # SQL-expressible as an exact oracle.
    doc="X3/X2 IVF cosine-pair generation benched in its DESIGN regime "
    "(VERDICT r9 item 4): the driver's uniform-sphere embeddings are "
    "IVF's worst case (nothing to prune, zero pairs at any high τ), "
    "so r68's tracked number measures route overhead only. This row "
    "derives a deterministic clustered twin of the same table "
    "(n/10 clusters of 10 at cos ≈ 0.9 — the make_sf --clustered-emb "
    "shape, i.e. what a REAL near-dup corpus looks like) and runs the "
    "same _cosine_pairs_ivf route at τ=0.85 with k sized to ~5 "
    "clusters per cell. The tracked number therefore exercises "
    "centroid training, multi-probe assignment, per-cell exact "
    "verification AND pruning on a corpus where pairs exist; recall "
    "vs the exact blocked grid at this shape is pinned by pytest "
    "(≥0.9 measured; emitted pairs are exact-verified so precision "
    "is 1.0 by construction). At 100 TB: only shuffle is "
    "groupBy(cell); per-cell memory ~ (n·nprobe/k)·d·8.",
)
def r69_neardup_ivf_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    twin = _clustered_twin(emb)
    n = emb.count()
    pairs = _cosine_pairs_ivf(twin, 0.85, k=max(16, n // 50), nprobe=2)
    return pairs.select(
        "vec_id_a", "vec_id_b", "cos_sim"
    ).orderBy("vec_id_a", "vec_id_b")


@register(
    "q54_cosine_neardup",
    COSINE_NEARDUP_SQL,
    doc="X2 embedding-cosine near-dup pairs (cos ≥ 0.45), exact, via a "
    "broadcast matrix + Arrow-batched mapInPandas: each partition "
    "multiplies its rows against the full normalized matrix (numpy "
    "BLAS), emitting id_a < id_b pairs. O(n²/partitions) compute with "
    "no shuffle. The driver-side materialization is CAPPED: the input "
    "is counted first and if the matrix would exceed "
    "COSINE_BROADCAST_BUDGET_BYTES the function routes to "
    "_cosine_pairs_blocked (distributed all-pairs grid: bounded "
    "per-task memory, no driver state, bit-identical results) — no "
    "unbounded collect() on any input size, and no reliance on LSH "
    "pruning that a low threshold on an unclustered corpus does not "
    "provide (measured: BRP-LSH at tau=0.45 degenerates to all-pairs "
    "through the approxSimilarityJoin machinery and loses to the "
    "dense route). Tier-1: at "
    "sf0.01 every pair's cosine sits ≥5.5e-4 from the 0.45 threshold "
    "and ≥2.4e-6 from its 4dp rounding boundary (measured), so the "
    "numpy and DuckDB float paths (both double) agree bit-for-bit "
    "after ROUND(...,4). Both routes are exact: tests force the "
    "blocked route via the budget param and require the broadcast "
    "route's pair set.",
)
def q54_cosine_neardup(
    spark: SparkSession, sf_dir: str, broadcast_budget_bytes: int | None = None
) -> DataFrame:
    import numpy as np
    import pandas as pd

    budget = broadcast_budget_bytes or COSINE_BROADCAST_BUDGET_BYTES
    emb = load_table(spark, sf_dir, "embeddings")
    # single metadata pass decides the route (count + dim together)
    meta = emb.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size("embedding")).alias("d")
    ).head()
    n = int(meta["n"])
    dim = int(meta["d"]) if meta["d"] is not None else 0
    if n * dim * 8 > budget:
        return _cosine_pairs_blocked(emb, 0.45, n, dim, budget)

    # bounded-collect: n*dim*8 <= budget was asserted above
    rows = emb.select("vec_id", "embedding").collect()
    assert len(rows) == n, "embeddings changed size between count and collect"
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def block_sims(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            block = np.stack(pdf["embedding"].map(np.asarray, na_action=None)).astype(np.float64)
            block = block / np.linalg.norm(block, axis=1, keepdims=True)
            blk_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sims = block @ all_mat.T
            # fully vectorized hit extraction (one nonzero over the
            # whole block beats a per-row Python loop by ~5× at 20k)
            ii, jj = np.nonzero(
                (sims >= 0.45) & (all_ids[None, :] > blk_ids[:, None])
            )
            rows_out = [
                (int(blk_ids[i]), int(all_ids[j]), round(float(sims[i, j]), 4))
                for i, j in zip(ii, jj)
            ]
            yield pd.DataFrame(rows_out, columns=["vec_id_a", "vec_id_b", "cos_sim"])

    return emb.select("vec_id", "embedding").mapInPandas(
        block_sims, "vec_id_a bigint, vec_id_b bigint, cos_sim double"
    )


@register(
    "q86_ann_ivf",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(e.embedding)+1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS dot,
             sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nv,
             sqrt(list_sum(list_transform(q.qe,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nq
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(dot/(nv*nq), 4) AS cos_sim
    FROM s ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    """,
    doc="X3 ANN, IVF variant — the OTHER canonical scale path next to "
    "LSH (q53): a seeded k-means coarse quantizer (spark.ml KMeans on "
    "unit-normalized vectors, k ~ sqrt(n)) partitions the corpus into "
    "cells; the query probes only the nprobe nearest cells and "
    "exact-reranks the candidates with the same JVM higher-order "
    "cosine as q43. At 100 TB the table is WRITTEN partitioned by "
    "cell id, so the probe is partition pruning — the scan touches "
    "nprobe/k of the data; centroids (k * dim floats) broadcast. "
    "Oracle: the exact brute-force top-5 — at nprobe=10 of k=16 the "
    "probed cells contain the true top-5 at every test SF (measured; "
    "dataset-conditional like q53, q43 is the deterministic twin). "
    "The high nprobe/k here is honest about the data: the synthetic "
    "embeddings are uniform on the sphere — IVF's worst case, since "
    "k-means finds no real cluster structure. On real embedding "
    "corpora (which cluster strongly) the recall/nprobe curve is what "
    "makes IVF the standard scale path, and k grows as sqrt(n) while "
    "nprobe stays small.",
)
def q86_ann_ivf(
    spark: SparkSession, sf_dir: str, k: int = 16, nprobe: int = 10
) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    unit = Normalizer(inputCol="raw", outputCol="unit", p=2.0).transform(vecs)
    # maxIter=10 (round-16): the quantizer fit is the whole cost of
    # this query (guide §1.2 — spark.ml's default is 20 Lloyd rounds;
    # 10 halve the fit wall-clock) and a coarse quantizer only needs
    # rough cells — the probed top-5 stays the exact top-5 at every
    # test SF (oracle re-verified at sf0.001/0.01/0.1; 5 rounds was
    # TOO coarse — it broke recall at sf0.1 and was rejected), the
    # same measured-recall contract the row always carried.
    km = KMeans(k=k, seed=SEED, featuresCol="unit", predictionCol="cell", maxIter=10)
    model = km.fit(unit)

    qvec = _query_vector(spark, sf_dir, 0)
    qnorm = sum(x * x for x in qvec) ** 0.5
    qunit = [x / qnorm for x in qvec]
    # rank cells by centroid distance to the query; probe the nearest
    # nprobe. Centroids are k*dim driver-side floats (they ARE the
    # broadcast state of IVF) — no data-sized collect anywhere.
    centers = model.clusterCenters()
    order = sorted(
        range(len(centers)),
        key=lambda c: sum((a - b) ** 2 for a, b in zip(centers[c], qunit)),
    )
    probed = order[:nprobe]

    assigned = model.transform(unit).select(
        "vec_id", "cell", vector_to_array("raw").alias("embedding")
    )
    cand = assigned.filter(
        (F.col("vec_id") != 0) & F.col("cell").isin([int(c) for c in probed])
    )
    return (
        cand.select(
            "vec_id",
            F.round(_cosine(F.col("embedding"), qvec), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )


_SQ8_ORACLE = """
    WITH dims AS (
      SELECT i,
             MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings,
           (SELECT unnest(range(1,
               (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i) ix
      GROUP BY i
    ),
    stats AS (
      SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
    )
    SELECT vec_id,
           array_to_string(list_transform(range(1, len(embedding)+1),
             i -> CAST(CASE WHEN mxs[i] = mns[i] THEN 0
                       ELSE round((CAST(embedding[i] AS DOUBLE) - mns[i])
                                  * 255.0 / (mxs[i] - mns[i]))
                       END AS BIGINT)), ',') AS codes
    FROM embeddings, stats
    """


@register(
    "q91_embedding_sq8",
    _SQ8_ORACLE,
    doc="X3c embedding compression — int8 scalar quantization (the "
    "FAISS/vector-DB SQ8 storage path): per-dimension min/max over the "
    "corpus, then each float maps to round((x-mn)*255/(mx-mn)). One "
    "stats pass (posexplode + groupBy(dim) — the stats table is "
    "DIMENSION-sized, 64 rows, a bounded collect exactly like IVF's "
    "centroids) and one map-side quantize pass with the stats inlined "
    "as array literals — at 100 TB that is scan + map, no per-row "
    "join. 4x storage cut and int8 SIMD distance kernels downstream; "
    "codes surface as a CSV string (D8: the harness hasher cannot "
    "hash array cells, same trade as q22). Tier-1: both engines round "
    "positive halves away from zero; the scaled values' distance to "
    "the .5 boundary is measured in tests (mirrors q54/q89 margins). "
    "Constant dimensions (mx == mn) code to 0 on both engines.",
)
def q91_embedding_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("i")
        # bounded-collect: dimension-sized (64 rows), like IVF centroids
        .collect()
    )
    mns = F.array(*[F.lit(float(r["mn"])) for r in stats])
    mxs = F.array(*[F.lit(float(r["mx"])) for r in stats])
    arr = F.col("embedding").cast("array<double>")

    def code(i):
        x, mn, mx = F.element_at(arr, i), F.element_at(mns, i), F.element_at(mxs, i)
        return F.when(mx == mn, F.lit(0).cast("bigint")).otherwise(
            F.round((x - mn) * 255.0 / (mx - mn)).cast("bigint")
        )

    codes = F.transform(F.sequence(F.lit(1), F.size(arr)), code)
    return emb.select(
        "vec_id",
        F.concat_ws(",", F.transform(codes, lambda c: c.cast("string"))).alias(
            "codes"
        ),
    )


_KM_K = 8  # clusters
_KM_ITERS = 3  # Lloyd iterations (fixed — determinism over convergence)


def _kmeans_sql() -> str:
    """Unrolled-CTE oracle (the r23 pagerank form): 3 Lloyd rounds as
    chained CTEs — assignment by EXACT decimal distance, centroid
    update re-quantized to DECIMAL(12,6) each round."""
    step = """
    d{i} AS (
        SELECT e.vec_id, c.cid,
               SUM((e.x - c.c) * (e.x - c.c)) AS dist
        FROM e JOIN c{p} c USING (dim)
        GROUP BY 1, 2
    ),
    a{i} AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{i}) t
        WHERE rn = 1
    ),
    c{i} AS (
        SELECT a.cid, e.dim,
               CAST(ROUND(CAST(SUM(e.x) AS DOUBLE) / COUNT(*), 6)
                    AS DECIMAL(12,6)) AS c
        FROM a{i} a JOIN e USING (vec_id)
        GROUP BY 1, 2
    )"""
    chain = ",".join(
        step.format(i=k, p=(0 if k == 1 else k - 1))
        for k in range(1, _KM_ITERS + 1)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(12,6)) AS x
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    seeds AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT {_KM_K}) s
    ),
    c0 AS (
        SELECT s.cid, e.dim, e.x AS c
        FROM e JOIN seeds s USING (vec_id)
    ),
    {chain}
    SELECT CAST(n.cid AS INT) AS cid, n.n_vecs,
           CAST(l.l1 AS DOUBLE) AS centroid_l1,
           CAST(n.inertia AS DOUBLE) AS inertia
    FROM (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 SUM(dist) AS inertia
          FROM a{_KM_ITERS} GROUP BY 1) n
    JOIN (SELECT cid, SUM(ABS(c)) AS l1
          FROM c{_KM_ITERS} GROUP BY 1) l USING (cid)
    ORDER BY n.cid
    """


@register(
    "r57_kmeans",
    _kmeans_sql(),
    doc="Distributed k-means (Lloyd, k=8, 3 fixed rounds) over the "
    "embeddings — iterative ML made hash-exact: components quantize "
    "to DECIMAL(12,6) once, every distance is an EXACT decimal sum "
    "of squares (argmin can never flip on float summation order — "
    "the failure mode that makes naive distributed k-means "
    "non-reproducible), ties break on cluster id, and each round's "
    "centroid re-quantizes via one double division + ROUND 6 — and "
    "because centroid means are rationals S/(10^6 n), EXACT 6dp "
    "half-boundaries occur legitimately; the pinned property is that "
    "both engines ROUND the identical doubles identically (asserted "
    "directly over every division the rounds perform, exact halves "
    "included — tests/test_kmeans.py). "
    "Init = the k lowest vec_ids' vectors; a fixed round budget "
    "replaces data-dependent convergence (the r23/r52 rule). Spark "
    "runs the Pregel-ish loop: the long-format point table "
    "localCheckpoints once, the 512-row centroid table broadcasts "
    "each round, assignment is one (vec,cluster) aggregation + "
    "min(struct); the oracle unrolls the same 3 rounds as chained "
    "CTEs. Inertia = distance to the PREVIOUS round's centroids at "
    "the final assignment (documented, identical on both engines). "
    "At 100 TB: per round one fact aggregation and a KB-sized "
    "broadcast — the standard scalable Lloyd shape.",
)
def r57_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "xf"))
        .select(
            "vec_id",
            "dim",
            F.col("xf").cast("double").cast("decimal(12,6)").alias("x"),
        )
        .localCheckpoint(eager=True)  # consumed 2x per round
    )
    seed_ids = [
        int(r["vec_id"])
        # bounded-collect: the K seed ids (limit(_KM_K) above)
        for r in e.select("vec_id").distinct().orderBy("vec_id").limit(_KM_K).collect()
    ]
    seed_df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(seed_ids)], "vec_id bigint, cid int"
    )
    # Round-17 (guide §2.3 — shuffle/aggregate fewer rows): the
    # distance step used to explode every (vec, dim, centroid) triple
    # through a join on "dim" — vectors × k × 64 rows into a
    # (vec_id, cid) hash aggregate. Vectors and centroids are now
    # carried as DECIMAL(12,6) ARRAYS and the squared distance is one
    # JVM higher-order expression per (vec, centroid) pair
    # (zip_with + aggregate), so the assignment stage materializes
    # vectors × k rows — 64× fewer — with no shuffle before the argmin.
    # Exactness: the accumulator is DECIMAL(26,12); each (a−b)² is an
    # exact scale-12 rational with |Σ| bounded by 4·64 « 10¹⁴, so no
    # rounding ever occurs and the per-pair sums (and argmin, and the
    # inertia built from them) are value-identical to the exploded
    # form — asserted by exceptAll on (vec_id, cid, dist) at sf0.1.
    # The centroid RECOMPUTE still averages the per-dim point table e.
    ev = (
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding,"
                " v -> cast(cast(v as double) as decimal(12,6)))"
            ).alias("xs"),
        )
        .localCheckpoint(eager=True)  # consumed once per round
    )
    _SQDIST = (
        "aggregate(zip_with(xs, cs, (a,b) -> (a-b)*(a-b)),"
        " cast(0 as decimal(26,12)),"
        " (acc,v) -> cast(acc + v as decimal(26,12)))"
    )
    cent = (
        ev.join(F.broadcast(seed_df), "vec_id")
        .select("cid", F.col("xs").alias("cs"))
        .localCheckpoint(eager=True)
    )
    assign = None
    for _ in range(_KM_ITERS):
        d = ev.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cid", F.expr(_SQDIST).alias("dist")
        )
        # no per-round assign checkpoint (round-16): the round's lineage
        # is already truncated by the cent checkpoint below — assign sits
        # one join above two checkpointed inputs (ev, cent), so the only
        # recompute skipping it costs is ONE extra evaluation of the
        # final round's assignment in the closing aggregate, which
        # measured cheaper than materializing every round's assignment
        # (3.6 s vs 4.3 s at sf0.1, output identical)
        assign = (
            d.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select(
                "vec_id",
                F.col("m.cid").alias("cid"),
                F.col("m.dist").alias("dist"),
            )
        )
        new_c = (
            assign.join(e, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.round(
                    F.sum("x").cast("double") / F.count(F.lit(1)), 6
                )
                .cast("decimal(12,6)")
                .alias("c")
            )
        )
        # re-pack the per-dim means into the k-row array form the next
        # round's distance expression consumes; the checkpoint here is
        # the same per-round lineage truncation as before, now over k
        # rows instead of k×64
        cent = (
            new_c.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("ps"))
            .select("cid", F.expr("transform(ps, p -> p.c)").alias("cs"))
            .localCheckpoint(eager=True)
        )
    n = assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("dist").alias("inertia"),
    )
    # Σ|c| over the 64 dims of each centroid array — decimal-exact
    # (values < 10⁸ against a DECIMAL(26,6) accumulator), same values
    # as the old per-dim groupBy sum
    l1 = cent.select(
        "cid",
        F.expr(
            "aggregate(cs, cast(0 as decimal(26,6)),"
            " (acc,v) -> cast(acc + abs(v) as decimal(26,6)))"
        ).alias("l1"),
    )
    return (
        n.join(l1, "cid")
        .select(
            "cid",
            "n_vecs",
            F.col("l1").cast("double").alias("centroid_l1"),
            F.col("inertia").cast("double").alias("inertia"),
        )
        .orderBy("cid")
    )


@register(
    "r58_embedding_covariance",
    """
    WITH x AS (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(12,6)) AS v
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM x),
    pairs AS (
        SELECT a.dim AS dim_i, b.dim AS dim_j,
               SUM(a.v * b.v) AS sxy,
               SUM(a.v) AS sx,
               SUM(b.v) AS sy
        FROM x a JOIN x b
          ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    )
    SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
           ROUND((CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n.n)
                 / n.n, 6) AS cov
    FROM pairs, n
    ORDER BY 1, 2
    """,
    doc="Embedding covariance matrix (upper triangle) — the "
    "distributed heavy step of PCA/whitening/ZCA for embedding "
    "pipelines: components quantize to DECIMAL(12,6) (the r57 rule), "
    "the three sufficient statistics (Σxy, Σx, Σy) accumulate EXACTLY "
    "in decimal per (i,j) pair, and the only floats are the final "
    "per-cell divisions on identical exact operands, ROUND 6 (r21's "
    "population-covariance formula). The self-join is per-VECTOR "
    "(vec_id equi-join, dim_i ≤ dim_j) — d(d+1)/2 ≈ 2080 cells from "
    "d=64, each a map-side-combinable sum, so the shuffle carries "
    "cell-sized partials, never vectors; at 100 TB this is the "
    "standard X^T X reduction (the eigendecomposition of the 64×64 "
    "result is driver-sized — the SQ8/IVF bounded-stats pattern).",
)
def r58_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "vf"))
        .select(
            "vec_id",
            "dim",
            F.col("vf").cast("double").cast("decimal(12,6)").alias("v"),
        )
        .localCheckpoint(eager=True)  # both sides of the self-join
    )
    n = x.select("vec_id").distinct().count()  # bounded: one scalar
    a = x.select("vec_id", F.col("dim").alias("dim_i"), F.col("v").alias("va"))
    b = x.select("vec_id", F.col("dim").alias("dim_j"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "vec_id")
        .where(F.col("dim_i") <= F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
            F.sum("va").alias("sx"),
            F.sum("vb").alias("sy"),
        )
    )
    cov = F.round(
        (
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double") / n
        )
        / n,
        6,
    ).alias("cov")
    return pairs.select(
        F.col("dim_i").cast("int").alias("dim_i"),
        F.col("dim_j").cast("int").alias("dim_j"),
        cov,
    ).orderBy("dim_i", "dim_j")


_DBSCAN_MINPTS = 3  # neighbors including self => degree >= 2


@register(
    "r59_dbscan",
    f"""
    WITH RECURSIVE
    cp AS (SELECT vec_id_a AS a, vec_id_b AS b FROM ({COSINE_NEARDUP_SQL}) p),
    edges AS (SELECT a, b FROM cp UNION SELECT b, a FROM cp),
    deg AS (SELECT a AS v, COUNT(*) AS d FROM edges GROUP BY a),
    core AS (SELECT v FROM deg WHERE d >= {_DBSCAN_MINPTS - 1}),
    core_edges AS (
        SELECT e.a, e.b FROM edges e
        JOIN core ca ON e.a = ca.v
        JOIN core cb ON e.b = cb.v
    ),
    reach(src, dst) AS (
        SELECT a, b FROM core_edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN core_edges e ON r.dst = e.a
    ),
    labels AS (
        SELECT c.v AS vec, LEAST(c.v, COALESCE(MIN(r.dst), c.v)) AS cluster
        FROM core c LEFT JOIN reach r ON r.src = c.v
        GROUP BY c.v
    ),
    border AS (
        SELECT e.a AS vec, MIN(l.cluster) AS cluster
        FROM edges e
        JOIN labels l ON l.vec = e.b
        LEFT JOIN core c ON c.v = e.a
        WHERE c.v IS NULL
        GROUP BY e.a
    ),
    assigned AS (
        SELECT vec, cluster, 1 AS is_core FROM labels
        UNION ALL
        SELECT vec, cluster, 0 FROM border
    )
    SELECT * FROM (
        SELECT CAST(cluster AS BIGINT) AS cluster,
               CAST(SUM(is_core) AS BIGINT) AS n_core,
               CAST(SUM(1 - is_core) AS BIGINT) AS n_border
        FROM assigned GROUP BY 1
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
               CAST(0 AS BIGINT),
               CAST((SELECT COUNT(*) FROM embeddings)
                    - (SELECT COUNT(*) FROM assigned) AS BIGINT)
    ) t ORDER BY cluster
    """,
    doc="DBSCAN over the embeddings — density clustering from the "
    "repo's own primitives: the eps-neighborhood is the EXACT cosine "
    "≥ 0.45 pair set (q54's relation — broadcast-BLAS or blocked "
    "all-pairs route, both exact), core points have ≥ minPts−1 "
    "neighbors, clusters are connected components over CORE-CORE "
    "edges (the q74 pointer-jumped propagation; oracle: recursive-CTE "
    "closure), isolated cores self-label, and border points take the "
    "MIN cluster among their core neighbors — classic DBSCAN leaves "
    "border assignment scan-order-dependent, this formulation pins it "
    "deterministically. Noise surfaces as cluster −1 (counted, not "
    "dropped). At 100 TB the shape is pair-graph-bounded end to end: "
    "pairs from the blocked route, components touch only core-core "
    "edges, border assignment is one join on the pair list.",
)
def r59_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    n_total = emb.count()  # bounded: one scalar
    pairs = q54_cosine_neardup(spark, sf_dir).select(
        F.col("vec_id_a").alias("a"), F.col("vec_id_b").alias("b")
    )
    edges = (
        pairs.unionAll(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # consumed by degree count, core-edge filter, and border join
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    core = deg.where(F.col("d") >= _DBSCAN_MINPTS - 1).select("v")
    # The core set is node-scale (in a dense corpus nearly every
    # vector is core), so it must NOT be broadcast: semi-join-shaped
    # shuffle-hash joins keep per-task memory bounded; AQE can still
    # downgrade to broadcast when runtime stats show core is tiny.
    core_edges = (
        edges.join(core.select(F.col("v").alias("a")).hint("shuffle_hash"), "a")
        .join(core.select(F.col("v").alias("b")).hint("shuffle_hash"), "b")
        .select(F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b"))
    )
    comp = connected_components(core_edges).select(
        F.col("doc_id").alias("vec"), F.col("component").alias("cluster")
    )
    isolated = core.join(
        comp.select(F.col("vec").alias("v")), "v", "left_anti"
    ).select(F.col("v").alias("vec"), F.col("v").alias("cluster"))
    labels = comp.unionAll(isolated)
    border = (
        edges.join(
            labels.select(F.col("vec").alias("b"), "cluster"), "b"
        )
        .join(core.select(F.col("v").alias("a")), "a", "left_anti")
        .groupBy(F.col("a").alias("vec"))
        .agg(F.min("cluster").alias("cluster"))
    )
    assigned = labels.select(
        "vec", "cluster", F.lit(1).alias("is_core")
    ).unionAll(border.select("vec", "cluster", F.lit(0).alias("is_core")))
    counts = assigned.groupBy("cluster").agg(
        F.sum("is_core").cast("bigint").alias("n_core"),
        F.sum(1 - F.col("is_core")).cast("bigint").alias("n_border"),
    )
    n_assigned = assigned.count()  # bounded: one scalar
    noise = spark.createDataFrame(
        [(-1, 0, n_total - n_assigned)],
        "cluster bigint, n_core bigint, n_border bigint",
    )
    return (
        counts.select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_core",
            "n_border",
        )
        .unionAll(noise)
        .orderBy("cluster")
    )


_SWEEP_TAUS = ("0.45", "0.60", "0.75")  # string literals: exact both engines


def _sweep_sql() -> str:
    """Three recursive closures over the SAME rounded pair relation,
    one per threshold — the q74 oracle form, parameterized."""
    blocks = []
    for i, tau in enumerate(_SWEEP_TAUS):
        blocks.append(f"""
    e{i} AS (SELECT a, b FROM edges WHERE cos_sim >= {tau}),
    reach{i}(src, dst) AS (
        SELECT a, b FROM e{i}
        UNION
        SELECT r.src, e.b FROM reach{i} r JOIN e{i} e ON r.dst = e.a
    ),
    lab{i} AS (
        SELECT src AS vec, LEAST(src, MIN(dst)) AS cluster
        FROM reach{i} GROUP BY src
    ),
    agg{i} AS (
        SELECT CAST({tau} AS DOUBLE) AS tau,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_clustered,
               CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS largest
        FROM (SELECT cluster, COUNT(*) AS sz FROM lab{i} GROUP BY 1) s
    )""")
    unions = "\n    UNION ALL\n    ".join(f"SELECT * FROM agg{i}" for i in range(len(_SWEEP_TAUS)))
    return f"""
    WITH RECURSIVE
    cp AS (SELECT vec_id_a AS a, vec_id_b AS b, cos_sim
           FROM ({COSINE_NEARDUP_SQL}) p),
    edges AS (SELECT a, b, cos_sim FROM cp
              UNION ALL SELECT b, a, cos_sim FROM cp),
    {",".join(blocks)}
    SELECT * FROM ({unions}) t ORDER BY tau
    """


@register(
    "r60_threshold_sweep",
    _sweep_sql(),
    doc="Dedup-threshold sweep — the knob-tuning view every curation "
    "pipeline needs before committing to a similarity cutoff: "
    "single-linkage cluster structure (cluster count, clustered-vector "
    "count, largest cluster) at cosine thresholds 0.45/0.60/0.75, all "
    "from ONE pair-generation pass (q54's exact relation, computed "
    "once and localCheckpointed; each threshold only FILTERS the "
    "rounded pair list, then runs the q74 pointer-jumped components). "
    "Thresholds compare against the ROUND(cos,4) value on both "
    "engines, so the filter can't flip on the raw float. Monotonicity "
    "(largest cluster shrinks, cluster structure refines as τ rises) "
    "is pinned in tests. At 100 TB: one candidate-generation pass "
    "amortized over every threshold — the reason sweeps are cheap "
    "relative to re-running dedup per candidate τ.",
)
def r60_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import connected_components

    pairs = (
        q54_cosine_neardup(spark, sf_dir)
        .select("vec_id_a", "vec_id_b", "cos_sim")
        # ONE generation pass feeds all three thresholds
        .localCheckpoint(eager=True)
    )
    def _one_tau(tau: str):
        sub = pairs.where(F.col("cos_sim") >= float(tau)).select(
            F.col("vec_id_a").alias("doc_id_a"),
            F.col("vec_id_b").alias("doc_id_b"),
        )
        lab = connected_components(sub)
        sizes = lab.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        return sizes.agg(
            F.lit(float(tau)).alias("tau"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_clustered"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("bigint").alias("largest"),
        )

    # the three thresholds are independent component computations over
    # the SAME checkpointed pair list — overlap their convergence-loop
    # jobs from a small thread pool (guide §2.6; each threshold's
    # result is deterministic on its own, only wall-clock overlaps)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_SWEEP_TAUS)) as pool:
        outs = list(pool.map(_one_tau, _SWEEP_TAUS))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("tau")

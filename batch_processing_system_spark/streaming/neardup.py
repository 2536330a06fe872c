"""Continuous NEAR-dup dedup at ingest — the streaming twin of the
q42/q46 MinHash pipeline (north-star family "dedup", approximate
form). streaming/dedup.py rejects exact copies; this rejects arriving
documents whose 5-shingle Jaccard vs an ALREADY-KEPT document is
≥ 0.6, with greedy first-arrival-wins semantics (the production
near-dup-at-ingest contract: the corpus never admits a near-copy of
anything it already holds).

State is externalized to two parquet stores, like the exact twin:

- **band store** (band, h, doc_id): one row per MinHash band per kept
  document. Candidate generation is an equi-join of the batch's bands
  against this store — shuffle ships 16 small rows per doc, never
  texts, and only band-colliding pairs go to verification.
- **corpus store** (doc_id, text): kept documents; verification
  re-shingles only the candidates' texts (bounded by the candidate
  set, the q42 discipline).

MinHash hash functions are drawn from the SEED alone (verified by
test: two fits on disjoint data transform identically), so per-batch
fits across the stream's life are ONE consistent hash family — the
band store stays joinable forever.

Within a batch, survivors are decided by greedy ascending-doc_id over
the VERIFIED pair graph (chain a~b, b~c, a≁c keeps a AND c — exactly
what arrival-order greedy would do if they arrived separately), so a
doc_id-ordered replay of a corpus equals the global greedy over the
batch q46 exact pair set; the equality test asserts that. Two
resolutions with identical semantics (VERDICT r14 item 8): pair
graphs at or below _WB_MIS_THRESHOLD are collected and walked on the
driver (near-dup pair graphs are output-sized, so this is the common
case); bigger graphs run the same greedy distributed — ascending-id
first-arrival-wins IS the lexicographically-first maximal independent
set, computed by iterated local-minima elimination with per-round
lineage truncation (the q74 frontier discipline) — so there is no
driver-memory ceiling on batch size.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEED = 42
N_TABLES = 16

#: verified-pair-count knee between the two within-batch greedy
#: resolutions (VERDICT r14 item 8): at or below it the pair graph is
#: collected and walked on the driver (one job, trivial for the
#: output-sized graphs real batches produce); above it the SAME greedy
#: semantics run distributed as iterated local-minima elimination —
#: no driver loop, no driver-memory ceiling (the old hard-fail
#: _MAX_BATCH_PAIRS budget is gone; a mega-batch now just takes the
#: distributed path).
_WB_MIS_THRESHOLD = 100_000

#: round budget for the distributed LFMIS loop. Each round decides
#: every current local minimum and its whole neighborhood, so rounds =
#: the longest ascending-id dependency chain in the pair graph —
#: near-dup graphs are dup CLUSTERS (stars/cliques collapse in one
#: round); an adversarial 128-deep ascending chain of >100k pairs
#: fails loudly rather than looping forever.
_MIS_MAX_ROUNDS = 128

#: MinHash family drawn from SEED alone at import (VERDICT r13 item 2
#: refactor): module-level affine coefficients over a 31-bit Mersenne
#: prime, applied to murmur3 shingle hashes as pure JVM expressions.
#: Every batch across the stream's life — and every process — produces
#: the SAME family, so the band store stays joinable forever; the
#: products stay inside int64 (a < 2^29, x < 2^31 → a·x+b < 2^60).
_MH_P = (1 << 31) - 1
_MH_RND = random.Random(SEED)
_MH_COEFFS = [
    (_MH_RND.randrange(1, 1 << 29), _MH_RND.randrange(0, 1 << 29))
    for _ in range(N_TABLES)
]

INCOMING_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BAND_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("h", T.LongType()),
        T.StructField("doc_id", T.LongType()),
    ]
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band, h) MinHash band rows for a document set — 16
    single-hash bands (the same table count q42's LSH uses, so the
    recall math is identical: a J ≥ 0.6 pair misses all bands with
    probability ≤ (1−0.6)^16 ≈ 4·10⁻⁷), computed as pure JVM
    expressions: murmur3 the shingle, apply the seeded affine family,
    min per doc, explode to band rows. One shuffle (the per-doc min),
    whole-stage codegen end to end — no ML pipeline, no per-batch
    fit job (VERDICT r13 item 2: this is what keeps the r78 catalog
    row's per-micro-batch cost flat). Docs too short to shingle
    simply produce no rows."""
    from ..queries.similarity import _shingles

    return _band_table_from_shingles(_shingles(docs, n=5))


def _band_table_from_shingles(sh: DataFrame) -> DataFrame:
    """_band_table over an already-materialized (doc_id, shingle)
    table — callers that also need the shingles for verification
    (neardup_batch) shingle ONCE and feed both consumers."""
    x = F.hash("shingle").cast("long").bitwiseAND(F.lit(0x7FFFFFFF))
    hs = sh.select("doc_id", x.alias("x"))
    mins = hs.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(_MH_P)).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(_MH_COEFFS)
        ]
    )
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(N_TABLES)])
        ).alias("band", "h"),
    ).select("doc_id", F.col("band").cast("int").alias("band"), "h")


def _verified_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    from ..queries.similarity import _verify_jaccard_pairs

    return _verify_jaccard_pairs(cand, sh)


def _decisions_driver(
    spark: SparkSession, batch_ids: list[int], verified
) -> DataFrame:
    """Greedy decisions via the sequential driver walk — the fast path
    for pair graphs at or below _WB_MIS_THRESHOLD (one collect already
    done by the caller, zero extra jobs)."""
    batch_set = set(batch_ids)
    # re-delivered doc_ids already kept in the store surface as
    # verified SELF-pairs (store copy a ⋈ arrival a, J=1 — guaranteed:
    # identical text means identical bands, so the candidate always
    # exists). Redelivery matters twice (ADVICE r14 + the r15 audit):
    # (1) the redelivery itself must be cross-rejected (the store copy
    # is the earlier arrival), never kept and re-appended; (2) a pair
    # (a, b) with a redelivered is a STORE hit even though a is in the
    # batch — classifying it within-batch would let b survive whenever
    # the redelivered copy is rejected, admitting a near-copy of a
    # document the corpus already holds.
    redelivered = {
        int(r["doc_id_a"])
        for r in verified
        if int(r["doc_id_a"]) == int(r["doc_id_b"])
    }
    cross_rejected: dict[int, int] = {}
    neighbors = defaultdict(set)
    for r in verified:
        a, b = int(r["doc_id_a"]), int(r["doc_id_b"])
        if a == b or a not in batch_set or a in redelivered:
            # store doc ⋈ arrival: cross-batch matches win over
            # within-batch ones — the earlier arrival IS the canonical
            # copy; dup_of is the smallest kept store doc verified
            cross_rejected[b] = min(cross_rejected.get(b, a), a)
        else:
            neighbors[b].add(a)
    rejected_wb: dict[int, int] = {}
    kept_wb: set[int] = set()
    # Docs too short to shingle (< 5 words) have no bands and cannot be
    # near-dup of anything under the 5-shingle feature space: kept.
    for doc_id in batch_ids:
        if doc_id in cross_rejected:
            continue
        smaller_kept = sorted(n for n in neighbors[doc_id] if n in kept_wb)
        if smaller_kept:
            rejected_wb[doc_id] = smaller_kept[0]
        else:
            kept_wb.add(doc_id)
    cross_rows = [(d, False, k) for d, k in cross_rejected.items()]
    wb_rows = [(int(d), False, int(k)) for d, k in rejected_wb.items()]
    kept_rows = [(int(d), True, None) for d in kept_wb]
    return spark.createDataFrame(
        cross_rows + wb_rows + kept_rows,
        "doc_id bigint, kept boolean, dup_of bigint",
    )


def _decisions_distributed(
    spark: SparkSession, batch: DataFrame, verified_df: DataFrame
) -> DataFrame:
    """Greedy decisions WITHOUT the driver walk (VERDICT r14 item 8) —
    the mega-batch path: the within-batch greedy is the
    lexicographically-first maximal independent set (ascending-id
    first-arrival-wins), computed as ITERATED LOCAL-MINIMA ELIMINATION
    over the verified pair graph, the same frontier discipline as
    q74's min-label components (q/curation.py) with per-round lineage
    truncation.

    Equality with the sequential walk: in any round, a local minimum v
    (smaller than every undecided neighbor) has no smaller undecided
    neighbor, and every previously decided smaller neighbor is
    rejected (else v would already be rejected) — so the sequential
    greedy keeps v too; its undecided neighbors then have the smaller
    kept neighbor v, so both reject them. Induction over rounds gives
    identical kept sets. dup_of is resolved AFTER convergence as the
    minimum kept neighbor — resolving it at rejection time would be
    wrong: a rejected node's SMALLEST kept neighbor can itself be kept
    in a later round than the rejection (e.g. edges (1,2),(2,3),(5,10),
    (3,10): 10 is rejected by 5 in round 1, but its smallest kept
    neighbor 3 is only kept in round 2)."""
    b_ids = (
        batch.select("doc_id").distinct().localCheckpoint(eager=True)
    )
    vdf = verified_df.localCheckpoint(eager=True)
    a_mark = b_ids.select(
        F.col("doc_id").alias("doc_id_a"), F.lit(True).alias("a_in_batch")
    )
    # redelivered ids (verified self-pairs: store copy ⋈ same-id
    # arrival) — pairs whose a is redelivered are STORE hits even
    # though a is in the batch (see _decisions_driver)
    redeliv = (
        vdf.filter(F.col("doc_id_a") == F.col("doc_id_b"))
        .select(F.col("doc_id_a"))
        .distinct()
        .withColumn("a_redelivered", F.lit(True))
    )
    marked = vdf.join(a_mark, "doc_id_a", "left").join(
        redeliv, "doc_id_a", "left"
    )
    is_cross = (
        F.col("a_in_batch").isNull()
        | (F.col("doc_id_a") == F.col("doc_id_b"))
        | F.col("a_redelivered").isNotNull()
    )
    # cross rejections: store doc ⋈ arrival
    cross_rej = (
        marked.filter(is_cross)
        .groupBy(F.col("doc_id_b").alias("doc_id"))
        .agg(F.min("doc_id_a").alias("dup_of"))
        .localCheckpoint(eager=True)
    )
    # within-batch graph, minus anything already cross-rejected (a
    # cross-rejected arrival is never kept, so it cannot block others —
    # exactly the `continue` in the driver walk)
    cr = cross_rej.select("doc_id")
    wb = (
        marked.filter(~is_cross)
        .select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .join(cr.withColumnRenamed("doc_id", "a"), "a", "left_anti")
        .join(cr.withColumnRenamed("doc_id", "b"), "b", "left_anti")
    )
    sym = wb.unionByName(
        wb.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)

    edges = sym
    rejected = spark.createDataFrame([], "doc_id bigint")
    converged = False
    for _ in range(_MIS_MAX_ROUNDS):
        if edges.isEmpty():
            # checked at the TOP of the round so a graph whose last
            # elimination lands exactly on round _MIS_MAX_ROUNDS still
            # converges (ADVICE r15: the for/else alone would raise a
            # spurious non-convergence on that boundary)
            converged = True
            break
        minnb = edges.groupBy("a").agg(F.min("b").alias("mn"))
        kept_round = minnb.filter(F.col("a") < F.col("mn")).select(
            F.col("a").alias("doc_id")
        )
        rej_round = (
            edges.join(
                kept_round.withColumnRenamed("doc_id", "a"), "a", "left_semi"
            )
            .select(F.col("b").alias("doc_id"))
            .distinct()
        )
        rejected = rejected.unionByName(rej_round).localCheckpoint(eager=True)
        decided = kept_round.unionByName(rej_round)
        edges = (
            edges.join(
                decided.withColumnRenamed("doc_id", "a"), "a", "left_anti"
            )
            .join(decided.withColumnRenamed("doc_id", "b"), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
    if not converged and not edges.isEmpty():
        raise AssertionError(
            "neardup LFMIS did not converge within the round budget — "
            "the batch's pair graph has an ascending dependency chain "
            f"deeper than {_MIS_MAX_ROUNDS}; shrink the trigger interval"
        )
    # nodes never rejected are kept (local minima of some round, or
    # left isolated once their whole neighborhood was rejected)
    wb_nodes = sym.select(F.col("a").alias("doc_id")).distinct()
    kept_nodes = wb_nodes.join(rejected, "doc_id", "left_anti")
    wb_dup = (
        sym.join(
            kept_nodes.withColumnRenamed("doc_id", "a"), "a", "left_semi"
        )
        .join(rejected.withColumnRenamed("doc_id", "b"), "b", "left_semi")
        .groupBy(F.col("b").alias("doc_id"))
        .agg(F.min("a").alias("dup_of"))
    )
    rejected_all = cross_rej.unionByName(wb_dup).select(
        "doc_id", F.lit(False).alias("kept"), "dup_of"
    )
    kept_all = b_ids.join(
        rejected_all.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.lit(True).alias("kept"),
        F.lit(None).cast("long").alias("dup_of"),
    )
    # output-sized; consumed by two store appends plus the caller
    return rejected_all.unionByName(kept_all).localCheckpoint(eager=True)


def neardup_batch(
    spark: SparkSession, batch: DataFrame, corpus_path: str, bands_path: str
) -> DataFrame:
    """One micro-batch of near-dup dedup against the persistent stores.

    Returns the decision table (doc_id, kept, dup_of): dup_of is the
    smallest kept document the rejected arrival verified against
    (cross-batch matches win over within-batch ones — the earlier
    arrival IS the canonical copy). Survivors' texts and bands are
    appended to the stores."""
    from ..queries.similarity import _shingles

    # bounded-collect: micro-batch id list (batch-sized, not corpus)
    batch_ids = sorted(r["doc_id"] for r in batch.select("doc_id").collect())
    if not batch_ids:
        return spark.createDataFrame([], "doc_id bigint, kept boolean, dup_of bigint")
    # ONE eager checkpoint per batch (VERDICT r14 item 1: the r13 shape
    # spent three — batch, shingles, bands — and each is a full job of
    # fixed launch cost at toy SF). Only `bands` pays for itself: it
    # feeds FOUR consumers (the cross join, both sides of the
    # within-batch self-join, and the kept-bands append), so without it
    # the shingle→murmur→min agg re-runs four times AND the self-join
    # can't reuse one side. `batch` (three consumers) is a source-batch
    # re-read — narrow, file-backed, cheaper to recompute than a
    # checkpoint job — and `sh_batch` is a narrow split+explode over it
    # whose one extra evaluation (the verify pass; banding reads it via
    # the bands checkpoint) costs less than materializing every shingle
    # row.
    sh_batch = _shingles(batch, n=5)
    bands = _band_table_from_shingles(sh_batch).localCheckpoint(eager=True)
    store_bands = _read_or_empty(spark, bands_path, BAND_SCHEMA)

    # --- candidates: cross-batch (batch ⋈ store) + within-batch ------
    cross = (
        bands.alias("new")
        .join(
            store_bands.alias("old"),
            (F.col("new.band") == F.col("old.band"))
            & (F.col("new.h") == F.col("old.h")),
        )
        .select(
            F.col("old.doc_id").alias("da"),  # kept doc
            F.col("new.doc_id").alias("db"),  # arrival
        )
        .distinct()
    )
    wb_cand = (
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
    corpus = _read_or_empty(spark, corpus_path, CORPUS_SCHEMA)
    # the anti-join against the batch's ids is REQUIRED (ADVICE r15,
    # medium): under id redelivery the store holds a copy of a doc_id
    # that is ALSO in sh_batch — shingling both sides would put that
    # doc's shingles in sh_union twice, doubling its per-shingle match
    # fanout inside _verify_jaccard_pairs and silently weakening the
    # J ≥ 0.6 test to ≈ J ≥ 0.39 for every (redelivered, other) pair.
    # Dropping the store copy is exact: shingles are keyed by doc_id,
    # so the batch arrival's shingles already stand for that id.
    involved_kept = corpus.join(
        cross.select(F.col("da").alias("doc_id")).distinct(), "doc_id", "left_semi"
    ).join(batch.select("doc_id"), "doc_id", "left_anti")
    # both sides recompute lazily: batch shingles are one narrow pass
    # over the source batch, the involved-kept side is candidate-bounded
    sh_union = sh_batch.unionByName(_shingles(involved_kept, n=5))
    # ONE verification pass over the unioned candidate set (the r13
    # shape ran two — cross then within-batch — doubling the join
    # machinery per micro-batch for no semantic gain; origin is
    # recoverable from the id sets). The outer distinct is REQUIRED
    # (r15): under id redelivery the da-spaces are NOT disjoint — a
    # redelivered doc's store bands equal its batch bands, so the same
    # (a, b) pair arrives from both cross and wb_cand, and a duplicate
    # candidate row would double n_common inside
    # _verify_jaccard_pairs' count, corrupting the Jaccard test.
    verified_df = _verified_pairs(
        cross.unionByName(wb_cand).distinct(), sh_union
    ).select("doc_id_a", "doc_id_b")
    # bounded-collect up to the knee: verified near-dup pairs are
    # output-sized, so real batches land on the driver walk; a
    # mega-batch (planted dump, adversarial burst) takes the
    # distributed LFMIS path instead of spilling the driver
    verified = verified_df.limit(_WB_MIS_THRESHOLD + 1).collect()
    if len(verified) <= _WB_MIS_THRESHOLD:
        decisions = _decisions_driver(spark, batch_ids, verified)
    else:
        decisions = _decisions_distributed(spark, batch, verified_df)
    # survivors is consumed once and is a cheap semijoin of the
    # file-backed source batch against the kept-id filter — a
    # localCheckpoint here would cost more (one extra job) than the
    # recompute it saves. The two store appends are independent jobs
    # over already-materialized inputs (decisions and bands are both
    # checkpointed), so submit them from a 2-thread pool and let each
    # write's task tail backfill the other (guide §2.6) — round-17,
    # worth ~0.3 s of the per-micro-batch fixed cost at toy SF and
    # harmless on a cluster scheduler.
    kept_filter = decisions.filter("kept").select("doc_id")
    survivors = batch.join(kept_filter, "doc_id", "left_semi")

    def _append_corpus() -> None:
        survivors.write.mode("append").parquet(corpus_path)

    def _append_bands() -> None:
        bands.join(kept_filter, "doc_id", "left_semi").select(
            "band", "h", "doc_id"
        ).write.mode("append").parquet(bands_path)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_append_corpus), pool.submit(_append_bands)]
        for f in futs:
            f.result()
    return decisions


def stream_neardup_documents(
    spark: SparkSession,
    incoming_dir: str,
    corpus_path: str,
    bands_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """JSONL document stream → greedy near-dup dedup → append-only kept
    corpus + band store + decision log. File offsets live in the
    checkpoint; the stores are the cross-restart dedup memory.

    BATCH-SIZE CONTRACT (the sink's operating envelope): per
    micro-batch the driver materializes the batch's doc_id list plus,
    on the common path, the verified pair graph (output-sized; both
    bounded by micro-batch size — ≤ ~100k docs per micro-batch keeps
    them in tens of MB). A pair graph beyond _WB_MIS_THRESHOLD (a
    mirror dump, an adversarial burst) is NOT collected: the same
    greedy first-arrival-wins semantics run distributed as iterated
    local-minima elimination (VERDICT r14 item 8), so there is no
    driver-memory ceiling — the trade is extra per-round jobs, which a
    batch that size amortizes."""
    incoming = spark.readStream.schema(INCOMING_DOC_SCHEMA).json(incoming_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        decisions = neardup_batch(
            batch_df.sparkSession, batch_df, corpus_path, bands_path
        )
        decisions.write.mode("append").parquet(decisions_path)

    return incoming.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )

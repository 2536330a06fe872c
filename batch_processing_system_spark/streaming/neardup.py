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

Both stores, and the decision log, are ``bid=<N>`` logs
(``statestore.write_bid_store``) read without the current batch's
partition: foreachBatch is at-least-once, and a batch replayed after
its band write landed but its corpus write failed must not meet its
own bands as earlier arrivals (``streaming/dedup.py`` keeps the same
contract).

Bands come from queries/similarity.minhash_bands, the package's one
MinHash family (q42 uses it too): its hash functions are drawn from a
fixed seed at import, so every batch across the stream's life — and
every process — hashes with the SAME family, and the band store stays
joinable forever.

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

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.io import local_frame
from ..pipeline.statestore import read_bid_store, write_bid_store
from ..queries.similarity import (
    _band_self_join,
    _shingles,
    _verify_jaccard_pairs,
    minhash_bands,
)

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

INCOMING_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

DECISION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kept", T.BooleanType()),
        T.StructField("dup_of", T.LongType()),
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


def _band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band, h) MinHash band rows for a document set: the
    5-shingles through minhash_bands. Docs too short to shingle
    simply produce no rows."""
    return minhash_bands(_shingles(docs, n=5))


def _band_cross_join(bands: DataFrame, store_bands: DataFrame) -> DataFrame:
    """(da, db) distinct candidate pairs of a stored doc (da) and an
    arriving doc (db) that share a MinHash band."""
    return (
        bands.alias("new")
        .join(
            store_bands.alias("old"),
            (F.col("new.band") == F.col("old.band"))
            & (F.col("new.h") == F.col("old.h")),
        )
        .select(F.col("old.doc_id").alias("da"), F.col("new.doc_id").alias("db"))
        .distinct()
    )


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
    # is the earlier arrival), never kept and stored twice; (2) a pair
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
    rejected = local_frame(
        spark, [], T.StructType([T.StructField("doc_id", T.LongType())])
    )
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
    # output-sized; consumed by two store writes plus the caller
    return rejected_all.unionByName(kept_all).localCheckpoint(eager=True)


def neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_path: str,
    bands_path: str,
    batch_id: int,
) -> DataFrame:
    """One micro-batch of near-dup dedup against the persistent stores.

    Returns the decision table (doc_id, kept, dup_of): dup_of is the
    smallest kept document the rejected arrival verified against
    (cross-batch matches win over within-batch ones — the earlier
    arrival IS the canonical copy). Survivors' texts and bands are
    written as the stores' ``bid=<batch_id>`` partitions; the store
    reads skip that partition, so a replay of this batch after a
    partial write decides exactly as the first attempt did."""
    # bounded-collect: micro-batch id list (batch-sized, not corpus)
    batch_ids = sorted(r["doc_id"] for r in batch.select("doc_id").collect())
    if not batch_ids:
        return local_frame(spark, [], DECISION_SCHEMA)
    # ONE eager checkpoint per batch (VERDICT r14 item 1: the r13 shape
    # spent three — batch, shingles, bands — and each is a full job of
    # fixed launch cost at toy SF). Only `bands` pays for itself: it
    # feeds FOUR consumers (the cross join, both sides of the
    # within-batch self-join, and the kept-bands write), so without it
    # the shingle→murmur→min agg re-runs four times AND the self-join
    # can't reuse one side. `batch` (three consumers) is a source-batch
    # re-read — narrow, file-backed, cheaper to recompute than a
    # checkpoint job — and `sh_batch` is a narrow split+explode over it
    # whose one extra evaluation (the verify pass; banding reads it via
    # the bands checkpoint) costs less than materializing every shingle
    # row.
    sh_batch = _shingles(batch, n=5)
    bands = minhash_bands(sh_batch).localCheckpoint(eager=True)
    store_bands = read_bid_store(spark, bands_path, BAND_SCHEMA, batch_id)

    # --- candidates: cross-batch (batch ⋈ store) + within-batch ------
    cross = _band_cross_join(bands, store_bands)
    wb_cand = _band_self_join(bands)
    corpus = read_bid_store(spark, corpus_path, CORPUS_SCHEMA, batch_id)
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
    verified_df = _verify_jaccard_pairs(
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
    # recompute it saves
    kept_filter = decisions.filter("kept").select("doc_id")
    write_bid_store(
        bands.join(kept_filter, "doc_id", "left_semi").select("band", "h", "doc_id"),
        bands_path,
        batch_id,
    )
    write_bid_store(
        batch.join(kept_filter, "doc_id", "left_semi"), corpus_path, batch_id
    )
    return decisions


def stream_neardup_documents(
    spark: SparkSession,
    incoming_dir: str,
    corpus_path: str,
    bands_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """JSONL document stream → greedy near-dup dedup → kept corpus +
    band store + decision log (``neardup_sink``). File offsets live in
    the checkpoint; the stores are the cross-restart dedup memory.

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
    return incoming.writeStream.foreachBatch(
        neardup_sink(corpus_path, bands_path, decisions_path)
    ).option("checkpointLocation", checkpoint)


def neardup_sink(corpus_path: str, bands_path: str, decisions_path: str):
    """The foreachBatch function of a near-dup stream: decide the
    micro-batch against the stores, then write its decisions as the
    ``bid=<N>`` partition of the decision log (read the three logs with
    ``read_bid_store``)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        decisions = neardup_batch(
            batch_df.sparkSession, batch_df, corpus_path, bands_path, batch_id
        )
        write_bid_store(decisions, decisions_path, batch_id)

    return merge_batch

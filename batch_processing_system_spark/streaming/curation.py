"""The FULL curation pipeline as one incremental stream — the
batch≡stream twin of q75: quality gate → exact dedup → near-dup drop
→ deterministic split, applied to every arriving document exactly
once, with append-only accepted output.

Semantics mirror q75 PRECISELY under the time-ordered (doc_id-ordered)
replay contract the other twins share:

- quality: n_tokens ≥ 10 AND 10·n_uniq ≥ 3·n_tokens (stateless);
- exact dedup: the FIRST quality-passing arrival of each content
  digest survives (≡ batch min-doc_id survivor); the digest store
  holds quality-passing digests only, because q75 groups digests
  AFTER the gate — a later quality-passing twin of a quality-FAILED
  doc is a first arrival, not a duplicate;
- near-dup: q75 drops the doc_id_b side of EVERY exact-Jaccard≥0.6
  pair — i.e. an arrival is rejected if it pairs with ANY earlier
  document, kept or not (unlike streaming/neardup.py's greedy
  kept-only contract). The band/text stores therefore index EVERY
  seen document; that store is corpus-sized by design — the faithful
  b-side-drop rule costs a full index where greedy costs a kept-only
  one (both are documented contracts; q75 defines this one);
- split: md5(doc_id) first hex digit, 0-c → train (map-side).

Candidate generation is MinHash banding (similarity.minhash_bands, the
family q42 uses, seed-stable across batches); recall vs the exact
inverted index is MEASURED by the equality test, not assumed.

Idempotency under foreachBatch's at-least-once replay: every write —
the three state stores AND the accepted output — is keyed by the
micro-batch id (``bid=<N>`` partition directories, mode=overwrite),
and every state-store READ excludes the current batch id. A replayed
batch therefore sees exactly the pre-batch store state (a crashed
attempt's partial appends are filtered out, not treated as earlier
arrivals), recomputes the same deterministic decisions, and
overwrites its own partitions — no marker file, no lost acceptances,
no duplicate store rows. tests/test_streaming_curation.py replays a
batch on top of its own partial state to pin this.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.io import local_frame
from ..pipeline.statestore import read_bid_store, write_bid_store
from ..queries.similarity import _band_self_join, _shingles, _verify_jaccard_pairs
from .neardup import BAND_SCHEMA, _band_cross_join, _band_table

INCOMING_CURATION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_DIGEST_SCHEMA = T.StructType([T.StructField("h", T.StringType())])

ACCEPTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("split", T.StringType()),
    ]
)


def curation_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, batch_id: int = 0
) -> DataFrame:
    """Run one micro-batch through the full pipeline against the
    persistent stores under ``state_dir``; returns the accepted rows.
    All store writes are keyed by ``batch_id`` and overwritten, so
    re-running the same (batch, batch_id) is a no-op state-wise."""
    docs_path = os.path.join(state_dir, "docs")
    bands_path = os.path.join(state_dir, "bands")
    digests_path = os.path.join(state_dir, "digests")

    batch = batch.localCheckpoint(eager=True)
    if batch.limit(1).count() == 0:
        return local_frame(spark, [], ACCEPTED_SCHEMA)

    toks_arr = F.filter(F.split("text", " "), lambda w: w != "")
    feats = batch.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks_arr).alias("n_tokens"),
        F.size(F.array_distinct(toks_arr)).alias("n_uniq"),
        F.md5(F.encode("text", "UTF-8")).alias("h"),
    ).localCheckpoint(eager=True)

    # --- near-dup b-side rule vs EVERY earlier doc -------------------
    bands = _band_table(batch).localCheckpoint(eager=True)
    store_bands = read_bid_store(spark, bands_path, BAND_SCHEMA, batch_id)
    cand = (
        _band_cross_join(bands, store_bands)
        .unionAll(_band_self_join(bands))
        .distinct()
    )
    store_docs = read_bid_store(spark, docs_path, _DOC_SCHEMA, batch_id)
    involved_old = store_docs.join(
        cand.select(F.col("da").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    sh_union = _shingles(
        batch.select("doc_id", "text").unionByName(involved_old), n=5
    ).localCheckpoint(eager=True)
    near_rejected = (
        _verify_jaccard_pairs(cand, sh_union)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )

    # --- quality gate + exact dedup ----------------------------------
    quality = feats.where(
        (F.col("n_tokens") >= 10)
        & (F.col("n_uniq") * 10 >= F.col("n_tokens") * 3)
    )
    digest_store = read_bid_store(spark, digests_path, _DIGEST_SCHEMA, batch_id)
    first_in_batch = (
        quality.groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias("doc_id"))
    )
    exact_ok = (
        quality.join(first_in_batch, "doc_id", "left_semi")
        .select("doc_id", "lang", "n_tokens", "h")
        .join(digest_store, "h", "left_anti")
    )

    prefix = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 1
    )
    accepted = (
        exact_ok.join(near_rejected, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.when(prefix.between("0", "c"), F.lit("train"))
            .otherwise(F.lit("holdout"))
            .alias("split"),
        )
        .localCheckpoint(eager=True)
    )

    # --- store writes, keyed by batch id (EVERY doc indexes; quality
    # digests only); overwrite-per-bid makes replay a rewrite, not a
    # duplicate append ------------------------------------------------
    write_bid_store(batch.select("doc_id", "text"), docs_path, batch_id)
    write_bid_store(bands.select("band", "h", "doc_id"), bands_path, batch_id)
    write_bid_store(quality.select("h").distinct(), digests_path, batch_id)
    return accepted


def run_curation_stream(
    spark: SparkSession,
    incoming_dir: str,
    state_dir: str,
    out_path: str,
    checkpoint: str,
):
    """Replayed document JSONL → append-only curated corpus."""
    src = spark.readStream.schema(INCOMING_CURATION_SCHEMA).json(incoming_dir)

    def sink(batch_df: DataFrame, bid: int) -> None:
        accepted = curation_batch(
            batch_df.sparkSession, batch_df, state_dir, batch_id=bid
        )
        # output is keyed by bid too: replay overwrites its own
        # partition instead of appending duplicates
        write_bid_store(accepted, out_path, bid)

    return (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )

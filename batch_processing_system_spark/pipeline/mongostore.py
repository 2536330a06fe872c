"""MongoDB wire connector for the S5 target-document update — the
spec's literal sink (/root/reference/README.md:64-67,100-102,129-138):
find each target document by ``_id = custom_id`` in the collection at
``mongodb_uri``/``collection_name`` and apply

    {"$set":  {<status_field>: <new_status>},
     "$push": {"event_response": {"event_response": <content>,
                                  "updated": <ts>}}}

with the update FILTERED on the document currently being
``in_progress`` — the same idempotency gate as
pipeline.process.upsert_documents, so at-least-once application of
the same update records is a data-level no-op (spec §5.2 semantics).

Execution shape: the update records (one per custom_id, at most
thousands per job by the reference's own design) stream out of the
executors via ``foreachPartition`` — each partition opens one client
and issues ONE unordered ``bulk_write`` — so nothing document-sized
ever routes through the driver, and per-partition batching matches
how one would drive a real cluster-side sink.

AVAILABILITY: ``pymongo`` is an optional dependency; without it
``require_pymongo`` raises a named error. The op-building logic
(pure data → (filter, update) pairs) is fully tested against a
file-backed fake sink; the pymongo translation is the only line that
needs the driver installed. The engine-native store carrying the same
semantics is pipeline/commitstore.py (versioned manifest store).
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame

from .schemas import status_field, status_values


def pymongo_available() -> bool:
    try:
        import pymongo  # noqa: F401

        return True
    except Exception:
        return False


def require_pymongo() -> None:
    if not pymongo_available():
        raise NotImplementedError(
            "mongostore: the 'pymongo' driver is not installed in this "
            "environment; use pipeline/commitstore.py as the "
            "engine-native document store"
        )


def build_update_ops(rows: Iterable) -> list[tuple[dict, dict]]:
    """Translate update records (custom_id, new_status, new_item) into
    (filter, update) pairs — the pure, fully-testable core. The filter
    carries the in_progress gate; new_item=None yields a $set-only op
    (the spec's failed/invalid branch leaves the array untouched)."""
    sfield = status_field()
    s_in_progress, _, _ = status_values()
    ops: list[tuple[dict, dict]] = []
    for r in rows:
        if r["new_status"] is None:
            continue
        update: dict = {"$set": {sfield: r["new_status"]}}
        item = r["new_item"]
        if item is not None:
            update["$push"] = {
                "event_response": {
                    "event_response": item["event_response"],
                    "updated": item["updated"],
                }
            }
        ops.append(({"_id": r["custom_id"], sfield: s_in_progress}, update))
    return ops


def _pymongo_sink(mongodb_uri: str, collection_name: str) -> Callable:
    """Default sink factory: one MongoClient + unordered bulk_write
    per partition. Import happens inside the closure (executor-side),
    after require_pymongo() already vetted the driver exists."""

    def sink(ops: list[tuple[dict, dict]]) -> None:
        import pymongo

        client = pymongo.MongoClient(mongodb_uri)
        try:
            coll = client.get_default_database()[collection_name]
            coll.bulk_write(
                [pymongo.UpdateOne(f, u) for f, u in ops], ordered=False
            )
        finally:
            client.close()

    return sink


def apply_updates_mongo(
    updates: DataFrame,
    mongodb_uri: str,
    collection_name: str,
    sink_factory: Callable[[str, str], Callable] | None = None,
) -> None:
    """Push the update records to the document store, one bulk_write
    per partition. ``sink_factory(uri, collection) -> sink(ops)`` is
    injectable so tests (and alternative stores) replace the wire
    client; the default requires pymongo."""
    if sink_factory is None:
        require_pymongo()
        sink_factory = _pymongo_sink
    sink = sink_factory(mongodb_uri, collection_name)

    def per_partition(rows) -> None:
        ops = build_update_ops(rows)
        if ops:
            sink(ops)

    updates.select("custom_id", "new_status", "new_item").foreachPartition(
        per_partition
    )

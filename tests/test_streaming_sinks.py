"""The one sink of the streaming operators: ``statestore``'s
micro-batch-keyed stores. Reader semantics on planted ``bid=<N>``
partitions, and a source guard that keeps every ``foreachBatch`` sink
on ``write_bid_store``."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import types as T

import batch_processing_system_spark as pkg
from batch_processing_system_spark.pipeline.statestore import (
    read_bid_store,
    read_latest,
    write_bid_store,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _write(spark, path, bid, rows):
    write_bid_store(spark.createDataFrame(rows, SCHEMA), path, bid)


def test_missing_and_empty_directories_read_as_empty(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "missing"), str(empty)):
        for df in (
            read_bid_store(spark, path, SCHEMA),
            read_bid_store(spark, path, SCHEMA, 0),
            read_latest(spark, path, SCHEMA, ["k"]),
        ):
            assert df.schema.names == ["k", "v"]
            assert df.collect() == []


def test_bid_store_reads_skip_only_the_current_batch(spark, tmp_path):
    path = str(tmp_path / "log")
    _write(spark, path, 0, [(1, "a")])
    _write(spark, path, 1, [(2, "b")])
    _write(spark, path, 1, [(2, "b")])  # a replay rewrites, not appends
    _write(spark, path, 2, [])
    assert sorted(map(tuple, read_bid_store(spark, path, SCHEMA).collect())) == [
        (1, "a"), (2, "b"),
    ]
    assert read_bid_store(spark, path, SCHEMA, 1).collect() == [(1, "a")]


def test_read_latest_keeps_every_row_of_the_latest_batch_per_key(spark, tmp_path):
    """Rank-style, not row_number: retention re-emits a user's full row
    set on every update, so all rows of the key's highest bid survive
    and every row of its earlier bids goes."""
    path = str(tmp_path / "store")
    _write(spark, path, 0, [(1, "a0"), (1, "a1"), (2, "b0")])
    _write(spark, path, 1, [(1, "a2"), (1, "a3")])
    _write(spark, path, 2, [(3, "c0")])
    got = sorted(map(tuple, read_latest(spark, path, SCHEMA, ["k"]).collect()))
    assert got == [(1, "a2"), (1, "a3"), (2, "b0"), (3, "c0")]
    # no keys: the whole store is one key, so the latest batch wins
    assert read_latest(spark, path, SCHEMA, []).collect() == [(3, "c0")]


# --- source guard ---------------------------------------------------------

#: sinks that keep their own store, out of this contract: the result
#: ingest commits through commitstore, the poll twin rewrites the jobs
#: snapshot the CLI shares, and rollmed uses Spark's replay-exact file
#: sink (no foreachBatch)
EXEMPT = {
    ("streaming/ingest.py", "stream_results_into_store"),
    ("streaming/state.py", "poll_stream_to_state"),
    ("streaming/rollmed.py", None),
}
SWAPS = {"rmtree", "move", "replace", "rename", "rewrite_state"}


def _scanned():
    root = pathlib.Path(pkg.__file__).parent
    files = sorted((root / "streaming").glob("*.py"))
    files += [root / "queries" / "streamrows.py", root / "pipeline" / "statestore.py"]
    return {str(f.relative_to(root)): ast.parse(f.read_text()) for f in files}


def _exempt(rel, top):
    return (rel, None) in EXEMPT or (rel, top) in EXEMPT


def _call_name(call):
    f = call.func
    return getattr(f, "attr", getattr(f, "id", None))


def test_every_foreach_batch_sink_writes_through_write_bid_store():
    """In streaming/*.py and queries/streamrows.py no code appends
    (``.mode("append")``), and every foreachBatch sink — the function
    handed to foreachBatch plus everything it calls by name — writes
    only through ``write_bid_store``: no ``DataFrame.write`` of its own
    and no rmtree/move swap."""
    trees = _scanned()
    defs = {}  # name -> [(file, def)], same-file definitions first
    for rel, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append((rel, node))

    def resolve(rel, scope, node):
        if isinstance(node, ast.Lambda):
            return [(rel, node)]
        if isinstance(node, ast.Call):
            return resolve(rel, scope, node.func)
        if isinstance(node, ast.Name):
            for sub in ast.walk(scope):
                if isinstance(sub, ast.Assign) and any(
                    getattr(t, "id", None) == node.id for t in sub.targets
                ):
                    return resolve(rel, scope, sub.value)
            cands = defs.get(node.id, [])
            same = [c for c in cands if c[0] == rel]
            return same[:1] or cands[:1]
        return []

    offenders = []
    for rel, tree in trees.items():
        for top in tree.body:
            name = getattr(top, "name", None)
            if _exempt(rel, name):
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and _call_name(node) == "mode"
                    and node.args
                    and getattr(node.args[0], "value", None) == "append"
                ):
                    offenders.append(f"{rel}:{node.lineno} append write")
                if not isinstance(node, ast.Call) or _call_name(node) != "foreachBatch":
                    continue
                todo = resolve(rel, top, node.args[0])
                seen, writes_bid = set(), False
                while todo:
                    frel, fn = todo.pop()
                    if id(fn) in seen:
                        continue
                    seen.add(id(fn))
                    for sub in ast.walk(fn):
                        if isinstance(sub, ast.Attribute) and sub.attr == "write":
                            offenders.append(f"{frel}:{sub.lineno} own write in a sink")
                        if not isinstance(sub, ast.Call):
                            continue
                        callee = _call_name(sub)
                        if callee == "write_bid_store":
                            writes_bid = True
                        elif callee in SWAPS:
                            offenders.append(f"{frel}:{sub.lineno} {callee} in a sink")
                        elif isinstance(sub.func, ast.Name):
                            todo += resolve(frel, fn, sub.func)
                if not writes_bid:
                    offenders.append(f"{rel}:{node.lineno} sink skips write_bid_store")
    assert not offenders, "streaming sinks off the bid store: " + ", ".join(
        sorted(set(offenders))
    )


def test_guard_scans_the_sinks_it_names():
    """The guard above is not vacuous: it sees foreachBatch sinks in
    the files it scans, and the exempt functions exist."""
    trees = _scanned()
    n_sinks = sum(
        isinstance(n, ast.Call) and _call_name(n) == "foreachBatch"
        for tree in trees.values()
        for n in ast.walk(tree)
    )
    assert n_sinks >= 6
    for rel, name in EXEMPT:
        assert rel in trees
        if name:
            assert any(getattr(t, "name", None) == name for t in trees[rel].body)

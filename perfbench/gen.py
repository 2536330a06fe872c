"""Deterministic benchmark inputs: the same seed gives byte-identical
files, another seed gives other ones. The program under test only ever
sees these files."""

from __future__ import annotations

import contextlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MODEL = "gpt-4o-mini"
OUTPUT_SCHEMA = json.dumps(
    {
        "type": "object",
        "properties": {"sentiment": {"type": "string"}, "score": {"type": "number"}},
        "required": ["sentiment"],
    }
)
WORDS = ("batch", "order", "late", "refund", "great", "broken", "fast", "slow",
         "price", "support", "quality", "return", "shipping", "love", "hate")
SENTIMENTS = ("positive", "negative", "neutral")


def _write_jsonl(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def pipeline_inputs(out: str, seed: int, n_docs: int, n_uploads: int,
                    lines_per_upload: int, rejected_uploads: set[int]) -> dict:
    """Documents, request uploads and the remote's result files.

    Upload ``i`` targets its own slice of documents. The uploads in
    ``rejected_uploads`` carry two unknown custom_ids and must be refused
    with 400. For accepted uploads about 5% of lines come back in the
    error file and about 10% of the output lines carry content that
    breaks the output schema. Returns the expected outcome per upload.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = [f"doc-{k:09d}" for k in rng.choice(10**9, n_docs, replace=False)]
    payload = [" ".join(rng.choice(WORDS, 12)) for _ in range(n_docs)]
    pq.write_table(pa.table({"_id": ids, "payload": payload}),
                   os.path.join(out, "docs.parquet"))

    order = rng.permutation(n_docs)
    uploads = []
    for u in range(n_uploads):
        picked = order[u * lines_per_upload:(u + 1) * lines_per_upload]
        targets = [ids[k] for k in picked]
        rejected = u in rejected_uploads
        sent = list(targets)
        if rejected:
            for pos in rng.choice(len(sent), 2, replace=False):
                sent[pos] = f"unknown-{seed}-{u}-{pos}"
        req = os.path.join(out, f"upload-{u:04d}.jsonl")
        _write_jsonl(req, (
            {"custom_id": cid, "method": "POST", "url": "/v1/chat/completions",
             "body": {"model": MODEL, "messages": [
                 {"role": "user", "content": f"rate: {payload[k]}"}]}}
            for cid, k in zip(sent, picked)
        ))
        entry = {"request": req, "rejected": rejected, "targets": sent}
        if not rejected:
            draw = rng.random(len(targets))
            errored = [c for c, d in zip(targets, draw) if d < 0.05]
            answered = [(c, d) for c, d in zip(targets, draw) if d >= 0.05]
            invalid = {c for c, d in answered if d >= 0.905}
            out_rows = []
            for c, _ in answered:
                if c in invalid:
                    content = json.dumps({"score": round(float(rng.random()), 3)})
                else:
                    content = json.dumps({"sentiment": SENTIMENTS[int(rng.integers(3))],
                                          "score": round(float(rng.random()), 3)})
                out_rows.append({"custom_id": c, "response": {"body": {"choices": [
                    {"message": {"content": content}}]}}})
            entry["output"] = os.path.join(out, f"output-{u:04d}.jsonl")
            entry["error"] = os.path.join(out, f"error-{u:04d}.jsonl")
            _write_jsonl(entry["output"], out_rows)
            _write_jsonl(entry["error"], (
                {"custom_id": c, "error": {"code": "server_error", "message": "upstream timeout"}}
                for c in errored))
            entry["completed"] = len(answered) - len(invalid)
            entry["failed"] = len(errored) + len(invalid)
        uploads.append(entry)
    return {"docs": os.path.join(out, "docs.parquet"), "uploads": uploads}


def query_tables(root: str, out: str, seed: int, sf: float) -> str:
    """The catalog's star schema at scale factor ``sf``, from the repo's
    own generator."""
    import sys

    sys.path.insert(0, root)
    from tools.make_sf import generate

    with contextlib.redirect_stdout(io.StringIO()):
        generate(sf, out, seed)
    return out

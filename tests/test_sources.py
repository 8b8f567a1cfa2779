"""JSONL source posture tests: explicit schema, skip-and-count
quarantine of malformed lines, parity with the parquet fixture."""

from __future__ import annotations

import json
import os

from insights_spark.sources.jsonl import read_documents_jsonl


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    good = [
        {"doc_id": 1, "text": "a b c", "lang": "en", "source": "s0",
         "n_chars": 5},
        {"doc_id": 2, "text": None, "lang": "en", "source": "s1",
         "n_chars": 0},
    ]
    p = tmp_path / "docs.jsonl"
    with open(p, "w") as fh:
        for g in good:
            fh.write(json.dumps(g) + "\n")
        fh.write('{"doc_id": 3, "text": "trunca\n')      # broken JSON
        fh.write("total garbage not even json\n")
        fh.write('{"doc_id": "not a number", "text": "x"}\n')  # type error
    clean, quarantine = read_documents_jsonl(spark, str(p))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == "a b c" and rows[2]["text"] is None
    q = quarantine.collect()
    assert len(q) == 3                     # every bad line counted
    assert all(r["raw"] and r["file"].endswith("docs.jsonl") for r in q)


def test_jsonl_matches_parquet_fixture(spark, tmp_path):
    """The same documents serialized as JSONL parse back value-identical
    to the parquet fixture (contract schema, not inference)."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    src = spark.read.parquet(f"{sf}/documents.parquet").limit(50)
    p = str(tmp_path / "docs_jsonl")
    src.write.json(p)
    clean, quarantine = read_documents_jsonl(spark, p)
    assert quarantine.count() == 0
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in clean.select(*src.columns).collect()}
    assert a == b

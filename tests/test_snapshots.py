"""Snapshot-manifest hygiene: the parent-chain walk and expiry utility
(the Iceberg expireSnapshots analogue for the manifest layer — round-2
VERDICT 'what's missing' #5)."""

import json
import os

import pandas as pd
import pytest

from review_recommender_spark.index.tableio import ChunkedWriter, TableIO


def _write_n(spark, io, n):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    ids = []
    for i in range(n):
        ids.append(io.write(df, "t", lineage={"rev": i}))
    return ids


def test_snapshot_chain_order(spark, tmp_path):
    io = TableIO(str(tmp_path))
    ids = _write_n(spark, io, 4)
    chain = io.snapshots("t")
    assert [m["snapshot_id"] for m in chain] == ids
    assert chain[0]["parent_snapshot_id"] is None
    for prev, cur in zip(chain, chain[1:]):
        assert cur["parent_snapshot_id"] == prev["snapshot_id"]


def test_expire_snapshots_keeps_recent_rereads_current(spark, tmp_path):
    io = TableIO(str(tmp_path))
    ids = _write_n(spark, io, 6)
    removed = io.expire_snapshots("t", keep_last=2)
    assert removed == 4
    chain = io.snapshots("t")
    assert [m["snapshot_id"] for m in chain] == ids[-2:]
    # oldest kept manifest was re-rooted
    assert chain[0]["parent_snapshot_id"] is None
    # current pointer still resolves and the table still reads
    assert io.current_snapshot("t")["snapshot_id"] == ids[-1]
    assert io.read(spark, "t").count() == 3
    # idempotent
    assert io.expire_snapshots("t", keep_last=2) == 0


def test_expire_snapshots_rejects_keep_last_zero(spark, tmp_path):
    """keep_last=0 would delete every manifest while _current.json still
    points at one (and chain[-0:] is the whole chain) — must be rejected
    up front, not half-executed."""
    from review_recommender_spark.index.tableio import TableIO
    import pytest
    io = TableIO(str(tmp_path))
    df = spark.range(3).toDF("x")
    io.write(df, "t")
    with pytest.raises(ValueError, match="keep_last"):
        io.expire_snapshots("t", keep_last=0)
    assert io.current_snapshot("t") is not None
    assert len(io.snapshots("t")) == 1


def _torn_dump(real_dump, fail_at):
    """A json.dump that writes the first ``fail_at`` documents whole, then
    dies halfway through the next one — a crash mid-commit."""
    calls = []

    def dump(obj, f, **kw):
        calls.append(obj)
        if len(calls) > fail_at:
            f.write(json.dumps(obj, **kw)[:10])
            raise OSError("simulated crash mid-write")
        real_dump(obj, f, **kw)
    return dump


@pytest.mark.parametrize("fail_at", [0, 1])
def test_crash_mid_commit_keeps_previous_manifest(spark, tmp_path,
                                                  monkeypatch, fail_at):
    """Manifest writes are atomic: a commit that dies inside json.dump
    (in the snapshot file, ``fail_at=0``, or in ``_current.json``,
    ``fail_at=1``) leaves ``current_snapshot`` on the previous manifest
    and the chain readable; a chunk rewrite that dies while writing its
    manifest leaves ``chunk_done`` answering (not done: the rewrite
    replaced the chunk directory, so resume rebuilds that chunk)."""
    io = TableIO(str(tmp_path))
    first = io.commit_snapshot("t", lineage={"rev": 0})
    with monkeypatch.context() as m:
        m.setattr(json, "dump", _torn_dump(json.dump, fail_at))
        with pytest.raises(OSError):
            io.commit_snapshot("t", lineage={"rev": 1})
    assert io.current_snapshot("t")["snapshot_id"] == first
    assert [s["snapshot_id"] for s in io.snapshots("t")] == [first]

    cw = ChunkedWriter(io, "c", n_chunks=1, input_fingerprint="fp")
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    cw.write_chunk(df, 0)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", _torn_dump(json.dump, 0))
        with pytest.raises(OSError):
            cw.write_chunk(df, 0)
    assert not cw.chunk_done(0)
    assert cw.pending_chunks() == [0]
    assert not [f for f in os.listdir(cw.chunk_dir(0)) if f.endswith(".tmp")]

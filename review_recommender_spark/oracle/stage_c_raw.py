"""The raw-occurrence Stage C plan — the byte-identity oracle for the
build's packed Stage C (``index/build.py::_stage_c_blocks``).

The raw plan is the r1-r3 build: it explodes the packed checkpoint rows
into one row per token occurrence, shuffles those rows by (term,
range_id), sorts them by doc_id reducer-side and run-length-collapses
them into postings. The packed plan instead combines map-side — one
partial row per (term, range_id) with packed posting arrays — and merges
the partials shuffle-side, moving ~50-100× fewer rows. Both must build
byte-identical posting blocks and term stats at any partitioning;
tests/test_determinism.py swaps this plan in for the build's with
``mock.patch.object(build, "_stage_c_blocks", stage_c_blocks)`` and
compares the two indexes. No engine path runs it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..index.build import BLOCK_SCHEMA, POSTINGS_BLOCKS, _encode_groups


def stage_c_blocks(local_tf: DataFrame, cfg: EngineConfig,
                   shuffle_partitions: int) -> DataFrame:
    """The raw plan with the signature of the build's ``_stage_c_blocks``:
    packed checkpoint rows → occurrence rows → one (term, range_id)
    shuffle → encoded posting blocks (``BLOCK_SCHEMA``)."""
    tfp = (_occurrence_rows(local_tf)
           .withColumn("range_id",
                       F.shiftright(F.col("doc_id"), cfg.index.range_shift)))
    return (tfp.repartition(shuffle_partitions, "term", "range_id")
            .sortWithinPartitions("term", "range_id", "doc_id")
            .mapInPandas(_encode_partitions(cfg), schema=BLOCK_SCHEMA))


def _occurrence_rows(local_tf: DataFrame) -> DataFrame:
    """Packed checkpoint rows → one row per token OCCURRENCE
    (doc_id, dl, term), exploded JVM-side — the raw plan's input (the
    build's packed plan reads the packed rows directly via
    ``_pack_partials``). Zero-token docs explode to no rows —
    correct, they have no postings."""
    return local_tf.select(
        "doc_id", "dl", F.explode("toks").alias("term"))


def _encode_partitions(cfg: EngineConfig):
    """REDUCE side of the raw plan: occurrence rows arrive hash-
    partitioned by (term, range_id) and JVM-sorted by (term, range_id,
    doc_id); runs of equal (term, range, doc) rows collapse to one
    posting with tf = run length, and each (term, range) group is
    block-encoded by the build's ``_encode_groups``. A group that
    spans an Arrow batch boundary is held back and finished with the
    next batch."""
    block_size = cfg.index.block_size

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pending: pd.DataFrame | None = None

        def encode_groups(pdf: pd.DataFrame, flush_all: bool
                          ) -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
            if len(pdf) == 0:
                return None, None
            # group-change detection on the raw columns (string-concat keys
            # are unsafe: pandas strips NUL separators, creating collisions
            # like 'tok205'+SEP+'14' == 'tok2051'+SEP+'4')
            tcol = pdf["term"].to_numpy()
            rcol = pdf["range_id"].to_numpy()
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (tcol[1:] != tcol[:-1]) | (rcol[1:] != rcol[:-1])
            remainder = None
            if not flush_all:
                # hold back the last (possibly batch-spanning) group
                last_start = int(np.flatnonzero(change)[-1])
                remainder = pdf.iloc[last_start:]
                pdf = pdf.iloc[:last_start]
                if len(pdf) == 0:
                    return remainder, None
                tcol, rcol, change = (tcol[:last_start], rcol[:last_start],
                                      change[:last_start])
            # collapse raw occurrence rows into postings: a run of equal
            # (term, range, doc) rows becomes one posting with tf = run
            # length (rows arrive sorted by term, range_id, doc_id)
            raw_docs = pdf["doc_id"].to_numpy()
            run_change = change.copy()
            run_change[1:] |= raw_docs[1:] != raw_docs[:-1]
            runs = np.flatnonzero(run_change)
            doc_ids = raw_docs[runs]
            tfs = np.diff(np.append(runs, len(pdf))).astype(np.int64)
            dls = pdf["dl"].to_numpy(dtype=np.int64)[runs]
            tcol = tcol[runs]
            rcol = rcol[runs]
            change = change[runs]
            out = _encode_groups(POSTINGS_BLOCKS, block_size, tcol, rcol,
                                 doc_ids, tfs, dls, change)
            return remainder, out

        for pdf in it:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            pending, out = encode_groups(pdf, flush_all=False)
            if out is not None and len(out):
                yield out
        if pending is not None and len(pending):
            _, out = encode_groups(pending, flush_all=True)
            if out is not None and len(out):
                yield out

    return encode

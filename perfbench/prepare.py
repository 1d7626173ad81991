"""Materialize one synthetic corpus as parquet, in a process of its own,
so the timed process starts cold and only reads the files.

    python3 perfbench/prepare.py --corpus pages --out <dir>

Writes to a temporary sibling directory and renames it into place, so
``<dir>`` either holds a complete corpus or does not exist.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from workloads import CORPORA, CORPUS_PARTITIONS, DOCS


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, choices=sorted(CORPORA))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from review_recommender_spark.corpus.pages import pages_df
    from review_recommender_spark.session import get_spark

    spec = CORPORA[args.corpus]
    kw = {"bursty": spec["bursty"], "plant": spec["plant"]}
    if spec["topics"] is not None:
        kw["topics"] = spec["topics"]
    tmp = f"{args.out}.tmp-{os.getpid()}"
    spark = get_spark("perfbench-prepare", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    try:
        pages_df(spark, DOCS, partitions=CORPUS_PARTITIONS, **kw) \
            .write.parquet(tmp)
        os.rename(tmp, args.out)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

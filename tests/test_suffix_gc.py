"""Contract of the suffix-sort stage (operators/suffix.py).

Storage, GC and publish behaviour belong to operators/stagecache.py and
are tested in tests/test_stagecache.py. This file pins what is specific
to the suffix stage: its key tracks the input documents, and its
``nlcp`` column is the sort-successor's ``lcp``.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from ojo_daps_mirror_spark.operators import suffix


def test_stage_tracks_overwritten_documents(spark, sf_dir, tmp_path):
    """Overwriting documents.parquet within one application must key a
    fresh build: the second call's rows equal a fresh build's."""
    src = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    live = tmp_path / "live"
    live.mkdir()
    docs = live / "documents.parquet"
    src.head(5).to_parquet(docs, index=False)
    small = suffix.adjacent_suffixes(spark, str(live), cap=8).count()

    src.head(20).to_parquet(docs, index=False)
    t = time.time() + 5
    os.utime(docs, (t, t))
    again = suffix.adjacent_suffixes(spark, str(live), cap=8).count()

    fresh_dir = tmp_path / "fresh"
    fresh_dir.mkdir()
    src.head(20).to_parquet(fresh_dir / "documents.parquet", index=False)
    fresh = suffix.adjacent_suffixes(spark, str(fresh_dir), cap=8).count()

    assert fresh > small
    assert again == fresh, "stage built on the old documents was served"


def test_stage_nlcp_is_successor_lcp(spark, sf_dir):
    """v3 stage contract: ``nlcp`` on every row equals the sort-
    SUCCESSOR's ``lcp`` (LCP is symmetric), NULL on the global last
    row — the column the ExactSubstr consumers read instead of
    re-aggregating neighbour contributions per query."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = suffix.adjacent_suffixes(spark, sf_dir, cap=8)
    w = Window.orderBy("suf", "doc_id", "p")
    chk = df.select(
        "doc_id", "p", "lcp", "nlcp",
        F.lead("lcp").over(w).alias("succ_lcp"),
    )
    bad = chk.where(
        ~(
            (F.col("nlcp").isNull() & F.col("succ_lcp").isNull())
            | (F.col("nlcp") == F.col("succ_lcp"))
        )
    ).count()
    assert bad == 0

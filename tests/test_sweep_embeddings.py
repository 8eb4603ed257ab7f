"""The sweep's embedded path: ``with_embeddings=True`` stores each
chunk's 384-d vector beside its text."""

from __future__ import annotations

import os
import sys

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (  # noqa: E402
    EMBED_DIM,
    embed_text,
    sweep,
)


def test_sweep_with_embeddings_stores_vectors(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    got = sweep(spark, sf_dir, store, {"events": ("ts", "event_id")}, with_embeddings=True)
    assert got == {"events": 1000}
    vecs = spark.read.parquet(os.path.join(store, "vectors"))
    rows = vecs.select("id", "values", embed_text(F.col("text")).alias("expect")).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["values"] is not None and len(r["values"]) == EMBED_DIM, r["id"]
        assert np.array_equal(
            np.asarray(r["values"], dtype=np.float32), np.asarray(r["expect"], dtype=np.float32)
        ), r["id"]

"""Mode parity for the conf-driven lineage truncation (r12, verdict #2):
``cut_lineage`` in ``reliable`` mode must produce row-identical results to
the default ``localCheckpoint`` mode on the operators that truncate lineage
in their hot loops."""

from __future__ import annotations

import contextlib
import glob
import os
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

from transcription_lakehouse_spark.ckpt import DIR_CONF, MODE_CONF, cut_lineage
from transcription_lakehouse_spark.operators.graph import (
    connected_components,
)
from transcription_lakehouse_spark.operators.graph_ann import (
    build_knn_graph,
    graph_topk,
)

def _embeddings_df(spark, n=80, dims=8):
    import random

    random.seed(7)
    rows = [
        (i, [random.gauss(0, 1.0) for _ in range(dims)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@contextlib.contextmanager
def _mode(spark, mode: str):
    spark.conf.set(MODE_CONF, mode)
    try:
        yield
    finally:
        spark.conf.unset(MODE_CONF)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cut_lineage_reliable_sets_checkpoint_dir(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    with _mode(spark, "reliable"):
        spark.conf.set(DIR_CONF, str(tmp_path / "ckpt"))
        try:
            out = cut_lineage(df)
        finally:
            spark.conf.unset(DIR_CONF)
        assert _rows(out) == _rows(df)
    # the context keeps the first checkpoint dir it was given, which an
    # earlier reliable-mode test may have set: check the dir actually used
    used = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert used.isDefined()
    # reliable checkpoints truncate lineage to an RDD scan backed by
    # files under the checkpoint dir
    assert glob.glob(os.path.join(urlparse(used.get()).path, "rdd-*"))


def test_cut_lineage_reliable_refuses_node_local_dir_on_cluster(
    spark, monkeypatch
):
    """With no checkpoint dir configured, a non-local master must fail
    loudly instead of checkpointing into each node's own $TMPDIR."""
    df = spark.range(3)
    sc = spark.sparkContext

    class _NoDir:
        def sc(self):
            return self

        def getCheckpointDir(self):
            return self

        def isDefined(self):
            return False

    monkeypatch.setattr(sc, "master", "spark://cluster:7077")
    monkeypatch.setattr(sc, "_jsc", _NoDir())
    with _mode(spark, "reliable"):
        with pytest.raises(RuntimeError, match=DIR_CONF):
            cut_lineage(df)


@pytest.mark.parametrize("algorithm", ["hash-to-min", "two-phase"])
def test_connected_components_mode_parity(spark, algorithm):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (7, 3)], "a long, b long"
    )
    with _mode(spark, "local"):
        local = _rows(
            connected_components(
                edges, "a", "b", algorithm=algorithm, driver_max_edges=0
            )
        )
    with _mode(spark, "reliable"):
        rel = _rows(
            connected_components(
                edges, "a", "b", algorithm=algorithm, driver_max_edges=0
            )
        )
    assert local == rel
    assert local  # sanity: non-empty


def test_graph_walk_mode_parity(spark):
    emb = _embeddings_df(spark, n=80, dims=8)
    g = build_knn_graph(
        emb, "vec_id", "embedding", k_graph=4, n_bands=4, planes_per_band=2
    )
    queries = emb.filter(F.col("vec_id") % 10 == 0)

    def run():
        return _rows(
            graph_topk(
                queries, emb, g, "vec_id", "embedding",
                k=3, beam=6, hops=2, seed_bands=2, planes_per_band=2,
            )
        )

    with _mode(spark, "local"):
        local = run()
    with _mode(spark, "reliable"):
        rel = run()
    assert local == rel
    assert local

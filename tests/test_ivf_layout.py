"""Persisted IVF layout: save/load round-trip answers identically, and a
probe query's physical plan prunes to the nprobe centroid partitions."""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile

import pytest

from serenedb_spark import queries as Q
from serenedb_spark.operators import similarity as SIM
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def saved_ivf(spark):
    d = tempfile.mkdtemp(prefix="serene_ivf_")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, metric="cosine")
    SIM.ivf_save(ivf, d)
    yield ivf, SIM.ivf_load(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_roundtrip_same_answers(saved_ivf):
    mem, disk = saved_ivf
    a = [tuple(r) for r in SIM.ivf_search(mem, Q.QUERY_VEC, k=10, nprobe=4).collect()]
    b = [tuple(r) for r in SIM.ivf_search(disk, Q.QUERY_VEC, k=10, nprobe=4).collect()]
    assert a == b and len(a) == 10
    assert mem.centroids == disk.centroids


def test_probe_prunes_partitions(saved_ivf):
    _, disk = saved_ivf
    plan = SIM.ivf_search(disk, Q.QUERY_VEC, k=10, nprobe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain("formatted")
    txt = buf.getvalue()
    assert "PartitionFilters" in txt and "centroid_id" in txt, txt[:1500]


def test_sq8_layout_roundtrip(spark, tmp_path):
    """An SQ8 IVF index saves its quantizer with the layout: the loaded
    index answers from the same codes."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    mem = SIM.ivf_build(emb, "embedding", "vec_id", nlist=8, quant="sq8")
    SIM.ivf_save(mem, str(tmp_path))
    disk = SIM.ivf_load(spark, str(tmp_path))
    assert (disk.quant.mins, disk.quant.maxs) == (mem.quant.mins,
                                                  mem.quant.maxs)
    for rf in (None, 2):
        a, b = ([tuple(r) for r in SIM.ivf_search(
            ix, Q.QUERY_VEC, k=10, nprobe=4, rerank_factor=rf).collect()]
            for ix in (mem, disk))
        assert a == b and len(a) == 10

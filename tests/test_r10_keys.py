"""r10 keys: Python DataSource filter pushdown + TWS timer execution."""

from __future__ import annotations

import pytest

import ls_hadoop_3_0_spark as engine
from ls_hadoop_3_0_spark.sources.io import _PYDS_PARTS, _pyds_pushdown_scan, scratch

from .conftest import SF_DIR


def test_pyds_pushdown_prunes_partitions(spark):
    """pushFilters-consumed range predicates must shrink the PLANNED
    input partitions: only parts 5 and 6 can match part>=5 AND
    row_id<13000, so 2 of 8 splits are planned (the unfiltered sibling
    `scan_python_datasource` plans all 8 — tests/test_r8b_keys.py)."""
    scan = _pyds_pushdown_scan(spark)
    assert scan.rdd.getNumPartitions() == 2


def test_pyds_pushdown_conf_gate_is_real(spark):
    """Spark 4.1 hard-errors when a reader implements pushFilters but
    the pushdown conf is off (DATA_SOURCE_PUSHDOWN_DISABLED) — the error
    itself proves our reader genuinely overrides pushFilters (a reader
    inheriting the default would analyze fine)."""
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import AnalysisException

    _pyds_pushdown_scan(spark)  # registers the source, enables the conf
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        bad = (
            spark.read.format("synthlog_pushdown")
            .option("parts", str(_PYDS_PARTS))
            .load()
            .filter(F.col("part") >= 5)
        )
        with pytest.raises(AnalysisException, match="PUSHDOWN_DISABLED"):
            bad.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_minhash_class_collapse_equivalence(spark):
    """The adaptive exact-class collapse must produce EXACTLY the
    direct pipeline's pairs and component labels on a duplicate-heavy
    corpus (every doc duplicated once — the probe picks the collapsed
    path; the direct result is computed by bypassing the probe)."""
    from pyspark.sql import functions as F

    from ls_hadoop_3_0_spark.llm import dedup
    from ls_hadoop_3_0_spark.tables import load

    base = load(spark, SF_DIR, "documents").select("doc_id", "text")
    docs = base.unionAll(
        base.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    assert dedup._dup_ratio_material(docs), "probe must pick collapse"

    sh, cand = dedup.minhash_candidates(docs)
    direct = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup._verify_pairs(sh, cand, dedup.MINHASH_JACCARD_T).collect()
    }
    collapsed = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_pairs(docs).collect()
    }
    assert collapsed == direct and len(direct) > 0

    direct_labels = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.connected_components(
            dedup._verify_pairs(sh, cand, dedup.MINHASH_JACCARD_T)
        ).collect()
    }
    collapsed_labels = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.minhash_components(docs).collect()
    }
    assert collapsed_labels == direct_labels and len(direct_labels) > 0


def test_dup_probe_is_conservative_on_fixture(spark):
    """The driver fixtures are near-duplicate-free — the probe must pick
    the DIRECT path there (no class/expansion shuffles added to the
    stamped keys' plans at fixture scale)."""
    from ls_hadoop_3_0_spark.llm import dedup
    from ls_hadoop_3_0_spark.tables import load

    assert not dedup._dup_ratio_material(load(spark, SF_DIR, "documents"))


def test_pyds_pushdown_consumption_evidence(spark):
    """Every surviving row must carry the reader's own consumed-filter
    count (2) — produced by the executing reader, not a literal."""
    rows = engine.QUERIES["scan_python_pushdown"](spark, SF_DIR).collect()
    assert {r["part"] for r in rows} == {5, 6}
    assert all(r["filters_pushed"] == 2 for r in rows)
    assert all(r["n_rows"] > 0 for r in rows)


@pytest.mark.streaming
def test_stream_python_datasink_two_phase(spark):
    """The streaming Python sink must publish rows only through the
    per-epoch manifest (task part files + driver commit line), leave no
    uncommitted .tmp residue, and read back exactly the committed
    total."""
    import glob
    import os

    row = engine.QUERIES["stream_python_datasink"](spark, SF_DIR).collect()[0]
    assert row["matches_manifest"] is True
    assert row["n_rows"] > 0
    path = scratch(SF_DIR, "stream_python_datasink")
    assert os.path.exists(f"{path}/_MANIFEST.jsonl")
    assert not glob.glob(f"{path}/*.tmp"), "uncommitted task files leaked"


def test_embedding_class_collapse_equivalence(spark):
    """The adaptive collapse applied to embedding_pairs must produce
    EXACTLY the direct pipeline's pairs on a duplicate-heavy corpus
    (every vector duplicated once — identical (label, u) classes)."""
    from pyspark.sql import functions as F

    from ls_hadoop_3_0_spark.llm import dedup
    from ls_hadoop_3_0_spark.llm.embeddings import normalized_embeddings
    from ls_hadoop_3_0_spark.tables import load

    base = load(spark, SF_DIR, "embeddings")
    dup = base.unionAll(
        base.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            *[c for c in base.columns if c != "vec_id"],
        )
    )
    e = normalized_embeddings(dup).localCheckpoint(eager=False)
    direct = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in dedup._verify_cosine(
            e, dedup.embedding_candidates(e), dedup.EMB_COSINE_T
        ).collect()
    }
    collapsed = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in dedup.embedding_pairs(normalized_embeddings(dup)).collect()
    }
    assert collapsed == direct and len(direct) > 0

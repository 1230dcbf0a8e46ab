"""Persisted artifacts follow their source files: a dataset regenerated
in place is rebuilt, never re-attached, in the same session and after
the catalog entries of the bucketed layouts are dropped."""

from __future__ import annotations

import glob
import json
import os
import shutil

import duckdb
from pyspark.sql.types import LongType, StructField, StructType

from edgelake_spark import artifacts
from edgelake_spark.catalog import TESTDATA_TABLES
from edgelake_spark.queries import ORACLE_SQL, SPARK_QUERIES
from tests.conftest import SF_DIR, SF_DIR_MED, spark_jobs
from tests.test_oracle_parity import _rows_to_multiset

#: one gate per persisted artifact family: bucketed layouts, IVF
#: centroids + inverted lists, the PCA model, the PQ, SQ8 and BQ code
#: tables, winnowing fingerprints, a consumer of the __mh_pairs table
#: and one of the connected-components cluster map
GATES = (
    "orders_bucketed_join",
    "emb_ivf_topk",
    "emb_pca_project",
    "emb_pq_adc_topk",
    "emb_sq8_recon_error",
    "emb_bq_hamming_topk",
    "doc_winnow_fp",
    "doc_split_leakage",
    "doc_cluster_sizes",
)


SCHEMA = StructType([StructField("x", LongType())])


def _copy_tables(src_dir, dst_dir):
    for t in TESTDATA_TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copyfile(src, os.path.join(dst_dir, f"{t}.parquet"))


def _assert_gates_match_oracle(spark, sf_dir, phase, gates=GATES):
    """Run ``gates`` on both engines; return each gate's Spark rows."""
    duck = duckdb.connect()
    rows = {}
    try:
        for t in TESTDATA_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in gates:
            df = SPARK_QUERIES[name](spark, sf_dir)
            res = duck.execute(ORACLE_SQL[name])
            got = _rows_to_multiset(df.columns, [tuple(r) for r in df.collect()])
            want = _rows_to_multiset([d[0] for d in res.description], res.fetchall())
            assert got == want, f"{phase}: {name} differs from the oracle"
            rows[name] = got
    finally:
        duck.close()
    return rows


def _drop_bucketed_tables(spark):
    for t in spark.catalog.listTables():
        if t.name.startswith("bucketed_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_regenerated_dataset_rebuilds_every_artifact(spark, tmp_path):
    ds = tmp_path / "ds"
    ds.mkdir()
    root = artifacts.root(spark)
    before = set(os.listdir(root)) if os.path.isdir(root) else set()
    try:
        _copy_tables(SF_DIR, ds)
        _assert_gates_match_oracle(spark, str(ds), "first build")
        # regenerate in place: the same paths now hold another dataset
        _copy_tables(SF_DIR_MED, ds)
        _assert_gates_match_oracle(spark, str(ds), "same session")
        _drop_bucketed_tables(spark)
        _assert_gates_match_oracle(spark, str(ds), "after catalog drop")
    finally:
        _drop_bucketed_tables(spark)
        for name in set(os.listdir(root)) - before:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def test_rewritten_corpus_rebuilds_the_minhash_index(spark, tmp_path):
    """The LSH runners read the persisted MinHash-LSH index. A
    documents.parquet rewritten in place rebuilds both index kinds (the
    signatures and the band keys), the runners return the new corpus's
    rows, and the old index states are swept."""
    gates = ("doc_minhash_pairs", "doc_dedup_clusters")
    ds = tmp_path / "ds"
    ds.mkdir()
    doc = str(ds / "documents.parquet")

    def index_dirs():
        out = {}
        for kind in ("minhash_sig", "minhash_bands"):
            prefix = artifacts.path(spark, doc, kind, "").rsplit("_", 1)[0]
            out[kind] = sorted(glob.glob(glob.escape(prefix) + "_*"))
        return out

    try:
        _copy_tables(SF_DIR, ds)
        old_rows = _assert_gates_match_oracle(spark, str(ds), "first build", gates)
        old = index_dirs()
        assert all(len(dirs) == 1 for dirs in old.values()), old
        # a warm call reads the index: nothing is rebuilt
        _assert_gates_match_oracle(spark, str(ds), "warm", gates)
        assert index_dirs() == old

        shutil.copyfile(os.path.join(SF_DIR_MED, "documents.parquet"), doc)
        new_rows = _assert_gates_match_oracle(spark, str(ds), "rewritten", gates)
        assert all(new_rows[g] != old_rows[g] for g in gates)
        new = index_dirs()
        for kind, dirs in new.items():
            assert len(dirs) == 1 and dirs != old[kind], (kind, old[kind], dirs)
    finally:
        for dirs in index_dirs().values():
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)


def test_incomplete_artifact_is_rebuilt_and_stale_states_swept(spark, tmp_path):
    """A directory without a matching marker is rebuilt, never read; a
    build removes the superseded state of the same source and kind."""
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    builds = []

    def write(path):
        builds.append(path)
        os.makedirs(path)
        return SCHEMA

    p1, schema = artifacts.ensure(spark, str(src), "t_store", "v", write)
    assert os.path.exists(os.path.join(p1, artifacts.MARKER))
    assert artifacts.ensure(spark, str(src), "t_store", "v", write) == (p1, SCHEMA)
    assert builds == [p1] and schema == SCHEMA

    # an interrupted build: files but no marker
    os.remove(os.path.join(p1, artifacts.MARKER))
    with open(os.path.join(p1, "partial"), "w") as fh:
        fh.write("x")
    assert artifacts.ensure(spark, str(src), "t_store", "v", write) == (p1, SCHEMA)
    assert builds == [p1, p1]
    assert not os.path.exists(os.path.join(p1, "partial"))

    # the source is regenerated: new state, old one swept
    src.write_bytes(b"v2 longer")
    p2, _ = artifacts.ensure(spark, str(src), "t_store", "v", write)
    assert p2 != p1 and builds[-1] == p2
    assert not os.path.exists(p1)
    shutil.rmtree(p2)


def test_warm_read_uses_recorded_schema_and_old_marker_rebuilds(spark, tmp_path):
    """A built artifact is read with the schema its marker records, so a
    warm read infers nothing and starts no Spark job. A marker from
    before schemas were recorded counts as incomplete: rebuilt once."""
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    builds = []

    def build():
        builds.append(1)
        return spark.range(5).selectExpr("id AS x", "CAST(id AS DOUBLE) AS y")

    first = artifacts.parquet(spark, str(src), "t_schema", "v", build)
    path = artifacts.path(spark, str(src), "t_schema", "v")
    try:
        assert sorted(first.collect()) == sorted(build().collect())
        builds.clear()
        warm, jobs = spark_jobs(
            spark, lambda: artifacts.parquet(spark, str(src), "t_schema", "v", build)
        )
        assert jobs == 0 and not builds
        assert warm.schema == spark.read.parquet(path).schema

        # the marker as it was written before it recorded the schema
        marker = os.path.join(path, artifacts.MARKER)
        with open(marker) as fh:
            key = json.load(fh)
        del key["schema"]
        with open(marker, "w") as fh:
            json.dump(key, fh)
        artifacts.parquet(spark, str(src), "t_schema", "v", build)
        artifacts.parquet(spark, str(src), "t_schema", "v", build)
        assert builds == [1]
        with open(marker) as fh:
            assert "schema" in json.load(fh)
    finally:
        shutil.rmtree(path, ignore_errors=True)

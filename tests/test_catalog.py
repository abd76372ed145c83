"""Table loads (sources.catalog, sources.realistic): a parquet schema is
inferred once per file version, and every load is still a fresh
relation over the file as it is now."""

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from recommendation_system_spark_ml_spark.sources import realistic
from recommendation_system_spark_ml_spark.sources.catalog import (
    TABLES, load, path_for, read_parquet)
from tests.conftest import SF_SMOKE

_groups = itertools.count()


def _jobs(spark, fn):
    """Run fn under a job group of its own; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"catalog_jobs_{next(_groups)}"
    sc.setJobGroup(group, "catalog job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------ schema memo

def test_second_load_of_every_table_starts_no_job(spark):
    first = [load(spark, SF_SMOKE, t) for t in TABLES]
    again, jobs = _jobs(spark, lambda: [load(spark, SF_SMOKE, t) for t in TABLES])
    assert jobs == [], f"repeat loads started jobs {jobs}"
    assert [df.schema for df in again] == [df.schema for df in first]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """The failure arm: the same path rewritten with an added column and
    a changed type reads back with the new schema and rows."""
    sf = str(tmp_path)
    path = path_for(sf, "region")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64()),
                             "r_name": pa.array(["A", "B"], pa.string())}),
                   path)
    old = load(spark, sf, "region")
    assert old.dtypes == [("r_regionkey", "bigint"), ("r_name", "string")]
    assert sorted(old.collect()) == [(0, "A"), (1, "B")]

    pq.write_table(pa.table({
        "r_regionkey": pa.array(["k7", "k8", "k9"], pa.string()),
        "r_name": pa.array(["X", "Y", "Z"], pa.string()),
        "r_comment": pa.array([1.5, None, 2.5], pa.float64())}), path)
    new, jobs = _jobs(spark, lambda: load(spark, sf, "region"))
    assert jobs, "the rewritten file was read with a stored schema"
    assert new.dtypes == [("r_regionkey", "string"), ("r_name", "string"),
                          ("r_comment", "double")]
    assert sorted(new.collect(), key=lambda r: r[0]) == [
        ("k7", "X", 1.5), ("k8", "Y", None), ("k9", "Z", 2.5)]
    _, jobs = _jobs(spark, lambda: load(spark, sf, "region"))
    assert jobs == []


def test_inference_conf_change_infers_again(spark, tmp_path):
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert df.dtypes == [("b", "string")]
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, before)


def test_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as e:
        load(spark, str(tmp_path / "no_such_sf"), "region")
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_each_load_is_a_fresh_relation(spark):
    """Two loads of one table join on a different column of each side:
    each load has its own attribute ids, so the sides stay apart."""
    a = load(spark, SF_SMOKE, "nation")
    b = load(spark, SF_SMOKE, "nation")
    assert a is not b
    rows = a.collect()
    want = sum(x.n_regionkey == y.n_nationkey for x in rows for y in rows)
    assert want > 0
    assert a.join(b, a["n_regionkey"] == b["n_nationkey"]).count() == want


# ------------------------------------------------------ realistic corpora

def test_second_realistic_load_starts_no_job(spark):
    for build in (realistic.realistic_documents, realistic.realistic_embeddings):
        first = build(spark, SF_SMOKE)
        again, jobs = _jobs(spark, lambda: build(spark, SF_SMOKE))
        assert jobs == [], f"{build.__name__} started jobs {jobs} before an action"
        assert again.schema == first.schema
        assert again.count() == first.count()

import importlib
import shutil

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cascading_solr_spark.spec import IndexSpec

#: positional, with ``lang`` and ``repo`` keyword fields and ``path`` as a
#: text field
TIER_SPEC = IndexSpec(
    num_shards=3, salt_buckets=2, block_size=16, positions=True,
    keyword_fields=("lang", "repo"), text_fields=("path",),
)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cascading_solr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture
def distributed_tier(monkeypatch):
    """Force every bounded request onto the distributed tier — ranked
    requests, their unscored match-all and pure-filter pages, and the
    facet counts: no driver-local read is under a cap of 0 bytes — and
    every append and delete onto the Spark writer (a write cap of 0).  Job
    pins and plan guards of the Spark path use this."""
    from cascading_solr_spark.indexing.build import Index

    monkeypatch.setattr(Index, "LOCAL_SCAN_MAX_BYTES", 0)
    monkeypatch.setattr(Index, "LOCAL_WRITE_MAX_BYTES", 0)


@pytest.fixture
def search_module():
    """The module ``cascading_solr_spark.query.search``.  The package
    re-exports the function ``search`` under that attribute name, so a
    dotted lookup through ``cascading_solr_spark.query`` reaches the
    function; patch the module through this fixture instead."""
    return importlib.import_module("cascading_solr_spark.query.search")


@pytest.fixture(scope="session")
def tier_indexes(spark, tmp_path_factory):
    """Dirs of a plain TIER_SPEC index of 240 synthetic files, and of a copy
    with every 7th id deleted and then a 60-file segment appended."""
    from cascading_solr_spark.corpus import synth_corpus
    from cascading_solr_spark.indexing import (
        append_documents,
        build_index,
        delete_documents,
    )

    root = tmp_path_factory.mktemp("tier")
    plain = str(root / "plain")
    corpus = synth_corpus(spark, 240, partitions=3)
    build_index(spark, corpus, TIER_SPEC, plain)
    mut = str(root / "mut")
    shutil.copytree(plain, mut)
    delete_documents(spark, mut, list(range(0, 240, 7)))
    batch = synth_corpus(spark, 60, partitions=2).withColumn(
        "repo", F.concat(F.lit("new/"), "repo")
    )
    append_documents(spark, mut, batch)
    return {"plain": plain, "mut": mut}

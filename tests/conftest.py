import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from sparkforward.session import get_spark, release_caches

    s = get_spark(app_name="sparkforward-tests", cores=4, shuffle_partitions=4)
    yield s
    # entries still cached at the end would leave their temp dirs behind:
    # a stopped session's entries are only evicted by a later cache access
    release_caches()
    s.stop()


@pytest.fixture(scope="session")
def index_variants(spark, tmp_path_factory):
    """Paths of one small index per on-disk layout the loader composes:
    ``plain``; ``deleted`` (data_avgdl != avgdl); ``lsm`` (a 3-deep
    additive stack whose appends tombstone resharded terms); ``terms_dir``
    (a delete's dictionary override under an lsm stack)."""
    from pyspark.sql import functions as F

    from sparkforward.append import append_to_index, delete_docs
    from sparkforward.postings import build_inverted_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = F.col("doc_id").cast("long")
    root = tmp_path_factory.mktemp("index_variants")
    paths = {}

    def build(name, below):
        paths[name] = p = str(root / name)
        build_inverted_index(
            docs.filter(d < below), p, salt_threshold=300, n_salt=8,
            block_size=32, num_partitions=4, target_shard_postings=80,
        )
        return p

    def append(p, lo, hi):
        append_to_index(
            spark, p, docs.filter((d >= lo) & (d < hi)), num_partitions=4, mode="lsm"
        )

    build("plain", 1 << 30)
    delete_docs(spark, build("deleted", 1 << 30), docs.filter(d % 7 == 3).select(d))
    p = build("lsm", 300)
    append(p, 300, 400)
    append(p, 400, 1 << 30)
    p = build("terms_dir", 400)
    delete_docs(spark, p, docs.filter((d < 400) & (d % 7 == 3)).select(d))
    append(p, 400, 1 << 30)
    return paths

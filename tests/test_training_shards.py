"""Deterministic training-shard writer: shard assignment is a pure function
of row content (invariant to input partitioning), per-shard row order is
reproducible, and the manifest matches an independent pandas computation."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from seisdb_spark.queries.extensions import packing_assignment
from seisdb_spark.sources.tables import (
    load_table,
    shard_assignment,
    shard_manifest,
    write_training_shards,
)
from tests.conftest import SF_DIR, jobs_run

N = 8


def _py_shard(key: int, n: int = N, salt: str = "") -> int:
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16) % n


def _py_h32(key: int, salt: str = "") -> int:
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)


def test_shard_assignment_matches_python_md5(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    got = docs.select("doc_id", shard_assignment("doc_id", N).alias("shard")).collect()
    assert len(got) == 50
    for r in got:
        assert r.shard == _py_shard(r.doc_id), r


def test_write_shards_deterministic_across_input_layouts(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    man_a = write_training_shards(docs, out_a, "doc_id", n_shards=N).toPandas()
    # adversarial input layout: different partitioning + row order
    scrambled = docs.repartition(7).sortWithinPartitions("lang")
    man_b = write_training_shards(scrambled, out_b, "doc_id", n_shards=N).toPandas()

    key = ["shard"]
    pd.testing.assert_frame_equal(
        man_a.sort_values(key).reset_index(drop=True),
        man_b.sort_values(key).reset_index(drop=True),
    )

    # per-shard row SEQUENCES (not just sets) must be identical
    for shard in range(N):
        pa = pd.read_parquet(os.path.join(out_a, f"shard={shard}"))
        pb = pd.read_parquet(os.path.join(out_b, f"shard={shard}"))
        assert list(pa.doc_id) == list(pb.doc_id), f"shard {shard} order differs"
        assert all(_py_shard(d) == shard for d in pa.doc_id)

    # every row landed exactly once
    total = sum(
        len(pd.read_parquet(os.path.join(out_a, f"shard={s}"))) for s in range(N)
    )
    assert total == docs.count()


def test_manifest_checksum_matches_pandas(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    sharded = docs.withColumn("shard", shard_assignment("doc_id", N))
    man = shard_manifest(sharded, "doc_id").toPandas().set_index("shard")

    pdf = docs.toPandas()
    pdf["shard"] = pdf.doc_id.map(_py_shard)
    pdf["h"] = pdf.doc_id.map(_py_h32)
    want = pdf.groupby("shard").agg(n_rows=("doc_id", "size"), key_checksum=("h", "sum"))
    for shard, row in want.iterrows():
        assert man.loc[shard, "n_rows"] == row.n_rows
        assert man.loc[shard, "key_checksum"] == row.key_checksum


def test_salt_changes_assignment(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    a = docs.select(shard_assignment("doc_id", N).alias("s")).toPandas().s
    b = docs.select(shard_assignment("doc_id", N, salt="v2").alias("s")).toPandas().s
    assert not (a == b).all(), "salt must reshuffle shard assignment"

@pytest.mark.parametrize(("key", "n_jobs"), [("doc_id", 2), ("text", 3)])
def test_write_training_shards_reads_back_the_written_schema(spark, tmp_path, key, n_jobs):
    """The manifest is built over the shards read back with the schema
    that was written (the frame's columns plus ``shard int``), so the
    read-back runs no footer job: the call runs the write's jobs only, 2
    for a plain frame and 3 for a packed one with its extra columns (3
    and 4 while the schema was inferred).  The manifest still equals the
    one over the frame itself."""
    docs = spark.createDataFrame(
        [(i, "en", f"w{i} x y{i % 3}") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    df = docs if key == "doc_id" else packing_assignment(docs, n_shards=4)
    manifests = []

    def write():
        manifests.append(write_training_shards(df, str(tmp_path / key), key, n_shards=4))

    assert jobs_run(spark, write) == n_jobs
    want = shard_manifest(df.withColumn("shard", shard_assignment(key, 4)), key)
    assert sorted(map(tuple, manifests[0].collect())) == sorted(
        map(tuple, want.collect())
    )

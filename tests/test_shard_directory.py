"""One sharded layout: the uniform table is the split table under the
identity directory, chunked removes match the single-node filter, a
parquet round trip changes no answer, and bad shard counts are refused."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfilter_spark import sketches
from qfilter_spark.dist import SketchSpec
from qfilter_spark.dist.sharded import (ShardDirectory, _emit_chunks,
                                        build_sharded_filter,
                                        build_sharded_filter_split,
                                        insert_sharded, probe_sharded,
                                        remove_sharded, remove_sharded_split,
                                        retire_split_filter, shard_bits_for,
                                        sharded_to_single)

SPEC = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01), "hash_col", "h")


def _hashes(spark, lo, hi, parts=4):
    return (spark.range(lo, hi).repartition(parts)
            .select(F.xxhash64(F.col("id").cast("long")).alias("h")))


@pytest.mark.parametrize("n", [0, 3, 48, -4])
def test_shard_bits_for_refuses_non_powers_of_two(n):
    with pytest.raises(ValueError, match=f"got {n}"):
        shard_bits_for(n)


def test_shard_bits_for_powers_of_two():
    assert [shard_bits_for(n) for n in (1, 2, 64, 1 << 20)] == [0, 1, 6, 20]


def test_shard_prefix_wider_than_quotient_refused(spark):
    spec = SketchSpec("rsqf", dict(capacity=64, fp_rate=0.01), "hash_col", "h")
    qbits = spec.make().filter.qbits
    n_shards = 1 << (qbits + 1)
    with pytest.raises(ValueError, match=f"{qbits}-bit quotient"):
        build_sharded_filter(_hashes(spark, 0, 10), spec, n_shards=n_shards)
    with pytest.raises(ValueError, match=f"{qbits}-bit quotient"):
        ShardDirectory.uniform(spec, n_shards)


def test_uniform_table_is_identity_split_table(spark, tmp_path):
    """With a row bound above every shard's size the split build plans the
    identity directory, and its table equals the uniform build's row for
    row."""
    df = _hashes(spark, 0, 3000)
    uniform = build_sharded_filter(df, SPEC, n_shards=8)
    split, directory = build_sharded_filter_split(
        df, SPEC, n_shards=8, max_fps_per_row=10**6, path=str(tmp_path / "t"))
    try:
        assert np.array_equal(directory.starts,
                              ShardDirectory.uniform(SPEC, 8).starts)
        rows = lambda d: sorted(  # noqa: E731
            (r["key"], r["shard"], r["n_fps"], bytes(r["payload"]))
            for r in d.collect())
        a, b = rows(uniform), rows(split)
        assert len(a) == 8
        assert all(key == shard for key, shard, _, _ in a)
        assert a == b
    finally:
        retire_split_filter(split)


def test_multi_chunk_remove_equals_single_node(spark):
    """Every row receives several removal chunks (8 removal partitions, a
    50-fingerprint flush bound); the row applies them all, and the result
    equals single-node remove_hashes."""
    df = _hashes(spark, 0, 4000)
    filt = build_sharded_filter(df, SPEC, n_shards=4).cache()
    removals = _hashes(spark, 0, 1500, parts=8)
    identity = ShardDirectory.uniform(SPEC, 4)
    chunks = (_emit_chunks(removals, SPEC, identity, 50)
              .groupBy("key").count().collect())
    assert len(chunks) == 4 and min(r["count"] for r in chunks) > 1
    after = remove_sharded_split(filt, removals, SPEC, identity, SPEC,
                                 max_buffer=50)
    single = sketches.loads(sharded_to_single(filt, SPEC, 4))
    h = np.array([r["h"] for r in removals.collect()],
                 dtype=np.int64).view(np.uint64)
    assert single.filter.remove_hashes(h) == 1500
    merged = sketches.loads(sharded_to_single(after, SPEC, 4))
    assert np.array_equal(merged.filter.fingerprints(),
                          single.filter.fingerprints())
    filt.unpersist()


def test_parquet_round_trip_answers_unchanged(spark, tmp_path):
    """A table written to parquet and read back answers probe, insert and
    remove exactly like the in-memory table."""
    df = _hashes(spark, 0, 3000)
    mem = build_sharded_filter(df, SPEC, n_shards=8).cache()
    path = str(tmp_path / "filter")
    mem.write.parquet(path)
    disk = spark.read.parquet(path)

    probes = _hashes(spark, 2000, 5000)
    stats = lambda t: tuple(  # noqa: E731
        probe_sharded(probes, "h", t, 8, SPEC)
        .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert stats(mem) == stats(disk)
    assert stats(disk)[1] >= 1000  # the 1000 inserted probes are found

    new = _hashes(spark, 3000, 4000)
    fps = lambda t: sketches.loads(  # noqa: E731
        sharded_to_single(t, SPEC, 8)).filter.fingerprints()
    assert np.array_equal(fps(insert_sharded(mem, new, SPEC, 8, SPEC)),
                          fps(insert_sharded(disk, new, SPEC, 8, SPEC)))
    rm = _hashes(spark, 0, 1000)
    assert np.array_equal(fps(remove_sharded(mem, rm, "h", 8, SPEC)),
                          fps(remove_sharded(disk, rm, "h", 8, SPEC)))
    mem.unpersist()

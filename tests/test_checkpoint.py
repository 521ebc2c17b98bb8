"""Checkpoint/resume + lineage (north_rule: resumable from checkpoint with
per-partition lineage rows; resumed result byte-identical to uninterrupted).
"""

import os

import pyarrow.parquet as pq
import pytest

from hyperloglog_spark.data import transcripts as gen
from hyperloglog_spark.engine.checkpoint import (
    read_lineage,
    resumable_sketch_build,
)
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.sketch import hll


@pytest.fixture(scope="module")
def trans_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "transcripts")
    gen.write(path, n_turns=30_000, n_convs=2_000, seed=7, n_files=12)
    return path


def exact_distinct_convs(trans_path: str) -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT count(DISTINCT conv_id) FROM '{trans_path}/*.parquet'"
    ).fetchone()[0]


def test_uninterrupted_run(spark, trans_path, tmp_path):
    ckpt = str(tmp_path / "ck1")
    res = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ckpt, files_per_batch=5
    )
    assert res.files_total == 12
    assert res.files_resumed == 0
    assert res.files_processed == 12
    assert res.batches == 3
    exact = exact_distinct_convs(trans_path)
    assert abs(res.estimate - exact) / exact < 3 * 1.04 / 2 ** 7
    assert res.rows == 30_000

    # lineage rows carry per-file metrics
    lin = read_lineage(ckpt)
    assert lin.num_rows == 12
    assert sum(lin.column("rows").to_pylist()) == 30_000
    assert all(w > 0 for w in lin.column("wall_s").to_pylist())


def test_resume_after_preemption_bit_identical(spark, trans_path, tmp_path):
    ck_full = str(tmp_path / "full")
    full = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ck_full,
        files_per_batch=5,
    )

    ck = str(tmp_path / "interrupted")
    first = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ck,
        files_per_batch=5, max_batches=1,
    )
    assert first.files_processed == 5
    resumed = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ck, files_per_batch=5
    )
    assert resumed.files_resumed == 5          # anti-join skipped them
    assert resumed.files_processed == 7
    # merged registers byte-identical to the uninterrupted run
    assert hll.registers(resumed.sketch).tobytes() == \
        hll.registers(full.sketch).tobytes()
    assert resumed.estimate == full.estimate


def test_duplicate_lineage_rows_dedupe(spark, trans_path, tmp_path):
    """A rerun after a partially-visible commit must not double-count."""
    ck = str(tmp_path / "dup")
    r1 = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ck, files_per_batch=12
    )
    # simulate a zombie run whose commit became visible after ours: replay
    # every committed lineage batch a second time (same files, later ts)
    from hyperloglog_spark.engine.checkpoint import _commit_lineage

    lin = read_lineage(ck)
    rows = lin.to_pylist()
    for r in rows:
        r["committed_at"] = r["committed_at"]  # same content, new commit
    _commit_lineage(ck, rows)
    r2 = resumable_sketch_build(
        spark, trans_path, "conv_id", HllAggregator(), ck, files_per_batch=12
    )
    lin = read_lineage(ck)
    assert lin.num_rows == 12                  # deduped keep-newest
    assert r2.estimate == r1.estimate
    assert r2.rows == r1.rows


def test_new_files_processed_on_resume(spark, trans_path, tmp_path):
    """Table grows between runs: only the new files are processed."""
    import shutil

    grown = str(tmp_path / "grown")
    shutil.copytree(trans_path, grown)
    ck = str(tmp_path / "ck-grow")
    r1 = resumable_sketch_build(
        spark, grown, "conv_id", HllAggregator(), ck, files_per_batch=12
    )
    assert r1.files_processed == 12
    extra = str(tmp_path / "extra")
    gen.write(extra, n_turns=5_000, n_convs=400, seed=99, n_files=2)
    for i, f in enumerate(sorted(os.listdir(extra))):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(extra, f),
                        os.path.join(grown, f"part-9{i:03d}.parquet"))
    r2 = resumable_sketch_build(
        spark, grown, "conv_id", HllAggregator(), ck, files_per_batch=12
    )
    assert r2.files_resumed == 12
    assert r2.files_processed == 2
    assert r2.rows == 35_000
    exact = duck_exact(grown)
    assert abs(r2.estimate - exact) / exact < 3 * 1.04 / 2 ** 7


def duck_exact(path: str) -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT count(DISTINCT conv_id) FROM '{path}/*.parquet'"
    ).fetchone()[0]


def test_same_basename_files_in_partition_dirs(spark, tmp_path):
    """Hive-style partition dirs hold part files with IDENTICAL basenames;
    lineage matching must key on the full path or one file's data silently
    vanishes from the estimate (ADVICE round 1)."""
    root = str(tmp_path / "parts")
    t1 = gen.generate(2_000, 300, seed=1)
    t2 = gen.generate(2_000, 300, seed=2, conv_offset=300)
    os.makedirs(f"{root}/day=1"), os.makedirs(f"{root}/day=2")
    # SAME basename in both partition directories
    pq.write_table(t1, f"{root}/day=1/part-00000.parquet")
    pq.write_table(t2, f"{root}/day=2/part-00000.parquet")

    ck = str(tmp_path / "ck-part")
    res = resumable_sketch_build(
        spark, root, "conv_id", HllAggregator(), ck, files_per_batch=2
    )
    assert res.files_total == 2
    assert res.files_processed == 2
    assert res.rows == 4_000
    lin = read_lineage(ck)
    assert lin.num_rows == 2
    # each lineage row carries its OWN file's sketch: per-file estimates
    # must reflect the disjoint conv namespaces (~300 each), and the merged
    # estimate must cover all ~600 convs
    per_file = lin.column("estimate").to_pylist()
    assert all(200 < e < 400 for e in per_file), per_file
    exact = duck_exact_glob(f"{root}/day=*")
    assert abs(res.estimate - exact) / exact < 3 * 1.04 / 2 ** 7


def duck_exact_glob(pattern: str) -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT count(DISTINCT conv_id) FROM '{pattern}/*.parquet'"
    ).fetchone()[0]


def test_file_with_no_counted_row_is_committed(spark, tmp_path):
    """A file whose value column is all NULL adds nothing but still commits
    its lineage row (rows=0, no sketch): a resume scans nothing again."""
    import pyarrow as pa

    root = str(tmp_path / "nulls")
    os.makedirs(root)
    pq.write_table(pa.table({"v": pa.array(["a", "b", "c"])}),
                   f"{root}/part-0.parquet")
    pq.write_table(pa.table({"v": pa.array([None, None], pa.string())}),
                   f"{root}/part-1.parquet")
    ck = str(tmp_path / "ck-nulls")
    first = resumable_sketch_build(spark, root, "v", HllAggregator(), ck)
    assert (first.files_processed, first.batches) == (2, 1)
    assert (first.estimate, first.rows) == (3, 3)
    lin = read_lineage(ck)
    by_file = dict(zip([os.path.basename(f) for f in
                        lin.column("file").to_pylist()],
                       lin.column("rows").to_pylist()))
    assert by_file == {"part-0.parquet": 3, "part-1.parquet": 0}
    again = resumable_sketch_build(spark, root, "v", HllAggregator(), ck)
    assert (again.files_resumed, again.files_processed, again.batches) == \
        (2, 0, 0)
    assert again.sketch == first.sketch

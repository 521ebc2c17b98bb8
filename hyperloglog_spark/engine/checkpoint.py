"""Checkpoint/resume with per-partition lineage (BASELINE.json north_rule).

A long sketch build over a huge table must survive preemption. The unit of
resumable work is the INPUT FILE — unlike Spark partition ids, file paths are
stable across runs, clusters, and parallelism levels. The flow:

    files   = input parquet files of the table
    done    = lineage rows already committed under <ckpt>/lineage/
    pending = files - done                       (the "anti-join")
    for each batch of `files_per_batch` pending files:
        one distributed pass: per-file partial sketches + row counts
        (sketch_partials grouped on input_file_name — a single scan)
        merge partials per file, append one lineage row per scanned file:
            (run_id, file, rows, sketch bytes, estimate, wall_s, ts)
        — ``rows`` counts the rows that pass the NULL rule of
        ``engine.aggregate``; a file none of whose rows pass (empty, or
        every value NULL) commits rows=0 with a NULL sketch and estimate,
        so a resume never scans it again
    final estimate = merge of every lineage sketch (register-max monoid
    makes re-merging committed partials exact, not approximate-on-approximate)

Lineage commits are atomic per batch: parquet written to a temp name then
os.rename (same-directory rename is atomic on POSIX; on an object store the
TableIO seam would commit via a staged manifest instead — see engine/io.py).
A crash mid-batch leaves no partial lineage, so the whole batch re-runs;
duplicate rows from a rerun-after-partial-commit are deduped keep-newest by
(file), which is safe because rebuilding a file's sketch is deterministic.

The reference has no persistence at all (its state never leaves one process,
/root/reference/HyperLogLog/EstimatorState.cs:5-12); this module is the
scale-out behavior the north rule adds on top of the reference's merge law
(/root/reference/HyperLogLog/HyperLogLog.cs:733-781).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import SKETCH_COL, SketchAggregator, sketch_partials

LINEAGE_DIR = "lineage"


def _norm_path(p: str) -> str:
    """Normalize a file path/URI to a bare path for identity comparison.

    ``DataFrame.inputFiles()`` and ``F.input_file_name()`` render the same
    file differently (``file:///x`` vs ``file:/x``, percent-encoding).
    Matching must use the FULL normalized path — basenames collide routinely
    (every partition directory of a Hive-style table holds part files with
    identical names), and a basename match would silently commit one file's
    sketch for another, dropping data from the estimate.
    """
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    return unquote(u.path) if u.scheme else p

_LINEAGE_SCHEMA = pa.schema([
    pa.field("run_id", pa.string()),
    pa.field("file", pa.string()),
    pa.field("rows", pa.int64()),
    pa.field("sketch", pa.binary()),
    pa.field("estimate", pa.int64()),
    pa.field("wall_s", pa.float64()),
    pa.field("committed_at", pa.timestamp("us")),
])


@dataclass
class SketchJobResult:
    estimate: int
    rows: int               # rows that count (the NULL rule's survivors)
    files_total: int
    files_resumed: int      # skipped because lineage already covered them
    files_processed: int    # processed by THIS invocation
    batches: int
    sketch: bytes
    lineage_path: str


def _lineage_files(ckpt_dir: str) -> list[str]:
    d = os.path.join(ckpt_dir, LINEAGE_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def read_lineage(ckpt_dir: str) -> pa.Table:
    """All committed lineage rows, deduped keep-newest per file."""
    parts = _lineage_files(ckpt_dir)
    if not parts:
        return _LINEAGE_SCHEMA.empty_table()
    tbl = pa.concat_tables([pq.read_table(p) for p in parts])
    # keep-newest per file (deterministic rebuilds make either row correct;
    # newest matches "latest run wins")
    seen: dict[str, int] = {}
    order = sorted(
        range(tbl.num_rows),
        key=lambda i: tbl.column("committed_at")[i].value,
    )
    for i in order:
        seen[tbl.column("file")[i].as_py()] = i
    keep = sorted(seen.values())
    return tbl.take(pa.array(keep, pa.int64()))


def _commit_lineage(ckpt_dir: str, rows: list[dict[str, Any]]) -> None:
    d = os.path.join(ckpt_dir, LINEAGE_DIR)
    os.makedirs(d, exist_ok=True)
    tbl = pa.Table.from_pylist(rows, schema=_LINEAGE_SCHEMA)
    name = f"batch-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, f"._tmp-{name}")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(d, name))  # atomic same-dir rename


def resumable_sketch_build(
    spark: SparkSession,
    input_path: str,
    value_cols: list[str] | str,
    agg: SketchAggregator,
    ckpt_dir: str,
    files_per_batch: int = 64,
    max_batches: int | None = None,
) -> SketchJobResult:
    """Build one global sketch over a parquet table, resumably.

    ``max_batches`` caps the batches processed in this invocation (used by
    tests to simulate preemption; a killed run behaves identically).
    """
    df_all = spark.read.parquet(input_path)
    files = sorted(df_all.inputFiles())
    if not files:
        raise ValueError(f"no input files under {input_path}")

    lineage = read_lineage(ckpt_dir)
    done = set(lineage.column("file").to_pylist()) if lineage.num_rows else set()
    # only files still part of the input count as done (table may have grown)
    done &= set(files)
    pending = [f for f in files if f not in done]

    run_id = uuid.uuid4().hex
    batches = 0
    processed = 0
    for lo in range(0, len(pending), files_per_batch):
        if max_batches is not None and batches >= max_batches:
            break
        chunk = pending[lo:lo + files_per_batch]
        t0 = time.perf_counter()
        batch_df = (
            spark.read.parquet(*chunk)
            .withColumn("__file", F.input_file_name())
        )
        partial_rows = sketch_partials(
            batch_df, value_cols, agg, group_cols=["__file"], with_rows=True,
        ).collect()
        wall = time.perf_counter() - t0

        per_file: dict[str, list] = {}
        per_file_rows: dict[str, int] = {}
        for r in partial_rows:
            k = _norm_path(r["__file"])
            per_file.setdefault(k, []).append(r[SKETCH_COL])
            per_file_rows[k] = per_file_rows.get(k, 0) + r["rows"]
        now = time.time_ns() // 1000
        out_rows = []
        for f in chunk:
            # full-path identity (normalized URI), never basename: partition
            # directories share part-file names
            nf = _norm_path(f)
            sk = est_val = None  # no row of the file counts
            if nf in per_file:
                sk = agg.merge_many(per_file[nf])
                est_val = int(next(iter(agg.finalize(sk).values())))
            out_rows.append({
                "run_id": run_id,
                "file": f,
                "rows": per_file_rows.get(nf, 0),
                "sketch": sk,
                "estimate": est_val,
                "wall_s": wall / len(chunk),
                "committed_at": now,
            })
        _commit_lineage(ckpt_dir, out_rows)
        batches += 1
        processed += len(out_rows)

    final = read_lineage(ckpt_dir)
    have = [
        (f, s, r) for f, s, r in zip(
            final.column("file").to_pylist(),
            final.column("sketch").to_pylist(),
            final.column("rows").to_pylist(),
        ) if f in set(files)
    ]
    sketches = [s for _, s, _ in have if s is not None]
    if not sketches:
        raise ValueError("no input rows")
    merged = agg.merge_many(sketches)
    est = agg.finalize(merged)
    return SketchJobResult(
        estimate=int(next(iter(est.values()))),
        rows=sum(r for _, _, r in have),
        files_total=len(files),
        files_resumed=len(done),
        files_processed=processed,
        batches=batches,
        sketch=merged,
        lineage_path=os.path.join(ckpt_dir, LINEAGE_DIR),
    )

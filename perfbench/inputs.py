"""Seeded benchmark inputs and their exact answers.

Every input is written by ``hyperloglog_spark.data.transcripts.write`` from
the run's ``--seed``, with the library's own chunking (one Zipf draw per
table at these sizes), in one child process (a plain subprocess, which
leaves no helper process behind) so that generation memory stays out of the
run's peak RSS. The program under test only ever sees the Parquet files.
Inputs are cached on disk by (workload, seed, size, nproc: the warm-up
table has one file per worker) so repeated runs of one seed skip generation,
and the cache keeps only the newest few entries per workload.

Exact answers are computed with plain Spark SQL (no sketch code) once per
run, not cached, so that every run of a workload does the same work in its
JVM whatever the state of the input cache.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from hyperloglog_spark.data import transcripts

import checks

# (turns, conversations, files) per workload and scale; conversations follow
# the library's own "bench" ratio (150k conversations per 2M turns)
SIZES = {
    "bench": {
        "global_scan": dict(turns=300_000, files=8,
                            slice_turns=5_000, slice_files=2),
        "grouped_skew": dict(turns=25_000, files=8,
                             slice_turns=5_000, slice_files=2),
        "incremental_rollup": dict(turns=20_000, files=4,
                                   slice_turns=5_000, slice_files=2),
    },
    "tiny": {
        "global_scan": dict(turns=10_000, files=4,
                            slice_turns=2_000, slice_files=2),
        "grouped_skew": dict(turns=10_000, files=4,
                             slice_turns=2_000, slice_files=2),
        "incremental_rollup": dict(turns=10_000, files=4,
                                   slice_turns=2_000, slice_files=2),
    },
}
KEEP_PER_WORKLOAD = 12
WARM_TURNS = 2_000  # the warm-up cycle's table, one file per worker
TABLE = "table"
SLICE = "slice"
WARM = "warm"
HERE = os.path.dirname(os.path.abspath(__file__))
# the generation child: sys.path from argv[1], the jobs from argv[2]
CHILD = ("import json, sys; sys.path[:0] = json.loads(sys.argv[1]); "
         "import inputs; inputs._write_all(json.loads(sys.argv[2]))")


def n_convs(turns: int) -> int:
    return max(1, turns * 3 // 40)


def _write(path: str, turns: int, files: int, seed: int) -> None:
    transcripts.write(path, turns, n_convs(turns), seed=seed, n_files=files)


def _write_all(jobs: list) -> None:
    for job in jobs:
        _write(*job)


class Input:
    """One generated input: a transcripts table (plus, for the rollup
    workload, the slice appended each iteration) and its exact answers."""

    def __init__(self, root: str, workload: str, seed: int, scale: str,
                 nproc: int):
        self.workload = workload
        self.seed = seed
        self.size = SIZES[scale][workload]
        self.nproc = nproc
        tag = f"{workload}-s{seed}-n{self.size['turns']}-p{nproc}"
        self.base = os.path.join(root, "inputs", workload)
        self.dir = os.path.join(self.base, tag)
        self.table = os.path.join(self.dir, TABLE)
        self.slice = os.path.join(self.dir, SLICE)
        self.warm = os.path.join(self.dir, WARM)
        self.turns = self.size["turns"]
        self.slice_turns = self.size["slice_turns"]
        self.gen_s = 0.0

    def ensure_files(self) -> None:
        """Generate the Parquet files unless this input is cached."""
        done = os.path.join(self.dir, "_GENERATED")
        if os.path.exists(done):
            return
        t0 = time.perf_counter()
        shutil.rmtree(self.dir, ignore_errors=True)
        jobs = [
            (self.table, self.turns, self.size["files"], self.seed),
            # a disjoint seed stream for the slice the write path appends
            (self.slice, self.slice_turns, self.size["slice_files"],
             self.seed + 1_000_003),
            (self.warm, WARM_TURNS, self.nproc, self.seed + 2_000_003),
        ]
        child = subprocess.run(
            [sys.executable, "-c", CHILD,
             json.dumps([HERE, os.path.dirname(HERE)]), json.dumps(jobs)])
        if child.returncode != 0:
            raise RuntimeError(f"input generation exited {child.returncode}")
        open(done, "w").close()
        self.gen_s = time.perf_counter() - t0
        self._prune()

    def _prune(self) -> None:
        entries = sorted(
            (os.path.getmtime(os.path.join(self.base, d)), d)
            for d in os.listdir(self.base)
        )
        for _, d in entries[:-KEEP_PER_WORKLOAD]:
            if os.path.join(self.base, d) != self.dir:
                shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)

    def exact(self, spark) -> dict:
        """Exact answers for this input, computed with Spark SQL."""
        spark.read.parquet(self.table).createOrReplaceTempView("t")
        spark.read.parquet(self.slice).createOrReplaceTempView("s")
        return EXACT[self.workload](spark)


def _rows(spark, sql: str) -> list[tuple]:
    return [tuple(r) for r in spark.sql(sql).collect()]


def _histogram(spark, key: str, value: str, table: str) -> dict:
    """{key: [[value, count], ...] sorted by value} for rank checks."""
    out: dict = {}
    for k, v, c in _rows(
        spark,
        f"SELECT {key}, {value}, count(*) FROM {table} "
        f"WHERE {value} IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2",
    ):
        out.setdefault(str(k), []).append([v, c])
    return out


def _exact_global(spark) -> dict:
    (n_conv, n_pair, n_text, n_tool, rows), = _rows(spark, """
        SELECT count(DISTINCT conv_id), count(DISTINCT conv_id, tool),
               count(DISTINCT text), count(DISTINCT tool), count(*)
        FROM t""")
    top = _rows(spark, """
        SELECT tool, count(*) AS c FROM t WHERE tool IS NOT NULL
        GROUP BY tool ORDER BY c DESC, tool ASC LIMIT 10""")
    # latency exactly as the latency query defines it, in plain SQL
    spark.sql("""
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)
             - CAST(CAST(lag(ts) OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx) AS TIMESTAMP)
                    AS DOUBLE) AS lat
        FROM t""").createOrReplaceTempView("lat")
    probs = [min(1.0, max(0.0, q + d * checks.TDIGEST_RANK_TOL))
             for q in checks.QS for d in (-1, 1)]
    (lat_bounds,), = _rows(spark, f"""
        SELECT percentile(lat, array({", ".join(map(str, probs))}))
        FROM lat WHERE lat IS NOT NULL""")
    hashes = [h for (h,) in _rows(
        spark, "SELECT DISTINCT xxhash64(conv_id) FROM t")]
    return {
        "rows": rows,
        "distinct": {"conv_id": n_conv, "conv_tool": n_pair,
                     "text": n_text, "tool": n_tool},
        "tool_top10": [t for t, _ in top],
        "len_hist": _histogram(spark, "'all'", "length(text)", "t")["all"],
        "latency_bounds": [lat_bounds[i:i + 2]
                           for i in range(0, len(lat_bounds), 2)],
        "conv_hashes": hashes,
    }


def _exact_grouped(spark) -> dict:
    text_by_conv = dict(_rows(spark, """
        SELECT conv_id, count(DISTINCT text) FROM t GROUP BY conv_id"""))
    text_by_role = dict(_rows(spark, """
        SELECT role, count(DISTINCT text) FROM t GROUP BY role"""))
    # the 3600 s / 600 s sliding windows spelled out in SQL: a row at epoch
    # e lies in the six windows starting at floor(e/600)*600 - k*600
    convs_by_window = {str(k): v for k, v in _rows(spark, """
        SELECT CAST(floor(e / 600) * 600 - k * 600 AS BIGINT) AS w,
               count(DISTINCT conv_id)
        FROM (SELECT conv_id, CAST(CAST(ts AS TIMESTAMP) AS DOUBLE) AS e
              FROM t)
        LATERAL VIEW explode(sequence(0, 5)) x AS k
        GROUP BY w""")}
    (rows,), = _rows(spark, "SELECT count(*) FROM t")
    return {
        "rows": rows,
        "text_by_conv": text_by_conv,
        "text_by_role": text_by_role,
        "convs_by_window": convs_by_window,
        "len_hist_by_conv": _histogram(spark, "conv_id", "length(text)", "t"),
    }


def _exact_rollup(spark) -> dict:
    spark.sql("SELECT *, 'base' AS part FROM t UNION ALL "
              "SELECT *, 'slice' AS part FROM s").createOrReplaceTempView("u")
    (n_conv, rows_base, rows_all), = _rows(spark, """
        SELECT count(DISTINCT conv_id), count_if(part = 'base'), count(*)
        FROM u""")
    by_role = dict(_rows(spark, """
        SELECT role, count(DISTINCT conv_id) FROM u GROUP BY role"""))
    by_day = {str(k): v for k, v in _rows(spark, """
        SELECT to_date(ts), count(DISTINCT conv_id) FROM u GROUP BY 1""")}
    by_shard = {
        "|".join(map(str, k[:4])): k[4] for k in _rows(spark, """
            SELECT part, to_date(ts), role, tool, count(DISTINCT conv_id)
            FROM u GROUP BY 1, 2, 3, 4""")
    }
    return {
        "rows": rows_base,
        "rows_all": rows_all,
        "n_conv": n_conv,
        "by_role": by_role,
        "by_day": by_day,
        "by_shard": by_shard,
        "len_hist_by_role": _histogram(spark, "role", "length(text)", "u"),
    }


EXACT = {
    "global_scan": _exact_global,
    "grouped_skew": _exact_grouped,
    "incremental_rollup": _exact_rollup,
}

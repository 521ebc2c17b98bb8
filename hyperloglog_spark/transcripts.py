"""Flagship queries over the transcripts table (BASELINE.json north_star).

The transcripts table has columns
    conv_id string, turn_idx int, role string, text string,
    tool string (nullable), ts timestamp
and arrives as Parquet (or Iceberg when a catalog is configured — see
engine/io.py). Every query here is a thin composition of Spark built-ins
with the sketch aggregators; nothing re-implements what Catalyst already
does (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .frequency import cms_topk
from .engine.aggregate import _as_list
from .functions import approx_distinct
from .membership import bloom_build, with_might_contain
from .quantiles import approx_quantiles

__all__ = [
    "load",
    "distinct_conversations",
    "distinct_texts_by_role_tool",
    "distinct_conv_tool_pairs",
    "heavy_hitter_tools",
    "turn_length_quantiles",
    "latency_quantiles",
    "conversation_membership",
    "ordering_invariant_violations",
    "conversation_integrity",
    "transition_counts",
    "conversation_fingerprints",
    "sessionize",
    "session_stats",
    "with_salted_key",
    "with_sliding_windows",
]


def load(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def distinct_conversations(df: DataFrame, p: int = 14) -> DataFrame:
    """Approximate number of distinct conversations."""
    return approx_distinct(df, "conv_id", p=p, alias="approx_convs")


def distinct_texts_by_role_tool(df: DataFrame, p: int = 14) -> DataFrame:
    """Approximate distinct turn texts per (role, tool); the register
    reduction stays in codegen at any group count."""
    return approx_distinct(
        df, "text", group_by=["role", "tool"], p=p, alias="approx_texts"
    )


def distinct_conv_tool_pairs(df: DataFrame, p: int = 14) -> DataFrame:
    """Approximate distinct (conv_id, tool) pairs — composite-key distinct."""
    return approx_distinct(
        df, ["conv_id", "tool"], p=p, alias="approx_pairs"
    )


def heavy_hitter_tools(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-k tools by turn count via count-min + candidate merge."""
    return cms_topk(df, "tool", k=k)


def turn_length_quantiles(
    df: DataFrame, qs=(0.5, 0.9, 0.99), method: str = "kll"
) -> DataFrame:
    """Quantiles of text length in characters (heavy right tail)."""
    with_len = df.select(F.length("text").alias("turn_chars"))
    return approx_quantiles(with_len, "turn_chars", list(qs), method=method)


def latency_quantiles(
    df: DataFrame, qs=(0.5, 0.9, 0.99), method: str = "tdigest"
) -> DataFrame:
    """Quantiles of per-turn latency (ts - previous ts within the
    conversation, seconds). The window shuffles by conv_id once; the sketch
    aggregation afterwards shuffles only sketch rows."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = (
        df.select("conv_id", "turn_idx", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (
                F.col("ts").cast("timestamp").cast("double")
                - F.col("prev_ts").cast("timestamp").cast("double")
            ).alias("latency_s")  # NTZ -> TS -> epoch seconds (session TZ=UTC)
        )
    )
    return approx_quantiles(lat, "latency_s", list(qs), method=method)


def conversation_membership(
    df: DataFrame, probe: DataFrame, probe_col: str,
    expected_items: int = 1 << 20, fpp: float = 0.001,
) -> DataFrame:
    """Bloom 'have we seen this conv_id?' probe (no false negatives)."""
    flt = bloom_build(df, "conv_id", expected_items=expected_items, fpp=fpp)
    return with_might_contain(probe, probe_col, flt, alias="seen")


def ordering_invariant_violations(df: DataFrame, source: DataFrame) -> DataFrame:
    """Per-row invariant (BASELINE.json input_hint): per-turn text equality
    vs the source under stable (conv_id, turn_idx) ordering. Returns rows
    that disagree — must be empty after any transform we apply.

    Equi-join on the composite key; Catalyst picks sort-merge with both
    sides shuffled once on the same key (no extra exchange)."""
    a = df.select("conv_id", "turn_idx", F.col("text").alias("text_a"))
    b = source.select("conv_id", "turn_idx", F.col("text").alias("text_b"))
    joined = a.join(b, ["conv_id", "turn_idx"], "full_outer")
    return joined.filter(~F.col("text_a").eqNullSafe(F.col("text_b")))


def sessionize(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    gap_s: float,
    order_by: str | list[str] | None = None,
    session_col: str = "session_idx",
) -> DataFrame:
    """Gap-based session assignment: within each ``partition_by`` key, a
    new session starts whenever the time since the previous row exceeds
    ``gap_s`` seconds (strictly greater — a gap of exactly ``gap_s``
    continues the session). Adds a 0-based bigint ``session_col``.

    The classic transcript/clickstream sessionization: one shuffle (the
    window's partitionBy), one sort; the lag and the running sum share
    that single sort (both window specs are identical, Catalyst plans one
    Window node). Ordering inside a key is (ts, *order_by) — pass an id
    column as tiebreaker to make equal-timestamp rows deterministic.

    Scale: a hot key sorts in ONE task — inherent to ordered
    sessionization (salting would split sessions). Spark's window sort is
    an UnsafeExternalSorter, so a pathological key spills to disk rather
    than OOM; for conversation transcripts the key (conv_id) is bounded
    by conversation length, which is exactly why the north rule keys
    sessions on conv_id and not on a global entity.
    """
    partition_by = _as_list(partition_by)
    order_by = _as_list(order_by)
    # NTZ -> TIMESTAMP -> epoch seconds (session TZ pinned UTC by get_spark)
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    order_cols = [F.col(ts_col)] + [F.col(c) for c in order_by]
    w = Window.partitionBy(*partition_by).orderBy(*order_cols)
    prev = F.lag(epoch).over(w)
    is_new = F.when(
        prev.isNull() | ((epoch - prev) > F.lit(float(gap_s))), F.lit(1)
    ).otherwise(F.lit(0))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        session_col, (F.sum(is_new).over(cum) - F.lit(1)).cast("long")
    )


def session_stats(
    df: DataFrame,
    partition_by: str | list[str],
    ts_col: str,
    gap_s: float,
    order_by: str | list[str] | None = None,
) -> DataFrame:
    """Per-session aggregate over :func:`sessionize` output: one row per
    (key, session_idx) with ``n_events``, ``start_s``/``end_s`` (epoch
    seconds) and ``duration_ms`` (bigint — floor of an IEEE-identical
    double difference, so any engine reproduces it bit-for-bit).

    Two exchanges total: the sessionize window shuffle on the key, then
    the groupBy on (key, session_idx) — partial aggregation runs map-side
    first, so the second exchange carries one row per session, not per
    event."""
    partition_by = _as_list(partition_by)
    s = sessionize(df, partition_by, ts_col, gap_s, order_by=order_by)
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    return (
        s.groupBy(*partition_by, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(epoch).alias("start_s"),
            F.max(epoch).alias("end_s"),
        )
        .withColumn(
            "duration_ms",
            F.floor((F.col("end_s") - F.col("start_s")) * F.lit(1000.0))
            .cast("long"),
        )
    )


def with_sliding_windows(
    df: DataFrame, ts_col: str, window_s: int, slide_s: int,
    start_name: str = "window_start_epoch",
) -> DataFrame:
    """Explode each row into every sliding window containing it, emitting
    the window start as EPOCH SECONDS (bigint) — integer arithmetic any
    engine reproduces bit-for-bit, unlike timestamp/timezone round-trips.

    A row at epoch t belongs to windows starting at
    ``floor(t/slide)*slide - k*slide`` for k in [0, window/slide): the
    same Expand-node shape Catalyst plans for ``groupBy(F.window(...))``
    with a slide, but with a SQL-mirrorable surface. ``window_s`` must be
    a multiple of ``slide_s``. The fan-out factor is window/slide — fixed
    and known, so a downstream sketch aggregation's shuffle still carries
    only (window, register) rows at scale."""
    if window_s % slide_s != 0:
        raise ValueError(
            f"window_s must be a multiple of slide_s: {window_s}/{slide_s}"
        )
    k = window_s // slide_s
    # NTZ timestamps can't cast straight to double; go via TIMESTAMP —
    # deterministic because get_spark pins the session timezone to UTC
    e = F.col(ts_col).cast("timestamp").cast("double")
    s0 = (F.floor(e / F.lit(slide_s)) * F.lit(slide_s)).cast("long")
    starts = F.array(*[s0 - F.lit(i * slide_s) for i in range(k)])
    return df.withColumn(start_name, F.explode(starts))


def conversation_integrity(
    df: DataFrame,
    conv_col: str,
    idx_col: str,
    role_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-conversation integrity audit — the preflight a 100 TB transcript
    ingest runs before trusting (conv_id, turn_idx) as a key:

    - ``dup_turn_idx``     turns sharing an index (n_turns − distinct idx)
    - ``missing_turn_idx`` holes in the index range (max−min+1 − distinct)
    - ``ts_inversions``    turns whose timestamp moves backwards in index
      order (requires unique idx per conv for a deterministic count)
    - ``role_repeats``     adjacent turns with the same role (alternation
      breaks)
    - ``is_valid``         no dups, no holes, no inversions

    One Window (partitionBy conv, orderBy idx) feeds lag(ts)/lag(role); the
    following groupBy(conv) reuses the window's hash partitioning, so the
    whole audit is a single Exchange. Distinct counts use collect_set sizes
    (bounded by conversation length — same bound as the window sort) to
    avoid the multi-countDistinct Expand replan.
    """
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev_ts = F.lag(epoch).over(w)
    prev_role = F.lag(F.col(role_col)).over(w)
    flagged = df.select(
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        F.when(prev_ts.isNotNull() & (epoch < prev_ts), 1)
        .otherwise(0).alias("__inv"),
        F.when(
            prev_role.isNotNull() & (F.col(role_col) == prev_role), 1
        ).otherwise(0).alias("__rep"),
    )
    dup = F.count(F.lit(1)) - F.size(F.collect_set(idx_col))
    missing = (
        F.max(idx_col) - F.min(idx_col) + F.lit(1)
        - F.size(F.collect_set(idx_col))
    )
    inv = F.sum("__inv")
    out = flagged.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.size(F.collect_set(role_col)).cast("long").alias("n_roles"),
        dup.cast("long").alias("dup_turn_idx"),
        missing.cast("long").alias("missing_turn_idx"),
        inv.cast("long").alias("ts_inversions"),
        F.sum("__rep").cast("long").alias("role_repeats"),
    )
    return out.withColumn(
        "is_valid",
        (F.col("dup_turn_idx") == 0)
        & (F.col("missing_turn_idx") == 0)
        & (F.col("ts_inversions") == 0),
    )


def transition_counts(
    df: DataFrame,
    conv_col: str,
    idx_col: str,
    state_col: str,
) -> DataFrame:
    """Markov transition counts of ``state_col`` (tool, role, event type)
    within each conversation's turn order: one row per (from_state,
    to_state) with its global count — the tool-usage fingerprint of an
    agent corpus (which tool follows which, where conversations start).

    The first turn of each conversation counts as a transition from NULL
    (start-of-conversation). One Window shuffle (partitionBy conv, orderBy
    idx) + a map-side-combined groupBy over the tiny (from, to) key space.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev = F.lag(F.col(state_col)).over(w)
    return (
        df.select(prev.alias("from_state"),
                  F.col(state_col).alias("to_state"))
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def conversation_fingerprints(
    df: DataFrame,
    conv_col: str,
    idx_col: str,
    text_col: str,
    hashing: str = "xxhash64",
) -> DataFrame:
    """One fingerprint per CONVERSATION (not per turn): two conversations
    collide iff they contain the same multiset of (turn_idx, text) pairs —
    i.e. identical transcripts under the per-row invariant's stable
    ordering. The combine is a SUM of per-turn 64-bit hashes, which is
    commutative/associative, so Catalyst's map-side partial aggregation
    applies and the shuffle carries one (conv, partial-sum) row per
    partition — the turn texts never move. Returns (conv, fingerprint,
    n_turns).

    Hash-sum fingerprints are statistically collision-safe (terms are
    masked to 40 bits for ANSI-safe summation, but the SUM of many such
    terms spreads over ~2^50+ states for realistic conversation lengths;
    pair with ``n_turns`` for an extra discriminator) but not
    adversarial — a
    deliberate forger can balance sums; for adversarial settings compare
    full transcripts within fingerprint groups afterwards. md5 mode makes
    the fingerprint bit-reproducible in ANSI SQL (top-60-bit md5 terms,
    BIGINT wraparound sum).
    """
    from .frequency import _hash_expr

    pair = F.concat_ws(
        "\x1f", F.col(idx_col).cast("string"), F.col(text_col)
    )
    df2 = df.select(F.col(conv_col), pair.alias("__pair"))
    if hashing == "md5":
        term = _hash_expr(["__pair"], "md5")
    else:
        term = F.xxhash64("__pair")
    # mask terms to 40 bits: ANSI-mode F.sum must not overflow int64 —
    # safe up to 2^23 turns per conversation, and the sum itself keeps
    # ~63 bits of fingerprint entropy
    term = term.bitwiseAND(F.lit((1 << 40) - 1))
    return (
        df2.select(conv_col, term.alias("__h"))
        .groupBy(conv_col)
        .agg(
            F.sum("__h").alias("fingerprint"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


def with_salted_key(
    df: DataFrame, col: str, buckets: int = 32,
    salted_name: str | None = None, salt_col: str = "turn_idx",
) -> DataFrame:
    """Salt a hot key for exact (non-sketch) aggregations: aggregate on the
    salted key first, then re-aggregate on the original key. Sketch
    aggregations do NOT need this — their phase-1 map-side combine already
    bounds per-key shuffle rows at #partitions — but exact counts/collects
    over skewed conv_ids do. Salting is deterministic (hash of
    ``salt_col``, default the transcript turn index), not random, so
    re-runs are reproducible."""
    salted_name = salted_name or f"{col}__salted"
    return df.withColumn(
        salted_name,
        F.concat_ws(
            "#", F.col(col),
            (F.pmod(F.xxhash64(salt_col), F.lit(buckets))).cast("string"),
        ),
    )

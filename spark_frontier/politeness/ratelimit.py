"""Politeness as logical time: the deadline-column scheduler (T1/T2/T4).

Reference: /root/reference/src/crawler/rate_limiter.py:27-112 — a per-host
token bucket (1 token, refill 0.5 tok/s → 1 request per 2 s per host) with
blocking acquire, plus a 60 s cooldown + rate-halving on HTTP 429, and a
uniform(min,max) random inter-request delay (http_client.py:100-108).

Spark cannot (and must not) sleep inside executors, so politeness becomes
DATA: every candidate gets a ``politeness_deadline`` timestamp computed
from its per-host queue position, and the scheduler *selects* rows whose
deadline falls inside the batch window. Wall-clock pacing happens only in
live mode (the fetch UDF honors the deadline); tests and benchmarks run on
logical time and stay deterministic.

    slot_i(host)   = row_number per host ordered by priority   (min-heap)
    deadline_i     = base(host) + (slot_i - 1) / refill_rate + jitter_i
    base(host)     = max(batch_ts, last_fetch_ts + 1/rate, rate_limit_until)
    jitter_i       = deterministic seeded U(min,max) from xxhash64(url, seed)

The per-host window partitions by host — that is the politeness unit and
is bounded by the per-batch per-host selection cap, not frontier size.
Hot-host skew in the wave's UDF stages is spread by the fetch join's
hash partitioning on url (pipeline/crawl.py); the politeness window
itself must see the whole host to be correct, which is fine because the
scheduler caps how many URLs per host enter a batch (max_per_host)
*before* the window runs.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_REFILL_RATE = 0.5  # tok/s → 1 req / 2 s / host (rate_limiter.py:19-21)
RATE_LIMIT_COOLDOWN_S = 60.0  # rate_limiter.py:99
MIN_REFILL_RATE = 0.1  # floor after halving (rate_limiter.py:104-107)


def assign_deadlines(
    candidates: DataFrame,
    host_state: DataFrame | None,
    batch_ts: datetime,
    max_per_host: int = 64,
    delay_min: float = 0.0,
    delay_max: float = 0.0,
    jitter_seed: int = 42,
) -> DataFrame:
    """Order candidates per host by priority, cap at max_per_host, and
    assign politeness deadlines.

    candidates must carry (url, host, site_seq, depth, path, sitemap_pos).
    host_state (host, refill_rate, rate_limit_until, last_fetch_ts) is the
    checkpointed politeness state (None → defaults). It may be passed as a
    DataFrame (broadcast join — the 10^6-host path) or as a LIST of
    collected rows: a list becomes literal lookup maps inside the plan,
    which skips the per-wave broadcast-exchange job entirely (measured
    ~0.5-1 s of serial driver/scheduler wall per broadcast at any core
    count — pure scaling tail). Callers literalize only when the host
    count is small (crawl.py caps at 4096).
    """
    if isinstance(host_state, list):
        def _lit_map(field):
            pairs = [
                x
                for r in host_state
                if r[field] is not None
                for x in (F.lit(r["host"]), F.lit(r[field]))
            ]
            return F.create_map(*pairs) if pairs else None

        for field, typ in (("refill_rate", "double"),
                           ("rate_limit_until", "timestamp"),
                           ("last_fetch_ts", "timestamp")):
            m = _lit_map(field)
            candidates = candidates.withColumn(
                field,
                m[F.col("host")] if m is not None
                else F.lit(None).cast(typ),
            )
    elif host_state is not None:
        candidates = candidates.join(
            F.broadcast(
                host_state.select(
                    "host", "refill_rate", "rate_limit_until", "last_fetch_ts"
                )
            ),
            on="host",
            how="left",
        )
    else:
        candidates = (
            candidates.withColumn("refill_rate", F.lit(None).cast("double"))
            .withColumn("rate_limit_until", F.lit(None).cast("timestamp"))
            .withColumn("last_fetch_ts", F.lit(None).cast("timestamp"))
        )

    rate = F.coalesce(F.col("refill_rate"), F.lit(DEFAULT_REFILL_RATE))
    interval_s = F.lit(1.0) / rate
    if "crawl_delay" in candidates.columns:
        # robots Crawl-delay (T7, robots_handler.py:62-68): a host's
        # declared delay wins over the token-bucket interval when longer
        interval_s = F.greatest(
            interval_s, F.coalesce(F.col("crawl_delay"), F.lit(0.0))
        )
    batch = F.lit(batch_ts)
    base = F.greatest(
        batch,
        F.coalesce(
            F.col("last_fetch_ts") + (interval_s * F.expr("INTERVAL 1 SECOND")),
            batch,
        ),
        F.coalesce(F.col("rate_limit_until"), batch),
    )

    n_salt = 16
    if max_per_host <= 4096:
        # Two-phase EXACT top-k (the production capped-selection path):
        # phase 1 ranks within (host, salt) partitions and keeps
        # ≤ max_per_host per salt — a superset of the true per-host top-k —
        # so phase 2's exact per-host window sorts ≤ salt·k rows instead of
        # the host's whole frontier. Slot order == priority order (the
        # reference's launch-order contract, SURVEY §3).
        pre_w = Window.partitionBy(
            "host", F.pmod(F.xxhash64("url"), F.lit(n_salt))
        ).orderBy("site_seq", "depth", "path", "sitemap_pos")
        candidates = candidates.withColumn(
            "_pre_rank", F.row_number().over(pre_w)
        ).filter(F.col("_pre_rank") <= max_per_host).drop("_pre_rank")
        w = Window.partitionBy("host").orderBy(
            "site_seq", "depth", "path", "sitemap_pos"
        )
        slot = F.row_number().over(w)
    else:
        # DRAIN path (cap ≫ frontier): every row is selected, so slots only
        # need to be DISTINCT per host with ≥ 1/rate spacing — the schedule
        # is equally polite for any slot permutation. A single per-host
        # window would sort the hottest host in ONE task (a core-count-
        # independent straggler at any scale), so slots interleave salted
        # sub-ranks: slot = (rank_within(host,salt) − 1)·n_salt + salt + 1.
        # Distinct per host, monotone within each salt, no join and no
        # second pass over the (expensive, UDF-bearing) upstream. The
        # capped path above keeps exact priority order where selection
        # (and thus ordering parity) actually depends on it.
        candidates = candidates.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), F.lit(n_salt))
        )
        sub_w = Window.partitionBy("host", "_salt").orderBy(
            "site_seq", "depth", "path", "sitemap_pos"
        )
        candidates = candidates.withColumn(
            "_pre_rank", F.row_number().over(sub_w)
        )
        slot = (
            (F.col("_pre_rank") - 1) * F.lit(n_salt) + F.col("_salt") + 1
        ).cast("int")
        w = None

    # deterministic jitter (T4/T5 reproducibility: SURVEY §3 ordering contract)
    jitter = (
        F.lit(delay_min)
        + (F.pmod(F.xxhash64(F.col("url"), F.lit(jitter_seed)), F.lit(10_000))
           / F.lit(10_000.0))
        * F.lit(delay_max - delay_min)
    ) if delay_max > delay_min else F.lit(delay_min)

    offset_s = ((slot - F.lit(1)).cast("double") * interval_s) + jitter
    return (
        candidates.withColumn("host_slot", slot)
        .filter(F.col("host_slot") <= max_per_host)
        .withColumn(
            "politeness_deadline",
            F.timestamp_micros(
                F.unix_micros(base) + (offset_s * F.lit(1_000_000)).cast("long")
            ),
        )
        .drop("refill_rate", "rate_limit_until", "last_fetch_ts", "_salt",
              "_pre_rank", "_off")
    )


def select_batch(scheduled: DataFrame, batch_ts: datetime, budget_s: float) -> DataFrame:
    """The scheduler's selection: rows whose deadline falls inside this
    batch window. Equivalent to the reference's blocking token-bucket
    acquire, but as a filter on logical time."""
    horizon = F.lit(batch_ts) + (F.lit(budget_s) * F.expr("INTERVAL 1 SECOND"))
    return scheduled.filter(F.col("politeness_deadline") <= horizon)

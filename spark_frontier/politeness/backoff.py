"""Per-host backoff / blocking state as data (T2/T3, SURVEY.md §2.4).

Reference: /root/reference/src/crawler/backoff.py:51-113 — per-host
consecutive-failure counter, exponential wait ``factor**n``, a sliding
window of the last 10 HTTP codes, and host BLOCKING when ≥5 of the last 10
are in {403, 429}; success resets the counter. Plus
/root/reference/src/crawler/rate_limiter.py:97-112 — on 429: 60 s cooldown
and refill-rate halving with floor 0.1.

The reference keeps all this in RAM and loses it on restart
(rate_limiter.py:16-24, backoff.py:16-23); per north_rule resumability we
keep it as a host-state TABLE merged once per batch and checkpointed.

Everything is JVM-side array/aggregate expressions — the last-10 window is
``slice(concat(old, new), -10, 10)``, the trailing-failure run length is a
``aggregate(reverse(codes), ...)`` fold — no Python in the update path.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_THRESHOLD = 5  # backoff.py:34
BLOCKING_CODES = (403, 429)  # backoff.py:37
WINDOW = 10  # backoff.py:82
BACKOFF_FACTOR = 2.0  # config/sites.yaml:10
from spark_frontier.politeness.ratelimit import (  # noqa: E402
    DEFAULT_REFILL_RATE,
    MIN_REFILL_RATE,
    RATE_LIMIT_COOLDOWN_S,
)

# snapshot-summary key of a deferred fold (SnapStore GC pins its files)
_PENDING = "pending_fold"
# the fold's columns of its lineage files, read by name with no footer job
_FOLD_DDL = "host string, politeness_deadline timestamp, http_code int"


def empty_host_state(spark) -> DataFrame:
    return spark.createDataFrame(
        [],
        "host string, refill_rate double, rate_limit_until timestamp, "
        "last_fetch_ts timestamp, consecutive_failures int, "
        "recent_codes array<int>, is_blocked boolean",
    )


def deferred_fold_summary(files: list[str], batch_ts: datetime,
                          **summary) -> dict:
    """A host-state commit summary that DEFERS folding one fetch batch:
    ``files`` hold its (host, politeness_deadline, http_code) rows. The
    crawl cycle defers its final wave's fold this way, because at cycle
    end there is no compute left to hide the groupBy-host job behind;
    ``read_host_state`` applies it."""
    return {**summary, _PENDING: {"files": list(files),
                                  "batch_ts": batch_ts.isoformat()}}


def has_pending_fold(table) -> bool:
    """Whether the table's current snapshot carries a deferred fold."""
    return bool((table.summary() or {}).get(_PENDING))


def read_host_state(table, spark) -> DataFrame | None:
    """Read a persisted host-state SnapTable, applying any DEFERRED fold
    its current snapshot records (``deferred_fold_summary``). The next
    crawl cycle folds it at init, overlapped with sitemap discovery;
    external readers (reporting, job status) get the same
    folded view through this helper.

    If the fold's lineage files are gone (retention rewrite, manual
    cleanup) the stale base is returned: stale politeness state only
    ever *over*-throttles, the documented crash-resume semantics. Any
    other read failure raises. Returns None when the table has never
    been written and carries no pending fold.
    """
    from pyspark.errors import AnalysisException

    hs = table.read(spark)
    pend = (table.summary() or {}).get(_PENDING)
    if not pend:
        return hs
    base = hs if hs is not None else empty_host_state(spark)
    try:
        rows = spark.read.schema(_FOLD_DDL).parquet(*pend["files"])
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return base
    return update_host_state(base, rows,
                             datetime.fromisoformat(pend["batch_ts"]))


def update_host_state(
    host_state: DataFrame,
    fetch_results: DataFrame,
    batch_ts: datetime,
) -> DataFrame:
    """Fold one batch of fetch results into the host-state table.

    fetch_results: (host, politeness_deadline, http_code) — per-host codes
    are folded in deadline order (the launch order, SURVEY §3), matching
    the reference's sequential record_failure/record_success calls.
    Returns the full NEW host-state table (merge it into the SnapTable).
    """
    per_host = fetch_results.groupBy("host").agg(
        F.array_sort(
            F.collect_list(F.struct("politeness_deadline", "http_code"))
        ).alias("_ordered"),
        F.max("politeness_deadline").alias("batch_last_fetch_ts"),
    ).select(
        "host",
        F.transform(F.col("_ordered"), lambda s: s["http_code"]).alias("all_codes"),
        "batch_last_fetch_ts",
    )

    # SUFFIX REDUCTION (exactness-preserving): a success wipes codes, cf,
    # and blocked, so the expensive per-element fold below only ever needs
    # the codes AFTER the batch's LAST success — everything before it can
    # influence the final state only through n_429 (counted over the full
    # array, one cheap pass) and last_fetch_ts (the max above). Folding
    # 600k codes per hot host with per-element array concat/slice was the
    # single longest commit-tail job (~2.3 s, round-4 event logs); the
    # suffix is typically a handful of trailing failures.
    _succ_idx = F.filter(
        F.transform(
            F.col("all_codes"),
            lambda c, i: F.when((c >= 200) & (c < 400), i),
        ),
        lambda x: x.isNotNull(),
    )
    _last_succ = F.get(_succ_idx, F.size(_succ_idx) - 1)  # null-safe
    per_host = per_host.select(
        "host",
        "batch_last_fetch_ts",
        F.size(F.filter(F.col("all_codes"), lambda c: c == 429)).alias(
            "_n429"
        ),
        _last_succ.isNotNull().alias("_had_success"),
        F.when(
            _last_succ.isNotNull(),
            # 0-based index i → suffix starts at 1-based position i+2
            F.slice(
                F.col("all_codes"), _last_succ + F.lit(2),
                F.size(F.col("all_codes")),
            ),
        ).otherwise(F.col("all_codes")).alias("new_codes"),
    )

    merged = per_host.join(host_state, on="host", how="full_outer")

    # Fold the batch's ordered codes into the carried state — EXACTLY the
    # reference's record_success/record_failure sequence (backoff.py:51-89):
    #   success       → failure_codes=[], consecutive_failures=0, unblock
    #   failure       → append code; if code∈{403,429} and ≥5 of the last 10
    #                   recorded failure codes are blocking codes → block
    # failure_codes only ever holds FAILURE codes (cleared on success), and
    # only the last 10 are ever inspected, so trimming inside the fold is
    # semantics-preserving.
    is_success = lambda c: (c >= 200) & (c < 400)  # noqa: E731

    def last10(arr):
        # F.slice(arr, -10, 10) is EMPTY when size(arr) < 10 (negative start
        # beyond length) — clamp the start to -size.
        return F.slice(
            arr, F.greatest(F.lit(-WINDOW), -F.size(arr)), F.lit(WINDOW)
        )

    # a success in the batch wiped prior state at that point — the suffix
    # fold then starts from the empty state, not the carried one
    _empty_init = F.struct(
        F.array().cast("array<int>").alias("codes"),
        F.lit(0).alias("cf"),
        F.lit(False).alias("blocked"),
    )
    init = F.when(
        F.coalesce(F.col("_had_success"), F.lit(False)), _empty_init
    ).otherwise(
        F.struct(
            F.coalesce(
                F.col("recent_codes"), F.array().cast("array<int>")
            ).alias("codes"),
            F.coalesce(F.col("consecutive_failures"), F.lit(0)).alias("cf"),
            F.coalesce(F.col("is_blocked"), F.lit(False)).alias("blocked"),
        )
    )
    new_codes = F.coalesce(F.col("new_codes"), F.array().cast("array<int>"))
    folded = F.aggregate(
        new_codes,
        init,
        lambda acc, c: F.when(
            is_success(c),
            F.struct(
                F.array().cast("array<int>").alias("codes"),
                F.lit(0).alias("cf"),
                F.lit(False).alias("blocked"),
            ),
        ).otherwise(
            F.struct(
                last10(F.concat(acc["codes"], F.array(c))).alias("codes"),
                (acc["cf"] + 1).alias("cf"),
                (
                    acc["blocked"]
                    | (
                        c.isin(*BLOCKING_CODES)
                        & (
                            F.size(
                                F.filter(
                                    last10(F.concat(acc["codes"], F.array(c))),
                                    lambda x: x.isin(*BLOCKING_CODES),
                                )
                            )
                            >= F.lit(BLOCK_THRESHOLD)
                        )
                    )
                ).alias("blocked"),
            )
        ),
    )

    # T2 (rate_limiter.py:97-112): mark_rate_limited fires PER 429 response,
    # so k 429s in one batch halve the rate k times (floor MIN_REFILL_RATE).
    # Counted over the FULL batch (pre-suffix pass above), not the suffix.
    n_429 = F.coalesce(F.col("_n429"), F.lit(0))
    got_429 = n_429 > 0
    old_rate = F.coalesce(F.col("refill_rate"), F.lit(DEFAULT_REFILL_RATE))
    new_rate = F.when(
        got_429,
        F.greatest(
            F.lit(MIN_REFILL_RATE),
            old_rate * F.pow(F.lit(0.5), n_429.cast("double")),
        ),
    ).otherwise(old_rate)
    new_rl_until = F.when(
        got_429,
        F.lit(batch_ts) + F.lit(RATE_LIMIT_COOLDOWN_S) * F.expr("INTERVAL 1 SECOND"),
    ).otherwise(F.col("rate_limit_until"))

    return merged.withColumn("_st", folded).select(
        "host",
        new_rate.alias("refill_rate"),
        new_rl_until.alias("rate_limit_until"),
        F.coalesce(F.col("batch_last_fetch_ts"), F.col("last_fetch_ts")).alias(
            "last_fetch_ts"
        ),
        F.col("_st")["cf"].cast("int").alias("consecutive_failures"),
        F.col("_st")["codes"].alias("recent_codes"),
        F.col("_st")["blocked"].alias("is_blocked"),
    )


def blocked_hosts(host_state: DataFrame) -> DataFrame:
    """F10: the blocked-host gate is a left_anti join against this."""
    return host_state.filter(F.col("is_blocked")).select("host")


def backoff_wait_s(consecutive_failures_col) -> F.Column:
    """wait = factor**n (backoff.py:100-101)."""
    return F.pow(F.lit(BACKOFF_FACTOR), consecutive_failures_col.cast("double"))

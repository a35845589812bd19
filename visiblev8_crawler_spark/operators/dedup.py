"""Frontier preparation: canonicalize -> validate -> first-occurrence dedup ->
robots gate. One declarative pass over the raw seed list.

Reference parity:
- validity filter (backend tasks.py:29-52)            -> F1
- blank/invalid drop (url_sender.py:72-74)            -> F2
- exact-URL dedup, first occurrence wins, later rows get the cached
  submission (backend tasks.py:148-156)               -> D1 (here: rejected
  with reason 'duplicate'; cross-campaign dedup is the anti-join/bloom path
  in the scheduler)
- robots gating (north_rule; absent in reference)     -> C14

Scale: the only shuffle is the dedup window on canon_url (unavoidable for
exact first-occurrence semantics; at 10^10 rows it is one hash-partitioned
exchange, skew-free because canon_url is near-unique). Everything else is
whole-stage-codegen'd projections/filters; the robots dimension is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions import urls as U


def prepare_frontier(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """One pass raw frontier -> FRONTIER_PREPARED: every row dispositioned
    (reason null = schedulable, else invalid/duplicate/robots).

    Returned as a *single* unified table so the expensive chain (canonical
    window dedup) is computed once and committed once; pending and rejected
    are then derived by scanning the committed parquet (scheduler.py), never
    by recomputing this plan. At 10^10 rows that is the difference between
    one shuffle and two.

    Canonicalization takes only the columns FRONTIER_PREPARED keeps
    (canon_url, url_hash64, host, path) plus ``valid`` for ``reason``, from
    the same expressions as ``urls.with_canonical``. The full ``urls``
    dimension would also build the public-suffix expression (functions/
    psl.py: seconds of driver time per build) only for conform to drop it."""
    # task_id + actions are per-row config passthrough (submissions.actions,
    # 3_vv8_backend_init.sql:12-18); null-fill for sources that carry none
    # (plain seed files) so the FRONTIER_PREPARED contract always holds
    src = frontier
    for opt, typ in (("task_id", "string"), ("actions", "string"),
                     ("crawler_args", "array<string>")):
        if opt not in src.columns:
            src = src.withColumn(opt, F.lit(None).cast(typ))
    cols = U._canon_cols(F.col("url"))
    canon = src.select(
        "seq", "url", "priority", "task_id", "actions", "crawler_args",
        *(cols[k].alias(k) for k in ("canon_url", "host", "path", "valid")),
    ).withColumn("url_hash64", F.xxhash64(F.col("canon_url")))

    # rank within (canon_url, valid) so an invalid row can never steal the
    # first-occurrence slot from the valid rows of the same canonical url
    w = Window.partitionBy("canon_url", "valid").orderBy(F.col("seq").asc())
    ranked = canon.withColumn("_rn", F.row_number().over(w))
    gated = ranked.join(
        F.broadcast(robots.select("host", "full_block", "disallow_prefixes")), "host", "left"
    ).withColumn(
        "_blocked",
        F.coalesce(F.col("full_block"), F.lit(False))
        | F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
            lambda p: F.col("path").startswith(p),
        ),
    )
    return schemas.conform(
        gated.withColumn(
            "reason",
            F.when(~F.col("valid"), "invalid")
            .when(F.col("valid") & (F.col("_rn") > 1), "duplicate")
            .when(F.col("_blocked"), "robots"),
        )
        .withColumn("image_id", U.image_id_col(F.col("path")))
        .withColumn("attempt", F.lit(1)),
        schemas.FRONTIER_PREPARED,
    )

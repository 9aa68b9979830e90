"""Size-aware attach side for verify joins (``attach_small``): broadcast
the per-doc payload side while the optimizer's size estimate stays
under ``spark.nimble.verifyAttach.maxBroadcastBytes``, else fall back to
a shuffle-hash attach that scales with the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Size cap for the broadcast branch of verify-attach joins (below).
# Conf-parameterized so a deployment can align it with executor
# memory; the 256 MB local default is far above every bench corpus
# (sf0.1 estimates are <1 MB) and far below where a broadcast build
# starts threatening the driver (guide §3.1: "multiple GB is asking
# for driver OOMs", hard cap 8 GB).
VERIFY_ATTACH_CONF = "spark.nimble.verifyAttach.maxBroadcastBytes"
VERIFY_ATTACH_DEFAULT_BYTES = 256 * 1024 * 1024


def attach_small(df: DataFrame) -> DataFrame:
    """Size-aware attach side for verify joins (guide §3.1).

    The dedup/near-dup verifies join a (capped-)quadratic candidate
    pair set back to the per-doc payload table (hashed shingle sets,
    embedding vectors). Broadcasting the payload side keeps the pair
    set map-local — no exchange ever carries arrays — but the payload
    side is O(corpus): at 100 TB it is terabytes and an unconditional
    broadcast OOMs the driver. So the branch is decided from the
    optimizer's size estimate of the payload subtree (parquet-scan
    stats, so it scales with the input; preserved through lazy
    localCheckpoint):

    - below ``spark.nimble.verifyAttach.maxBroadcastBytes`` (default
      256 MB): ``F.broadcast`` — the fast map-side attach;
    - above it (or unestimable): shuffle-hash attach — both sides
      exchange on the id key, the scale-safe pre-broadcast shape that
      degrades to a bigger shuffle instead of failing.

    The two branches compute identical results (plain inner equi-join
    either way); only the physical strategy differs.
    """
    spark = df.sparkSession
    thr = int(spark.conf.get(VERIFY_ATTACH_CONF, str(VERIFY_ATTACH_DEFAULT_BYTES)))
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — unestimable ⇒ assume large
        est = None
    if est is not None and 0 <= est <= thr:
        return F.broadcast(df)
    return df.hint("shuffle_hash")

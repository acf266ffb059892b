"""The package's one materialization primitive.

Iterative operators (label propagation, Borůvka MSTs, version-chain
pointer doubling) materialize every round; request paths (sequence
queries, the as-of legs, multi-consumer subtrees) materialize once per
call.  All of them go through ``materialize``: an eager
``localCheckpoint`` at one storage level, PySpark's serialized
``StorageLevel.MEMORY_AND_DISK`` — several times smaller than the
deserialized form and evictable to disk, so a large intermediate
cannot pin the whole heap.

Lifecycles — a checkpoint's blocks are released by the first of:

* **its owner**: a loop that owns a checkpoint's whole lifetime calls
  ``release`` on the round it supersedes, so rounds never stack up;
* **a request scope**: code that hands back lazy frames built over a
  checkpoint relies on the caller's ``scope()``; every checkpoint
  materialized inside it is released when the scope exits, so a
  serving loop holds no per-request blocks between requests;
* **Spark's ContextCleaner**, outside any scope, once the frame's JVM
  object is garbage-collected (which lags under memory pressure).

Reading a frame after its scope has closed fails loudly with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; it never recomputes and never
returns partial rows.  Losing an executor that holds checkpoint blocks
fails the same way (local checkpoints truncate lineage).  Both are
accepted: a scope is opened only where its results are fully consumed,
and a loud failure is preferable to a size knob that trades memory for
silent recomputation.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["materialize", "release", "scope"]

# inherited-stats bit-length above which ``materialize`` rebuilds the
# Dataset to reset sizeInBytes.  The growth is ~2x bits per round of
# an iterative join loop, so 4096 bits = a rebuild every ~6 rounds;
# BigInt arithmetic below ~2^8192 is sub-microsecond, and an estimate
# past 2^63 bytes is equally meaningless at 64 or 4096 bits, so
# nothing downstream can tell the two apart except the multiply cost
# this bounds.
STATS_REBUILD_BITS = 4096

# one stack of open scopes per thread: concurrent requests served on
# different threads each release only their own checkpoints
_local = threading.local()


def _open_scopes() -> list[list[DataFrame]]:
    stack = getattr(_local, "scopes", None)
    if stack is None:
        stack = _local.scopes = []
    return stack


def materialize(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` that cannot inherit a
    pathological size estimate.

    ``Dataset.localCheckpoint`` copies the optimized plan's ESTIMATED
    statistics into the resulting LogicalRDD, and Catalyst's non-CBO
    estimator multiplies child sizes at every join
    (SizeInBytesOnlyStatsPlanVisitor.visitJoin).  In an iterative join
    loop round r's checkpoint then carries the product of every earlier
    round, so the BigInt's bit-length grows exponentially — a 150-node
    MST once ground one core for 18+ minutes in
    BigInteger.multiplyToomCook3.  The inherited estimate's bit length
    is read (one py4j stats call, no job); past ``STATS_REBUILD_BITS``
    the Dataset is rebuilt from the checkpointed rows, which resets
    sizeInBytes to spark.sql.defaultSizeInBytes.  Below it the raw
    checkpoint is returned with its sane stats, so a genuinely small
    frame stays eligible for auto-broadcast.  On py4j interface drift
    the raw checkpoint is returned.

    The result carries the raw checkpoint as ``_ckpt_handle`` for
    ``release``; inside a ``scope()`` the handle is registered there."""
    ck = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    out = ck
    try:
        jdf = ck._jdf
        size = jdf.queryExecution().analyzed().stats().sizeInBytes()
        # py4j hands scala BigInt back as a Python int (via the
        # BigInteger converter); keep a JavaObject fallback for drift
        try:
            bits = int(size).bit_length()
        except (TypeError, ValueError):
            bits = size.bigInteger().bitLength()
        if bits > STATS_REBUILD_BITS:
            spark = df.sparkSession
            out = DataFrame(
                spark._jsparkSession.internalCreateDataFrame(
                    jdf.queryExecution().toRdd(), jdf.schema(), False
                ),
                spark,
            )
    except Exception:
        out = ck
    out._ckpt_handle = ck
    scopes = _open_scopes()
    if scopes:
        scopes[-1].append(ck)
    return out


def release(df: DataFrame) -> None:
    """Best-effort release of a checkpoint's stored blocks.

    No public API frees a localCheckpoint, so reach the LogicalRDD's
    backing RDD through py4j and unpersist it; on interface drift the
    blocks are left to ContextCleaner.  Releasing twice is harmless."""
    try:
        src = getattr(df, "_ckpt_handle", df)
        src._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


@contextmanager
def scope():
    """Release, on exit, every checkpoint ``materialize`` made inside
    the block (nested scopes release their own on their own exit).
    Frames built over those checkpoints must be fully consumed before
    the block ends."""
    held: list[DataFrame] = []
    scopes = _open_scopes()
    scopes.append(held)
    try:
        yield
    finally:
        scopes.pop()
        for ck in held:
            release(ck)

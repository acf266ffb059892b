"""The materialization primitive (bigsdb_spark/materialize.py): the
stats reset, and the release of checkpoint blocks by their owning
loop or by a request scope."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from bigsdb_spark.materialize import STATS_REBUILD_BITS, materialize, scope


def _held(spark) -> set[int]:
    """Ids of the RDDs whose blocks the session holds.  Comparing id
    sets, not sizes, keeps a test exact while ContextCleaner reclaims
    entries left by earlier tests."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _bits(df) -> int:
    size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    return int(size).bit_length()


def test_materialize_keeps_sane_stats(spark):
    """A sane inherited size estimate is not rebuilt: the result IS the
    raw checkpoint, with its rows unchanged."""
    df = spark.range(200).withColumnRenamed("id", "k").repartition(8, "k")
    ck = materialize(df)
    assert ck._ckpt_handle is ck
    assert ck.count() == 200


def test_materialize_rebuilds_past_bit_bound(spark):
    """The geometric stats blowup (each round's checkpoint copies a join
    product estimate, doubling its bit length) is cut: past
    STATS_REBUILD_BITS the frame is rebuilt with a one-Long estimate."""
    d = spark.createDataFrame([(i, i) for i in range(4)], "a long, b long")
    # repeated key self-join + a checkpoint that copies stats: the
    # non-CBO join estimate is the PRODUCT of the children, so the bit
    # length ~doubles per round while the data stays 4 rows
    for _ in range(16):
        if _bits(d) > STATS_REBUILD_BITS:
            break
        d = d.join(d.select("a", F.col("b").alias("b2")), on="a").select("a", "b")
        d = d.localCheckpoint(eager=True)
    assert _bits(d) > STATS_REBUILD_BITS  # the pathology reproduced
    out = materialize(d)
    assert out._ckpt_handle is not out
    assert _bits(out) <= 64
    assert out.count() == 4


def test_materialize_keeps_broadcast_eligibility(spark):
    """A small materialized frame keeps its sane estimate, so a later
    join against a big probe side can still broadcast it."""
    small = materialize(spark.range(10).withColumnRenamed("id", "k"))
    big = spark.range(200_000).withColumnRenamed("id", "k")
    plan = big.join(small, on="k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_only_materialize_checkpoints():
    """Every materialization in the package goes through materialize."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "bigsdb_spark"
    pat = re.compile(r"localCheckpoint\(|checkpoint_no_stats|_free_local_checkpoint")
    hits = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if pat.search(p.read_text())
    )
    assert hits == ["materialize.py"]


def test_read_after_scope_raises(spark):
    """A frame read after its scope closed fails loudly: it neither
    recomputes nor returns rows."""
    before = _held(spark)
    with scope():
        df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
        assert df.count() == 10
        assert _held(spark) - before
    assert not _held(spark) - before
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.collect()


def test_nested_scopes_release_their_own(spark):
    before = _held(spark)
    with scope():
        outer = materialize(spark.range(5))
        with scope():
            materialize(spark.range(7))
        assert len(_held(spark) - before) == 1  # only the outer one
        assert outer.count() == 5
    assert not _held(spark) - before


def test_salted_asof_in_scope_holds_nothing(spark):
    """Repeated salted as-of joins, each consumed inside its scope,
    leave no storage entries behind."""
    from bigsdb_spark.operators.asof import asof_join_salted

    left = spark.createDataFrame(
        [("a", t, t) for t in range(0, 40, 3)] + [("b", 5, 99)],
        "k string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [("a", t, t * 10) for t in range(0, 40, 7)] + [("b", 1, 7)],
        "k string, ts long, v long",
    )
    before = _held(spark)
    for _ in range(3):
        with scope():
            rows = asof_join_salted(
                left, right, on="k", hot_threshold=5, n_buckets=4
            ).collect()
        assert len(rows) == left.count()
        assert not _held(spark) - before


def test_sequence_route_holds_nothing(spark):
    """The REST sequence query opens its own scope: repeated calls
    leave no storage entries behind."""
    from bigsdb_spark.plans.rest import route_scheme_sequence_query

    alleles = spark.createDataFrame(
        [("abcZ", "1", "ACGTACGTACGT"), ("adk", "1", "CCCCGGGGAAAA")],
        "locus string, allele_id string, sequence string",
    )
    profiles = spark.createDataFrame(
        [("17", ["1", "1"])], "st string, profile array<string>"
    )
    body = {"sequence": ">c1\nACGTACGTACGT\n>c2\nCCCCGGGGAAAA\n"}
    before = _held(spark)
    for _ in range(3):
        got = route_scheme_sequence_query(
            spark, body, alleles, ["abcZ", "adk"], profiles, "http://x"
        )
        assert got["fields"] == {"ST": "17"}
        assert not _held(spark) - before


def test_latest_versions_holds_one_round(spark):
    """The pointer-doubling loop releases each superseded round: over a
    chain of 12 versions (4+ rounds) one checkpoint is left held."""
    from bigsdb_spark.operators.versions import latest_versions

    rows = [(i, i + 1 if i < 12 else None) for i in range(1, 13)]
    iso = spark.createDataFrame(rows, "id int, new_version int")
    before = _held(spark)
    out = latest_versions(iso)
    assert len(_held(spark) - before) <= 1
    assert {r["latest_id"] for r in out.collect()} == {12}

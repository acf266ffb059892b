"""N50 hand-computed fixture (FIXTURES.md edge case: N50 != mean !=
median), single-linkage merge semantics, BURST founder ranking, and
LIN-code assignment order/prefix rules."""

from __future__ import annotations

import pytest

from bigsdb_spark.operators.clustering import burst_slv_dlv, single_linkage
from bigsdb_spark.operators.lincodes import assign_lincodes
from bigsdb_spark.operators.stats import group_stats, n_stats


def test_n50_hand_computed(spark):
    # contigs for one isolate: lengths 100, 200, 300, 400
    # desc: 400 (cum 400), 300 (cum 700 >= 500 -> N50=300, L50=2)
    df = spark.createDataFrame(
        [(1, 100), (1, 200), (1, 300), (1, 400), (2, 10), (2, 10)],
        "isolate_id int, length int",
    )
    got = {r.isolate_id: r for r in n_stats(df, "isolate_id", "length").collect()}
    assert got[1].n50 == 300 and got[1].l50 == 2
    assert got[2].n50 == 10 and got[2].l50 == 1


def test_n90(spark):
    df = spark.createDataFrame(
        [(1, 100), (1, 200), (1, 300), (1, 400)], "isolate_id int, length int"
    )
    got = n_stats(df, "isolate_id", "length", fractions=(0.9,)).collect()[0]
    # cum: 400, 700, 900 >= 900 -> N90=200, L90=3
    assert got.n90 == 200 and got.l90 == 3


def test_group_stats(spark):
    df = spark.createDataFrame([(1, 2.0), (1, 4.0)], "k int, v double")
    r = group_stats(df, "k", "v").collect()[0]
    assert (r.n, r.total, r.min_v, r.max_v, r.mean_v) == (2, 6.0, 2.0, 4.0, 3.0)


def test_single_linkage_merge_smallest_id(spark):
    """cluster.pl semantics: a profile linking two groups merges them
    into the smallest group id (cluster.pl:186 merge_groups)."""
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "id int")
    # 1-2 and 4-5 are separate groups; 3 links 2 and 4 -> all merge to 1
    pairs = spark.createDataFrame(
        [(1, 2), (4, 5), (2, 3), (3, 4)], "id1 int, id2 int"
    )
    got = {r.id: r.group_id for r in single_linkage(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}


def test_burst_founder(spark):
    # star around 1: three SLVs; node 5 has one SLV
    pd = spark.createDataFrame(
        [
            (1, 2, 7, 6, 1),
            (1, 3, 7, 6, 1),
            (1, 4, 7, 6, 1),
            (4, 5, 7, 6, 1),
            (2, 3, 7, 5, 2),
        ],
        "id1 int, id2 int, shared long, matched long, hamming long",
    )
    got = {r.id: r for r in burst_slv_dlv(pd).collect()}
    assert got[1].slv == 3 and got[1].founder_rank == 1
    assert got[2].slv == 1 and got[2].dlv == 1  # (1,2) is an SLV, (2,3) a DLV


def test_lincode_semantics(spark):
    """FIXTURES.md lincode oracle (lincodes.pl:177-330): the first
    profile is all zeros; identical profiles (diffs==0) share a code;
    a near profile inherits the prefix and increments the component at
    its threshold bin; an outlier opens a new top-level lineage."""
    profs = spark.createDataFrame(
        [
            ("01", ["1", "1", "1", "1", "1", "1", "1"]),
            ("02", ["1", "1", "1", "1", "1", "1", "1"]),  # identical to 01
            # d=1, missing=1 -> dist 16.7, identity 83.3 -> bin 2
            ("03", ["N", "1", "1", "1", "1", "1", "2"]),
            ("04", ["9", "9", "9", "9", "9", "9", "9"]),  # outlier d=7
        ],
        "profile_key string, profile array<string>",
    )
    got = {
        r.profile_key: r.lincode
        for r in assign_lincodes(spark, profs, thresholds=[4, 2, 1]).collect()
    }
    assert got["01"] == [0, 0, 0]  # first profile: all zeros (lincodes.pl:194)
    assert got["02"] == [0, 0, 0]  # diffs 0 -> identical code
    # identity 83.3 passes thresholds 42.9 and 71.4, fails 85.7
    # -> prefix [0,0], increment component 2
    assert got["03"] == [0, 0, 1]
    assert got["04"] == [1, 0, 0]  # identity 0 -> new top-level lineage


def test_lincode_normalized_distance_and_batches(spark):
    """The closest profile is chosen by NORMALIZED distance
    (100*diffs/(L - missing_in_either), lincodes.pl:249-252), so a
    raw-diff argmin would pick a different winner; micro-batching must
    not change results (batch_size=2 forces the Spark-side scan)."""
    rows = [
        ("01", ["1", "1", "1", "1", "1", "1", "1"]),
        # vs 01: d=2 over 2 non-missing -> dist 100 -> new lineage
        ("02", ["N", "N", "N", "N", "N", "4", "9"]),
        # vs 01: d=3/7 -> 42.9; vs 02: d=2 but only 2 shared -> 100.
        # Raw diffs would pick 02 (2<3); normalized picks 01.
        ("03", ["1", "1", "1", "1", "4", "5", "6"]),
        # vs 01: d=1, missing=3 -> 25.0 -> identity 75 -> bin 2
        ("04", ["N", "N", "N", "1", "1", "1", "3"]),
    ]
    profs = spark.createDataFrame(rows, "profile_key string, profile array<string>")
    for batch_size in (256, 2):
        got = {
            r.profile_key: r.lincode
            for r in assign_lincodes(
                spark, profs, thresholds=[4, 2, 1], batch_size=batch_size
            ).collect()
        }
        assert got["01"] == [0, 0, 0]
        assert got["02"] == [1, 0, 0]
        assert got["03"] == [0, 1, 0]  # nearest 01, identity 57.1 -> bin 1
        assert got["04"] == [0, 0, 1]  # nearest 01, identity 75 -> bin 2


def test_lincode_prefix_counts_and_hierarchy(spark):
    """LINvis prefix rollup (Plugins/LINvis.pm:238-307): every depth-d
    prefix counts the members beneath it; the assembled hierarchy nests
    children under their depth-1 parent."""
    from bigsdb_spark.operators.lincodes import (
        lincode_hierarchy,
        lincode_prefix_counts,
    )

    assigns = spark.createDataFrame(
        [
            ("p1", [1, 0, 0]),
            ("p2", [1, 0, 1]),
            ("p3", [1, 1, 0]),
            ("p4", [2, 0, 0]),
        ],
        "profile_key string, lincode array<int>",
    )
    counts = lincode_prefix_counts(assigns)
    got = {
        (r["depth"], r["prefix"]): (r["parent"], r["n_members"])
        for r in counts.collect()
    }
    assert got[(1, "1")] == (None, 3)
    assert got[(1, "2")] == (None, 1)
    assert got[(2, "1_0")] == ("1", 2)
    assert got[(2, "1_1")] == ("1", 1)
    assert got[(3, "1_0_1")] == ("1_0", 1)

    root = lincode_hierarchy(counts)
    assert {c["name"] for c in root["children"]} == {"1", "2"}
    one = next(c for c in root["children"] if c["name"] == "1")
    assert one["value"] == 3
    assert {c["name"] for c in one["children"]} == {"1_0", "1_1"}
    leaf = next(c for c in one["children"] if c["name"] == "1_0")
    assert {c["name"] for c in leaf["children"]} == {"1_0_0", "1_0_1"}


def test_lincode_degenerate_inputs(spark):
    """Regression: all-missing profiles (zero shared non-missing loci),
    ragged profile lengths, and identity passing every threshold must
    not crash and must keep codes at the scheme's component count."""
    from bigsdb_spark.operators.lincodes import assign_lincodes

    # all-'N' second profile: denom == 0 -> distance 100 -> new lineage
    profs = spark.createDataFrame(
        [
            ("01", ["1", "1", "1", "1", "1", "1", "1"]),
            ("02", ["N", "N", "N", "N", "N", "N", "N"]),
            ("03", ["2", "2", "2", "2", "2", "2", "2"]),
        ],
        "profile_key string, profile array<string>",
    )
    got = {
        r.profile_key: r.lincode
        for r in assign_lincodes(
            spark, profs, thresholds=[4, 2, 1], batch_size=2
        ).collect()
    }
    assert got["01"] == [0, 0, 0]
    # reference semantics (lincodes.pl:261-263): diffs == 0 reuses the
    # matched code — an all-missing profile has zero countable diffs
    # against everything, so it inherits the first profile's code
    assert got["02"] == got["01"]
    assert len(got["02"]) == 3
    assert got["03"] != got["01"]  # a real distinct profile does not

    # ragged lengths: padding counts as missing, no TypeError
    ragged = spark.createDataFrame(
        [("01", ["1", "1", "1"]), ("02", ["1", "1"])],
        "profile_key string, profile array<string>",
    )
    got2 = {
        r.profile_key: r.lincode
        for r in assign_lincodes(
            spark, ragged, thresholds=[2, 1], batch_size=1
        ).collect()
    }
    assert all(len(c) == 2 for c in got2.values())

    # d=1 passes ALL thresholds (d <= tightest): increment the LAST
    # component, code length stays n_comp
    close = spark.createDataFrame(
        [
            ("01", ["1", "1", "1", "1", "1", "1", "1"]),
            ("02", ["1", "1", "1", "1", "1", "1", "9"]),
        ],
        "profile_key string, profile array<string>",
    )
    got3 = {
        r.profile_key: r.lincode
        for r in assign_lincodes(
            spark, close, thresholds=[4, 2], batch_size=8
        ).collect()
    }
    assert got3["01"] == [0, 0]
    assert got3["02"] == [0, 1] and len(got3["02"]) == 2


def test_lincode_independent_port_matches_operator(spark):
    """The d5 value oracle comes from tools/lincode_oracle.py — an
    independent, strictly sequential reimplementation. Pin the two
    implementations to each other on a fixture exercising ragged
    lengths, missing alleles, duplicates, and small batches (so the
    operator's Spark-batched scan must agree with pure sequential
    resolution)."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from lincode_oracle import assign as port_assign

    profs = [
        ("01", ["A", "A", "R", "A", "R"]),
        ("02", ["A", "A", "R", "A", "R"]),        # duplicate of 01
        ("03", ["A", "N", "R", "A"]),             # missing + ragged
        ("04", ["R", "R", "A", "R", "A"]),        # far from 01
        ("05", ["A", "A", "R", "R", "R"]),        # close to 01
        ("06", ["N", "N"]),                       # mostly missing
        ("07", ["R", "R", "A", "R", "R"]),        # close to 04
    ]
    want = dict(port_assign(profs))
    df = spark.createDataFrame(profs, "profile_key string, profile array<string>")
    got = {
        r.profile_key: list(r.lincode)
        for r in assign_lincodes(
            spark, df, thresholds=[2, 1], batch_size=2
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_lincode_port_agreement_randomized(spark):
    """Randomized cross-validation of the d5 oracle claim: seeded
    random profile corpora (ragged lengths, missing-allele density,
    duplicates) must produce IDENTICAL codes from the Spark-batched
    operator (several batch sizes) and the independent sequential port.
    Any batching bug or semantic drift between the two implementations
    shows up here before it shows up in the gate."""
    import pathlib
    import random
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from lincode_oracle import assign as port_assign

    for seed, batch_size in [(7, 3), (11, 5), (42, 64)]:
        rng = random.Random(seed)
        profs = []
        for i in range(40):
            n = rng.randint(2, 7)
            vec = [
                rng.choice(["A", "R", "N", "1", "2", "0"]) for _ in range(n)
            ]
            profs.append((f"{i:02d}", vec))
        # plant exact duplicates
        profs.append(("90", list(profs[3][1])))
        profs.append(("91", list(profs[17][1])))
        want = dict(port_assign(profs))
        df = spark.createDataFrame(
            profs, "profile_key string, profile array<string>"
        )
        got = {
            r.profile_key: list(r.lincode)
            for r in assign_lincodes(
                spark, df, thresholds=[2, 1], batch_size=batch_size
            ).collect()
        }
        assert got == want, f"divergence at seed={seed} batch={batch_size}"
        # planted duplicates share their original's code
        assert got["90"] == got["03"] and got["91"] == got["17"]


@pytest.mark.slow
def test_cc_single_task_matches_loop(spark):
    """r13: the small-graph single-task union-find fast path (default
    below CC_LOCAL_EDGE_ROWS) returns exactly the distributed loop's
    labels — smallest member id per component, singletons label
    themselves — on chains (worst case for propagation), random blobs,
    the empty edge set, and string ids.  local_edge_rows=0 forces the
    loop for the comparison."""
    import random

    from bigsdb_spark.operators.clustering import single_linkage

    rng = random.Random(13)
    for trial in range(3):
        n = rng.randint(5, 40)
        edges = [
            (rng.randint(1, n), rng.randint(1, n))
            for _ in range(rng.randint(0, 2 * n))
        ]
        chain_base = n + 1
        edges += [(chain_base + i, chain_base + i + 1) for i in range(12)]
        pairs = spark.createDataFrame(edges or [(1, 1)], "id1 int, id2 int")
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, chain_base + 14)], "id int"
        )
        fast = {
            (r["id"], r["group_id"])
            for r in single_linkage(pairs, nodes).collect()
        }
        loop = {
            (r["id"], r["group_id"])
            for r in single_linkage(
                pairs, nodes, local_edge_rows=0
            ).collect()
        }
        assert fast == loop, f"trial {trial}: edges={edges}"
    # empty edge set: every node is its own singleton
    empty = spark.createDataFrame([], "id1 int, id2 int")
    nodes = spark.createDataFrame([(i,) for i in (3, 7)], "id int")
    got = {
        (r["id"], r["group_id"])
        for r in single_linkage(empty, nodes).collect()
    }
    assert got == {(3, 3), (7, 7)}
    # string ids go through the numpy object-dtype path
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id1 string, id2 string"
    )
    nodes = spark.createDataFrame([(c,) for c in "abcxyz"], "id string")
    fast = {
        (r["id"], r["group_id"])
        for r in single_linkage(pairs, nodes).collect()
    }
    assert fast == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("z", "z"),
    }


def test_single_linkage_ignores_foreign_endpoints(spark):
    """Edges with an endpoint outside ``nodes`` neither merge nor label
    nodes: the single-task path gives the distributed loop's labels
    (local_edge_rows=0 forces the loop).  1 and 2 are linked only
    through 99, and 3 only to 0, none of which is a node."""
    from bigsdb_spark.operators.clustering import single_linkage

    pairs = spark.createDataFrame(
        [(1, 99), (99, 2), (0, 3), (3, 4)], "id1 int, id2 int"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id int")
    want = {(1, 1), (2, 2), (3, 3), (4, 3)}
    fast = {(r["id"], r["group_id"]) for r in single_linkage(pairs, nodes).collect()}
    loop = {
        (r["id"], r["group_id"])
        for r in single_linkage(pairs, nodes, local_edge_rows=0).collect()
    }
    assert fast == loop == want


def test_lincode_kernel_equivalence():
    """The two distance kernels (bucketed sparse-matches vs the
    streaming elementwise form the distributed scan uses) are exactly
    equivalent — integer (diffs, missing_in_either) on ragged,
    missing-heavy, and wide (int16-accumulator) shapes."""
    import numpy as np

    from bigsdb_spark.operators.lincodes import (
        _block_dist,
        _encode_codes,
        _pad_profiles,
        _pos_groups,
        _stream_dist,
    )

    rng = np.random.default_rng(7)
    for width, n, q, vocab_n, miss_frac in (
        (32, 257, 64, 9, 0.2),
        (7, 31, 17, 3, 0.6),
        (150, 40, 23, 5, 0.1),  # width > 127 -> int16 accumulators
    ):
        def mk(rows):
            out = []
            for _ in range(rows):
                ln = int(rng.integers(max(1, width - 3), width + 1))
                prof = [
                    "N" if rng.random() < miss_frac
                    else str(int(rng.integers(1, vocab_n + 1)))
                    for _ in range(ln)
                ]
                out.append(prof)
            return out

        chunk, batch = mk(n), mk(q)
        wb = max(width, max(len(p) for p in batch))
        w2 = max(wb, max(len(p) for p in chunk))
        vocab: dict = {}
        bm, blen = _pad_profiles(batch, wb, 4)
        bm = _encode_codes(bm, vocab)
        pm, plen = _pad_profiles(chunk, w2, 4)
        pm = _encode_codes(pm, vocab)
        bg = [_pos_groups(bm[:, p]) for p in range(wb)]
        bmc = (bm == -1).sum(axis=1, dtype=np.int32)
        d0, m0 = _block_dist(pm, plen, bm, blen, bg, bmc, w2)
        d1, m1 = _stream_dist(pm, plen, bm, blen, bmc, w2)
        assert (d0 == d1).all() and (m0 == m1).all()

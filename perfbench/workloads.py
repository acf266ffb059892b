"""The three workloads.  Each one builds its inputs from the seed in
``setup``, runs one round of a fixed sequence of operations in
``run_round`` (counting the operations that completed) and checks the
program's outputs against ``oracle.py`` in ``check``.

Only public functions of ``bigsdb_spark`` are called.  Every call sits
in a ``tr.span`` named after the layer it enters, so a traced run can
attribute time and Spark counters per layer; in an untraced run the
spans record nothing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gen
import oracle
from bigsdb_spark.cache import Materialization
from bigsdb_spark.operators.clustering import single_linkage
from bigsdb_spark.operators.lincodes import assign_lincodes
from bigsdb_spark.operators.mst import boruvka_mst
from bigsdb_spark.operators.profiles import (
    assign_scheme_fields,
    assign_scheme_fields_multi,
    build_profiles,
    matching_profiles,
    profile_pair_distances,
)
from bigsdb_spark.plans.queryspec import run_query
from bigsdb_spark.plans.rest import (
    parse_search,
    route_allele_designations,
    route_field_breakdown,
    route_scheme_designations_query,
    route_scheme_sequence_query,
)
from bigsdb_spark.predicates import build_predicate
from bigsdb_spark.registry import FieldDef, TableDef
from bigsdb_spark.sources.tables import load_table
from bigsdb_spark.views import UserContext, make_view


class Workload:
    """Shared plumbing: ``done`` counts the round's completed operations."""

    def __init__(self, spark, tr, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tr, seed, work
        self.data = os.path.join(work, "data")
        self.done = 0

    @contextmanager
    def op(self, name: str):
        with self.tr.span(name):
            yield
        self.done += 1

    def load(self, table: pa.Table, name: str):
        gen.write(table, self.data, name)
        with self.tr.span("sources.load_table"):
            return load_table(self.spark, self.data, name)

    def run_round(self) -> None:
        self.done = 0
        self.round()

    def trace_probe(self) -> dict[str, float]:
        """Per-layer figures a traced run reads after the measurement."""
        return {}


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


# ------------------------------------------------------------- typing


class TypingRefresh(Workload):
    """Full scheme-cache rebuild of a 7-locus MLST scheme: the pivot, the
    md5 join, the 'N'-wildcard join on a subset (k=1 pruning), the
    paralogous set-membership path (bitmap plan) and the atomic swap."""

    N_ISOLATES, N_DEFS, N_WILD = 10_000, 10_000, 300
    SAMPLE = 1_000
    OPS_PER_ROUND = 5

    def setup(self):
        self.inp = inp = gen.make_typing(self.seed, self.N_ISOLATES, self.N_DEFS,
                                         self.N_WILD)
        self.desig = self.load(gen.designation_table(inp.scheme, inp.isolates),
                               "designations")
        self.defs = self.load(gen.scheme_table(inp.scheme), "schemes")
        self.para = self.load(
            pa.table({"isolate_id": pa.array(np.unique(inp.isolates.multi_ids),
                                             pa.int64())}), "paralogous")
        self.wild = self.load(
            pa.table({"profile_key": pa.array(inp.wild_ids, pa.int64())}), "wild")
        self.mat = Materialization(self.spark, os.path.join(self.work, "cache"),
                                   "scheme_cache")

    def round(self):
        tr, defs, n_loci = self.tr, self.defs, self.inp.scheme.n_loci
        with self.op("build_profiles"), tr.span("profiles.build_profiles"):
            prof = _persist(build_profiles(self.desig, "isolate_id", "locus",
                                           "allele_id"))
        with self.op("assign_exact"), tr.span("profiles.assign_exact"):
            exact = _persist(assign_scheme_fields(prof, defs))
        with self.op("assign_wildcard"), tr.span("profiles.assign_wildcard"):
            wild = _persist(assign_scheme_fields(
                prof.join(self.wild, "profile_key", "left_semi"), defs,
                allow_missing_loci=True, total_loci=n_loci))
        # the reference's per-isolate path: isolates with a paralogous
        # double designation, matched by positional set membership
        multi_long = self.desig.join(self.para, "isolate_id", "left_semi").select(
            F.col("isolate_id").alias("profile_key"), "pos",
            F.col("allele_id").alias("allele"))
        with self.op("assign_multi"), tr.span("profiles.assign_multi"):
            multi = _persist(assign_scheme_fields_multi(
                multi_long, defs, n_loci, allow_missing_loci=True))
        frames = {"exact": exact, "wild": wild, "multi": multi}
        with self.op("refresh_full"), tr.span("cache.refresh_full"):
            self.mat.refresh_full(_union([
                df.select(F.col("profile_key").alias("isolate_id"), "st",
                          F.lit(kind).alias("kind"))
                for kind, df in frames.items()]))
        for df in (prof, *frames.values()):
            df.unpersist()

    def check(self) -> list[str]:
        rows = [(int(i), st, k) for i, st, k in self.mat.read()
                .select("isolate_id", "st", "kind").toPandas()
                .itertuples(index=False)]
        rng = np.random.default_rng([self.seed, 11])
        ids = self.inp.isolates.ids
        sample = np.sort(rng.choice(ids, min(self.SAMPLE, len(ids)), replace=False))
        return oracle.check_typing(self.inp, rows, sample)


def _union(frames):
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------- clustering


class ClusterLincode(Workload):
    """Hamming-distance analytics over clonal complexes: pair distances,
    classification groups at several thresholds, a minimum spanning
    forest of the widest threshold graph, and LIN codes."""

    N_DIST, N_LIN, LOCI, COMPLEXES = 150, 300, 100, 4
    CG_THRESHOLDS = [2, 5, 10]
    LIN_THRESHOLDS = [25, 10, 5, 2, 1, 0]
    OPS_PER_ROUND = len(CG_THRESHOLDS) + 3

    def setup(self):
        self.inp = gen.make_clonal(self.seed, self.N_LIN, self.LOCI, self.COMPLEXES)
        self.long = self.load(gen.clonal_long_table(self.inp), "profiles_long")
        cut = self.inp.keys[self.N_DIST]
        self.long_dist = self.long.filter(F.col("profile_key") < cut)
        self.nodes = self.load(
            pa.table({"profile_key": pa.array(self.inp.keys[:self.N_DIST])}), "nodes")
        self.out = {}

    def round(self):
        if self.out:
            # the same plan would otherwise be served from the old cache
            self.out["dist"].unpersist(blocking=True)
        with self.op("pair_distances"):
            with self.tr.span("profiles.pair_distances"):
                dist = _persist(profile_pair_distances(
                    self.long_dist, "profile_key", "locus", "allele_id",
                    wildcard=True))
        groups = {}
        for t in self.CG_THRESHOLDS:
            with self.op("cgroups"):
                edges = matching_profiles(dist, self.LOCI, t).select("id1", "id2")
                with self.tr.span("clustering.single_linkage"):
                    groups[t] = single_linkage(edges, self.nodes).collect()
        with self.op("mst"):
            edges = matching_profiles(dist, self.LOCI, max(self.CG_THRESHOLDS)).select(
                F.col("id1").alias("u"), F.col("id2").alias("v"),
                F.col("hamming").alias("w"))
            with self.tr.span("mst.boruvka_mst"):
                mst = boruvka_mst(edges, self.nodes).collect()
        with self.op("lincodes"):
            with self.tr.span("profiles.build_profiles"):
                prof = build_profiles(self.long, "profile_key", "locus", "allele_id")
            with self.tr.span("lincodes.assign_lincodes"):
                codes = assign_lincodes(self.spark, prof, self.LIN_THRESHOLDS,
                                        locus_count=self.LOCI).collect()
        self.out = {"dist": dist, "groups": groups, "mst": mst, "codes": codes}

    def check(self) -> list[str]:
        o = self.out
        pairs = [(r.id1, r.id2, int(r.hamming)) for r in
                 o["dist"].select("id1", "id2", "hamming").toPandas().itertuples()]
        self._pairs = len(pairs)
        o["dist"].unpersist()
        groups = {t: {r["id"]: r["group_id"] for r in rows}
                  for t, rows in o["groups"].items()}
        mst = [(r["u"], r["v"], int(r["w"])) for r in o["mst"]]
        errors = oracle.check_clusters(self.inp, self.N_DIST, self.CG_THRESHOLDS,
                                       pairs, groups, mst)
        codes = {r["profile_key"]: list(r["lincode"]) for r in o["codes"]}
        errors += oracle.check_lincodes(self.inp, self.N_LIN, self.LIN_THRESHOLDS, codes)
        return errors

    def trace_probe(self):
        """Propagation rounds of the distributed label loop, read through
        the public ``round_stats`` argument (which selects that loop)."""
        dist = profile_pair_distances(self.long_dist, "profile_key", "locus",
                                      "allele_id", wildcard=True)
        n = 0
        for t in self.CG_THRESHOLDS:
            stats: list = []
            with self.tr.span("clustering.single_linkage_rounds"):
                single_linkage(matching_profiles(dist, self.LOCI, t).select("id1", "id2"),
                               self.nodes, round_stats=stats).collect()
            n += len(stats)
        return {"clustering.single_linkage.rounds": float(n),
                "profiles.pair_distances.pairs": float(self._pairs)}


# ------------------------------------------------------------ requests

TABLE = TableDef("isolates", [
    FieldDef("id", "int"), FieldDef("isolate"), FieldDef("country"),
    FieldDef("year", "int"), FieldDef("species"), FieldDef("serogroup"),
])
BASE = "/db/pubmlst_test"


class WebRequests(Workload):
    """A closed loop with one client: a fixed sequence of seeded REST
    reads over a non-admin view, with a curator write that re-types a
    batch of isolates and MERGEs it into the scheme cache."""

    N_ISOLATES, N_DEFS, SEQ_LEN, WRITE_BATCH = 10_000, 10_000, 450, 40
    # One round: each request kind once, in this fixed order; the seed
    # draws each request's arguments.  No measured BIGSdb/PubMLST request
    # mix is known, so equal counts imply no share of the traffic.
    MIX = ("search", "st_search", "breakdown", "allele_designations",
           "designations_query", "sequence_query", "write")
    OPS_PER_ROUND = len(MIX)

    def setup(self):
        spark = self.spark
        self.inp = inp = gen.make_web(self.seed, self.N_ISOLATES, self.N_DEFS,
                                      self.SEQ_LEN, self.WRITE_BATCH)
        desig_tab = gen.designation_table(inp.scheme, inp.typed)
        tables = {
            "isolates": inp.isolates, "private": inp.private,
            "projects": inp.projects, "designations": desig_tab,
            "schemes": gen.scheme_table(inp.scheme),
            "alleles": gen.allele_table(inp),
        }
        df = {name: self.load(t, name) for name, t in tables.items()}
        self.alleles, self.schemes, self.desig = df["alleles"], df["schemes"], df["designations"]
        self.view = make_view(
            df["isolates"], UserContext(user_id=gen.USER_ID, project_ids=gen.USER_PROJECTS),
            private_records=df["private"], project_members=df["projects"],
            today=gen.TODAY)
        self.mat = Materialization(spark, os.path.join(self.work, "cache"), "scheme_cache")
        with self.tr.span("cache.refresh_full"):
            self.mat.refresh_full(self._typed(self.desig))
        self.oracle = oracle.RequestOracle(
            {n: os.path.join(self.data, f"{n}.parquet") for n in tables}, inp, BASE)
        self.requests = self._make_requests()
        self.writes_sent = 0
        self.writes = [gen.designation_table(inp.scheme, st).to_pandas()
                       for st in inp.write_states]
        self.log: list[tuple] = []  # (kind, args, writes before, response)

    def _typed(self, desig):
        with self.tr.span("profiles.build_profiles"):
            prof = build_profiles(desig, "isolate_id", "locus", "allele_id")
        with self.tr.span("profiles.assign_exact"):
            sts = assign_scheme_fields(prof, self.schemes)
        return sts.select(F.col("profile_key").alias("isolate_id"), "st")

    def _make_requests(self) -> list[tuple[str, dict]]:
        rng = np.random.default_rng([self.seed, 4])
        inp = self.inp
        visible = self.oracle.visible_ids()
        sts = list(self.oracle.base_sts.values())
        common = [st for st, _ in sorted(
            ((st, sts.count(st)) for st in set(sts)), key=lambda x: (-x[1], x[0]))[:20]]
        full = np.flatnonzero((inp.scheme.defs != 0).all(axis=1))
        out = []
        for kind in self.MIX:
            a: dict = {}
            if kind == "search":
                if rng.random() < 0.5:
                    c = gen.COUNTRIES[rng.integers(len(gen.COUNTRIES))]
                    y = int(rng.integers(1995, 2016))
                    a["body"] = {"field.country": c,
                                 "field.year": {"operator": ">=", "value": y},
                                 "page": int(rng.integers(1, 4)), "page_size": 25,
                                 "sort": "year"}
                    a["sql_where"] = f"upper(country) = upper('{c}') AND year >= {y}"
                    a["sql_order"] = "year, id"
                else:
                    sp = ["menin", "GONO", "jejuni"][rng.integers(3)]
                    sg = ["B", "c", "W"][rng.integers(3)]
                    a["body"] = {"field.species": {"operator": "contains", "value": sp},
                                 "field.serogroup": {"operator": "NOT", "value": sg},
                                 "page": 1, "page_size": 25, "sort": "-year"}
                    a["sql_where"] = (f"contains(upper(species), upper('{sp}')) AND "
                                      f"(NOT (upper(serogroup) = upper('{sg}')) "
                                      "OR serogroup IS NULL)")
                    a["sql_order"] = "year DESC, id"
                a["page"], a["page_size"] = a["body"]["page"], 25
            elif kind == "st_search":
                a["st"] = common[rng.integers(len(common))]
                a["body"] = {"scheme.1.ST": a["st"], "page": 1, "page_size": 50}
                a["page_size"] = 50
            elif kind == "breakdown":
                a["field"] = ["country", "species", "serogroup", "year"][rng.integers(4)]
            elif kind == "allele_designations":
                a["isolate_id"] = int(visible[rng.integers(len(visible))])
            elif kind in ("designations_query", "sequence_query"):
                d = int(full[rng.integers(len(full))])
                alleles = {x: str(int(c)) for x, c in zip(inp.scheme.loci, inp.scheme.defs[d])}
                a["designations"] = alleles
                if kind == "sequence_query":
                    a["alleles"], a["st"] = alleles, inp.scheme.st[d]
                    a["fasta"] = "".join(
                        f">q{k}\n{inp.allele_seqs[(x, int(c))]}\n"
                        for k, (x, c) in enumerate(alleles.items()))
            a["label"] = f"#{len(out)}"
            out.append((str(kind), a))
        return out

    def _request(self, kind: str, a: dict):
        spark, tr = self.spark, self.tr
        if kind == "search":
            with tr.span("rest.search"):
                rq = parse_search(a["body"], TABLE)
                with tr.span("queryspec.run_query"):
                    return [r["id"] for r in run_query(self.view, rq.spec).collect()]
        if kind == "st_search":
            with tr.span("rest.search"):
                rq = parse_search(a["body"], TABLE)
                (scheme_id, row), = rq.scheme_filters
                with tr.span("cache.read"):
                    ids = self.mat.read().filter(
                        build_predicate(F.col("st"), row.op, row.value)
                    ).select(F.col("isolate_id").alias("id"))
                with tr.span("queryspec.run_query"):
                    return [r["id"] for r in run_query(
                        self.view.join(ids, "id", "left_semi"), rq.spec).collect()]
        if kind == "breakdown":
            with tr.span("rest.field_breakdown"):
                return route_field_breakdown(self.view, TABLE, a["field"])
        if kind == "allele_designations":
            with tr.span("rest.allele_designations"):
                return route_allele_designations(self.desig, a["isolate_id"], BASE,
                                                 view=self.view)
        if kind == "designations_query":
            with tr.span("rest.scheme_designations_query"):
                return route_scheme_designations_query(
                    spark, {"designations": a["designations"]},
                    self.inp.scheme.loci, self.schemes)
        if kind == "sequence_query":
            with tr.span("sequence_query.scheme_sequence_query"):
                return route_scheme_sequence_query(
                    spark, {"sequence": a["fasta"]}, self.alleles,
                    self.inp.scheme.loci, self.schemes, BASE)
        if kind == "write":
            state = self.writes_sent % 2
            desig = spark.createDataFrame(self.writes[state])
            changed = spark.createDataFrame(
                [(int(i),) for i in self.inp.write_ids], "isolate_id long")
            with tr.span("cache.refresh_incremental"):
                version = self.mat.refresh_incremental(self._typed(desig), changed,
                                                       "isolate_id")
            self.writes_sent += 1
            return version
        raise KeyError(kind)

    def round(self):
        for kind, a in self.requests:
            writes = self.writes_sent
            with self.op(kind):
                resp = self._request(kind, a)
            self.log.append((kind, a, writes, resp))

    def check(self) -> list[str]:
        errors = []
        for kind, a, writes, resp in self.log:
            errors += self.oracle.check(kind, a, writes, resp)
        rows = [(int(r["isolate_id"]), r["st"]) for r in self.mat.read().collect()]
        errors += self.oracle.check_cache(rows, self.writes_sent)
        return errors


WORKLOADS = {
    "typing_refresh": TypingRefresh,
    "cluster_lincode": ClusterLincode,
    "web_requests": WebRequests,
}

"""The sequence-query entry point (SURVEY §3, 4th path):
POST a sequence -> exact allele match, falling back to the inexact
(partial-match) tier -> designation/scheme lookup.

Reference flow: SequenceQueryPage.pm:376 _run_query -> Offline/Blast.pm
exact path (:191) -> matching allele -> which isolates carry it and
which profiles/STs contain it; queries with no exact hit fall through
to the partial-match tier (:196 get_partial_matches, surfaced as
"closest match" with identity/mismatches/gaps). Here the exact tier is
two md5 joins and the partial tier is the k-mer prefilter + ungapped
scorer (seqmatch.ungapped_partial_matches); a real BLAST slots in via
seqmatch.ExternalTool when present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize

from bigsdb_spark.operators.seqmatch import (
    exact_allele_lookup,
    ungapped_partial_matches,
)


def sequence_query(
    spark: SparkSession,
    sequences: list[tuple[str, str]],
    alleles: DataFrame,
    designations: DataFrame | None = None,
    scheme_profiles: DataFrame | None = None,
    scheme_loci: list[str] | None = None,
    partial: bool = False,
    min_identity: float = 90.0,
) -> dict[str, DataFrame]:
    """``sequences``: [(query_id, sequence)]. Returns a dict of result
    frames: 'matches' (query -> locus/allele), plus 'isolates' (which
    isolates carry the matched allele) and 'profiles' (which STs contain
    it) when the respective tables are provided. With ``partial=True``,
    queries with NO exact match are scored against the allele store by
    the inexact tier and returned as 'partial_matches'
    (query_id, locus, allele_id, alignment, mismatches, gaps,
    identity)."""
    q = spark.createDataFrame(sequences, "query_id string, sequence string")
    # materialized, not .cache(): matches feeds up to three outputs
    # (isolates/profiles/partial anti-join) but the caller gets no
    # handle to unpersist; a serving caller's scope() releases it
    matches = materialize(exact_allele_lookup(q, alleles))
    out = {"matches": matches}
    if partial:
        unmatched = q.join(
            matches.select("query_id"), on="query_id", how="left_anti"
        )
        out["partial_matches"] = ungapped_partial_matches(
            unmatched, alleles, min_identity=min_identity
        )
    if designations is not None:
        out["isolates"] = (
            matches.join(
                designations,
                on=["locus", "allele_id"],
            )
            .select("query_id", "locus", "allele_id", "isolate_id")
        )
    if scheme_profiles is not None:
        if not scheme_loci:
            raise ValueError("scheme_loci required to address profile positions")
        # profile vectors are ordered by locus name (build_profiles);
        # map each position back to its locus before the join so allele
        # ids — which are only unique per locus — join on (locus, allele)
        locus_map = F.array(*[F.lit(x) for x in sorted(scheme_loci)])
        long_defs = scheme_profiles.select(
            "st", F.posexplode("profile").alias("pos", "allele_id")
        ).withColumn("locus", F.element_at(locus_map, F.col("pos") + 1)).drop("pos")
        out["profiles"] = matches.join(
            long_defs, on=["locus", "allele_id"]
        ).select("query_id", "locus", "allele_id", "st")
    return out

"""Inventory: sequence-domain scalar functions (SURVEY §2.8 F1-F9)
exercised over pseudo-DNA derived deterministically from documents.text
(the driver tables carry no real sequences; the domain fixtures in
tests/ cover the genomic semantics on hand-built contigs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigsdb_spark.inventory.registry import DNA_SQL, dna_expr, register, tbl
from bigsdb_spark.functions.sequence import (
    _CODON_TABLE_1,
    gc_content,
    is_complete_cds,
    is_valid_dna,
    reverse_complement,
    sequence_md5,
    translate_dna,
)
from bigsdb_spark.materialize import materialize

# F4 oracle side: the standard genetic code as a VALUES CTE, generated
# from the SAME table the pandas UDF uses so the two spellings cannot
# drift (64 static rows — the SQL the driver sees is still one constant
# string).
_CODON_VALUES = ", ".join(
    f"('{c}', '{aa}')" for c, aa in sorted(_CODON_TABLE_1.items())
)

# pseudo-DNA: the shared registry spelling (oracle + Spark expression)
_DNA_SQL = DNA_SQL


def _pseudo_dna(spark, sf_dir):
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        dna_expr("text").alias("seq"),
    ).filter(F.length("seq") > 0)


def _fasta_roundtrip_dna(spark, sf_dir):
    """S2/F7/S6-fasta exercised INSIDE the oracle gate (r7): the
    sequence suite's input takes a real round trip through the FASTA
    sink (``to_fasta``'s 60-char line wrapping + ``write_fasta``) and
    the distributed '>'-record FASTA reader (``read_fasta``,
    Utils.pm:270 read_fasta) before any stat is computed.  The trip is
    lossless for this corpus (upper-case ACGT, no whitespace), so the
    DuckDB oracle is UNCHANGED — but a wrapping, record-split, header,
    or whitespace-reassembly defect now breaks the entry's row count or
    value hash loudly instead of living only in the golden-file tests.
    Scratch lives under the repo's spark-warehouse dir (driver cwd is
    not ours), per-PID scratch (gate_scratch)."""
    from bigsdb_spark.sources.fasta import read_fasta
    from bigsdb_spark.sources.sinks import write_fasta

    from bigsdb_spark.inventory.registry import gate_scratch

    path = gate_scratch("fasta_roundtrip")
    write_fasta(_pseudo_dna(spark, sf_dir), "doc_id", "seq", path)
    back = read_fasta(spark, path)
    return back.select(
        F.col("seq_id").cast("long").alias("doc_id"),
        F.col("sequence").alias("seq"),
    )


@register(
    "f10_partial_match",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DNA_SQL} AS seq FROM documents),
    alleles AS (
        SELECT doc_id AS allele_id, substr(seq, 1, 60) AS aseq
        FROM d WHERE length(seq) >= 60),
    queries AS (
        -- deterministic point mutations at positions 5 and 20
        SELECT allele_id AS query_id,
               concat(substr(aseq, 1, 4),
                      translate(substr(aseq, 5, 1), 'ACGT', 'CGTA'),
                      substr(aseq, 6, 14),
                      translate(substr(aseq, 20, 1), 'ACGT', 'CGTA'),
                      substr(aseq, 21)) AS qseq
        FROM alleles WHERE allele_id % 10 = 0),
    mm AS (
        SELECT q.query_id, a.allele_id,
               CAST(60 AS BIGINT) AS alignment,
               CAST((SELECT count(*) FROM UNNEST(range(1, 61)) AS u(i)
                     WHERE substr(q.qseq, i, 1) != substr(a.aseq, i, 1))
                    AS BIGINT) AS mismatches
        FROM queries q, alleles a)
    SELECT query_id, 'locus1' AS locus, CAST(allele_id AS VARCHAR) AS allele_id,
           alignment, mismatches, CAST(0 AS BIGINT) AS gaps,
           round((60 - mismatches) * 100.0 / 60, 4) AS identity
    FROM mm WHERE round((60 - mismatches) * 100.0 / 60, 4) >= 95.0
    """,
)
def f10_partial(spark, sf_dir):
    """F10 inexact tier: sequence -> allele PARTIAL matching — the
    k-mer-prefilter + ungapped-scoring path
    (operators/seqmatch.py::ungapped_partial_matches), reproducing the
    partial-match record of Offline/Blast.pm:443-502 (identity,
    mismatches, gaps, alignment; the identity threshold knob of :452).

    Fixture: alleles = 60-mers of pseudo-DNA; queries = every 10th
    allele with deterministic point mutations at positions 5 and 20
    (2 mismatches -> identity 96.7). The oracle scores ALL pairs
    directly, so it also proves the k-mer prefilter loses no
    within-threshold candidate: identity >= 95 over 60 bp means <= 3
    mismatches, whose longest exact run is >= ceil(57/4) = 15 >= k=10. The
    gapped/banded tier (seqmatch.banded_align) is pytest-covered —
    alignment scoring is not expressible in one SQL pass.

    r13: the alleles frame is materialized ONCE (eager localCheckpoint,
    ~2.6k rows x 60 chars at sf0.1 — guide §2.4 via the a11 recipe):
    the plan otherwise re-scans documents and re-evaluates the regex
    dna_expr FOUR times (query/allele k-mer explodes + the two scoring
    rejoins), which was most of the query's wall time (probe:
    alleles_build 0.28 s per copy, f10 full 1.28-1.6 s).
    """
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", dna_expr("text").alias("seq")
    ).filter(F.length("seq") >= 60)
    alleles = materialize(
        d.select(
            F.lit("locus1").alias("locus"),
            F.col("doc_id").cast("string").alias("allele_id"),
            F.substring("seq", 1, 60).alias("sequence"),
        )
    )
    mut = F.concat(
        F.substring("sequence", 1, 4),
        F.translate(F.substring("sequence", 5, 1), "ACGT", "CGTA"),
        F.substring("sequence", 6, 14),
        F.translate(F.substring("sequence", 20, 1), "ACGT", "CGTA"),
        F.expr("substring(sequence, 21)"),
    )
    queries = alleles.filter(F.col("allele_id").cast("long") % 10 == 0).select(
        F.col("allele_id").cast("long").alias("query_id"),
        mut.alias("sequence"),
    )
    from bigsdb_spark.operators.seqmatch import ungapped_partial_matches

    return ungapped_partial_matches(
        queries, alleles, k=10, min_identity=95.0, min_alignment_pct=50.0
    )


@register(
    "f_sequence_suite",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DNA_SQL} AS seq FROM documents),
    ct(codon, aa) AS (VALUES {_CODON_VALUES}),
    codpos AS (
        SELECT doc_id, u.i AS i, substr(seq, CAST(u.i * 3 + 1 AS INT), 3) AS codon
        FROM d, UNNEST(range(0, length(seq) // 3)) AS u(i)),
    prot AS (
        SELECT codpos.doc_id,
               string_agg(coalesce(ct.aa, '?'), '' ORDER BY codpos.i) AS protein
        FROM codpos LEFT JOIN ct ON ct.codon = codpos.codon
        GROUP BY codpos.doc_id)
    SELECT d.doc_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           md5(seq) AS seq_md5,
           reverse(translate(seq, 'ACGT', 'TGCA')) AS revcomp,
           CASE WHEN regexp_matches(seq, '^[ACGT]+$') THEN 1 ELSE 0 END
               AS valid_dna,
           round(length(regexp_replace(seq, '[^GC]', '', 'g'))
                 / length(regexp_replace(seq, '[^ACGT]', '', 'g'))
                 * 100.0, 4) AS gc_pct,
           coalesce(prot.protein, '') AS protein,
           CASE WHEN length(seq) >= 3 AND length(seq) % 3 = 0
                     AND substr(seq, 1, 3) IN ('ATG', 'GTG', 'TTG')
                     AND substr(seq, length(seq) - 2, 3)
                         IN ('TAA', 'TAG', 'TGA')
                     AND NOT contains(
                         substr(prot.protein, 1,
                                greatest(length(prot.protein) - 1, 0)),
                         '*')
                THEN 1 ELSE 0 END AS complete_cds
    FROM d LEFT JOIN prot ON prot.doc_id = d.doc_id
    WHERE length(seq) > 0
    """,
)
def f_suite(spark, sf_dir):
    """F1-F6: reverse-complement (translate+reverse, Utils.pm:39),
    DNA validity regex (Utils.pm:50), GC%% (SeqbinBreakdown.pm:488-530),
    md5 sequence identity (sql/seqdef.sql:358) — all expression-only —
    plus the two codon-table functions: DNA->peptide translation
    (BioPerl translate; one Arrow pandas-UDF pass shared by both
    columns) and the complete-CDS check (Utils.pm:74), value-checked
    against an independent VALUES-table translation in the oracle.
    Since r7 the input sequences round-trip through the FASTA
    writer/reader first (S2/F7 in the gate — see
    ``_fasta_roundtrip_dna``)."""
    d = _fasta_roundtrip_dna(spark, sf_dir)
    d = d.withColumn("protein", translate_dna(F.col("seq")))
    return d.select(
        "doc_id",
        F.length("seq").cast("long").alias("seq_len"),
        sequence_md5(F.col("seq")).alias("seq_md5"),
        reverse_complement(F.col("seq")).alias("revcomp"),
        is_valid_dna(F.col("seq")).cast("int").alias("valid_dna"),
        gc_content(F.col("seq")).alias("gc_pct"),
        "protein",
        is_complete_cds(F.col("seq"), peptide=F.col("protein"))
        .cast("int")
        .alias("complete_cds"),
    )


# ---------------------------------------------------------------------------
# F11/F12/D11 scan suite fixtures — deterministic, scale-agnostic, and
# SINGLE-SOURCED: the oracle SQL and the Spark expressions below are
# generated from the same spellings so the two sides cannot drift.
#
# contigs: pseudo-DNA repeated to ~180 bp (the repetition deliberately
# plants multiple occurrences of every planted substring, stressing the
# "find EVERY occurrence" semantics of the exact autotagger and the
# multi-amplicon pairing of in-silico PCR).
_CONTIG_SQL = "substr(repeat(seq, 4), 1, 180)"
_CONTIG_FILTER = "length(seq) >= 40"

# D11 fixture mutations (locus, 1-based position, wild_type, variant) —
# positions within the 24-bp allele fixture.
_MUTATIONS = [
    ("L0", 3, "A", "G"),
    ("L0", 10, "C", "T"),
    ("L1", 3, "G", "A"),
    ("L1", 7, "T", "C"),
    ("L2", 5, "C", "A"),
    ("L2", 20, "A", "T"),
]
_MUT_VALUES = ", ".join(
    f"('{lo}', {p}, '{w}', '{v}')" for lo, p, w, v in _MUTATIONS
)


@register(
    "f11_f12_d11_scan_suite",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DNA_SQL} AS seq FROM documents),
    contigs AS (
        SELECT doc_id AS contig_id, {_CONTIG_SQL} AS contig
        FROM d WHERE {_CONTIG_FILTER} AND doc_id % 3 = 0),
    alleles AS (
        SELECT 'L' || CAST((doc_id // 20) % 3 AS VARCHAR) AS locus,
               CAST(doc_id AS VARCHAR) AS allele_id,
               substr(seq, 5, 24) AS sequence
        FROM d WHERE {_CONTIG_FILTER} AND doc_id % 20 = 0),
    pairs AS (
        SELECT CAST(doc_id AS VARCHAR) AS pair_id,
               substr({_CONTIG_SQL}, 11, 15) AS fwd,
               reverse(translate(substr({_CONTIG_SQL}, 71, 15),
                                 'ACGT', 'TGCA')) AS rev
        FROM d WHERE {_CONTIG_FILTER} AND doc_id % 50 = 0),
    win24 AS (
        SELECT contig_id, u.i AS pos, substr(contig, CAST(u.i AS INT), 24) AS win
        FROM contigs, UNNEST(range(1, length(contig) - 24 + 2)) AS u(i)),
    autotag AS (
        SELECT w.contig_id, a.locus, a.allele_id, w.pos AS start_pos,
               w.pos + 23 AS end_pos
        FROM win24 w JOIN alleles a ON w.win = a.sequence),
    win15 AS (
        SELECT contig_id, u.i AS pos, substr(contig, CAST(u.i AS INT), 15) AS win
        FROM contigs, UNNEST(range(1, length(contig) - 15 + 2)) AS u(i)),
    roles AS (
        SELECT pair_id, 'F' AS ori, 'first' AS role, fwd AS p FROM pairs
        UNION ALL
        SELECT pair_id, 'F', 'second',
               reverse(translate(rev, 'ACGT', 'TGCA')) FROM pairs
        UNION ALL
        SELECT pair_id, 'R', 'first', rev FROM pairs
        UNION ALL
        SELECT pair_id, 'R', 'second',
               reverse(translate(fwd, 'ACGT', 'TGCA')) FROM pairs),
    occ AS (
        SELECT w.contig_id, r.pair_id, r.ori, r.role, w.pos
        FROM win15 w JOIN roles r ON w.win = r.p),
    amplicons AS (
        SELECT a.contig_id, a.pair_id, a.ori, a.pos AS f_pos, b.pos AS r_pos
        FROM occ a JOIN occ b
          ON a.contig_id = b.contig_id AND a.pair_id = b.pair_id
         AND a.ori = b.ori
        WHERE a.role = 'first' AND b.role = 'second'
          AND b.pos > a.pos AND b.pos + 15 - a.pos <= 5000),
    mut(locus, position, wild_type, variant) AS (VALUES {_MUT_VALUES}),
    mutation AS (
        SELECT m.locus, a.allele_id, m.position,
               substr(a.sequence, m.position, 1) AS observed,
               m.wild_type, m.variant
        FROM alleles a JOIN mut m ON m.locus = a.locus)
    SELECT 'autotag' AS kind, CAST(contig_id AS BIGINT) AS contig_id,
           locus, allele_id AS key, CAST(start_pos AS BIGINT) AS start_pos,
           CAST(end_pos AS BIGINT) AS end_pos,
           CAST(NULL AS BIGINT) AS product_len, CAST(NULL AS VARCHAR) AS obs,
           CAST(NULL AS INT) AS is_variant, CAST(NULL AS INT) AS is_wild_type
    FROM autotag
    UNION ALL
    SELECT 'pcr', CAST(contig_id AS BIGINT), CAST(NULL AS VARCHAR),
           pair_id, CAST(f_pos AS BIGINT), CAST(r_pos + 14 AS BIGINT),
           CAST(r_pos + 15 - f_pos AS BIGINT), ori,
           CAST(NULL AS INT), CAST(NULL AS INT)
    FROM amplicons
    UNION ALL
    SELECT 'mutation', CAST(NULL AS BIGINT), locus, allele_id,
           CAST(position AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), observed,
           CASE WHEN observed = variant THEN 1 ELSE 0 END,
           CASE WHEN observed = wild_type THEN 1 ELSE 0 END
    FROM mutation
    """,
)
def f11_f12_d11_scan_suite(spark, sf_dir):
    """F11 exact autotag + F12 in-silico PCR + D11 mutation scan, each
    through its REAL operator (seqmatch.scan_contigs_exact, the
    windowed-md5 hash join of Offline/AutoTag.pm; pcr.insilico_pcr, the
    exact tier of Plugins/PCR.pm/ipcress; seqmatch.mutation_scan,
    sequence_variation scanning of Datastore.pm) over deterministic
    pseudo-DNA fixtures. The oracle recomputes all three from first
    principles (window joins in SQL), value-checking every occurrence,
    every amplicon pairing in both orientations, and every mutation
    flag."""
    from bigsdb_spark.operators.pcr import insilico_pcr
    from bigsdb_spark.operators.seqmatch import mutation_scan, scan_contigs_exact

    d = _pseudo_dna(spark, sf_dir)
    base = d.filter(F.expr(_CONTIG_FILTER))
    contigs = base.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("contig_id"),
        F.expr(_CONTIG_SQL).alias("sequence"),
    )
    alleles = base.filter(F.col("doc_id") % 20 == 0).select(
        F.expr("concat('L', CAST((doc_id DIV 20) % 3 AS STRING))").alias("locus"),
        F.col("doc_id").cast("string").alias("allele_id"),
        F.expr("substr(seq, 5, 24)").alias("sequence"),
    )
    pairs = base.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").cast("string").alias("pair_id"),
        F.expr(f"substr({_CONTIG_SQL}, 11, 15)").alias("forward"),
        reverse_complement(F.expr(f"substr({_CONTIG_SQL}, 71, 15)")).alias(
            "reverse"
        ),
    )
    mutations = spark.createDataFrame(
        _MUTATIONS, "locus string, position int, wild_type string, variant string"
    )

    tags = scan_contigs_exact(
        contigs, alleles, contig_id="contig_id", contig_seq="sequence"
    ).select(
        F.lit("autotag").alias("kind"),
        F.col("contig_id").cast("long").alias("contig_id"),
        "locus",
        F.col("allele_id").alias("key"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("end_pos").cast("long").alias("end_pos"),
        F.lit(None).cast("long").alias("product_len"),
        F.lit(None).cast("string").alias("obs"),
        F.lit(None).cast("int").alias("is_variant"),
        F.lit(None).cast("int").alias("is_wild_type"),
    )
    amps = insilico_pcr(
        contigs, pairs, contig_id="contig_id", contig_seq="sequence",
        max_product=5000,
    ).select(
        F.lit("pcr").alias("kind"),
        F.col("contig_id").cast("long").alias("contig_id"),
        F.lit(None).cast("string").alias("locus"),
        F.col("pair_id").alias("key"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("end_pos").cast("long").alias("end_pos"),
        F.col("product_len").cast("long").alias("product_len"),
        F.col("orientation").alias("obs"),
        F.lit(None).cast("int").alias("is_variant"),
        F.lit(None).cast("int").alias("is_wild_type"),
    )
    muts = mutation_scan(alleles, mutations).select(
        F.lit("mutation").alias("kind"),
        F.lit(None).cast("long").alias("contig_id"),
        "locus",
        F.col("allele_id").alias("key"),
        F.col("position").cast("long").alias("start_pos"),
        F.lit(None).cast("long").alias("end_pos"),
        F.lit(None).cast("long").alias("product_len"),
        F.col("observed").alias("obs"),
        F.col("is_variant").cast("int").alias("is_variant"),
        F.col("is_wild_type").cast("int").alias("is_wild_type"),
    )
    return tags.unionByName(amps).unionByName(muts)

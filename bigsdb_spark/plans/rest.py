"""REST search-request parser (SURVEY §3.2).

The reference's POST /db/:db/isolates/search accepts a flat JSON object
with category-prefixed keys — ``field.country``, ``locus.abcZ``,
``scheme.1.ST`` — plus paging params, validates operators against the
whitelist and returns typed 400s on unknown fields
(REST/Routes/Isolates.pm:475-724). This module parses the same shape
into a QuerySpec; the composer does the rest.

Value forms: scalar (implies '='), or {"operator": ">", "value": 2015}.
"""

from __future__ import annotations

from dataclasses import dataclass

from bigsdb_spark.plans.queryspec import FormRow, QuerySpec
from bigsdb_spark.predicates import is_valid_operator
from bigsdb_spark.registry import TableDef


class BadRequest(ValueError):
    """Maps to HTTP 400 — unknown field / invalid operator / bad type
    (REST/Interface.pm error shape)."""


@dataclass
class RestQuery:
    spec: QuerySpec
    locus_filters: list[FormRow]
    scheme_filters: list[tuple[int, FormRow]]


def parse_search(
    body: dict,
    table: TableDef,
    page_size_default: int = 100,
    max_page_size: int = 1000,
) -> RestQuery:
    rows: list[FormRow] = []
    locus_rows: list[FormRow] = []
    scheme_rows: list[tuple[int, FormRow]] = []
    for key, raw in body.items():
        if key in ("page", "page_size", "sort", "combinator"):
            continue
        if isinstance(raw, dict):
            op = raw.get("operator", "=")
            value = raw.get("value")
        else:
            op, value = "=", raw
        if not is_valid_operator(op):
            raise BadRequest(f"invalid operator: {op}")
        if value is None:
            # JSON null / absent value: a typed 400, NOT a predicate —
            # str(None) would otherwise match the literal text 'None'.
            # (The reference's null search is the string keyword 'null'.)
            raise BadRequest(f"missing value for: {key}")
        parts = key.split(".")
        if parts[0] == "field" and len(parts) == 2:
            try:
                fdef = table.field(parts[1])
            except KeyError:
                raise BadRequest(f"unknown field: {parts[1]}") from None
            rows.append(FormRow(fdef.name, op, value, is_array=fdef.multiple))
        elif parts[0] == "locus" and len(parts) == 2:
            locus_rows.append(FormRow(parts[1], op, value))
        elif parts[0] == "scheme" and len(parts) == 3:
            try:
                scheme_id = int(parts[1])
            except ValueError:
                raise BadRequest(f"bad scheme id: {parts[1]}") from None
            scheme_rows.append((scheme_id, FormRow(parts[2], op, value)))
        else:
            raise BadRequest(f"unknown search category: {key}")

    def _int_param(name: str, default: int) -> int:
        v = body.get(name, default)
        # strict: JSON booleans and floats are NOT paging integers
        # (int(True) -> 1 and int(2.9) -> 2 would silently coerce)
        if isinstance(v, bool) or not isinstance(v, int):
            raise BadRequest("page and page_size must be integers")
        return v

    page = _int_param("page", 1)
    page_size = min(_int_param("page_size", page_size_default), max_page_size)
    if page < 1 or page_size < 1:
        raise BadRequest("page and page_size must be >= 1")
    order = body.get("sort", "id")
    if not isinstance(order, str):
        raise BadRequest(f"bad sort: {order!r}")
    descending = order.startswith("-")
    order_field = order.lstrip("-")
    # order-by whitelist (X11): unknown sort columns are a typed 400
    # here, not an AnalysisException deep inside the composer
    if order_field not in ("id", "datestamp"):
        try:
            table.field(order_field)
        except KeyError:
            raise BadRequest(f"unknown sort field: {order_field}") from None
    spec = QuerySpec(
        rows=rows,
        combinator=str(body.get("combinator", "AND")).upper(),
        order_by=[(order_field, not descending)],
        tiebreak=["id"] if order_field != "id" else [],
        offset=(page - 1) * page_size,
        limit=page_size,
    )
    if spec.combinator not in ("AND", "OR"):
        raise BadRequest(f"bad combinator: {spec.combinator}")
    return RestQuery(spec=spec, locus_filters=locus_rows, scheme_filters=scheme_rows)


def paging_links(page: int, page_size: int, total: int) -> dict:
    """The reference's paging envelope (REST/Interface.pm:687
    get_paging)."""
    last = max(1, -(-total // page_size))
    links = {"records": total, "page": page, "pages": last}
    if page > 1:
        links["previous"] = page - 1
    if page < last:
        links["next"] = page + 1
    return links


class NotFound(ValueError):
    """Maps to HTTP 404 — unknown isolate/scheme id
    (REST/Interface.pm check_isolate_is_valid error shape)."""


def route_isolates_list(
    view,
    base: str,
    page: int = 1,
    page_size: int = 100,
    id_col: str = "id",
    date_entered_col: str | None = None,
    datestamp_col: str | None = None,
) -> dict:
    """GET /db/:db/isolates (REST/Routes/Isolates.pm:41-66
    _get_isolates): count + max dates in ONE aggregate pass over the
    role-filtered view, then the page of ids ordered by id with
    offset/limit, returned as record URIs under the paging envelope.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    if date_entered_col and date_entered_col in view.columns:
        aggs.append(F.max(date_entered_col).alias("_added"))
    if datestamp_col and datestamp_col in view.columns:
        aggs.append(F.max(datestamp_col).alias("_updated"))
    head = view.agg(*aggs).collect()[0]
    total = head["_n"]
    values: dict = {"records": int(total)}
    if date_entered_col and date_entered_col in view.columns and head["_added"]:
        values["last_added"] = str(head["_added"])
    if datestamp_col and datestamp_col in view.columns and head["_updated"]:
        values["last_updated"] = str(head["_updated"])
    ids = (
        view.select(id_col)
        .orderBy(id_col)
        .offset((page - 1) * page_size)
        .limit(page_size)
        .collect()
    )
    values["paging"] = paging_links(page, page_size, int(total))
    values["isolates"] = [f"{base}/isolates/{r[0]}" for r in ids]
    return values


def route_isolate_record(
    view,
    table: TableDef,
    isolate_id,
    base: str,
    seqbin_stats=None,
    designations=None,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/isolates/:id (REST/Routes/Isolates.pm:115-204
    _get_isolate): provenance from the view row (int fields as ints,
    sender/curator as user URIs, NULLs omitted), seqbin summary from
    the stats frame, designation count + sub-resource links. Unknown
    id -> NotFound (the reference's 404)."""
    from pyspark.sql import functions as F

    rows = view.filter(F.col(id_col) == isolate_id).limit(1).collect()
    if not rows:
        raise NotFound(f"isolate {isolate_id} does not exist")
    row = rows[0].asDict()
    provenance: dict = {}
    for f in table.fields:
        if f.name not in row or row[f.name] is None:
            continue
        if f.name in ("sender", "curator"):
            provenance[f.name] = f"{base}/users/{row[f.name]}"
        elif f.type == "int":
            provenance[f.name] = int(row[f.name])
        else:
            provenance[f.name] = row[f.name]
    values: dict = {"provenance": provenance}
    if seqbin_stats is not None:
        sb = (
            seqbin_stats.filter(F.col("isolate_id") == isolate_id)
            .limit(1)
            .collect()
        )
        if sb:
            s = sb[0].asDict()
            seqbin = {
                "contig_count": int(s["contigs"]),
                "total_length": int(s["total_length"]),
                "contigs": f"{base}/isolates/{isolate_id}/contigs",
                "contigs_fasta": f"{base}/isolates/{isolate_id}/contigs_fasta",
            }
            if s.get("n50") is not None:
                seqbin["N50"] = int(s["n50"])
            if s.get("l50") is not None:
                seqbin["L50"] = int(s["l50"])
            values["sequence_bin"] = seqbin
    if designations is not None:
        n = designations.filter(F.col("isolate_id") == isolate_id).count()
        if n:
            values["allele_designations"] = {
                "designation_count": int(n),
                "full_designations": (
                    f"{base}/isolates/{isolate_id}/allele_designations"
                ),
                "allele_ids": f"{base}/isolates/{isolate_id}/allele_ids",
            }
    return values


def route_fields(table: TableDef, base: str) -> list[dict]:
    """GET /db/:db/fields (REST/Routes/Fields.pm:39-67 _get_fields):
    one entry per registry field with type/required/min/max/regex,
    allowed_values for optlists, and values/breakdown URIs."""
    out = []
    for f in table.fields:
        entry: dict = {
            "name": f.name,
            "type": f.type,
            "required": bool(f.required),
        }
        if f.min is not None:
            entry["min"] = int(f.min) if f.type == "int" else f.min
        if f.max is not None:
            entry["max"] = int(f.max) if f.type == "int" else f.max
        if f.regex:
            entry["regex"] = f.regex
        if f.optlist:
            entry["allowed_values"] = list(f.optlist)
        entry["values"] = f"{base}/fields/{f.name}"
        entry["breakdown"] = f"{base}/fields/{f.name}/breakdown"
        out.append(entry)
    return out


def route_scheme(
    scheme_id: int,
    description: str,
    loci: list[str],
    base: str,
    profiles=None,
) -> dict:
    """GET /db/:db/schemes/:id (REST/Routes/Schemes.pm shape): scheme
    description, locus count + locus URIs, and the profile count when a
    profiles frame is supplied."""
    values: dict = {
        "id": int(scheme_id),
        "description": description,
        "locus_count": len(loci),
        "loci": [f"{base}/loci/{locus}" for locus in sorted(loci)],
    }
    if profiles is not None:
        values["profile_count"] = profiles.count()
        values["profiles"] = f"{base}/schemes/{scheme_id}/profiles"
    return values


def route_genomes_list(
    view,
    seqbin_stats,
    base: str,
    page: int = 1,
    page_size: int = 100,
    min_genome_size: int = 1_000_000,
    id_col: str = "id",
    date_entered_col: str | None = None,
    datestamp_col: str | None = None,
) -> dict:
    """GET /db/:db/genomes (REST/Routes/Isolates.pm:73-113
    _get_genomes): the isolates route restricted to records whose
    sequence bin reaches the minimum genome size (default
    MIN_GENOME_SIZE = 1 Mbp, Constants.pm:42-43) — one semi-join
    against the seqbin stats frame, then the same count/paging/links
    envelope."""
    from pyspark.sql import functions as F

    big_enough = seqbin_stats.filter(
        F.col("total_length") >= min_genome_size
    ).select(F.col("isolate_id").alias(id_col)).distinct()
    genomes = view.join(big_enough, on=id_col, how="left_semi")
    return route_isolates_list(
        genomes,
        base,
        page=page,
        page_size=page_size,
        id_col=id_col,
        date_entered_col=date_entered_col,
        datestamp_col=datestamp_col,
    )


def _paged(df, order_cols, page: int, page_size: int):
    """One count + one page collect — every list route's access pattern
    (the reference does the same COUNT(*) + OFFSET/LIMIT pair; a page of
    ids is serving-sized by construction)."""
    total = df.count()
    rows = (
        df.orderBy(*order_cols)
        .offset((page - 1) * page_size)
        .limit(page_size)
        .collect()
    )
    return int(total), rows


def route_sequences_overview(locus_stats, base: str) -> dict:
    """GET /db/:db/sequences (REST/Routes/Sequences.pm:36-77, the
    unfiltered fast path): total allele count + last update from ONE
    aggregate over the locus_stats materialization — the reference
    reads its locus_stats cache table for exactly this reason."""
    from pyspark.sql import functions as F

    aggs = [F.sum("allele_count").alias("_n")]
    has_date = "datestamp" in locus_stats.columns
    if has_date:
        aggs.append(F.max("datestamp").alias("_updated"))
    head = locus_stats.agg(*aggs).collect()[0]
    values: dict = {
        "records": int(head["_n"] or 0),
        "loci": f"{base}/loci",
        "fields": f"{base}/sequences/fields",
    }
    if has_date and head["_updated"] is not None:
        values["last_updated"] = str(head["_updated"])
    return values


def route_loci_list(
    locus_stats, base: str, page: int = 1, page_size: int = 100
) -> dict:
    """GET /db/:db/loci (REST/Routes/Loci.pm list shape): paged locus
    URIs under the paging envelope."""
    total, rows = _paged(locus_stats.select("locus"), ["locus"], page, page_size)
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "loci": [f"{base}/loci/{r['locus']}" for r in rows],
    }


def route_locus_record(locus_stats, locus: str, base: str) -> dict:
    """GET /db/:db/loci/:locus (REST/Routes/Loci.pm record shape —
    the data-derived subset: allele count/length stats from the
    locus_stats frame plus the alleles sub-resource URI; deployment
    config fields live in the registry, not here)."""
    from pyspark.sql import functions as F

    rows = locus_stats.filter(F.col("locus") == locus).limit(1).collect()
    if not rows:
        raise NotFound(f"Locus {locus} does not exist.")
    r = rows[0].asDict()
    values: dict = {"id": locus, "alleles": f"{base}/loci/{locus}/alleles"}
    for col, key in (
        ("allele_count", "allele_count"),
        ("min_length", "min_length"),
        ("max_length", "max_length"),
    ):
        if col in r and r[col] is not None:
            values[key] = int(r[col])
    if r.get("datestamp") is not None:
        values["last_updated"] = str(r["datestamp"])
    return values


def route_alleles_list(
    alleles, locus: str, base: str, page: int = 1, page_size: int = 100
) -> dict:
    """GET /db/:db/loci/:locus/alleles (REST/Routes/Sequences.pm allele
    list shape): paged allele record URIs, numeric allele ids ordered
    numerically (the reference CASTs when the id is an integer)."""
    from pyspark.sql import functions as F

    mine = alleles.filter(F.col("locus") == locus).select("allele_id")
    ordered = mine.select(
        "allele_id",
        F.col("allele_id").try_cast("long").alias("_num"),
    )
    total, rows = _paged(
        ordered, [F.col("_num").asc_nulls_last(), "allele_id"], page, page_size
    )
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "alleles": [
            f"{base}/loci/{locus}/alleles/{r['allele_id']}" for r in rows
        ],
    }


def route_profiles_list(
    profiles,
    scheme_id: int,
    base: str,
    pk_col: str,
    pk_type: str = "integer",
    page: int = 1,
    page_size: int = 100,
) -> dict:
    """GET /db/:db/schemes/:id/profiles (REST/Routes/Profiles.pm:51-103):
    count + max(datestamp) in one aggregate over the scheme warehouse
    frame, then a page of primary keys — CAST to int for ordering when
    the pk is an integer field (Profiles.pm:77-82) — as record URIs."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_n")]
    has_date = "datestamp" in profiles.columns
    if has_date:
        aggs.append(F.max("datestamp").alias("_updated"))
    head = profiles.agg(*aggs).collect()[0]
    total = int(head["_n"])
    # try_cast: ANSI mode is on (Spark 4 default) — a stray non-numeric
    # pk must sort last, not abort the whole request with a cast error
    order = (
        [F.col(pk_col).try_cast("long").asc_nulls_last(), F.col(pk_col)]
        if pk_type == "integer"
        else [F.col(pk_col)]
    )
    rows = (
        profiles.select(pk_col)
        .orderBy(*order)
        .offset((page - 1) * page_size)
        .limit(page_size)
        .collect()
    )
    values: dict = {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "profiles": [
            f"{base}/schemes/{scheme_id}/profiles/{r[pk_col]}" for r in rows
        ],
    }
    if has_date and head["_updated"] is not None:
        values["last_updated"] = str(head["_updated"])
    return values


def route_profile_record(
    profiles,
    scheme_id: int,
    profile_id,
    loci: list[str],
    base: str,
    pk_col: str,
    int_fields: tuple = (),
) -> dict:
    """GET /db/:db/schemes/:id/profiles/:profile_id
    (REST/Routes/Profiles.pm:326-430): the warehouse row's allele array
    mapped to per-locus allele URIs via the scheme's locus order
    (locus_indices), scheme fields int-cast per field info, and
    sender/curator as user URIs. Unknown pk -> 404 NotFound."""
    from pyspark.sql import functions as F

    # compare as strings: an int profile_id against a string pk column
    # would coerce the COLUMN to bigint, and under ANSI mode (Spark 4
    # default) one non-numeric pk row aborts the whole request instead
    # of missing the match
    rows = (
        profiles.filter(F.col(pk_col).cast("string") == str(profile_id))
        .limit(1)
        .collect()
    )
    if not rows:
        raise NotFound(f"Profile {pk_col}-{profile_id} does not exist.")
    r = rows[0].asDict()
    profile = r.get("profile") or []
    values: dict = {
        "alleles": [
            f"{base}/loci/{locus}/alleles/{profile[i]}"
            for i, locus in enumerate(loci)
            if i < len(profile)
        ]
    }
    for col, v in r.items():
        if col in ("profile", "profile_md5") or v is None:
            continue
        if col in ("sender", "curator"):
            values[col] = f"{base}/users/{v}"
        elif col in int_fields or col == pk_col:
            try:
                values[col] = int(v)
            except (TypeError, ValueError):
                values[col] = v
        elif col in ("date_entered", "datestamp"):
            values[col] = str(v)
        else:
            values[col] = v
    return values


def _check_isolate_exists(view, isolate_id, id_col: str) -> None:
    """The reference's check_isolate_is_valid: a sub-resource request
    for an unknown isolate is a 404, not an empty 200 — callers cannot
    otherwise tell 'no designations' from 'no such isolate'."""
    from pyspark.sql import functions as F

    if view is not None and not view.filter(
        F.col(id_col) == isolate_id
    ).limit(1).collect():
        raise NotFound(f"Isolate {isolate_id} does not exist.")


def route_allele_designations(
    designations,
    isolate_id,
    base: str,
    page: int = 1,
    page_size: int = 100,
    view=None,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/isolates/:id/allele_designations
    (REST/Routes/AlleleDesignations.pm:39-69): distinct designated loci,
    ordered, as per-locus sub-resource URIs. Pass the role-filtered
    isolates ``view`` to get the reference's 404 on unknown ids."""
    from pyspark.sql import functions as F

    _check_isolate_exists(view, isolate_id, id_col)
    loci = designations.filter(
        F.col("isolate_id") == isolate_id
    ).select("locus").distinct()
    total, rows = _paged(loci, ["locus"], page, page_size)
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "allele_designations": [
            f"{base}/isolates/{isolate_id}/allele_designations/{r['locus']}"
            for r in rows
        ],
    }


def route_allele_ids(
    designations,
    isolate_id,
    base: str,
    page: int = 1,
    page_size: int = 100,
    view=None,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/isolates/:id/allele_ids
    (REST/Routes/AlleleDesignations.pm:114-161): one {locus: allele_id}
    object per designation, locus-ordered with numeric allele ids in
    numeric order (same collation as the /loci/:locus/alleles route),
    paged."""
    from pyspark.sql import functions as F

    _check_isolate_exists(view, isolate_id, id_col)
    mine = designations.filter(F.col("isolate_id") == isolate_id).select(
        "locus", "allele_id"
    )
    total, rows = _paged(
        mine,
        [
            "locus",
            F.col("allele_id").try_cast("long").asc_nulls_last(),
            "allele_id",
        ],
        page,
        page_size,
    )
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "allele_ids": [{r["locus"]: r["allele_id"]} for r in rows],
    }


def route_classification_groups(
    group_profiles,
    cscheme_id: int,
    base: str,
    page: int = 1,
    page_size: int = 100,
) -> dict:
    """GET /db/:db/classification_schemes/:id/groups
    (REST/Routes/ClassificationSchemes.pm:84-109): distinct group ids of
    the classification scheme (here: the single-linkage cluster
    assignment frame from operators/clustering.py), paged as group
    URIs."""
    from pyspark.sql import functions as F

    groups = group_profiles.filter(
        F.col("cg_scheme_id") == cscheme_id
    ).select("group_id").distinct()
    total, rows = _paged(groups, ["group_id"], page, page_size)
    path = f"{base}/classification_schemes/{cscheme_id}/groups"
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "groups": [f"{path}/{r['group_id']}" for r in rows],
    }


def route_classification_group_profiles(
    group_profiles,
    cscheme_id: int,
    group_id,
    scheme_id: int,
    base: str,
    pk_type: str = "integer",
    page: int = 1,
    page_size: int = 100,
) -> dict:
    """GET /db/:db/classification_schemes/:id/groups/:group
    (REST/Routes/ClassificationSchemes.pm:109-143): the group's profile
    ids (int-ordered when the scheme pk is an integer) as profile record
    URIs."""
    from pyspark.sql import functions as F

    mine = group_profiles.filter(
        (F.col("cg_scheme_id") == cscheme_id) & (F.col("group_id") == group_id)
    ).select("profile_id")
    order = (
        [F.col("profile_id").try_cast("long").asc_nulls_last(), F.col("profile_id")]
        if pk_type == "integer"
        else [F.col("profile_id")]
    )
    total, rows = _paged(mine, order, page, page_size)
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "profiles": [
            f"{base}/schemes/{scheme_id}/profiles/{r['profile_id']}"
            for r in rows
        ],
    }


def route_contigs_list(
    seqbin,
    isolate_id,
    base: str,
    page: int = 1,
    page_size: int = 100,
    id_col: str = "id",
    view=None,
    view_id_col: str = "id",
) -> dict:
    """GET /db/:db/isolates/:id/contigs (REST/Routes/Contigs.pm list
    shape): the isolate's contig record URIs, id-ordered, paged. Pass
    ``view`` for the reference's 404 on unknown isolate ids."""
    from pyspark.sql import functions as F

    _check_isolate_exists(view, isolate_id, view_id_col)
    mine = seqbin.filter(F.col("isolate_id") == isolate_id).select(id_col)
    total, rows = _paged(mine, [id_col], page, page_size)
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "contigs": [f"{base}/contigs/{r[id_col]}" for r in rows],
    }


def route_field_values(
    view,
    table: TableDef,
    field: str,
    page: int = 1,
    page_size: int = 100,
) -> dict:
    """GET /db/:db/fields/:field (REST/Routes/Fields.pm:91-121): the
    distinct non-NULL values of a provenance field over the
    role-filtered view, ordered and paged. Unknown field -> 404."""
    from pyspark.sql import functions as F

    try:
        table.field(field)
    except KeyError:
        raise NotFound(f"Field {field} does not exist.") from None
    vals = view.filter(F.col(field).isNotNull()).select(field).distinct()
    total, rows = _paged(vals, [field], page, page_size)
    return {
        "records": total,
        "paging": paging_links(page, page_size, total),
        "values": [r[field] for r in rows],
    }


def route_field_breakdown(
    view,
    table: TableDef,
    field: str,
    seqbin_stats=None,
    genomes: bool = False,
    min_genome_size: int = 1_000_000,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/fields/:field/breakdown (REST/Routes/Fields.pm:
    163-207): {value: count} over non-NULL field values of the view —
    the A1 frequency aggregate served as a map; with ``genomes`` the
    count is restricted to isolates whose sequence bin reaches
    ``min_genome_size`` (one semi-join against the stats frame, the
    same shape as the /genomes route). Unknown field -> 404."""
    from pyspark.sql import functions as F

    try:
        table.field(field)
    except KeyError:
        raise NotFound(f"Field {field} does not exist.") from None
    base = view
    if genomes and seqbin_stats is not None:
        big = seqbin_stats.filter(
            F.col("total_length") >= min_genome_size
        ).select(F.col("isolate_id").alias(id_col)).distinct()
        base = base.join(big, on=id_col, how="left_semi")
    counts = (
        base.filter(F.col(field).isNotNull())
        .groupBy(field)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {str(r[field]): int(r["n"]) for r in counts}


def route_user_record(
    users,
    user_id,
    base: str,
    privacy: bool = False,
    hide_emails: bool = False,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/users/:user (REST/Routes/Users.pm:36-56 _get_user):
    id/first_name/surname/affiliation, with email included only for
    curators/admins when privacy is on (and never when the deployment
    hides emails). Non-int id -> 400, unknown -> 404."""
    from pyspark.sql import functions as F

    if isinstance(user_id, bool) or not isinstance(user_id, int):
        raise BadRequest("User id must be an integer.")
    rows = users.filter(F.col(id_col) == user_id).limit(1).collect()
    if not rows:
        raise NotFound(f"User {user_id} does not exist.")
    row = rows[0].asDict()
    out = {}
    for f in ("id", "first_name", "surname", "affiliation", "email"):
        if f == "email" and (
            hide_emails
            or (privacy and row.get("status") not in ("curator", "admin"))
        ):
            continue
        if f in row and row[f] is not None:
            out[f] = row[f]
    return out


def route_curators(users, base: str, id_col: str = "id") -> dict:
    """GET /db/:db/curators (REST/Routes/Users.pm:58-72): record URIs
    of every curator/admin with id > 0, id-ordered."""
    from pyspark.sql import functions as F

    ids = (
        users.filter(F.col("status").isin("curator", "admin") & (F.col(id_col) > 0))
        .select(id_col)
        .orderBy(id_col)
        .collect()
    )
    links = [f"{base}/users/{r[0]}" for r in ids]
    return {"records": len(links), "curators": links}


def route_projects_list(
    projects,
    project_members,
    view,
    base: str,
    user_project_ids: list[int] | None = None,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/projects (REST/Routes/Projects.pm:39-72
    _get_projects): projects that are visible (public, or among the
    caller's memberships) AND have at least one member isolate in the
    role-filtered view — the reference's per-project COUNT loop folded
    into ONE semi-join + groupBy over the membership table. Projects
    with zero visible isolates are dropped (:60)."""
    from pyspark.sql import functions as F

    visible_members = project_members.join(
        view.select(F.col(id_col).alias("_vid")),
        F.col("isolate_id") == F.col("_vid"),
        "left_semi",
    )
    counts = visible_members.groupBy("project_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    p = projects
    if "private" in p.columns:
        vis = ~F.coalesce(F.col("private"), F.lit(False))
        if user_project_ids:
            vis = vis | F.col(id_col).isin(user_project_ids)
        p = p.filter(vis)
    rows = (
        p.join(F.broadcast(counts), p[id_col] == counts["project_id"])
        .select(id_col, "short_description")
        .orderBy(id_col)
        .collect()
    )
    out = [
        {
            "project": f"{base}/projects/{r[id_col]}",
            "description": r["short_description"],
        }
        for r in rows
    ]
    return {"records": len(out), "projects": out}


def route_project_record(
    projects, project_members, view, project_id, base: str, id_col: str = "id"
) -> dict:
    """GET /db/:db/projects/:project (Projects.pm:74-96): description +
    isolates URI. Non-int -> 400, unknown -> 404."""
    from pyspark.sql import functions as F

    if isinstance(project_id, bool) or not isinstance(project_id, int):
        raise BadRequest("Project id must be an integer.")
    rows = projects.filter(F.col(id_col) == project_id).limit(1).collect()
    if not rows:
        raise NotFound(f"Project {project_id} does not exist.")
    return {
        "id": project_id,
        "description": rows[0]["short_description"],
        "isolates": f"{base}/projects/{project_id}/isolates",
    }


def route_project_isolates(
    projects,
    project_members,
    view,
    project_id,
    base: str,
    page: int = 1,
    page_size: int = 100,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/projects/:project/isolates (Projects.pm:98-127):
    the project's member isolates restricted to the view, id-ordered
    record URIs under the paging envelope."""
    from pyspark.sql import functions as F

    if isinstance(project_id, bool) or not isinstance(project_id, int):
        raise BadRequest("Project id must be an integer.")
    if projects.filter(F.col(id_col) == project_id).limit(1).count() == 0:
        raise NotFound(f"Project {project_id} does not exist.")
    mine = (
        project_members.filter(F.col("project_id") == project_id)
        .join(
            view.select(F.col(id_col).alias("_vid")),
            F.col("isolate_id") == F.col("_vid"),
            "left_semi",
        )
        .select("isolate_id")
    )
    total, rows = _paged(mine, ["isolate_id"], page, page_size)
    values: dict = {"records": total}
    if rows:
        values["paging"] = paging_links(page, page_size, total)
        values["isolates"] = [f"{base}/isolates/{r['isolate_id']}" for r in rows]
    return values


def route_resources(databases: list[dict]) -> list[dict]:
    """GET / (REST/Routes/Resources.pm:43-66 _get_root): the resource
    groups with their database descriptors — pure metadata passthrough
    shaped like the reference's response."""
    out = []
    for db in databases:
        out.append({"name": db["name"], "description": db.get("description", "")})
    return out


def route_project_dataset(
    projects,
    project_members,
    view,
    project_id,
    base: str,
    fields: list[str] | None = None,
    designations=None,
    loci: list[str] | None = None,
    scheme_cache=None,
    scheme_fields: list[str] | None = None,
    page: int = 1,
    page_size: int = 100,
    id_col: str = "id",
) -> dict:
    """GET /db/:db/projects/:project/dataset (Projects.pm:140-214
    _get_project_dataset): the denormalized Export-plugin table
    restricted to the project's view-visible members — provenance
    fields, optional per-locus designations and scheme fields — paged
    by id with NULL values omitted per record (remove_null_values).
    One semi-join + the dataset_export composition; no per-record
    queries."""
    from pyspark.sql import functions as F

    from bigsdb_spark.operators.export_dataset import dataset_export

    if isinstance(project_id, bool) or not isinstance(project_id, int):
        raise BadRequest("Project id must be an integer.")
    if projects.filter(F.col(id_col) == project_id).limit(1).count() == 0:
        raise NotFound(f"Project {project_id} does not exist.")
    members = project_members.filter(F.col("project_id") == project_id).select(
        F.col("isolate_id").alias("_mid")
    )
    mine = view.join(members, view[id_col] == F.col("_mid"), "left_semi")
    fields = fields or [c for c in view.columns if c != id_col]
    wide = dataset_export(
        mine,
        fields,
        designations=designations,
        loci=loci,
        scheme_cache=scheme_cache,
        scheme_fields=scheme_fields,
        id_col=id_col,
    )
    total, rows = _paged(wide, [id_col], page, page_size)
    dataset = []
    for r in rows:
        rec = {k: v for k, v in r.asDict().items() if v is not None}
        dataset.append(rec)
    values: dict = {"records": total}
    if dataset:
        values["paging"] = paging_links(page, page_size, total)
        values["dataset"] = dataset
    return values


def route_jobs_summary(service) -> dict:
    """GET jobs summary (JobMonitorPage.pm's polled summary endpoint):
    job counts by status — the monitor dashboard's numbers."""
    counts: dict = {}
    for job in service.all_jobs().values():
        counts[job.status] = counts.get(job.status, 0) + 1
    return {"records": len(service.all_jobs()), "by_status": counts}


def route_jobs_list(service, user: str | None = None) -> dict:
    """GET /db/:db/jobs: the caller's jobs (or all), id-ordered, as
    status records (AjaxJobs.pm polling shape)."""
    out = []
    jobs = service.all_jobs()
    for jid in sorted(jobs):
        job = jobs[jid]
        if user is not None and job.user != user:
            continue
        out.append(service.status(jid))
    return {"records": len(out), "jobs": out}


def route_job_record(service, job_id: int) -> dict:
    """GET /db/:db/jobs/:id: one job's status; unknown -> 404."""
    if job_id not in service.all_jobs():
        raise NotFound(f"Job {job_id} does not exist.")
    return service.status(job_id)


def route_schemes_list(schemes: list[tuple[int, str]], base: str) -> dict:
    """GET /db/:db/schemes (REST/Routes/Schemes.pm:60-75): record
    count + (uri, description) per scheme."""
    return {
        "records": len(schemes),
        "schemes": [
            {"scheme": f"{base}/schemes/{sid}", "description": name}
            for sid, name in schemes
        ],
    }


def route_schemes_breakdown(profiles, schemes, field: str) -> list[dict]:
    """GET /db/:db/schemes/breakdown/:field (Schemes.pm:77-120, the
    site-statistics call): per-(field value, scheme) profile counts.
    ``field`` is whitelisted to the audit date columns exactly as the
    reference does — anything else is a typed 400, never a column
    reference."""
    if field not in ("date_entered", "datestamp"):
        raise BadRequest("Invalid field")
    from pyspark.sql import functions as F

    rows = (
        profiles.join(
            F.broadcast(
                schemes.select(
                    F.col("id").alias("scheme_id"), F.col("name")
                )
            ),
            "scheme_id",
        )
        .groupBy(field, "scheme_id", "name")
        .count()
        .orderBy(field, "scheme_id")
        .collect()
    )
    return [
        {
            field: str(r[field]),
            "scheme_id": r["scheme_id"],
            "name": r["name"],
            "count": r["count"],
        }
        for r in rows
    ]


def route_scheme_field_record(field_info: dict | None) -> dict:
    """GET /db/:db/schemes/:scheme/fields/:field (Schemes.pm:497-527):
    attribute shaping — plain attributes pass through when defined,
    the three flags always render as booleans; unknown field -> 404."""
    if not field_info:
        raise NotFound("Scheme field does not exist.")
    out = {
        k: field_info[k]
        for k in (
            "field", "type", "description", "value_regex", "option_list",
            "field_order",
        )
        if field_info.get(k) is not None
    }
    for flag in ("primary_key", "index", "dropdown"):
        out[flag] = bool(field_info.get(flag))
    return out


def _scheme_fields_for_designations(
    spark, designations: dict, scheme_profiles, scheme_loci, pk: str = "ST"
) -> dict:
    """Resolve scheme field values from a locus->allele map via the
    md5 profile identity (the exact path of A5/J3) — one broadcast-side
    row joined against the definitions, never a collect of profiles."""
    from pyspark.sql import functions as F

    loci = sorted(scheme_loci)
    vector = [str(designations.get(locus, "")) for locus in loci]
    if "" in vector:
        return {}  # incomplete profile: no field values (reference
        # returns fields only when every locus resolved)
    probe = spark.createDataFrame(
        [(vector,)], "profile array<string>"
    ).select(F.md5(F.array_join("profile", ",")).alias("_md5"))
    hit = (
        scheme_profiles.select(
            "st", F.md5(F.array_join("profile", ",")).alias("_md5")
        )
        .join(F.broadcast(probe), "_md5")
        .select("st")
        .limit(1)
        .collect()
    )
    return {pk: hit[0]["st"]} if hit else {}


def route_scheme_sequence_query(
    spark,
    body: dict,
    alleles,
    scheme_loci: list[str],
    scheme_profiles,
    base: str,
) -> dict:
    """POST /db/:db/schemes/:scheme/sequence (Schemes.pm:159-240 ->
    :340-368 _process_designation_matches): match the posted sequence
    set against every scheme locus, report exact matches per locus,
    and resolve scheme fields when every locus matched.  The match is
    the distributed md5 lookup (sequence_query.py), not a per-locus
    probe loop."""
    import base64 as _b64

    from bigsdb_spark.materialize import scope
    from bigsdb_spark.plans.submission_routes import _parse_fasta_string
    from bigsdb_spark.sequence_query import sequence_query

    seq = body.get("sequence")
    if not seq:
        raise BadRequest("Required field missing: sequence.")
    if body.get("base64"):
        import re as _re

        try:
            seq = _b64.b64decode(
                _re.sub(r"\s+", "", seq), validate=True
            ).decode()
        except Exception:
            raise BadRequest("Sequence is not valid base64.") from None
    pairs = _parse_fasta_string(seq)
    # the matches checkpoint is consumed here, once: release it per
    # request instead of leaving one storage entry per call
    with scope():
        matches = sequence_query(spark, pairs, alleles)["matches"].collect()
    exact: dict = {}
    designations: dict = {}
    for r in matches:
        if r["locus"] not in scheme_loci:
            continue
        exact.setdefault(r["locus"], []).append(
            {
                "allele_id": r["allele_id"],
                "href": f"{base}/loci/{r['locus']}/alleles/{r['allele_id']}",
            }
        )
        designations.setdefault(r["locus"], r["allele_id"])
    values: dict = {"exact_matches": exact}
    fields = _scheme_fields_for_designations(
        spark, designations, scheme_profiles, scheme_loci
    )
    if fields:
        values["fields"] = fields
    return values


def route_scheme_designations_query(
    spark,
    body: dict,
    scheme_loci: list[str],
    scheme_profiles,
) -> dict:
    """POST /db/:db/schemes/:scheme/designations (Schemes.pm:242-257):
    resolve scheme fields from a posted locus->allele_id map."""
    designations = body.get("designations")
    if not designations:
        raise BadRequest("Required field missing: designations.")
    fields = _scheme_fields_for_designations(
        spark, designations, scheme_profiles, scheme_loci
    )
    return {"fields": fields} if fields else {}


def route_lincode_nicknames(
    prefixes,
    scheme_id: int,
    base: str,
    page: int = 1,
    page_size: int = 100,
    has_lincode_scheme: bool = True,
) -> dict:
    """GET /db/:db/schemes/:scheme/lincode_nicknames
    (Schemes.pm:529-576): paged (prefix, field, nickname, datestamp)
    rows ordered by (prefix, field), with record count + last_updated;
    404 when the scheme has no LIN code scheme."""
    if not has_lincode_scheme:
        raise NotFound(
            f"Scheme {scheme_id} does not have a LIN code scheme."
        )
    from pyspark.sql import functions as F

    mine = prefixes.filter(F.col("scheme_id") == scheme_id)
    agg = mine.agg(
        F.count(F.lit(1)).alias("n"), F.max("datestamp").alias("last")
    ).collect()[0]
    total = agg["n"]
    rows = (
        mine.select("prefix", "field", F.col("value").alias("nickname"), "datestamp")
        .orderBy("prefix", "field")
        .offset((page - 1) * page_size)
        .limit(page_size)
        .collect()
    )
    values: dict = {"records": total}
    if agg["last"] is not None:
        values["last_updated"] = str(agg["last"])
    if total:
        values["paging"] = paging_links(page, page_size, total)
    values["nicknames"] = [
        {
            "prefix": r["prefix"],
            "field": r["field"],
            "nickname": r["nickname"],
            "datestamp": str(r["datestamp"]),
        }
        for r in rows
    ]
    return values

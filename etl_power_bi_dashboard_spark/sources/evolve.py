"""Schema-evolution ingestion: read a lake whose parquet snapshots were
written under DIFFERENT schema versions (columns added or retired over
time) as one coherent DataFrame.

The operational reality behind it: a 100 TB lake is written over months;
producers add columns (``lang`` tagging arrives in March, ``quality``
in June) and old files are never rewritten. A plain ``spark.read
.parquet(root)`` takes the schema of a random footer and silently drops
the columns it didn't pick; the correct read is footer-merging plus an
explicit target schema the pipeline conforms to.

Generalizes the reference's F13 schema backfill (`src/etl_functions.py`
product-translation fallback: a missing input column materializes as a
typed placeholder instead of crashing the pipeline) from one hardcoded
column to any declared schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_with_schema_evolution(spark: SparkSession, *paths: str) -> DataFrame:
    """Read one or more parquet roots with footer-schema merging: the
    result schema is the union of every file's columns, older files
    surfacing NULL for columns they predate.

    ``mergeSchema`` costs one footer read per file at planning time (not
    a data scan); at very large file counts, prefer a table format that
    tracks schema in metadata — this is the raw-parquet equivalent.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _conform_expr(col, src_type, dst_type, case_sensitive: bool):
    """Column expression conforming a value of ``src_type`` to
    ``dst_type`` — the recursive companion of :func:`conform_to_schema`
    for NESTED drift, where a plain ``cast`` is not enough: Spark
    refuses struct→struct casts of different arity, so a struct that
    gained a field across snapshots (``props: struct<n:int>`` →
    ``struct<n:bigint, lang:string>``) must be REBUILT field-by-field
    (missing fields → typed NULLs, common fields conformed
    recursively). Arrays conform per element via ``transform``, maps
    rebuild entries so keys and values both conform — all pure
    expressions over the scan, no shuffle, no UDF. A NULL struct stays
    NULL (guarded by ``when``; a bare ``F.struct`` over a null row
    would fabricate a struct of NULLs)."""
    if src_type == dst_type:
        return col
    ns, nd = src_type.typeName(), dst_type.typeName()
    if ns == "struct" and nd == "struct":
        def _key(name: str) -> str:
            return name if case_sensitive else name.lower()

        have = {}
        for f in src_type.fields:
            have.setdefault(_key(f.name), f)
        parts = []
        for f in dst_type.fields:
            sf = have.get(_key(f.name))
            if sf is None:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                parts.append(
                    _conform_expr(
                        col.getField(sf.name),
                        sf.dataType,
                        f.dataType,
                        case_sensitive,
                    ).alias(f.name)
                )
        return F.when(col.isNotNull(), F.struct(*parts)).otherwise(
            F.lit(None).cast(dst_type)
        )
    if ns == "array" and nd == "array":
        return F.transform(
            col,
            lambda x: _conform_expr(
                x, src_type.elementType, dst_type.elementType, case_sensitive
            ),
        )
    if ns == "map" and nd == "map":
        return F.map_from_entries(
            F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    _conform_expr(
                        e["key"], src_type.keyType, dst_type.keyType,
                        case_sensitive,
                    ).alias("key"),
                    _conform_expr(
                        e["value"], src_type.valueType, dst_type.valueType,
                        case_sensitive,
                    ).alias("value"),
                ),
            )
        )
    return col.cast(dst_type)


def conform_to_schema(df: DataFrame, schema: StructType | str) -> DataFrame:
    """Project ``df`` onto the declared target schema: missing columns
    materialize as typed NULLs (the F13 backfill, generalized), present
    columns are cast to the declared type, and columns outside the
    declaration are dropped. Pure projection — no shuffle, no data pass
    beyond the scan it composes with.

    Name matching honours the session's resolution mode
    (``spark.sql.caseSensitive``, default false): under the default, a
    producer's ``LANG`` satisfies a declared ``lang`` — exactly as
    ``df.select("lang")`` would resolve it — instead of being silently
    replaced by typed NULLs, which would null out real data without an
    error.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    case_sensitive = (
        df.sparkSession.conf.get("spark.sql.caseSensitive", "false").lower()
        == "true"
    )

    def _key(name: str) -> str:
        return name if case_sensitive else name.lower()

    # key -> actual source column names; a source with BOTH 'lang' and
    # 'LANG' collapses to one key, where a bare F.col("lang") would be
    # an ambiguous reference. Prefer the exact-case match (it is what
    # the declaration asked for), else accept a single
    # case-insensitive hit; multiple inexact hits stay ambiguous and
    # fail here with the field named, not with Spark's resolver error.
    have: dict[str, list[tuple[int, str]]] = {}
    for i, f in enumerate(df.schema.fields):
        have.setdefault(_key(f.name), []).append((i, f.name))
    # positional rename — PySpark has no true ordinal column access
    # (df[int] resolves by NAME), so duplicate-modulo-case sources would
    # hit AMBIGUOUS_REFERENCE; a toDF over unique positional names is a
    # pure projection that makes every pick exact
    base = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    cols = []
    for field in schema.fields:
        hits = have.get(_key(field.name), [])
        if not hits:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            continue
        exact = [(i, n) for i, n in hits if n == field.name]
        if exact:
            # multiple EXACT duplicates (legal post-join Spark output)
            # deterministically resolve to the first occurrence —
            # pinned by test_conform_exact_duplicate_names_picks_first_
            # occurrence; it does not error, because the resolver's
            # ambiguity error is exactly what
            # this positional path exists to improve on
            idx = exact[0][0]
        elif len(hits) == 1:
            idx = hits[0][0]
        else:
            raise ValueError(
                f"conform_to_schema: declared column {field.name!r} matches "
                f"multiple source columns case-insensitively "
                f"({[n for _, n in hits]}) and none exactly; rename the "
                "source columns or enable spark.sql.caseSensitive"
            )
        cols.append(
            _conform_expr(
                F.col(f"_c{idx}"),
                df.schema.fields[idx].dataType,
                field.dataType,
                case_sensitive,
            ).alias(field.name)
        )
    return base.select(*cols)


# Safe widening lattice for snapshot type drift: each chain is ordered
# narrowest → widest, and a cast UP a chain is value-preserving (no
# precision loss, no truncation). Cross-family promotions (int → double,
# anything → string) are deliberately NOT here: they can change values
# or comparison semantics silently, which an ingestion layer must never
# do on its own — declare them explicitly via conform_to_schema.
_WIDENING_CHAINS = [
    ["byte", "short", "integer", "long"],
    ["float", "double"],
]


def _widen_pair(a, b, case_sensitive: bool = False):
    """The narrower-to-wider join of two Spark DataTypes, or None when
    they are incomparable (no safe widening exists).

    Recurses into nested types: structs join field-wise
    (fields present on one side only are kept — the nested analogue of
    the column union; common fields widen recursively, resolved per
    ``case_sensitive``), arrays widen their element type, maps their
    key and value types; nullability/containsNull joins by OR. A lake's
    nested ``props`` column evolving ``struct<n:int>`` →
    ``struct<n:bigint, lang:string>`` is the same producer drift as a
    top-level column — refusing it would force callers to flatten."""
    if a == b:
        return a
    na, nb = a.typeName(), b.typeName()
    if na == "struct" and nb == "struct":
        from pyspark.sql.types import StructField, StructType

        def _key(name: str) -> str:
            return name if case_sensitive else name.lower()

        out: dict[str, StructField] = {}
        for f in list(a.fields) + list(b.fields):
            prev = out.get(_key(f.name))
            if prev is None:
                # fields on one side only are nullable in the union
                out[_key(f.name)] = StructField(f.name, f.dataType, True)
                continue
            w = _widen_pair(prev.dataType, f.dataType, case_sensitive)
            if w is None:
                return None
            out[_key(f.name)] = StructField(prev.name, w, True)
        return StructType(list(out.values()))
    if na == "array" and nb == "array":
        from pyspark.sql.types import ArrayType

        w = _widen_pair(a.elementType, b.elementType, case_sensitive)
        return (
            None
            if w is None
            else ArrayType(w, a.containsNull or b.containsNull)
        )
    if na == "map" and nb == "map":
        from pyspark.sql.types import MapType

        wk = _widen_pair(a.keyType, b.keyType, case_sensitive)
        wv = _widen_pair(a.valueType, b.valueType, case_sensitive)
        return (
            None
            if wk is None or wv is None
            else MapType(wk, wv, a.valueContainsNull or b.valueContainsNull)
        )
    for chain in _WIDENING_CHAINS:
        if na in chain and nb in chain:
            return a if chain.index(na) > chain.index(nb) else b
    if na == "decimal" and nb == "decimal":
        # widen to a precision that fits BOTH integral parts and the
        # larger scale — value-preserving for every operand
        int_digits = max(a.precision - a.scale, b.precision - b.scale)
        scale = max(a.scale, b.scale)
        from pyspark.sql.types import DecimalType

        if int_digits + scale > 38:
            return None
        return DecimalType(int_digits + scale, scale)
    return None


def widened_union_schema(
    *schemas: StructType, case_sensitive: bool = False
) -> StructType:
    """Union of the given schemas with per-column type widening: a
    column appearing at different widths across snapshots lands at the
    widest (int→long, float→double, decimal by joint precision/scale);
    a column missing from some snapshots is simply included (readers
    backfill NULL). Incomparable drift (e.g. string vs int) raises with
    the column named — silent coercion of incompatible producers is a
    data bug, not an ingestion feature.

    Name matching mirrors :func:`conform_to_schema`'s resolution rules
    (``case_sensitive`` defaults to Spark's default, false): a snapshot
    drifting ``lang`` → ``LANG`` widens into ONE column under the
    first-seen spelling rather than two same-named-modulo-case columns,
    which would make every downstream ``select("lang")`` an
    AMBIGUOUS_REFERENCE. Callers holding a session should pass its
    ``spark.sql.caseSensitive`` value (``read_with_type_widening``
    does).

    Field order: first-seen order across the snapshot schemas, which
    keeps the oldest snapshot's layout as the prefix (stable for
    downstream positional consumers).
    """
    from pyspark.sql.types import StructField

    def _key(name: str) -> str:
        return name if case_sensitive else name.lower()

    out: dict[str, StructField] = {}
    for schema in schemas:
        for f in schema.fields:
            prev = out.get(_key(f.name))
            if prev is None:
                out[_key(f.name)] = f
                continue
            widened = _widen_pair(prev.dataType, f.dataType, case_sensitive)
            if widened is None:
                raise ValueError(
                    f"widened_union_schema: column {f.name!r} has "
                    f"incompatible types across snapshots "
                    f"({prev.dataType.simpleString()} vs "
                    f"{f.dataType.simpleString()}); no safe widening — "
                    "declare the target type explicitly with "
                    "conform_to_schema"
                )
            # keep the first-seen spelling: downstream code written
            # against the oldest snapshot keeps resolving
            out[_key(f.name)] = StructField(prev.name, widened, True)
    return StructType(list(out.values()))


def read_with_type_widening(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet snapshot roots whose schemas drifted in TYPE, not
    just in column set — the case ``mergeSchema`` refuses outright
    (probed on Spark 4: int→bigint or float→double drift across files
    fails the read with CANNOT_MERGE_SCHEMAS; only decimal precision
    merges), yet it is the most common producer evolution in a lake
    written over months: a counter outgrows int, a score moves to
    double, and the old files are never rewritten.

    Each ``path`` is one snapshot root and must be internally
    consistent up to mergeSchema's rules (added/retired columns are
    fine — each root is read with footer merging). The target schema
    is :func:`widened_union_schema` over the snapshot schemas; every
    snapshot is conformed to it (missing columns → typed NULLs, narrow
    columns → value-preserving upcasts) and the conformed scans are
    unioned by name.

    Scale shape: scans keep predicate pushdown, column pruning, and
    partition pruning (the cast is a projection on top of each scan,
    and a filter on a widened column still prunes via the scan's own
    narrower statistics); the union is a plan-level concat — no
    shuffle, no data pass beyond the scans themselves. Snapshots whose
    resolved schemas are IDENTICAL are grouped into one multi-root scan
    (one FileIndex, one union arm), so the union width is the number of
    distinct schema VERSIONS — typically a handful — not the number of
    snapshot directories; measured at 50 roots the cost is dominated by
    the unavoidable per-root schema probe (~100 ms each — a metadata
    catalog or table format amortizes that, this is the raw-parquet
    floor), with execution unaffected.
    """
    if not paths:
        raise ValueError("read_with_type_widening: at least one path")
    snaps = [
        spark.read.option("mergeSchema", "true").parquet(p) for p in paths
    ]
    case_sensitive = (
        spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    )
    target = widened_union_schema(
        *[s.schema for s in snaps], case_sensitive=case_sensitive
    )
    # group roots by resolved schema version; singleton groups reuse the
    # probe DataFrame (no second listing), only multi-root groups pay a
    # fresh multi-path read to get one shared FileIndex
    groups: dict[str, list[int]] = {}
    for i, s in enumerate(snaps):
        groups.setdefault(s.schema.json(), []).append(i)
    arms = [
        conform_to_schema(
            snaps[grp[0]]
            if len(grp) == 1
            else spark.read.option("mergeSchema", "true").parquet(
                *[paths[i] for i in grp]
            ),
            target,
        )
        for grp in groups.values()
    ]
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out

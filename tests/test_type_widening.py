"""Type-widening reader: mergeSchema refuses int→bigint /
float→double drift across snapshots (probed: CANNOT_MERGE_SCHEMAS), so
read_with_type_widening conforms each snapshot to the widened union
schema and unions by name. These tests pin the widening lattice, the
value-preservation of every upcast, the loud failure on incomparable
drift, and that pushdown survives the per-snapshot conform."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, LongType

from etl_power_bi_dashboard_spark.sources.evolve import (
    read_with_type_widening,
    widened_union_schema,
)


@pytest.fixture()
def lake(spark, tmp_path):
    """Three snapshots of one logical table, written months apart:
    v1 (n int, v float); v2 widens both (n bigint, v double) and adds
    lang; v3 keeps v2's shape."""
    p1, p2, p3 = (str(tmp_path / f"v{i}") for i in (1, 2, 3))
    spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "n int, v float"
    ).write.parquet(p1)
    spark.createDataFrame(
        [(2**40, 0.1, "en")], "n bigint, v double, lang string"
    ).write.parquet(p2)
    spark.createDataFrame(
        [(7, 0.25, "pt")], "n bigint, v double, lang string"
    ).write.parquet(p3)
    return p1, p2, p3


def test_mergeschema_alone_refuses_the_drift(spark, lake):
    """The gap being closed, pinned: a plain mergeSchema read across
    the drifted snapshots fails (if a future Spark version starts
    merging primitive widenings, this test flags that the helper can
    be retired)."""
    p1, p2, _ = lake
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS|merge"):
        spark.read.option("mergeSchema", "true").parquet(p1, p2).schema


def test_widened_read_unions_all_snapshots_losslessly(spark, lake):
    df = read_with_type_widening(spark, *lake)
    assert isinstance(df.schema["n"].dataType, LongType)
    assert isinstance(df.schema["v"].dataType, DoubleType)
    got = {(r.n, r.v, r.lang) for r in df.collect()}
    # v1 rows surface with exact upcast values and NULL lang
    assert got == {
        (1, 1.5, None),
        (2, 2.5, None),
        (2**40, 0.1, "en"),
        (7, 0.25, "pt"),
    }


def test_widened_read_keeps_pushdown(spark, lake):
    """The per-snapshot conform is a projection over each scan — an
    equality filter on the widened column must still reach the parquet
    scans as a pushed filter."""
    df = read_with_type_widening(spark, *lake).filter(F.col("n") == 7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert plan.count("IsNotNull(n)") >= 1
    assert df.count() == 1


def test_same_schema_snapshots_share_one_scan(spark, lake):
    """Snapshots with identical resolved schemas must group into ONE
    multi-root scan (union width = distinct schema versions, not
    directory count): the lake's v2 and v3 share a schema, so the plan
    has exactly two parquet scans — not three."""
    df = read_with_type_widening(spark, *lake)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2
    assert df.count() == 4  # grouping loses no rows


def test_widening_lattice_and_decimal_join(spark):
    s1 = spark.createDataFrame([], "a byte, d decimal(10,2)").schema
    s2 = spark.createDataFrame([], "a long, d decimal(12,4)").schema
    w = widened_union_schema(s1, s2)
    assert isinstance(w["a"].dataType, LongType)
    # joint decimal: int digits max(8, 8)=8, scale max(2,4)=4 -> (12,4)
    assert w["d"].dataType == DecimalType(12, 4)


def test_decimal_widened_read_round_trips(spark, tmp_path):
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    spark.createDataFrame(
        [(Decimal("12345678.99"),)], "d decimal(10,2)"
    ).write.parquet(p1)
    spark.createDataFrame(
        [(Decimal("1.2345"),)], "d decimal(12,4)"
    ).write.parquet(p2)
    df = read_with_type_widening(spark, p1, p2)
    assert df.schema["d"].dataType == DecimalType(12, 4)
    assert {r.d for r in df.collect()} == {
        Decimal("12345678.9900"),
        Decimal("1.2345"),
    }


def test_incomparable_drift_fails_loudly(spark, tmp_path):
    """string-vs-int drift is a producer bug, not a widening — the
    reader must name the column instead of coercing."""
    p1, p2 = str(tmp_path / "x1"), str(tmp_path / "x2")
    spark.createDataFrame([(1,)], "k int").write.parquet(p1)
    spark.createDataFrame([("one",)], "k string").write.parquet(p2)
    with pytest.raises(ValueError, match="'k'.*incompatible"):
        read_with_type_widening(spark, p1, p2)


def test_widened_read_over_hive_partitioned_roots_keeps_pruning(
    spark, tmp_path
):
    """Snapshot roots are often hive-partitioned; partition columns
    come from directory inference (a different schema path than data
    columns), so pin that the widening read handles them and that
    partition PRUNING survives the per-snapshot conform projection."""
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, "en", 1.0), (2, "pt", 2.0)], "n int, lang string, v float"
    ).write.partitionBy("lang").parquet(p1)
    spark.createDataFrame(
        [(2**40, "en", 3.0)], "n bigint, lang string, v double"
    ).write.partitionBy("lang").parquet(p2)
    df = read_with_type_widening(spark, p1, p2)
    assert isinstance(df.schema["n"].dataType, LongType)
    assert {(r.n, r.lang, r.v) for r in df.collect()} == {
        (1, "en", 1.0), (2, "pt", 2.0), (2**40, "en", 3.0)
    }
    plan = (
        df.filter(F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan
    assert "isnotnull(lang" in plan  # the filter reached partition pruning


# --- lattice laws (pure schema algebra, no Spark jobs) ---------------
# widened_union_schema must be a JOIN in the lattice sense: the result
# cannot depend on snapshot order (a lake lists directories in
# arbitrary order), which requires the pairwise join to be commutative
# and associative and the whole fold idempotent.

from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql.types import (
    ByteType,
    FloatType,
    IntegerType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark.sql.types import ArrayType, MapType

_SCALARS = [
    ByteType(), ShortType(), IntegerType(), LongType(),
    FloatType(), DoubleType(),
    DecimalType(10, 2), DecimalType(12, 4), DecimalType(20, 0),
    StringType(), TimestampType(),
]
# one nesting level of each container so the recursive widening joins
# participate in the order-insensitivity / idempotence laws
_TYPES = (
    _SCALARS
    + [ArrayType(t, True) for t in (IntegerType(), LongType(), StringType())]
    + [MapType(StringType(), t, True) for t in (FloatType(), DoubleType())]
    + [
        StructType([StructField("n", IntegerType(), True)]),
        StructType([StructField("n", LongType(), True)]),
        StructType(
            [
                StructField("n", LongType(), True),
                StructField("lang", StringType(), True),
            ]
        ),
    ]
)

_schemas = st.lists(
    st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from(_TYPES)),
        min_size=1, max_size=4, unique_by=lambda t: t[0],
    ).map(lambda fs: StructType([StructField(n, t, True) for n, t in fs])),
    min_size=1, max_size=4,
)


def _types_of(schema):
    return {f.name: f.dataType for f in schema.fields}


@given(schemas=_schemas)
def test_widened_union_is_order_insensitive_or_fails_consistently(schemas):
    """For ANY snapshot ordering: either every ordering raises (the
    incomparable pair is present regardless of order) or every ordering
    yields the same name→type mapping."""
    import itertools

    outcomes = []
    for perm in itertools.permutations(schemas):
        try:
            outcomes.append(_types_of(widened_union_schema(*perm)))
        except ValueError:
            outcomes.append("raises")
    assert all(o == outcomes[0] for o in outcomes)


@given(schemas=_schemas)
def test_widened_union_is_idempotent_and_absorbing(schemas):
    """Re-folding the result with every input is a no-op (the result is
    an upper bound of all inputs), when the union is defined at all."""
    try:
        w = widened_union_schema(*schemas)
    except ValueError:
        return
    again = widened_union_schema(w, *schemas, w)
    assert _types_of(again) == _types_of(w)


def test_case_colliding_drift_widens_into_one_column(spark, tmp_path):
    """A producer drifting ``lang`` → ``LANG`` must yield
    ONE widened column under the first-seen spelling (matching
    conform_to_schema's case-insensitive resolution), not two
    same-named-modulo-case columns that make every downstream
    select("lang") an AMBIGUOUS_REFERENCE."""
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame([(1, "en")], "n int, lang string").write.parquet(p1)
    spark.createDataFrame(
        [(2**40, "pt")], "n bigint, LANG string"
    ).write.parquet(p2)
    df = read_with_type_widening(spark, p1, p2)
    assert df.columns == ["n", "lang"]  # first-seen spelling wins
    got = {(r.n, r.lang) for r in df.select("n", "lang").collect()}
    assert got == {(1, "en"), (2**40, "pt")}


def test_widened_union_schema_case_sensitive_mode_keeps_both(spark):
    """Under case_sensitive=True the same drift is two distinct
    columns — exactly what a case-sensitive session would resolve."""
    s1 = spark.createDataFrame([], "lang string").schema
    s2 = spark.createDataFrame([], "LANG string").schema
    w = widened_union_schema(s1, s2, case_sensitive=True)
    assert [f.name for f in w.fields] == ["lang", "LANG"]
    w2 = widened_union_schema(s1, s2)
    assert [f.name for f in w2.fields] == ["lang"]


def test_singleton_snapshot_roots_probed_once(spark, lake, monkeypatch):
    """The per-path schema probe DataFrame is reused for
    singleton schema-version groups, so N drifted roots cost N reads,
    not 2N. The lake has 2 singleton groups (v1; —) and one pair
    (v2+v3): 3 probes + 1 group re-read = 4 parquet reads total."""
    import pyspark.sql.readwriter as rw

    calls = []
    orig = rw.DataFrameReader.parquet

    def counting(self, *paths):
        calls.append(paths)
        return orig(self, *paths)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", counting)
    df = read_with_type_widening(spark, *lake)
    assert len(calls) == 4
    assert df.count() == 4


def test_nested_struct_drift_widens_and_backfills(spark, tmp_path):
    """Nested producer drift — props gains a field and
    widens an inner counter (struct<n:int> -> struct<n:bigint,
    lang:string>). Spark refuses struct casts of different arity, so
    conformance rebuilds the struct field-by-field; v1 rows surface
    with upcast n and NULL lang, and a NULL struct stays NULL."""
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, (7,)), (2, None)], "id int, props struct<n: int>"
    ).write.parquet(p1)
    spark.createDataFrame(
        [(3, (2**40, "en"))],
        "id bigint, props struct<n: bigint, lang: string>",
    ).write.parquet(p2)
    df = read_with_type_widening(spark, p1, p2)
    assert df.schema["props"].dataType.simpleString() == (
        "struct<n:bigint,lang:string>"
    )
    got = {
        (r.id, None if r.props is None else (r.props.n, r.props.lang))
        for r in df.collect()
    }
    assert got == {(1, (7, None)), (2, None), (3, (2**40, "en"))}


def test_nested_array_and_map_widening(spark, tmp_path):
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, [1, 2], {"a": 1.5})],
        "id int, xs array<int>, m map<string, float>",
    ).write.parquet(p1)
    spark.createDataFrame(
        [(2, [2**40], {"b": 0.25})],
        "id int, xs array<bigint>, m map<string, double>",
    ).write.parquet(p2)
    df = read_with_type_widening(spark, p1, p2)
    assert df.schema["xs"].dataType.simpleString() == "array<bigint>"
    assert df.schema["m"].dataType.simpleString() == "map<string,double>"
    got = {
        (r.id, tuple(r.xs), tuple(sorted(r.m.items())))
        for r in df.collect()
    }
    assert got == {
        (1, (1, 2), (("a", 1.5),)),
        (2, (2**40,), (("b", 0.25),)),
    }


def test_nested_incomparable_drift_still_fails_loudly(spark):
    s1 = spark.createDataFrame([], "p struct<n: int>").schema
    s2 = spark.createDataFrame([], "p struct<n: string>").schema
    with pytest.raises(ValueError, match="incompatible types"):
        widened_union_schema(s1, s2)


def test_nested_conform_declared_schema(spark):
    """conform_to_schema with a declared nested target: extra inner
    fields drop, missing ones backfill, inner ints upcast — all pure
    expressions (no shuffle, no UDF)."""
    from etl_power_bi_dashboard_spark.sources.evolve import (
        conform_to_schema,
    )

    df = spark.createDataFrame(
        [(1, (5, "x"))], "id int, props struct<n: int, junk: string>"
    )
    out = conform_to_schema(
        df, "id bigint, props struct<n: bigint, lang: string>"
    )
    r = out.collect()[0]
    assert (r.id, r.props.n, r.props.lang) == (1, 5, None)
    assert "junk" not in out.schema["props"].dataType.fieldNames()


def test_nested_conform_keeps_nested_schema_pruning(spark, tmp_path):
    """The struct rebuild is a pure projection, and Spark's schema
    pruning sees through it: conforming struct<n,junk> to a declared
    struct<n> must NOT read junk from parquet (ReadSchema prunes the
    inner field) — the property that makes nested conformance free at
    100 TB instead of a full-struct scan."""
    from etl_power_bi_dashboard_spark.sources.evolve import (
        conform_to_schema,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, (5, "x" * 100))], "id int, props struct<n: int, junk: string>"
    ).write.parquet(p)
    out = conform_to_schema(
        spark.read.parquet(p), "id bigint, props struct<n: bigint>"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "junk" not in plan
    assert "props:struct<n:int>" in plan.replace(" ", "")
    assert out.collect()[0].props.n == 5

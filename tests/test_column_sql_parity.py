"""Column ↔ SQL parity: every function with both a Column spelling and a
SQL name returns the same values through both, on the same rows.

Each case is one ``select`` over a small DataFrame holding one argument
row of ``test_kernel_contract.ARGS`` plus one row per argument with that
argument NULL. It evaluates the SQL call over the argument columns and
the Column function three ways: every argument a Column; numbers and
text as Python literals (the SQL side spelled with the same literals);
numbers as column-name strings. Geometry arguments stay columns.
"""

import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

import datafusion_geo_spark.functions as fns
from datafusion_geo_spark.functions import _SQL_UDFS, register_all

from test_kernel_contract import ARGS, LL1, PT, SQ, SQ2

#: SQL names whose Column spelling is not ``functions.<name.lower()>``
COLUMN_SPELLING = {
    "ST_GeomFromTextSRID": fns.st_geomfromtext,
    "ST_GeomFromWKBSRID": fns.st_geomfromwkb,
    "ST_MakeEnvelopeSRID": fns.st_makeenvelope,
    "ST_GeomFromWKBDialect":
        lambda wkb, dialect, *srid: fns.st_geomfromwkb(wkb, *srid,
                                                       dialect=dialect),
}
#: argument positions the Column spelling takes as a Python value only
LITERAL_ONLY = {("ST_GeomFromWKBDialect", 1)}
#: SQL names with no Column spelling of the same shape (``st_extent``
#: returns a Box2D struct where SQL ST_Extent returns an array)
SQL_ONLY = {"ST_Extent", "ST_Box2DFromArray", "ST_UnionFromArray"}


def _column_fn(name):
    return COLUMN_SPELLING.get(name) or getattr(fns, name.lower(), None)


CASES = [(name, args) for name, rows in ARGS.items() if name not in SQL_ONLY
         for args in rows]


def _is_num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _spark_type(v):
    if isinstance(v, bytes):
        return BinaryType()
    if isinstance(v, str):
        return StringType()
    return IntegerType() if isinstance(v, int) else DoubleType()


def _sql_literal(v):
    if isinstance(v, str):
        return f"'{v}'"
    return f"{v!r}D" if isinstance(v, float) else str(v)


def _frame(spark, args):
    cols = [f"a{i}" for i in range(len(args))]
    schema = StructType([StructField(c, _spark_type(v), True)
                         for c, v in zip(cols, args)])
    rows = [tuple(args)] + [tuple(None if j == i else v
                                  for j, v in enumerate(args))
                            for i in range(len(args))]
    return spark.createDataFrame(rows, schema), cols


@pytest.fixture(scope="module")
def registered(spark):
    register_all(spark)
    return spark


def test_every_sql_name_has_a_column_spelling_or_is_sql_only():
    assert SQL_ONLY <= set(_SQL_UDFS)
    missing = {n for n in set(_SQL_UDFS) - SQL_ONLY if _column_fn(n) is None}
    assert not missing


def test_every_public_name_keeps_its_name():
    for n in fns.__all__:
        obj = getattr(fns, n)
        if callable(obj):
            assert obj.__name__ == n, n


@pytest.mark.parametrize("name,args", CASES,
                         ids=[f"{n}/{len(a)}" for n, a in CASES])
def test_column_and_sql_agree(registered, name, args):
    df, cols = _frame(registered, args)
    fn = _column_fn(name)

    def arg(i, mode):
        v = args[i]
        if (name, i) in LITERAL_ONLY:
            return v
        if mode == "literal" and (_is_num(v) or isinstance(v, str)):
            return v
        if mode == "name" and _is_num(v):
            return cols[i]
        return F.col(cols[i])

    def sql_arg(i, mode):
        v = args[i]
        literal = (name, i) in LITERAL_ONLY or (
            mode == "literal" and (_is_num(v) or isinstance(v, str)))
        return _sql_literal(v) if literal else cols[i]

    modes = ("column", "literal", "name")
    exprs = []
    for m in modes:
        idx = range(len(args))
        exprs.append(fn(*(arg(i, m) for i in idx)).alias(f"col_{m}"))
        sql_args = ", ".join(sql_arg(i, m) for i in idx)
        exprs.append(F.expr(f"{name}({sql_args})").alias(f"sql_{m}"))
    rows = df.select(*exprs).collect()
    assert rows[0]["sql_column"] is not None, name
    for r in rows:
        for m in modes:
            assert r[f"col_{m}"] == r[f"sql_{m}"], (name, m, r)


def test_extra_spellings_agree(registered):
    """Calls the argument table does not spell: an explicit None SRID
    (clears the header), a keyword ``from_srid``, and st_relate's
    pattern form against its SQL spelling through ST_RelateMatch."""
    df = registered.createDataFrame(
        [(PT, LL1, SQ, SQ2), (None, None, None, None)],
        "g binary, ll binary, a binary, b binary")
    pairs = [
        (fns.st_setsrid(F.col("g"), None), "ST_SetSRID(g, NULL)"),
        (fns.st_transform(F.col("ll"), 3857, from_srid=4326),
         "ST_Transform(ll, 3857, 4326)"),
        (fns.st_relate(F.col("a"), F.col("b"), "T********"),
         "ST_RelateMatch(ST_Relate(a, b), 'T********')"),
    ]
    rows = df.select(*[c.alias(f"c{i}") for i, (c, _) in enumerate(pairs)],
                     *[F.expr(s).alias(f"s{i}")
                       for i, (_, s) in enumerate(pairs)]).collect()
    assert rows[0]["c0"] == PT  # the SRID-less header, as parsed
    for r in rows:
        for i in range(len(pairs)):
            assert r[f"c{i}"] == r[f"s{i}"], (pairs[i][1], r)

"""Catalyst-driven pushdown for external-store reads — the Python
DataSource V2 path (SURVEY.md §7 "Custom Catalyst/DSv2, optional") for
the paper's Redis sorted-set, Redis hash, MongoDB find and InfluxDB
sources. The reference passes the range or filter to the source
builder by hand (manual pushdown: RedisSources.java:200-256,
MongoDBSources.java:85-93, InfluxDbSources.java:79-221); here the
OPTIMIZER does it. The user writes a plain ``.filter(col("score") >= x)``
and Spark hands the predicates to ``pushFilters()`` during planning.

One reader, ``StoreReader``, serves the four stores. A store source
declares only two things:

- its output projection: output column → store column. The reader
  reads the bare field where the store already holds the output type
  and casts it otherwise (``safe=False``, so a nanosecond time
  truncates toward zero to Spark's microseconds, like the batch
  reader's ``ts div 1000``);
- which filter classes it absorbs on which output column.

``pushFilters`` compiles each absorbed filter to ``projection[col] <op>
literal`` (``In`` to an OR of equalities, a prefix to ``>= p AND
starts_with``) and yields every filter it cannot compile back to Spark,
which re-checks it post-scan. ``read`` hands the conjunction to pyarrow,
which prunes row groups on their statistics and masks the rows inside
the client: the "query executes in the external system" contract.
Spark never re-checks an absorbed predicate, and each one is evaluated
on the projected value, so the store keeps exactly the rows Spark would.

pyarrow 16 prunes a row group only through a bare field or a same-type
numeric cast; it does not prune through a string cast, an unsafe cast
or ``isin`` — hence the bare fields and the OR of equalities. A
comparison on a cast timestamp is also ANDed with its raw-column form
widened by 1 µs (``t > lo - 1µs``, ``t < hi + 1µs``): the exact
predicate implies it whichever way the truncation rounds, and pyarrow
prunes on it.

At 100 TB the difference matters: manual pushdown couples query shape
to call sites; optimizer pushdown composes — any view/join/subquery
that narrows a predicate narrows the store read, with zero changes to
reading code.

The bundled store clients read a parquet file with pyarrow as the
stand-in external system (no Redis, MongoDB or InfluxDB server is
needed), one input partition per parquet row group — the analog of
the reference round-robinning streams across members×threads
(RedisSources.java:693-756).
"""

from __future__ import annotations

import datetime
import functools
import math
import operator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

_CMP = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}
_RANGE = tuple(_CMP)


@dataclass
class _RowGroup(InputPartition):
    index: int


def _literal(value, typ):
    """``value`` as a pyarrow scalar of the output type ``typ``. Raises
    when it is not exactly a value of that type (a bool, a fraction for
    an integer column, a string or an int for a time), so the filter
    goes back to Spark."""
    import pyarrow as pa

    s = pa.scalar(value, typ)
    if isinstance(value, bool) or (
        not isinstance(value, datetime.datetime) and s.as_py() != value
    ):
        raise TypeError(f"{value!r} is not a {typ} value")
    return s


class StoreReader(DataSourceReader):
    """The one store reader: the declared projection and the absorbed
    filters become one pyarrow scan per row group."""

    def __init__(self, path: str, schema, columns: dict[str, str], absorbs: dict):
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        self.path = path
        self.absorbs = absorbs
        self.filter = None
        self.types: dict = {}
        self.projection: dict = {}
        self.raw_times: dict = {}  # output column -> (raw field, tz) of a cast time
        stored = ds.dataset(path, format="parquet").schema
        for out in to_arrow_schema(schema):
            raw = stored.field(columns[out.name])
            f = ds.field(raw.name)
            cast = raw.type != out.type
            self.types[out.name] = out.type
            self.projection[out.name] = f.cast(out.type, safe=False) if cast else f
            if cast and pa.types.is_timestamp(raw.type) and pa.types.is_timestamp(out.type):
                self.raw_times[out.name] = (f, raw.type.tz)

    # -- planning ----------------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        import pyarrow as pa
        import pyarrow.compute as pc

        residual, absorbed, lower, nan_closed = [], [], [], set()
        for f in filters:
            try:
                expr = self._compile(f)
            except (pa.ArrowException, TypeError, OverflowError):
                expr = None  # a literal the column cannot hold exactly
            if expr is None:
                residual.append(f)  # not absorbed: Spark re-checks it post-scan
                continue
            col = ".".join(f.attribute)
            if not pa.types.is_floating(self.types[col]):
                absorbed.append(expr)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lower.append((col, expr))
            else:
                absorbed.append(expr)
                nan_closed.add(col)
        # Spark orders NaN above every value, so a NaN row satisfies a
        # lower bound, where pyarrow's comparison is false. Such a bound
        # keeps NaN rows explicitly, unless another absorbed filter on
        # the column (an upper bound, =, In) already excludes them: the
        # bare comparison then prunes row groups on statistics as before.
        # (Not ~(x < v): min/max statistics skip NaN, so it would prune
        # the row groups that hold them.)
        for col, expr in lower:
            x = self.projection[col]
            absorbed.append(expr if col in nan_closed else expr | pc.is_nan(x))
        if absorbed:
            self.filter = functools.reduce(operator.and_, absorbed)
        return residual

    def _compile(self, f):
        import pyarrow as pa
        import pyarrow.compute as pc

        col = ".".join(getattr(f, "attribute", ()))
        if not isinstance(f, self.absorbs.get(col, ())):
            return None
        x, typ = self.projection[col], self.types[col]
        values = f.value if isinstance(f, In) else (f.value,)
        if any(isinstance(v, float) and math.isnan(v) for v in values):
            # Spark's NaN = NaN is true and x < NaN is true for every
            # other x; pyarrow's are false, so Spark keeps these
            return None
        if isinstance(f, In):
            return functools.reduce(operator.or_, [x == _literal(v, typ) for v in values])
        lit = _literal(f.value, typ)
        if isinstance(f, StringStartsWith):
            return (x >= lit) & pc.starts_with(x, pattern=f.value)
        expr = _CMP[type(f)](x, lit)
        if col in self.raw_times:
            raw, tz = self.raw_times[col]
            if not isinstance(f, (LessThan, LessThanOrEqual)):
                expr &= raw > pa.scalar(lit.value - 1, pa.timestamp("us", tz))
            if not isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                expr &= raw < pa.scalar(lit.value + 1, pa.timestamp("us", tz))
        return expr

    def partitions(self):
        return [_RowGroup(i) for i in range(max(1, self._fragment().num_row_groups))]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _RowGroup):
        i = partition.index
        # a slice, not an index: a store file with no row groups reads empty
        for group in self._fragment().split_by_row_group()[i : i + 1]:
            yield from group.to_table(columns=self.projection, filter=self.filter).to_batches()

    def _fragment(self):
        import pyarrow.dataset as ds

        return next(iter(ds.dataset(self.path, format="parquet").get_fragments()))


class _StoreSource(DataSource):
    """A store source: ``columns`` (output column → store column, typed
    by ``schema()``) and ``absorbs`` (output column → filter classes the
    store executes). Everything else is ``StoreReader``'s."""

    column_options: dict[str, tuple[str, str]] = {}  # output -> (option, default)

    def columns(self, schema) -> dict[str, str]:
        return {
            out: self.options.get(opt, default)
            for out, (opt, default) in self.column_options.items()
        }

    def reader(self, schema) -> StoreReader:
        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.name()} requires option 'path'")
        return StoreReader(path, schema, self.columns(schema), self.absorbs(schema))


class ZSetStoreDataSource(_StoreSource):
    """``spark.read.format("zset_store").option("path", p)
    .option("score_col", c).option("member_col", m).load()`` →
    ``(score double, member string)``; score comparisons become the
    store's ZRANGEBYSCORE (RedisSources.java:200-256,479).

    Register once per session:
        spark.dataSource.register(ZSetStoreDataSource)
    """

    column_options = {"score": ("score_col", "score"), "member": ("member_col", "member")}

    @classmethod
    def name(cls) -> str:
        return "zset_store"

    def schema(self) -> str:
        return "score double, member string"

    def absorbs(self, schema):
        return {"score": _RANGE}


class KVStoreDataSource(_StoreSource):
    """``spark.read.format("kv_store").option("path", p)
    .option("key_col", k).option("value_col", v).load()`` →
    ``(key string, value string)``. With no key predicate the read is
    the reference's HGETALL snapshot (RedisSources.java:100-183);
    otherwise the key operations a hash store has narrow it:
    ``EqualTo`` is HGET, ``In`` HMGET, ``StringStartsWith`` a SCAN MATCH
    "p*" cursor scan. Value predicates return to Spark.

    Register once per session:
        spark.dataSource.register(KVStoreDataSource)
    """

    column_options = {"key": ("key_col", "key"), "value": ("value_col", "value")}

    @classmethod
    def name(cls) -> str:
        return "kv_store"

    def schema(self) -> str:
        return "key string, value string"

    def absorbs(self, schema):
        return {"key": (EqualTo, In, StringStartsWith)}


class DocStoreDataSource(_StoreSource):
    """``spark.read.format("doc_store").option("path", p)
    .option("ddl", "doc_id long, lang string").load()`` — the declared
    DDL is both the projection (only those columns are read from the
    store) and the pushdown surface: comparisons and ``In`` on those
    columns are the find() filter (MongoDBSources.java:80-96) the store
    executes.

    Register once per session:
        spark.dataSource.register(DocStoreDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "doc_store"

    def schema(self) -> str:
        ddl = self.options.get("ddl")
        if not ddl:
            raise ValueError("doc_store requires option 'ddl'")
        return ddl

    def columns(self, schema):
        return {c: c for c in schema.fieldNames()}

    def absorbs(self, schema):
        return {c: (*_RANGE, In) for c in schema.fieldNames()}


class TimeSeriesStoreDataSource(_StoreSource):
    """``spark.read.format("ts_store").option("path", p)
    .option("time_col", t).option("tag_col", g).option("field_col", f)
    .load()`` → ``(tag string, time timestamp, val double)``; time
    comparisons become the time range the reference writes into the
    caller's query string (InfluxDbSources.java:79-221). One field is
    read per source, so a multi-field measurement is one read per field.

    Register once per session:
        spark.dataSource.register(TimeSeriesStoreDataSource)
    """

    column_options = {
        "tag": ("tag_col", "tag"),
        "time": ("time_col", "time"),
        "val": ("field_col", "value"),
    }

    @classmethod
    def name(cls) -> str:
        return "ts_store"

    def schema(self) -> str:
        return "tag string, time timestamp, val double"

    def absorbs(self, schema):
        return {"time": _RANGE}


def register(spark) -> None:
    spark.dataSource.register(ZSetStoreDataSource)
    spark.dataSource.register(DocStoreDataSource)
    spark.dataSource.register(KVStoreDataSource)
    spark.dataSource.register(TimeSeriesStoreDataSource)

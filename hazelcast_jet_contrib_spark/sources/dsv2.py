"""Catalyst-driven pushdown for external-store reads — the Python
DataSource V2 path (SURVEY.md §7 "Custom Catalyst/DSv2, optional") for
the paper's Redis sorted-set, Redis hash, MongoDB find and InfluxDB
sources. The reference passes the range or filter to the source
builder by hand (manual pushdown); here the OPTIMIZER does it. The
user writes a plain ``.filter(col("score") >= x)``; Spark hands the
predicates to ``pushFilters()`` during planning; each source absorbs
the comparisons its store can execute into the client read (parquet
row-group statistics pruning + arrow filter — for the sorted set the
ZRANGEBYSCORE analog, RedisSources.java:200-256,479) and returns only
the predicates it cannot execute for Spark to re-check.

At 100 TB the difference matters: manual pushdown couples query shape
to call sites; optimizer pushdown composes — any view/join/subquery
that narrows the score range narrows the store read, with zero changes
to reading code.

The bundled store clients read a parquet file with pyarrow as the
stand-in external system (no Redis, MongoDB or InfluxDB server is
needed), one input partition per parquet row group — the analog of
the reference round-robinning streams across members×threads
(RedisSources.java:693-756).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)


@dataclass
class _RowGroup(InputPartition):
    index: int


def _attr_name(f: Filter) -> str:
    """Column name of a simple comparison filter; "" for compound
    filters (Not/And/...) that carry no single attribute — every reader
    treats "" as not-pushable and yields the filter back to Spark."""
    a = getattr(f, "attribute", None)
    if a is None:
        return ""
    return a[-1] if isinstance(a, (tuple, list)) else str(a)


class ZSetStoreReader(DataSourceReader):
    """Sorted-set store reader with optimizer-driven range pushdown.

    Bounds state: [lo, hi] with per-end strictness; pushFilters absorbs
    >, >=, <, <=, = comparisons on the score column and KEEPS everything
    else (returned filters are re-evaluated by Spark — correctness never
    depends on what the store can do)."""

    def __init__(self, path: str, score_col: str, member_col: str):
        self.path = path
        self.score_col = score_col
        self.member_col = member_col
        self.lo = -math.inf
        self.hi = math.inf
        self.lo_strict = False
        self.hi_strict = False

    # -- planning ----------------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            if _attr_name(f) == "score" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo)
            ) and isinstance(f.value, (int, float)) and not isinstance(f.value, bool):
                v = float(f.value)
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    strict = isinstance(f, GreaterThan)
                    if v > self.lo or (v == self.lo and strict):
                        self.lo, self.lo_strict = v, strict
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    strict = isinstance(f, LessThan)
                    if v < self.hi or (v == self.hi and strict):
                        self.hi, self.hi_strict = v, strict
                else:  # EqualTo
                    # Tighten only — never relax strictness at an equal
                    # value: after GreaterThan(v) set lo=(v, strict), an
                    # EqualTo(v) must keep the strict bound so the
                    # unsatisfiable conjunction (score > v AND score = v)
                    # stays an empty range regardless of filter order.
                    if v > self.lo:
                        self.lo, self.lo_strict = v, False
                    if v < self.hi:
                        self.hi, self.hi_strict = v, False
            else:
                yield f  # not pushable: Spark evaluates it post-scan

    def partitions(self):
        import pyarrow.parquet as pq

        n = max(1, pq.ParquetFile(self.path).metadata.num_row_groups)
        return [_RowGroup(i) for i in range(n)]

    # -- execution ---------------------------------------------------------
    def read(self, partition: _RowGroup):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        col_idx = md.schema.names.index(self.score_col)
        stats = md.row_group(partition.index).column(col_idx).statistics
        # conservative stats pruning (non-strict bounds are safe for
        # strict predicates too)
        if (
            stats is not None
            and stats.has_min_max
            and (stats.min > self.hi or stats.max < self.lo)
        ):
            return
        tbl = pf.read_row_group(
            partition.index, columns=[self.score_col, self.member_col]
        )
        score = tbl[self.score_col]
        mask = None
        if self.lo != -math.inf:
            m = (pc.greater if self.lo_strict else pc.greater_equal)(score, self.lo)
            mask = m
        if self.hi != math.inf:
            m = (pc.less if self.hi_strict else pc.less_equal)(score, self.hi)
            mask = m if mask is None else pc.and_(mask, m)
        if mask is not None:
            tbl = tbl.filter(mask)
        for s, m in zip(
            tbl[self.score_col].to_pylist(), tbl[self.member_col].to_pylist()
        ):
            yield (float(s), str(m))


class ZSetStoreDataSource(DataSource):
    """``spark.read.format("zset_store").option("path", p)
    .option("score_col", c).option("member_col", m).load()`` →
    ``(score double, member string)`` with score comparisons pushed into
    the store read by the optimizer.

    Register once per session:
        spark.dataSource.register(ZSetStoreDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "zset_store"

    def schema(self) -> str:
        return "score double, member string"

    def reader(self, schema) -> ZSetStoreReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("zset_store requires option 'path'")
        return ZSetStoreReader(
            path,
            self.options.get("score_col", "score"),
            self.options.get("member_col", "member"),
        )


class KVStoreReader(DataSourceReader):
    """KV/hash-store reader with optimizer-driven key pushdown — the
    third store to adopt the pushFilters pattern (after zset and
    docstore). With no key predicate the read is the reference's
    HGETALL snapshot (RedisSources.java:100-183); otherwise Catalyst
    narrows the read to the server-side key operations a hash store
    actually has:

      * ``EqualTo(key, k)``        → single-field HGET
      * ``In(key, [k...])``        → HMGET
      * ``StringStartsWith(key,p)``→ SCAN MATCH "p*" cursor scan

    Conjunction semantics: absorbed key filters INTERSECT (an
    ``EqualTo`` after an ``In`` narrows the key set; every absorbed
    prefix must match). Filters on the value column or with non-string
    operands are returned for Spark to re-check — correctness never
    depends on what the store can do. The parquet stand-in executes the
    absorbed filters server-side as row-group statistics pruning + an
    arrow mask, mirroring the zset reader."""

    def __init__(self, path: str, key_col: str, value_col: str):
        self.path = path
        self.key_col = key_col
        self.value_col = value_col
        self.keys: set[str] | None = None  # None = unconstrained (HGETALL)
        self.prefixes: list[str] = []

    # -- planning ----------------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        from pyspark.sql.datasource import StringStartsWith

        for f in filters:
            if _attr_name(f) != "key":
                yield f
            elif isinstance(f, EqualTo) and isinstance(f.value, str):
                ks = {f.value}
                self.keys = ks if self.keys is None else self.keys & ks
            elif isinstance(f, In) and all(isinstance(v, str) for v in f.value):
                ks = set(f.value)
                self.keys = ks if self.keys is None else self.keys & ks
            elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
                self.prefixes.append(f.value)
            else:
                yield f  # not a server-side key op: Spark re-checks it

    def partitions(self):
        import pyarrow.parquet as pq

        n = max(1, pq.ParquetFile(self.path).metadata.num_row_groups)
        return [_RowGroup(i) for i in range(n)]

    # -- execution ---------------------------------------------------------
    def _prune(self, stats) -> bool:
        """True if the row group's key statistics exclude every absorbed
        key/prefix (safe-only: string stats, conservative bounds)."""
        if stats is None or not stats.has_min_max:
            return False
        mn, mx = stats.min, stats.max
        if not (isinstance(mn, str) and isinstance(mx, str)):
            return False  # non-string physical key column: no pruning
        if self.keys is not None and all(k < mn or k > mx for k in self.keys):
            return True
        # a key matching prefix p is >= p; if the group max sorts below
        # p no key in it can carry the prefix
        return any(mx < p for p in self.prefixes)

    def read(self, partition: _RowGroup):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if self.keys is not None and not self.keys:
            return  # intersected to the empty key set: no store I/O at all
        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        col_idx = md.schema.names.index(self.key_col)
        if self._prune(md.row_group(partition.index).column(col_idx).statistics):
            return
        tbl = pf.read_row_group(partition.index, columns=[self.key_col, self.value_col])
        key = pc.cast(tbl[self.key_col], pa.string())
        val = pc.cast(tbl[self.value_col], pa.string())
        mask = None
        if self.keys is not None:
            mask = pc.is_in(key, value_set=pa.array(sorted(self.keys), pa.string()))
        for p in self.prefixes:
            m = pc.starts_with(key, p)
            mask = m if mask is None else pc.and_(mask, m)
        if mask is not None:
            key, val = pc.filter(key, mask), pc.filter(val, mask)
        yield from zip(key.to_pylist(), val.to_pylist())


class KVStoreDataSource(DataSource):
    """``spark.read.format("kv_store").option("path", p)
    .option("key_col", k).option("value_col", v).load()`` →
    ``(key string, value string)`` with key equality / membership /
    prefix predicates pushed into the store read by the optimizer.

    Register once per session:
        spark.dataSource.register(KVStoreDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "kv_store"

    def schema(self) -> str:
        return "key string, value string"

    def reader(self, schema) -> KVStoreReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("kv_store requires option 'path'")
        return KVStoreReader(
            path,
            self.options.get("key_col", "key"),
            self.options.get("value_col", "value"),
        )


_OPS = {"$gt", "$gte", "$lt", "$lte", "$eq", "$ne", "$in"}


def _compile_filter(flt: dict[str, Any]):
    """Compile a Mongo-ish find() filter document — {field: value}
    equality and {field: {"$gt"|"$gte"|"$lt"|"$lte"|"$eq"|"$ne"|"$in":
    v}}, the operator subset the reference's own tests use
    (MongoDBSourceTest.java:97-123) — to a pyarrow dataset expression,
    evaluated during the parquet read (row-group stats pruning +
    filter): the "query executes in the external system" contract."""
    import pyarrow.dataset as ds

    expr = None
    for field, cond in flt.items():
        f = ds.field(field)
        if isinstance(cond, dict):
            for op, v in cond.items():
                if op not in _OPS:
                    raise ValueError(f"unsupported operator {op!r}")
                e = {
                    "$gt": lambda: f > v,
                    "$gte": lambda: f >= v,
                    "$lt": lambda: f < v,
                    "$lte": lambda: f <= v,
                    "$eq": lambda: f == v,
                    "$ne": lambda: f != v,
                    "$in": lambda: f.isin(list(v)),
                }[op]()
                expr = e if expr is None else (expr & e)
        else:
            e = f == cond
            expr = e if expr is None else (expr & e)
    return expr


_FIND_OPS: dict[type, str] = {
    EqualTo: "$eq",
    GreaterThan: "$gt",
    GreaterThanOrEqual: "$gte",
    LessThan: "$lt",
    LessThanOrEqual: "$lte",
    In: "$in",
}


class DocStoreReader(DataSourceReader):
    """Document-store reader with optimizer-driven find() pushdown.

    Where the reference takes the Mongo-ish filter document as a manual
    argument (MongoDBSources.java:80-96), this reader BUILDS that
    document from the predicates Catalyst hands to ``pushFilters()``:
    the declared DDL is the projection, and each absorbed
    comparison becomes a `{field: {$op: value}}` entry executed inside
    the store client (row-group stats pruning + arrow filter), and
    everything else is returned for Spark to re-check. One op per
    (field, op) slot — a duplicate (e.g. two `$gte` on one field from a
    non-folded conjunction) is yielded back rather than merged, so there
    is no bound arithmetic to get wrong; Spark re-checking an absorbed
    predicate is always safe, only the reverse is not."""

    def __init__(self, path: str, columns: list[str]):
        self.path = path
        self.columns = columns
        self.find: dict[str, dict[str, object]] = {}

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            op = _FIND_OPS.get(type(f))
            name = _attr_name(f)
            if op is None or name not in self.columns:
                yield f
                continue
            v = list(f.value) if isinstance(f, In) else f.value
            if isinstance(v, bool) or not isinstance(v, (int, float, str, list)):
                yield f
                continue
            slot = self.find.setdefault(name, {})
            if op in slot:
                yield f
            else:
                slot[op] = v

    def partitions(self):
        import pyarrow.parquet as pq

        n = max(1, pq.ParquetFile(self.path).metadata.num_row_groups)
        return [_RowGroup(i) for i in range(n)]

    def read(self, partition: _RowGroup):
        import pyarrow.dataset as ds

        dataset = ds.dataset(self.path, format="parquet")
        expr = _compile_filter(self.find) if self.find else None
        fragment = next(iter(dataset.get_fragments())).split_by_row_group()[
            partition.index
        ]
        tbl = fragment.to_table(columns=self.columns, filter=expr)
        yield from tbl.to_batches()


class DocStoreDataSource(DataSource):
    """``spark.read.format("doc_store").option("path", p)
    .option("ddl", "doc_id long, lang string").load()`` — the declared
    DDL is both the projection (only those columns are read from the
    store) and the pushdown surface (comparisons on those columns are
    absorbed into the find document).

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

    def reader(self, schema) -> DocStoreReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("doc_store requires option 'path'")
        return DocStoreReader(path, list(schema.fieldNames()))


class TimeSeriesStoreReader(DataSourceReader):
    """Time-series store reader with optimizer-driven time-range
    pushdown — the fourth and last store family on the pushFilters
    pattern. The reference takes the time range inside the caller's
    query string (InfluxDbSources.java:79-221); here a plain
    ``.filter(col("time") >= x)`` reaches the store via Catalyst,
    composing with any view or join that narrows the window. One field
    is read per source (option ``field_col``), so a multi-field
    measurement is one read per field.

    Bounds are kept in integer epoch MICROSECONDS — Spark timestamp
    precision, which is also the precision of the emitted `time`
    column. A nanosecond-native store column is truncated to micros
    BEFORE the absorbed bounds are evaluated, so a row whose ns-time
    exceeds a strict bound by less than 1 us is excluded exactly as
    Spark itself would exclude its truncated value (Spark never
    re-checks absorbed predicates — the mask must see the same values
    the output carries). Integer bounds mean no float rounding
    surface, and the same tighten-never-relax rules as the zset reader
    apply, including EqualTo never relaxing a strict bound at an equal
    value. Absorbed predicates execute inside the client as row-group
    statistics pruning + an arrow timestamp mask; everything else
    returns to Spark."""

    def __init__(self, path: str, time_col: str, tag_col: str, field_col: str):
        self.path = path
        self.time_col = time_col
        self.tag_col = tag_col
        self.field_col = field_col
        self.lo: float = -math.inf  # epoch us (int) or ±inf sentinel
        self.hi: float = math.inf
        self.lo_strict = False
        self.hi_strict = False

    @staticmethod
    def _us(value) -> int | None:
        import datetime

        import pandas as pd

        if isinstance(value, datetime.datetime):
            ts = pd.Timestamp(value)
            if ts.tzinfo is not None:
                ts = ts.tz_convert("UTC").tz_localize(None)
            return ts.value // 1000  # ns -> us floor; catalyst literals are whole us
        return None

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            v = (
                self._us(f.value)
                if _attr_name(f) == "time"
                and isinstance(
                    f,
                    (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo),
                )
                else None
            )
            if v is None:
                yield f  # not a pushable time comparison: Spark re-checks
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                strict = isinstance(f, GreaterThan)
                if v > self.lo or (v == self.lo and strict):
                    self.lo, self.lo_strict = v, strict
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                strict = isinstance(f, LessThan)
                if v < self.hi or (v == self.hi and strict):
                    self.hi, self.hi_strict = v, strict
            else:  # EqualTo: tighten only, never relax strictness
                if v > self.lo:
                    self.lo, self.lo_strict = v, False
                if v < self.hi:
                    self.hi, self.hi_strict = v, False

    def partitions(self):
        import pyarrow.parquet as pq

        n = max(1, pq.ParquetFile(self.path).metadata.num_row_groups)
        return [_RowGroup(i) for i in range(n)]

    def read(self, partition: _RowGroup):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        col_idx = md.schema.names.index(self.time_col)
        stats = md.row_group(partition.index).column(col_idx).statistics
        if stats is not None and stats.has_min_max:
            try:
                # floor-truncate stats to us so pruning compares in the
                # same domain as the mask — conservative at both edges
                mn = pd.Timestamp(stats.min).value // 1000
                mx = pd.Timestamp(stats.max).value // 1000
                if mn > self.hi or mx < self.lo:
                    return
            except (TypeError, ValueError):
                pass  # un-interpretable stats: read the group
        tbl = pf.read_row_group(
            partition.index, columns=[self.tag_col, self.time_col, self.field_col]
        )
        # truncate to MICROS (Spark timestamp precision) BEFORE masking:
        # the absorbed bounds must see exactly the values the output
        # carries, since Spark never re-checks them. safe=False permits
        # the ns->us data loss (floor for the non-negative epochs a
        # store holds), mirroring the batch reader's
        # timestamp_micros(ts div 1000) conversion.
        t_us = pc.cast(
            pc.cast(tbl[self.time_col], pa.timestamp("ns")),
            pa.timestamp("us"),
            safe=False,
        )
        mask = None
        if self.lo != -math.inf:
            s = pa.scalar(int(self.lo), pa.timestamp("us"))
            mask = (pc.greater if self.lo_strict else pc.greater_equal)(t_us, s)
        if self.hi != math.inf:
            s = pa.scalar(int(self.hi), pa.timestamp("us"))
            m = (pc.less if self.hi_strict else pc.less_equal)(t_us, s)
            mask = m if mask is None else pc.and_(mask, m)
        out = pa.table(
            {
                "tag": pc.cast(tbl[self.tag_col], pa.string()),
                "time": t_us,
                "val": pc.cast(tbl[self.field_col], pa.float64()),
            }
        )
        if mask is not None:
            out = out.filter(mask)
        yield from out.to_batches()


class TimeSeriesStoreDataSource(DataSource):
    """``spark.read.format("ts_store").option("path", p)
    .option("time_col", t).option("tag_col", g).option("field_col", f)
    .load()`` → ``(tag string, time timestamp, val double)`` with time
    comparisons pushed into the store read by the optimizer.

    Register once per session:
        spark.dataSource.register(TimeSeriesStoreDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return "ts_store"

    def schema(self) -> str:
        return "tag string, time timestamp, val double"

    def reader(self, schema) -> TimeSeriesStoreReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("ts_store requires option 'path'")
        return TimeSeriesStoreReader(
            path,
            self.options.get("time_col", "time"),
            self.options.get("tag_col", "tag"),
            self.options.get("field_col", "value"),
        )


def register(spark) -> None:
    spark.dataSource.register(ZSetStoreDataSource)
    spark.dataSource.register(DocStoreDataSource)
    spark.dataSource.register(KVStoreDataSource)
    spark.dataSource.register(TimeSeriesStoreDataSource)

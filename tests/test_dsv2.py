"""DSv2 optimizer-pushdown sources (``sources/dsv2.py``): which filters
each store absorbs, the rows its reader returns under them, the safety
contract that every other predicate is returned to Spark and still
enforced, and row-group pruning on the store's statistics.

The reader tests run without a JVM: a source is built from its options
and an explicit schema, ``pushFilters`` returns the residual filters,
and ``read`` is drained over every partition."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from hazelcast_jet_contrib_spark.sources.dsv2 import (
    DocStoreDataSource,
    KVStoreDataSource,
    TimeSeriesStoreDataSource,
    ZSetStoreDataSource,
)

_UTC = datetime.timezone.utc
_BASE_NS = 1_704_844_800_000_000_000  # 2024-01-10T00:00:00Z


def _schema(**fields) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields.items()])


_ZSET = _schema(score=T.DoubleType(), member=T.StringType())
_KV = _schema(key=T.StringType(), value=T.StringType())
_TS = _schema(tag=T.StringType(), time=T.TimestampType(), val=T.DoubleType())


def _pushdown(source, schema, filters):
    """``(residual filters, rows read)`` of one reader after
    ``pushFilters(filters)``, its partitions drained in order."""
    r = source.reader(schema)
    residual = list(r.pushFilters(filters))
    rows = [row for p in r.partitions() for b in r.read(p) for row in b.to_pylist()]
    return residual, rows


@pytest.fixture
def store(tmp_path):
    """A 10-row-group parquet store: row i has score i, member/key
    ``k<i:03d>``, value ``i * 7``, a tag and a nanosecond time at
    ``2024-01-10 + i s``."""
    n = 100
    path = str(tmp_path / "store.parquet")
    pq.write_table(
        pa.table(
            {
                "score": pa.array([float(i) for i in range(n)]),
                "key": [f"k{i:03d}" for i in range(n)],
                "value": pa.array([i * 7 for i in range(n)], pa.int64()),
                "tag": [("click", "view")[i % 2] for i in range(n)],
                "ts": pa.array([_BASE_NS + i * 10**9 for i in range(n)], pa.timestamp("ns")),
            }
        ),
        path,
        row_group_size=10,
    )
    return path


def _zset(store):
    return ZSetStoreDataSource({"path": store, "member_col": "key"})


def _kv(store):
    return KVStoreDataSource({"path": store})


def _ts(store):
    return TimeSeriesStoreDataSource(
        {"path": store, "time_col": "ts", "tag_col": "tag", "field_col": "score"}
    )


def _at(second: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 10, tzinfo=_UTC) + datetime.timedelta(seconds=second)


def test_pushfilters_tightens_bounds_and_keeps_strictness(store):
    residual, rows = _pushdown(
        _zset(store),
        _ZSET,
        [
            GreaterThanOrEqual(("score",), 10.0),
            GreaterThan(("score",), 10.0),  # tighter: strict wins at same value
            LessThan(("score",), 80.0),
            LessThanOrEqual(("score",), 50.0),  # tighter value wins
        ],
    )
    assert residual == []
    assert [r["score"] for r in rows] == [float(i) for i in range(11, 51)]
    assert rows[0] == {"score": 11.0, "member": "k011"}


def test_pushfilters_equal_to_pins_both_bounds(store):
    residual, rows = _pushdown(_zset(store), _ZSET, [EqualTo(("score",), 42.0)])
    assert residual == []
    assert rows == [{"score": 42.0, "member": "k042"}]


def test_pushfilters_equal_to_never_relaxes_strict_bound(store):
    """``score > v AND score = v`` is unsatisfiable: both filters are
    absorbed, so the store must return no row, in either order and from
    either side."""
    for filters in (
        [GreaterThan(("score",), 5.0), EqualTo(("score",), 5.0)],
        [EqualTo(("score",), 5.0), GreaterThan(("score",), 5.0)],
        [LessThan(("score",), 5.0), EqualTo(("score",), 5.0)],
    ):
        assert _pushdown(_zset(store), _ZSET, filters) == ([], []), filters


def test_pushfilters_returns_unsupported_predicates(store):
    other = StringStartsWith(("member",), "a")
    a_bool = EqualTo(("score",), True)  # not a double literal
    residual, rows = _pushdown(
        _zset(store), _ZSET, [GreaterThan(("score",), 97.0), other, a_bool]
    )
    assert residual == [other, a_bool]
    assert [r["score"] for r in rows] == [98.0, 99.0]


def test_unsupported_filter_still_enforced_end_to_end(spark):
    """A member predicate the store cannot push must come back correct:
    Spark re-evaluates the residual post-scan, so results match the
    parquet ground truth exactly."""
    from hazelcast_jet_contrib_spark.sources import dsv2

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    path = "/root/testdata/sf0.001/events.parquet"
    df = (
        spark.read.format("zset_store")
        .option("path", path)
        .option("score_col", "value")
        .option("member_col", "event_id")
        .load()
        .filter((F.col("score") > 20.0) & (F.col("member").startswith("1")))
    )
    got = {(r["score"], r["member"]) for r in df.collect()}
    truth = {
        (float(r["value"]), str(r["event_id"]))
        for r in spark.read.parquet(path)
        .filter((F.col("value") > 20.0) & (F.col("event_id").cast("string").startswith("1")))
        .select("value", "event_id")
        .collect()
    }
    assert got == truth and len(got) > 0


_DOC = _schema(key=T.StringType(), value=T.LongType(), tag=T.StringType())


def _doc(store):
    return DocStoreDataSource({"path": store, "ddl": "key string, value long, tag string"})


def _doc_rows(keep) -> list[dict]:
    return [
        {"key": f"k{i:03d}", "value": i * 7, "tag": ("click", "view")[i % 2]}
        for i in range(100)
        if keep(i)
    ]


def test_docstore_pushfilters_builds_find_document(store):
    """Comparisons on declared columns are the find() filter the store
    executes; a prefix has no find-language counterpart and returns."""
    other = StringStartsWith(("key",), "k0")
    residual, rows = _pushdown(
        _doc(store),
        _DOC,
        [
            GreaterThanOrEqual(("value",), 100),
            LessThanOrEqual(("value",), 400),
            EqualTo(("tag",), "view"),
            other,
        ],
    )
    assert residual == [other]
    assert rows == _doc_rows(lambda i: 100 <= i * 7 <= 400 and i % 2)


def test_docstore_pushfilters_duplicate_absorbed_and_unknown_column_yielded(store):
    """A second comparison with the same field and operator is absorbed
    too (the conjunction keeps the tighter); a column outside the DDL is
    returned for Spark to re-check."""
    off_schema = EqualTo(("other_col",), 1)
    residual, rows = _pushdown(
        _doc(store),
        _DOC,
        [
            GreaterThanOrEqual(("value",), 70),
            GreaterThanOrEqual(("value",), 140),
            off_schema,
            In(("tag",), ("view", "none")),
        ],
    )
    assert residual == [off_schema]
    assert rows == _doc_rows(lambda i: i * 7 >= 140 and i % 2)


def test_kv_pushfilters_intersects_key_sets(store):
    """Conjunction semantics: EqualTo after In narrows the key set,
    never widens it; disjoint keys read no row."""
    residual, rows = _pushdown(
        _kv(store), _KV, [In(("key",), ("k001", "k002", "k003")), EqualTo(("key",), "k002")]
    )
    assert residual == []
    assert rows == [{"key": "k002", "value": "14"}]
    disjoint = [EqualTo(("key",), "k001"), EqualTo(("key",), "k099")]
    assert _pushdown(_kv(store), _KV, disjoint) == ([], [])


def test_kv_pushfilters_prefixes_conjoin_and_value_filters_return(store):
    on_value = StringStartsWith(("value",), "x")
    not_a_key_op = GreaterThan(("key",), "m")
    residual, rows = _pushdown(
        _kv(store),
        _KV,
        [
            StringStartsWith(("key",), "k0"),
            StringStartsWith(("key",), "k04"),
            on_value,
            not_a_key_op,
        ],
    )
    assert residual == [on_value, not_a_key_op]
    assert [r["key"] for r in rows] == [f"k{i:03d}" for i in range(40, 50)]


def test_pushdown_prunes_row_groups_on_statistics(store):
    """pyarrow keeps only the row groups whose statistics can hold a
    match under each compiled filter: a bare double score, a bare string
    key under =, In and a prefix, and a nanosecond time cast to Spark's
    microseconds (pruned through its widened raw-column form)."""
    fragment = next(iter(ds.dataset(store, format="parquet").get_fragments()))

    def kept(source, schema, filters):
        r = source.reader(schema)
        assert list(r.pushFilters(filters)) == []
        return [g.row_groups[0].id for g in fragment.split_by_row_group(r.filter)]

    zset, kv, ts = _zset(store), _kv(store), _ts(store)
    score = [GreaterThanOrEqual(("score",), 35.0), LessThan(("score",), 52.0)]
    assert kept(zset, _ZSET, score) == [3, 4, 5]
    assert kept(kv, _KV, [EqualTo(("key",), "k035")]) == [3]
    assert kept(kv, _KV, [In(("key",), ("k035", "k071"))]) == [3, 7]
    assert kept(kv, _KV, [StringStartsWith(("key",), "k09")]) == [9]
    time = [GreaterThanOrEqual(("time",), _at(35)), LessThan(("time",), _at(52))]
    assert kept(ts, _TS, time) == [3, 4, 5]
    assert kept(ts, _TS, [EqualTo(("time",), _at(71))]) == [7]


def test_kv_store_end_to_end_matches_ground_truth(spark):
    """HMGET shape (In on key) + residual on value, checked against the
    parquet ground truth; the key column is numeric in the store and
    stringly-typed at the API — the cast happens inside the client."""
    from hazelcast_jet_contrib_spark.sources import dsv2

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    path = "/root/testdata/sf0.001/customer.parquet"
    wanted = ["Customer#000000007", "Customer#000000011", "Customer#nope"]
    df = (
        spark.read.format("kv_store")
        .option("path", path)
        .option("key_col", "c_name")
        .option("value_col", "c_custkey")
        .load()
        .filter(F.col("key").isin(wanted))
    )
    got = {(r["key"], r["value"]) for r in df.collect()}
    assert got == {("Customer#000000007", "7"), ("Customer#000000011", "11")}


def test_ts_pushfilters_converts_bounds_to_epoch_ns(store):
    """Time comparisons select the window on the emitted microsecond
    time; a naive literal reads as UTC. The tag predicate has no
    time-range counterpart and returns to Spark."""
    on_tag = EqualTo(("tag",), "click")
    residual, rows = _pushdown(
        _ts(store),
        _TS,
        [
            GreaterThanOrEqual(("time",), datetime.datetime(2024, 1, 10, 0, 0, 10)),
            LessThan(("time",), _at(13)),
            on_tag,
        ],
    )
    assert residual == [on_tag]
    assert [(r["tag"], r["time"], r["val"]) for r in rows] == [
        ("click", _at(10), 10.0),
        ("view", _at(11), 11.0),
        ("click", _at(12), 12.0),
    ]


def test_ts_pushfilters_equal_to_never_relaxes_strict_bound(store):
    """time > v then time = v is unsatisfiable; both absorbed, so the
    store returns no row — the same rule as the sorted set's."""
    filters = [GreaterThan(("time",), _at(5)), EqualTo(("time",), _at(5))]
    assert _pushdown(_ts(store), _TS, filters) == ([], [])


def test_ts_pushfilters_non_datetime_value_is_yielded(store):
    """A time comparison whose literal is not a datetime (a string that
    Catalyst did not fold, an int) cannot become a time bound: it comes
    back for Spark to re-check, and the store reads every row."""
    as_str = GreaterThan(("time",), "2024-01-10")
    as_int = LessThan(("time",), 5)
    residual, rows = _pushdown(_ts(store), _TS, [as_str, as_int])
    assert residual == [as_str, as_int]
    assert len(rows) == 100


def test_ts_store_end_to_end_matches_ground_truth(spark):
    """Range + residual tag predicate against the parquet ground truth;
    exactness across the ns→us truncation boundary."""
    from hazelcast_jet_contrib_spark.sources import dsv2

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    path = "/root/testdata/sf0.001/events.parquet"
    df = (
        spark.read.format("ts_store")
        .option("path", path)
        .option("time_col", "ts")
        .option("tag_col", "event_type")
        .option("field_col", "value")
        .load()
        .filter(
            (F.col("time") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("time") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("tag") != "click")
        )
    )
    got = {(r["tag"], r["time"], r["val"]) for r in df.collect()}
    truth = {
        (str(r["event_type"]), r["ts"], float(r["value"]))
        for r in spark.read.parquet(path)
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("event_type") != "click")
        )
        .select("event_type", "ts", "value")
        .collect()
    }
    assert got == truth and len(got) > 0


def test_ts_store_ns_precision_truncates_before_masking(spark, tmp_path):
    """A store column with sub-microsecond timestamps must not crash the
    reader (unsafe ns->us cast), and the absorbed strict bound must be
    evaluated on the TRUNCATED values Spark's output carries: a row at
    X+500ns truncates to X, so it is excluded by `time > X` exactly as
    Spark itself would exclude it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hazelcast_jet_contrib_spark.sources import dsv2

    base = 1_704_844_800_000_000_000  # 2024-01-10T00:00:00 in ns
    tbl = pa.table(
        {
            "tag": ["a", "b", "c", "d"],
            "ts": pa.array(
                [base + 500, base + 1_000, base + 1_500, base + 2_000],
                pa.timestamp("ns"),
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    path = str(tmp_path / "ns.parquet")
    pq.write_table(tbl, path)

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("ts_store")
        .option("path", path)
        .option("time_col", "ts")
        .option("tag_col", "tag")
        .option("field_col", "v")
        .load()
        .filter(F.col("time") > F.lit("2024-01-10 00:00:00").cast("timestamp"))
    )
    got = sorted((r["tag"], r["val"]) for r in df.collect())
    # base+500 truncates to X (excluded by strict >); base+1000 is X+1us
    # (included); base+1500 truncates to X+1us (included)
    assert got == [("b", 2.0), ("c", 3.0), ("d", 4.0)], got


def test_ts_store_pre_1970_row_is_kept(spark, tmp_path):
    """A row at -500 ns truncates toward zero to an emitted time of
    1970-01-01 00:00:00, which satisfies ``time >= 1970-01-01``: the
    store evaluates the absorbed filter on the emitted value, so it
    returns the row (Spark never re-checks an absorbed predicate). A row
    at -1500 ns emits -1 us and is excluded."""
    from hazelcast_jet_contrib_spark.sources import dsv2

    path = str(tmp_path / "pre1970.parquet")
    pq.write_table(
        pa.table(
            {
                "tag": ["a", "b", "c"],
                "ts": pa.array([-500, -1_500, 2_000], pa.timestamp("ns")),
                "v": [1.0, 2.0, 3.0],
            }
        ),
        path,
        row_group_size=1,  # each row alone, so its group's statistics are its own
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    df = (
        spark.read.format("ts_store")
        .option("path", path)
        .option("time_col", "ts")
        .option("tag_col", "tag")
        .option("field_col", "v")
        .load()
        .filter(F.col("time") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    got = sorted(df.select("tag", F.unix_micros("time")).collect())
    assert [tuple(r) for r in got] == [("a", 0), ("c", 2)], got


def _nan_filters():
    v = F.col("v")
    return [
        v >= 10.0,
        v > 5.0,
        (v >= 10.0) & (v <= 50.0),
        v < 10.0,
        v <= float("inf"),
        v == 0.0,
        v == float("nan"),
        v > float("nan"),
        v < float("nan"),
        v >= float("nan"),
        v.isin(5.0, float("nan")),
        v.isin(5.0, 20.0),
    ]


@pytest.fixture
def nan_store(tmp_path):
    """One row per row group, so each group's statistics are its own:
    NaN, ±inf, ±0.0, NULL and ordinary values under a float column."""
    path = str(tmp_path / "nan.parquet")
    vals = [float("nan"), 5.0, 20.0, None, float("inf"), float("-inf"), -0.0, 0.0]
    pq.write_table(
        pa.table({"k": [f"m{i}" for i in range(len(vals))], "v": pa.array(vals, pa.float64())}),
        path,
        row_group_size=1,
    )
    return path


@pytest.mark.parametrize("store_kind", ["zset_store", "doc_store"])
def test_float_filters_keep_nan_rows_like_spark(spark, nan_store, store_kind):
    """Spark orders NaN above every value and treats NaN = NaN as true,
    and never re-checks an absorbed filter: under each filter the store
    returns exactly the rows ``spark.read.parquet`` returns (``score >=
    10`` over NaN, 5, 20 keeps the NaN row)."""
    from hazelcast_jet_contrib_spark.sources import dsv2

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dsv2.register(spark)
    reader = spark.read.format(store_kind).option("path", nan_store)
    if store_kind == "zset_store":
        src = reader.option("score_col", "v").option("member_col", "k").load()
        src = src.select(F.col("member").alias("k"), F.col("score").alias("v"))
    else:
        src = reader.option("ddl", "k string, v double").load()
    truth = spark.read.parquet(nan_store)
    # Spark evaluates the filter itself: its parquet reader's own
    # statistics pruning drops the -0.0 row group under = 0.0, which
    # Spark's evaluation keeps (-0.0 = 0.0 is true)
    saved = spark.conf.get("spark.sql.parquet.filterPushdown")
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        for cond in _nan_filters():
            got = sorted(r["k"] for r in src.filter(cond).collect())
            want = sorted(r["k"] for r in truth.filter(cond).collect())
            assert got == want, (str(cond), got, want)
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", saved)


def test_nan_literal_is_yielded_and_lone_lower_bound_keeps_nan(nan_store):
    """A comparison or ``In`` with a NaN literal goes back to Spark; a
    lower bound with no NaN-excluding filter beside it keeps the NaN
    row, and one with an upper bound beside it prunes as before."""
    zset = ZSetStoreDataSource({"path": nan_store, "score_col": "v", "member_col": "k"})
    nan = float("nan")
    for f in (EqualTo(("score",), nan), LessThan(("score",), nan), In(("score",), (1.0, nan))):
        residual, _ = _pushdown(zset, _ZSET, [f])
        assert residual == [f]
    _, rows = _pushdown(zset, _ZSET, [GreaterThanOrEqual(("score",), 10.0)])
    assert sorted(r["member"] for r in rows) == ["m0", "m2", "m4"]
    fragment = next(iter(ds.dataset(nan_store, format="parquet").get_fragments()))
    r = zset.reader(_ZSET)
    assert list(r.pushFilters([GreaterThanOrEqual(("score",), 10.0), LessThan(("score",), 30.0)])) == []
    # the NULL group (3) and the +inf group (4) prune; the NaN group (0)
    # has no min/max statistics, so no filter can prune it
    assert [g.row_groups[0].id for g in fragment.split_by_row_group(r.filter)] == [0, 2]

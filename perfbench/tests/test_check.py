import datetime

import duckdb
import pyarrow as pa
import pytest

import check


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute("SET TimeZone = 'UTC'")
    yield c
    c.close()


def _summ(con, table):
    con.register("t", table)
    try:
        return check.summarize(con, "t")
    finally:
        con.unregister("t")


TABLE = pa.table({
    "id": pa.array([3, 1, 2, 2], pa.int64()),
    "score": pa.array([0.1, 1 / 3, None, 2.5], pa.float64()),
    "vec": pa.array([[1.0, 2.0], [0.5], [], None], pa.list_(pa.float32())),
    "ok": [True, False, None, True],
    "name": ["c", "a", "b", "b"],
})


def test_digest_ignores_row_and_column_order(con):
    shuffled = TABLE.take([2, 0, 3, 1]).select(["name", "vec", "ok", "score", "id"])
    assert _summ(con, TABLE) == _summ(con, shuffled)


def test_digest_sees_a_changed_dropped_or_doubled_row(con):
    base = _summ(con, TABLE)
    changed = TABLE.set_column(0, "id", pa.array([3, 1, 2, 7], pa.int64()))
    assert _summ(con, changed)[2] != base[2]
    dropped = TABLE.slice(0, 3)
    assert _summ(con, dropped)[1:] != base[1:]
    doubled = pa.concat_tables([TABLE, TABLE.slice(0, 1)])
    assert _summ(con, doubled)[2] != base[2]


def test_digest_normalizes_types_like_the_oracle_rules(con):
    spark_like = pa.table({
        "x": pa.array([1, 2], pa.int32()),
        "f": pa.array([0.25, 1 / 3], pa.float32()),
        "ts": pa.array([datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)] * 2,
                       pa.timestamp("us", tz="UTC")),
    })
    duck_like = con.execute(
        "SELECT * FROM (VALUES (2::HUGEINT, (1/3)::FLOAT::DOUBLE, TIMESTAMP '2024-01-01 12:00:00'),"
        " (1::HUGEINT, 0.25::DOUBLE, TIMESTAMP '2024-01-01 12:00:00')) v(x, f, ts)"
    ).arrow()
    assert _summ(con, spark_like) == _summ(con, duck_like)


def test_compare_reports_the_first_difference(con):
    con.register("t", TABLE)
    assert check.compare(con, "t", "SELECT * FROM t") is None
    assert "rows" in check.compare(con, "t", "SELECT * FROM t LIMIT 2")
    assert "columns" in check.compare(con, "t", "SELECT id FROM t")
    assert "digest" in check.compare(con, "t", "SELECT id + 1 AS id, score, vec, ok, name FROM t")

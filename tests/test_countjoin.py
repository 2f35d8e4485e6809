"""The counting-join kernel (operators/countjoin.py) and the SQL binding
it runs on (colops.sql_over): typed NULL pads, the NULL-safe probe join
across sessions and inside a real ``foreachBatch``, and placeholder
binding that never rewrites user condition text."""

from ivm_extension_spark.operators import countjoin
from ivm_extension_spark.operators.ineqjoin import ineq_join
from ivm_extension_spark.operators.thetajoin import theta_join
from tests.conftest import rows


def test_null_pad_types(spark):
    df = spark.createDataFrame([(1,), (2,)], "a int")
    other = spark.createDataFrame(
        [(1, 2.5, "x")], "a int, price double, tag string"
    )
    matched = spark.createDataFrame([(2,)], "a int")
    out = countjoin.null_pad(df, matched, ["a"], other, key_cols=("a",))
    assert out.columns == ["a", "price", "tag"]
    assert dict(out.dtypes)["price"] == "double"
    assert rows(out) == [(1, None, None)]


def test_probe_join_binds_frames_of_different_sessions(spark):
    other = spark.newSession()
    side = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")], "k int, v string")
    keys = other.createDataFrame([(2,), (None,)], "k int")
    # NULL-safe: the NULL key is a real group
    assert rows(countjoin.probe_join(side, keys, ["k"], "leftsemi")) == [
        (2, "b"),
        (None, "n"),
    ]
    assert rows(countjoin.probe_join(keys, side, ["k"], "inner")) == [
        (2, "b"),
        (None, "n"),
    ]


def test_probe_join_inside_foreach_batch(spark, tmp_path):
    # each micro-batch frame lives on a cloned session; the probe joins
    # it against a frame of the main session in one SQL text
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "n")], "k int, v string"
    ).write.parquet(str(src))
    keys = spark.createDataFrame([(1,), (3,), (None,)], "k int")
    got, sessions = [], []

    def drive(batch, _batch_id):
        sessions.append(batch.sparkSession)
        got.extend(countjoin.probe_join(batch, keys, ["k"], "leftsemi").collect())

    q = (
        spark.readStream.schema("k int, v string")
        .parquet(str(src))
        .writeStream.foreachBatch(drive)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sessions and all(s is not spark for s in sessions)
    assert sorted(map(tuple, got), key=str) == [(1, "a"), (3, "c"), (None, "n")]


def test_placeholder_text_inside_condition_literals_is_data(spark):
    # sql_over binds {l}/{r} slots only outside string literals: a user
    # condition comparing against the text '{l}' must stay as written
    left = spark.createDataFrame([(1, "{l}"), (2, "x")], "a int, tag string")
    right = spark.createDataFrame([(5.0, "{r}")], "b double, label string")
    assert rows(theta_join(left, right, "tag = '{l}' AND a < b")) == [
        (1, "{l}", 5.0, "{r}")
    ]
    assert rows(
        ineq_join(left, right, "a", "b", "<", 1.0, 16, extra_cond="label = \"{r}\"")
    ) == [(1, "{l}", 5.0, "{r}"), (2, "x", 5.0, "{r}")]

import numpy as np

from tantivy4java_spark.fieldnorm import (
    FIELDNORM_TABLE, fieldnorm_to_id, id_to_fieldnorm, quantized_length)


def test_table_shape_and_monotonic():
    assert FIELDNORM_TABLE.shape == (256,)
    assert (np.diff(FIELDNORM_TABLE) > 0).all()
    assert FIELDNORM_TABLE[0] == 0


def test_small_values_exact():
    # Lucene SmallFloat byte4: 0..39 round-trip exactly
    for n in range(41):
        assert id_to_fieldnorm(fieldnorm_to_id([n]))[0] == n


def test_quantization_rounds_down():
    for n in [41, 43, 100, 1000, 65535, 10**6]:
        q = int(quantized_length([n])[0])
        assert q <= n
        i = int(fieldnorm_to_id([n])[0])
        if i < 255:
            assert FIELDNORM_TABLE[i + 1] > n  # next entry exceeds n


def test_vectorized_matches_scalar():
    ns = np.array([0, 1, 39, 40, 41, 63, 64, 127, 128, 1000, 123456])
    ids = fieldnorm_to_id(ns)
    assert (id_to_fieldnorm(ids) <= ns).all()
    assert (ids >= 0).all() and (ids <= 255).all()


def test_norm_id_expr_matches_fieldnorm_to_id(spark):
    """The JVM fieldnorm expression of the docs table equals fieldnorm_to_id
    on 0..300, on every table entry and its neighbours, on 2^40, and maps a
    null length to id 0."""
    from pyspark.sql import functions as F
    from tantivy4java_spark.build import _norm_id_expr
    vals = set(range(301)) | {2 ** 40}
    for v in FIELDNORM_TABLE:
        vals |= {int(v) - 1, int(v), int(v) + 1}
    vals = sorted(v for v in vals if v >= 0)  # token counts are never < 0
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "n long")
    got = {r["n"]: r["id"] for r in
           df.select("n", _norm_id_expr(F.col("n")).alias("id")).collect()}
    want = dict(zip(vals, fieldnorm_to_id(vals).tolist()))
    want[None] = 0
    assert got == want

"""``phenoxtract_spark.session``: the package's only materialization
barrier is ``session.materialize``, and ``fan_out`` probes each relation's
partition count once."""

from pathlib import Path

from pyspark.sql import functions as F

PACKAGE = Path(__file__).resolve().parent.parent / "phenoxtract_spark"


def test_only_session_calls_local_checkpoint():
    # every barrier goes through session.materialize, so a storage policy
    # (e.g. one that survives executor loss) is chosen in one function
    offenders = [
        f"{f.relative_to(PACKAGE.parent)}:{i}"
        for f in sorted(PACKAGE.rglob("*.py"))
        if f != PACKAGE / "session.py"
        for i, line in enumerate(f.read_text().splitlines(), start=1)
        if ".localCheckpoint(" in line
    ]
    assert offenders == []


# fan_out memoizes its driver-side partition probe per (application,
# analyzed plan): one physical planning per repeated relation
def test_fan_out_probe_memoized_per_relation(spark):
    from phenoxtract_spark import session as sess

    df = spark.range(0, 100, 1, 2).select(F.col("id").alias("k"))
    sess._FAN_OUT_PROBE_CACHE.clear()
    out1 = sess.fan_out(df)
    assert len(sess._FAN_OUT_PROBE_CACHE) == 1
    # a semantically identical relation hits the cache, not df.rdd
    df2 = spark.range(0, 100, 1, 2).select(F.col("id").alias("k"))
    probed = []
    orig = type(df2).rdd

    class _Spy:
        def __get__(self, obj, objtype=None):
            probed.append(True)
            return orig.__get__(obj, objtype)

    try:
        type(df2).rdd = _Spy()
        out2 = sess.fan_out(df2)
    finally:
        type(df2).rdd = orig
    assert not probed, "cached relation re-probed df.rdd"
    # and the guard semantics are unchanged: fewer partitions than
    # parallelism → round-robin fan-out
    par = spark.sparkContext.defaultParallelism
    if par > 2:
        assert out1.rdd.getNumPartitions() == par
        assert out2.rdd.getNumPartitions() == par

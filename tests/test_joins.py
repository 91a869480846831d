"""Join toolbox: as-of join semantics, bucketed-write plumbing.  Salted
agg/join equivalence is in test_skew_ops.py."""

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.operators import joins


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [("u1", 100, "a"), ("u1", 250, "b"), ("u2", 50, "c")],
        "uid string, ts bigint, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 90, 1.0, 1), ("u1", 100, 2.0, 2), ("u1", 200, 3.0, 3), ("u2", 60, 9.0, 4)],
        "uid string, ts bigint, v double, eid int",
    )
    out = joins.as_of_join(
        left, right, ["uid"], "ts", "ts", ["v"], right_order="eid"
    )
    rows = {r["tag"]: r["asof_v"] for r in out.collect()}
    # at ts=100 the equal-timestamp right row (v=2.0) IS visible
    assert rows == {"a": 2.0, "b": 3.0, "c": None}


def test_asof_join_tiebreak_highest_order_wins(spark):
    left = spark.createDataFrame([("u1", 100)], "uid string, ts bigint")
    right = spark.createDataFrame(
        [("u1", 100, 1.0, 1), ("u1", 100, 2.0, 2)], "uid string, ts bigint, v double, eid int"
    )
    out = joins.as_of_join(left, right, ["uid"], "ts", "ts", ["v"], right_order="eid")
    assert out.collect()[0]["asof_v"] == 2.0


def test_write_bucketed_roundtrip(spark, tmp_path):
    # warehouse dir is a static conf — use the session default location
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id bigint, grp int")
    joins.write_bucketed(df, "bucketed_test", ["grp"], num_buckets=4, sort_cols=["id"])
    back = spark.table("bucketed_test")
    assert back.count() == 30
    # bucket metadata recorded in the catalog
    desc = spark.sql("DESCRIBE EXTENDED bucketed_test").collect()
    txt = "\n".join(str(r) for r in desc)
    assert "Num Buckets" in txt
    spark.sql("DROP TABLE bucketed_test")


def test_asof_join_does_not_mix_fields_across_rows(spark):
    """Regression: right values must carry as ONE row; null fields in the
    most recent right row must not be backfilled from older rows."""
    left = spark.createDataFrame([("u1", 300)], "uid string, ts bigint")
    right = spark.createDataFrame(
        [("u1", 100, 5.0, None, 1), ("u1", 200, None, 7.0, 2)],
        "uid string, ts bigint, a double, b double, eid int",
    )
    out = joins.as_of_join(
        left, right, ["uid"], "ts", "ts", ["a", "b"], right_order="eid"
    ).collect()[0]
    # most recent right row is (a=null, b=7.0) — a must NOT be 5.0
    assert out["asof_a"] is None and out["asof_b"] == 7.0


def test_asof_forward_and_nearest(spark):
    from pyspark.sql import functions as F

    from phenoxtract_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 205), (3, "k", 500), (4, "x", 50)],
        "lid bigint, key string, lts bigint",
    )
    right = spark.createDataFrame(
        [("k", 90, 1.0, 10), ("k", 200, 2.0, 20), ("k", 210, 3.0, 30),
         ("k", 400, 4.0, 40)],
        "key string, rts bigint, v double, rid bigint",
    )

    def run(direction):
        return {
            r["lid"]: (r["asof_v"], r["asof_rts"])
            for r in joins.as_of_join(
                left, right, keys=["key"], left_ts="lts", right_ts="rts",
                right_vals=["v", "rts"], right_order="rid",
                direction=direction,
            ).collect()
        }

    bwd, fwd, near = run("backward"), run("forward"), run("nearest")
    # backward: most recent at-or-before
    assert bwd[1] == (1.0, 90) and bwd[2] == (2.0, 200) and bwd[3] == (4.0, 400)
    assert bwd[4] == (None, None)
    # forward: earliest at-or-after
    assert fwd[1] == (2.0, 200) and fwd[2] == (3.0, 210)
    assert fwd[3] == (None, None) and fwd[4] == (None, None)
    # nearest: lid=2 at 205 is equidistant (200 vs 210) → tie goes backward
    assert near[2] == (2.0, 200)
    # lid=1 at 100: backward 90 (d=10) vs forward 200 (d=100) → backward
    assert near[1] == (1.0, 90)
    # lid=3 at 500: only backward exists
    assert near[3] == (4.0, 400)
    assert near[4] == (None, None)


def test_bucketed_join_plan_has_no_exchange(spark):
    """The point of write_bucketed (r5 plan-level proof): an equi-join of
    two tables bucketed identically on the join key plans WITHOUT any
    Exchange — the co-location bought at write time replaces the shuffle
    — while the same join on plain tables shuffles both sides."""
    import contextlib
    import io

    a = spark.createDataFrame([(i, i * 2) for i in range(100)], "k bigint, va bigint")
    b = spark.createDataFrame([(i, i * 3) for i in range(100)], "k bigint, vb bigint")
    joins.write_bucketed(a, "bkt_a", ["k"], num_buckets=4, sort_cols=["k"])
    joins.write_bucketed(b, "bkt_b", ["k"], num_buckets=4, sort_cols=["k"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert j.count() == 100
        # negative control: the plain-table join shuffles
        pj = a.join(b, "k")
        buf2 = io.StringIO()
        with contextlib.redirect_stdout(buf2):
            pj.explain("formatted")
        assert "Exchange" in buf2.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_cdc_apply_all_arms(spark):
    """Every MERGE arm: untouched base row survives; U updates; I on a
    new key inserts; D deletes; last-writer-wins by seq; a same-seq
    insert+delete tie converges to the delete."""
    from phenoxtract_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0),
         (4, "dave", 40.0)],
        "k bigint, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            ("U", 1, 2, "bob-v1", 21.0),   # older update...
            ("U", 5, 2, "bob-v2", 22.0),   # ...last writer wins
            ("D", 3, 3, None, None),       # delete carol
            ("I", 7, 9, "erin", 90.0),     # insert new key
            ("I", 4, 8, "frank", 80.0),    # same-seq I+D tie -> delete
            ("D", 4, 8, None, None),
        ],
        "op string, seq bigint, k bigint, name string, bal double",
    )
    out = {r["k"]: r for r in
           cdc.cdc_apply(base, changes, ["k"], ["name", "bal"]).collect()}
    assert out[1]["name"] == "alice" and out[1]["bal"] == 10.0   # untouched
    assert out[2]["name"] == "bob-v2" and out[2]["bal"] == 22.0  # LWW
    assert 3 not in out                                          # deleted
    assert out[9]["name"] == "erin" and out[9]["bal"] == 90.0    # inserted
    assert 8 not in out                                          # tie -> D
    assert out[4]["name"] == "dave"
    assert len(out) == 4


def test_merge_upsert_matches_and_inserts(spark):
    from phenoxtract_spark.operators import cdc

    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, name string, bal double"
    )
    source = spark.createDataFrame(
        [(2, "b2", 22.0), (3, "c", 3.0)], "k bigint, name string, bal double"
    )
    out = {r["k"]: r for r in
           cdc.merge_upsert(target, source, ["k"], ["name", "bal"]).collect()}
    assert out[1]["name"] == "a"
    assert out[2]["name"] == "b2" and out[2]["bal"] == 22.0
    assert out[3]["name"] == "c"


def test_incremental_agg_maintain_equals_full_recompute(spark):
    """The defining IVM property: the maintained (count, sum) per group
    EQUALS re-aggregating cdc_apply(base, changes) — including an update
    that MOVES a row across groups (retract in the old group, assert in
    the new) and a delete that empties a group (row dropped)."""
    from decimal import Decimal
    from phenoxtract_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "g1", Decimal("10.00")), (2, "g1", Decimal("20.00")),
         (3, "g2", Decimal("30.00")), (4, "g3", Decimal("40.00"))],
        "k bigint, g string, m decimal(18,2)",
    )
    changes = spark.createDataFrame(
        [
            ("U", 1, 2, "g2", Decimal("21.00")),  # moves g1 -> g2
            ("D", 2, 4, None, None),              # empties g3
            ("I", 3, 9, "g4", Decimal("90.00")),  # new key, new group
            ("U", 4, 1, "g1", Decimal("11.00")),  # in-place update
        ],
        "op string, seq bigint, k bigint, g string, m decimal(18,2)",
    )
    maintained = {
        r["g"]: (r["n_rows"], r["m_sum"])
        for r in cdc.incremental_agg_maintain(
            base, changes, ["k"], "g", "m"
        ).withColumnRenamed("measure_sum", "m_sum").collect()
    }
    applied = cdc.cdc_apply(base, changes, ["k"], ["g", "m"])
    from pyspark.sql import functions as F
    full = {
        r["g"]: (r["n_rows"], r["m_sum"])
        for r in applied.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
             F.sum("m").alias("m_sum"))
        .collect()
    }
    assert maintained == full
    assert maintained["g2"] == (2, Decimal("51.00"))  # moved-in row counted
    assert "g3" not in maintained                      # emptied group dropped


def test_time_travel_boundaries_and_resurrection(spark):
    """as_of before the log -> the base snapshot; as_of at/after max(seq)
    -> cdc_apply of the full log; a mid-stream as_of makes a LATER delete
    invisible (the row is 'resurrected' relative to the current state)."""
    from phenoxtract_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, name string, bal double"
    )
    changes = spark.createDataFrame(
        [("U", 10, 1, "a2", 11.0),   # visible at as_of=15
         ("D", 20, 2, None, None),   # invisible at as_of=15
         ("I", 30, 3, "c", 3.0)],    # invisible at as_of=15
        "op string, seq bigint, k bigint, name string, bal double",
    )
    snap = lambda s: {r["k"]: (r["name"], r["bal"]) for r in
                      cdc.time_travel(base, changes, ["k"],
                                      ["name", "bal"], s).collect()}
    assert snap(0) == {1: ("a", 1.0), 2: ("b", 2.0)}        # pre-log = base
    assert snap(15) == {1: ("a2", 11.0), 2: ("b", 2.0)}     # D/I not yet visible
    full = {r["k"]: (r["name"], r["bal"]) for r in
            cdc.cdc_apply(base, changes, ["k"], ["name", "bal"]).collect()}
    assert snap(30) == full == {1: ("a2", 11.0), 3: ("c", 3.0)}
    # one-row DataFrame watermark form agrees with the scalar form
    wm = spark.createDataFrame([(15,)], "as_of bigint")
    assert {r["k"]: (r["name"], r["bal"]) for r in
            cdc.time_travel(base, changes, ["k"], ["name", "bal"],
                            wm).collect()} == snap(15)


def test_merge_conflicts_semantics(spark):
    """Only disagreeing double-writes conflict: agreeing double-writes
    and single-writer keys are silent; op disagreement (U vs D) counts;
    LWW winner by higher seq, tie -> stream A."""
    from phenoxtract_spark.operators import cdc

    a = spark.createDataFrame(
        [("U", 5, 1, 10.0),   # k=1: both write, same payload -> silent
         ("U", 5, 2, 20.0),   # k=2: payloads differ, b has higher seq
         ("U", 9, 3, 30.0),   # k=3: a wins on seq
         ("D", 5, 4, None),   # k=4: op conflict (D vs U), tie -> a
         ("U", 5, 9, 90.0)],  # k=9: only a writes -> silent
        "op string, seq bigint, k bigint, bal double",
    )
    b = spark.createDataFrame(
        [("U", 5, 1, 10.0),
         ("U", 7, 2, 21.0),
         ("U", 5, 3, 31.0),
         ("U", 5, 4, 40.0),
         ("U", 5, 8, 80.0)],  # k=8: only b writes -> silent
        "op string, seq bigint, k bigint, bal double",
    )
    out = {r["k"]: r for r in
           cdc.merge_conflicts(a, b, ["k"], ["bal"]).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["winner"] == "b" and out[2]["b_bal"] == 21.0
    assert out[3]["winner"] == "a" and out[3]["a_bal"] == 30.0
    assert out[4]["winner"] == "a" and out[4]["a_op"] == "D"


def test_join_fanout_profile_exact(spark):
    """Profile equals the real join's arithmetic: 2x3 fanout on a shared
    key, an unmatched key each side, exact join_rows."""
    from phenoxtract_spark.operators import joins

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (9,)], "k bigint"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (8,)], "k bigint"
    )
    r = joins.join_fanout_profile(left, right, ["k"]).collect()[0]
    assert r["n_keys_both"] == 2
    assert r["n_keys_left_only"] == 1 and r["n_keys_right_only"] == 1
    assert r["join_rows"] == 2 * 3 + 1 * 1       # == real inner join size
    assert r["join_rows"] == left.join(right, "k").count()
    assert r["max_fanout_left"] == 2 and r["max_fanout_right"] == 3


def test_log_expiry_preserves_all_reachable_reconstructions(spark):
    """The expiry CONTRACT: replaying only the retained entries must
    reproduce time_travel at EVERY as_of >= the retention watermark —
    including boundary deletes (dropping one would resurrect the key
    from the base snapshot).  Also pins the status taxonomy."""
    from phenoxtract_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (3, "c0")], "k bigint, v string"
    )
    log_rows = [
        # k=1: two updates below wm (only the later is boundary), one after
        (1, 10, "U", "a1"), (1, 20, "U", "a2"), (1, 60, "U", "a3"),
        # k=2: boundary DELETE at the watermark edge — must be retained
        (2, 15, "U", "b1"), (2, 50, "D", None),
        # k=3: only above-watermark traffic
        (3, 70, "U", "c1"),
        # k=4: insert below, shadowed insert far below
        (4, 5, "I", "d0"), (4, 30, "U", "d1"),
    ]
    log = spark.createDataFrame(log_rows, "k bigint, seq bigint, op string, v string")
    wm = 50
    plan = cdc.log_expiry(log, ["k"], wm)
    status = {(r.k, r.seq): r.status for r in plan.collect()}
    assert status[(1, 10)] == "expire" and status[(1, 20)] == "retain_boundary"
    assert status[(1, 60)] == "retain_window"
    assert status[(2, 50)] == "retain_boundary"  # the boundary delete
    assert status[(2, 15)] == "expire"
    assert status[(3, 70)] == "retain_window"
    assert status[(4, 5)] == "expire" and status[(4, 30)] == "retain_boundary"
    # the contract: retained-only replay == full replay at every
    # reachable as_of (and, as a control, it DIVERGES somewhere below)
    retained = plan.filter(F.col("status") != "expire").select(
        "k", "seq", "op", "v"
    )
    def snap(chg, as_of):
        rows = cdc.time_travel(base, chg, ["k"], ["v"], as_of).collect()
        return {(r.k, r.v) for r in rows}
    for as_of in [50, 55, 60, 65, 70, 999]:
        assert snap(log, as_of) == snap(retained, as_of), as_of
    assert any(snap(log, a) != snap(retained, a) for a in [5, 10, 15, 30])


def test_write_partitioned_prunes_partitions_at_scan(spark, tmp_path):
    """The disk-layout half of scan pruning (complement of the zone-map
    and bucketing tests): a table written partitionBy(event_type) and
    read with an event_type predicate must show the predicate under
    PartitionFilters (not PushedFilters) and touch ONLY the matching
    partition directories."""
    from phenoxtract_spark.sources import sinks

    df = spark.createDataFrame(
        [(i, ["click", "view", "purchase"][i % 3], float(i)) for i in range(300)],
        "event_id bigint, event_type string, value double",
    )
    out = str(tmp_path / "part_events")
    sinks.write_parquet_partitioned(df, out, ["event_type"])

    back = spark.read.parquet(out)
    filtered = back.filter(F.col("event_type") == "click")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the predicate lands in PartitionFilters (directory pruning), not in
    # the parquet-level PushedFilters
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "event_type" in pf.group(1)
    # behavioral proof: plant a corrupt file in a NON-matching partition —
    # the pruned scan never touches it, an unpruned scan dies on it
    import os
    view_dir = os.path.join(out, "event_type=view")
    with open(os.path.join(view_dir, "part-corrupt.c000.snappy.parquet"), "wb") as fh:
        fh.write(b"not a parquet file at all")
    assert filtered.count() == 100
    assert {r.event_type for r in filtered.collect()} == {"click"}
    with pytest.raises(Exception):
        spark.read.parquet(out).filter(
            F.col("event_type") == "view"
        ).count()

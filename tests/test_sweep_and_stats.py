"""Brute-force cross-checks for the round-9 batch: the distributed
prefix-scan operator, PPS systematic sampling, the exact chi-squared
independence test, and the Mann-Whitney rank-sum — each against an
independent pure-Python replay, plus the wide-integer floor-division
boundary probe the chi2 docstring promises."""

from __future__ import annotations

import hashlib
from fractions import Fraction

import pytest

from pyspark.sql import functions as F


def _write(df, tmp_path, name):
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / f"{name}.parquet")
    )


# ---------------------------------------------------------------------------
# operators/sweep.py
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mode", ["none", "offsets"])
def test_bucketed_prefix_sum_matches_global_cumsum(spark, mode):
    from phenoxtract_spark.operators import sweep

    rows = [(i, i % 7, (i * 37) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, bk bigint, w bigint")
    out = sweep.bucketed_prefix_sum(
        df, "bk", ["id"], {"w": "w"}, materialize=mode, totals=["w"]
    )
    got = {r.id: (r.cum_w, r.total_w) for r in out.collect()}

    cum, expect = 0, {}
    for i, bk, w in sorted(rows, key=lambda r: (r[1], r[0])):
        cum += w
        expect[i] = cum
    total = sum(w for _, _, w in rows)
    assert len(got) == len(rows)
    for i, (c, t) in got.items():
        assert c == expect[i], f"id {i}"
        assert t == total


def test_bucketed_prefix_sum_rejects_unknown_mode(spark):
    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame([(1, 1, 1)], "id bigint, bk bigint, w bigint")
    with pytest.raises(ValueError):
        sweep.bucketed_prefix_sum(df, "bk", ["id"], {"w": "w"},
                                  materialize="cache")


# ---------------------------------------------------------------------------
# curation_pps_sample
# ---------------------------------------------------------------------------


def test_pps_sample_brute_force(spark, tmp_path):
    """k tickets land exactly; a doc heavier than one stride wins
    multiple tickets; zero-weight docs are never drawn."""
    import __spark_entry__ as ent

    docs = []
    for i in range(40):
        w = 50 if i else 5000  # doc 0 owns ~72% of the mass
        docs.append((i, "x" * 3, "en", "s", w))
    docs.append((99, "", "en", "s", 0))  # zero weight: never sampled
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    _write(df, tmp_path, "documents")
    out = {r.doc_id: r for r in
           ent.queries()["curation_pps_sample"](spark, str(tmp_path)).collect()}

    # pure-python replay
    line = []
    for i, *_rest, w in docs:
        if w <= 0:
            continue
        h = hashlib.md5(f"pps-v1::{i}".encode()).hexdigest()
        line.append((int(h[:2], 16), h, i, w))
    line.sort()
    total = sum(w for *_, w in line)
    k, cum, expect = 100, 0, {}
    for _, _, i, w in line:
        prev = cum
        cum += w
        hits = (cum * k) // total - (prev * k) // total
        if hits > 0:
            expect[i] = (w, hits, (prev * k) // total + 1)

    assert {i: (r.weight, r.n_hits, r.first_ticket)
            for i, r in out.items()} == expect
    assert sum(r.n_hits for r in out.values()) == k
    assert out[0].n_hits >= 2  # heavier than one stride
    assert 99 not in out


# ---------------------------------------------------------------------------
# analytics_chi2_independence
# ---------------------------------------------------------------------------


def test_chi2_brute_force_planted_association(spark, tmp_path):
    """A planted priority<->status association is recovered with exact
    integer expected counts and contributions (Fraction replay)."""
    import datetime

    import __spark_entry__ as ent

    rows = []
    oid = 0
    base = datetime.datetime(2024, 1, 1)
    # URGENT orders mostly 'F', LOW orders mostly 'O' -> dependence
    for prio, status, n in [
        ("1-URGENT", "F", 60), ("1-URGENT", "O", 10),
        ("5-LOW", "F", 15), ("5-LOW", "O", 45),
    ]:
        for _ in range(n):
            rows.append((oid, oid % 7, status, 100.0 + oid, base, prio))
            oid += 1
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = {(r.priority, r.status): r for r in
           ent.queries()["analytics_chi2_independence"](
               spark, str(tmp_path)).collect()}

    obs = {("1-URGENT", "F"): 60, ("1-URGENT", "O"): 10,
           ("5-LOW", "F"): 15, ("5-LOW", "O"): 45}
    rt = {"1-URGENT": 70, "5-LOW": 60}
    ct = {"F": 75, "O": 55}
    t = 130
    for (p, s), o in obs.items():
        e4 = (rt[p] * ct[s] * 10000) // t
        contrib = ((o * 10000 - e4) ** 2) // e4
        row = out[(p, s)]
        assert row.observed == o
        assert row.expected_4dp == e4
        assert row.contrib_bp == contrib
        # the 4-dp floor is within 1 ulp of the exact rational
        exact = Fraction(rt[p] * ct[s], t)
        assert Fraction(e4, 10000) <= exact < Fraction(e4 + 1, 10000)
    # dependence this strong must light up: chi2 >= 3.84 (df=1, 5%)
    assert sum(r.contrib_bp for r in out.values()) >= 38400


def test_decimal_div_floor_boundary(spark):
    """The chi2 arithmetic rests on Spark DECIMAL DIV == exact integer
    floor for in-range quotients; probe the .999999 boundary where a
    scale-6 rounding division would round UP (and duckdb's HUGEINT //
    agrees — the oracle side of the same contract)."""
    import duckdb

    r = spark.sql(
        "SELECT (CAST(6999999999999999 AS DECIMAL(38,0)) * 1000000 + 999999)"
        " DIV CAST(1000000 AS DECIMAL(19,0)) AS f1"
    ).collect()[0]
    assert r.f1 == 6999999999999999
    assert duckdb.sql(
        "SELECT (CAST(6999999999999999 AS HUGEINT) * 1000000 + 999999)"
        " // 1000000 AS f1"
    ).fetchone()[0] == 6999999999999999


# ---------------------------------------------------------------------------
# analytics_rank_sum_test
# ---------------------------------------------------------------------------


def test_rank_sum_brute_force_with_ties(spark, tmp_path):
    """u1_x2 equals 2*U1 computed by the direct pairwise definition
    (#{x>y} + ties/2) on a planted two-group sample with heavy ties."""
    import datetime

    import __spark_entry__ as ent

    g1 = [10, 10, 20, 30, 30, 30, 50]   # urgent orders (cents = v)
    g0 = [10, 20, 20, 25, 30, 40]
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i, v in enumerate(g1):
        rows.append((i, i, "O", v / 100.0, base, "1-URGENT"))
    for i, v in enumerate(g0):
        rows.append((100 + i, i, "O", v / 100.0, base, "5-LOW"))
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    row = ent.queries()["analytics_rank_sum_test"](
        spark, str(tmp_path)).collect()[0]

    u2 = sum(
        2 if x > y else (1 if x == y else 0) for x in g1 for y in g0
    )
    assert row.n1 == len(g1)
    assert row.n2 == len(g0)
    assert row.u1_x2 == u2
    assert row.e_u1_x2 == len(g1) * len(g0)
    from collections import Counter

    tie = sum(n ** 3 - n for n in Counter(g1 + g0).values())
    assert row.tie_term == tie


# ---------------------------------------------------------------------------
# profiling_quantiles_distributed
# ---------------------------------------------------------------------------


def test_distributed_quantiles_brute_force(spark, tmp_path):
    """Type-1 quantiles from the bucketed CDF equal direct selection on
    the sorted list, including heavy ties and a 1-row edge."""
    import datetime

    import __spark_entry__ as ent

    vals = [100, 100, 100, 200, 300, 300, 400, 500, 500, 500, 500, 900]
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i, v in enumerate(vals):
        rows.append((i, i, i % 3, v / 100.0, 0.1, 0.0, "N", "O", base))
    df = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_linenumber int,"
        " l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp"
    )
    _write(df, tmp_path, "lineitem")
    out = {r.q_bp: r for r in
           ent.queries()["profiling_quantiles_distributed"](
               spark, str(tmp_path)).collect()}

    s = sorted(vals)
    t = len(s)
    for q in (2500, 5000, 7500, 9000, 9900):
        rank = ((t - 1) * q) // 10000 + 1
        assert out[q].target_rank == rank
        assert out[q].value_cents == s[rank - 1], f"q={q}"


# ---------------------------------------------------------------------------
# profiling_gini_concentration
# ---------------------------------------------------------------------------


def test_gini_brute_force_planted_concentration(spark, tmp_path):
    """Lorenz deciles and the Gini coefficient match a pure-Python
    replay on a planted 80/20-style distribution (16 small customers,
    4 whales holding 96% of the mass)."""
    import datetime

    import __spark_entry__ as ent

    base = datetime.datetime(2024, 1, 1)
    # 20 customers: 16 small (one 10.00 order), 4 whales (one 960.00)
    rows = []
    for i in range(20):
        price = 960.0 if i >= 16 else 10.0
        rows.append((i, i, "O", price, base, "3-MEDIUM"))
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = {r.decile: r for r in
           ent.queries()["profiling_gini_concentration"](
               spark, str(tmp_path)).collect()}

    xs = sorted([1000] * 16 + [96000] * 4)
    n, sx = len(xs), sum(xs)
    srx = sum((i + 1) * x for i, x in enumerate(xs))
    gini_bp = (2 * srx * 10000 - (n + 1) * sx * 10000) // (n * sx)
    cum = 0
    lorenz = {}
    for i, x in enumerate(xs, start=1):
        cum += x
        lorenz[i] = cum
    assert set(out) == set(range(1, 11))
    for d in range(1, 11):
        r = out[d]
        rank = (n * d) // 10
        assert r.cum_units == rank
        assert r.cum_share_bp == lorenz[rank] * 10000 // sx
        assert r.gini_bp == gini_bp
    # bottom 80% of units hold 16k/400k = 4% of the mass
    assert out[8].cum_share_bp == 400
    assert gini_bp > 7000  # heavy concentration


def test_gini_equal_distribution_is_discrete_floor(spark, tmp_path):
    """All-equal values: discrete population Gini is exactly
    (2*sum(i*x) - (n+1)*n*x)/(n*n*x) = 0 -- floors to 0_bp."""
    import datetime

    import __spark_entry__ as ent

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, i, "O", 50.0, base, "3-MEDIUM") for i in range(10)]
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = ent.queries()["profiling_gini_concentration"](
        spark, str(tmp_path)).collect()
    assert all(r.gini_bp == 0 for r in out)
    assert {r.decile: r.cum_share_bp for r in out}[5] == 5000


# ---------------------------------------------------------------------------
# analytics_kruskal_wallis
# ---------------------------------------------------------------------------


def test_kruskal_wallis_brute_force(spark, tmp_path):
    """Per-group doubled rank sums match a midrank replay; deviations
    sum to zero; collapsing to two groups reproduces the rank-sum U."""
    import datetime
    from collections import Counter

    import __spark_entry__ as ent

    groups = {
        "1-URGENT": [10, 20, 20, 50],
        "3-MEDIUM": [20, 30, 30],
        "5-LOW": [10, 40, 40, 40, 90],
    }
    rows, oid = [], 0
    base = datetime.datetime(2024, 1, 1)
    for g, vs in groups.items():
        for v in vs:
            rows.append((oid, oid, "O", v / 100.0, base, g))
            oid += 1
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = {r.grp: r for r in
           ent.queries()["analytics_kruskal_wallis"](
               spark, str(tmp_path)).collect()}

    allv = sorted(v for vs in groups.values() for v in vs)
    t = len(allv)
    counts = Counter(allv)
    # doubled midrank of value v: 2*cum - n + 1
    r2 = {}
    cum = 0
    for v in sorted(counts):
        cum += counts[v]
        r2[v] = 2 * cum - counts[v] + 1
    for g, vs in groups.items():
        expect_r2 = sum(r2[v] for v in vs)
        assert out[g].n_g == len(vs)
        assert out[g].r2_sum == expect_r2
        assert out[g].e_r2 == len(vs) * (t + 1)
        assert out[g].dev_x2 == expect_r2 - len(vs) * (t + 1)
    assert sum(r.dev_x2 for r in out.values()) == 0

    # the docstring's offline reduction H = 3/(t*(t+1)) * sum(dev_x2^2/n_g)
    # must equal the textbook H = 12/(t*(t+1)) * sum(R_g^2/n_g) - 3*(t+1)
    # recomputed from midranks (a consumer following the docstring must
    # get the right statistic — the r9 advice caught a t^2 typo here)
    h_doc = 3.0 / (t * (t + 1)) * sum(
        out[g].dev_x2 ** 2 / len(vs) for g, vs in groups.items()
    )
    h_brute = 12.0 / (t * (t + 1)) * sum(
        (sum(r2[v] for v in vs) / 2.0) ** 2 / len(vs)
        for vs in groups.values()
    ) - 3.0 * (t + 1)
    assert abs(h_doc - h_brute) < 1e-9 and h_doc > 0


def test_bucketed_prefix_sum_null_bucket_raises(spark):
    """A NULL bucket would silently drop out of the offsets join while
    its weight still lands in the totals — the operator must raise, not
    lose rows."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [(1, 0, 5), (2, None, 7)], "id bigint, bk bigint, w bigint"
    )
    out = sweep.bucketed_prefix_sum(df, "bk", ["id"], {"w": "w"})
    with pytest.raises(SparkRuntimeException, match="NULL bk"):
        out.collect()


def test_bucketed_prefix_sum_rejects_generated_name_collisions(spark):
    """An input that already carries a generated name (cum_w, total_w,
    _v_w, ...) must be rejected up front, not silently overwritten by
    withColumn/crossJoin."""
    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [(1, 0, 5, 9)], "id bigint, bk bigint, w bigint, cum_w bigint"
    )
    with pytest.raises(ValueError, match="cum_w"):
        sweep.bucketed_prefix_sum(df, "bk", ["id"], {"w": "w"})
    df2 = spark.createDataFrame(
        [(1, 0, 5, 9)], "id bigint, bk bigint, w bigint, total_w bigint"
    )
    with pytest.raises(ValueError, match="total_w"):
        sweep.bucketed_prefix_sum(df2, "bk", ["id"], {"w": "w"}, totals=["w"])
    # no totals requested: a pre-existing total_w is NOT generated → fine
    assert sweep.bucketed_prefix_sum(
        df2, "bk", ["id"], {"w": "w"}
    ).columns


def test_value_range_buckets_survive_full_bigint_range(spark):
    """(v - lo) * 2^bits in raw BIGINT wraps for ranges beyond
    ~2^63/2^bits; the DECIMAL(38,0) routing must keep buckets exact and
    monotone across the full BIGINT domain."""
    from phenoxtract_spark.operators import sweep

    lo, hi = -(1 << 62), (1 << 62)  # range 2^63: raw bigint multiply wraps
    df = spark.createDataFrame(
        [(lo,), (-1,), (0,), (hi,)], "v bigint"
    )
    rows = {r.v: r.bk for r in sweep.value_range_buckets(df, "v").collect()}
    assert rows[lo] == 0
    assert rows[hi] == 255
    assert 0 <= rows[-1] <= rows[0] <= 255
    # monotone in v
    ordered = [rows[v] for v in sorted(rows)]
    assert ordered == sorted(ordered)


def test_rfm_scalable_matches_global_ntile_with_ties(spark, tmp_path):
    """The sweep-based quartiles must be BIT-identical to the three
    global ntile windows, including (a) heavy ties broken by custkey and
    (b) n % 4 != 0 bucket-size boundaries (n=10 -> sizes 3,3,2,2)."""
    import datetime

    import __spark_entry__ as ent

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for cust in range(10):
        # deliberate ties: two date groups, three frequency groups,
        # duplicated totals
        n_orders = 1 + (cust % 3)
        for j in range(n_orders):
            rows.append((
                cust * 100 + j, cust, "O",
                [10.0, 20.0, 20.0, 50.0, 90.0][cust % 5],
                base + datetime.timedelta(days=cust % 2),
                "3-MEDIUM",
            ))
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    qs = ent.queries()
    a = {r.custkey: (r.r_score, r.f_score, r.m_score)
         for r in qs["analytics_rfm_scalable"](spark, str(tmp_path)).collect()}
    b = {r.custkey: (r.r_score, r.f_score, r.m_score)
         for r in qs["analytics_rfm_segments"](spark, str(tmp_path)).collect()}
    assert a == b
    # n=10: each score's quartile sizes must be 3,3,2,2
    from collections import Counter
    for i in range(3):
        sizes = Counter(v[i] for v in a.values())
        assert [sizes[s] for s in (1, 2, 3, 4)] == [3, 3, 2, 2]


def test_mad_outliers_brute_force(spark, tmp_path):
    """Median/MAD/outlier-count against a pure-Python replay on a
    fixture with a planted corrupt whale: the whale must be flagged
    without dragging the median or MAD (the bounded-influence property
    that is this screen's reason to exist)."""
    import datetime

    import __spark_entry__ as ent

    # 11 sane prices (cents 100..300, heavy ties) + one corrupt 1e9
    vals = [100, 100, 150, 150, 150, 200, 200, 250, 250, 300, 300,
            1_000_000_000]
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i, v in enumerate(vals):
        rows.append((i, i, i % 3, v / 100.0, 0.1, 0.0, "N", "O", base))
    df = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_linenumber int,"
        " l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp"
    )
    _write(df, tmp_path, "lineitem")
    row = ent.queries()["profiling_mad_outliers"](
        spark, str(tmp_path)).collect()[0]

    s = sorted(vals)
    t = len(s)
    med = s[(t - 1) // 2]          # type-1 lower median
    devs = sorted(abs(v - med) for v in vals)
    mad = devs[(t - 1) // 2]
    n_out = sum(1 for v in vals if abs(v - med) > 3 * mad)
    assert row.med_cents == med == 200
    assert row.mad_cents == mad == 50
    assert row.n_total == t
    assert row.n_outliers == n_out == 1      # only the whale
    assert row.outlier_share_bp == (n_out * 10000) // t


def test_histogram_equidepth_brute_force(spark, tmp_path):
    """Bin assignment (cum-1)*8 DIV t replayed in pure Python on a
    tie-heavy fixture: a frequent value owns its bin wholly (jagged
    counts are the honest per-value semantics), masses sum to t, and
    bins partition the value range in order."""
    import datetime
    from collections import Counter

    import __spark_entry__ as ent

    # 16 rows, value 200 repeated 7x straddling a boundary
    vals = [100, 150, 200, 200, 200, 200, 200, 200, 200,
            300, 350, 400, 450, 500, 550, 600]
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i, v in enumerate(vals):
        rows.append((i, i % 5, "O", v / 100.0, base, "3-MEDIUM"))
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = {r.bin: r for r in
           ent.queries()["profiling_histogram_equidepth"](
               spark, str(tmp_path)).collect()}

    t = len(vals)
    counts = Counter(vals)
    cum, expect = 0, {}
    for v in sorted(counts):
        cum += counts[v]
        b = (cum - 1) * 8 // t
        lo, hi, n = expect.get(b, (v, v, 0))
        expect[b] = (min(lo, v), max(hi, v), n + counts[v])
    assert {b: (r.lo_cents, r.hi_cents, r.n_rows)
            for b, r in out.items()} == expect
    assert sum(r.n_rows for r in out.values()) == t
    # ranges are ordered and non-overlapping
    bins = [out[b] for b in sorted(out)]
    for a, b in zip(bins, bins[1:]):
        assert a.hi_cents < b.lo_cents


def test_value_range_buckets_rejects_generated_name_collisions(spark):
    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame([(1, 2)], "v bigint, bk bigint")
    with pytest.raises(ValueError, match="bk"):
        sweep.value_range_buckets(df, "v")


def test_bucketed_prefix_sum_partitioned_restarts_per_group(spark):
    """partition_cols makes the scan per-group: every cum_ restarts at
    zero inside each group and total_ is the group's own grand total —
    replayed against a pure-Python per-group cumsum."""
    from phenoxtract_spark.operators import sweep

    rows = [
        ("a", 0, 1, 5), ("a", 0, 2, 7), ("a", 1, 3, 11),
        ("b", 0, 1, 2), ("b", 1, 2, 3), ("b", 1, 3, 4),
    ]
    df = spark.createDataFrame(rows, "g string, bk bigint, id bigint, w bigint")
    out = sweep.bucketed_prefix_sum(
        df, "bk", ["id"], {"w": "w"}, totals=["w"], partition_cols=["g"]
    ).collect()

    expect_cum, expect_tot, running = {}, {}, {}
    for g, bk, i, w in sorted(rows):
        running[g] = running.get(g, 0) + w
        expect_cum[(g, i)] = running[g]
        expect_tot[g] = running[g]
    assert {(r.g, r.id): r.cum_w for r in out} == expect_cum
    assert {r.g: r.total_w for r in out} == expect_tot


def test_bucketed_prefix_sum_null_partition_col_raises(spark):
    """A NULL group key would drop out of the offsets equi-join exactly
    like a NULL bucket — same guard, same failure mode: raise, never
    lose rows."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [("a", 0, 1, 5), (None, 0, 2, 7)],
        "g string, bk bigint, id bigint, w bigint",
    )
    out = sweep.bucketed_prefix_sum(
        df, "bk", ["id"], {"w": "w"}, partition_cols=["g"]
    )
    with pytest.raises(SparkRuntimeException, match="NULL bk/g"):
        out.collect()


def test_bucketed_prefix_sum_totals_only_null_bucket_raises(spark):
    """The r11 ADVICE latent gap: a consumer that selects ONLY
    total_<n> (never evaluating a cum_ column) must still raise on a
    NULL-bucket row — otherwise its weight folds into the grand total
    silently.  Unpartitioned path: the guard rides on the row's own
    _off_<n> (the crossJoin itself always matches)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [(1, 0, 5), (2, None, 7)], "id bigint, bk bigint, w bigint"
    )
    out = sweep.bucketed_prefix_sum(df, "bk", ["id"], {"w": "w"}, totals=["w"])
    with pytest.raises(SparkRuntimeException, match="NULL bk"):
        out.select("id", "total_w").collect()


def test_bucketed_prefix_sum_totals_only_null_bucket_raises_partitioned(spark):
    """Partitioned twin of the totals-only guard: a NULL bucket under
    NON-NULL group keys passes the _gtm group-marker check (gt joins on
    the group key alone), so the guard must also key on _off_<n>."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [("a", 0, 1, 5), ("a", None, 2, 7)],
        "g string, bk bigint, id bigint, w bigint",
    )
    out = sweep.bucketed_prefix_sum(
        df, "bk", ["id"], {"w": "w"}, totals=["w"], partition_cols=["g"]
    )
    with pytest.raises(SparkRuntimeException, match="NULL bk/g"):
        out.select("id", "total_w").collect()


def test_bucketed_prefix_sum_null_weight_never_leaks_into_real_buckets(spark):
    """The r12 review's live repro: the dim side must be built from
    NON-NULL keys only — with a NULL group in the dim, its weight sorts
    NULLS FIRST in the across-bucket window and inflates every real
    bucket's offset and the grand total, so a consumer that explicitly
    filters the NULL rows out silently reads poisoned sums.  After the
    fix, the filtered consumer reads exact sums over the kept rows and
    the unfiltered NULL row still raises."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [(1, 0, 5), (2, None, 7), (3, 1, 11)],
        "id bigint, bk bigint, w bigint",
    )
    out = sweep.bucketed_prefix_sum(df, "bk", ["id"], {"w": "w"}, totals=["w"])
    kept = (out.filter(F.col("bk").isNotNull()).orderBy("id")
            .select("id", "cum_w", "total_w").collect())
    assert [(r.id, r.cum_w, r.total_w) for r in kept] == [
        (1, 5, 16), (3, 16, 16)
    ]
    with pytest.raises(SparkRuntimeException, match="NULL bk"):
        out.select("id", "cum_w").collect()
    # partitioned twin: NULL bucket under a non-null group key
    df2 = spark.createDataFrame(
        [("a", 0, 1, 5), ("a", None, 2, 7), ("a", 1, 3, 11)],
        "g string, bk bigint, id bigint, w bigint",
    )
    out2 = sweep.bucketed_prefix_sum(
        df2, "bk", ["id"], {"w": "w"}, totals=["w"], partition_cols=["g"]
    )
    kept2 = (out2.filter(F.col("bk").isNotNull()).orderBy("id")
             .select("id", "cum_w", "total_w").collect())
    assert [(r.id, r.cum_w, r.total_w) for r in kept2] == [
        (1, 5, 16), (3, 16, 16)
    ]


def test_value_range_buckets_partitioned_grids_per_group(spark):
    """With partition_cols each group grids against ITS OWN min/max:
    both groups span bucket 0..255 even though their absolute ranges
    differ by 10^6, and buckets stay monotone within each group."""
    from phenoxtract_spark.operators import sweep

    rows = [("a", 0), ("a", 50), ("a", 100),
            ("b", 1_000_000), ("b", 1_000_001), ("b", 100_000_000)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {(r.g, r.v): r.bk for r in
           sweep.value_range_buckets(df, "v", partition_cols=["g"]).collect()}
    # exact replay of bk = (v - lo_g) * 256 DIV (hi_g - lo_g + 1) with
    # each group's OWN range — under a global grid, every "a" value
    # would land in bucket 0
    bounds = {"a": (0, 100), "b": (1_000_000, 100_000_000)}
    for (g, v), bk in got.items():
        lo, hi = bounds[g]
        assert bk == (v - lo) * 256 // (hi - lo + 1), (g, v)
    assert got[("a", 100)] > 250  # gridded against a's range, not b's
    for g in ("a", "b"):
        ordered = [got[k] for k in sorted(k for k in got if k[0] == g)]
        assert ordered == sorted(ordered)


def test_value_range_buckets_rejects_fractional_value_col(spark):
    """The DECIMAL(38,0) bucketing arithmetic silently ROUNDS fractional
    values — coarse skewed buckets with no warning — so a non-integral
    value_col must be rejected up front (scale to cents first)."""
    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame([(1.5,), (2.5,)], "v double")
    with pytest.raises(ValueError, match="integer units"):
        sweep.value_range_buckets(df, "v")
    # scale-0 DECIMAL is exact — allowed
    dec = spark.createDataFrame([(1.0,), (2.0,)], "v double").select(
        F.col("v").cast("decimal(18,0)").alias("v")
    )
    # (2-1)*256 DIV (2-1+1) = 128: scale-0 DECIMAL goes through unrejected
    assert {r.bk for r in sweep.value_range_buckets(dec, "v").collect()} \
        == {0, 128}


def test_histogram_grouped_brute_force(spark, tmp_path):
    """Per-segment bin assignment (cum-1)*8 DIV t_seg replayed in pure
    Python: each segment's bins use ITS OWN total and value range, tie
    mass stays whole, per-segment masses sum to that segment's t."""
    import datetime
    from collections import Counter, defaultdict

    import __spark_entry__ as ent

    base = datetime.datetime(2024, 1, 1)
    segs = {
        "1-URGENT": [100, 150, 200, 200, 200, 300, 400, 500],
        "2-HIGH": [90_000, 90_000, 90_000, 95_000, 99_000],
    }
    rows, i = [], 0
    for seg, vals in segs.items():
        for v in vals:
            rows.append((i, i % 3, "O", v / 100.0, base, seg))
            i += 1
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    _write(df, tmp_path, "orders")
    out = {(r.seg, r.bin): r for r in
           ent.queries()["profiling_histogram_grouped"](
               spark, str(tmp_path)).collect()}

    expect = {}
    for seg, vals in segs.items():
        t, counts, cum = len(vals), Counter(vals), 0
        agg = defaultdict(lambda: [1 << 62, -(1 << 62), 0])
        for v in sorted(counts):
            cum += counts[v]
            b = (cum - 1) * 8 // t
            agg[b][0] = min(agg[b][0], v)
            agg[b][1] = max(agg[b][1], v)
            agg[b][2] += counts[v]
        for b, (lo, hi, n) in agg.items():
            expect[(seg, b)] = (lo, hi, n)
    assert {k: (r.lo_cents, r.hi_cents, r.n_rows)
            for k, r in out.items()} == expect
    for seg, vals in segs.items():
        assert sum(r.n_rows for k, r in out.items() if k[0] == seg) \
            == len(vals)


def test_quantiles_grouped_brute_force(spark, tmp_path):
    """Per-priority type-1 rank selection replayed in pure Python: each
    group's target rank uses ITS OWN t, ties resolve to the lower value
    (rank_containment), and every (group, q) pair yields exactly one
    row."""
    import datetime

    import __spark_entry__ as ent

    base = datetime.date(2024, 1, 1)
    # two priorities with different lag distributions incl. heavy ties
    lags = {"1-URGENT": [1, 1, 2, 2, 2, 3, 9, 30],
            "2-HIGH": [0, 5, 5, 5, 5, 5, 5, 40, 41]}
    orows, lrows, ok = [], [], 0
    for prio, ls in lags.items():
        for lag in ls:
            ok += 1
            orows.append((ok, 1, "O", 100.0,
                          datetime.datetime(2024, 1, 1), prio))
            lrows.append((ok, 1, 1.0, base + datetime.timedelta(days=lag)))
    odf = spark.createDataFrame(
        orows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    ldf = spark.createDataFrame(
        lrows, "l_orderkey bigint, l_linenumber bigint, l_quantity double,"
        " l_shipdate date"
    )
    _write(odf, tmp_path, "orders")
    _write(ldf, tmp_path, "lineitem")
    out = {(r.prio, r.q_bp): (r.target_rank, r.value_days) for r in
           ent.queries()["profiling_quantiles_grouped"](
               spark, str(tmp_path)).collect()}

    expect = {}
    for prio, ls in lags.items():
        s, t = sorted(ls), len(ls)
        for q in (5000, 9000):
            rank = (t - 1) * q // 10000 + 1
            expect[(prio, q)] = (rank, s[rank - 1])
    assert out == expect


def test_value_range_buckets_null_group_is_kept_and_raises_downstream(spark):
    """A NULL group key must never be silently dropped by the grouped
    stats join (review finding, empirically a 3-rows-in/2-rows-out
    silent truncation before the fix): the LEFT join keeps the row with
    NULL _lo/_hi -> NULL bk, and the downstream prefix-sum guard raises
    the moment cum_ is consumed."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from phenoxtract_spark.operators import sweep

    df = spark.createDataFrame(
        [("a", 1, 2), (None, 5, 7), ("a", 3, 1)], "g string, v bigint, n bigint"
    )
    b = sweep.value_range_buckets(df, "v", partition_cols=["g"])
    rows = b.collect()
    assert len(rows) == 3, "NULL-group row must be KEPT by the stats join"
    assert [r.bk for r in rows if r.g is None] == [None]
    out = sweep.bucketed_prefix_sum(
        b, "bk", ["v"], {"n": "n"}, partition_cols=["g"]
    )
    with pytest.raises(SparkRuntimeException, match="NULL bk/g"):
        out.collect()


def test_mcv_grouped_brute_force(spark, tmp_path):
    """Per-segment sample-then-verify MCV replayed in pure Python on a
    planted fixture: per-group thresholds (a key can be heavy in one
    segment and tail in another), exact counts, per-group share_bp."""
    import hashlib as _hashlib

    import __spark_entry__ as ent

    # segment A: key 5 owns ~50% of 400 rows; segment R: uniform tail
    # (no heavy key); segment N: key 2 owns ~50% of 200 rows
    i = 0
    plan = []
    for n, hot_pk, seg in ((400, 5, "A"), (300, None, "R"), (200, 2, "N")):
        for j in range(n):
            i += 1
            if hot_pk is not None and j % 2 == 0:
                pk = hot_pk  # key = pk % 8 (orderkey 10*i keeps % 10 < 9)
            else:
                pk = 8 + (j * 13) % 4000
            plan.append((10 * i, pk, 1, seg))
    rows = [(ok, ln, pk, seg) for ok, pk, ln, seg in plan]
    df = spark.createDataFrame(
        rows, "l_orderkey bigint, l_linenumber bigint, l_partkey bigint,"
        " l_returnflag string"
    )
    _write(df, tmp_path, "lineitem")
    out = {(r.seg, r.key): r for r in
           ent.queries()["profiling_mcv_grouped"](
               spark, str(tmp_path)).collect()}

    # pure-python replay (identical key/hash/threshold rules)
    def key(ok, pk):
        return pk % 8 if ok % 10 < 9 else 8 + pk % 4096

    def h(ok, ln):
        return _hashlib.md5(f"{ok}-{ln}".encode()).hexdigest()[0]

    segs = {seg for *_x, seg in plan}
    expect = {}
    for seg in segs:
        grp = [(ok, pk, ln) for ok, pk, ln, s in plan if s == seg]
        samp = {}
        for ok, pk, ln in grp:
            if h(ok, ln) in ("0", "1"):
                samp[key(ok, pk)] = samp.get(key(ok, pk), 0) + 1
        n_sample = sum(samp.values())
        cand = {k: c for k, c in samp.items() if c * 1000 >= n_sample}
        n_total = len(grp)
        for k, sc in cand.items():
            ec = sum(1 for ok, pk, ln in grp if key(ok, pk) == k)
            if ec * 1000 >= n_total:
                expect[(seg, k)] = (ec, sc, ec * 10000 // n_total)
    assert {(s, k): (r.exact_cnt, r.sample_cnt, r.share_bp)
            for (s, k), r in out.items()} == expect
    # the planted heads must actually be found
    assert ("A", 5) in expect and ("N", 2) in expect


def test_prefix_sum_offsets_from_and_precomputed_stats_match_default(spark):
    """The r12 injection seams — ``offsets_from`` (build the per-bucket
    dim from an equivalent narrower relation) and ``precomputed_stats``
    (skip the per-call stats job) — must be pure evaluation-shape
    changes: identical cum_/total_/bk values to the default paths."""
    from phenoxtract_spark.operators import sweep

    rows = [(i, ((i * 53) % 997) - 498) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v bigint").localCheckpoint()

    # precomputed_stats: one multi-column collect vs the per-call agg
    pre = sweep.collect_value_range_stats(
        df, ["v", "id"], extra_stats={"total_n": F.count(F.lit(1)).cast("bigint")}
    )
    vb_default = sweep.value_range_buckets(
        df, "v", extra_stats={"total_n": F.count(F.lit(1)).cast("bigint")}
    )
    vb_injected = sweep.value_range_buckets(
        df, "v",
        extra_stats={"total_n": F.count(F.lit(1)).cast("bigint")},
        precomputed_stats=pre,
    )
    a = {r.id: (r.bk, r.total_n) for r in vb_default.collect()}
    b = {r.id: (r.bk, r.total_n) for r in vb_injected.collect()}
    assert a == b

    # offsets_from: dim built from a narrow branch of the same relation
    out_default = sweep.bucketed_prefix_sum(
        vb_injected, "bk", ["v", "id"], {"n": F.lit(1).cast("bigint")},
        materialize="offsets",
    )
    out_injected = sweep.bucketed_prefix_sum(
        vb_injected, "bk", ["v", "id"], {"n": F.lit(1).cast("bigint")},
        materialize="offsets",
        offsets_from=sweep.value_range_buckets(
            df.select("v"), "v", precomputed_stats=pre
        ),
    )
    ga = {r.id: r.cum_n for r in out_default.collect()}
    gb = {r.id: r.cum_n for r in out_injected.collect()}
    assert ga == gb and len(ga) == 300

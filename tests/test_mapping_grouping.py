"""Mapping strategies (M1-M5) incl. V6 error accumulation, and the
per-subject grouping operators (G3, G6, G7)."""

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.operators import grouping, mapping, ontology


def test_alias_map_passthrough_and_null(spark):
    df = spark.createDataFrame([("a",), ("no_info",), ("z",)], "c string")
    out = mapping.apply_alias_map(df, "c", {"a": "A", "no_info": None})
    assert [r["c"] for r in out.collect()] == ["A", None, "z"]


def test_synonym_mapping_strict_error_with_suggestions(spark):
    df = spark.createDataFrame([("Male",), ("femal",)], "sex string")
    dim = mapping.mapping_dim(spark, mapping.SEX_MAP)
    with pytest.raises(mapping.UnmappedValueError) as e:
        mapping.apply_synonym_mapping(df, "sex", dim, strict=True)
    assert "femal" in str(e.value) and "female" in str(e.value)  # suggestion


def test_synonym_mapping_case_insensitive(spark):
    df = spark.createDataFrame([(" MALE ",), ("woman",)], "sex string")
    dim = mapping.mapping_dim(spark, mapping.SEX_MAP)
    out = mapping.apply_synonym_mapping(df, "sex", dim, strict=True)
    assert [r["sex"] for r in out.collect()] == ["MALE", "FEMALE"]


def test_ontology_normalize_labels_synonyms_ids(spark):
    dim = ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")
    df = spark.createDataFrame(
        [("Fever",), ("PYREXIA",), ("HP:0000822",)], "term string"
    )
    out = mapping.normalize_to_ontology(df, "term", dim, strict=True)
    assert [r["term"] for r in out.collect()] == [
        "HP:0001945", "HP:0001945", "HP:0000822",
    ]


def test_ontology_normalize_strict_unmapped(spark):
    dim = ontology.bidict_dim(spark, ontology.MINI_HPO).select("key", "id")
    df = spark.createDataFrame([("no such term",)], "term string")
    with pytest.raises(mapping.UnmappedValueError):
        mapping.normalize_to_ontology(df, "term", dim, strict=True)


def test_split_by_membership_primary_wins(spark):
    prim = mapping.mapping_dim(spark, {"both": "x", "p": "x"})
    sec = mapping.mapping_dim(spark, {"both": "x", "s": "x"})
    df = spark.createDataFrame([("both",), ("p",), ("s",), ("neither",)], "c string")
    out = mapping.split_by_membership(df, "c", prim, sec, "a", "b").orderBy("c")
    rows = {r["c"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {
        "both": ("both", None), "p": ("p", None),
        "s": (None, "s"), "neither": (None, None),
    }


def test_single_valued_strict_raises(spark):
    df = spark.createDataFrame([("p1", "M"), ("p1", "F"), ("p2", "M")], "sid string, sex string")
    with pytest.raises(grouping.MultiplicityError):
        grouping.single_valued([(df, "sid", "sex")], strict=True)
    lenient = grouping.single_valued([(df, "sid", "sex")], strict=False).orderBy("subject_id")
    assert [(r["subject_id"], r["value"]) for r in lenient.collect()] == [
        ("p1", None), ("p2", "M"),
    ]


def test_single_valued_across_tables(spark):
    # G3 cross-table: same value in two tables is fine; conflict raises
    t1 = spark.createDataFrame([("p1", "1990")], "sid string, dob string")
    t2 = spark.createDataFrame([("p1", "1990")], "pid string, birth string")
    out = grouping.single_valued([(t1, "sid", "dob"), (t2, "pid", "birth")])
    assert out.collect()[0]["value"] == "1990"


def test_upsert_last_order(spark):
    df = spark.createDataFrame(
        [("p1", "HP:1", "mild", 1), ("p1", "HP:1", "severe", 2), ("p1", "HP:2", "x", 1)],
        "sid string, hpo string, severity string, seq int",
    )
    out = grouping.upsert_last(df, ["sid", "hpo"], "seq").orderBy("hpo")
    assert [(r["hpo"], r["severity"]) for r in out.collect()] == [
        ("HP:1", "severe"), ("HP:2", "x"),
    ]


def test_header_collapse_conflict_raises(spark):
    df = spark.createDataFrame(
        [("p1", True), ("p1", False)], "sid string, `HP:0000001` boolean"
    )
    with pytest.raises(grouping.MultiplicityError):
        grouping.header_hpo_collapse(df, "sid", ["HP:0000001"])


def test_header_collapse_excluded(spark):
    df = spark.createDataFrame(
        [("p1", False), ("p2", True), ("p3", None)],
        "sid string, `HP:0000001` boolean",
    )
    out = grouping.header_hpo_collapse(df, "sid", ["HP:0000001"]).orderBy("subject_id")
    rows = [(r["subject_id"], r["observed"], r["excluded"]) for r in out.collect()]
    # p3's (null,null) pair is dropped entirely
    assert rows == [("p1", False, True), ("p2", True, False)]


def test_pre_resolve_pattern(spark):
    df = spark.createDataFrame([("fever",), ("unknownx",)], "term string")
    resolved = ontology.pre_resolve(
        df, "term", lambda terms: {t: ("HP:1" if t == "fever" else None) for t in terms}, spark
    )
    rows = {r["term"]: r["term_resolved"] for r in resolved.collect()}
    assert rows == {"fever": "HP:1", "unknownx": None}


def test_header_collapse_null_observed_does_not_conflict(spark):
    """Regression: a row asserting only an onset (observed null) must not
    conflict with a real observation for the same HPO."""
    df = spark.createDataFrame(
        [("p1", True, "2020"), ("p1", None, "2021")],
        "sid string, `HP:0000001` boolean, onset string",
    )
    out = grouping.header_hpo_collapse(df, "sid", ["HP:0000001"], "onset").collect()
    assert len(out) == 1
    assert out[0]["observed"] is True and out[0]["onset"] == "2020"


def test_prefixed_id_null_value(spark):
    from phenoxtract_spark.functions.text import prefixed_id

    df = spark.createDataFrame([("x",), (None,)], "v string")
    out = [r["p"] for r in df.select(prefixed_id(F.lit("C"), F.col("v")).alias("p")).collect()]
    assert out == ["C-x", None]


def test_transport_resolver_negative_cache_and_results():
    """404s are cached as None and never re-queried; 200s cache their
    value; the callable shape plugs straight into pre_resolve."""
    from phenoxtract_spark.operators.ontology import TransportResolver

    calls = []

    def transport(term):
        calls.append(term)
        if term == "missing":
            return 404, None
        return 200, f"CURIE:{term}"

    r = TransportResolver(transport, rate_per_sec=1000.0)
    out = r(["a", "missing", "a"])
    assert out == {"a": "CURIE:a", "missing": None}
    # second batch: everything served from cache, zero new transport calls
    n = len(calls)
    out2 = r(["a", "missing"])
    assert out2 == {"a": "CURIE:a", "missing": None}
    assert len(calls) == n
    # 'a' hit the transport exactly once even within the first batch
    assert calls.count("a") == 1


def test_transport_resolver_rate_limit_waits():
    """The token bucket sleeps once the initial burst is exhausted:
    with rate 2/s and 5 calls from a frozen clock, the first two are
    free and each later call waits 0.5 s (injected clock/sleep — the
    test itself never sleeps)."""
    from phenoxtract_spark.operators.ontology import TransportResolver

    now = [0.0]
    sleeps = []

    def sleep(s):
        sleeps.append(round(s, 6))
        now[0] += s  # sleeping advances the fake clock

    r = TransportResolver(lambda t: (200, t), rate_per_sec=2.0,
                          clock=lambda: now[0], sleep=sleep)
    r([f"t{i}" for i in range(5)])
    assert sleeps == [0.5, 0.5, 0.5]


def test_transport_resolver_retries_transient_then_succeeds():
    """429/5xx retry with exponential backoff; a persistent failure
    raises after max_retries; a 4xx client error raises immediately."""
    import pytest
    from phenoxtract_spark.operators.ontology import TransportResolver

    attempts = {"n": 0}

    def flaky(term):
        attempts["n"] += 1
        return (429, None) if attempts["n"] < 3 else (200, "ok")

    sleeps = []
    r = TransportResolver(flaky, rate_per_sec=1000.0, backoff_s=0.1,
                          sleep=sleeps.append)
    assert r(["x"]) == {"x": "ok"}
    assert sleeps == [0.1, 0.2]  # exponential backoff between attempts

    r2 = TransportResolver(lambda t: (503, None), rate_per_sec=1000.0,
                           max_retries=2, backoff_s=0.0, sleep=lambda s: None)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        r2(["y"])

    r3 = TransportResolver(lambda t: (400, None), rate_per_sec=1000.0)
    with pytest.raises(RuntimeError, match="client error 400"):
        r3(["z"])


def test_transport_resolver_cache_bound_evicts_lru():
    from phenoxtract_spark.operators.ontology import TransportResolver

    calls = []
    r = TransportResolver(lambda t: (calls.append(t), (200, t))[1],
                          rate_per_sec=1000.0, cache_size=2)
    r(["a", "b", "c"])          # a evicted (LRU, size 2)
    n = len(calls)
    r(["b", "c"])               # cached
    assert len(calls) == n
    r(["a"])                    # re-fetched after eviction
    assert len(calls) == n + 1


def test_transport_resolver_plugs_into_pre_resolve(spark):
    """End to end: the injectable-transport resolver drives the X3/X4
    pre-resolve broadcast-dim pattern with a fake transport."""
    from pyspark.sql import functions as F
    from phenoxtract_spark.operators import ontology
    from phenoxtract_spark.operators.ontology import TransportResolver

    df = spark.createDataFrame(
        [(1, "Fever"), (2, "unknown thing"), (3, "fever")], ["id", "term"]
    )
    transport = lambda t: (200, "HP:0001945") if t == "fever" else (404, None)
    out = ontology.pre_resolve(
        df, "term", TransportResolver(transport, rate_per_sec=1000.0), spark
    ).orderBy("id").collect()
    assert [r["term_resolved"] for r in out] == ["HP:0001945", None, "HP:0001945"]


def test_http_search_transport_offline_fake():
    """The HTTP binding for the transport seam, driven by an injected
    fake http_get — fully offline: URL shape, auth header, BioPortal
    collection extraction, empty-collection -> 404 (negative-cacheable),
    and upstream error passthrough."""
    import json

    from phenoxtract_spark.operators.ontology import (
        TransportResolver, http_search_transport,
    )

    seen = []

    def fake_get(url, headers):
        seen.append((url, headers))
        if "fever" in url:
            return 200, json.dumps(
                {"collection": [{"@id": "HP:0001945"}, {"@id": "HP:9"}]}
            ).encode()
        if "empty" in url:
            return 200, json.dumps({"collection": []}).encode()
        return 503, b""

    t = http_search_transport(
        "https://example.org/api/", api_key="KEY", http_get=fake_get
    )
    assert t("fever") == (200, "HP:0001945")
    assert t("empty") == (404, None)       # empty result = NOT_FOUND
    assert t("down") == (503, None)        # transient class passes through
    url, headers = seen[0]
    assert url == "https://example.org/api/search?q=fever"
    assert headers == {"Authorization": "apikey token=KEY"}

    # plugs straight into the resolver: empty-collection terms are
    # negative-cached, transients retry
    r = TransportResolver(t, rate_per_sec=1000.0)
    n = len(seen)
    assert r(["empty", "empty"]) == {"empty": None}
    assert len(seen) == n + 1  # second lookup served from negative cache

"""External-lookup machinery as dimension tables (SURVEY §2.6 X1-X7).

The reference makes blocking HTTP calls inline in the dataflow with
per-process caches (bioportal_client.rs:52-346, loinc_client.rs:106-269).
That cannot run inside executors at scale.  Spark-first replacement — the
**pre-resolve pattern**:

    1. ``df.select(term).distinct()`` → small driver-side list (bounded);
    2. resolve via a pluggable resolver (offline fixtures in tests; batched
       HTTP on the driver in production), negative results cached as a
       sentinel (X4's "NOT_FOUND");
    3. broadcast the resulting dimension table and join.

No network ever happens in executors; per-row caching disappears entirely.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_key
from ..session import local_frame

NOT_FOUND = "NOT_FOUND"


@dataclass(frozen=True)
class OntologyTerm:
    id: str
    label: str
    synonyms: tuple[str, ...] = ()


def bidict_dim(spark: SparkSession, terms: Iterable[OntologyTerm],
               resource: str = "") -> DataFrame:
    """X1 OntologyBiDict (~ ontology/ontology_bidict.rs:15-136) as a
    dimension DataFrame ``(key, id, label, kind, resource)`` with one row per
    lowercase label/synonym/id — the case-insensitive trimap, relational."""
    rows = []
    for t in terms:
        rows.append((t.label.strip().lower(), t.id, t.label, "label", resource))
        rows.append((t.id.strip().lower(), t.id, t.label, "id", resource))
        for s in t.synonyms:
            rows.append((s.strip().lower(), t.id, t.label, "synonym", resource))
    return local_frame(
        spark, rows, "key string, id string, label string, kind string, resource string"
    )


def bidict_library(dims: list[DataFrame]) -> DataFrame:
    """X2 (~ transform/bidict_library.rs:7-70): ordered list of bidicts,
    first hit wins — union with a priority rank; lookup joins pick
    ``row_number()==1`` over (key, priority)."""
    ranked = [d.withColumn("_prio", F.lit(i)) for i, d in enumerate(dims)]
    out = ranked[0]
    for d in ranked[1:]:
        out = out.unionByName(d)
    return out


def lookup_first_hit(df: DataFrame, column: str, library: DataFrame,
                     out_id: str = "term_id", out_label: str = "term_label") -> DataFrame:
    """Join a fact column against an X2 library; priority-ordered first hit.
    Library is broadcast (dimension-sized by construction)."""
    from pyspark.sql import Window

    keyed = df.withColumn("_k", normalize_key(F.col(column)))
    lib = library.select(
        F.col("key").alias("_k"), "id", "label", "_prio"
    )
    w = Window.partitionBy("_k").orderBy(F.col("_prio"))
    best = (
        lib.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_k", F.col("id").alias(out_id), F.col("label").alias(out_label))
    )
    return keyed.join(F.broadcast(best), "_k", "left").drop("_k")


def pre_resolve(
    df: DataFrame,
    column: str,
    resolver: Callable[[list[str]], dict[str, Optional[str]]],
    spark: SparkSession,
    max_distinct: int = 1_000_000,
) -> DataFrame:
    """X3/X4 pre-resolve pattern: distinct terms → driver-side resolver →
    broadcast dim ``(key, resolved)`` with NOT_FOUND negative caching.

    ``max_distinct`` bounds driver memory; beyond it, resolution must move to
    a batched ``mapInPandas`` stage with an external cache service — raising
    here is the honest behavior."""
    terms = [
        r[0]
        for r in df.select(normalize_key(F.col(column)).alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .limit(max_distinct + 1)
        .collect()
    ]
    if len(terms) > max_distinct:
        raise ValueError(f"distinct({column}) exceeds max_distinct={max_distinct}")
    resolved = resolver(terms)
    rows = [(k, v if v is not None else NOT_FOUND) for k, v in resolved.items()]
    dim = local_frame(spark, rows, "key string, resolved string")
    keyed = df.withColumn("_k", normalize_key(F.col(column)))
    out = keyed.join(F.broadcast(dim.withColumnRenamed("key", "_k")), "_k", "left")
    return out.withColumn(
        f"{column}_resolved",
        F.when(F.col("resolved") == NOT_FOUND, F.lit(None)).otherwise(F.col("resolved")),
    ).drop("_k", "resolved")


class TransportResolver:
    """Reference ``resolver`` implementation for :func:`pre_resolve`
    (~ ontology/bioportal_client.rs:52-346): a rate-limited, retrying,
    negative-caching callable over an INJECTABLE transport, so the HTTP
    layer stays out of the engine and out of tests.

    ``transport(term) -> (status, value)`` is the single integration
    point — a production caller wraps its HTTP client (e.g. a BioPortal
    /search request returning the canonical CURIE); tests inject a fake.
    Semantics mirror the reference client:

    - **token-bucket rate limit** (default 4 req/s, the reference's
      ``Ratelimiter::builder(4, 1s)``) enforced via an injectable
      ``clock``/``sleep`` pair so tests assert waits without waiting;
    - **bounded LRU cache** (default 1500 entries, the reference's
      ``Cache::new(1500)``) holding positive AND negative results —
      a 404 is cached as ``None`` and never re-queried (X4 NOT_FOUND);
    - **retry with exponential backoff** on 429/5xx (the transient
      classes), up to ``max_retries``; a still-failing term raises —
      the bounded-error philosophy, never a silent drop;
    - any other non-200 status raises immediately (client error).

    The callable takes the distinct-term list :func:`pre_resolve`
    produces and returns ``{term: resolved_or_None}`` — resolution work
    is |distinct terms|-bounded and happens ON THE DRIVER, never in
    executors (the module-docstring contract)."""

    def __init__(self, transport: Callable[[str], tuple[int, Optional[str]]],
                 rate_per_sec: float = 4.0, max_retries: int = 3,
                 backoff_s: float = 0.5, cache_size: int = 1500,
                 clock: Optional[Callable[[], float]] = None,
                 sleep: Optional[Callable[[float], None]] = None) -> None:
        import time
        from collections import OrderedDict

        self._transport = transport
        self._rate = float(rate_per_sec)
        self._max_retries = int(max_retries)
        self._backoff_s = float(backoff_s)
        self._cache: "OrderedDict[str, Optional[str]]" = OrderedDict()
        self._cache_size = int(cache_size)
        self._clock = clock or time.monotonic
        self._sleep = sleep or time.sleep
        self._tokens = self._rate  # start with a full bucket
        self._last_refill = self._clock()

    def _wait_for_token(self) -> None:
        now = self._clock()
        self._tokens = min(
            self._rate, self._tokens + (now - self._last_refill) * self._rate
        )
        self._last_refill = now
        if self._tokens < 1.0:
            wait = (1.0 - self._tokens) / self._rate
            self._sleep(wait)
            self._tokens = 1.0
            self._last_refill = self._clock()
        self._tokens -= 1.0

    def _cache_put(self, key: str, value: Optional[str]) -> None:
        self._cache[key] = value
        self._cache.move_to_end(key)
        while len(self._cache) > self._cache_size:
            self._cache.popitem(last=False)

    def _resolve_one(self, term: str) -> Optional[str]:
        if term in self._cache:
            self._cache.move_to_end(term)
            return self._cache[term]
        attempt = 0
        while True:
            self._wait_for_token()
            status, value = self._transport(term)
            if status == 200:
                self._cache_put(term, value)
                return value
            if status == 404:
                self._cache_put(term, None)  # negative cache
                return None
            if status == 429 or status >= 500:
                if attempt >= self._max_retries:
                    raise RuntimeError(
                        f"resolver: {term!r} failed with {status} after "
                        f"{attempt + 1} attempts"
                    )
                self._sleep(self._backoff_s * (2 ** attempt))
                attempt += 1
                continue
            raise RuntimeError(f"resolver: {term!r} got client error {status}")

    def __call__(self, terms: list[str]) -> dict[str, Optional[str]]:
        return {t: self._resolve_one(t) for t in terms}


def http_search_transport(base_url: str, api_key: Optional[str] = None,
                          timeout_s: float = 10.0,
                          extract: Optional[Callable[[dict], Optional[str]]] = None,
                          http_get: Optional[Callable[[str, dict], tuple[int, bytes]]] = None,
                          ) -> Callable[[str], tuple[int, Optional[str]]]:
    """Concrete HTTP binding for :class:`TransportResolver`'s transport
    seam (~ ontology/bioportal_client.rs:214-287: GET /search?q=term →
    first collection entry's ``@id``) — the ~20-line adapter a
    production user writes; everything stateful (rate limit, retry,
    LRU, negative cache) stays in :class:`TransportResolver`.

    ``http_get(url, headers) -> (status, body)`` is injectable so tests
    run fully OFFLINE with a fake; the default binding imports
    ``requests`` lazily INSIDE the closure (never at module import —
    the engine must load in environments without it, and no network
    I/O can happen before the first real call).  ``extract`` maps the
    decoded JSON document to the resolved value; the default reads the
    BioPortal search shape ``collection[0]["@id"]`` and returns 404
    semantics (negative-cacheable) for an empty collection."""
    import json as _json
    from urllib.parse import quote

    def _default_extract(doc: dict) -> Optional[str]:
        coll = doc.get("collection") or []
        return coll[0].get("@id") if coll else None

    extract = extract or _default_extract

    def _default_get(url: str, headers: dict) -> tuple[int, bytes]:
        import requests  # lazy: optional dependency, only on first use

        try:
            r = requests.get(url, headers=headers, timeout=timeout_s)
        except requests.RequestException:
            # network-level transient (ConnectionError/Timeout/...) —
            # surface as 503 so TransportResolver's retry/backoff path
            # handles it instead of the exception crashing a batch resolve
            return 503, b""
        return r.status_code, r.content

    get = http_get or _default_get

    def transport(term: str) -> tuple[int, Optional[str]]:
        url = f"{base_url.rstrip('/')}/search?q={quote(term)}"
        headers = (
            {"Authorization": f"apikey token={api_key}"} if api_key else {}
        )
        status, body = get(url, headers)
        if status != 200:
            return status, None
        try:
            value = extract(_json.loads(body.decode("utf-8")))
        except (ValueError, KeyError, IndexError, AttributeError, TypeError):
            # malformed 200 body (truncated JSON, shape drift) — treat as
            # a 502-style upstream fault so the retry path gets a shot at
            # it rather than the exception escaping the transport
            return 502, None
        if value is None:
            return 404, None  # empty result: negative-cacheable NOT_FOUND
        return 200, value

    return transport


def distinct_resources_used(fact: DataFrame, curie_col: str) -> DataFrame:
    """G11 resource dedup (~ phenopacket_builder.rs:683-702): distinct
    case-insensitive CURIE prefixes appearing in a fact column."""
    return (
        fact.select(F.lower(F.split(F.col(curie_col), ":")[0]).alias("prefix"))
        .filter(F.col("prefix").isNotNull())
        .distinct()
    )


# ---- offline fixtures (mirrors the reference's mini-ontology test cache) ---

MINI_HPO = [
    OntologyTerm("HP:0001945", "Fever", ("pyrexia", "febrile")),
    OntologyTerm("HP:0000822", "Hypertension", ("high blood pressure",)),
    OntologyTerm("HP:0000246", "Sinusitis", ()),
    OntologyTerm("HP:0031417", "Rhinorrhea", ("runny nose",)),
    OntologyTerm("HP:0012735", "Cough", ()),
]
MINI_MONDO = [
    OntologyTerm("MONDO:0005148", "type 2 diabetes mellitus", ("T2D", "NIDDM")),
    OntologyTerm("MONDO:0004979", "asthma", ()),
    OntologyTerm("MONDO:0005015", "diabetes mellitus", ("DM",)),
]


# ---- X6 ontology factory: file parse + disk cache --------------------------
# (~ ontology/ontology_factory.rs:42-397 — the reference parses OBO via
# fastobo / obographs JSON via ontolius and memoizes per (resource, version);
# here: stdlib parsers → OntologyTerm list → bidict dimension, with a
# parquet disk cache so repeat sessions skip the parse.)


def parse_obo(path: str) -> list[OntologyTerm]:
    """Parse an OBO 1.2 file's [Term] stanzas into OntologyTerms.
    Captures id / name / synonym text / alt_id; obsolete terms skipped
    (~ build_obodoc_ontology, ontology_factory.rs:136-162)."""
    import re

    terms: list[OntologyTerm] = []
    cur: Optional[dict] = None

    def flush():
        if cur and cur.get("id") and cur.get("name") and not cur.get("obsolete"):
            terms.append(
                OntologyTerm(cur["id"], cur["name"], tuple(cur["synonyms"]))
            )

    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line.startswith("["):
                flush()
                cur = {"synonyms": []} if line == "[Term]" else None
                continue
            if cur is None or not line or line.startswith("!"):
                continue
            key, _, value = line.partition(":")
            value = value.strip()
            if key == "id":
                cur["id"] = value
            elif key == "name":
                cur["name"] = value
            elif key == "synonym":
                m = re.match(r'"((?:[^"\\]|\\.)*)"', value)
                if m:
                    cur["synonyms"].append(m.group(1).replace('\\"', '"'))
            elif key == "alt_id":
                cur["synonyms"].append(value)
            elif key == "is_obsolete" and value.lower().startswith("true"):
                cur["obsolete"] = True
    flush()
    return terms


_OBO_PURL = "http://purl.obolibrary.org/obo/"


def parse_obograph_json(path: str) -> list[OntologyTerm]:
    """Parse an OBO-graphs JSON export (the format the reference's registry
    caches, e.g. hp@2025-09-01.json) into OntologyTerms.  Node ids are IRIs
    (``.../HP_0000118``) → CURIEs; synonyms from meta.synonyms[].val;
    deprecated nodes skipped."""
    import json

    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    terms = []
    for graph in doc.get("graphs", []):
        for node in graph.get("nodes", []):
            if node.get("type") not in (None, "CLASS"):
                continue
            meta = node.get("meta") or {}
            if meta.get("deprecated"):
                continue
            label = node.get("lbl")
            iri = node.get("id", "")
            if not label or not iri.startswith(_OBO_PURL):
                continue
            curie = iri[len(_OBO_PURL):].replace("_", ":", 1)
            syns = tuple(
                s["val"] for s in meta.get("synonyms", []) if s.get("val")
            )
            terms.append(OntologyTerm(curie, label, syns))
    return terms


def ontology_factory(spark: SparkSession, path: str, resource: str = "",
                     cache_dir: Optional[str] = None) -> DataFrame:
    """X6: load an ontology file (.obo or obographs .json) into a bidict
    dimension, with a parquet disk cache keyed by file name + mtime —
    repeat sessions read the columnar cache instead of re-parsing
    (~ CachedOntologyFactory, ontology_factory.rs:84-262)."""
    import os

    if cache_dir:
        stem = os.path.basename(path).replace(".", "_")
        mtime = int(os.stat(path).st_mtime)
        cached = os.path.join(cache_dir, f"{stem}@{mtime}.parquet")
        if os.path.exists(cached):
            return spark.read.parquet(cached)
    terms = (
        parse_obograph_json(path) if path.endswith(".json") else parse_obo(path)
    )
    if not terms:
        raise ValueError(f"no ontology terms parsed from {path}")
    dim = bidict_dim(spark, terms, resource=resource)
    if cache_dir:
        os.makedirs(cache_dir, exist_ok=True)
        dim.write.mode("overwrite").parquet(cached)
        return spark.read.parquet(cached)
    return dim


def fetch_and_cache_ontology(spark: SparkSession, url: str, cache_dir: str,
                             transport: Callable[[str, Optional[str]],
                                                 tuple[int, Optional[bytes], Optional[str]]],
                             resource: str = "",
                             max_age_s: Optional[float] = None,
                             clock: Optional[Callable[[], float]] = None) -> DataFrame:
    """X6 download-and-cache (~ ontology_factory.rs:42-397: download the
    OBO/obographs document, cache it, parse into the bidict dimension).
    The HTTP layer is an INJECTABLE transport — the same seam as
    :class:`TransportResolver` — so the engine carries the full
    download → document cache → parse → parquet cache chain while tests
    (and this sandbox) run a fake transport and production wraps its
    HTTP client:

        transport(url, etag_or_None) -> (status, body_bytes, etag)

    Cache policy mirrors the reference factory:

    - the document caches under ``cache_dir`` keyed by the url hash
      (plus its last ETag in a sidecar) — a cached copy younger than
      ``max_age_s`` (or any copy, when ``max_age_s`` is None) is used
      WITHOUT calling the transport at all;
    - a stale copy revalidates with its ETag: **304** keeps the cached
      bytes (and refreshes their age), **200** replaces them;
    - a transport failure (non-200/304) falls back to the stale copy if
      one exists — availability over freshness, the factory's offline
      behavior — and raises only when there is nothing to parse.

    Parsing and the columnar cache are :func:`ontology_factory`'s."""
    import hashlib
    import os
    import time

    now = clock or time.time
    os.makedirs(cache_dir, exist_ok=True)
    suffix = ".json" if url.rstrip("/").endswith(".json") else ".obo"
    stem = hashlib.md5(url.encode()).hexdigest()[:16]
    doc_path = os.path.join(cache_dir, f"dl_{stem}{suffix}")
    etag_path = doc_path + ".etag"

    have = os.path.exists(doc_path)
    fresh = have and (
        max_age_s is None or (now() - os.stat(doc_path).st_mtime) <= max_age_s
    )
    if not fresh:
        etag = None
        if have and os.path.exists(etag_path):
            with open(etag_path) as fh:
                etag = fh.read().strip() or None
        status, body, new_etag = transport(url, etag)
        if status == 200 and body is not None:
            with open(doc_path, "wb") as fh:
                fh.write(body)
            os.utime(doc_path, (now(), now()))  # age from the SAME clock
            with open(etag_path, "w") as fh:
                fh.write(new_etag or "")
        elif status == 304 and have:
            os.utime(doc_path, (now(), now()))  # revalidated: refresh age
        elif have:
            pass  # stale fallback: availability over freshness
        else:
            raise RuntimeError(
                f"ontology fetch failed with {status} and no cached copy: {url}"
            )
    return ontology_factory(spark, doc_path, resource=resource, cache_dir=cache_dir)

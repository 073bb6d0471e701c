"""SPARQL-endpoint crawl source — the Spark re-expression of the
reference's `SparqlSourceProcessor.java:63-387` and
`UrlSourceProcessor.java:29-43` (the last two §2.1 source rows).

The reference crawls a remote endpoint with chunked VALUES-CONSTRUCT
requests (500 IRIs at a time, retry/backoff) and a driver-side frontier
set. Spark-first, the crawl is the same *frontier algorithm* but each
round is ONE distributed join of the frontier against the endpoint's
statement relation instead of |frontier|/500 sequential HTTP requests —
the chunking machinery (`SparqlSourceProcessor.java:215-293`) exists
only to protect a remote endpoint and disappears when the statement
relation is itself a DataFrame. The phases mirror
`SparqlSourceProcessor.extract` (`:295-386`) exactly:

  1. seed       — IRI bindings of every variable of the seed SELECT
                  (`:304-317`) plus the explicit resource ``list``
  2. distance   — ``max_distance`` rounds of description loading
                  (forward + inverse statements); the next frontier is
                  the subjects of ``follow_inverse`` statements plus all
                  IRI objects seen so far (`:323-341`)
  3. hierarchy  — fixpoint over ``follow_unlimited`` objects /
                  ``follow_inverse_unlimited`` subjects (`:344-367`,
                  default rdfs:subClassOf, rdf:first, rdf:rest)
  4. properties — fixpoint loading descriptions of every predicate used
                  so far, forward only (`:369-381`)

Endpoints are pluggable: ``LocalGraphEndpoint`` serves a triples
DataFrame (any file the multi-format readers understand — the
``file://`` "service" used in tests), and the same protocol is the
drop-in point for a real HTTP endpoint outside this container.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"

#: `SparqlSourceProcessor.java:124-127` — default hierarchy properties
DEFAULT_FOLLOW_UNLIMITED = (
    RDFS_NS + "subClassOf",
    RDF_NS + "first",
    RDF_NS + "rest",
)

_CRAWL_MAX_ROUNDS = 100  # fixpoint bound; raised loudly when exceeded


class CrawlError(RuntimeError):
    pass


class LocalGraphEndpoint:
    """A SPARQL endpoint backed by a local triples DataFrame — the
    statement relation the crawl joins against. ``select`` runs the
    seed query through the in-repo SPARQL compiler."""

    def __init__(self, triples: DataFrame):
        self.triples = triples.localCheckpoint(eager=True)

    def select_iris(self, query_text: str) -> DataFrame:
        """IRI bindings of every result variable of the seed SELECT —
        `SparqlSourceProcessor.java:304-317` (non-IRI values ignored)."""
        from ..sparql import sparql_select

        wide = sparql_select(self.triples, query_text)
        parts = [
            wide.where(F.col(n)["kind"] == "iri").select(
                F.col(n)["value"].alias("r")
            )
            for n in wide.columns
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def describe(
        self,
        frontier: DataFrame,
        inverse: bool,
        ignore_inverse: tuple[str, ...] = (),
    ) -> DataFrame:
        """All statements with a frontier resource as subject, plus —
        with ``inverse`` — as object (predicates in ``ignore_inverse``
        excluded), the two CONSTRUCT shapes of
        `SparqlSourceProcessor.java:222-244` as joins."""
        fwd = self.triples.join(frontier, F.col("s") == F.col("r")).drop("r")
        if not inverse:
            return fwd
        inv = self.triples.where(F.col("o_kind") == "iri").join(
            frontier, F.col("o_value") == F.col("r")
        ).drop("r")
        if ignore_inverse:
            inv = inv.where(~F.col("p").isin(list(ignore_inverse)))
        return fwd.unionByName(inv)


def _iris(spark: SparkSession, values) -> DataFrame:
    return spark.createDataFrame([(v,) for v in values], "r string").distinct()


_TRIPLES_DDL = (
    "s string, p string, o_kind string, o_value string,"
    " o_datatype string, o_lang string"
)


def _urllib_transport(url: str, data: bytes, headers: dict) -> bytes:
    """Default HTTP transport: POST the query body, return the response
    bytes. Injected per-endpoint so tests (and proxied deployments)
    replace it without touching the protocol logic."""
    import urllib.request

    req = urllib.request.Request(url, data=data, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.read()


#: process-wide default transport; the TriG plan loader's sparql_source
#: step builds endpoints through this hook so tests can substitute a
#: mocked transport for http(s) service IRIs
HTTP_TRANSPORT = _urllib_transport


class HttpSparqlEndpoint:
    """HTTP implementation of the crawl endpoint protocol — the remote
    analog of :class:`LocalGraphEndpoint`, mirroring the reference's
    request machinery (`SparqlSourceProcessor.java:215-292`):

    * descriptions load via two separate VALUES-CONSTRUCT queries
      (forward ``?r ?p ?o`` and inverse ``?s ?p ?r``), VALUES *inside*
      the WHERE clause (the reference's Virtuoso workaround), never
      DESCRIBE (endpoint-dependent semantics — the reference's own
      implementation note);
    * chunked requests of at most ``chunk_size`` resources (default 500,
      `:74`), chunk size ×``chunk_size_decrease_factor`` (default 0.5,
      `:82`) after a failed request — the failed chunk's resources are
      retried — and ×``chunk_size_increase_factor`` (default 1.5, `:89`)
      after a success, capped at the initial size;
    * a total budget of ``max_retries`` failed requests (default 128,
      `:148`) across the crawl, after which the error propagates.

    The frontier is collected to the driver per describe round — the
    same driver-sized bound as the reference's Java collections; crawl
    frontiers are endpoint-protection-sized, not corpus-sized.
    ``transport(url, body_bytes, headers) -> bytes`` is injectable for
    tests and custom auth.
    """

    def __init__(
        self,
        spark: SparkSession,
        service: str,
        *,
        chunk_size: int = 500,
        chunk_size_decrease_factor: float = 0.5,
        chunk_size_increase_factor: float = 1.5,
        max_retries: int = 128,
        max_frontier: int = 10_000_000,
        transport=None,
    ):
        self.spark = spark
        self.service = service
        self.chunk_size = chunk_size
        self.chunk_size_decrease_factor = chunk_size_decrease_factor
        self.chunk_size_increase_factor = chunk_size_increase_factor
        self._retries_left = max_retries
        self.max_frontier = max_frontier
        self._response_n = 0
        self.transport = transport if transport is not None else HTTP_TRANSPORT

    def _request(self, query_text: str, accept: str) -> bytes:
        return self.transport(
            self.service,
            query_text.encode("utf-8"),
            {"Content-Type": "application/sparql-query", "Accept": accept},
        )

    def select_iris(self, query_text: str) -> DataFrame:
        """IRI bindings of every result variable of the seed SELECT
        (`SparqlSourceProcessor.java:304-317`), via the SPARQL JSON
        results format."""
        import json

        body = self._request(query_text, "application/sparql-results+json")
        doc = json.loads(body.decode("utf-8"))
        iris = sorted({
            b[v]["value"]
            for b in doc.get("results", {}).get("bindings", [])
            for v in b
            if b[v].get("type") == "uri"
        })
        return _iris(self.spark, iris)

    def select_binding_rows(
        self, query_text: str
    ) -> tuple[list[tuple], list[str]]:
        """Full typed bindings of a SELECT (SPARQL JSON results) as term
        4-tuples per variable — the SERVICE-federation path (sparql.py
        ``_service_df``); ``select_iris`` keeps the crawl's IRI-only
        view."""
        import json

        body = self._request(query_text, "application/sparql-results+json")
        doc = json.loads(body.decode("utf-8"))
        names = list(doc.get("head", {}).get("vars", []))
        rows: list[tuple] = []
        for b in doc.get("results", {}).get("bindings", []):
            row = []
            for v in names:
                t = b.get(v)
                if t is None:
                    row.append(None)
                    continue
                kind = t.get("type")
                value = t.get("value", "")
                if kind == "uri":
                    row.append(("iri", value, "", ""))
                elif kind == "bnode":
                    row.append((
                        "bnode",
                        value if value.startswith("_:") else f"_:{value}",
                        "", "",
                    ))
                elif kind in ("literal", "typed-literal"):
                    lang = t.get("xml:lang", "")
                    dt = t.get("datatype") or (
                        "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
                        if lang
                        else "http://www.w3.org/2001/XMLSchema#string"
                    )
                    row.append(("literal", value, dt, lang))
                else:
                    raise CrawlError(f"bad binding type {kind!r} from endpoint")
            rows.append(tuple(row))
        return rows, names

    def describe(
        self,
        frontier: DataFrame,
        inverse: bool,
        ignore_inverse: tuple[str, ...] = (),
    ) -> DataFrame:
        # the crawl frontier is collected to the driver (driver-sized by
        # design — endpoint-protection-sized, not corpus-sized); guard so
        # a pathological crawl fails loudly instead of OOMing the driver
        distinct = frontier.select("r").distinct()
        n = distinct.count()
        if n > self.max_frontier:
            raise CrawlError(
                f"crawl frontier has {n} resources, above max_frontier="
                f"{self.max_frontier}; narrow the seed query or raise the"
                " bound explicitly"
            )
        iris = [r["r"] for r in distinct.collect()]
        rows = self._load_chunked(iris, inverse=False)
        if inverse:
            rows += self._load_chunked(
                iris, inverse=True, ignore_inverse=ignore_inverse
            )
        return self.spark.createDataFrame(rows, _TRIPLES_DDL)

    @staticmethod
    def _construct_query(
        chunk: list[str], inverse: bool, ignore_inverse: tuple[str, ...]
    ) -> str:
        values = "VALUES ?r { " + " ".join(f"<{i}>" for i in chunk) + " }"
        if not inverse:
            return f"CONSTRUCT {{ ?r ?p ?o }} WHERE {{ ?r ?p ?o . {values} }}"
        filt = ""
        if ignore_inverse:
            terms = ", ".join(f"<{p}>" for p in ignore_inverse)
            filt = f"FILTER(?p NOT IN ({terms})) "
        return (
            f"CONSTRUCT {{ ?s ?p ?r }} WHERE {{ ?s ?p ?r . {filt}{values} }}"
        )

    def _load_chunked(
        self,
        iris: list[str],
        inverse: bool,
        ignore_inverse: tuple[str, ...] = (),
    ) -> list[tuple]:
        from .turtle import parse_turtle

        rows: list[tuple] = []
        current = self.chunk_size
        i = 0
        while i < len(iris):
            chunk = iris[i:i + current]
            query = self._construct_query(chunk, inverse, ignore_inverse)
            try:
                body = self._request(query, "application/n-triples")
            except Exception as e:  # noqa: BLE001 — any transport failure
                if self._retries_left <= 0:
                    raise CrawlError(
                        f"SPARQL request to {self.service} failed with"
                        f" maxRetries exhausted: {e}"
                    ) from e
                # reference `:270-284`: spend one retry, shrink the chunk,
                # redo the same resources
                self._retries_left -= 1
                current = max(
                    1, int(current * self.chunk_size_decrease_factor)
                )
                continue
            # each HTTP response is a separate RDF document scope: blank
            # node labels are document-local (and Jena scopes them per
            # parse in the reference), so suffix them per response before
            # merging — otherwise _:b0 from two chunks silently unifies
            self._response_n += 1
            tag = f"#r{self._response_n}"
            for s, p, k, v, dt, lg in parse_turtle(body.decode("utf-8")):
                if s.startswith("_:"):
                    s += tag
                if k == "bnode":
                    v += tag
                rows.append((s, p, k, v, dt, lg))
            i += len(chunk)
            # grow back toward (never past) the configured size, with the
            # reference's integer truncation (`:266-268`)
            current = min(
                self.chunk_size,
                max(1, int(current * self.chunk_size_increase_factor)),
            )
        return rows


def sparql_source(
    spark: SparkSession,
    endpoint: LocalGraphEndpoint,
    query: str | None = None,
    list_: list[str] | None = None,
    max_distance: int = 0,
    follow_inverse: tuple[str, ...] = (),
    follow_unlimited: tuple[str, ...] = DEFAULT_FOLLOW_UNLIMITED,
    follow_inverse_unlimited: tuple[str, ...] = (),
    ignore_inverse: tuple[str, ...] = (),
) -> DataFrame:
    """Crawl the endpoint and return the extracted triples DataFrame —
    the primary model of `SparqlSourceProcessor.run` (`:151-166`,
    including the newline-IRI hotfix filter)."""
    empty = spark.createDataFrame([], "r string")
    to_load = _iris(spark, list_ or [])
    if query is not None:
        to_load = to_load.unionByName(endpoint.select_iris(query)).distinct()
    loaded = empty
    model: DataFrame | None = None

    def load(frontier: DataFrame, inverse: bool) -> None:
        nonlocal model, loaded
        got = endpoint.describe(frontier, inverse, ignore_inverse).distinct()
        if model is None:
            model = got.localCheckpoint(eager=True)
        else:
            # delta-only accumulation: dedup the (small) round delta
            # against the checkpointed model instead of re-distincting
            # the whole accumulated model every round — O(|delta|) new
            # work per round, not O(rounds × |model|)
            delta = got.exceptAll(model)
            model = model.unionByName(delta).localCheckpoint(eager=True)
        loaded = loaded.unionByName(frontier).distinct().localCheckpoint(
            eager=True
        )

    def fresh(candidates: DataFrame) -> DataFrame:
        return candidates.distinct().join(
            loaded, on="r", how="left_anti"
        ).localCheckpoint(eager=True)

    # the crawl rounds grow two relations (model, loaded) from a remote
    # endpoint, so they stay outside rules.fixpoint / rules.iterate
    # phase 2: bounded-distance description loading (`:323-341`)
    for distance in range(max_distance + 1):
        if to_load.isEmpty():
            break
        load(to_load, inverse=True)
        if distance < max_distance:
            objs = model.where(F.col("o_kind") == "iri").select(
                F.col("o_value").alias("r")
            )
            cands = objs
            if follow_inverse:
                cands = cands.unionByName(
                    model.where(F.col("p").isin(list(follow_inverse)))
                    .where(~F.col("s").startswith("_:"))
                    .select(F.col("s").alias("r"))
                )
            to_load = fresh(cands)

    if model is None:
        return spark.createDataFrame(
            [],
            "s string, p string, o_kind string, o_value string,"
            " o_datatype string, o_lang string",
        )

    # phase 3: unlimited hierarchy fixpoint (`:344-367`)
    for _ in range(_CRAWL_MAX_ROUNDS):
        cands = empty
        if follow_unlimited:
            cands = cands.unionByName(
                model.where(
                    F.col("p").isin(list(follow_unlimited))
                    & (F.col("o_kind") == "iri")
                ).select(F.col("o_value").alias("r"))
            )
        if follow_inverse_unlimited:
            cands = cands.unionByName(
                model.where(F.col("p").isin(list(follow_inverse_unlimited)))
                .where(~F.col("s").startswith("_:"))
                .select(F.col("s").alias("r"))
            )
        frontier = fresh(cands)
        if frontier.isEmpty():
            break
        load(frontier, inverse=True)
    else:
        raise CrawlError("hierarchy crawl did not converge")

    # phase 4: descriptions of used properties, forward only (`:369-381`)
    for _ in range(_CRAWL_MAX_ROUNDS):
        frontier = fresh(model.select(F.col("p").alias("r")))
        if frontier.isEmpty():
            break
        load(frontier, inverse=False)
    else:
        raise CrawlError("property-description crawl did not converge")

    # newline-IRI hotfix (`SparqlSourceProcessor.java:151-166`)
    return model.where(
        ~F.col("s").contains("\n")
        & ~F.col("p").contains("\n")
        & ~((F.col("o_kind") == "iri") & F.col("o_value").contains("\n"))
    )


def _urllib_get(url: str, headers: dict) -> tuple[bytes, str]:
    """Default URL transport: GET following redirects; returns (body,
    content-type). Injectable via ``URL_TRANSPORT`` for tests/auth."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=120) as resp:
        ctype = resp.headers.get("Content-Type", "") or ""
        return resp.read(), ctype


#: process-wide URL-fetch hook (tests substitute a mocked transport)
URL_TRANSPORT = _urllib_get


def _read_body(spark, body: bytes, fmt, read_rdf_text) -> DataFrame:
    """Parse a fetched body: RDF-Thrift stays binary (parsed before any
    text decode); everything else decodes to UTF-8 and goes through the
    content-type parser / brute-force text detection. A body that is not
    UTF-8 text at all gets one thrift attempt before failing loudly."""
    from .rdfthrift import QUADS_DDL, RdfThriftUnsupported, parse_rdfthrift

    def thrift_df(buf: bytes) -> DataFrame:
        rows = parse_rdfthrift(buf)
        df = spark.createDataFrame(rows, QUADS_DDL) if rows \
            else spark.createDataFrame([], QUADS_DDL)
        return df.drop("graph")

    if fmt == "rdfthrift":
        return thrift_df(body)
    # unknown content type: an RDF-Thrift stream starts with the
    # RDF_StreamRow field header 0x1C (prefixDecl) or 0x2C (triple) —
    # bytes no RDF text format opens with (0x3C, a quad-first stream,
    # is '<' and would shadow XML/N-Triples, so that case requires the
    # declared content type), so one cheap thrift attempt comes first
    if fmt is None and body[:1] in (b"\x1c", b"\x2c"):
        try:
            return thrift_df(body)
        except RdfThriftUnsupported:
            pass  # fall through to text brute-force
    try:
        text = body.decode("utf-8")
    except UnicodeDecodeError:
        return thrift_df(body)
    return read_rdf_text(spark, text, fmt)


def url_source(spark: SparkSession, urls: list[str]) -> DataFrame:
    """`UrlSourceProcessor.java:29-43`: read each URL into the primary
    model — the reference's driver-side `Models.read(model, uri)`
    (`Models.java:97-117`). ``file://`` URLs and plain paths go through
    the multi-format reader; http(s) is fetched with an Accept header
    offering every supported RDF content type (+ ``*/*;q=0.8``), parsed
    by the content-type's parser first, then by brute-force language
    detection with combined loud errors (`Models.java:69-95`)."""
    from .formats import CONTENT_TYPES, read_rdf_local, read_rdf_text

    out: DataFrame | None = None
    for url in urls:
        if url.startswith(("http://", "https://")):
            accept = ", ".join(sorted(CONTENT_TYPES)) + ", */*;q=0.8"
            body, ctype = URL_TRANSPORT(url, {"Accept": accept})
            fmt = CONTENT_TYPES.get(ctype.split(";")[0].strip().lower())
            df = _read_body(spark, body, fmt, read_rdf_text)
        else:
            path = url[len("file://"):] if url.startswith("file://") else url
            df = read_rdf_local(spark, path)
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError("url_source needs at least one URL")
    return out

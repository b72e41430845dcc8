"""HTTP fetch transport: golden parity vs the synthetic transport.

The crawl engine's fetch stage goes over a REAL wire (stdlib keep-alive
client pool → local threaded server rendering the synthetic web as HTML,
reference actions.py:218-293 / crawler_pool.py:25-49 shape) and must produce
byte-identical spans, crawl order, and seen set to the in-process synthetic
transport — plus fetch each URL over the wire exactly once (the optimistic
double-fetch path must auto-disable for a non-replayable transport,
ADVICE r2)."""

from __future__ import annotations

import pytest

from deepcrawl4ai_spark.frontier import webgraph as WG
from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig
from deepcrawl4ai_spark.frontier.fetcher import transport_replayable
from deepcrawl4ai_spark.frontier.htmlpage import parse_html, render_html
from deepcrawl4ai_spark.frontier.httpserver import SyntheticWebServer

N_SEEDS = 32
ROUNDS = 2
CFG = dict(global_budget=120, max_depth=3, max_attempts=2, record_order=True)


def test_html_roundtrip_identity():
    """render→parse recovers every successful page byte-for-byte (spans AND
    links) across a slice of the universe — the transport's losslessness."""
    checked = 0
    for hi in range(min(4, WG.N_HOSTS)):
        for pj in range(min(30, WG.host_pages()[hi])):
            page = WG.fetch_page(WG.page_url(hi, pj))
            if page.fetch_status != "success":
                continue
            back = parse_html(page.url_norm, page.url_hash, render_html(page))
            assert back.spans == page.spans, page.url_norm
            assert back.outlinks == page.outlinks, page.url_norm
            checked += 1
    assert checked > 50


def test_transport_replayability_flags():
    assert transport_replayable({"kind": "synthetic"})
    assert not transport_replayable({"kind": "http", "base": "http://x:1"})
    assert transport_replayable(
        {"kind": "http", "base": "http://x:1", "replayable": True}
    )


@pytest.fixture(scope="module")
def webserver():
    with SyntheticWebServer() as srv:
        yield srv


def _run(spark, tmp_path_factory, name: str, transport: dict | None):
    root = str(tmp_path_factory.mktemp(name))
    eng = CrawlEngine(
        spark, root, EngineConfig(max_rounds=ROUNDS, transport=transport, **CFG)
    )
    metrics = eng.run(WG.gen_seeds(N_SEEDS))
    return eng, metrics


def test_http_transport_golden_parity(spark, tmp_path_factory, webserver):
    base = {"kind": "http", "base": webserver.base}
    eng_h, m_h = _run(spark, tmp_path_factory, "http_store", base)
    eng_s, m_s = _run(spark, tmp_path_factory, "synth_store", {"kind": "synthetic"})

    # crawl order + round metrics byte-equal
    assert len(m_h) == len(m_s)
    for a, b in zip(m_h, m_s):
        assert a["crawl_order"] == b["crawl_order"]
        for k in ("urls_popped", "urls_fetched", "urls_failed", "new_frontier"):
            assert a[k] == b[k]

    # span sequences byte-equal per doc
    def spans_by_doc(eng):
        rows = eng.store.read(spark, "results").select("doc_id", "spans").collect()
        return {
            r["doc_id"]: tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans"]
            )
            for r in rows
        }

    sh, ss = spans_by_doc(eng_h), spans_by_doc(eng_s)
    assert sh == ss and len(sh) > 0

    # seen set equal
    seen = lambda eng: {  # noqa: E731
        r["url_hash"]
        for r in eng.store.read(spark, "frontier").select("url_hash").collect()
    }
    assert seen(eng_h) == seen(eng_s)

    # politeness audit: every popped URL hit the wire EXACTLY once — the
    # engine must not have taken the optimistic fetch-then-discard path
    # with a non-replayable transport
    total_popped = sum(m["urls_popped"] for m in m_h)
    assert webserver.n_requests == total_popped


def test_full_stack_http_robots_and_pages(spark, tmp_path_factory, webserver):
    """End-to-end wire crawl: the politeness dim is built from robots.txt
    bodies FETCHED over HTTP (distributed mapInPandas fill → REP parse →
    engine rows) and pages are fetched over HTTP too; the crawl byte-equals
    the all-synthetic run. Token-bucket refill is crawler config, not REP,
    so this runs the default (capacity-per-round) politeness mode."""
    from deepcrawl4ai_spark.frontier.fetcher import fetch_robots_rows

    transport = {"kind": "http", "base": webserver.base}
    rows = fetch_robots_rows(spark, WG.hosts(), transport)
    ref = {r["host"]: r for r in WG.robots_rows()}
    assert len(rows) == len(ref)
    for r in rows:
        assert r["max_tokens"] == ref[r["host"]]["max_tokens"]
        assert r["disallow_rules"] == ref[r["host"]]["disallow_rules"]

    root = str(tmp_path_factory.mktemp("fullstack"))
    eng = CrawlEngine(
        spark,
        root,
        EngineConfig(max_rounds=ROUNDS, transport=transport, **CFG),
        robots_rows=rows,
    )
    m_wire = eng.run(WG.gen_seeds(N_SEEDS))
    eng_s = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("fullstack_ref")),
        EngineConfig(max_rounds=ROUNDS, **CFG),
    )
    m_ref = eng_s.run(WG.gen_seeds(N_SEEDS))
    assert [m["crawl_order"] for m in m_wire] == [m["crawl_order"] for m in m_ref]
    assert [m["urls_popped"] for m in m_wire] == [m["urls_popped"] for m in m_ref]


# --- in-partition fan-out + RFC-safe retry (round 4) ---------------------------


def test_in_partition_fetch_concurrency():
    """O4: with a slow origin (100 ms/page), 40 URLs through ONE fetch_map
    partition must finish in ~len/concurrency × delay, each URL hitting the
    wire exactly once, output rows in input order, spans byte-equal to the
    synthetic transport. Sequential would take ≥ 4 s — the bound proves ≥
    ~4-way real overlap inside the partition."""
    import time

    import pandas as pd

    from deepcrawl4ai_spark.frontier import fetcher as FE
    from deepcrawl4ai_spark.frontier.httpserver import SyntheticWebServer

    urls = [WG.page_url(0, j) for j in range(40)]
    pdf = pd.DataFrame(
        {
            "url_norm": urls,
            "url_hash": [WG.sha1_hex(u) for u in urls],
            "host": [u.split("://")[1].split("/")[0] for u in urls],
            "depth": [0] * len(urls),
            "score": [0.0] * len(urls),
            "attempt": [0] * len(urls),
        }
    )
    FE.pool_reset()
    with SyntheticWebServer(delay_s=0.1) as srv:
        fmap = FE.make_fetch_map(
            {"kind": "http", "base": srv.base, "concurrency": 10}
        )
        t0 = time.time()
        out = pd.concat(list(fmap(iter([pdf]))), ignore_index=True)
        wall = time.time() - t0
        assert srv.n_requests == len(urls)  # exactly once per URL
    assert wall < 2.0, f"no in-partition overlap: {wall:.2f}s for 40×0.1s"
    assert list(out["url_norm"]) == urls  # input order preserved
    for u, st, spans in zip(out["url_norm"], out["fetch_status"], out["spans"]):
        ref = WG.fetch_page(u)
        assert st == ref.fetch_status
        if st == "success":
            got = tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
            )
            assert got == ref.spans
    FE.pool_reset()


class _FakeResp:
    def __init__(self, status=200, body=b"ok", fail_read=False):
        self.status = status
        self.will_close = False
        self._body = body
        self._fail = fail_read

    def read(self):
        if self._fail:
            raise ConnectionResetError("reset mid-response")
        return self._body


class _FakeConn:
    """Scriptable connection for retry-semantics units."""

    def __init__(self, fail_request=False, resp=None):
        self.fail_request = fail_request
        self.resp = resp or _FakeResp()
        self.requests = 0
        self.closed = False

    def request(self, method, path):
        self.requests += 1
        if self.fail_request:
            raise ConnectionResetError("stale keep-alive")

    def getresponse(self):
        return self.resp

    def close(self):
        self.closed = True


def test_pooled_get_retries_only_stale_reused_connection(webserver):
    """A REUSED pooled connection that dies before the response begins is
    retried exactly once on a fresh connection (the keep-alive race); the
    request is not double-sent to a live server."""
    import urllib.parse

    from deepcrawl4ai_spark.frontier import fetcher as FE

    FE.pool_reset()
    sess = FE.get_session("retry_unit")
    stale = _FakeConn(fail_request=True)
    sess.checkin(stale)  # pretend it's an idle pooled keep-alive conn
    parts = urllib.parse.urlsplit(webserver.base)
    before = webserver.n_requests
    u = WG.page_url(0, 0)
    status, body = FE._pooled_get(
        sess, parts.hostname, parts.port, "/page?u=" + urllib.parse.quote(u, safe="")
    )
    assert status in (200, 503)
    assert stale.requests == 1 and stale.closed  # stale conn tried once, closed
    assert webserver.n_requests == before + 1  # the retry hit the wire ONCE
    FE.pool_reset()


def test_pooled_get_never_retries_fresh_or_midread_failures():
    """ADVICE r3: a FRESH connection failing raises (no silent re-GET), and a
    failure AFTER the response has begun (request provably received) raises
    instead of double-fetching."""
    import pytest as _pytest

    from deepcrawl4ai_spark.frontier import fetcher as FE

    FE.pool_reset()
    # fresh-connection failure: nothing pooled, unroutable port → raise
    sess = FE.get_session("fresh_unit")
    with _pytest.raises(OSError):
        FE._pooled_get(sess, "127.0.0.1", 1, "/page", timeout=0.5)
    # mid-read failure on a reused conn: request() succeeded (server got it),
    # read() dies → must RAISE, and must NOT touch any other connection
    sess2 = FE.get_session("midread_unit")
    dying = _FakeConn(resp=_FakeResp(fail_read=True))
    sess2.checkin(dying)
    with _pytest.raises(ConnectionResetError):
        FE._pooled_get(sess2, "127.0.0.1", 1, "/page")
    assert dying.requests == 1 and dying.closed
    assert sess2.n_idle() == 0  # nothing retried, nothing pooled
    FE.pool_reset()


def test_robots_df_distributed_no_driver_collect(spark, webserver):
    """ADVICE r3 #2: the robots-cache fill stays a DataFrame end to end — no
    DataFrame.collect anywhere in fetch_robots_df, at 5k hosts (unknown
    hosts 404 → allow-all rows). The count and spot checks run AFTER the
    collect-trap is removed."""
    from unittest import mock

    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    from deepcrawl4ai_spark.frontier.fetcher import fetch_robots_df

    hosts_df = spark.range(5000).select(
        F.concat(F.lit("x"), F.col("id").cast("string"), F.lit(".example.com")).alias(
            "host"
        )
    )
    transport = {"kind": "http", "base": webserver.base}
    with mock.patch.object(
        _DF, "collect", side_effect=AssertionError("driver collect in robots path")
    ):
        dim = fetch_robots_df(hosts_df.repartition(16), transport)
    assert dim.count() == 5000
    row = dim.filter(F.col("host") == "x0.example.com").head()
    assert row["disallow_rules"] == [] and row["max_tokens"] >= 1


def test_engine_with_robots_df_wire_parity(spark, tmp_path_factory, webserver):
    """CrawlEngine(robots_df=...) — politeness dim fetched AND consumed
    distributed (localCheckpointed robots cache, 2-value driver aggregate) —
    byte-equals the synthetic-config crawl."""
    from pyspark.sql import functions as F

    from deepcrawl4ai_spark.frontier.fetcher import fetch_robots_df

    transport = {"kind": "http", "base": webserver.base}
    hosts_df = spark.createDataFrame([(h,) for h in WG.hosts()], "host string")
    dim = fetch_robots_df(hosts_df.repartition(8), transport)
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("robotsdf_store")),
        EngineConfig(max_rounds=ROUNDS, transport=transport, **CFG),
        robots_df=dim,
    )
    m_wire = eng.run(WG.gen_seeds(N_SEEDS))
    eng_s = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("robotsdf_ref")),
        EngineConfig(max_rounds=ROUNDS, **CFG),
    )
    m_ref = eng_s.run(WG.gen_seeds(N_SEEDS))
    assert [m["crawl_order"] for m in m_wire] == [m["crawl_order"] for m in m_ref]
    assert [m["urls_popped"] for m in m_wire] == [m["urls_popped"] for m in m_ref]


def test_c4_extraction_over_the_wire(spark, webserver):
    """C4's pluggable extractor seam driven over a REAL wire: the per-chunk
    model call goes to an HTTP endpoint through the pooled client, and the
    merged extraction equals the in-process stub byte-for-byte — plus the
    endpoint was hit exactly once per (doc, chunk)."""
    from deepcrawl4ai_spark.multimodal.media import (
        extract_structured,
        make_http_extractor,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", ("word%d " % i) * 400) for i in range(12)],
        "doc_id string, text string",
    )
    fields = ["title", "price"]
    local = {
        r["doc_id"]: (r["extracted"], r["n_chunks"])
        for r in extract_structured(docs, fields).collect()
    }
    before = webserver.n_extracts
    wire = {
        r["doc_id"]: (r["extracted"], r["n_chunks"])
        for r in extract_structured(
            docs, fields, extractor=make_http_extractor(webserver.base)
        ).collect()
    }
    assert wire == local and len(wire) == 12
    total_chunks = sum(n for _, n in local.values())
    assert webserver.n_extracts - before == total_chunks  # one call per chunk


def test_c4_concurrent_chunk_extraction(spark):
    """VERDICT r4 #5: chunk extraction fans out over the bounded pool. With
    a 100 ms/model-call endpoint and ~23 chunks per doc, concurrency=8 must
    (a) produce byte-equal merged output to the sequential wire path, (b)
    hit the endpoint exactly once per chunk, (c) actually overlap — the
    server-observed max in-flight ≥ 4 (load-independent, unlike a
    wall-clock bound)."""
    from deepcrawl4ai_spark.multimodal.media import (
        extract_structured,
        make_http_extractor,
    )

    docs = spark.createDataFrame(
        [("dbig", "tok%d " % 7 * 4000)], "doc_id string, text string"
    )
    fields = ["title", "price"]
    with SyntheticWebServer(extract_delay_s=0.1) as srv:
        seq = extract_structured(
            docs, fields, extractor=make_http_extractor(srv.base)
        ).collect()
        n_chunks = seq[0]["n_chunks"]
        assert n_chunks >= 16
        before = srv.n_extracts
        conc = extract_structured(
            docs, fields, extractor=make_http_extractor(srv.base), concurrency=8
        ).collect()
        assert srv.n_extracts - before == n_chunks  # exactly once per chunk
        assert srv.extract_max_active >= 4, srv.extract_max_active
    assert conc[0]["extracted"] == seq[0]["extracted"]  # byte-equal merge
    assert conc[0]["n_chunks"] == n_chunks


def test_robots_fill_fanout(spark):
    """VERDICT r4 #3: the robots-cache fill fans out through the same
    bounded pool as the page fetch. 48 hosts through ONE partition against
    a 50 ms origin: the server-observed robots in-flight peak is 1 at width
    1 and ≥ 4 at width 10 (load-independent, unlike a wall-clock ratio),
    with byte-identical dim rows."""
    from deepcrawl4ai_spark.frontier import fetcher as FE

    hosts = WG.hosts()[:48]
    hdf = spark.createDataFrame([(h,) for h in hosts], "host string").repartition(1)

    def run(srv, conc):
        FE.pool_reset()
        t = {"kind": "http", "base": srv.base, "concurrency": conc}
        return sorted(
            (r.asDict(recursive=True) for r in FE.fetch_robots_df(hdf, t).collect()),
            key=lambda r: r["host"],
        )

    with SyntheticWebServer(robots_delay_s=0.05) as srv:
        rows_seq = run(srv, 1)
        peak_seq = srv.robots_max_active
        rows_fan = run(srv, 10)
        peak_fan = srv.robots_max_active
    assert rows_fan == rows_seq and len(rows_fan) == len(hosts)
    assert peak_seq == 1, peak_seq
    assert peak_fan >= 4, peak_fan
    FE.pool_reset()


def test_per_host_concurrency_cap():
    """ADVICE r4: transport["per_host_concurrency"] bounds a worker's
    instantaneous per-host in-flight requests. The witness is the SERVER's
    per-host in-flight gauge (load-independent — wall-clock ratios flake
    under full-suite CPU contention): 12 same-host URLs at width 10 with a
    100 ms origin must show max in-flight ≥ 4 uncapped and ≤ 2 with cap=2,
    with byte-equal results and an exactly-once wire audit both ways."""
    import pandas as pd

    from deepcrawl4ai_spark.frontier import fetcher as FE

    urls = [WG.page_url(0, j) for j in range(12)]
    host = urls[0].split("://")[1].split("/")[0]
    pdf = pd.DataFrame(
        {
            "url_norm": urls,
            "url_hash": [WG.sha1_hex(u) for u in urls],
            "host": [host] * len(urls),
            "depth": [0] * len(urls),
            "score": [0.0] * len(urls),
            "attempt": [0] * len(urls),
        }
    )

    def run(per_host):
        FE.pool_reset()
        with SyntheticWebServer(delay_s=0.1) as srv:
            fmap = FE.make_fetch_map(
                {
                    "kind": "http",
                    "base": srv.base,
                    "concurrency": 10,
                    "per_host_concurrency": per_host,
                }
            )
            out = pd.concat(list(fmap(iter([pdf]))), ignore_index=True)
            assert srv.n_requests == len(urls)
            peak = srv.host_max_inflight(host)
        return out, peak

    out_free, peak_free = run(0)
    out_cap, peak_cap = run(2)
    assert list(out_cap["url_norm"]) == urls
    assert [list(s) for s in out_cap["spans"]] == [list(s) for s in out_free["spans"]]
    assert peak_free >= 4, f"uncapped fan-out never overlapped: peak {peak_free}"
    assert peak_cap <= 2, f"cap not enforced on the wire: peak {peak_cap}"
    FE.pool_reset()

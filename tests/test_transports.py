"""Hermetic tests for the outward-facing transports: the smtplib
notification path (reference S7's real send, against a loopback SMTP
server) and the HTTP fetch mode of the driver-side listing scrape
(against a loopback http.server).  No external network is touched."""

from __future__ import annotations

import http.server
import os
import socket
import threading

import pytest

from aiesec_guc_spark.sinks.report import notify_if_nonempty, render_email_html
from aiesec_guc_spark.sinks.smtp import SMTPTransport, build_message


class MiniSMTPServer(threading.Thread):
    """Just enough RFC 5321 to receive one message from smtplib.
    With ``ssl_context`` the accepted socket is TLS-wrapped before the
    banner — SSL-on-connect, the smtplib.SMTP_SSL handshake."""

    def __init__(self, ssl_context=None) -> None:
        super().__init__(daemon=True)
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.messages: list[str] = []
        self.ssl_context = ssl_context

    def run(self) -> None:
        conn, _ = self.sock.accept()
        if self.ssl_context is not None:
            conn = self.ssl_context.wrap_socket(conn, server_side=True)
        reader = conn.makefile("rb")

        def send(line: str) -> None:
            conn.sendall(line.encode() + b"\r\n")

        send("220 mini ESMTP")
        data_mode, buf = False, []
        while True:
            raw = reader.readline()
            if not raw:
                break
            line = raw.decode().rstrip("\r\n")
            if data_mode:
                if line == ".":
                    self.messages.append("\n".join(buf))
                    buf, data_mode = [], False
                    send("250 OK")
                else:
                    buf.append(line)
                continue
            cmd = line.split(" ", 1)[0].upper()
            if cmd in ("HELO", "EHLO"):
                send("250 mini")
            elif cmd in ("MAIL", "RCPT"):
                send("250 OK")
            elif cmd == "DATA":
                data_mode = True
                send("354 end with .")
            elif cmd == "QUIT":
                send("221 bye")
                break
            else:
                send("250 OK")
        conn.close()
        self.sock.close()


def test_build_message_shape():
    msg = build_message("a@x", ["b@y", "c@z"], "Subj", "<p>hi</p>")
    assert msg["From"] == "a@x"
    assert msg["To"] == "b@y, c@z"
    assert msg["Subject"] == "Subj"
    assert "<p>hi</p>" in msg.as_string()


def test_smtp_transport_delivers_to_loopback_server():
    srv = MiniSMTPServer()
    srv.start()
    transport = SMTPTransport(
        host="127.0.0.1",
        port=srv.port,
        sender="pipeline@example.org",
        recipients=["dest@example.org"],
        subject="New Opportunities",
    )
    transport("<div class=\"card\">hello</div>")
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    delivered = srv.messages[0]
    assert "Subject: New Opportunities" in delivered
    assert "hello" in delivered


def test_guarded_sink_with_smtp_transport(spark):
    """notify_if_nonempty + SMTPTransport end-to-end: nonempty delta
    sends exactly one message; empty delta never opens a connection."""
    schema = (
        "opportunity_link string, title string, organization string, "
        "country string, duration string, premium string"
    )
    delta = spark.createDataFrame(
        [("http://x/1", "T1", "Org", "DE", "6w", "Yes")], schema
    )
    srv = MiniSMTPServer()
    srv.start()
    transport = SMTPTransport(
        "127.0.0.1", srv.port, "p@x", ["d@y"], subject="Delta report"
    )
    assert notify_if_nonempty(render_email_html(delta.toPandas()), send=transport)
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    # Non-ASCII card separators force a base64 content-transfer-
    # encoding, so parse the MIME body rather than grepping raw bytes.
    import email

    parsed = email.message_from_string(srv.messages[0])
    html_part = parsed.get_payload(0).get_payload(decode=True).decode()
    assert "<!DOCTYPE html>" in html_part
    assert "T1" in html_part

    empty = spark.createDataFrame([], schema)
    # Port is closed now — a connection attempt would raise; the count
    # guard must short-circuit before any socket is opened.
    assert not notify_if_nonempty(render_email_html(empty.toPandas()), send=transport)


PAGE_HTML = (
    '<html><body><div class="card"><h3><a href="http://x/%d">T%d</a></h3>'
    "<p>Org · DE · 6w</p></div></body></html>"
)


class _PageHandler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - stdlib naming
        from urllib.parse import parse_qs, urlparse

        page = int(parse_qs(urlparse(self.path).query).get("page", ["0"])[0])
        body = (PAGE_HTML % (page, page)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def http_server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PageHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/listings"
    srv.shutdown()
    srv.server_close()


def test_scrape_source_http_mode(spark, http_server):
    from aiesec_guc_spark.sources.listing_scrape import read_pages

    df = read_pages(spark, base_url=http_server, pages=3)
    rows = sorted(df.collect(), key=lambda r: r.page_id)
    assert [r.page_id for r in rows] == [1, 2, 3]
    for r in rows:
        assert f'href="http://x/{r.page_id}"' in r.html


def test_scrape_source_fixture_mode_unchanged(spark):
    from aiesec_guc_spark.sources.listing_scrape import read_pages

    df = read_pages(spark)
    assert df.count() > 0


CARD_PAGE = (
    '<html><body><div class="card">'
    '<h3><a href="/opportunity/%d">Role %d</a></h3>'
    '<span>Germany</span><span>6 weeks</span>'
    '<div class="org">Org %d</div>'
    "</div></body></html>"
)


class _CardHandler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - stdlib naming
        from urllib.parse import parse_qs, urlparse

        page = int(parse_qs(urlparse(self.path).query).get("page", ["0"])[0])
        body = (CARD_PAGE % (page * 100 + 1, page, page)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_cli_main_accepts_coherent_transport_flags_end_to_end(spark, tmp_path):
    """The happy-path twin of the parse-time flag-coherence guards
    (test_runner.py::test_cli_rejects_incoherent_flag_combinations):
    the same argparse entry with --base-url + valid --pages AND the
    SMTP flags must still compose the full pipeline over real loopback
    protocols after the validation change — guards reject incoherent
    combinations without taxing coherent ones."""
    from aiesec_guc_spark.run import main

    web = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CardHandler)
    threading.Thread(target=web.serve_forever, daemon=True).start()
    smtp = MiniSMTPServer()
    smtp.start()
    try:
        rc = main(
            [
                "--data-dir", str(tmp_path / "d"),
                "--out-dir", str(tmp_path / "o"),
                "--run-date", "2026-08-13",
                "--base-url", f"http://127.0.0.1:{web.server_port}/listings",
                "--pages", "2",
                "--smtp-host", "127.0.0.1",
                "--smtp-port", str(smtp.port),
                "--smtp-to", "team@example.org",
            ]
        )
    finally:
        web.shutdown()
        web.server_close()
    assert rc == 0
    smtp.join(timeout=10)
    assert len(smtp.messages) == 1  # first run: delta nonempty -> sent
    out_names = sorted(p.name for p in (tmp_path / "o").iterdir())
    assert len(out_names) == 2
    assert out_names[0].startswith("new_") and out_names[1].startswith("today_")


def test_pipeline_http_scrape_to_smtp_notify(spark, tmp_path):
    """The reference's full daily run over real protocols, hermetic:
    HTTP pagination → extract → snapshot → delta → styled report →
    SMTP notification, all against loopback servers."""
    from aiesec_guc_spark.run import run_pipeline

    web = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CardHandler)
    threading.Thread(target=web.serve_forever, daemon=True).start()
    smtp = MiniSMTPServer()
    smtp.start()
    try:
        transport = SMTPTransport(
            "127.0.0.1", smtp.port, "pipeline@x", ["team@y"], subject="New"
        )
        summary = run_pipeline(
            spark,
            data_dir=str(tmp_path / "data"),
            out_dir=str(tmp_path / "out"),
            run_date="2026-08-13",
            send=transport,
            base_url=f"http://127.0.0.1:{web.server_port}/listings",
            pages=2,
        )
    finally:
        web.shutdown()
        web.server_close()
    assert summary["rows_scraped"] == 2
    assert summary["delta_rows"] == 2  # first run: everything is new
    assert summary["notified"]
    smtp.join(timeout=10)
    assert len(smtp.messages) == 1
    assert os.path.exists(summary["report_path"])


def test_scrape_source_pluggable_render_fetcher(spark):
    """The fetcher seam (VERDICT r6 #7): an injectable renderer must
    run for every page and its HTML must flow through extract_cards —
    content the plain-HTTP/fixture paths cannot produce (the JS-only
    'Load more' case, aiesec.py:40-63)."""
    from aiesec_guc_spark.functions.html_cards import extract_cards
    from aiesec_guc_spark.sources.listing_scrape import read_pages

    def render_fetcher(page_id, base_url, timeout):
        # Content that exists only AFTER JS runs: each "rendered" card
        # carries a data-rendered attribute and nested markup that
        # neither the fixture set nor a plain HTTP GET produces.
        n_cards = 2
        cards = []
        for i in range(1, n_cards + 1):
            opp = 9000000 + page_id * 100 + i
            cards.append(
                f'<a data-rendered="true" href="/opportunity/global-talent/{opp}">'
                f"<h3>Rendered <b>Role {i}</b></h3>"
                f"<span>City {page_id}, Country</span><span>{i} Months</span>"
                f'<div class="org">JS <em>Org</em> {page_id}</div>'
                f'<div class="meta">{i} applicants</div></a>'
            )
        return cards

    df = read_pages(spark, fetcher=render_fetcher, pages=3)
    rows = df.collect()
    # 3 pages × 2 rendered cards, all carrying the renderer-only marker
    assert len(rows) == 6
    assert {r["page_id"] for r in rows} == {1, 2, 3}
    assert all('data-rendered="true"' in r["html"] for r in rows)

    # the rendered HTML flows through the extractor, nested markup and all
    cards = {r["opportunity_id"]: r.asDict() for r in extract_cards(df).collect()}
    assert len(cards) == 6
    c = cards["9000101"]
    assert c["title"] == "RenderedRole 1"
    assert c["organization"] == "JSOrg1"
    assert c["country"] == "City 1, Country"

    # neither non-renderer path can satisfy this content: fixtures have
    # no page 3, and no fixture card carries the renderer marker
    from aiesec_guc_spark.sources.listing_scrape import _fetch

    import pytest

    with pytest.raises(KeyError):
        _fetch(99)  # fixture path: page 99 does not exist
    assert all(
        'data-rendered="true"' not in h for h in _fetch(1)
    )


def test_smtp_ssl_on_connect_delivers_to_tls_loopback(tmp_path):
    """The reference's actual transport is smtplib.SMTP_SSL on 465
    (aiesec.py:245-247) — TLS from the first byte, no STARTTLS
    upgrade.  Real handshake against a TLS-wrapped loopback server
    with a throwaway self-signed certificate."""
    import ssl
    import subprocess

    key, crt = str(tmp_path / "k.pem"), str(tmp_path / "c.pem")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", crt, "-days", "1",
            "-subj", "/CN=127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    server_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server_ctx.load_cert_chain(crt, key)
    srv = MiniSMTPServer(ssl_context=server_ctx)
    srv.start()

    client_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    client_ctx.check_hostname = False
    client_ctx.verify_mode = ssl.CERT_NONE  # self-signed loopback only
    transport = SMTPTransport(
        host="127.0.0.1",
        port=srv.port,
        sender="pipeline@example.org",
        recipients=["dest@example.org"],
        subject="New Opportunities",
        security="ssl",
        ssl_context=client_ctx,
    )
    transport('<div class="card">over ssl</div>')
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    assert "over ssl" in srv.messages[0]


def test_smtp_security_mode_validation_and_alias():
    t = SMTPTransport("h", 1, "s@x", ["r@y"], security="bogus")
    with pytest.raises(ValueError):
        t("<p>x</p>")
    t3 = SMTPTransport("h", 1, "s@x", ["r@y"], security="ssl")
    assert t3._mode() == "ssl"


@pytest.mark.parametrize(
    "flags, security", [([], "none"), (["--smtp-tls"], "starttls")], ids=["plain", "smtp-tls"]
)
def test_cli_smtp_tls_builds_a_starttls_transport(monkeypatch, tmp_path, flags, security):
    """``--smtp-tls`` is the CLI's spelling of ``security="starttls"``;
    without it the transport sends in plain text."""
    import types

    from aiesec_guc_spark import run, session

    seen = {}
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
    )
    monkeypatch.setattr(session, "get_spark", lambda name: fake)
    monkeypatch.setattr(run, "run_pipeline", lambda *a, send=None, **kw: seen.update(send=send))
    rc = run.main(
        [
            "--data-dir", str(tmp_path / "d"),
            "--out-dir", str(tmp_path / "o"),
            "--run-date", "2026-08-13",
            "--smtp-host", "127.0.0.1",
            "--smtp-to", "team@example.org",
            *flags,
        ]
    )
    assert rc == 0
    assert isinstance(seen["send"], SMTPTransport)
    assert seen["send"]._mode() == security


class _FlakyPages:
    """A loopback listing site whose page ``p`` answers 503 for its
    first ``failures[p]`` requests (-1: always), then CARD_PAGE; it
    counts every request it answers."""

    def __init__(self, failures: dict[int, int]):
        self.failures = dict(failures)
        self.requests = 0
        lock = threading.Lock()
        site = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - stdlib naming
                from urllib.parse import parse_qs, urlparse

                page = int(parse_qs(urlparse(self.path).query)["page"][0])
                with lock:
                    site.requests += 1
                    left = site.failures.get(page, 0)
                    if left > 0:
                        site.failures[page] = left - 1
                status = 503 if left != 0 else 200
                body = b"busy" if status == 503 else (
                    CARD_PAGE % (page * 100 + 1, page, page)
                ).encode()
                self.send_response(status)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}/listings"

    def __enter__(self):
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()


def _run_date_dirs(data_dir) -> list[str]:
    snaps = os.path.join(data_dir, "snapshots")
    if not os.path.isdir(snaps):
        return []
    return [n for n in os.listdir(snaps) if n.startswith("run_date=")]


def test_scrape_groups_pages_into_at_most_default_parallelism(spark, http_server):
    """Pages are dealt into <= default_parallelism() partitions, each
    page in exactly one; the rows are the per-page fetches, and the
    fixture mode still yields exactly FIXTURE_CARDS."""
    from aiesec_guc_spark.session import default_parallelism
    from aiesec_guc_spark.sources.fixtures import FIXTURE_CARDS
    from aiesec_guc_spark.sources.listing_scrape import _fetch, read_pages

    n_pages = 3 * int(os.environ["SPARK_GRAFT_CPUS"]) + 1
    df = read_pages(spark, base_url=http_server, pages=n_pages)
    assert df.rdd.getNumPartitions() <= default_parallelism()
    rows = df.collect()
    assert sorted(r.page_id for r in rows) == list(range(1, n_pages + 1))
    expected = sorted(
        (p, html) for p in range(1, n_pages + 1) for html in _fetch(p, http_server)
    )
    assert sorted(map(tuple, rows)) == expected

    fixture_rows = read_pages(spark).collect()
    assert sorted(map(tuple, fixture_rows)) == sorted(FIXTURE_CARDS)


def test_run_pipeline_zero_pages_fails_at_planning(spark, tmp_path, http_server):
    """The Python API twin of the CLI's --pages guard: a live source
    with pages < 1 is refused with a ValueError naming ``pages`` before
    any fetch, so no snapshot partition is ever written."""
    from aiesec_guc_spark.run import run_pipeline

    data_dir = str(tmp_path / "data")
    with pytest.raises(ValueError, match="listing_scrape: pages must be >= 1"):
        run_pipeline(
            spark, data_dir, str(tmp_path / "out"), "2026-08-13",
            send=lambda body: None, base_url=http_server, pages=0,
        )
    assert _run_date_dirs(data_dir) == []


def test_scrape_retries_a_transient_503(spark):
    """One 503 on one page costs one extra request, not the day."""
    from aiesec_guc_spark.sources.listing_scrape import read_pages

    with _FlakyPages({2: 1}) as site:
        rows = read_pages(spark, base_url=site.url, pages=3).collect()
    assert sorted(r.page_id for r in rows) == [1, 2, 3]
    assert site.requests == 3 + 1


def test_scrape_page_that_keeps_failing_fails_the_day(spark, tmp_path):
    """Retries are bounded: a page that always answers 503 fails the
    run, and that day gets no (partial) snapshot partition."""
    from aiesec_guc_spark.run import run_pipeline

    data_dir = str(tmp_path / "data")
    with _FlakyPages({2: -1}) as site:
        with pytest.raises(Exception, match="503"):
            run_pipeline(
                spark, data_dir, str(tmp_path / "out"), "2026-08-13",
                send=lambda body: None, base_url=site.url, pages=3,
            )
    assert _run_date_dirs(data_dir) == []


def test_fetch_does_not_retry_4xx():
    """A 4xx answer is final: one request, then the error."""
    import urllib.error

    from aiesec_guc_spark.sources.listing_scrape import _fetch

    class NotFound(http.server.BaseHTTPRequestHandler):
        hits = 0

        def do_GET(self):  # noqa: N802 - stdlib naming
            NotFound.hits += 1
            self.send_error(404)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), NotFound)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with pytest.raises(urllib.error.HTTPError, match="404"):
            _fetch(1, f"http://127.0.0.1:{srv.server_port}/listings")
    finally:
        srv.shutdown()
        srv.server_close()
    assert NotFound.hits == 1


def test_read_pages_with_no_cards_is_an_empty_typed_frame(spark):
    from aiesec_guc_spark.sources.listing_scrape import read_pages

    df = read_pages(spark, fetcher=lambda page_id, base_url, timeout: [], pages=3)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("page_id", "int"),
        ("html", "string"),
    ]
    assert df.count() == 0


class _SizedPages:
    """A loopback listing site with one card per page whose size grows
    with the page number; ``day`` 2 gives every third page a new id."""

    def __init__(self):
        site = self
        self.day = 1

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - stdlib naming
                from urllib.parse import parse_qs, urlparse

                page = int(parse_qs(urlparse(self.path).query)["page"][0])
                body = (CARD_PAGE % (site.card_id(page), page, page)).encode()
                body = body.replace(b"</h3>", b"x" * (40 * page) + b"</h3>")
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}/listings"

    def card_id(self, page: int) -> int:
        return page * 100 + (2 if self.day == 2 and page % 3 == 0 else 1)

    def __enter__(self):
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_run_pipeline_lists_rows_in_page_order(spark, tmp_path):
    """Both workbooks and the email list the day's ids in the
    listing's page order — the reference's scrape order
    (aiesec.py:130-132) — on a first day and on a day with a
    yesterday, over more pages than there are cores."""
    import re

    from aiesec_guc_spark.run import run_pipeline
    from aiesec_guc_spark.sinks.xlsxlite import read_xlsx

    def ids(path):
        cols, rows = read_xlsx(path)
        return [row[cols.index("opportunity_id")] for row in rows]

    n_pages = 2 * int(os.environ["SPARK_GRAFT_CPUS"]) + 1
    with _SizedPages() as site:
        for day, run_date in ((1, "2026-08-13"), (2, "2026-08-14")):
            site.day = day
            bodies: list[str] = []
            summary = run_pipeline(
                spark, str(tmp_path / "data"), str(tmp_path / "out"), run_date,
                send=bodies.append, base_url=site.url, pages=n_pages,
            )
            listed = [str(site.card_id(p)) for p in range(1, n_pages + 1)]
            new = listed if day == 1 else [i for i in listed if i.endswith("02")]
            assert ids(summary["snapshot_report_path"]) == listed
            assert ids(summary["report_path"]) == new
            assert re.findall(r"/opportunity/(\d+)", bodies[0]) == new

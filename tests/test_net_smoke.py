"""S1 live-socket smoke leg (VERDICT r6 task 6): the REAL urllib
transport driven against a localhost http.server fixture — never the
internet. Until this file, the mock transport was the only executor of
the fetch path; these tests push real bytes through real sockets for the
reference behavior matrix (crawl/check_resources.py:56-206): HEAD kept
when "nice", HEAD→GET fallback when metadata is missing or status is
bad, error statuses recorded (not raised), gzip content-encoding headers
lowered into the row, and the timeout branch.

Gating: runs when loopback networking is available (probed at import) or
when SPARK_HYDRA_NET_TESTS=1 forces it; skips cleanly on machines whose
sandbox blocks even 127.0.0.1.
"""

from __future__ import annotations

import gzip
import os
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from udata_datalake_service_spark.plans.fetch import (
    REQUEST_TIMEOUT_S,
    _check_one,
    check_batch,
    urllib_transport,
)


def _loopback_available() -> bool:
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        s.bind(("127.0.0.1", 0))
        s.close()
        return True
    except OSError:
        return False


pytestmark = pytest.mark.skipif(
    not (os.environ.get("SPARK_HYDRA_NET_TESTS") == "1" or _loopback_available()),
    reason="no loopback networking (set SPARK_HYDRA_NET_TESTS=1 to force)",
)


class _Handler(BaseHTTPRequestHandler):
    """Behavior matrix endpoints (reference: crawl/check_resources.py)."""

    def _route(self, include_body: bool) -> None:
        if self.path == "/ok":
            body = b"hello world"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.send_header("Last-Modified", "Wed, 01 Jan 2026 00:00:00 GMT")
            self.end_headers()
            if include_body:
                self.wfile.write(body)
        elif self.path == "/no-meta":
            # HEAD gives neither content-length nor last-modified -> the
            # client must fall back to GET (crawl/helpers.py:47-53)
            self.send_response(200)
            if include_body:
                body = b"fallback body"
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.end_headers()
        elif self.path == "/gzip":
            raw = gzip.compress(b"gzipped payload bytes")
            self.send_response(200)
            self.send_header("Content-Encoding", "gzip")
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()
            if include_body:
                self.wfile.write(raw)
        elif self.path == "/moved":
            self.send_response(302)
            self.send_header("Location", "/ok")
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/moved-x":
            # cross-host hop: absolute Location to ANOTHER server
            # (the test sets server.cross_location, e.g. the TLS
            # fixture's https URL)
            self.send_response(302)
            self.send_header(
                "Location", getattr(self.server, "cross_location", "/ok")
            )
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/loop":
            # self-redirect: urllib gives up after max_redirections and
            # raises — the envelope must record, never raise
            self.send_response(302)
            self.send_header("Location", "/loop")
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/gone":
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/slow":
            time.sleep(float(self.headers.get("X-Sleep", "3")))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()
        else:
            self.send_response(500)
            self.send_header("Content-Length", "0")
            self.end_headers()

    def do_HEAD(self):  # noqa: N802
        self._route(False)

    def do_GET(self):  # noqa: N802
        self._route(True)

    def log_message(self, *args):  # silence per-request stderr lines
        pass


@pytest.fixture(scope="module")
def plain_srv():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def base_url(plain_srv):
    return f"http://127.0.0.1:{plain_srv.server_address[1]}"


@pytest.fixture(scope="module")
def tls_server(tmp_path_factory):
    """Self-signed HTTPS fixture (VERDICT r7 task 5): a real TLS handshake
    through ssl.SSLContext on loopback — cert generated in-process so the
    leg needs no fixture files. Yields (https_base_url, ca_pem_path)."""
    import datetime
    import ipaddress
    import ssl

    x509 = pytest.importorskip("cryptography.x509")
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(days=1))
        .not_valid_after(now + datetime.timedelta(days=365))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.IPv4Address("127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    d = tmp_path_factory.mktemp("tls")
    certfile, keyfile = d / "cert.pem", d / "key.pem"
    certfile.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    keyfile.write_bytes(
        key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.TraditionalOpenSSL,
            serialization.NoEncryption(),
        )
    )
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile, keyfile)
    srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"https://127.0.0.1:{srv.server_address[1]}", str(certfile)
    srv.shutdown()


def test_real_transport_head_kept_when_nice(base_url):
    row = _check_one(f"{base_url}/ok", urllib_transport)
    assert row["status"] == 200
    assert row["method"] == "head"  # nice HEAD: no GET issued
    assert row["headers"]["content-length"] == "11"
    assert "last-modified" in row["headers"]
    assert row["error"] is None and row["timeout"] is False
    assert row["response_time"] > 0


def test_real_transport_head_to_get_fallback(base_url):
    row = _check_one(f"{base_url}/no-meta", urllib_transport)
    assert row["status"] == 200
    assert row["method"] == "get"  # metadata-free HEAD forced the GET
    assert row["headers"].get("content-length") == "13"


def test_real_transport_error_status_recorded_not_raised(base_url):
    row = _check_one(f"{base_url}/gone", urllib_transport)
    # 404 is "not nice" -> GET fallback, which also 404s; the status is
    # DATA (check_resources records it), never an exception
    assert row["status"] == 404
    assert row["method"] == "get"
    assert row["timeout"] is False


def test_real_transport_follows_redirects(base_url):
    """3xx + Location is followed transparently (urllib default, matching
    the reference's aiohttp session): the recorded row carries the FINAL
    status and the final response's metadata."""
    row = _check_one(f"{base_url}/moved", urllib_transport)
    assert row["status"] == 200
    assert row["headers"]["content-length"] == "11"  # /ok's body


def test_real_transport_gzip_content_encoding_header(base_url):
    row = _check_one(f"{base_url}/gzip", urllib_transport)
    assert row["status"] == 200
    assert row["headers"]["content-encoding"] == "gzip"


def test_real_transport_timeout_branch(base_url):
    """A response slower than the deadline lands in the timeout branch
    (timeout=True, status NULL) — same 1 s-scaled shape as the
    reference's 5 s budget at check_resources.py:101."""

    def fast_timeout_transport(url: str, method: str):
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url, method=method.upper(), headers={"X-Sleep": "3"}
        )
        try:
            with urllib.request.urlopen(req, timeout=1.0) as resp:
                return resp.status, dict(resp.headers.items()), None
        except urllib.error.URLError as e:
            if isinstance(getattr(e, "reason", None), TimeoutError):
                raise TimeoutError(str(e)) from e
            return None, {}, str(e)

    row = _check_one(f"{base_url}/slow", fast_timeout_transport)
    assert row["timeout"] is True
    assert row["status"] is None
    assert 0.9 < row["response_time"] < REQUEST_TIMEOUT_S


def test_check_batch_distributed_real_sockets(spark, base_url):
    """The full S1 path: claimed batch -> check_batch's driver threads ->
    REAL urllib sockets back to the fixture server — connection
    handling, HEAD/GET verbs and header lowering all live."""
    batch = spark.createDataFrame(
        [
            ("r1", f"{base_url}/ok"),
            ("r2", f"{base_url}/no-meta"),
            ("r3", f"{base_url}/gone"),
            ("r4", f"{base_url}/gzip"),
        ],
        "resource_id string, url string",
    )
    rows = {r["resource_id"]: r for r in check_batch(batch, fan_out=2).collect()}
    assert rows["r1"]["status"] == 200 and rows["r1"]["method"] == "head"
    assert rows["r2"]["status"] == 200 and rows["r2"]["method"] == "get"
    assert rows["r3"]["status"] == 404
    assert rows["r4"]["headers"]["content-encoding"] == "gzip"
    assert all(r["domain"].startswith("127.0.0.1:") for r in rows.values())


# ----------------------------------------------------------- TLS legs ----
def test_tls_handshake_with_trusted_ca(tls_server):
    """S1 over real TLS: make_urllib_transport(cafile=...) completes the
    handshake against the self-signed fixture and the HEAD is kept when
    nice — the same envelope as the http legs, now through ssl."""
    from udata_datalake_service_spark.plans.fetch import make_urllib_transport

    url, ca = tls_server
    row = _check_one(f"{url}/ok", make_urllib_transport(cafile=ca))
    assert row["status"] == 200 and row["method"] == "head"
    assert row["headers"]["content-length"] == "11"
    assert row["error"] is None and row["timeout"] is False


def test_tls_cert_failure_recorded_as_check_error(tls_server):
    """The DEFAULT transport (system trust store) must refuse the
    self-signed cert — and the failure is DATA on the check row
    (status NULL, error mentioning the verify failure), never an
    exception (crawl/check_resources.py error matrix: ssl errors are
    recorded like connection errors)."""
    url, _ca = tls_server
    row = _check_one(f"{url}/ok", urllib_transport)
    assert row["status"] is None
    assert row["timeout"] is False
    assert "CERTIFICATE_VERIFY_FAILED" in (row["error"] or "")
    # HEAD failed un-nicely -> the envelope fell through to GET
    assert row["method"] == "get"


def test_cross_host_http_to_https_redirect(plain_srv, base_url, tls_server):
    """An http→https redirect ACROSS hosts (absolute Location to a
    different server:port) is followed transparently; the row carries the
    FINAL (https) response's status and metadata."""
    from udata_datalake_service_spark.plans.fetch import make_urllib_transport

    https_url, ca = tls_server
    plain_srv.cross_location = f"{https_url}/ok"
    row = _check_one(f"{base_url}/moved-x", make_urllib_transport(cafile=ca))
    assert row["status"] == 200
    assert row["headers"]["content-length"] == "11"  # the https /ok body
    assert row["error"] is None


def test_check_batch_distributed_tls(spark, tls_server):
    """The full S1 path over TLS: check_batch's threads share the
    cafile-carrying transport closure, each performing a real handshake
    back to the fixture — plus one row whose default-trust verification
    fails and lands as an error row, not an exception."""
    from udata_datalake_service_spark.plans.fetch import make_urllib_transport

    url, ca = tls_server
    batch = spark.createDataFrame(
        [("r1", f"{url}/ok"), ("r2", f"{url}/gone")],
        "resource_id string, url string",
    )
    rows = {
        r["resource_id"]: r
        for r in check_batch(
            batch, fan_out=2, transport=make_urllib_transport(cafile=ca)
        ).collect()
    }
    assert rows["r1"]["status"] == 200 and rows["r1"]["method"] == "head"
    assert rows["r2"]["status"] == 404
    # same batch through the DEFAULT trust store: every row is an error
    # row with the verify failure recorded, and the fetch still returns
    rows = check_batch(batch, fan_out=2).collect()
    assert all(r["status"] is None for r in rows)
    assert all("CERTIFICATE_VERIFY_FAILED" in (r["error"] or "") for r in rows)


def test_redirect_loop_recorded_not_raised(base_url):
    """A self-redirecting URL exhausts urllib's redirect budget; the
    check row must record the failure (error text mentioning redirect,
    or the 3xx status if the handler surfaces the last response) —
    never propagate an exception out of the envelope
    (crawl/check_resources.py records redirect storms as check errors)."""
    row = _check_one(f"{base_url}/loop", urllib_transport)
    assert row["timeout"] is False
    # either shape is a recorded outcome, not a raise:
    recorded_error = row["status"] is None and "redirect" in (row["error"] or "").lower()
    recorded_status = row["status"] is not None and 300 <= row["status"] < 400
    assert recorded_error or recorded_status, row


def test_dns_failure_recorded_as_check_error():
    """A hostname that cannot resolve is a first-class check outcome in
    the reference (crawl/check_resources.py:159-206 records
    ClientConnectorError rows); through the real transport the resolver
    failure must land in the row's error field, never raise. `.invalid`
    is reserved (RFC 2606) so resolution fails without leaving the box."""
    row = _check_one("http://does-not-exist.invalid/f.csv", urllib_transport)
    assert row["status"] is None and row["timeout"] is False
    err = (row["error"] or "").lower()
    assert any(s in err for s in ("name", "resolution", "resolve", "getaddrinfo")), row
    assert row["domain"] == "does-not-exist.invalid"


def test_connection_refused_recorded_as_check_error():
    """A closed port on a resolvable host: the TCP RST must come back as
    a recorded check error (the reference's connection-error branch),
    not an exception out of the envelope."""
    import socket

    # ADVICE r9: binding then releasing a port and assuming it stays
    # closed is racy — another process can rebind between release and
    # the check. Retry once on an unexpected outcome, and accept any
    # connection-layer error string as the fallback shape (the invariant
    # under test is "recorded, not raised", not the exact errno text).
    for _ in range(2):
        with socket.socket() as s:  # grab a port the OS just released
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        row = _check_one(f"http://127.0.0.1:{port}/f.csv", urllib_transport)
        if row["status"] is None and "refused" in (row["error"] or "").lower():
            break
    assert row["status"] is None and row["timeout"] is False
    err = (row["error"] or "").lower()
    assert any(s in err for s in ("refused", "connect", "connection")), row

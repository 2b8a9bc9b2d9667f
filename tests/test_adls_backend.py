"""AdlsBackend contract tests via an in-memory Azure Blob REST fake (no
network).

The backend covers the reference's Azure READ surface
(``rust/src/storage/azure.rs:115-201``: head/get/list with 404→NotFound) and
adds writes the reference leaves unimplemented (``azure.rs:199-209``) using
Azure's native ``If-None-Match: *`` conditional PUT as the atomic commit
point — the same lock-free design as the S3 backend. The fake transport pins
the REST wire contract (URLs, conditional headers, status mapping, list XML
+ marker pagination), and a replay test serves a log the engine wrote
itself through ``abfss://`` end to end (log layer — matching the reference
backend's read-only scope).
"""

from __future__ import annotations

import os
from email.utils import formatdate

import pytest

from delta_rs_spark.protocol.storage import (
    AdlsBackend,
    FileAlreadyExistsError,
    parse_table_uri,
    register_backend_factory,
)

URI = "abfss://fs@sa.dfs.core.windows.net/tables/t1"


class FakeAzureTransport:
    """In-memory Blob store speaking the subset of the Azure Blob REST API
    the backend uses. Records every request for wire-contract assertions."""

    def __init__(self):
        self.blobs: dict[str, bytes] = {}  # "container/key" -> data
        self.requests: list[tuple[str, str, dict]] = []
        self.page_size = 2  # tiny pages to force NextMarker pagination

    def request(self, method, url, headers, body):
        self.requests.append((method, url, dict(headers)))
        from urllib.parse import parse_qs, unquote, urlparse

        parsed = urlparse(url)
        assert parsed.netloc.endswith(".blob.core.windows.net"), url
        # real Azure rejects raw spaces/control chars in the request line —
        # the backend must percent-encode them
        assert " " not in parsed.path, f"unencoded space in URL path: {url}"
        qs = parse_qs(parsed.query)
        path = unquote(parsed.path).lstrip("/")  # container/key (decoded)
        if qs.get("comp") == ["list"]:
            return self._list(path.split("/")[0], qs)
        if method == "HEAD":
            if path not in self.blobs:
                return 404, {}, b""
            return 200, self._props(path), b""
        if method == "GET":
            if path not in self.blobs:
                return 404, {}, b""
            return 200, self._props(path), self.blobs[path]
        if method == "PUT" and "x-ms-copy-source" in headers:
            # server-side copy: the service moves the bytes, the request
            # carries none ("Copy Blob From URL" sync form)
            assert headers.get("x-ms-requires-sync") == "true"
            assert body is None
            src = unquote(urlparse(headers["x-ms-copy-source"]).path).lstrip("/")
            if src not in self.blobs:
                return 404, {}, b""
            self.blobs[path] = self.blobs[src]
            return 202, {"x-ms-copy-status": "success"}, b""
        if method == "PUT":
            assert headers.get("x-ms-blob-type") == "BlockBlob"
            if headers.get("If-None-Match") == "*" and path in self.blobs:
                return 409, {"x-ms-error-code": "BlobAlreadyExists"}, b""
            self.blobs[path] = body or b""
            return 201, {}, b""
        if method == "DELETE":
            if path not in self.blobs:
                return 404, {}, b""
            del self.blobs[path]
            return 202, {}, b""
        raise AssertionError(f"unexpected request {method} {url}")

    def _props(self, path):
        return {
            "Content-Length": str(len(self.blobs[path])),
            "Last-Modified": formatdate(1700000000, usegmt=True),
        }

    def _list(self, container, qs):
        prefix = qs.get("prefix", [""])[0]
        marker = qs.get("marker", [""])[0]
        names = sorted(
            k.split("/", 1)[1]
            for k in self.blobs
            if k.startswith(f"{container}/") and k.split("/", 1)[1].startswith(prefix)
        )
        if marker:
            names = [n for n in names if n > marker]
        page, rest = names[: self.page_size], names[self.page_size :]
        blobs_xml = "".join(
            f"<Blob><Name>{n}</Name><Properties>"
            f"<Content-Length>{len(self.blobs[f'{container}/{n}'])}</Content-Length>"
            f"<Last-Modified>{formatdate(1700000000, usegmt=True)}</Last-Modified>"
            f"</Properties></Blob>"
            for n in page
        )
        next_marker = f"<NextMarker>{page[-1]}</NextMarker>" if rest else ""
        xml = (
            '<?xml version="1.0" encoding="utf-8"?><EnumerationResults>'
            f"<Blobs>{blobs_xml}</Blobs>{next_marker}</EnumerationResults>"
        )
        return 200, {}, xml.encode()


@pytest.fixture()
def adls():
    fake = FakeAzureTransport()
    return AdlsBackend(client=fake), fake


def test_split_parses_reference_uri_shape(adls):
    backend, _ = adls
    # the exact URI form the reference parses (azure.rs test, :215-227)
    assert backend._split("abfss://fs@sa.dfs.core.windows.net/foo") == (
        "sa",
        "fs",
        "foo",
    )
    with pytest.raises(ValueError):
        backend._split("s3://bucket/key")


def test_head_get_and_404_mapping(adls):
    backend, fake = adls
    fake.blobs["fs/tables/t1/_delta_log/00000000000000000000.json"] = b"{}\n"
    meta = backend.head_obj(f"{URI}/_delta_log/00000000000000000000.json")
    assert meta.size == 3
    assert backend.get_obj(f"{URI}/_delta_log/00000000000000000000.json") == b"{}\n"
    with pytest.raises(FileNotFoundError):
        backend.head_obj(f"{URI}/_delta_log/missing.json")
    with pytest.raises(FileNotFoundError):
        backend.get_obj(f"{URI}/_delta_log/missing.json")


def test_list_paginates_with_markers(adls):
    backend, fake = adls
    for i in range(5):
        fake.blobs[f"fs/tables/t1/_delta_log/{i:020d}.json"] = b"x"
    names = [m.path.rsplit("/", 1)[-1] for m in backend.list_objs(f"{URI}/_delta_log")]
    assert names == [f"{i:020d}.json" for i in range(5)]
    list_calls = [u for m, u, _ in fake.requests if "comp=list" in u]
    assert len(list_calls) == 3  # 2+2+1 under page_size=2
    assert "marker=" in list_calls[1]


def test_conditional_put_is_the_commit_point(adls):
    backend, fake = adls
    src = f"{URI}/_delta_log/_commit_abc.json.tmp"
    dst = f"{URI}/_delta_log/00000000000000000001.json"
    fake.blobs["fs/tables/t1/_delta_log/_commit_abc.json.tmp"] = b"commit"
    backend.rename_obj_noreplace(src, dst)
    assert fake.blobs["fs/tables/t1/_delta_log/00000000000000000001.json"] == b"commit"
    assert "fs/tables/t1/_delta_log/_commit_abc.json.tmp" not in fake.blobs
    put = next(
        (m, u, h) for m, u, h in fake.requests if m == "PUT" and u.endswith("1.json")
    )
    assert put[2]["If-None-Match"] == "*"  # the atomicity guarantee


def test_conditional_put_conflict_keeps_src(adls):
    backend, fake = adls
    src = f"{URI}/_delta_log/_commit_def.json.tmp"
    dst = f"{URI}/_delta_log/00000000000000000001.json"
    fake.blobs["fs/tables/t1/_delta_log/_commit_def.json.tmp"] = b"mine"
    fake.blobs["fs/tables/t1/_delta_log/00000000000000000001.json"] = b"winner"
    with pytest.raises(FileAlreadyExistsError):
        backend.rename_obj_noreplace(src, dst)
    # loser's temp file stays for the caller's retry loop; winner untouched
    assert fake.blobs["fs/tables/t1/_delta_log/_commit_def.json.tmp"] == b"mine"
    assert fake.blobs["fs/tables/t1/_delta_log/00000000000000000001.json"] == b"winner"


def test_special_char_keys_roundtrip(adls):
    """Partition dirs like ``city=New York`` hold spaces/reserved chars: the
    backend must percent-encode the key, list prefix, and marker (the fake
    asserts no raw space reaches the request line) and decode list results
    so get/head/delete round-trip."""
    backend, fake = adls
    key = f"{URI}/city=New York/part-00000 (1).parquet"
    backend.put_obj(key, b"data")
    assert fake.blobs["fs/tables/t1/city=New York/part-00000 (1).parquet"] == b"data"
    assert backend.get_obj(key) == b"data"
    assert backend.head_obj(key).size == 4
    # three blobs under the space-y prefix → pagination with a space-y marker
    backend.put_obj(f"{URI}/city=New York/a 1", b"x")
    backend.put_obj(f"{URI}/city=New York/a 2", b"y")
    names = [m.path for m in backend.list_objs(f"{URI}/city=New York")]
    assert len(names) == 3
    assert backend.get_obj(names[0]) in (b"x", b"y", b"data")
    backend.delete_obj(key)
    assert not backend.exists(key)


def test_exists_on_directory_prefix(adls):
    backend, fake = adls
    assert not backend.exists(f"{URI}/_delta_log")
    fake.blobs["fs/tables/t1/_delta_log/00000000000000000000.json"] = b"{}"
    assert backend.exists(f"{URI}/_delta_log")


def test_engine_log_replay_through_abfss(adls, engine_log_table):
    """A log the engine wrote itself (v0-4, adds and removes), served over
    the mocked ADLS backend: version, active file set, and protocol
    must match the local read — log replay end to end through ``abfss://``."""
    backend, fake = adls
    src = engine_log_table
    for dirpath, _dirs, files in os.walk(os.path.join(src, "_delta_log")):
        for fname in files:
            full = os.path.join(dirpath, fname)
            rel = os.path.relpath(full, src).replace(os.sep, "/")
            with open(full, "rb") as fh:
                fake.blobs[f"fs/tables/t1/{rel}"] = fh.read()

    register_backend_factory("abfss", lambda uri: AdlsBackend(client=fake))
    try:
        from delta_rs_spark.table import DeltaTable

        t = DeltaTable.for_path(URI)
        local = DeltaTable.for_path(src)
        assert t.version == local.version == 4
        assert sorted(a.path for a in t.add_actions()) == sorted(
            a.path for a in local.add_actions()
        )
        assert t.snapshot.min_reader_version() == local.snapshot.min_reader_version()
    finally:
        from delta_rs_spark.protocol.storage import _BACKEND_FACTORIES

        _BACKEND_FACTORIES.pop("abfss", None)


def test_parse_table_uri_abfss_scheme(monkeypatch):
    monkeypatch.setenv("AZURE_STORAGE_SAS", "sv=x&sig=y")
    root, backend = parse_table_uri("abfss://fs@sa.dfs.core.windows.net/t/")
    assert root == "abfss://fs@sa.dfs.core.windows.net/t"
    assert isinstance(backend, AdlsBackend)


def test_shared_key_signing_shape(monkeypatch):
    """SharedKey HMAC per the published algorithm: signed x-ms headers,
    canonicalized resource with query params, account-prefixed signature."""
    import base64

    monkeypatch.delenv("AZURE_STORAGE_SAS", raising=False)
    monkeypatch.setenv("AZURE_STORAGE_KEY", base64.b64encode(b"secret").decode())
    monkeypatch.setenv("AZURE_STORAGE_ACCOUNT", "sa")
    from delta_rs_spark.protocol.storage import _AzureRestTransport

    tr = _AzureRestTransport()
    auth = tr._shared_key_auth(
        "GET",
        "https://sa.blob.core.windows.net/fs?restype=container&comp=list&prefix=p/",
        {"x-ms-version": AdlsBackend.API_VERSION, "x-ms-date": "Thu, 01 Jan 2026 00:00:00 GMT"},
        None,
    )
    assert auth.startswith("SharedKey sa:")
    sig = auth.split(":", 1)[1]
    assert base64.b64decode(sig)  # well-formed base64 signature


def test_copy_obj_is_server_side_copy():
    fake = FakeAzureTransport()
    b = AdlsBackend(client=fake)
    src = f"{URI}/.tmp/part-0.parquet"
    dst = f"{URI}/part-final.parquet"
    b.put_obj(src, b"PAYLOAD")
    fake.requests.clear()
    b.copy_obj(src, dst)
    assert b.get_obj(dst) == b"PAYLOAD"
    copy_reqs = [r for r in fake.requests if r[0] == "PUT"]
    assert len(copy_reqs) == 1
    assert "x-ms-copy-source" in copy_reqs[0][2]
    with pytest.raises(FileNotFoundError):
        b.copy_obj(f"{URI}/missing", f"{URI}/x")

"""Clean-room WARC (ISO 28500 / WARC/1.0) reader and writer.

The north-star input is Common-Crawl-style web pages, and Common Crawl
ships as WARC: concatenated records, each a ``WARC/1.0`` header block
(CRLF-terminated ``Name: value`` fields), an empty line, ``Content-
Length`` octets of content block, and a CRLF CRLF record separator —
optionally with every record its own gzip member (the CC convention, so
a reader can seek to a record and inflate just it).  This module
implements both directions from the public spec, stdlib-only:

- ``encode_warc(records, gzip_each)`` -> WARC file bytes (used by tests
  and the oracle query to synthesize inputs — the same roundtrip-under-
  value-hash-gate discipline as the PNG/JPEG/AVI codecs);
- ``parse_warc(data)`` -> list of (headers dict, payload bytes), multi-
  member gzip detected by magic and inflated member-by-member;
- ``decode_warc(df)`` -> one row per RECORD of an ``(id, warc)`` blob with the
  standard fields typed out — the Spark ingestion stage.

Scale shape: one Arrow-batched ``mapInPandas`` stage (a WARC file's
records never span tasks — the explode happens inside the worker), no
shuffle; a 100 TB crawl is ``spark.read`` over the blob column +
this stage, then everything downstream is columnar.  Reference parity:
the reference reads its corpus with LangChain document loaders
(``kg_creator/src/utils.py``) — WARC is the at-scale equivalent surface
for the same (url, text) contract.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Dict, Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame

_CRLF = b"\r\n"

#: output schema of :func:`decode_warc`
WARC_SCHEMA = (
    "id long, rec_idx long, warc_type string, target_uri string, "
    "warc_date string, record_id string, content_length long, "
    "payload binary"
)


def encode_warc(
    records: List[Tuple[Dict[str, str], bytes]],
    gzip_each: bool,
) -> bytes:
    """Serialize (headers, payload) records to WARC/1.0 bytes.

    ``Content-Length`` is computed (never trusted from the caller);
    header order is the sorted field name list after the mandatory
    ``WARC-Type`` so output is byte-deterministic.  With ``gzip_each``
    every record becomes its own gzip member (mtime pinned to 0 for
    determinism), the Common-Crawl layout."""
    out = []
    for headers, payload in records:
        h = dict(headers)
        h["Content-Length"] = str(len(payload))
        lines = [b"WARC/1.0"]
        if "WARC-Type" in h:
            lines.append(f"WARC-Type: {h.pop('WARC-Type')}".encode())
        for k in sorted(h):
            lines.append(f"{k}: {h[k]}".encode())
        rec = (
            _CRLF.join(lines)
            + _CRLF * 2
            + payload
            + _CRLF * 2
        )
        if gzip_each:
            buf = io.BytesIO()
            with gzip.GzipFile(
                fileobj=buf, mode="wb", mtime=0
            ) as gz:
                gz.write(rec)
            rec = buf.getvalue()
        out.append(rec)
    return b"".join(out)


def _inflate_members(data: bytes) -> bytes:
    """Concatenated gzip members -> concatenated plaintext (the CC
    per-record-member layout; a single member or already-plain input
    passes through unchanged)."""
    if not data.startswith(b"\x1f\x8b"):
        return data
    out, rest = [], data
    while rest.startswith(b"\x1f\x8b"):
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(rest))
        out.append(d.flush())
        rest = d.unused_data
    if rest:
        raise ValueError("trailing garbage after gzip members")
    return b"".join(out)


def parse_warc(data: bytes) -> List[Tuple[Dict[str, str], bytes]]:
    """WARC file bytes -> list of (headers, payload), in record order.

    Strict on the spec invariants that matter for integrity (version
    line, Content-Length present and honored, CRLF CRLF separators);
    header names are case-insensitive per RFC 9110 field semantics and
    returned Title-Cased as written."""
    data = _inflate_members(bytes(data))
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        end_hdr = data.find(_CRLF * 2, pos)
        if end_hdr < 0:
            raise ValueError("unterminated WARC header block")
        lines = data[pos:end_hdr].split(_CRLF)
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(
                f"bad WARC version line: {lines[0][:40]!r}"
            )
        headers: Dict[str, str] = {}
        for ln in lines[1:]:
            name, sep, val = ln.partition(b":")
            if not sep:
                raise ValueError(f"malformed header line {ln[:40]!r}")
            headers[name.strip().decode()] = val.strip().decode()
        cl_key = next(
            (k for k in headers if k.lower() == "content-length"), None
        )
        if cl_key is None:
            raise ValueError("record without Content-Length")
        clen = int(headers[cl_key])
        body_start = end_hdr + 4
        payload = data[body_start : body_start + clen]
        if len(payload) != clen:
            raise ValueError("truncated record content block")
        pos = body_start + clen
        if data[pos : pos + 4] != _CRLF * 2:
            raise ValueError("missing record separator")
        pos += 4
        records.append((headers, payload))
    return records


def _hget(headers: Dict[str, str], name: str) -> str:
    low = name.lower()
    for k, v in headers.items():
        if k.lower() == low:
            return v
    return None


def decode_warc(df: DataFrame) -> DataFrame:
    """Explode the ``warc`` file blobs of ``(id, warc)`` rows into typed
    records ->
    ``(id, rec_idx, warc_type, target_uri, warc_date, record_id,
    content_length, payload)``.

    One Arrow-batched ``mapInPandas`` stage; records of one file never
    cross tasks, so no shuffle.  NULL/empty blobs emit no rows (a blob
    with no records has nothing to say — the keyword-extraction
    contract); malformed blobs RAISE (silent skips hide corruption at
    crawl scale — filter upstream if best-effort is wanted)."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, types, uris, dates, rids, lens, bodies = (
                [], [], [], [], [], [], [], []
            )
            for rid_, blob in zip(pdf["id"], pdf["warc"]):
                if blob is None or len(blob) == 0:
                    continue
                for i, (hdrs, payload) in enumerate(
                    parse_warc(bytes(blob))
                ):
                    ids.append(rid_)
                    idxs.append(i)
                    types.append(_hget(hdrs, "WARC-Type"))
                    uris.append(_hget(hdrs, "WARC-Target-URI"))
                    dates.append(_hget(hdrs, "WARC-Date"))
                    rids.append(_hget(hdrs, "WARC-Record-ID"))
                    lens.append(len(payload))
                    bodies.append(payload)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "rec_idx": idxs,
                    "warc_type": types,
                    "target_uri": uris,
                    "warc_date": dates,
                    "record_id": rids,
                    "content_length": lens,
                    "payload": bodies,
                }
            )

    return df.select("id", "warc").mapInPandas(_parse, schema=WARC_SCHEMA)


def parse_http_payload(data: bytes) -> Tuple[int, Dict[str, str], bytes]:
    """An HTTP/1.x response message (the content block of a WARC
    ``response`` record) -> (status_code, headers, body bytes).

    Header names are returned lowercased (RFC 9110 field names are
    case-insensitive; lowercasing makes the charset lookup a plain dict
    get); repeated fields keep the LAST value.  Tolerates bare-LF line
    endings (real crawls contain them) and a missing body."""
    data = bytes(data)
    sep = data.find(b"\r\n\r\n")
    seplen = 4
    if sep < 0:
        sep = data.find(b"\n\n")
        seplen = 2
    if sep < 0:
        sep, seplen = len(data), 0
    head = data[:sep].replace(b"\r\n", b"\n").split(b"\n")
    status_line = head[0] if head else b""
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line: {status_line[:40]!r}")
    status = int(parts[1])
    headers: Dict[str, str] = {}
    for ln in head[1:]:
        name, sp, val = ln.partition(b":")
        if not sp:
            raise ValueError(f"malformed HTTP header {ln[:40]!r}")
        headers[name.strip().decode().lower()] = val.strip().decode(
            "latin-1"
        )
    return status, headers, data[sep + seplen :]


def _charset_of(content_type: str) -> str:
    for part in (content_type or "").split(";")[1:]:
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset":
            return v.strip().strip("\"'").lower() or "utf-8"
    return "utf-8"


def decode_http_responses(df: DataFrame) -> DataFrame:
    """The WARC response ``payload`` column of ``(id, payload)`` rows ->
    typed HTTP rows:
    ``(id, status, content_type, charset, body_text, body_len)``.

    ``body_text`` decodes with the declared charset (default utf-8) and
    falls back to latin-1 on decode errors (the crawl-robust order:
    latin-1 never fails, so every fetched page yields SOME text — the
    lang-id / quality operators downstream are the real gate).  One
    Arrow ``mapInPandas`` stage, per-payload Python, no shuffle."""
    import pandas as pd  # noqa: F811 (module-level import is for parse)

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sts, ctypes, chsets, texts, lens = [], [], [], [], [], []
            for rid, payload in zip(pdf["id"], pdf["payload"]):
                if payload is None:
                    continue
                status, headers, body = parse_http_payload(payload)
                ctype = headers.get("content-type", "")
                charset = _charset_of(ctype)
                try:
                    text = body.decode(charset)
                except (UnicodeDecodeError, LookupError):
                    charset = "latin-1"
                    text = body.decode("latin-1")
                ids.append(rid)
                sts.append(status)
                ctypes.append(ctype)
                chsets.append(charset)
                texts.append(text)
                lens.append(len(body))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "status": sts,
                    "content_type": ctypes,
                    "charset": chsets,
                    "body_text": texts,
                    "body_len": lens,
                }
            )

    return df.select("id", "payload").mapInPandas(
        _dec,
        schema="id long, status long, content_type string, "
        "charset string, body_text string, body_len long",
    )

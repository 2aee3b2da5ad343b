"""WARC (ISO 28500) crawl-archive source: the front door of a web-
scale training-data pipeline (Common Crawl ships everything as
``.warc.gz``).  From the public specs alone:

* **WARC record grammar** (ISO 28500 / IIPC warc-specifications):
  ``WARC/1.0 CRLF``, named-field headers (folded continuation lines
  per the grammar), empty line, exactly ``Content-Length`` block
  bytes, then ``CRLF CRLF`` separator.
* **gzip member framing** (RFC 1952): crawl archives concatenate one
  gzip member per record so readers can split; the parser loops
  ``zlib.decompressobj(16+15)`` over members (plain uncompressed WARC
  accepted too).
* **HTTP/1.1 message split** (RFC 7230): status line + headers +
  body for ``WARC-Type: response`` payload blocks; ``Transfer-
  Encoding: chunked`` is DECODED (hex size lines), ``Content-
  Encoding: gzip``/``deflate`` decompressed; other codings (``br``,
  ``zstd`` — no codec in this container) are named rejections.
* **HTML text extraction**: stdlib ``html.parser`` (WHATWG grammar)
  — script/style subtrees and comments dropped, character references
  decoded by the parser, whitespace collapsed to single spaces.

Reference-parity analogue: a container *reader* in the same sense as
the touch-binary scan (S1/S2,
/root/reference/src/touches/touch_reader.cpp:95-117) — structure from
the public spec, payloads handed to downstream stages untouched.

Scale posture: ``warc_records``/``warc_text_documents`` are ONE
Arrow-batched narrow stage (``mapInPandas``) per archive payload —
no shuffle, no driver bytes; at 100 TB each executor parses its own
archives and only the extracted fields ride the plan.  Corrupt or
truncated archives raise ``ValueError`` naming the defect (the codec
contract), never ``IndexError``/``struct.error``.
"""

from __future__ import annotations

import re
import zlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame, functions as F

_MAX_RECORDS = 1_000_000  # per-archive guard against lying framing


_GZ_CHUNK = 1 << 20  # feed zlib 1 MiB at a time — bounds unused_data


def gunzip_members(data: bytes) -> bytes:
    """Decompress CONCATENATED gzip members (RFC 1952 framing used by
    ``.warc.gz``) into one byte stream; non-gzip input passes through
    unchanged.  Trailing garbage after a member that is not another
    member is a named rejection.

    Real crawl archives hold one gzip member PER RECORD — tens of
    thousands per ~1 GB file — so the walk keeps an offset cursor over
    a zero-copy ``memoryview`` and feeds zlib bounded chunks: the
    member tail is never re-copied (``unused_data`` is at most one
    chunk), keeping total memcpy O(n) instead of O(members x n)."""
    if data[:2] != b"\x1f\x8b":
        return bytes(data)
    out = []
    mv = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(
                "warc: trailing bytes after the last gzip member are "
                "not a gzip member"
            )
        d = zlib.decompressobj(16 + 15)
        while not d.eof:
            if pos >= n:
                raise ValueError("warc: truncated gzip member")
            chunk = mv[pos : pos + _GZ_CHUNK]
            try:
                out.append(d.decompress(chunk))
            except zlib.error as e:
                raise ValueError(
                    f"warc: corrupt gzip member ({e})"
                ) from e
            pos += len(chunk)
        # the member ended inside the last chunk: step back over the
        # bytes zlib did not consume (<= one chunk by construction)
        pos -= len(d.unused_data)
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Named fields with folded-line continuation (ISO 28500 grammar /
    RFC 7230 obs-fold): a line starting with SP/HTAB continues the
    previous field value."""
    headers: dict[str, str] = {}
    last = None
    for raw in block.split(b"\r\n"):
        if not raw:
            continue
        if raw[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + raw.strip().decode("latin-1")
            continue
        name, sep, value = raw.partition(b":")
        if not sep:
            raise ValueError(
                f"warc: header line without ':' ({raw[:40]!r})"
            )
        last = name.strip().decode("latin-1").lower()
        headers[last] = value.strip().decode("latin-1")
    return headers


def parse_warc(data: bytes) -> list[dict]:
    """Parse one WARC archive (plain or ``.warc.gz``) into records:
    ``[{"type", "target_uri", "date", "record_id", "content_type",
    "block"}, ...]`` in file order.  Truncated records and malformed
    framing raise ``ValueError`` naming the defect."""
    d = gunzip_members(data)
    records: list[dict] = []
    pos = 0
    n = len(d)
    while pos < n:
        # tolerate extra record separators between records
        while pos < n and d[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        eol = d.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("warc: truncated version line")
        version = d[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"warc: expected WARC/ version line, got "
                f"{version[:20]!r}"
            )
        hdr_end = d.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError("warc: truncated record headers")
        headers = _parse_headers(d[eol + 2 : hdr_end])
        try:
            clen = int(headers["content-length"])
        except KeyError:
            raise ValueError("warc: record without Content-Length")
        except ValueError:
            raise ValueError(
                f"warc: non-numeric Content-Length "
                f"{headers['content-length']!r}"
            )
        if clen < 0 or hdr_end + 4 + clen > n:
            raise ValueError(
                f"warc: Content-Length {clen} runs past the archive "
                f"({n - hdr_end - 4} bytes left)"
            )
        block = d[hdr_end + 4 : hdr_end + 4 + clen]
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "record_id": headers.get("warc-record-id", ""),
                "content_type": headers.get("content-type", ""),
                # the cross-record link headers (ISO 28500 §5.7/§5.11):
                # `revisit` records reference their original capture via
                # WARC-Refers-To; `request` records pair to their
                # response via WARC-Concurrent-To.  None (not "") when
                # absent so the null lands in the DataFrame.
                "refers_to": headers.get("warc-refers-to"),
                "concurrent_to": headers.get("warc-concurrent-to"),
                "profile": headers.get("warc-profile"),
                "block": block,
            }
        )
        if len(records) > _MAX_RECORDS:
            raise ValueError("warc: archive exceeds record guard")
        pos = hdr_end + 4 + clen
    return records


def _dechunk(body: bytes) -> bytes:
    """RFC 7230 section 4.1 chunked transfer decoding: hex size line,
    chunk bytes, CRLF; terminated by a zero chunk (trailers, if any,
    are discarded)."""
    out = []
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("warc: truncated chunk size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        # strict hex only: int(x, 16) also accepts '-', '+' and '_',
        # and a negative size makes pos step backwards — an infinite
        # loop on one crafted record
        if not size_tok or not all(
            c in b"0123456789abcdefABCDEF" for c in size_tok
        ):
            raise ValueError(
                f"warc: bad chunk size {size_tok[:16]!r}"
            )
        size = int(size_tok, 16)
        if size == 0:
            return b"".join(out)
        start = eol + 2
        if start + size + 2 > len(body):
            raise ValueError("warc: truncated chunk body")
        out.append(body[start : start + size])
        if body[start + size : start + size + 2] != b"\r\n":
            raise ValueError("warc: chunk not terminated by CRLF")
        pos = start + size + 2


def http_response_parts(block: bytes) -> tuple[int, str, bytes]:
    """Split a ``WARC-Type: response`` payload block (an HTTP/1.1
    message, RFC 7230) into ``(status_code, content_type, body)``:
    chunked transfer decoded, gzip/deflate content-encodings
    decompressed, ``content_type`` lowercased with parameters
    stripped.  Unsupported content codings are rejected BY NAME."""
    status, ctype, _raw, body = _http_response_full(block)
    return status, ctype, body


def _http_response_full(block: bytes) -> tuple[int, str, str, bytes]:
    """:func:`http_response_parts` plus the RAW Content-Type header
    value (parameters intact) for charset sniffing."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("warc: http message without header terminator")
    head = block[:sep]
    body = block[sep + 4 :]
    eol = head.find(b"\r\n")
    status_line = head[:eol] if eol >= 0 else head
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(
            f"warc: bad http status line {status_line[:40]!r}"
        )
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(
            f"warc: non-numeric http status {parts[1][:10]!r}"
        )
    headers = _parse_headers(head[eol + 2 :]) if eol >= 0 else {}
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    coding = headers.get("content-encoding", "").strip().lower()
    if coding in ("gzip", "x-gzip"):
        # unlike the archive-level passthrough, a DECLARED gzip coding
        # without the RFC 1952 magic is a defect, not plain content
        if body[:2] != b"\x1f\x8b":
            raise ValueError(
                "warc: Content-Encoding: gzip body lacks the gzip "
                "magic"
            )
        body = gunzip_members(body)
    elif coding == "deflate":
        try:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                # some servers send raw deflate without the zlib
                # wrapper
                body = zlib.decompress(body, -15)
        except zlib.error as e:
            raise ValueError(
                f"warc: corrupt deflate body ({e})"
            ) from e
    elif coding and coding != "identity":
        raise ValueError(
            f"warc: content-encoding {coding!r} not supported (no "
            f"codec in this container) — identity/gzip/deflate are"
        )
    raw_ctype = headers.get("content-type", "")
    ctype = raw_ctype.split(";", 1)[0].strip().lower()
    return status, ctype, raw_ctype, body


_CHARSET_PARAM = re.compile(
    rb"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)\"?", re.I
)


def sniff_charset(headers_ctype: str, body: bytes) -> str:
    """Document charset, in the WHATWG precedence: a Unicode BOM,
    else the HTTP ``Content-Type`` charset parameter, else an HTML
    ``<meta charset>`` / http-equiv declaration in the
    first 1024 bytes (the WHATWG prescan window), else UTF-8.  An
    unknown label falls back to UTF-8 — decode errors are replaced,
    never raised (a broken page must not kill the corpus stage)."""
    import codecs

    def valid(label: str) -> str | None:
        try:
            codecs.lookup(label)
            return label
        except LookupError:
            return None

    # BOM FIRST (the WHATWG order): a UTF-8 BOM under a lying
    # charset=ISO-8859-1 header would otherwise decode to literal
    # mojibake prepended to every extracted text
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    m = _CHARSET_PARAM.search(headers_ctype.encode("latin-1", "replace"))
    if m:
        lab = valid(m.group(1).decode("latin-1"))
        if lab:
            return lab
    m = _CHARSET_PARAM.search(body[:1024])
    if m:
        lab = valid(m.group(1).decode("latin-1"))
        if lab:
            return lab
    return "utf-8"


class _TextExtractor(HTMLParser):
    """Visible-text collector: drops script/style/template subtrees
    and comments; the stdlib parser decodes character references."""

    _SKIP = {"script", "style", "template"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth and data.strip():
            self.chunks.append(data)


def html_text(payload: bytes | str, encoding: str = "utf-8") -> str:
    """Visible text of an HTML document: script/style/comments
    dropped, character references decoded, ALL whitespace runs
    collapsed to single spaces (the deterministic normalization the
    census oracles recompute)."""
    if isinstance(payload, (bytes, bytearray, memoryview)):
        payload = bytes(payload).decode(encoding, "replace")
    p = _TextExtractor()
    p.feed(payload)
    p.close()
    return re.sub(r"\s+", " ", " ".join(p.chunks)).strip()


_RECORDS_SCHEMA = (
    "doc_id long, rec_type string, target_uri string, warc_date string,"
    " content_type string, http_status int, body binary,"
    " record_id string, refers_to string, concurrent_to string,"
    " profile string"
)

_ERROR_POLICIES = ("strict", "skip", "quarantine")


def _check_errors_policy(errors: str) -> None:
    if errors not in _ERROR_POLICIES:
        raise ValueError(
            f"warc: errors={errors!r} is not one of {_ERROR_POLICIES}"
        )


def warc_records(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "strict",
    resolve_links: bool = False,
) -> DataFrame:
    """Explode WARC archive payloads into one row per record — ONE
    Arrow-batched narrow stage, no shuffle.  For ``response`` records
    the HTTP message is split (status/content-type/decoded body); for
    other record types ``http_status`` is null and ``body`` is the
    raw block.

    ``errors`` is the per-record policy for malformed input (real
    crawl archives ARE guaranteed to contain ``br``-coded responses,
    junk headers, truncated records — a 100 TB stage must not die on
    one of them): ``"strict"`` (default, the oracled-census contract)
    raises the named ``ValueError``; ``"skip"`` drops the offending
    record (or the whole archive when the WARC *framing* itself is
    broken — record boundaries cannot be trusted past a framing
    defect); ``"quarantine"`` does the same but emits one extra
    ``error string`` column — null on good rows, the ValueError text
    on a placeholder row per defect — so bad input is counted, not
    silently lost.

    ``resolve_links=True`` appends a ``link_resolved boolean`` column
    computed ARCHIVE-LOCALLY in this same stage (r18): record ids are
    only meaningful within their archive (ISO 28500), and the whole
    archive is parsed in one call here, so ``WARC-Refers-To`` /
    ``WARC-Concurrent-To`` resolution is a set lookup against the
    archive's emitted response ids — no join, no shuffle, no second
    parse of the corpus.  Semantics are exactly
    :func:`link_warc_records` over this function's output (true/false
    for records carrying a link header, null otherwise; targets that
    failed per-record policy and were dropped do not resolve); that
    join-based operator remains for record-grain frames that arrive
    WITHOUT archive locality."""
    _check_errors_policy(errors)
    quarantine = errors == "quarantine"
    schema = _RECORDS_SCHEMA + (", error string" if quarantine else "")
    if resolve_links:
        schema += ", link_resolved boolean"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "rec_type": [], "target_uri": [],
                "warc_date": [], "content_type": [],
                "http_status": [], "body": [], "record_id": [],
                "refers_to": [], "concurrent_to": [], "profile": [],
            }
            if quarantine:
                out["error"] = []
            if resolve_links:
                out["link_resolved"] = []

            def emit(did, rec_type=None, target_uri=None, warc_date=None,
                     content_type=None, http_status=None, body=None,
                     record_id=None, refers_to=None, concurrent_to=None,
                     profile=None, error=None, link_resolved=None):
                out["doc_id"].append(int(did))
                out["rec_type"].append(rec_type)
                out["target_uri"].append(target_uri)
                out["warc_date"].append(warc_date)
                out["content_type"].append(content_type)
                out["http_status"].append(http_status)
                out["body"].append(body)
                out["record_id"].append(record_id)
                out["refers_to"].append(refers_to)
                out["concurrent_to"].append(concurrent_to)
                out["profile"].append(profile)
                if quarantine:
                    out["error"].append(error)
                if resolve_links:
                    out["link_resolved"].append(link_resolved)

            def emit_archive(did, pending):
                # two-phase so forward links resolve too: the response
                # id set is taken over the records that actually emit
                # (a response dropped by the per-record policy cannot
                # be a link target — identical to joining against the
                # emitted frame)
                if resolve_links:
                    resp_ids = {
                        kw["record_id"] for kw in pending
                        if kw.get("rec_type") == "response"
                    }
                    for kw in pending:
                        # SQL-coalesce semantics: an empty-string link
                        # header is non-null (resolves false), so no
                        # Python `or` here
                        link = kw.get("refers_to")
                        if link is None:
                            link = kw.get("concurrent_to")
                        if link is not None:
                            kw["link_resolved"] = link in resp_ids
                for kw in pending:
                    emit(did, **kw)

            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                pending = []
                try:
                    records = parse_warc(bytes(payload))
                except ValueError as e:
                    if errors == "strict":
                        raise
                    if quarantine:
                        emit(did, error=str(e))
                    continue
                for rec in records:
                    status, ctype, body = None, rec["content_type"], \
                        rec["block"]
                    if rec["type"] == "response" and ctype.startswith(
                        "application/http"
                    ):
                        try:
                            status, ctype, body = http_response_parts(
                                rec["block"]
                            )
                        except ValueError as e:
                            if errors == "strict":
                                raise
                            if quarantine:
                                pending.append(dict(
                                    rec_type=rec["type"],
                                    target_uri=rec["target_uri"],
                                    warc_date=rec["date"],
                                    record_id=rec["record_id"],
                                    error=str(e),
                                ))
                            continue
                    pending.append(dict(
                        rec_type=rec["type"],
                        target_uri=rec["target_uri"],
                        warc_date=rec["date"], content_type=ctype,
                        http_status=status, body=body,
                        record_id=rec["record_id"],
                        refers_to=rec["refers_to"],
                        concurrent_to=rec["concurrent_to"],
                        profile=rec["profile"],
                    ))
                emit_archive(did, pending)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)


def link_warc_records(records: DataFrame) -> DataFrame:
    """Resolve the cross-record links inside each archive (ISO 28500):
    a ``revisit`` record's ``WARC-Refers-To`` and a ``request``
    record's ``WARC-Concurrent-To`` both name a ``response`` record's
    ``WARC-Record-ID`` in the same archive.  Adds ``link_resolved``:
    true/false for records that CARRY a link header, null otherwise.

    Scale shape: one equi-join on the composite key
    ``(doc_id, record_id)`` against the distinct response-id dimension
    of the SAME archive — record ids are only unique per archive, so
    ``doc_id`` rides the key and the join never crosses archives.  No
    broadcast assumption: both sides are record-grain."""
    link = F.coalesce(F.col("refers_to"), F.col("concurrent_to"))
    resp_ids = (
        records.filter(F.col("rec_type") == "response")
        .select("doc_id", F.col("record_id").alias("_target"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        records.withColumn("_target", link)
        .join(resp_ids, ["doc_id", "_target"], "left")
        .withColumn(
            "link_resolved",
            F.when(F.col("_target").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.coalesce(F.col("_hit"), F.lit(False))),
        )
        .drop("_target", "_hit")
    )


def warc_cdx_records(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "strict",
) -> DataFrame:
    """CDX index rows from WARC archives — the standard crawl index
    artifact (Common Crawl ships a CDX(J) index next to every WARC
    segment; readers seek by ``urlkey``).  One row per ``response``
    record: ``(surt, ts, url, mime, http_status, digest, length,
    doc_id)`` where ``surt`` is the sort-friendly URL key
    (functions/text.surt_key), ``ts`` the 14-digit WARC-Date
    timestamp, ``digest`` the engine's 64-bit content hash of the
    DECODED body (the repo's exact-dedup key — documented deviation
    from CDX's SHA1-base32, same role), ``length`` the decoded body
    byte length.

    Scale shape: the parse is the same ONE Arrow-batched narrow stage
    as :func:`warc_records`; the SURT key and timestamp are codegen'd
    column expressions on top.  Sort the output by (surt, ts) at
    write time to get the contiguous-host layout CDX readers expect —
    a range-partitioned sort, the standard Spark global-sort shape."""
    from parquet_converters_spark.functions.dedup import content_hash
    from parquet_converters_spark.functions.text import surt_key

    if errors == "quarantine":
        raise ValueError(
            "warc_cdx_records: errors='quarantine' is not meaningful "
            "for an index (a defect row has no urlkey) — use 'skip', "
            "or run warc_records directly to keep the error column"
        )
    recs = warc_records(df, payload_col, id_col, errors=errors)
    resp = recs.filter(F.col("rec_type") == "response")
    return resp.select(
        surt_key(F.col("target_uri")).alias("surt"),
        # 14 digits is the CDX timestamp contract — a WARC 1.1
        # fractional-second date must not leak extra digits
        F.substring(
            F.regexp_replace("warc_date", "[^0-9]", ""), 1, 14
        ).alias("ts"),
        F.col("target_uri").alias("url"),
        F.col("content_type").alias("mime"),
        "http_status",
        content_hash(F.col("body")).alias("digest"),
        F.length("body").cast("long").alias("length"),
        "doc_id",
    )


def warc_text_documents(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    errors: str = "strict",
    carry_cols: tuple = (),
) -> DataFrame:
    """The crawl-to-corpus front end in one narrow stage: WARC parse
    -> HTTP split -> HTML visible-text extraction.  One output row
    per ``response`` record: ``(doc_id, url, http_status,
    content_type, text)`` — ``text`` is extracted for ``text/html``,
    decoded as-is for other ``text/*`` types, and null otherwise
    (binary payloads belong to the media pipeline, not this one).

    ``errors``: same per-record policy as :func:`warc_records` —
    ``"strict"`` (oracled census), ``"skip"`` (drop the record, or
    the archive on a framing defect), ``"quarantine"`` (skip + an
    extra ``error string`` column naming each defect).  The
    ``warc2parquet`` CLI defaults to ``skip`` because real crawl
    archives always contain ``br``-coded responses and junk headers.

    ``carry_cols``: names of input columns copied verbatim onto every
    output record of their archive (e.g. an ingest timestamp the
    streaming dedup gate watermarks on) — the narrow stage stays
    join-free."""
    _check_errors_policy(errors)
    quarantine = errors == "quarantine"
    carried = [f for f in df.schema.fields if f.name in set(carry_cols)]
    missing = set(carry_cols) - {f.name for f in carried}
    if missing:
        raise ValueError(
            f"warc_text_documents: carry_cols not in input: "
            f"{sorted(missing)}"
        )
    own = {"doc_id", "url", "http_status", "content_type", "text"} | (
        {"error"} if quarantine else set()
    )
    clash = own & {f.name for f in carried}
    if clash:
        raise ValueError(
            f"warc_text_documents: carry_cols collide with output "
            f"columns: {sorted(clash)} — rename them on the input first"
        )
    schema = (
        "doc_id long, url string, http_status int, content_type string,"
        " text string"
    ) + (", error string" if quarantine else "") + "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in carried
    )
    carry_names = [f.name for f in carried]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "url": [], "http_status": [],
                "content_type": [], "text": [],
            }
            if quarantine:
                out["error"] = []
            for c in carry_names:
                out[c] = []

            def emit(did, url=None, http_status=None, content_type=None,
                     text=None, error=None, carry=()):
                out["doc_id"].append(int(did))
                out["url"].append(url)
                out["http_status"].append(http_status)
                out["content_type"].append(content_type)
                out["text"].append(text)
                if quarantine:
                    out["error"].append(error)
                for c, v in zip(carry_names, carry):
                    out[c].append(v)

            for did, payload, *carry in zip(
                pdf[id_col], pdf[payload_col],
                *[pdf[c] for c in carry_names],
            ):
                try:
                    records = parse_warc(bytes(payload))
                except ValueError as e:
                    if errors == "strict":
                        raise
                    if quarantine:
                        emit(did, error=str(e), carry=carry)
                    continue
                for rec in records:
                    if rec["type"] != "response":
                        continue
                    if not rec["content_type"].startswith(
                        "application/http"
                    ):
                        continue
                    try:
                        status, ctype, raw_ctype, body = (
                            _http_response_full(rec["block"])
                        )
                    except ValueError as e:
                        if errors == "strict":
                            raise
                        if quarantine:
                            emit(
                                did, url=rec["target_uri"],
                                error=str(e), carry=carry,
                            )
                        continue
                    enc = sniff_charset(raw_ctype, body)
                    if ctype == "text/html":
                        text = html_text(body, encoding=enc)
                    elif ctype.startswith("text/"):
                        text = re.sub(
                            r"\s+", " ",
                            body.decode(enc, "replace"),
                        ).strip()
                    else:
                        text = None
                    emit(
                        did, url=rec["target_uri"], http_status=status,
                        content_type=ctype, text=text, carry=carry,
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)

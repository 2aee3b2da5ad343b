"""WARC crawl-archive source (sources/warc.py): known-answer records
built by an INDEPENDENT test-side crafter (raw byte concatenation, no
shared helpers with the engine), HTTP decoding vectors, HTML
extraction cases, corrupt-stream sweeps, and the Spark stages.
"""

import random
import zlib

import pytest

from parquet_converters_spark.sources.warc import (
    gunzip_members,
    html_text,
    http_response_parts,
    parse_warc,
    warc_records,
    warc_text_documents,
)


def _gz(b, level=6):
    c = zlib.compressobj(level, zlib.DEFLATED, 16 + 15)
    return c.compress(b) + c.flush()


def _rec(wtype, block, uri=None, extra=b""):
    # independent crafter: literal bytes, headers in a DIFFERENT order
    # than the engine-side query crafter emits
    h = b"WARC/1.0\r\n"
    h += b"Content-Length: " + str(len(block)).encode() + b"\r\n"
    if uri:
        h += b"WARC-Target-URI: " + uri + b"\r\n"
    h += extra
    h += b"WARC-Type: " + wtype + b"\r\n"
    h += b"Content-Type: application/http; msgtype=response\r\n"
    h += b"WARC-Date: 2024-02-02T12:34:56Z\r\n"
    h += b"WARC-Record-ID: <urn:uuid:abc>\r\n\r\n"
    return h + block + b"\r\n\r\n"


def _http(status, ctype, body, extra=b""):
    return (
        b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype
        + b"\r\n" + extra + b"\r\n" + body
    )


HTML = (
    b"<html><head><title>Known Title</title>"
    b"<style>body{color:#000}</style><script>if(a<b){c()}</script>"
    b"</head><body>  <h1>Head &lt;1&gt;</h1>\n\n"
    b"<p>alpha\tbeta</p><!-- invisible --><template>nope</template>"
    b"<p>gamma &amp; delta</p></body></html>"
)
HTML_TEXT = "Known Title Head <1> alpha beta gamma & delta"


def test_parse_known_answer_plain():
    raw = _rec(b"response", _http(b"200 OK", b"text/html", HTML),
               uri=b"https://ex.org/a")
    rs = parse_warc(raw)
    assert len(rs) == 1
    r = rs[0]
    assert r["type"] == "response"
    assert r["target_uri"] == "https://ex.org/a"
    assert r["date"] == "2024-02-02T12:34:56Z"
    status, ctype, body = http_response_parts(r["block"])
    assert (status, ctype, body) == (200, "text/html", HTML)
    assert html_text(body) == HTML_TEXT


def test_parse_multi_member_gzip_and_mixed_records():
    info = _rec(b"warcinfo", b"software: t\r\n")
    req = _rec(b"request", b"GET / HTTP/1.1\r\n\r\n")
    resp = _rec(b"response", _http(b"404 Not Found", b"text/plain",
                                   b"gone"), uri=b"https://ex.org/b")
    gz = _gz(info) + _gz(req, level=1) + _gz(resp, level=9)
    rs = parse_warc(gz)
    assert [r["type"] for r in rs] == ["warcinfo", "request", "response"]
    status, ctype, body = http_response_parts(rs[2]["block"])
    assert (status, ctype, body) == (404, "text/plain", b"gone")
    # plain passthrough of the same bytes parses identically
    assert [r["type"] for r in parse_warc(info + req + resp)] \
        == ["warcinfo", "request", "response"]


def test_folded_header_and_crlf_tolerance():
    raw = _rec(b"response", _http(b"200 OK", b"text/plain", b"x"),
               uri=b"https://ex.org/c",
               extra=b"WARC-Concurrent-To: <urn:1>\r\n <urn:2>\r\n")
    rs = parse_warc(b"\r\n\r\n" + raw + b"\r\n")
    assert len(rs) == 1 and rs[0]["target_uri"] == "https://ex.org/c"


def test_http_chunked_and_content_encodings():
    # chunked with a chunk extension and a trailer
    body = b"7;ext=1\r\nchunk-a\r\n7\r\n and-b.\r\n0\r\nTrailer: x\r\n\r\n"
    st, ct, out = http_response_parts(
        _http(b"200 OK", b"text/plain", body,
              extra=b"Transfer-Encoding: chunked\r\n"))
    assert out == b"chunk-a and-b."
    d = zlib.compressobj(6, zlib.DEFLATED, -15)
    raw_deflate = d.compress(b"zzz") + d.flush()
    # gzip and both deflate flavors, each asserted on ITS OWN output
    for enc, payload in (
        (b"gzip", _gz(b"zzz")),
        (b"deflate", zlib.compress(b"zzz")),
        (b"deflate", raw_deflate),
    ):
        st, ct, out = http_response_parts(
            _http(b"200 OK", b"text/plain", payload,
                  extra=b"Content-Encoding: " + enc + b"\r\n"))
        assert out == b"zzz", enc
    # unsupported coding is a NAMED rejection
    with pytest.raises(ValueError, match="br"):
        http_response_parts(
            _http(b"200 OK", b"text/plain", b"??",
                  extra=b"Content-Encoding: br\r\n"))
    # corrupt bodies under DECLARED codings reject by name, never
    # zlib.error / silent passthrough
    with pytest.raises(ValueError, match="deflate"):
        http_response_parts(
            _http(b"200 OK", b"text/plain", b"\x00garbage",
                  extra=b"Content-Encoding: deflate\r\n"))
    with pytest.raises(ValueError, match="magic"):
        http_response_parts(
            _http(b"200 OK", b"text/plain", b"not-gzip",
                  extra=b"Content-Encoding: gzip\r\n"))
    # negative / malformed chunk sizes reject instead of looping
    for bad in (b"-6\r\nAA\r\n0\r\n\r\n", b"0x5\r\nAAAAA\r\n0\r\n\r\n",
                b"1_0\r\n" + b"A" * 16 + b"\r\n0\r\n\r\n"):
        with pytest.raises(ValueError, match="chunk"):
            http_response_parts(
                _http(b"200 OK", b"text/plain", bad,
                      extra=b"Transfer-Encoding: chunked\r\n"))


def test_html_text_cases():
    assert html_text(b"<p>a</p><p>b</p>") == "a b"
    assert html_text(b"a &lt;tag&gt; &#65;") == "a <tag> A"
    assert html_text(b"<script>x<y</script>ok<style>a{}</style>") == "ok"
    assert html_text(b"  lots\n\n of \t space  ") == "lots of space"
    assert html_text(b"") == ""


def test_corrupt_archives_raise_valueerror_by_name():
    base = _rec(b"response", _http(b"200 OK", b"text/plain", b"ok"))
    cases = [
        (b"HTTP/1.0 not a warc", "version"),
        (base[:25], "truncated"),
        (base.replace(b"Content-Length: ", b"Content-Length: 9999",
                      1), "runs past"),
        (_gz(base)[:-4], "gzip"),
        (_gz(base) + b"garbage", "gzip"),
    ]
    for raw, frag in cases:
        with pytest.raises(ValueError, match=frag):
            parse_warc(raw)
    # random single-byte mutation sweep over the header region: the
    # contract is ValueError or clean parse, never IndexError
    rng = random.Random(5)
    for _ in range(60):
        mutated = bytearray(base)
        mutated[rng.randrange(0, 120)] = rng.randrange(256)
        try:
            parse_warc(bytes(mutated))
        except ValueError:
            pass


def test_warc_records_stage(spark):
    resp = _rec(b"response", _http(b"200 OK", b"text/html", HTML),
                uri=b"https://ex.org/a")
    info = _rec(b"warcinfo", b"software: t\r\n")
    df = spark.createDataFrame(
        [(1, bytearray(info + resp)), (2, bytearray(_gz(resp)))],
        "doc_id long, payload binary",
    )
    rows = warc_records(df).collect()
    assert len(rows) == 3
    byid = {}
    for r in rows:
        byid.setdefault(r["doc_id"], []).append(r)
    assert {r["rec_type"] for r in byid[1]} == {"warcinfo", "response"}
    resp1 = [r for r in byid[1] if r["rec_type"] == "response"][0]
    assert resp1["http_status"] == 200
    assert resp1["content_type"] == "text/html"
    assert bytes(resp1["body"]) == HTML
    assert byid[2][0]["http_status"] == 200


def test_warc_text_documents_stage(spark):
    resp_html = _rec(b"response", _http(b"200 OK", b"text/html", HTML),
                     uri=b"https://ex.org/h")
    resp_txt = _rec(b"response",
                    _http(b"404 Not Found", b"text/plain", b"miss  here"),
                    uri=b"https://ex.org/t")
    resp_bin = _rec(b"response",
                    _http(b"200 OK", b"image/png", b"\x89PNG...."),
                    uri=b"https://ex.org/i")
    df = spark.createDataFrame(
        [(9, bytearray(resp_html + resp_txt + resp_bin))],
        "doc_id long, payload binary",
    )
    rows = {r["url"]: r for r in warc_text_documents(df).collect()}
    assert rows["https://ex.org/h"]["text"] == HTML_TEXT
    assert rows["https://ex.org/t"]["text"] == "miss here"
    assert rows["https://ex.org/t"]["http_status"] == 404
    assert rows["https://ex.org/i"]["text"] is None


def test_gunzip_members_passthrough_and_guards():
    assert gunzip_members(b"plain") == b"plain"
    assert gunzip_members(_gz(b"a") + _gz(b"b")) == b"ab"
    with pytest.raises(ValueError, match="truncated"):
        gunzip_members(_gz(b"abcdef")[:-5])


def test_gunzip_members_many_members_and_big_member():
    # the Common Crawl shape: THOUSANDS of one-record members per
    # archive — the offset-cursor walk must stay O(n), and each
    # member's bytes must land in file order
    members = [f"rec-{i}|".encode() for i in range(5000)]
    blob = b"".join(_gz(m, level=1) for m in members)
    assert gunzip_members(blob) == b"".join(members)
    # a member larger than the feed chunk (1 MiB) exercises the
    # multi-chunk inner loop; follow it with a second member to prove
    # the cursor lands exactly on the next magic
    big = bytes(range(256)) * (9 * 4096)  # 9 MiB, compressible
    assert gunzip_members(_gz(big) + _gz(b"tail")) == big + b"tail"
    # mid-stream garbage between members still rejects by name
    with pytest.raises(ValueError, match="gzip"):
        gunzip_members(_gz(b"a") + b"junk" + _gz(b"b"))


def test_error_policies_skip_and_quarantine(spark):
    good = _rec(b"response", _http(b"200 OK", b"text/plain", b"fine"),
                uri=b"https://ex.org/good")
    br = _rec(b"response",
              _http(b"200 OK", b"text/html", b"\x00\x01",
                    extra=b"Content-Encoding: br\r\n"),
              uri=b"https://ex.org/br")
    broken = good.replace(b"Content-Length: ", b"Content-Length: 99999", 1)
    df = spark.createDataFrame(
        [(1, bytearray(good + br)), (2, bytearray(broken))],
        "doc_id long, payload binary",
    )
    # strict (default) dies on the first defect — the census contract
    with pytest.raises(Exception, match="br"):
        warc_text_documents(
            df.filter("doc_id = 1")).collect()
    # skip: the br record and the framing-broken archive vanish
    rows = warc_text_documents(df, errors="skip").collect()
    assert [(r["url"], r["text"]) for r in rows] \
        == [("https://ex.org/good", "fine")]
    assert "error" not in warc_text_documents(df, errors="skip").columns
    # quarantine: same survivors + one placeholder row per defect
    qrows = warc_text_documents(df, errors="quarantine").collect()
    good_rows = [r for r in qrows if r["error"] is None]
    bad_rows = sorted(
        (r for r in qrows if r["error"] is not None),
        key=lambda r: r["doc_id"],
    )
    assert [(r["url"], r["text"]) for r in good_rows] \
        == [("https://ex.org/good", "fine")]
    assert len(bad_rows) == 2
    assert bad_rows[0]["url"] == "https://ex.org/br"
    assert "br" in bad_rows[0]["error"]
    assert bad_rows[1]["doc_id"] == 2 and "runs past" in bad_rows[1]["error"]
    # warc_records takes the same policy
    rrows = warc_records(df, errors="quarantine").collect()
    assert sum(r["error"] is not None for r in rrows) == 2
    assert sum(r["error"] is None for r in rrows) == 1
    assert len(warc_records(df, errors="skip").collect()) == 1
    with pytest.raises(ValueError, match="errors"):
        warc_text_documents(df, errors="lenient")


def test_charset_sniffing_precedence_and_decode():
    from parquet_converters_spark.sources.warc import sniff_charset

    # WHATWG precedence: BOM > header param > meta prescan > utf-8
    assert sniff_charset("text/html; charset=ISO-8859-1",
                         b"\xef\xbb\xbf<meta charset=koi8-r>") \
        == "utf-8-sig"  # a lying header must not mojibake the BOM
    assert sniff_charset("text/html; charset=ISO-8859-1", b"plain") \
        == "ISO-8859-1"
    assert sniff_charset(
        "text/html",
        b'<head><meta http-equiv="Content-Type" '
        b'content="text/html; charset=windows-1251">') == "windows-1251"
    assert sniff_charset("text/html; charset=bogus-label", b"") == "utf-8"
    assert sniff_charset("", b"") == "utf-8"


def test_warc_text_documents_honors_charset(spark):
    latin = "<p>café über</p>".encode("latin-1")
    resp = _rec(
        b"response",
        _http(b"200 OK", b"text/html; charset=ISO-8859-1", latin),
        uri=b"https://ex.org/l1",
    )
    cyr = "абв где".encode("windows-1251")
    resp2 = _rec(
        b"response",
        _http(b"200 OK", b"text/plain; charset=windows-1251", cyr),
        uri=b"https://ex.org/l2",
    )
    df = spark.createDataFrame(
        [(1, bytearray(resp + resp2))], "doc_id long, payload binary"
    )
    rows = {r["url"]: r["text"] for r in warc_text_documents(df).collect()}
    assert rows["https://ex.org/l1"] == "café über"
    assert rows["https://ex.org/l2"] == "абв где"


def test_crawl_prep_funnel_stage_semantics(spark):
    """The composed funnel (r16 capstone): stages thin monotonically,
    the dedup stage keeps exactly one member per surviving text pair,
    and every count matches an independent recount from the flags."""
    from parquet_converters_spark.queries import crawl_prep_funnel

    rows = crawl_prep_funnel(spark, "/root/testdata/sf0.001").collect()
    assert [r["stage"] for r in rows] == [
        "responses", "http_ok", "robots_allowed", "min_length",
        "dedup_exact",
    ]
    ns = [r["n"] for r in rows]
    assert ns[0] == 500 and all(a >= b for a, b in zip(ns, ns[1:]))
    assert ns[4] < ns[3]  # dedup has real work (shared-text pairs)
    # independent recount of the closed-form flags
    ok = oa = oal = 0
    groups = {}
    for did in range(500):
        v, p, g = did % 6, did % 5, did // 2
        f_ok = v not in (1, 5)
        f_al = not ((v == 0 and p == 1) or (v == 1 and p == 2)
                    or (v == 2 and p != 0) or (v == 4 and p == 3)
                    or v == 5)
        a, b, c = ((g * 31 + 1) % 1000, (g * 31 + 2) % 1000,
                   (g * 31 + 3) % 1000)
        f_len = len(f"t{g} w{a} & w{b} w{c}") >= 17
        ok += f_ok
        oa += f_ok and f_al
        if f_ok and f_al and f_len:
            oal += 1
            groups.setdefault(g, []).append(did)
    assert (ns[1], ns[2], ns[3], ns[4]) == (ok, oa, oal, len(groups))


def test_warc_revisit_and_request_pairing(spark):
    """ISO 28500 cross-record links (r17): revisit records reference
    their original capture via WARC-Refers-To, requests pair to their
    response via WARC-Concurrent-To; link_warc_records resolves both
    WITHIN the archive (doc_id rides the join key, so identical record
    ids in different archives never cross-match)."""
    from parquet_converters_spark.sources.warc import link_warc_records

    # _rec stamps every record WARC-Record-ID: <urn:uuid:abc> — the
    # archive-1 response therefore owns that id
    resp = _rec(b"response", _http(b"200 OK", b"text/html", b"<p>v1</p>"),
                uri=b"https://ex.org/a")
    req = _rec(b"request", b"GET /a HTTP/1.1\r\n\r\n",
               uri=b"https://ex.org/a",
               extra=b"WARC-Concurrent-To: <urn:uuid:abc>\r\n")
    revisit_hit = _rec(b"revisit", b"HTTP/1.1 200 OK\r\n\r\n",
                       uri=b"https://ex.org/a",
                       extra=b"WARC-Refers-To: <urn:uuid:abc>\r\n"
                             b"WARC-Profile: http://netpreserve.org/"
                             b"warc/1.0/revisit/identical-payload-"
                             b"digest\r\n")
    revisit_miss = _rec(b"revisit", b"HTTP/1.1 304 Not Modified\r\n\r\n",
                        uri=b"https://ex.org/a",
                        extra=b"WARC-Refers-To: <urn:gone>\r\n")
    # archive 2 holds ONLY the revisit: its <urn:uuid:abc> target
    # exists in archive 1, not here — must stay unresolved
    df = spark.createDataFrame(
        [(1, bytearray(resp + req + revisit_hit + revisit_miss)),
         (2, bytearray(revisit_hit))],
        "doc_id long, payload binary",
    )
    rows = link_warc_records(warc_records(df)).collect()
    assert len(rows) == 5
    by = {(r["doc_id"], r["rec_type"], r["refers_to"]): r for r in rows}
    assert by[(1, "response", None)]["link_resolved"] is None
    assert by[(1, "request", None)]["link_resolved"] is True
    hit1 = by[(1, "revisit", "<urn:uuid:abc>")]
    assert hit1["link_resolved"] is True
    assert hit1["profile"].endswith("identical-payload-digest")
    assert by[(1, "revisit", "<urn:gone>")]["link_resolved"] is False
    assert by[(2, "revisit", "<urn:uuid:abc>")]["link_resolved"] is False


def test_warc_link_resolution_by_record_id(spark):
    """Pairing against the REAL record id resolves; a dangling id or a
    cross-archive id does not."""
    from parquet_converters_spark.sources.warc import link_warc_records

    def rec(wtype, rid, extra=b""):
        block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nok"
                 if wtype != b"request" else b"GET / HTTP/1.1\r\n\r\n")
        h = b"WARC/1.0\r\n"
        h += b"Content-Length: " + str(len(block)).encode() + b"\r\n"
        h += b"WARC-Type: " + wtype + b"\r\n"
        h += b"WARC-Record-ID: " + rid + b"\r\n"
        h += extra
        h += b"Content-Type: application/http; msgtype=response\r\n\r\n"
        return h + block + b"\r\n\r\n"

    a1 = (rec(b"response", b"<urn:r1>")
          + rec(b"request", b"<urn:q1>",
                b"WARC-Concurrent-To: <urn:r1>\r\n")
          + rec(b"revisit", b"<urn:v1>", b"WARC-Refers-To: <urn:r1>\r\n")
          + rec(b"revisit", b"<urn:v2>",
                b"WARC-Refers-To: <urn:nowhere>\r\n"))
    a2 = rec(b"revisit", b"<urn:v3>", b"WARC-Refers-To: <urn:r1>\r\n")
    df = spark.createDataFrame(
        [(10, bytearray(a1)), (20, bytearray(a2))],
        "doc_id long, payload binary",
    )
    rows = {r["record_id"]: r for r in
            link_warc_records(warc_records(df)).collect()}
    assert rows["<urn:r1>"]["link_resolved"] is None  # no link header
    assert rows["<urn:q1>"]["link_resolved"] is True
    assert rows["<urn:v1>"]["link_resolved"] is True
    assert rows["<urn:v2>"]["link_resolved"] is False  # dangling
    assert rows["<urn:v3>"]["link_resolved"] is False  # cross-archive
    assert rows["<urn:v1>"]["concurrent_to"] is None
    assert rows["<urn:q1>"]["concurrent_to"] == "<urn:r1>"


def test_crawl_prep_funnel_full_stage_semantics(spark):
    """The 7-stage production funnel (r17): monotonic thinning, every
    stage with real work, and stages 0-5 recounted independently from
    the construction's closed form (stage 6 is minhash-deterministic —
    covered by the oracle-parity harness, asserted here as a strict
    thin)."""
    from parquet_converters_spark.queries import crawl_prep_funnel_full

    rows = crawl_prep_funnel_full(spark, "/root/testdata/sf0.001").collect()
    assert [r["stage"] for r in rows] == [
        "responses", "http_ok", "robots_allowed", "min_length",
        "url_canonical", "dedup_exact", "dedup_near",
    ]
    ns = [r["n"] for r in rows]
    assert ns[0] == 500 and all(a >= b for a, b in zip(ns, ns[1:]))
    assert ns[4] < ns[3]  # URL variants really collapse
    assert ns[5] < ns[4]  # shared-text quads really collapse
    assert ns[6] < ns[5]  # near-dup octets really collapse
    # independent recount of stages 0-5 from the construction
    def oal_of(did):
        q = did // 2
        v, p = q % 6, q % 5
        ng, nv = did // 8, (did // 4) % 2
        ok = v not in (1, 5)
        al = not ((v == 0 and p == 1) or (v == 1 and p == 2)
                  or (v == 2 and p != 0) or (v == 4 and p == 3)
                  or v == 5)
        a, b, c = ((ng * 31 + 1) % 1000, (ng * 31 + 2) % 1000,
                   (ng * 31 + 3) % 1000)
        text = f"t{ng} w{a} & w{b} w{c}" + (" nv1" if nv else "")
        return ok, ok and al, ok and al and len(text) >= 17, text

    n_ok = n_oa = n_oal = 0
    url_groups, text_groups = {}, {}
    for did in range(500):
        q = did // 2
        v, p = q % 6, q % 5
        ok, oa, oal, text = oal_of(did)
        n_ok += ok
        n_oa += oa
        if oal:
            n_oal += 1
            paths = [f"/public/x{q}", f"/private/x{q}",
                     f"/docs/f{q}.pdf", f"/a{q % 10}b/c", "/"]
            url_groups.setdefault((v, paths[p]), []).append(did)
    ku = {min(g) for g in url_groups.values()}
    for did in sorted(ku):
        text_groups.setdefault(oal_of(did)[3], []).append(did)
    ke = {min(g) for g in text_groups.values()}
    assert (ns[1], ns[2], ns[3], ns[4], ns[5]) \
        == (n_ok, n_oa, n_oal, len(ku), len(ke))
    # sum_id spot check on the exact-dedup stage
    assert rows[5]["sum_id"] == sum(ke)


def test_surt_key_known_answers(spark):
    """SURT urlkey (functions/text.surt_key): known-answer vectors for
    every rule — lowercasing, scheme/fragment/userinfo/port/www drops,
    host reversal, bytewise query-param sort, empty-path root."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.functions.text import surt_key

    cases = [
        ("HTTPS://WWW.Sub.Example.COM:443/A/b?b=2&a=1#f",
         "com,example,sub)/a/b?a=1&b=2"),
        ("http://example.com", "com,example)/"),
        ("http://user:pw@h.ex:8080/T", "ex,h)/t"),
        ("https://one.two.three.org/p?z=9", "org,three,two,one)/p?z=9"),
        ("http://www.x.com/path/", "com,x)/path/"),
        ("ftp://files.x.com/a", "com,x,files)/a"),
        ("http://x.com/a?c=3&b=2&a=1", "com,x)/a?a=1&b=2&c=3"),
        # FQDN trailing dot / empty labels must not break host
        # contiguity (r17 review finding)
        ("http://example.com./p", "com,example)/p"),
        ("http://a..b.com/q", "com,b,a)/q"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["k"] for r in
           df.select(surt_key(F.col("url")).alias("k")).collect()]
    assert got == [want for _, want in cases]


def test_warc_cdx_records(spark):
    """CDX projection over a crafted archive: surt/ts/mime/status/
    digest/length all verified against hand computation."""
    import hashlib

    from parquet_converters_spark.sources.warc import warc_cdx_records

    body = b"<p>hi</p>"
    resp = _rec(b"response", _http(b"200 OK", b"text/html", body),
                uri=b"HTTP://WWW.Ex.ORG:80/A?b=1&a=2#x")
    info = _rec(b"warcinfo", b"software: t\r\n")  # no CDX row
    df = spark.createDataFrame(
        [(5, bytearray(info + resp))], "doc_id long, payload binary"
    )
    rows = warc_cdx_records(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["surt"] == "org,ex)/a?a=2&b=1"
    assert r["ts"] == "20240202123456"  # _rec's WARC-Date, digits only
    assert r["mime"] == "text/html" and r["http_status"] == 200
    assert r["length"] == len(body)
    assert r["digest"] == int(hashlib.md5(body).hexdigest()[:15], 16)
    # WARC 1.1 fractional seconds must not leak past the 14-digit
    # CDX timestamp contract (r17 review finding)
    frac = resp.replace(b"2024-02-02T12:34:56Z",
                        b"2024-02-02T12:34:56.123456Z")
    df2 = spark.createDataFrame(
        [(6, bytearray(frac))], "doc_id long, payload binary"
    )
    assert warc_cdx_records(df2).collect()[0]["ts"] == "20240202123456"


def test_cli_warc2parquet_end_to_end(spark, tmp_path):
    """The CLI verb: .warc.gz files on disk (the Common Crawl shape)
    -> text parquet, with and without the robots gate."""
    from parquet_converters_spark.cli import main

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    html_ok = _rec(b"response", _http(b"200 OK", b"text/html", HTML),
                   uri=b"https://ex.org/keep")
    html_deny = _rec(b"response",
                     _http(b"200 OK", b"text/html", b"<p>secret</p>"),
                     uri=b"https://ex.org/private/x")
    (wdir / "a.warc.gz").write_bytes(_gz(html_ok) + _gz(html_deny))
    (wdir / "b.warc").write_bytes(html_ok)

    out = str(tmp_path / "docs")
    rc = main(["warc2parquet", str(wdir), out])
    assert not rc
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert {r["text"] for r in rows} == {HTML_TEXT, "secret"}

    rob = str(tmp_path / "robots")
    spark.createDataFrame(
        [("ex.org", "User-agent: *\nDisallow: /private/\n")],
        "domain string, robots_txt string",
    ).write.parquet(rob)
    out2 = str(tmp_path / "docs2")
    rc = main(["warc2parquet", str(wdir), out2, "--robots", rob])
    assert not rc
    rows2 = spark.read.parquet(out2).collect()
    assert len(rows2) == 2  # the /private/ response is gated out
    assert {r["text"] for r in rows2} == {HTML_TEXT}


def test_warc_text_documents_carry_cols(spark):
    """carry_cols rides input columns onto every output record —
    including quarantine placeholder rows — without a join."""
    resp = _rec(b"response", _http(b"200 OK", b"text/plain", b"ok"),
                uri=b"https://ex.org/a")
    br = _rec(b"response",
              _http(b"200 OK", b"text/html", b"\x00",
                    extra=b"Content-Encoding: br\r\n"),
              uri=b"https://ex.org/br")
    df = spark.createDataFrame(
        [(1, 777, bytearray(resp + br))],
        "doc_id long, batch_tag long, payload binary",
    )
    rows = warc_text_documents(
        df, errors="quarantine", carry_cols=("batch_tag",)
    ).collect()
    assert len(rows) == 2
    assert all(r["batch_tag"] == 777 for r in rows)
    with pytest.raises(ValueError, match="carry_cols"):
        warc_text_documents(df, carry_cols=("nope",)).collect()
    # a carried name colliding with an output column refuses by name
    # at the driver, never as a wrapped executor crash
    with pytest.raises(ValueError, match="collide"):
        df2 = df.withColumnRenamed("batch_tag", "url")
        warc_text_documents(df2, carry_cols=("url",)).collect()


def test_cli_warc2cdx(spark, tmp_path):
    """warc2cdx: WARC archives -> a (surt, ts)-sorted CDX parquet;
    bad records skipped under the default policy; quarantine refused
    by name (an index row has no urlkey for a defect)."""
    import pytest as _pytest

    from parquet_converters_spark.cli import main
    from parquet_converters_spark.sources.warc import warc_cdx_records

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    r1 = _rec(b"response", _http(b"200 OK", b"text/html", b"<p>z</p>"),
              uri=b"https://z.last.com/p")
    r2 = _rec(b"response", _http(b"200 OK", b"text/plain", b"a"),
              uri=b"https://a.first.com/q")
    br = _rec(b"response",
              _http(b"200 OK", b"text/html", b"\x00",
                    extra=b"Content-Encoding: br\r\n"),
              uri=b"https://bad.com/x")
    (wdir / "a.warc.gz").write_bytes(_gz(r1) + _gz(br) + _gz(r2))
    out = str(tmp_path / "cdx")
    rc = main(["warc2cdx", str(wdir), out])
    assert not rc
    rows = spark.read.parquet(out).orderBy("surt").collect()
    assert [r["surt"] for r in rows] == [
        "com,first,a)/q", "com,last,z)/p",
    ]
    with _pytest.raises(ValueError, match="quarantine"):
        warc_cdx_records(
            spark.createDataFrame([(1, bytearray(r1))],
                                  "doc_id long, payload binary"),
            errors="quarantine",
        )


def test_cli_warc2parquet_real_world_hostility(spark, tmp_path):
    """Real Common Crawl input: br-coded responses, userinfo@ URLs,
    uppercase hosts — the CLI's default skip policy and normalized
    robots key must survive all of them."""
    from parquet_converters_spark.cli import main

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    keep = _rec(b"response", _http(b"200 OK", b"text/plain", b"kept"),
                uri=b"https://ex.org/ok")
    br = _rec(b"response",
              _http(b"200 OK", b"text/html", b"\x00",
                    extra=b"Content-Encoding: br\r\n"),
              uri=b"https://ex.org/br")
    # userinfo + uppercase host + port: all must still hit the
    # ex.org robots row and be gated on /private/
    tricky = _rec(b"response",
                  _http(b"200 OK", b"text/plain", b"secret"),
                  uri=b"https://user:pw@EX.ORG:8443/private/x")
    (wdir / "a.warc.gz").write_bytes(_gz(keep) + _gz(br) + _gz(tricky))

    rob = str(tmp_path / "robots")
    spark.createDataFrame(
        [("ex.org", "User-agent: *\nDisallow: /private/\n")],
        "domain string, robots_txt string",
    ).write.parquet(rob)
    out = str(tmp_path / "docs")
    rc = main(["warc2parquet", str(wdir), out, "--robots", rob])
    assert not rc
    rows = spark.read.parquet(out).collect()
    # br record skipped (default --errors skip), tricky URL gated
    assert [(r["url"], r["text"]) for r in rows] \
        == [("https://ex.org/ok", "kept")]
    # quarantine mode lands the error column in the parquet
    out2 = str(tmp_path / "docs2")
    rc = main(["warc2parquet", str(wdir), out2, "--errors", "quarantine"])
    assert not rc
    rows2 = spark.read.parquet(out2).collect()
    errs = [r for r in rows2 if r["error"] is not None]
    assert len(errs) == 1 and "br" in errs[0]["error"]
    # quarantine + robots: a defect row whose URL lands under a
    # DISALLOWED path must still survive the gate (bad input is
    # counted, not silently lost) — r17 review finding
    wdir2 = tmp_path / "warcs2"
    wdir2.mkdir()
    br_private = _rec(b"response",
                      _http(b"200 OK", b"text/html", b"\x00",
                            extra=b"Content-Encoding: br\r\n"),
                      uri=b"https://ex.org/private/deep")
    (wdir2 / "c.warc").write_bytes(keep + br_private)
    out3 = str(tmp_path / "docs3")
    rc = main(["warc2parquet", str(wdir2), out3, "--robots", rob,
               "--errors", "quarantine"])
    assert not rc
    rows3 = spark.read.parquet(out3).collect()
    errs3 = [r for r in rows3 if r["error"] is not None]
    assert len(errs3) == 1
    assert errs3[0]["url"] == "https://ex.org/private/deep"
    assert [r["text"] for r in rows3 if r["error"] is None] == ["kept"]


def test_warc_resolve_links_matches_join_operator(spark):
    """r18: warc_records(resolve_links=True) must agree ROW-FOR-ROW
    with link_warc_records over the same archives — including dangling
    links, cross-archive ids, quarantined response placeholders (which
    the join treats as valid targets because they keep their record_id
    and rec_type) and forward references."""
    from parquet_converters_spark.sources.warc import (
        link_warc_records,
        warc_records,
    )

    def rec(wtype, rid, extra=b"", block=None):
        if block is None:
            block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain"
                     b"\r\n\r\nok"
                     if wtype != b"request" else b"GET / HTTP/1.1\r\n\r\n")
        h = b"WARC/1.0\r\n"
        h += b"Content-Length: " + str(len(block)).encode() + b"\r\n"
        h += b"WARC-Type: " + wtype + b"\r\n"
        h += b"WARC-Record-ID: " + rid + b"\r\n"
        h += extra
        h += b"Content-Type: application/http; msgtype=response\r\n\r\n"
        return h + block + b"\r\n\r\n"

    # forward link: the revisit precedes its target response
    a1 = (rec(b"revisit", b"<urn:v0>", b"WARC-Refers-To: <urn:r9>\r\n")
          + rec(b"response", b"<urn:r9>")
          + rec(b"request", b"<urn:q1>",
                b"WARC-Concurrent-To: <urn:r9>\r\n")
          + rec(b"revisit", b"<urn:v2>",
                b"WARC-Refers-To: <urn:nowhere>\r\n"))
    # a response whose HTTP payload is broken: under quarantine it
    # emits a placeholder that keeps rec_type/record_id — the join
    # resolves links against it, so the in-stage form must too
    a2 = (rec(b"response", b"<urn:bad>", block=b"no-header-terminator")
          + rec(b"revisit", b"<urn:v3>",
                b"WARC-Refers-To: <urn:bad>\r\n"))
    df = spark.createDataFrame(
        [(10, bytearray(a1)), (20, bytearray(a2))],
        "doc_id long, payload binary",
    )
    for errors in ("strict", "skip", "quarantine"):
        frame = df if errors != "strict" else df.filter("doc_id = 10")
        joined = link_warc_records(
            warc_records(frame, errors=errors)
        ).collect()
        local = warc_records(
            frame, errors=errors, resolve_links=True
        ).collect()
        key = lambda r: (r["doc_id"], r["record_id"], r["rec_type"])
        j = {key(r): r["link_resolved"] for r in joined}
        l = {key(r): r["link_resolved"] for r in local}
        assert j == l, (errors, j, l)
        assert len(joined) == len(local)

"""WARC (Web ARChive, ISO 28500) reader/writer — stdlib only.

The ingestion front door of a web-scale training-data pipeline: crawl
dumps (Common Crawl et al.) arrive as WARC files, and everything
downstream (strip_html → quality filters → dedup → tokenize) consumes
the extracted records. This module supplies:

- ``build_warc(records, gzip_per_record=False) -> bytes``: WARC/1.0
  writer — response records with WARC-Target-URI/WARC-Date headers and
  exact Content-Length framing; optionally each record as its own gzip
  member (the Common Crawl convention — members concatenate into one
  seekable .warc.gz).
- ``parse_warc(data) -> list[dict]``: the inverse — handles plain and
  multi-member-gzip archives, strict Content-Length framing (a
  truncated archive raises rather than yielding a short record).
- ``warc_records(df, payload_col) -> DataFrame``: the distributed form:
  one Arrow hop over a binary archive column, one output row per
  record — (archive passthrough id, url, warc_date, content binary,
  content_length). Record extraction is per-archive-independent, so it
  parallelizes by file exactly like the real crawl layout (one task
  per .warc.gz); downstream HTML→text is the existing JVM
  ``strip_html`` chain, so Python touches only the framing bytes.

Format per ISO 28500 / the WARC 1.0 specification (public document);
the writer emits the minimal response-record header set and the parser
accepts any header order and unknown headers.
"""

from __future__ import annotations

import zlib

__all__ = ["build_warc", "parse_warc", "iter_warc", "warc_records"]

_CRLF = b"\r\n"


def build_warc(
    records: list,
    gzip_per_record: bool = False,
) -> bytes:
    """Serialize ``records`` — iterable of ``(url, date_iso, payload)``
    with ``payload: bytes`` — into a WARC/1.0 byte stream. Record IDs
    derive from the record index (deterministic; no RNG/clock).

    ``url``/``date_iso`` containing CR or LF are REJECTED: the header
    block is CRLF-framed, so an embedded newline would terminate the
    header early and let a crawl URL inject forged header lines into the
    record (the URL module quarantines CRLF URLs; the writer must not be
    the component that lets one through)."""
    out = bytearray()
    for i, (url, date_iso, payload) in enumerate(records):
        if payload is None:
            payload = b""
        for label, v in (("url", url), ("date_iso", date_iso)):
            if "\r" in v or "\n" in v:
                raise ValueError(
                    f"warc: {label} contains CR/LF (header injection): {v!r}"
                )
        header = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: response" + _CRLF
            + b"WARC-Record-ID: <urn:warc:record-" + str(i).encode() + b">" + _CRLF
            + b"WARC-Date: " + date_iso.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF
        )
        rec = header + payload + _CRLF + _CRLF
        if gzip_per_record:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)  # gzip member
            rec = co.compress(rec) + co.flush()
        out += rec
    return bytes(out)


def _scan_records(data: bytes, final: bool) -> tuple:
    """Parse complete records off ``data``; return ``(records, consumed)``.

    Strict framing: malformed headers/lengths always raise. A record cut
    off at the END of the buffer raises only when ``final`` — the
    incremental gzip path calls this with ``final=False`` and feeds the
    unconsumed tail to the next member's decompressed bytes."""
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record padding (the spec requires two CRLFs after
        # the block; tolerate extras)
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        if not final and n - pos < 5:
            tail = data[pos:]
            # version line or CRLF padding split across gzip members —
            # wait for the next member; anything else is malformed and
            # falls through to the version-line error below
            if b"WARC/".startswith(tail) or not tail.strip(b"\r\n"):
                break
        if data[pos : pos + 5] != b"WARC/":
            raise ValueError(f"warc: expected version line at offset {pos}")
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            if final:
                raise ValueError("warc: truncated header")
            break
        headers: dict[str, str] = {}
        try:
            for line in data[pos:hdr_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().decode().lower()] = v.strip().decode()
        except UnicodeDecodeError as e:  # keep the ValueError contract
            raise ValueError("warc: non-UTF8 header bytes") from e
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("warc: missing/invalid Content-Length") from e
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end + 4 > n and not final:
            break  # body or terminator still in a later gzip member
        if body_end > n:
            raise ValueError("warc: truncated record body")
        # the spec terminates every record block with two CRLFs — enforce
        # it (the docstring's strict-framing contract: a writer that
        # drops terminators must not parse cleanly)
        if data[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError(
                f"warc: missing record terminator at offset {body_end}"
            )
        records.append(
            {
                "url": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "type": headers.get("warc-type", ""),
                "content": data[body_start:body_end],
            }
        )
        pos = body_end
    return records, pos


def iter_warc(data: bytes):
    """Yield records from a WARC byte stream INCREMENTALLY: gzip members
    decompress one at a time and complete records are released as soon as
    their framing closes, so peak memory is one decompressed member plus
    any record spanning a member boundary — not the whole decompressed
    archive. With the Common Crawl per-record-member convention that is
    one record at a time regardless of archive size; a single-member
    .warc.gz necessarily decompresses in one piece (zlib member = whole
    archive) and degrades to parse_warc's memory shape."""
    if data[:2] != b"\x1f\x8b":
        records, _ = _scan_records(data, final=True)
        yield from records
        return
    rest = data
    buf = b""
    while rest:
        d = zlib.decompressobj(31)
        try:
            buf += d.decompress(rest) + d.flush()
        except zlib.error as e:
            raise ValueError(f"warc: corrupt gzip member ({e})") from e
        if not d.eof:
            raise ValueError("warc: truncated gzip member")
        rest = d.unused_data
        records, consumed = _scan_records(buf, final=not rest)
        yield from records
        buf = buf[consumed:]


def parse_warc(data: bytes) -> list:
    """Parse a WARC byte stream into records:
    ``[{"url", "date", "type", "content"}, ...]``.

    Accepts plain or multi-member-gzip input (sniffed from the magic).
    Strict framing: short payloads or missing record terminators raise.
    List-materializing wrapper over :func:`iter_warc`.
    """
    return list(iter_warc(data))


def warc_records(
    df,
    payload_col: str = "payload",
    id_col: str = "archive_id",
    max_chunk_bytes: int = 64 * 1024 * 1024,
):
    """Distributed record extraction: one row per WARC record across
    every archive — ``(id, url, warc_date, content binary,
    content_length)``. One Arrow hop; archives are independent, so this
    parallelizes per input row (= per .warc.gz file in a real crawl
    layout).

    Memory shape (bounded — a real Common Crawl archive is ~1 GB gzip,
    several GB decompressed, and the Arrow batch can hold many): records
    stream through :func:`iter_warc` (gzip members decompress one at a
    time) and flush downstream every ``max_chunk_bytes`` of accumulated
    content — at most one output DataFrame per flush, never one list per
    whole Arrow batch. Peak = one decompressed gzip member + one chunk
    buffer, independent of archive count and (with the per-record-member
    convention) of archive size."""
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("url", T.StringType()),
            T.StructField("warc_date", T.StringType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("content_length", T.LongType()),
        ]
    )
    base = df.select(id_col, payload_col)

    def run(batches):
        for pdf in batches:
            ids, urls, dates, contents, lens = [], [], [], [], []
            acc = 0

            def flush():
                nonlocal ids, urls, dates, contents, lens, acc
                out = pd.DataFrame(
                    {
                        pdf.columns[0]: ids,
                        "url": urls,
                        "warc_date": dates,
                        "content": contents,
                        "content_length": lens,
                    }
                )
                ids, urls, dates, contents, lens = [], [], [], [], []
                acc = 0
                return out

            for aid, payload in zip(pdf.iloc[:, 0], pdf[payload_col]):
                if payload is None:
                    continue
                for rec in iter_warc(bytes(payload)):
                    ids.append(aid)
                    urls.append(rec["url"])
                    dates.append(rec["date"])
                    contents.append(rec["content"])
                    lens.append(len(rec["content"]))
                    acc += len(rec["content"])
                    if acc >= max_chunk_bytes:
                        yield flush()
            yield flush()

    return base.mapInPandas(run, schema=out_schema)

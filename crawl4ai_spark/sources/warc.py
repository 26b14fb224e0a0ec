"""WARC segment source — Common Crawl's native archive format (ISO
28500 / WARC 1.0-1.1) restated as a distributed Spark scan.

The north-star corpus is "Common-Crawl-style web pages"; the format those
pages actually arrive in is WARC: segment files of concatenated records,
each record a header block (``WARC/1.0`` + ``Name: value`` lines) followed
by ``Content-Length`` bytes of payload, where a *response* record's payload
is a raw HTTP/1.1 response (status line, headers, blank line, body). CC
publishes each segment with every record gzip-compressed individually and
the members concatenated — so a segment is also one valid multi-member
gzip stream.

Scale shape (100 TB = one CC crawl):

- ``spark.read.format("binaryFile")`` delivers ONE TASK PER SEGMENT FILE.
  WARC is not block-splittable anyway (records are back-to-back gzip
  members with no sync markers), so per-file tasks are the native
  parallelism unit — a CC crawl ships ~72k segments of ~1 GB, far more
  tasks than any executor count, and this is exactly how production CC
  readers (e.g. the cc-pyspark pattern) schedule the scan.
- parsing runs inside ``mapInPandas`` (Arrow batches, no row-at-a-time
  Python), one segment's records per yielded batch; task memory is
  bounded by one decompressed segment.
- everything downstream is the ordinary pages schema, so extraction,
  crawling and the datapipe run unchanged on WARC input.

The parser is from scratch on the published spec (no warcio in the
sandbox); the writer exists so tests and the driver oracle can prove the
parser INVERTS a known byte stream (including HTTP header stripping,
multi-record framing, per-record gzip members, and non-response record
skipping) rather than merely not crashing.
"""

from __future__ import annotations

import gzip
import os
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"
# compressed bytes handed to zlib per call while gunzipping a member
_GUNZIP_WINDOW = 1 << 14

RECORD_SCHEMA = (
    "segment string, url string, warc_ts timestamp, record_type string, "
    "http_status int, content_type string, payload binary"
)


def build_warc_record(
    record_type: str,
    url: str | None,
    date: str,
    payload: bytes,
    http_status: int = 200,
    http_content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """One uncompressed WARC/1.0 record. ``response``/``request`` records
    wrap ``payload`` in an HTTP message (that is what the spec stores —
    the raw protocol bytes, not the bare document); other types carry the
    payload verbatim."""
    if record_type in ("response", "request"):
        if record_type == "response":
            head = (
                f"HTTP/1.1 {http_status} OK\r\n"
                f"Content-Type: {http_content_type}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode("ascii")
        else:
            head = (
                f"GET {url} HTTP/1.1\r\nHost: placeholder\r\n\r\n"
            ).encode("utf-8")
        block = head + payload
        ctype = f"application/http; msgtype={record_type}"
    else:
        block = payload
        # WET extracted-text records are `conversion` type with a
        # text/plain payload (no HTTP wrapper); everything else metadata
        ctype = (
            "text/plain" if record_type == "conversion"
            else "application/warc-fields"
        )
    headers = [
        b"WARC/1.0",
        f"WARC-Type: {record_type}".encode("ascii"),
        f"WARC-Date: {date}".encode("ascii"),
        f"Content-Type: {ctype}".encode("ascii"),
        f"Content-Length: {len(block)}".encode("ascii"),
    ]
    if url is not None:
        # WARC 1.1 allows UTF-8 header values; real crawl output has
        # non-ASCII URLs, and _header_str reads them back unchanged
        headers.insert(2, f"WARC-Target-URI: {url}".encode("utf-8"))
    return _CRLF.join(headers) + _CRLF * 2 + block + _CRLF * 2


def build_warc_bytes(
    records: list[tuple[str, str | None, str, bytes]],
    per_record_gzip: bool = False,
) -> bytes:
    """A whole segment from (record_type, url, date, payload) tuples.
    ``per_record_gzip=True`` emits the Common Crawl layout: each record
    its own gzip member, members concatenated."""
    out = []
    for record_type, url, date, payload in records:
        raw = build_warc_record(record_type, url, date, payload)
        out.append(gzip.compress(raw) if per_record_gzip else raw)
    return b"".join(out)


def _header_str(raw: bytes) -> str:
    """A header value as text: UTF-8 (what WARC 1.1 and this module's
    writer use), else latin-1, which decodes any byte string."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _parse_http_response(block: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from raw HTTP response bytes. A block
    with no header/body separator is returned whole as the body with no
    status — truncated-in-transit records surface their bytes rather than
    vanishing."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, block
    head, body = block[:sep], block[sep + 4:]
    lines = head.split(_CRLF)
    status = None
    first = lines[0].split(b" ", 2)
    if len(first) >= 2 and first[0].startswith(b"HTTP/"):
        try:
            status = int(first[1])
        except ValueError:
            status = None
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = _header_str(v.strip())
    return status, ctype, body


def _gunzip_members(
    data: bytes, strict: bool, members: list | None = None
) -> bytes:
    """Decompress a multi-member gzip stream member by member — NOT
    ``gzip.decompress``, which raises EOFError/BadGzipFile on a truncated
    or corrupt member before yielding anything. Member-wise, a truncated
    final member (the real-world CC damage mode: per-record members, tail
    cut in transit) either raises a proper ValueError (strict) or returns
    every complete member's bytes so the record-level salvage logic gets
    its chance (lenient). A corrupt MIDDLE member still ends the salvage
    there — gzip has no sync marker to resync on, so the remainder of
    that segment is genuinely unrecoverable.

    ``members`` (optional) collects (uncompressed_offset,
    uncompressed_length, compressed_offset, compressed_length) per
    complete member — the bookkeeping CDX offset indexing needs to point
    random-access reads at individual compressed members, and to prove a
    member holds exactly one record before calling it seekable."""
    import zlib

    out = bytearray()
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        # feed the member in bounded windows: slicing the REST of the
        # segment per member (and the unused_data that mirrors it) would
        # copy O(members x segment bytes) — quadratic on a CC segment
        d = zlib.decompressobj(wbits=31)
        parts = []
        end = pos
        try:
            while not d.eof and end < n:
                window = view[end:end + _GUNZIP_WINDOW]
                parts.append(d.decompress(window))
                end += len(window)
        except zlib.error as e:
            if strict:
                raise ValueError(
                    f"corrupt gzip member at byte {pos}: {e}"
                ) from e
            return bytes(out)
        if not d.eof:
            if strict:
                raise ValueError(
                    f"truncated gzip member at byte {pos}: stream ends "
                    "before the member's end-of-stream marker"
                )
            return bytes(out)
        end -= len(d.unused_data)
        chunk = b"".join(parts)
        if members is not None:
            members.append((len(out), len(chunk), pos, end - pos))
        out += chunk
        pos = end
    return bytes(out)


def parse_warc_stream(
    data: bytes, strict: bool = True, with_offsets: bool = False
) -> Iterator[dict]:
    """Parse one segment's bytes (plain or gzip, single- or multi-member)
    into record dicts: {record_type, url, warc_ts, http_status,
    content_type, payload}. Header names are case-insensitive per spec,
    and LWS-folded continuation lines (a spec-valid header value split
    across lines, the next line starting with space/tab) are unfolded.

    ``with_offsets=True`` adds ``offset``/``length`` per record — the
    byte range a random-access read needs: for a per-record-gzip segment
    (the CC layout) that is the COMPRESSED member's range, for a plain
    segment the record's own bytes. A whole-stream-gzip segment has no
    per-record compressed ranges (records don't align with members), so
    those records carry offset=None — scannable, not seekable.

    ``strict=True`` raises ValueError on a malformed or truncated record
    or gzip member (the exactness default everywhere in this repo);
    ``strict=False`` yields the records that parsed and stops at the
    damage — CC segments occasionally end in a truncated record, and a
    72k-task scan should salvage 71,999 good segments, not die on the
    one bad tail."""
    member_map: dict[int, tuple[int, int, int]] = {}
    compressed = data[:2] == _GZIP_MAGIC
    if compressed:
        members: list | None = [] if with_offsets else None
        data = _gunzip_members(data, strict, members)
        if members:
            member_map = {
                u: (c, cln, u + uln) for u, uln, c, cln in members
            }
    pos, n = 0, len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        rec_start = pos
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0 or not data[pos:pos + 5] == b"WARC/":
            if strict:
                raise ValueError(
                    f"malformed WARC record at byte {pos}: no version line "
                    "or unterminated header block"
                )
            return
        headers: dict[str, str] = {}
        last_key: str | None = None
        for ln in data[pos:head_end].split(_CRLF)[1:]:
            if ln[:1] in (b" ", b"\t") and last_key is not None:
                # LWS-folded continuation of the previous header value
                headers[last_key] += " " + _header_str(ln.strip())
                continue
            k, _, v = ln.partition(b":")
            last_key = k.strip().lower().decode("latin-1")
            headers[last_key] = _header_str(v.strip())
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            if strict:
                raise ValueError(
                    f"WARC record at byte {pos} has no valid Content-Length"
                )
            return
        body_start = head_end + 4
        if body_start + length > n:
            if strict:
                raise ValueError(
                    f"truncated WARC record at byte {pos}: Content-Length "
                    f"{length} runs past end of stream"
                )
            return
        block = data[body_start:body_start + length]
        record_type = headers.get("warc-type", "")
        status = ctype = None
        payload = block
        if headers.get("content-type", "").startswith("application/http"):
            status, ctype, payload = _parse_http_response(block)
        ts = None
        date = headers.get("warc-date")
        if date:
            try:
                ts = datetime.fromisoformat(date.replace("Z", "+00:00"))
                if ts.tzinfo is not None:
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
            except ValueError:
                if strict:
                    raise ValueError(
                        f"WARC record at byte {pos} has unparseable "
                        f"WARC-Date {date!r}"
                    )
        rec = {
            "record_type": record_type,
            "url": headers.get("warc-target-uri"),
            "warc_ts": ts,
            "http_status": status,
            "content_type": ctype,
            "payload": payload,
        }
        if with_offsets:
            rec_end = body_start + length
            if compressed:
                # seekable only when the member holds EXACTLY this record:
                # it must start at the member's uncompressed offset AND
                # nothing but inter-record CRLFs may follow it inside the
                # member. A whole-stream-gzip segment fails this for its
                # first record too (rec_start 0 == the single member's
                # offset, but siblings follow), so it correctly reports
                # offset=None instead of a range covering the whole file.
                m = member_map.get(rec_start)
                tail_ok = m is not None and rec_end <= m[2] and not (
                    data[rec_end:m[2]].strip(b"\r\n")
                )
                if tail_ok:
                    rec["offset"], rec["length"] = m[0], m[1]
                else:
                    rec["offset"] = rec["length"] = None
            else:
                rec["offset"] = rec_start
                rec["length"] = rec_end - rec_start
        yield rec
        pos = body_start + length


def warc_records(
    spark: SparkSession, path_glob: str, strict: bool = True
) -> DataFrame:
    """The full record table from a segment glob — one task per segment
    (see module docstring), Arrow-batched parsing, no driver-side bytes:

    (segment, url, warc_ts, record_type, http_status, content_type,
    payload)."""
    import pandas as pd

    raw = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = [
                    {
                        "segment": path,
                        "url": r["url"],
                        "warc_ts": r["warc_ts"],
                        "record_type": r["record_type"],
                        "http_status": r["http_status"],
                        "content_type": r["content_type"],
                        "payload": r["payload"],
                    }
                    for r in parse_warc_stream(bytes(content), strict=strict)
                ]
                if rows:
                    yield pd.DataFrame(rows)

    return raw.mapInPandas(parse, RECORD_SCHEMA)


def pages_from_warc(
    spark: SparkSession,
    path_glob: str,
    strict: bool = True,
    ok_status_only: bool = True,
) -> DataFrame:
    """WARC response records projected onto the pages schema
    (url, warc_ts, html, text, lang) — drop-in input for extraction, the
    crawl loop, and the whole datapipe. ``ok_status_only`` keeps HTTP 200
    responses (the CC-index default); pass False to keep every response
    record regardless of status."""
    recs = warc_records(spark, path_glob, strict=strict).filter(
        (F.col("record_type") == "response") & F.col("url").isNotNull()
    )
    if ok_status_only:
        recs = recs.filter(F.col("http_status") == 200)
    return recs.select(
        "url",
        "warc_ts",
        F.col("payload").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def write_warc(
    df: DataFrame,
    out_dir: str,
    per_record_gzip: bool = True,
    http_status_col: str | None = None,
) -> DataFrame:
    """Distributed WARC export sink: each input partition writes ONE
    segment file (``part-<partition>.warc[.gz]``) from its rows'
    (url, warc_ts, html) — response records in the CC per-record-gzip
    layout by default, so the output is readable by ``pages_from_warc``
    and by any standard WARC consumer. Returns the write manifest
    (segment, n_records, n_bytes), one row per written file; the action
    that materializes the manifest performs the writes.

    Scale shape: the inverse of the reader — one task per output
    segment, file bytes written executor-side (the driver never sees
    them), segment count = input partition count, so callers size
    segments with an ordinary ``repartition`` before the call.

    Idempotence: the final name is DETERMINISTIC per partition and the
    promote is an atomic ``os.replace`` from a uuid-named .inprogress
    file, so a retried or speculative task attempt overwrites its own
    partition's segment with identical content — never a duplicate
    segment that would double every row on read. A rerun into the same
    dir likewise overwrites; only a rerun with a DIFFERENT partition
    count can strand stale part files, so write each job into a fresh
    or cleaned dir (and stage+rename the dir for job-level atomicity,
    exactly as the snapshot tables do)."""
    import uuid as _uuid

    import pandas as pd
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    cols = [F.col("url"), F.col("warc_ts"), F.col("html")]
    if http_status_col is not None:
        cols.append(F.col(http_status_col).alias("_status"))
    rows_df = df.select(*cols)
    suffix = ".warc.gz" if per_record_gzip else ".warc"

    def write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}{suffix}")
        n = 0
        tmp = f"{path}.{_uuid.uuid4().hex[:12]}.inprogress"
        with open(tmp, "wb") as f:
            for pdf in batches:
                # column access by name, not itertuples — pandas renames
                # underscore-led columns positionally in namedtuples
                statuses = (
                    pdf["_status"]
                    if http_status_col is not None
                    else [None] * len(pdf)
                )
                recs = []
                for url, ts, html, status in zip(
                    pdf["url"], pdf["warc_ts"], pdf["html"], statuses
                ):
                    date = (
                        ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                        if ts is not None and not pd.isna(ts)
                        else "1970-01-01T00:00:00Z"
                    )
                    recs.append(
                        build_warc_record(
                            "response",
                            url,
                            date,
                            bytes(html) if html is not None else b"",
                            http_status=(
                                int(status)
                                if status is not None and not pd.isna(status)
                                else 200
                            ),
                        )
                    )
                if per_record_gzip:
                    f.write(b"".join(gzip.compress(r) for r in recs))
                else:
                    f.write(b"".join(recs))
                n += len(recs)
        if n == 0:
            os.remove(tmp)
            return
        os.replace(tmp, path)  # atomic; retries overwrite, never duplicate
        yield pd.DataFrame(
            [{"segment": path, "n_records": n,
              "n_bytes": os.path.getsize(path)}]
        )

    return rows_df.mapInPandas(
        write_partition, "segment string, n_records long, n_bytes long"
    )


def texts_from_wet(
    spark: SparkSession, path_glob: str, strict: bool = True
) -> DataFrame:
    """WET segments (CC's pre-extracted text distribution — the same WARC
    framing, but ``conversion`` records whose payload is the page's
    extracted text, no HTTP wrapper) as (url, warc_ts, text) — the
    direct feed for the text datapipe (dedup, quality screens, curation)
    when the HTML tier isn't needed. Same one-task-per-segment scan
    shape as ``warc_records``."""
    recs = warc_records(spark, path_glob, strict=strict).filter(
        (F.col("record_type") == "conversion") & F.col("url").isNotNull()
    )
    return recs.select(
        "url",
        "warc_ts",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


def surt_key(url: str | None) -> str | None:
    """SURT-style sort key (the CC index's urlkey convention): scheme
    dropped, leading www. dropped, host labels reversed and
    comma-joined, then ")/" + path?query, all lower-cased —
    'https://sub.Example.com/A/b?q=1' → 'com,example,sub)/a/b?q=1'.
    Groups every page of a site (and its subdomains) into one
    lexicographic range, which is what makes a sorted CDX index
    range-scannable by domain. The #fragment is dropped (it never
    reaches the server, so two captures differing only there are one
    resource), and a bracketed IPv6 literal stays whole:
    'http://[2001:db8::1]:8080/x' → '[2001:db8::1]:8080)/x'."""
    if url is None:
        return None
    u = url.strip().lower()
    for scheme in ("https://", "http://"):
        if u.startswith(scheme):
            u = u[len(scheme):]
            break
    u = u.partition("#")[0]
    # the authority ends at the first '/' OR '?' — a query with no path
    # ('example.com?q=1') must not leak into the host part, or the key
    # sorts outside its domain's lexicographic range
    cut = len(u)
    for ch in "/?":
        idx = u.find(ch)
        if idx != -1:
            cut = min(cut, idx)
    host, rest = u[:cut], u[cut:]
    if not rest.startswith("/"):
        rest = "/" + rest
    # default ports dropped, explicit ones kept AFTER the reversed host
    # so all of a site's captures share the 'com,example' prefix; an
    # IPv6 literal's own colons sit inside its brackets, so the port is
    # only looked for after the closing ']'
    ipv6 = host.startswith("[") and "]" in host
    tail = host[host.index("]") + 1:] if ipv6 else host
    h, _, p = tail.rpartition(":")
    port = ""
    if p.isdigit() and (h or ipv6):
        host = host[: -len(p) - 1]
        if p not in ("80", "443"):
            port = ":" + p
    if ipv6:
        return host + port + ")" + rest
    host = host.removeprefix("www.")
    return ",".join(reversed(host.split("."))) + port + ")" + rest


CDX_SCHEMA = (
    "urlkey string, cdx_ts string, url string, mime string, status int, "
    "digest string, offset long, length long, segment string, "
    "record_type string"
)


def cdx_index(
    spark: SparkSession, path_glob: str, strict: bool = True
) -> DataFrame:
    """A CC-style CDX index over a segment glob: one row per record with
    (urlkey, cdx_ts yyyyMMddHHmmss, url, mime, status, md5 digest,
    offset, length, segment, record_type). offset/length are the byte
    range ``records_from_cdx`` seeks to — the compressed member for
    per-record-gzip segments, the record's own bytes for plain ones.
    Same one-task-per-segment scan as ``warc_records``; the index is the
    once-per-crawl amortized step that makes every later targeted fetch
    O(selected records), not O(corpus scan). Sort/partition the result
    by urlkey when materializing (e.g. ``salted_partition_write``) for
    domain-range pruning."""
    import hashlib as _hashlib

    import pandas as pd

    raw = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = []
                for r in parse_warc_stream(
                    bytes(content), strict=strict, with_offsets=True
                ):
                    ts = r["warc_ts"]
                    rows.append(
                        {
                            "urlkey": surt_key(r["url"]),
                            "cdx_ts": (
                                ts.strftime("%Y%m%d%H%M%S")
                                if ts is not None
                                else None
                            ),
                            "url": r["url"],
                            "mime": r["content_type"],
                            "status": r["http_status"],
                            "digest": _hashlib.md5(r["payload"]).hexdigest(),
                            "offset": r["offset"],
                            "length": r["length"],
                            "segment": path,
                            "record_type": r["record_type"],
                        }
                    )
                if rows:
                    yield pd.DataFrame(rows)

    return raw.mapInPandas(build, CDX_SCHEMA)


def _local_path(segment: str) -> str:
    """binaryFile paths come back as file:/... (or file:///...) followed
    by the path exactly as on disk — NOT percent-encoded: a directory
    named 'a b' arrives as 'file:/.../a b', and one literally named
    'a%20b' as 'file:/.../a%20b', so decoding would open the wrong file.
    open() wants the plain path. Any other scheme (hdfs:, s3a:, ...) is
    refused: the seek reads go through the local filesystem only."""
    if segment.startswith("file:"):
        p = segment[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return p
    scheme, sep, _ = segment.partition(":")
    if sep and "/" not in scheme:
        raise ValueError(
            f"records_from_cdx reads segments from the local filesystem "
            f"only; cannot open {scheme}: segment {segment!r}"
        )
    return segment


def records_from_cdx(
    spark: SparkSession, cdx: DataFrame, strict: bool = True
) -> DataFrame:
    """Random-access record fetch: read ONLY the (offset, length) ranges
    a CDX selection names, never the rest of the segment — at a 72k-
    segment crawl this is how 'fetch these 10k urls' costs 10k seeks
    instead of a 100 TB scan. Ranges are grouped per segment
    (repartition on the segment column) so each task opens its file
    once; rows whose offset is NULL (whole-stream-gzip segments, not
    seekable) are skipped. Returns the ``warc_records`` schema.

    Segments must be on the local filesystem (plain paths or ``file:``
    URIs, as ``cdx_index`` over a local glob records them): the tasks
    seek with ``open()``, so an ``hdfs:``/``s3a:`` segment raises a
    ``ValueError`` when the fetch runs."""
    import pandas as pd

    sel = cdx.select("segment", "offset", "length").filter(
        F.col("offset").isNotNull()
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # concatenate the TASK's batches before grouping: a >10k-row
        # selection for one segment arrives as several Arrow batches, and
        # per-batch grouping would reopen the same file once per batch.
        # The selection rows are three narrow columns, so holding a
        # task's worth is cheap; sorting each group by offset turns the
        # reads into one forward sweep instead of random back-seeks.
        parts = list(batches)
        if not parts:
            return
        all_pdf = pd.concat(parts, ignore_index=True)
        if all_pdf.empty:
            return
        for seg, grp in all_pdf.groupby("segment"):
            rows = []
            srt = grp.sort_values("offset")
            with open(_local_path(seg), "rb") as f:
                for off, ln in zip(srt["offset"], srt["length"]):
                    f.seek(int(off))
                    chunk = f.read(int(ln))
                    for r in parse_warc_stream(chunk, strict=strict):
                        rows.append(
                            {
                                "segment": seg,
                                "url": r["url"],
                                "warc_ts": r["warc_ts"],
                                "record_type": r["record_type"],
                                "http_status": r["http_status"],
                                "content_type": r["content_type"],
                                "payload": r["payload"],
                            }
                        )
            if rows:
                yield pd.DataFrame(rows)

    return sel.repartition(F.col("segment")).mapInPandas(
        fetch, RECORD_SCHEMA
    )

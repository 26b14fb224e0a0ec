"""Seeded input generators. The same seed gives byte-identical inputs;
nothing here reads outside the work directory.

- ``warc_captures`` / ``write_segments``: Common-Crawl-layout WARC
  segments (per-record gzip; request + response + metadata record per
  capture) with synthesized HTML pages.
- ``write_documents``: a ``documents.parquet`` shaped like the
  driver-provided table, the input of ``sources.synthetic.build_pages``.
- ``curate_docs``: the line-structured web documents of the curation
  workload, with exact and near duplicates.
"""

from __future__ import annotations

import gzip
import hashlib
import math
import os
import random

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer crawl page index frontier host robots budget snapshot "
    "commit schema record segment archive extract markdown token parse shuffle "
    "partition executor worker memory spill cache broadcast bloom filter seen "
    "the a of and to in is for on with as by at from this that it be are"
).split()
STATUSES = (404, 301, 500, 403)


def words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(VOCAB, k=n))


# -- HTML pages ------------------------------------------------------------------


def _paragraph(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(2, 5)):
        s = words(rng, rng.randint(8, 24)).capitalize() + "."
        r = rng.random()
        if r < 0.15:
            s = f"<strong>{s}</strong>"
        elif r < 0.25:
            s = f'<a href="/doc/{rng.randint(0, 9999)}">{s}</a>'
        elif r < 0.32:
            s = f"<em>{s}</em>"
        parts.append(s)
    return "<p>" + " ".join(parts) + "</p>"


def _block(rng: random.Random, host: str, depth: int) -> str:
    r = rng.random()
    if r < 0.45:
        return _paragraph(rng)
    if r < 0.6:
        tag = rng.choice(("ul", "ol"))
        items = "".join(f"<li>{words(rng, rng.randint(3, 12))}</li>"
                        for _ in range(rng.randint(3, 8)))
        return f"<{tag}>{items}</{tag}>"
    if r < 0.7:
        cols = rng.randint(2, 5)
        head = "".join(f"<th>{words(rng, 1)}</th>" for _ in range(cols))
        body = "".join(
            "<tr>" + "".join(f"<td>{rng.randint(0, 999)}</td>" for _ in range(cols)) + "</tr>"
            for _ in range(rng.randint(2, 8))
        )
        return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
    if r < 0.78:
        i = rng.randint(0, 99999)
        return (f'<figure><img src="/img/{i}.png" alt="{words(rng, 3)}" '
                f'width="{rng.randint(100, 900)}" height="{rng.randint(80, 600)}">'
                f"<figcaption>{words(rng, 5)}</figcaption></figure>")
    if r < 0.86:
        links = " ".join(
            f'<a href="https://{host}/p/{rng.randint(0, 99999)}">{words(rng, 2)}</a>'
            for _ in range(rng.randint(2, 6))
        )
        return f"<p>See also: {links}</p>"
    if r < 0.9:
        return f"<pre><code>{words(rng, rng.randint(5, 20))}</code></pre>"
    if depth < 3:
        inner = "".join(_block(rng, host, depth + 1) for _ in range(rng.randint(2, 4)))
        return f"<section><h{depth + 3}>{words(rng, 4)}</h{depth + 3}>{inner}</section>"
    return _paragraph(rng)


def html_page(rng: random.Random, url: str, host: str, target_bytes: int) -> bytes:
    """A page with nav/sidebar/footer boilerplate around nested article
    sections, grown until it reaches ``target_bytes``."""
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(VOCAB, 8))
    side = "".join(f'<li><a href="/tag/{w}">{w} archive</a></li>' for w in rng.sample(VOCAB, 6))
    head = (
        f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{words(rng, 5)}</title>"
        f'<meta name="description" content="{words(rng, 12)}">'
        f'<meta property="og:url" content="{url}"></head><body>'
        f'<header><nav class="nav"><ul>{nav}</ul></nav></header>'
        f'<main><article><h1>{words(rng, 6)}</h1>'
    )
    tail = (
        f'</article><aside class="sidebar"><h3>Related</h3><ul>{side}</ul></aside></main>'
        f'<footer class="footer"><p>Copyright {rng.randint(2000, 2025)} {host}. '
        f'{words(rng, 10)}</p></footer></body></html>'
    )
    body: list[str] = []
    size = len(head) + len(tail)
    while size < target_bytes:
        sec = (f"<section><h2>{words(rng, 5)}</h2>"
               + "".join(_block(rng, host, 0) for _ in range(rng.randint(2, 5)))
               + "</section>")
        body.append(sec)
        size += len(sec)
    return (head + "".join(body) + tail).encode("utf-8")


def page_sizes(rng: random.Random, n: int, median_kb: float, sigma: float,
               lo_kb: float, hi_kb: float) -> list[int]:
    """``n`` log-normal page sizes, clamped. They are the distribution's
    quantiles at (i + 0.5) / n in seeded order, so every seed gets the same
    multiset of sizes. The total work then does not depend on the seed,
    only where each size lands."""
    from statistics import NormalDist

    z = NormalDist()
    sizes = [
        int(1024 * min(hi_kb, max(lo_kb, math.exp(
            math.log(median_kb) + sigma * z.inv_cdf((i + 0.5) / n)))))
        for i in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


# -- WARC segments ---------------------------------------------------------------


def _record(rtype: str, url: str, date: str, block: bytes, ctype: str) -> bytes:
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{hashlib.md5((rtype + url).encode()).hexdigest()}>\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode("ascii")
    return head + block + b"\r\n\r\n"


def capture_records(url: str, ts: str, status: int, body: bytes) -> list[tuple[str, bytes, bytes]]:
    """(record_type, member bytes, expected payload) for one capture. The
    expected payload is what a reader must return after stripping the
    HTTP head: the body for the response, nothing for the request, the
    record block for the metadata record."""
    host = url.split("/")[2]
    req = (f"GET /{url.split('/', 3)[3]} HTTP/1.1\r\nHost: {host}\r\n"
           "User-Agent: perfbench\r\n\r\n").encode("ascii")
    resp = (f"HTTP/1.1 {status} X\r\nContent-Type: text/html; charset=utf-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii") + body
    meta = f"fetchTimeMs: {len(body) % 997}\r\nstatus: {status}\r\n".encode("ascii")
    out = []
    for rtype, block, ctype, payload in (
        ("request", req, "application/http; msgtype=request", b""),
        ("response", resp, "application/http; msgtype=response", body),
        ("metadata", meta, "application/warc-fields", meta),
    ):
        out.append((rtype, gzip.compress(_record(rtype, url, ts, block, ctype), 6, mtime=0), payload))
    return out


def write_segments(out_dir: str, captures: list[dict], n_segments: int) -> list[dict]:
    """Write captures into ``n_segments`` per-record-gzip segments,
    balanced by HTML bytes (largest first onto the lightest segment), so
    that the slowest segment — which sets a pass's time — carries about
    1/n of the work whatever the seed. Returns per-record facts for the
    output checks."""
    os.makedirs(out_dir, exist_ok=True)
    loads = [0] * n_segments
    assign: list[list[dict]] = [[] for _ in range(n_segments)]
    for c in sorted(captures, key=lambda c: (-len(c["body"]), c["url"])):
        k = loads.index(min(loads))
        assign[k].append(c)
        loads[k] += len(c["body"]) + 2048
    facts = []
    for k, caps in enumerate(assign):
        path = os.path.join(out_dir, f"segment-{k:03d}.warc.gz")
        caps.sort(key=lambda c: c["url"])
        with open(path, "wb") as f:
            for c in caps:
                for rtype, member, payload in capture_records(c["url"], c["ts"], c["status"], c["body"]):
                    facts.append({"segment": os.path.basename(path), "url": c["url"],
                                  "record_type": rtype,
                                  "md5": hashlib.md5(payload).hexdigest(),
                                  "offset": f.tell(), "length": len(member)})
                    f.write(member)
    return facts


def warc_captures(seed: int, n: int, median_kb: float, sigma: float,
                  lo_kb: float, hi_kb: float, non200: float = 0.1) -> list[dict]:
    """``n`` captures; exactly ``round(n * non200)`` of them are non-200."""
    rng = random.Random(seed)
    sizes = page_sizes(rng, n, median_kb, sigma, lo_kb, hi_kb)
    failing = set(rng.sample(range(n), round(n * non200)))
    caps = []
    for i in range(n):
        host = f"site{rng.randint(0, 49)}.example"
        url = f"https://{host}/p/{seed}/{i}"
        status = rng.choice(STATUSES) if i in failing else 200
        ts = f"2025-07-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(7 * i) % 60:02d}Z"
        body = html_page(rng, url, host, sizes[i])
        caps.append({"url": url, "ts": ts, "status": status, "body": body})
    return caps


# -- documents (crawl corpus) ----------------------------------------------------


def write_documents(path: str, seed: int, n: int) -> None:
    """``documents.parquet`` with the driver table's columns; the page
    corpus of ``build_pages`` is a pure function of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    langs = ("en", "en", "en", "de", "fr", "es", "zh")
    texts = [words(rng, rng.randint(12, 60)) for _ in range(n)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def corpus_url(doc_id: int) -> str:
    """URL of page ``doc_id`` in the ``build_pages`` corpus (its host
    skew: ids with id % 5 < 2 live on host0)."""
    host = 0 if doc_id % 5 < 2 else doc_id % 20
    return f"https://host{host}.example/p/{doc_id}"


# -- curation documents ----------------------------------------------------------

HEADER = "Home | About | Contact | Login"
FOOTER = "Copyright 2025 Example Corp. All rights reserved. Privacy | Terms"


def curate_docs(seed: int, n_base: int, replicas: int) -> list[tuple[int, str]]:
    """(doc_id, text): ``n_base`` line-structured documents, each with
    ``replicas`` copies; every third copy is byte-identical (exact-dedup
    work), the others get a unique opening line (near-dup work). Shared
    header/footer lines and repeated lines give the line tier work, and
    a few documents carry an e-mail address for the PII tier."""
    rng = random.Random(seed)
    # line counts cycle through 6..18 and the repeated-line and e-mail docs
    # are fixed shares, so the work per pass does not depend on the seed
    n_lines = [6 + i % 13 for i in range(n_base)]
    rng.shuffle(n_lines)
    repeats = set(rng.sample(range(n_base), n_base // 5))
    emails = set(rng.sample(range(n_base), n_base // 10))
    base = []
    for b in range(n_base):
        lines = []
        for _ in range(n_lines[b]):
            ln = words(rng, rng.randint(6, 14))
            if rng.random() < 0.08:
                ln = "lorem ipsum " + ln
            lines.append(ln.capitalize() + ".")
        if b in repeats:
            lines.append(lines[0])
        if b in emails:
            lines.append(f"Contact user{b}@example.com for details on this page.")
        base.append(lines)
    out = []
    for r in range(replicas):
        for b, lines in enumerate(base):
            doc_id = b + r * 1_000_000
            body = list(lines)
            if r % 3:
                body[0] = f"Unique opening number {doc_id} of this page okay."
            out.append((doc_id, "\n".join([HEADER] + body + [FOOTER])))
    return out

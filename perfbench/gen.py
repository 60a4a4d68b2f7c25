"""Seeded input generation for the three workloads.

Everything here is plain Python in the benchmark process: the same ``seed`` gives
byte-identical inputs, and the program under test only ever sees the files
written here. All page text comes from ``data/documents.parquet`` (a copy of
the sf0.1 ``documents`` table), selected and permuted by the seed; URLs,
priorities, hosts and planted anomalies are seeded hashes.

Each generator also returns the closed-form facts the output checks compare
against (expected counts, expected (url, text) pairs), computed from what it
planted rather than from the program's output.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
from collections import Counter

DOCS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

ENCODINGS = ("gzip", "br", "zstd")


def _tag(seed: int) -> str:
    return hashlib.sha1(f"wbx-bench-{seed}".encode()).hexdigest()[:6]


def load_texts() -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(DOCS_PATH, columns=["text"]).column("text").to_pylist()


def seeded_texts(seed: int, n: int, texts: list[str] | None = None) -> list[str]:
    """n page texts: the documents table permuted by the seed, cycled."""
    texts = texts if texts is not None else load_texts()
    order = list(range(len(texts)))
    random.Random(seed).shuffle(order)
    return [texts[order[i % len(order)]] for i in range(n)]


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

N_HOSTS = 1200
PATHS_PER_HOST = 300
FANOUT = 8
HOT_SHARE_PCT = 10


def host_name(tag: str, idx: int) -> str:
    return f"host{idx:04d}-{tag}.example.com"


def crawl_spec(seed: int, n_seeds: int) -> dict:
    """Seeds, host budgets and robots rules for one crawl.

    About 10% of seed and child URLs land on one hot host; every host has a
    budget; 60 hosts deny a path prefix and 6 deny everything. The expander
    (``expand_fn`` in workloads.py) maps parents to children with the same
    seeded hash family, so children of different parents overlap (dedup
    hits) and revisit already-fetched URLs (seen-set hits)."""
    rng = random.Random(seed * 7919 + 1)
    tag = _tag(seed)
    hot = rng.randrange(N_HOSTS)
    hosts = [(host_name(tag, i), rng.randint(1, 4)) for i in range(N_HOSTS)]
    hosts[hot] = (hosts[hot][0], 20)
    deny_hosts = rng.sample([i for i in range(N_HOSTS) if i != hot], 66)
    robots = [(host_name(tag, i), "deny", "/p/1") for i in deny_hosts[:60]]
    robots += [(host_name(tag, i), "deny", "/") for i in deny_hosts[60:]]
    seeds = []
    for _ in range(n_seeds):
        h = hot if rng.randrange(100) < HOT_SHARE_PCT else rng.randrange(N_HOSTS)
        path = rng.randrange(PATHS_PER_HOST)
        # mixed-case scheme/host and default ports: canonicalization folds
        # these onto one key, so dedup does real work from round 1
        variant = rng.randrange(4)
        name = host_name(tag, h)
        if variant == 0:
            url = f"HTTP://{name.upper()}:80/p/{path}"
        elif variant == 1:
            url = f"http://{name}/p/{path}#frag"
        else:
            url = f"http://{name}/p/{path}"
        seeds.append((url, float(rng.randrange(1000)) / 10.0))
    return {
        "tag": tag,
        "hot": hot,
        "hosts": hosts,
        "robots": robots,
        "seeds": seeds,
        "seed_salt": seed,
    }


def land_crawl(spec: dict, out_dir: str) -> dict[str, str]:
    """Write seeds / hosts / robots as parquet; returns their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    tables = {
        "seeds": pa.table(
            {
                "url": [u for u, _ in spec["seeds"]],
                "priority": pa.array([p for _, p in spec["seeds"]], pa.float64()),
            }
        ),
        "hosts": pa.table(
            {
                "host": [h for h, _ in spec["hosts"]],
                "budget": pa.array([b for _, b in spec["hosts"]], pa.int32()),
            }
        ),
        "robots": pa.table(
            {
                "host": [r[0] for r in spec["robots"]],
                "rule_type": [r[1] for r in spec["robots"]],
                "path_prefix": [r[2] for r in spec["robots"]],
            }
        ),
    }
    for name, table in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        # several row groups so the seed scan fans out over the cores
        pq.write_table(table, p, row_group_size=max(1, table.num_rows // 8))
        paths[name] = p
    return paths


# ---------------------------------------------------------------------------
# WARC bytes
# ---------------------------------------------------------------------------


def _encode_body(body: bytes, enc: str | None) -> bytes:
    if enc == "gzip":
        return gzip.compress(body, 6, mtime=0)
    if enc == "br":
        from wbx.codecs import brotli_compress

        return brotli_compress(body)
    if enc == "zstd":
        from wbx.codecs import zstd_compress

        return zstd_compress(body)
    return body


def response_record(
    uri: str,
    text: str,
    enc: str | None = None,
    content_type: str = "text/html",
    digest: str | None = None,
) -> bytes:
    """One WARC/1.1 response record (no trailing CRLFs)."""
    body = _encode_body(text.encode("utf-8"), enc)
    http = f"HTTP/1.1 200 OK\r\nContent-Type: {content_type}\r\n".encode()
    if enc:
        http += f"Content-Encoding: {enc}\r\n".encode()
    http += b"\r\n" + body
    header = "WARC/1.1\r\nWARC-Type: response\r\n" f"WARC-Target-URI: {uri}\r\n"
    if digest is not None:
        header += f"WARC-Payload-Digest: {digest}\r\n"
    header += (
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    )
    return header.encode() + http


def request_record(uri: str) -> bytes:
    path = uri.split("/", 3)[3] if uri.count("/") >= 3 else ""
    host = uri.split("/")[2]
    http = f"GET /{path} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode()
    header = (
        "WARC/1.1\r\nWARC-Type: request\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "Content-Type: application/http;msgtype=request\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    )
    return header.encode() + http


def warcinfo_record() -> bytes:
    body = b"software: wbx-bench\r\n"
    header = (
        "WARC/1.1\r\nWARC-Type: warcinfo\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return header.encode() + body


def _plain(records: list[bytes], junk_after: set[int] = frozenset()) -> bytes:
    parts = []
    for i, r in enumerate(records):
        parts.append(r)
        parts.append(b"\r\n\r\n")
        if i in junk_after:
            parts.append(f"JUNK {i}\r\n".encode())
    return b"".join(parts)


def _members(records: list[bytes]) -> bytes:
    """Record-per-member .warc.gz (the splittable layout)."""
    return b"".join(gzip.compress(r + b"\r\n\r\n", 6, mtime=0) for r in records)


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------


def extract_corpus(
    seed: int,
    out_dir: str,
    plain_files: int,
    plain_records: int,
    gz_files: int,
    gz_records: int,
    junk_pct: int = 2,
    texts: list[str] | None = None,
) -> dict:
    """Plain .warc files (mixed gzip/br/zstd bodies, planted junk lines) in
    ``out_dir/plain`` and record-per-member .warc.gz archives in
    ``out_dir/gz``. Returns the expected (url, text) pairs and counts."""
    rng = random.Random(seed * 104729 + 2)
    tag = _tag(seed)
    n_total = plain_files * plain_records + gz_files * gz_records
    pages = seeded_texts(seed, n_total, texts)
    expected: list[tuple[str, str]] = []
    per_enc: Counter = Counter()
    junk = 0
    k = 0
    for kind, n_files, per_file in (
        ("plain", plain_files, plain_records),
        ("gz", gz_files, gz_records),
    ):
        d = os.path.join(out_dir, kind)
        os.makedirs(d, exist_ok=True)
        for f in range(n_files):
            records = []
            junk_after: set[int] = set()
            for i in range(per_file):
                enc = ENCODINGS[rng.randrange(3)]
                uri = f"https://site{rng.randrange(97)}.{tag}.example/{enc}/{kind}{f}/{i}"
                records.append(response_record(uri, pages[k], enc))
                expected.append((uri, pages[k]))
                per_enc[enc] += 1
                if kind == "plain" and rng.randrange(100) < junk_pct:
                    junk_after.add(i)
                k += 1
            if kind == "plain":
                junk += len(junk_after)
                _write(os.path.join(d, f"part-{f:03d}.warc"), _plain(records, junk_after))
            else:
                _write(os.path.join(d, f"part-{f:03d}.warc.gz"), _members(records))
    return {
        "expected": expected,
        "records": n_total,
        "per_encoding": dict(per_enc),
        "junk_lines": junk,
        "gz_members": gz_files * gz_records,
        "plain_dir": os.path.join(out_dir, "plain"),
        "gz_dir": os.path.join(out_dir, "gz"),
    }


# ---------------------------------------------------------------------------
# archive (warcbench query surface)
# ---------------------------------------------------------------------------

CONTENT_TYPES = ("text/html", "application/json", "text/plain")
# per-document record layouts (weights out of 100) and what FIFO pairing
# makes of them
LAYOUTS = (("pair", 80), ("lone_req", 5), ("lone_resp", 5), ("dup_req", 5), ("two_pairs", 5))
# per-document perturbations of the second archive version (out of 100)
PERTURB = (("same", 75), ("digest", 7), ("length", 6), ("drop", 6), ("extra", 6))


def _pick(rng: random.Random, table) -> str:
    r = rng.randrange(100)
    for name, w in table:
        if r < w:
            return name
        r -= w
    raise AssertionError("weights must sum to 100")


def _layout_kinds(layout: str) -> list[str]:
    return {
        "pair": ["request", "response"],
        "lone_req": ["request"],
        "lone_resp": ["response"],
        "dup_req": ["request", "request", "response"],
        "two_pairs": ["request", "response", "request", "response"],
    }[layout]


def archive_corpus(
    seed: int, out_dir: str, n_docs: int, n_files: int, texts: list[str] | None = None
) -> dict:
    """Two versions of a request/response corpus, each ``n_files`` files
    (half plain .warc, half record-per-member .warc.gz, a warcinfo record
    first), in ``out_dir/v1`` and ``out_dir/v2``. Returns the closed-form
    summarize / pair / compare-status counts."""
    rng = random.Random(seed * 15485863 + 3)
    tag = _tag(seed)
    n_new = max(1, n_docs * 4 // 100)
    pages = seeded_texts(seed + 1, n_docs + n_new, texts)

    # one logical record: (kind, uri, text, content_type, digest)
    def doc_records(d: int, layout: str, text: str, ct: str) -> list[tuple]:
        uri = f"https://site{d % 13}.{tag}.example/doc/{d}"
        out = []
        for kind in _layout_kinds(layout):
            if kind == "request":
                out.append(("request", uri, None, None, None))
            else:
                digest = "sha1:" + hashlib.sha1(text.encode()).hexdigest().upper()
                out.append(("response", uri, text, ct, digest))
        return out

    v1: list[list[tuple]] = [[] for _ in range(n_files)]
    v2: list[list[tuple]] = [[] for _ in range(n_files)]
    for d in range(n_docs):
        layout = _pick(rng, LAYOUTS)
        ct = CONTENT_TYPES[rng.randrange(3)]
        text = pages[d]
        recs = doc_records(d, layout, text, ct)
        v1[d % n_files].extend(recs)
        change = _pick(rng, PERTURB)
        if change == "drop":
            continue
        recs2 = []
        for r in recs:
            if r[0] == "response" and change == "digest":
                r = (*r[:4], "sha1:" + hashlib.sha1(b"v2" + r[2].encode()).hexdigest().upper())
            elif r[0] == "response" and change == "length":
                t2 = r[2] + " x"
                r = (r[0], r[1], t2, r[3], "sha1:" + hashlib.sha1(t2.encode()).hexdigest().upper())
            recs2.append(r)
        if change == "extra":
            recs2.append(doc_records(d, "lone_resp", text, ct)[0])
        v2[d % n_files].extend(recs2)
    for j in range(n_new):
        d = n_docs + j
        v2[d % n_files].extend(doc_records(d, "pair", pages[d], CONTENT_TYPES[d % 3]))

    for name, files in (("v1", v1), ("v2", v2)):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for f, recs in enumerate(files):
            raw = [warcinfo_record()] + [_record_bytes(r) for r in recs]
            if f < n_files // 2:
                _write(os.path.join(d, f"rich-{f:02d}.warc"), _plain(raw))
            else:
                _write(os.path.join(d, f"rich-{f:02d}.warc.gz"), _members(raw))

    return {
        "v1_dir": os.path.join(out_dir, "v1"),
        "v2_dir": os.path.join(out_dir, "v2"),
        "v1_records": n_files + sum(len(f) for f in v1),
        "v2_records": n_files + sum(len(f) for f in v2),
        "summary": _expected_summary(v1, n_files),
        "pairs": _expected_pairs(v1),
        "compare": _expected_compare(v1, v2),
    }


def _record_bytes(r: tuple) -> bytes:
    kind, uri, text, ct, digest = r
    if kind == "request":
        return request_record(uri)
    return response_record(uri, text, None, ct, digest)


def _expected_summary(files: list[list[tuple]], n_files: int) -> dict:
    recs = [r for f in files for r in f]
    types = Counter(r[0] for r in recs)
    types["warcinfo"] = n_files
    return {
        "record_count": len(recs) + n_files,
        "record_types": dict(types),
        "domains": dict(Counter(r[1].split("/")[2] for r in recs)),
        "content_types": dict(Counter(r[3] for r in recs if r[0] == "response")),
    }


def _expected_pairs(files: list[list[tuple]]) -> dict:
    """FIFO pairing per URI: the k-th request pairs with the k-th
    response, so a URI yields min(req, resp) pairs and the excess lone."""
    req: Counter = Counter()
    resp: Counter = Counter()
    for f in files:
        for r in f:
            (req if r[0] == "request" else resp)[r[1]] += 1
    out: Counter = Counter()
    for uri in set(req) | set(resp):
        a, b = req[uri], resp[uri]
        out["pair"] += min(a, b)
        out["lone_request"] += max(0, a - b)
        out["lone_response"] += max(0, b - a)
    return {k: v for k, v in out.items() if v}


def _expected_compare(v1: list[list[tuple]], v2: list[list[tuple]]) -> dict:
    """Status counts of compare_headers(v1, v2, near_match_fields=
    [WARC-Payload-Digest]): per (type, uri) key, records zip positionally;
    a key on one side only is unique; differing record counts skip the key;
    equal fields match, a digest-only difference nearly matches, a
    Content-Length difference is unique."""

    def keyed(files):
        out: dict = {}
        for f in files:
            for r in f:
                rec = _record_bytes(r)
                content_length = len(rec) - rec.index(b"\r\n\r\n") - 4
                out.setdefault((r[0], r[1]), []).append((r[4] or "", content_length))
        return out

    left, right = keyed(v1), keyed(v2)
    status: Counter = Counter()
    for key in set(left) | set(right):
        a, b = left.get(key), right.get(key)
        if a is None or b is None:
            status["unique"] += len(a or b)
        elif len(a) != len(b):
            status["skipped"] += max(len(a), len(b))
        else:
            for x, y in zip(a, b):
                if x == y:
                    status["matching"] += 1
                elif x[1] == y[1]:
                    status["near_matching"] += 1
                else:
                    status["unique"] += 1
    return dict(status)

"""Seeded input generators for the benchmark workloads.

Stdlib and pyarrow only. Every input is a pure function of
``(workload, seed, size)``: the same triple always yields the same
bytes, and the program under test receives nothing else. The WARC
files are written here with stdlib ``gzip`` (one gzip member per
record, the Common Crawl layout), never through the package's own
WARC writer, so a writer bug and a reader bug cannot cancel out.

Generated inputs are cached under ``<work>/cache/<key>/`` and the
cache keeps only the most recently used entries.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so stale cache entries are not reused
GEN_VERSION = 2
CACHE_KEEP = 64

_SYLLABLES = ("ka", "lo", "mi", "ne", "su", "ta", "vor", "ex", "pri", "dun",
              "gal", "hom", "ix", "jer", "qua", "ril", "sen", "tor", "ul",
              "wen", "yad", "zo", "bar", "cel")
_MONTHS = ("January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December")
_STOP = ("the", "and", "of", "to", "in", "is", "that", "for", "it", "with")


def _vocabulary(n: int) -> list[str]:
    """A fixed pseudo-word vocabulary (seed-independent)."""
    rng = random.Random(1234567)
    words: dict[str, None] = {}
    while len(words) < n:
        k = rng.randint(2, 4)
        words["".join(rng.choice(_SYLLABLES) for _ in range(k))] = None
    return list(words)


VOCAB = _vocabulary(3000)
# a small, hot subset: boilerplate and page chrome reuse these words
CHROME = VOCAB[:60]


def _words(rng: random.Random, n: int, stop_every: int = 4) -> list[str]:
    out = []
    for i in range(n):
        out.append(rng.choice(_STOP) if i % stop_every == 3
                   else rng.choice(VOCAB))
    return out


def _host(rng: random.Random, n_hosts: int) -> str:
    # host skew: one host carries ~20% of pages, the rest Zipf-ish
    if rng.random() < 0.2:
        return "host000.example.com"
    return f"host{min(n_hosts - 1, int(rng.paretovariate(1.1))):03d}.example.com"


# ---------------------------------------------------------------------------
# page shapes
# ---------------------------------------------------------------------------

def rich_page(rng: random.Random, i: int) -> tuple[str, str]:
    """~8 KB product/listing page: a product block, a grid of 10-40
    rows, reviews, navigation. About one page in ten is a listing page
    without ``div.product`` (the rule tree's ``cases`` guard misses)."""
    host = _host(rng, 200)
    url = f"https://{host}/p/{i:07d}"
    is_product = rng.random() >= 0.1
    n_rows = rng.randint(10, 40)
    n_reviews = rng.randint(0, 6)
    name = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5)))
    out = ['<!DOCTYPE html><html lang="en"><head><title>', name.title(),
           '</title><meta name="description" content="',
           " ".join(_words(rng, 12)), '"></head><body>',
           '<header class="site"><nav class="crumbs">']
    for c in range(rng.randint(3, 6)):
        out.append(f'<a class="nav" href="/c/{c}/{rng.choice(CHROME)}">'
                   f'{rng.choice(CHROME).title()}</a> ')
    out.append('</nav></header><main class="page">')
    if is_product:
        whole = rng.randint(1, 99999)
        price = f"{whole:,}".replace(",", ".") + f",{rng.randint(0, 99):02d}"
        out += [f'<div class="product" data-sku="SKU-{i:07d}">',
                f'<h1 class="title">  {name.title()} \n</h1>',
                f'<span class="name">{name}</span>',
                f'<span class="price"> {price} EUR </span>',
                f'<span class="date">{rng.randint(1, 28)} '
                f'{rng.choice(_MONTHS)} {rng.randint(2001, 2024)}</span>',
                f'<img class="photo" src="https://cdn.example.com/'
                f'{rng.choice(CHROME)}/{i:07d}.jpg">',
                '<ul class="tags">']
        for _ in range(rng.randint(1, 6)):
            out.append(f'<li class="tag">{rng.choice(VOCAB)}</li>')
        out.append('</ul><div class="reviews">')
        for _ in range(n_reviews):
            out += ['<div class="review"><span class="author">',
                    rng.choice(VOCAB).title(), '</span><span class="rating">',
                    f'{rng.randint(1, 5)}/5</span><span class="when">',
                    f'{rng.randint(2010, 2024)}-{rng.randint(1, 12):02d}-'
                    f'{rng.randint(1, 28):02d}</span><p class="body">',
                    " ".join(_words(rng, rng.randint(10, 30))),
                    '</p></div>']
        out.append('</div></div>')
    out.append('<table class="grid"><thead><tr><th>sku</th><th>price</th>'
               '<th>stock</th><th>added</th><th>seller</th><th>link</th></tr>'
               '</thead><tbody>')
    for r in range(n_rows):
        out.append(
            f'<tr class="row"><td class="sku"> S{i:07d}-{r:02d} </td>'
            f'<td class="price">{rng.randint(1, 999)}.{rng.randint(0, 99):02d}'
            f' &euro;</td><td class="stock">{rng.randint(0, 500)} in stock'
            f'</td><td class="added">{rng.randint(2015, 2024)}-'
            f'{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}</td>'
            f'<td class="seller" data-seller="{rng.choice(CHROME)}_'
            f'{rng.randint(1, 99)}">{rng.choice(CHROME)}</td>'
            f'<td><a class="link" href="/item/{i}/{r}?ref='
            f'{rng.choice(CHROME)}&amp;pos={r}">{rng.choice(VOCAB)}</a>'
            '</td></tr>')
    out.append('</tbody></table>')
    # size skew: a filler tail whose length varies page to page
    for _ in range(rng.choice((0, 0, 1, 2, 4))):
        out += ['<p class="filler">', " ".join(_words(rng, 60)), '</p>']
    out.append('</main><footer class="site-footer">')
    for _ in range(4):
        out.append(f'<a href="/about/{rng.choice(CHROME)}">'
                   f'{rng.choice(CHROME)}</a>')
    out.append('</footer></body></html>')
    return url, "".join(out)


_SCRIPT = ("<script>var cfg={a:1,b:'<div>not markup</div>'};"
           "for(var i=0;i<10;i++){cfg.a+=i;}</script>")


def heavy_page(rng: random.Random, i: int, target_kb: int) -> tuple[str, str]:
    """A 100-250 KB page: thousands of elements, hundreds of distinct
    classes, scripts, comments, entities and mis-nested tags."""
    host = _host(rng, 400)
    url = f"https://{host}/a/{i:07d}"
    out = ['<!DOCTYPE html><html><head><title>',
           " ".join(_words(rng, 6)).title(), '</title>',
           f'<link rel="canonical" href="https://{host}/c/{i:07d}">',
           _SCRIPT, '<style>.x{color:red}</style></head><body>']
    size = sum(len(s) for s in out)
    target = target_kb * 1024
    k = 0
    while size < target:
        k += 1
        cls = f"c{rng.randrange(400)} c{rng.randrange(400)}"
        words = " ".join(_words(rng, rng.randint(4, 14)))
        kind = k % 9
        if kind == 0:
            s = (f'<div class="{cls}"><ul>'
                 + "".join(f'<li class="c{rng.randrange(400)}">'
                           f'<a class="out" href="https://x{rng.randrange(99)}'
                           f'.example.net/{rng.choice(VOCAB)}?q={k}&amp;r={j}">'
                           f'{rng.choice(VOCAB)}</a>' for j in range(5))
                 + '</ul></div>')
        elif kind == 1:
            s = f'<!-- block {k} <p>commented</p> -->{_SCRIPT}'
        elif kind == 2:
            # mis-nested inline tags
            s = f'<p class="{cls}"><b>{words} <i>x</b> y</i> &amp; &lt;z&gt;</p>'
        elif kind == 3:
            s = (f'<table class="{cls}"><tr><td>{words}<td>'
                 f'{rng.randint(0, 9999)}</table>')
        elif kind == 4:
            s = (f'<section class="{cls}"><h3>{words}</h3>'
                 f'<p>{words} &mdash; &copy; {k}<p>{words}</section>')
        else:
            s = (f'<div class="{cls}" data-k="{k}"><span class="c'
                 f'{rng.randrange(400)}">{words}</span>'
                 f'<span>{rng.choice(VOCAB)}</span></div>')
        out.append(s)
        size += len(s)
    out.append('</body></html>')
    return url, "".join(out)


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------

SIZES = {
    "extract_heavy_warc": {"docs": 48, "files": 16},
    "extract_job_resume": {"docs": 480, "heavy": 6, "files": 16},
    "curate_near_dup": {"docs": 360, "files": 16},
}


def _write_parquet(dir_: str, urls: list[str], htmls: list, files: int) -> None:
    os.makedirs(dir_, exist_ok=True)
    n = len(urls)
    per = -(-n // files)
    for f in range(files):
        lo, hi = f * per, min(n, (f + 1) * per)
        if lo >= hi:
            break
        pq.write_table(pa.table({"url": pa.array(urls[lo:hi], pa.string()),
                                 "html": pa.array(htmls[lo:hi], pa.binary())}),
                       os.path.join(dir_, f"part-{f:03d}.parquet"),
                       compression="snappy")


def _element_count(html: str) -> int:
    # start tags; a cheap, parser-independent shape statistic
    return html.count("<") - html.count("</") - html.count("<!")


def _warc_record(url: str, body: bytes, i: int) -> bytes:
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-01-{1 + i % 28:02d}T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:bench-{i:08d}>\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode()
    return gzip.compress(head + http + b"\r\n\r\n", compresslevel=1, mtime=0)


def warc_file_bytes(urls: list[str], bodies: list[bytes], first: int = 0) -> bytes:
    """One ``.warc.gz`` body: a warcinfo record, then one response
    record per page, each its own gzip member."""
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    parts = [gzip.compress(info, compresslevel=1, mtime=0)]
    parts += [_warc_record(u, b, first + j)
              for j, (u, b) in enumerate(zip(urls, bodies))]
    return b"".join(parts)


def _heavy_sizes(rng, n: int) -> list[int]:
    """Page sizes spread evenly over 100-250 KB in seeded order, so the
    total work does not depend on the seed."""
    sizes = [100 + (150 * k) // max(1, n - 1) for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def _gen_heavy(rng, size, dir_):
    urls, htmls, elems = [], [], 0
    for i, kb in enumerate(_heavy_sizes(rng, size["docs"])):
        u, h = heavy_page(rng, i, kb)
        urls.append(u)
        htmls.append(h.encode())
        elems += _element_count(h)
    os.makedirs(dir_, exist_ok=True)
    files = size["files"]
    per = -(-len(urls) // files)
    for f in range(files):
        lo, hi = f * per, min(len(urls), (f + 1) * per)
        with open(os.path.join(dir_, f"seg-{f:03d}.warc.gz"), "wb") as fh:
            fh.write(warc_file_bytes(urls[lo:hi], htmls[lo:hi], lo))
    return urls, htmls, {"elements": elems}


def _gen_job(rng, size):
    """Mixed corpus with ~1% planted poison: NULL html, invalid UTF-8,
    truncated markup (a third each)."""
    urls, htmls, elems = [], [], 0
    n = size["docs"]
    heavy_kb = dict(zip(sorted(rng.sample(range(n), size["heavy"])),
                        _heavy_sizes(rng, size["heavy"])))
    heavy_at = set(heavy_kb)
    poison_at = sorted(rng.sample(sorted(set(range(n)) - heavy_at), n // 100))
    kinds = {}
    for j, i in enumerate(poison_at):
        kinds[i] = ("null", "bad_utf8", "truncated")[j % 3]
    for i in range(n):
        if i in heavy_at:
            u, h = heavy_page(rng, i, heavy_kb[i])
        else:
            u, h = rich_page(rng, i)
        b = h.encode()
        kind = kinds.get(i)
        if kind == "null":
            b = None
        elif kind == "bad_utf8":
            cut = len(b) // 2
            b = b[:cut] + b"\xff\xfe\xc3(" + b[cut:]
        elif kind == "truncated":
            b = b[:rng.randint(len(b) // 4, len(b) // 2)]
        urls.append(u)
        htmls.append(b)
        if b is not None:
            elems += _element_count(b.decode("utf-8", "replace"))
    poison = {urls[i]: k for i, k in kinds.items()}
    return urls, htmls, {"elements": elems, "poison": poison,
                         "heavy": len(heavy_at)}


def curate_page(rng: random.Random, i: int, body: list[str]) -> tuple[str, str]:
    """Article page: the body paragraphs wrapped in page-specific,
    link-heavy boilerplate (navigation, sidebar, footer)."""
    host = _host(rng, 100)
    url = f"https://{host}/post/{i:07d}"
    out = ['<html><head><title>', rng.choice(VOCAB), '</title></head><body>',
           '<div class="nav-menu">']
    for _ in range(rng.randint(4, 10)):
        out.append(f'<a href="/{rng.choice(CHROME)}">{rng.choice(CHROME)} '
                   f'{rng.choice(CHROME)}</a> ')
    out.append('</div><div class="sidebar related">')
    for _ in range(rng.randint(2, 6)):
        out.append(f'<a href="/r/{rng.randrange(10**6)}">'
                   f'{" ".join(rng.choice(VOCAB) for _ in range(4))}</a>')
    out.append('</div><article class="post-content">')
    # paragraphs joined with a space-terminated sentence boundary so
    # the extracted text stays space-tokenizable
    for p in body:
        out += ["<p>", p, " </p>"]
    out.append('</article><div class="footer">')
    for _ in range(rng.randint(2, 5)):
        out.append(f'<a href="/f/{rng.choice(CHROME)}">{rng.choice(CHROME)}</a>')
    out.append('</div></body></html>')
    return url, "".join(out)


def _gen_curate(rng, size):
    """Unique articles plus planted exact-duplicate groups (same body,
    different boilerplate) and planted near-duplicate pairs (the body
    with ~3% of words substituted)."""
    n = size["docs"]
    n_groups = n // 40          # exact-dup groups of 2-4 copies
    n_pairs = n // 30           # near-dup pairs
    bodies: list[list[str]] = []
    dup_of: list[int | None] = []
    near_of: list[int | None] = []

    def fresh_body():
        return [" ".join(_words(rng, rng.randint(40, 90)))
                for _ in range(rng.randint(3, 6))]

    while len(bodies) < n:
        b = fresh_body()
        slot = len(bodies)
        r = rng.random()
        if n_groups and r < 0.5 and len(bodies) + 4 <= n:
            n_groups -= 1
            copies = rng.randint(2, 4)
            for _ in range(copies):
                bodies.append(b)
                dup_of.append(slot)
                near_of.append(None)
            continue
        if n_pairs and r < 0.9 and len(bodies) + 2 <= n:
            n_pairs -= 1
            words = " \n".join(b).split(" ")
            for k in rng.sample(range(len(words)), max(1, len(words) // 33)):
                if "\n" not in words[k]:
                    words[k] = rng.choice(VOCAB)
            near = " ".join(words).split(" \n")
            bodies.append(b)
            dup_of.append(None)
            near_of.append(None)
            bodies.append(near)
            dup_of.append(None)
            near_of.append(slot)
            continue
        bodies.append(b)
        dup_of.append(None)
        near_of.append(None)
    # shuffle page order so duplicates are not adjacent in the input
    order = list(range(n))
    rng.shuffle(order)
    pos = {old: new for new, old in enumerate(order)}
    urls, htmls, elems = [None] * n, [None] * n, 0
    for old in range(n):
        u, h = curate_page(rng, pos[old], bodies[old])
        urls[pos[old]] = u
        htmls[pos[old]] = h.encode()
        elems += _element_count(h)
    groups: dict[int, list[str]] = {}
    for old, d in enumerate(dup_of):
        if d is not None:
            groups.setdefault(d, []).append(urls[pos[old]])
    pairs = [[urls[pos[near_of_old]], urls[pos[old]]]
             for old, near_of_old in enumerate(near_of) if near_of_old is not None]
    return urls, htmls, {"elements": elems,
                         "dup_groups": sorted(groups.values()),
                         "near_pairs": pairs}


def ensure_inputs(work: str, workload: str, seed: int) -> dict:
    """Generate (or load from cache) the inputs of one workload.

    Returns the shape record: paths, docs, html bytes, mean elements,
    and the planted poison / duplicate ground truth."""
    size = SIZES[workload]
    key = (f"{workload}-s{seed}-"
           + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
           + f"-v{GEN_VERSION}")
    root = os.path.join(work, "cache")
    dir_ = os.path.join(root, key)
    meta_path = os.path.join(dir_, "shape.json")
    if os.path.exists(meta_path):
        os.utime(dir_)
        with open(meta_path) as fh:
            shape = json.load(fh)
        shape["cached"] = True
        return shape
    tmp = dir_ + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = random.Random(f"{workload}:{seed}")
    data = os.path.join(tmp, "data")
    if workload == "extract_heavy_warc":
        urls, htmls, extra = _gen_heavy(rng, size, data)
        fmt = "warc"
    else:
        gen = {"extract_job_resume": _gen_job,
               "curate_near_dup": _gen_curate}[workload]
        urls, htmls, extra = gen(rng, size)
        _write_parquet(data, urls, htmls, size["files"])
        fmt = "parquet"
    n_html = sum(1 for h in htmls if h is not None)
    shape = {
        "workload": workload, "seed": seed, "format": fmt,
        "data": os.path.join(dir_, "data"),
        "docs": len(urls),
        "html_bytes": sum(len(h) for h in htmls if h is not None),
        "mean_elements": extra.pop("elements") / max(1, n_html),
        **extra,
    }
    with open(os.path.join(tmp, "shape.json"), "w") as fh:
        json.dump(shape, fh)
    os.makedirs(root, exist_ok=True)
    os.replace(tmp, dir_)
    _evict(root)
    shape["cached"] = False
    return shape


def _evict(root: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(root, d)), d)
                     for d in os.listdir(root) if ".tmp" not in d)
    for _, d in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def load_sample(shape: dict, n: int, seed: int) -> list[tuple[str, bytes | None]]:
    """A seeded sample of ``(url, html)`` from a workload's inputs,
    read back from the files the program also reads."""
    rows: list[tuple[str, bytes | None]] = []
    data = shape["data"]
    if shape["format"] == "warc":
        for fn in sorted(os.listdir(data)):
            with gzip.open(os.path.join(data, fn), "rb") as fh:
                raw = fh.read()
            for block in raw.split(b"WARC/1.0\r\n")[1:]:
                head, _, rest = block.partition(b"\r\n\r\n")
                if b"WARC-Type: response" not in head:
                    continue
                url = head.split(b"WARC-Target-URI: ")[1].split(b"\r\n")[0]
                body = rest.partition(b"\r\n\r\n")[2][:-4]
                rows.append((url.decode(), body))
    else:
        t = pq.read_table(data, columns=["url", "html"])
        rows = list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    rng = random.Random(f"sample:{seed}")
    return rng.sample(rows, min(n, len(rows)))


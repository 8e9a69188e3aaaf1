"""The shared per-row Python stage (ops/_rowmap.map_rows): row
semantics over Arrow batches, package shipping for every op built on
it, and a guard that keeps new hand-rolled Python maps out."""

import os
import re

import pyarrow as pa
import pytest

import goose_parser_spark.deploy as deploy
from goose_parser_spark.ops._rowmap import map_rows

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "goose_parser_spark")


class _FakeFrame:
    """Just enough DataFrame for map_rows to hand back its batch
    function, so row semantics run in-process without a worker."""

    sparkSession = None

    def select(self, *cols):
        self.cols = cols
        return self

    def mapInArrow(self, fn, schema):
        return fn


@pytest.fixture
def local(spark, monkeypatch):
    """In-process runs; the session only parses the DDL schemas."""
    monkeypatch.setattr(deploy, "ship_package", lambda spark: None)


def _run(batches, schema, fn, poison=None):
    run = map_rows(_FakeFrame(), ["k", "v"], schema, fn, poison)
    return [b.to_pylist() for b in run(iter(batches))]


def _batch(ks, vs):
    return pa.RecordBatch.from_arrays(
        [pa.array(ks, pa.int64()), pa.array(vs, pa.string())],
        names=["k", "v"])


def test_rows_one_none_and_several(local):
    def fn(k, v):
        return [(k, c) for c in v] if v else []
    out = _run([_batch([1, 2, 3], ["x", "", "ab"])],
               "k long, c string", fn)
    assert out == [[{"k": 1, "c": "x"}, {"k": 3, "c": "a"},
                    {"k": 3, "c": "b"}]]


def test_null_inputs_reach_fn(local):
    seen = []

    def fn(k, v):
        seen.append((k, v))
        return [(k, v is None)]
    out = _run([_batch([None, 2], [None, "y"])],
               "k long, is_null boolean", fn)
    assert seen == [(None, None), (2, "y")]
    assert out == [[{"k": None, "is_null": True},
                    {"k": 2, "is_null": False}]]


def test_poison_row_carries_exception_text(local):
    def fn(k, v):
        if v == "bad":
            raise ValueError(f"cannot parse {v}")
        return [(k, v)]
    out = _run([_batch([1, 2], ["bad", "ok"])],
               "k long, v string", fn,
               poison=lambda k, v, exc: [(k, f"{type(exc).__name__}: {exc}")])
    assert out == [[{"k": 1, "v": "ValueError: cannot parse bad"},
                    {"k": 2, "v": "ok"}]]


def test_error_propagates_without_poison(local):
    def fn(k, v):
        raise KeyError(v)
    with pytest.raises(KeyError):
        _run([_batch([1], ["z"])], "k long", fn)


def test_empty_output_batch_keeps_schema(local):
    run = map_rows(_FakeFrame(), ["k", "v"], "k long, v string",
                   lambda k, v: [])
    (batch,) = run(iter([_batch([1, 2], ["a", "b"])]))
    assert batch.num_rows == 0
    assert batch.schema.names == ["k", "v"]
    assert batch.schema.field("k").type == pa.int64()


def test_float_nan_becomes_null(local):
    out = _run([_batch([1, 2], ["nan", "1.5"])],
               "k long, x double", lambda k, v: [(k, float(v))])
    assert out == [[{"k": 1, "x": None}, {"k": 2, "x": 1.5}]]


def test_value_that_does_not_fit_poisons_only_its_row(local):
    """An int that overflows its column (a 2**32 header field into an
    int column) gives that row its poison; its batch mates keep their
    rows; without poison the conversion error fails the task."""
    def fn(k, v):
        return [(k, int(v))]
    batch = _batch([1, 2, 3], ["7", str(1 << 32), "-8"])
    out = _run([batch], "k long, x int", fn,
               poison=lambda k, v, exc: [(k, None)])
    assert out == [[{"k": 1, "x": 7}, {"k": 2, "x": None},
                    {"k": 3, "x": -8}]]
    with pytest.raises(pa.ArrowInvalid):
        _run([batch], "k long, x int", fn)


def test_map_rows_on_spark(spark):
    """One real mapInArrow: explode, drop, poison and a non-long id
    type round-trip through a Python worker."""
    df = spark.createDataFrame(
        [("a", b"xy"), ("b", None), ("c", b"\xff")],
        "doc_id string, payload binary")

    def fn(doc_id, payload):
        if payload is None:
            return []
        return [(doc_id, i, payload.decode("ascii")[i])
                for i in range(len(payload))]

    out = map_rows(df, ["doc_id", "payload"],
                   "doc_id string, i int, ch string", fn,
                   poison=lambda doc_id, payload, exc: [(doc_id, -1, None)])
    assert sorted(out.collect()) == [("a", 0, "x"), ("a", 1, "y"),
                                     ("c", -1, None)]


def _op_builders():
    """Each op that runs through map_rows, built over a tiny input."""
    from goose_parser_spark.ops import (
        brotlicodec, charset, email_ops, epub, latex, layout, multimodal,
        robots, textstats, wikitext, zstdcodec)
    from goose_parser_spark.sources import jsonl

    def payload(spark):
        return spark.createDataFrame([(1, b"x")],
                                     "doc_id long, payload binary")

    def robots_df(spark):
        return spark.createDataFrame([("h.test", "User-agent: *\n")],
                                     "host string, robots_txt string")

    ops = {name: (lambda s, _p, f=getattr(mod, name): f(payload(s)))
           for mod, names in (
               (multimodal, ("extract_features", "phash_image",
                             "video_frames", "audio_features",
                             "exif_metadata", "id3_metadata",
                             "media_probe", "vp8_luma")),
               (layout, ("extract_pdf_pages", "pdf_metadata",
                         "pdf_images")),
               (email_ops, ("mbox_messages",)),
               (epub, ("epub_chapters",)),
               (charset, ("decode_html_bytes",)),
               (brotlicodec, ("brotli_text",)),
               (zstdcodec, ("zstd_text",)))
           for name in names}
    ops.update({
        "parse_robots": lambda s, _p: robots.parse_robots(robots_df(s)),
        "robots_directives":
            lambda s, _p: robots.robots_directives(robots_df(s)),
        "wiki_clean": lambda s, _p: wikitext.wiki_clean(s.createDataFrame(
            [(1, "''x''")], "page_id long, wikitext string")),
        "latex_clean": lambda s, _p: latex.latex_clean(s.createDataFrame(
            [(1, "x")], "doc_id long, tex string")),
        "normalize_text_nfc":
            lambda s, _p: textstats.normalize_text_nfc(s.createDataFrame(
                [(1, "x")], "doc_id long, text string")),
        "read_wiki_dump": wikitext.read_wiki_dump,
        "read_pages_jsonl_zst": jsonl.read_pages_jsonl_zst,
        "read_pages_jsonl_compressed": jsonl.read_pages_jsonl_compressed,
    })
    return ops


_OPS = sorted(_op_builders())


@pytest.mark.parametrize("name", _OPS)
def test_op_ships_the_package(spark, monkeypatch, tmp_path, name):
    """Executors import goose_parser_spark to unpickle the row
    function, so every op must ship the package, whatever the
    driver's cwd."""
    (tmp_path / "a.xml").write_bytes(b"<page></page>")
    (tmp_path / "a.jsonl.zst").write_bytes(b"")
    calls = []
    monkeypatch.setattr(deploy, "ship_package", calls.append)
    _op_builders()[name](spark, str(tmp_path))
    assert calls == [spark]


# modules whose Python stage is not a plain per-row map: the DOM loops
# (extractor, maincontent), the WARC reader/writer, the numeric block
# scoring, and the stateful streaming dedup
_ALLOWED = {"ops/_rowmap.py", "extractor.py", "ops/maincontent.py",
            "sources/warc.py", "ops/similarity.py", "streaming/ingest.py"}


def test_python_maps_only_in_allowed_modules():
    call = re.compile(r"\.(mapInPandas|mapInArrow|applyInPandas\w*)\(")
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, encoding="utf-8") as fh:
                    if call.search(fh.read()):
                        found.add(os.path.relpath(path, PKG))
    assert found - _ALLOWED == set()


def test_out_of_range_headers_poison_their_row(spark):
    """Hostile media headers whose fields overflow the int columns: a
    PNG 0xFFFFFFFF wide, a WAV at 0xFFFFFFFF Hz and an EXIF
    PixelXDimension of 0xFFFFFFFF each give their op's poison row, and
    the well-formed row in the same batch keeps its values."""
    import struct
    import zlib

    from goose_parser_spark.ops.multimodal import (
        audio_features, exif_metadata, media_probe)
    from tests.test_exif import build_exif

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    def png(w, h):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IEND", b""))

    def wav(rate):
        fmt = struct.pack("<HHIIHH", 1, 1, rate, 2 * rate & 0xFFFFFFFF,
                          2, 16)
        pcm = b"\x01\x00" * 400
        body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    def frame(*payloads):
        return spark.createDataFrame(
            list(enumerate(payloads)),
            "doc_id long, payload binary").coalesce(1)

    probe = sorted(media_probe(frame(png(0xFFFFFFFF, 2), png(3, 2)))
                   .collect())
    assert [tuple(r) for r in probe] == [(0, None, None, None, None),
                                         (1, "png", 3, 2, None)]

    audio = sorted(audio_features(frame(wav(0xFFFFFFFF), wav(8000)))
                   .collect())
    assert tuple(audio[0]) == (0, None, None, -1, None, None)
    assert [r["sample_rate"] for r in audio[1:]] == [8000]

    exif = {r["doc_id"]: r for r in exif_metadata(
        frame(build_exif(dims=(0xFFFFFFFF, 480)),
              build_exif(dims=(640, 480)))).collect()}
    assert exif[0]["make"] is None and exif[0]["exif_width"] is None
    assert exif[1]["exif_width"] == 640 and exif[1]["make"] == "CamCo"

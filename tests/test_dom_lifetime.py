"""Per-document DOM lifetime: the extraction loops free each page's
tree when its document ends and hand the caller's GC state back."""

import gc

import pyarrow as pa
import pytest

from goose_parser_spark import extractor
from goose_parser_spark.dom.parser import Element, each_document
from goose_parser_spark.rules.compiler import RuleCompiler

RULES = {"name": "rows", "scope": "div.c1 > p", "type": "array"}


def _page(i: int, units: int = 1200) -> bytes:
    body = "".join(f'<div class="c{j % 7}"><p>row {j} of {i}</p>'
                   f'<a href="/{i}/{j}">link</a></div>' for j in range(units))
    return (f"<html><head><title>page {i}</title></head>"
            f"<body>{body}</body></html>").encode()


def _batch(htmls) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([f"u{i}" for i in range(len(htmls))], pa.string()),
         pa.array(htmls, pa.binary())], names=["url", "html"])


def _extractor():
    compiled = RuleCompiler().compile(RULES)
    return extractor.build_arrow_extractor(
        compiled, spark_schema=extractor.output_schema(compiled, udf=True))


def _many_extractor(monkeypatch):
    """The batch callable ``extract_many`` hands to mapInArrow."""
    captured = []

    class Pages:
        sparkSession = None

        def select(self, *cols):
            return self

        def mapInArrow(self, fn, schema):
            captured.append(fn)

    monkeypatch.setattr("goose_parser_spark.deploy.ship_package",
                        lambda session: None)
    extractor.extract_many(Pages(), {"rows": RULES,
                                     "title": {"name": "t", "scope": "title"}})
    return captured[0]


@pytest.fixture(params=[True, False], ids=["gc_on", "gc_off"])
def gc_state(request):
    was = gc.isenabled()
    (gc.enable if request.param else gc.disable)()
    try:
        yield request.param
    finally:
        (gc.enable if was else gc.disable)()


@pytest.mark.parametrize("many", [False, True], ids=["extract", "extract_many"])
def test_batch_leaves_no_tree_for_the_collector(many, monkeypatch):
    """Several pages of thousands of elements, a NULL row and a
    truncated-markup row: once the batch is consumed, every tree is
    already freed, so a full collection finds no Element."""
    html = [_page(i) for i in range(4)]
    html[1] = None
    html[2] = html[2][:len(html[2]) // 2]
    fn = _many_extractor(monkeypatch) if many else _extractor()
    gc.collect()
    out = list(fn(iter([_batch(html)])))
    gc.set_debug(gc.DEBUG_SAVEALL)
    try:
        gc.collect()
        leaked = sum(isinstance(o, Element) for o in gc.garbage)
    finally:
        gc.set_debug(0)
        gc.garbage.clear()
    assert leaked == 0
    rows = out[0].to_pylist()
    assert [r["error"] is None for r in rows] == [True, False, True, True]
    first = rows[0]["extracted"]["rows"] if many else rows[0]["extracted"]
    assert len(first["rows"]) == 1200 // 7 + 1
    assert all(r["parse_ns"] > 0 for r in rows)


def test_gc_state_restored_after_batches(gc_state):
    fn = _extractor()
    list(fn(iter([_batch([_page(0, 50), _page(1, 50)])])))
    assert gc.isenabled() is gc_state
    (poison,) = list(fn(iter([_batch([None, b"<div><p>cut"])])))
    assert poison.column("error").to_pylist()[0] == "ValueError: html is NULL"
    assert gc.isenabled() is gc_state


def test_gc_state_restored_when_closed_after_first_batch(gc_state):
    gen = _extractor()(iter([_batch([_page(0, 50)]), _batch([_page(1, 50)])]))
    first = next(gen)
    # the consumer holds a yielded batch with the caller's GC state
    assert gc.isenabled() is gc_state
    gen.close()
    assert first.num_rows == 1
    assert gc.isenabled() is gc_state


def test_each_document_pauses_and_restores(gc_state):
    parse_ns = [0, 0, 0]
    seen = []
    for item in each_document("abc", parse_ns):
        assert not gc.isenabled()
        seen.append(item)
    assert seen == ["a", "b", "c"]
    assert all(t > 0 for t in parse_ns)
    assert gc.isenabled() is gc_state
    with pytest.raises(RuntimeError):
        for _ in each_document(range(3)):
            raise RuntimeError("body failed")
    assert gc.isenabled() is gc_state
